package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Divide, Expression, Size}
import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, ArrayUnion}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Single-pass Jaccard similarity of two array columns:
  * |A ∩ B| / |A ∪ B| over distinct elements. Equivalent to
  * `size(array_intersect(a,b)) / size(array_union(a,b))` but builds two
  * hash sets and two counters instead of materializing two intermediate
  * ARRAYS that are immediately reduced to their sizes — the inner loop
  * of every LSH verification join (DedupOps), where the intermediate
  * arrays are pure allocation overhead.
  */
case class JaccardSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "graft_jaccard_sim"
  override def dataType: DataType = DoubleType

  // Replaces a Divide (always nullable): empty/empty yields NULL in
  // non-ANSI mode even when both children are non-nullable (ADVICE r2).
  override def nullable: Boolean = true

  private lazy val elemType =
    left.dataType.asInstanceOf[ArrayType].elementType

  // ∅/∅ matches Divide(0, 0) exactly so the optimizer rewrite is
  // value-identical — NULL in default mode, the standard
  // divide-by-zero error under ANSI (ADVICE r1). Logic lives in
  // ExprKernels.jaccard, shared with the generated code path.
  override protected def nullSafeEval(l: Any, r: Any): Any =
    ExprKernels.jaccard(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
      elemType, org.apache.spark.sql.internal.SQLConf.get.ansiEnabled,
      origin.context)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val tmp = ctx.freshName("jacRes")
      val et = ctx.addReferenceObj("elemType", elemType)
      val qc = ctx.addReferenceObj("qryCtx", origin.context,
        "org.apache.spark.QueryContext")
      // ansi captured at codegen time — generated code is per-plan,
      // re-generated when the conf changes, same capture discipline as
      // Spark's own arithmetic expressions
      val ansi = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled
      s"""
      java.lang.Double $tmp = graft.functions.ExprKernels.jaccard($l, $r, $et, $ansi, $qc);
      if ($tmp == null) { ${ev.isNull} = true; }
      else { ${ev.value} = $tmp.doubleValue(); }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object JaccardSim {
  def column(a: Column, b: Column): Column =
    DatasetBridge.column(JaccardSim(
      DatasetBridge.expression(a), DatasetBridge.expression(b)))
}

/** Optimizer rule (preference-path Rule[LogicalPlan] from SURVEY §4):
  * rewrites the declarative Jaccard pattern
  * `size(array_intersect(a,b)) / size(array_union(a,b))` (any cast
  * placement) into [[JaccardSim]]. Values are bit-identical: both
  * compute int-exact counts then one double division. graft's queries
  * call [[JaccardSim.column]]; the rule serves callers that write the
  * declarative form, through [[graft.plans.GraftExtensions]].
  */
object RewriteJaccard extends Rule[LogicalPlan] {

  private def strip(e: Expression): Expression = e match {
    case c: Cast => strip(c.child)
    case other => other
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case d @ Divide(l, r, _) =>
        (strip(l), strip(r)) match {
          case (Size(ArrayIntersect(a, b), _), Size(ArrayUnion(a2, b2), _))
              if a.semanticEquals(a2) && b.semanticEquals(b2) =>
            JaccardSim(a, b)
          case _ => d
        }
    }
}
