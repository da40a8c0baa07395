package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.sql.types.{DataType, LongType}

/** 64-bit SimHash over a token array (Charikar similarity hashing):
  * per-token FNV-1a 64 hash; each of the 64 bit positions votes +1/-1;
  * the signature bit is the sign of the vote sum. Near-duplicate
  * documents differ in only a few signature bits, so candidate pairs
  * can be found by exact-matching 16-bit signature blocks (see
  * `DedupOps.dedup_simhash`) — a single hash-shuffle at scale instead
  * of an n² comparison.
  *
  * A native Catalyst expression (not a UDF) so it evaluates on the
  * internal UTF8String representation with no codec round-trip.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override protected def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(ExprKernels.simhash(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ExprKernels.simhash($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {
  def column(tokens: Column): Column =
    DatasetBridge.column(SimHash64(DatasetBridge.expression(tokens)))
}
