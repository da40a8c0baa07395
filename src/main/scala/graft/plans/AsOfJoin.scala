package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.DatasetBridge

/** AS-OF JOIN as a full custom operator — the preference-(c) path from
  * SURVEY.md §4: Spark SQL has no as-of join (DuckDB/kdb/pandas do),
  * and it is not expressible as a composition of built-in joins without
  * an O(n·m) range join or a window over the unioned streams. Semantics
  * match DuckDB's `ASOF LEFT JOIN ... ON l.k = r.k AND l.ts >= r.ts`:
  * each left row pairs with the right row of the same key having the
  * greatest ts <= left.ts, or nulls.
  *
  * Physical strategy: both sides hash-partitioned on the key
  * (`requiredChildDistribution`) and sorted by (key, ts)
  * (`requiredChildOrdering`) — Spark inserts the exchanges/sorts — then
  * a single streaming merge per partition: O(n+m), constant memory
  * (one retained right row), no buffering of either side. The same
  * plan shape scales to 1000 executors: one shuffle per side, then
  * partition-local merges.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression)
  extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression)
  extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  // rows stream out in the left child's order (the merge maps lIt in
  // place), so chained as-of joins on the same key+axis reuse both the
  // partitioning AND the sort — N enrichment passes cost one shuffle
  // and one sort of the probe side, total
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTs).map(SortOrder(_, org.apache.spark.sql.catalyst.expressions.Ascending)),
    (rightKeys :+ rightTs).map(SortOrder(_, org.apache.spark.sql.catalyst.expressions.Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTsExpr = leftTs
    val rTsExpr = rightTs
    val keyTypes = leftKeys.map(_.dataType)
    val outAttrs = output

    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val lTsBound = BindReferences.bindReference(lTsExpr, lOut)
      val rTsBound = BindReferences.bindReference(rTsExpr, rOut)
      // bind against nullable right attrs: unmatched left rows carry an
      // all-null right side even where the child schema is non-nullable
      val resultProj = UnsafeProjection.create(outAttrs,
        lOut ++ rOut.map(_.withNullability(true)))
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rOut.size)
      val rBuf = rIt.buffered

      var lastMatch: InternalRow = null
      var lastKey: InternalRow = null

      // NULL semantics follow DuckDB ASOF (ADVICE r1): a left row with
      // NULL ts or a NULL key component matches nothing (nulls emitted);
      // right rows with NULL ts or NULL keys are never candidates.
      lIt.map { lRow =>
        val lKey = lKeyProj(lRow)
        val lTsAny = lTsBound.eval(lRow)
        if (lTsAny == null || lKey.anyNull) {
          resultProj(joined(lRow, nullRight))
        } else {
          val lTsV = lTsAny.asInstanceOf[Long]
          var advancing = true
          while (advancing && rBuf.hasNext) {
            val rRow = rBuf.head
            val rKey = rKeyProj(rRow)
            val c = keyOrd.compare(rKey, lKey)
            if (c < 0) {
              rBuf.next() // earlier key: drain, never a match for lKey
            } else if (c == 0) {
              val rTsAny = rTsBound.eval(rRow)
              if (rTsAny == null || rKey.anyNull) {
                rBuf.next() // null ts/key: excluded from candidacy
              } else if (rTsAny.asInstanceOf[Long] <= lTsV) {
                lastMatch = rRow.copy()
                lastKey = rKey.copy()
                rBuf.next()
              } else advancing = false
            } else advancing = false
          }
          val r =
            if (lastKey != null && keyOrd.compare(lastKey, lKey) == 0) lastMatch
            else nullRight
          resultProj(joined(lRow, r))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt) :: Nil
    case _ => Nil
  }
}

/** Session extension for SQL callers
  * (`spark.sql.extensions=graft.plans.GraftExtensions`, or
  * `builder.withExtensions(new GraftExtensions)`): the as-of planner
  * strategy, the Jaccard rewrite rule and the `graft_*` SQL names of
  * the native functions. DataFrame callers need none of it: graft's
  * functions are Columns, and [[AsOf.join]] installs its own strategy.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => AsOfStrategy)
    e.injectOptimizerRule(_ => graft.functions.RewriteJaccard)
    GraftExtensions.functions.foreach { case (name, build) =>
      e.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo("graft", name), build))
    }
  }
}

object GraftExtensions {
  import org.apache.spark.sql.catalyst.expressions.Expression

  /** SQL name → builder of each native function offered to SQL. */
  val functions: Map[String, Seq[Expression] => Expression] = Map(
    ("graft_decode_packet", xs => graft.functions.DecodePacket(xs.head)),
    ("graft_simhash", xs => graft.functions.SimHash64(xs.head)),
    ("graft_minhash", xs => graft.functions.MinHashSig(xs.head)),
    ("graft_jaccard", xs => graft.functions.JaccardSim(xs(0), xs(1))),
    ("graft_dot", xs => graft.functions.DotProd(xs(0), xs(1))),
    ("graft_lev_band", xs => graft.functions.LevenshteinBand(xs(0), xs(1),
      xs(2).eval().asInstanceOf[Int])),
    ("graft_inet6", xs => graft.functions.Inet6Ntoa(xs.head)),
    ("graft_zvalue", xs => graft.functions.ZValue(xs(0), xs(1))))
}

object AsOf {
  /** As-of join `left` to `right` on equal `keys` with the greatest
    * `rightTsCol` <= `leftTsCol` (left outer). Right column names must
    * not collide with left's — alias them first.
    */
  def join(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTsCol: String, rightKeys: Seq[String],
      rightTsCol: String): DataFrame = {
    val spark = left.sparkSession
    // idempotent, and it plans only AsOfJoinPlan: no other plan changes
    if (!spark.experimental.extraStrategies.contains(AsOfStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfStrategy
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found"))
    // The merge unboxes ts as Long: accept only long-backed types up
    // front instead of a runtime ClassCastException (ADVICE r1).
    def checkTs(a: Attribute): Attribute = a.dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => a
      case dt => throw new IllegalArgumentException(
        s"as-of ts column ${a.name} must be LONG/TIMESTAMP, got $dt " +
          "(cast int/date columns explicitly first)")
    }
    val lKeys = keys.map(attr(lPlan, _))
    val rKeys = rightKeys.map(attr(rPlan, _))
    lKeys.zip(rKeys).foreach { case (a, b) =>
      if (a.dataType != b.dataType) throw new IllegalArgumentException(
        s"as-of key type mismatch: ${a.name}:${a.dataType} vs " +
          s"${b.name}:${b.dataType}")
    }
    DatasetBridge.ofRows(spark, AsOfJoinPlan(
      lPlan, rPlan, lKeys, rKeys,
      checkTs(attr(lPlan, leftTsCol)), checkTs(attr(rPlan, rightTsCol))))
  }

  /** FORWARD as-of: each left row pairs with the right row of the same
    * key having the SMALLEST ts >= left.ts (DuckDB `ASOF ... ON l.ts <=
    * r.ts`) — the backward merge run on the negated time axis. ts
    * columns must be LONG (epoch micros); negate-compose doesn't apply
    * to timestamp types.
    */
  def joinForward(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTsCol: String, rightKeys: Seq[String],
      rightTsCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{col => c}
    join(
      left.withColumn("__graft_neg_lts", -c(leftTsCol)),
      right.withColumn("__graft_neg_rts", -c(rightTsCol)),
      keys, "__graft_neg_lts", rightKeys, "__graft_neg_rts")
      .drop("__graft_neg_lts", "__graft_neg_rts")
  }
}
