package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Library-internal bridge to `Dataset.ofRows` (private[sql]) so graft
  * can hand custom logical plans to the session — the standard pattern
  * for Spark extension libraries that add whole operators.
  */
object DatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The engine's standard ANSI divide-by-zero error (QueryExecutionErrors
    * is private[sql]), so custom expressions fail identically to `Divide`.
    */
  def divideByZeroError(context: org.apache.spark.QueryContext): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors.divideByZeroError(context)

  /** Column ↔ catalyst Expression conversions (`new Column(expr)` is
    * gone in Spark 4; ExpressionUtils is private[sql]) — lets graft's
    * native expressions compose with arbitrary Column arguments.
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    classic.ExpressionUtils.column(e)
  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** An uncorrelated scalar subquery over `df`'s analyzed plan — the
    * currency Spark's own runtime row-filtering hands to
    * `BloomFilterMightContain` (which requires its filter argument be
    * foldable or a plan subquery). Lets library code build the
    * build-once/probe-everywhere shape without a driver-side collect.
    */
  def scalarSubquery(df: DataFrame): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
      df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed)

  /** Materialized storage footprint (memory + disk bytes) of `df`'s
    * CacheManager entry, if it has one: the size-accounting probe for
    * graft.IndexCache (CacheManager / InMemoryRelation are
    * private[sql]). None = not cached; Some(0) = cached but its
    * buffers not yet built (or already evicted), so callers should
    * re-probe on later touches.
    */
  def cachedBytes(df: org.apache.spark.sql.Dataset[_]): Option[Long] = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val spark = ds.sparkSession
    spark.sharedState.cacheManager.lookupCachedData(ds).map { cd =>
      val b = cd.cachedRepresentation.cacheBuilder
      if (!b.isCachedColumnBuffersLoaded) 0L
      else {
        val id = b.cachedColumnBuffers.id
        spark.sparkContext.getRDDStorageInfo.find(_.id == id)
          .map(i => i.memSize + i.diskSize).getOrElse(0L)
      }
    }
  }

  /** Unload every loaded state-store provider on this executor
    * (StateStore.unloadAll is private[sql]): closes RocksDB instances
    * (native memtables + block cache) a terminated streaming query
    * leaves loaded until the 60 s maintenance cycle verifies them
    * inactive. Safe between queries — the next streaming batch
    * reloads its providers from the checkpoint on demand.
    */
  def unloadStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()
}
