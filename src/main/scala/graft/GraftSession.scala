package graft

import org.apache.spark.sql.SparkSession

/** The one way graft's mains build their SparkSession.
  *
  * Every main runs with the same confs: master `local[N]` with N
  * shuffle partitions, where N is `SPARK_GRAFT_CPUS` when set and the
  * JVM's available processors otherwise; UTC session time;
  * `nanosAsLong` so TIMESTAMP_NS parquet columns read as longs
  * (`Tables.normalizeEventTs` converts them); no UI; log level WARN; a
  * codegen cache of 500 generated classes instead of Spark's 100, so a
  * session that cycles through many entries does not compile the same
  * classes again on every pass (picked from a 500 / 1 000 / 2 000
  * sweep; see CHANGES.md). A main that needs something else passes it
  * in `overrides`, which win over the defaults.
  */
object GraftSession {

  /** Task slots: `SPARK_GRAFT_CPUS` if set, else available processors. */
  def cpus(env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The confs [[build]] sets, overrides applied last. */
  def settings(app: String, overrides: Map[String, String] = Map.empty,
      env: Map[String, String] = sys.env): Map[String, String] = {
    val n = cpus(env)
    Map(
      "spark.master" -> s"local[$n]",
      "spark.app.name" -> app,
      "spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "500") ++ overrides
  }

  def build(app: String, overrides: Map[String, String] = Map.empty)
      : SparkSession = {
    val spark = SparkSession.builder().config(settings(app, overrides))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
