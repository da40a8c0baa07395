package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StructType,
  TimestampNTZType}

/** Table loading + numeric-determinism helpers shared by every query.
  *
  * Determinism contract: any aggregate over a non-integer-valued double
  * column is computed over an exact `DECIMAL` cast (order-independent in
  * both Spark and DuckDB) and only cast back to `double` at the end, so
  * results hash-match the DuckDB oracle regardless of partitioning or
  * accumulation order. Integer-valued doubles (e.g. l_quantity) sum
  * exactly in binary floating point below 2^53 and need no cast.
  */
object Tables {
  /** Parquet table under the driver-provided scale-factor dir.
    *
    * `events.ts` has drifted across driver testdata regenerations:
    * nanosecond parquet (Spark 4 reads a raw long under
    * `spark.sql.legacy.parquet.nanosAsLong`, set by GraftSession),
    * then `TIMESTAMP(MICROS, isAdjustedToUTC=false)` (Spark reads
    * `TIMESTAMP_NTZ`). Normalize every physical encoding to a session-TZ
    * `TimestampType` at µs precision so downstream `unix_micros`/
    * `window`/`withWatermark` always sees the same logical column.
    * Session TZ is pinned to UTC in every entrypoint, so the NTZ cast
    * preserves the stored micros exactly — identical to DuckDB's
    * `epoch_us(ts)` view of the same file, and the nanos branch floors
    * with integer DIV exactly how DuckDB 1.x narrows TIMESTAMP_NS.
    *
    * The reader is [[parquet]]: the table's schema is inferred once per
    * session and kept as an [[IndexCache]] entry of `dir`, keyed by the
    * path and the parquet inference confs and stamped with the file's
    * (length, mtime) (see [[schema]]). A repeated read of an unchanged
    * table launches no Spark job; `IndexCache.evictCorpus(spark, dir)`
    * drops the memo.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = parquet(spark, s"$dir/$name.parquet")
    if (name == "events") normalizeEventTs(df) else df
  }

  /** `spark.read.parquet(path)`, given the memoized schema of [[schema]]
    * when it is fresh (no inference job), else inferring it and
    * memoizing it. Either way a new relation with new expression ids.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    memo(spark, path) match {
      case (Some(known), _) => spark.read.schema(known).parquet(path)
      case (None, remember) =>
        val df = spark.read.parquet(path)
        remember(df.schema)
        df
    }

  /** The parquet schema of `path`, as `spark.read.parquet(path).schema`
    * infers it, inferred once per session and reused until the path
    * changes. Spark runs a one-task schema job for every inference,
    * even of a single unchanged file.
    *
    * Only the `StructType` is kept, never a DataFrame, so every read
    * still builds its own relation. The memo is an [[IndexCache]] entry
    * whose corpus is the path's parent directory (the sf dir for a
    * [[t]] table), so `IndexCache.evictCorpus(spark, dir)` and the
    * purge of a stopped session drop it. Its key is the path and the
    * session's values of the parquet inference confs (nanosAsLong,
    * binaryAsString, int96AsTimestamp, inferTimestampNTZ, mergeSchema);
    * its value holds the stamp of the inference: a file's (length,
    * mtime), or a directory's (name, length, mtime) per listed entry.
    * A rewritten path or a flipped conf is inferred again. A path that
    * cannot be stat-ed (missing, a glob) is inferred by a plain read,
    * which fails as that read would.
    */
  def schema(spark: SparkSession, path: String): StructType =
    memo(spark, path) match {
      case (Some(known), _) => known
      case (None, remember) =>
        val inferred = spark.read.parquet(path).schema
        remember(inferred)
        inferred
    }

  /** Session confs that change what parquet schema inference returns. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** The schema seen at one stamp of a path; replaced when it goes stale. */
  private final class SchemaMemo {
    @volatile var seen: Option[(Seq[(String, Long, Long)], StructType)] = None
  }

  /** The memoized schema of `path` if its stamp is unchanged, and how
    * to memoize a schema inferred now. The stamp is taken first, so a
    * change during the inference is seen by the next call.
    */
  private def memo(spark: SparkSession,
      path: String): (Option[StructType], StructType => Unit) =
    stamp(spark, path) match {
      case None => (None, _ => ())
      case Some(st) =>
        val corpus = path.substring(0, math.max(0, path.lastIndexOf('/')))
        val confs = InferenceConfs.map(spark.conf.get).mkString(",")
        val m = IndexCache.getOrBuild(spark, corpus,
          s"parquet-schema $path [$confs]")(new SchemaMemo)
        (m.seen.collect { case (`st`, known) => known },
          inferred => m.seen = Some((st, inferred)))
    }

  /** (name, length, mtime) of a file, or of each entry of a directory;
    * None when `path` cannot be stat-ed.
    */
  private def stamp(spark: SparkSession,
      path: String): Option[Seq[(String, Long, Long)]] =
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(p)
      val listed = if (st.isDirectory) fs.listStatus(p).toSeq else Seq(st)
      Some(listed.map(f => (f.getPath.getName, f.getLen,
        f.getModificationTime)).sortBy(_._1))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Normalize an events-shaped frame's `ts` to session-TZ TimestampType
    * (see [[t]]); works on batch and streaming frames alike.
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) => // nanos-as-long
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case Some(TimestampNTZType) => // micros, isAdjustedToUTC=false
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df // already TimestampType (micros-UTC) or absent
    }

  /** Exact decimal view of a 2-decimal monetary double column.
    * DECIMAL(12,2) so that a triple product still fits precision 38
    * with no scale loss in either engine.
    */
  def dec(c: Column): Column = c.cast(DecimalType(12, 2))

  /** Exact decimal sum, surfaced as double (same IEEE value in both
    * engines since the decimal is exact). DuckDB twin:
    * `CAST(SUM(CAST(x AS DECIMAL(12,2))) AS DOUBLE)`.
    */
  def dsum(c: Column): Column = sum(dec(c)).cast("double")
}
