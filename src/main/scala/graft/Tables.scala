package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, TimestampNTZType}

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
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeEventTs(df) else df
  }

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
