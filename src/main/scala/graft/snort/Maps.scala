package graft.snort

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Snort rule-map parsers: sid-msg.map, gen-msg.map,
  * classification.config → small DataFrames meant to be BROADCAST
  * against the alert stream (the reference loads them into in-process
  * dicts and mtime-polls for changes, /root/reference/charlotte/
  * __init__.py:155-211). The follow sink keeps the parsed maps across
  * micro-batches and parses a file again only when its (mtime, size,
  * file key) stamp changes — see [[graft.streaming.Spool.ingestOnce]].
  *
  * Files are read driver-side (they are tiny config files, not data)
  * and shipped as literal rows; every join against them is a broadcast
  * join — zero shuffle on the 100 TB side.
  */
object Maps {

  private def lines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))

  // Char.isDigit accepts Unicode digits and forall holds vacuously on
  // "", both of which then throw in toLong — a malformed map line must
  // be SKIPPED (matching the oracle's '[0-9]+' guard), never crash.
  private def asciiDigits(s: String): Boolean =
    s.nonEmpty && s.forall(c => c >= '0' && c <= '9')

  /** sid-msg.map lines: `sid || msg [|| ref]*` (gid implicitly 1). */
  private def sigRows(path: String): Seq[(Long, Long, String, Seq[String])] =
    lines(path).flatMap { l =>
      val parts = l.split("\\|\\|").map(_.trim)
      if (parts.length >= 2 && asciiDigits(parts(0)))
        Some((1L, parts(0).toLong, parts(1), parts.drop(2).toSeq))
      else None
    }

  /** gen-msg.map lines: `gid || aid || msg`. */
  private def genRows(path: String): Seq[(Long, Long, String)] =
    lines(path).flatMap { l =>
      val parts = l.split("\\|\\|").map(_.trim)
      if (parts.length >= 3 && asciiDigits(parts(0)) &&
          asciiDigits(parts(1)))
        Some((parts(0).toLong, parts(1).toLong, parts(2)))
      else None
    }

  /** sid-msg.map: `sid || msg [|| ref]*` (gid implicitly 1), one row
    * per parsed line.
    */
  def sigMap(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    sigRows(path).toDF("gid", "sid", "msg", "refs")
  }

  /** gen-msg.map: `gid || aid || msg`, one row per parsed line. */
  def genMap(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    genRows(path).toDF("gid", "sid", "msg")
  }

  /** classification.config: `config classification: name,desc,prio`;
    * the classification id is the 1-based ordinal of the line — the
    * same convention idstools' ClassificationMap uses.
    */
  def classMap(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val prefix = "config classification:"
    lines(path).filter(_.toLowerCase.startsWith(prefix))
      .zipWithIndex
      .flatMap { case (l, i) =>
        val parts = l.substring(prefix.length).split(",").map(_.trim)
        if (parts.length >= 3 && asciiDigits(parts(2)))
          Some((i + 1L, parts(0), parts(1), parts(2).toLong))
        else None
      }.toDF("class_id", "class_name", "class_desc", "class_priority")
  }

  /** Combined signature lookup `(gid, sid, msg)`: sid-msg entries
    * (gid 1) + gen-msg entries for every other generator, exactly one
    * row per (gid, sid). A key a map file repeats keeps its LAST line,
    * as the reference's dict load does; keeping every line would make
    * [[enrichSignatures]]' left join emit the matching alert once per
    * copy. One local relation, parsed on the driver.
    */
  def combinedSigMap(spark: SparkSession, sidPath: String,
      genPath: String): DataFrame = {
    import spark.implicits._
    val entries = sigRows(sidPath).map { case (g, s, m, _) => (g, s) -> m } ++
      genRows(genPath).collect { case (g, s, m) if g != 1 => (g, s) -> m }
    entries.toMap.toSeq.sortBy(_._1)
      .map { case ((g, s), m) => (g, s, m) }
      .toDF("gid", "sid", "msg")
  }

  /** Enrich alerts with signature metadata; unmapped (gid, sid) falls
    * back to `Unknown Alert g:s`, rev 0, priority 10 — byte-for-byte
    * the reference's fallback (__init__.py:186-194). Output: the alert
    * columns, then `sig_msg` and any other non-key `sigs` column, then
    * `sig_rev` and `sig_priority`. `sigs` must hold one row per
    * (gid, sid), as [[combinedSigMap]] does.
    */
  def enrichSignatures(alerts: DataFrame, sigs: DataFrame): DataFrame = {
    val matched = sigs("sid").isNotNull
    val sigCols = sigs.columns.toSeq.filterNot(Set("gid", "sid")).map {
      case "msg" => coalesce(sigs("msg"), format_string("Unknown Alert %d:%d",
        alerts("generator_id"), alerts("signature_id"))).as("sig_msg")
      case c => sigs(c)
    }
    alerts.join(broadcast(sigs),
        alerts("generator_id") === sigs("gid") &&
          alerts("signature_id") === sigs("sid"),
        "left_outer")
      .select(alerts.columns.toSeq.map(alerts(_)) ++ sigCols ++ Seq(
        when(matched, coalesce(alerts("signature_revision"), lit(1L)))
          .otherwise(lit(0L)).as("sig_rev"),
        when(matched, alerts("priority_id")).otherwise(lit(10L))
          .as("sig_priority")): _*)
  }

  /** Enrich with classification names; unknown ids get
    * `unknown-classification` (__init__.py:197-204). Output: the alert
    * columns, then every `classes` column but `class_id`.
    */
  def enrichClassifications(alerts: DataFrame, classes: DataFrame): DataFrame = {
    val classCols = classes.columns.toSeq.filterNot(_ == "class_id").map {
      case "class_name" => coalesce(classes("class_name"),
        lit("unknown-classification")).as("class_name")
      case c => classes(c)
    }
    alerts.join(broadcast(classes),
        alerts("classification_id") === classes("class_id"), "left_outer")
      .select(alerts.columns.toSeq.map(alerts(_)) ++ classCols: _*)
  }
}
