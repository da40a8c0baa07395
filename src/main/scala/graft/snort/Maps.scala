package graft.snort

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Snort rule-map parsers: sid-msg.map, gen-msg.map,
  * classification.config → small DataFrames for BROADCAST joins, or
  * driver-side lookup maps for a projection (the reference loads them
  * into in-process dicts and mtime-polls for changes, charlotte's
  * __init__.py:155-211).
  *
  * Files are read driver-side (they are tiny config files, not data).
  * The batch API ([[enrichSignatures]] / [[enrichClassifications]])
  * ships them as literal rows and joins with a broadcast hint — zero
  * shuffle on the 100 TB side. The follow sink instead broadcasts the
  * parsed lookups ([[sigLookup]] / [[classLookup]]) once per
  * (mtime, size, file key) stamp and enriches with a projection
  * ([[lookupSignatures]] / [[lookupClassifications]]) whose lookups are
  * native expressions over the broadcast ([[SigMsgLookup]] /
  * [[ClassNameLookup]]), so a micro-batch runs no broadcast-exchange
  * job and no Scala UDF — see [[graft.streaming.Spool.ingestOnce]].
  * Both paths build their fallback columns from the same helpers and
  * give the same rows.
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
  private def classRows(path: String): Seq[(Long, String, String, Long)] = {
    val prefix = "config classification:"
    lines(path).filter(_.toLowerCase.startsWith(prefix))
      .zipWithIndex
      .flatMap { case (l, i) =>
        val parts = l.substring(prefix.length).split(",").map(_.trim)
        if (parts.length >= 3 && asciiDigits(parts(2)))
          Some((i + 1L, parts(0), parts(1), parts(2).toLong))
        else None
      }
  }

  /** classification.config as `(class_id, class_name, class_desc,
    * class_priority)`, one row per parsed line (see [[classRows]]).
    */
  def classMap(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    classRows(path)
      .toDF("class_id", "class_name", "class_desc", "class_priority")
  }

  /** class_id → class_name, the lookup behind [[classMap]]. */
  def classLookup(path: String): Map[Long, String] =
    classRows(path).map { case (id, name, _, _) => id -> name }.toMap

  /** (gid, sid) → msg: sid-msg entries (gid 1) + gen-msg entries for
    * every other generator. A key a map file repeats keeps its LAST
    * line, as the reference's dict load does.
    */
  def sigLookup(sidPath: String, genPath: String): Map[(Long, Long), String] =
    (sigRows(sidPath).map { case (g, s, m, _) => (g, s) -> m } ++
      genRows(genPath).collect { case (g, s, m) if g != 1 => (g, s) -> m })
      .toMap

  /** Combined signature lookup `(gid, sid, msg)`: [[sigLookup]] as a
    * local relation, exactly one row per (gid, sid); keeping every line
    * of a repeated key would make [[enrichSignatures]]' left join emit
    * the matching alert once per copy.
    */
  def combinedSigMap(spark: SparkSession, sidPath: String,
      genPath: String): DataFrame = {
    import spark.implicits._
    sigLookup(sidPath, genPath).toSeq.sortBy(_._1)
      .map { case ((g, s), m) => (g, s, m) }
      .toDF("gid", "sid", "msg")
  }

  // The reference's fallbacks (__init__.py:186-204), one definition for
  // the join API and the lookup projection: an unmapped (gid, sid) gets
  // `Unknown Alert g:s`, rev 0 and priority 10; an unknown class id
  // gets `unknown-classification`.
  private def sigMsg(alerts: DataFrame, msg: Column): Column =
    coalesce(msg, format_string("Unknown Alert %d:%d",
      alerts("generator_id"), alerts("signature_id"))).as("sig_msg")

  private def sigRevAndPriority(alerts: DataFrame,
      matched: Column): Seq[Column] = Seq(
    when(matched, coalesce(alerts("signature_revision"), lit(1L)))
      .otherwise(lit(0L)).as("sig_rev"),
    when(matched, alerts("priority_id")).otherwise(lit(10L))
      .as("sig_priority"))

  private def className(name: Column): Column =
    coalesce(name, lit("unknown-classification")).as("class_name")

  /** Enrich alerts with signature metadata; unmapped (gid, sid) falls
    * back to `Unknown Alert g:s`, rev 0, priority 10 — byte-for-byte
    * the reference's fallback (__init__.py:186-194). Output: the alert
    * columns, then `sig_msg` and any other non-key `sigs` column, then
    * `sig_rev` and `sig_priority`. `sigs` must hold one row per
    * (gid, sid), as [[combinedSigMap]] does.
    */
  def enrichSignatures(alerts: DataFrame, sigs: DataFrame): DataFrame = {
    val sigCols = sigs.columns.toSeq.filterNot(Set("gid", "sid")).map {
      case "msg" => sigMsg(alerts, sigs("msg"))
      case c => sigs(c)
    }
    alerts.join(broadcast(sigs),
        alerts("generator_id") === sigs("gid") &&
          alerts("signature_id") === sigs("sid"),
        "left_outer")
      .select(alerts.columns.toSeq.map(alerts(_)) ++ sigCols ++
        sigRevAndPriority(alerts, sigs("sid").isNotNull): _*)
  }

  /** Enrich with classification names; unknown ids get
    * `unknown-classification` (__init__.py:197-204). Output: the alert
    * columns, then every `classes` column but `class_id`.
    */
  def enrichClassifications(alerts: DataFrame, classes: DataFrame): DataFrame = {
    val classCols = classes.columns.toSeq.filterNot(_ == "class_id").map {
      case "class_name" => className(classes("class_name"))
      case c => classes(c)
    }
    alerts.join(broadcast(classes),
        alerts("classification_id") === classes("class_id"), "left_outer")
      .select(alerts.columns.toSeq.map(alerts(_)) ++ classCols: _*)
  }

  /** [[enrichSignatures]] against [[combinedSigMap]], as a projection
    * over a broadcast [[sigLookup]] ([[SigMsgLookup]]): no join, so no
    * broadcast-exchange job. Output: the alert columns, then `sig_msg`,
    * `sig_rev` and `sig_priority` — the same rows, types and
    * nullability.
    */
  def lookupSignatures(alerts: DataFrame,
      sigs: Broadcast[Map[(Long, Long), String]]): DataFrame = {
    val msg = SigMsgLookup.column(alerts("generator_id"),
      alerts("signature_id"), sigs)
    alerts.select(alerts.columns.toSeq.map(alerts(_)) ++
      (sigMsg(alerts, msg) +: sigRevAndPriority(alerts, msg.isNotNull)): _*)
  }

  /** [[enrichClassifications]] against [[classMap]], as a projection
    * over a broadcast [[classLookup]] ([[ClassNameLookup]]). Output: the
    * alert columns, then `class_name` — the only [[classMap]] column
    * the follow sink keeps.
    */
  def lookupClassifications(alerts: DataFrame,
      classes: Broadcast[Map[Long, String]]): DataFrame =
    alerts.select(alerts.columns.toSeq.map(alerts(_)) :+
      className(ClassNameLookup.column(alerts("classification_id"),
        classes)): _*)
}

/** (gid, sid) → msg from a broadcast [[Maps.sigLookup]]: null for an
  * unmapped key and for a null gid or sid, which never matches, as in
  * the join. Codegen is one static call into [[SigMsgLookup.lookup]]
  * with the broadcast as a reference object; the broadcast is shipped
  * with the plan and fetched once per executor.
  */
case class SigMsgLookup(left: Expression, right: Expression,
    sigs: Broadcast[Map[(Long, Long), String]])
    extends BinaryExpression with ImplicitCastInputTypes {

  override def prettyName: String = "graft_sig_msg"
  override def inputTypes: Seq[DataType] = Seq(LongType, LongType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override protected def nullSafeEval(g: Any, s: Any): Any =
    SigMsgLookup.lookup(sigs, g.asInstanceOf[Long], s.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val bc = ctx.addReferenceObj("sigs", sigs,
      classOf[Broadcast[_]].getName)
    nullSafeCodeGen(ctx, ev, (g, s) => s"""
      ${ev.value} = graft.snort.SigMsgLookup.lookup($bc, $g, $s);
      ${ev.isNull} = ${ev.value} == null;
      """)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SigMsgLookup {
  def column(gid: Column, sid: Column,
      sigs: Broadcast[Map[(Long, Long), String]]): Column =
    DatasetBridge.column(SigMsgLookup(DatasetBridge.expression(gid),
      DatasetBridge.expression(sid), sigs))

  def lookup(sigs: Broadcast[Map[(Long, Long), String]], gid: Long,
      sid: Long): UTF8String =
    sigs.value.get((gid, sid)) match {
      case Some(m) => UTF8String.fromString(m)
      case None => null
    }
}

/** class_id → class_name from a broadcast [[Maps.classLookup]]: null
  * for an unknown or null id. Codegen as in [[SigMsgLookup]].
  */
case class ClassNameLookup(child: Expression,
    classes: Broadcast[Map[Long, String]])
    extends UnaryExpression with ImplicitCastInputTypes {

  override def prettyName: String = "graft_class_name"
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override protected def nullSafeEval(id: Any): Any =
    ClassNameLookup.lookup(classes, id.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val bc = ctx.addReferenceObj("classes", classes,
      classOf[Broadcast[_]].getName)
    nullSafeCodeGen(ctx, ev, id => s"""
      ${ev.value} = graft.snort.ClassNameLookup.lookup($bc, $id);
      ${ev.isNull} = ${ev.value} == null;
      """)
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object ClassNameLookup {
  def column(id: Column, classes: Broadcast[Map[Long, String]]): Column =
    DatasetBridge.column(ClassNameLookup(DatasetBridge.expression(id),
      classes))

  def lookup(classes: Broadcast[Map[Long, String]], id: Long): UTF8String =
    classes.value.get(id) match {
      case Some(n) => UTF8String.fromString(n)
      case None => null
    }
}
