package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.snort.{Maps, SnortStar}
import graft.sources.Unified2

/** The README's batch path over a closed multi-sensor spool:
  * `Unified2.records` → `Unified2.alerts` → `Maps.enrichSignatures` /
  * `enrichClassifications` → `SnortStar.normalize` →
  * `SnortStar.writeParquet`, one round per spool slice.
  */
object Star {
  val Tables = Seq("sensor", "signature", "sig_class", "event", "iphdr",
    "tcphdr", "udphdr", "icmphdr", "data")

  final class Pipeline(spark: SparkSession, maps: Path) {
    private val sig = maps.resolve("sid-msg.map").toString
    private val gen = maps.resolve("gen-msg.map").toString
    private val cls = maps.resolve("classification.config").toString

    private def dirs(p: Path): Seq[Path] = {
      val s = Files.list(p)
      try s.iterator().asScala.filter(Files.isDirectory(_)).toSeq.sortBy(_.toString)
      finally s.close()
    }

    /** Every sensor of a spool tree `<root>/<sensor>/<dir>/snort.log.*`. */
    def records(root: Path): DataFrame =
      dirs(root).map { s =>
        Unified2.records(spark, dirs(s).map(_.toString), "snort.log",
          s.getFileName.toString)
      }.reduce(_ unionByName _)

    def alerts(recs: DataFrame): DataFrame = Unified2.alerts(recs)

    def enrich(alerts: DataFrame): DataFrame =
      Maps.enrichClassifications(
        Maps.enrichSignatures(alerts, Maps.combinedSigMap(spark, sig, gen)),
        Maps.classMap(spark, cls))

    def normalize(enriched: DataFrame): Map[String, DataFrame] =
      SnortStar.normalize(enriched)

    def etl(root: Path, out: Path): Unit =
      SnortStar.writeParquet(normalize(enrich(alerts(records(root)))), out.toString)
  }

  def read(spark: SparkSession, out: Path): Map[String, DataFrame] =
    Tables.map(t => t -> spark.read.parquet(out.resolve(t).toString)).toMap

  def loadExpect(p: Path): JValue = JsonMethods.parse(Files.readString(p))

  private implicit val fmt: Formats = DefaultFormats

  /** Compares one warehouse with the generator's expectation; returns
    * the failed checks (empty = correct).
    */
  def check(t: Map[String, DataFrame], e: JValue): Seq[String] = {
    val bad = Seq.newBuilder[String]
    def eq(what: String, got: Any, want: Any): Unit =
      if (got != want) bad += s"$what: got $got, want $want"
    val sensors = (e \ "sensors").extract[Map[String, Map[String, Long]]]
    val sensorRows = t("sensor").select(col("sensor"), col("sensor_sid"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    eq("sensors", sensorRows.keySet, sensors.keySet)
    // sensor ids are the dense rank of the sensor name
    eq("sensor ids", sensorRows,
      sensors.keys.toSeq.sorted.zipWithIndex.map { case (s, i) => s -> (i + 1L) }.toMap)
    val ev = t("event")
    val perSid = ev.groupBy(col("sid").cast("long").as("sid"))
      .agg(count(lit(1)).as("n"), countDistinct(col("cid")).as("nd"),
        min(col("cid")).as("lo"), max(col("cid")).as("hi"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    sensors.foreach { case (name, m) =>
      val rows = m("rows")
      sensorRows.get(name).flatMap(perSid.get) match {
        case Some((n, nd, lo, hi)) =>
          eq(s"$name event rows", n, rows)
          eq(s"$name distinct cids", nd, rows)
          eq(s"$name cid range", (lo, hi), (1L, rows))
        case None => bad += s"$name: no event rows"
      }
    }
    // cids follow file order: event seconds never fall as cid rises
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("sid"))
      .orderBy(col("cid"))
    eq("cid order", ev.withColumn("prev", lag(col("timestamp"), 1).over(w))
      .filter(col("timestamp") < col("prev")).count(), 0L)
    val hdr = (e \ "headers").extract[Map[String, Long]]
    val hdrRows = hdr.keys.toSeq.map(n => t(n).select(lit(n).as("t")))
      .reduce(_ unionByName _).groupBy(col("t")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    hdr.foreach { case (n, want) => eq(s"$n rows", hdrRows.getOrElse(n, 0L), want) }
    eq("iphdr ip_src sum",
      t("iphdr").agg(sum(col("ip_src"))).head().getLong(0),
      (e \ "ip_src_sum").extract[Long])
    eq("payload hex checksum",
      t("data").agg(sum(crc32(col("data_payload").cast("binary")))).head().getLong(0),
      (e \ "payload_sum").extract[Long])
    val joined = ev.join(t("signature"), ev("signature") === col("sig_id"))
      .join(t("sensor"), ev("sid").cast("long") === col("sensor_sid"))
      .join(t("sig_class"), col("s_class_id") === col("sig_class_id"), "left_outer")
    val fallback = col("s_msg").startsWith("Unknown Alert ")
    val agg = joined.agg(
      count(when(fallback, 1)),
      collect_set(when(fallback, col("s_msg"))),
      count(when(col("sig_class_name") === "unknown-classification", 1)),
      sum(crc32(concat_ws("|", col("sensor"), col("s_gid").cast("string"),
        col("s_sid").cast("string"), col("s_msg"), col("timestamp")).cast("binary")))
    ).head()
    eq("fallback signature rows", agg.getLong(0), (e \ "fallback_sig_rows").extract[Long])
    eq("fallback signature strings", agg.getSeq[String](1).toSet,
      (e \ "fallback_msgs").extract[Seq[String]].toSet)
    eq("fallback class rows", agg.getLong(2), (e \ "fallback_class_rows").extract[Long])
    eq("planted-field checksum", agg.getLong(3), (e \ "checksum").extract[Long])
    bad.result()
  }

  /** Per-layer self times from cumulative prefixes of the star path,
    * each through the noop sink; the last prefix is the real round.
    * Rounds run over `slice(r)` into `wh/round<r>`.
    */
  def layers(ctx: Ctx, p: Pipeline, slice: Int => Path,
      wh: Path): Map[String, M] = {
    val spark = ctx.spark
    SnortStar.registerFunctions(spark)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val cols = Seq("p1", "p2", "pd", "p3", "p4", "p5").map(_ -> Seq.newBuilder[Double]).toMap
    val shuffle3, shuffle4 = Seq.newBuilder[Double]
    val engine = Seq.newBuilder[Map[String, Double]]
    val sinkFiles, sinkMb, records, inputMb, fbSig, fbClass = Seq.newBuilder[Double]
    val r = ctx.rounds(1) { r =>
      val root = slice(r)
      val recs = p.records(root)
      val al = p.alerts(recs)
      val en = p.enrich(al)
      // the short prefixes run three times each, their median counts
      def timed3(f: => Unit): Double = Stats.median(Seq.fill(3)(Clock.time(f)._2))
      cols("p1") += timed3(noop(recs))
      cols("p2") += timed3(noop(al))
      cols("pd") += timed3(noop(al.withColumn("decoded",
        expr("transform(packets, x -> graft_decode_packet(x.packet_data))"))))
      val (t3, e3) = EngineListener.measure(spark, ctx.engine)(timed3(noop(en)))
      cols("p3") += t3; shuffle3 += e3("shuffle_write_mb") / 3
      val tabs = p.normalize(en)
      val (t4, e4) = EngineListener.measure(spark, ctx.engine)(
        Clock.time(tabs.values.foreach(noop))._2)
      cols("p4") += t4; shuffle4 += e4("shuffle_write_mb")
      val out = wh.resolve(s"round$r")
      val (t5, e5) = EngineListener.measure(spark, ctx.engine)(
        Clock.time(SnortStar.writeParquet(tabs, out.toString))._2)
      cols("p5") += t5; engine += e5
      val files = Disk.parquetFiles(out)
      sinkFiles += files.size; sinkMb += Disk.mb(files)
      records += recs.count()
      inputMb += Disk.mb(Disk.allFiles(root))
      fbSig += en.filter(col("sig_msg").startsWith("Unknown Alert ")).count()
      fbClass += en.filter(col("class_name") === "unknown-classification").count()
      t5
    }.size
    val m = cols.map { case (k, b) => k -> Stats.median(b.result()) }
    def med(b: scala.collection.mutable.Builder[Double, Seq[Double]]) =
      Stats.median(b.result())
    val eng = engine.result()
    Map(
      "sources.parse_s" -> M(m("p1"), "s"),
      "sources.assemble_s" -> M(m("p2") - m("p1"), "s"),
      "sources.records" -> M(med(records), "count"),
      "sources.input_mb" -> M(med(inputMb), "MB"),
      "functions.decode_s" -> M(m("pd") - m("p2"), "s"),
      "snort.enrich_s" -> M(m("p3") - m("p2"), "s"),
      "snort.fallback_sig_alerts" -> M(med(fbSig), "count"),
      "snort.fallback_class_alerts" -> M(med(fbClass), "count"),
      "snort.normalize_s" -> M(m("p4") - m("p3"), "s"),
      "snort.normalize_shuffle_mb" -> M(med(shuffle4) - med(shuffle3), "MB"),
      "sink.write_s" -> M(m("p5") - m("p4"), "s"),
      "sink.files" -> M(med(sinkFiles), "count"),
      "sink.mb" -> M(med(sinkMb), "MB"),
      "rounds" -> M(r, "count")) ++
      EngineListener.Keys.map { k =>
        s"spark.$k" -> M(Stats.median(eng.map(_.getOrElse(k, 0.0))),
          Main.PerLayer.toMap.apply(s"spark.$k"))
      }
  }

  /** Event rows only: the cheap check for a repeated slice. */
  def rows(e: JValue): Long =
    (e \ "sensors").extract[Map[String, Map[String, Long]]].values.map(_("rows")).sum
}

class StarEtl extends Workload {
  val Slices = 4

  def run(ctx: Ctx): Outcome = {
    val a = ctx.args
    val spark = ctx.spark
    val p = new Star.Pipeline(spark, a.inputs.resolve("maps"))
    val expect = Star.loadExpect(a.inputs.resolve("star/expect.json"))
    val wh = a.work.resolve("warehouse")
    val warm = a.inputs.resolve("star/warm")
    // set-up: a warm round on a small slice loads and JITs the path
    val (_, warmS) = Clock.time(p.etl(warm, wh.resolve("warm")))
    ctx.warmS = warmS
    val slices = (0 until Slices).map(k => s"slice$k")
    def slicePath(r: Int) = a.inputs.resolve(s"star/${slices(r % Slices)}")
    def alertsIn(r: Int): Long = {
      implicit val f: Formats = DefaultFormats
      (expect \ slices(r % Slices) \ "sensors")
        .extract[Map[String, Map[String, Long]]].values.map(_("alerts")).sum
    }
    ctx.setupDone()
    // rounds whose ETL threw; they count as failed and go unchecked
    val failedRounds = mutable.Set[Int]()
    val measured = if (a.trace) Star.layers(ctx, p, slicePath, wh) else {
      val cpu0 = Clock.cpu()
      val w = ctx.rounds(1) { r =>
        val (done, t) = Clock.time(Try(p.etl(slicePath(r), wh.resolve(s"round$r"))))
        done.failed.foreach { e =>
          failedRounds += r
          System.err.println(s"[graftbench] round $r failed: $e")
        }
        t
      }
      val cpu = Clock.cpu() - cpu0
      val r = w.size
      val alerts = (0 until r).filterNot(failedRounds).map(alertsIn).sum
      Map(
        "alerts_per_s" -> M(alerts / w.sum, "alerts/s"),
        "pass_s" -> M(Stats.median(w), "s"),
        "fresh_p50_ms" -> M(Stats.quantile(w, 0.5) * 1000, "ms"),
        "fresh_p90_ms" -> M(Stats.quantile(w, 0.9) * 1000, "ms"),
        "cpu_s" -> M(cpu / r, "s"),
        "warehouse_mb" -> M(Stats.median((0 until math.min(r, Slices))
          .filterNot(failedRounds)
          .map(i => Disk.mb(Disk.parquetFiles(wh.resolve(s"round$i"))))), "MB"),
        "rounds" -> M(r, "count"))
    }
    val rounds = measured("rounds").value.toInt
    // full check of each distinct slice's first round, row count of the rest
    def rowCount(name: String, out: Path, e: JValue): Seq[String] = {
      val n = spark.read.parquet(out.resolve("event").toString).count()
      if (n == Star.rows(e)) Nil else Seq(s"$name: $n event rows, want ${Star.rows(e)}")
    }
    val failures = rowCount("warm", wh.resolve("warm"), expect \ "warm") ++
      (0 until rounds).filterNot(failedRounds).flatMap { r =>
        val out = wh.resolve(s"round$r")
        val e = expect \ slices(r % Slices)
        if (r < Slices) Star.check(Star.read(spark, out), e).map(s"round $r: " + _)
        else rowCount(s"round $r", out, e)
      }
    Disk.delete(wh)
    Outcome(rounds, failedRounds.size, failures.isEmpty, measured - "rounds", failures)
  }
}
