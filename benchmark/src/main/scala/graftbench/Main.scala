package graftbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.compact

/** Shared state of one run: the session, the engine counters and the
  * set-up clock. A workload calls [[setupDone]] right before its first
  * timed operation.
  */
final class Ctx(val args: Args, val spark: SparkSession,
    val engine: EngineListener, val sessionS: Double) {
  private var setupS = Double.NaN
  var warmS = 0.0
  var indexS = 0.0
  def setupDone(): Unit = setupS = Clock.sinceJvmStart()
  def setup: Double = setupS

  /** Runs whole rounds `body(r)` (each returning its wall seconds): at
    * least `min`, then more while the next, if it takes as long as the
    * last, ends within a quarter past the run length.
    */
  def rounds(min: Int)(body: Int => Double): Seq[Double] = {
    val start = Clock.now()
    val walls = Seq.newBuilder[Double]
    var r = 0
    var last = 0.0
    while (r < min || Clock.now() - start + last <= args.seconds * 1.25) {
      last = body(r)
      walls += last
      r += 1
    }
    walls.result()
  }
}

trait Workload {
  def run(ctx: Ctx): Outcome
}

/** `graftbench.Main --workload w --seed n --seconds s --trace 0|1
  * --inputs dir --work dir --slots k [--selftest 1]`
  *
  * Prints one JSON line last: correct, attempted, failed and the
  * end-to-end metrics (trace 0) or the per-layer metrics (trace 1).
  */
object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "alerts_per_s" -> "alerts/s", "fresh_p50_ms" -> "ms",
    "fresh_p90_ms" -> "ms", "pass_s" -> "s", "cpu_s" -> "s",
    "peak_rss_mb" -> "MB", "warehouse_mb" -> "MB")

  val Modules: Seq[String] = Seq("Analytics", "Analytics2", "Analytics3",
    "Analytics4", "Analytics5", "SketchOps", "TextOps", "DedupOps",
    "PipelineOps", "SimilarityOps", "MultimodalOps", "SnortOps", "StreamOps")

  val PerLayer: Seq[(String, String)] = Seq(
    "sources.parse_s" -> "s", "sources.assemble_s" -> "s",
    "sources.records" -> "count", "sources.input_mb" -> "MB",
    "functions.decode_s" -> "s",
    "snort.enrich_s" -> "s", "snort.fallback_sig_alerts" -> "count",
    "snort.fallback_class_alerts" -> "count",
    "snort.normalize_s" -> "s", "snort.normalize_shuffle_mb" -> "MB",
    "sink.write_s" -> "s", "sink.files" -> "count", "sink.mb" -> "MB",
    "streaming.batches" -> "count", "streaming.nonempty_batches" -> "count",
    "streaming.rows_per_batch" -> "rows",
    "streaming.latest_offset_ms" -> "ms", "streaming.get_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
    "streaming.trigger_ms" -> "ms", "streaming.backlog_mb_max" -> "MB",
    "streaming.generator_late_ms" -> "ms") ++
    EngineListener.Keys.map { k =>
      s"spark.$k" -> (if (k.endsWith("_s")) "s" else if (k.endsWith("_mb")) "MB"
        else "count")
    } ++
    Modules.map(m => s"entries.${m}_s" -> "s") ++ Seq(
    "setup.session_s" -> "s", "setup.warm_s" -> "s", "setup.index_s" -> "s",
    "cache.index_mb" -> "MB")

  def session(a: Args): SparkSession = {
    val local = a.work.resolve("spark-local")
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[${a.slots}]")
      .appName(s"graftbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.slots.toString)
      .config("spark.default.parallelism", a.slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String): Workload = name match {
    case "star_etl" => new StarEtl
    case "spool_follow" => new SpoolFollow
    case "entry_mix" => new EntryMix
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val w = workload(a.workload)
    val (spark, sessionS) = Clock.time(session(a))
    val engine = new EngineListener
    if (a.trace) spark.sparkContext.addSparkListener(engine)
    val ctx = new Ctx(a, spark, engine, sessionS)
    try {
      if (a.selftest) {
        val failures = SelfTest.run(ctx)
        failures.foreach(f => System.err.println(s"SELFTEST FAIL: $f"))
        println(compact(JObject("selftest" -> JString(a.workload),
          "failures" -> JInt(failures.size))))
        if (failures.nonEmpty) sys.exit(1)
      } else {
        val o = w.run(ctx)
        o.notes.foreach(n => System.err.println(s"[graftbench] $n"))
        System.err.println(f"[graftbench] set-up ${ctx.setup}%.1f s, " +
          f"measure and check ${Clock.sinceJvmStart() - ctx.setup}%.1f s")
        println(render(a, ctx, o))
      }
    } finally spark.stop()
  }

  def render(a: Args, ctx: Ctx, o: Outcome): String = {
    val common = Map(
      "setup_s" -> M(ctx.setup, "s"),
      "peak_rss_mb" -> M(Clock.peakRssMb(), "MB"),
      "setup.session_s" -> M(ctx.sessionS, "s"),
      "setup.warm_s" -> M(ctx.warmS, "s"),
      "setup.index_s" -> M(ctx.indexS, "s"))
    val all = common ++ o.metrics
    val wanted = if (a.trace) PerLayer else EndToEnd
    val body = wanted.map { case (k, unit) =>
      // a per-layer metric of a layer the workload does not run is 0;
      // an end-to-end metric must be measured on every workload
      val m = all.getOrElse(k,
        if (a.trace) M(0.0, unit)
        else throw new IllegalStateException(s"metric $k not measured"))
      require(m.unit == unit, s"$k: unit ${m.unit} != $unit")
      require(!m.value.isNaN && !m.value.isInfinite, s"$k: ${m.value} is not a number")
      k -> JObject("value" -> JDouble(m.value), "unit" -> JString(unit))
    }
    compact(JObject("correct" -> JBool(o.correct), "attempted" -> JLong(o.attempted),
      "failed" -> JLong(o.failed), "metrics" -> JObject(body.toList)))
  }
}
