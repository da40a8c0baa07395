package graftbench

import java.io.FileOutputStream
import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.Charlotte
import graft.snort.GraftConfig
import graft.streaming.SpoolTailOffset

/** One micro-batch as the query listener saw it. `readableMs` is when
  * its output was committed: trigger start + trigger duration.
  */
final case class Batch(query: String, rows: Long, durations: Map[String, Long],
    end: Map[String, Long], readableMs: Long)

class ProgressLog extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[Batch]()
  /** Queries that stopped on an error: a micro-batch failed. */
  val failedQueries = new ConcurrentLinkedQueue[String]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    e.exception.foreach(x => failedQueries.add(s"${e.id}: $x"))
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val end = p.sources.headOption.flatMap(s => Option(s.endOffset))
      .map(j => SpoolTailOffset.parse(j).files.map { case (f, s) => f -> s.head })
      .getOrElse(Map.empty)
    batches.add(Batch(p.id.toString, p.numInputRows, d, end,
      Instant.parse(p.timestamp).toEpochMilli + d.getOrElse("triggerExecution", 0L)))
  }
  def all: Seq[Batch] = batches.asScala.toSeq
  /** When the bytes of `file` up to `off` were first readable. */
  def readable(file: String, off: Long): Option[Long] =
    all.filter(_.end.getOrElse(file, -1L) >= off).map(_.readableMs).minOption
}

/** One scheduled append of the generator (see gen.py). */
final case class Append(sensor: String, dir: String, file: String, start: Long,
    length: Int, alerts: Long, completeOff: Long, checksum: Long, clean: Boolean)

object Follow {
  private implicit val fmt: Formats = DefaultFormats

  def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }

  def sensorDirs(root: Path): Seq[(String, Seq[Path])] = {
    def ls(p: Path) = {
      val s = Files.list(p)
      try s.iterator().asScala.filter(Files.isDirectory(_)).toSeq.sortBy(_.toString)
      finally s.close()
    }
    ls(root).map(s => s.getFileName.toString -> ls(s))
  }

  /** A charlotte.conf for the spool tree under `root`. */
  def writeConfig(root: Path, maps: Path, conf: Path): GraftConfig = {
    def path(p: Path): JValue = JString(p.toString)
    val spools = sensorDirs(root).map { case (s, ds) =>
      s -> JObject("directories" -> JArray(ds.map(path).toList),
        "filename" -> JString("snort.log"))
    }
    Files.writeString(conf, JsonMethods.compact(JObject(
      "global" -> JObject(
        "signature_map" -> path(maps.resolve("sid-msg.map")),
        "generator_map" -> path(maps.resolve("gen-msg.map")),
        "classification_map" -> path(maps.resolve("classification.config"))),
      "spools" -> JObject(spools.toList))))
    GraftConfig.load(conf.toString)
  }

  def spoolFiles(root: Path): Seq[Path] =
    Disk.allFiles(root).filter(_.getFileName.toString.startsWith("snort.log"))

  def appends(inputs: Path): (Double, Seq[Append]) = {
    val j = JsonMethods.parse(Files.readString(inputs.resolve("follow/appends.json")))
    ((j \ "rate").extract[Double], (j \ "appends").extract[Seq[Append]])
  }

  /** Compares the follow warehouse with the expectation; empty = correct. */
  def check(wh: DataFrame, alerts: Long, checksum: Long): Seq[String] = {
    val r = wh.agg(count(lit(1)), countDistinct(col("sensor"), col("event_id")),
      sum(crc32(concat_ws("|", col("sensor"), col("event_id").cast("string"),
        col("sig_msg"), col("class_name"), col("src_ip")).cast("binary")))).head()
    Seq(
      (r.getLong(0) == alerts) -> s"rows ${r.getLong(0)}, want $alerts",
      (r.getLong(1) == alerts) -> s"distinct (sensor, event_id) ${r.getLong(1)}, want $alerts",
      (!r.isNullAt(2) && r.getLong(2) == checksum) ->
        s"enriched-field checksum ${r.get(2)}, want $checksum"
    ).collect { case (false, msg) => msg }
  }

  /** The last committed offsets of every sensor's checkpoint must equal
    * the final sizes of its spool files.
    */
  def checkOffsets(out: Path, root: Path): Seq[String] =
    sensorDirs(root).flatMap { case (sensor, dirs) =>
      val ck = out.resolve("_ckpt").resolve(sensor)
      def ids(d: String) = Disk.allFiles(ck.resolve(d)).map(_.getFileName.toString)
        .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
      val last = ids("commits").maxOption
      last match {
        case None => Seq(s"$sensor: no committed batch")
        case Some(b) =>
          val off = SpoolTailOffset.parse(
            Files.readAllLines(ck.resolve(s"offsets/$b")).asScala.last).files
          dirs.flatMap(d => spoolFiles(d)).flatMap { f =>
            val want = Files.size(f)
            val got = off.get(f.toString).map(_.head).getOrElse(0L)
            if (got == want) None else Some(s"$sensor: $f committed $got of $want bytes")
          }
      }
    }
}

class SpoolFollow extends Workload {
  /** Share of the run the open-loop generator appends for; the rest is
    * the backlog drain.
    */
  val FollowShare = 0.6

  def run(ctx: Ctx): Outcome = {
    val a = ctx.args
    val spark = ctx.spark
    val maps = a.inputs.resolve("maps")
    val expect = JsonMethods.parse(Files.readString(a.inputs.resolve("follow/expect.json")))
    implicit val fmt: Formats = DefaultFormats
    val log = new ProgressLog
    spark.streams.addListener(log)
    // set-up: stage the spools, warm the follow path on a small spool
    val spool = a.work.resolve("spool")
    Follow.copyTree(a.inputs.resolve("follow/backlog"), spool)
    val warmSpool = a.work.resolve("warm_spool")
    Follow.copyTree(a.inputs.resolve("follow/warm"), warmSpool)
    val cfg = Follow.writeConfig(spool, maps, a.work.resolve("charlotte.conf"))
    val warmCfg = Follow.writeConfig(warmSpool, maps, a.work.resolve("warm.conf"))
    val warmOut = a.work.resolve("warm_out")
    ctx.warmS = Clock.time(Charlotte.run(spark, warmCfg, "parquet", warmOut.toString))._2
    val (rate, schedule) = Follow.appends(a.inputs)
    val wanted = math.ceil(rate * a.seconds * FollowShare).toInt
    // whole rounds: stop only where no file holds a torn record
    val n = schedule.indexWhere(_.clean, wanted - 1) + 1
    require(n > 0, s"append schedule too short for $wanted appends")
    val blob = Files.readAllBytes(a.inputs.resolve("follow/appends.bin"))
    val backlogFiles = Follow.spoolFiles(spool).map(f => f.toString -> Files.size(f))
    val out = a.work.resolve("warehouse")
    ctx.setupDone()

    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    log.batches.clear()
    val measured = EngineListener.measure(spark, ctx.engine, a.trace) {
      val cpu0 = Clock.cpu()
      val t0 = System.currentTimeMillis()
      Charlotte.run(spark, cfg, "follow", out.toString)
      val drained = waitFor(log, 120) {
        val ts = backlogFiles.map { case (f, sz) => log.readable(f, sz) }
        if (ts.forall(_.isDefined)) Some(ts.flatten.max) else None
      }
      // the open-loop generator: append i is due at g0 + i / rate
      val g0 = System.currentTimeMillis()
      val written = new Array[Long](n)
      val gen = new Thread(() => {
        val streams = mutable.Map[Path, FileOutputStream]()
        try for (i <- 0 until n) {
          val ap = schedule(i)
          val due = g0 + (i * 1000.0 / rate).toLong
          val wait = due - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          val f = spool.resolve(ap.sensor).resolve(ap.dir).resolve(ap.file)
          streams.getOrElseUpdate(f, new FileOutputStream(f.toFile, true))
            .write(blob, ap.start.toInt, ap.length)
          written(i) = System.currentTimeMillis()
        } finally streams.values.foreach(_.close())
      }, "graftbench-append-generator")
      gen.start()
      gen.join()
      val finalFiles = Follow.spoolFiles(spool).map(f => f.toString -> Files.size(f))
      waitFor(log, 60) {
        if (finalFiles.forall { case (f, sz) => log.readable(f, sz).isDefined })
          Some(()) else None
      }
      val cpu = Clock.cpu() - cpu0
      Charlotte.stopActiveQueries(spark)
      // an append whose alerts never become readable failed
      val fresh = (0 until n).map { i =>
        val ap = schedule(i)
        val f = spool.resolve(ap.sensor).resolve(ap.dir).resolve(ap.file).toString
        log.readable(f, ap.completeOff).map(r => r - (g0 + (i * 1000.0 / rate)))
      }
      val late = (0 until n).map(i => written(i) - (g0 + (i * 1000.0 / rate)))
      (t0, drained, fresh, late, cpu, written.toSeq)
    }
    val ((t0, drainedAt, freshAll, late, cpu, written), eng) = measured
    val fresh = freshAll.flatten
    require(fresh.nonEmpty, "follow: no appended alert became readable: " +
      log.failedQueries.asScala.mkString("; "))
    // the backlog drain is one operation, each append another
    val failed = drainedAt.fold(1L)(_ => 0L) + freshAll.count(_.isEmpty)
    val drained = drainedAt.getOrElse(System.currentTimeMillis())
    val batches = log.all
    val followBatches = batches.filter(b => b.rows > 0 && b.readableMs > drained)
    val backlogAlerts = (expect \ "backlog" \ "alerts").extract[Long]
    val whFiles = Disk.parquetFiles(out).filterNot(_.toString.contains("_ckpt"))
    val e2e = Map(
      "alerts_per_s" -> M(backlogAlerts / ((drained - t0) / 1000.0), "alerts/s"),
      "fresh_p50_ms" -> M(Stats.quantile(fresh, 0.5), "ms"),
      "fresh_p90_ms" -> M(Stats.quantile(fresh, 0.9), "ms"),
      "pass_s" -> M(Stats.median(followBatches.map(_.durations("triggerExecution") / 1e3)), "s"),
      "cpu_s" -> M(cpu, "s"),
      "warehouse_mb" -> M(Disk.mb(whFiles), "MB"))
    val wh = spark.read.parquet(Follow.sensorDirs(spool).map(s => out.resolve(s._1).toString): _*)
    val wantAlerts = backlogAlerts + schedule.take(n).map(_.alerts).sum
    val wantSum = (expect \ "backlog" \ "checksum").extract[Long] +
      schedule.take(n).map(_.checksum).sum
    val warmWh = spark.read.parquet(Follow.sensorDirs(warmSpool).map(s => warmOut.resolve(s._1).toString): _*)
    val failures =
      Follow.check(warmWh, (expect \ "warm" \ "alerts").extract[Long],
        (expect \ "warm" \ "checksum").extract[Long]).map("warm: " + _) ++
      Follow.check(wh, wantAlerts, wantSum) ++ Follow.checkOffsets(out, spool)
    val layers = if (!a.trace) Map.empty[String, M] else {
      def med(k: String) = Stats.median(batches.filter(_.rows > 0)
        .map(_.durations.getOrElse(k, 0L).toDouble))
      // bytes written but not yet committed, as each batch ended
      val backlogBytes = backlogFiles.map(_._2).sum
      val backlogMax = batches.map { b =>
        val writtenBy = backlogBytes + (0 until n)
          .filter(i => written(i) <= b.readableMs).map(i => schedule(i).length.toLong).sum
        val committedBy = batches.filter(_.readableMs <= b.readableMs)
          .groupBy(_.query).values.map(_.maxBy(_.readableMs).end.values.sum).sum
        writtenBy - committedBy
      }.maxOption.getOrElse(0L)
      // the ingest layers of this spool's alerts through the batch star
      // path (parse, assembly, decode, enrichment, normalize, writeParquet),
      // timed on the warm spool after one untimed warm round
      val p = new Star.Pipeline(spark, maps)
      p.etl(warmSpool, a.work.resolve("star_warm"))
      val star = Star.layers(ctx, p, _ => warmSpool, a.work.resolve("star_trace"))
        .filter { case (k, _) => k.startsWith("sources.") || k.startsWith("functions.") ||
          k.startsWith("snort.") || k == "sink.write_s" }
      star ++ Map(
        "streaming.batches" -> M(batches.size, "count"),
        "streaming.nonempty_batches" -> M(batches.count(_.rows > 0), "count"),
        "streaming.rows_per_batch" -> M(Stats.median(batches.filter(_.rows > 0).map(_.rows.toDouble)), "rows"),
        "streaming.latest_offset_ms" -> M(med("latestOffset"), "ms"),
        "streaming.get_batch_ms" -> M(med("getBatch"), "ms"),
        "streaming.query_planning_ms" -> M(med("queryPlanning"), "ms"),
        "streaming.add_batch_ms" -> M(med("addBatch"), "ms"),
        "streaming.wal_commit_ms" -> M(med("walCommit"), "ms"),
        "streaming.commit_offsets_ms" -> M(med("commitOffsets"), "ms"),
        "streaming.trigger_ms" -> M(med("triggerExecution"), "ms"),
        "streaming.backlog_mb_max" -> M(math.max(backlogMax, 0L) / 1048576.0, "MB"),
        "streaming.generator_late_ms" -> M(late.max.toDouble, "ms"),
        "sink.files" -> M(whFiles.size, "count"),
        "sink.mb" -> M(Disk.mb(whFiles), "MB"),
        "snort.fallback_sig_alerts" -> M(wh.filter(col("sig_msg").startsWith("Unknown Alert ")).count(), "count"),
        "snort.fallback_class_alerts" -> M(wh.filter(col("class_name") === "unknown-classification").count(), "count")) ++
        EngineListener.Keys.map(k => s"spark.$k" -> M(eng.getOrElse(k, 0.0),
          Main.PerLayer.toMap.apply(s"spark.$k")))
    }
    Outcome(n + 1L, failed, failures.isEmpty, e2e ++ layers,
      failures ++ log.failedQueries.asScala.map("query failed: " + _))
  }

  /** Poll `f` every 20 ms until it yields; None after `limitS` or once a
    * query has failed.
    */
  private def waitFor[T](log: ProgressLog, limitS: Int)(f: => Option[T]): Option[T] = {
    val end = Clock.now() + limitS
    var r = f
    while (r.isEmpty && Clock.now() < end && log.failedQueries.isEmpty) {
      Thread.sleep(20)
      r = f
    }
    r.orElse(f)
  }
}
