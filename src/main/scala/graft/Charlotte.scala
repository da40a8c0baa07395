package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.snort.{GraftConfig, GraftConfigError, Maps, SnortStar}
import graft.sources.Unified2
import graft.streaming.Spool

/** Drop-in CLI parity with the reference daemon
  * (`/root/reference/scripts/charlotte`: `charlotte <config> [test]`):
  *
  *   runMain graft.Charlotte <charlotte.conf> test
  *     — TextOutput mode: drain every configured spool once and print
  *       u2fast-style alert lines (the reference's `test` argument).
  *   runMain graft.Charlotte <charlotte.conf> parquet <outDir>
  *     — sink mode: one AvailableNow drain of every spool through the
  *       full assemble→enrich loop into parquet under
  *       `<outDir>/<sensor>`, checkpointed under `<outDir>/_ckpt` —
  *       rerun to ingest whatever arrived since (the daemon loop as a
  *       scheduled batch).
  *   runMain graft.Charlotte <charlotte.conf> follow <outDir>
  *     — stay tailing until killed: the daemon-equivalent continuous
  *       mode. The snortdb JDBC sink (`SnortSinks`) takes the
  *       `plugin_snortdb` section where a database exists.
  *   runMain graft.Charlotte <charlotte.conf> compact <outDir>
  *     — maintenance: rewrite each sensor's warehouse dir into
  *       ~128 MiB files ([[graft.sources.Compact]]) — run between
  *       drains to undo per-micro-batch small-file buildup.
  *
  * Exit code 1 on config error, like the reference.
  */
object Charlotte {

  /** Test mode: enriched u2fast lines for one spool (the reference's
    * TextOutput), returned for printing or assertion.
    *
    * `maxLines` caps the driver-side materialization: test mode is a
    * debug print, and an uncapped collect() over an arbitrarily large
    * spool would OOM the driver (VERDICT r7 #8). Default 100k lines ≈
    * a few tens of MB; override via `graft.test.maxLines` in the
    * session conf for a bigger dump. limit() pushes into the plan
    * (TakeOrderedAndProject over the sort), so a capped run also
    * never sorts the full spool on the cluster.
    */
  def textLines(spark: SparkSession, config: GraftConfig,
      spool: graft.snort.SpoolConfig): Seq[String] = {
    val maxLines = spark.conf
      .getOption("graft.test.maxLines").map(_.toInt).getOrElse(100000)
    val recs = Unified2.records(spark, spool.directories, spool.filename,
      spool.name)
    val alerts = Maps.enrichClassifications(
      Maps.enrichSignatures(Unified2.alerts(recs),
        Maps.combinedSigMap(spark, config.signatureMap,
          config.generatorMap)),
      Maps.classMap(spark, config.classificationMap))
    SnortStar.textFormat(alerts)
      .orderBy(col("sensor"), col("event_id"))
      .limit(maxLines)
      .collect().map(_.getAs[String]("line")).toSeq
  }

  /** Run every configured spool in the given mode; returns after the
    * drain (`test`/`parquet`) or leaves the tail queries running
    * (`follow`).
    */
  def run(spark: SparkSession, config: GraftConfig, mode: String,
      outDir: String): Unit = {
    // validate once, BEFORE the loop — inside it a bad mode would pass
    // silently on an empty spool list and per-spool otherwise
    if (!Set("test", "parquet", "follow", "compact").contains(mode))
      throw new IllegalArgumentException(s"unknown mode: $mode")
    // one map set for every spool's query: each map file is parsed and
    // broadcast once per stamp, not once per sensor
    val maps = Spool.SinkMaps(spark, config.signatureMap,
      config.generatorMap, config.classificationMap)
    config.spools.foreach { sp =>
      mode match {
        case "test" =>
          textLines(spark, config, sp).foreach(println)
        case "compact" =>
          val (nb, na, rows) = graft.sources.Compact
            .compactParquet(spark, s"$outDir/${sp.name}")
          println(s"compacted ${sp.name}: $nb -> $na files, $rows rows")
        case _ =>
          Spool.tailIngest(spark, sp.directories, sp.filename, sp.name,
            maps, s"$outDir/${sp.name}", s"$outDir/_ckpt/${sp.name}",
            availableNow = mode == "parquet")
          ()
      }
    }
  }

  /** Graceful daemon shutdown, half one: stop every active streaming
    * query at its micro-batch boundary (the checkpoint commits, spool
    * bookmarks land in the offset log, no aborted-batch temp files) —
    * the Spark form of the reference daemon's catch-signal →
    * drain-queue → quit loop (/root/reference/charlotte/__init__.py:
    * 445-461). Idempotent and safe to call from a signal thread while
    * the main thread sits in awaitAnyTermination.
    */
  def stopActiveQueries(spark: SparkSession): Unit =
    spark.streams.active.foreach { q =>
      try q.stop()
      catch { case e: Exception =>
        System.err.println(s"[charlotte] stop ${q.name}: ${e.getMessage}")
      }
    }

  /** Install TERM/INT handlers for follow mode. Replacing the default
    * handler means the JVM does NOT die on the signal; the handler
    * stops the queries, awaitAnyTermination in main wakes as each one
    * terminates, and main then falls through to a normal exit-0 —
    * orchestrator kills (systemd stop, k8s preStop) look identical to
    * a clean operator shutdown. A SECOND signal escalates to immediate
    * exit 130, the escape hatch if a batch hangs mid-stop.
    */
  private def installShutdownSignals(spark: SparkSession): Unit = {
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val handler = new sun.misc.SignalHandler {
      def handle(sig: sun.misc.Signal): Unit =
        if (fired.compareAndSet(false, true)) {
          System.err.println(s"[charlotte] caught SIG${sig.getName}, " +
            "stopping tail queries")
          stopActiveQueries(spark)
        } else Runtime.getRuntime.halt(130)
    }
    Seq("TERM", "INT").foreach { name =>
      // a non-default disposition (e.g. INT ignored under nohup) must
      // stay as-is; handle() throws for those — leave them untouched
      try sun.misc.Signal.handle(new sun.misc.Signal(name), handler)
      catch { case e: IllegalArgumentException =>
        System.err.println(s"[charlotte] SIG$name not handled: ${e.getMessage}")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: Charlotte <config> [test|parquet|follow|compact] [outDir]")
      sys.exit(1)
    }
    val config = try GraftConfig.load(args(0))
      catch { case e: GraftConfigError =>
        System.err.println(s"ERROR: ${e.message}")
        sys.exit(1); throw e
      }
    val mode = args.lift(1).getOrElse("test")
    val outDir = args.lift(2).getOrElse("target/charlotte_out")

    val spark = GraftSession.build("graft-charlotte",
      sys.env.get("SPARK_MASTER").map("spark.master" -> _).toMap)

    try run(spark, config, mode, outDir)
    finally if (mode != "follow") spark.stop()
    if (mode == "follow") {
      installShutdownSignals(spark)
      // one spool's query finishing (stop or failure) must not strand
      // the others: wait until ALL tails are done, propagating the
      // first query FAILURE as the daemon's death (exit != 0) while a
      // signal-driven stop of every query falls through to exit 0
      while (spark.streams.active.nonEmpty) {
        spark.streams.awaitAnyTermination()
        spark.streams.resetTerminated()
      }
      spark.stop()
    }
  }
}
