package graft.streaming

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.StreamOps
import graft.functions.Net
import graft.snort.Maps
import graft.sources.Unified2

/** Structured-streaming unified2 spool ingestion — the reference's
  * per-spool follower processes + bookmark files
  * (/root/reference/charlotte/__init__.py:213-283,108-120) collapse to
  * a Spark file-stream source: new `snort.log.*` files are discovered
  * per micro-batch (rollover handling), and the streaming checkpoint IS
  * the bookmark — an `AvailableNow` restart resumes exactly after the
  * last processed file, no custom offset tracking.
  *
  * Every query here starts under [[LocalCheckpointFileManager]]
  * ([[StreamOps.starting]]): a local checkpoint's offset and commit logs
  * are written with java.nio, without Hadoop's `chmod` / `readlink`
  * shell-outs, with no `.crc` files and no fsync. A checkpoint manager
  * the session already names wins, and the session's conf is left as
  * it was found.
  */
object Spool {

  /** binaryFile source schema (fixed by Spark). */
  private val binSchema = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** Streaming record feed for one sensor spool (N directories).
    *
    * File-source semantics: each file is read EXACTLY ONCE, at first
    * discovery. Records appended to a file after that read are never
    * seen — so this feed is only lossless over ROLLED-OVER (closed)
    * spool files, i.e. run snort with rollover and treat the newest
    * `snort.log.*` per directory as not-yet-ingestable (ADVICE r1).
    * [[SpoolTail]] is the tailing alternative: a DSv2 micro-batch
    * source with per-file byte-offset bookmarks that follows the
    * active file across batches, like the reference's record-level
    * bookmark reader (/root/reference/charlotte/__init__.py:108-120).
    */
  def streamRecords(spark: SparkSession, dirs: Seq[String], prefix: String,
      sensor: String): DataFrame = {
    import spark.implicits._
    val streams = dirs.map { d =>
      spark.readStream.format("binaryFile")
        .option("pathGlobFilter", s"$prefix*")
        .schema(binSchema)
        .load(d)
        .select(col("path"), col("content"))
    }
    val unioned = streams.reduce(_ unionByName _)
    unioned.as[(String, Array[Byte])]
      .flatMap { case (path, bytes) => Unified2.parseFile(path, bytes) }
      .toDF()
      .withColumn("sensor", lit(sensor))
  }

  /** The complete charlotte-equivalent ingest loop as one call: follow
    * a spool, enrich its events, append to a parquet sink. The parsed
    * rule maps are kept across micro-batches as one broadcast per
    * (mtime, size, file key) stamp ([[SinkMaps]]), and each batch first
    * compares every map file's stamp with the one it was parsed at; if
    * they differ it parses the file again, broadcasts the new lookup and
    * destroys the replaced one once no batch reads it — the reference's
    * mtime-triggered rehash (charlotte's __init__.py:155-211): edit
    * sid-msg.map in place or rename a new one over it, and the NEXT
    * batch enriches with it, no restart. An in-place edit that keeps
    * both the size and the mtime (a write within the filesystem's mtime
    * granularity, or a restored mtime) is not seen, as in the reference.
    * Enrichment is a projection of native lookups over the broadcasts,
    * so a batch runs one Spark job: the write. Runs one AvailableNow
    * drain; call again after new files appear (or swap the trigger for
    * continuous operation).
    */
  def ingestOnce(spark: SparkSession, dirs: Seq[String], prefix: String,
      sensor: String, sigMapPath: String, genMapPath: String,
      classMapPath: String, outPath: String, checkpoint: String): Unit = {
    migrateLegacyBatches(spark, outPath, checkpoint)
    val q = StreamOps.starting(spark) {
      streamRecords(spark, dirs, prefix, sensor)
        .writeStream
        .foreachBatch(enrichAndAppend(spark,
          SinkMaps(spark, sigMapPath, genMapPath, classMapPath), outPath,
          checkpoint))
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
  }

  /** [[ingestOnce]] on the TAILING source ([[SpoolTail]]): follows the
    * ACTIVE spool file across micro-batches with byte-offset bookmarks,
    * so nothing waits for rollover — the closest Spark analogue of the
    * reference daemon's continuous loop. Returns the running query;
    * stop() it (or pass availableNow=true for a bounded drain).
    */
  def tailIngest(spark: SparkSession, dirs: Seq[String], prefix: String,
      sensor: String, sigMapPath: String, genMapPath: String,
      classMapPath: String, outPath: String, checkpoint: String,
      availableNow: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    tailIngest(spark, dirs, prefix, sensor,
      SinkMaps(spark, sigMapPath, genMapPath, classMapPath), outPath,
      checkpoint, availableNow)

  /** [[tailIngest]] enriching with `maps`, which the queries of several
    * spools may share (as [[graft.Charlotte.run]]'s do): each map file
    * is then parsed and broadcast once per stamp for all of them.
    */
  def tailIngest(spark: SparkSession, dirs: Seq[String], prefix: String,
      sensor: String, maps: SinkMaps, outPath: String, checkpoint: String,
      availableNow: Boolean): org.apache.spark.sql.streaming.StreamingQuery = {
    migrateLegacyBatches(spark, outPath, checkpoint)
    val w = SpoolTail.streamRecords(spark, dirs, prefix, sensor)
      .writeStream
      .foreachBatch(enrichAndAppend(spark, maps, outPath, checkpoint))
      .option("checkpointLocation", checkpoint)
    val q = StreamOps.starting(spark)(
      (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start())
    if (availableNow) q.awaitTermination()
    q
  }

  /** Spool retention: delete files the tailing ingest has FULLY
    * consumed — the Spark-native form of idstools
    * `SpoolEventReader(delete=True)`, which unlinks a spool file once
    * the reader rolls over past it (the reference wires that reader at
    * /root/reference/charlotte/__init__.py:108-120,263).
    *
    * Safety rules, mirroring the rollover semantics:
    *  - only files whose COMMITTED byte offset (from the checkpoint's
    *    last committed offset log — the authoritative bookmark, not the
    *    in-flight one) equals their current size are candidates;
    *  - the lexicographically-last `prefix*` file of each directory is
    *    the ACTIVE file snort may still append to — always kept;
    *  - nothing is deleted before the first commit.
    * Deleting a purged file is invisible to the stream: the next
    * `latestOffset` simply no longer lists it, so no partition is ever
    * planned against it. Returns the deleted paths.
    */
  def purgeIngested(checkpoint: String): Seq[String] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    def batchIds(dir: java.nio.file.Path): Seq[Long] =
      if (!Files.isDirectory(dir)) Seq.empty
      else {
        val s = Files.list(dir)
        try s.iterator().asScala.map(_.getFileName.toString)
          .filter(n => n.nonEmpty && n.forall(c => c >= '0' && c <= '9'))
          .map(_.toLong).toSeq
        finally s.close()
      }
    val committed = batchIds(Paths.get(checkpoint, "commits"))
    if (committed.isEmpty) return Seq.empty
    val offFile = Paths.get(checkpoint, "offsets", committed.max.toString)
    if (!Files.isRegularFile(offFile)) return Seq.empty
    // OffsetSeqLog layout: "v1" / metadata json / one offset per source.
    // Refuse any checkpoint with MORE than one source line too — a
    // composite query's last line is some other source's offset JSON,
    // and deleting files off the wrong source's bookkeeping is data loss
    val lines = Files.readAllLines(offFile).asScala.toSeq
    if (lines.length != 3) return Seq.empty
    val offsets = SpoolTailOffset.parse(lines.last).files
    val active: Set[String] = offsets.keys
      .groupBy(p => Paths.get(p).getParent)
      .values.map(_.max).toSet
    offsets.toSeq.sortBy(_._1).flatMap { case (path, state) =>
      val p = Paths.get(path)
      // state = [committed byte offset, record count]; tolerate a
      // malformed/short entry by skipping the file rather than crashing
      state.headOption match {
        case Some(off) if !active(path) && Files.isRegularFile(p) &&
            Files.size(p) == off =>
          Files.delete(p)
          Some(path)
        case _ => None
      }
    }
  }

  /** Per-batch enrichment + parquet append shared by both ingest loops.
    * The sink stores event columns only, so it enriches
    * [[Unified2.events]], not the packet and extra-data assembly of
    * [[Unified2.alerts]]. The rule-map lookups are broadcast once per
    * stamp by `maps` (see [[ingestOnce]]), held for the batch, and
    * applied by [[sinkRows]]' projection of native lookups, so the
    * batch's only Spark job is the staging write.
    * The checkpoint namespace is read once, at the query's first batch
    * (Spark has written `metadata` by then), and lives in this closure:
    * each started query builds its own, so a checkpoint deleted and
    * recreated at the same path gets the new lifetime's namespace. Only
    * that first batch can replay an attempt an earlier run promoted
    * (a failed batch stops the query), so only it looks for one.
    */
  private def enrichAndAppend(spark: SparkSession, maps: SinkMaps,
      outPath: String, checkpoint: String): (Dataset[Row], Long) => Unit = {
    lazy val ns = checkpointNamespace(spark, checkpoint)
    var first = true
    (batch: Dataset[Row], id: Long) => {
      maps.using { (sigs, classes) =>
        idempotentAppend(spark, sinkRows(Unified2.events(batch), sigs,
          classes), outPath, id, ns, mayReplay = first)
      }
      first = false
    }
  }

  /** The follow sink's columns: `events` enriched by the broadcast
    * lookups, the same rows as [[Maps.enrichSignatures]] /
    * [[Maps.enrichClassifications]] against [[Maps.combinedSigMap]] /
    * [[Maps.classMap]] followed by [[sinkColumns]]: one native
    * expression per lookup ([[Maps.lookupSignatures]] /
    * [[Maps.lookupClassifications]]) and per address
    * ([[Net.ipToString]]).
    */
  private[graft] def sinkRows(events: DataFrame,
      sigs: Broadcast[Map[(Long, Long), String]],
      classes: Broadcast[Map[Long, String]]): DataFrame =
    Maps.lookupClassifications(Maps.lookupSignatures(events, sigs), classes)
      .select(sinkColumns: _*)

  private[graft] def sinkColumns: Seq[Column] = Seq(col("sensor"),
    col("event_id"), col("event_second"), col("signature_id"),
    col("generator_id"), col("sig_msg"), col("sig_rev"), col("sig_priority"),
    col("class_name"),
    Net.ipToString(col("ip_source")).as("src_ip"),
    Net.ipToString(col("ip_destination")).as("dst_ip"),
    col("sport_itype"), col("dport_icode"), col("protocol"))

  /** A value parsed from local `paths`, kept until the (mtime, size,
    * file key) stamp of one of them changes; `release` then receives
    * the replaced value, at once or, if a [[using]] call holds it, when
    * the last such call returns. The stamps are taken BEFORE the parse,
    * so a file rewritten during it differs at the next call and is
    * parsed again. A missing file throws, like the parse itself, and
    * keeps the current value.
    */
  private[graft] final class StampedMaps[T](paths: Seq[String],
      parse: => T, release: T => Unit = (_: T) => ()) {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.{BasicFileAttributes, FileTime}

    private final class Held(val stamps: Seq[(FileTime, Long, AnyRef)],
        val value: T) {
      var users = 0
      var replaced = false
    }

    private var held: Option[Held] = None

    private def stamp(path: String): (FileTime, Long, AnyRef) = {
      val a = Files.readAttributes(Paths.get(path),
        classOf[BasicFileAttributes])
      (a.lastModifiedTime, a.size, a.fileKey)
    }

    private def current(): Held = synchronized {
      val now = paths.map(stamp)
      held match {
        case Some(h) if h.stamps == now => h
        case old =>
          val h = new Held(now, parse)
          held = Some(h)
          old.foreach { o =>
            o.replaced = true
            if (o.users == 0) release(o.value)
          }
          h
      }
    }

    def apply(): T = current().value

    /** `f` over the current value, which no stamp change releases
      * before `f` returns.
      */
    def using[R](f: T => R): R = {
      val h = synchronized { val h = current(); h.users += 1; h }
      try f(h.value)
      finally synchronized {
        h.users -= 1
        if (h.replaced && h.users == 0) release(h.value)
      }
    }
  }

  private[graft] object StampedMaps {
    /** One broadcast of `parse` per stamp; the replaced broadcast is
      * destroyed once no batch reads it, so reloads never grow the live
      * set. An executor fetches the value once per stamp, not once per
      * batch.
      */
    def broadcast[T: scala.reflect.ClassTag](spark: SparkSession,
        paths: Seq[String])(parse: => T): StampedMaps[Broadcast[T]] =
      new StampedMaps(paths, spark.sparkContext.broadcast(parse),
        (b: Broadcast[T]) => b.destroy())
  }

  /** The follow sink's rule maps: the broadcast (gid, sid) → msg and
    * class_id → class_name lookups, each reloaded when one of its files'
    * stamps changes. One instance may serve the queries of every spool:
    * a reload by one query's batch waits for no other, and destroys the
    * replaced broadcast only after the batches reading it are done.
    */
  final class SinkMaps private[graft] (
      sigs: StampedMaps[Broadcast[Map[(Long, Long), String]]],
      classes: StampedMaps[Broadcast[Map[Long, String]]]) {
    private[graft] def using[R](f: (Broadcast[Map[(Long, Long), String]],
        Broadcast[Map[Long, String]]) => R): R =
      sigs.using(s => classes.using(c => f(s, c)))
  }

  object SinkMaps {
    /** sid-msg.map + gen-msg.map and classification.config, parsed at
      * the first batch that reads them.
      */
    def apply(spark: SparkSession, sigMapPath: String, genMapPath: String,
        classMapPath: String): SinkMaps =
      new SinkMaps(
        StampedMaps.broadcast(spark, Seq(sigMapPath, genMapPath))(
          Maps.sigLookup(sigMapPath, genMapPath)),
        StampedMaps.broadcast(spark, Seq(classMapPath))(
          Maps.classLookup(classMapPath)))
  }

  /** Stable namespace for one checkpoint LIFETIME: the streaming query
    * id Spark persists in `<checkpoint>/metadata` at first start and
    * reuses on every restart of the same checkpoint; a fresh checkpoint
    * mints a fresh uuid. Batch ids are only unique WITHIN a lifetime
    * (every checkpoint counts 0,1,2,…), so replay-overwrite keyed on the
    * bare batch id destroys data the moment a new checkpoint writes into
    * an outPath an older run populated (ADVICE r12): its batch 0 would
    * silently DELETE the previous run's batch_0 files. Keying on
    * (queryId, batchId) makes the overwrite exact — a replay only ever
    * touches its own prior attempt. Reads `metadata` on every call; the
    * sink reads it once per started query ([[enrichAndAppend]]), never
    * across queries, since a PATH is not a LIFETIME (ADVICE r14).
    */
  private[graft] def checkpointNamespace(spark: SparkSession,
      checkpoint: String): String = {
    import org.apache.hadoop.fs.Path
    val meta = new Path(checkpoint, "metadata")
    val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(meta)
    val txt =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    "\"id\"\\s*:\\s*\"([0-9a-fA-F-]+)\"".r.findFirstMatchIn(txt) match {
      case Some(m) => m.group(1).replace("-", "").toLowerCase
      case None => sys.error(s"ingest: no query id in $meta")
    }
  }

  /** Pre-r13 ingest batches were promoted WITHOUT a checkpoint
    * namespace (`batch_<id>_<i>.parquet`); [[idempotentAppend]]'s
    * replay-delete only matches `batch_<ns>_<id>_*`, so an upgraded
    * restart replaying a legacy UNCOMMITTED batch would re-promote its
    * rows beside the surviving legacy files — duplication (ADVICE
    * r13). One-time migration, run before every ingest start:
    *  - a legacy batch the checkpoint's commit log records as
    *    COMMITTED can never be replayed — fold it into a plain
    *    `legacy_<id>_<i>.parquet` data file (readers still see it,
    *    and [[graft.sources.Compact]] may now rewrite it, which also
    *    stops the "" namespace pinning one uncompactable batch
    *    forever);
    *  - a legacy batch NEWER than the last commit is exactly the
    *    replayable one — ADOPT it into this checkpoint's namespace so
    *    the replay's delete-then-promote dedups it.
    * No-op when outPath has no legacy batch files or the checkpoint
    * has not started yet (then no legacy file can be this lifetime's).
    * Assumes outPath's legacy files were written by THIS checkpoint —
    * pre-r13 code had no namespaces, so multiple checkpoints sharing
    * one outPath were already unsound (the r12 finding that motivated
    * namespacing). Pre-r13 sequencing guarantees at most ONE legacy
    * batch id can be uncommitted: batch N+1 never runs before batch N
    * commits.
    */
  private val LegacyBatchFile = "^batch_([0-9]+)_([0-9]+)\\.parquet$".r

  private[graft] def migrateLegacyBatches(spark: SparkSession,
      outPath: String, checkpoint: String): Unit = {
    import org.apache.hadoop.fs.Path
    val out = new Path(outPath)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(out)) return
    val legacy = fs.listStatus(out).toSeq.filter(_.isFile).flatMap { st =>
      st.getPath.getName match {
        case LegacyBatchFile(id, i) => Some((id.toLong, i.toInt, st.getPath))
        case _ => None
      }
    }
    if (legacy.isEmpty) return
    if (!fs.exists(new Path(checkpoint, "metadata"))) return
    val ns = checkpointNamespace(spark, checkpoint)
    val commitsDir = new Path(checkpoint, "commits")
    // Spark PURGES commit-log entries past minBatchesToRetain (default
    // 100), so membership in the listed set undercounts: a legacy id
    // older than the retention window has no commit file yet IS
    // committed. Pre-r13 sequencing guarantees batch N+1 never ran
    // before N committed, so anything <= the max retained commit id is
    // committed; only an id ABOVE the newest commit is the (at most
    // one) replayable batch to adopt (ADVICE r14).
    val maxCommitted: Option[Long] =
      if (!fs.exists(commitsDir)) None
      else fs.listStatus(commitsDir).toSeq.map(_.getPath.getName)
        .filter(n => n.nonEmpty && n.forall(c => c >= '0' && c <= '9'))
        .map(_.toLong).maxOption
    legacy.foreach { case (id, i, p) =>
      val dstName =
        if (maxCommitted.exists(id <= _)) s"legacy_${id}_$i.parquet"
        else s"batch_${ns}_${id}_$i.parquet"
      val dst = new Path(out, dstName)
      if (!fs.rename(p, dst))
        sys.error(s"ingest migrate: rename $p -> $dst failed")
    }
  }

  /** Batch-idempotent parquet append: exactly-once for the foreachBatch
    * sink. A blind `mode("append")` is only at-least-once — a crash
    * AFTER the files land but BEFORE the streaming commit log records
    * the batch makes the restart replay the batch and append its rows
    * a second time (the reference daemon gets the same guarantee from
    * its DB transaction + bookmark file pairing,
    * /root/reference/charlotte/__init__.py:372-433).
    *
    * Protocol (every step idempotent under replay of the SAME
    * (namespace, batch id); same-fs renames are atomic):
    *   1. rewrite the batch into the hidden `.batch_<ns>_<id>.tmp`
    *      staging dir (replay deletes any torn leftover first);
    *   2. if `mayReplay`, delete every `batch_<ns>_<id>_*.parquet` in
    *      `outPath` — the files a previous crashed attempt of THIS batch
    *      may have promoted. Only a started query's first batch can be
    *      such a replay ([[enrichAndAppend]]); skipping the step for
    *      the others keeps a batch from listing the whole warehouse;
    *   3. rename the staged part files in as
    *      `batch_<ns>_<id>_<i>.parquet`.
    * `ns` is the checkpoint's query id ([[checkpointNamespace]]), so
    * step 2 can never touch another checkpoint lifetime's files even
    * when batch ids collide (ADVICE r12). Readers ignore the dot-dir;
    * the flat layout (no partition subdirs) keeps
    * `spark.read.parquet(outPath)` schemas unchanged, and
    * [[graft.sources.Compact]] preserves the newest batch of every
    * namespace verbatim so this replay-delete keeps working even if a
    * compaction runs between a crash and the recovering restart.
    * CrashRecoverySpec kills a drain between steps (simulated via
    * commit-log truncation) and proves zero duplicate / zero lost
    * event ids across the restart, with and without an interposed
    * compaction, and that a fresh checkpoint cannot destroy an older
    * run's files.
    */
  private[graft] def idempotentAppend(spark: SparkSession, df: DataFrame,
      outPath: String, batchId: Long, ns: String,
      mayReplay: Boolean): Unit = {
    import org.apache.hadoop.fs.Path
    val out = new Path(outPath)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(outPath, s".batch_${ns}_$batchId.tmp")
    fs.delete(tmp, true)
    // committer v2 moves each task's files straight into tmp and skips
    // the job-level rename; `_SUCCESS` is not needed either: tmp itself
    // is the staging area, steps 2-3 are the commit, and a replay
    // deletes a torn tmp first
    df.write.mode("overwrite")
      .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .parquet(tmp.toString)
    if (mayReplay)
      fs.listStatus(out)
        .filter(st => st.isFile &&
          st.getPath.getName.startsWith(s"batch_${ns}_${batchId}_"))
        .foreach(st => fs.delete(st.getPath, false))
    fs.listStatus(tmp)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
      .zipWithIndex.foreach { case (st, i) =>
        val dst = new Path(out, s"batch_${ns}_${batchId}_$i.parquet")
        if (!fs.rename(st.getPath, dst))
          sys.error(s"ingest commit: rename ${st.getPath} -> $dst failed")
      }
    fs.delete(tmp, true)
    ()
  }
}
