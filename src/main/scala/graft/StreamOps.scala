package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types.StructType

import Tables._
import graft.sources.Unified2Fixture
import graft.streaming.{LocalCheckpointFileManager, Spool}

/** Structured Streaming operators (SURVEY.md §2.D). Each `queries`
  * entry drives a real streaming query to completion with
  * Trigger.AvailableNow through ONE executor-side parquet drain
  * ([[drain]] — never the driver-collecting memory sink), so the
  * driver's batch harness can verify streaming semantics; the
  * batch-equivalent oracle SQL checks the result against DuckDB where
  * expressible. An entry states its query, the session confs its drain
  * runs under ([[StatePartitions]], [[NoTrailingBatch]],
  * [[RocksDbProvider]]) and, for a per-batch operator, the transform
  * each micro-batch passes through; only `stream_upsert`, whose batches
  * read the previous store version, runs its own foreachBatch loop.
  *
  * Scale: these are the same plans you'd run unbounded — watermarked
  * window aggregation state, keyed dedup state and per-key session
  * state all live in the state store, partitioned by grouping key.
  */
object StreamOps {


  /** Temp root (checkpoint / per-epoch output) registered for recursive
    * deletion at JVM exit. The entries hand back LAZY reads over these
    * dirs, so deletion can't happen inline after the entry returns —
    * but without cleanup every invocation leaked a graft_stream_* dir
    * for the life of the machine (ADVICE r11). ONE shutdown hook for
    * the whole JVM draining a queue of roots (ADVICE r12: a hook+Thread
    * per call accumulates without bound under bench min-of-k loops, and
    * all the deletions then race each other at exit).
    */
  private val tempRoots =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  private lazy val tempRootHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm)
        f.delete(); ()
      }
      var p = tempRoots.poll()
      while (p != null) { rm(p.toFile); p = tempRoots.poll() }
    }))
  }
  /** Scratch root for drains / checkpoints / versioned upsert stores.
    * Driver-local java.io.tmpdir by DEFAULT — correct under single-JVM
    * local mode, where executor tasks and the driver share one
    * filesystem. On a real multi-node cluster the drained parquet is
    * written BY EXECUTOR TASKS, so the root must live on a filesystem
    * all nodes share: set `graft.stream.scratchRoot` to any Hadoop-FS
    * URI (HDFS, s3a://, a mounted shared volume) and every drain,
    * checkpoint and upsert store lands under it instead (ADVICE r17 —
    * the local default silently reads back nothing if executors wrote
    * to their own local disks).
    */
  private def tempRoot(s: SparkSession, prefix: String): String =
    s.conf.getOption("graft.stream.scratchRoot") match {
      case Some(base) =>
        val p = new org.apache.hadoop.fs.Path(base,
          s"${prefix}_${java.util.UUID.randomUUID().toString.take(8)}")
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.mkdirs(p)
        fs.deleteOnExit(p) // best-effort cleanup when the FS closes
        p.toString
      case None =>
        tempRootHook
        val p = java.nio.file.Files.createTempDirectory(prefix)
        tempRoots.add(p)
        p.toString
    }

  /** Bounded drains over the small verify tables don't need 32 state
    * partitions — per-partition state-store init/commit dominates the
    * micro-batch. Production unbounded jobs size this to the cluster;
    * here each stateful entry drains under this narrower setting.
    */
  private[graft] val StatePartitions = "spark.sql.shuffle.partitions" -> "8"

  /** Skip the trailing NO-DATA micro-batch for entries whose output is
    * provably no-data-batch-invariant (r20, guide §1.2 "don't compute
    * things you throw away"): after the last data batch the engine
    * otherwise runs one more empty batch purely to ratchet the
    * watermark and evict state — measured at sf0.1 as a full extra
    * state-store load/commit cycle (1.2 s of the stream-stream join's
    * 5.3 s wall; 2 batches → 1 with the flag). Safe ONLY when that
    * batch cannot add or change output rows:
    *   - inner stream-stream joins: matches emit eagerly in the data
    *     batch; the no-data batch only evicts state (no new rows).
    *   - Complete-mode aggregations: every batch re-emits the FULL
    *     state snapshot and the drain overwrites — the no-data batch
    *     re-emits byte-identical state.
    * NEVER for append-mode watermarked aggregations or event-time
    * timers (stream_timer_sessions), where the trailing batch is what
    * FLUSHES results.
    */
  private[graft] val NoTrailingBatch =
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"

  /** The RocksDB state store provider: transformWithState needs it
    * (timers keep a second column family), so every transformWithState
    * entry drains under it.
    */
  private[graft] val RocksDbProvider =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `f` with each of `confs` set on the session, then put every
    * key back as it was: a key that was set gets its value again, a
    * key that was not is unset — also when `f` throws.
    */
  private[graft] def withConfs[T](s: SparkSession,
      confs: (String, String)*)(f: => T): T = {
    val set = s.conf.getAll
    val prev = confs.map { case (k, _) => k -> set.get(k) }
    try {
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      f
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Start a streaming query in `start` with `confs` and graft's
    * checkpoint manager ([[LocalCheckpointFileManager.conf]]) set on the
    * session, then put the session back as it was ([[withConfs]]). The
    * query keeps both: it runs on a clone of the session taken when it
    * starts, and builds its offset and commit logs from that clone.
    */
  private[graft] def starting[T](s: SparkSession,
      confs: (String, String)*)(start: => T): T =
    withConfs(s, LocalCheckpointFileManager.conf(s) ++ confs: _*)(start)

  /** Delete `dir` and everything in it. */
  private def deleteDir(s: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }

  /** Parquet written with `schema`, read back with it (parquet makes
    * every field nullable, and so does the reader), so the read runs no
    * schema-inference job. `recursive` reads every file under `path`.
    */
  private def readWritten(s: SparkSession, schema: StructType, path: String,
      recursive: Boolean = false): DataFrame = {
    val r = s.read.schema(schema)
    (if (recursive) r.option("recursiveFileLookup", "true") else r)
      .parquet(path)
  }

  /** Run the bounded streaming DataFrame `df` to completion with
    * Trigger.AvailableNow and return what it emitted: `confs` are set
    * on the session before `start()` and restored once the query has
    * terminated ([[starting]]); `ckpt` is the checkpoint location, if
    * the caller reads the state store afterwards; each micro-batch
    * passes through `perBatch` before it is written.
    *
    * Without `ckpt` the drain checkpoints into a root of its own beside
    * the output root ([[tempRoot]], so under `graft.stream.scratchRoot`
    * when that is set), deleted when the drain returns; Spark's
    * `temporary-*` checkpoint under `java.io.tmpdir` is never used. A
    * local checkpoint is written by [[LocalCheckpointFileManager]]: no
    * Hadoop shell-outs, no `.crc` files and no fsync, unless the
    * session already names a checkpoint manager, which then wins.
    *
    * The drain sink is foreachBatch → parquet ON THE EXECUTORS, not
    * the memory sink: the memory sink collect()s every batch to the
    * driver, which caps the whole streaming surface at
    * spark.driver.maxResultSize — the sf30 full-suite probe (second
    * r17 wave) killed stream_session there (1.17 GiB of closed
    * sessions > the 1 GiB default), the same driver-bound
    * anti-pattern the first r17 wave fixed inside stream_topk. A
    * 100 TB deployment's drained output must stay distributed.
    *
    * Batch-dir layout makes the drain idempotent however the retry
    * falls: Complete mode overwrites ONE snapshot dir per trigger
    * (last trigger wins — exactly the memory-sink Complete
    * semantics); Append/Update write each micro-batch to its own
    * `b<batchId>` dir with overwrite, so a retried batch replaces
    * itself and never duplicates (the memory sink appends batches in
    * both modes). The read-back carries the schema the batches were
    * written with, so it runs no schema-inference job; a drain that
    * ran no batch returns a typed empty relation with the schema
    * `perBatch` gives the query's rows.
    */
  private[graft] def drain(s: SparkSession, df: DataFrame, mode: OutputMode,
      confs: Seq[(String, String)] = Nil, ckpt: Option[String] = None,
      perBatch: DataFrame => DataFrame = identity): DataFrame = {
    val root = tempRoot(s, "graft_drain")
    val written = new AtomicReference[StructType]
    val w = df.writeStream.outputMode(mode).trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        val out = perBatch(batch.toDF())
        written.set(out.schema)
        out.write.mode("overwrite").parquet(
          if (mode == OutputMode.Complete()) s"$root/snap" else s"$root/b$id")
        ()
      }
    // not under root, which is read back recursively
    val checkpoint = ckpt.getOrElse(tempRoot(s, "graft_drain_ckpt"))
    try starting(s, confs: _*) {
      w.option("checkpointLocation", checkpoint).start().awaitTermination()
    } finally if (ckpt.isEmpty) deleteDir(s, checkpoint)
    val schema = Option(written.get).getOrElse(perBatch(
      s.createDataFrame(java.util.Collections.emptyList[Row], df.schema)).schema)
    readWritten(s, schema, root, recursive = true)
  }

  /** events table as a stream (same ts-normalization as Tables.t — all
    * physical encodings land on TimestampType, so watermarks analyze).
    */
  private def eventStream(s: SparkSession, dir: String): DataFrame = {
    // file stream sources take a directory; select the events table
    // out of the sf dir with a glob filter
    val schema = Tables.schema(s, s"$dir/events.parquet")
    val raw = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    Tables.normalizeEventTs(raw)
  }

  // ---- stateful sessionization (flatMapGroupsWithState) ----

  case class SessEv(user_id: Long, event_id: Long, us: Long, value: Double)
  case class Sess(user_id: Long, sess_id: Long, n_events: Long,
      start_us: Long, end_us: Long, sess_value: Double)

  /** Per-key state carried across micro-batches: the still-open session.
    * Value is accumulated as exact cents (each event rounded HALF_UP to
    * 2 decimals, like the oracle's DECIMAL(12,2) sum), so emission order
    * and batch boundaries can't perturb the double result.
    */
  case class OpenSess(sess_id: Long, n_events: Long,
      start_us: Long, end_us: Long, cents: Long)

  private def cents(v: Double): Long =
    (BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100)
      .toLongExact

  /** One flatMapGroupsWithState step: merge this batch's events (sorted
    * in event-time) into the open session from [[GroupState]], EMIT the
    * sessions that a >30-min gap closes, and carry the still-open
    * session (with its running session counter) back into state — so
    * sessions genuinely span micro-batches (ADVICE r1). Requires per-key
    * event-time-ordered batch delivery (true for spool-style sources);
    * late cross-batch events would need watermark+buffer semantics.
    */
  def sessionStep(userId: Long, events: Iterator[SessEv],
      state: GroupState[OpenSess]): Iterator[Sess] = {
    val sorted = events.toSeq.sortBy(e => (e.us, e.event_id))
    if (sorted.isEmpty) Iterator.empty
    else {
      val out = Seq.newBuilder[Sess]
      var open: OpenSess = state.getOption.orNull
      def close(o: OpenSess): Unit =
        out += Sess(userId, o.sess_id, o.n_events, o.start_us, o.end_us,
          o.cents / 100.0)
      sorted.foreach { e =>
        val c = cents(e.value)
        if (open == null)
          open = OpenSess(1L, 1L, e.us, e.us, c)
        else if (e.us - open.end_us > 1800000000L) {
          close(open)
          open = OpenSess(open.sess_id + 1, 1L, e.us, e.us, c)
        } else
          open = open.copy(n_events = open.n_events + 1, end_us = e.us,
            cents = open.cents + c)
      }
      state.update(open)
      out.result().iterator
    }
  }

  case class UserAgg(user_id: Long, n_events: Long, cents: Long)

  /** Spark 4 `transformWithState` processor: per-user running totals in
    * a typed ValueState — the modern arbitrary-state API (successor to
    * flatMapGroupsWithState), demonstrated alongside the legacy one.
    * Each batch emits the UPDATED totals for the keys it touched.
    */
  class TotalsProcessor extends StatefulProcessor[Long, SessEv, UserAgg] {
    @transient private var st: ValueState[UserAgg] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[UserAgg]("totals",
        Encoders.product[UserAgg], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[SessEv],
        tv: TimerValues): Iterator[UserAgg] = {
      var agg = if (st.exists()) st.get() else UserAgg(key, 0L, 0L)
      rows.foreach { e =>
        agg = UserAgg(key, agg.n_events + 1, agg.cents + cents(e.value))
      }
      st.update(agg)
      Iterator.single(agg)
    }
  }

  case class TypeEv(user_id: Long, event_type: String, event_id: Long,
      us: Long)
  case class TypeAgg(user_id: Long, event_type: String, n: Long,
      last_us: Long, last_event_id: Long)

  /** transformWithState with a MapState: one map entry per event type
    * under each user key — the per-key sub-keyed state shape (feature
    * profiles, per-device counters) that a ValueState would force into
    * a read-modify-write of the whole profile. Only the types touched
    * in a batch are read or written.
    */
  class ProfileProcessor extends StatefulProcessor[Long, TypeEv, TypeAgg] {
    @transient private var st: MapState[String, TypeAgg] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getMapState[String, TypeAgg]("profile",
        Encoders.STRING, Encoders.product[TypeAgg], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[TypeEv],
        tv: TimerValues): Iterator[TypeAgg] = {
      // fold the batch locally, one state read + write per touched type;
      // "latest" compares (us, event_id) so arrival order can't matter
      val touched = scala.collection.mutable.LinkedHashMap.empty[String, TypeAgg]
      rows.foreach { e =>
        val cur = touched.get(e.event_type).orElse(
          if (st.containsKey(e.event_type)) Some(st.getValue(e.event_type))
          else None)
        val next = cur match {
          case Some(a) =>
            val later = e.us > a.last_us ||
              (e.us == a.last_us && e.event_id > a.last_event_id)
            TypeAgg(key, e.event_type, a.n + 1,
              if (later) e.us else a.last_us,
              if (later) e.event_id else a.last_event_id)
          case None => TypeAgg(key, e.event_type, 1L, e.us, e.event_id)
        }
        touched(e.event_type) = next
      }
      touched.foreach { case (t, a) => st.updateValue(t, a) }
      touched.valuesIterator.toSeq.iterator
    }
  }

  case class RecentOut(user_id: Long, n_seen: Long, r1: Option[Long],
      r2: Option[Long], r3: Option[Long])

  /** transformWithState with a LIST STATE (+ a ValueState counter —
    * two states in one processor): the bounded recent-events buffer
    * every feature store keeps per key. The buffer holds the top-3
    * events by (us, event_id) — an order-independent criterion, so
    * micro-batch boundaries and per-batch row order can't change the
    * result; n_seen grows monotonically for the Update-mode final
    * reduce.
    */
  class RecentProcessor extends StatefulProcessor[Long, SessEv, RecentOut] {
    @transient private var buf: ListState[SessEv] = _
    @transient private var n: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[SessEv]("recent",
        Encoders.product[SessEv], TTLConfig.NONE)
      n = getHandle.getValueState[Long]("n_seen",
        Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[SessEv],
        tv: TimerValues): Iterator[RecentOut] = {
      val fresh = rows.toSeq
      val top = (buf.get().toSeq ++ fresh)
        .sortBy(e => (-e.us, -e.event_id)).take(3)
      buf.put(top.toArray)
      val seen = (if (n.exists()) n.get() else 0L) + fresh.size
      n.update(seen)
      val ids = top.map(_.event_id)
      Iterator.single(RecentOut(key, seen,
        ids.headOption, ids.lift(1), ids.lift(2)))
    }
  }

  case class TimerEv(user_id: Long, event_id: Long, us: Long,
      ts: java.sql.Timestamp)
  case class TimerSess(user_id: Long, start_us: Long, end_us: Long,
      n_events: Long)

  /** transformWithState with EVENT-TIME TIMERS: the open session per
    * user closes either when a later event exceeds the gap (in-batch)
    * or when the WATERMARK passes end + gap (timer fires) — the
    * streaming-native session close that needs no subsequent event.
    * Timers are never deleted: session expiries only move forward, so
    * a stale timer always fires strictly before the live one and the
    * `expiryMs(open) <= fired` guard discards it.
    */
  class TimerSessProcessor(gapUs: Long)
      extends StatefulProcessor[Long, TimerEv, TimerSess] {
    @transient private var st: ValueState[TimerSess] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[TimerSess]("open",
        Encoders.product[TimerSess], TTLConfig.NONE)
    // ceil to ms: the timer may only fire once the ms-truncated
    // watermark PROVABLY covers the µs expiry
    private def expiryMs(sess: TimerSess): Long =
      (sess.end_us + gapUs + 999) / 1000
    override def handleInputRows(key: Long, rows: Iterator[TimerEv],
        tv: TimerValues): Iterator[TimerSess] = {
      val evs = rows.toSeq.sortBy(e => (e.us, e.event_id))
      val out = Seq.newBuilder[TimerSess]
      var open = if (st.exists()) Some(st.get()) else None
      evs.foreach { e =>
        open match {
          case Some(sess) if e.us - sess.end_us < gapUs =>
            open = Some(sess.copy(end_us = math.max(sess.end_us, e.us),
              n_events = sess.n_events + 1))
          case Some(sess) =>
            out += sess
            open = Some(TimerSess(key, e.us, e.us, 1L))
          case None =>
            open = Some(TimerSess(key, e.us, e.us, 1L))
        }
      }
      open.foreach { sess =>
        st.update(sess)
        getHandle.registerTimer(expiryMs(sess))
      }
      out.result().iterator
    }
    override def handleExpiredTimer(key: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[TimerSess] =
      if (st.exists()) {
        val sess = st.get()
        if (expiryMs(sess) <= info.getExpiryTimeInMs) {
          st.clear()
          Iterator.single(sess)
        } else Iterator.empty
      } else Iterator.empty
  }

  /** Newest row per user_id under the (us, event_id) total order —
    * the associative merge step of the `stream_upsert` store (same
    * narrow schema in and out, so batches chain).
    */
  def upsertCompact(df: DataFrame): DataFrame =
    df.groupBy(col("user_id"))
      .agg(max(struct(col("us"), col("event_id"), col("event_type")))
        .as("m"))
      .select(col("user_id"), col("m.us").as("us"),
        col("m.event_id").as("event_id"),
        col("m.event_type").as("event_type"))

  private[graft] val TimerSessGapUs = 1800000000L

  /** stream_timer_sessions body, factored so Round17Spec can drain the
    * SAME pipeline with a checkpoint and audit the resident RocksDB
    * state per micro-batch (VERDICT r16 #6: the session-state remedy
    * must demonstrably BOUND state to open sessions — eviction by
    * fired timers — not merely reproduce the output). Returns the
    * drained closed sessions plus the checkpoint dir when requested;
    * the bench entry runs un-checkpointed, exactly the r16 plan. Both
    * forms are one [[drain]] call, differing only in its `ckpt`.
    */
  private[graft] def timerSessionsDrain(s: SparkSession, dir: String,
      checkpointed: Boolean): (DataFrame, Option[String]) =
    timerSessStream(s, timerSessPrep(s, dir), checkpointed)

  /** Source-prep stage of [[timerSessionsDrain]], factored so prep /
    * stream / read-back can be timed independently
    * (VERDICT r17 #3): write the events as 4 time-ordered bucket
    * files (each bucket must stay ONE file, because with
    * maxFilesPerTrigger=1 a bucket split across unordered files would
    * let the watermark pass an unread file and drop its rows as
    * late). Returns the bucket-file root.
    *
    * The file source orders batches by file MTIME, and the entry's
    * correctness contract needs that order to be the bucket order —
    * sequential appends give it for free on millisecond-mtime
    * filesystems, but `graft.stream.scratchRoot` may point at a store
    * with coarse (1 s) timestamps (s3a), where tied mtimes could
    * reorder buckets and silently drop their rows as late (ADVICE
    * r18). So the order is ENFORCED, not assumed: after each bucket
    * lands, its part file's mtime is pushed ≥ 2 s past the previous
    * bucket's via FileSystem.setTimes, and the write-back is VERIFIED
    * by re-reading the status — a store that ignores setTimes (the
    * base-FileSystem no-op) and happened to produce a tie fails loud
    * here, at prep, instead of dropping rows downstream.
    */
  private[graft] def timerSessPrep(s: SparkSession, dir: String,
      buckets: Int = 4): String = {
    val root = tempRoot(s, "graft_timer_sess")
    val ev = t(s, dir, "events").select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("us"))
    val Array(lo, hi) = ev.agg(min(col("us")), max(col("us")))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val span = hi - lo + 1
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    // r21 (guide §1.2: one pass, not K): the K sequential
    // filter+coalesce(1) writes each rescanned events (K+1 scans of
    // the table per prep). Now ONE scan assigns the bucket index via
    // the SAME literal boundaries (CASE over lo + span·i/buckets —
    // bitwise-identical bucket membership), one hash exchange lands
    // each bucket in exactly one task (hash partitioning puts every
    // bucket VALUE in one partition, so partitionBy still writes one
    // file per bucket; a collision just makes one task write two
    // files), and the part files are then MOVED up under the root in
    // bucket order under the unchanged enforced-mtime contract
    // (rename preserves content; the setTimes push + verify below is
    // the same loud check as before).
    val bounds = (0 to buckets).map(i => lo + span * i / buckets)
    // reduceRight: each .otherwise() lands on a bare when() column
    // (left-assoc reduce would re-otherwise a completed CASE and throw)
    val bucketCol = (0 until buckets).map { i =>
        when(col("us") >= bounds(i) && col("us") < bounds(i + 1), lit(i))
      }.reduceRight((a, b) => a.otherwise(b))
    val staged = s"$root/_staged"
    ev.withColumn("bucket", bucketCol)
      .repartition(buckets, col("bucket"))
      .write.partitionBy("bucket").parquet(staged)
    var lastMtime = 0L
    (0 until buckets).foreach { i =>
      val bdir = new org.apache.hadoop.fs.Path(s"$staged/bucket=$i")
      // an EMPTY bucket gets no staged dir — write its empty (but
      // present) file the old way so the drain sees the same K files
      if (!fs.exists(bdir))
        ev.filter(lit(false)).coalesce(1)
          .write.mode("overwrite").parquet(bdir.toString)
      val parts = fs.listStatus(bdir)
        .filter(_.getPath.getName.startsWith("part-"))
        .sortBy(_.getPath.getName)
      parts.foreach { st =>
        // bucket-prefixed target name: one write job reuses part
        // numbers across partition dirs, so flat names could collide
        val dst = new org.apache.hadoop.fs.Path(root,
          s"b$i-${st.getPath.getName}")
        if (!fs.rename(st.getPath, dst))
          throw new IllegalStateException(
            s"timerSessPrep: rename ${st.getPath} -> $dst failed")
        val want = math.max(fs.getFileStatus(dst).getModificationTime,
          lastMtime + 2000L)
        try fs.setTimes(dst, want, -1L)
        catch { case scala.util.control.NonFatal(_) => () }
        val actual = fs.getFileStatus(dst).getModificationTime
        if (i > 0 && actual <= lastMtime)
          throw new IllegalStateException(
            s"timerSessPrep: bucket $i part ${dst.getName} has " +
              s"mtime $actual <= previous bucket's $lastMtime and the " +
              "filesystem did not honor setTimes — the file source " +
              "would replay buckets out of order and drop rows as " +
              "late. Point graft.stream.scratchRoot at a filesystem " +
              "with millisecond mtimes or working setTimes (local, " +
              "HDFS).")
        lastMtime = actual
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(staged), true)
    root
  }

  /** Stream stage of [[timerSessionsDrain]]: drive the event-time
    * timer sessionization over the prepared bucket files to
    * completion through [[drain]], under [[RocksDbProvider]] (timers
    * keep a second column family) and [[StatePartitions]], with a
    * fresh checkpoint when `checkpointed`; the returned frame is the
    * LAZY drained read-back.
    */
  private[graft] def timerSessStream(s: SparkSession, root: String,
      checkpointed: Boolean): (DataFrame, Option[String]) = {
    import s.implicits._
    val stream = s.readStream
      .schema("user_id BIGINT, event_id BIGINT, us BIGINT")
      .option("maxFilesPerTrigger", "1").parquet(root)
      .withColumn("ts", timestamp_micros(col("us")))
      .withWatermark("ts", "0 seconds")
      .as[TimerEv]
    val sessions = stream.groupByKey(_.user_id)
      .transformWithState(new TimerSessProcessor(TimerSessGapUs),
        TimeMode.EventTime(), OutputMode.Append())
    val ckpt = if (checkpointed) Some(tempRoot(s, "graft_ckpt")) else None
    (drain(s, sessions.toDF(), OutputMode.Append(),
      Seq(RocksDbProvider, StatePartitions), ckpt), ckpt)
  }

  /** Resident "open"-session state rows of a [[timerSessionsDrain]]
    * checkpoint, via the state data source — latest version, or as of
    * the end of `batchId`. One row per user whose session the timers
    * have NOT yet closed: the relation the state-size bounding spec
    * counts per batch.
    */
  private[graft] def timerOpenState(s: SparkSession, checkpoint: String,
      batchId: Option[Long] = None): DataFrame = {
    val r = s.read.format("statestore").option("path", checkpoint)
      .option("stateVarName", "open")
    batchId.fold(r)(b => r.option("batchId", b.toString)).load()
  }

  /** The open sessions left in the state store after a bounded drain,
    * read back via Spark's state data source — the streaming-native way
    * to flush tail sessions when the source is known exhausted.
    */
  def openSessions(s: SparkSession, checkpoint: String): DataFrame =
    s.read.format("statestore").option("path", checkpoint).load()
      .select(col("key.value").as("user_id"),
        col("value.groupState.sess_id"), col("value.groupState.n_events"),
        col("value.groupState.start_us"), col("value.groupState.end_us"),
        (col("value.groupState.cents").cast("double") / 100.0)
          .as("sess_value"))

  /** The event stream as [[SessEv]] (user, event, µs, value). */
  private def sessEvents(s: SparkSession, dir: String): Dataset[SessEv] = {
    import s.implicits._
    eventStream(s, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"), col("value"))
      .as[SessEv]
  }

  /** Drain a spool record stream (u2_stream, u2_tail) to its verify
    * projection. The basename only: stream sources differ from the
    * batch scan in path prefix (file:), not identity — the oracle
    * walks copies.
    */
  private def drainSpoolRecords(s: SparkSession, recs: DataFrame): DataFrame =
    drain(s, recs.select(col("sensor"),
        substring_index(col("src_file"), "/", -1).as("src_file"),
        col("rec_index"), col("rec_type"), col("event_id"),
        col("signature_id")), OutputMode.Append())
      .orderBy(col("src_file"), col("rec_index"))

  /** The SQL re-parse of the raw fixture spool both spool streams
    * equal (the reduced u2_parse oracle: framing walk + event / packet
    * / extra ids).
    */
  private val spoolReparseSql: String =
    s"""${OracleDumps.H2iMacro}
        WITH RECURSIVE
        f AS (SELECT parse_filename(filename) AS src_file,
            hex(content) AS h,
            CAST(octet_length(content) AS BIGINT) AS nb
          FROM read_blob('${SnortOps.oracleBaseDir}/raw_spool/*')),
        walk AS (
          SELECT src_file, h, nb, CAST(0 AS BIGINT) AS off,
              CAST(-1 AS BIGINT) AS idx, CAST(NULL AS BIGINT) AS rtype,
              CAST(NULL AS BIGINT) AS boff
            FROM f
          UNION ALL
          SELECT src_file, h, nb, off + 8 + h2i(h, 2*(off+4)+1, 8),
              idx + 1, h2i(h, 2*off+1, 8), off + 8
            FROM walk
            WHERE nb - off >= 8
              AND h2i(h, 2*(off+4)+1, 8) < 2147483648
              AND nb - off - 8 >= h2i(h, 2*(off+4)+1, 8)),
        recs AS (SELECT src_file, h, idx, rtype, 2*boff+1 AS pb
          FROM walk WHERE idx >= 0)
        SELECT 'sensor1' AS sensor, src_file, CAST(idx AS INT) AS rec_index,
          CAST(rtype AS INT) AS rec_type,
          CASE WHEN rtype IN (7, 72, 104, 105, 2) THEN h2i(h, pb+8, 8)
               WHEN rtype = 110 THEN h2i(h, pb+24, 8) END AS event_id,
          CASE WHEN rtype IN (7, 72, 104, 105)
               THEN h2i(h, pb+32, 8) END AS signature_id
        FROM recs ORDER BY src_file, rec_index"""

  val entries: Seq[Entry] = Seq(
    Entry(
      "stream_window_agg",
      // Tumbling 1-hour windows over the event stream; Complete mode +
      // AvailableNow drains the bounded source. Oracle: the equivalent
      // batch aggregation by date_trunc('hour').
      (s, dir) => {
        val agg = eventStream(s, dir)
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(dec(col("value"))).as("total_dec"))
        // Complete mode: every batch re-emits the full snapshot, so
        // the trailing no-data batch is byte-identical — skip it (r20)
        drain(s, agg, OutputMode.Complete(),
            Seq(StatePartitions, NoTrailingBatch))
          .select(
            date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
            col("event_type"), col("n"),
            col("total_dec").cast("double").as("total"))
          .orderBy(col("hour"), col("event_type"))
      },
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        event_type, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        FROM events GROUP BY 1, 2 ORDER BY hour, event_type""")),

    Entry(
      "stream_drift",
      // Streaming drift monitor — dq_drift's ingest-side twin: the
      // incoming stream's event_type distribution (odd event_ids, the
      // "new drop") against the accepted static baseline (even ids),
      // as total-variation distance in the same cross-multiplied
      // integer form (per-bin BIGINTs, one final IEEE division — no
      // ln, no dumped table). The stream side is one Complete-mode
      // count per type (bins are the handful of event types, so
      // Complete state is bounded by the DIMENSION, not the stream);
      // the TVD assembly is batch post-processing on the drained
      // counts — the alert a pipeline raises before accepting a shard.
      (s, dir) => {
        val cnt = eventStream(s, dir)
          .filter(col("event_id") % 2 === 1)
          .groupBy(col("event_type")).agg(count(lit(1)).as("cb"))
        // Complete mode re-emits the identical snapshot in the trailing
        // no-data batch — skip it (r21; same rule as stream_window_agg)
        val drained = drain(s, cnt, OutputMode.Complete(),
          Seq(StatePartitions, NoTrailingBatch))
        val base = t(s, dir, "events")
          .filter(col("event_id") % 2 === 0)
          .groupBy(col("event_type")).agg(count(lit(1)).as("ca"))
        val bins = base.join(drained, Seq("event_type"), "full_outer")
          .select(coalesce(col("ca"), lit(0L)).as("ca"),
            coalesce(col("cb"), lit(0L)).as("cb"))
        bins.crossJoin(broadcast(
            bins.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))))
          .agg(sum(abs(col("ca") * col("nb") - col("cb") * col("na")))
              .as("num"),
            first(col("na")).as("na"), first(col("nb")).as("nb"))
          .select(lit("event_type").as("dim"), col("na"), col("nb"),
            col("num"),
            (col("num").cast("double") /
              (lit(2.0) * col("na") * col("nb"))).as("tvd"))
      },
      Some("""WITH e AS (SELECT event_type, event_id % 2 AS p
          FROM events),
        b AS (SELECT event_type,
            COUNT(*) FILTER (WHERE p = 0) AS ca,
            COUNT(*) FILTER (WHERE p = 1) AS cb
          FROM e GROUP BY event_type),
        t AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
            CAST(SUM(cb) AS BIGINT) AS nb FROM b),
        r AS (SELECT t.na, t.nb,
            CAST(SUM(ABS(b.ca * t.nb - b.cb * t.na)) AS BIGINT) AS num
          FROM b, t GROUP BY t.na, t.nb)
        SELECT 'event_type' AS dim, na, nb, num,
          CAST(num AS DOUBLE) / (2.0 * na * nb) AS tvd
        FROM r ORDER BY dim""")),

    Entry(
      "stream_dedup",
      // Keyed streaming dedup: first occurrence per (user_id,
      // event_type) — batch-equivalent DISTINCT on the key set.
      (s, dir) => {
        val dd = eventStream(s, dir)
          .select(col("user_id"), col("event_type"))
          .dropDuplicates("user_id", "event_type")
        drain(s, dd, OutputMode.Append(), Seq(StatePartitions))
          .orderBy(col("user_id"), col("event_type"))
      },
      Some("""SELECT DISTINCT user_id, event_type FROM events
        ORDER BY user_id, event_type""")),

    Entry(
      "stream_session",
      // Custom stateful operator: flatMapGroupsWithState session
      // windows (30-min gap), keyed by user, with the OPEN session (and
      // its session counter) carried across micro-batches in GroupState.
      // Closed sessions stream out in Append mode; after the bounded
      // drain the still-open tail sessions are recovered from the
      // checkpoint via the state data source. Oracled against the SAME
      // SQL as the batch sessionization (q27) — the streaming operator
      // must reproduce the declarative result exactly.
      (s, dir) => {
        import s.implicits._
        val evs = sessEvents(s, dir)
        val sessions = evs.groupByKey(_.user_id)
          .flatMapGroupsWithState(OutputMode.Append,
            GroupStateTimeout.NoTimeout)(sessionStep _)
        val ckpt = tempRoot(s, "graft_ckpt")
        drain(s, sessions.toDF(), OutputMode.Append(), Seq(StatePartitions),
            Some(ckpt))
          .unionByName(openSessions(s, ckpt))
          .orderBy(col("user_id"), col("sess_id"))
      },
      Some(Analytics.sessionizeOracleSql)),

    Entry(
      "stream_stream_join",
      // Watermarked stream-stream interval join: purchases joined to
      // the same user's signups within the preceding hour. State on
      // both sides is bounded by the watermark + time-range condition;
      // the drained result equals the batch interval join (the oracle).
      (s, dir) => {
        // one file-stream source, two filtered branches (stream-stream
        // SELF-join) — halves the source scans vs two readers
        val ev = eventStream(s, dir)
        val p = ev
          .filter(col("event_type") === "purchase")
          .withWatermark("ts", "1 hour")
          .select(col("event_id"), col("user_id"), col("ts"))
        val sg = ev
          .filter(col("event_type") === "signup")
          .withWatermark("ts", "1 hour")
          .select(col("event_id").as("s_event_id"),
            col("user_id").as("s_user_id"), col("ts").as("s_ts"))
        val joined = p.join(sg,
          col("user_id") === col("s_user_id") &&
            col("s_ts") >= col("ts") - expr("INTERVAL 1 HOUR") &&
            col("s_ts") <= col("ts"))
        // inner join: matches emit in the data batch; the trailing
        // no-data batch only evicts state — skip it (r20)
        drain(s, joined, OutputMode.Append(),
            Seq(StatePartitions, NoTrailingBatch))
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("p_us"),
            col("s_event_id"), unix_micros(col("s_ts")).as("s_us"))
          .orderBy(col("event_id"), col("s_event_id"))
      },
      Some("""SELECT p.event_id, p.user_id, epoch_us(p.ts) AS p_us,
        s.event_id AS s_event_id, epoch_us(s.ts) AS s_us
        FROM (SELECT * FROM events WHERE event_type='purchase') p
        JOIN (SELECT * FROM events WHERE event_type='signup') s
        ON p.user_id = s.user_id
          AND s.ts >= p.ts - INTERVAL 1 HOUR AND s.ts <= p.ts
        ORDER BY p.event_id, s.event_id""")),

    Entry(
      "stream_lm_score",
      // Streaming corpus quality filter: documents arrive as a file
      // stream and are scored against the BATCH-trained bigram LM via
      // a STREAM-STATIC join — the deployment shape of a perplexity
      // filter in an ingest pipeline (model trained offline on the
      // reference corpus, applied to every incoming shard; at 100 TB
      // the static side is a parquet model store partitioned on the
      // bigram key, and the stateless join scales with the stream).
      // Complete-mode doc_id aggregation + AvailableNow drain ==> the
      // drained result equals batch text_lm_score exactly, so the SAME
      // dumped-model oracle applies (position-ordered fold and all).
      (s, dir) => {
        val model = TextOps.lmModel(s, dir)
        val schema = Tables.schema(s, s"$dir/documents.parquet")
        val docs = s.readStream.schema(schema)
          .option("pathGlobFilter", "documents.parquet").parquet(dir)
          .select(col("doc_id"), col("text"))
        val scored = TextOps.lmScore(TextOps.lmBigrams(docs), model)
        // Complete mode re-emits the identical snapshot in the trailing
        // no-data batch — skip it (r21; same rule as stream_window_agg).
        // Complete→Update was considered (VERDICT r20 #5) and REJECTED:
        // with the no-data batch skipped and a single-file AvailableNow
        // drain (one data batch), Update does identical work, and its
        // generality under batch splits would require a latest-per-key
        // readback (a doc's row re-emits in every batch that changes
        // it, and the drain reads back ALL per-batch dirs).
        drain(s, scored, OutputMode.Complete(),
            Seq(StatePartitions, NoTrailingBatch))
          .orderBy(col("doc_id"))
      },
      Some(TextOps.lmOracleSql)),

    Entry(
      "stream_classify",
      // Streaming deployment of the learned quality classifier — the
      // ingest-side twin of text_classify, the way stream_lm_score
      // twins text_lm_score: weights train offline (session-cached,
      // batch side), and the scorer rides the stream as a PURE
      // STATELESS PROJECTION (the weight vector is a plan literal, so
      // each micro-batch scores locally — no stream-static join, no
      // state store, no watermark; the cheapest possible streaming
      // operator shape, and the reason a fasttext-style filter is the
      // first gate a 100 TB ingest pipeline runs). Append-mode drain
      // of the file stream == the batch projection row-for-row, so
      // the SAME dumped-vocab oracle gates both.
      (s, dir) => {
        val w = TextOps.classifyWeights(s, dir)
        val schema = Tables.schema(s, s"$dir/documents.parquet")
        val docs = s.readStream.schema(schema)
          .option("pathGlobFilter", "documents.parquet").parquet(dir)
          .select(col("doc_id"), col("text"))
        drain(s, TextOps.classifyProjection(docs, w), OutputMode.Append())
          .orderBy(col("doc_id"))
      },
      Some(TextOps.classifyOracleSql)),

    Entry(
      "u2_stream",
      // Unified2 spool follow as a stream: AvailableNow drain of the
      // fixture spool through the streaming parser. SpoolStreamSpec
      // exercises the checkpoint-resume ("bookmark") behavior.
      (s, _) => {
        val spool = Unified2Fixture.writeSpool(
          s"${Unified2Fixture.defaultRoot()}/spool")
        drainSpoolRecords(s,
          Spool.streamRecords(s, Seq(spool), "snort.log", "sensor1"))
      },
      // streamed records == the SQL re-parse of the raw spool (the
      // reduced u2_parse oracle: framing walk + event/packet/extra ids)
      Some(spoolReparseSql)),

    Entry(
      "stream_tws_totals",
      // transformWithState (Spark 4 arbitrary-state API) running per-
      // user totals; requires the RocksDB state store provider. The
      // bounded drain emits one updated row per user — equal to the
      // batch grouped aggregate (the oracle).
      (s, dir) => {
        import s.implicits._
        val totals = sessEvents(s, dir).groupByKey(_.user_id)
          .transformWithState(new TotalsProcessor,
            TimeMode.None(), OutputMode.Update())
        // Update-mode sinks keep one row per key PER micro-batch; if
        // the drain ever splits into several batches, reduce to the
        // final update per user — n_events grows monotonically with
        // each update, so max(struct(n_events, cents)) is the last
        // one (ADVICE r2).
        drain(s, totals.toDF(), OutputMode.Update(),
            Seq(RocksDbProvider, StatePartitions))
          .groupBy(col("user_id"))
          .agg(max(struct(col("n_events"), col("cents"))).as("last"))
          .select(col("user_id"), col("last.n_events").as("n_events"),
            (col("last.cents").cast("double") / 100.0).as("total"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        FROM events GROUP BY user_id ORDER BY user_id""")),

    Entry(
      "stream_latest_profile",
      // transformWithState MapState per-user profile: per event type a
      // (count, latest event) entry maintained incrementally — the
      // streaming-native form of q59's latest-per-key compaction, with
      // sub-keyed state so a batch touches only the types it saw.
      // Oracle: the batch grouped aggregate with arg_max.
      (s, dir) => {
        import s.implicits._
        val evs: Dataset[TypeEv] = eventStream(s, dir)
          .select(col("user_id"), col("event_type"), col("event_id"),
            unix_micros(col("ts").cast("timestamp")).as("us"))
          .as[TypeEv]
        val prof = evs.groupByKey(_.user_id)
          .transformWithState(new ProfileProcessor,
            TimeMode.None(), OutputMode.Update())
        // Update-mode sink keeps one row per (user, type) PER batch;
        // n grows monotonically, so max(struct(...)) is the final one
        drain(s, prof.toDF(), OutputMode.Update(),
            Seq(RocksDbProvider, StatePartitions))
          .groupBy(col("user_id"), col("event_type"))
          .agg(max(struct(col("n"), col("last_us"), col("last_event_id")))
            .as("last"))
          .select(col("user_id"), col("event_type"),
            col("last.n").as("n"),
            col("last.last_event_id").as("last_event_id"),
            col("last.last_us").as("last_us"))
          .orderBy(col("user_id"), col("event_type"))
      },
      Some("""SELECT user_id, event_type, COUNT(*) AS n,
        arg_max(event_id, epoch_us(ts)) AS last_event_id,
        MAX(epoch_us(ts)) AS last_us
        FROM events GROUP BY 1, 2 ORDER BY user_id, event_type""")),

    Entry(
      "stream_recent_events",
      // transformWithState LIST STATE: bounded top-3 recent-events
      // buffer per user (+ ValueState total counter) — the feature-
      // store "last N interactions" shape. Selection by (us, event_id)
      // is order-independent, so the streamed result equals the batch
      // window rank (the oracle) regardless of batching.
      (s, dir) => {
        import s.implicits._
        val recent = sessEvents(s, dir).groupByKey(_.user_id)
          .transformWithState(new RecentProcessor,
            TimeMode.None(), OutputMode.Update())
        drain(s, recent.toDF(), OutputMode.Update(),
            Seq(RocksDbProvider, StatePartitions))
          .groupBy(col("user_id"))
          .agg(max(struct(col("n_seen"), col("r1"), col("r2"),
            col("r3"))).as("last"))
          .select(col("user_id"), col("last.n_seen").as("n_seen"),
            col("last.r1").as("r1"), col("last.r2").as("r2"),
            col("last.r3").as("r3"))
          .orderBy(col("user_id"))
      },
      Some("""WITH r AS (SELECT user_id, event_id,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY epoch_us(ts) DESC, event_id DESC) AS rk
          FROM events),
        a AS (SELECT user_id, COUNT(*) AS n_seen FROM events
          GROUP BY 1)
        SELECT a.user_id, a.n_seen,
          MAX(CASE WHEN rk = 1 THEN event_id END) AS r1,
          MAX(CASE WHEN rk = 2 THEN event_id END) AS r2,
          MAX(CASE WHEN rk = 3 THEN event_id END) AS r3
        FROM a JOIN r USING (user_id)
        GROUP BY a.user_id, a.n_seen ORDER BY a.user_id""")),

    Entry(
      "stream_timer_sessions",
      // Event-time-TIMER sessionization (completes the
      // transformWithState surface: ValueState ✓ MapState ✓ timers ✓):
      // sessions close when the watermark passes end + gap, with no
      // need for a subsequent event. The drain feeds 4 time-ordered
      // bucket files one per micro-batch (sequential appends →
      // increasing mtimes → in-order file-source batches), so the
      // watermark ratchets 4 times and fires the timers of every
      // session except those ending within one gap of the stream max.
      // The oracle replays the same rule declaratively — including the
      // ms-truncation of Spark's watermark clock, matched exactly with
      // integer arithmetic on both sides.
      (s, dir) => timerSessionsDrain(s, dir, checkpointed = false)._1
        .orderBy(col("user_id"), col("start_us")),
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us
          FROM events),
        s AS (SELECT *, CASE WHEN LAG(us) OVER w IS NULL
              OR us - LAG(us) OVER w >= 1800000000 THEN 1 ELSE 0 END
            AS new_sess
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        t AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
            ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sess_id
          FROM s),
        sess AS (SELECT user_id, sess_id, MIN(us) AS start_us,
            MAX(us) AS end_us, COUNT(*) AS n_events
          FROM t GROUP BY 1, 2),
        sl AS (SELECT *, MAX(sess_id) OVER (PARTITION BY user_id)
            AS last_id FROM sess),
        mx AS (SELECT MAX(us) AS mu FROM e)
        SELECT user_id, start_us, end_us, n_events
        FROM sl, mx
        WHERE sess_id < last_id
          OR (end_us + 1800000000 + 999) // 1000 <= mu // 1000
        ORDER BY user_id, start_us""")),

    Entry(
      "stream_upsert",
      // foreachBatch keyed-upsert sink: each micro-batch MERGEs its
      // newest-per-key rows into a versioned parquet store (read
      // store vN ∪ batch → compact → write vN+1) — the exactly-once
      // CDC-compaction pattern you'd run with MERGE INTO on a real
      // table format; raw-parquet versioning keeps the per-batch
      // write idempotent. The merge is an associative struct-max, so
      // the final store equals the batch latest-per-key regardless of
      // how the drain splits into micro-batches (the oracle).
      (s, dir) => {
        val root = tempRoot(s, "graft_upsert")
        val evs = eventStream(s, dir).select(
          col("user_id"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("us"),
          col("event_type"))
        val version = new AtomicInteger(0)
        val schema = new AtomicReference[StructType]
        val ckpt = s"$root/ckpt"
        starting(s) {
          evs.writeStream
            .foreachBatch { (batch: Dataset[Row], _: Long) =>
              val v = version.get()
              val prev =
                if (v == 0) batch.toDF().limit(0)
                else readWritten(s, schema.get, s"$root/v$v")
              val next = upsertCompact(prev.unionByName(batch.toDF()))
              schema.set(next.schema)
              next.write.mode("overwrite").parquet(s"$root/v${v + 1}")
              version.incrementAndGet()
              ()
            }
            .option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow()).start()
        }.awaitTermination()
        deleteDir(s, ckpt)
        readWritten(s, schema.get, s"$root/v${version.get()}")
          .select(col("user_id"), col("us").as("last_us"),
            col("event_id").as("last_event_id"),
            col("event_type").as("last_event_type"))
          .orderBy(col("user_id"))
      },
      Some("""WITH r AS (SELECT user_id, epoch_us(ts) AS us, event_id,
          event_type, ROW_NUMBER() OVER (PARTITION BY user_id
            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        FROM events)
        SELECT user_id, us AS last_us, event_id AS last_event_id,
          event_type AS last_event_type
        FROM r WHERE rn = 1 ORDER BY user_id""")),

    Entry(
      "u2_tail",
      // Tailing DSv2 spool source (graft.streaming.SpoolTail): per-file
      // BYTE-OFFSET bookmarks in the offset log, so the active file
      // snort is still appending is followed across micro-batches —
      // the reference's record-level bookmark semantics, which the
      // built-in once-per-file source can't express. SpoolTailSpec
      // proves torn-tail handling, mid-file growth and restart resume.
      (s, _) => {
        val spool = Unified2Fixture.writeSpool(
          s"${Unified2Fixture.defaultRoot()}/spool")
        drainSpoolRecords(s, graft.streaming.SpoolTail.streamRecords(
          s, Seq(spool), "snort.log", "sensor1"))
      },
      // byte-offset-bookmark tail == the same SQL re-parse
      Some(spoolReparseSql)),

    Entry(
      "stream_topk",
      // Streaming daily top-k: watermarked daily (user, day) counts
      // drain in Complete mode; TopKAgg (q57's map-side-combine
      // aggregate) picks the 3 most active users per day from the
      // windowed state — the "trending entities" pattern without a
      // global sort. The rank reduction runs INSIDE foreachBatch, so
      // each trigger's complete state collapses to days×3 rows ON THE
      // EXECUTORS and only that sliver is ever written out: the first
      // full-suite sf30 probe (r17) killed the previous memory-sink
      // form on spark.driver.maxResultSize — Complete mode was
      // shipping the whole ~30 M-row (day, user) state to the driver
      // every trigger, the exact driver-bound anti-pattern a 100 TB
      // deployment cannot contain. Oracle: the batch ranked-window
      // equivalent.
      (s, dir) => {
        import org.apache.spark.sql.graft.DatasetBridge
        val perUser = eventStream(s, dir)
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 day"), col("user_id"))
          .agg(count(lit(1)).as("n"))
        val topk = DatasetBridge.column(graft.functions.TopKAgg(
          DatasetBridge.expression(col("n").cast("double")),
          DatasetBridge.expression(col("user_id")), 3)
          .toAggregateExpression())
        def reduce(df: DataFrame): DataFrame = df.select(
            date_format(col("window.start"), "yyyy-MM-dd").as("day"),
            col("user_id"), col("n"))
          .groupBy(col("day"))
          .agg(topk.as("top"))
          .select(col("day"), posexplode(col("top")).as(Seq("pos", "e")))
          .select(col("day"), (col("pos") + 1).cast("bigint").as("rnk"),
            col("e.key").as("user_id"), col("e.ord").cast("bigint").as("n"))
        // Complete mode re-emits the FULL state each trigger, so
        // overwriting with the latest reduction is exactly-once correct
        // however the drain splits into micro-batches; the trailing
        // no-data batch re-emits the same full snapshot the last data
        // batch already reduced — skip it
        drain(s, perUser, OutputMode.Complete(),
            Seq(StatePartitions, NoTrailingBatch),
            perBatch = b => reduce(b).coalesce(1))
          .orderBy(col("day"), col("rnk"))
      },
      Some("""SELECT day, rnk, user_id, n FROM (
          SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
            user_id, COUNT(*) AS n,
            ROW_NUMBER() OVER (PARTITION BY date_trunc('day', ts)
              ORDER BY COUNT(*) DESC, user_id) AS rnk
          FROM events GROUP BY date_trunc('day', ts), user_id)
        WHERE rnk <= 3 ORDER BY day, rnk""")),

    Entry(
      "stream_knn",
      // Streaming ANN serving: incoming query vectors (a bounded file
      // stream over the embeddings table, vec_id < 32 as the simulated
      // query traffic) probe the STANDING persisted IVF index — the
      // same cell-partitioned store knn_ivf_persist builds — inside
      // foreachBatch. Per micro-batch: centroids (KBs) broadcast to
      // route each query to its 4 nearest cells, then ONLY those
      // cells' assignment partitions are scanned (partition pruning =
      // the on-disk posting lists) and TopKAgg picks the top-5. The
      // corpus never moves: not collected to the driver, not
      // broadcast, not shuffled — at 100 TB the per-batch cost is
      // |batch| × probed-cell posting lists, the production serving
      // shape. StreamSpec asserts exact agreement with the batch
      // probe over the same index.
      (s, dir) => {
        val idx = SimilarityOps.ensureIndex(s, dir)
        val qs = s.readStream
          .schema(Tables.schema(s, s"$dir/embeddings.parquet"))
          .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
          .filter(col("vec_id") < 32)
          .select(col("vec_id").cast("long").as("qid"),
            graft.functions.Vectors.normalized(col("embedding")).as("qvec"))
        drain(s, qs, OutputMode.Append(),
            perBatch = SimilarityOps.probeIndex(s, idx, _, nProbe = 4, k = 5))
          .orderBy(col("qid"), col("rank"))
      },
      // stream splitting must not change a single row vs the batch
      // probe of the same standing index — the oracle is the full
      // serving path in SQL over the dumped centroids/assignments.
      Some(SimilarityOps.ivfProbeSql("vec_id < 32"))),

    Entry(
      "stream_semantic_dedup",
      // Streaming SemDeDup — dedup_semantic_incremental's plan run as
      // the ingest job it models: the %10==0 batch vectors arrive as a
      // bounded file stream and each micro-batch probes the STANDING
      // index via SimilarityOps.semanticProbe (per-row cell assignment
      // against broadcast fixed centroids, then cosine only against
      // that cell's standing members). The corpus never moves per
      // batch; state lives in the standing index, not the state store
      // — so an unbounded deployment's per-batch cost stays
      // O(batch × cell occupancy). Sharing the probe plan with the
      // batch entry makes drained-stream ≡ batch hold by construction;
      // the oracle (same SQL as the batch twin) and Round11Spec verify
      // it anyway.
      (s, dir) => {
        val qs = s.readStream
          .schema(Tables.schema(s, s"$dir/embeddings.parquet"))
          .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
          .filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").cast("long").as("vec_id"),
            graft.functions.Vectors.normalized(col("embedding"))
              .as("embedding"))
        drain(s, qs, OutputMode.Append(),
            perBatch = SimilarityOps.semanticProbe(s, dir, _))
          .orderBy(col("new_id"), col("dup_of"))
      },
      Some(SimilarityOps.semanticIncrementalSql)),

    Entry(
      "stream_asof",
      // Micro-batch AS-OF enrichment: each streamed batch of purchases
      // runs through the custom AsOfJoin operator against the static
      // signup dimension inside foreachBatch — the standard recipe for
      // operators Structured Streaming can't express natively (no
      // stream-side window/merge): batch-local as-of is CORRECT here
      // because the right side is static, so batch boundaries can't
      // split a match. Output accumulates to parquet (idempotent per
      // epoch via overwrite-by-batch dirs). Oracle: the batch as-of
      // (q29's shape) — stream splitting must not change a single row.
      (s, dir) => {
        val ev = t(s, dir, "events")
        val sg = ev.filter(col("event_type") === "signup")
          .select(col("user_id").as("s_user_id"),
            col("event_id").as("s_event_id"),
            unix_micros(col("ts").cast("timestamp")).as("s_us"))
        val purchases = eventStream(s, dir)
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts").cast("timestamp")).as("p_us"))
        drain(s, purchases, OutputMode.Append(),
            perBatch = b => graft.plans.AsOf.join(b, sg, Seq("user_id"),
                "p_us", Seq("s_user_id"), "s_us")
              .select(col("event_id"), col("user_id"), col("p_us"),
                col("s_event_id"), col("s_us")))
          .orderBy(col("event_id"))
      },
      Some(Analytics.asofOracleSql))
  )
}
