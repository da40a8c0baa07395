package graft

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import org.apache.spark.sql.functions.col

import graft.sources.Unified2Fixture

/** Crash-recovery soak for the charlotte ingest daemon (VERDICT r11
  * #5): the reference's most battle-tested behavior is its reconnect
  * loop — die mid-work, come back, lose nothing, duplicate nothing
  * (/root/reference/charlotte/__init__.py:372-433, DB transaction +
  * bookmark pairing). The Spark twin must give the same guarantee
  * across the WORST crash window: after the micro-batch's output files
  * land but before the streaming commit log records the batch. On
  * restart Spark replays that batch — a blind parquet append would
  * duplicate every row; Spool.idempotentAppend must not.
  *
  * The crash is simulated deterministically by deleting the newest
  * `commits/<n>` entry from the checkpoint after a clean drain: that
  * is byte-for-byte the on-disk state of a JVM killed between the
  * foreachBatch write and the commit-log append.
  *
  * ADVICE r12 hardening, all covered below: batch files are namespaced
  * by the checkpoint's query id, so a FRESH checkpoint writing into an
  * already-populated outPath can no longer delete a previous lifetime's
  * batch-0 files; Compact preserves the newest batch of every
  * namespace, so compacting between a crash and the recovering restart
  * stays exactly-once; and the replay proof is a deterministic
  * delete-a-file-and-watch-it-reappear sentinel, not an mtime race.
  */
class CrashRecoverySpec extends SparkSuite {

  private def ip4(a: Int, b: Int, c: Int, d: Int) =
    Array[Byte](a.toByte, b.toByte, c.toByte, d.toByte)

  private def alert(id: Int): Array[Byte] =
    Unified2Fixture.eventV2(1, id, 1800000000L + id, 1000001, 1, 3, 2, 1,
      ip4(10, 0, 0, id), ip4(192, 168, 1, id), 1000 + id, 80, 6)

  /** Promoted ingest files for batch `id` (any namespace). */
  private def batchFiles(out: String, id: Long): Seq[Path] = {
    val re = s"^batch_[0-9a-f]{32}_${id}_[0-9]+\\.parquet$$".r
    val s = Files.list(Paths.get(out))
    try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
      .asScala
      .filter(p => re.findFirstIn(p.getFileName.toString).isDefined)
      .toSeq
    finally s.close()
  }

  /** Simulate the worst-window kill: the newest batch's output is on
    * disk but its commit-log entry never landed.
    */
  private def truncateNewestCommit(ckpt: String): Unit = {
    val commits = Paths.get(ckpt, "commits")
    val s = Files.list(commits)
    val names =
      try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
        .asScala
        .map(_.getFileName.toString).filter(_.forall(_.isDigit)).toSeq
      finally s.close()
    assert(names.nonEmpty, "commit log empty — test setup broke")
    val victim = names.map(_.toLong).max.toString
    Files.delete(commits.resolve(victim))
    // local-fs ChecksumFileSystem keeps a .<name>.crc sibling; a real
    // kill never leaves the crc without its data file, so drop it too
    // (leaving it makes the commit rename fail as file-already-exists)
    Files.deleteIfExists(commits.resolve(s".$victim.crc"))
  }

  test("replayed micro-batch after a simulated crash neither duplicates nor loses events") {
    val dir = tempDir("graft_crash")
    val file = Paths.get(dir, "snort.log.1800000000")
    Files.write(file, alert(1) ++ alert(2))
    val (sid, gen, cls) = Unified2Fixture.writeMaps(
      tempDir("graft_crash_maps"))
    val out = tempDir("graft_crash_out")
    val ckpt = tempDir("graft_crash_ckpt")

    def drain(): Unit = graft.streaming.Spool.tailIngest(spark, Seq(dir),
      "snort.log", "sC", sid, gen, cls, out, ckpt, availableNow = true)
    def ids(): Seq[Long] = spark.read.parquet(out)
      .select(col("event_id")).collect().map(_.getLong(0)).sorted.toSeq

    drain()
    assert(ids() == Seq(1L, 2L))

    // batch 2 arrives and drains cleanly...
    Files.write(file, alert(3), StandardOpenOption.APPEND)
    drain()
    assert(ids() == Seq(1L, 2L, 3L))

    // ...then the "crash".
    truncateNewestCommit(ckpt)

    // Replay sentinel: delete one of batch 1's promoted files. Only a
    // genuine replay of batch 1 can bring event 3 back AND re-promote
    // the file — if the restart skipped the batch, the first assert
    // below fails (event lost), so the test can never pass vacuously.
    val b1 = batchFiles(out, 1L)
    assert(b1.nonEmpty, "batch 1 left no namespaced files")
    Files.delete(b1.head)

    drain()
    assert(ids() == Seq(1L, 2L, 3L),
      s"replay broke exactly-once: ${ids()}")
    assert(batchFiles(out, 1L).nonEmpty,
      "batch 1 was never replayed — the crash simulation is vacuous")

    // and the stream still makes progress after the recovery
    Files.write(file, alert(4), StandardOpenOption.APPEND)
    drain()
    assert(ids() == Seq(1L, 2L, 3L, 4L))

    // star-schema row count downstream of the recovered sink: one fact
    // row (cid) per event, no duplicate cids — the reference's "zero
    // duplicate/lost cids across a forced restart" invariant
    val enriched = spark.read.parquet(out)
    assert(enriched.count() == 4)
    assert(enriched.select(col("sensor"), col("event_id"))
      .distinct().count() == 4, "duplicate (sensor, event_id) fact keys")
  }

  test("compaction between a crash and the recovering restart stays exactly-once") {
    val dir = tempDir("graft_crashc")
    val file = Paths.get(dir, "snort.log.1800000000")
    Files.write(file, alert(1) ++ alert(2))
    val (sid, gen, cls) = Unified2Fixture.writeMaps(
      tempDir("graft_crashc_maps"))
    val out = tempDir("graft_crashc_out")
    val ckpt = tempDir("graft_crashc_ckpt")

    def drain(): Unit = graft.streaming.Spool.tailIngest(spark, Seq(dir),
      "snort.log", "sCc", sid, gen, cls, out, ckpt, availableNow = true)
    def ids(): Seq[Long] = spark.read.parquet(out)
      .select(col("event_id")).collect().map(_.getLong(0)).sorted.toSeq

    drain() // batch 0: events 1, 2
    Files.write(file, alert(3), StandardOpenOption.APPEND)
    drain() // batch 1: event 3
    assert(ids() == Seq(1L, 2L, 3L))
    truncateNewestCommit(ckpt)

    // the maintenance pass runs in the crash window: batch 0 may be
    // rewritten to part-* files, but batch 1 (the only batch the
    // restart can replay) must come through verbatim
    val (nBefore, nAfter, _) =
      graft.sources.Compact.compactParquet(spark, out)
    assert(nBefore > 0 && nAfter > 0)
    assert(batchFiles(out, 1L).nonEmpty,
      "Compact renamed the newest (possibly-uncommitted) batch")
    assert(batchFiles(out, 0L).isEmpty,
      "Compact left the committed batch 0 uncompacted")
    assert(ids() == Seq(1L, 2L, 3L), "compaction changed the data")

    drain() // restart: replays batch 1 into its own files only
    assert(ids() == Seq(1L, 2L, 3L),
      s"replay after compaction broke exactly-once: ${ids()}")
    assert(spark.read.parquet(out).count() == 3)
  }

  test("a fresh checkpoint cannot destroy a previous lifetime's batches") {
    val (sid, gen, cls) = Unified2Fixture.writeMaps(
      tempDir("graft_crashn_maps"))
    val out = tempDir("graft_crashn_out")

    // lifetime A ingests event 1 (its batch 0)
    val dirA = tempDir("graft_crashn_a")
    Files.write(Paths.get(dirA, "snort.log.1800000000"), alert(1))
    graft.streaming.Spool.tailIngest(spark, Seq(dirA), "snort.log", "sA",
      sid, gen, cls, out,
      tempDir("graft_crashn_ckpta"),
      availableNow = true)

    // lifetime B — a FRESH checkpoint, same outPath — also writes its
    // batch 0. Under bare-batch-id naming this DELETED lifetime A's
    // batch-0 files (ADVICE r12); query-id namespacing keeps both.
    val dirB = tempDir("graft_crashn_b")
    Files.write(Paths.get(dirB, "snort.log.1800000000"), alert(9))
    graft.streaming.Spool.tailIngest(spark, Seq(dirB), "snort.log", "sB",
      sid, gen, cls, out,
      tempDir("graft_crashn_ckptb"),
      availableNow = true)

    val ids = spark.read.parquet(out)
      .select(col("event_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 9L),
      s"fresh checkpoint destroyed or duplicated data: $ids")
  }

  test("a deleted-and-recreated checkpoint at the SAME path mints its own namespace") {
    // ADVICE r14 (medium): the per-path namespace memo outlived the
    // checkpoint LIFETIME — recreate a checkpoint at the same path
    // within one JVM and the stale cached query id made the new
    // lifetime's batch-0 replay-delete target (and destroy) the
    // previous lifetime's files. The stream-start invalidation must
    // make this behave exactly like the fresh-path case above.
    val (sid, gen, cls) = Unified2Fixture.writeMaps(
      tempDir("graft_crashr_maps"))
    val out = tempDir("graft_crashr_out")
    val ckpt = tempDir("graft_crashr_ckpt")

    // lifetime A ingests event 1 (its batch 0), then the checkpoint
    // dir is deleted and recreated at the SAME path (a long-lived
    // ingest service resetting a stream)
    val dirA = tempDir("graft_crashr_a")
    Files.write(Paths.get(dirA, "snort.log.1800000000"), alert(1))
    graft.streaming.Spool.tailIngest(spark, Seq(dirA), "snort.log", "sRa",
      sid, gen, cls, out, ckpt, availableNow = true)
    assert(batchFiles(out, 0L).nonEmpty)

    def rmTree(p: Path): Unit = {
      val s = Files.walk(p)
      try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
        .asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
    rmTree(Paths.get(ckpt))
    Files.createDirectories(Paths.get(ckpt))

    // lifetime B, same checkpoint path, also writes its batch 0
    val dirB = tempDir("graft_crashr_b")
    Files.write(Paths.get(dirB, "snort.log.1800000000"), alert(9))
    graft.streaming.Spool.tailIngest(spark, Seq(dirB), "snort.log", "sRb",
      sid, gen, cls, out, ckpt, availableNow = true)

    val ids = spark.read.parquet(out)
      .select(col("event_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 9L),
      s"recreated checkpoint reused the stale namespace and destroyed data: $ids")
    // and the two lifetimes really did land under distinct namespaces
    assert(batchFiles(out, 0L).size >= 2,
      "both lifetimes' batch-0 files must coexist under distinct namespaces")
  }

  test("legacy ids below the max retained commit fold as committed even when their commit files were purged") {
    // ADVICE r14: Spark purges commit-log entries past
    // minBatchesToRetain, so classifying committed-vs-replayable by
    // commit-file MEMBERSHIP misclassifies old legacy batches as
    // uncommitted and adopts them all — breaking the at-most-ONE-
    // adopted-batch invariant. Sequencing means anything <= the max
    // retained commit id is committed; only an id above it is adopted.
    val out = tempDir("graft_crashp_out")
    val ckpt = tempDir("graft_crashp_ckpt")
    // migrateLegacyBatches only RENAMES by name — content is never read
    Seq(0, 1, 2).foreach { id =>
      Files.write(Paths.get(out, s"batch_${id}_0.parquet"),
        Array[Byte](80, 65, 82, 49))
    }
    // checkpoint state: batches 0..1 committed, but batch 0's commit
    // entry was purged by retention; batch 2's commit never landed
    Files.write(Paths.get(ckpt, "metadata"),
      """{"id":"aaaaaaaa-bbbb-cccc-dddd-eeeeeeeeeeee"}"""
        .getBytes("UTF-8"))
    Files.createDirectories(Paths.get(ckpt, "commits"))
    Files.write(Paths.get(ckpt, "commits", "1"), "v1\n{}".getBytes("UTF-8"))

    graft.streaming.Spool.migrateLegacyBatches(spark, out, ckpt)

    val names = {
      val s = Files.list(Paths.get(out))
      try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
        .asScala.map(_.getFileName.toString).toSet
      finally s.close()
    }
    val ns = "aaaaaaaabbbbccccddddeeeeeeeeeeee"
    assert(names.contains("legacy_0_0.parquet"),
      s"purged-commit batch 0 must fold as committed: $names")
    assert(names.contains("legacy_1_0.parquet"),
      s"retained-commit batch 1 must fold as committed: $names")
    assert(names.contains(s"batch_${ns}_2_0.parquet"),
      s"only the single above-newest-commit batch is adopted: $names")
    assert(names.count(_.startsWith("batch_")) == 1,
      s"at most ONE adopted batch: $names")
  }

  test("pre-r13 legacy batch files migrate on upgrade: committed fold, uncommitted dedup") {
    val dir = tempDir("graft_crashm")
    val file = Paths.get(dir, "snort.log.1800000000")
    Files.write(file, alert(1) ++ alert(2))
    val (sid, gen, cls) = Unified2Fixture.writeMaps(
      tempDir("graft_crashm_maps"))
    val out = tempDir("graft_crashm_out")
    val ckpt = tempDir("graft_crashm_ckpt")

    def drain(): Unit = graft.streaming.Spool.tailIngest(spark, Seq(dir),
      "snort.log", "sM", sid, gen, cls, out, ckpt, availableNow = true)
    def ids(): Seq[Long] = spark.read.parquet(out)
      .select(col("event_id")).collect().map(_.getLong(0)).sorted.toSeq
    def listNames(): Seq[String] = {
      val s = Files.list(Paths.get(out))
      try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
        .asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSeq
      finally s.close()
    }

    drain() // batch 0: events 1, 2 (committed)
    Files.write(file, alert(3), StandardOpenOption.APPEND)
    drain() // batch 1: event 3
    assert(ids() == Seq(1L, 2L, 3L))

    // Reconstruct the ADVICE-r13 upgrade state byte-for-byte: the
    // files were promoted by PRE-namespacing code (strip the query-id
    // segment back out of every batch file name) and the JVM died
    // before batch 1's commit landed.
    val nsRe = "^batch_[0-9a-f]{32}_".r
    listNames().foreach { n =>
      if (nsRe.findFirstIn(n).isDefined)
        Files.move(Paths.get(out, n),
          Paths.get(out, nsRe.replaceFirstIn(n, "batch_")))
    }
    truncateNewestCommit(ckpt)
    assert(listNames().forall(n => nsRe.findFirstIn(n).isEmpty))

    // Restart under the namespacing code. Without migration the
    // replay of batch 1 re-promotes event 3 beside the surviving
    // legacy batch_1_* files → 4 rows; with it, exactly-once holds.
    drain()
    assert(ids() == Seq(1L, 2L, 3L),
      s"legacy-batch replay duplicated rows: ${ids()}")

    val after = listNames()
    assert(after.exists(_.startsWith("legacy_0_")),
      s"committed legacy batch was not folded: $after")
    val legacyRe = "^batch_[0-9]+_[0-9]+\\.parquet$".r
    assert(!after.exists(n => legacyRe.findFirstIn(n).isDefined),
      s"no bare legacy batch_<id>_* file may survive the migration: $after")
    assert(after.exists(n => nsRe.findFirstIn(n).isDefined &&
        n.contains("_1_")),
      s"replayed batch 1 must land under the checkpoint namespace: $after")

    // folded legacy files are now plain data files: compactable
    val (_, _, rows) = graft.sources.Compact.compactParquet(
      spark, out, liveNamespaces =
        Some(Set(graft.streaming.Spool.checkpointNamespace(spark, ckpt))))
    assert(rows >= 2, "folded legacy batch should be rewritten")
    assert(ids() == Seq(1L, 2L, 3L))

    // and the stream still makes progress
    Files.write(file, alert(4), StandardOpenOption.APPEND)
    drain()
    assert(ids() == Seq(1L, 2L, 3L, 4L))
  }

  test("a torn staging dir from a crash mid-write is invisible and cleaned up") {
    val dir = tempDir("graft_crash2")
    val file = Paths.get(dir, "snort.log.1800000000")
    Files.write(file, alert(7))
    val (sid, gen, cls) = Unified2Fixture.writeMaps(
      tempDir("graft_crash2_maps"))
    val out = tempDir("graft_crash2_out")
    val ckpt = tempDir("graft_crash2_ckpt")

    def drain(): Unit = graft.streaming.Spool.tailIngest(spark, Seq(dir),
      "snort.log", "sC2", sid, gen, cls, out, ckpt, availableNow = true)

    drain()
    val rows = spark.read.parquet(out).collect()
    assert(rows.map(_.getAs[Long]("event_id")).toSeq == Seq(7L))

    // a crashed attempt of the NEXT batch died mid-write, leaving a
    // torn staging dir in this checkpoint's namespace (learned from the
    // promoted file name — the name Spool.idempotentAppend would use)
    val ns = {
      val re = "^batch_([0-9a-f]{32})_".r
      val s = Files.list(Paths.get(out))
      val names =
        try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
          .asScala.map(_.getFileName.toString).toSeq
        finally s.close()
      names.flatMap(n => re.findFirstMatchIn(n).map(_.group(1))).head
    }
    val torn = Paths.get(out, s".batch_${ns}_1.tmp")
    Files.createDirectories(torn)
    Files.write(torn.resolve("part-garbage.parquet"),
      Array[Byte](1, 2, 3))

    // torn dot-dir is invisible to readers even before the next drain
    assert(spark.read.parquet(out).count() == 1)

    Files.write(file, alert(8), StandardOpenOption.APPEND)
    drain() // batch 1 replaces its torn staging leftovers
    val ids = spark.read.parquet(out)
      .select(col("event_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(7L, 8L))
    assert(!Files.exists(torn), "staging dir must be gone after commit")
  }
}
