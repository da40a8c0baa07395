package graft

import org.apache.spark.sql.functions._

import graft.sources.Compact

/** Compaction must shrink the file count to the byte-target and keep
  * the data bit-identical — the invariants that make it safe to run
  * against a live spool warehouse between ingest batches.
  */
class CompactSpec extends SparkSuite {

  test("compactParquet merges a many-file directory losslessly") {
    import spark.implicits._
    val dir = tempDir("graft_compact") + "/t"
    // simulate 30 micro-batch appends: one small file each
    (0 until 30).foreach { b =>
      Seq.tabulate(100)(i => (b.toLong * 100 + i, s"row-$b-$i"))
        .toDF("id", "payload")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val beforeRows = spark.read.parquet(dir)
      .orderBy("id").as[(Long, String)].collect().toSeq

    val (nBefore, nAfter, rows) =
      Compact.compactParquet(spark, dir, targetBytes = 1L << 20)
    assert(nBefore >= 30)
    assert(nAfter == 1) // 30 tiny files ≪ 1 MiB target
    assert(rows == 3000)

    val afterRows = spark.read.parquet(dir)
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(afterRows == beforeRows)

    // idempotent: compacting a compacted dir is a no-op in file count
    val (b2, a2, r2) = Compact.compactParquet(spark, dir, 1L << 20)
    assert(b2 == 1 && a2 == 1 && r2 == 3000)
  }

  test("missing dirs are skipped; an orphaned tmp rolls forward") {
    val root = tempDir("graft_compact2")
    // a sensor that never alerted: no dir, no error, no-op report
    assert(Compact.compactParquet(spark, s"$root/never") == (0, 0, 0L))

    // crash between the two swap renames: source moved aside, tmp is
    // the complete rewrite — the next run must finish the swap
    import spark.implicits._
    Seq((1L, "x"), (2L, "y")).toDF("id", "v")
      .write.parquet(s"$root/t.compact.tmp")
    Seq((9L, "stale")).toDF("id", "v")
      .write.parquet(s"$root/t.compact.old")
    val (_, _, rows) = Compact.compactParquet(spark, s"$root/t")
    assert(rows == 2L)
    assert(spark.read.parquet(s"$root/t").count() == 2)

    // crash mid-write: incomplete tmp next to the live dir is dropped,
    // the live data is what gets compacted
    Seq((7L, "junk")).toDF("id", "v")
      .write.parquet(s"$root/t.compact.tmp")
    val (_, _, r2) = Compact.compactParquet(spark, s"$root/t")
    assert(r2 == 2L)
    assert(spark.read.parquet(s"$root/t").as[(Long, String)]
      .collect().map(_._1).sorted.toSeq == Seq(1L, 2L))

    // legacy delete-then-rename crash: tmp is the ONLY copy (no dir,
    // no .old) — it must roll forward, never be discarded
    Seq((5L, "only")).toDF("id", "v")
      .write.parquet(s"$root/u.compact.tmp")
    val (_, _, r3) = Compact.compactParquet(spark, s"$root/u")
    assert(r3 == 1L)
    assert(spark.read.parquet(s"$root/u").count() == 1)
  }

  test("liveNamespaces releases retired checkpoints' newest batches") {
    import spark.implicits._
    val dir = tempDir("graft_compact3") + "/t"
    val nsLive = "a" * 32
    val nsDead = "b" * 32
    // one ingest batch per (namespace, id): live has 0..1, dead has 0
    def writeBatch(ns: String, id: Long, v: Long): Unit = {
      val tmp = tempDir("graft_compact3_b")
      Seq((v, s"ns-$ns-$id")).toDF("id", "v").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
      val src =
        try scala.jdk.CollectionConverters.IteratorHasAsScala(
            part.iterator()).asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        finally part.close()
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.move(src,
        java.nio.file.Paths.get(dir, s"batch_${ns}_${id}_0.parquet"))
    }
    writeBatch(nsLive, 0, 1L); writeBatch(nsLive, 1, 2L)
    writeBatch(nsDead, 0, 3L)

    def names(): Set[String] = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
        .asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSet
      finally s.close()
    }

    // default (None): every namespace's newest batch survives verbatim
    val (_, _, r1) = Compact.compactParquet(spark, dir, 1L << 20)
    assert(r1 == 1L) // only live batch 0 was compactable
    assert(names().contains(s"batch_${nsLive}_1_0.parquet"))
    assert(names().contains(s"batch_${nsDead}_0_0.parquet"))

    // dead checkpoint retired: only the live namespace keeps its
    // newest-batch exemption; the dead one's batch folds into part-*
    val (_, _, r2) =
      Compact.compactParquet(spark, dir, 1L << 20, Some(Set(nsLive)))
    assert(r2 == 2L) // dead newest + the prior part-* rewrite
    assert(names().contains(s"batch_${nsLive}_1_0.parquet"),
      "live namespace's replayable batch must survive")
    assert(!names().exists(_.startsWith(s"batch_${nsDead}_")),
      "retired namespace's batch must be compacted")
    assert(spark.read.parquet(dir).as[(Long, String)]
      .collect().map(_._1).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("legacy \"\" namespace keeps its newest-batch exemption even when liveNamespaces excludes it") {
    import spark.implicits._
    val dir = tempDir("graft_compact4") + "/t"
    def writeBatch(name: String, v: Long): Unit = {
      val tmp = tempDir("graft_compact4_b")
      Seq((v, name)).toDF("id", "v").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
      val src =
        try scala.jdk.CollectionConverters.IteratorHasAsScala(
            part.iterator()).asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        finally part.close()
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.move(src,
        java.nio.file.Paths.get(dir, name))
    }
    // a just-upgraded deployment in the crash→restart window: pre-r13
    // legacy batches, migrateLegacyBatches has NOT run yet, and batch 1
    // (the newest legacy id) is still replayable under its legacy name
    writeBatch("batch_0_0.parquet", 1L)
    writeBatch("batch_1_0.parquet", 2L)

    def names(): Set[String] = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
        .asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSet
      finally s.close()
    }

    // liveNamespaces deliberately does NOT list "" — the fix under test
    // (ADVICE r14) is that the legacy namespace is preserved regardless
    val (_, _, r) = Compact.compactParquet(spark, dir, 1L << 20,
      Some(Set("c" * 32)))
    assert(r == 1L, "only legacy batch 0 (provably committed) compacts")
    assert(names().contains("batch_1_0.parquet"),
      "the replayable newest legacy batch must survive verbatim")
    assert(!names().contains("batch_0_0.parquet"),
      "the committed older legacy batch should fold into part-*")
    assert(spark.read.parquet(dir).as[(Long, String)]
      .collect().map(_._1).sorted.toSeq == Seq(1L, 2L))
  }
}
