package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.sources.Unified2Fixture
import graft.streaming.SpoolTail

/** Round-8 additions: scratch-dir housekeeping must delete stale
  * app-stamped dump dirs and keep recent/concurrent ones (the
  * unbounded-accumulation ADVICE), without ever touching unstamped
  * corpus-scoped dirs.
  */
class Round8Spec extends SparkSuite {

  test("appTs extracts the local-mode millis stamp, slugged or raw") {
    assert(OracleDumps.appTs("local-1786601697917").contains(1786601697917L))
    assert(OracleDumps.appTs(
      "_root_testdata_sf0_01__local-1786604451147").contains(1786604451147L))
    // slugged store names turn the dash into an underscore
    assert(OracleDumps.appTs(
      "ivf__root_testdata_sf0_1_local_1786602210252").contains(1786602210252L))
    assert(OracleDumps.appTs("corpus_csv__root_testdata_sf0_01").isEmpty)
    assert(OracleDumps.appTs("oracle_base").isEmpty)
  }

  test("dedup_decontam_frac measures position coverage of eval 13-grams") {
    // eval split doc_id % 5 == 0 -> {0, 5}; doc 5 has <13 tokens, so the
    // eval gram set is exactly doc 0's grams. Doc 1 (exact dup, 28
    // tokens): every gram matches -> all 28 positions covered, frac 1.
    // Doc 2 flips "dog" (position 9) to "cat": only the 7 grams starting
    // at 10..16 survive, covering positions 10..28 = 19. Docs 3/4 share
    // no gram (and 3 has <13 tokens anyway).
    val rows = q("dedup_decontam_frac", Fixtures.dir).collect()
    assert(rows.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L))
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(1L).getAs[Long]("n_tokens") == 28L)
    assert(byId(1L).getAs[Long]("n_contaminated") == 28L)
    assert(byId(1L).getAs[Double]("frac") == 1.0)
    assert(byId(2L).getAs[Long]("n_contaminated") == 19L)
    assert(byId(2L).getAs[Double]("frac") == 19.0 / 28.0)
  }

  test("NearestEntry matches the aggregate-fold argmax/argmin it replaced") {
    import org.apache.spark.sql.functions._
    import graft.functions.Vectors
    import spark.implicits._
    // entries sorted by id; vec equidistant-or-better cases exercise
    // the strict-improvement (earliest-wins) tie rule
    val df = Seq((Seq(1.0, 0.0), Seq((1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.0)),
        (3L, Seq(0.0, 1.0)))))
      .toDF("vec", "raw")
      .select(col("vec"), expr(
        "transform(raw, e -> struct(e._1 AS cell, e._2 AS cvec))").as("cen"))
    val r = df.select(
      Vectors.nearestDot(col("vec"), col("cen")).as("dmax"),
      Vectors.nearestL2(col("vec"), col("cen")).as("dmin")).head
    assert(r.getAs[Long]("dmax") == 1L, "dot tie must keep the smaller id")
    assert(r.getAs[Long]("dmin") == 1L, "L2 tie must keep the smaller id")

    // length-mismatched entry is SKIPPED (null score = no improvement),
    // not poisoning the argmax; empty entries -> null
    val df2 = Seq((Seq(1.0, 0.0), Seq((1L, Seq(9.0)), (2L, Seq(0.5, 0.0)))))
      .toDF("vec", "raw")
      .select(col("vec"), expr(
        "transform(raw, e -> struct(e._1 AS cell, e._2 AS cvec))").as("cen"))
    assert(df2.select(Vectors.nearestDot(col("vec"), col("cen"))).head
      .getLong(0) == 2L)
    val empty = df2.select(Vectors.nearestDot(col("vec"),
      expr("slice(cen, 1, 0)"))).head
    assert(empty.isNullAt(0), "no qualifying entry must yield null")

    // float corpus vec against double centroids (the mm/embedding mix)
    val df3 = Seq((Seq(1.0f, 2.0f), Seq((10L, Seq(1.0, 2.0)),
        (20L, Seq(-1.0, -2.0)))))
      .toDF("vec", "raw")
      .select(col("vec"), expr(
        "transform(raw, e -> struct(e._1 AS cell, e._2 AS cvec))").as("cen"))
    assert(df3.select(Vectors.nearestDot(col("vec"), col("cen"))).head
      .getLong(0) == 10L)
    assert(df3.select(Vectors.nearestL2(col("vec"), col("cen"))).head
      .getLong(0) == 10L)
  }

  test("graceful stop halts tail queries at the batch boundary; restart resumes") {
    // the follow-mode SIGTERM path minus the signal itself: after
    // stopActiveQueries, no query is active, everything drained so far
    // is committed and readable, and a restarted tail continues from
    // the checkpointed bookmark (no loss, no double-read).
    def ip4(a: Int, b: Int, c: Int, d: Int) =
      Array[Byte](a.toByte, b.toByte, c.toByte, d.toByte)
    def alert(id: Int): Array[Byte] =
      Unified2Fixture.eventV2(1, id, 1800000000L + id, 1000001, 1, 3, 2, 1,
        ip4(10, 0, 0, id), ip4(192, 168, 1, id), 1000 + id, 80, 6)
    val dir = tempDir("graft_sig")
    val file = Paths.get(dir, "snort.log.1800000000")
    Files.write(file, alert(1) ++ alert(2))
    val ckpt = tempDir("graft_sig_ckpt")
    val out = tempDir("graft_sig_out")
    def start() = SpoolTail
      .streamRecords(spark, Seq(dir), "snort.log", "sensorSig")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).start()

    val q1 = start()
    q1.processAllAvailable()
    Charlotte.stopActiveQueries(spark)
    assert(spark.streams.active.isEmpty, "stop must halt every query")
    assert(!q1.isActive)
    assert(spark.read.parquet(out).count() == 2,
      "drained records must be committed and readable after stop")

    // restart from the same checkpoint: only the new record arrives
    Files.write(file, alert(3), StandardOpenOption.APPEND)
    val q2 = start()
    try {
      q2.processAllAvailable()
      val ids = spark.read.parquet(out).collect()
        .map(_.getAs[Long]("event_id")).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L), s"got $ids")
    } finally q2.stop()
  }

  test("pruneStale deletes only dirs >3h older than the running app") {
    // SANDBOXED tree: pruning the real scratch root with this
    // synthetic future myTs would delete every live dump on the
    // machine — including a concurrent Verify run's oracle base
    // (bit us in r11: the suite ran beside a Verify and its DuckDB
    // compare found every dump-backed oracle empty)
    val sandbox = java.nio.file.Paths.get(tempDir("graft_prune_spec"))
    val scratch = sandbox.resolve("graft_scratch")
    val base = scratch.resolve("oracle_base")
    Files.createDirectories(base)
    val myTs = 2000000000000L
    val stale = myTs - OracleDumps.StaleMs - 1000
    val fresh = myTs - OracleDumps.StaleMs + 60000
    val staleTop = scratch.resolve(s"ivf_r8spec_local_$stale")
    val staleBase = base.resolve(s"r8spec__local-$stale")
    val freshTop = scratch.resolve(s"ivf_r8spec_local_$fresh")
    val unstamped = scratch.resolve("corpus_r8spec_unstamped")
    Seq(staleTop, staleBase, freshTop, unstamped).foreach { d =>
      Files.createDirectories(d)
      Files.writeString(d.resolve("marker.txt"), "x")
    }
    try {
      OracleDumps.pruneStale(myTs, base.toFile)
      assert(!Files.exists(staleTop), "stale top-level dir must be deleted")
      assert(!Files.exists(staleBase), "stale oracle_base dir must be deleted")
      assert(Files.exists(freshTop), "recent dir must survive (could be a concurrent JVM)")
      assert(Files.exists(unstamped), "unstamped corpus dirs are never pruned")
    } finally {
      Seq(freshTop.resolve("marker.txt"), freshTop,
        unstamped.resolve("marker.txt"), unstamped, base, scratch, sandbox)
        .foreach(Files.deleteIfExists)
    }
  }
}
