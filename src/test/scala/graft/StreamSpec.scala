package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{Unified2, Unified2Fixture}
import graft.streaming.Spool

class StreamSpec extends SparkSuite {

  test("stream_window_agg matches batch aggregation") {
    val stream = q("stream_window_agg", sfDir).collect()
    val batch = Tables.t(spark, sfDir, "events")
      .groupBy(date_format(date_trunc("HOUR", col("ts")),
        "yyyy-MM-dd HH:mm:ss").as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(Tables.dec(col("value"))).cast("double").as("total"))
      .orderBy(col("hour"), col("event_type"))
      .collect()
    assert(stream.length == batch.length)
    stream.zip(batch).foreach { case (a, b) => assert(a == b) }
  }

  test("stream_dedup equals batch distinct") {
    val stream = q("stream_dedup", sfDir).collect()
    val batch = Tables.t(spark, sfDir, "events")
      .select(col("user_id"), col("event_type")).distinct()
      .orderBy(col("user_id"), col("event_type")).collect()
    assert(stream.toSeq == batch.toSeq)
  }

  test("stream_lm_score equals batch text_lm_score bit-for-bit") {
    val stream = q("stream_lm_score", sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val batch = q("text_lm_score", sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(stream.nonEmpty && stream.sameElements(batch),
      "stream-static LM scoring must reproduce the batch result")
  }

  test("stream_session reproduces the batch sessionization (q27)") {
    val stream = q("stream_session", sfDir).collect()
    val batch = q("q27_sessionize", sfDir).collect()
    assert(stream.length == batch.length)
    stream.zip(batch).foreach { case (a, b) =>
      assert(a.getAs[Long]("user_id") == b.getAs[Long]("user_id"))
      assert(a.getAs[Long]("sess_id") == b.getAs[Long]("sess_id"))
      assert(a.getAs[Long]("n_events") == b.getAs[Long]("n_events"))
      assert(a.getAs[Long]("start_us") == b.getAs[Long]("start_us"))
      assert(a.getAs[Long]("end_us") == b.getAs[Long]("end_us"))
      assert(a.getAs[Double]("sess_value") == b.getAs[Double]("sess_value"))
    }
  }

  test("u2_stream parses the full fixture spool") {
    val rows = q("u2_stream", sfDir).collect()
    assert(rows.length == 14)
    assert(rows.count(_.getAs[Int]("rec_type") == Unified2.EventV2) == 6)
  }

  test("spool checkpoint resumes after restart (bookmark semantics)") {
    val root = tempDir("graft-spool-resume")
    val spool = s"$root/spool"
    Unified2Fixture.writeSpool(spool)
    val ckpt = s"$root/ckpt"
    val out = s"$root/out"

    def drain(): Unit = {
      val q = Spool.streamRecords(spark, Seq(spool), "snort.log", "s1")
        .select(col("src_file"), col("rec_index"), col("rec_type"),
          col("event_id"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    drain()
    val n1 = spark.read.parquet(out).count()
    assert(n1 == 14)

    drain() // nothing new: checkpoint must prevent reprocessing
    assert(spark.read.parquet(out).count() == 14)

    // rollover: a NEW spool file appears; only its records are appended
    val extra = Unified2Fixture.eventV2(1, 99, 1700000100L, 1000001, 1, 3,
      2, 1, Array[Byte](10, 0, 9, 9), Array[Byte](192.toByte, 168.toByte, 9, 9),
      1, 2, 6)
    Files.write(Paths.get(spool, "snort.log.1700000100"), extra)
    drain()
    val all = spark.read.parquet(out)
    assert(all.count() == 15)
    assert(all.filter(col("event_id") === 99L).count() == 1)
  }

  test("stream_knn matches the batch IVF probe over the persisted index") {
    // the streamed path must agree EXACTLY with a batch probe of the
    // same standing index (same centroids, same nProbe/k, same
    // normalized kernel) — no driver-side corpus collect anywhere
    import graft.functions.Vectors
    val streamed = q("stream_knn", sfDir).collect().toSeq
    assert(streamed.nonEmpty)
    val idx = SimilarityOps.ensureIndex(spark, sfDir)
    val qv = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") < 32)
      .select(col("vec_id").cast("long").as("qid"),
        Vectors.normalized(col("embedding")).as("qvec"))
    val batch = SimilarityOps.probeIndex(spark, idx, qv, nProbe = 4, k = 5)
      .orderBy(col("qid"), col("rank")).collect().toSeq
    assert(streamed == batch)
  }
}
