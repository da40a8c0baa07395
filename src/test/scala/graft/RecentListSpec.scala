package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Cross-batch semantics of the ListState recent-events buffer
  * (stream_recent_events): the oracle only checks the final answer of
  * one drain — here the checkpointed state carries the buffer across
  * SEPARATE drains, late-arriving "old" events can't evict newer ones
  * (top-3 by event time, not arrival), and the counter keeps counting.
  */
class RecentListSpec extends SparkSuite {

  // the file sink's metadata log lives in the CHECKPOINT, so the sink
  // dir must persist across drains along with it
  private def drain(src: String, ckpt: String,
      sink: String): Map[Long, StreamOps.RecentOut] = {
    import spark.implicits._
    val ds: Dataset[StreamOps.SessEv] = spark.readStream
      .schema("user_id LONG, event_id LONG, us LONG, value DOUBLE")
      .parquet(src).as[StreamOps.SessEv]
    val out = ds.groupByKey(_.user_id)
      .transformWithState(new StreamOps.RecentProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
    val q = out.toDF().writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    import org.apache.spark.sql.functions._
    spark.read.parquet(sink).groupBy(col("user_id"))
      .agg(max(struct(col("n_seen"), col("r1"), col("r2"), col("r3")))
        .as("l"))
      .select(col("user_id"), col("l.n_seen"), col("l.r1"), col("l.r2"),
        col("l.r3"))
      .as[StreamOps.RecentOut].collect()
      .map(r => r.user_id -> r).toMap
  }

  test("buffer survives restart; late old events never evict newer ones") {
    import spark.implicits._
    StreamOps.withConfs(spark, StreamOps.RocksDbProvider) {
      val src = tempDir("graft_recent_src")
      val ckpt = tempDir("graft_recent_ckpt")
      val sink = tempDir("graft_recent_sink")

      // drain 1: user 1 sees events at t=10,20,30
      Seq(StreamOps.SessEv(1L, 101L, 10L, 1.0),
        StreamOps.SessEv(1L, 102L, 20L, 1.0),
        StreamOps.SessEv(1L, 103L, 30L, 1.0))
        .toDS().write.mode("append").parquet(src)
      val d1 = drain(src, ckpt, sink)
      assert(d1(1L) == StreamOps.RecentOut(1L, 3L,
        Some(103L), Some(102L), Some(101L)))

      // drain 2 (fresh query, same checkpoint): one NEWER event (t=40)
      // and one LATE OLD event (t=5). The old event is counted but must
      // not enter the top-3 buffer; t=10 falls off the end.
      Seq(StreamOps.SessEv(1L, 104L, 40L, 1.0),
        StreamOps.SessEv(1L, 100L, 5L, 1.0))
        .toDS().write.mode("append").parquet(src)
      val d2 = drain(src, ckpt, sink)
      assert(d2(1L) == StreamOps.RecentOut(1L, 5L,
        Some(104L), Some(103L), Some(102L)),
        s"got ${d2(1L)}")
    }
  }
}
