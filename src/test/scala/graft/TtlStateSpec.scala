package graft

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, Trigger, TTLConfig, ValueState}

/** State TTL — the last transformWithState feature (ValueState ✓
  * MapState ✓ timers ✓ TTL here): a processing-time TTL on the value
  * state makes per-key counters expire between drains, the bounded-
  * memory contract long-running keyed state needs at scale. Sleeps are
  * 4× the TTL (and 1/1000 of the control TTL), so the assertions hold
  * under any scheduler jitter short of seconds.
  */
object TtlStateSpec {
  case class Cnt(user_id: Long, n: Long)

  class TtlCounter(ttlMs: Long)
      extends StatefulProcessor[Long, (Long, Long), Cnt] {
    @transient private var st: ValueState[Cnt] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[Cnt]("cnt", Encoders.product[Cnt],
        TTLConfig(java.time.Duration.ofMillis(ttlMs)))
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        tv: TimerValues): Iterator[Cnt] = {
      val prev = if (st.exists()) st.get().n else 0L
      val agg = Cnt(key, prev + rows.size)
      st.update(agg)
      Iterator.single(agg)
    }
  }
}

class TtlStateSpec extends SparkSuite {
  import TtlStateSpec._

  /** One drain of `src` through a TtlCounter, reusing `ckpt` (so state
    * carries across drains); returns the final count per key this
    * drain emitted. NOT Trigger.AvailableNow: with
    * TimeMode.ProcessingTime the multi-batch executor keeps scheduling
    * TTL-cleanup micro-batches and never terminates — the bounded
    * form for processing-time state is processAllAvailable + stop.
    */
  private def drain(src: String, ckpt: String, ttlMs: Long): Map[Long, Long] = {
    import spark.implicits._
    val ds: Dataset[(Long, Long)] = spark.readStream
      .schema("user_id LONG, event_id LONG").parquet(src)
      .as[(Long, Long)]
    val out = ds.groupByKey(_._1)
      .transformWithState(new TtlCounter(ttlMs),
        TimeMode.ProcessingTime(), OutputMode.Update())
    // foreachBatch sink: unlike the memory sink it RESUMES from a
    // checkpoint, which reusing `ckpt` across drains requires
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[Cnt]()
    val q = out.writeStream
      .foreachBatch { (b: Dataset[Cnt], _: Long) =>
        b.collect().foreach(buf.add); ()
      }
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Update())
      // a real trigger interval: with no-trigger the processing-time
      // batch loop spins hot on cleanup-only batches
      .trigger(Trigger.ProcessingTime(200))
      .start()
    // ProcessingTime mode runs cleanup batches forever: every batch
    // advances the time "offset", so processAllAvailable's noNewData
    // latch never sets (and AvailableNow never terminates). The
    // bounded form: wait for a COMMITTED data batch (progress events
    // post after the commit log write — polling `buf` alone could
    // stop() inside the commit window and replay the batch next
    // drain), then stop.
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!q.recentProgress.exists(_.numInputRows > 0) &&
        System.nanoTime() < deadline)
      Thread.sleep(100)
    q.stop()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    buf.asScala.toSeq
      .groupBy(_.user_id).map { case (k, v) => k -> v.map(_.n).max }
  }

  test("TTL'd counters expire between drains; a long TTL carries over") {
    StreamOps.withConfs(spark, StreamOps.RocksDbProvider) {
      import spark.implicits._
      val root = tempDir("graft_ttl")
      Seq((1L, 1L), (1L, 2L), (1L, 3L)).toDF("user_id", "event_id")
        .write.mode("append").parquet(s"$root/src")

      // control: 1-hour TTL — state survives the 3.2 s pause
      assert(drain(s"$root/src", s"$root/ck_long", 3600000L) == Map(1L -> 3L))
      // short TTL: same first drain
      assert(drain(s"$root/src", s"$root/ck_short", 800L) == Map(1L -> 3L))

      Thread.sleep(3200)
      Seq((1L, 4L)).toDF("user_id", "event_id")
        .write.mode("append").parquet(s"$root/src")

      // long TTL continued counting; short TTL expired and restarted
      assert(drain(s"$root/src", s"$root/ck_long", 3600000L) == Map(1L -> 4L))
      assert(drain(s"$root/src", s"$root/ck_short", 800L) == Map(1L -> 1L))
    }
  }
}
