package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Watermark semantics under multi-batch delivery: an event older than
  * the watermark arriving in a later micro-batch is DROPPED, and a
  * window is emitted (Append mode) exactly once, when the watermark
  * passes its end — the state-bounding contract that keeps streaming
  * aggregation state finite at 100 TB/day.
  */
class WatermarkSpec extends SparkSuite {
  import spark.implicits._

  test("append-mode window agg drops events older than the watermark") {
    val dir = tempDir("graft_wm")
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 10:00:00")
    def ts(minutes: Int) =
      new java.sql.Timestamp(t0.getTime + minutes * 60000L)

    // one plain parquet FILE per intended micro-batch (no _SUCCESS or
    // subdir artifacts), ordered by mtime for the file-stream source
    Files.createDirectories(Paths.get(s"$dir/in"))
    def writeOne(rows: Seq[(java.sql.Timestamp, String)], name: String,
        mtime: Long): Unit = {
      val tmp = s"$dir/tmp_$name"
      rows.toDF("ts", "k").coalesce(1).write.parquet(tmp)
      val part = Files.list(Paths.get(tmp)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dst = Paths.get(s"$dir/in/$name.parquet")
      Files.move(part, dst)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(mtime))
    }
    // drain 1: three events 10:00-10:10 and one at 11:30 that advances
    // the watermark (delay 1h) to 10:30, persisted in the checkpoint
    writeOne(Seq((ts(0), "a"), (ts(5), "a"), (ts(10), "a"), (ts(90), "a")),
      "b1", 1000000L)
    val out = s"$dir/out"
    val ckpt = s"$dir/ckpt"
    def drain(): Unit = {
      val schema = spark.read.parquet(s"$dir/in").schema
      val q = spark.readStream.schema(schema).parquet(s"$dir/in")
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "30 minutes")).agg(count(lit(1)).as("n"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()

    // drain 2 (restored watermark = 10:30): a LATE event for the
    // already-closed 10:00 window, plus a fresh one
    writeOne(Seq((ts(5), "a"), (ts(95), "a")), "b2", 2000000L)
    drain()

    val rows = spark.read.parquet(out)
      .select(date_format(col("window.start"), "HH:mm").as("w"), col("n"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
    // the 10:00 window closed with ONLY drain-1 events: the late ts(5)
    // duplicate from drain 2 was dropped, not re-emitted or re-counted
    assert(rows.get("10:00").contains(3L),
      s"late event leaked into closed window: $rows")
    // windows the watermark has not passed (11:30+) are never emitted
    assert(!rows.contains("11:30"), s"unclosed window emitted: $rows")
  }
}
