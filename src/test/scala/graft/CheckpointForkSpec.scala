package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.streaming.OutputMode

import graft.sources.Unified2Fixture
import graft.streaming.Spool

/** Mechanical guard on checkpoint writes: Hadoop's local filesystem,
  * without its native library, forks a `chmod` or `readlink` process
  * for most file operations, about 20 per follow batch through Spark's
  * default checkpoint manager. A JFR recording of this JVM's process
  * starts across steady follow batches and a stateful drain must show
  * none whose stack passes through a `CheckpointFileManager`.
  */
class CheckpointForkSpec extends SparkSuite {

  /** (command, stack frame classes) of every process this JVM starts
    * while `f` runs.
    */
  private def forks(f: => Unit): Seq[(String, Seq[String])] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      try f finally rec.stop()
      val file = Paths.get(tempDir("graft_jfr"), "forks.jfr")
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map { e =>
          val frames = Option(e.getStackTrace).toSeq
            .flatMap(_.getFrames.asScala).map(_.getMethod.getType.getName)
          (e.getString("command"), frames)
        }
    } finally rec.close()
  }

  private def underCheckpointManager(fs: Seq[(String, Seq[String])]) =
    fs.filter(_._2.exists(_.contains("CheckpointFileManager")))

  private def ip4(a: Int, b: Int, c: Int, d: Int) =
    Array[Byte](a.toByte, b.toByte, c.toByte, d.toByte)

  private def alert(id: Int): Array[Byte] =
    Unified2Fixture.eventV2(1, id, 1800000000L + id, 1000001, 1, 3, 2, 1,
      ip4(10, 0, 0, id), ip4(192, 168, 1, id), 1000 + id, 80, 6)

  /** A stateful drain: a file stream deduplicated in the state store. */
  private def stateDrain(root: String): Long = {
    spark.range(20).selectExpr("id % 7 AS k").write.parquet(s"$root/src")
    StreamOps.drain(spark,
      spark.readStream.schema("k BIGINT").parquet(s"$root/src")
        .dropDuplicates("k"),
      OutputMode.Append(), Seq(StreamOps.StatePartitions)).count()
  }

  test("steady follow batches and a stateful drain fork nothing to write their checkpoints") {
    val root = tempDir("graft_forks")
    val spool = Paths.get(root, "spool")
    Files.createDirectories(spool)
    val active = spool.resolve("snort.log.1800000000")
    Files.write(active, alert(1))
    val (sid, gen, cls) = Unified2Fixture.writeMaps(s"$root/maps")
    val ckpt = s"$root/out/_ckpt/sensorF"
    // Charlotte.run's follow query for one spool
    val q = Spool.tailIngest(spark, Seq(spool.toString), "snort.log",
      "sensorF", Spool.SinkMaps(spark, sid, gen, cls), s"$root/out/sensorF",
      ckpt, availableNow = false)
    val batches = 5
    val seen = try {
      q.processAllAvailable()
      forks {
        (2 to batches + 1).foreach { id =>
          Files.write(active, alert(id), StandardOpenOption.APPEND)
          q.processAllAvailable()
        }
        assert(stateDrain(root) == 7)
      }
    } finally q.stop()
    assert(q.lastProgress.batchId >= batches)
    assert(spark.read.parquet(s"$root/out/sensorF").count() == batches + 1)
    val bad = underCheckpointManager(seen)
    val forked = bad.size
    assert(forked == 0, "processes forked under a CheckpointFileManager, " +
      s"e.g. ${bad.take(3).map(_._1).mkString("; ")}")
    Seq("offsets", "commits").foreach { log =>
      val s = Files.list(Paths.get(ckpt, log))
      val crc = try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".crc")).toVector finally s.close()
      assert(crc.isEmpty, s"$log holds checksum files: $crc")
    }
  }

  test("the recording sees the forks of Spark's default checkpoint manager") {
    assume(!NativeCodeLoader.isNativeCodeLoaded,
      "with libhadoop loaded Spark's manager forks nothing to see")
    val seen = forks(StreamOps.withConfs(spark,
      "spark.sql.streaming.checkpointFileManagerClass" ->
        classOf[FileContextBasedCheckpointFileManager].getName)(
      assert(stateDrain(tempDir("graft_forks_default")) == 7)))
    assert(underCheckpointManager(seen).size > 0)
  }
}
