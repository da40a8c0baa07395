package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{AbstractFileContextBasedCheckpointFileManager, CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

import graft.sources.Unified2Fixture
import graft.streaming.{LocalCheckpointFileManager, Spool}

/** [[LocalCheckpointFileManager]]'s contract: Spark's atomic-publish
  * semantics, checkpoints that move between it and Spark's own
  * managers in both directions, delegation of every other scheme, and
  * a session left as it was found by each query start.
  */
class CheckpointManagerSpec extends SparkSuite {
  import CheckpointManagerSpec._

  private def manager(p: Path, conf: Configuration = new Configuration())
      : LocalCheckpointFileManager = new LocalCheckpointFileManager(p, conf)

  private def write(m: CheckpointFileManager, p: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(m: CheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: String): Set[String] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.map(_.getFileName.toString).toSet
    finally s.close()
  }

  test("a no-overwrite createAtomic over an existing file throws and keeps the old bytes") {
    val dir = tempDir("graft_cfm_excl")
    val p = new Path(dir, "0")
    val m = manager(p)
    write(m, p, "v1\nold", overwrite = false)
    intercept[FileAlreadyExistsException](
      write(m, p, "v1\nnew", overwrite = false))
    assert(read(m, p) == "v1\nold")
    assert(names(dir) == Set("0"), "the refused write left its temp file")
    write(m, p, "v1\nnew", overwrite = true)
    assert(read(m, p) == "v1\nnew")
  }

  test("cancel leaves no temp file and publishes nothing") {
    val dir = tempDir("graft_cfm_cancel")
    val p = new Path(dir, "1")
    val m = manager(p)
    val out = m.createAtomic(p, overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    assert(names(dir).size == 1, "the write goes to a temp sibling")
    out.cancel()
    out.close()
    assert(names(dir).isEmpty)
  }

  test("an overwrite removes a stale .crc sibling, so Spark's manager reads the new bytes") {
    val dir = tempDir("graft_cfm_crc")
    val p = new Path(dir, "2")
    val default = new FileContextBasedCheckpointFileManager(p,
      new Configuration())
    write(default, p, "v1\nold", overwrite = false)
    assert(names(dir) == Set("2", ".2.crc"))
    val m = manager(p)
    assert(m.list(new Path(dir)).map(_.getPath.getName).toSeq == Seq("2"),
      "a listing shows no .crc sibling")
    write(m, p, "v1\nnew, longer", overwrite = true)
    assert(names(dir) == Set("2"))
    assert(read(default, p) == "v1\nnew, longer")
    write(default, p, "v1\nagain", overwrite = true)
    m.delete(p)
    assert(names(dir).isEmpty, "delete leaves the .crc sibling")
  }

  test("a non-file: path goes to Spark's managers, not through create") {
    val dir = tempDir("graft_cfm_other")
    val conf = new Configuration()
    conf.set(s"fs.$OtherScheme.impl", classOf[OtherSchemeFs].getName)
    // CheckpointFileManager.create would build this class again
    conf.set(Key, classOf[LocalCheckpointFileManager].getName)
    val p = new Path(s"$OtherScheme:$dir/0")
    val m = manager(p, conf)
    // FileContext has no AbstractFileSystem for the scheme: create's
    // fallback
    assert(m.impl.isInstanceOf[FileSystemBasedCheckpointFileManager])
    write(m, p, "v1\nother", overwrite = false)
    assert(read(m, p) == "v1\nother")
    assert(Files.readString(Paths.get(dir, "0")) == "v1\nother")
    val local = manager(new Path(dir), conf).impl
    assert(!local.isInstanceOf[AbstractFileContextBasedCheckpointFileManager] &&
      !local.isInstanceOf[FileSystemBasedCheckpointFileManager])
  }

  private def crcFiles(ckpt: String): Seq[String] = {
    val walk = Files.walk(Paths.get(ckpt))
    try walk.iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".crc")).toVector
    finally walk.close()
  }

  /** One AvailableNow drain of `<root>/spool` into `<root>/out`,
    * checkpointed at `<root>/ckpt` under `managerClass` if given, else
    * under the session's choice; returns the ingested event ids.
    */
  private def ingest(root: String, managerClass: Option[String]): Seq[Long] = {
    val (sid, gen, cls) = Unified2Fixture.writeMaps(s"$root/maps")
    StreamOps.withConfs(spark, managerClass.map(Key -> _).toSeq: _*)(
      Spool.tailIngest(spark, Seq(s"$root/spool"), "snort.log", "sM", sid,
        gen, cls, s"$root/out", s"$root/ckpt", availableNow = true))
    spark.read.parquet(s"$root/out").select(col("event_id")).collect()
      .map(_.getLong(0)).sorted.toSeq
  }

  private def newAlert(spool: String): Unit =
    Files.write(Paths.get(spool, "snort.log.1700000500"),
      Unified2Fixture.eventV2(1, 44, 1700000500L, 1000001, 1, 3, 2, 1,
        Array[Byte](10, 1, 1, 1), Array[Byte](10, 2, 2, 2), 7, 8, 6))

  test("a checkpoint moves between Spark's default manager and graft's, both ways") {
    val sparkDefault = classOf[FileContextBasedCheckpointFileManager].getName
    Seq(Some(sparkDefault) -> None, None -> Some(sparkDefault)).foreach {
      case (first, second) =>
        val root = tempDir("graft_cfm_move")
        val spool = Unified2Fixture.writeSpool(s"$root/spool")
        val ckpt = s"$root/ckpt"
        assert(ingest(root, first) == (1L to 7L))
        assert(crcFiles(ckpt).nonEmpty == first.isDefined,
          s"first leg under ${first.getOrElse("graft's manager")}")
        newAlert(spool)
        assert(ingest(root, second) == (1L to 7L) :+ 44L)
        assert(Files.exists(Paths.get(ckpt, "commits", "1")))
        assert(Files.exists(Paths.get(ckpt, "commits", ".1.crc")) ==
          second.isDefined)
    }
  }

  test("the manager conf is the same after a drain and a tailIngest as before the call") {
    val callerSet = classOf[FileSystemBasedCheckpointFileManager].getName
    Seq(None, Some(callerSet)).foreach { before =>
      before.fold(spark.conf.unset(Key))(spark.conf.set(Key, _))
      try {
        val root = tempDir("graft_cfm_conf")
        spark.range(5).write.parquet(s"$root/src")
        val ckpt = s"$root/drain_ckpt"
        val drained = StreamOps.drain(spark,
          spark.readStream.schema("id BIGINT").parquet(s"$root/src"),
          OutputMode.Append(), ckpt = Some(ckpt))
        assert(drained.count() == 5)
        assert(spark.conf.getOption(Key) == before)
        // the caller's manager wins: Hadoop's checksummed local
        // filesystem writes .crc siblings, graft's manager none
        assert(crcFiles(ckpt).nonEmpty == before.isDefined)

        val spool = Unified2Fixture.writeSpool(s"$root/spool")
        assert(ingest(root, None) == (1L to 7L))
        assert(spark.conf.getOption(Key) == before)
        val (sid, gen, cls) = Unified2Fixture.writeMaps(s"$root/maps")
        val q = Spool.tailIngest(spark, Seq(spool), "snort.log", "sM", sid,
          gen, cls, s"$root/out_f", s"$root/ckpt_f", availableNow = false)
        try {
          assert(spark.conf.getOption(Key) == before)
          q.processAllAvailable()
        } finally q.stop()
        assert(crcFiles(s"$root/ckpt_f").nonEmpty == before.isDefined)
      } finally spark.conf.unset(Key)
    }
  }
}

object CheckpointManagerSpec {
  val Key = "spark.sql.streaming.checkpointFileManagerClass"
  val OtherScheme = "graftother"
}

/** The local filesystem under a scheme of its own, which FileContext
  * does not know.
  */
class OtherSchemeFs extends RawLocalFileSystem {
  override def getUri: java.net.URI =
    java.net.URI.create(s"${CheckpointManagerSpec.OtherScheme}:///")
  override def getScheme: String = CheckpointManagerSpec.OtherScheme
}
