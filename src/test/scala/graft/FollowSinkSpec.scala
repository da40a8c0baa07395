package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path}
import org.apache.spark.sql.functions.col

import graft.snort.Maps
import graft.sources.Unified2Fixture
import graft.streaming.Spool

/** The follow sink across the queries and batches of one run: the
  * spools of a run share one parsed map set, and only a started
  * query's first batch scans the warehouse for a replayed attempt.
  */
class FollowSinkSpec extends SparkSuite {

  private val Renamed = "WEB-MISC TEST HTTP ALERT"

  private def newAlert(spool: String): Unit =
    Files.write(Paths.get(spool, "snort.log.1700000500"),
      Unified2Fixture.eventV2(1, 44, 1700000500L, 1000001, 1, 3, 2, 1,
        Array[Byte](10, 1, 1, 1), Array[Byte](10, 2, 2, 2), 7, 8, 6))

  test("two followed spools sharing one map set parse each map once per stamp") {
    val root = tempDir("graft-sharedmaps")
    val spools = Seq("a", "b").map(n =>
      Unified2Fixture.writeSpool(s"$root/spool_$n"))
    val (sid, gen, cls) = Unified2Fixture.writeMaps(s"$root/maps")
    val sigParses = new AtomicInteger
    val classParses = new AtomicInteger
    val maps = new Spool.SinkMaps(
      Spool.StampedMaps.broadcast(spark, Seq(sid, gen)) {
        sigParses.incrementAndGet(); Maps.sigLookup(sid, gen) },
      Spool.StampedMaps.broadcast(spark, Seq(cls)) {
        classParses.incrementAndGet(); Maps.classLookup(cls) })
    val qs = spools.zipWithIndex.map { case (spool, i) =>
      Spool.tailIngest(spark, Seq(spool), "snort.log", s"s$i", maps,
        s"$root/out$i", s"$root/ckpt$i", availableNow = false)
    }
    try {
      qs.foreach(_.processAllAvailable())
      assert(sigParses.get == 1 && classParses.get == 1)
      // the operator renames an edited sid-msg.map over the old one
      val next = Paths.get(s"$sid.next")
      Files.writeString(next, Files.readString(Paths.get(sid))
        .replace("WEB-MISC test http alert", Renamed))
      Files.setLastModifiedTime(next, FileTime.fromMillis(
        Files.getLastModifiedTime(Paths.get(sid)).toMillis + 10000L))
      Files.move(next, Paths.get(sid), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      spools.foreach(newAlert)
      qs.foreach(_.processAllAvailable())
      qs.foreach(q => assert(q.isActive && q.exception.isEmpty))
      qs.indices.foreach { i =>
        val out = spark.read.parquet(s"$root/out$i")
        assert(out.count() == 8)
        assert(out.filter(col("sig_msg") === Renamed).collect()
          .map(_.getAs[Long]("event_id")).toSeq == Seq(44L))
      }
      assert(sigParses.get == 2, "sid-msg.map + gen-msg.map: two stamps")
      assert(classParses.get == 1, "classification.config: one stamp")
    } finally qs.foreach(_.stop())
  }

  test("a broadcast one batch reads outlives another query's reload") {
    val root = tempDir("graft-pinned-bc")
    val (sid, gen, _) = Unified2Fixture.writeMaps(root)
    val maps = Spool.StampedMaps.broadcast(spark, Seq(sid, gen))(
      Maps.sigLookup(sid, gen))
    def touch(): Unit = Files.setLastModifiedTime(Paths.get(sid),
      FileTime.fromMillis(
        Files.getLastModifiedTime(Paths.get(sid)).toMillis + 10000L))
    val held = maps.using { b =>
      touch()
      val reloaded = maps()
      assert(reloaded ne b)
      assert(b.value == reloaded.value, "the held broadcast is still live")
      b
    }
    assert(scala.util.Try(held.value).isFailure,
      "released once its batch is done")
    val current = maps()
    maps.using(b => assert(b eq current))
    assert(current.value.nonEmpty, "a batch's end keeps the current value")
  }

  test("only a started query's first batch lists the warehouse") {
    val root = tempDir("graft-listing")
    val spool = Unified2Fixture.writeSpool(s"$root/spool")
    val (sid, gen, cls) = Unified2Fixture.writeMaps(s"$root/maps")
    val out = s"$root/out"
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.file.impl", classOf[ListingCountFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    ListingCountFs.counts.clear()
    def listings = ListingCountFs.count(out)
    try {
      def follow() = Spool.tailIngest(spark, Seq(spool), "snort.log", "s1",
        sid, gen, cls, out, s"$root/ckpt", availableNow = false)
      val q = follow()
      try {
        q.processAllAvailable()
        assert(listings == 1, "the first batch looks for a replayed attempt")
        newAlert(spool)
        q.processAllAvailable()
        assert(q.recentProgress.count(_.numInputRows > 0) == 2)
        assert(listings == 1, "a later batch lists nothing")
      } finally q.stop()
      // a restart's first batch may be a replay: it looks again
      val again = follow()
      try {
        Files.write(Paths.get(spool, "snort.log.1700000600"),
          Unified2Fixture.eventV2(1, 45, 1700000600L, 1000001, 1, 3, 2, 1,
            Array[Byte](10, 1, 1, 1), Array[Byte](10, 2, 2, 2), 7, 8, 6))
        again.processAllAvailable()
      } finally again.stop()
      assert(listings == 3, "migration check at start + first batch")
      assert(spark.read.parquet(out).count() == 9)
    } finally {
      conf.unset("fs.file.impl")
      conf.unset("fs.file.impl.disable.cache")
    }
  }
}

/** The local filesystem, counting `listStatus` calls per directory. */
class ListingCountFs extends LocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    ListingCountFs.counts.computeIfAbsent(
      new java.io.File(f.toUri.getPath).getAbsolutePath,
      _ => new AtomicInteger).incrementAndGet()
    super.listStatus(f)
  }
}

object ListingCountFs {
  val counts = new ConcurrentHashMap[String, AtomicInteger]()
  def count(dir: String): Int =
    Option(counts.get(new java.io.File(dir).getAbsolutePath))
      .map(_.get).getOrElse(0)
}
