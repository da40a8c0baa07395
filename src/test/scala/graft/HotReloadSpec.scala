package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}

import org.apache.spark.sql.functions._

import graft.sources.Unified2Fixture
import graft.streaming.Spool

/** Map hot-reload semantics: the reference rehashes sid-msg.map when
  * its mtime changes (__init__.py:155-211); graft parses a map again
  * when its (mtime, size, file key) stamp changes, so edits apply to
  * the NEXT batch without a restart — and without rewriting history
  * already ingested.
  */
class HotReloadSpec extends SparkSuite {

  test("edited sid-msg.map applies to the next micro-batch only") {
    val root = tempDir("graft-hotreload")
    val spool = s"$root/spool"
    Unified2Fixture.writeSpool(spool)
    val (sid, gen, cls) = Unified2Fixture.writeMaps(s"$root/maps")
    val out = s"$root/out"
    val ckpt = s"$root/ckpt"

    def ingest(): Unit = Spool.ingestOnce(spark, Seq(spool), "snort.log",
      "s1", sid, gen, cls, out, ckpt)

    ingest()
    val v1 = spark.read.parquet(out)
    assert(v1.filter(col("signature_id") === 1000001L &&
      col("sig_msg") === "WEB-MISC test http alert").count() > 0)

    // operator updates the ruleset on disk: 1000001 gets a new message
    Files.writeString(Paths.get(sid),
      """|1000001 || WEB-MISC test http alert RENAMED
         |1000002 || DNS suspicious query
         |1000003 || POLICY http proxy connect
         |""".stripMargin)
    // rollover: a new alert with sig 1000001 arrives
    val extra = Unified2Fixture.eventV2(1, 42, 1700000200L, 1000001, 1, 3,
      2, 1, Array[Byte](10, 1, 1, 1), Array[Byte](10, 2, 2, 2), 7, 8, 6)
    Files.write(Paths.get(spool, "snort.log.1700000200"), extra)

    ingest()
    val v2 = spark.read.parquet(out)
    // the new alert is enriched with the UPDATED message...
    val newRow = v2.filter(col("event_id") === 42L).collect()
    assert(newRow.length == 1)
    assert(newRow.head.getAs[String]("sig_msg") ==
      "WEB-MISC test http alert RENAMED")
    // ...while already-ingested rows are untouched (append-only sink)
    assert(v2.filter(col("sig_msg") === "WEB-MISC test http alert")
      .count() == v1.filter(col("sig_msg") === "WEB-MISC test http alert")
      .count())
  }

  private val Renamed = "WEB-MISC TEST HTTP ALERT"
  private def attrs(p: Path) =
    Files.readAttributes(p, classOf[BasicFileAttributes])

  /** One running follow query over the fixture spool: drains it, lets
    * `edit` change sid-msg.map, rolls over a file holding one new
    * sid-1000001 alert, and checks that this next batch, and only it,
    * carries the edited message.
    */
  private def followAcrossEdit(name: String)(edit: Path => Unit): Unit = {
    val root = tempDir(name)
    val spool = s"$root/spool"
    Unified2Fixture.writeSpool(spool)
    val (sid, gen, cls) = Unified2Fixture.writeMaps(s"$root/maps")
    val out = s"$root/out"
    val q = Spool.tailIngest(spark, Seq(spool), "snort.log", "s1", sid, gen,
      cls, out, s"$root/ckpt", availableNow = false)
    try {
      q.processAllAvailable()
      val n1 = spark.read.parquet(out).count()
      assert(n1 == 7)
      edit(Paths.get(sid))
      Files.write(Paths.get(spool, "snort.log.1700000500"),
        Unified2Fixture.eventV2(1, 44, 1700000500L, 1000001, 1, 3, 2, 1,
          Array[Byte](10, 1, 1, 1), Array[Byte](10, 2, 2, 2), 7, 8, 6))
      q.processAllAvailable()
      val v2 = spark.read.parquet(out)
      assert(v2.count() == n1 + 1)
      assert(v2.filter(col("sig_msg") === Renamed).collect()
        .map(_.getAs[Long]("event_id")).toSeq == Seq(44L),
        "the edit must apply to the next batch, and only to it")
    } finally q.stop()
  }

  test("follow: a same-length in-place map edit with a new mtime applies to the next batch") {
    followAcrossEdit("graft-hotreload-inplace") { sid =>
      val before = attrs(sid)
      val text = Files.readString(sid)
      Files.writeString(sid, text.replace("WEB-MISC test http alert", Renamed))
      Files.setLastModifiedTime(sid, FileTime.fromMillis(
        before.lastModifiedTime.toMillis + 10000L))
      val after = attrs(sid)
      assert(after.size == before.size)
      assert(after.fileKey == before.fileKey)
    }
  }

  test("follow: a map renamed over the old one applies to the next batch") {
    followAcrossEdit("graft-hotreload-rename") { sid =>
      val before = attrs(sid)
      val next = sid.resolveSibling("sid-msg.map.new")
      Files.writeString(next,
        Files.readString(sid).replace("WEB-MISC test http alert", Renamed))
      // same size and mtime: only the file key tells the files apart
      Files.setLastModifiedTime(next, before.lastModifiedTime)
      Files.move(next, sid, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      val after = attrs(sid)
      assert(after.size == before.size)
      assert(after.lastModifiedTime == before.lastModifiedTime)
      assume(after.fileKey != null && after.fileKey != before.fileKey,
        "the filesystem exposes no distinct file keys")
    }
  }

  test("stamped maps parse again only after a stamp changes") {
    val root = Paths.get(tempDir("graft-stamped"))
    val (sid, _, _) = Unified2Fixture.writeMaps(root.toString)
    var parses = 0
    val maps = new Spool.StampedMaps(Seq(sid), {
      parses += 1
      graft.snort.Maps.sigMap(spark, sid)
    })
    val first = maps()
    assert(maps() eq first)
    assert(parses == 1)
    Files.setLastModifiedTime(Paths.get(sid), FileTime.fromMillis(
      attrs(Paths.get(sid)).lastModifiedTime.toMillis + 10000L))
    assert(maps() ne first)
    assert(parses == 2)
  }

  test("map reloads do not grow the number of live map broadcasts") {
    val root = tempDir("graft-stamped-bc")
    val (sid, gen, _) = Unified2Fixture.writeMaps(root)
    val maps = Spool.StampedMaps.broadcast(spark, Seq(sid, gen))(
      graft.snort.Maps.sigLookup(sid, gen))
    def live(bcs: Seq[org.apache.spark.broadcast.Broadcast[_]]) =
      bcs.count(b => scala.util.Try(b.value).isSuccess)
    val first = maps()
    assert(maps() eq first, "an unchanged stamp keeps its broadcast")
    val seen = first +: (1 to 5).map { _ =>
      Files.setLastModifiedTime(Paths.get(sid), FileTime.fromMillis(
        attrs(Paths.get(sid)).lastModifiedTime.toMillis + 10000L))
      val b = maps()
      assert(b.value == graft.snort.Maps.sigLookup(sid, gen))
      b
    }
    assert(seen.distinct.length == 6, "every stamp change broadcasts anew")
    assert(live(seen) == 1, "each reload destroys the broadcast it replaces")
    assert(seen.last eq maps())
  }
}
