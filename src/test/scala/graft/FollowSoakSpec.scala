package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.Unified2Fixture
import graft.streaming.Spool

/** Bounded multi-batch soak of Charlotte's `follow` mode (VERDICT r18
  * #7): one CONTINUOUS tailIngest query (availableNow = false — the
  * daemon-equivalent path `Charlotte.run` starts) driven across
  * micro-batches while the spool rolls over and the operator edits
  * sid-msg.map on disk, then stopped via the daemon's signal path and
  * resumed from its checkpoint. Pins the reference daemon loop's two
  * liveness contracts (__init__.py:155-211): map rehash applies to
  * the NEXT batch without a restart, and the bookmark makes
  * stop/start exactly-once.
  */
class FollowSoakSpec extends SparkSuite {

  test("follow: hot-reload mid-follow, signal stop, checkpoint resume") {
    val root = tempDir("graft-followsoak")
    val spool = s"$root/spool"
    Unified2Fixture.writeSpool(spool)
    val (sid, gen, cls) = Unified2Fixture.writeMaps(s"$root/maps")
    val out = s"$root/out"
    val ckpt = s"$root/ckpt"

    def follow() = Spool.tailIngest(spark, Seq(spool), "snort.log", "s1",
      sid, gen, cls, out, ckpt, availableNow = false)
    def sunk() = spark.read.parquet(out)

    val q1 = follow()
    val base = try {
      // batch 1: the pre-existing spool drains
      q1.processAllAvailable()
      val v1 = sunk()
      val n1 = v1.count()
      assert(n1 > 0, "initial spool must ingest under follow")
      assert(v1.filter(col("signature_id") === 1000001L &&
        col("sig_msg") === "WEB-MISC test http alert").count() > 0)

      // mid-follow, no restart: operator edits the ruleset on disk,
      // then the sensor rolls over a new spool file
      Files.writeString(Paths.get(sid),
        """|1000001 || WEB-MISC test http alert RENAMED
           |1000002 || DNS suspicious query
           |1000003 || POLICY http proxy connect
           |""".stripMargin)
      Files.write(Paths.get(spool, "snort.log.1700000300"),
        Unified2Fixture.eventV2(1, 42, 1700000300L, 1000001, 1, 3, 2, 1,
          Array[Byte](10, 1, 1, 1), Array[Byte](10, 2, 2, 2), 7, 8, 6))
      q1.processAllAvailable()
      val v2 = sunk()
      assert(v2.count() == n1 + 1, "rolled-over file must ingest in-follow")
      val fresh = v2.filter(col("event_id") === 42L).collect()
      assert(fresh.length == 1)
      assert(fresh.head.getAs[String]("sig_msg") ==
        "WEB-MISC test http alert RENAMED",
        "map edit must apply to the next micro-batch without a restart")
      // ...and history is not rewritten (append-only sink)
      assert(v2.filter(col("sig_msg") === "WEB-MISC test http alert")
        .count() == v1.filter(col("sig_msg") === "WEB-MISC test http alert")
        .count())
      n1 + 1
    } finally {
      // the daemon's shutdown half: stop at a micro-batch boundary so
      // the bookmark commits (Charlotte's TERM/INT handler body)
      Charlotte.stopActiveQueries(spark)
      assert(!q1.isActive, "stopActiveQueries must stop the follow query")
    }

    // while the daemon is down, another file arrives; a restarted
    // follow resumes from the committed bookmark: exactly the new
    // file's rows, nothing re-read
    Files.write(Paths.get(spool, "snort.log.1700000400"),
      Unified2Fixture.eventV2(1, 43, 1700000400L, 1000002, 1, 1, 3, 2,
        Array[Byte](10, 3, 3, 3), Array[Byte](10, 4, 4, 4), 5353, 53, 17))
    val q2 = follow()
    try {
      q2.processAllAvailable()
      val v3 = sunk()
      assert(v3.count() == base + 1,
        s"resume must add exactly one row, got ${v3.count()} vs $base")
      assert(v3.filter(col("event_id") === 43L).count() == 1)
      assert(v3.filter(col("event_id") === 42L).count() == 1,
        "resume must not re-ingest the pre-stop rollover file")
    } finally q2.stop()
  }
}
