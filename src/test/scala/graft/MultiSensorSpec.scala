package graft

import org.apache.spark.sql.functions._

import graft.snort.{Maps, SnortStar}
import graft.sources.{Unified2, Unified2Fixture}

/** Multi-sensor deployments: the reference runs one follower process
  * per spool and keeps per-sensor cid counters in the DB
  * (__init__.py:213-283, 554-570). Here both collapse to a union of
  * per-sensor record feeds and a window partitioned by sensor — this
  * spec pins that cids are assigned independently per sensor and that
  * the sensor dimension keys stay stable.
  */
class MultiSensorSpec extends SparkSuite {

  test("per-sensor cid sequences are independent and dims stable") {
    val root = tempDir("graft-multisensor")
    Unified2Fixture.writeSpool(s"$root/a")
    Unified2Fixture.writeSpool(s"$root/b")
    val (sid, gen, cls) = Unified2Fixture.writeMaps(s"$root/maps")

    val recs = Unified2.records(spark, Seq(s"$root/a"), "snort.log", "alpha")
      .unionByName(
        Unified2.records(spark, Seq(s"$root/b"), "snort.log", "beta"))
    val alerts = Maps.enrichClassifications(
      Maps.enrichSignatures(Unified2.alerts(recs),
        Maps.combinedSigMap(spark, sid, gen)),
      Maps.classMap(spark, cls))

    val star = SnortStar.normalize(alerts)
    val sensors = star("sensor").orderBy(col("sensor_sid")).collect()
    assert(sensors.map(r => (r.getAs[String]("sensor"),
      r.getAs[Long]("sensor_sid"))).toSeq == Seq("alpha" -> 1L, "beta" -> 2L))

    val events = star("event").collect()
    val bySid = events.groupBy(_.getAs[Long]("sid"))
    // each sensor independently gets cids 1..8 (7 alerts, one 2-packet)
    Seq(1L, 2L).foreach { s =>
      assert(bySid(s).map(_.getAs[Long]("cid")).sorted.toSeq == (1L to 8L),
        s"sensor $s cid sequence broken")
    }
    // fact tables partition cleanly by sensor
    assert(star("iphdr").select(col("sid")).distinct().count() == 2)
  }

  test("bulk ingest preserves alert counts end-to-end") {
    val events = q("u2_bulk_ingest", sfDir)
    // 60000 alerts, 1 packet each -> one event row per alert
    assert(events.count() == 60000L)
    assert(events.select(max(col("cid"))).collect().head.getLong(0) == 60000L)
  }
}
