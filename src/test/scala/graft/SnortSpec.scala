package graft

import org.apache.spark.sql.functions._

import graft.snort.{Maps, SnortStar}
import graft.sources.{Unified2, Unified2Fixture}

/** Golden tests for the charlotte-native pipeline: the fixture spool
  * plants known field values (see Unified2Fixture); every stage must
  * recover them exactly.
  */
class SnortSpec extends SparkSuite {

  test("u2_parse recovers planted record structure") {
    val recs = q("u2_parse", sfDir).collect()
    // 6 ipv4 events + 1 ipv6 event + 6 packets + 1 extra-data
    assert(recs.length == 14)
    assert(recs.count(_.getAs[Int]("rec_type") == Unified2.EventV2) == 6)
    assert(recs.count(_.getAs[Int]("rec_type") == Unified2.EventIp6V2) == 1)
    assert(recs.count(_.getAs[Int]("rec_type") == Unified2.Packet) == 6)
    assert(recs.count(_.getAs[Int]("rec_type") == Unified2.ExtraData) == 1)
    val e1 = recs.find(r => r.getAs[Int]("rec_type") == Unified2.EventV2 &&
      r.getAs[Long]("event_id") == 1L).get
    assert(e1.getAs[Long]("signature_id") == 1000001L)
    assert(e1.getAs[Long]("generator_id") == 1L)
    assert(e1.getAs[Long]("signature_revision") == 3L)
    assert(e1.getAs[Long]("classification_id") == 2L)
    assert(e1.getAs[Long]("priority_id") == 1L)
    assert(e1.getAs[Int]("sport_itype") == 12345)
    assert(e1.getAs[Int]("dport_icode") == 80)
    assert(e1.getAs[Int]("protocol") == 6)
    assert(e1.getAs[Long]("event_second") == 1700000000L)
  }

  test("u2_events assembles packets and extra data per alert") {
    val ev = q("u2_events", sfDir).collect()
    assert(ev.length == 7)
    val byId = ev.map(r => r.getAs[Long]("event_id") -> r).toMap
    assert(byId(1L).getAs[String]("src_ip") == "10.0.0.1")
    assert(byId(1L).getAs[String]("dst_ip") == "192.168.1.10")
    assert(byId(1L).getAs[Int]("n_packets") == 1)
    assert(byId(4L).getAs[Int]("n_packets") == 2) // two-packet alert
    assert(byId(5L).getAs[Int]("n_extra") == 1) // extra-data alert
    assert(byId(6L).getAs[Int]("n_packets") == 0) // packet-less alert
    // ipv6 alert renders RFC 5952
    assert(byId(7L).getAs[String]("src_ip") == "2001:db8::1")
  }

  test("map parsers recover sid/gen/class entries") {
    val sig = q("sigmap_parse", sfDir).collect()
    assert(sig.length == 3)
    assert(sig.head.getAs[Long]("sid") == 1000001L)
    assert(sig.head.getAs[String]("msg") == "WEB-MISC test http alert")
    assert(sig.head.getAs[String]("refs") == "url,example.com")
    val gen = q("genmap_parse", sfDir).collect()
    assert(gen.length == 2)
    assert(gen.last.getAs[Long]("gid") == 116L)
    val cls = q("classmap_parse", sfDir).collect()
    assert(cls.length == 3)
    assert(cls(1).getAs[Long]("class_id") == 2L)
    assert(cls(1).getAs[String]("class_name") == "attempted-recon")
    assert(cls(1).getAs[Long]("class_priority") == 2L)
  }

  test("sig_enrich applies map hits and Unknown Alert fallback") {
    val rows = q("sig_enrich", sfDir).collect()
    val byId = rows.map(r => r.getAs[Long]("event_id") -> r).toMap
    assert(byId(1L).getAs[String]("sig_msg") == "WEB-MISC test http alert")
    assert(byId(1L).getAs[Long]("sig_rev") == 3L)
    // event 3 has unmapped sig 9999999 -> reference fallback values
    assert(byId(3L).getAs[String]("sig_msg") == "Unknown Alert 1:9999999")
    assert(byId(3L).getAs[Long]("sig_rev") == 0L)
    assert(byId(3L).getAs[Long]("sig_priority") == 10L)
  }

  test("class_enrich applies names and unknown-classification fallback") {
    val rows = q("class_enrich", sfDir).collect()
    val byId = rows.map(r => r.getAs[Long]("event_id") -> r).toMap
    assert(byId(1L).getAs[String]("class_name") == "attempted-recon")
    // event 3 has class 0 (unmapped)
    assert(byId(3L).getAs[String]("class_name") == "unknown-classification")
  }

  test("packet_decode extracts IP/TCP/UDP/ICMP headers") {
    val rows = q("packet_decode", sfDir).collect()
    assert(rows.length == 6)
    val byEvent = rows.groupBy(_.getAs[Long]("event_id"))
    val tcp = byEvent(1L).head
    assert(tcp.getAs[Int]("ip_ver") == 4)
    assert(tcp.getAs[Int]("ip_proto") == 6)
    assert(tcp.getAs[String]("ip_src") == "10.0.0.1")
    assert(tcp.getAs[String]("ip_dst") == "192.168.1.10")
    assert(tcp.getAs[Int]("sport") == 12345)
    assert(tcp.getAs[Int]("dport") == 80)
    assert(tcp.getAs[Long]("tcp_seq") == 1000L)
    assert(tcp.getAs[Long]("tcp_ack") == 2000L)
    assert(tcp.getAs[Int]("tcp_flags") == 0x18)
    assert(tcp.getAs[Int]("ip_ttl") == 64)
    assert(new String(java.util.HexFormat.of()
      .parseHex(tcp.getAs[String]("payload_hex"))) == "GET / HTTP/1.0")
    val udp = byEvent(2L).head
    assert(udp.getAs[Int]("ip_proto") == 17)
    assert(udp.getAs[Int]("udp_len") == 20)
    val icmp = byEvent(3L).head
    assert(icmp.getAs[Int]("icmp_type") == 8)
    assert(icmp.getAs[Int]("icmp_id") == 42)
    assert(icmp.getAs[Int]("icmp_seq") == 7)
    val v6 = byEvent(7L).head
    assert(v6.getAs[Int]("ip_ver") == 6)
    assert(v6.getAs[Int]("ip_proto") == 6)
    assert(v6.getAs[String]("ip_src") == "2001:db8:0:0:0:0:0:1")
    assert(v6.getAs[Int]("sport") == 40000)
    assert(v6.getAs[Int]("dport") == 443)
    assert(new String(java.util.HexFormat.of()
      .parseHex(v6.getAs[String]("payload_hex"))) == "V6DATA")
  }

  test("alertsAssembled is column-for-column identical to the join-based alerts()") {
    val root = Unified2Fixture.defaultRoot()
    val spool = Unified2Fixture.writeSpool(s"$root/spool-asm")
    val joined = Unified2.alerts(
      Unified2.records(spark, Seq(spool), "snort.log", "demo1"))
    val assembled =
      Unified2.alertsAssembled(spark, Seq(spool), "snort.log", "demo1")
    assert(assembled.columns.toSeq == joined.columns.toSeq,
      "column order must match the join-based schema")
    // to_json canonicalizes nested structs, binary (base64), slot
    // order, NULL-vs-empty and event_ts on both sides
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy(col("sensor"), col("src_file"), col("event_id"))
        .select(to_json(struct(df.columns.map(col): _*)).as("j"))
        .collect().toSeq.map(_.getString(0))
    val jRows = canon(joined)
    val aRows = canon(assembled)
    assert(aRows.length == jRows.length)
    aRows.zip(jRows).foreach { case (a, j) =>
      assert(a == j, s"mismatch:\n  $a\nvs\n  $j")
    }
  }

  test("assembleFile handles orphan slots, out-of-order records, and duplicate event keys") {
    import Unified2._
    def ev(idx: Int, eid: Long) = U2Record("f", idx, EventV2,
      sensor_id = Some(1L), event_id = Some(eid), event_second = Some(100L),
      event_microsecond = Some(0L), signature_id = Some(7L))
    def pkt(idx: Int, eid: Long) = U2Record("f", idx, Packet,
      sensor_id = Some(1L), event_id = Some(eid), event_second = Some(100L),
      packet_second = Some(100L), packet_data = Some(Array[Byte](idx.toByte)))
    // packet BEFORE its event; an orphan packet (eid 99); duplicate
    // event key (two eid-5 events) sharing two packets
    val out = assembleFile("s", Seq(
      pkt(0, 5), ev(1, 5), pkt(2, 99), pkt(3, 5), ev(4, 5)))
    assert(out.length == 2, "both duplicate-key events must assemble")
    out.foreach { a =>
      val slots = a.packets.get.map(_.rec_index)
      assert(slots == Seq(0, 3),
        s"each event sees the full slot list in rec order: $slots")
    }
    // orphan packet (no matching event) must not produce an alert
    assert(!out.exists(_.event_id.contains(99L)))
    // event with no packets -> NULL (None), like the left join
    val lone = assembleFile("s", Seq(ev(0, 1)))
    assert(lone.head.packets.isEmpty && lone.head.extra.isEmpty)
  }

  test("star_normalize assigns per-sensor consecutive cids, one per packet slot") {
    val star = SnortStar.normalize(SnortOps.fixtureAlerts(spark))
    val events = star("event").orderBy(col("cid")).collect()
    // 7 alerts, one with 2 packets -> 8 event rows, cids 1..8
    assert(events.length == 8)
    assert(events.map(_.getAs[Long]("cid")).toSeq == (1L to 8L))
    assert(events.map(_.getAs[Long]("sid")).distinct.toSeq == Seq(1L))
    val ip = star("iphdr").collect()
    assert(ip.length == 5) // ipv4 packets only (snorby u32 schema)
    val tcp = star("tcphdr").collect()
    assert(tcp.length == 4) // events 1, 4 (x2), 7 (ipv6 tcp)
    assert(star("udphdr").count() == 1)
    assert(star("icmphdr").count() == 1)
    val data = star("data").collect()
    assert(data.length == 6)
    val sensors = star("sensor").collect()
    assert(sensors.length == 1 &&
      sensors.head.getAs[String]("sensor") == "sensor1")
    val sigs = star("signature").collect()
    assert(sigs.length == 4) // 3 mapped sigs + 1 unknown
  }

  test("u2_extra renders the planted extra-data blob as typed text") {
    val rows = q("u2_extra", sfDir).collect()
    assert(rows.nonEmpty)
    val planted = rows.find(_.getAs[Long]("event_id") == 5L).get
    assert(planted.getAs[Int]("extra_type") == 9)
    assert(planted.getAs[String]("type_name") == "smtp_rcpt_to")
    assert(planted.getAs[String]("value_text") == "http://evil.example/")
  }

  test("star_report totals reconcile with the event fact table") {
    val star = SnortStar.normalize(SnortOps.fixtureAlerts(spark))
    val report = q("star_report", sfDir).collect()
    assert(report.nonEmpty)
    // every event row is attributed to exactly one signature
    assert(report.map(_.getAs[Long]("n_events")).sum ==
      star("event").count())
    // talker counts can't exceed event counts
    assert(report.forall(r =>
      r.getAs[Long]("n_src") <= r.getAs[Long]("n_events")))
  }

  test("star parquet sink roundtrips partitioned by sensor") {
    val star = SnortStar.normalize(SnortOps.fixtureAlerts(spark))
    val out = "target/star_out"
    SnortStar.writeParquet(star, out)
    val back = spark.read.parquet(s"$out/event")
    assert(back.count() == 8)
    assert(back.columns.contains("sid")) // partition column survives
  }

  test("u2_text renders u2fast-style lines") {
    val rows = q("u2_text", sfDir).collect()
    val line1 = rows.find(_.getAs[Long]("event_id") == 1L).get
      .getAs[String]("line")
    assert(line1.contains("[1:1000001:3] WEB-MISC test http alert"))
    assert(line1.contains("[Classification: attempted-recon]"))
    assert(line1.contains("[Priority: 1]"))
    assert(line1.contains("{TCP} 10.0.0.1:12345 -> 192.168.1.10:80"))
  }

  test("inet functions roundtrip") {
    val rows = q("inet_funcs", sfDir).limit(5).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("x") == r.getAs[Long]("rt"))
      assert(r.getAs[String]("ip").split("\\.").length == 4)
    }
  }

  test("alerts() builds no alert from a short-bodied event record") {
    import spark.implicits._
    val short = java.nio.ByteBuffer.allocate(18).putInt(Unified2.EventV2)
      .putInt(10).array()
    val recs = Unified2.parseFile("f", short).toDF()
      .withColumn("sensor", lit("s"))
    assert(recs.count() == 1)
    assert(Unified2.alerts(recs).count() == 0)
  }

  test("enrichment keeps the alert columns, then the map columns, in order") {
    val root = tempDir("graft-enrich")
    val (sid, gen, cls) = Unified2Fixture.writeMaps(s"$root/maps")
    val alerts = Unified2.alerts(Unified2.records(spark,
      Seq(Unified2Fixture.writeSpool(s"$root/spool")), "snort.log", "s1"))
    val sigs = Maps.enrichSignatures(alerts,
      Maps.combinedSigMap(spark, sid, gen))
    val both = Maps.enrichClassifications(sigs, Maps.classMap(spark, cls))
    assert(both.columns.toSeq == alerts.columns.toSeq ++ Seq("sig_msg",
      "sig_rev", "sig_priority", "class_name", "class_desc",
      "class_priority"))
    val t = both.schema
    assert(t("sig_msg").dataType == org.apache.spark.sql.types.StringType)
    assert(!t("sig_msg").nullable)
    Seq("sig_rev", "sig_priority", "class_priority").foreach(c =>
      assert(t(c).dataType == org.apache.spark.sql.types.LongType, c))
    assert(!t("sig_rev").nullable)
    assert(!t("class_name").nullable)
    // a map with extra columns passes them through after sig_msg
    assert(Maps.enrichSignatures(alerts, Maps.sigMap(spark, sid))
      .columns.toSeq.takeRight(4) ==
      Seq("sig_msg", "refs", "sig_rev", "sig_priority"))
    assert(both.count() == 7)
  }

  test("a (gid, sid) repeated in a map file keeps its last line, one row per alert") {
    val root = java.nio.file.Paths.get(tempDir("graft-dupmap"))
    val (_, _, cls) = Unified2Fixture.writeMaps(s"$root/maps")
    val sid = root.resolve("sid-msg.map")
    java.nio.file.Files.writeString(sid,
      """|1000001 || WEB-MISC test http alert || url,example.com
         |1000002 || DNS suspicious query
         |1000003 || POLICY http proxy connect
         |1000001 || WEB-MISC test http alert v2
         |""".stripMargin)
    val gen = root.resolve("gen-msg.map")
    java.nio.file.Files.writeString(gen,
      """|116 || 1 || snort decoder alert
         |116 || 1 || snort decoder alert v2
         |""".stripMargin)
    // the parsers keep every line
    assert(Maps.sigMap(spark, sid.toString).count() == 4)
    assert(Maps.genMap(spark, gen.toString).count() == 2)
    val combined = Maps.combinedSigMap(spark, sid.toString, gen.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2))
    assert(combined.length == 4)
    assert(combined.toMap == Map(
      (1L, 1000001L) -> "WEB-MISC test http alert v2",
      (1L, 1000002L) -> "DNS suspicious query",
      (1L, 1000003L) -> "POLICY http proxy connect",
      (116L, 1L) -> "snort decoder alert v2"))

    val recs = Unified2.records(spark,
      Seq(Unified2Fixture.writeSpool(s"$root/spool")), "snort.log", "s1")
    val enriched = Maps.enrichClassifications(
      Maps.enrichSignatures(Unified2.alerts(recs),
        Maps.combinedSigMap(spark, sid.toString, gen.toString)),
      Maps.classMap(spark, cls)).collect()
    // 7 alerts in the fixture, three of them sid 1000001: one row each
    assert(enriched.length == 7)
    assert(enriched.map(_.getAs[Long]("event_id")).distinct.length == 7)
    assert(enriched.count(_.getAs[String]("sig_msg") ==
      "WEB-MISC test http alert v2") == 3)
  }
}
