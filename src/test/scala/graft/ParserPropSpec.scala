package graft

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, StandardOpenOption}

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Arbitrary.arbitrary
import org.scalacheck.rng.Seed
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.DecodePacket
import graft.sources.{Unified2, Unified2Fixture}
import graft.sources.Unified2.U2Record

/** Property checks of the binary parsers, at a fixed seed: unified2
  * records written by [[Unified2Fixture]] parse back to every planted
  * field, and neither the unified2 framing nor the packet decoder
  * throws on hostile bytes (truncated, short-bodied, bit-flipped or
  * random).
  */
class ParserPropSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val Cases = 10000

  private def check(p: Prop): Unit = {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(Cases)
      .withWorkers(1)
      .withInitialSeed(Seed(20261019L))
    val res = Test.check(params, p)
    assert(res.passed, res.status.toString)
  }

  // readRange reads from a file channel: one scratch file, rewritten
  // per case
  private lazy val file = Files.createTempFile("graft_u2prop", ".u2")
  override def afterAll(): Unit =
    try Files.deleteIfExists(file) finally super.afterAll()

  private def readRange(bytes: Array[Byte], from: Long, until: Long)
      : List[U2Record] = {
    Files.write(file, bytes)
    val ch = FileChannel.open(file, StandardOpenOption.READ)
    try Unified2.readRange(ch, "f", from, until, 0).toList
    finally ch.close()
  }

  /** A record's fields, byte arrays compared by content. */
  private def fields(r: U2Record): List[Any] =
    r.productIterator.map {
      case Some(a: Array[Byte]) => Some(a.toSeq)
      case x => x
    }.toList

  private def u32(i: Int): Option[Long] = Some(Integer.toUnsignedLong(i))

  /** Record bytes plus the record the parser must return for them at
    * (file "f", index `idx`). */
  private case class Planted(bytes: Array[Byte], expect: Int => U2Record)

  private def bytesOf(n: Int): Gen[Array[Byte]] =
    Gen.listOfN(n, arbitrary[Byte]).map(_.toArray)
  private val blob: Gen[Array[Byte]] = Gen.choose(0, 48).flatMap(bytesOf)

  private val event: Gen[Planted] = for {
    v6 <- arbitrary[Boolean]
    ids <- Gen.listOfN(7, arbitrary[Int])
    second <- arbitrary[Long]
    src <- bytesOf(if (v6) 16 else 4)
    dst <- bytesOf(if (v6) 16 else 4)
    ports <- Gen.listOfN(3, arbitrary[Int])
  } yield {
    val Seq(sensor, eid, sig, gen, rev, cls, prio) = ids
    val Seq(sport, dport, proto) = ports
    val write =
      if (v6) Unified2Fixture.eventIp6V2 _ else Unified2Fixture.eventV2 _
    Planted(
      write(sensor, eid, second, sig, gen, rev, cls, prio, src, dst,
        sport, dport, proto),
      idx => U2Record("f", idx,
        if (v6) Unified2.EventIp6V2 else Unified2.EventV2,
        sensor_id = u32(sensor), event_id = u32(eid),
        event_second = u32(second.toInt), event_microsecond = Some(500000L),
        signature_id = u32(sig), generator_id = u32(gen),
        signature_revision = u32(rev), classification_id = u32(cls),
        priority_id = u32(prio), ip_source = Some(src),
        ip_destination = Some(dst), sport_itype = Some(sport & 0xffff),
        dport_icode = Some(dport & 0xffff), protocol = Some(proto & 0xff),
        impact_flag = Some(1), blocked = Some(0), mpls_label = Some(0L),
        vlan_id = Some(0)))
  }

  private val packet: Gen[Planted] = for {
    ids <- Gen.listOfN(2, arbitrary[Int])
    second <- arbitrary[Long]
    data <- blob
  } yield {
    val Seq(sensor, eid) = ids
    Planted(Unified2Fixture.packet(sensor, eid, second, data),
      idx => U2Record("f", idx, Unified2.Packet,
        sensor_id = u32(sensor), event_id = u32(eid),
        event_second = u32(second.toInt), packet_second = u32(second.toInt),
        packet_microsecond = Some(600000L), linktype = Some(1L),
        packet_data = Some(data)))
  }

  private val extra: Gen[Planted] = for {
    ids <- Gen.listOfN(3, arbitrary[Int])
    second <- arbitrary[Long]
    data <- blob
  } yield {
    val Seq(sensor, eid, xtype) = ids
    Planted(Unified2Fixture.extraData(sensor, eid, second, xtype, data),
      idx => U2Record("f", idx, Unified2.ExtraData,
        sensor_id = u32(sensor), event_id = u32(eid),
        event_second = u32(second.toInt), extra_type = u32(xtype),
        extra_data_type = Some(1L), extra_blob = Some(data)))
  }

  /** 1–6 records of the three kinds back to back, as one spool file. */
  private val spool: Gen[Seq[Planted]] =
    Gen.choose(1, 6).flatMap(Gen.listOfN(_, Gen.oneOf(event, packet, extra)))

  private def roundTrip(recs: Gen[Seq[Planted]]): Prop =
    Prop.forAll(recs) { ps =>
      val bytes = ps.flatMap(_.bytes).toArray
      val want = ps.indices.map(i => fields(ps(i).expect(i))).toList
      Unified2.parseFile("f", bytes).map(fields).toList == want &&
        readRange(bytes, 0, bytes.length).map(fields) == want
    }

  test("EVENT v2 records (IPv4 and IPv6) round-trip every planted field") {
    check(roundTrip(event.map(Seq(_))))
  }

  test("PACKET records round-trip every planted field") {
    check(roundTrip(packet.map(Seq(_))))
  }

  test("EXTRA_DATA records round-trip every planted field") {
    check(roundTrip(extra.map(Seq(_))))
  }

  test("mixed spools round-trip record by record, in file order") {
    check(roundTrip(spool))
  }

  /** parseFile over all of `bytes` and readRange over all of it and
    * over an arbitrary sub-span must return, whatever the bytes. */
  private def neverThrows(bytes: Gen[Array[Byte]]): Prop =
    Prop.forAll(bytes, arbitrary[Long], arbitrary[Long]) { (b, x, y) =>
      val n = b.length.toLong + 1
      val (from, until) = (Math.floorMod(x, n), Math.floorMod(y, n))
      Unified2.parseFile("f", b)
      readRange(b, 0, b.length)
      readRange(b, math.min(from, until), math.max(from, until))
      true
    }

  private val spoolBytes: Gen[Array[Byte]] =
    spool.map(_.flatMap(_.bytes).toArray)

  test("parse and readRange never throw on truncated spools") {
    check(neverThrows(for {
      b <- spoolBytes
      cut <- Gen.choose(0, b.length)
    } yield b.take(cut)))
  }

  test("parse and readRange never throw on short-bodied records") {
    val types = Seq(Unified2.EventV1, Unified2.EventIp6V1, Unified2.EventV2,
      Unified2.EventIp6V2, Unified2.Packet, Unified2.ExtraData)
    check(neverThrows(for {
      t <- Gen.oneOf(types)
      len <- Gen.choose(0, 75)
      body <- bytesOf(len)
      tail <- spoolBytes
    } yield ByteBuffer.allocate(8 + len + tail.length)
      .putInt(t).putInt(len).put(body).put(tail).array()))
  }

  test("parse and readRange never throw on bit-flipped spools") {
    check(neverThrows(for {
      b <- spoolBytes
      flips <- Gen.listOf(Gen.choose(0, b.length * 8 - 1))
    } yield {
      val c = b.clone()
      flips.foreach(i => c(i / 8) = (c(i / 8) ^ (1 << (i % 8))).toByte)
      c
    }))
  }

  test("parse and readRange never throw on random bytes") {
    check(neverThrows(Gen.choose(0, 256).flatMap(bytesOf)))
  }

  test("DecodePacket.decode never throws on random frames") {
    // random frames almost never carry a known ethertype, so the
    // generator plants one (and plausible IP/L4 header bytes) before
    // random tails, to reach every decode branch
    val frame = for {
      eth <- Gen.oneOf(0x0800, 0x86dd, 0x8100, 0x0806)
      inner <- Gen.oneOf(0x0800, 0x86dd, 0x0806)
      vh <- Gen.oneOf(Gen.choose(0x40, 0x4f), Gen.choose(0x60, 0x6f),
        Gen.choose(0, 255))
      proto <- Gen.oneOf(1, 6, 17, 58, 41, 0)
      tail <- Gen.choose(0, 80).flatMap(bytesOf)
      cut <- Gen.choose(0, 120)
    } yield {
      val b = ByteBuffer.allocate(40 + tail.length)
      b.put(new Array[Byte](12)).putShort(eth.toShort)
      if (eth == 0x8100) b.putShort(5.toShort).putShort(inner.toShort)
      b.put(vh.toByte).put(new Array[Byte](8)).put(proto.toByte)
      b.put(tail, 0, math.min(tail.length, b.remaining()))
      b.array().take(cut)
    }
    check(Prop.forAll(Gen.oneOf(frame, Gen.choose(0, 96).flatMap(bytesOf))) {
      f => DecodePacket.decode(f) != null
    })
  }

  test("DecodePacket sets no L4 field for an IPv4 header length below 5") {
    val l4 = Seq("sport", "dport", "tcp_seq", "tcp_ack", "tcp_off",
      "tcp_flags", "tcp_win", "tcp_csum", "tcp_urp", "udp_len", "udp_csum",
      "icmp_type", "icmp_code", "icmp_csum", "icmp_id", "icmp_seq")
      .map(DecodePacket.schema.fieldIndex)
    val payload = DecodePacket.schema.fieldIndex("payload")
    val frame = for {
      vlan <- arbitrary[Boolean]
      ihl <- Gen.choose(0, 4)
      proto <- Gen.oneOf(1, 6, 17, 58, 41, 0)
      // the rest of a complete 20-byte IPv4 header, then any tail
      tail <- Gen.choose(10, 90).flatMap(bytesOf)
    } yield {
      val b = ByteBuffer.allocate(28 + tail.length)
      b.put(new Array[Byte](12))
      if (vlan) b.putShort(0x8100.toShort).putShort(5.toShort)
      b.putShort(0x0800.toShort)
      b.put((0x40 | ihl).toByte).put(new Array[Byte](8)).put(proto.toByte)
      b.put(tail)
      b.array().take(b.position())
    }
    check(Prop.forAll(frame) { f =>
      val r = DecodePacket.decode(f)
      l4.forall(r.isNullAt) && r.getBinary(payload).isEmpty
    })
  }
}
