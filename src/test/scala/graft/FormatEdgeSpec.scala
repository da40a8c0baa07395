package graft

import java.nio.ByteBuffer

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.DecodePacket
import graft.sources.{Unified2, Unified2Fixture}

/** Edge cases of the binary formats, tested at the pure-function level
  * (no Spark session needed).
  */
class FormatEdgeSpec extends AnyFunSuite {

  private def ip(a: Int, b: Int, c: Int, d: Int) =
    Array[Byte](a.toByte, b.toByte, c.toByte, d.toByte)

  private def idx(n: String) = DecodePacket.schema.fieldIndex(n)

  private def withFile[T](bytes: Array[Byte])(
      f: (java.nio.channels.FileChannel, Long) => T): T = {
    import java.nio.file.{Files, StandardOpenOption}
    val p = Files.createTempFile("graft_rr", ".u2")
    Files.write(p, bytes)
    val ch = java.nio.channels.FileChannel.open(p, StandardOpenOption.READ)
    try f(ch, Files.size(p)) finally { ch.close(); Files.delete(p) }
  }

  test("DecodePacket skips an 802.1Q VLAN tag") {
    val plain = Unified2Fixture.ipv4Packet(6, ip(10, 0, 0, 1),
      ip(10, 0, 0, 2), 1234, 80, "HI".getBytes)
    // splice a VLAN tag (tpid 0x8100, vid 100) between macs and ethertype
    val tagged = ByteBuffer.allocate(plain.length + 4)
    tagged.put(plain, 0, 12)
    tagged.putShort(0x8100.toShort).putShort(100.toShort)
    tagged.put(plain, 12, plain.length - 12)
    val r = DecodePacket.decode(tagged.array())
    assert(r.getInt(idx("vlan")) == 100)
    assert(r.getInt(idx("eth_type")) == 0x0800)
    assert(r.getInt(idx("ip_ver")) == 4)
    assert(r.getUTF8String(idx("ip_src")).toString == "10.0.0.1")
    assert(r.getInt(idx("sport")) == 1234)
    assert(r.getInt(idx("dport")) == 80)
  }

  test("DecodePacket yields nulls for runt and non-IP frames") {
    val runt = DecodePacket.decode(Array[Byte](1, 2, 3))
    assert(runt.isNullAt(idx("eth_type")))
    assert(runt.isNullAt(idx("ip_ver")))
    val arp = ByteBuffer.allocate(20)
    arp.position(12); arp.putShort(0x0806.toShort) // ARP ethertype
    val r = DecodePacket.decode(arp.array())
    assert(r.getInt(idx("eth_type")) == 0x0806)
    assert(r.isNullAt(idx("ip_ver")))
  }

  test("parseFile tolerates a truncated trailing record") {
    val full = Unified2Fixture.eventV2(1, 1, 1700000000L, 100, 1, 1, 1, 1,
      ip(1, 1, 1, 1), ip(2, 2, 2, 2), 1, 2, 6)
    val bytes = full ++ full.take(full.length / 2) // second record cut off
    val recs = Unified2.parseFile("f", bytes)
    assert(recs.length == 1)
    assert(recs.head.event_id.contains(1L))
  }

  test("readRange streams records and stops on torn/oversized/shrunk input") {
    val full = Unified2Fixture.eventV2(1, 7, 1700000000L, 100, 1, 1, 1, 1,
      ip(1, 1, 1, 1), ip(2, 2, 2, 2), 1, 2, 6)
    // clean span: both records stream out with continued numbering
    withFile(full ++ full) { (ch, size) =>
      val recs = Unified2.readRange(ch, "f", 0, size, 5).toSeq
      assert(recs.map(_.rec_index) == Seq(5, 6))
      assert(recs.forall(_.event_id.contains(7L)))
    }
    // torn tail inside the span: parses the whole record, stops at tear
    withFile(full ++ full.take(full.length / 2)) { (ch, size) =>
      assert(Unified2.readRange(ch, "f", 0, size, 0).size == 1)
    }
    // garbage length field larger than the remaining span: stops
    withFile {
      val b = ByteBuffer.allocate(8)
      b.putInt(104).putInt(Int.MaxValue)
      full ++ b.array()
    } { (ch, size) =>
      assert(Unified2.readRange(ch, "f", 0, size, 0).size == 1)
    }
    // planned span longer than the file (file shrunk after planning):
    // short read ends the iterator instead of failing
    withFile(full) { (ch, size) =>
      assert(Unified2.readRange(ch, "f", 0, size + 64, 0).size == 1)
    }
  }

  test("one record-length rule for every framing walk, pinned at its limits") {
    import Unified2.{MaxBodyLen, bodyLen}
    assert(MaxBodyLen == Int.MaxValue - 8L)
    assert(bodyLen(0) == 0L)
    assert(bodyLen(MaxBodyLen.toInt) == MaxBodyLen)
    assert(bodyLen(MaxBodyLen.toInt + 1) == -1L)
    assert(bodyLen(Int.MaxValue) == -1L)
    assert(bodyLen(Int.MinValue) == -1L) // 2^31 as u32
    assert(bodyLen(-1) == -1L) // 2^32 - 1 as u32
    // both in-process walks stop at a header just past the limit
    val full = Unified2Fixture.eventV2(1, 9, 1700000000L, 100, 1, 1, 1, 1,
      ip(1, 1, 1, 1), ip(2, 2, 2, 2), 1, 2, 6)
    val bad = ByteBuffer.allocate(8).putInt(104)
      .putInt((MaxBodyLen + 1).toInt).array()
    assert(Unified2.parseFile("f", full ++ bad ++ full).size == 1)
    withFile(full ++ bad ++ full) { (ch, size) =>
      assert(Unified2.readRange(ch, "f", 0, size, 0).size == 1)
    }
  }

  test("parseFile keeps framing for unknown record types") {
    val body = Array[Byte](1, 2, 3, 4)
    val rec = ByteBuffer.allocate(8 + body.length)
    rec.putInt(999).putInt(body.length).put(body)
    val known = Unified2Fixture.eventV2(1, 2, 1700000000L, 100, 1, 1, 1, 1,
      ip(1, 1, 1, 1), ip(2, 2, 2, 2), 1, 2, 6)
    val recs = Unified2.parseFile("f", rec.array() ++ known)
    assert(recs.length == 2)
    assert(recs.head.rec_type == 999)
    assert(recs.head.event_id.isEmpty)
    assert(recs(1).event_id.contains(2L)) // parsing resumes after unknown
  }

  test("a known type with a body shorter than its fixed fields keeps framing only") {
    def short(recType: Int): Array[Byte] =
      ByteBuffer.allocate(18).putInt(recType).putInt(10).array()
    val next = Unified2Fixture.eventV2(1, 3, 1700000000L, 100, 1, 1, 1, 1,
      ip(1, 1, 1, 1), ip(2, 2, 2, 2), 1, 2, 6)
    // [u32 104][u32 10][10 zero bytes] used to throw
    // BufferUnderflowException from both read paths
    val parsed = Unified2.parseFile("f", short(104))
    assert(parsed.map(_.rec_type) == Seq(104))
    assert(parsed.head == Unified2.U2Record.empty("f", 0, 104))
    withFile(short(104)) { (ch, size) =>
      assert(Unified2.readRange(ch, "f", 0, size, 0).toSeq ==
        Seq(Unified2.U2Record.empty("f", 0, 104)))
    }
    Seq(Unified2.EventV1, Unified2.EventIp6V1, Unified2.EventV2,
      Unified2.EventIp6V2, Unified2.Packet, Unified2.ExtraData).foreach { t =>
      val recs = Unified2.parseFile("f", short(t) ++ next)
      assert(recs.length == 2, s"type $t")
      assert(recs.head.sensor_id.isEmpty, s"type $t")
      assert(recs(1).event_id.contains(3L), s"type $t: parsing resumes")
    }
    // no alert is assembled from the framing-only event
    assert(Unified2.assembleFile("s", parsed).isEmpty)
  }
}
