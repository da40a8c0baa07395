package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Ethernet frame decoder as a native Catalyst expression:
  * `DecodePacket(binary)` → struct of IP/TCP/UDP/ICMP header fields +
  * payload. Covers what the reference extracts with impacket/idstools
  * (/root/reference/charlotte/__init__.py:482-528): ethernet → (802.1Q
  * VLAN skip) → IPv4 (options honored via IHL) / IPv6 (fixed header) →
  * TCP / UDP / ICMP, incl. the icmp id/seq fields the reference only
  * reads for types 13/14/17/18.
  *
  * Runs on internal rows (no UDF codec round-trip); per-row, stateless,
  * and therefore embarrassingly parallel at any scale.
  */
case class DecodePacket(child: Expression)
    extends UnaryExpression {

  override def prettyName: String = "graft_decode_packet"

  override def dataType: DataType = DecodePacket.schema

  override protected def nullSafeEval(input: Any): Any =
    DecodePacket.decode(input.asInstanceOf[Array[Byte]])

  // one static call into the companion's decoder (static forwarder on
  // the class), keeping the whole ingest projection inside
  // WholeStageCodegen instead of forcing a fallback stage
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.DecodePacket.decode($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DecodePacket {
  def column(frame: Column): Column =
    DatasetBridge.column(DecodePacket(DatasetBridge.expression(frame)))

  val schema: StructType = StructType(Seq(
    StructField("eth_type", IntegerType),
    StructField("vlan", IntegerType),
    StructField("ip_ver", IntegerType),
    StructField("ip_hlen", IntegerType),
    StructField("ip_tos", IntegerType),
    StructField("ip_len", IntegerType),
    StructField("ip_id", IntegerType),
    StructField("ip_flags", IntegerType),
    StructField("ip_off", IntegerType),
    StructField("ip_ttl", IntegerType),
    StructField("ip_proto", IntegerType),
    StructField("ip_csum", IntegerType),
    StructField("ip_src", StringType),
    StructField("ip_dst", StringType),
    StructField("sport", IntegerType),
    StructField("dport", IntegerType),
    StructField("tcp_seq", LongType),
    StructField("tcp_ack", LongType),
    StructField("tcp_off", IntegerType),
    StructField("tcp_flags", IntegerType),
    StructField("tcp_win", IntegerType),
    StructField("tcp_csum", IntegerType),
    StructField("tcp_urp", IntegerType),
    StructField("udp_len", IntegerType),
    StructField("udp_csum", IntegerType),
    StructField("icmp_type", IntegerType),
    StructField("icmp_code", IntegerType),
    StructField("icmp_csum", IntegerType),
    StructField("icmp_id", IntegerType),
    StructField("icmp_seq", IntegerType),
    StructField("payload", BinaryType)))

  private val N = schema.length
  private def idx(name: String) = schema.fieldIndex(name)

  def decode(frame: Array[Byte]): InternalRow = {
    val r = new GenericInternalRow(N)
    val b = ByteBuffer.wrap(frame)
    if (b.remaining() < 14) return r
    b.position(12)
    var ethType = b.getShort() & 0xffff
    if (ethType == 0x8100 && b.remaining() >= 4) { // 802.1Q VLAN tag
      r.update(idx("vlan"), (b.getShort() & 0xffff) & 0x0fff)
      ethType = b.getShort() & 0xffff
    }
    r.update(idx("eth_type"), ethType)
    ethType match {
      case 0x0800 => decodeIp4(b, r)
      case 0x86dd => decodeIp6(b, r)
      case _ => ()
    }
    r
  }

  private def ip4str(a: Int, bb: Int, c: Int, d: Int): UTF8String =
    UTF8String.fromString(s"$a.$bb.$c.$d")

  private def decodeIp4(b: ByteBuffer, r: GenericInternalRow): Unit = {
    if (b.remaining() < 20) return
    val start = b.position()
    val vh = b.get() & 0xff
    val ver = vh >> 4
    val ihl = vh & 0x0f
    r.update(idx("ip_ver"), ver)
    r.update(idx("ip_hlen"), ihl)
    r.update(idx("ip_tos"), b.get() & 0xff)
    r.update(idx("ip_len"), b.getShort() & 0xffff)
    r.update(idx("ip_id"), b.getShort() & 0xffff)
    val fo = b.getShort() & 0xffff
    r.update(idx("ip_flags"), fo >> 13)
    r.update(idx("ip_off"), fo & 0x1fff)
    r.update(idx("ip_ttl"), b.get() & 0xff)
    val proto = b.get() & 0xff
    r.update(idx("ip_proto"), proto)
    r.update(idx("ip_csum"), b.getShort() & 0xffff)
    r.update(idx("ip_src"), ip4str(b.get() & 0xff, b.get() & 0xff,
      b.get() & 0xff, b.get() & 0xff))
    r.update(idx("ip_dst"), ip4str(b.get() & 0xff, b.get() & 0xff,
      b.get() & 0xff, b.get() & 0xff))
    // honor IP options; a header length past the frame, or below the
    // 20-byte minimum (IHL < 5), leaves no L4
    b.position(if (ihl < 5) b.limit() else math.min(start + ihl * 4, b.limit()))
    decodeL4(b, proto, r)
  }

  private def decodeIp6(b: ByteBuffer, r: GenericInternalRow): Unit = {
    if (b.remaining() < 40) return
    val start = b.position()
    val vtf = b.getInt()
    r.update(idx("ip_ver"), vtf >>> 28)
    r.update(idx("ip_tos"), (vtf >>> 20) & 0xff)
    r.update(idx("ip_len"), b.getShort() & 0xffff)
    val proto = b.get() & 0xff // next header (extension chains not walked)
    r.update(idx("ip_proto"), proto)
    r.update(idx("ip_ttl"), b.get() & 0xff) // hop limit
    val src = new Array[Byte](16); b.get(src)
    val dst = new Array[Byte](16); b.get(dst)
    r.update(idx("ip_src"), UTF8String.fromString(ip6str(src)))
    r.update(idx("ip_dst"), UTF8String.fromString(ip6str(dst)))
    b.position(start + 40)
    decodeL4(b, proto, r)
  }

  private def ip6str(a: Array[Byte]): String =
    a.grouped(2).map(g => f"${((g(0) & 0xff) << 8) | (g(1) & 0xff)}%x")
      .mkString(":")

  private def decodeL4(b: ByteBuffer, proto: Int,
      r: GenericInternalRow): Unit = proto match {
    case 6 if b.remaining() >= 20 => // TCP
      r.update(idx("sport"), b.getShort() & 0xffff)
      r.update(idx("dport"), b.getShort() & 0xffff)
      r.update(idx("tcp_seq"), b.getInt() & 0xffffffffL)
      r.update(idx("tcp_ack"), b.getInt() & 0xffffffffL)
      val off = (b.get() & 0xff) >> 4
      r.update(idx("tcp_off"), off)
      r.update(idx("tcp_flags"), b.get() & 0xff)
      r.update(idx("tcp_win"), b.getShort() & 0xffff)
      r.update(idx("tcp_csum"), b.getShort() & 0xffff)
      r.update(idx("tcp_urp"), b.getShort() & 0xffff)
      val skip = off * 4 - 20
      if (skip > 0 && b.remaining() >= skip) b.position(b.position() + skip)
      payload(b, r)
    case 17 if b.remaining() >= 8 => // UDP
      r.update(idx("sport"), b.getShort() & 0xffff)
      r.update(idx("dport"), b.getShort() & 0xffff)
      r.update(idx("udp_len"), b.getShort() & 0xffff)
      r.update(idx("udp_csum"), b.getShort() & 0xffff)
      payload(b, r)
    case 1 | 58 if b.remaining() >= 4 => // ICMP / ICMPv6
      val t = b.get() & 0xff
      r.update(idx("icmp_type"), t)
      r.update(idx("icmp_code"), b.get() & 0xff)
      r.update(idx("icmp_csum"), b.getShort() & 0xffff)
      // echo/timestamp/mask families carry id+seq (the reference reads
      // them only for 13/14/17/18; echo 0/8 carries them too)
      if ((t == 0 || t == 8 || t == 13 || t == 14 || t == 17 || t == 18)
          && b.remaining() >= 4) {
        r.update(idx("icmp_id"), b.getShort() & 0xffff)
        r.update(idx("icmp_seq"), b.getShort() & 0xffff)
      }
      payload(b, r)
    case _ => payload(b, r)
  }

  private def payload(b: ByteBuffer, r: GenericInternalRow): Unit = {
    val rest = new Array[Byte](b.remaining())
    b.get(rest)
    r.update(idx("payload"), rest)
  }
}
