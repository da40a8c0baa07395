package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}

/** Network address helpers — the MySQL `inet_aton`/`inet_ntoa` the
  * reference leans on in SQL (/root/reference/charlotte/
  * __init__.py:487-488) plus `hexlify` (ibid:503), composed from
  * built-in (whole-stage codegen'd) functions — and the native
  * renderers of unified2 address blobs, [[Inet6Ntoa]] and [[IpText]].
  */
object Net {
  /** u32 → dotted quad, like MySQL INET_NTOA. */
  def inet_ntoa(c: Column): Column = {
    val v = c.cast("long")
    concat_ws(".",
      shiftright(v, 24).bitwiseAND(255).cast("string"),
      shiftright(v, 16).bitwiseAND(255).cast("string"),
      shiftright(v, 8).bitwiseAND(255).cast("string"),
      v.bitwiseAND(255).cast("string"))
  }

  /** dotted quad → u32, like MySQL INET_ATON. */
  def inet_aton(c: Column): Column = {
    val p = split(c, "\\.")
    (element_at(p, 1).cast("long") * 16777216L) +
      (element_at(p, 2).cast("long") * 65536L) +
      (element_at(p, 3).cast("long") * 256L) +
      element_at(p, 4).cast("long")
  }

  /** binascii.hexlify equivalent: binary → lowercase hex string. */
  def hexlify(c: Column): Column = lower(hex(c))

  /** 16-byte binary address → RFC 5952 text (`2001:db8::1`). NULL for
    * any other length.
    */
  def inet6_ntoa(c: Column): Column =
    DatasetBridge.column(Inet6Ntoa(DatasetBridge.expression(c)))

  /** Render a unified2 address blob: dotted quad for 4-byte IPv4,
    * RFC 5952 for 16-byte IPv6, lowercase hex for anything else
    * (malformed captures stay inspectable).
    *
    * MIGRATION: warehouses written before the RFC 5952 change store
    * IPv6 as 32-char lowercase hex; joins/groupBys across old + new
    * data would split one address into two keys. Normalize old rows
    * once with `coalesce(graft_inet6(unhex(ip)), ip)` (hex parses,
    * dotted-quad/other pass through).
    */
  def ipToString(c: Column): Column =
    DatasetBridge.column(IpText(DatasetBridge.expression(c)))
}

/** Native RFC 5952 IPv6 renderer (kernel: [[ExprKernels.inet6]]); the
  * string assembly (zero-run compression) doesn't decompose into
  * built-in functions, so it's one codegen'd call instead of a UDF.
  */
case class Inet6Ntoa(child: Expression) extends UnaryExpression {

  override def prettyName: String = "graft_inet6"
  override def dataType: DataType = StringType

  // NULL for non-16-byte input even when the child is non-nullable
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires binary, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(b: Any): Any =
    ExprKernels.inet6(b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      val tmp = ctx.freshName("v6Res")
      s"""
      org.apache.spark.unsafe.types.UTF8String $tmp =
        graft.functions.ExprKernels.inet6($b);
      if ($tmp == null) { ${ev.isNull} = true; }
      else { ${ev.value} = $tmp; }
      """
    })

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

/** Native unified2 address renderer (kernel: [[ExprKernels.ipText]]),
  * one codegen'd call per address: the text of `inet_ntoa` over 4
  * bytes read as a u32, of [[Inet6Ntoa]] over 16 and of `hexlify`
  * over any other length.
  */
case class IpText(child: Expression) extends UnaryExpression {

  override def prettyName: String = "graft_ip_text"
  override def dataType: DataType = StringType

  // nullable like the case chain it replaces, whatever the child
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires binary, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(b: Any): Any =
    ExprKernels.ipText(b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b =>
      s"${ev.value} = graft.functions.ExprKernels.ipText($b);")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}
