package org.apache.spark.sql.graft

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, BinaryType, DataType, IntegerType, LongType}

/** The catalog's engine-portable hash — the first `hexDigits` md5 hex
  * digits read as an integer — as ONE native expression:
  * `md5_prefix(x, k)` equals the string formula — Spark's `conv` of the
  * first k characters of `md5(x)` from base 16, cast to BIGINT — bit for
  * bit, and the DuckDB twins' `CAST('0x' || substr(md5(x), 1, k) AS
  * UBIGINT)`.
  *
  * The string form builds four strings per row (hex digest, substring,
  * decimal conv output, the cast's parse) and allocates a fresh
  * `MessageDigest` inside `md5()`; here the first 8 digest bytes are read
  * big-endian and shifted right by `64 − 4k` — k hex digits are exactly the
  * top 4k bits. Generated code holds one `MessageDigest` per partition
  * (mutable state, made by [[HashUtil.newMd5]]: Janino rejects a direct
  * `getInstance` for its checked exception); the interpreted path — also
  * the lambda-body path inside higher-order functions — uses a per-thread
  * digest, so concurrent evaluation of one expression instance is safe.
  *
  * `hexDigits` must lie in 1..15: 15 digits = 60 bits stay positive in a
  * BIGINT on every engine, and 16 would overflow it (the DuckDB twin's
  * UBIGINT → BIGINT cast fails there).
  */
case class Md5Prefix(child: Expression, hexDigits: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  if (hexDigits < 1 || hexDigits > 15)
    throw new IllegalArgumentException(
      s"md5_prefix: hexDigits must lie in 1..15 (16 overflows BIGINT), got $hexDigits")

  private val shift = 64 - 4 * hexDigits

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix"
  // null in ⇒ null out, like the md5/conv chain: keeps the optimizer's
  // inferred IsNotNull constraints (and so the plans) unchanged
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    HashUtil.prefix(HashUtil.localMd5.get(), input.asInstanceOf[Array[Byte]], shift)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val md = ctx.addMutableState("java.security.MessageDigest", "md5",
      v => s"$v = org.apache.spark.sql.graft.HashUtil.newMd5();")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.HashUtil.prefix($md, $c, $shift);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Bit length of a BIGINT, `64 − numberOfLeadingZeros(x)`: 0 for 0, 64 for
  * any negative. The HLL register rank is `53 − bit_length64(tail)` for
  * every 52-bit tail, 0 included — the value the binary-string forms (the
  * digit count of the tail in base 2) compute, with no zero guard.
  */
case class BitLength64(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "bit_length64"
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    64 - java.lang.Long.numberOfLeadingZeros(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"64 - java.lang.Long.numberOfLeadingZeros($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The kernel behind [[Md5Prefix]] (called from generated code). */
object HashUtil {

  def newMd5(): MessageDigest = MessageDigest.getInstance("MD5")

  val localMd5: ThreadLocal[MessageDigest] = ThreadLocal.withInitial(() => newMd5())

  /** The first 8 digest bytes, big-endian, shifted right (unsigned) by
    * `shift`. `digest` resets `md`, so it is reusable on the next row.
    */
  def prefix(md: MessageDigest, bytes: Array[Byte], shift: Int): Long = {
    val d = md.digest(bytes)
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h >>> shift
  }
}

object HashExpressions {

  /** Column API for [[Md5Prefix]] over a key's string form (UTF-8 bytes of
    * `CAST(key AS STRING)`) — the one entry point for every catalog hash.
    */
  def md5Prefix(key: Column, hexDigits: Int): Column =
    ExpressionUtils.column(
      Md5Prefix(ExpressionUtils.expression(key.cast("string").cast("binary")), hexDigits))

  /** Column API for [[BitLength64]]. */
  def bitLength64(x: Column): Column =
    ExpressionUtils.column(BitLength64(ExpressionUtils.expression(x)))
}
