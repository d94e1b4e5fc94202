package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** md5 SimHash in one native pass, PACKED as (sig_hi << 32 |
  * sig_lo) — the (hi, lo) 32-bit-half encoding every md5-twin oracle
  * shares, in a single long. Matches [[graft.dedup.Dedup]]'s
  * aggregate formulation bit for bit: per token, whi/wlo = the md5
  * digest's first/second 4 bytes big-endian; per bit b, vote +1/-1 on
  * `(b < 32 ? wlo >> b : whi >> (b-32)) & 1`; signature bit set where
  * the vote sum is strictly positive; empty/blank text packs to 0.
  * Tokenization mirrors TextFunctions.tokens exactly: ASCII-space trim,
  * then Java `split("\\s+", -1)` (Spark's `split` default — trailing
  * empty tokens KEPT, e.g. "abc\n" tokenizes to ["abc", ""]). */
object SimHashMd5Util {
  def simhashMd5Packed(text: UTF8String): Long = {
    val t = text.trim()
    if (t.numBytes == 0) return 0L
    val toks = t.toString.split("\\s+", -1)
    val counts = new Array[Int](64)
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i < toks.length) {
      val d = md.digest(toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val whi = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      val wlo = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
      var b = 0
      while (b < 64) {
        val bit = if (b < 32) (wlo >> b) & 1L else (whi >> (b - 32)) & 1L
        if (bit == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var hi = 0L
    var lo = 0L
    var b = 0
    while (b < 32) { if (counts(b) > 0) lo |= (1L << b); b += 1 }
    while (b < 64) { if (counts(b) > 0) hi |= (1L << (b - 32)); b += 1 }
    (hi << 32) | lo
  }
}

case class SimHashMd5Packed(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override protected def nullSafeEval(s: Any): Any =
    SimHashMd5Util.simhashMd5Packed(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHashMd5Util.simhashMd5Packed($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashFunctions {
  def simhashMd5Packed(text: Column): Column =
    GraftShim.column(SimHashMd5Packed(GraftShim.expression(text.cast("string"))))
}
