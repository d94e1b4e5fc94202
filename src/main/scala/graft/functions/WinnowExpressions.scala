package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass winnowing fingerprints (Schleimer/Wilkerson/Aiken).
  *
  * Winnowing is inherently per-document: char n-grams, a rolling hash,
  * the min of each w-wide window, distinct minima. Expressed with
  * DataFrame operators that means exploding one row PER CHARACTER of the
  * corpus and shuffling all of them through a per-doc window sort — at
  * any scale the explode+exchange dwarfs the arithmetic. This expression
  * runs the whole algorithm (grams, hash, monotonic-deque sliding min,
  * dedupe) in one narrow pass per document and returns the fingerprint
  * set as an array: the query becomes scan -> project -> explode, with
  * no shuffle at all.
  *
  * Semantics (identical to the composable formulation and the SQL
  * oracle): m = number of grams; if m >= w the fingerprints are
  * { min(h[p..p+w-1]) : 0 <= p <= m-w }, else { min(h[0..m-1]) }.
  * Grams hash with MD5 and compare as hex strings lexicographically, so
  * any engine with md5 reproduces the fingerprints.
  */
case class WinnowFingerprints(child: Expression, n: Int, w: Int)
    extends UnaryExpression {
  require(n >= 1 && w >= 1, "gram size and window must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(s: Any): Any =
    WinnowUtil.winnow(s.asInstanceOf[UTF8String], n, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WinnowUtil.winnow($c, $n, $w)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowUtil {
  /** Unsigned lexicographic compare of equal-length digests — the same
    * order as comparing their lowercase-hex strings. */
  private def less(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val x = a(i) & 0xff; val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  private val hexChars = "0123456789abcdef".toCharArray

  private def hex(d: Array[Byte]): UTF8String = {
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(2 * i) = hexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hexChars(d(i) & 0xf)
      i += 1
    }
    UTF8String.fromString(new String(out))
  }

  def winnow(text: UTF8String, n: Int, w: Int): ArrayData = {
    val grams = ShingleUtil.charGrams(text, n)
    val m = grams.numElements()
    val md = java.security.MessageDigest.getInstance("MD5")
    val hs = new Array[Array[Byte]](m)
    var i = 0
    while (i < m) {
      md.reset()
      hs(i) = md.digest(grams.getUTF8String(i).getBytes)
      i += 1
    }
    val out = new java.util.LinkedHashSet[UTF8String]
    if (m < w) {
      var best = hs(0); i = 1
      while (i < m) { if (less(hs(i), best)) best = hs(i); i += 1 }
      out.add(hex(best))
    } else {
      // Monotonic deque of candidate indices: O(m) total.
      val deque = new Array[Int](m); var head = 0; var tail = 0
      i = 0
      while (i < m) {
        while (tail > head && !less(hs(deque(tail - 1)), hs(i))) tail -= 1
        deque(tail) = i; tail += 1
        if (deque(head) <= i - w) head += 1
        if (i >= w - 1) out.add(hex(hs(deque(head))))
        i += 1
      }
    }
    toArrayData(out)
  }

  private def toArrayData(set: java.util.LinkedHashSet[_]): ArrayData = {
    val arr = new Array[Any](set.size)
    val it = set.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new GenericArrayData(arr)
  }
}

object WinnowFunctions {
  /** Oracle-reproducible md5-hex fingerprints (array<string>). */
  def winnowMd5(text: Column, n: Int, w: Int): Column =
    GraftShim.column(WinnowFingerprints(
      GraftShim.expression(text.cast("string")), n, w))
}
