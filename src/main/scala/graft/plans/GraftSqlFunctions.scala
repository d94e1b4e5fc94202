package graft.plans

import org.apache.spark.sql.{GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import graft.functions._

/** SQL-surface registration of graft's custom Catalyst expressions, so
  * `spark.sql("SELECT graft_winnow(text, 5, 8) ...")` works exactly like
  * the Column API — the same codegen'd expressions, reachable from pure
  * SQL (notebooks, JDBC/Thrift clients, views). Registered either at
  * session build via `spark.sql.extensions=graft.plans.GraftExtensions`
  * or post-hoc with [[register]].
  *
  * Static parameters (shingle width, winnow window) must be integer
  * literals: they parameterize codegen, so a non-foldable argument is
  * rejected at analysis time rather than silently mis-planned.
  */
object GraftSqlFunctions {

  private def intLit(fn: String, arg: String)(e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an INTEGER literal, got ${other.sql}")
  }

  private def strLit(fn: String, arg: String)(e: Expression): String = e match {
    case Literal(s, StringType) if s != null => s.toString
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be a STRING literal, got ${other.sql}")
  }

  private def arity(fn: String, n: Int, args: Seq[Expression]): Unit =
    if (args.length != n) throw new IllegalArgumentException(
      s"$fn expects $n arguments, got ${args.length}")

  private def fd(name: String, clazz: Class[_], usage: String)(
      builder: Seq[Expression] => Expression):
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(clazz.getName, null, name, usage, ""),
      builder)

  /** Every graft SQL function: name, codegen expression, arg contract. */
  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(

    fd("graft_dot", classOf[DotProduct],
      "graft_dot(a, b) - index-ordered dot product of two float/double arrays") { args =>
      arity("graft_dot", 2, args)
      DotProduct(args.head, args(1))
    },

    fd("graft_word_shingles", classOf[WordShingles],
      "graft_word_shingles(text, n) - word n-gram shingles; short docs collapse to one") { args =>
      arity("graft_word_shingles", 2, args)
      WordShingles(args.head, intLit("graft_word_shingles", "n")(args(1)), distinct = false)
    },

    fd("graft_distinct_shingles", classOf[WordShingles],
      "graft_distinct_shingles(text, n) - distinct word n-gram shingles") { args =>
      arity("graft_distinct_shingles", 2, args)
      WordShingles(args.head, intLit("graft_distinct_shingles", "n")(args(1)), distinct = true)
    },

    fd("graft_char_grams", classOf[CharShingles],
      "graft_char_grams(text, n) - character n-grams (winnowing's gram stream)") { args =>
      arity("graft_char_grams", 2, args)
      CharShingles(args.head, intLit("graft_char_grams", "n")(args(1)))
    },

    fd("graft_winnow", classOf[WinnowFingerprints],
      "graft_winnow(text, n, w) - md5-hex winnowing fingerprints over char n-grams, window w") { args =>
      arity("graft_winnow", 3, args)
      WinnowFingerprints(args.head, intLit("graft_winnow", "n")(args(1)),
        intLit("graft_winnow", "w")(args(2)))
    },

    fd("graft_multi_occurrences", classOf[MultiOccurrences],
      "graft_multi_occurrences(text, p1, p2, ...) - non-overlapping occurrence count per pattern") { args =>
      if (args.length < 2) throw new IllegalArgumentException(
        s"graft_multi_occurrences expects a text column plus at least one pattern literal")
      MultiOccurrences(args.head,
        args.tail.map(strLit("graft_multi_occurrences", "pattern")))
    },

    fd("graft_morton2", classOf[Morton2],
      "graft_morton2(a, b) - Morton (Z-order) interleave of two non-negative 32-bit keys") { args =>
      arity("graft_morton2", 2, args)
      Morton2(Cast(args.head, LongType), Cast(args(1), LongType))
    },

    fd("graft_hilbert2", classOf[Hilbert2],
      "graft_hilbert2(a, b, order) - Hilbert-curve index of two non-negative keys on the 2^order grid") { args =>
      arity("graft_hilbert2", 3, args)
      Hilbert2(Cast(args.head, LongType), Cast(args(1), LongType),
        intLit("graft_hilbert2", "order")(args(2)))
    },

    fd("graft_hilbert3", classOf[Hilbert3],
      "graft_hilbert3(a, b, c, order) - Hilbert-curve index of three non-negative keys on the 2^order cube") { args =>
      arity("graft_hilbert3", 4, args)
      Hilbert3(Cast(args.head, LongType), Cast(args(1), LongType),
        Cast(args(2), LongType), intLit("graft_hilbert3", "order")(args(3)))
    },

    fd("graft_jpeg_dims_packed", classOf[JpegDimsPacked],
      "graft_jpeg_dims_packed(bin) - (height << 16) | width from the JPEG SOF header, null if none") { args =>
      arity("graft_jpeg_dims_packed", 1, args)
      JpegDimsPacked(args.head)
    },

    fd("graft_decode_resize", classOf[DecodeResizeStats],
      "graft_decode_resize(bin, maxDim) - ImageIO pixel decode + aspect-fit downsample; struct<width,height,out_w,out_h,avg_r,avg_g,avg_b>") { args =>
      arity("graft_decode_resize", 2, args)
      DecodeResizeStats(args.head, intLit("graft_decode_resize", "maxDim")(args(1)))
    },

    fd("graft_bloom_might_contain", classOf[BloomMightContainString],
      "graft_bloom_might_contain(filterHex, s) - probe s against a hex-serialized Bloom filter") { args =>
      arity("graft_bloom_might_contain", 2, args)
      // Deserialized ONCE here (analysis time); the hex literal is the
      // SQL-surface carrier for a pre-built dimension-sized filter.
      BloomMightContainString(
        BloomFunctions.fromHex(strLit("graft_bloom_might_contain", "filterHex")(args.head)),
        args(1))
    })

  /** Idempotent post-hoc registration on an existing session
    * (registerFunction overwrites same-name entries). */
  def register(spark: SparkSession): Unit =
    all.foreach(GraftShim.registerFunction(spark, _))
}
