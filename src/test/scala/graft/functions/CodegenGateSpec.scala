package graft.functions

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import javax.imageio.ImageIO

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.sketch.BloomFilter

import graft.SparkSpec
import graft.spatial.{Poly, PointInPolygon}

/** Codegen COMPILE gate for every custom Catalyst expression in the
  * library.
  *
  * Why this exists: whole-stage codegen failure is SILENT by default —
  * Janino logs an ERROR and Spark re-runs the stage interpreted, so a
  * broken `doGenCode` (e.g. generated Java calling a companion method
  * that scalac emitted no static forwarder for, because its name
  * collides with `Expression.eval`) passes every value-level test while
  * the documented "codegen'd" hot path never actually executes. This
  * suite forces the failure loud:
  *
  *   - `spark.sql.codegen.fallback=false` makes WholeStageCodegenExec
  *     THROW on generated-code compile errors instead of falling back;
  *   - `spark.sql.codegen.factoryMode=CODEGEN_ONLY` does the same for
  *     the projection/predicate factories outside whole-stage;
  *   - each query additionally asserts a WholeStageCodegen node made it
  *     into the executed plan (an expression that *declines* codegen —
  *     CodegenFallback — would otherwise pass the two confs trivially);
  *   - inputs go through an RDD (never a LocalRelation), so
  *     ConvertToLocalRelation can't constant-fold the projection on the
  *     driver with interpreted eval before any codegen happens.
  *
  * One test per expression; every `doGenCode` in functions/ and
  * spatial/ is on the list. Add new expressions HERE when they gain a
  * `doGenCode`.
  */
class CodegenGateSpec extends SparkSpec {

  /** Runs `body` with codegen forced-only (compile failures throw),
    * restoring prior conf values after. */
  private def forcedCodegen[T](body: => T): T = {
    val c = spark.conf
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.fallback")
    val prev = keys.map(k => k -> c.getOption(k))
    c.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    c.set("spark.sql.codegen.fallback", "false")
    try body
    finally prev.foreach {
      case (k, Some(v)) => c.set(k, v)
      case (k, None)    => c.unset(k)
    }
  }

  /** DataFrame backed by an RDD scan — immune to LocalRelation
    * constant folding, so the select genuinely executes on executors
    * through generated code. */
  private def rddDf(schemaDdl: String)(rows: Row*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType.fromDDL(schemaDdl))

  /** The gate: select `col` under forced codegen, require a
    * WholeStageCodegen span in the executed plan, and require the
    * expression to produce a non-null value on its positive-case row
    * (so a null-everywhere miswire can't pass). */
  private def gate(df: DataFrame, col: Column): Any = forcedCodegen {
    val out = df.select(col.as("v"))
    val plan = out.queryExecution.executedPlan
    assert(plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.nonEmpty, s"expression did not enter whole-stage codegen:\n$plan")
    val got = out.collect()
    assert(got.nonEmpty && got.head.get(0) != null,
      s"expression returned null on its positive fixture: ${got.toSeq}")
    got.head.get(0)
  }

  private def hexBytes(h: String): Array[Byte] = {
    val s = h.replaceAll("\\s+", "")
    Array.tabulate(s.length / 2)(i =>
      Integer.parseInt(s.substring(2 * i, 2 * i + 2), 16).toByte)
  }

  private def encode(img: BufferedImage, fmt: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  private def solid(w: Int, h: Int, rgb: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    g.setColor(new java.awt.Color(rgb))
    g.fillRect(0, 0, w, h)
    g.dispose()
    img
  }

  test("codegen gate: BloomMightContainString") {
    val bloom = BloomFilter.create(100, 0.01)
    bloom.putString("present")
    val v = gate(rddDf("s string")(Row("present")),
      BloomFunctions.mightContainString(bloom, col("s")))
    assert(v == true)
  }

  test("codegen gate: MultiOccurrences") {
    val v = gate(rddDf("s string")(Row("abcabz")),
      MultiOccFunctions.occurrencesAll(col("s"), Seq("ab", "z")))
    assert(v.asInstanceOf[scala.collection.Seq[Long]].toSeq == Seq(2L, 1L))
  }

  test("codegen gate: MultiOccTotal") {
    val v = gate(rddDf("s string")(Row("abcabz")),
      MultiOccFunctions.occurrencesTotal(col("s"), Seq("ab", "z")))
    assert(v == 3L)
  }

  test("codegen gate: MultiOccBestGroup") {
    val v = gate(rddDf("s string")(Row("abcabz")),
      MultiOccFunctions.occurrencesBestGroup(col("s"), Seq("ab", "z", "q"),
        Seq(2, 1)))
    assert(v == 0)
  }

  test("codegen gate: the corpus-clean quality+langid filter stage " +
    "compiles as one whole-stage span") {
    // The exact shape that regressed: qualityScoreFast AND langIdFast
    // in ONE Filter predicate with a langid Project above — the
    // element_at-of-counts-array formulation re-generated the marker
    // scan per term (Filter predicates get no subexpression
    // elimination) and pushed the generated method past Janino's 64 KB
    // limit, silently de-optimizing the hottest document filter to
    // interpreted eval at every scale. fallback=false makes that
    // failure throw here instead.
    forcedCodegen {
      val d = rddDf("text string")(Row(
        "the quick brown fox is in the house of the hill and " +
          "the dog is on the path to a tree. " * 3))
      val out = d
        .filter(graft.text.TextFunctions.qualityScoreFast(col("text")) >= 0.5 &&
          graft.text.TextFunctions.langIdFast(col("text")) =!= "und")
        .select(graft.text.TextFunctions.langIdFast(col("text")).as("lang"))
      val plan = out.queryExecution.executedPlan
      assert(plan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
      }.nonEmpty, s"filter stage did not enter whole-stage codegen:\n$plan")
      assert(out.collect().map(_.getString(0)).toSeq == Seq("en"))
    }
  }

  test("codegen gate: DotProduct") {
    val v = gate(
      rddDf("a array<double>, b array<double>")(
        Row(Seq(1.0, 2.0), Seq(3.0, 4.0))),
      VectorFunctions.dot(col("a"), col("b")))
    assert(v == 11.0)
  }

  test("codegen gate: WinnowFingerprints (md5)") {
    val d = rddDf("s string")(Row("the quick brown fox jumps over it"))
    assert(gate(d, WinnowFunctions.winnowMd5(col("s"), 4, 3))
      .asInstanceOf[scala.collection.Seq[_]].nonEmpty)
  }

  test("codegen gate: Hilbert2") {
    gate(rddDf("x bigint, y bigint")(Row(3L, 5L)),
      HilbertFunctions.hilbert2(col("x"), col("y"), 16))
  }

  test("codegen gate: Hilbert3") {
    val v = gate(rddDf("x bigint, y bigint, z bigint")(Row(3L, 5L, 7L)),
      HilbertFunctions.hilbert3(col("x"), col("y"), col("z"), 14))
    assert(v == HilbertUtil.hilbert3(3L, 5L, 7L, 14))
  }

  test("codegen gate: Morton2") {
    gate(rddDf("x bigint, y bigint")(Row(3L, 5L)),
      ZOrderFunctions.morton2(col("x"), col("y")))
  }

  test("codegen gate: WordShingles / CharShingles") {
    val d = rddDf("s string")(Row("a b c d"))
    assert(gate(d, ShingleFunctions.shingles(col("s"), 2))
      .asInstanceOf[scala.collection.Seq[_]].nonEmpty)
    assert(gate(d, ShingleFunctions.distinctShingles(col("s"), 2))
      .asInstanceOf[scala.collection.Seq[_]].nonEmpty)
    assert(gate(d, ShingleFunctions.charGrams(col("s"), 3))
      .asInstanceOf[scala.collection.Seq[_]].nonEmpty)
  }

  test("codegen gate: SimHashMd5Packed") {
    val v = gate(rddDf("s string")(Row("some document text for hashing")),
      SimHashFunctions.simhashMd5Packed(col("s")))
    assert(v.asInstanceOf[Long] != 0L)
    // blank text packs to 0 — the md5-twin tokenless contract
    assert(gate(rddDf("s string")(Row("   ")),
      SimHashFunctions.simhashMd5Packed(col("s"))).asInstanceOf[Long] == 0L)
  }

  test("codegen gate: JpegDimsPacked") {
    val jpeg = encode(solid(64, 48, 0x336699), "jpg")
    val v = gate(rddDf("b binary")(Row(jpeg)),
      MediaFunctions.jpegDimsPacked(col("b")))
    assert(v == ((48L << 16) | 64L))
  }

  test("codegen gate: DecodeResizeStats") {
    val png = encode(solid(64, 48, 0x336699), "png")
    val v = gate(rddDf("b binary")(Row(png)),
      ImageFunctions.decodeResizeStats(col("b"), 16))
    assert(v.asInstanceOf[Row].getLong(0) == 64L)
  }

  test("codegen gate: Mp4Meta") {
    // Same hand-laid-out minimal MP4 as MultimodalSpec: ftyp + free +
    // moov(mvhd ts=600 dur=1200 -> 2000 ms; video trak 320x240).
    val matrix = "00010000" + "00000000" * 3 + "00010000" + "00000000" * 3 + "40000000"
    val mvhd = "0000006c 6d766864 00000000 00000000 00000000" +
      "00000258" + "000004b0" +
      "00010000 0100 0000" + "00" * 8 + matrix + "00" * 24 + "00000002"
    val tkhd = "0000005c 746b6864 00000007 00000000 00000000" +
      "00000001 00000000 000004b0" + "00" * 8 + "0000 0000 0000 0000" +
      matrix + "01400000" + "00f00000"
    val mp4 = hexBytes(
      "00000010 66747970 69736f6d 00000200" +
        "0000000b 66726565 000000" +
        "000000d8 6d6f6f76" + mvhd +
        "00000064 7472616b" + tkhd)
    val v = gate(rddDf("b binary")(Row(mp4)),
      MediaFunctions.mp4Meta(col("b"))).asInstanceOf[Row]
    assert(v.toSeq == Seq(320L, 240L, 2000L, 1L))
  }

  test("codegen gate: WavMeta") {
    val wav = hexBytes(
      "52494646 ba580100 57415645" +
        "666d7420 10000000 0100 0200 22560000 88580100 0400 1000" +
        "6a756e6b 05000000 1122334455 00" +
        "64617461 88580100")
    val v = gate(rddDf("b binary")(Row(wav)),
      MediaFunctions.wavMeta(col("b"))).asInstanceOf[Row]
    assert(v.toSeq == Seq(2L, 22050L, 16L, 1000L))
  }

  test("codegen gate: WavPcmStats") {
    // 16-bit stereo, 2 frames: L = [1, -2], R = [256, -32768].
    val wav16 = hexBytes(
      "52494646 24000000 57415645" +
        "666d7420 10000000 0100 0200 22560000 88580100 0400 1000" +
        "64617461 08000000" +
        "0100" + "0001" +
        "feff" + "0080")
    val v = gate(rddDf("b binary")(Row(wav16)),
      MediaFunctions.wavPcmStats(col("b")))
      .asInstanceOf[scala.collection.Seq[Row]]
    assert(v.map(_.toSeq) == Seq(
      Seq(0L, 2L, -1L, 2L),
      Seq(1L, 2L, 256L - 32768L, 32768L)))
  }

  test("codegen gate: PointInPolygon") {
    val square = Poly(Array(0.0, 4.0, 4.0, 0.0), Array(0.0, 0.0, 4.0, 4.0))
    val v = gate(rddDf("lon double, lat double")(Row(2.0, 2.0)),
      PointInPolygon(col("lon"), col("lat"), square))
    assert(v == true)
  }
}
