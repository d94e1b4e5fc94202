package graft.corpus

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.dedup.Dedup
import graft.similarity.Similarity
import graft.text.TextFunctions

class CorpusSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 1
    (3L, "completely different content about spark engines"),
    (4L, "the quick brown fox jumps over the lazy dog"))   // exact dup of 1
    .toDF("doc_id", "text")

  test("exactGroups collapses identical texts to one digest (hash-groupBy)") {
    val g = rows(Dedup.exactGroups(docs, "doc_id", "text")
      .orderBy("keep_id").select("n_copies", "keep_id"))
    assert(g == Seq(Seq(2L, 1L), Seq(1L, 2L), Seq(1L, 3L)))
  }

  test("minhashNearDups finds the planted near-duplicate pair") {
    val pairs = rows(Dedup.minhashNearDupsMd5(docs, "doc_id", "text",
      numHashes = 32, rowsPerBand = 2, shingleN = 2, threshold = 0.5)
      .select("id1", "id2").orderBy("id1", "id2"))
    // (1,4) exact dup always; (1,2)/(2,4) share 7 of 9 distinct 2-shingles.
    assert(pairs.contains(Seq(1L, 4L)))
    assert(pairs.forall { case Seq(a: Long, b: Long) => a < b })
  }

  test("ngramJaccardPairs exact word-level Jaccard (brute force)") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 1, 0.5)
      .orderBy("id1", "id2")
    val got = rows(pairs)
    // docs 1,2: 8 distinct words each, 7 shared -> 7/9 = 0.7778; 1,4 identical.
    assert(got == Seq(Seq(1L, 2L, 0.7778), Seq(1L, 4L, 1.0), Seq(2L, 4L, 0.7778)))
  }

  test("simhash: identical texts same signature; near-dups close in Hamming") {
    val sigs = Dedup.simhashMd5(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sigs(1L) == sigs(4L))
    // Hamming distance over both 32-bit halves
    def hamming(a: Long, b: Long) =
      java.lang.Long.bitCount(sigs(a)._1 ^ sigs(b)._1) +
        java.lang.Long.bitCount(sigs(a)._2 ^ sigs(b)._2)
    assert(hamming(1L, 2L) < hamming(1L, 3L))
  }

  test("dot/cosine/l2dist on known vectors") {
    val d = Seq((Array(1.0f, 0.0f, 2.0f), Array(3.0f, 4.0f, 0.5f))).toDF("a", "b")
    val got = rows(d.select(
      Similarity.dot($"a", $"b"), Similarity.cosine($"a", $"a"),
      Similarity.l2dist($"a", $"a")))
    assert(got.head(0) == 4.0)
    assert(math.abs(got.head(1).asInstanceOf[Double] - 1.0) < 1e-12)
    assert(got.head(2) == 0.0)
  }

  test("cosineTopK ranks the planted nearest neighbor first") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(-1.0f, 0.0f))).toDF("id", "v")
    val q = corpus.filter($"id" === 1).select($"id".as("qid"), $"v".as("qv"))
    val got = rows(Similarity.cosineTopK(q, corpus, "qid", "id", "qv", "v", 2)
      .select("neighbor_id", "rank"))
    assert(got == Seq(Seq(2L, 1L), Seq(3L, 2L)))
  }

  test("cosineTopKExcluding refills the k from below the excluded near-dup") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(-1.0f, 0.0f))).toDF("id", "v")
    val q = corpus.filter($"id" === 1).select($"id".as("qid"), $"v".as("qv"))
    // (1,2) is a near-dup pair: neighbor 2 must vanish and 3 takes
    // rank 1, 4 fills rank 2 — NOT a 1-row result (the filter-after-
    // top-k bug this operator exists to avoid).
    val excl = Seq((1L, 2L)).toDF("id1", "id2")
    val got = rows(Similarity.cosineTopKExcluding(q, corpus, "qid", "id", "qv", "v", 2, excl)
      .select("neighbor_id", "rank"))
    assert(got == Seq(Seq(3L, 1L), Seq(4L, 2L)))
  }

  test("hyperplaneBucket raises on dimension mismatch instead of bucket-collapse") {
    val bad = Seq((1L, Array(1.0f, 2.0f))).toDF("id", "v")
    val ex = intercept[Exception] {
      bad.select(Similarity.hyperplaneBucket($"v", 4, 64, 42L)).collect()
    }
    assert(ex.getMessage.contains("embedding length"))
  }

  test("annTopK agrees with exact top-1 for well-separated clusters") {
    // Two tight clusters; every vector's true nearest neighbor is in-cluster.
    val vecs = (0 until 8).map { i =>
      val base = if (i < 4) Array(1.0f, 0.0f, 0.0f, 0.0f) else Array(0.0f, 1.0f, 0.0f, 0.0f)
      (i.toLong, base.zipWithIndex.map { case (v, j) => v + 0.01f * ((i + j) % 3) })
    }.toDF("id", "v")
    val ann = rows(Similarity.annTopK(vecs, "id", "v", 1, numPlanes = Some(6),
      numTables = 6, dim = 4, seed = 1L).select("query_id", "neighbor_id"))
    // with 6 tables every in-cluster pair shares some bucket: all 8 get a hit
    assert(ann.size == 8)
    assert(ann.forall { case Seq(q: Long, n: Long) => (q < 4) == (n < 4) })
  }

  test("fast text gates == composable twins on varied unicode/whitespace") {
    val texts = Seq(
      "the cat and the dog, the end.",
      "the quick brown fox jumps over a lazy dog and keeps running in the sun",
      "", "   ", "a\tthe\tb", "der die und ist nicht",
      "的 是 不 了 在 haha", "the the the", ". , ; : ! ?",
      "le la les est une -- el los es una que",
      "  the  a  and  of  to  in  is  ")
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val got = d.select($"id",
        TextFunctions.punctRatio($"t"), TextFunctions.punctRatioFast($"t"),
        TextFunctions.stopwordRatio($"t"), TextFunctions.stopwordRatioFast($"t"),
        TextFunctions.qualityScore($"t"), TextFunctions.qualityScoreFast($"t"),
        TextFunctions.langId($"t"), TextFunctions.langIdFast($"t"))
      .collect()
    got.foreach { r =>
      assert(r.get(1) == r.get(2), s"punct mismatch row ${r.get(0)}")
      assert(r.get(3) == r.get(4), s"stop mismatch row ${r.get(0)}")
      assert(r.get(5) == r.get(6), s"quality mismatch row ${r.get(0)}")
      assert(r.get(7) == r.get(8), s"lang mismatch row ${r.get(0)}")
    }
  }

  test("stopwordHitsFast: adjacent repeats and capitalized forms count") {
    val d = Seq(
      (0L, "the the the", 3L),      // adjacent repeats each count
      (1L, "The cat, THE dog", 2L), // case-insensitive
      (2L, "a\tthe\nof", 3L),       // any whitespace separates
      (3L, "theory of nothing", 1L),// no substring matches ("theory")
      (4L, "", 0L)
    ).toDF("id", "t", "expect")
    d.select($"id", $"expect", TextFunctions.stopwordHitsFast($"t").as("got"))
      .collect().foreach { r =>
        assert(r.getLong(1) == r.getLong(2), s"row ${r.getLong(0)}")
      }
  }

  test("text functions: tokens, occurrences, ratios, langId") {
    val d = Seq(Tuple1("the cat and the dog, the end.")).toDF("t")
    val got = rows(d.select(
      TextFunctions.tokenCount($"t"),
      TextFunctions.occurrences(concat(lit(" "), $"t", lit(" ")), " the "),
      TextFunctions.punctRatio($"t"),
      TextFunctions.langId($"t"))).head
    assert(got(0) == 7L)
    assert(got(1) == 3L)  // ", the " still contains " the " — 3 padded hits
    assert(got(2) == 0.069)  // 2 punct chars / 29
    assert(got(3) == "en")
  }

  test("quality score components are deterministic and bounded") {
    val d = Seq(
      Tuple1("the quick brown fox jumps over a lazy dog and keeps running in the sun"),
      Tuple1("!!!???...")).toDF("t")
    val got = rows(d.select(TextFunctions.qualityScore($"t"))).map(_.head)
    assert(got(0).asInstanceOf[Double] >= 0.6)
    assert(got(1) == 0.0)
  }
}
