package graft.corpus

import graft.SparkSpec
import graft.functions.ShingleFunctions
import graft.text.CorpusStats
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class CorpusStatsSpec extends SparkSpec {

  test("charGrams == substring-per-position formulation, incl. short/unicode") {
    val d = df("text string")(Seq(
      Row("abcdefgh"), Row("abc"), Row(""), Row("中文字符串测试"), Row("ab cd")))
    val n = 3
    val hof = expr(s"CASE WHEN length(text) <= $n THEN array(text) ELSE " +
      s"transform(sequence(1, length(text) - ${n - 1}), i -> substring(text, i, $n)) END")
    d.select(ShingleFunctions.charGrams(col("text"), n).as("native"), hof.as("hof"))
      .collect().foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("tfidf: corpus-wide term weighs zero, rare term ranks first") {
    val docs = df("doc_id bigint, text string")(Seq(
      Row(1L, "common rare1 common"),
      Row(2L, "common rare2"),
      Row(3L, "common other")))
    val out = CorpusStats.tfidfTopTerms(docs, "doc_id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(4), r.getLong(5)))
    // 'common' appears in every doc -> idf = ln(3/3) = 0.
    assert(out.filter(_._2 == "common").forall(_._3 == 0.0))
    // rank 1 for doc 1 is the unique term with idf ln(3).
    val top1 = out.filter(t => t._1 == 1L && t._4 == 1L).head
    assert(top1._2 == "rare1" && top1._3 == BigDecimal(math.log(3.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("native winnowing == composable winnowing (md5)") {
    val docs = df("doc_id bigint, text string")(Seq(
      Row(1L, "the quick brown fox jumps over the lazy dog and keeps going"),
      Row(2L, "aaaaaaaaaaaaaaaaaa"), // degenerate: all grams equal
      Row(3L, "short"),              // exactly one gram at n=5
      Row(4L, "abc"),                // shorter than n
      Row(5L, "中文字符串的测试文本内容与更多字符")))
    def asSet(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.get(1).toString)).toSet
    val native = CorpusStats.winnowFingerprintsNative(docs, "doc_id", "text", 5, 8)
    val composable = CorpusStats.winnowFingerprints(docs, "doc_id", "text", 5, 8)
    assert(asSet(native) == asSet(composable))
  }

  test("hashedBowEmbedding: unit norm, shared-text similarity, empty doc = zeros") {
    val docs = df("doc_id bigint, text string")(Seq(
      Row(1L, "alpha beta gamma delta"),
      Row(2L, "alpha beta gamma delta"),    // identical -> identical embedding
      Row(3L, "totally different words here"),
      Row(4L, "")))
    val emb = CorpusStats.hashedBowEmbedding(docs, "doc_id", "text", 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(emb.keySet == Set(1L, 2L, 3L, 4L))
    assert(emb(1L) == emb(2L))
    assert(emb(4L).forall(_ == 0.0f))
    def norm(v: Seq[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
    assert(math.abs(norm(emb(1L)) - 1.0) < 1e-5)
    assert(math.abs(norm(emb(3L)) - 1.0) < 1e-5)
    assert(emb(1L) != emb(3L))
  }

  test("ivfTopK finds planted near-neighbors in clustered vectors") {
    import graft.similarity.Similarity
    // Two tight clusters far apart; every vector's true top-1 is in its
    // own cluster, and probing even 1 cell must find it.
    val rng = new scala.util.Random(7)
    val rows = (0 until 40).map { i =>
      val base = if (i % 2 == 0) 10.0f else -10.0f
      Row(i.toLong, Seq.fill(8)(base + rng.nextFloat()))
    }
    val d = df("vec_id bigint, embedding array<float>")(rows)
    val ivf = Similarity.ivfTopK(d, "vec_id", "embedding", 1, numCells = 4, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(ivf.size == 40)
    ivf.foreach { case (q, n) => assert(q % 2 == n % 2, s"$q -> $n crossed clusters") }
  }

  test("simhashNearDups: identical + near-identical pair found, distinct pair not") {
    import graft.dedup.Dedup
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = df("doc_id bigint, text string")(Seq(
      Row(1L, base),
      Row(2L, base),                        // identical: hamming 0
      Row(3L, base.replace("tok40", "zzz")), // near-dup: few bits differ
      Row(4L, (1 to 40).map(i => s"other$i").mkString(" "))))
    // blocks must be even on the md5 path (split per 32-bit half)
    val pairs = Dedup.simhashNearDupsMd5(docs, "doc_id", "text", maxHamming = 12, blocks = 14)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    // exact-recall guarantee: banded candidates find ALL pairs within
    // maxHamming — cross-check against the brute-force all-pairs answer
    val sigs = Dedup.simhashMd5(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val brute = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      if java.lang.Long.bitCount(sigs(a)._1 ^ sigs(b)._1) +
        java.lang.Long.bitCount(sigs(a)._2 ^ sigs(b)._2) <= 12
    } yield (a, b)).toSet
    assert(pairs == brute)
  }

  test("simhashMd5 (hi/lo halves) matches a pure-Scala recomputation") {
    import graft.dedup.Dedup
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def expected(text: String): (Long, Long) = {
      val toks = if (text.trim.isEmpty) Seq.empty else text.trim.split("\\s+", -1).toSeq
      if (toks.isEmpty) return (0L, 0L)
      val votes = Array.fill(64)(0)
      toks.foreach { t =>
        val h = java.lang.Long.parseUnsignedLong(md5hex(t).take(16), 16)
        (0 until 64).foreach(b => votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1))
      }
      val bits = (0 until 64).map(b => if (votes(b) > 0) 1L else 0L)
      ((32 until 64).map(b => bits(b) << (b - 32)).reduce(_ | _),
        (0 until 32).map(b => bits(b) << b).reduce(_ | _))
    }
    val texts = Seq("the quick brown fox", "a", "", "  ", "x y z x y z zz")
    val docs = df("doc_id bigint, text string")(
      texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) })
    val got = Dedup.simhashMd5(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == expected(t), s"doc $i '$t'")
    }
  }

  test("simhashNearDupsMd5: near pair found with recall-1 vs brute force") {
    import graft.dedup.Dedup
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = df("doc_id bigint, text string")(Seq(
      Row(1L, base), Row(2L, base),
      Row(3L, (1 to 40).map(i => s"other$i").mkString(" "))))
    val pairs = Dedup.simhashNearDupsMd5(docs, "doc_id", "text",
        maxHamming = 3, blocks = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
    // recall-1 cross-check against brute-force hi/lo Hamming
    val sigs = Dedup.simhashMd5(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val brute = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      h = java.lang.Long.bitCount(sigs(a)._1 ^ sigs(b)._1) +
        java.lang.Long.bitCount(sigs(a)._2 ^ sigs(b)._2)
      if h <= 3
    } yield (a, b)).toSet
    assert(pairs == brute)
  }

  test("minhashNearDupsMd5 reports only brute-force Jaccard pairs") {
    import graft.dedup.Dedup
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = df("doc_id bigint, text string")(Seq(
      Row(1L, base), Row(2L, base + " extra"),
      Row(3L, (1 to 30).map(i => s"q$i").mkString(" "))))
    def pairsOf(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val md5p = pairsOf(Dedup.minhashNearDupsMd5(docs, "doc_id", "text",
      numHashes = 32, rowsPerBand = 4, shingleN = 2, threshold = 0.5))
    assert(md5p.contains((1L, 2L)))
    // LSH only drops pairs, never invents them: every reported pair is
    // a true >= 0.5 Jaccard pair of the brute-force baseline
    val brute = pairsOf(Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 2, threshold = 0.5))
    assert(md5p.subsetOf(brute))
  }

  test("simhash Manku banding: candidate volume grows linearly, not quadratically") {
    import graft.dedup.Dedup
    // Synthetic 64-bit signatures, carried as (sig_hi, sig_lo) halves:
    // random base population plus one planted near-dup (<= 3 flipped
    // bits) per 10 docs. With 32-bit combination keys, candidates ~
    // planted pairs (linear in N); single-block 8-bit banding would
    // give ~ N^2/2^8 random collisions.
    val rng = new scala.util.Random(5)
    def sigs(n: Int) = {
      val base = (0 until n).map(i => (i.toLong, rng.nextLong()))
      val planted = base.filter(_._1 % 10 == 0).map { case (i, s) =>
        (i + 1000000L, s ^ (1L << rng.nextInt(64)) ^ (1L << rng.nextInt(64)))
      }
      df("doc_id bigint, sig_hi bigint, sig_lo bigint")((base ++ planted).map {
        case (id, s) => Row(id, s >>> 32, s & 0xffffffffL)
      })
    }
    // candidate pairs = distinct id pairs sharing any Manku key
    def cands(n: Int): Long = {
      val keys = Dedup.simhashMankuKeysMd5(sigs(n), "doc_id", maxHamming = 3, blocks = 6)
      keys.select(col("doc_id").as("id1"), col("mkey"))
        .join(keys.select(col("doc_id").as("id2"), col("mkey")), "mkey")
        .filter(col("id1") < col("id2"))
        .select("id1", "id2").distinct().count()
    }
    val c300 = cands(300)
    val c1200 = cands(1200)
    // linear scaling: 4x docs -> ~4x candidates (quadratic would be 16x)
    assert(c300 >= 30L, s"planted pairs must surface (got $c300)")
    assert(c1200 <= 8 * math.max(c300, 1), s"super-linear growth: $c300 -> $c1200")
    // and candidates stay a vanishing fraction of all pairs
    assert(c1200 < 1200L * 5, s"candidate volume $c1200 not linear-bounded")
  }

  test("repetition metrics: degenerate text shows high top-share/dup-frac") {
    // "spam spam spam spam" -> 3 occurrences of one 2-gram: share 1.0,
    // dup_frac 2/3; a no-repeat doc -> share 1/3, dup_frac 0.
    val docs = df("doc_id bigint, text string")(Seq(
      Row(1L, "spam spam spam spam"), Row(2L, "a b c d")))
    val sh = docs.select(col("doc_id"),
      explode(graft.dedup.Dedup.shingles(col("text"), 2)).as("g"))
    val per = sh.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
    val got = per.groupBy(col("doc_id")).agg(
        round(max(col("c")).cast("double") / sum(col("c")), 4).as("top_share"),
        round(lit(1) - count(lit(1)).cast("double") / sum(col("c")), 4).as("dup_frac"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got(1L) == ((1.0, 0.6667)))
    assert(got(2L) == ((0.3333, 0.0)))
  }

  test("crossCorpusNearDupsMd5 finds planted train/test contamination only") {
    import graft.dedup.Dedup
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val train = df("doc_id bigint, text string")(Seq(
      Row(1L, base),
      Row(2L, (1 to 30).map(i => s"t$i").mkString(" "))))
    val test_ = df("doc_id bigint, text string")(Seq(
      Row(101L, base + " extra"),                       // contaminated vs 1
      Row(102L, (1 to 30).map(i => s"q$i").mkString(" "))))
    val got = Dedup.crossCorpusNearDupsMd5(train, test_, "doc_id", "text",
        shingleN = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 101L)))
  }

  test("crossCorpusNearDupsTopK caps witnesses per test doc at dense dup sites") {
    import graft.dedup.Dedup
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    // 10 near-identical train docs all contaminate the one test doc:
    // the full report emits 10 pairs, the capped one exactly k, picked
    // by (jaccard desc, train_id) — the highest-jaccard witnesses.
    val train = df("doc_id bigint, text string")(
      (1L to 10L).map(i => Row(i, if (i <= 2) base else base + s" pad$i")))
    val test_ = df("doc_id bigint, text string")(Seq(Row(101L, base)))
    val full = Dedup.crossCorpusNearDupsMd5(train, test_, "doc_id", "text",
      shingleN = 2, threshold = 0.5)
    assert(full.count() == 10L)
    val capped = Dedup.crossCorpusNearDupsTopK(train, test_, "doc_id", "text",
      shingleN = 2, threshold = 0.5, k = 3)
      .orderBy("witness_rank")
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    // exact-match train docs 1,2 (jaccard 1.0) outrank the padded ones;
    // rank 3 goes to the smallest-id padded doc at the tied jaccard.
    assert(capped == Seq((1L, 1L), (2L, 2L), (3L, 3L)))
  }

  test("incrementalNearDups: verdict per increment doc, best witness, state-only sketching") {
    import graft.dedup.Dedup
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val state = df("doc_id bigint, text string")(Seq(
      Row(1L, base),                                      // exact text in state
      Row(2L, base + " tail"),                            // near-dup in state
      Row(3L, (1 to 30).map(i => s"z$i").mkString(" ")))) // unrelated
    val inc = df("doc_id bigint, text string")(Seq(
      Row(101L, base),                                    // collides with 1 and 2
      Row(102L, (1 to 30).map(i => s"q$i").mkString(" ")))) // novel -> accepted
    val stateBands = Dedup.bandKeys(
      state.select(col("doc_id"),
        explode(Dedup.distinctShingles(col("text"), 2)).as("shingle")),
      "doc_id", 32, 4)
    val got = Dedup.incrementalNearDups(inc, state, graft.dedup.StateProbe.Frame(stateBands), "doc_id", "text",
        numHashes = 32, rowsPerBand = 4, shingleN = 2, threshold = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), Option(r.get(2)), Option(r.get(3))))).toMap
    // 101 rejected with doc 1 as best witness (jaccard 1.0 beats 2's)
    assert(got(101L)._1 == false && got(101L)._2.contains(1L))
    // 102 accepted, nulls for witness columns
    assert(got(102L) == ((true, None, None)))
  }

  test("incrementalNearDups bandBucketCap skips degenerate state buckets") {
    import graft.dedup.Dedup
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    // Five IDENTICAL state texts: every band bucket they occupy holds
    // exactly 5 docs — the mass-duplication degenerate shape.
    val state = df("doc_id bigint, text string")(
      (1L to 5L).map(i => Row(i, base)))
    val inc = df("doc_id bigint, text string")(Seq(Row(101L, base)))
    val stateBands = Dedup.bandKeys(
      state.select(col("doc_id"),
        explode(Dedup.distinctShingles(col("text"), 2)).as("shingle")),
      "doc_id", 32, 4)
    def run(cap: Int) = Dedup.incrementalNearDups(inc, state, graft.dedup.StateProbe.Frame(stateBands),
        "doc_id", "text", numHashes = 32, rowsPerBand = 4, shingleN = 2,
        threshold = 0.5, bandBucketCap = Some(cap))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // cap >= bucket size: collision found, 101 rejected
    assert(run(5) == Map(101L -> false))
    // cap below bucket size: every bucket skipped, 101 sails through —
    // the budgeted behavior, bounded verify work at any density
    assert(run(4) == Map(101L -> true))
  }

  test("incrementalNearDupPairs == full-corpus near-dups restricted to increment-touching") {
    import graft.dedup.Dedup
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val other = (1 to 30).map(i => s"z$i").mkString(" ")
    // state: 1≈2 (state-state pair, must NOT appear), 3 unrelated;
    // increment: 101≈base (cross pairs to 1 and 2), 102≈103 (a pure
    // increment-increment pair the state probe alone would miss),
    // 104 novel.
    val state = df("doc_id bigint, text string")(Seq(
      Row(1L, base), Row(2L, base + " tail"), Row(3L, other)))
    val inc = df("doc_id bigint, text string")(Seq(
      Row(101L, base + " x"),
      Row(102L, other.replace("z1 ", "z1 extra ")),
      Row(103L, other.replace("z1 ", "z1 extra more ")),
      Row(104L, (1 to 30).map(i => s"q$i").mkString(" "))))
    val stateBands = Dedup.bandKeys(
      state.select(col("doc_id"),
        explode(Dedup.distinctShingles(col("text"), 2)).as("shingle")),
      "doc_id", 32, 4)
    val mine = Dedup.incrementalNearDupPairs(inc, state, graft.dedup.StateProbe.Frame(stateBands),
        "doc_id", "text", numHashes = 32, rowsPerBand = 4, shingleN = 2,
        threshold = 0.5)
      .collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
                 math.max(r.getLong(0), r.getLong(1)))).toSet
    val full = Dedup.minhashNearDupsMd5(state.unionByName(inc), "doc_id", "text",
        numHashes = 32, rowsPerBand = 4, shingleN = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fullTouching = full.filter { case (a, b) => a >= 100L || b >= 100L }
    assert(mine == fullTouching,
      s"pair feed diverged: mine=$mine fullTouching=$fullTouching")
    // the state-state pair exists in the full set but must be excluded
    // from the increment feed (it lives in the persisted cluster state)
    assert(full.contains((1L, 2L)) && !mine.contains((1L, 2L)))
    // both legs are represented: cross (state x inc) and self (inc x inc)
    assert(mine.exists { case (a, b) => a < 100L && b >= 100L })
    assert(mine.exists { case (a, _) => a >= 100L })
  }

  test("fingerprintOverlap derivedDocFreqCap derives the cap from train size in-plan") {
    val quote = "the forty-two secret words of the hidden benchmark passage"
    val train = df("doc_id bigint, text string")(Seq(
      Row(1L, "AAAA " + quote + " BBBB"),
      Row(2L, "CCCC " + quote + " DDDD"))) // quote in BOTH train docs -> df 2
    val test_ = df("doc_id bigint, text string")(Seq(
      Row(101L, "XXXX " + quote + " YYYY")))
    // cap = greatest(1, ceil(0 * 2)) = 1 < df 2 -> boilerplate dropped
    val strict = CorpusStats.fingerprintOverlap(train, test_, "doc_id", "text",
      derivedDocFreqCap = Some((1, 0.0)))
    assert(strict.count() == 0)
    // cap = greatest(20, ceil(0.08 * 2)) = 20 -> pairs survive
    val loose = CorpusStats.fingerprintOverlap(train, test_, "doc_id", "text",
      derivedDocFreqCap = Some((20, 0.08)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose == Set((1L, 101L), (2L, 101L)))
  }

  test("fingerprintOverlapTopK bounds witnesses per test doc, deterministic rank") {
    val quote = "the forty-two secret words of the hidden benchmark passage"
    val longQuote = quote + " plus quite a few additional shared tokens here"
    val train = df("doc_id bigint, text string")(Seq(
      Row(1L, "AAAA " + longQuote + " B1"),
      Row(2L, "CCCC " + longQuote + " D2"),
      Row(3L, "EEEE " + quote + " F3"),
      Row(4L, "GGGG " + quote + " H4")))
    val test_ = df("doc_id bigint, text string")(Seq(
      Row(101L, "XXXX " + longQuote + " YYYY")))
    val top2 = CorpusStats.fingerprintOverlapTopK(train, test_, "doc_id", "text",
        k = 2, derivedDocFreqCap = Some((20, 0.08)))
      .orderBy("witness_rank")
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    // the two longQuote sharers outrank the short-quote ones; ties on
    // n_shared break by train_id
    assert(top2.map(_._2) == Seq(1L, 2L))
    assert(top2.map(_._1) == Seq(1L, 2L))
  }

  test("fingerprintOverlap flags verbatim shared substrings, honors doc-freq cap") {
    val quote = "the forty-two secret words of the hidden benchmark passage"
    val train = df("doc_id bigint, text string")(Seq(
      Row(1L, "AAAA " + quote + " BBBB"),
      Row(2L, "totally unrelated training text about something else entirely")))
    val test_ = df("doc_id bigint, text string")(Seq(
      Row(101L, "XXXX " + quote + " YYYY"),   // leaked quote
      Row(102L, "clean evaluation document with its own novel content")))
    val got = CorpusStats.fingerprintOverlap(train, test_, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 101L)))
    // a doc-frequency cap of 0 drops every fingerprint -> no pairs
    val none = CorpusStats.fingerprintOverlap(train, test_, "doc_id", "text",
      maxDocFreq = Some(0))
    assert(none.count() == 0)
  }

  test("fingerprintOverlap: cross-side join is sort-merge (never a broadcast side)") {
    // The static planner undercounts Generate/explode output, so without
    // the MERGE hint it broadcast one ENTIRE windowed winnow side — a
    // multi-M-row build side at the 10x fixture. Pin the shape: the
    // report plan must contain a SortMergeJoin and no BroadcastHashJoin
    // (the only broadcasts allowed are the 1-row derived-cap nested
    // loops).
    val mk = (ids: Seq[Long]) => df("doc_id bigint, text string")(
      ids.map(i => Row(i, s"document number $i with the shared forty-two secret words passage")))
    val plan = CorpusStats.fingerprintOverlap(mk(1L to 5L), mk(101L to 105L),
        "doc_id", "text", derivedDocFreqCap = Some((20, 0.08)))
      .queryExecution.executedPlan
    def nodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        nodes(a.executedPlan)
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        // the report is CacheOnce'd — the join shape under test lives in
        // the cached plan
        nodes(m.relation.cachedPlan)
      case _ =>
        (p.nodeName +: p.children.flatMap(nodes)) ++
          p.subqueries.flatMap(s => nodes(s))
    }
    val names = nodes(plan)
    assert(names.exists(_.contains("SortMergeJoin")),
      s"expected a SortMergeJoin in: $names")
    assert(!names.exists(_.contains("BroadcastHashJoin")),
      s"windowed winnow side must not be broadcast: $names")
  }

  test("fingerprintOverlap report is CacheOnce-shared with its top-k view") {
    val t = df("doc_id bigint, text string")(Seq(
      Row(1L, "the forty-two secret words of the hidden benchmark passage")))
    val q = df("doc_id bigint, text string")(Seq(
      Row(101L, "xx the forty-two secret words of the hidden benchmark passage yy")))
    val first = CorpusStats.fingerprintOverlap(t, q, "doc_id", "text")
    val second = CorpusStats.fingerprintOverlap(t, q, "doc_id", "text")
    // same semantic plan -> the SAME persisted frame comes back, so the
    // top-k view windows the cached report instead of recomputing it
    assert(first eq second)
  }

  test("verbatimSpans finds maximal copied runs with exact positions") {
    // Test doc 101 copies tokens 2..9 of train doc 1 (8 tokens) at its
    // position 1, and separately tokens 12..17 (6 tokens) at position 11.
    val t1 = "w0 w1 c0 c1 c2 c3 c4 c5 c6 c7 w10 w11 d0 d1 d2 d3 d4 d5"
    val train = df("doc_id bigint, text string")(Seq(
      Row(2L, t1),
      Row(4L, "totally unrelated training text about something else entirely")))
    val test_ = df("doc_id bigint, text string")(Seq(
      Row(101L, "x0 c0 c1 c2 c3 c4 c5 c6 c7 y9 y10 d0 d1 d2 d3 d4 d5"),
      Row(103L, "clean evaluation document with its own novel content here")))
    val got = CorpusStats.verbatimSpans(train, test_, "doc_id", "text",
      k = 3, minSpanTokens = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == Set(
      (2L, 101L, 2L, 1L, 8L),    // the 8-token run
      (2L, 101L, 12L, 11L, 6L))) // the 6-token run
    // minSpan above the longest run: nothing reported.
    assert(CorpusStats.verbatimSpans(train, test_, "doc_id", "text",
      k = 3, minSpanTokens = 9).count() == 0)
    // A doc-freq cap of 0 drops every shingle.
    assert(CorpusStats.verbatimSpans(train, test_, "doc_id", "text",
      k = 3, minSpanTokens = 6, maxDocFreq = Some(0)).count() == 0)
  }

  test("incrementalDedup: in-batch min-id survivor, state suppression, day chaining") {
    import graft.dedup.Dedup
    val day1 = df("doc_id bigint, text string")(Seq(
      Row(1L, "alpha"), Row(2L, "beta")))
    val day2 = df("doc_id bigint, text string")(Seq(
      Row(10L, "alpha"),   // already in state -> dropped
      Row(12L, "gamma"),   // new, duplicated in-batch: min id 11 wins
      Row(11L, "gamma"),
      Row(13L, "delta")))  // new
    val state1 = day1.select(md5(col("text")).as("content_hash"))
    val accepted2 = Dedup.incrementalDedup(day2, state1, "doc_id", "text")
    assert(accepted2.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(11L, 13L))
    // Chaining: day-3 sees day-1 + day-2 digests as state.
    val day3 = df("doc_id bigint, text string")(Seq(
      Row(20L, "gamma"),    // accepted on day 2 -> dropped now
      Row(21L, "epsilon"))) // new
    val state2 = state1.union(accepted2.select("content_hash"))
    val accepted3 = Dedup.incrementalDedup(day3, state2, "doc_id", "text")
    assert(accepted3.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(21L))
  }

  test("bloomContamination == exact shingle join; prefilter actually cuts the scan") {
    import graft.dedup.Dedup
    import graft.functions.BloomFunctions
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val train = docs.filter(col("doc_id") % 2 === 0)
    val test_ = docs.filter(col("doc_id") % 2 === 1)
    val got = Dedup.bloomContamination(train, test_, "doc_id", "text",
      shingleN = 3, minShared = 3)
    // Exact twin without the bloom prefilter.
    def sh(df: org.apache.spark.sql.DataFrame, as: String) = df.select(
      col("doc_id").as(as),
      explode(Dedup.distinctShingles(col("text"), 3)).as("shingle"))
    val exact = sh(train, "train_id").join(sh(test_, "test_id"), Seq("shingle"))
      .groupBy("train_id", "test_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
    assert(got.count() > 0)
    assert(got.except(exact).count() == 0 && exact.except(got).count() == 0)
    // The bloom itself rejects foreign strings (selectivity is real):
    // a filter over disjoint tokens keeps ~fpp of them, not all.
    val testSh = sh(test_, "test_id")
    val bloom = testSh.stat.bloomFilter("shingle", testSh.count(), 0.01)
    val foreign = spark.range(0, 10000).selectExpr("concat('zz_', id, ' qq_', id) AS s")
    val kept = foreign.filter(BloomFunctions.mightContainString(bloom, col("s"))).count()
    assert(kept < 500, s"bloom kept $kept of 10000 foreign shingles")
  }

  test("bloomContamination maxTrainPerShingle: min-id cut, fanout bounded") {
    import graft.dedup.Dedup
    // One boilerplate text duplicated across many train docs (hot
    // shingles, df = 6) plus one unique contaminated doc; the test side
    // carries the same two texts. K = 2 must keep, per shingle, only
    // the two LOWEST train ids — so the boilerplate group reports train
    // ids 100, 101 only, with full n_shared for those survivors.
    val boiler = "click here to subscribe to our newsletter for updates"
    val uniq = "the migrating turtle nested on the remote beach at dawn"
    val train = df("doc_id bigint, text string")(
      (100L to 105L).map(i => Row(i, boiler)) :+ Row(200L, uniq))
    val test_ = df("doc_id bigint, text string")(Seq(
      Row(1L, boiler), Row(3L, uniq)))
    val capped = Dedup.bloomContamination(train, test_, "doc_id", "text",
      shingleN = 3, minShared = 3, maxTrainPerShingle = Some(2))
    val uncapped = Dedup.bloomContamination(train, test_, "doc_id", "text",
      shingleN = 3, minShared = 3)
    val cap = capped.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val unc = uncapped.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // Uncapped: all 6 boilerplate train docs pair with test doc 1.
    assert(unc.keySet.count(_._2 == 1L) == 6)
    // Capped: only the two lowest train ids survive per (identical)
    // shingle set — interchangeable-duplicate exemplars...
    assert(cap.keySet == Set((100L, 1L), (101L, 1L), (200L, 3L)))
    // ...with UNDIMINISHED n_shared (every shingle kept them both),
    // and the unique doc's pair untouched by the cap.
    assert(cap((100L, 1L)) == unc((100L, 1L)))
    assert(cap((101L, 1L)) == unc((101L, 1L)))
    assert(cap((200L, 3L)) == unc((200L, 3L)))
  }

  test("cleanCorpus pipeline: gates, exact dedup, near-dup removal compose") {
    import graft.text.CorpusPipeline
    val good = "the quick brown fox jumps over a lazy dog and keeps " +
      "running in the warm sun across the wide open field all day"
    val docs = df("doc_id bigint, text string")(Seq(
      Row(1L, good),                    // survives
      Row(2L, good),                    // exact dup of 1 -> dropped
      Row(3L, good + " tail"),          // near-dup of 1 -> dropped
      Row(4L, "!!!???..."),             // quality gate drops
      Row(5L, "zzz qqq xxx yyy www vvv uuu ttt sss rrr qq2 zz2 xx2 yy2 " +
        "ww2 vv2 uu2 tt2 ss2 rr2")))    // no markers -> lang gate drops
    val survivors = CorpusPipeline.cleanCorpus(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L))
  }

  test("winnowing: shared long substring => shared fingerprint; short doc => one") {
    val shared = "the quick brown fox jumps over the lazy dog"
    val docs = df("doc_id bigint, text string")(Seq(
      Row(1L, "AAAA " + shared + " BBBB"),
      Row(2L, "XXXX " + shared + " YYYY"),
      Row(3L, "tiny")))
    val fp = CorpusStats.winnowFingerprints(docs, "doc_id", "text", n = 5, w = 8)
    val byDoc = fp.collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet)
    // guarantee: any shared substring of length >= n + w - 1 = 12 shares a print
    assert(byDoc(1L).intersect(byDoc(2L)).nonEmpty)
    // 'tiny' has a single (4-char) gram -> exactly one fingerprint
    assert(byDoc(3L).size == 1)
  }
}
