package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.ShingleFunctions

/** Corpus-level text statistics for training-data pipelines: TF-IDF term
  * weighting and rolling-hash document fingerprinting (winnowing).
  *
  * Scale design:
  *  - TF-IDF is two keyed aggregates over the exploded (doc, term) set —
  *    term counts partial-aggregate map-side, the document-frequency
  *    table joins back by term (a keyed shuffle; the term dictionary is
  *    usually far smaller than the corpus but is NOT assumed to fit in a
  *    broadcast), and the corpus size N rides in as a broadcast scalar.
  *  - Winnowing is embarrassingly parallel per document: char n-gram
  *    rolling hashes (one native-expression pass), a per-doc ordered
  *    window min, then distinct — no cross-document shuffle except the
  *    final per-doc distinct.
  */
object CorpusStats {

  /** Top-k TF-IDF terms per document. tf = raw term count in the doc,
    * idf = ln(N / df); rank on the ROUNDED weight (ties broken by term)
    * so ordering is reproducible across engines. */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    val terms = docs.select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("term"))
    val tf = terms.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    // Document frequency as a windowed count keyed on term: tf has one
    // row per (doc, term), so count-over-term IS df — and it spares the
    // groupBy+join shape its SECOND tokenize+explode scan of the corpus
    // (the dfreq branch re-derived tf from scratch).
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val weighted = tf
      .withColumn("df", count(lit(1))
        .over(Window.partitionBy(col("term"))))
      .crossJoin(broadcast(n))
      .withColumn("weight",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
    val w = Window.partitionBy(col(idCol)).orderBy(desc("weight"), col("term"))
    weighted.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("weight"), col("rank"))
  }

  /** CCNet-style unigram language-model quality score (Wenzek et al.
    * 2020 filter corpora by LM perplexity; the unigram model is its
    * engine-native floor): train corpus unigram frequencies in one
    * keyed aggregate, then score each document by the mean negative log
    * probability of its token occurrences,
    * `avg_nll = ln(N_total) - sum(tf * ln(cf)) / n_tok` — low scores
    * are corpus-typical documents, high scores outliers/noise.
    *
    * Scale shape mirrors [[tfidfTopTerms]]: per-doc term counts partial-
    * aggregate map-side, the corpus-frequency table joins back by term
    * (keyed shuffle, dictionary never assumed broadcastable), the
    * corpus total rides as a broadcast scalar. Blank documents are
    * excluded (no tokens, no score). */
  def unigramLmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val terms = docs.select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("term"))
    val tf = terms.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val cf = tf.groupBy("term").agg(sum(col("tf")).as("cf"))
    val tot = cf.agg(sum(col("cf")).as("n_total"))
    tf.join(cf, Seq("term")).crossJoin(broadcast(tot))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tok"),
        round(log(max(col("n_total")).cast("double")) -
          sum(col("tf") * log(col("cf").cast("double"))) / sum(col("tf")), 4)
          .as("avg_nll"))
  }

  /** Hashed bag-of-words embedding (feature hashing): token -> bucket
    * (first 8 hex chars of md5(token), a 32-bit value any ANSI engine
    * can re-derive) mod dim, per-bucket counts, L2-normalized
    * `array<float>` — deterministic, vocabulary-free embedding
    * generation for the similarity/dedup operators when no model
    * embeddings exist. One explode + one keyed aggregate per doc;
    * the dense array materializes per document, never per token. Empty
    * documents embed as the zero vector. */
  def hashedBowEmbedding(docs: DataFrame, idCol: String, textCol: String,
                         dim: Int): DataFrame = {
    def bucketOf(t: Column): Column =
      pmod(conv(substring(md5(t), 1, 8), 16, 10).cast("long"), lit(dim.toLong))
    // One codegen'd HashAggregate of `dim` conditional counts (the same
    // fixed-width-aggregate shape as the MinHash signature) — NOT a
    // collect_list/map build, which would run on the non-codegen
    // ObjectHashAggregate path and dominate the pipeline.
    val buckets = docs.select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("term"))
      .select(col(idCol), bucketOf(col("term")).as("bucket"))
    val countCols = (0 until dim).map(i =>
      count(when(col("bucket") === i, 1)).as(s"_c$i"))
    val counted = buckets.groupBy(col(idCol)).agg(countCols.head, countCols.tail: _*)
    val dense = array((0 until dim).map(i => col(s"_c$i").cast("double")): _*)
    val norm = sqrt((0 until dim).map(i => col(s"_c$i") * col(s"_c$i"))
      .reduce(_ + _).cast("double"))
    val unit = counted.select(col(idCol),
      transform(dense, v =>
        (v / when(norm === 0.0, lit(1.0)).otherwise(norm)).cast("float"))
        .as("embedding"))
    // Left join keeps empty docs (no tokens -> no aggregate row) as zeros.
    docs.select(col(idCol))
      .join(unit, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("embedding"), array_repeat(lit(0.0f), dim)).as("embedding"))
  }

  /** Winnowing fingerprints via the one-pass native expression
    * [[graft.functions.WinnowFingerprints]]: scan -> project -> explode,
    * no shuffle. Guarantees any shared substring of length >= n + w - 1
    * contributes a shared fingerprint. Fingerprints are md5 hex
    * strings, so an independent engine can recompute them. */
  def winnowFingerprintsNative(docs: DataFrame, idCol: String,
                               textCol: String, n: Int, w: Int): DataFrame =
    docs.select(col(idCol),
      explode(graft.functions.WinnowFunctions.winnowMd5(col(textCol), n, w))
        .as("fingerprint"))

  /** Substring-level cross-corpus contamination: (train_id, test_id)
    * pairs sharing at least `minShared` winnowing fingerprints — i.e.
    * verbatim common substrings of length >= n + w - 1, the leakage
    * shingle-Jaccard can miss when a short quoted passage hides in an
    * otherwise different document. Fingerprint-keyed join (never
    * |train| x |test|); `maxDocFreq` drops fingerprints too common on
    * either side (boilerplate headers — the stop-word analogue) so one
    * ubiquitous snippet cannot fan the join out quadratically. */
  def fingerprintOverlap(train: DataFrame, test: DataFrame, idCol: String,
                         textCol: String, n: Int = 5, w: Int = 8,
                         minShared: Int = 3,
                         maxDocFreq: Option[Int] = None,
                         derivedDocFreqCap: Option[(Int, Double)] = None): DataFrame = {
    def fps(df: DataFrame) =
      winnowFingerprintsNative(df, idCol, textCol, n, w)
    // Density-derived cap (floor, fracOfTrain): greatest(floor,
    // ceil(frac * |train|)) computed IN-PLAN as a 1-row broadcast — no
    // separate count() action per run, and Long arithmetic end to end
    // (the oracle's BIGINT cast; an Int cap would truncate past 2^31).
    val derivedCapDf = derivedDocFreqCap.map { case (floor, frac) =>
      train.agg(greatest(lit(floor.toLong),
        ceil(lit(frac) * count(lit(1))).cast("long")).as("_cap"))
    }
    // Doc-freq cap as a WINDOWED count keyed on fingerprint — one
    // winnowing pass per side instead of two (the old groupBy+self-join
    // computed the expensive winnow scan once for the rows and once for
    // the frequencies), and the window's exchange leaves the side
    // hash-partitioned AND sorted by fingerprint, which is exactly the
    // cross-side join's distribution — the join re-shuffles nothing.
    def capped(f: DataFrame) = {
      def byWindow(pred: DataFrame => DataFrame): DataFrame = {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("fingerprint")
        pred(f.withColumn("_df", count(lit(1)).over(w)))
          .select(col(idCol), col("fingerprint"))
      }
      derivedCapDf match {
        case Some(capDf) =>
          // broadcast nested-loop against the 1-row cap preserves the
          // streamed side's fingerprint partitioning
          byWindow(_.crossJoin(broadcast(capDf)).filter(col("_df") <= col("_cap")))
        case None =>
          maxDocFreq.fold(f)(cap => byWindow(_.filter(col("_df") <= cap)))
      }
    }
    // MERGE hint: both sides leave their doc-freq window hash-partitioned
    // AND sorted by fingerprint, so a sort-merge join here reuses both —
    // zero extra exchange. Left to itself the static planner BROADCASTS
    // one side (it undercounts Generate/explode output, so a windowed
    // winnow side always "fits"), which at the 10x fixture meant shipping
    // a multi-M-row build side to every task: 26 s -> 100+ s.
    // The finished pair report is CacheOnce'd: the audit report and its
    // witness-capped top-k view ([[fingerprintOverlapTopK]]) are the
    // same computation — whichever runs first pays the winnow + join +
    // pair aggregate, the other reads the cached report (k*|test|-row
    // window over it). Semantic-hash keyed, so different corpora/params
    // never collide.
    graft.ops.CacheOnce.swap("fingerprint-overlap-pairs",
      capped(fps(train)).select(col(idCol).as("train_id"), col("fingerprint"))
        .hint("merge")
        .join(capped(fps(test)).select(col(idCol).as("test_id"), col("fingerprint")),
          Seq("fingerprint"))
        .groupBy("train_id", "test_id").agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= minShared))
  }

  /** Witness-capped [[fingerprintOverlap]]: top-k training witnesses per
    * test doc (n_shared DESC, train_id — deterministic), so the report
    * is bounded k * |test| at ANY duplication density. The full per-pair
    * report is an audit artifact; THIS is the operational decontam shape
    * at web-crawl density (the 10x fixture's full report is 72M rows).
    * Window keyed by test_id — partition-parallel, never a global sort. */
  def fingerprintOverlapTopK(train: DataFrame, test: DataFrame, idCol: String,
                             textCol: String, n: Int = 5, w: Int = 8,
                             minShared: Int = 3, k: Int = 3,
                             maxDocFreq: Option[Int] = None,
                             derivedDocFreqCap: Option[(Int, Double)] = None): DataFrame = {
    val pairs = fingerprintOverlap(train, test, idCol, textCol, n, w,
      minShared, maxDocFreq, derivedDocFreqCap)
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("test_id").orderBy(desc("n_shared"), col("train_id"))
    pairs.withColumn("witness_rank", row_number().over(win).cast("long"))
      .filter(col("witness_rank") <= k)
  }

  /** The PRE-DEDUP bounded member of the contamination family: the
    * GATE (which test docs are contaminated) is decoupled from WITNESS
    * enumeration (which train docs to show for each) — the verdict-17
    * redesign of the r16 witness-capped member, whose gate rode the
    * capped pair report and missed ~6% of truly contaminated test docs
    * (a test doc whose every shared fingerprint elected OTHER train
    * docs into the first-16 was never flagged — the one failure a
    * decontamination gate cannot have).
    *
    * Gate: a test doc is flagged when it shares >= `minShared` distinct
    * fingerprints with the train corpus's df-capped fingerprint
    * EXISTENCE index — train-fingerprint existence is all the >= m
    * metric needs, and the index join emits at most one row per test
    * fingerprint occurrence: linear at ANY duplication density, no
    * witness budget in the decision path at all. Every test doc truly
    * flagged by the exact (df-capped) pair member shares >= m distinct
    * fingerprints with SOME train doc, hence >= m with the index — so
    * gate recall over the exact member is 1.0 structurally
    * (dd_occcap_recall_audit records it). The gate over-approximates
    * pairs by design (m fingerprints spread over m different train docs
    * still flag), which is the safe direction for decontamination.
    *
    * Witnesses: for flagged docs only, the report enumerates train
    * witnesses under the first-`occCap`-doc_ids-per-fingerprint budget
    * (deterministic; occCap · te_occ(f) join rows per fingerprint —
    * the exact members' Θ(Σ tr_occ × te_occ) term is K² on a K-copy
    * corpus, measured 900× / 571M join rows at the 30× fixture). A
    * flagged doc whose witnesses were all displaced reports NULL
    * witness columns — flagged regardless. The budget is FIXED, not
    * derived (a density-derived occurrence cap grows with K and
    * restores the K² term); the occ-cap keeps occurrence 1 of every
    * fingerprint, so the existence index is derived from the SAME
    * capped frame (distinct fingerprints survive the cap by
    * construction — one winnow pass serves both legs).
    *
    * Output: (test_id, n_shared — the gate's distinct-fingerprint
    * count, train_id, witness_shared — both NULL when no witness
    * survives the budget at >= minShared). */
  def fingerprintOverlapOccCapped(train: DataFrame, test: DataFrame,
                                  idCol: String, textCol: String,
                                  n: Int = 5, w: Int = 8,
                                  minShared: Int = 3, occCap: Int = 16,
                                  derivedDocFreqCap: Option[(Int, Double)] = None): DataFrame = {
    def fps(df: DataFrame) =
      winnowFingerprintsNative(df, idCol, textCol, n, w)
    val derivedCapDf = derivedDocFreqCap.map { case (floor, frac) =>
      train.agg(greatest(lit(floor.toLong),
        ceil(lit(frac) * count(lit(1))).cast("long")).as("_cap"))
    }
    // Caps ride ONE window pass keyed on fingerprint (the df count and
    // the witness rank share the partition; the rank's (fingerprint,
    // id) sort feeds the join's merge side) — each side leaves
    // hash-partitioned by fingerprint, which is the join's
    // distribution, so nothing re-shuffles.
    def capped(f: DataFrame, witnessCap: Option[Int]) = {
      val byFp = org.apache.spark.sql.expressions.Window.partitionBy("fingerprint")
      val ranked = f.withColumn("_df", count(lit(1)).over(byFp))
      val dfGated = derivedCapDf match {
        case Some(capDf) =>
          ranked.crossJoin(broadcast(capDf)).filter(col("_df") <= col("_cap"))
        case None => ranked
      }
      witnessCap.fold(dfGated) { cap =>
        dfGated
          .withColumn("_occ", row_number().over(byFp.orderBy(col(idCol))))
          .filter(col("_occ") <= cap)
      }.select(col(idCol), col("fingerprint"))
    }
    val trainW = capped(fps(train), Some(occCap))
    val testFps = capped(fps(test), None)
    // Existence index == the df-capped train fingerprint set (the
    // occ-cap keeps rank 1 of every fingerprint, so distinct-of-capped
    // loses nothing) — small output, derived from the same winnow leg.
    val gate = testFps.select(col(idCol).as("test_id"), col("fingerprint"))
      .join(trainW.select("fingerprint").distinct(), Seq("fingerprint"))
      .groupBy("test_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    val wit = trainW.select(col(idCol).as("train_id"), col("fingerprint"))
      .hint("merge")
      .join(testFps.select(col(idCol).as("test_id"), col("fingerprint")),
        Seq("fingerprint"))
      .groupBy("train_id", "test_id").agg(count(lit(1)).as("witness_shared"))
      .filter(col("witness_shared") >= minShared)
    graft.ops.CacheOnce.swap("fingerprint-overlap-occcapped-report",
      gate.join(wit, Seq("test_id"), "left")
        .select(col("test_id"), col("n_shared"), col("train_id"),
          col("witness_shared")))
  }

  /** Maximal VERBATIM token spans shared between a train and a test
    * corpus — the span-level complement of [[fingerprintOverlap]]:
    * where that reports "these two docs share >= m fingerprints", this
    * reports WHERE and HOW LONG each contiguous copied run is, without
    * any suffix structure. Positional k-shingles from both sides join
    * on shingle text (bucket-keyed, never |train| x |test|); a copied
    * region shows up as consecutive matches along one DIAGONAL
    * (train_pos - test_pos constant), so gaps-and-islands per
    * (pair, diagonal) recovers each maximal run: a run of c matching
    * k-shingles is a verbatim span of c + k - 1 tokens. `maxDocFreq`
    * caps shingle document frequency per side (boilerplate/stop-phrase
    * shingles would otherwise fan the join quadratically). Returns
    * (train_id, test_id, train_start, test_start, span_tokens) for
    * spans of at least `minSpanTokens` tokens.
    *
    * Precondition: `idCol` is unique within `train` and unique within
    * `test`. Matches are keyed by (id, token position) with no distinct
    * pass, so a repeated id mixes two documents' positions on one
    * diagonal: the run detection then splits or merges runs, and the
    * reported spans are wrong. */
  def verbatimSpans(train: DataFrame, test: DataFrame, idCol: String,
                    textCol: String, k: Int = 4, minSpanTokens: Int = 8,
                    maxDocFreq: Option[Int] = None,
                    derivedDocFreqCap: Option[(Int, Double)] = None): DataFrame = {
    // Corpus-derived cap, same convention as [[fingerprintOverlap]]:
    // greatest(floor, ceil(frac * |train|)) as a 1-row broadcast. A
    // FIXED cap saturates at high duplication density (at the 10x
    // fixture every true span's shingles exceed 20 docs and the report
    // silently empties — both engines agreeing on zero rows is
    // consistent, not informative).
    val derivedCapDf = derivedDocFreqCap.map { case (floor, frac) =>
      train.agg(greatest(lit(floor.toLong),
        ceil(lit(frac) * count(lit(1))).cast("long")).as("_cap"))
    }
    // Native one-pass positional shingles (r18): the HOF formulation
    // (split + transform(sequence, slice + concat_ws)) pays interpreted
    // lambdas per position — the same cost class WordShingles was built
    // to remove from the MinHash path. For docs at or above k tokens
    // the native array IS the positional shingle sequence (index =
    // pos), and the >= k token gate keeps the short-doc collapse case
    // out, exactly as before.
    def shingles(df: DataFrame) = df
      .filter(graft.text.TextFunctions.tokenCount(col(textCol)) >= k)
      .select(col(idCol), posexplode(
        ShingleFunctions.shingles(col(textCol), k)))
      .select(col(idCol), col("pos").cast("long").as("pos"), col("col").as("shingle"))
    // Distinct-doc frequency per shingle in ONE pass over one exchange:
    // dense_rank over (shingle | order by id) ties equal ids, so its
    // per-shingle max IS the distinct doc count — versus the old
    // distinct+groupBy+join shape that re-derived the shingle scan a
    // second time and shuffled three times. The windowed frame leaves f
    // hash-partitioned by shingle — the cross-side join's distribution.
    def capped(f: DataFrame) = {
      def byWindow(pred: DataFrame => DataFrame): DataFrame = {
        val byShingle = Window.partitionBy(col("shingle"))
        pred(f.withColumn("_dr", dense_rank().over(byShingle.orderBy(col(idCol))))
          .withColumn("_df", max(col("_dr")).over(byShingle)))
          .select(col(idCol), col("pos"), col("shingle"))
      }
      derivedCapDf match {
        case Some(capDf) =>
          byWindow(_.crossJoin(broadcast(capDf)).filter(col("_df") <= col("_cap")))
        case None =>
          maxDocFreq.fold(f)(cap => byWindow(_.filter(col("_df") <= cap)))
      }
    }
    // Same MERGE rationale as fingerprintOverlap: both capped sides are
    // window outputs partitioned by shingle; without the hint the static
    // planner broadcasts one side off an undercounted explode estimate.
    // NO distinct over the match set (r19): (id, pos) is unique per side
    // BY CONSTRUCTION — posexplode of the positional shingle array emits
    // one row per index — so the equi-join output is already unique in
    // (train_id, test_id, tpos, qpos) and the old 5-column distinct was
    // a full exchange + hash-dedup of the biggest intermediate that
    // removed zero rows (checked at sf0.01 and sf0.1: count == distinct
    // count). The islands window below re-keys on
    // (pair, diag) regardless.
    val matches = capped(shingles(train))
      .select(col(idCol).as("train_id"), col("pos").as("tpos"), col("shingle"))
      .hint("merge")
      .join(capped(shingles(test))
        .select(col(idCol).as("test_id"), col("pos").as("qpos"), col("shingle")),
        Seq("shingle"))
      .select(col("train_id"), col("test_id"), col("tpos"), col("qpos"),
        (col("tpos") - col("qpos")).as("diag"))
    // Consecutive qpos on one diagonal = one island: qpos - row_number
    // is constant within a maximal run.
    val w = Window.partitionBy(col("train_id"), col("test_id"), col("diag"))
      .orderBy(col("qpos"))
    matches.withColumn("_isl", col("qpos") - row_number().over(w))
      .groupBy("train_id", "test_id", "diag", "_isl")
      .agg(min("tpos").as("train_start"), min("qpos").as("test_start"),
        (count(lit(1)) + k - 1).as("span_tokens"))
      .filter(col("span_tokens") >= minSpanTokens)
      .select(col("train_id"), col("test_id"), col("train_start"),
        col("test_start"), col("span_tokens"))
  }

  /** Composable-operator formulation of the same algorithm (hash every
    * char n-gram, per-doc ordered window min, distinct minima) — kept as
    * the cross-checkable twin of the native expression; it explodes one
    * row per character and shuffles them through a window sort, so
    * prefer [[winnowFingerprintsNative]] anywhere performance matters.
    * Grams hash with md5 (hex string, lexicographic min), as in the
    * native expression. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         n: Int, w: Int): DataFrame = {
    val grams = docs.select(col(idCol),
      posexplode(ShingleFunctions.charGrams(col(textCol), n)))
      .select(col(idCol), col("pos"), md5(col("col")).as("h"))
    val win = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    val cnt = Window.partitionBy(col(idCol))
    // Only full windows count (positions 0..m-w); a doc with fewer than
    // w grams keeps its single global min (position 0's partial window).
    grams
      .withColumn("wmin", min(col("h")).over(win))
      .withColumn("m", count(lit(1)).over(cnt))
      .filter(col("pos") <= col("m") - w || (col("m") < w && col("pos") === 0))
      .select(col(idCol), col("wmin").as("fingerprint"))
      .distinct()
  }
}
