package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.PersistedState._
import graft.dedup.{Dedup, StateProbe}
import graft.multimodal.Multimodal
import graft.similarity.Similarity
import graft.text.TextFunctions

/** LLM-data-pipeline operators over the documents/embeddings tables:
  * text analysis, exact + sketch dedup, similarity search.
  *
  * Oracle construction mirrors the Scala expressions literally (same
  * replace-arithmetic, same marker lists) so both engines compute
  * identical values. Every sketch (MinHash, SimHash, winnowing, hashed
  * bag-of-words) hashes with md5, which DuckDB re-derives, so each
  * sketch pipeline is oracle-checked end to end.
  */
object CorpusQueries {

  /** Shared recall protocol for the approximate-ANN quality reports:
    * exact top-5 over the vec_id < 200 query sample vs an approximate
    * method's SCORED candidate pairs (pre-top-k) -> one row
    * (n_exact, n_hit, recall, n_cand, candidate_frac). n_cand is the
    * rescored-pair volume and candidate_frac its share of all N(N-1)
    * directed pairs — the cost side of the recall/cost tradeoff, so a
    * parameterization that quietly rescores a third of the corpus shows
    * up in the report, not just in the wall clock. */
  private def recallReport(s: org.apache.spark.sql.SparkSession, d: String)(
      scored: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val emb = Tables.embeddings(s, d)
    // Ground truth TRUNCATED under a shared key (r18): the brute-force
    // exact top-5 is identical for every recall query (s_ann_recall,
    // s_ivf_recall), and the report references it twice (numerator
    // join + denominator count) — it now computes once per session
    // instead of twice per report per rep.
    // The truncated frame has no lineage to recompute from: CacheOnce
    // keys it by the embeddings files its plan reads, so an in-session
    // regeneration of that file misses the memo.
    val exact = graft.ops.CacheOnce.swapTruncated("ann-exact-top5",
      Similarity.cosineTopK(
        emb.filter(col("vec_id") < 200)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        emb, "qid", "vec_id", "qv", "embedding", 5)
        .select(col("query_id"), col("neighbor_id")))
    // The scored candidate set feeds the top-k window AND the n_cand
    // count. Memoized truncation rather than a bare eagerDurable: the
    // memo bounds live generations per name (LRU-released), where an
    // unreleased per-invocation checkpoint accumulated one reliable-
    // checkpoint copy per rep (review r18).
    val scoredM = graft.ops.CacheOnce.swapTruncated("ann-scored", scored)
    val approxTop = Similarity.topKWindow(scoredM, 5)
      .filter(col("query_id") < 200).select("query_id", "neighbor_id")
    val hits = exact.join(approxTop, Seq("query_id", "neighbor_id"), "left_semi")
    val corpusN = emb.filter(Similarity.l2norm(col("embedding")) > 0)
      .agg(count(lit(1)).as("_nc"))
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
      .crossJoin(scoredM.agg(count(lit(1)).as("n_cand")))
      .crossJoin(corpusN)
      .select(col("n_exact"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_exact"), 4).as("recall"),
        col("n_cand"),
        round(col("n_cand").cast("double") / (col("_nc") * (col("_nc") - 1)), 4)
          .as("candidate_frac"))
  }

  // ---- SQL fragments mirroring TextFunctions ----

  private def occSql(padded: String, sub: String): String =
    s"CAST((length($padded) - length(replace($padded, '$sub', ''))) / ${sub.length} AS BIGINT)"

  // Blank text must count 0 tokens like TextFunctions.tokens (DuckDB's
  // regexp_split of '' yields [''] = 1 otherwise).
  private val tokCountSql =
    "CAST(CASE WHEN length(trim(text)) = 0 THEN 0 " +
      "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT)"

  private val punctStripped =
    Seq(".", ",", ";", ":", "!", "?").foldLeft("text")((acc, p) =>
      s"replace($acc, '$p', '')")

  private val punctRatioSql =
    s"round(CAST(length(text) - length($punctStripped) AS DOUBLE) / greatest(length(text), 1), 4)"

  private val stopHitsSql = Seq("the", "a", "and", "of", "to", "in", "is")
    .map(st => occSql("(' ' || text || ' ')", s" $st ")).mkString(" + ")

  private val stopRatioSql =
    s"round(CAST($stopHitsSql AS DOUBLE) / greatest($tokCountSql, 1), 4)"

  private val avgWordLenSql =
    s"round(CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE) " +
      s"/ greatest($tokCountSql, 1), 4)"

  private val qualitySql =
    s"round((CASE WHEN length(text) BETWEEN 50 AND 10000 THEN 1.0 ELSE 0.0 END + " +
      s"CASE WHEN $punctRatioSql < 0.2 THEN 1.0 ELSE 0.0 END + " +
      s"CASE WHEN $stopRatioSql > 0.05 THEN 1.0 ELSE 0.0 END) / 3.0, 4)"

  /** Unigram-LM scoring chain (t_unigram_lm's oracle), ending at CTE
    * `lm(doc_id, n_tok, avg_nll)`; shared by the budget-selection twin. */
  private val unigramLmCtes: String =
    """terms AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
  FROM documents WHERE length(trim(text)) > 0),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM terms GROUP BY 1, 2),
cf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY 1),
tot AS (SELECT CAST(sum(cf) AS BIGINT) AS n_total FROM cf),
lm AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tok,
  round(ln(CAST(max(n_total) AS DOUBLE)) - sum(tf * ln(CAST(cf AS DOUBLE))) / sum(tf), 4) AS avg_nll
  FROM tf JOIN cf USING (term) CROSS JOIN tot GROUP BY doc_id)"""

  private def langScoreSql(markers: Seq[String]): String =
    markers.map(m => occSql("(' ' || lower(text) || ' ')", s" $m ")).mkString(" + ")

  private val langCaseSql: String = {
    val scores = TextFunctions.langMarkers.map { case (lang, ms) =>
      lang -> s"(${langScoreSql(ms)})"
    }
    val best = s"greatest(${scores.map(_._2).mkString(", ")})"
    val whens = scores.map { case (lang, s) =>
      s"WHEN $s = $best AND $best > 0 THEN '$lang'"
    }.mkString(" ")
    s"CASE $whens ELSE 'und' END"
  }

  /** Oracle for the streaming corpus ingest (SparkEntry): the settled
    * stream result is arrival-order-independent, so the batch aggregate
    * over the same gates is the exact oracle. */
  private[graft] lazy val corpusIngestOracleSql: String =
    s"SELECT $langCaseSql AS lang_guess, " +
      "CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_docs " +
      s"FROM documents WHERE $qualitySql >= 0.6667 AND $langCaseSql <> 'und' GROUP BY 1"

  // ---- md5-twin sketch SQL (single source of truth with Dedup's twins) ----

  /** The 64 per-bit set-counts of one doc's token words as ONE
    * aggregate's columns — `c_b = Σ_tokens (word >> b) & 1` — so the
    * SimHash vote needs NO row explosion: the former
    * `tokens × generate_series(0,63)` bits CTE (64× the token count,
    * then a 64×-key hash aggregate) spilled >55 GB and died at the 30×
    * fixture; 64 accumulators in a single-pass GROUP BY doc_id is
    * O(docs × 64) state. Bit b of the signature is set iff the vote
    * `Σ(2·bit−1) = 2·c_b − n` is strictly positive, i.e. `2·c_b > n`. */
  private val simhashCntCols: String =
    (0 until 64).map { b =>
      val w = if (b < 32) s"(wlo >> $b)" else s"(whi >> ${b - 32})"
      s"sum($w & 1) AS c$b"
    }.mkString(", ")

  /** `sig_hi`/`sig_lo` reassembly from the 64 counts: strictly-positive
    * majority per bit, packed into the 32-bit halves. */
  private def simhashSigFromCnts(hi: Boolean): String = {
    val bits = if (hi) 32 until 64 else 0 until 32
    bits.map(b => s"CASE WHEN 2 * c$b > n THEN (1::BIGINT << ${b % 32}) ELSE 0 END")
      .mkString("(", " + ", ")")
  }

  /** Per-doc md5 SimHash as (sig_hi, sig_lo) 32-bit halves: the leading
    * 16 hex chars parsed as two 32-bit words per token, per-bit
    * strictly-positive majority via the packed 64-accumulator aggregate
    * ([[simhashCntCols]]), tokenless docs sign (0, 0).
    * Mirrors [[Dedup.simhashMd5]] bit for bit. */
  private val simhashSigCte: String =
    s"""tok AS (SELECT doc_id, md5(t) AS h FROM (SELECT doc_id,
  unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
  FROM documents WHERE length(trim(text)) > 0) u),
wds AS (SELECT doc_id, ${OracleSqlGen.hex8("h", 1)} AS whi,
  ${OracleSqlGen.hex8("h", 9)} AS wlo FROM tok),
cnt AS (SELECT doc_id, count(*) AS n, $simhashCntCols FROM wds GROUP BY doc_id),
sg0 AS (SELECT doc_id, ${simhashSigFromCnts(hi = true)} AS sig_hi,
  ${simhashSigFromCnts(hi = false)} AS sig_lo FROM cnt),
sg AS MATERIALIZED (SELECT d.doc_id, CAST(coalesce(sg0.sig_hi, 0) AS BIGINT) AS sig_hi,
  CAST(coalesce(sg0.sig_lo, 0) AS BIGINT) AS sig_lo
  FROM documents d LEFT JOIN sg0 USING (doc_id))"""

  // Manku layout for (maxHamming 3, blocks 6) over hi/lo halves: each
  // 32-bit half splits [11, 11, 10], blocks 0-2 from sig_lo, 3-5 from
  // sig_hi; keys are every 3-combination of blocks, concatenated. Must
  // match Dedup.simhashNearDupsMd5's layout and combination order.
  private val mankuWidths = Seq(11, 11, 10, 11, 11, 10)
  private val mankuStarts = Seq(0, 11, 22, 0, 11, 22)
  private def mankuBlockSql(i: Int): String = {
    val c = if (i < 3) "sig_lo" else "sig_hi"
    s"(($c >> ${mankuStarts(i)}) & ${(1L << mankuWidths(i)) - 1})"
  }
  private val mankuCombos: Seq[Seq[Int]] = (0 until 6).combinations(3).toSeq.map(_.toSeq)

  /** [[simhashSigCte]] parameterized per side: identical md5-twin
    * signature arithmetic over an arbitrary source CTE, names prefixed
    * with `p` — the SimHash analog of `minhashSideCtes`, feeding the
    * incremental probe oracle. */
  private def simhashSideSigCtes(p: String, src: String): String =
    s"""${p}tok AS (SELECT doc_id, md5(t) AS h FROM (SELECT doc_id,
  unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
  FROM $src WHERE length(trim(text)) > 0) u),
${p}wds AS (SELECT doc_id, ${OracleSqlGen.hex8("h", 1)} AS whi,
  ${OracleSqlGen.hex8("h", 9)} AS wlo FROM ${p}tok),
${p}cnt AS (SELECT doc_id, count(*) AS n, $simhashCntCols FROM ${p}wds GROUP BY doc_id),
${p}sg0 AS (SELECT doc_id, ${simhashSigFromCnts(hi = true)} AS sig_hi,
  ${simhashSigFromCnts(hi = false)} AS sig_lo FROM ${p}cnt),
${p}sg AS MATERIALIZED (SELECT d.doc_id, CAST(coalesce(${p}sg0.sig_hi, 0) AS BIGINT) AS sig_hi,
  CAST(coalesce(${p}sg0.sig_lo, 0) AS BIGINT) AS sig_lo
  FROM $src d LEFT JOIN ${p}sg0 USING (doc_id))"""

  /** One side's Manku bucket rows with the COMPOSITE key
    * (combo << 40 | bkey — Dedup.simhashMankuKeysMd5's packing; a
    * 3-of-6 block choice concatenates to at most 33 bits, so 40 clears
    * it), read from `${p}sg`. */
  private def mankuBucketUnionSql(p: String): String =
    mankuCombos.zipWithIndex.map { case (combo, ci) =>
      val key = combo.foldLeft("(0::BIGINT)") { (acc, bi) =>
        s"(($acc << ${mankuWidths(bi)}) | ${mankuBlockSql(bi)})"
      }
      s"SELECT doc_id, sig_hi, sig_lo, ((${ci}::BIGINT << 40) | $key) AS mkey FROM ${p}sg"
    }.mkString(" UNION ALL ")

  /** dd_incremental_simhash oracle: state = doc_id % 3 != 2, increment
    * = % 3 = 2 (the family's split); md5-twin SimHash signatures per
    * side, Manku composite-key collision, state buckets over the
    * DERIVED cap dropped (greatest(16, 4 · mean bucket size) — the
    * verdict-path treatment, recomputed here from the bucket rows
    * exactly as simhashBuild persists it), Hamming <= 3 verified
    * directly from the signatures (no text re-read — SimHash's
    * structural advantage over the MinHash twin), then a deterministic
    * best witness (hamming asc, state id asc) and a verdict row for
    * EVERY increment doc. Mirrors [[graft.dedup.Dedup.incrementalSimhashNearDups]]. */
  private val incrementalSimhashSql: String =
    s"""WITH st AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 != 2),
inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2),
${simhashSideSigCtes("a", "st")},
${simhashSideSigCtes("b", "inc")},
abu AS (${mankuBucketUnionSql("a")}),
bbu AS (${mankuBucketUnionSql("b")}),
sbuksz AS (SELECT count(*) AS c FROM abu GROUP BY mkey),
${tailCapHistCte("sbu")},
scapv AS (SELECT ${tailCapExpr("sbu", "16")} AS c),
abuc AS (SELECT doc_id, sig_hi, sig_lo, mkey FROM (
  SELECT *, count(*) OVER (PARTITION BY mkey) AS bsz FROM abu)
  WHERE bsz <= (SELECT c FROM scapv)),
cd AS (SELECT l.doc_id AS id1, l.sig_hi AS h1, l.sig_lo AS l1,
  r.doc_id AS id2, r.sig_hi AS h2, r.sig_lo AS l2
  FROM abuc l JOIN bbu r ON l.mkey = r.mkey),
vf AS (SELECT DISTINCT id1, id2,
  CAST(bit_count(xor(h1, h2)) + bit_count(xor(l1, l2)) AS BIGINT) AS hamming
  FROM cd WHERE bit_count(xor(h1, h2)) + bit_count(xor(l1, l2)) <= 3),
best AS (SELECT id2, id1, hamming FROM (
  SELECT *, row_number() OVER (PARTITION BY id2 ORDER BY hamming, id1) AS rn
  FROM vf) WHERE rn = 1)
SELECT i.doc_id, best.id1 IS NULL AS accepted,
  best.id1 AS best_state_id, best.hamming AS best_hamming
FROM inc i LEFT JOIN best ON best.id2 = i.doc_id"""

  /** One side's sign-LSH bucket CTEs with the PACKED key — (tbl-1
    * 0-based, matching Dedup.cosineBucketKeys' posexplode) << 32 |
    * bucket — reading planes from the shared `pl` CTE. */
  private def cosineSideBucketCtes(p: String, src: String, numPlanes: Int,
                                   numTables: Int, dim: Int): String =
    s"""${p}dp AS (SELECT v.vec_id, t.t, p.p, ${OracleSqlGen.planeDot("v.embedding", dim)} AS dp
  FROM $src v, generate_series(1, $numTables) t(t), generate_series(1, $numPlanes) p(p), pl),
${p}bk AS (SELECT vec_id, (((t - 1)::BIGINT << 32) |
  CAST(sum(CASE WHEN dp > 0 THEN (1::BIGINT << CAST(p - 1 AS INT)) ELSE 0 END) AS BIGINT)) AS tb_key
  FROM ${p}dp GROUP BY vec_id, t)"""

  /** st_simhash_probe oracle: VERIFIED (state, increment) SimHash
    * near-dup pairs through the derived bucket cap — Manku composite-key
    * collisions between capped state buckets and the streamed
    * increment, Hamming <= 3 applied directly (the gate needs no batch
    * verify tail; the signature rides in the state). Mirrors
    * [[graft.streaming.SimhashProbe.verifiedOnce]]. */
  private lazy val simhashProbeSql: String =
    s"""WITH st AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 != 2),
inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2),
${simhashSideSigCtes("a", "st")},
${simhashSideSigCtes("b", "inc")},
abu AS (${mankuBucketUnionSql("a")}),
bbu AS (${mankuBucketUnionSql("b")}),
sbuksz AS (SELECT count(*) AS c FROM abu GROUP BY mkey),
${tailCapHistCte("sbu")},
scapv AS (SELECT ${tailCapExpr("sbu", lshBandBucketCap.toString)} AS c),
abuc AS (SELECT doc_id, sig_hi, sig_lo, mkey FROM (
  SELECT *, count(*) OVER (PARTITION BY mkey) AS bsz FROM abu)
  WHERE bsz <= (SELECT c FROM scapv)),
cd AS (SELECT l.doc_id AS state_id, l.sig_hi AS h1, l.sig_lo AS l1,
  r.doc_id AS inc_id, r.sig_hi AS h2, r.sig_lo AS l2
  FROM abuc l JOIN bbu r ON l.mkey = r.mkey)
SELECT DISTINCT state_id, inc_id,
  CAST(bit_count(xor(h1, h2)) + bit_count(xor(l1, l2)) AS BIGINT) AS hamming
FROM cd WHERE bit_count(xor(h1, h2)) + bit_count(xor(l1, l2)) <= 3"""

  private val simhashNearDupsMd5Sql: String = {
    val unions = mankuCombos.zipWithIndex.map { case (combo, ci) =>
      val key = combo.foldLeft("(0::BIGINT)") { (acc, bi) =>
        s"(($acc << ${mankuWidths(bi)}) | ${mankuBlockSql(bi)})"
      }
      s"SELECT doc_id, sig_hi, sig_lo, $ci AS combo, $key AS bkey FROM sg"
    }.mkString(" UNION ALL ")
    s"""WITH $simhashSigCte,
bu AS ($unions),
cd AS (SELECT l.doc_id AS id1, r.doc_id AS id2, l.sig_hi AS h1, l.sig_lo AS l1,
  r.sig_hi AS h2, r.sig_lo AS l2
  FROM bu l JOIN bu r ON l.combo = r.combo AND l.bkey = r.bkey AND l.doc_id < r.doc_id)
SELECT DISTINCT id1, id2,
  CAST(bit_count(xor(h1, h2)) + bit_count(xor(l1, l2)) AS BIGINT) AS hamming
FROM cd WHERE bit_count(xor(h1, h2)) + bit_count(xor(l1, l2)) <= 3"""
  }

  /** One corpus side of the MinHash md5-twin pipeline, CTE names
    * prefixed with `p`: distinct word 2-gram shingles (fewer than 2
    * tokens collapse to the space-joined whole, matching WordShingles),
    * ONE md5 per shingle split into two 32-bit words, 32 affine
    * `(w1 + p*w2) mod 2^32` min-hashes, '|'-joined decimal band keys
    * over 4-wide bands — ends at `{p}bnd` (doc_id, band, bh). Mirrors
    * [[Dedup.minhashSignaturesFromSetsMd5]]/[[Dedup.bandBucketsMd5]].
    * The shingle CTE is MATERIALIZED (a DuckDB evaluation hint, not
    * semantics): it feeds the hash chain AND both sides of the exact
    * Jaccard verify, and DuckDB's default inlining re-derives it per
    * consumer — which OOMed the composed pipe_corpus_clean twin at the
    * 10x fixture. */
  private def minhashSideCtes(p: String, src: String): String =
    s"""${p}tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM $src),
${p}sh AS MATERIALIZED (SELECT DISTINCT doc_id, shingle FROM (
  SELECT doc_id, unnest(CASE WHEN len(ts) < 2 THEN [array_to_string(ts, ' ')]
    ELSE list_transform(ts, (x, i) -> CASE WHEN i < len(ts) THEN x || ' ' || ts[i + 1] END)
    END) AS shingle FROM ${p}tk) WHERE shingle IS NOT NULL),
${p}wd AS (SELECT doc_id, ${OracleSqlGen.hex8("md5(shingle)", 1)} AS w1,
  ${OracleSqlGen.hex8("md5(shingle)", 9)} AS w2 FROM ${p}sh),
${p}sgl AS (SELECT doc_id, g.p AS p, min((w1 + g.p * w2) % 4294967296) AS mh
  FROM ${p}wd, generate_series(0, 31) g(p) GROUP BY 1, 2),
${p}bnd AS (SELECT doc_id, p // 4 AS band, string_agg(CAST(mh AS VARCHAR), '|' ORDER BY p) AS bh
  FROM ${p}sgl GROUP BY doc_id, p // 4)"""

  /** Single-corpus chain: side CTEs + self bucket join + exact Jaccard
    * >= `threshold`; ends with CTE `nd` (id1, id2, jaccard). Mirrors
    * [[Dedup.minhashNearDupsMd5]]. */
  private[queries] def minhashMd5Ctes(src: String, threshold: Double): String =
    s"""${minhashSideCtes("", src)},
cd AS MATERIALIZED (SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
  FROM bnd l JOIN bnd r ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id),
szs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY 1),
intr AS (SELECT c.id1, c.id2, CAST(count(*) AS BIGINT) AS i FROM cd c
  JOIN sh a ON a.doc_id = c.id1 JOIN sh b ON b.doc_id = c.id2 AND a.shingle = b.shingle
  GROUP BY 1, 2),
nd AS MATERIALIZED (SELECT id1, id2, round(CAST(i AS DOUBLE) / (s1.sz + s2.sz - i), 4) AS jaccard
  FROM intr JOIN szs s1 ON s1.doc_id = id1 JOIN szs s2 ON s2.doc_id = id2
  WHERE round(CAST(i AS DOUBLE) / (s1.sz + s2.sz - i), 4) >= $threshold)"""

  private val minhashMd5Sql: String =
    s"WITH ${minhashMd5Ctes("documents", 0.5)} SELECT id1, id2, jaccard FROM nd"

  /** One corpus side of the winnowing-fingerprint CTEs (t_fingerprint's
    * oracle pattern, md5 hashing), prefixed with `p`; ends at `{p}fp`
    * (doc_id, fingerprint). */
  private def winnowSideCtes(p: String, src: String): String =
    s"""${p}base AS (SELECT doc_id, text,
  unnest(generate_series(1, greatest(length(text) - 4, 1))) AS i FROM $src),
${p}grams AS (SELECT doc_id, i - 1 AS pos, md5(substr(text, CAST(i AS INT), 5)) AS h
  FROM ${p}base),
${p}wins AS (SELECT doc_id, pos, min(h) OVER (PARTITION BY doc_id ORDER BY pos
  ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wmin,
  count(*) OVER (PARTITION BY doc_id) AS m FROM ${p}grams),
${p}fp AS (SELECT DISTINCT doc_id, wmin AS fingerprint FROM ${p}wins
  WHERE pos <= m - 8 OR (m < 8 AND pos = 0))"""

  // Doc-frequency cap for the registered overlap query: the template
  // corpus shares boilerplate substrings across hundreds of docs, and an
  // uncapped fingerprint join fans out as (train df) x (test df) per hot
  // fingerprint — exactly the quadratic hazard the cap removes.
  private val fpOverlapDfCap = 20

  /** Density-derived boilerplate cap: a fingerprint present in > 8% of
    * train docs is boilerplate at ANY corpus size. The earlier FIXED
    * cap of 20 saturated at 10x dup density (every df multiplies with
    * the copy count) and wiped the 10x report to 0 rows; the floor
    * keeps the sf0.01 gate results identical. */
  private val fpOverlapCapSql: String =
    s"greatest($fpOverlapDfCap, CAST(ceil(0.08 * (SELECT count(*) FROM tr)) AS BIGINT))"

  private def cappedFpCte(p: String): String =
    s"""${p}fpc AS (SELECT doc_id, fingerprint FROM (SELECT doc_id, fingerprint,
  count(*) OVER (PARTITION BY fingerprint) AS dfq FROM ${p}fp) WHERE dfq <= $fpOverlapCapSql)"""

  private val fingerprintOverlapCtes: String =
    s"""tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
te AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
${winnowSideCtes("a", "tr")},
${winnowSideCtes("b", "te")},
${cappedFpCte("a")},
${cappedFpCte("b")},
fpov AS (SELECT a.doc_id AS train_id, b.doc_id AS test_id, CAST(count(*) AS BIGINT) AS n_shared
FROM afpc a JOIN bfpc b ON a.fingerprint = b.fingerprint
GROUP BY 1, 2 HAVING count(*) >= 3)"""

  private val fingerprintOverlapSql: String =
    s"WITH $fingerprintOverlapCtes\nSELECT train_id, test_id, n_shared FROM fpov"

  /** Witness-capped twin of dd_fingerprint_overlap: top-k training
    * witnesses per test doc — output bounded k * |test| at ANY dup
    * density (the full per-pair report grew to 72M rows at the 10x
    * fixture). Same deterministic window shape as
    * dd_contamination_topk. */
  private val fingerprintOverlapTopKSql: String =
    s"""WITH $fingerprintOverlapCtes
SELECT train_id, test_id, n_shared, CAST(rk AS BIGINT) AS witness_rank FROM (
  SELECT *, row_number() OVER (PARTITION BY test_id
    ORDER BY n_shared DESC, train_id) AS rk FROM fpov)
WHERE rk <= 3"""

  /** TRAIN-side per-fingerprint WITNESS budget of the pre-dedup
    * bounded member — deliberately FIXED (bounding the witness join
    * term to occCap · te_occ rows per fingerprint IS the report's
    * semantics; a density-derived occurrence cap grows with the copy
    * count and restores the K² term the member exists to delete).
    * Since r18 the budget gates only WITNESS ENUMERATION, never the
    * contamination decision: the gate rides the train-fingerprint
    * existence index, so test-doc recall is 1.0 structurally
    * (dd_occcap_recall_audit records it) and what the budget costs is
    * witness completeness only. */
  private[queries] val fpOccCap = 16

  /** Witness-capped fingerprint CTE: [[cappedFpCte]]'s df gate PLUS
    * the first-[[fpOccCap]]-doc_ids rank per fingerprint — mirrors
    * CorpusStats.fingerprintOverlapOccCapped's TRAIN side. */
  private def occCappedFpCte(p: String): String =
    s"""${p}fpo AS (SELECT doc_id, fingerprint FROM (SELECT doc_id, fingerprint,
  count(*) OVER (PARTITION BY fingerprint) AS dfq,
  row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS occ FROM ${p}fp)
  WHERE dfq <= $fpOverlapCapSql AND occ <= $fpOccCap)"""

  /** Gate + witness CTEs of the pre-dedup bounded member (shared by
    * the registered query and its recall audit): `fgate` flags every
    * test doc sharing >= 3 distinct fingerprints with the df-capped
    * train fingerprint EXISTENCE index (distinct-of-afpo == distinct
    * df-capped fingerprints — the occ cap keeps rank 1 of every
    * fingerprint); `fwit` enumerates witnesses under the occ budget.
    * Both MATERIALIZED (the re-inlined-CTE spill lesson). */
  private val occCapGateWitCtes: String =
    s"""fgate AS MATERIALIZED (SELECT b.doc_id AS test_id, CAST(count(*) AS BIGINT) AS n_shared
  FROM bfpc b JOIN (SELECT DISTINCT fingerprint FROM afpo) ai USING (fingerprint)
  GROUP BY 1 HAVING count(*) >= 3),
fwit AS MATERIALIZED (SELECT a.doc_id AS train_id, b.doc_id AS test_id,
  CAST(count(*) AS BIGINT) AS witness_shared
  FROM afpo a JOIN bfpc b ON a.fingerprint = b.fingerprint
  GROUP BY 1, 2 HAVING count(*) >= 3)"""

  private val fingerprintOverlapCappedSql: String =
    s"""WITH tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
te AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
${winnowSideCtes("a", "tr")},
${winnowSideCtes("b", "te")},
${occCappedFpCte("a")},
${cappedFpCte("b")},
$occCapGateWitCtes
SELECT g.test_id, g.n_shared, w.train_id, w.witness_shared
FROM fgate g LEFT JOIN fwit w USING (test_id)"""

  /** dd_occcap_recall_audit oracle: the exact (df-capped) pair report
    * vs the existence-gated + witness-capped one, folded to ONE
    * accountability row — dd_cap_recall_audit's treatment applied to
    * the contamination family's pre-dedup budget. Pair recall measures
    * the witness budget (capped witness pairs / true pairs — subset by
    * construction, may stay low by design at mass-dup density: the
    * displaced duplicate-train witnesses are exactly what the budget
    * drops); TEST-DOC recall measures the GATE against the exact
    * member's flagged set, via a real intersection (the gate
    * over-approximates pairs, so flagged is NOT a subset of true test
    * docs — it is a superset, and recall is structurally 1.0). Runs
    * only where the EXACT member is feasible (audit-only, never the
    * production path; at 30× it inherits the exact member's documented
    * skip while the capped member itself still runs). */
  private val occCapRecallAuditSql: String =
    s"""WITH tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
te AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
${winnowSideCtes("a", "tr")},
${winnowSideCtes("b", "te")},
${cappedFpCte("a")},
${cappedFpCte("b")},
${occCappedFpCte("a")},
$occCapGateWitCtes,
tp AS MATERIALIZED (SELECT a.doc_id AS train_id, b.doc_id AS test_id
  FROM afpc a JOIN bfpc b ON a.fingerprint = b.fingerprint
  GROUP BY 1, 2 HAVING count(*) >= 3)
SELECT CAST((SELECT count(*) FROM tp) AS BIGINT) AS n_pairs_true,
  CAST((SELECT count(*) FROM fwit) AS BIGINT) AS n_pairs_capped,
  CASE WHEN (SELECT count(*) FROM tp) = 0 THEN CAST(1.0 AS DOUBLE)
    ELSE round(CAST((SELECT count(*) FROM fwit) AS DOUBLE) /
      (SELECT count(*) FROM tp), 4) END AS pair_recall,
  CAST((SELECT count(DISTINCT test_id) FROM tp) AS BIGINT) AS n_test_true,
  CAST((SELECT count(*) FROM fgate) AS BIGINT) AS n_test_flagged,
  CASE WHEN (SELECT count(DISTINCT test_id) FROM tp) = 0 THEN CAST(1.0 AS DOUBLE)
    ELSE round(CAST((SELECT count(DISTINCT t.test_id) FROM tp t
      JOIN fgate g ON g.test_id = t.test_id) AS DOUBLE) /
      (SELECT count(DISTINCT test_id) FROM tp), 4) END AS test_recall"""

  /** Cross-corpus contamination oracle: even doc_ids play the training
    * corpus, odd the test corpus; the band-bucket join runs BETWEEN the
    * two sides. Mirrors [[Dedup.crossCorpusNearDupsMd5]]. Split into
    * CTE chain + final select so the top-k witness variant can wrap the
    * same pair report. */
  /** Band-collision candidates + exact-Jaccard verification between
    * sides `a` and `b`, ending in CTE `vf` (id1, id2, jaccard >=
    * threshold). The ONE copy of the cross-corpus verify arithmetic —
    * contamination, its top-k variant and the incremental near-dup
    * oracle all compose it, so a rounding/threshold fix lands
    * everywhere at once. */
  private def crossVerifyCtes(threshold: Double,
                              stateBnd: String = "abnd"): String =
    s"""cd AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM $stateBnd a JOIN bbnd b ON a.band = b.band AND a.bh = b.bh),
szA AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM ash GROUP BY 1),
szB AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM bsh GROUP BY 1),
intr AS (SELECT c.id1, c.id2, CAST(count(*) AS BIGINT) AS i FROM cd c
  JOIN ash a ON a.doc_id = c.id1 JOIN bsh b ON b.doc_id = c.id2 AND a.shingle = b.shingle
  GROUP BY 1, 2),
vf AS (SELECT id1, id2, round(CAST(i AS DOUBLE) / (s1.sz + s2.sz - i), 4) AS jaccard
  FROM intr JOIN szA s1 ON s1.doc_id = id1 JOIN szB s2 ON s2.doc_id = id2
  WHERE round(CAST(i AS DOUBLE) / (s1.sz + s2.sz - i), 4) >= $threshold)"""

  /** Word 3-gram over a token-array column `ts` (DuckDB list ops) —
    * shared by the bloom and incremental contamination oracles; mirrors
    * Dedup.distinctShingles(_, 3) including the <3-token collapse. */
  private val triShingleSql: String =
    "list_transform(ts, (x, i) -> CASE WHEN i + 2 <= len(ts) " +
      "THEN x || ' ' || ts[i + 1] || ' ' || ts[i + 2] END)"

  private val contaminationCtes: String =
    s"""tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
te AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
${minhashSideCtes("a", "tr")},
${minhashSideCtes("b", "te")},
${crossVerifyCtes(0.5)}"""

  private val contaminationSelect: String =
    "SELECT id1 AS train_id, id2 AS test_id, jaccard FROM vf"

  private val contaminationSql: String =
    s"WITH $contaminationCtes\n$contaminationSelect"

  /** FLOOR of the collision-budget cap on the persisted LSH state's
    * band buckets. Until r16 this was also the whole cap for the
    * streamed budget paths (st_lsh_probe, st_incremental_clusters_capped,
    * pipe_*) — a fixed 16. dd_cap_recall_audit then measured that fixed
    * budget at pair recall 0.39 at 30× duplication density (773,883 of
    * 1,208,945 candidate pairs dropped): past ~10× density EVERY bucket
    * crosses a fixed cap, the probe surfaces nothing, and each arriving
    * duplicate is silently accepted as novel — the worst failure an
    * acceptance gate can have. Since r17 every probe path (verdict AND
    * budget) uses the DERIVED cap greatest(thisFloor, 4 · mean bucket
    * size), published with the state at build time as `graft.stat`
    * ([[lshBuild]]) so probes stay O(increment). At driver SFs the
    * mean is ~1 and this floor binds, so the derived cap IS 16 there. */
  private[queries] val lshBandBucketCap = 16

  /** TAIL-AWARE derived-cap twin SQL (r17 verdict task 4): the cap is
    * greatest(floor, 4 · mean bucket size, p99 of bucket sizes), where
    * p99 is RANK-BASED — the smallest size whose cumulative bucket
    * count reaches ceil(0.99 · n_buckets), computed from the SIZE
    * HISTOGRAM (distinct sizes × frequency; tiny by construction, so
    * the cumulative window never sorts all buckets). The 4·mean term
    * alone measured pair recall 0.87 at 30× density: 12.8% of verified
    * pairs sat in buckets 27..156 — above 4·mean but inside the p99
    * tail, exactly the mass a rank statistic keeps and a mean cannot
    * see. Still a state-generation constant, so per-arrival probe cost
    * stays bounded. Empty-state guard (ADVICE r17): divisor floored at
    * 1, p99 coalesced to the floor — an empty fixture degrades to the
    * floor cap instead of dividing by zero.
    *
    * Renders `{p}khist` (the histogram CTE, from size CTE `{p}ksz`
    * which the caller renders with its own GROUP BY keys) and the cap
    * expression is [[tailCapExpr]]. */
  private def tailCapHistCte(p: String): String =
    s"${p}khist AS (SELECT c, count(*) AS f FROM ${p}ksz GROUP BY c)"

  private def tailCapExpr(p: String, floor: String): String =
    s"""greatest($floor,
  4 * (SELECT coalesce(sum(c * f), 0) FROM ${p}khist) //
    greatest((SELECT coalesce(sum(f), 0) FROM ${p}khist), 1),
  coalesce((SELECT min(c) FROM (SELECT c, sum(f) OVER (ORDER BY c) AS cum
    FROM ${p}khist) WHERE cum >= ceil(0.99 * (SELECT sum(f) FROM ${p}khist))),
    $floor))"""

  /** DERIVED-cap state-side band CTE — the tail-aware cap recomputed
    * from abnd itself, mirroring the statistic lshBuild
    * publishes (same rows, same integer arithmetic). At
    * driver SFs the mean is ~1 and the floor binds; at
    * mass-duplication density the cap rides the corpus instead of
    * zeroing the probe. Since r17 this is the ONLY capped band CTE —
    * the fixed-cap variant was retired when dd_cap_recall_audit
    * measured it at 0.39 pair recall at 30× density; r18 added the p99
    * term after the same audit measured the mean-derived cap at 0.87. */
  private def derivedCappedStateBndCte: String =
    s"""bndksz AS (SELECT count(*) AS c FROM abnd GROUP BY band, bh),
${tailCapHistCte("bnd")},
capv AS (SELECT ${tailCapExpr("bnd", lshBandBucketCap.toString)} AS c),
abndc AS (SELECT doc_id, band, bh FROM (
  SELECT *, count(*) OVER (PARTITION BY band, bh) AS bsz FROM abnd)
  WHERE bsz <= (SELECT c FROM capv))"""

  /** dd_cap_recall_audit oracle: both candidate feeds (uncapped band
    * join vs the DERIVED-cap budgeted one — the binding default for
    * every probe path since r17) and the verified
    * cross-pair sets they admit, folded to ONE accountability row. The
    * capped verified set is vfm ∩ cdcm — verification runs once, on the
    * uncapped feed, because the capped candidate set is a subset. Every
    * derived set the final row references (or that feeds two consumers)
    * is MATERIALIZED: DuckDB re-inlines plain CTEs per reference, and
    * the first cut of this twin expanded the verify chain once per
    * scalar subquery — six concurrent expansions spilled 70 GB at the
    * 10× fixture before ENOSPC. This shape is the capped-clusters
    * twin's cost class (passes 30× at the 100 GB cap). */
  private def capRecallAuditSql: String =
    s"""WITH st AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 != 2),
inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2),
${minhashSideCtes("a", "st")},
${minhashSideCtes("b", "inc")},
$derivedCappedStateBndCte,
cdm AS MATERIALIZED (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM abnd a JOIN bbnd b ON a.band = b.band AND a.bh = b.bh),
cdcm AS MATERIALIZED (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM abndc a JOIN bbnd b ON a.band = b.band AND a.bh = b.bh),
szA AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM ash GROUP BY 1),
szB AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM bsh GROUP BY 1),
intr AS (SELECT c.id1, c.id2, CAST(count(*) AS BIGINT) AS i FROM cdm c
  JOIN ash a ON a.doc_id = c.id1 JOIN bsh b ON b.doc_id = c.id2 AND a.shingle = b.shingle
  GROUP BY 1, 2),
vfm AS MATERIALIZED (SELECT id1, id2 FROM intr
  JOIN szA s1 ON s1.doc_id = id1 JOIN szB s2 ON s2.doc_id = id2
  WHERE round(CAST(i AS DOUBLE) / (s1.sz + s2.sz - i), 4) >= 0.5),
vcm AS MATERIALIZED (SELECT v.id1 FROM vfm v
  JOIN cdcm c ON c.id1 = v.id1 AND c.id2 = v.id2)
SELECT CAST((SELECT count(*) FROM cdm) AS BIGINT) AS n_cand_uncapped,
  CAST((SELECT count(*) FROM cdcm) AS BIGINT) AS n_cand_capped,
  CAST((SELECT count(*) FROM cdm) - (SELECT count(*) FROM cdcm) AS BIGINT) AS n_cand_dropped,
  CAST((SELECT count(*) FROM vfm) AS BIGINT) AS n_true_pairs,
  CAST((SELECT count(*) FROM vcm) AS BIGINT) AS n_capped_pairs,
  CASE WHEN (SELECT count(*) FROM vfm) = 0 THEN CAST(1.0 AS DOUBLE)
    ELSE round(CAST((SELECT count(*) FROM vcm) AS DOUBLE) / (SELECT count(*) FROM vfm), 4)
  END AS pair_recall"""

  /** dd_incremental_neardup oracle: state = doc_id % 3 != 2 (the day-1
    * accepted set), increment = % 3 = 2 (mirrors dd_incremental's
    * split); md5-minhash banding on both sides, band-bucket collision,
    * exact bigram-shingle Jaccard >= 0.5, then a deterministic best
    * witness per increment doc and a verdict row for EVERY increment
    * doc. Mirrors [[graft.dedup.Dedup.incrementalNearDups]]. */
  private val incrementalNearDupSql: String =
    s"""WITH st AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 != 2),
inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2),
${minhashSideCtes("a", "st")},
${minhashSideCtes("b", "inc")},
$derivedCappedStateBndCte,
${crossVerifyCtes(0.5, "abndc")},
best AS (SELECT id2, id1, jaccard FROM (
  SELECT *, row_number() OVER (PARTITION BY id2 ORDER BY jaccard DESC, id1) AS rn
  FROM vf) WHERE rn = 1)
SELECT i.doc_id, best.id1 IS NULL AS accepted,
  best.id1 AS best_state_id, best.jaccard AS best_jaccard
FROM inc i LEFT JOIN best ON best.id2 = i.doc_id"""

  /** dd_incremental_clusters AND st_incremental_clusters oracle: the
    * FULL re-cluster over the combined near-dup pair graph (recursive
    * CTE, per-node min reachable id). Both incremental paths — the
    * batch band-state probe and the streamed collision gate — must
    * reproduce it row-for-row. */
  private val incrementalClustersOracleSql: String =
    s"""WITH RECURSIVE ${minhashMd5Ctes("documents", 0.5)},
e AS (SELECT id1 AS a, id2 AS b FROM nd UNION SELECT id2, id1 FROM nd),
n AS (SELECT DISTINCT a AS node FROM e),
walk(node, lbl) AS (SELECT node, node FROM n
  UNION SELECT e.a, w.lbl FROM walk w JOIN e ON e.b = w.node)
SELECT node, min(lbl) AS cluster_id FROM walk GROUP BY 1"""

  /** st_incremental_clusters_capped oracle — the CAP-AWARE twin of
    * [[incrementalClustersOracleSql]] (st_er_probe's treatment of the
    * same tension: the cap is part of the operator's SEMANTICS, pinned
    * by hash, not waived). The pair graph it re-clusters is exactly
    * what the capped streamed gate can surface: state-vs-state pairs in
    * full (they live in the persisted day-1 cluster state, the cap
    * never applies to them), state-vs-increment pairs ONLY through
    * state band buckets of size <= the persisted DERIVED cap (the
    * streamed probe's collision budget — greatest(floor, 4 · mean),
    * the r17 default), and increment-vs-increment pairs in
    * full (the batch tail's self-join is increment-bounded already).
    * Cross pairs dropped by the cap are dropped HERE too — accepted
    * approximate maintenance at degenerate dup density, full parity
    * everywhere else (the cap never binds at driver SFs). */
  private val cappedIncrementalClustersOracleSql: String =
    s"""WITH RECURSIVE st AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 != 2),
inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2),
${minhashSideCtes("a", "st")},
${minhashSideCtes("b", "inc")},
$derivedCappedStateBndCte,
${crossVerifyCtes(0.5, "abndc")},
scd AS (SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
  FROM abnd l JOIN abnd r ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id),
sintr AS (SELECT c.id1, c.id2, CAST(count(*) AS BIGINT) AS i FROM scd c
  JOIN ash x ON x.doc_id = c.id1 JOIN ash y ON y.doc_id = c.id2 AND x.shingle = y.shingle
  GROUP BY 1, 2),
snd AS (SELECT id1, id2 FROM sintr JOIN szA s1 ON s1.doc_id = id1 JOIN szA s2 ON s2.doc_id = id2
  WHERE round(CAST(i AS DOUBLE) / (s1.sz + s2.sz - i), 4) >= 0.5),
icd AS (SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
  FROM bbnd l JOIN bbnd r ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id),
iintr AS (SELECT c.id1, c.id2, CAST(count(*) AS BIGINT) AS i FROM icd c
  JOIN bsh x ON x.doc_id = c.id1 JOIN bsh y ON y.doc_id = c.id2 AND x.shingle = y.shingle
  GROUP BY 1, 2),
ind AS (SELECT id1, id2 FROM iintr JOIN szB s1 ON s1.doc_id = id1 JOIN szB s2 ON s2.doc_id = id2
  WHERE round(CAST(i AS DOUBLE) / (s1.sz + s2.sz - i), 4) >= 0.5),
alle AS MATERIALIZED (SELECT id1, id2 FROM snd UNION SELECT id1, id2 FROM vf UNION SELECT id1, id2 FROM ind),
e AS MATERIALIZED (SELECT id1 AS a, id2 AS b FROM alle UNION SELECT id2, id1 FROM alle),
n AS (SELECT DISTINCT a AS node FROM e),
walk(node, lbl) AS (SELECT node, node FROM n
  UNION SELECT e.a, w.lbl FROM walk w JOIN e ON e.b = w.node)
SELECT node, min(lbl) AS cluster_id FROM walk GROUP BY 1"""

  /** Per-node triangle counts over the full near-dup graph — shared by
    * pg_triangles (direct) and pg_incremental_triangles (whose state +
    * delta decomposition must reproduce the same merged-graph counts:
    * the IVM invariant for the second-order delta-join, checked by
    * hash). The oracle enumerates id-ordered a<b<c triples; the Spark
    * sides use degree-oriented wedges (batch) and the three-way delta
    * decomposition (incremental) — three algorithms, one triangle set. */
  private val trianglesOracleSql: String =
    s"""WITH ${minhashMd5Ctes("documents", 0.5)},
tri AS (SELECT e1.id1 AS a, e1.id2 AS b, e2.id2 AS c
  FROM nd e1 JOIN nd e2 ON e2.id1 = e1.id2
  JOIN nd e3 ON e3.id1 = e1.id1 AND e3.id2 = e2.id2)
SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS triangles FROM (
  SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
GROUP BY 1"""

  /** pg_incremental_pagerank oracle: the FULL unrolled recompute of
    * both trajectory phases — 3 from-uniform supersteps over the STATE
    * graph (docs % 3 != 2; pairwise near-dup restriction makes it the
    * full graph's induced subgraph), the 6-decimal checkpoint rounding
    * (exactly what the persisted rank state holds), then `sr`-seeded
    * supersteps over the MERGED graph with merged out-degrees and
    * merged-N teleport, new nodes at 1/N. Teleport constants use the
    * same explicit DOUBLE casts as pg_pagerank's oracle so both engines
    * share bit-identical IEEE constants. */
  private val incrementalPageRankOracleSql: String = {
    def step(ed: String, deg: String, nn: String, prev: String, next: String) =
      s"""$next AS (SELECT e.dst AS id, (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM $nn) +
  0.85 * sum(p.r / d.dg) AS r FROM $ed e JOIN $prev p ON p.id = e.src
  JOIN $deg d ON d.src = e.src GROUP BY 1)"""
    s"""WITH ${minhashMd5Ctes("documents", 0.5)},
eds AS MATERIALIZED (SELECT id1 AS src, id2 AS dst FROM nd WHERE id1 % 3 <> 2 AND id2 % 3 <> 2
  UNION ALL SELECT id2, id1 FROM nd WHERE id1 % 3 <> 2 AND id2 % 3 <> 2),
degs AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS dg FROM eds GROUP BY 1),
nns AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM degs),
s0 AS (SELECT src AS id, 1.0 / (SELECT n FROM nns) AS r FROM degs),
${step("eds", "degs", "nns", "s0", "s1")},
${step("eds", "degs", "nns", "s1", "s2")},
${step("eds", "degs", "nns", "s2", "s3")},
sr AS (SELECT id, round(r, 6) AS r FROM s3),
edm AS MATERIALIZED (SELECT id1 AS src, id2 AS dst FROM nd UNION ALL SELECT id2, id1 FROM nd),
degm AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS dg FROM edm GROUP BY 1),
nnm AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM degm),
q0 AS (SELECT d.src AS id, coalesce(sr.r, 1.0 / (SELECT n FROM nnm)) AS r
  FROM degm d LEFT JOIN sr ON sr.id = d.src),
${step("edm", "degm", "nnm", "q0", "q1")},
${step("edm", "degm", "nnm", "q1", "q2")}
SELECT id AS doc_id, round(r, 6) AS rank FROM q2"""
  }

  /** pipe_incremental_crawl oracle: the SEQUENTIAL batch equivalent of
    * the composed daily-crawl pass — exact digest gate (in-batch
    * min-id winners anti-joined against the day-1 digests), LSH
    * near-dup probe of the day-1 band state over the exact survivors
    * only, then centroid assignment (the s_incremental_assign
    * trajectory) for accepted docs that have a nonzero embedding. One
    * verdict row per increment doc; `cell` is NULL unless accepted and
    * embeddable. */
  private val pipeIncrementalCrawlSql: String = {
    def dot(a: String, b: String) = OracleSqlGen.dot(a, b, 64)
    s"""WITH d1 AS (SELECT md5(text) AS content_hash FROM documents WHERE doc_id % 3 != 2),
d2 AS (SELECT doc_id, md5(text) AS content_hash FROM documents WHERE doc_id % 3 = 2),
xw AS (SELECT content_hash, min(doc_id) AS doc_id FROM d2 GROUP BY 1),
xs AS (SELECT doc_id FROM xw
  WHERE NOT EXISTS (SELECT 1 FROM d1 WHERE d1.content_hash = xw.content_hash)),
st AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 != 2),
inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2),
incx AS (SELECT i.* FROM inc i JOIN xs ON xs.doc_id = i.doc_id),
${minhashSideCtes("a", "st")},
${minhashSideCtes("b", "incx")},
$derivedCappedStateBndCte,
${crossVerifyCtes(0.5, "abndc")},
best AS (SELECT id2, id1 FROM (
  SELECT *, row_number() OVER (PARTITION BY id2 ORDER BY jaccard DESC, id1) AS rn
  FROM vf) WHERE rn = 1),
acc AS (SELECT i.doc_id FROM incx i LEFT JOIN best ON best.id2 = i.doc_id
  WHERE best.id1 IS NULL),
${OracleSqlGen.nvCte(64)},
tnv AS (SELECT * FROM nv WHERE vec_id % 3 != 2),
${kmeansTrainCtes(8, 2, 64, "tnv")},
iv AS (SELECT nv.* FROM nv JOIN acc ON acc.doc_id = nv.vec_id),
fs AS (SELECT v.vec_id, c.cell,
  ${dot("v.embedding", "c.cv")} / (v.nrm * sqrt(${dot("c.cv", "c.cv")})) AS sim FROM iv v, fc c),
asg AS (SELECT vec_id, cell FROM (SELECT fs.*,
  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn FROM fs) WHERE rn = 1)
SELECT i.doc_id,
  CASE WHEN xs.doc_id IS NULL THEN 'exact_dup'
       WHEN acc.doc_id IS NULL THEN 'near_dup'
       ELSE 'accepted' END AS verdict,
  CAST(asg.cell AS BIGINT) AS cell
FROM inc i
LEFT JOIN xs ON xs.doc_id = i.doc_id
LEFT JOIN acc ON acc.doc_id = i.doc_id
LEFT JOIN asg ON asg.vec_id = i.doc_id"""
  }

  /** pipe_crawl_guarded oracle: [[pipeIncrementalCrawlSql]] with the
    * CONTAMINATION GATE inserted between the exact-digest gate and the
    * near-dup probe — exact survivors screen against the test-suite
    * shingle index (derived df cap, >= 3 shared shingles rejects), and
    * only clean docs reach the LSH probe and centroid assignment. */
  private val pipeCrawlGuardedSql: String = {
    def dot(a: String, b: String) = OracleSqlGen.dot(a, b, 64)
    s"""WITH d1 AS (SELECT md5(text) AS content_hash FROM documents WHERE doc_id % 3 != 2),
d2 AS (SELECT doc_id, md5(text) AS content_hash FROM documents WHERE doc_id % 3 = 2),
xw AS (SELECT content_hash, min(doc_id) AS doc_id FROM d2 GROUP BY 1),
xs AS (SELECT doc_id FROM xw
  WHERE NOT EXISTS (SELECT 1 FROM d1 WHERE d1.content_hash = xw.content_hash)),
st AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 != 2),
inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2),
incx AS (SELECT i.* FROM inc i JOIN xs ON xs.doc_id = i.doc_id),
te AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
tetk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM te),
tesh AS (SELECT DISTINCT doc_id AS test_id, shingle FROM (
  SELECT doc_id, unnest(CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
    ELSE $triShingleSql END) AS shingle FROM tetk) WHERE shingle IS NOT NULL),
gdfv AS (SELECT greatest(8, 4 * count(*) //
  greatest((SELECT count(DISTINCT shingle) FROM tesh), 1)) AS c FROM tesh),
teshc AS (SELECT test_id, shingle FROM (
  SELECT *, count(*) OVER (PARTITION BY shingle) AS df FROM tesh)
  WHERE df <= (SELECT c FROM gdfv)),
xtk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM incx),
xsh AS (SELECT DISTINCT doc_id AS inc_id, shingle FROM (
  SELECT doc_id, unnest(CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
    ELSE $triShingleSql END) AS shingle FROM xtk) WHERE shingle IS NOT NULL),
cont AS (SELECT DISTINCT inc_id AS doc_id FROM (
  SELECT i.inc_id, t.test_id FROM xsh i JOIN teshc t USING (shingle)
  GROUP BY 1, 2 HAVING count(*) >= 3)),
cln AS (SELECT xs.doc_id FROM xs
  WHERE NOT EXISTS (SELECT 1 FROM cont WHERE cont.doc_id = xs.doc_id)),
incc AS (SELECT i.* FROM inc i JOIN cln ON cln.doc_id = i.doc_id),
${minhashSideCtes("a", "st")},
${minhashSideCtes("b", "incc")},
$derivedCappedStateBndCte,
${crossVerifyCtes(0.5, "abndc")},
best AS (SELECT id2, id1 FROM (
  SELECT *, row_number() OVER (PARTITION BY id2 ORDER BY jaccard DESC, id1) AS rn
  FROM vf) WHERE rn = 1),
acc AS (SELECT i.doc_id FROM incc i LEFT JOIN best ON best.id2 = i.doc_id
  WHERE best.id1 IS NULL),
${OracleSqlGen.nvCte(64)},
tnv AS (SELECT * FROM nv WHERE vec_id % 3 != 2),
${kmeansTrainCtes(8, 2, 64, "tnv")},
iv AS (SELECT nv.* FROM nv JOIN acc ON acc.doc_id = nv.vec_id),
fs AS (SELECT v.vec_id, c.cell,
  ${dot("v.embedding", "c.cv")} / (v.nrm * sqrt(${dot("c.cv", "c.cv")})) AS sim FROM iv v, fc c),
asg AS (SELECT vec_id, cell FROM (SELECT fs.*,
  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn FROM fs) WHERE rn = 1)
SELECT i.doc_id,
  CASE WHEN xs.doc_id IS NULL THEN 'exact_dup'
       WHEN cont.doc_id IS NOT NULL THEN 'contaminated'
       WHEN acc.doc_id IS NULL THEN 'near_dup'
       ELSE 'accepted' END AS verdict,
  CAST(asg.cell AS BIGINT) AS cell
FROM inc i
LEFT JOIN xs ON xs.doc_id = i.doc_id
LEFT JOIN cont ON cont.doc_id = i.doc_id
LEFT JOIN acc ON acc.doc_id = i.doc_id
LEFT JOIN asg ON asg.vec_id = i.doc_id"""
  }

  /** st_lsh_probe oracle: the CANDIDATE set of the incremental
    * near-dup pass — band-equality collisions between the persisted
    * state and the streamed increment, before Jaccard verification.
    * Mirrors [[graft.streaming.LshProbe.candidatesOnce]]. */
  private val lshProbeSql: String =
    s"""WITH st AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 != 2),
inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2),
${minhashSideCtes("a", "st")},
${minhashSideCtes("b", "inc")},
$derivedCappedStateBndCte
SELECT DISTINCT a.doc_id AS state_id, b.doc_id AS inc_id
  FROM abndc a JOIN bbnd b ON a.band = b.band AND a.bh = b.bh"""

  private val contaminationTopKSql: String =
    s"""WITH $contaminationCtes,
cbase AS ($contaminationSelect)
SELECT train_id, test_id, jaccard, CAST(rk AS BIGINT) AS witness_rank FROM (
  SELECT *, row_number() OVER (PARTITION BY test_id
    ORDER BY jaccard DESC, train_id) AS rk FROM cbase)
WHERE rk <= 3"""

  /** Unrolled BPE-training oracle: one CTE stage per merge. Stage i
    * extracts wrapped symbols, counts adjacent pairs weighted by word
    * count, picks the (count desc, pair asc) winner t{i}, and rewrites
    * the vocabulary with the same plain substring replace the Spark
    * loop uses — so DuckDB recomputes the ENTIRE training trajectory,
    * not just the first step. */
  private def bpeOracleSql(numMerges: Int): String = {
    val stages = (0 until numMerges).map { i =>
      s"""p$i AS (SELECT cnt, s, unnest(generate_series(1, len(s) - 1)) AS j
  FROM (SELECT cnt, regexp_extract_all(rep, '<([^>]*)>', 1) AS s FROM w$i)),
pc$i AS (SELECT s[CAST(j AS INT)] AS a, s[CAST(j + 1 AS INT)] AS b,
  CAST(sum(cnt) AS BIGINT) AS c FROM p$i GROUP BY 1, 2),
t$i AS MATERIALIZED (SELECT a, b, c FROM pc$i ORDER BY c DESC, a, b LIMIT 1),
w${i + 1} AS MATERIALIZED (SELECT cnt, replace(rep,
  '<' || (SELECT a FROM t$i) || '><' || (SELECT b FROM t$i) || '>',
  '<' || (SELECT a FROM t$i) || (SELECT b FROM t$i) || '>') AS rep FROM w$i)"""
    }.mkString(",\n")
    val out = (0 until numMerges).map(i =>
      s"SELECT CAST($i AS BIGINT) AS merge_idx, a AS left_sym, b AS right_sym, " +
        s"c AS pair_count FROM t$i").mkString(" UNION ALL ")
    s"""WITH w0 AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS cnt,
  regexp_replace(w, '(.)', '<\\1>', 'g') AS rep FROM (
    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
    FROM documents WHERE length(trim(text)) > 0) GROUP BY w),
$stages
$out"""
  }

  // ---- embedding SQL fragments ----

  private def dotSql(a: String, b: String): String = OracleSqlGen.dot(a, b, 64)

  private def cosineSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"

  // ---- seeded-LSH / IVF oracle SQL --------------------------------
  //
  // The hyperplanes are deterministic plan-time literals
  // (Similarity.tableData), so the oracle inlines the SAME doubles and
  // recomputes buckets, candidate joins, rescoring and windows itself.
  // NOTE: the inlined plane count must match what the registered query
  // passes explicitly — registered ANN queries always pin numPlanes
  // (never the corpus-count auto default) so the oracle is valid at any
  // verification SF.

  /** Registered ANN parameters (shared by query + oracle). */
  /** Oracle for dd_bloom_contamination: the EXACT 3-shingle join with
    * the shared-count floor. The Spark side prefilters the train side
    * with a Bloom of the test shingles — false-negative-free, false
    * positives killed by the exact join — so its result is literally
    * this SQL; the bloom only changes how many bytes shuffle. */
  // Per-test-doc cap on reported train matches: without it the report
  // is per-PAIR, quadratic in train-side duplicate density (the sf1
  // sweep measured 100x more output at 10x data — SCALE.md); capped,
  // output is linear in test size. 20 matches is plenty to act on a
  // contaminated benchmark item.
  private val contaminationTopN = 20
  // Deliberately NOT capping train docs per shingle here
  // (Dedup.bloomContamination's maxTrainPerShingle): at this fixture's
  // ~10-copy density the per-shingle df sits below any useful K, so the
  // cap's window sort costs more than it prunes (measured 55s vs 37s at
  // the sf1 fixture — SCALE.md). The cap pays off on boilerplate-heavy
  // real crawls where hot shingles reach df in the thousands.

  private val bloomContaminationSql: String = {
    val tri = "list_transform(ts, (x, i) -> CASE WHEN i + 2 <= len(ts) " +
      "THEN x || ' ' || ts[i + 1] || ' ' || ts[i + 2] END)"
    s"""WITH trc AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
tec AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
trtk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM trc),
trsh AS (SELECT DISTINCT doc_id, shingle FROM (
  SELECT doc_id, unnest(CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
    ELSE $tri END) AS shingle FROM trtk) WHERE shingle IS NOT NULL),
tetk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM tec),
tesh AS (SELECT DISTINCT doc_id, shingle FROM (
  SELECT doc_id, unnest(CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
    ELSE $tri END) AS shingle FROM tetk) WHERE shingle IS NOT NULL),
pairs AS (SELECT tr.doc_id AS train_id, te.doc_id AS test_id, CAST(count(*) AS BIGINT) AS n_shared
  FROM trsh tr JOIN tesh te USING (shingle)
  GROUP BY 1, 2 HAVING count(*) >= 3)
SELECT train_id, test_id, n_shared FROM pairs
QUALIFY row_number() OVER (PARTITION BY test_id ORDER BY n_shared DESC, train_id) <= $contaminationTopN"""
  }

  /** Oracle for dd_verbatim_spans (k=3, minSpan=6, docFreq cap 20):
    * positional 3-shingles of both splits, doc-frequency caps per side,
    * the cross join on shingle text, then gaps-and-islands along each
    * (pair, diagonal) — count+k-1 tokens per maximal run. */
  private val verbatimSpansSql: String =
    """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts FROM documents),
sh0 AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 2)) AS i
        FROM tk WHERE len(ts) >= 3),
sh AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         array_to_string(ts[CAST(i AS INT):CAST(i + 2 AS INT)], ' ') AS shingle
       FROM sh0),
tr0 AS (SELECT * FROM sh WHERE doc_id % 2 = 0),
te0 AS (SELECT * FROM sh WHERE doc_id % 2 = 1),
cap AS (SELECT greatest(20, CAST(ceil(0.08 * count(*)) AS BIGINT)) AS v
        FROM documents WHERE doc_id % 2 = 0),
tcap AS (SELECT shingle FROM (SELECT shingle, count(DISTINCT doc_id) AS c FROM tr0 GROUP BY 1) WHERE c <= (SELECT v FROM cap)),
qcap AS (SELECT shingle FROM (SELECT shingle, count(DISTINCT doc_id) AS c FROM te0 GROUP BY 1) WHERE c <= (SELECT v FROM cap)),
m AS (SELECT DISTINCT tr.doc_id AS train_id, te.doc_id AS test_id,
        tr.pos AS tpos, te.pos AS qpos, tr.pos - te.pos AS diag
      FROM tr0 tr JOIN te0 te USING (shingle)
      WHERE shingle IN (SELECT shingle FROM tcap)
        AND shingle IN (SELECT shingle FROM qcap)),
r AS (SELECT *, qpos - row_number() OVER (PARTITION BY train_id, test_id, diag ORDER BY qpos) AS isl FROM m)
SELECT train_id, test_id, CAST(min(tpos) AS BIGINT) AS train_start,
  CAST(min(qpos) AS BIGINT) AS test_start, CAST(count(*) + 2 AS BIGINT) AS span_tokens
FROM r GROUP BY train_id, test_id, diag, isl HAVING count(*) + 2 >= 6"""

  /** DuckDB expression constructing the same fake-media bytes as
    * [[Multimodal.fakeMedia]] — identical header layout constants, so
    * the oracle independently re-parses dimensions from real bytes. */
  private val mediaBinSql: String = {
    import Multimodal._
    s"""CASE WHEN doc_id % 3 = 0 THEN from_hex('$PngSigHex$PngPreDimsHex' ||
      printf('%08x', doc_id % 640 + 1) || printf('%08x', doc_id % 480 + 1) ||
      '$PngPostDimsHex') || encode(text)
    WHEN doc_id % 3 = 1 THEN from_hex('$JpegSoiApp0Hex' ||
      printf('%04x', doc_id % 8 + 16) || '$JfifBodyHex' ||
      repeat('00', CAST(doc_id % 8 AS INT)) || '$SofPreDimsHex' ||
      printf('%04x', doc_id % 480 + 1) || printf('%04x', doc_id % 640 + 1) ||
      '$SofPostDimsHex') || encode(text)
    ELSE encode(text) END"""
  }

  private val annPlanes = 6
  private val annTables = 12
  private val annCap = 100
  // Per-(table, bucket) member cap: the sf1-fixture sweep measured the
  // UNCAPPED bucket-pair fanout as the 22x-slope driver at 10-copy
  // near-dup density (SCALE.md). 128 is a no-op at the correctness SFs
  // (sf0.01 buckets average ~8 members) and bounds any bucket's pair
  // contribution to cap^2/2 at web-crawl density.
  private val annBucketCap = 128

  /** CTEs nv/pl/dp/bk/bks/co/sym/cnd/sc: norm-filtered corpus, buckets,
    * per-bucket member sampling, collision-counted pairs, per-query
    * candidate cap, exact rescoring — mirrors [[Similarity.annScored]]. */
  private def annScoredCtes(numPlanes: Int, numTables: Int, cap: Int,
                            bucketCap: Int): String =
    s"""${OracleSqlGen.nvCte(64)},
${OracleSqlGen.lshBucketCtes(numPlanes, numTables, 64, 42L)},
bks AS (SELECT vec_id, t, bucket FROM (SELECT bk.*,
  row_number() OVER (PARTITION BY t, bucket ORDER BY vec_id) AS br FROM bk)
  WHERE br <= $bucketCap),
co AS (SELECT l.vec_id AS id1, r.vec_id AS id2, CAST(count(*) AS BIGINT) AS n_tbl
  FROM bks l JOIN bks r ON l.t = r.t AND l.bucket = r.bucket AND l.vec_id < r.vec_id
  GROUP BY 1, 2),
sym AS (SELECT id1 AS query_id, id2 AS neighbor_id, n_tbl FROM co
  UNION ALL SELECT id2, id1, n_tbl FROM co),
cnd AS (SELECT query_id, neighbor_id FROM (SELECT sym.*,
  row_number() OVER (PARTITION BY query_id ORDER BY n_tbl DESC, neighbor_id) AS cr FROM sym)
  WHERE cr <= $cap),
sc AS (SELECT c.query_id, c.neighbor_id,
  round(${OracleSqlGen.dot("q.embedding", "n.embedding", 64)} / (q.nrm * n.nrm), 4) AS cosine
  FROM cnd c JOIN nv q ON q.vec_id = c.query_id JOIN nv n ON n.vec_id = c.neighbor_id)"""

  /** CTEs ce/scc/rk/asg/pr/sc over an existing norm-filtered corpus CTE
    * `nv` (vec_id, embedding, nrm) — mirrors [[Similarity.ivfScored]]
    * with smallest-id centroids. */
  private def ivfScoredCtes(numCells: Int, nprobe: Int, dim: Int,
                            queryPredSql: String = ""): String =
    ivfScoredCtesSql(numCells.toString, nprobe, dim, queryPredSql)

  /** As [[ivfScoredCtes]] but with the cell count as raw SQL — lets
    * s_ivf_topk derive nlist from the corpus itself
    * (`(SELECT CAST(ceil(2*sqrt(count(*))) AS INT) FROM nv)`), matching
    * [[Similarity.autoNumCells]]. */
  private def ivfScoredCtesSql(numCellsSql: String, nprobe: Int, dim: Int,
                               queryPredSql: String = ""): String =
    s"""ce AS (SELECT vec_id AS cell, embedding AS cv, nrm AS cn FROM nv ORDER BY vec_id LIMIT $numCellsSql),
scc AS (SELECT v.vec_id, v.embedding, v.nrm, c.cell,
  ${OracleSqlGen.dot("v.embedding", "c.cv", dim)} / (v.nrm * c.cn) AS sim FROM nv v, ce c),
rk AS (SELECT * FROM (SELECT scc.*,
  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn FROM scc)
  WHERE rn <= $nprobe),
asg AS (SELECT vec_id AS neighbor_id, embedding AS ne, nrm AS nn, cell FROM rk WHERE rn = 1),
pr AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn, cell FROM rk$queryPredSql),
sc AS (SELECT pr.query_id, asg.neighbor_id,
  round(${OracleSqlGen.dot("pr.qe", "asg.ne", dim)} / (pr.qn * asg.nn), 4) AS cosine
  FROM pr JOIN asg USING (cell) WHERE pr.query_id <> asg.neighbor_id)"""

  /** Final top-k select over a scored CTE `sc`. */
  private def topKSql(k: Int): String =
    "SELECT query_id, neighbor_id, cosine, CAST(row_number() OVER w AS BIGINT) AS rank " +
      "FROM sc WINDOW w AS (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) " +
      s"QUALIFY row_number() OVER w <= $k"

  /** Recall-report select: exact top-5 for vec_id < 200 (CTEs exsc/ex),
    * approximate top-5 from `sc` (CTE ap), one-row report. */
  private val recallReportSql: String =
    s""",
exsc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
  round(${OracleSqlGen.dot("q.embedding", "c.embedding", 64)} / (q.nrm * c.nrm), 4) AS cosine
  FROM nv q, nv c WHERE q.vec_id < 200 AND c.vec_id <> q.vec_id),
ex AS (SELECT query_id, neighbor_id FROM (SELECT exsc.*,
  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk FROM exsc)
  WHERE rk <= 5),
ap AS (SELECT query_id, neighbor_id FROM (SELECT sc.*,
  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk FROM sc)
  WHERE rk <= 5 AND query_id < 200),
agg AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM ex) AS n_exact,
  (SELECT CAST(count(*) AS BIGINT) FROM (SELECT * FROM ex INTERSECT SELECT * FROM ap)) AS n_hit,
  (SELECT CAST(count(*) AS BIGINT) FROM sc) AS n_cand,
  (SELECT CAST(count(*) AS BIGINT) FROM nv) AS nc)
SELECT n_exact, n_hit, round(CAST(n_hit AS DOUBLE) / n_exact, 4) AS recall,
  n_cand, round(CAST(n_cand AS DOUBLE) / (nc * (nc - 1)), 4) AS candidate_frac FROM agg"""

  /** Unrolled spherical-k-means oracle (the same pattern as the BPE
    * oracle): per training round, unit-normalize the centroids,
    * assign every vector by max dot/vecnorm (ties: lowest cell),
    * recompute per-cell component means ROUNDED TO 6 DECIMALS (the
    * cross-engine stabilization grid — float-mean accumulation order
    * differs at ~1e-13 and would otherwise compound through later
    * rounds' argmax), keep the previous centroid for empty cells. The
    * final table mirrors kmeansCentroids' float truncation, then one
    * cosine assignment pass produces per-cell membership counts. */
  /** The training trajectory CTEs shared by both k-means oracles:
    * c0 init (k smallest-id vectors of `src`), `iters` unrolled rounds
    * over `src`, ending in `fc` — the final centroid table with
    * kmeansCentroids' float truncation mirrored. */
  private def kmeansTrainCtes(k: Int, iters: Int, dim: Int,
                              src: String): String = {
    def dot(a: String, b: String) = OracleSqlGen.dot(a, b, dim)
    val stages = (0 until iters).map { i =>
      s"""u$i AS (SELECT cell, cv, CASE WHEN cn = 0 THEN cv
    ELSE list_transform(cv, x -> x / cn) END AS uv
  FROM (SELECT cell, cv, sqrt(${dot("cv", "cv")}) AS cn FROM c$i)),
s$i AS (SELECT v.vec_id, v.embedding, u.cell, ${dot("v.embedding", "u.uv")} / v.nrm AS sim
  FROM $src v, u$i u),
a$i AS (SELECT vec_id, embedding, cell FROM (SELECT s$i.*,
  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn FROM s$i) WHERE rn = 1),
m$i AS (SELECT cell, (s).p AS p, round(avg((s).v), 6) AS m
  FROM (SELECT cell, unnest(list_transform(embedding,
    (x, j) -> {'v': CAST(x AS DOUBLE), 'p': j})) AS s FROM a$i) GROUP BY 1, 2),
c${i + 1} AS MATERIALIZED (SELECT c.cell, coalesce(ml.l, c.cv) AS cv FROM c$i c
  LEFT JOIN (SELECT cell, list(m ORDER BY p) AS l FROM m$i GROUP BY 1) ml USING (cell))"""
    }.mkString(",\n")
    s"""c0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM (SELECT vec_id, embedding FROM $src ORDER BY vec_id LIMIT $k)),
$stages,
fc AS (SELECT cell, list_transform(cv, x -> CAST(CAST(x AS REAL) AS DOUBLE)) AS cv FROM c$iters)"""
  }

  private def kmeansCellsOracleSql(k: Int, iters: Int, dim: Int): String = {
    def dot(a: String, b: String) = OracleSqlGen.dot(a, b, dim)
    s"""WITH ${OracleSqlGen.nvCte(dim)},
${kmeansTrainCtes(k, iters, dim, "nv")},
fs AS (SELECT v.vec_id, c.cell,
  ${dot("v.embedding", "c.cv")} / (v.nrm * sqrt(${dot("c.cv", "c.cv")})) AS sim FROM nv v, fc c),
fa AS (SELECT vec_id, cell FROM (SELECT fs.*,
  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn FROM fs) WHERE rn = 1)
SELECT CAST(c.cell AS BIGINT) AS cell, CAST(coalesce(n.cnt, 0) AS BIGINT) AS n_members,
  round(sqrt(${dot("c.cv", "c.cv")}), 4) AS centroid_norm
FROM fc c LEFT JOIN (SELECT cell, count(*) AS cnt FROM fa GROUP BY 1) n USING (cell)"""
  }

  /** s_incremental_assign oracle: centroids trained on the day-1
    * vectors (vec_id % 3 != 2, same trajectory as s_kmeans_cells), then
    * ONLY the increment (vec_id % 3 = 2) is assigned — one verdict row
    * per increment vector with its cell and rounded cosine. */
  private def kmeansAssignOracleSql(k: Int, iters: Int, dim: Int): String = {
    def dot(a: String, b: String) = OracleSqlGen.dot(a, b, dim)
    s"""WITH ${OracleSqlGen.nvCte(dim)},
tnv AS (SELECT * FROM nv WHERE vec_id % 3 != 2),
inv AS (SELECT * FROM nv WHERE vec_id % 3 = 2),
${kmeansTrainCtes(k, iters, dim, "tnv")},
fs AS (SELECT v.vec_id, c.cell,
  ${dot("v.embedding", "c.cv")} / (v.nrm * sqrt(${dot("c.cv", "c.cv")})) AS sim FROM inv v, fc c)
SELECT vec_id, CAST(cell AS BIGINT) AS cell, round(sim, 4) AS sim
FROM (SELECT fs.*, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn FROM fs)
WHERE rn = 1"""
  }

  /** s_embedding_drift's twin: re-derives the SAME training trajectory
    * as [[kmeansAssignOracleSql]], assigns BOTH the accepted corpus and
    * the increment to the final centroids, and aggregates the per-cell
    * drift report. */
  private def embeddingDriftOracleSql(k: Int, iters: Int, dim: Int): String = {
    def dot(a: String, b: String) = OracleSqlGen.dot(a, b, dim)
    def assignCtes(p: String, src: String) =
      s"""${p}0 AS (SELECT v.vec_id, c.cell,
  ${dot("v.embedding", "c.cv")} / (v.nrm * sqrt(${dot("c.cv", "c.cv")})) AS sim FROM $src v, fc c),
$p AS (SELECT vec_id, cell, sim FROM (SELECT ${p}0.*,
  row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn FROM ${p}0) WHERE rn = 1)"""
    s"""WITH ${OracleSqlGen.nvCte(dim)},
tnv AS (SELECT * FROM nv WHERE vec_id % 3 != 2),
inv AS (SELECT * FROM nv WHERE vec_id % 3 = 2),
${kmeansTrainCtes(k, iters, dim, "tnv")},
${assignCtes("ao", "tnv")},
${assignCtes("an", "inv")},
go AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_old, round(avg(sim), 4) AS cohesion_old FROM ao GROUP BY 1),
gn AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_new, round(avg(sim), 4) AS cohesion_new FROM an GROUP BY 1),
j AS (SELECT CAST(coalesce(go.cell, gn.cell) AS BIGINT) AS cell,
  coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new, cohesion_old, cohesion_new
  FROM go FULL OUTER JOIN gn ON go.cell = gn.cell),
t AS (SELECT sum(n_old) AS t_o, sum(n_new) AS t_n FROM j)
SELECT cell, n_old, n_new,
  round(CAST(n_new AS DOUBLE) / t_n - CAST(n_old AS DOUBLE) / t_o, 4) + 0.0 AS share_drift,
  cohesion_old, cohesion_new FROM j, t"""
  }

  /** Hashed-BoW md5-twin embedding CTEs over documents -> `nv`
    * (vec_id, embedding, nrm) at the given dim: token -> bucket =
    * first-8-hex-chars-of-md5 mod dim, per-bucket counts, L2-normalized
    * REAL array. Mirrors hashedBowEmbedding + the
    * norm > 0 filter of ivfScored (tokenless docs embed as zero and are
    * excluded). */
  private def bowNvCte(dim: Int): String = {
    val cs = (0 until dim).map(i => s"sum(CASE WHEN bucket = $i THEN 1 ELSE 0 END) AS c$i")
    val sq = (0 until dim).map(i => s"c$i * c$i").mkString(" + ")
    val arr = (0 until dim).map(i => s"CAST(c$i / cn0 AS REAL)").mkString(", ")
    // nv.nrm is the norm OF THE NORMALIZED FLOAT ARRAY (~1 up to float
    // rounding) — the value Spark's ivfScored divides by — not the
    // pre-normalization count norm cn0.
    s"""tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
  FROM documents WHERE length(trim(text)) > 0),
bkt AS (SELECT doc_id, CAST(${OracleSqlGen.hex8("md5(t)", 1)} % $dim AS BIGINT) AS bucket FROM tok),
cnts AS (SELECT doc_id, ${cs.mkString(", ")} FROM bkt GROUP BY 1),
nb AS (SELECT *, sqrt(CAST($sq AS DOUBLE)) AS cn0 FROM cnts),
em AS (SELECT doc_id AS vec_id, [$arr] AS embedding FROM nb),
nv AS (SELECT * FROM (SELECT vec_id, embedding,
  ${OracleSqlGen.norm("embedding", dim)} AS nrm FROM em) WHERE nrm > 0)"""
  }

  val defs: Seq[Q] = Seq(

    // Token counting: whitespace + BPE-ish pre-tokenizer counts.
    Q("t_token_counts",
      s"SELECT doc_id, $tokCountSql AS n_ws, " +
        "CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]')) AS BIGINT) " +
        "AS n_bpe FROM documents") { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_ws"),
        TextFunctions.bpeishTokenCount(col("text")).as("n_bpe"))
    },

    // Serpentine (boustrophedon) token-balanced shard placement — the
    // dataloader-shard writer's policy: rank docs by token count desc
    // (id tiebreak), deal rank r to shard r%2N<N ? r%2N : 2N-1-(r%2N).
    // The Spark side computes the global rank DISTRIBUTED (range sort +
    // per-partition row_number + broadcast offsets — no single-task
    // window); the oracle uses the equivalent single-window rank.
    Q("t_serpentine_shards",
      s"""WITH toks AS (SELECT doc_id, $tokCountSql AS tok FROM documents),
rk AS (SELECT doc_id, tok,
  row_number() OVER (ORDER BY tok DESC, doc_id) - 1 AS r FROM toks),
sh AS (SELECT tok,
  CAST(CASE WHEN r % 16 < 8 THEN r % 16 ELSE 15 - (r % 16) END AS BIGINT) AS shard
  FROM rk),
agg AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(tok) AS BIGINT) AS n_tokens FROM sh GROUP BY 1)
SELECT shard, n_docs, n_tokens,
  round(CAST(n_tokens AS DOUBLE) * 8 / sum(n_tokens) OVER (), 4) AS balance
FROM agg""") { (s, d) =>
      graft.text.Mixing.serpentineShards(
        Tables.documents(s, d), "doc_id",
        TextFunctions.tokenCount(col("text")), numShards = 8)
    },

    // Concat-and-chunk sequence packing (the pretraining tokenizer
    // stage): docs laid end to end per language in doc_id order, cut
    // into 512-token context windows, each doc assigned to the chunk
    // its starting offset falls in. One window cumsum per language —
    // deterministic, no sequential bin recurrence, one keyed shuffle.
    Q("t_pack_chunks",
      s"""WITH t AS (SELECT lang, doc_id, $tokCountSql AS tok FROM documents),
c AS (SELECT lang, doc_id, tok,
  sum(tok) OVER (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS e FROM t)
SELECT lang, CAST(floor((e - tok) / 512.0) AS BIGINT) AS chunk_id,
  CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(tok) AS BIGINT) AS n_tokens,
  CAST(min(doc_id) AS BIGINT) AS first_doc, CAST(max(doc_id) AS BIGINT) AS last_doc
FROM c GROUP BY 1, 2""") { (s, d) =>
      graft.text.Mixing.concatChunk(Tables.documents(s, d), "lang", "doc_id",
          TextFunctions.tokenCount(col("text")), 512)
        .groupBy(col("lang"), col("chunk_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("_tok")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
    },

    // Source-mixture weighting (static data-mixture stage): per-source
    // token share and alpha=0.5 temperature sampling weight
    // sqrt(tok_i)/sum sqrt(tok_j) — sqrt, not pow, so both engines
    // produce bit-identical weights before rounding.
    Q("t_mixture_weights",
      s"""WITH t AS (SELECT source, $tokCountSql AS tok FROM documents),
s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(tok) AS BIGINT) AS n_tokens FROM t GROUP BY 1)
SELECT source, n_docs, n_tokens,
  round(CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER (), 4) AS share,
  round(sqrt(CAST(n_tokens AS DOUBLE)) / sum(sqrt(CAST(n_tokens AS DOUBLE))) OVER (), 4) AS weight
FROM s""") { (s, d) =>
      graft.text.Mixing.mixtureWeights(Tables.documents(s, d), "source",
        TextFunctions.tokenCount(col("text")))
    },

    // Applying the mixture: each source deterministically downsampled
    // to its alpha=0.5 token budget (target 10k tokens) by md5
    // unit-interval hash — reproducible on any engine/partitioning.
    // The oracle recomputes weights, rates and the per-doc keep
    // decision itself.
    Q("t_mixture_sample",
      s"""WITH t AS (SELECT source, doc_id, $tokCountSql AS tok FROM documents),
s AS (SELECT source, CAST(sum(tok) AS BIGINT) AS n_tokens FROM t GROUP BY 1),
w AS (SELECT source, n_tokens, round(sqrt(CAST(n_tokens AS DOUBLE)) /
  sum(sqrt(CAST(n_tokens AS DOUBLE))) OVER (), 4) AS weight FROM s),
r AS (SELECT source, round(least(1.0, weight * 10000 / n_tokens), 6) AS rate FROM w)
SELECT t.source, CAST(count(*) AS BIGINT) AS kept_docs,
  CAST(sum(tok) AS BIGINT) AS kept_tokens, r.rate
FROM t JOIN r USING (source)
WHERE ${OracleSqlGen.hex8("md5(CAST(doc_id AS VARCHAR))", 1)} / 4294967296.0 < r.rate
GROUP BY t.source, r.rate""") { (s, d) =>
      graft.text.Mixing.applyMixture(Tables.documents(s, d), "source", "doc_id",
        TextFunctions.tokenCount(col("text")), targetTokens = 10000L)
    },

    // Quality scoring battery (Gopher-style heuristics).
    Q("t_quality",
      s"SELECT doc_id, $punctRatioSql AS punct_ratio, $stopRatioSql AS stopword_ratio, " +
        s"$avgWordLenSql AS avg_word_len, $qualitySql AS quality FROM documents") { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TextFunctions.punctRatioFast(col("text")).as("punct_ratio"),
        TextFunctions.stopwordRatioFast(col("text")).as("stopword_ratio"),
        TextFunctions.avgWordLen(col("text")).as("avg_word_len"),
        TextFunctions.qualityScoreFast(col("text")).as("quality"))
    },

    // Gopher-style repetition metrics: the most-repeated word 2-gram's
    // share of all 2-gram occurrences, and the fraction of occurrences
    // that are repeats (1 - distinct/total) — the standard "degenerate
    // repetition" quality filters. Integer counts + one final division,
    // so both engines agree exactly.
    Q("t_repetition",
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts FROM documents),
sg AS (SELECT doc_id, shingle FROM (SELECT doc_id,
  unnest(CASE WHEN len(ts) < 2 THEN [array_to_string(ts, ' ')]
    ELSE list_transform(ts, (x, i) -> CASE WHEN i < len(ts) THEN x || ' ' || ts[i + 1] END)
    END) AS shingle FROM tk) WHERE shingle IS NOT NULL),
per AS (SELECT doc_id, shingle, CAST(count(*) AS BIGINT) AS c FROM sg GROUP BY 1, 2)
SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_2grams, CAST(max(c) AS BIGINT) AS top_count,
  round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS top_share,
  round(1 - CAST(count(*) AS DOUBLE) / sum(c), 4) AS dup_frac
FROM per GROUP BY 1""") { (s, d) =>
      val sh = Tables.documents(s, d).select(col("doc_id"),
        explode(Dedup.shingles(col("text"), 2)).as("g"))
      val per = sh.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      per.groupBy(col("doc_id")).agg(
        sum(col("c")).as("n_2grams"),
        max(col("c")).as("top_count"),
        round(max(col("c")).cast("double") / sum(col("c")), 4).as("top_share"),
        round(lit(1) - count(lit(1)).cast("double") / sum(col("c")), 4).as("dup_frac"))
    },

    // BPE merge training (tokenizer training as a corpus operator): 8
    // merges over the word vocabulary, each row one trained merge. The
    // oracle unrolls the full loop — every pair count, winner and
    // vocabulary rewrite is recomputed by DuckDB stage by stage.
    Q("t_bpe_merges", bpeOracleSql(8)) { (s, d) =>
      graft.text.Bpe.trainMerges(Tables.documents(s, d), "text", 8)
    },

    // Marker-based language ID vs the labeled truth column.
    Q("t_lang_id",
      s"SELECT doc_id, lang AS lang_true, $langCaseSql AS lang_guess FROM documents") { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"), col("lang").as("lang_true"),
        TextFunctions.langIdFast(col("text")).as("lang_guess"))
    },

    // PII redaction (privacy stage of a corpus pipeline). The synthetic
    // corpus has no PII, so deterministic doc_id-derived spans are
    // seeded first — the fixture; the scrub regexes + counts + the
    // scrubbed-byte digest are the operator, fully recomputed by DuckDB
    // through the identical RE2/Java-compatible patterns.
    Q("t_pii_scrub",
      s"""WITH px AS (SELECT doc_id, CASE WHEN doc_id % 3 <> 2
  THEN text || ' contact u' || CAST(doc_id AS VARCHAR) || '@ex.org via 10.' ||
    CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) ||
    ' tel 555-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
  ELSE text END AS ptext FROM documents)
SELECT doc_id,
  CAST(len(regexp_extract_all(ptext, '${graft.text.Privacy.emailRe}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(ptext, '${graft.text.Privacy.ipRe}')) AS BIGINT) AS n_ips,
  CAST(len(regexp_extract_all(ptext, '${graft.text.Privacy.phoneRe}')) AS BIGINT) AS n_phones,
  md5(regexp_replace(regexp_replace(regexp_replace(ptext,
    '${graft.text.Privacy.emailRe}', '<EMAIL>', 'g'),
    '${graft.text.Privacy.ipRe}', '<IP>', 'g'),
    '${graft.text.Privacy.phoneRe}', '<PHONE>', 'g')) AS scrub_hash
FROM px""") { (s, d) =>
      val seeded = Tables.documents(s, d).select(col("doc_id"),
        graft.text.Privacy.seedPii(col("text"), col("doc_id")).as("ptext"))
      graft.text.Privacy.scrubReport(seeded, "doc_id", "ptext")
    },

    // Keyed pseudonymization + small-cohort suppression over events:
    // user_id -> peppered SHA-256 surrogate, subjects with < 70 rows
    // collapse into one <suppressed> bucket (k-anonymity-style release).
    Q("t_pseudonymize",
      """WITH per AS (SELECT substr(sha256('graft-pepper-1:' || CAST(user_id AS VARCHAR)), 1, 16) AS uid,
  CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1)
SELECT CASE WHEN n >= 70 THEN uid ELSE '<suppressed>' END AS subject,
  CAST(sum(n) AS BIGINT) AS n_events, CAST(count(*) AS BIGINT) AS n_subjects
FROM per GROUP BY 1""") { (s, d) =>
      graft.text.Privacy.kSuppressedActivity(
        Tables.events(s, d), "user_id", "graft-pepper-1", 70)
    },

    // C4-style boilerplate removal at 10-token block granularity: blocks
    // recurring in >= 2 distinct docs are dropped, the per-doc residual
    // reassembled in position order and digest-pinned. The oracle
    // rebuilds blocks (index-ordered string_agg), the global doc-freq
    // table, and every keep decision.
    Q("dd_boilerplate_blocks",
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts
  FROM documents WHERE length(trim(text)) > 0),
bl AS (SELECT doc_id, CAST(floor(((s).p - 1) / 10) AS BIGINT) AS i,
    string_agg((s).t, ' ' ORDER BY (s).p) AS btxt
  FROM (SELECT doc_id, unnest(list_transform(ts, (t, p) -> {'t': t, 'p': p})) AS s
    FROM tk) GROUP BY 1, 2),
df AS (SELECT md5(btxt) AS h, count(DISTINCT doc_id) AS dfreq FROM bl GROUP BY 1),
jb AS (SELECT doc_id, i, btxt, dfreq FROM bl JOIN df ON md5(btxt) = df.h)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
  CAST(sum(CASE WHEN dfreq > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
  CAST(sum(CASE WHEN dfreq <= 1 THEN len(string_split(btxt, ' ')) ELSE 0 END) AS BIGINT) AS kept_tokens,
  md5(coalesce(string_agg(CASE WHEN dfreq <= 1 THEN btxt END, ' ' ORDER BY i), '')) AS kept_hash
FROM jb GROUP BY 1""") { (s, d) =>
      graft.text.Boilerplate.blockBoilerplate(
        Tables.documents(s, d), "doc_id", "text", blockTokens = 10, maxDocFreq = 1L)
    },

    // Exact dedup groups by content digest (hash-groupBy).
    Q("dd_exact_groups",
      "SELECT md5(text) AS content_hash, CAST(count(*) AS BIGINT) AS n_copies, " +
        "min(doc_id) AS keep_id FROM documents GROUP BY 1") { (s, d) =>
      Dedup.exactGroups(Tables.documents(s, d), "doc_id", "text")
    },

    // Exact word-level Jaccard pairs — the oracle-checked twin of the
    // minhash pipeline's verification stage. Brute force is quadratic by
    // construction, so it runs on a fixed 500-doc sample at every SF;
    // dd_minhash_neardups is the full-corpus scale path.
    Q("dd_jaccard_word",
      "WITH sets AS (SELECT DISTINCT * FROM (SELECT doc_id, " +
        "unnest(regexp_split_to_array(trim(text), '\\s+')) AS shingle " +
        "FROM documents WHERE doc_id < 500)), " +
        "sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sets GROUP BY 1), " +
        "inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(count(*) AS BIGINT) AS i " +
        "FROM sets a JOIN sets b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT id1, id2, round(CAST(i AS DOUBLE) / (s1.sz + s2.sz - i), 4) AS jaccard " +
        "FROM inter JOIN sizes s1 ON s1.doc_id = id1 JOIN sizes s2 ON s2.doc_id = id2 " +
        "WHERE round(CAST(i AS DOUBLE) / (s1.sz + s2.sz - i), 4) >= 0.5") { (s, d) =>
      Dedup.ngramJaccardPairs(
        Tables.documents(s, d).filter(col("doc_id") < 500), "doc_id", "text", 1, 0.5)
    },

    // MinHash+LSH near-dup pipeline, md5-hashed so the ENTIRE pipeline
    // — distinct 2-gram shingles, 32 permutation min-hashes, 8 banded
    // band-hashes, bucket join, exact Jaccard verify — is recomputed
    // independently by DuckDB.
    Q("dd_minhash_neardups", minhashMd5Sql) { (s, d) =>
      // Same CacheOnce key/plan as pg_pagerank's edge source: whichever
      // runs first pays the band join + Jaccard verify, the other reads
      // the verified pair set from cache.
      graft.ops.CacheOnce.swapTruncated("minhash-md5-neardups",
        Dedup.minhashNearDupsMd5(Tables.documents(s, d), "doc_id", "text",
          numHashes = 32, rowsPerBand = 4, shingleN = 2, threshold = 0.5))
    },

    // PageRank centrality over the symmetrized MinHash near-dup graph:
    // template hubs (docs near-dup to many others) rank above isolated
    // pairs. Three fixed supersteps of the damped recurrence, each one
    // same-key join + one keyed aggregate; the oracle unrolls the same
    // three passes, with the teleport constant computed as a DOUBLE
    // subtraction on both sides: DuckDB's bare (1.0 - 0.85) is DECIMAL
    // arithmetic (exactly 0.15, whose nearest double is
    // 0.1499999999999999944) while Scala's 1.0 - 0.85 is IEEE double
    // subtraction (0.15000000000000002) — the explicit DOUBLE casts
    // make the oracle perform the same IEEE subtraction, so the
    // engines really do share bit-identical constants.
    Q("pg_pagerank", {
      def step(prev: String, next: String) =
        s"""$next AS (SELECT e.dst AS id, (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn) +
  0.85 * sum(p.r / d.dg) AS r FROM ed e JOIN $prev p ON p.id = e.src
  JOIN deg d ON d.src = e.src GROUP BY 1)"""
      s"""WITH ${minhashMd5Ctes("documents", 0.5)},
ed AS MATERIALIZED (SELECT id1 AS src, id2 AS dst FROM nd UNION ALL SELECT id2, id1 FROM nd),
deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS dg FROM ed GROUP BY 1),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
p0 AS (SELECT src AS id, 1.0 / (SELECT n FROM nn) AS r FROM deg),
${step("p0", "p1")},
${step("p1", "p2")},
${step("p2", "p3")}
SELECT id AS doc_id, round(r, 6) AS rank FROM p3"""
    }) { (s, d) =>
      val pairs = graft.ops.CacheOnce.swapTruncated("minhash-md5-neardups",
        Dedup.minhashNearDupsMd5(Tables.documents(s, d), "doc_id", "text",
          numHashes = 32, rowsPerBand = 4, shingleN = 2, threshold = 0.5))
      graft.graph.PageRank.pageRank(graft.graph.PageRank.symmetrize(pairs),
          iters = 3, damping = 0.85, roundTo = 6, symmetric = true)
        .select(col("id").as("doc_id"), col("rank"))
    },

    // Per-node triangle counts over the same near-dup graph (the
    // local-clustering signal: docs inside densely inter-duplicated
    // template families vs hubs of coincidental collisions). Spark side
    // enumerates wedges degree-ORIENTED (each triangle found once, at
    // its lowest-(degree,id) corner — out-degrees are O(sqrt|E|), so a
    // boilerplate hub cannot dominate the wedge shuffle); the oracle
    // enumerates id-ordered a<b<c triples — two different algorithms,
    // one triangle set.
    Q("pg_triangles", trianglesOracleSql) { (s, d) =>
      val pairs = graft.ops.CacheOnce.swapTruncated("minhash-md5-neardups",
        Dedup.minhashNearDupsMd5(Tables.documents(s, d), "doc_id", "text",
          numHashes = 32, rowsPerBand = 4, shingleN = 2, threshold = 0.5))
      graft.graph.Triangles.perNodeCounts(pairs)
        .select(col("id").as("doc_id"), col("triangles"))
    },

    // SimHash signatures: token hash = first 16 hex chars of md5,
    // signature carried as two 32-bit halves so neither engine parses
    // a >= 2^63 literal. Oracle recomputes the per-bit votes from
    // the hex nibbles.
    Q("dd_simhash", s"WITH $simhashSigCte SELECT doc_id, sig_hi, sig_lo FROM sg") { (s, d) =>
      // same CacheOnce key/plan as dd_simhash_neardups' signature stage:
      // whichever runs first computes the md5+vote chain, the other reads it
      graft.ops.CacheOnce.swap("simhash-md5-sigs",
        Dedup.simhashMd5(Tables.documents(s, d), "doc_id", "text"))
    },

    // SimHash Manku block-combination near-dup pairs over the md5
    // signatures (recall 1 within maxHamming by pigeonhole; 32-bit
    // combination keys): the oracle rebuilds the same 20 block
    // combinations and the Hamming verification from the hi/lo halves.
    Q("dd_simhash_neardups", simhashNearDupsMd5Sql) { (s, d) =>
      Dedup.simhashNearDupsMd5(Tables.documents(s, d), "doc_id", "text",
        maxHamming = 3, blocks = 6)
    },

    // Hard-negative mining for contrastive training: each query's
    // top-3 cosine neighbors EXCLUDING its near-duplicates (a near-dup
    // ranked as a negative poisons the loss; filtering after top-k
    // under-fills the k, so the exclusion anti-joins the scored pairs
    // BEFORE ranking). The exclusion set is the CacheOnce-shared
    // MinHash pair list; the oracle recomputes pairs, scores and the
    // anti-join end to end.
    Q("s_hard_negatives",
      s"""WITH ${minhashMd5Ctes("documents", 0.5)},
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
sc0 AS (SELECT q.query_id, c.vec_id AS neighbor_id,
  round(${cosineSql("q.qv", "c.embedding")}, 4) AS cosine
  FROM q, embeddings c WHERE c.vec_id <> q.query_id),
fl AS (SELECT sc0.* FROM sc0 LEFT JOIN nd
  ON nd.id1 = least(query_id, neighbor_id) AND nd.id2 = greatest(query_id, neighbor_id)
  WHERE nd.id1 IS NULL)
SELECT query_id, neighbor_id, cosine, CAST(row_number() OVER w AS BIGINT) AS rank
FROM fl WINDOW w AS (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
QUALIFY row_number() OVER w <= 3""") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val pairs = graft.ops.CacheOnce.swapTruncated("minhash-md5-neardups",
        Dedup.minhashNearDupsMd5(Tables.documents(s, d), "doc_id", "text",
          numHashes = 32, rowsPerBand = 4, shingleN = 2, threshold = 0.5))
      Similarity.cosineTopKExcluding(
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        emb, "qid", "vec_id", "qv", "embedding", 3, pairs)
    },

    // Brute-force exact cosine top-k (broadcast query set).
    Q("s_cosine_topk",
      "WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8), " +
        "s AS (SELECT q.query_id, c.vec_id AS neighbor_id, " +
        s"round(${cosineSql("q.qv", "c.embedding")}, 4) AS cosine " +
        "FROM q, embeddings c WHERE c.vec_id <> q.query_id) " +
        "SELECT query_id, neighbor_id, cosine, CAST(row_number() OVER w AS BIGINT) AS rank " +
        "FROM s WINDOW w AS (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) " +
        "QUALIFY row_number() OVER w <= 5") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.cosineTopK(
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        emb, "qid", "vec_id", "qv", "embedding", 5)
    },

    // int8 quantization quality report: per query (vec_id < 8), the
    // max/mean |cosine_exact - cosine_int8| over the whole corpus, with
    // an in-query gate (a8 pattern: one collected aggregate is both the
    // assertion and the result). Quantized dots are exact integer
    // arithmetic in doubles, so both engines agree bit for bit before
    // the final rounding.
    Q("s_int8_quant",
      s"""WITH base AS (SELECT vec_id, embedding,
  (SELECT max(abs(CAST(embedding[g.i] AS DOUBLE))) FROM generate_series(1, 64) g(i)) AS m
  FROM embeddings),
qz AS (SELECT vec_id, embedding,
  list_transform(embedding, v -> round(CAST(v AS DOUBLE) * 127 / m)) AS qv
  FROM base WHERE m > 0),
pr AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
  round(${dotSql("q.embedding", "c.embedding")} /
    (sqrt(${dotSql("q.embedding", "q.embedding")}) * sqrt(${dotSql("c.embedding", "c.embedding")})), 4) AS ce,
  round((SELECT sum(q.qv[g.i] * c.qv[g.i]) FROM generate_series(1, 64) g(i)) /
    (sqrt((SELECT sum(q.qv[g.i] * q.qv[g.i]) FROM generate_series(1, 64) g(i))) *
     sqrt((SELECT sum(c.qv[g.i] * c.qv[g.i]) FROM generate_series(1, 64) g(i)))), 4) AS cq
  FROM qz q, qz c WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id)
SELECT query_id, CAST(count(*) AS BIGINT) AS n_pairs,
  round(max(abs(ce - cq)), 4) AS max_abs_err,
  round(avg(abs(ce - cq)), 4) AS mean_abs_err
FROM pr GROUP BY 1""") { (s, d) =>
      // int8Quantized passes the original vector through, so exact and
      // quantized cosines come from ONE scan (a zero-norm vector has
      // zero max-abs, so its filter implies the norm filter).
      val withQ = Similarity.int8Quantized(Tables.embeddings(s, d), "vec_id", "embedding")
        .withColumn("_n", Similarity.l2norm(col("embedding")))
        .withColumn("_qn", Similarity.l2norm(col("qv")))
      val q = withQ.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("qv").as("qq"), col("_n").as("_en1"), col("_qn").as("_qn1"))
      val pairs = withQ
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"),
          col("qv").as("cq"), col("_n").as("_en2"), col("_qn").as("_qn2"))
        .crossJoin(broadcast(q))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"),
          abs(round(Similarity.dot(col("qe"), col("ce")) / (col("_en1") * col("_en2")), 4) -
            round(Similarity.dot(col("qq"), col("cq")) / (col("_qn1") * col("_qn2")), 4))
            .as("err"))
      val check = pairs.groupBy("query_id").agg(
        count(lit(1)).as("n_pairs"),
        round(max(col("err")), 4).as("max_abs_err"),
        round(avg(col("err")), 4).as("mean_abs_err")).collect()
      check.foreach { r =>
        require(r.getDouble(2) <= 0.05,
          s"int8 cosine drifted: query=${r.getLong(0)} max_abs_err=${r.getDouble(2)}")
      }
      import s.implicits._
      check.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .toDF("query_id", "n_pairs", "max_abs_err", "mean_abs_err")
    },

    // RAG-style sliding chunk windows: 64-token windows at stride 48
    // (25% overlap), one row per chunk with start offset, tail-aware
    // length and first token — narrow tokenize + sequence explode, no
    // shuffle at any corpus size.
    Q("t_chunk_windows",
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts
  FROM documents WHERE length(trim(text)) > 0),
ch AS (SELECT doc_id, ts,
  unnest(generate_series(0, CAST(floor((len(ts) - 1) / 48) AS BIGINT))) AS i FROM tk)
SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx, CAST(i * 48 AS BIGINT) AS start_tok,
  CAST(least(64, len(ts) - i * 48) AS BIGINT) AS n_tok,
  ts[CAST(i * 48 + 1 AS INT)] AS first_tok
FROM ch""") { (s, d) =>
      graft.text.Mixing.slidingChunks(Tables.documents(s, d), "doc_id", "text",
        window = 64, stride = 48)
    },

    // O5: pairwise Euclidean distance matrix (spatial_modelling.Rmd:217).
    Q("s_pairwise_dist",
      "WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 30) " +
        "SELECT a.vec_id AS id1, b.vec_id AS id2, round(sqrt((SELECT " +
        "sum(pow(CAST(a.embedding[g.i] AS DOUBLE) - CAST(b.embedding[g.i] AS DOUBLE), 2)) " +
        "FROM generate_series(1, 64) g(i))), 4) AS dist " +
        "FROM e a JOIN e b ON a.vec_id < b.vec_id") { (s, d) =>
      val e = Tables.embeddings(s, d).filter(col("vec_id") < 30)
      val l = e.select(col("vec_id").as("id1"), col("embedding").as("v1"))
      val r = e.select(col("vec_id").as("id2"), col("embedding").as("v2"))
      l.crossJoin(r).filter(col("id1") < col("id2"))
        .select(col("id1"), col("id2"),
          round(Similarity.l2dist(col("v1"), col("v2")), 4).as("dist"))
    },

    // Multimodal metadata: binary media column (deterministic fake bytes
    // with STRUCTURALLY VALID PNG/JPEG headers), format sniff, byte
    // length, content hash, and REAL dimension decode — PNG IHDR at a
    // fixed offset, JPEG SOF0 behind a variable-length APP0. The oracle
    // constructs the same bytes ([[mediaBinSql]], shared layout
    // constants) and re-parses width/height from them with hex
    // arithmetic: fixed position 33/41 for PNG; for JPEG it reads the
    // APP0 length from bytes 5-6 and indexes the SOF0 dims behind it.
    Q("mm_metadata",
      s"""WITH m AS (SELECT doc_id, text, $mediaBinSql AS bin FROM documents),
h AS (SELECT doc_id, text, bin, lower(hex(bin)) AS hx FROM m),
j AS (SELECT *, ${OracleSqlGen.hexAt("hx", "9", 4)} AS a0len FROM h)
SELECT doc_id,
  CASE WHEN substr(hx, 1, 16) = '${Multimodal.PngSigHex}' THEN 'png'
       WHEN substr(hx, 1, 4) = 'ffd8' THEN 'jpeg' ELSE 'unknown' END AS format,
  CAST(octet_length(bin) AS BIGINT) AS n_bytes,
  md5(text) AS content_hash,
  CAST(CASE WHEN substr(hx, 1, 16) = '${Multimodal.PngSigHex}' THEN ${OracleSqlGen.hexAt("hx", "33", 8)}
            WHEN substr(hx, 1, 4) = 'ffd8' THEN ${OracleSqlGen.hexAt("hx", "2 * a0len + 23", 4)} END AS BIGINT) AS width,
  CAST(CASE WHEN substr(hx, 1, 16) = '${Multimodal.PngSigHex}' THEN ${OracleSqlGen.hexAt("hx", "41", 8)}
            WHEN substr(hx, 1, 4) = 'ffd8' THEN ${OracleSqlGen.hexAt("hx", "2 * a0len + 19", 4)} END AS BIGINT) AS height
FROM j""") { (s, d) =>
      val withBin = Tables.documents(s, d)
        .withColumn("bin", Multimodal.fakeMedia(col("text"), col("doc_id")))
      val dims = Multimodal.decodeDims(col("bin"))
      withBin.select(
        col("doc_id"),
        Multimodal.sniffFormat(col("bin")).as("format"),
        Multimodal.nBytes(col("bin")).as("n_bytes"),
        md5(col("text")).as("content_hash"),
        dims.getField("width").as("width"),
        dims.getField("height").as("height"))
    },

    // Multimodal frame sampling: 3 byte-windows of 8 bytes at stride 16,
    // hex-encoded; oracle constructs the same header bytes and slices
    // the hex string (2 chars per byte).
    Q("mm_frames",
      s"WITH m AS (SELECT doc_id, $mediaBinSql AS bin FROM documents) " +
        "SELECT doc_id, CAST(g.i AS INT) AS frame_idx, " +
        "lower(substring(hex(bin), CAST(g.i * 32 + 1 AS INT), 16)) AS frame_hex " +
        "FROM m, generate_series(0, 2) g(i)") { (s, d) =>
      Tables.documents(s, d)
        .withColumn("bin", Multimodal.fakeMedia(col("text"), col("doc_id")))
        .select(col("doc_id"),
          posexplode(Multimodal.frameWindows(col("bin"), 3, 8, 16)))
        .select(col("doc_id"), col("pos").as("frame_idx"), col("col").as("frame_hex"))
    },

    // Corpus snapshot diff by content digest — the dataset-versioning
    // primitive: two snapshots (yesterday excludes doc_id%7==6, today
    // excludes %7==0, with a deterministic "edit" applied to %11==5
    // docs) diff by md5 over a full outer join keyed on doc_id. Only
    // digests cross the wire, never text — the dd_exact scale shape —
    // and the report carries only the delta (added/removed/changed),
    // which is what a curation review reads and what an incremental
    // re-process consumes as its work list.
    Q("dq_snapshot_diff",
      """WITH a AS (SELECT doc_id, md5(text) AS h_old FROM documents WHERE doc_id % 7 != 6),
b AS (SELECT doc_id, md5(CASE WHEN doc_id % 11 = 5 THEN text || ' v2' ELSE text END) AS h_new
      FROM documents WHERE doc_id % 7 != 0),
j AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id, h_old, h_new
      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
SELECT doc_id,
  CASE WHEN h_old IS NULL THEN 'added' WHEN h_new IS NULL THEN 'removed'
       ELSE 'changed' END AS status, h_old, h_new
FROM j WHERE h_old IS NULL OR h_new IS NULL OR h_old <> h_new""") { (s, d) =>
      val docs = Tables.documents(s, d)
      val a = docs.filter(col("doc_id") % 7 =!= 6)
        .select(col("doc_id"), md5(col("text")).as("h_old"))
      val b = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          md5(when(col("doc_id") % 11 === 5, concat(col("text"), lit(" v2")))
            .otherwise(col("text"))).as("h_new"))
      a.join(b, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          when(col("h_old").isNull, "added")
            .when(col("h_new").isNull, "removed")
            .otherwise("changed").as("status"),
          col("h_old"), col("h_new"))
        .filter(col("h_old").isNull || col("h_new").isNull ||
          col("h_old") =!= col("h_new"))
    },

    // Text-quality drift between the accepted corpus and an increment —
    // s_embedding_drift's text-side sibling: quality scores bucket into
    // the 4-point gate grid (round(q*3)), per-bucket counts both sides,
    // and the increment's share shift per bucket. A crawl whose
    // low-quality share spikes fails the gate before ingest.
    // Column profile of the documents table (the ANALYZE report): row
    // count, nulls and EXACT distinct cardinality per column, one
    // aggregate pass (Expand-planned multi-distinct).
    Q("dq_profile", {
      val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
      cols.map(c =>
        s"SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows, " +
          s"CAST(count(*) - count($c) AS BIGINT) AS n_nulls, " +
          s"CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct FROM documents")
        .mkString(" UNION ALL ")
    }) { (s, d) =>
      graft.ops.DataQuality.profile(Tables.documents(s, d),
        Seq("doc_id", "text", "lang", "source", "n_chars"))
    },

    // MAD-based volume-anomaly gate over daily per-type event tallies:
    // a (type, day) bucket is anomalous when its count deviates from
    // the type's median by > 3 median-absolute-deviations — the
    // outlier-robust ingest monitor (one bad day cannot drag the
    // threshold toward itself). Exact interpolated medians over integer
    // counts, so both engines flag bit-identically.
    Q("dq_anomaly",
      """WITH dc AS (SELECT event_type, CAST(ts + INTERVAL 8 HOUR AS DATE) AS day,
  CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
md AS (SELECT event_type, median(n) AS med FROM dc GROUP BY 1),
ad AS (SELECT dc.event_type, day, n, med, abs(n - med) AS dev FROM dc JOIN md USING (event_type)),
mm AS (SELECT event_type, median(dev) AS mad FROM ad GROUP BY 1)
SELECT ad.event_type, day, n, med, mm.mad AS mad, (dev > 3 * mm.mad) AS is_anomaly
FROM ad JOIN mm USING (event_type)""") { (s, d) =>
      val dc = Tables.events(s, d)
        .groupBy(col("event_type"),
          graft.ops.ColumnOps.toLocalDate(col("ts"), "Australia/Perth").as("day"))
        .agg(count(lit(1)).as("n"))
      graft.ops.DataQuality.madAnomalies(dc, Seq("event_type"), "n", k = 3.0)
        .select(col("event_type"), col("day"), col("n"), col("med"),
          col("mad"), col("is_anomaly"))
    },

    Q("dq_quality_drift",
      s"""WITH q AS (SELECT doc_id, $qualitySql AS q FROM documents),
o AS (SELECT CAST(round(q * 3, 0) AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n_old
      FROM q WHERE doc_id % 3 != 2 GROUP BY 1),
nn AS (SELECT CAST(round(q * 3, 0) AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n_new
      FROM q WHERE doc_id % 3 = 2 GROUP BY 1),
j AS (SELECT coalesce(o.bucket, nn.bucket) AS bucket, coalesce(n_old, 0) AS n_old,
      coalesce(n_new, 0) AS n_new FROM o FULL OUTER JOIN nn ON o.bucket = nn.bucket),
t AS (SELECT sum(n_old) AS t_o, sum(n_new) AS t_n FROM j)
SELECT bucket, n_old, n_new,
  round(CAST(n_new AS DOUBLE) / t_n - CAST(n_old AS DOUBLE) / t_o, 4) + 0.0 AS share_drift
FROM j, t""") { (s, d) =>
      val docs = Tables.documents(s, d)
      def side(f: org.apache.spark.sql.Column, n: String) = docs.filter(f)
        .select(round(TextFunctions.qualityScoreFast(col("text")) * 3, 0)
          .cast("long").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as(n))
      val j = side(col("doc_id") % 3 =!= 2, "n_old")
        .join(side(col("doc_id") % 3 === 2, "n_new"), Seq("bucket"), "full_outer")
        .select(col("bucket"), coalesce(col("n_old"), lit(0L)).as("n_old"),
          coalesce(col("n_new"), lit(0L)).as("n_new"))
      val tot = j.agg(sum(col("n_old")).as("_to"), sum(col("n_new")).as("_tn"))
      // + 0.0 (both sides): IEEE -0.0 + 0.0 = +0.0, identity elsewhere —
      // round() can emit -0.0 from float dust just below zero, and the
      // string-level record compare reads "-0.0" != "0.0" (r16 30×).
      j.crossJoin(broadcast(tot))
        .select(col("bucket"), col("n_old"), col("n_new"),
          (round(col("n_new") / col("_tn") - col("n_old") / col("_to"), 4) + lit(0.0))
            .as("share_drift"))
    },

    // Data-quality constraint report (the Deequ-shaped gate a training
    // pipeline schedules before ingest): k row-predicate constraints
    // counted in ONE aggregate pass (never k scans), plus the
    // uniqueness check a row predicate cannot express (count vs
    // distinct count, riding the same pass). One row per constraint —
    // the shape a scheduler gates on. The oracle recomputes every
    // count independently.
    Q("dq_constraints", {
      val rules = Seq(
        "doc_id_not_null" -> "doc_id IS NOT NULL",
        "text_not_empty" -> "length(trim(text)) > 0",
        "lang_not_null" -> "lang IS NOT NULL",
        "source_not_null" -> "source IS NOT NULL")
      val ruleSelects = rules.map { case (n, p) =>
        s"SELECT '$n' AS check_name, " +
          s"CAST(sum(CASE WHEN $p THEN 0 ELSE 1 END) AS BIGINT) AS violations, " +
          "CAST(count(*) AS BIGINT) AS n_rows, " +
          s"sum(CASE WHEN $p THEN 0 ELSE 1 END) = 0 AS pass FROM documents"
      }
      val uniq = "SELECT 'unique_doc_id', " +
        "CAST(count(*) - count(DISTINCT doc_id) AS BIGINT), " +
        "CAST(count(*) AS BIGINT), " +
        "count(*) = count(DISTINCT doc_id) FROM documents"
      (ruleSelects :+ uniq).mkString(" UNION ALL ")
    }) { (s, d) =>
      graft.ops.DataQuality.report(Tables.documents(s, d),
        Seq(
          "doc_id_not_null" -> col("doc_id").isNotNull,
          "text_not_empty" -> (length(trim(col("text"))) > 0),
          "lang_not_null" -> col("lang").isNotNull,
          "source_not_null" -> col("source").isNotNull),
        uniqueKey = Seq("doc_id"))
    },

    // Audio/video container metadata, REAL box/chunk walks end to end:
    // fakeAv embeds every value in genuine ISO-BMFF / RIFF structure
    // (variable-length free/junk boxes, so neither walk can cheat with
    // fixed offsets), and Mp4Meta/WavMeta must recover them from the
    // BYTES. The oracle re-derives the embedded values from the
    // constructor formulas (WAV duration additionally rides the
    // payload's byte length over the fmt byte rate — integer division
    // both engines share); the byte-exact absolute offsets are pinned
    // separately by hand-written container blobs in MultimodalSpec.
    Q("mm_av_metadata",
      """SELECT doc_id,
  CASE WHEN doc_id % 3 = 0 THEN 'mp4' WHEN doc_id % 3 = 1 THEN 'wav'
       ELSE 'unknown' END AS container,
  CAST(CASE WHEN doc_id % 3 = 0 THEN doc_id % 640 + 1 END AS BIGINT) AS v_width,
  CAST(CASE WHEN doc_id % 3 = 0 THEN doc_id % 480 + 1 END AS BIGINT) AS v_height,
  CAST(CASE WHEN doc_id % 3 = 0 THEN doc_id % 5000 + 40 END AS BIGINT) AS v_duration_ms,
  CAST(CASE WHEN doc_id % 3 = 0 THEN doc_id % 2 + 1 END AS BIGINT) AS n_tracks,
  CAST(CASE WHEN doc_id % 3 = 1 THEN doc_id % 2 + 1 END AS BIGINT) AS a_channels,
  CAST(CASE WHEN doc_id % 3 = 1 THEN (doc_id % 4 + 1) * 8000 END AS BIGINT) AS a_sample_rate,
  CAST(CASE WHEN doc_id % 3 = 1 THEN (doc_id % 2 + 2) * 8 END AS BIGINT) AS a_bits,
  CAST(CASE WHEN doc_id % 3 = 1 THEN octet_length(encode(text)) * 1000 //
    ((doc_id % 4 + 1) * 8000 * ((doc_id % 2 + 1) * (doc_id % 2 + 2))) END AS BIGINT)
    AS a_duration_ms
FROM documents""") { (s, d) =>
      val withBin = Tables.documents(s, d)
        .withColumn("bin", Multimodal.fakeAv(col("text"), col("doc_id")))
      val v = Multimodal.mp4Meta(col("bin"))
      val a = Multimodal.wavMeta(col("bin"))
      withBin.select(col("doc_id"),
        when(v.isNotNull, lit("mp4")).when(a.isNotNull, lit("wav"))
          .otherwise(lit("unknown")).as("container"),
        v.getField("width").as("v_width"),
        v.getField("height").as("v_height"),
        v.getField("duration_ms").as("v_duration_ms"),
        v.getField("n_tracks").as("n_tracks"),
        a.getField("channels").as("a_channels"),
        a.getField("sample_rate").as("a_sample_rate"),
        a.getField("bits").as("a_bits"),
        a.getField("duration_ms").as("a_duration_ms"))
    },

    // Audio PCM SAMPLE decode, real and byte-exact end to end — the
    // audio sibling of mm_resize's pixel path: WavPcmStats walks the
    // RIFF chunks, locates the data chunk, and decodes every complete
    // frame's little-endian signed samples (16- and 24-bit here; the
    // expression also handles 8/32), folding them to per-channel EXACT
    // integer sums and absolute peaks — deliberately integer-only, so
    // no float accumulation order can diverge between engines. The
    // oracle re-decodes the SAME bytes in SQL: hex-string byte
    // arithmetic over the payload (the data chunk is the document
    // text's UTF-8 bytes by construction), one row per (doc, channel),
    // sign-corrected per width. A stub that only read the header
    // cannot produce these sums.
    Q("mm_wav_pcm", {
      def byteAt(pos: String) = OracleSqlGen.hexAt("hx", pos, 2)
      val off = "((i * ch + channel) * bp)"
      val b0 = byteAt(s"$off*2+1")
      val b1 = byteAt(s"$off*2+3")
      val b2 = byteAt(s"$off*2+5")
      val vu = s"(CASE WHEN bp = 2 THEN $b0 + 256*$b1 " +
        s"ELSE $b0 + 256*$b1 + 65536*$b2 END)"
      val v = s"(CASE WHEN bp = 2 AND $vu >= 32768 THEN $vu - 65536 " +
        s"WHEN bp = 3 AND $vu >= 8388608 THEN $vu - 16777216 ELSE $vu END)"
      s"""WITH w AS (
  SELECT doc_id, lower(hex(encode(text))) AS hx,
         doc_id % 2 + 1 AS ch, doc_id % 2 + 2 AS bp,
         octet_length(encode(text)) AS nb
  FROM documents WHERE doc_id % 3 = 1),
f AS (SELECT *, nb // (ch * bp) AS n_frames FROM w),
c AS (SELECT f.*, g.c AS channel FROM f, generate_series(0, 1) g(c) WHERE g.c < ch),
i0 AS (SELECT c.*, unnest(generate_series(0, n_frames - 1)) AS i FROM c),
s AS (SELECT doc_id, channel, n_frames, $v AS v FROM i0)
SELECT doc_id, CAST(channel AS BIGINT) AS channel,
  CAST(n_frames AS BIGINT) AS n_frames,
  CAST(sum(v) AS BIGINT) AS sum_raw,
  CAST(max(abs(v)) AS BIGINT) AS peak_raw
FROM s GROUP BY doc_id, channel, n_frames"""
    }) { (s, d) =>
      Tables.documents(s, d)
        .withColumn("bin", Multimodal.fakeAv(col("text"), col("doc_id")))
        .select(col("doc_id"), explode(Multimodal.wavPcmStats(col("bin"))).as("c"))
        .select(col("doc_id"),
          col("c.channel").as("channel"),
          col("c.n_frames").as("n_frames"),
          col("c.sum_raw").as("sum_raw"),
          col("c.peak_raw").as("peak_raw"))
    },

    // Multimodal PIXEL decode, real codec end to end: solid-color PNGs
    // are ENCODED per row with the JDK's ImageIO (executor-side — the
    // fixture generation is itself distributed, no driver loop), then
    // DECODED back and downsampled to fit a 16px box by
    // DecodeResizeStats. The channel means are computed over the
    // RESIZED pixels, so they prove real decoded pixel data flowed
    // through the resample — a byte-crop stub cannot produce them. The
    // oracle re-derives everything from the constructor formulas: PNG
    // is lossless and the fixtures are solid-color, so the means equal
    // the constructor color under ANY resampling kernel, and the fit
    // arithmetic is integer division both engines share.
    Q("mm_resize",
      """WITH m AS (SELECT doc_id, doc_id % 64 + 1 AS w, doc_id % 48 + 1 AS h
  FROM documents WHERE doc_id < 200)
SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
  CAST(CASE WHEN greatest(w, h) <= 16 THEN w
       ELSE greatest(1, w * 16 // greatest(w, h)) END AS BIGINT) AS out_w,
  CAST(CASE WHEN greatest(w, h) <= 16 THEN h
       ELSE greatest(1, h * 16 // greatest(w, h)) END AS BIGINT) AS out_h,
  CAST((doc_id * 3) % 256 AS BIGINT) AS avg_r,
  CAST((doc_id * 5) % 256 AS BIGINT) AS avg_g,
  CAST((doc_id * 7) % 256 AS BIGINT) AS avg_b
FROM m""") { (s, d) =>
      import s.implicits._
      val pngs = Tables.documents(s, d).filter(col("doc_id") < 200)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (id, graft.functions.ImageOps.solidPng((id % 64 + 1).toInt,
            (id % 48 + 1).toInt, ((id * 3) % 256).toInt,
            ((id * 5) % 256).toInt, ((id * 7) % 256).toInt))
        }).toDF("doc_id", "img")
      val st = Multimodal.decodeResize(col("img"), 16)
      pngs.select(col("doc_id"), st.getField("width").as("width"),
        st.getField("height").as("height"), st.getField("out_w").as("out_w"),
        st.getField("out_h").as("out_h"), st.getField("avg_r").as("avg_r"),
        st.getField("avg_g").as("avg_g"), st.getField("avg_b").as("avg_b"))
    },

    // Multi-table sign-LSH ANN top-k with a 100-candidate-per-query
    // rescore cap (ranked by cross-table collision count). The planes
    // are inlined into the oracle, which recomputes buckets, the
    // collision-counted candidate join, the cap window and the exact
    // rescore itself. numPlanes is pinned (not the auto log2(N) default)
    // so the oracle's plane literal is valid at any SF.
    Q("s_ann_topk",
      s"WITH ${annScoredCtes(annPlanes, annTables, annCap, annBucketCap)} ${topKSql(5)}") { (s, d) =>
      // r19: the exact-rescored candidate set is the SAME frame
      // s_ann_recall's report truncates (identical annScored plan) —
      // share that memo instead of rebuilding the collision self-join +
      // rescore chain per invocation (annScored references its pair set
      // twice via the symmetric union, so the un-truncated shape also
      // executed the collision join twice per action). The top-k window
      // is the only per-rep work left.
      val scored = graft.ops.CacheOnce.swapTruncated("ann-scored",
        Similarity.annScored(Tables.embeddings(s, d), "vec_id", "embedding",
          numPlanes = Some(annPlanes), numTables = annTables,
          bucketCap = Some(annBucketCap), candidateCap = Some(annCap)))
      Similarity.topKWindow(scored, 5)
    },

    // Incremental embedding-cosine near-dup against persisted sign-LSH
    // bucket state — the incremental family's EMBEDDING member (exact
    // digests, MinHash bands, SimHash Manku keys, cosine buckets: every
    // modality now probes persisted state O(increment)). State = (vec_id,
    // tb_key) bucketed on the packed (table << 32 | bucket) probe key;
    // the increment buckets only itself, probes exchange-free (REQUIREd),
    // exact cosine verifies collisions with state vectors re-read only
    // for collided ids. Derived verdict-path cap, recomputed in the
    // oracle from the bucket rows exactly as the state prep persists it.
    Q("dd_incremental_cosine",
      s"""WITH anv AS (SELECT * FROM (SELECT vec_id, embedding, ${OracleSqlGen.norm("embedding", 64)} AS nrm
  FROM embeddings WHERE vec_id % 3 != 2) WHERE nrm > 0),
bnv AS (SELECT * FROM (SELECT vec_id, embedding, ${OracleSqlGen.norm("embedding", 64)} AS nrm
  FROM embeddings WHERE vec_id % 3 = 2) WHERE nrm > 0),
pl AS (SELECT ${OracleSqlGen.tablesLit(8, 4, 64, 42L)} AS tabs),
${cosineSideBucketCtes("a", "anv", 8, 4, 64)},
${cosineSideBucketCtes("b", "bnv", 8, 4, 64)},
cbkksz AS (SELECT count(*) AS c FROM abk GROUP BY tb_key),
${tailCapHistCte("cbk")},
ccapv AS (SELECT ${tailCapExpr("cbk", "16")} AS c),
abkc AS (SELECT vec_id, tb_key FROM (
  SELECT *, count(*) OVER (PARTITION BY tb_key) AS bsz FROM abk)
  WHERE bsz <= (SELECT c FROM ccapv)),
cd AS (SELECT DISTINCT l.vec_id AS id1, r.vec_id AS id2
  FROM abkc l JOIN bbk r ON l.tb_key = r.tb_key),
vf AS (SELECT c.id1, c.id2,
  round(${OracleSqlGen.dot("a.embedding", "b.embedding", 64)} / (a.nrm * b.nrm), 4) AS cosine
  FROM cd c JOIN anv a ON a.vec_id = c.id1 JOIN bnv b ON b.vec_id = c.id2
  WHERE round(${OracleSqlGen.dot("a.embedding", "b.embedding", 64)} / (a.nrm * b.nrm), 4) >= 0.3),
best AS (SELECT id2, id1, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY id2 ORDER BY cosine DESC, id1) AS rn
  FROM vf) WHERE rn = 1)
SELECT i.vec_id, best.id1 IS NULL AS accepted,
  best.id1 AS best_state_id, best.cosine AS best_cosine
FROM (SELECT vec_id FROM embeddings WHERE vec_id % 3 = 2) i
LEFT JOIN best ON best.id2 = i.vec_id""", CosineState) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Dedup.incrementalCosineNearDups(
        emb.filter(col("vec_id") % 3 === 2),
        emb.filter(col("vec_id") % 3 =!= 2),
        StateProbe.Persisted(s, d, CosineState, "cosine LSH state"),
        "vec_id", "embedding", threshold = 0.3,
        bucketCap = Some(CosineState.stat(s, d).toInt))
    },

    // The cosine family's streamed front gate — completes the probe
    // symmetry (MinHash, SimHash, ER keys, cosine buckets all have
    // one). Arriving vectors bucket per row (the embedding rides
    // THROUGH the key explosion — no self-join back to the stream),
    // probe the bucketed state stream-static under the budget cap, and
    // verify cosine in-stream against the static state vectors: like
    // the SimHash gate, no batch verify tail. Cap-aware oracle.
    Q("st_cosine_probe",
      s"""WITH anv AS (SELECT * FROM (SELECT vec_id, embedding, ${OracleSqlGen.norm("embedding", 64)} AS nrm
  FROM embeddings WHERE vec_id % 3 != 2) WHERE nrm > 0),
bnv AS (SELECT * FROM (SELECT vec_id, embedding, ${OracleSqlGen.norm("embedding", 64)} AS nrm
  FROM embeddings WHERE vec_id % 3 = 2) WHERE nrm > 0),
pl AS (SELECT ${OracleSqlGen.tablesLit(8, 4, 64, 42L)} AS tabs),
${cosineSideBucketCtes("a", "anv", 8, 4, 64)},
${cosineSideBucketCtes("b", "bnv", 8, 4, 64)},
cbkksz AS (SELECT count(*) AS c FROM abk GROUP BY tb_key),
${tailCapHistCte("cbk")},
ccapv AS (SELECT ${tailCapExpr("cbk", lshBandBucketCap.toString)} AS c),
abkc AS (SELECT vec_id, tb_key FROM (
  SELECT *, count(*) OVER (PARTITION BY tb_key) AS bsz FROM abk)
  WHERE bsz <= (SELECT c FROM ccapv))
SELECT DISTINCT l.vec_id AS state_id, r.vec_id AS inc_id,
  round(${OracleSqlGen.dot("a.embedding", "b.embedding", 64)} / (a.nrm * b.nrm), 4) AS cosine
FROM abkc l JOIN bbk r ON l.tb_key = r.tb_key
JOIN anv a ON a.vec_id = l.vec_id JOIN bnv b ON b.vec_id = r.vec_id
WHERE round(${OracleSqlGen.dot("a.embedding", "b.embedding", 64)} / (a.nrm * b.nrm), 4) >= 0.3""",
      CosineState) { (s, d) =>
      graft.streaming.CosineProbe.verifiedOnce(s, d, CosineState.name(d),
        Tables.embeddings(s, d).filter(col("vec_id") % 3 =!= 2),
        threshold = 0.3, bucketCap = Some(CosineState.stat(s, d).toInt))
    },

    // Embedding cosine near-dup pairs via multi-table LSH (8 planes x 4
    // tables, inlined into the oracle), exact cosine >= 0.3 verification.
    Q("dd_cosine_neardups",
      s"""WITH ${OracleSqlGen.nvCte(64)},
${OracleSqlGen.lshBucketCtes(8, 4, 64, 42L)},
cd AS (SELECT DISTINCT l.vec_id AS id1, r.vec_id AS id2
  FROM bk l JOIN bk r ON l.t = r.t AND l.bucket = r.bucket AND l.vec_id < r.vec_id)
SELECT c.id1, c.id2,
  round(${OracleSqlGen.dot("a.embedding", "b.embedding", 64)} / (a.nrm * b.nrm), 4) AS cosine
FROM cd c JOIN nv a ON a.vec_id = c.id1 JOIN nv b ON b.vec_id = c.id2
WHERE round(${OracleSqlGen.dot("a.embedding", "b.embedding", 64)} / (a.nrm * b.nrm), 4) >= 0.3""") { (s, d) =>
      Dedup.cosineNearDups(Tables.embeddings(s, d), "vec_id", "embedding",
        threshold = 0.3)
    },

    // ANN quality report: recall of the capped LSH path vs the exact
    // top-5 over the vec_id < 200 sample, PLUS the rescored-pair volume
    // (n_cand, candidate_frac) — the cost axis. On these clusterless
    // near-random embeddings recall at a 5% rescore budget is
    // data-limited (see SCALE.md's measured Pareto); on clustered
    // corpora the same machinery reaches recall >= 0.6 under 5%
    // (spec-proven in AnnScaleSpec).
    Q("s_ann_recall",
      s"WITH ${annScoredCtes(annPlanes, annTables, annCap, annBucketCap)}$recallReportSql") { (s, d) =>
      recallReport(s, d)(
        Similarity.annScored(Tables.embeddings(s, d), "vec_id", "embedding",
          numPlanes = Some(annPlanes), numTables = annTables,
          bucketCap = Some(annBucketCap), candidateCap = Some(annCap)))
    },

    // IVF ANN top-k (deterministic smallest-id centroids; the oracle
    // recomputes assignment, probing and rescoring windows itself).
    // Every corpus row is a query here, so a FIXED nlist would make the
    // probe volume quadratic in N (r9 sweep: 7.8x time at 10x data from
    // ~100x candidate growth); nlist = ceil(2*sqrt(N)) bounds it at
    // ~nprobe/2 * N^1.5, and the oracle derives the same count from the
    // corpus itself via the LIMIT subquery.
    Q("s_ivf_topk",
      s"WITH ${OracleSqlGen.nvCte(64)},\n${ivfScoredCtesSql(
        "(SELECT CAST(ceil(2*sqrt(count(*))) AS INT) FROM nv)", 8, 64)}\n${topKSql(5)}") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(emb, "vec_id", "embedding", 5,
        numCells = Similarity.autoNumCells(emb, "embedding"))
    },

    // IVF quality report vs exact top-5 over the 200-query sample — the
    // IVF twin of s_ann_recall, same report columns.
    Q("s_ivf_recall",
      s"WITH ${OracleSqlGen.nvCte(64)},\n${ivfScoredCtes(64, 8, 64, " WHERE vec_id < 200")}$recallReportSql") { (s, d) =>
      recallReport(s, d)(
        Similarity.ivfScored(Tables.embeddings(s, d), "vec_id", "embedding",
          queryPred = Some(col("vec_id") < 200)))
    },

    // Embedding generation -> similarity, end to end: hashed
    // bag-of-words embeddings (feature hashing, vocabulary-free) fed
    // into IVF top-k search, md5-bucketed so DuckDB
    // rebuilds the embeddings AND the IVF search. Top-k, not a
    // threshold: template-generated corpora put most pairs above any
    // fixed cosine cutoff, so a threshold query degenerates
    // quadratically while top-k stays bounded at k rows per query.
    Q("s_bow_ivf_topk",
      s"WITH ${bowNvCte(32)},\n${ivfScoredCtes(32, 4, 32, " WHERE vec_id < 200")}\n${topKSql(3)}") { (s, d) =>
      // ivfScored references its input several times (centroids,
      // assignment, probes, rescoring). Deliberately NOT persisted:
      // columnar-caching the array<float> column costs ~25x one warm
      // recompute of the aggregation (nested-type ColumnVector
      // serialization), so recomputation wins at this shape. At cluster
      // scale the seam is a parquet checkpoint of the feature table,
      // not executor cache.
      val emb = graft.text.CorpusStats.hashedBowEmbedding(
        Tables.documents(s, d), "doc_id", "text", dim = 32)
      // Feature hashing is per-document, so centroid embeddings can be
      // computed from a pushed-down filtered scan of just those docs.
      val cents = graft.text.CorpusStats.hashedBowEmbedding(
        Tables.documents(s, d).filter(col("doc_id") < 32), "doc_id", "text",
        dim = 32)
      Similarity.ivfTopK(emb, "doc_id", "embedding", 3,
        numCells = 32, nprobe = 4, queryPred = Some(col("doc_id") < 200),
        centroids = Some(cents))
    },

    // Incremental centroid assignment against persisted k-means state —
    // the embedding-side analog of dd_incremental_neardup: centroids
    // train ONCE on the day-1 vectors and persist (k rows,
    // fingerprint-marked so a source regen retrains); each increment is
    // assigned by one broadcast-centroid pass — O(increment * k) narrow
    // work, no retraining, no shuffle beyond the argmax window keyed by
    // vec_id. The oracle re-derives the same training trajectory and
    // assigns only the increment.
    Q("s_incremental_assign", kmeansAssignOracleSql(8, 2, 64), CentroidState) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val cents = CentroidState.read(s, d)
      val cn = cents.select(col("vec_id").as("cell"),
        col("embedding").as("cv"),
        Similarity.l2norm(col("embedding")).as("_cn"))
      val vecs = Tables.embeddings(s, d).filter(col("vec_id") % 3 === 2)
        .select(col("vec_id"), col("embedding"),
          Similarity.l2norm(col("embedding")).as("_n"))
        .filter(col("_n") > 0)
      val sims = vecs.crossJoin(broadcast(cn))
        .select(col("vec_id"), col("cell"),
          (Similarity.dot(col("embedding"), col("cv")) /
            (col("_n") * col("_cn"))).as("sim"))
      val w = Window.partitionBy(col("vec_id")).orderBy(desc("sim"), col("cell"))
      sims.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("vec_id"), col("cell"), round(col("sim"), 4).as("sim"))
    },

    // Embedding-drift report against the SAME persisted centroid state:
    // the data-quality monitor a training pipeline runs before
    // accepting a crawl increment. Both the accepted corpus and the
    // increment assign to the persisted cells (broadcast centroids, one
    // narrow pass per side — the corpus is never re-clustered), then
    // per cell: member counts, the increment's share shift vs the
    // accepted distribution, and mean cosine-to-centroid (cohesion) per
    // side. A cell whose share_drift spikes or whose cohesion_new sags
    // is where the new crawl differs from the corpus the centroids
    // were trained on. Cells empty on one side survive via the full
    // outer join (count 0, cohesion null).
    Q("s_embedding_drift", embeddingDriftOracleSql(8, 2, 64), CentroidState) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val cents = CentroidState.read(s, d)
      val cn = cents.select(col("vec_id").as("cell"),
        col("embedding").as("cv"),
        Similarity.l2norm(col("embedding")).as("_cn"))
      def cellStats(vecs: org.apache.spark.sql.DataFrame, n: String, coh: String) = {
        val v = vecs.select(col("vec_id"), col("embedding"),
            Similarity.l2norm(col("embedding")).as("_n"))
          .filter(col("_n") > 0)
        val sims = v.crossJoin(broadcast(cn))
          .select(col("vec_id"), col("cell"),
            (Similarity.dot(col("embedding"), col("cv")) /
              (col("_n") * col("_cn"))).as("sim"))
        val w = Window.partitionBy(col("vec_id")).orderBy(desc("sim"), col("cell"))
        sims.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
          .groupBy("cell")
          .agg(count(lit(1)).as(n), round(avg(col("sim")), 4).as(coh))
      }
      val emb = Tables.embeddings(s, d)
      val joined = cellStats(emb.filter(col("vec_id") % 3 =!= 2), "n_old", "cohesion_old")
        .join(cellStats(emb.filter(col("vec_id") % 3 === 2), "n_new", "cohesion_new"),
          Seq("cell"), "full_outer")
        .select(col("cell").cast("long").as("cell"),
          coalesce(col("n_old"), lit(0L)).as("n_old"),
          coalesce(col("n_new"), lit(0L)).as("n_new"),
          col("cohesion_old"), col("cohesion_new"))
      val tot = joined.agg(sum(col("n_old")).as("_to"), sum(col("n_new")).as("_tn"))
      joined.crossJoin(broadcast(tot))
        .select(col("cell"), col("n_old"), col("n_new"),
          (round(col("n_new") / col("_tn") - col("n_old") / col("_to"), 4) + lit(0.0))
            .as("share_drift"),
          col("cohesion_old"), col("cohesion_new"))
    },

    // Spherical k-means IVF-centroid training, oracle-checked end to
    // end: 2 training rounds (init = 8 smallest-id vectors, means on
    // the round(_, 6) stabilization grid, empty cells keep their
    // centroid) then a cosine assignment pass -> per-cell membership
    // counts and centroid norms. The oracle unrolls both training
    // rounds stage by stage.
    Q("s_kmeans_cells", kmeansCellsOracleSql(8, 2, 64)) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, d)
      val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
        k = 8, iters = 2, dim = 64, roundMeans = Some(6))
      val vecs = emb.select(col("vec_id"), col("embedding"),
        Similarity.l2norm(col("embedding")).as("_n")).filter(col("_n") > 0)
      val cn = cents.select(col("vec_id").as("cell"), col("embedding").as("cv"),
        Similarity.l2norm(col("embedding")).as("_cn"))
      val sims = vecs.crossJoin(broadcast(cn))
        .select(col("vec_id"), col("cell"),
          (Similarity.dot(col("embedding"), col("cv")) / (col("_n") * col("_cn"))).as("sim"))
      val w = Window.partitionBy(col("vec_id")).orderBy(desc("sim"), col("cell"))
      val fa = sims.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      cn.select(col("cell"), col("_cn"))
        .join(fa.groupBy("cell").agg(count(lit(1)).as("_nm")), Seq("cell"), "left")
        .select(col("cell"), coalesce(col("_nm"), lit(0L)).as("n_members"),
          round(col("_cn"), 4).as("centroid_norm"))
    },

    // Cross-corpus contamination detection (decontamination): near-dup
    // pairs BETWEEN a training split and a test split — the bucket join
    // runs across the two corpora, never |train| x |test|. md5 twin, so
    // the oracle recomputes both sides' signatures and the cross join.
    Q("dd_contamination", contaminationSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.crossCorpusNearDupsMd5(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", numHashes = 32, rowsPerBand = 4,
        shingleN = 2, threshold = 0.5)
    },

    // Incremental decontamination against the PERSISTED test-suite
    // shingle index — the operational member of the contamination
    // family: the eval suite is fixed and small, crawl increments
    // arrive daily, and re-sharding the suite (or rebuilding its
    // bloom) per increment is wasted work. The suite's shingles persist
    // once bucketed on the probe key; each increment explodes only
    // itself and probes exchange-free (REQUIREd); a derived test-side
    // doc-frequency cap drops non-discriminative boilerplate shingles.
    // One verdict row per increment doc with a deterministic best
    // witness, so the oracle reproduces the whole pass.
    Q("dd_incremental_contamination",
      s"""WITH te AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 6 = 2),
tetk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM te),
tesh AS (SELECT DISTINCT doc_id AS test_id, shingle FROM (
  SELECT doc_id, unnest(CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
    ELSE $triShingleSql END) AS shingle FROM tetk) WHERE shingle IS NOT NULL),
intk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM inc),
insh AS (SELECT DISTINCT doc_id AS inc_id, shingle FROM (
  SELECT doc_id, unnest(CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
    ELSE $triShingleSql END) AS shingle FROM intk) WHERE shingle IS NOT NULL),
dfv AS (SELECT greatest(8, 4 * count(*) //
  greatest((SELECT count(DISTINCT shingle) FROM tesh), 1)) AS c FROM tesh),
teshc AS (SELECT test_id, shingle FROM (
  SELECT *, count(*) OVER (PARTITION BY shingle) AS df FROM tesh)
  WHERE df <= (SELECT c FROM dfv)),
pairs AS (SELECT i.inc_id, t.test_id, CAST(count(*) AS BIGINT) AS n_shared
  FROM insh i JOIN teshc t USING (shingle) GROUP BY 1, 2 HAVING count(*) >= 3),
best AS (SELECT inc_id, test_id, n_shared FROM (
  SELECT *, row_number() OVER (PARTITION BY inc_id ORDER BY n_shared DESC, test_id) AS rn
  FROM pairs) WHERE rn = 1)
SELECT i.doc_id, best.test_id IS NOT NULL AS contaminated,
  best.test_id AS best_test_id, best.n_shared
FROM inc i LEFT JOIN best ON best.inc_id = i.doc_id""", ContamState, ContamBloom) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.incrementalContamination(
        docs.filter(col("doc_id") % 6 === 2), contamProbeState(s, d),
        "doc_id", "text", shingleN = 3, minShared = 3,
        cap = contamCap(s, d), bloom = Some(contamStateBloom(s, d)))
    },

    // Index-quality audit for the contamination family — dd_band_audit's
    // treatment applied to the test-suite shingle index: row/shingle
    // counts, the doc-frequency distribution's head (max df), how many
    // index rows the derived cap actually drops (the boilerplate mass),
    // and the derived cap itself — the audit's own numbers ARE the cap
    // choice, closing the tune-the-cap loop for this family too.
    // Driver-bounded: one row.
    Q("dd_contam_audit",
      s"""WITH te AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
tetk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM te),
tesh AS (SELECT DISTINCT doc_id AS test_id, shingle FROM (
  SELECT doc_id, unnest(CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
    ELSE $triShingleSql END) AS shingle FROM tetk) WHERE shingle IS NOT NULL),
df AS (SELECT shingle, CAST(count(*) AS BIGINT) AS c FROM tesh GROUP BY 1),
capv AS (SELECT greatest(8, 4 * coalesce(sum(c), 0) // greatest(count(*), 1)) AS cap FROM df)
SELECT CAST(sum(c) AS BIGINT) AS n_rows, CAST(count(*) AS BIGINT) AS n_shingles,
  CAST(max(c) AS BIGINT) AS max_df,
  CAST(sum(CASE WHEN c > (SELECT cap FROM capv) THEN c ELSE 0 END) AS BIGINT) AS n_hot_rows,
  CAST((SELECT cap FROM capv) AS BIGINT) AS derived_cap
FROM df""", ContamState) { (s, d) =>
      val df = ContamState.table(s, d)
        .groupBy(col("shingle")).agg(count(lit(1)).as("c"))
      val cap = ContamState.stat(s, d)
      df.agg(sum(col("c")).as("n_rows"), count(lit(1)).as("n_shingles"),
        max(col("c")).as("max_df"),
        sum(when(col("c") > cap, col("c")).otherwise(lit(0L))).as("n_hot_rows"),
        lit(cap).as("derived_cap"))
    },

    // Density-capped contamination: top-3 witnesses per test doc. The
    // full dd_contamination report is per-pair and rides dup density
    // (the r8 scale sweep measured it growing faster than its output);
    // decontamination only needs a few witnesses to drop a test doc, so
    // this variant bounds output by 3 * |test| at ANY density — the
    // 100 TB-safe shape. Same banded-LSH candidates; the cap is a
    // test_id-keyed window, deterministic, so the oracle reproduces it.
    Q("dd_contamination_topk", contaminationTopKSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.crossCorpusNearDupsTopK(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", numHashes = 32, rowsPerBand = 4,
        shingleN = 2, threshold = 0.5, k = 3)
    },

    // Substring-level contamination: test docs sharing >= 3 winnowing
    // fingerprints (verbatim substrings >= 12 chars) with a training
    // doc — catches short quoted passages shingle-Jaccard dilutes away.
    // The per-side doc-frequency cap drops boilerplate fingerprints so
    // the join stays linear in true leakage, not (df_train x df_test).
    Q("dd_fingerprint_overlap", fingerprintOverlapSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      // Density-derived cap (see fpOverlapCapSql) rides IN-PLAN as a
      // 1-row broadcast — same ceil arithmetic as the oracle, Long end
      // to end, and no separate train.count() action per run.
      graft.text.CorpusStats.fingerprintOverlap(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", n = 5, w = 8, minShared = 3,
        derivedDocFreqCap = Some((20, 0.08)))
    },

    // Witness-capped fingerprint decontam: top-3 training witnesses per
    // test doc. The per-pair dd_fingerprint_overlap report is the audit
    // artifact; at web-crawl dup density it rides the pair count (72M
    // rows at the 10x fixture), while this is bounded 3 * |test| at any
    // density — the default operational decontam path, mirroring
    // dd_contamination_topk.
    Q("dd_fingerprint_overlap_topk", fingerprintOverlapTopKSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.text.CorpusStats.fingerprintOverlapTopK(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", n = 5, w = 8, minShared = 3, k = 3,
        derivedDocFreqCap = Some((20, 0.08)))
    },

    // The contamination family's PRE-DEDUP bounded member, r18 shape:
    // the GATE rides the train-fingerprint EXISTENCE index (a test doc
    // is flagged on >= 3 distinct shared fingerprints with the df-capped
    // train fingerprint set — no witness budget in the decision path,
    // so a truly contaminated test doc can never be missed; the r17
    // witness-gated cut missed ~6% whose every shared fingerprint
    // elected other train docs into the first-16), and the fpOccCap
    // witness budget applies only to ENUMERATING the report's train
    // witnesses (occCap · te_occ join rows per fingerprint, LINEAR in
    // corpus at any duplication density — the exact members' join term
    // is Θ(Σ tr_occ × te_occ): measured 900× output growth on the 30×
    // K-copy fixture). A flagged doc with no surviving witness reports
    // NULL witness columns. The exact members keep their documented
    // post-dedup placement; THIS is what a raw crawl can run. Gate and
    // budget are both part of the semantics — the oracle applies them
    // identically — and dd_occcap_recall_audit records gate recall 1.0
    // plus the witness budget's pair-recall cost.
    Q("dd_fingerprint_overlap_capped", fingerprintOverlapCappedSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.text.CorpusStats.fingerprintOverlapOccCapped(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", n = 5, w = 8, minShared = 3, occCap = fpOccCap,
        derivedDocFreqCap = Some((20, 0.08)))
    },

    // Recall accountability for the gate + witness budget above —
    // dd_cap_recall_audit's treatment applied to the contamination
    // family: one row recording true pairs, capped witness pairs and
    // their pair recall (the witness budget's cost — may stay low by
    // design at mass-dup density), plus the decontamination-operative
    // TEST-DOC recall of the existence GATE against the exact member's
    // flagged set — via a real intersection, because the gate
    // over-approximates pairs (flagged is a SUPERSET of true test
    // docs; structurally recall 1.0, and this row is where "structural"
    // becomes a measured number). Runs the exact member once
    // (CacheOnce-shared with dd_fingerprint_overlap), so it is feasible
    // exactly where the exact member is — audit-only, never the
    // production path; at mass-dup density it inherits the exact
    // member's documented skip while dd_fingerprint_overlap_capped
    // itself still completes.
    Q("dd_occcap_recall_audit", occCapRecallAuditSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      val trainDf = docs.filter(col("doc_id") % 2 === 0)
      val testDf = docs.filter(col("doc_id") % 2 === 1)
      val t = graft.text.CorpusStats.fingerprintOverlap(
        trainDf, testDf, "doc_id", "text", n = 5, w = 8, minShared = 3,
        derivedDocFreqCap = Some((20, 0.08)))
      val c = graft.text.CorpusStats.fingerprintOverlapOccCapped(
        trainDf, testDf, "doc_id", "text", n = 5, w = 8, minShared = 3,
        occCap = fpOccCap, derivedDocFreqCap = Some((20, 0.08)))
      val flagged = c.select(col("test_id")).distinct()
      val ta = t.agg(count(lit(1)).as("n_pairs_true"),
        countDistinct(col("test_id")).as("n_test_true"))
      val ca = c.filter(col("train_id").isNotNull)
        .agg(count(lit(1)).as("n_pairs_capped"))
      val fa = flagged.agg(count(lit(1)).as("n_test_flagged"))
      val ia = t.select(col("test_id")).distinct()
        .join(flagged, Seq("test_id"), "left_semi")
        .agg(count(lit(1)).as("n_test_hit"))
      ta.crossJoin(ca).crossJoin(fa).crossJoin(ia).select(
        col("n_pairs_true"), col("n_pairs_capped"),
        when(col("n_pairs_true") === 0, lit(1.0)).otherwise(
          round(col("n_pairs_capped").cast("double") / col("n_pairs_true"), 4))
          .as("pair_recall"),
        col("n_test_true"), col("n_test_flagged"),
        when(col("n_test_true") === 0, lit(1.0)).otherwise(
          round(col("n_test_hit").cast("double") / col("n_test_true"), 4))
          .as("test_recall"))
    },

    // Stratified EXACT-k sampling: the deterministic per-language eval
    // probe — k rows per stratum by hash order (hash-fraction sampling
    // only hits quotas in expectation). Window keyed by stratum.
    Q("t_stratified_k",
      "SELECT lang, doc_id, CAST(rk AS BIGINT) AS sample_rank FROM (" +
        "SELECT lang, doc_id, row_number() OVER (PARTITION BY lang " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id) AS rk " +
        "FROM documents) WHERE rk <= 3") { (s, d) =>
      graft.text.Mixing.stratifiedK(
        Tables.documents(s, d).select("lang", "doc_id"), "lang", "doc_id",
        k = 3, rankCol = Some("sample_rank"))
        .withColumn("sample_rank", col("sample_rank").cast("long"))
        .select("lang", "doc_id", "sample_rank")
    },

    // Per-source quality calibration: percent_rank of the quality score
    // within each source — "top X% of every source" gating instead of
    // one global threshold that over-prunes low-scoring sources.
    Q("t_quality_calibrated",
      s"SELECT doc_id, source, $qualitySql AS quality, " +
        "round(percent_rank() OVER (PARTITION BY source " +
        s"ORDER BY $qualitySql, doc_id), 6) AS quality_pctl FROM documents") { (s, d) =>
      graft.text.CorpusPipeline.calibratedQuality(
        Tables.documents(s, d), "doc_id", "text", "source")
    },

    // Incremental exact dedup: the day-2 crawl increment (doc_id % 3 == 2)
    // dedups within itself then anti-joins the day-1 accepted state —
    // O(increment) per day instead of re-deduping the whole corpus. The
    // state is PERSISTED BUCKETED by digest (the operational layout:
    // written once per day, anti-joined forever), and the query REQUIREs
    // the exchange-free plan that layout buys: the only shuffle is the
    // increment's own in-batch aggregate, whose hash partitioning the
    // anti-join then reuses against the bucketed state scan — the state
    // side never re-shuffles, at any corpus size. A layout regression
    // fails the query itself, sc1-style.
    Q("dd_incremental",
      """WITH d1 AS (SELECT md5(text) AS content_hash FROM documents WHERE doc_id % 3 != 2),
d2 AS (SELECT doc_id, md5(text) AS content_hash FROM documents WHERE doc_id % 3 = 2),
w AS (SELECT content_hash, min(doc_id) AS doc_id FROM d2 GROUP BY 1)
SELECT doc_id, content_hash FROM w
WHERE NOT EXISTS (SELECT 1 FROM d1 WHERE d1.content_hash = w.content_hash)""", DedupState) { (s, d) =>
      // Cloned session: broadcast + AQE off only HERE so the static
      // plan check is deterministic (a broadcast anti-join would also
      // be shuffle-free but would not exercise the bucketed layout).
      val ss = s.newSession()
      ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      ss.conf.set("spark.sql.adaptive.enabled", "false")
      // The declared state is built before the body (one catalog lookup
      // when fresh); its derived bucket count is published with it.
      val buckets = DedupState.buckets(ss, d)
      // Pin shuffle partitions to the state's DERIVED bucket count so
      // the increment aggregate's hash partitioning aligns with the
      // bucketing 1:1 — otherwise EnsureRequirements adds a second
      // exchange to line the two sides up, and the single-exchange
      // claim is the one worth REQUIREing.
      ss.conf.set("spark.sql.shuffle.partitions", buckets.toString)
      val docs = Tables.documents(ss, d)
      val out = Dedup.incrementalDedup(
        docs.filter(col("doc_id") % 3 === 2), DedupState.table(ss, d),
        "doc_id", "text")
      val plan = out.queryExecution.executedPlan
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }
      require(exchanges.size == 1,
        s"incremental dedup planned ${exchanges.size} exchanges — must be exactly " +
          "the increment's in-batch aggregate (the state side rides its bucketing)")
      def bucketedScans(p: org.apache.spark.sql.execution.SparkPlan) = p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.bucketSpec.isDefined && f.bucketedScan => f
      }
      require(bucketedScans(plan).nonEmpty,
        "state digests did not plan a bucketed scan — the persisted layout regressed")
      require(exchanges.forall(e => bucketedScans(e).isEmpty),
        "the bucketed state scan sits under an Exchange — the anti-join re-shuffled " +
          "the state side despite its bucketing")
      out
    },

    // TWO consecutive increments composed through the EVOLVING digest
    // state — the temporal claim every single-step incremental query
    // only argues: day-1 acceptances become day-2 state (state' =
    // state ∪ accepted₁), and the chained result must equal the
    // sequential replay the oracle computes from scratch. A day-2 doc
    // duplicating a doc ACCEPTED on day 1 (not just one in the original
    // state) is rejected — the failure mode a stale-state bug would
    // produce is pinned by hash. In-plan state derivation (the layout
    // story — bucketed probe, exchange counts — is dd_incremental's;
    // this query pins COMPOSITION).
    Q("dd_incremental_chain",
      """WITH d0 AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 3 = 0),
i1 AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 3 = 1),
w1 AS (SELECT min(doc_id) AS doc_id, h FROM i1 GROUP BY h),
a1 AS (SELECT doc_id, h FROM w1 WHERE h NOT IN (SELECT h FROM d0)),
s1 AS (SELECT h FROM d0 UNION SELECT h FROM a1),
i2 AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 3 = 2),
w2 AS (SELECT min(doc_id) AS doc_id, h FROM i2 GROUP BY h),
a2 AS (SELECT doc_id, h FROM w2 WHERE h NOT IN (SELECT h FROM s1))
SELECT doc_id, CAST(1 AS BIGINT) AS day, h AS content_hash FROM a1
UNION ALL SELECT doc_id, CAST(2 AS BIGINT), h FROM a2""") { (s, d) =>
      val docs = Tables.documents(s, d)
      val d0 = docs.filter(col("doc_id") % 3 === 0)
        .select(md5(col("text")).as("content_hash")).distinct()
      // day-1 acceptances feed BOTH the output and day 2's state
      val a1 = graft.ops.CacheOnce.swap("incr-chain-a1",
        Dedup.incrementalDedup(docs.filter(col("doc_id") % 3 === 1), d0,
          "doc_id", "text"))
      val s1 = d0.union(a1.select(col("content_hash")))
      val a2 = Dedup.incrementalDedup(docs.filter(col("doc_id") % 3 === 2), s1,
        "doc_id", "text")
      a1.select(col("doc_id"), lit(1L).as("day"), col("content_hash"))
        .unionByName(a2.select(col("doc_id"), lit(2L).as("day"), col("content_hash")))
    },

    // Incremental NEAR-dup dedup against persisted LSH state:
    // dd_incremental's operational shape for near-duplicates. The
    // accepted set's band buckets persist bucketed on band_key (the
    // probe-join key), each increment sketches only itself, probes the
    // state exchange-free, and exact-verifies only the collisions —
    // state shingles recompute only for docs that collided. One verdict
    // row per increment doc with a deterministic best witness, so the
    // oracle reproduces the whole pass.
    Q("dd_incremental_neardup", incrementalNearDupSql, LshState) { (s, d) =>
      // No session-wide broadcast disable: the probe join carries a
      // merge hint inside incrementalNearDups (the bucketed state side
      // stays exchange-free), while the small verify joins are free to
      // broadcast — forcing SMJ everywhere cost ~40% of the query.
      val docs = Tables.documents(s, d)
      // VERDICT path → the DERIVED cap (published at state-build time,
      // read back as the state's graft.stat — see lshBuild's policy
      // note): at driver SFs the floor binds and this IS
      // lshBandBucketCap; at mass-duplication density the cap rides
      // the corpus instead of zeroing the probe and silently marking
      // every increment doc unique.
      //
      // r19 (VERDICT item 1): the probe candidate feed is TRUNCATED
      // inside incrementalNearDups (one entry per input generation), so
      // the probe executes ONCE per session instead of twice per action
      // per rep; StateProbe checks the layout on the probe's own plan
      // BEFORE truncation, where the bucketed scan is still visible.
      // Downstream stages (Jaccard verify, witness window) shuffle
      // legitimately ABOVE the probe join — the claim is only that no
      // exchange sits between the probe join and the bucketed state
      // scan.
      Dedup.incrementalNearDups(
        docs.filter(col("doc_id") % 3 === 2),
        docs.filter(col("doc_id") % 3 =!= 2),
        lshProbeState(s, d),
        "doc_id", "text", numHashes = 32, rowsPerBand = 4,
        shingleN = 2, threshold = 0.5,
        bandBucketCap = Some(LshState.stat(s, d).toInt))
    },

    // Band-bucket blocking audit for the LSH family — er_blocking_audit's
    // treatment applied to the near-dup state: bucket count, the
    // candidate-pair volume an UNCAPPED probe would generate (sum of
    // c·(c−1)/2 — the number every cap exists to bound), the largest
    // bucket (degenerate-band detector), and the DERIVED verdict-path
    // cap the live probe actually applies (greatest(floor, 4 · mean,
    // rank-based p99 of bucket sizes) — the audit's own numbers are the
    // cap choice, closing the tune-the-cap loop for this family too).
    // Driver-bounded: one row.
    Q("dd_band_audit",
      s"""WITH st AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 != 2),
${minhashSideCtes("a", "st")},
bk AS (SELECT band, bh, CAST(count(*) AS BIGINT) AS c FROM abnd GROUP BY 1, 2),
bndksz AS (SELECT c FROM bk),
${tailCapHistCte("bnd")}
SELECT CAST(sum(c) AS BIGINT) AS n_rows, CAST(count(*) AS BIGINT) AS n_buckets,
  CAST(sum(c * (c - 1) // 2) AS BIGINT) AS n_candidate_pairs,
  CAST(max(c) AS BIGINT) AS max_bucket,
  CAST(${tailCapExpr("bnd", lshBandBucketCap.toString)} AS BIGINT) AS derived_cap
FROM bk""", LshState) { (s, d) =>
      LshState.table(s, d)
        .groupBy(col("band_key")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).as("n_rows"), count(lit(1)).as("n_buckets"),
          expr("sum(c * (c - 1) div 2)").as("n_candidate_pairs"),
          max(col("c")).as("max_bucket"),
          // The PERSISTED tail-aware cap — the number every probe path
          // actually applies (lockstep with the twin's recomputation).
          lit(LshState.stat(s, d)).as("derived_cap"))
    },

    // Recall accountability for the BINDING probe cap — since r17 the
    // persisted DERIVED cap (greatest(floor, 4 · mean bucket size)),
    // after this audit measured the old fixed-16 budget at pair recall
    // 0.39 at 30× duplication density and its own reading ("the fixed
    // budget is the wrong default past ~10× density") became the
    // policy: one row per run recording the candidate volume the cap
    // drops AND the measured pair recall of the capped feed against
    // the uncapped truth — capped verified cross pairs / all verified
    // cross pairs. The cap-aware oracle keeps the capped queries
    // correct to their own definition; THIS row is what makes the
    // definition's miss rate a recorded number (1.0 at driver SFs
    // where only the floor binds; the K-copy fixtures are where the
    // derived cap must hold ≥0.95 — SCALE.md carries the per-fixture
    // rows). Verification runs ONCE, on the uncapped feed: the capped
    // candidate set is a subset, so its verified set is vf ∩ capped
    // candidates — a semi-join, not a second Jaccard pass.
    Q("dd_cap_recall_audit", capRecallAuditSql, LshState) { (s, d) =>
      val cap = LshState.stat(s, d).toInt
      val docs = Tables.documents(s, d)
      val inc = docs.filter(col("doc_id") % 3 === 2)
      val stDocs = docs.filter(col("doc_id") % 3 =!= 2)
      val stateBands = LshState.table(s, d)
      // Same CacheOnce keys as the incremental family: the increment
      // sketches once per session no matter which member runs first.
      val incSets = graft.ops.CacheOnce.swap("incr-inc-shingles",
        inc.select(col("doc_id"),
          explode(Dedup.distinctShingles(col("text"), 2)).as("shingle")))
      val incBands = graft.ops.CacheOnce.swap("incr-inc-bands",
        Dedup.bandKeys(incSets, "doc_id", 32, 4))
      // ONE probe join for BOTH feeds (r18: the two-feed shape ran the
      // band probe once per feed and, through the un-materialized
      // aggregate fan-out below, re-executed each feed per consumer —
      // the verify chain twice and the probe ~6x; measured 26-56 s solo
      // at sf0.1): every state row carries its band bucket's size, and
      // a pair is admitted by the capped feed iff ANY of its colliding
      // band buckets is within the cap (min colliding bucket <= cap) —
      // exactly the membership the capped probe join computed. The
      // bucket-size window keys on band_key and rides the state
      // table's bucketing, the family's exchange-free discipline.
      val w = org.apache.spark.sql.expressions.Window.partitionBy("band_key")
      val pairsAnn = stateBands.withColumn("_bsz", count(lit(1)).over(w))
        .hint("merge")
        .select(col("doc_id").as("id1"), col("band_key"), col("_bsz"))
        .join(incBands.select(col("doc_id").as("id2"), col("band_key")),
          Seq("band_key"))
        .groupBy("id1", "id2")
        .agg((min(col("_bsz")) <= cap).as("capped_ok"))
      // Memoized truncation: the annotated pair set feeds the count
      // aggregate, the verify chain's probe-pruned state rescan, and the
      // capped-flag re-join; the memo's LRU releases superseded
      // checkpoints where a bare per-invocation eagerDurable leaked one
      // per rep.
      val cdm = graft.ops.CacheOnce.swapTruncated("cap-audit-pairs", pairsAnn)
      // Cross pairs only, verified ONCE on the uncapped feed (the
      // capped feed is a subset): verifyCrossPairs skips the inc-inc
      // self-verify subtree the old shape computed and filtered away.
      val vfa = Dedup.verifyCrossPairs(cdm.select("id1", "id2"), stDocs,
          incSets, "doc_id", "text", shingleN = 2, threshold = 0.5)
        .select("id1", "id2").join(cdm, Seq("id1", "id2"))
      cdm.agg(count(lit(1)).as("n_cand_uncapped"),
          count(when(col("capped_ok"), 1)).as("n_cand_capped"))
        .crossJoin(vfa.agg(count(lit(1)).as("n_true_pairs"),
          count(when(col("capped_ok"), 1)).as("n_capped_pairs")))
        .withColumn("n_cand_dropped", col("n_cand_uncapped") - col("n_cand_capped"))
        .withColumn("pair_recall", when(col("n_true_pairs") === 0, lit(1.0))
          .otherwise(round(col("n_capped_pairs").cast("double") / col("n_true_pairs"), 4)))
        .select("n_cand_uncapped", "n_cand_capped", "n_cand_dropped",
          "n_true_pairs", "n_capped_pairs", "pair_recall")
    },

    // Incremental SimHash near-dup dedup against persisted Manku-key
    // state — the incremental family's SimHash member, with the
    // family's structural twist: the signature travels IN the state
    // rows, so verification happens inside the probe join itself and
    // NO state text is ever re-read (the MinHash path must left-semi
    // rescan collided docs' text for Jaccard; this path touches only
    // the bucketed key table). Derived verdict-path cap, same policy
    // as dd_incremental_neardup.
    Q("dd_incremental_simhash", incrementalSimhashSql, SimhashState) { (s, d) =>
      val docs = Tables.documents(s, d)
      val out = graft.dedup.Dedup.incrementalSimhashNearDups(
        docs.filter(col("doc_id") % 3 === 2),
        StateProbe.Persisted(s, d, SimhashState, "SimHash state"),
        "doc_id", "text", maxHamming = 3, blocks = 6,
        bucketCap = Some(SimhashState.stat(s, d).toInt))
      // The probe must not smuggle a full-corpus signature pass: the
      // only documents scan allowed is the increment's own (% 3)
      // split — SimHash's no-text-rescan claim, asserted from the plan.
      val docScans = graft.plans.PlanChecks.fileScanPaths(
        out.queryExecution.executedPlan, "documents.parquet")
      require(docScans.nonEmpty, "increment scan missing from the probe plan")
      docScans.foreach { case (scan, path) =>
        require(graft.plans.PlanChecks.pathHasPredicate(scan, path, "% 3"),
          "a documents scan without the increment split predicate — " +
            "the SimHash probe re-read the corpus")
      }
      out
    },

    // The streaming front gate of the SimHash incremental family —
    // st_lsh_probe's shape over the Manku key state, except the gate
    // emits VERIFIED pairs: the signature travels in the state rows,
    // Hamming filters inside the stateless stream-static join, and no
    // batch verify tail exists. Derived bucket cap (persisted at state
    // build — the r17 default for every probe path), cap-aware oracle.
    Q("st_simhash_probe", simhashProbeSql, SimhashState) { (s, d) =>
      graft.streaming.SimhashProbe.verifiedOnce(s, d, SimhashState.name(d),
        bucketCap = Some(SimhashState.stat(s, d).toInt))
    },

    // The composed daily-crawl pass — the operational shape the three
    // persisted-state paths exist FOR, run as ONE query over an
    // increment: exact digest gate (in-batch winners anti-joined
    // against the persisted digest state), LSH band probe of the
    // persisted band state over the exact survivors only (each stage
    // shrinks the next stage's input), then broadcast centroid
    // assignment from the persisted k-means state for accepted docs
    // with a nonzero embedding. One verdict row per increment doc
    // ('exact_dup' / 'near_dup' / 'accepted') + the accepted doc's
    // cell. The oracle is the sequential batch equivalent end to end.
    // The GUARDED daily crawl — pipe_incremental_crawl with the
    // contamination gate inserted where a production pipeline puts it:
    // exact survivors screen against the persisted test-suite shingle
    // index (derived df cap) BEFORE any near-dup work, because a doc
    // that leaks eval data must be rejected even when it is a perfectly
    // novel document; only clean docs pay the LSH probe and centroid
    // assignment. Four persisted states, one pass, one verdict row per
    // increment doc: exact_dup / contaminated / near_dup / accepted.
    Q("pipe_crawl_guarded", pipeCrawlGuardedSql,
      DedupState, ContamState, ContamBloom, LshState, CentroidState) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val inc = docs.filter(col("doc_id") % 3 === 2)
      // These stage frames reference state TABLES by name, whose semantic
      // hash survives an in-place rebuild; CacheOnce's key also carries
      // the files each table lists, so a rebuilt state misses.
      val exactAcc = graft.ops.CacheOnce.swapTruncated("pipe-g-exact-acc",
        Dedup.incrementalDedup(inc, DedupState.table(s, d),
          "doc_id", "text").select(col("doc_id")))
      val contamV = graft.ops.CacheOnce.swapTruncated("pipe-g-contam",
        Dedup.incrementalContamination(
          inc.join(exactAcc, Seq("doc_id"), "left_semi"), contamProbeState(s, d),
          "doc_id", "text", shingleN = 3, minShared = 3,
          cap = contamCap(s, d), bloom = Some(contamStateBloom(s, d))))
      val clean = contamV.filter(!col("contaminated")).select(col("doc_id"))
      val ndVerdicts = graft.ops.CacheOnce.swapTruncated("pipe-g-nd-verdicts",
        Dedup.incrementalNearDups(
          inc.join(clean, Seq("doc_id"), "left_semi"),
          docs.filter(col("doc_id") % 3 =!= 2), lshProbeState(s, d),
          "doc_id", "text", numHashes = 32, rowsPerBand = 4, shingleN = 2,
          threshold = 0.5, bandBucketCap = Some(LshState.stat(s, d).toInt)))
      val ndAcc = ndVerdicts.filter(col("accepted")).select(col("doc_id"))
      val cents = CentroidState.read(s, d)
      val cn = cents.select(col("vec_id").as("cell"), col("embedding").as("cv"),
        Similarity.l2norm(col("embedding")).as("_cn"))
      val vecs = Tables.embeddings(s, d)
        .join(ndAcc.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
        .select(col("vec_id"), col("embedding"),
          Similarity.l2norm(col("embedding")).as("_n"))
        .filter(col("_n") > 0)
      val sims = vecs.crossJoin(broadcast(cn))
        .select(col("vec_id"), col("cell"),
          (Similarity.dot(col("embedding"), col("cv")) /
            (col("_n") * col("_cn"))).as("sim"))
      val w = Window.partitionBy(col("vec_id")).orderBy(desc("sim"), col("cell"))
      val assigned = sims.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id").as("doc_id"), col("cell"))
      inc.select(col("doc_id"))
        .join(exactAcc.withColumn("_x", lit(true)), Seq("doc_id"), "left")
        .join(contamV.select(col("doc_id"), col("contaminated").as("_c")),
          Seq("doc_id"), "left")
        .join(ndVerdicts.select(col("doc_id"), col("accepted").as("_nd")),
          Seq("doc_id"), "left")
        .join(assigned, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("_x").isNull, "exact_dup")
            .when(col("_c"), "contaminated")
            .when(!col("_nd"), "near_dup")
            .otherwise("accepted").as("verdict"),
          col("cell").cast("long").as("cell"))
    },

    Q("pipe_incremental_crawl", pipeIncrementalCrawlSql, DedupState, LshState, CentroidState) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val inc = docs.filter(col("doc_id") % 3 === 2)
      // Both stage outputs feed TWO consumers each (the next stage and
      // the final verdict join) — CacheOnce'd so one action evaluates
      // the digest gate and the LSH probe chain once, not two/three
      // times (the same multi-consumer recompute pageRank had).
      val exactAcc = graft.ops.CacheOnce.swapTruncated("pipe-incr-exact-acc",
        Dedup.incrementalDedup(inc, DedupState.table(s, d),
          "doc_id", "text").select(col("doc_id")))
      val ndVerdicts = graft.ops.CacheOnce.swapTruncated("pipe-incr-nd-verdicts",
        Dedup.incrementalNearDups(
          inc.join(exactAcc, Seq("doc_id"), "left_semi"),
          docs.filter(col("doc_id") % 3 =!= 2), lshProbeState(s, d),
          "doc_id", "text", numHashes = 32, rowsPerBand = 4, shingleN = 2,
          threshold = 0.5, bandBucketCap = Some(LshState.stat(s, d).toInt)))
      val ndAcc = ndVerdicts.filter(col("accepted")).select(col("doc_id"))
      val cents = CentroidState.read(s, d)
      val cn = cents.select(col("vec_id").as("cell"), col("embedding").as("cv"),
        Similarity.l2norm(col("embedding")).as("_cn"))
      val vecs = Tables.embeddings(s, d)
        .join(ndAcc.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
        .select(col("vec_id"), col("embedding"),
          Similarity.l2norm(col("embedding")).as("_n"))
        .filter(col("_n") > 0)
      val sims = vecs.crossJoin(broadcast(cn))
        .select(col("vec_id"), col("cell"),
          (Similarity.dot(col("embedding"), col("cv")) /
            (col("_n") * col("_cn"))).as("sim"))
      val w = Window.partitionBy(col("vec_id")).orderBy(desc("sim"), col("cell"))
      val assigned = sims.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id").as("doc_id"), col("cell"))
      inc.select(col("doc_id"))
        .join(exactAcc.withColumn("_x", lit(true)), Seq("doc_id"), "left")
        .join(ndVerdicts.select(col("doc_id"), col("accepted").as("_nd")),
          Seq("doc_id"), "left")
        .join(assigned, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("_x").isNull, "exact_dup")
            .when(!col("_nd"), "near_dup")
            .otherwise("accepted").as("verdict"),
          col("cell").cast("long").as("cell"))
    },

    // Streaming LSH probe: the incremental near-dup pass's front gate
    // as a Structured Streaming job — the increment streams through
    // per-row narrow minhash banding (array_min over transform, NO
    // streaming aggregation state) and probes the SAME persisted band
    // state dd_incremental_neardup buckets on, via a stateless
    // stream-static join; the settled distinct equals the batch
    // candidate set at any arrival order.
    Q("st_lsh_probe", lshProbeSql, LshState) { (s, d) =>
      graft.streaming.LshProbe.candidatesOnce(s, d, LshState.name(d),
        bandBucketCap = Some(LshState.stat(s, d).toInt))
    },

    // Bloom-prefiltered decontamination: test-split shingles collapse
    // into a Bloom riding the plan; the train scan drops non-members
    // before any exchange, the exact join kills false positives — the
    // oracle is the plain exact join (bloom is false-negative-free, so
    // the results are identical by construction). Report capped to the
    // strongest contaminationTopN train matches per test doc so output
    // rides test size, not train duplicate density.
    Q("dd_bloom_contamination", bloomContaminationSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.bloomContamination(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", shingleN = 3, minShared = 3,
        topNPerTest = Some(contaminationTopN))
    },

    // Verbatim-span contamination: the maximal copied token runs
    // between the train (even doc_id) and test (odd) splits — WHERE the
    // leakage sits and HOW LONG it is, the span-level complement of
    // dd_fingerprint_overlap's shared-count report. Shingle-position
    // join + diagonal gaps-and-islands; no suffix structure, nothing
    // pairwise beyond true shingle matches.
    Q("dd_verbatim_spans", verbatimSpansSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.text.CorpusStats.verbatimSpans(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", k = 3, minSpanTokens = 6,
        derivedDocFreqCap = Some((20, 0.08)))
    },

    // The composed corpus-cleaning pipeline, end to end: quality gate ->
    // language gate -> exact dedup (min-id survivor) -> MinHash near-dup
    // removal (greedy min-id survivor). The oracle recomputes
    // every stage — the strongest composition check in the registry: one
    // wrong stage anywhere shifts the surviving id set.
    Q("pipe_corpus_clean",
      // The MATERIALIZED hints are for DuckDB's evaluator, not
      // semantics: its default CTE inlining re-derives the regex-heavy
      // quality/lang gate and the shingle chain once per consumer, which
      // OOMed this twin at the 10x fixture even with a 110 GB cap.
      // Materializing the multiply-referenced stages evaluates each ONCE
      // (28 s / 60 GB cap at 10x — the r10 oracle-side gap closed).
      s"""WITH gated AS MATERIALIZED (SELECT doc_id, text FROM documents
  WHERE $qualitySql >= 0.6667 AND $langCaseSql <> 'und'),
grp AS (SELECT md5(text) AS h, min(doc_id) AS keep_id FROM gated GROUP BY 1),
kept AS MATERIALIZED (SELECT g.doc_id, g.text FROM gated g JOIN grp ON g.doc_id = grp.keep_id),
${minhashMd5Ctes("kept", 0.5)}
SELECT doc_id FROM kept WHERE doc_id NOT IN (SELECT id2 FROM nd)""") { (s, d) =>
      graft.text.CorpusPipeline.cleanCorpus(
          Tables.documents(s, d), "doc_id", "text")
        .select("doc_id")
    },

    // Duplicate-cluster resolution: connected components over the
    // MinHash near-dup pair graph (transitive closure — the step greedy
    // pair-drop rules under-merge), one row per multi-doc cluster with
    // its min-id label, size and max member. The oracle walks the same
    // graph with a recursive CTE and takes per-node min reachable id.
    Q("dd_dup_clusters",
      s"""WITH RECURSIVE ${minhashMd5Ctes("documents", 0.5)},
e AS (SELECT id1 AS a, id2 AS b FROM nd UNION SELECT id2, id1 FROM nd),
n AS (SELECT DISTINCT a AS node FROM e),
walk(node, lbl) AS (SELECT node, node FROM n
  UNION SELECT e.a, w.lbl FROM walk w JOIN e ON e.b = w.node),
comp AS (SELECT node, min(lbl) AS cluster_id FROM walk GROUP BY 1)
SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs, max(node) AS max_doc
FROM comp GROUP BY 1""") { (s, d) =>
      // Same truncated feed as pg_pagerank/dd_minhash_neardups: before
      // r18 this site free-rode Spark's CacheManager (its fresh pair
      // subtree matched the cached plan); a truncated LogicalRDD is
      // invisible to that substitution, so share the memo explicitly.
      val pairs = graft.ops.CacheOnce.swapTruncated("minhash-md5-neardups",
        Dedup.minhashNearDupsMd5(Tables.documents(s, d), "doc_id", "text",
          numHashes = 32, rowsPerBand = 4, shingleN = 2, threshold = 0.5))
      Dedup.connectedComponents(pairs)
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_docs"), max(col("node")).as("max_doc"))
    },

    // Incremental cluster maintenance against persisted CC state — the
    // operational completion of the incremental family (exact digests,
    // LSH near-dups, centroids, now clusters): state docs (doc_id%3!=2)
    // cluster ONCE and persist; the increment's pairs merge via an
    // increment-bounded CC over cluster REPRESENTATIVES plus one
    // broadcast remap of the state (narrow — the state never
    // re-shuffles, let alone re-clusters). The pair FEED is
    // increment-bounded too (the r11 weak grade, closed): the increment
    // sketches only ITSELF, probes the persisted LSH band state by
    // band_key (exchange-free — the state rides its bucketing), band
    // self-joins for increment-vs-increment pairs, and exact-verifies
    // the collisions with state text re-read only for collided docs —
    // O(increment + collisions), never a full-corpus re-sketch. All
    // three layout claims are REQUIREd from the executed plan. The
    // band probe is UNCAPPED here because the oracle is the FULL
    // re-cluster over the combined pair graph (recursive CTE): the
    // incremental path must reproduce it row-for-row, and a capped
    // probe would drop pairs the full re-cluster keeps.
    Q("dd_incremental_clusters", incrementalClustersOracleSql, ClusterState, LshState) { (s, d) =>
      val state = ClusterState.read(s, d)
      // The feed is the r19 SHARED truncation — executed once per
      // session for all three family members; its watch and scale
      // REQUIREs run inside sharedUncappedIncPairs on every call.
      val incPairs = sharedUncappedIncPairs(s, d)
      Dedup.incrementalClusters(state, incPairs)
    },

    // The incremental cluster family's STREAMING end: the increment
    // streams through the LIVE LSH collision gate (st_lsh_probe's
    // stateless stream-static probe of the persisted band state) into a
    // PERSISTENT append sink, and the batch tail exact-verifies only
    // the sink files beyond the verified high-water marker (+ the
    // increment's own band self-join for inc-vs-inc pairs), merging
    // into the persisted SETTLED cluster state — the append-sink →
    // watermarked-downstream-batch deployment shape; see
    // [[watermarkedStreamClusters]]. Settled state == the batch
    // incremental path == the full re-cluster oracle, at any arrival
    // order and any drain boundary. Probe UNCAPPED for the same reason
    // as dd_incremental_clusters.
    Q("st_incremental_clusters", incrementalClustersOracleSql, ClusterState, LshState) { (s, d) =>
      watermarkedStreamClusters(s, d, capped = false)
    },

    // The CAPPED streamed incremental-cluster variant — the scale-safe
    // deployment shape (st_er_probe's precedent applied to clusters):
    // the live collision gate runs WITH the state-side band-bucket
    // budget — since r17 the persisted DERIVED cap (st_lsh_probe's
    // cap; the fixed 16 it replaced measured 0.39 pair recall at 30×
    // density in dd_cap_recall_audit), so a truly degenerate state
    // bucket (far above 4 · mean) is dropped ONCE on the static side
    // instead of fanning every arriving doc out bucket-size-fold —
    // per-arrival probe cost stays bounded by a constant of the state
    // generation at ANY duplication density (the uncapped twin above
    // is the full-re-cluster parity/audit query; this is what
    // production runs). The cap is PART OF THE SEMANTICS: the oracle
    // re-clusters over exactly the cap-surviving cross pairs (plus
    // full state-state and inc-inc pairs), so cap behavior is pinned
    // by hash, never waived. At driver SFs only the floor binds and
    // the result equals the uncapped query's.
    Q("st_incremental_clusters_capped",
      cappedIncrementalClustersOracleSql, ClusterState, LshState) { (s, d) =>
      watermarkedStreamClusters(s, d, capped = true)
    },

    // Incremental PageRank — the graph family's operational member,
    // completing the set (digests, bands, centroids, clusters,
    // aggregates, ER all maintain state; now centrality does too): the
    // accepted corpus's near-dup EDGES persist bucketed+sorted on src
    // and its RANKS persist as the 6-decimal checkpoint; the refresh
    // computes only the increment's pair feed (the same O(increment)
    // band-state probe as dd_incremental_clusters) and re-iterates 2
    // supersteps over the merged graph SEEDED from the stored ranks —
    // warm-start refresh, never the full from-uniform trajectory. The
    // |E|-sized edge state enters EVERY superstep join exchange-free
    // (REQUIREd from the executed plan, every bucketed path); per
    // round only node-sized frames and the keyed message aggregate
    // move. Oracle = the full unrolled recompute of both phases with
    // bit-identical teleport constants.
    Q("pg_incremental_pagerank", incrementalPageRankOracleSql, PgEdges, PgRanks, LshState) { (s, d) =>
      // Watch registered BEFORE the refresh is built: the per-superstep
      // truncations execute supersteps 1..iters-1 as EAGER jobs at plan
      // build, and their bucketed edge-state joins must land inside the
      // AQE-final watch window (only superstep `iters` remains in the
      // terminal plan the REQUIRE below inspects). The pair feed watches
      // the LSH state itself (sharedUncappedIncPairs).
      graft.plans.PlanChecks.watchFinalPlans(s, PgEdges.name(d), "PageRank edge state")
      val stateEdges = PgEdges.table(s, d)
      val stateRanks = PgRanks.read(s, d)
      // r19: the SHARED uncapped pair feed (one probe+verify execution
      // per session for the whole cluster/graph family; the feed's own
      // layout REQUIREs run inside sharedUncappedIncPairs).
      val incPairs = sharedUncappedIncPairs(s, d)
      val out = graft.graph.PageRank.incrementalPageRank(
          stateEdges, graft.graph.PageRank.symmetrize(incPairs),
          stateRanks, iters = 2, damping = 0.85, roundTo = 6)
        .select(col("id").as("doc_id"), col("rank"))
      graft.plans.PlanChecks.requireExchangeFreeBucketedProbe(
        out.queryExecution.executedPlan, "PageRank edge/LSH state")
      out
    },

    // Incremental TRIANGLE maintenance — counts are additive, so the
    // refresh is the second-order delta-join: persisted per-node counts
    // (over the state graph) plus ONLY the delta-touching triangles,
    // enumerated by how many of their edges are new (1/2/3 — each
    // category finds each triangle exactly once; see
    // Triangles.incrementalPerNodeCounts). The |E|-sized edge state is
    // touched by a single src-keyed exchange-free bucketed probe
    // (REQUIREd); everything else that moves is increment-sized. The
    // oracle is the full merged-graph recount (pg_triangles' own SQL):
    // state + delta == full is the IVM invariant, checked by hash.
    Q("pg_incremental_triangles", trianglesOracleSql, PgEdges, PgPairs, PgTris, LshState) { (s, d) =>
      // Registered BEFORE the refresh builds: the delta truncation
      // executes as an EAGER job at plan build, and its bucketed
      // graph-state joins must land inside the watch window (the
      // terminal plan only retains the dEE edge-state join). The pair
      // feed watches the LSH state itself (sharedUncappedIncPairs).
      graft.plans.PlanChecks.watchFinalPlans(s, PgEdges.name(d), "triangle edge state")
      graft.plans.PlanChecks.watchFinalPlans(s, PgPairs.name(d), "triangle pair state")
      val stateAdj = PgEdges.table(s, d)
      val statePairs = PgPairs.table(s, d)
      val stateCounts = PgTris.read(s, d)
      // r19: same SHARED uncapped pair feed as dd_incremental_clusters
      // and pg_incremental_pagerank — one probe+verify per session.
      val incPairs = sharedUncappedIncPairs(s, d)
      val out = graft.graph.Triangles.incrementalPerNodeCounts(
          stateAdj, statePairs, incPairs, stateCounts)
        .select(col("id").as("doc_id"), col("triangles"))
      graft.plans.PlanChecks.requireExchangeFreeBucketedProbe(
        out.queryExecution.executedPlan, "triangle edge/pair/LSH state")
      // Both graph states are written with one file per bucket and a
      // sortBy matching their probe keys (adjacency: (src, dst) serving
      // the src-keyed candEE probe by prefix; pair state: the closes'
      // composite (src, dst) key), so every merge close consumes its
      // ordering straight from the scan — no state-side Sort and no
      // state-side Exchange may be planned (r16 advisory + the r17
      // composite-key finding).
      graft.plans.PlanChecks.requireSortFreeBucketedScan(
        out.queryExecution.executedPlan, PgEdges.name(d),
        "triangle edge state")
      graft.plans.PlanChecks.requireSortFreeBucketedScan(
        out.queryExecution.executedPlan, PgPairs.name(d),
        "triangle pair state")
      out
    },

    // Incremental view maintenance for AGGREGATES — the family's last
    // member (exact digests, LSH bands, centroids, clusters, now
    // partial aggregates): day-1 daily tallies persist as state; each
    // increment tallies ONLY ITSELF and merges by a keyed re-aggregate
    // over state groups + increment groups — O(groups + increment),
    // the raw day-1 events are never rescanned. The oracle is the full
    // recompute over ALL events: merge-of-partials == full is the IVM
    // invariant (count's commutative-monoid property), checked by hash.
    Q("ivm_daily_tally",
      "SELECT CAST(ts + INTERVAL 8 HOUR AS DATE) AS obs_date, event_type, " +
        "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2", IvmTally) { (s, d) =>
      val state = IvmTally.read(s, d)
      val incr = Tables.events(s, d).filter(col("event_id") % 3 === 2)
        .groupBy(graft.ops.ColumnOps.toLocalDate(col("ts"), "Australia/Perth")
          .as("obs_date"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      state.union(incr).groupBy(col("obs_date"), col("event_type"))
        .agg(sum(col("n")).as("n"))
    },

    // IVM past plain count: the first non-trivial commutative-monoid
    // case — count/sum/avg maintained together, the shape a metrics
    // warehouse actually serves. State persists the partial triple
    // (n = count(*), nv = count(value), cents = sum of exact integer
    // cents) per (day, type); each increment computes only its own
    // triple and the merge is one keyed re-aggregate (counts and sums
    // add; avg is DERIVED at presentation as merged-sum / merged-count
    // — avg itself is not a monoid, its partials are). Presentation is
    // tie-free exact arithmetic: total = cents/100.0 (identical double
    // both engines), avg truncated at 1e-4 via integer floor-division
    // — round() would sit on round-half ties (42.90625 → HALF_UP vs
    // half-even) whenever a 2-decimal money sum divides a small count.
    Q("ivm_daily_metrics",
      "WITH c AS (SELECT CAST(ts + INTERVAL 8 HOUR AS DATE) AS obs_date, event_type, " +
        "CAST(round(value * 100) AS BIGINT) AS cents, value FROM events) " +
        "SELECT obs_date, event_type, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(cents) AS BIGINT) / 100.0 AS total_value, " +
        // nullif guards the all-null-value group: Spark's `div` yields
        // NULL on a zero divisor but DuckDB's `//` ERRORS — without the
        // guard an nv=0 group (legal: value is nullable) kills the
        // oracle run instead of comparing NULL==NULL.
        "(CAST(sum(cents) AS BIGINT) * 100 // nullif(count(value), 0)) / 10000.0 AS avg_value " +
        "FROM c GROUP BY 1, 2", IvmMetrics) { (s, d) =>
      val state = IvmMetrics.read(s, d)
      val incr = Tables.events(s, d).filter(col("event_id") % 3 === 2)
        .groupBy(graft.ops.ColumnOps.toLocalDate(col("ts"), "Australia/Perth")
          .as("obs_date"), col("event_type"))
        .agg(count(lit(1)).as("n"), count(col("value")).as("nv"),
          sum(round(col("value") * 100).cast("long")).as("cents"))
      state.union(incr).groupBy(col("obs_date"), col("event_type"))
        .agg(sum(col("n")).as("n"), sum(col("nv")).as("nv"),
          sum(col("cents")).as("cents"))
        .select(col("obs_date"), col("event_type"), col("n"),
          (col("cents") / lit(100.0)).as("total_value"),
          (expr("cents * 100 div nv") / lit(10000.0)).as("avg_value"))
    },

    // IVM for COUNT DISTINCT — the first NON-monoid aggregate in the
    // family: distinct counts do not merge (2 ∪ 3 distinct users is
    // anywhere from 3 to 5), so the state is the SUPPORT relation (the
    // distinct (day, type, user) triples) and the merge is a distinct
    // union — O(support + increment), the standard IVM treatment of
    // DISTINCT aggregates; the count is derived at presentation. The
    // oracle is the full count(DISTINCT) recompute.
    Q("ivm_daily_users",
      "SELECT CAST(ts + INTERVAL 8 HOUR AS DATE) AS obs_date, event_type, " +
        "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users " +
        "FROM events GROUP BY 1, 2", IvmUsers) { (s, d) =>
      val state = IvmUsers.read(s, d)
      val incr = Tables.events(s, d).filter(col("event_id") % 3 === 2)
        .select(graft.ops.ColumnOps.toLocalDate(col("ts"), "Australia/Perth")
          .as("obs_date"), col("event_type"), col("user_id"))
        .distinct()
      state.unionByName(incr).distinct()
        .groupBy(col("obs_date"), col("event_type"))
        .agg(count(lit(1)).as("n_users"))
    },

    // A rollup view maintained FROM another view's state — the
    // materialized-view-over-materialized-view shape: monthly metrics
    // derive from the DAILY partials (day-1 persisted state + the
    // increment's own day partials), so the monthly refresh has NO
    // raw-event term at all — the coarser grain re-aggregates the finer
    // grain's monoid partials, which is the whole point of keeping
    // partials instead of presentations. Oracle = full recompute at
    // month grain over all events.
    Q("ivm_monthly_rollup",
      "WITH c AS (SELECT CAST(date_trunc('month', CAST(ts + INTERVAL 8 HOUR AS DATE)) AS DATE) AS obs_month, " +
        "event_type, CAST(round(value * 100) AS BIGINT) AS cents, value FROM events) " +
        "SELECT obs_month, event_type, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(cents) AS BIGINT) / 100.0 AS total_value " +
        "FROM c GROUP BY 1, 2", IvmMetrics) { (s, d) =>
      val state = IvmMetrics.read(s, d)
      val incr = Tables.events(s, d).filter(col("event_id") % 3 === 2)
        .groupBy(graft.ops.ColumnOps.toLocalDate(col("ts"), "Australia/Perth")
          .as("obs_date"), col("event_type"))
        .agg(count(lit(1)).as("n"), count(col("value")).as("nv"),
          sum(round(col("value") * 100).cast("long")).as("cents"))
      val out = state.unionByName(incr)
        .groupBy(trunc(col("obs_date"), "month").as("obs_month"), col("event_type"))
        .agg(sum(col("n")).as("n"),
          (sum(col("cents")) / lit(100.0)).as("total_value"))
      val scans = graft.plans.PlanChecks.fileScanPaths(
        out.queryExecution.executedPlan, "events.parquet")
      require(scans.nonEmpty, "increment events scan missing from the rollup plan")
      scans.foreach { case (scan, path) =>
        require(graft.plans.PlanChecks.pathHasPredicate(scan, path, "% 3"),
          "an events scan without the increment split predicate — " +
            "the monthly rollup re-read day-1 events instead of the daily partials")
      }
      out
    },

    // Maintained data-quality profile — dq_profile's operational shape:
    // per-column row/null counts are monoids and the distinct count
    // rides the SAME deterministic HLL registers as
    // ivm_daily_users_hll, keyed by column — state is O(cols + cols x
    // 64) no matter the corpus size, and a 100 TB profile refresh
    // touches only the increment. Counts exact, distinct at 1e-3
    // fixed point with the LC small-range switch; oracle = the full
    // profile recompute (monoid merge + register max-merge == full).
    Q("dq_incremental_profile", dqIncProfileSql, DqProfCounts, DqProfRegs) { (s, d) =>
      val docs = Tables.documents(s, d)
      val inc = docs.filter(col("doc_id") % 3 === 2)
      val counts = DqProfCounts.read(s, d)
        .unionByName(dqProfCounts(inc))
        .groupBy(col("col_name"))
        .agg(sum(col("n_rows")).as("n_rows"), sum(col("n_nulls")).as("n_nulls"))
      val regs = DqProfRegs.read(s, d)
        .unionByName(dqProfRegisters(inc))
        .groupBy(col("col_name"), col("bucket"))
        .agg(max(col("r")).as("r"))
      val est = regs
        .withColumn("_term",
          expr("shiftleft(CAST(1 AS BIGINT), CAST(40 - least(r, 40) AS INT))"))
        .groupBy(col("col_name"))
        .agg(sum(col("_term")).as("_sp"), count(lit(1)).as("_nb"))
        .withColumn("_raw",
          expr(s"$hllEstNumerator div (_sp + (64 - _nb) * $hllRankScale)"))
        .withColumn("_vz", lit(64L) - col("_nb"))
        .select(col("col_name"),
          expr(hllEstSql("_raw", "_vz")).as("distinct_est_milli"))
      val out = counts.join(est, Seq("col_name"))
      val scans = graft.plans.PlanChecks.fileScanPaths(
        out.queryExecution.executedPlan, "documents.parquet")
      require(scans.nonEmpty, "increment documents scan missing from the profile plan")
      scans.foreach { case (scan, path) =>
        require(graft.plans.PlanChecks.pathHasPredicate(scan, path, "% 3"),
          "a documents scan without the increment split predicate — " +
            "the profile refresh re-read day-1 documents instead of the state")
      }
      out
    },

    // IVM under CORRECTIONS — the abelian-group leg for FACT
    // restatements, the case insert-only IVM cannot express: late
    // corrections arrive for events already folded into day-1 state
    // (value += 10 on event_id % 7 = 3, synthesized in-plan so the
    // oracle reproduces it), and the maintenance applies signed DELTAS
    // to the persisted partials instead of rescanning day-1 events —
    // counts unchanged, cents += 1000 per corrected row (round(x*100)
    // is exactly linear under the +10 shift, so the delta is an
    // integer constant, no float drift). Oracle = full recompute over
    // the corrected events; state + deltas == full is the
    // abelian-group invariant, by hash. The ivm_scd2_agg retro-move
    // covered dimension changes; this covers the facts themselves.
    Q("ivm_corrections",
      "WITH ev AS (SELECT ts, event_type, " +
        "CASE WHEN event_id % 7 = 3 AND value IS NOT NULL THEN value + 10 ELSE value END AS value " +
        "FROM events WHERE event_id % 3 <> 2), " +
        "c AS (SELECT CAST(ts + INTERVAL 8 HOUR AS DATE) AS obs_date, event_type, " +
        "CAST(round(value * 100) AS BIGINT) AS cents, value FROM ev) " +
        "SELECT obs_date, event_type, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(cents) AS BIGINT) / 100.0 AS total_value, " +
        "(CAST(sum(cents) AS BIGINT) * 100 // nullif(count(value), 0)) / 10000.0 AS avg_value " +
        "FROM c GROUP BY 1, 2", IvmMetrics) { (s, d) =>
      val state = IvmMetrics.read(s, d)
      val deltas = Tables.events(s, d)
        .filter(col("event_id") % 3 =!= 2 && col("event_id") % 7 === 3 &&
          col("value").isNotNull)
        .groupBy(graft.ops.ColumnOps.toLocalDate(col("ts"), "Australia/Perth")
          .as("obs_date"), col("event_type"))
        .agg(lit(0L).as("n"), lit(0L).as("nv"),
          (count(lit(1)) * 1000L).as("cents"))
      val out = state.unionByName(deltas)
        .groupBy(col("obs_date"), col("event_type"))
        .agg(sum(col("n")).as("n"), sum(col("nv")).as("nv"),
          sum(col("cents")).as("cents"))
        .select(col("obs_date"), col("event_type"), col("n"),
          (col("cents") / lit(100.0)).as("total_value"),
          (expr("cents * 100 div nv") / lit(10000.0)).as("avg_value"))
      // day-1 raw events must never rescan: the only events scan is the
      // corrections split (% 7 narrows it past the day-1 predicate).
      val scans = graft.plans.PlanChecks.fileScanPaths(
        out.queryExecution.executedPlan, "events.parquet")
      require(scans.nonEmpty, "corrections scan missing from the merge plan")
      scans.foreach { case (scan, path) =>
        require(graft.plans.PlanChecks.pathHasPredicate(scan, path, "% 7"),
          "an events scan without the corrections split predicate — " +
            "the merge re-read day-1 events instead of applying deltas")
      }
      out
    },

    // IVM for COUNT DISTINCT via MERGEABLE HLL-style register state —
    // the sketch treatment of the same aggregate ivm_daily_users
    // maintains exactly: the support relation is O(distinct triples),
    // which at 100 TB of events is itself corpus-sized; 64 max-registers
    // per (day, type) are O(groups · 64) FOREVER, and registers merge by
    // max — merge-of-sketches == sketch-of-all EXACTLY, so the
    // full-recompute oracle pins the maintenance invariant by hash even
    // though the estimate is approximate. Everything is deterministic
    // integer arithmetic (md5-derived bucket/rank, fixed-point 1e-3
    // estimate via a single integer division, raw HLL without
    // small/large-range corrections — v_zero ships so a consumer can
    // apply linear counting downstream); no float ever compares.
    Q("ivm_daily_users_hll", hllUsersOracleSql, IvmHll) { (s, d) =>
      val state = IvmHll.read(s, d)
      val incr = hllRegisters(Tables.events(s, d).filter(col("event_id") % 3 === 2))
      val merged = state.unionByName(incr)
        .groupBy(col("obs_date"), col("event_type"), col("bucket"))
        .agg(max(col("r")).as("r"))
      val out = hllPresent(merged)
      // The register state stands in for day-1 events: any events scan
      // in the merge plan must carry the increment split predicate.
      val scans = graft.plans.PlanChecks.fileScanPaths(
        out.queryExecution.executedPlan, "events.parquet")
      require(scans.nonEmpty, "increment events scan missing from the merge plan")
      scans.foreach { case (scan, path) =>
        require(graft.plans.PlanChecks.pathHasPredicate(scan, path, "% 3"),
          "an events scan without the increment split predicate — " +
            "the HLL merge re-read day-1 events instead of the register state")
      }
      out
    },

    // The sampling family's streaming end — and a different streaming-
    // state SHAPE than the register max-merge: a k-smallest list is
    // not an aggregate Spark knows, so it lives in CUSTOM keyed state
    // (mapGroupsWithState), bounded at k rows per key at any volume;
    // per-batch merge is sort-and-truncate (the same mergeability the
    // batch IVM leans on, exercised across real batch boundaries).
    // Settled sample == the batch bottom-k, same oracle.
    Q("st_bottomk_ingest", bottomkOracleSql) { (s, d) =>
      graft.streaming.BottomkIngest.sampleOnce(s, d)
    },

    // The sketch-IVM family's STREAMING end: events stream through the
    // same narrow per-row rank derivation and the ONLY streaming state
    // is the register map itself (one max row per (day, type, bucket) —
    // bounded at groups x 64 at ANY event volume, the reason to
    // maintain the sketch instead of the support relation). Max is
    // commutative + idempotent, so the settled registers equal the
    // batch sketch at any arrival order; same estimate presentation,
    // same full-recompute oracle.
    Q("st_hll_ingest", hllUsersOracleSql) { (s, d) =>
      graft.streaming.HllIngest.usersOnce(s, d)
    },

    // IVM for a UNIFORM SAMPLE via mergeable bottom-k state — the
    // sampling family's incremental member: a per-(day, type) uniform
    // fixed-size sample that is STABLE under corpus growth. Rank =
    // md5(event_id) (deterministic, uniform); the sample is the k=32
    // rank-smallest events, and bottom-k is a mergeable sketch —
    // bottomK(A ∪ B) == bottomK(bottomK(A) ∪ bottomK(B)) — so the
    // state holds k rows per group FOREVER (never raw events) and the
    // full-recompute oracle pins the merge invariant by hash.
    // t_hash_sample is the stateless Bernoulli cousin (fixed RATE);
    // bottom-k holds fixed SIZE, the shape eval sets and audits want.
    Q("ivm_bottomk_sample", bottomkOracleSql, IvmBottomk) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val state = IvmBottomk.read(s, d)
      val incr = bottomkRanked(
        Tables.events(s, d).filter(col("event_id") % 3 === 2))
      val g = Window.partitionBy(col("obs_date"), col("event_type"))
        .orderBy(col("rk"), col("event_id"))
      val out = state.unionByName(incr)
        .withColumn("rn", row_number().over(g))
        .filter(col("rn") <= 32)
        .select(col("obs_date"), col("event_type"), col("event_id"),
          col("rn").cast("long").as("sample_rank"))
      val scans = graft.plans.PlanChecks.fileScanPaths(
        out.queryExecution.executedPlan, "events.parquet")
      require(scans.nonEmpty, "increment events scan missing from the merge plan")
      scans.foreach { case (scan, path) =>
        require(graft.plans.PlanChecks.pathHasPredicate(scan, path, "% 3"),
          "an events scan without the increment split predicate — " +
            "the bottom-k merge re-read day-1 events instead of the sample state")
      }
      out
    },

    // IVM for QUANTILES via mergeable sketch state — the non-algebraic
    // class: a median has no partial you can add, but a domain-bounded
    // HISTOGRAM does (bucket counts sum), and defining the quantile ON
    // the histogram makes merge-of-sketches == sketch-of-all exact, so
    // the full-recompute oracle pins the invariant by hash. State =
    // per-(day, type) dollar-bucket counts (days × types × ~500
    // buckets, never raw events); presentation = one bucket-ordered
    // cumulative walk per group: p_q = min bucket whose cumulative
    // count reaches ceil(q·n) (integer arithmetic — no float rank).
    Q("ivm_daily_quantiles",
      "WITH c AS (SELECT CAST(ts + INTERVAL 8 HOUR AS DATE) AS obs_date, event_type, " +
        "CAST(floor(value) AS BIGINT) AS bucket FROM events WHERE value IS NOT NULL), " +
        "h AS (SELECT obs_date, event_type, bucket, CAST(count(*) AS BIGINT) AS cnt " +
        "FROM c GROUP BY 1, 2, 3), " +
        "x AS (SELECT *, sum(cnt) OVER (PARTITION BY obs_date, event_type ORDER BY bucket) AS cum, " +
        "sum(cnt) OVER (PARTITION BY obs_date, event_type) AS n FROM h) " +
        "SELECT obs_date, event_type, CAST(max(n) AS BIGINT) AS n, " +
        "min(CASE WHEN cum >= (n + 1) // 2 THEN bucket END) AS p50_bucket, " +
        "min(CASE WHEN cum >= (9 * n + 9) // 10 THEN bucket END) AS p90_bucket " +
        "FROM x GROUP BY 1, 2", IvmQuant) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val state = IvmQuant.read(s, d)
      val incr = quantBuckets(Tables.events(s, d).filter(col("event_id") % 3 === 2))
      val merged = state.unionByName(incr)
        .groupBy(col("obs_date"), col("event_type"), col("bucket"))
        .agg(sum(col("cnt")).as("cnt"))
      val g = Window.partitionBy(col("obs_date"), col("event_type"))
      val x = merged
        .withColumn("cum", sum(col("cnt")).over(g.orderBy(col("bucket"))))
        .withColumn("n", sum(col("cnt")).over(g))
      x.groupBy(col("obs_date"), col("event_type"))
        .agg(max(col("n")).as("n"),
          min(when(col("cum") >= expr("(n + 1) div 2"), col("bucket"))).as("p50_bucket"),
          min(when(col("cum") >= expr("(9 * n + 9) div 10"), col("bucket"))).as("p90_bucket"))
    },

    // IVM for a JOIN aggregate via the delta-join rule: the maintained
    // view is the orders ⋈ lineitem daily quantity rollup; day-1 state
    // persists the old⋈old aggregate, and the increment merge computes
    // only the three delta terms ΔO⋈L_old ∪ O_old⋈ΔL ∪ ΔO⋈ΔL — each a
    // delta-sided join, so the history⋈history term is NEVER re-joined.
    // Split keys are independent per side (orders on orderkey, lineitem
    // on orderkey+linenumber) so every delta term is non-degenerate.
    // Oracle = the full join recompute over both complete tables:
    // state + deltas == full is the delta-join invariant, by hash.
    Q("ivm_join_agg",
      "SELECT CAST(o_orderdate AS DATE) AS order_date, " +
        "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty, " +
        "CAST(count(*) AS BIGINT) AS n_items " +
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey GROUP BY 1", IvmJoinAgg) { (s, d) =>
      val state = IvmJoinAgg.read(s, d)
      val o = Tables.orders(s, d); val l = Tables.lineitem(s, d)
      val deltas = Seq(
        joinAggPartial(ordersNew(o), lineitemOld(l)),
        joinAggPartial(ordersOld(o), lineitemNew(l)),
        joinAggPartial(ordersNew(o), lineitemNew(l)))
      val out = (state +: deltas).reduce(_.unionByName(_))
        .groupBy(col("order_date"))
        .agg(sum(col("total_qty")).as("total_qty"),
          sum(col("n_items")).as("n_items"))
      // Delta-rule shape, REQUIREd from the executed plan: exactly the
      // THREE delta joins (ΔO⋈L_old, O_old⋈ΔL, ΔO⋈ΔL) plus the state
      // scan — a fourth orders⋈lineitem join would mean the old⋈old
      // history term is being recomputed, the cost the rule exists to
      // avoid.
      import graft.plans.PlanChecks
      val plan = out.queryExecution.executedPlan
      def walk(p: org.apache.spark.sql.execution.SparkPlan):
          Seq[org.apache.spark.sql.execution.SparkPlan] =
        p +: PlanChecks.kids(p).flatMap(walk)
      def scansOf(p: org.apache.spark.sql.execution.SparkPlan): Set[String] =
        walk(p).collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.relation.location.rootPaths.mkString(",")
        }.toSet
      val olJoins = walk(plan).collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if scansOf(j).exists(_.contains("orders")) &&
             scansOf(j).exists(_.contains("lineitem")) => j
      }
      require(olJoins.size == 3,
        s"delta-join rule violated: ${olJoins.size} orders⋈lineitem joins planned, " +
          "expected exactly the 3 delta terms (the old⋈old join must come from state)")
      require(PlanChecks.fileScanPaths(plan, "graft_ivm_joinagg").nonEmpty,
        "persisted join-aggregate state is not in the plan — the merge is recomputing")
      out
    },

    // TF-IDF top-3 terms per doc: tf = in-doc count, idf = ln(N/df),
    // rank on the rounded weight with term tiebreak (deterministic in
    // both engines).
    Q("t_tfidf",
      "WITH terms AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM terms GROUP BY 1, 2), " +
        "dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1), " +
        "n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents), " +
        "wtd AS (SELECT doc_id, term, tf, df, " +
        "round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS weight " +
        "FROM tf JOIN dfreq USING (term) CROSS JOIN n) " +
        "SELECT doc_id, term, tf, df, weight, CAST(row_number() OVER w AS BIGINT) AS rank " +
        "FROM wtd WINDOW w AS (PARTITION BY doc_id ORDER BY weight DESC, term) " +
        "QUALIFY row_number() OVER w <= 3") { (s, d) =>
      graft.text.CorpusStats.tfidfTopTerms(Tables.documents(s, d), "doc_id", "text", 3)
    },

    // CCNet-style unigram-LM quality score: corpus unigram frequencies
    // in one keyed aggregate, each doc scored by the mean -ln p(token)
    // of its occurrences — the perplexity-filter stage of a training
    // pipeline, at the unigram floor both engines can recompute exactly.
    // CacheOnce'd under the same key/plan as t_budget_select's scoring
    // stage: whichever runs first pays the tokenize+aggregate chain.
    Q("t_unigram_lm",
      s"WITH $unigramLmCtes SELECT doc_id, n_tok, avg_nll FROM lm") { (s, d) =>
      graft.ops.CacheOnce.swap("unigram-lm-scores",
        graft.text.CorpusStats.unigramLmScore(Tables.documents(s, d), "doc_id", "text"))
    },

    // Best-first data selection under a global token budget (keep the
    // lowest-perplexity 20% of corpus tokens): rows taken in
    // (centi-nat LM-score bucket, doc_id) order while the running token
    // total fits. The naive shape is a single-partition global-order
    // cumsum; Mixing.budgetSelect replaces it with a bounded-domain
    // bucket histogram + driver prefix walk, whole-bucket keeps below
    // the cut, and a cumsum window over ONLY the cut bucket. The oracle
    // IS the naive global cumsum — bit-equality of the two shapes is
    // the point of the check.
    Q("t_budget_select",
      s"""WITH $unigramLmCtes,
qs AS (SELECT doc_id, CAST(floor(avg_nll * 100) AS BIGINT) AS qb, n_tok AS tok FROM lm),
bgt AS (SELECT CAST(floor(0.2 * sum(tok)) AS BIGINT) AS b FROM qs),
cm AS (SELECT doc_id, qb, tok,
  sum(tok) OVER (ORDER BY qb, doc_id ROWS UNBOUNDED PRECEDING) AS c FROM qs)
SELECT doc_id, qb, tok FROM cm WHERE c <= (SELECT b FROM bgt)""") { (s, d) =>
      val lm = graft.ops.CacheOnce.swap("unigram-lm-scores",
        graft.text.CorpusStats.unigramLmScore(Tables.documents(s, d), "doc_id", "text"))
      val scored = lm.select(col("doc_id"),
        floor(col("avg_nll") * 100).cast("long").as("qb"), col("n_tok").as("tok"))
      graft.text.Mixing.budgetSelect(scored, "doc_id", "tok", "qb", fraction = 0.2)
    },

    // SemDeDup (Abbas et al. 2023): semantic dedup via IVF cells — any
    // within-cell pair with cosine >= 0.3 is a semantic duplicate, the
    // larger id drops. The oracle recomputes cell assignment (nprobe=1
    // IVF), within-cell pair scoring and the survivor anti-join itself.
    Q("dd_semdedup",
      s"""WITH ${OracleSqlGen.nvCte(64)},
${ivfScoredCtes(64, 1, 64)},
dropped AS (SELECT DISTINCT neighbor_id FROM sc
  WHERE query_id < neighbor_id AND cosine >= 0.3)
SELECT vec_id FROM embeddings WHERE vec_id NOT IN (SELECT neighbor_id FROM dropped)""") { (s, d) =>
      Similarity.semDedupSurvivors(Tables.embeddings(s, d), "vec_id", "embedding",
        threshold = 0.3, numCells = 64)
    },

    // Quality-aware near-dup survivor selection: same MinHash pair set
    // as dd_minhash_neardups, but each pair drops its LOWER-QUALITY
    // member (ties: larger id) instead of the larger id outright — the
    // keep-best policy of a production dedup pass. Oracle recomputes
    // pairs, quality scores and the survivor set end to end.
    Q("dd_quality_canonical",
      s"""WITH ${minhashMd5Ctes("documents", 0.5)},
qv AS (SELECT doc_id, $qualitySql AS quality FROM documents),
losers AS (SELECT DISTINCT CASE WHEN q1.quality < q2.quality THEN nd.id1
  WHEN q2.quality < q1.quality THEN nd.id2
  ELSE greatest(nd.id1, nd.id2) END AS doc_id
  FROM nd JOIN qv q1 ON q1.doc_id = nd.id1 JOIN qv q2 ON q2.doc_id = nd.id2)
SELECT doc_id, quality FROM qv WHERE doc_id NOT IN (SELECT doc_id FROM losers)""") { (s, d) =>
      // Shares the registry's truncated pair feed (identical params):
      // before r18 this free-rode the CacheManager's plan substitution,
      // which cannot see a truncated LogicalRDD (dd_dup_clusters' fix).
      graft.text.CorpusPipeline.keepBestByQuality(Tables.documents(s, d),
        "doc_id", "text", jaccardThreshold = 0.5, shingleN = 2,
        precomputedPairs = Some(graft.ops.CacheOnce.swapTruncated(
          "minhash-md5-neardups",
          Dedup.minhashNearDupsMd5(Tables.documents(s, d), "doc_id", "text",
            numHashes = 32, rowsPerBand = 4, shingleN = 2, threshold = 0.5))))
    },

    // Winnowing fingerprints (rolling-hash document fingerprinting,
    // Schleimer et al.): char 5-grams, window-of-8 minima, distinct per
    // doc, hashed with md5 (lexicographic string min) so DuckDB
    // reproduces them.
    Q("t_fingerprint",
      "WITH base AS (SELECT doc_id, text, " +
        "unnest(generate_series(1, greatest(length(text) - 4, 1))) AS i FROM documents), " +
        "grams AS (SELECT doc_id, i - 1 AS pos, " +
        "md5(substr(text, CAST(i AS INT), 5)) AS h FROM base), " +
        "wins AS (SELECT doc_id, pos, " +
        "min(h) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wmin, " +
        "count(*) OVER (PARTITION BY doc_id) AS m FROM grams) " +
        "SELECT DISTINCT doc_id, wmin AS fingerprint FROM wins " +
        "WHERE pos <= m - 8 OR (m < 8 AND pos = 0)") { (s, d) =>
      graft.text.CorpusStats.winnowFingerprintsNative(
        graft.ops.ScaleOps.splitNarrowInput(Tables.documents(s, d)),
        "doc_id", "text", n = 5, w = 8)
    })

  /** One-time clustering of the accepted set's near-dup pair graph;
    * persists (node, cluster_id) sorted by node (cluster once, merge
    * increments forever) — dd_incremental_clusters' cluster state.
    * Idempotent per documents generation. */
  private val clusterBuild = Build(ClusterState)((s, d) =>
    ClusterState.sorted(s, d, "node")(
      graft.dedup.Dedup.connectedComponents(
        graft.dedup.Dedup.minhashNearDupsMd5(
          Tables.documents(s, d).filter(col("doc_id") % 3 =!= 2),
          "doc_id", "text",
          numHashes = 32, rowsPerBand = 4, shingleN = 2, threshold = 0.5))))

  /** The streamed incremental-cluster pipeline behind
    * st_incremental_clusters(_capped), watermark-bounded (verdict-17
    * task 3): the live LSH collision gate drains through a PERSISTENT
    * append sink + checkpoint (so the source only ever processes new
    * arrivals), and the batch tail verifies ONLY the sink files beyond
    * the verified high-water marker, merges them into the persisted
    * SETTLED cluster state, then advances the marker. The r17 shape
    * cleared the landing and re-verified the whole staged output every
    * drain — per-drain cost rode TOTAL accumulated sink output over the
    * stream's lifetime (SCALE.md measured 18.4 s aged vs 5.7 s fresh);
    * here a drain with nothing new verifies nothing and returns the
    * settled state: aged == fresh by construction, and the measured
    * pair in SCALE.md records it. Crash discipline: the marker advances
    * only after the settled state is durably rewritten, so a crash
    * between merge and advance re-verifies the same files into the
    * same deterministic result (at-least-once into an idempotent
    * merge). Lineage (sink + checkpoint + marker + settled state) is
    * one unit keyed on the documents fingerprint — a regenerated
    * source resets all four (the checkpoint's seen-file log dedupes by
    * path and would otherwise never reprocess). Single-writer per
    * warehouse, like every persisted state.
    *
    * Settled state == incrementalClusters(cluster state, verified
    * pairs) == the full re-cluster oracle, at any drain boundary —
    * verification and merge are deterministic functions of the
    * candidate set, whose parity st_lsh_probe pins. */
  private def watermarkedStreamClusters(s: org.apache.spark.sql.SparkSession,
                                        d: String,
                                        capped: Boolean): org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, d)
    val lineage = if (capped) StCcCapped else StCcCands
    val base = lineage.path(s, d)
    // The cap is part of the lineage: a state rebuild that moves the
    // derived cap must restart the sink (old collisions were gated by
    // the old cap).
    val cap = if (capped) Some(LshState.stat(s, d).toInt) else None
    val fp = lineage.fingerprint(d, cap.fold("")(c => s"|cap=$c"))
    graft.ops.Generation.resetIfStale(base, fp)
    val drain = graft.streaming.LshProbe.candidatesWatermarked(
      s, d, LshState.name(d), base, bandBucketCap = cap)
    val settledDir = s"$base/settled"
    val tmpDir = s"$base/settled_tmp"
    // Crash recovery BEFORE the existence test: a crash inside the
    // publish swap below leaves no settled dir while the marker already
    // lists earlier drains' files as merged — rebuilding from the day-1
    // cluster state would silently lose those increments. The staged
    // tree holds the complete merged state; finish the swap instead.
    graft.ops.ScaleOps.recoverPublishedDir(s, tmpDir, settledDir)
    val settledExists = {
      val p = new org.apache.hadoop.fs.Path(settledDir, "_SUCCESS")
      p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
    }
    if (drain.newFiles.nonEmpty || !settledExists) {
      val priorState =
        if (settledExists) Tables.parquet(s, settledDir)
        else ClusterState.read(s, d)
      val pairs = Dedup.verifyIncrementPairs(
        drain.newPairs.select(col("state_id").as("id1"), col("inc_id").as("id2")),
        docs.filter(col("doc_id") % 3 === 2),
        docs.filter(col("doc_id") % 3 =!= 2),
        "doc_id", "text", numHashes = 32, rowsPerBand = 4,
        shingleN = 2, threshold = 0.5)
      // Durable settled state FIRST, marker advance SECOND (the crash
      // ordering above). Write via tmp + swap so a reader of the
      // settled dir never sees a half-written overwrite; the swap's
      // own crash window is healed by the recovery above.
      Dedup.incrementalClusters(priorState, pairs)
        .write.mode("overwrite").parquet(tmpDir)
      graft.ops.ScaleOps.publishDirSwap(s, tmpDir, settledDir)
      drain.advance()
    }
    Tables.parquet(s, settledDir)
  }

  /** One-time k-means training on the day-1 vectors; persists the k
    * centroids (train once, assign forever). Idempotent per (path,
    * source fingerprint). */
  private val centroidBuild = Build(CentroidState)((s, d) =>
    CentroidState.sorted(s, d, "vec_id")(
      graft.similarity.Similarity.kmeansCentroids(
        Tables.embeddings(s, d).filter(col("vec_id") % 3 =!= 2),
        "vec_id", "embedding", k = 8, iters = 2, dim = 64,
        roundMeans = Some(6))))

  /** ivm_daily_tally's persisted partial-aggregate state (day-1 daily
    * tallies). */
  private val tallyBuild = Build(IvmTally)((s, d) =>
    IvmTally.sorted(s, d, "obs_date")(
      Tables.events(s, d).filter(col("event_id") % 3 =!= 2)
        .groupBy(graft.ops.ColumnOps.toLocalDate(col("ts"), "Australia/Perth")
          .as("obs_date"), col("event_type"))
        .agg(count(lit(1)).as("n"))))

  /** ivm_daily_metrics' persisted partial-aggregate state: the
    * commutative-monoid triple (count(*), count(value), sum(cents)) per
    * (day, type) — everything count/sum/avg maintenance ever needs.
    * Sums persist as EXACT integer cents (events.value is 2-decimal
    * money): double partials would make merge-of-partials differ from
    * the full recompute in summation order, and a rounded presentation
    * then sits one ulp either side of a round-half tie per engine
    * (observed: 42.90625 → 42.9063 Spark HALF_UP / 42.9062 DuckDB
    * half-even). Integer partials + floor-division presentation are
    * tie-free and bit-identical in both engines. */
  private val metricsBuild = Build(IvmMetrics)((s, d) =>
    IvmMetrics.sorted(s, d, "obs_date")(
      Tables.events(s, d).filter(col("event_id") % 3 =!= 2)
        .groupBy(graft.ops.ColumnOps.toLocalDate(col("ts"), "Australia/Perth")
          .as("obs_date"), col("event_type"))
        .agg(count(lit(1)).as("n"), count(col("value")).as("nv"),
          sum(round(col("value") * 100).cast("long")).as("cents"))))

  /** ivm_daily_users' persisted SUPPORT relation: count(DISTINCT x) is
    * not a commutative monoid over counts (2 distinct ∪ 3 distinct is
    * anywhere from 3 to 5), so distinct-count IVM maintains the
    * distinct (day, type, user) triples themselves — the support — and
    * derives the count at presentation. State size rides the support
    * cardinality (bounded by days × types × users), never raw events. */
  private val usersBuild = Build(IvmUsers)((s, d) =>
    IvmUsers.sorted(s, d, "obs_date")(
      Tables.events(s, d).filter(col("event_id") % 3 =!= 2)
        .select(graft.ops.ColumnOps.toLocalDate(col("ts"), "Australia/Perth")
          .as("obs_date"), col("event_type"), col("user_id"))
        .distinct()))

  // ---- ivm_daily_users_hll: deterministic HLL-register sketch ----
  // 64 buckets (p=6) over the md5-derived 64-bit user hash, carried as
  // two non-negative 32-bit words (the md5-twin convention — neither
  // engine parses a >= 2^63 literal): bucket = top 6 bits of the high
  // word, rank input w58 = the remaining 58 bits, rho = leading zeros
  // in the 58-bit window + 1 (1..59). The estimate is raw HLL with
  // alpha = 709/1000 at fixed-point 1e-3 via ONE integer division —
  // ranks clamp at 40 bits (P(rho > 40) = 2^-40; both engines clamp
  // identically, so parity is by construction) so every term and the
  // register sum stay in BIGINT range.

  /** Shared-syntax (Spark SQL == DuckDB) CASE computing rho over a
    * 58-bit value: 59 - bit_length(w), i.e. `w >= 2^57 -> 1`, down to
    * `w = 0 -> 59`. Generated once, used verbatim on both engines —
    * the lockstep that makes the sketch hash-comparable. */
  private def rhoCaseSql(w: String): String = {
    val whens = (57 to 0 by -1).map(k =>
      s"WHEN $w >= ${1L << k} THEN ${58 - k}").mkString(" ")
    s"(CASE $whens ELSE 59 END)"
  }

  /** alpha_m · m² at fixed-point 1e-3 over the 2^40 rank scale:
    * 709/1000 · 64² · 2^40 · 1000 = 709 · 2^52. */
  private lazy val hllEstNumerator: Long = 709L << 52
  private lazy val hllRankScale: Long = 1L << 40

  /** Linear-counting lookup at fixed-point 1e-3: m · ln(m/V) for V in
    * 1..63 — ln computed ONCE here and embedded as integer literals in
    * shared-syntax SQL, so the correction keeps the sketch's
    * everything-is-integers parity (no engine ever evaluates a float).
    * V = 64 (no register touched) means zero users. */
  private def lcCaseSql(v: String): String = {
    val whens = (1 to 63).map { vv =>
      val est = math.round(64.0 * math.log(64.0 / vv) * 1000.0)
      s"WHEN $v = $vv THEN $est"
    }.mkString(" ")
    s"(CASE $whens ELSE 0 END)"
  }

  /** Standard HLL small-range switch at fixed-point: raw estimate up to
    * 2.5·m (· 1000 milli) with zero registers present → linear count. */
  private def hllEstSql(raw: String, vZero: String): String =
    s"(CASE WHEN $vZero > 0 AND $raw <= 160000 THEN ${lcCaseSql(vZero)} ELSE $raw END)"

  /** Per-row (day, type, bucket, rho) rank derivation — strictly
    * narrow (md5 words + the generated rank CASE), so the SAME stage
    * serves the batch sketch builder and the STREAMING register
    * maintenance (st_hll_ingest signs rows with zero pre-aggregation
    * state). */
  private[graft] def hllRowRanks(events: org.apache.spark.sql.DataFrame) =
    events
      .select(graft.ops.ColumnOps.toLocalDate(col("ts"), "Australia/Perth")
          .as("obs_date"), col("event_type"),
        md5(col("user_id").cast("string")).as("_h"))
      .select(col("obs_date"), col("event_type"),
        conv(substring(col("_h"), 1, 8), 16, 10).cast("long").as("_whi"),
        conv(substring(col("_h"), 9, 8), 16, 10).cast("long").as("_wlo"))
      .select(col("obs_date"), col("event_type"),
        shiftright(col("_whi"), 26).as("bucket"),
        shiftleft(col("_whi").bitwiseAND(lit((1L << 26) - 1)), 32)
          .bitwiseOR(col("_wlo")).as("_w58"))
      .select(col("obs_date"), col("event_type"), col("bucket"),
        expr(rhoCaseSql("_w58")).as("rho"))

  /** Per-(day, type, bucket) max-rank registers from raw events —
    * the sketch builder shared by the state prep and the increment
    * side. */
  private[graft] def hllRegisters(events: org.apache.spark.sql.DataFrame) =
    hllRowRanks(events)
      .groupBy(col("obs_date"), col("event_type"), col("bucket"))
      .agg(max(col("rho")).as("r"))

  /** Presentation over merged registers: fixed-point raw-HLL estimate +
    * zero-register count. Absent buckets are rank-0 registers — they
    * contribute the full 2^40 term via (64 - present) · scale. */
  private[graft] def hllPresent(registers: org.apache.spark.sql.DataFrame) =
    registers
      .withColumn("_term",
        expr("shiftleft(CAST(1 AS BIGINT), CAST(40 - least(r, 40) AS INT))"))
      .groupBy(col("obs_date"), col("event_type"))
      .agg(sum(col("_term")).as("_sp"), count(lit(1)).as("_nb"))
      .withColumn("_raw",
        expr(s"$hllEstNumerator div (_sp + (64 - _nb) * $hllRankScale)"))
      .withColumn("_vz", lit(64L) - col("_nb"))
      .select(col("obs_date"), col("event_type"),
        expr(hllEstSql("_raw", "_vz")).as("users_est_milli"),
        col("_vz").as("v_zero"))

  /** Full-recompute oracle: the SAME sketch from ALL events — exact for
    * max-merged registers, so state + increment == full by hash. */
  private lazy val hllUsersOracleSql: String =
    s"""WITH c AS (SELECT CAST(ts + INTERVAL 8 HOUR AS DATE) AS obs_date, event_type,
  md5(CAST(user_id AS VARCHAR)) AS h FROM events),
hw AS (SELECT obs_date, event_type, ${OracleSqlGen.hex8("h", 1)} AS whi,
  ${OracleSqlGen.hex8("h", 9)} AS wlo FROM c),
rb AS (SELECT obs_date, event_type, whi >> 26 AS bucket,
  ((whi & ${(1L << 26) - 1}) << 32) | wlo AS w58 FROM hw),
rr AS (SELECT obs_date, event_type, bucket, max(${rhoCaseSql("w58")}) AS r
  FROM rb GROUP BY 1, 2, 3),
pr AS (SELECT obs_date, event_type,
  sum(1::BIGINT << CAST(40 - least(r, 40) AS INT)) AS sp,
  count(*) AS nb FROM rr GROUP BY 1, 2),
rw AS (SELECT obs_date, event_type,
  CAST($hllEstNumerator // (sp + (64 - nb) * $hllRankScale) AS BIGINT) AS raw,
  CAST(64 - nb AS BIGINT) AS vz FROM pr)
SELECT obs_date, event_type,
  CAST(${hllEstSql("raw", "vz")} AS BIGINT) AS users_est_milli,
  vz AS v_zero
FROM rw"""

  /** Full-recompute bottom-k oracle — shared by the batch IVM query
    * and the streamed custom-state maintenance (st_bottomk_ingest):
    * both must settle to exactly this sample. */
  private lazy val bottomkOracleSql: String =
    "WITH c AS (SELECT CAST(ts + INTERVAL 8 HOUR AS DATE) AS obs_date, event_type, " +
      "event_id, md5(CAST(event_id AS VARCHAR)) AS rk FROM events), " +
      "w AS (SELECT *, row_number() OVER (PARTITION BY obs_date, event_type " +
      "ORDER BY rk, event_id) AS rn FROM c) " +
      "SELECT obs_date, event_type, event_id, CAST(rn AS BIGINT) AS sample_rank " +
      "FROM w WHERE rn <= 32"

  /** Per-event deterministic sample rank — md5 over the unique event
    * id; lexicographic hex IS the rank order, shared verbatim with the
    * oracle's md5(CAST(event_id AS VARCHAR)). */
  private def bottomkRanked(events: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val g = Window.partitionBy(col("obs_date"), col("event_type"))
      .orderBy(col("rk"), col("event_id"))
    events
      .select(graft.ops.ColumnOps.toLocalDate(col("ts"), "Australia/Perth")
          .as("obs_date"), col("event_type"), col("event_id"),
        md5(col("event_id").cast("string")).as("rk"))
      .withColumn("_rn", row_number().over(g))
      .filter(col("_rn") <= 32)
      .drop("_rn")
  }

  /** ivm_bottomk_sample's persisted state: day-1 events reduced to the
    * 32 rank-smallest per (day, type) — k rows per group forever. */
  private val bottomkBuild = Build(IvmBottomk)((s, d) =>
    IvmBottomk.sorted(s, d, "obs_date")(
      bottomkRanked(Tables.events(s, d).filter(col("event_id") % 3 =!= 2))))

  /** ivm_daily_users_hll's persisted REGISTER state: day-1 events
    * reduced to (day, type, bucket, max rank) — O(groups · 64) rows no
    * matter how many events or users day 1 held. */
  private val hllBuild = Build(IvmHll)((s, d) =>
    IvmHll.sorted(s, d, "obs_date")(
      hllRegisters(Tables.events(s, d).filter(col("event_id") % 3 =!= 2))))

  /** ivm_daily_quantiles' persisted SKETCH state: per-(day, type)
    * dollar-bucket histograms of `value` — the mergeable-summary
    * treatment of a NON-algebraic aggregate (a median has no partial
    * you can add, but histograms union by summing bucket counts, and
    * the quantile is DEFINED on the histogram, so merge-of-sketches ==
    * sketch-of-all exactly). Bucket = floor(value), domain-bounded
    * (~500 buckets), so state rides days × types × buckets — never raw
    * events. */
  private def quantBuckets(df: org.apache.spark.sql.DataFrame) =
    // NULL values are dropped BEFORE bucketing (symmetrically with the
    // oracle's WHERE value IS NOT NULL): a null bucket would otherwise
    // ride each engine's own NULL sort order through the cumulative
    // walk — Spark windows put NULLS FIRST, DuckDB NULLS LAST — and
    // shift every quantile in a null-bearing group. The schema allows
    // nulls (value is Option[Double]); parity must not hinge on
    // fixtures happening to contain none.
    df.filter(col("value").isNotNull)
      .groupBy(graft.ops.ColumnOps.toLocalDate(col("ts"), "Australia/Perth")
        .as("obs_date"), col("event_type"),
      floor(col("value")).cast("long").as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  private val quantBuild = Build(IvmQuant)((s, d) =>
    IvmQuant.sorted(s, d, "obs_date")(
      quantBuckets(Tables.events(s, d).filter(col("event_id") % 3 =!= 2))))

  /** ivm_join_agg's persisted day-1 JOIN-aggregate state: the
    * orders ⋈ lineitem daily quantity rollup over the day-1 slices of
    * BOTH tables. The increment merge uses the standard delta-join
    * rule — Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB — so the old⋈old join (the
    * O(history²-ish) term) is never recomputed; each delta term joins
    * an increment against a base or another increment. The state is
    * keyed on BOTH sources ([[graft.ops.PersistedState.IvmJoinAgg]]). */

  /** Old/new split predicates for the two join sides — INDEPENDENT keys
    * (lineitem splits on orderkey + linenumber) so every delta term is
    * non-degenerate: a same-key split would make ΔL ⋈ O_old vacuously
    * empty and the delta rule untested. */
  private def ordersOld(o: org.apache.spark.sql.DataFrame) =
    o.filter(col("o_orderkey") % 3 =!= 2)
  private def ordersNew(o: org.apache.spark.sql.DataFrame) =
    o.filter(col("o_orderkey") % 3 === 2)
  private def lineitemOld(l: org.apache.spark.sql.DataFrame) =
    l.filter((col("l_orderkey") + col("l_linenumber")) % 3 =!= 2)
  private def lineitemNew(l: org.apache.spark.sql.DataFrame) =
    l.filter((col("l_orderkey") + col("l_linenumber")) % 3 === 2)

  private def joinAggPartial(o: org.apache.spark.sql.DataFrame,
                             l: org.apache.spark.sql.DataFrame) =
    o.select(col("o_orderkey"), to_date(col("o_orderdate")).as("order_date"))
      .join(l.select(col("l_orderkey").as("o_orderkey"),
        col("l_quantity").cast("long").as("qty")), Seq("o_orderkey"))
      .groupBy(col("order_date"))
      .agg(sum(col("qty")).as("total_qty"), count(lit(1)).as("n_items"))

  private val joinAggBuild = Build(IvmJoinAgg)((s, d) =>
    IvmJoinAgg.sorted(s, d, "order_date")(
      joinAggPartial(ordersOld(Tables.orders(s, d)),
        lineitemOld(Tables.lineitem(s, d)))))

  /** The UNCAPPED increment-bounded verified pair feed, truncated ONCE
    * per source generation and shared by its three consumers
    * (dd_incremental_clusters, pg_incremental_pagerank,
    * pg_incremental_triangles) — r19: each of the three previously
    * materialized the identical probe+verify chain under its own
    * truncation name (incr-cluster-pairs / ipr-inc-edges / itri-delta),
    * so the chain executed three times per session (once per family
    * member's first action — ~40 s-cpu each at sf0.1) and the Verify
    * gate paid it three times. Downstream truncations (cluster pairs,
    * symmetrized edges, triangle delta) key on this feed's LogicalRDD
    * leaf, which changes with the generation — staleness rides the
    * fingerprint in THIS name.
    *
    * The feed's scale claims are REQUIREd on every call and so for
    * whichever family member builds the feed first: the bucketed LSH
    * state enters its probe join exchange-free (StateProbe, on the
    * probe's own plan), and, from the feed's own un-truncated plan
    * (PlanChecks descends into the CacheOnce'd stages), no documents
    * scan is the unfiltered corpus — every one carries the
    * increment/state modulo split — and the state-side text rescan is
    * collision-pruned (a left-semi sits above it). */
  private def sharedUncappedIncPairs(s: org.apache.spark.sql.SparkSession,
                                     d: String): org.apache.spark.sql.DataFrame = {
    import graft.plans.PlanChecks
    val docs = Tables.documents(s, d)
    val feed = Dedup.incrementalNearDupPairs(
      docs.filter(col("doc_id") % 3 === 2),
      docs.filter(col("doc_id") % 3 =!= 2),
      lshProbeState(s, d),
      "doc_id", "text", numHashes = 32, rowsPerBand = 4,
      shingleN = 2, threshold = 0.5, bandBucketCap = None)
    val plan = feed.queryExecution.executedPlan
    val docScans = PlanChecks.fileScanPaths(plan, "documents")
    require(docScans.nonEmpty,
      "no documents scan found in the incremental pair feed plan")
    docScans.foreach { case (scan, path) =>
      require(PlanChecks.pathHasPredicate(scan, path, "% 3"),
        "unfiltered full-corpus documents scan in the incremental " +
          "pair feed — the O(corpus) sketch the incremental family exists to avoid")
    }
    require(docScans.exists { case (_, path) => PlanChecks.pathHasLeftSemi(path) },
      "state-side text rescan is not collision-pruned (no left-semi above it)")
    graft.ops.CacheOnce.swapTruncated("incr-nd-pairs-uncapped", feed)
  }

  /** LSH band state + the VERDICT-path band cap, persisted at state-build time: cap =
    * greatest([[lshBandBucketCap]], 4 · mean band-bucket size) over the
    * persisted band table — the same audit-derived treatment the ER
    * block cap got (EntityResolution.blockedCandidates derivedCap),
    * applied to the LSH family. Computed ONCE when the state is built
    * (a layout statistic, like the fingerprint — probes must stay
    * O(increment), so they read the published `graft.stat` instead of
    * re-scanning the state), reported by dd_band_audit, and consumed by
    * dd_incremental_neardup. Since r17 this derived cap is the ONE
    * policy for every probe path — verdict AND budget alike
    * (st_lsh_probe, st_incremental_clusters_capped, pipe_* and the
    * SimHash/cosine gates via their own states' caps): a fixed
    * cap inverts at high dup density — every bucket crosses it, the
    * probe surfaces nothing, and every increment doc is silently
    * marked unique, the worst failure an acceptance gate can have
    * (dd_cap_recall_audit measured the retired fixed-16 budget at
    * pair recall 0.39 at 30× density). Per-drain cost stays bounded:
    * the cap is a constant of the state GENERATION (4 · mean bucket
    * size at build time), so a drain's fan-out is capped at a number
    * fixed before the drain starts — it grows only when the state is
    * rebuilt denser, which is the accountable trade the audit row
    * records.
    *
    * One-time bucketed CTAS of the accepted set's LSH band buckets
    * (doc_id, band_key), bucketed on band_key — the probe-join key — so
    * every later increment probes it exchange-free, with the derived cap
    * published from the freshly built table in the same step
    * (`LshState.stat`), so cap and state can never drift. */
  private val lshBuild = Build(LshState)((s, d) =>
    LshState.bucketed(s, d, Seq("band_key"), cap = Some(tailCap)) {
      val sets = Tables.documents(s, d).filter(col("doc_id") % 3 =!= 2)
        .select(col("doc_id"),
          explode(graft.dedup.Dedup.distinctShingles(col("text"), 2)).as("shingle"))
      graft.dedup.Dedup.bandKeys(sets, "doc_id", 32, 4)
    })

  /** The LSH band state as its probes read it: checked under "LSH state". */
  private def lshProbeState(s: org.apache.spark.sql.SparkSession, d: String) =
    StateProbe.Persisted(s, d, LshState, "LSH state")

  /** The tail-aware derived cap of the LSH, SimHash and cosine states:
    * greatest([[lshBandBucketCap]], 4 · mean bucket size, p99 bucket
    * size) — the state-side twin of [[tailCapExpr]]. */
  private lazy val tailCap =
    graft.ops.KeyCap(lshBandBucketCap.toLong, 4L, tail = true)

  /** One-time bucketed CTAS of the accepted set's SimHash Manku keys
    * (doc_id, sig_hi, sig_lo, mkey), bucketed on mkey — the probe-join
    * key — plus the derived verdict-path bucket cap published with the
    * freshly built table ([[lshBuild]]'s policy applied to the
    * SimHash family: the cap is a layout statistic, computed once at
    * state-build time, so probes stay O(increment)). */
  private val simhashBuild = Build(SimhashState)((s, d) =>
    SimhashState.bucketed(s, d, Seq("mkey"), cap = Some(tailCap))(
      graft.dedup.Dedup.simhashMankuKeysMd5(
        graft.dedup.Dedup.simhashMd5(
          Tables.documents(s, d).filter(col("doc_id") % 3 =!= 2),
          "doc_id", "text"), "doc_id")))

  // ---- dq_incremental_profile: maintained per-column profile ----

  private lazy val dqProfCols = Seq("doc_id", "text", "lang", "source", "n_chars")

  /** Long form of the documents table for profiling: one (col_name,
    * string-rendered value) row per column per doc — null preserved,
    * so null accounting rides count(*) - count(v) on both engines. */
  private def dqProfLong(docs: org.apache.spark.sql.DataFrame) =
    dqProfCols.map(c => docs.select(lit(c).as("col_name"),
        col(c).cast("string").as("v")))
      .reduce(_.unionByName(_))

  /** Per-column monoid count partials. */
  private def dqProfCounts(docs: org.apache.spark.sql.DataFrame) =
    dqProfLong(docs).groupBy(col("col_name"))
      .agg(count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col("v"))).as("n_nulls"))

  /** Per-(column, bucket) HLL max-rank registers over non-null values
    * — the same deterministic sketch ivm_daily_users_hll rides, keyed
    * by column. */
  private def dqProfRegisters(docs: org.apache.spark.sql.DataFrame) =
    dqProfLong(docs).filter(col("v").isNotNull)
      .select(col("col_name"), md5(col("v")).as("_h"))
      .select(col("col_name"),
        conv(substring(col("_h"), 1, 8), 16, 10).cast("long").as("_whi"),
        conv(substring(col("_h"), 9, 8), 16, 10).cast("long").as("_wlo"))
      .select(col("col_name"),
        shiftright(col("_whi"), 26).as("bucket"),
        shiftleft(col("_whi").bitwiseAND(lit((1L << 26) - 1)), 32)
          .bitwiseOR(col("_wlo")).as("_w58"))
      .groupBy(col("col_name"), col("bucket"))
      .agg(max(expr(rhoCaseSql("_w58"))).as("r"))

  /** dq_incremental_profile's persisted states are built over the
    * day-1 docs: per-column count partials ([[DqProfCounts]]) and
    * per-(column, bucket) HLL registers ([[DqProfRegs]]) — O(cols) +
    * O(cols x 64) rows no matter the corpus size. */
  private def dqProfDay1(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d).filter(col("doc_id") % 3 =!= 2)

  /** dq_incremental_profile oracle: the SAME profile recomputed over
    * ALL documents — counts are monoids and registers max-merge, so
    * state + increment == full by hash. */
  private lazy val dqIncProfileSql: String = {
    val unions = dqProfCols.map(c =>
      s"SELECT '$c' AS col_name, CAST($c AS VARCHAR) AS v FROM documents")
      .mkString(" UNION ALL ")
    s"""WITH u AS ($unions),
cnt AS (SELECT col_name, CAST(count(*) AS BIGINT) AS n_rows,
  CAST(count(*) - count(v) AS BIGINT) AS n_nulls FROM u GROUP BY 1),
hw AS (SELECT col_name, ${OracleSqlGen.hex8("h", 1)} AS whi,
  ${OracleSqlGen.hex8("h", 9)} AS wlo FROM (
  SELECT col_name, md5(v) AS h FROM u WHERE v IS NOT NULL)),
rb AS (SELECT col_name, whi >> 26 AS bucket,
  ((whi & ${(1L << 26) - 1}) << 32) | wlo AS w58 FROM hw),
rr AS (SELECT col_name, bucket, max(${rhoCaseSql("w58")}) AS r
  FROM rb GROUP BY 1, 2),
pr AS (SELECT col_name,
  sum(1::BIGINT << CAST(40 - least(r, 40) AS INT)) AS sp,
  count(*) AS nb FROM rr GROUP BY 1),
rw AS (SELECT col_name,
  CAST($hllEstNumerator // (sp + (64 - nb) * $hllRankScale) AS BIGINT) AS raw,
  CAST(64 - nb AS BIGINT) AS vz FROM pr)
SELECT c.col_name, c.n_rows, c.n_nulls,
  CAST(${hllEstSql("raw", "vz")} AS BIGINT) AS distinct_est_milli
FROM cnt c JOIN rw ON rw.col_name = c.col_name"""
  }

  /** The persisted suite-shingle Bloom filter (built at state-build time
    * over the CAPPED index — see [[contamBuild]]), deserialized
    * from its 1-row checkpoint and returned WITH the cap it was built at
    * (the persisted derived cap — the pair [[graft.dedup.Dedup
    * .incrementalContamination]]'s bloom parameter now requires, so a
    * probe can never silently pair this filter with a looser cap).
    * Driver-small: a few MB of bits at 1% fpp over the suite's distinct
    * shingles. Memoized by [[graft.ops.CacheOnce.value]] over the
    * checkpoint's read: two probes of the same state (the incremental
    * query + the guarded pipeline) parse the hex once, while a state
    * rebuilt in place re-reads. */
  private[queries] def contamStateBloom(s: org.apache.spark.sql.SparkSession,
                                        d: String): (org.apache.spark.util.sketch.BloomFilter, Int) = {
    val checkpoint = ContamBloom.read(s, d)
    graft.ops.CacheOnce.value("contam-bloom", checkpoint)(
      (graft.functions.BloomFunctions.fromHex(checkpoint.head().getString(0)),
        ContamState.stat(s, d).toInt))
  }

  /** One-time bucketed CTAS of the TEST SUITE's distinct 3-shingles
    * (test_id, shingle, df), bucketed on shingle — the probe-join key of
    * incremental decontamination. Per-shingle doc frequency is computed
    * ONCE here (the window rides the CTAS's own bucketing shuffle) and
    * stored as an index column, so every later probe applies the cap as
    * a scan predicate instead of re-windowing |state| per refresh. Two
    * derived layout statistics go with the index: the df cap
    * (greatest(8, 4 · mean test-side df), published with the index as
    * `graft.stat`, like every other derived cap) and the capped index's
    * shingle Bloom filter (1% fpp, hex-serialized 1-row checkpoint) that
    * prefilters each increment's shingles in their scan stage. */
  private val contamBuild = Build(ContamState) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    ContamState.bucketed(s, d, Seq("shingle"),
      cap = Some(graft.ops.KeyCap(8L, 4L, tail = false)))(
      Tables.documents(s, d).filter(col("doc_id") % 2 === 1)
        .select(col("doc_id").as("test_id"),
          explode(graft.dedup.Dedup.distinctShingles(col("text"), 3)).as("shingle"))
        .withColumn("df", count(lit(1)).over(Window.partitionBy("shingle"))))
  }

  /** The capped shingle index's Bloom filter ([[contamBuild]]),
    * built from the published index and its cap. */
  private val contamBloomBuild = Build(ContamBloom, ContamState)((s, d) =>
    ContamBloom.sorted(s, d, "bloom_hex") {
      val cap = ContamState.stat(s, d)
      val keys = ContamState.table(s, d)
        .filter(col("df") <= cap).select(col("shingle")).distinct()
      val bf = keys.stat.bloomFilter("shingle", math.max(keys.count(), 1L), 0.01)
      import s.implicits._
      Seq(graft.functions.BloomFunctions.toHex(bf)).toDF("bloom_hex")
    })

  /** The test-suite shingle index as its probes read it, and its df cap
    * as a scan predicate on the build-time `df` column. */
  private def contamProbeState(s: org.apache.spark.sql.SparkSession, d: String) =
    StateProbe.Persisted(s, d, ContamState, "test-suite shingle index")
  private def contamCap(s: org.apache.spark.sql.SparkSession, d: String) =
    Some(StateProbe.SizeColumn("df", ContamState.stat(s, d)))

  /** One-time bucketed CTAS of the accepted set's sign-LSH bucket rows
    * (vec_id, tb_key), bucketed on tb_key — the probe-join key — plus
    * the derived verdict-path bucket cap (the [[lshBuild]] policy
    * applied to the embedding modality). */
  private val cosineBuild = Build(CosineState)((s, d) =>
    CosineState.bucketed(s, d, Seq("tb_key"), cap = Some(tailCap))(
      graft.dedup.Dedup.cosineBucketKeys(
        Tables.embeddings(s, d).filter(col("vec_id") % 3 =!= 2),
        "vec_id", "embedding")))

  /** The closes' pair state: the canonical (src < dst) edge set of the
    * edge state, bucketed AND sorted on the closes' composite join key
    * (src, dst) — see Triangles.incrementalPerNodeCounts' 4-arg doc for
    * why the src-bucketed adjacency cannot serve these joins
    * exchange-free (requireAllClusterKeysForCoPartition); |E| rows.
    * Bucket count derived from the pair state's own size (the layout
    * contract — keys, sort, sizing policy — rides graft.layout, so the
    * old hand-written "|src,dst" fingerprint bump is retired). */
  private val pairBuild = Build(PgPairs, PgEdges)((s, d) =>
    PgPairs.bucketed(s, d, Seq("src", "dst"))(
      PgEdges.table(s, d).filter(col("src") < col("dst"))))

  /** One-time triangle-count checkpoint over EXACTLY the persisted edge
    * state ("count once, maintain forever") — computed from the state
    * table itself so checkpoint and edges can never drift. Shares the
    * edge-state CTAS with pg_incremental_pagerank: one graph, two
    * maintained signals (rank + local clustering). The checkpoint is one
    * row per state-graph node in >= 1 triangle — the additive state the
    * delta decomposition merges into. Idempotent per documents
    * generation. */
  private val triangleBuild = Build(PgTris, PgEdges)((s, d) =>
    PgTris.sorted(s, d, "id")(
      graft.graph.Triangles.perNodeCounts(
        PgEdges.table(s, d).filter(col("src") < col("dst"))
          .select(col("src").as("id1"), col("dst").as("id2")))))

  /** One-time edge-state CTAS: the bucketed symmetrized near-dup graph
    * of the accepted docs, bucketed AND sorted on `src` — the probe-join
    * column of every PageRank superstep, so the |E|-sized frame rides
    * its layout through every refresh round with no exchange.
    * Idempotent per documents generation. */
  private val edgeBuild = Build(PgEdges) { (s, d) =>
    // Sorted on BOTH keys (r16 advisory): the triangle closes are
    // sort-merge joins on (src, dst), and a src-only sort spec made
    // every refresh pay two full-state per-partition sorts. The old
    // "|src,dst" fingerprint bump is retired — keys/sort/count now
    // ride the graft.layout property, so ANY layout change rebuilds
    // (stale generations are ops_state_gc's to collect). The bucket
    // count is derived from the edge state's own staged size.
    val (built, _) = PgEdges.bucketed(s, d, Seq("src"),
      sortCols = Seq("src", "dst"))(
      graft.graph.PageRank.symmetrize(
        graft.dedup.Dedup.minhashNearDupsMd5(
          Tables.documents(s, d).filter(col("doc_id") % 3 =!= 2),
          "doc_id", "text",
          numHashes = 32, rowsPerBand = 4, shingleN = 2, threshold = 0.5)))
    // The rank build's `symmetric = true` waiver rests on "the edge
    // table IS a symmetrize() CTAS" — but every LATER call reads the
    // table back, so the claim is checked ONCE per fingerprint, where
    // the table is written (see PageRank.assertNoDangles).
    if (built)
      graft.graph.PageRank.assertNoDangles(PgEdges.table(s, d),
        s"edge state ${PgEdges.name(d)}")
  }

  /** The from-uniform rank trajectory over the edge state ("rank once,
    * refresh forever"): one row per state-graph node, the 6-decimal
    * checkpoint the refresh seeds from — pageRank(3 supersteps) over
    * EXACTLY the persisted edge table, so seed and state can never
    * drift. */
  private val rankBuild = Build(PgRanks, PgEdges) { (s, d) =>
    // symmetric = true: the edge table IS a symmetrize() CTAS (dst ⊆ src
    // asserted at its build), so the dangle guard is waived by
    // construction — the same waiver pg_pagerank takes on its inline
    // symmetrize output.
    val builtRank = PgRanks.sorted(s, d, "id")(
      graft.graph.PageRank.pageRank(PgEdges.table(s, d),
        iters = 3, damping = 0.85, roundTo = 6, symmetric = true))
    // pageRank persisted the BARE edge-table scan for its supersteps
    // ("pagerank-edges"). Build-scoped only: left in the CacheManager it
    // shadows every later `s.table(edge state)` scan of the session with
    // an InMemoryRelation, whose scan forgets the table's bucketing —
    // the probe joins then re-shuffle the state side and the
    // exchange-free REQUIREs fail (first seen as pg_incremental_triangles
    // failing in any FRESH-warehouse session, invisible in warm ones
    // where built = false and pageRank never ran).
    if (builtRank) {
      graft.ops.CacheOnce.release("pagerank-edges")
      graft.ops.CacheOnce.release("pagerank-deg")
    }
  }

  /** One-time bucketed CTAS of dd_incremental's digest state ("write
    * once, anti-join forever"); the query reads its derived bucket count
    * back from the published table. */
  private val dedupBuild = Build(DedupState)((s, d) =>
    DedupState.bucketed(s, d, Seq("content_hash"))(
      Tables.documents(s, d).filter(col("doc_id") % 3 =!= 2)
        .select(md5(col("text")).as("content_hash")).distinct()))

  /** Every prepared state of the corpus, IVM and graph queries, each with
    * its one build: `Build(family, families its build reads*)`. */
  val builds: Seq[Build] = Seq(dedupBuild, lshBuild, simhashBuild, cosineBuild,
    contamBuild, contamBloomBuild, centroidBuild, clusterBuild, tallyBuild,
    metricsBuild, usersBuild, hllBuild, bottomkBuild, quantBuild, joinAggBuild,
    Build(DqProfCounts)((s, d) =>
      DqProfCounts.sorted(s, d, "col_name")(dqProfCounts(dqProfDay1(s, d)))),
    Build(DqProfRegs)((s, d) =>
      DqProfRegs.sorted(s, d, "col_name")(dqProfRegisters(dqProfDay1(s, d)))),
    edgeBuild, rankBuild, pairBuild, triangleBuild)
}
