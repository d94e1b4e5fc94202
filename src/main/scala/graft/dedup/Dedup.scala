package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.text.TextFunctions

/** Deduplication operators for corpus-scale pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard.
  *
  * Scale design, per operator:
  *  - Exact: one hash-aggregate over a 128-bit content fingerprint — one
  *    shuffle keyed by digest, no text comparison ever crosses the wire.
  *  - MinHash+LSH: shingle explode -> k min-hash partial aggregates (one
  *    shuffle, map-side combined) -> banding -> bucket self-join. Only
  *    same-bucket pairs are ever compared; cost is bounded by bucket
  *    population, not corpus².
  *  - SimHash: one native pass per doc folds md5 token hashes into a
  *    64-bit signature; near-dup = signature Hamming distance, joined on
  *    Manku block-combination keys.
  *  - n-gram Jaccard: exact verification for candidate pairs (or small
  *    corpora) via distinct-token self-join — the brute-force baseline the
  *    sketches approximate.
  *  - Incremental (`incremental*`): each increment sketches only itself
  *    and probes the accepted set's persisted key state through
  *    [[StateProbe]] (cap, exchange-free join, layout check, self-pairs,
  *    best-witness verdict); only the keys and the verify step are
  *    per family.
  */
object Dedup {

  /** Exact duplicate groups by content digest (hash-groupBy).
    * Returns one row per distinct content with its cardinality and the
    * smallest id (the canonical survivor). */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(md5(col(textCol)).as("content_hash"), col(idCol))
      .groupBy("content_hash")
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keep_id"))

  /** Word n-gram shingles of a text column — the native one-pass
    * [[graft.functions.WordShingles]] expression (tokenize + join fused;
    * the HOF formulation's per-position slice/concat lambdas made this
    * first full text pass the profile-dominant stage of the pipeline). */
  def shingles(textCol: Column, n: Int): Column =
    graft.functions.ShingleFunctions.shingles(textCol, n)

  /** `array_distinct(shingles(...))` fused into the same pass. */
  def distinctShingles(textCol: Column, n: Int): Column =
    graft.functions.ShingleFunctions.distinctShingles(textCol, n)

  /** Exact Jaccard for candidate pairs given exploded distinct element
    * sets (id, element). Shuffles by element and by pair — both keyed,
    * both combinable. */
  def verifyJaccard(pairs: DataFrame, sets: DataFrame, idCol: String,
                    threshold: Double): DataFrame = {
    val sizes = sets.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val inter = pairs
      .join(sets.withColumnRenamed(idCol, "id1").withColumnRenamed("shingle", "e1"), Seq("id1"))
      .join(sets.withColumnRenamed(idCol, "id2").withColumnRenamed("shingle", "e2"), Seq("id2"))
      .filter(col("e1") === col("e2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed(idCol, "id1").withColumnRenamed("sz", "sz1"), Seq("id1"))
      .join(sizes.withColumnRenamed(idCol, "id2").withColumnRenamed("sz", "sz2"), Seq("id2"))
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** Exact pairwise n-gram (word) Jaccard above a threshold — brute-force
    * baseline; use [[minhashNearDupsMd5]] at scale. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double): DataFrame = {
    val sets = df.select(col(idCol),
      explode(distinctShingles(col(textCol), n)).as("shingle"))
    val allPairs = sets.withColumnRenamed(idCol, "id1").withColumnRenamed("shingle", "e1")
      .join(sets.withColumnRenamed(idCol, "id2").withColumnRenamed("shingle", "e2"),
        col("e1") === col("e2") && col("id1") < col("id2"))
      .select("id1", "id2")
    verifyJaccard(allPairs.distinct(),
      sets, idCol, threshold)
  }

  // ---- md5 sketches ------------------------------------------------
  //
  // Every sketch hashes with md5-derived material (32-bit words parsed
  // from hex nibbles, combined with plain integer arithmetic) because an
  // independent engine such as DuckDB can re-derive md5, but not Spark's
  // own seeded hash functions. So the oracle recomputes each whole
  // pipeline — signatures, banding, candidate join, verification — bit
  // for bit. Names keep their `Md5` suffix, and memo keys their `md5`
  // tag, so callers and memo keys stay stable.

  /** MinHash signature from an already-exploded distinct (id, shingle)
    * set, one `mh_i` column per permutation, 2-word affine
    * construction (Kirsch & Mitzenmacher's two-hash scheme): ONE md5
    * per shingle, split into two 32-bit words (big-endian hex parse of
    * nibbles 1-8 and 9-16), with permutation i's value the affine
    * combination `(w1 + i*w2) mod 2^32`. One string hash per shingle
    * instead of k — the per-shingle cost no longer scales with the
    * signature width — while every derived number stays recomputable by
    * any engine with md5 + integer arithmetic (max intermediate is
    * `w1 + 31*w2 < 2^37`, far inside BIGINT, so ANSI overflow semantics
    * never trigger). */
  def minhashSignaturesFromSetsMd5(sets: DataFrame, idCol: String,
                                   numHashes: Int): DataFrame = {
    val h = md5(col("shingle"))
    val words = sets.select(col(idCol),
      conv(substring(h, 1, 8), 16, 10).cast("long").as("_w1"),
      conv(substring(h, 9, 8), 16, 10).cast("long").as("_w2"))
    val aggs = (0 until numHashes).map(i =>
      min((col("_w1") + lit(i.toLong) * col("_w2")) % lit(4294967296L)).as(s"mh_$i"))
    words.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** (id, band_idx, band_hash) bucket rows, md5 banding: the band
    * key is the '|'-joined decimal rendering of the band's signature
    * values in permutation order — a direct composite key, no further
    * hashing needed (the join is on equality, not on key width). */
  private[graft] def bandBucketsMd5(sigs: DataFrame, idCol: String,
                                    numHashes: Int, rowsPerBand: Int): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val bands = (0 until numBands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"mh_$i"))
      struct(lit(b).as("band_idx"), concat_ws("|", cols: _*).as("band_hash"))
    }
    sigs.select(col(idCol), explode(array(bands: _*)).as("band"))
      .select(col(idCol), col("band.band_idx"), col("band.band_hash"))
  }

  /** (id, band_key) rows for LSH-state probing: the band identity
    * collapsed to ONE composite string column (bandIdx ':' bandHash) so
    * a persisted state table can bucket on exactly the probe-join key.
    * The single source of the band_key format — the state writer, the
    * increment prober and the specs must all agree or the probe finds
    * zero collisions and silently accepts everything. */
  def bandKeys(sets: DataFrame, idCol: String, numHashes: Int,
               rowsPerBand: Int): DataFrame =
    bandBucketsMd5(minhashSignaturesFromSetsMd5(sets, idCol, numHashes),
      idCol, numHashes, rowsPerBand)
      .select(col(idCol),
        concat(col("band_idx").cast("string"), lit(":"), col("band_hash"))
          .as("band_key"))

  /** LSH banding: candidate pairs (id1 < id2) are ids sharing any
    * (band_idx, band_hash) bucket of [[bandBucketsMd5]]. */
  def lshCandidatePairsMd5(sigs: DataFrame, idCol: String, numHashes: Int,
                           rowsPerBand: Int): DataFrame = {
    val buckets = bandBucketsMd5(sigs, idCol, numHashes, rowsPerBand)
    val l = buckets.as("l")
    val r = buckets.as("r")
    l.join(r,
        col("l.band_idx") === col("r.band_idx") &&
        col("l.band_hash") === col("r.band_hash") &&
        col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id1"), col(s"r.$idCol").as("id2"))
      .distinct()
  }

  /** Exact Jaccard for CROSS-corpus candidate pairs: id1 draws its
    * shingle set from `setsA`, id2 from `setsB`. Same shuffle shape as
    * [[verifyJaccard]] (keyed by element, then by pair). */
  private def verifyJaccardCross(pairs: DataFrame, setsA: DataFrame,
                                 setsB: DataFrame, idCol: String,
                                 threshold: Double): DataFrame = {
    val szA = setsA.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val szB = setsB.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val inter = pairs
      .join(setsA.withColumnRenamed(idCol, "id1").withColumnRenamed("shingle", "e1"), Seq("id1"))
      .join(setsB.withColumnRenamed(idCol, "id2").withColumnRenamed("shingle", "e2"), Seq("id2"))
      .filter(col("e1") === col("e2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("inter"))
    inter
      .join(szA.withColumnRenamed(idCol, "id1").withColumnRenamed("sz", "sz1"), Seq("id1"))
      .join(szB.withColumnRenamed(idCol, "id2").withColumnRenamed("sz", "sz2"), Seq("id2"))
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** Cross-corpus contamination detection (the decontamination pass of a
    * training pipeline): find (train_id, test_id) pairs whose word-
    * shingle Jaccard reaches `threshold`, via the SAME MinHash+LSH shape
    * as [[minhashNearDupsMd5]] but with the band-bucket join taken
    * BETWEEN the two corpora — candidates are bucket-keyed, never
    * |train| x |test|. md5 hashing, so an independent engine can
    * recompute the whole pass. Output: (train_id, test_id, jaccard). */
  def crossCorpusNearDupsMd5(train: DataFrame, test: DataFrame, idCol: String,
                             textCol: String, numHashes: Int = 32,
                             rowsPerBand: Int = 4, shingleN: Int = 3,
                             threshold: Double = 0.8): DataFrame = {
    def sets(df: DataFrame, key: String) = graft.ops.CacheOnce.swap(key,
      df.select(col(idCol),
        explode(distinctShingles(col(textCol), shingleN)).as("shingle")))
    val setsA = sets(train, "contamination-train-shingles")
    val setsB = sets(test, "contamination-test-shingles")
    val bA = bandBucketsMd5(minhashSignaturesFromSetsMd5(setsA, idCol, numHashes),
      idCol, numHashes, rowsPerBand)
    val bB = bandBucketsMd5(minhashSignaturesFromSetsMd5(setsB, idCol, numHashes),
      idCol, numHashes, rowsPerBand)
    val cands = bA.select(col(idCol).as("id1"), col("band_idx"), col("band_hash"))
      .join(bB.select(col(idCol).as("id2"), col("band_idx"), col("band_hash")),
        Seq("band_idx", "band_hash"))
      .select("id1", "id2").distinct()
    verifyJaccardCross(cands, setsA, setsB, idCol, threshold)
      .select(col("id1").as("train_id"), col("id2").as("test_id"), col("jaccard"))
  }

  // ---- increments against persisted key state ----------------------
  //
  // Every `incremental*` family below (and the probe gates under
  // graft.streaming) probes its state through [[StateProbe]]; a family
  // supplies only its increment's keys and its verify step.

  /** Incremental NEAR-dup dedup against persisted LSH state — the
    * [[incrementalDedup]] shape for near-duplicates: a corpus grows by
    * crawl increments, and re-sketching + self-joining the whole corpus
    * per day is O(corpus) forever. Instead the accepted set's LSH band
    * buckets persist as STATE (one row per (doc, band), keyed by
    * `band_key` = bandIdx ':' bandHash — a single composite column so
    * the state table buckets on exactly the probe-join key); each
    * increment sketches only ITSELF, probes the state by band_key
    * (state side rides its bucketing, never re-shuffles), then exact
    * Jaccard verifies the collisions — candidates are bucket-keyed,
    * never |state| x |increment|. State shingle sets are recomputed only
    * for docs that COLLIDED (left-semi on candidate ids → the corpus
    * scan is pruned to true suspects). Returns one verdict row per
    * increment doc: (idCol, accepted, best_state_id, best_jaccard) with
    * the best witness chosen deterministically (jaccard desc, state id
    * asc); accepted docs carry nulls. */
  def incrementalNearDups(incDocs: DataFrame, stateDocs: DataFrame,
                          stateBands: StateProbe.State, idCol: String, textCol: String,
                          numHashes: Int = 32, rowsPerBand: Int = 4,
                          shingleN: Int = 3, threshold: Double = 0.8,
                          bandBucketCap: Option[Int] = None): DataFrame = {
    // Shared-key CacheOnce with [[incrementalNearDupPairs]]: the same
    // increment over the same corpus sketches ONCE per session no matter
    // which incremental-family query runs first (the verdict query, the
    // cluster-maintenance pair feed, or both in one bench pass).
    val incSets = graft.ops.CacheOnce.swap("incr-inc-shingles",
      incDocs.select(col(idCol),
        explode(distinctShingles(col(textCol), shingleN)).as("shingle")))
    val incBands = graft.ops.CacheOnce.swap("incr-inc-bands",
        bandKeys(incSets, idCol, numHashes, rowsPerBand))
      .withColumnRenamed(idCol, "id2")
    // Collision-budget cap (the ANN bucketCap analogue): skipping
    // oversized band buckets bounds per-probe verify work at ANY
    // duplication density (standard banded-LSH practice).
    val cands0 = StateProbe(stateBands, "band_key", StateProbe.windowed(bandBucketCap))
      .pairs(incBands, col(idCol).as("id1"))(_.select("id1", "id2").distinct())
    // TRUNCATED (r19, VERDICT item 1): the candidate set feeds BOTH the
    // state-side left-semi text prune and the verify join, so the probe
    // chain (state bucket-size window + band join + distinct) executed
    // TWICE per action and re-executed per invocation — ~30 of the
    // query's measured ~40 s-cpu per warm rep at sf0.1. One eager
    // materialization per input generation (CacheOnce keys it by the
    // state and source files the probe reads), every consumer reads a
    // LogicalRDD leaf; the probe checked its own plan above, before the
    // truncation erases it. Collision-bounded by the cap, so
    // increment-pair-graph-sized — inside the CacheOnce size contract.
    val cands = graft.ops.CacheOnce.swapTruncated("incr-nd-cands", cands0)
    val stateSets = stateDocs
      .join(cands.select(col("id1").as(idCol)).distinct(), Seq(idCol), "left_semi")
      .select(col(idCol), explode(distinctShingles(col(textCol), shingleN)).as("shingle"))
    StateProbe.verdict(incDocs, idCol,
      verifyJaccardCross(cands, stateSets, incSets, idCol, threshold),
      ("id2", "id1"), "jaccard", descending = true,
      ("accepted", "best_state_id", "best_jaccard"), flagWitnessed = false)
  }

  /** Verified near-dup PAIRS touching an increment, fed from the SAME
    * persisted LSH band state [[incrementalNearDups]] probes — the
    * increment-bounded pair generator for incremental cluster
    * maintenance ([[incrementalClusters]] needs edges, not per-doc
    * verdicts). Two increment-bounded legs, both bucket-keyed:
    *
    *  - increment-vs-STATE: the increment sketches only itself and
    *    probes the persisted band buckets by `band_key` (the state side
    *    rides its bucketing — no exchange); state shingle sets are
    *    recomputed only for docs that actually collided (left-semi on
    *    candidate ids prunes the corpus text rescan to true suspects).
    *  - increment-vs-INCREMENT: a band-bucket SELF-join of the
    *    increment's own band keys (id1 < id2) — new docs can duplicate
    *    each other before any of them reaches the state.
    *
    * Exact Jaccard verifies both legs at `threshold`, so the union is
    * row-identical (modulo orientation) to a full-corpus
    * [[minhashNearDupsMd5]] restricted to pairs with at least one
    * increment endpoint — but the work is O(increment + collisions),
    * never O(corpus): nothing outside the increment is ever sketched,
    * and state text is read only for collided docs. Leave
    * `bandBucketCap` None when downstream must reproduce an UNCAPPED
    * full-corpus oracle (the incremental-clusters contract); set it
    * when probe fan-out must stay bounded at any duplication density.
    * Returns (id1, id2, jaccard); cross pairs carry the state doc as
    * id1 and the increment doc as id2. */
  def incrementalNearDupPairs(incDocs: DataFrame, stateDocs: DataFrame,
                              stateBands: StateProbe.State, idCol: String,
                              textCol: String, numHashes: Int = 32,
                              rowsPerBand: Int = 4, shingleN: Int = 3,
                              threshold: Double = 0.8,
                              bandBucketCap: Option[Int] = None): DataFrame = {
    // The increment's shingle set feeds the band keys AND three verify
    // legs (cross setsB, self setsA/setsB + sizes); the band keys feed
    // the state probe AND both sides of the self-join — both are
    // multi-consumer, so both are CacheOnce'd (computed once,
    // increment-sized), under the SAME keys as [[incrementalNearDups]]
    // so the two incremental-family queries share one sketch per
    // session.
    val incSets = graft.ops.CacheOnce.swap("incr-inc-shingles",
      incDocs.select(col(idCol),
        explode(distinctShingles(col(textCol), shingleN)).as("shingle")))
    val incBands = graft.ops.CacheOnce.swap("incr-inc-bands",
      bandKeys(incSets, idCol, numHashes, rowsPerBand))
    val crossCands = StateProbe(stateBands, "band_key", StateProbe.windowed(bandBucketCap))
      .pairs(incBands.select(col(idCol).as("id2"), col("band_key")), col(idCol).as("id1"))(
        _.select("id1", "id2").distinct())
    verifyIncrementPairs(crossCands, incDocs, stateDocs, idCol, textCol,
      numHashes, rowsPerBand, shingleN, threshold)
  }

  /** Verification tail of the increment-bounded pair feed, taking the
    * increment-vs-STATE candidates as INPUT — so the same tail serves
    * both the batch probe ([[incrementalNearDupPairs]]) and the
    * STREAMED probe (graft.streaming.LshProbe's settled collision set,
    * the append-sink → downstream-batch deployment shape): exact
    * Jaccard on the given cross candidates (state text re-read only for
    * collided docs), plus the increment's own band self-join + verify
    * for increment-vs-increment pairs. CacheOnce keys match
    * [[incrementalNearDups]]', so the increment sketches once per
    * session regardless of which path runs first. */
  def verifyIncrementPairs(crossCands: DataFrame, incDocs: DataFrame,
                           stateDocs: DataFrame, idCol: String,
                           textCol: String, numHashes: Int = 32,
                           rowsPerBand: Int = 4, shingleN: Int = 3,
                           threshold: Double = 0.8): DataFrame = {
    val incSets = graft.ops.CacheOnce.swap("incr-inc-shingles",
      incDocs.select(col(idCol),
        explode(distinctShingles(col(textCol), shingleN)).as("shingle")))
    val incBands = graft.ops.CacheOnce.swap("incr-inc-bands",
      bandKeys(incSets, idCol, numHashes, rowsPerBand))
    val crossVerified = verifyCrossPairs(crossCands, stateDocs, incSets,
      idCol, textCol, shingleN, threshold)
    val selfVerified = verifyJaccard(
      StateProbe.selfPairs(incBands, idCol, "band_key", ("id1", "id2")),
      incSets, idCol, threshold)
    crossVerified.unionByName(selfVerified)
  }

  /** Cross-pair-only slice of [[verifyIncrementPairs]]: exact Jaccard of
    * the (state id1, increment id2) candidates alone, with the
    * state-side shingle rescan collision-pruned by a left-semi — for
    * consumers that never read the increment's self pairs (the
    * cap-recall audit filtered the whole self-verify subtree away AFTER
    * computing it). `incSets` is the increment's exploded distinct
    * (id, shingle) set, shareable via CacheOnce with the rest of the
    * incremental family. */
  def verifyCrossPairs(crossCands: DataFrame, stateDocs: DataFrame,
                       incSets: DataFrame, idCol: String, textCol: String,
                       shingleN: Int, threshold: Double): DataFrame = {
    val stateSets = stateDocs
      .join(crossCands.select(col("id1").as(idCol)).distinct(), Seq(idCol), "left_semi")
      .select(col(idCol),
        explode(distinctShingles(col(textCol), shingleN)).as("shingle"))
    verifyJaccardCross(crossCands, stateSets, incSets, idCol, threshold)
  }

  /** Density-capped contamination report. The full pair report's output
    * cardinality rides duplicate density — a test doc contaminated by
    * thousands of train docs emits thousands of rows, and at 100 TB a
    * boilerplate-heavy corpus turns the report itself into the bottleneck.
    * Decontamination only needs a few WITNESSES per test doc to justify
    * dropping it, so this keeps the top-k train pairs per test doc
    * (jaccard desc, train_id tiebreak — deterministic), bounding output
    * by k * |test| at ANY dup density. The window shuffle keys on
    * test_id, so the cap itself stays a narrow keyed aggregate. */
  def crossCorpusNearDupsTopK(train: DataFrame, test: DataFrame, idCol: String,
                              textCol: String, numHashes: Int = 32,
                              rowsPerBand: Int = 4, shingleN: Int = 3,
                              threshold: Double = 0.8, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = crossCorpusNearDupsMd5(train, test, idCol, textCol,
      numHashes, rowsPerBand, shingleN, threshold)
    val w = Window.partitionBy(col("test_id"))
      .orderBy(desc("jaccard"), col("train_id"))
    pairs.withColumn("witness_rank", row_number().over(w).cast("long"))
      .filter(col("witness_rank") <= k)
  }

  /** Incremental exact dedup — the OPERATIONAL shape: a corpus is not
    * deduped once, it grows by daily crawl increments, and re-deduping
    * the whole corpus per day is O(corpus) forever. Instead the
    * accepted set's content digests persist as STATE; each increment
    * dedups within itself (min-id survivor, same rule as
    * [[exactGroups]]) and anti-joins the state — O(increment) work per
    * day. Both the in-batch aggregate and the anti-join key on the
    * 128-bit digest, so text never shuffles; at deployment the state
    * table is written bucketed by digest ([[graft.ops.ScaleOps
    * .writeBucketed]]) and the anti-join plans with no exchange on the
    * state side. Returns the increment's ACCEPTED rows (idCol,
    * content_hash); the caller appends those digests to the state. */
  def incrementalDedup(increment: DataFrame, stateDigests: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val hashed = increment.select(col(idCol), md5(col(textCol)).as("content_hash"))
    val inBatch = hashed.groupBy("content_hash").agg(min(col(idCol)).as(idCol))
      .select(col(idCol), col("content_hash"))
    inBatch.join(stateDigests.select(col("content_hash")),
      Seq("content_hash"), "left_anti")
      .select(col(idCol), col("content_hash"))
  }

  /** Bloom-prefiltered decontamination — the asymmetric-corpus shape:
    * the TEST side (benchmarks, eval suites) is tiny next to a 100 TB
    * train corpus, so its distinct shingles collapse into a Bloom
    * filter (a few MB of bits at 1% fpp) that rides the plan to every
    * executor and cuts the train side IN THE SCAN STAGE — ~99% of train
    * shingles never reach the join's exchange, vs
    * [[crossCorpusNearDupsMd5]] where both sides shuffle to the bucket
    * join. Bloom false positives are killed by the exact shingle join
    * that follows; false negatives are impossible, so the result is
    * EXACTLY the unfiltered exact join (the oracle) at a fraction of
    * the shuffled bytes. Output: (train_id, test_id, n_shared) with at
    * least `minShared` shared distinct shingles.
    *
    * `topNPerTest` keeps, per test doc, only the N train docs with the
    * most shared shingles (ties by train id) — WITHOUT it the report is
    * per-pair, so its size grows with train-side duplicate density
    * (quadratic at web-crawl density: every duplicated contaminated
    * train doc is another row for the same test doc), and a 100 TB
    * report job would be sized by its own output. Capped, the output is
    * linear in TEST size — the side that is small by construction —
    * while the uncapped variant stays available for forensic dumps.
    *
    * `maxTrainPerShingle` caps the COMPUTE the same way `topNPerTest`
    * caps the output: per surviving (post-bloom) shingle, only the K
    * lowest train ids enter the join, so join fanout is bounded by
    * K x |test shingles| — linear in test size no matter how dense the
    * train side's duplicates are. Without it the exact join itself is
    * quadratic at web-crawl density (the sf1 sweep measured ~100x pair
    * growth at 10x data; SCALE.md) even though the capped report only
    * ever keeps N of those rows per test doc. The capped report
    * diverges from the uncapped one only when more than K train docs
    * share a shingle — and those docs are interchangeable duplicates
    * for triage purposes (n_shared may undercount for the dropped,
    * higher-id members of the duplicate group). Deterministic (min-id
    * keep rule), so an oracle reproduces the cut exactly (QUALIFY
    * row_number() OVER (PARTITION BY shingle ORDER BY doc_id) <= K).
    * Use it when hot shingles reach df >> K (boilerplate-heavy crawls);
    * when per-shingle df sits near or below K the cap's window sort
    * costs more than it prunes (measured: 55s capped vs 37s uncapped at
    * the 10-copy-density sf1 fixture — SCALE.md). */
  def bloomContamination(train: DataFrame, test: DataFrame, idCol: String,
                         textCol: String, shingleN: Int = 3,
                         minShared: Int = 3, fpp: Double = 0.01,
                         topNPerTest: Option[Int] = None,
                         maxTrainPerShingle: Option[Int] = None): DataFrame = {
    val testSh = graft.ops.CacheOnce.swap("bloom-test-shingles",
      test.select(col(idCol).as("test_id"),
        explode(distinctShingles(col(textCol), shingleN)).as("shingle")))
    // The test-side filter and its sizing count are two driver jobs
    // whose result is a constant of the test split: memoized by the
    // test shingle frame's key (its plan — the split and `shingleN` —
    // and its files) with `fpp` in the group, so two splits or two
    // rates never share a filter; a wrong filter would prune genuinely
    // shared train shingles and report contaminated docs clean. The
    // (doc, shingle) row count over-estimates distinct shingles — a
    // slightly over-sized filter, never an under-sized (leaky) one.
    val bloom = graft.ops.CacheOnce.value(s"bloom-test-filter:fpp=$fpp", testSh) {
      val expected = math.max(testSh.count(), 1L)
      testSh.stat.bloomFilter("shingle", expected, fpp)
    }
    val trainShAll = train.select(col(idCol).as("train_id"),
      explode(distinctShingles(col(textCol), shingleN)).as("shingle"))
      .filter(graft.functions.BloomFunctions.mightContainString(bloom, col("shingle")))
    val trainSh = maxTrainPerShingle.fold(trainShAll) { k =>
      // The window shuffles only POST-BLOOM train shingles (the ~1%
      // that might touch the test set), already hash-partitioned by
      // the join key — the join below reuses that exchange.
      val w = Window.partitionBy(col("shingle")).orderBy(col("train_id"))
      trainShAll.withColumn("_tr", row_number().over(w)).filter(col("_tr") <= k)
        .drop("_tr")
    }
    val pairs = trainSh.join(testSh, Seq("shingle"))
      .groupBy("train_id", "test_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    topNPerTest.fold(pairs) { n =>
      // Partitioned by test_id — the window shuffles test-cardinality
      // rows, never anything train-sized.
      val w = Window.partitionBy(col("test_id"))
        .orderBy(desc("n_shared"), col("train_id"))
      pairs.withColumn("_r", row_number().over(w)).filter(col("_r") <= n)
        .drop("_r")
    }
  }

  /** Incremental decontamination against a PERSISTED test-suite shingle
    * index — the operational shape of [[bloomContamination]]: the eval
    * suite is fixed and small, crawl increments arrive daily, and
    * re-sharding the suite (or rebuilding its bloom) per increment is
    * wasted work. The suite's distinct shingles persist ONCE as
    * (test_id, shingle) bucketed on `shingle` — the probe-join key —
    * and each increment explodes only ITSELF and probes the index
    * exchange-free. `cap` drops state shingles whose test-side doc
    * frequency exceeds it (stopword runs and boilerplate are
    * non-discriminative and only fan the probe out): a
    * [[StateProbe.SizeColumn]] on the `df` column the index build
    * persisted makes it a scan predicate, a [[StateProbe.Windowed]] cap
    * recounts it per refresh (keyed on shingle, so the bucketed index
    * computes it without an exchange — but it rescans |state|). `bloom`, built over
    * the capped index at state-build time, cuts the increment's shingles
    * in their scan stage — same verdict either way (no false negatives).
    * The filter travels WITH the cap it was built at — `(filter,
    * bloomCap)`, `Int.MaxValue` for an uncapped build — and the probe
    * REQUIREs `cap <= bloomCap`: a bloom built over a tighter index
    * than the probe's cap has already dropped shingles the looser cap
    * would keep joinable, which silently turns the "no false negatives"
    * guarantee into MISSED CONTAMINATION. Enforced here, not by caller
    * convention. One verdict row per increment doc: (idCol,
    * contaminated, best_test_id, n_shared), best witness deterministic
    * (shared count desc, test id asc). */
  def incrementalContamination(incDocs: DataFrame, stateShingles: StateProbe.State,
                               idCol: String, textCol: String,
                               shingleN: Int = 3, minShared: Int = 3,
                               cap: Option[StateProbe.Cap] = None,
                               bloom: Option[(org.apache.spark.util.sketch.BloomFilter, Int)] = None): DataFrame = {
    bloom.foreach { case (_, bloomCap) =>
      val probeCap = cap.fold(Int.MaxValue.toLong)(_.max)
      require(probeCap <= bloomCap,
        s"incrementalContamination: bloom was built over the index capped at " +
          s"df <= $bloomCap but the probe caps at df <= $probeCap — shingles " +
          s"with df in ($bloomCap, $probeCap] are joinable yet bloom-dropped, " +
          "producing FALSE NEGATIVES (missed contamination); rebuild the bloom " +
          "at the probe's cap or tighten its cap")
    }
    // Bloom prefilter (the bloomContamination machinery composed into the
    // incremental probe): the filter is built ONCE at state-build time
    // over the CAPPED suite shingle set and rides the plan to every
    // executor, so increment shingles that cannot possibly match any
    // joinable state row die in their scan stage — before the probe
    // join's exchange ever sees them. No false negatives, so the verdict
    // is EXACTLY the unfiltered probe's (bloom false positives just join
    // zero state rows); hashes cannot move.
    val incShAll = incDocs.select(col(idCol).as("inc_id"),
      explode(distinctShingles(col(textCol), shingleN)).as("shingle"))
    val incSh = bloom.fold(incShAll) { case (b, _) =>
      incShAll.filter(graft.functions.BloomFunctions.mightContainString(b, col("shingle")))
    }
    val pairs = StateProbe(stateShingles, "shingle", cap).pairs(incSh, col("test_id"))(
      _.groupBy(col("inc_id"), col("test_id"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= minShared))
    StateProbe.verdict(incDocs, idCol, pairs, ("inc_id", "test_id"), "n_shared",
      descending = true, ("contaminated", "best_test_id", "n_shared"), flagWitnessed = true)
  }

  /** MinHash+LSH near-duplicate pairs with exact Jaccard verification of
    * the candidates (the full dedup pipeline), oracle-reproducible end
    * to end. The exploded distinct shingle set — the heaviest
    * intermediate — is persisted and reused by both the signature
    * aggregation and the verification join, so the corpus text is read
    * and shingled exactly once. */
  def minhashNearDupsMd5(df: DataFrame, idCol: String, textCol: String,
                         numHashes: Int = 32, rowsPerBand: Int = 4,
                         shingleN: Int = 3, threshold: Double = 0.8): DataFrame = {
    val sets = graft.ops.CacheOnce.swap("minhash-md5-shingles",
      df.select(col(idCol),
        explode(distinctShingles(col(textCol), shingleN)).as("shingle")))
    val sigs = minhashSignaturesFromSetsMd5(sets, idCol, numHashes)
    val cands = lshCandidatePairsMd5(sigs, idCol, numHashes, rowsPerBand)
    verifyJaccard(cands, sets, idCol, threshold)
  }

  /** 64-bit SimHash signature per document: token hash = the first 16 hex chars of
    * md5(token) read as a big-endian 64-bit value, carried as two
    * non-negative 32-bit halves (`sig_hi` = bits 32..63, `sig_lo` = bits
    * 0..31) so neither engine ever parses a >= 2^63 literal. Tokenless
    * documents sign as (0, 0).
    *
    * Computed by the native codegen [[graft.functions.SimHashMd5Packed]]
    * expression — one primitive loop per document, PER-ROW (no explode,
    * no groupBy), so the same signer serves batch and streaming alike.
    * [[simhashMd5Agg]] is the composed aggregate formulation it
    * replaced, kept as its cross-checkable reference
    * (IncrementalSimhashSpec pins bit-equality). */
  def simhashMd5(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val packed = graft.functions.SimHashFunctions.simhashMd5Packed(col(textCol))
    df.select(col(idCol),
      shiftrightunsigned(packed, 32).as("sig_hi"),
      packed.bitwiseAND(lit(0xffffffffL)).as("sig_lo"))
  }

  /** The operator-composed (explode + 64 vote aggregates) formulation
    * [[simhashMd5]] replaced — quadratically more expensive per token,
    * kept as the native expression's cross-checkable reference. */
  private[graft] def simhashMd5Agg(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol),
        explode(TextFunctions.tokens(col(textCol))).as("_t"))
      .select(col(idCol), md5(col("_t")).as("_h"))
    // Parse the leading 16 hex chars once per token as two 32-bit words
    // (big-endian: chars 1-8 are bits 63..32, chars 9-16 bits 31..0) —
    // two conv calls per token instead of one per nibble; the signature
    // VALUE is identical either way.
    val words = tok.select(col(idCol),
      conv(substring(col("_h"), 1, 8), 16, 10).cast("long").as("_whi"),
      conv(substring(col("_h"), 9, 8), 16, 10).cast("long").as("_wlo"))
    val votes = (0 until 64).map { b =>
      val bit =
        if (b < 32) shiftright(col("_wlo"), b).bitwiseAND(lit(1L))
        else shiftright(col("_whi"), b - 32).bitwiseAND(lit(1L))
      sum(bit * 2 - 1).as(s"_v$b")
    }
    val agg = words.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    val lo = (0 until 32).map(b =>
      when(col(s"_v$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    val hi = (32 until 64).map(b =>
      when(col(s"_v$b") > 0, lit(1L << (b - 32))).otherwise(lit(0L))).reduce(_ + _)
    val sigs = agg.select(col(idCol), hi.as("sig_hi"), lo.as("sig_lo"))
    df.select(col(idCol)).join(sigs, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("sig_hi"), lit(0L)).as("sig_hi"),
        coalesce(col("sig_lo"), lit(0L)).as("sig_lo"))
  }

  /** Hamming distance over the (hi, lo) 32-bit-half signature encoding. */
  def hammingHiLo(h1: Column, l1: Column, h2: Column, l2: Column): Column =
    (bit_count(h1.bitwiseXOR(h2)) + bit_count(l1.bitwiseXOR(l2))).cast("long")

  /** The Manku block layout over (sig_hi, sig_lo) halves — the ONE
    * definition behind both [[simhashNearDupsMd5]]'s self-join and
    * [[simhashMankuKeysMd5]]'s persisted keys, so probe and self-join
    * find the same candidate sets. `blocks` must be even: each 32-bit
    * half splits into blocks/2 near-equal pieces (LSB first), so no
    * block straddles the half boundary (keeps the oracle's bit
    * arithmetic trivial). Explodes one (combo, bkey) struct per
    * `m = blocks - maxHamming` combination of blocks, bkey the
    * concatenation of the chosen block values: any pair agreeing on
    * >= m blocks shares at least one combination's full key. */
  private def mankuComboKeys(maxHamming: Int, blocks: Int): Column = {
    require(blocks % 2 == 0, "blocks must be even (split per 32-bit half)")
    require(maxHamming < blocks, "recall guarantee needs maxHamming < blocks")
    val half = blocks / 2
    val widths = Seq.tabulate(half)(i => 32 / half + (if (i < 32 % half) 1 else 0))
    val ranges = widths.scanLeft(0)(_ + _).zip(widths)
    def vals(c: Column): Seq[(Column, Int)] = ranges.map { case (s, w) =>
      (shiftright(c, s).bitwiseAND(lit((1L << w) - 1)), w)
    }
    val blockVals = vals(col("sig_lo")) ++ vals(col("sig_hi"))
    val keys = blockVals.indices.combinations(blocks - maxHamming).toSeq
      .zipWithIndex.map { case (combo, ci) =>
        val key = combo.foldLeft(lit(0L)) { (acc, bi) =>
          shiftleft(acc, blockVals(bi)._2).bitwiseOR(blockVals(bi)._1)
        }
        struct(lit(ci).as("combo"), key.as("bkey"))
      }
    explode(array(keys: _*))
  }

  /** SimHash near-duplicate pairs, Manku-style (Manku, Jain & Das Sarma,
    * WWW'07 block-permutation dedup, re-expressed as a bucket join):
    * bucket each doc once per [[mankuComboKeys]] combination. Pigeonhole
    * recall guarantee: a pair within Hamming distance maxHamming differs
    * in at most maxHamming blocks, so it agrees on >= m blocks and shares
    * at least one combination key — recall is exactly 1, no sketch miss.
    *
    * Scale: the key is ~ (blocks - maxHamming) * 64/blocks bits wide —
    * 32 bits at the defaults (maxHamming 3, blocks 6) — so unrelated
    * docs collide with p ~ 2^-32 per combination and candidate volume
    * grows linearly with true near-dup density, never as N²/2^band. The
    * cost knob: C(blocks, m) bucket rows per doc (20 at the defaults);
    * keep maxHamming small and blocks ~ 2x maxHamming for corpus-scale
    * runs. Hamming verification runs BEFORE the pair distinct, so
    * far-apart collisions never cross the distinct exchange. */
  def simhashNearDupsMd5(df: DataFrame, idCol: String, textCol: String,
                         maxHamming: Int = 3, blocks: Int = 6): DataFrame = {
    val combos = mankuComboKeys(maxHamming, blocks)
    // The signature table feeds BOTH sides of the bucket self-join, and
    // computing it is the expensive part (per-token md5 + 64 bit-vote
    // aggregates); cached, the chain runs once instead of twice — and
    // dd_simhash / dd_simhash_neardups over the same corpus share it.
    val sigs = graft.ops.CacheOnce.swap("simhash-md5-sigs",
      simhashMd5(df, idCol, textCol))
    val buckets = sigs.select(col(idCol), col("sig_hi"), col("sig_lo"),
        combos.as("_ck"))
      .select(col(idCol), col("sig_hi"), col("sig_lo"),
        col("_ck.combo").as("combo"), col("_ck.bkey").as("bkey"))
    val l = buckets.select(col(idCol).as("id1"), col("sig_hi").as("h1"),
      col("sig_lo").as("l1"), col("combo"), col("bkey"))
    val r = buckets.select(col(idCol).as("id2"), col("sig_hi").as("h2"),
      col("sig_lo").as("l2"), col("combo"), col("bkey"))
    l.join(r, Seq("combo", "bkey")).filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        hammingHiLo(col("h1"), col("l1"), col("h2"), col("l2")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** (id, sig_hi, sig_lo, mkey) Manku bucket rows over hi/lo
    * signature halves — the PERSISTABLE form of
    * [[simhashNearDupsMd5]]'s bucket stage, over the same
    * [[mankuComboKeys]] layout: the (combo, bkey) pair packs into ONE
    * long (`mkey` = combo << 40 | bkey; any 3-of-6 block choice
    * concatenates to at most 33 bits, so 40 clears it) so a state table
    * can bucket on exactly the probe-join key. */
  def simhashMankuKeysMd5(sigs: DataFrame, idCol: String,
                          maxHamming: Int = 3, blocks: Int = 6): DataFrame =
    sigs.select(col(idCol), col("sig_hi"), col("sig_lo"),
        mankuComboKeys(maxHamming, blocks).as("_ck"))
      .select(col(idCol), col("sig_hi"), col("sig_lo"),
        shiftleft(col("_ck.combo").cast("long"), 40)
          .bitwiseOR(col("_ck.bkey")).as("mkey"))

  /** Incremental SimHash near-dup dedup against persisted Manku-key
    * state — [[incrementalNearDups]]' shape for the SimHash family,
    * with SimHash's structural advantage: the 64-bit signature IS the
    * verification payload, carried in the state rows themselves, so
    * unlike the MinHash path there is NO state text rescan at all — the
    * whole pass is one probe join over the bucketed key column plus
    * increment-local work. The accepted set persists as (id, sig_hi,
    * sig_lo, mkey) bucketed on `mkey` ([[simhashMankuKeysMd5]]); each
    * increment signs only ITSELF, probes the state by mkey (state side
    * rides its bucketing — no exchange), Hamming-verifies directly in
    * the join output, and reports one verdict row per increment doc
    * with a deterministic best witness (hamming asc, state id asc).
    * `bucketCap` is the band-bucket collision budget ported to Manku
    * buckets: a bucket over the cap is mass duplication/boilerplate and
    * is skipped, bounding per-probe fan-out at any dup density; the
    * windowed count keys on mkey, so the bucketed state computes it
    * without an exchange. Returns (idCol, accepted, best_state_id,
    * best_hamming). */
  def incrementalSimhashNearDups(incDocs: DataFrame, stateKeys: StateProbe.State,
                                 idCol: String, textCol: String,
                                 maxHamming: Int = 3, blocks: Int = 6,
                                 bucketCap: Option[Int] = None): DataFrame = {
    val incSigs = graft.ops.CacheOnce.swap("incr-inc-simhash",
      simhashMd5(incDocs, idCol, textCol))
    val incKeys = simhashMankuKeysMd5(incSigs, idCol, maxHamming, blocks)
      .select(col(idCol).as("id2"), col("sig_hi").as("h2"),
        col("sig_lo").as("l2"), col("mkey"))
    val verified = StateProbe(stateKeys, "mkey", StateProbe.windowed(bucketCap))
      .pairs(incKeys, col(idCol).as("id1"), col("sig_hi").as("h1"), col("sig_lo").as("l1"))(
        _.select(col("id1"), col("id2"),
          hammingHiLo(col("h1"), col("l1"), col("h2"), col("l2")).as("hamming"))
          .filter(col("hamming") <= maxHamming)
          .distinct())
    StateProbe.verdict(incDocs, idCol, verified, ("id2", "id1"), "hamming",
      descending = false, ("accepted", "best_state_id", "best_hamming"), flagWitnessed = false)
  }

  /** Connected components over a near-duplicate pair graph — the
    * cluster-resolution step after any pairwise dedup: greedy per-pair
    * survivor rules under-merge chains (pairs (b,c) and (a,c) leave both
    * a and b standing even though all three are one duplicate cluster),
    * while components assign every member of the transitive closure one
    * cluster id (the component's min id).
    *
    * Min-label propagation: every node starts labeled with its own id;
    * each round every node takes the min of its label and its
    * neighbors' labels — one keyed join + one keyed aggregate per
    * round, converging in graph-diameter rounds (near-dup clusters are
    * shallow; `maxIters` guards pathological chains and convergence is
    * REQUIRED, not assumed). Each round's labels are EAGERLY
    * materialized with lineage truncation ([[graft.ops.Materialize]]) —
    * the round-N plan references round N-1 twice, so without truncation
    * the logical plan doubles per round and PLANNING, not execution,
    * blows up. The pair graph itself is usually far smaller than the
    * corpus (only docs with a near-dup appear). Returns
    * (node, cluster_id). */
  def connectedComponents(pairs: DataFrame, idCols: (String, String) = ("id1", "id2"),
                          maxIters: Int = 50,
                          driverCcMaxEdges: Long = 2L * 1000 * 1000): DataFrame = {
    import graft.ops.Materialize.eagerDurable
    val (c1, c2) = idCols
    // SIZE-GATED DRIVER FAST PATH: the label-propagation loop below pays
    // a fixed ~1.5 s/round in job-scheduling + checkpoint I/O regardless
    // of graph size (measured flat to 300k state rows) — pure overhead
    // when the pair graph is small. The INCREMENTAL paths feed this
    // operator a REDUCED graph (one vertex per touched state cluster,
    // one edge per increment pair — increment-bounded BY CONSTRUCTION,
    // never corpus-bounded), so at any corpus scale they stay under the
    // gate; a corpus-scale pair graph (full re-cluster) blows past it
    // and takes the distributed loop. ≤2M edges = ≤32 MB on the driver —
    // the same driver-small-by-construction class as the 1-row
    // aggregates elsewhere, and the same small-graph switch GraphX-style
    // engines make. Union-find with union-by-min-root + path
    // compression yields EXACTLY the distributed loop's labels (every
    // component labeled by its min node id), so oracle hashes cannot
    // move. Long ids only (every call site today) — other types fall
    // through to the distributed loop.
    val longIds =
      pairs.schema(c1).dataType == org.apache.spark.sql.types.LongType &&
        pairs.schema(c2).dataType == org.apache.spark.sql.types.LongType
    if (longIds) {
      // persist BEFORE the gate count: the pair input is typically the
      // end of an expensive verify pipeline, and without the persist the
      // count and the collect (or the loop's first round) would run it
      // twice.
      val pr = pairs.select(col(c1).as("a"), col(c2).as("b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val edgeCount = pr.count()
      if (edgeCount <= driverCcMaxEdges) {
        val rows = pr.collect()
        pr.unpersist(blocking = false)
        val parent = new java.util.HashMap[java.lang.Long, java.lang.Long](
          math.min(edgeCount * 2 + 16, 8L * 1000 * 1000).toInt)
        def add(x: Long): Unit =
          if (!parent.containsKey(x)) parent.put(x, x)
        def find(x: Long): Long = {
          var r = x
          while (parent.get(r) != r) r = parent.get(r)
          var c = x
          while (c != r) { val nx = parent.get(c); parent.put(c, r); c = nx }
          r
        }
        rows.foreach { row =>
          val a = row.getLong(0); val b = row.getLong(1)
          add(a); add(b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) {
            // union by MIN root: the representative is always the
            // component's smallest id — the distributed loop's fixpoint.
            if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
          }
        }
        val spark = pairs.sparkSession
        import spark.implicits._
        val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size())
        val it = parent.keySet().iterator()
        while (it.hasNext) { val n = it.next().longValue(); out += ((n, find(n))) }
        return out.toSeq.toDF("node", "cluster_id")
      }
      // over the gate: hand the persisted frame to the loop (the first
      // round's edge build drains the cache instead of re-running the
      // verify pipeline) and release it once the symmetric edge set is
      // materialized.
      val result = connectedComponentsLoop(pr, "a", "b", maxIters)
      pr.unpersist(blocking = false)
      return result
    }
    connectedComponentsLoop(pairs, c1, c2, maxIters)
  }

  /** The distributed min-label-propagation loop behind
    * [[connectedComponents]] — engaged when the pair graph is over the
    * driver fast-path gate (corpus-scale re-clusters) or non-Long-keyed. */
  private def connectedComponentsLoop(pairs: DataFrame, c1: String, c2: String,
                                      maxIters: Int): DataFrame = {
    import graft.ops.Materialize.eagerDurable
    val edges = pairs.select(col(c1).as("a"), col(c2).as("b"))
      .union(pairs.select(col(c2).as("a"), col(c1).as("b")))
      .distinct().persist()
    var labels = eagerDurable(edges.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").as("lbl")))
    // Convergence witness: per-node labels are monotonically
    // non-increasing (each round takes min over self + neighbors), and
    // the node set is fixed, so sum(lbl) strictly decreases until the
    // fixpoint and is EQUAL exactly at convergence. One scan-aggregate
    // over the just-materialized labels replaces a per-round
    // labels⋈labels shuffle join — on a 1000-executor cluster that is
    // one full exchange per round saved. DECIMAL(38,0) so the sum never
    // wraps even with 2^63-scale ids times billions of nodes.
    def lblSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("lbl").cast("decimal(38,0)")).as("s"))
        .collect()(0).getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO) // empty graph: sum is null
    var prevSum = lblSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val viaNeighbor = edges
        .join(labels.withColumnRenamed("node", "b"), Seq("b"))
        .select(col("a").as("node"), col("lbl"))
      val next = eagerDurable(labels.union(viaNeighbor)
        .groupBy("node").agg(min(col("lbl")).as("lbl")))
      val nextSum = lblSum(next)
      // `next` is EAGERLY materialized and its sum consumed the old
      // labels' last read, so round N-1's checkpoint (blocks + reliable
      // files) can be dropped now — otherwise maxIters generations
      // accumulate for the session lifetime.
      graft.ops.Materialize.release(labels)
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      iter += 1
    }
    edges.unpersist()
    require(converged,
      s"connectedComponents: no fixpoint after $maxIters rounds (graph diameter too large)")
    labels.select(col("node"), col("lbl").as("cluster_id"))
  }

  /** Incremental duplicate-cluster maintenance — [[connectedComponents]]'
    * operational shape: cluster state (node, cluster_id) persists from
    * the accepted corpus, and each crawl increment contributes a batch
    * of new near-dup pairs. Re-clustering the corpus per day is
    * O(corpus · diameter) forever; instead only the REDUCED graph is
    * clustered — one vertex per touched state cluster (its existing
    * label) or brand-new node, one edge per increment pair — which is
    * increment-bounded, never corpus-bounded. The full state is then
    * updated by a BROADCAST remap join (the remap has at most one row
    * per touched cluster), a narrow pass that never shuffles the state.
    *
    * Any path through a state cluster enters and leaves via its single
    * representative label, so connectivity over (state ∪ increment
    * pairs) is exactly preserved; merged labels are the component min
    * over representative ids, i.e. the global min node id — the result
    * is row-identical to a full re-cluster over the combined pair set
    * (the registered oracle recomputes precisely that). Returns the
    * updated (node, cluster_id) state. */
  def incrementalClusters(stateLabels: DataFrame, newPairs: DataFrame,
                          idCols: (String, String) = ("id1", "id2")): DataFrame = {
    val (c1, c2) = idCols
    // The pair input is typically the END of a near-dup pipeline
    // (minhash + exact verify); this operator references it through the
    // nodes/reps/edges tree ~10 times, so it is TRUNCATED, not just
    // cached (CacheOnce.swapTruncated): caching dedups execution, but
    // every reference would still embed the deep pair-feed ANALYZED
    // tree, and this operator's output is itself consumed by multiply-
    // referencing callers (dirty-cluster marking, re-election,
    // streamed merges) that would each re-multiply it — the same
    // analysis-cost class the incremental-PageRank refresh measured at
    // ~10 s of a 13 s warm run. The eager materialization is
    // increment-sized by construction (every caller feeds an
    // increment-bounded pair set) and is the designated parquet-
    // checkpoint seam at cluster scale. CacheOnce keys it by the files
    // `newPairs` reads, so a pair feed over state tables rebuilt in
    // place never serves the old lineage-free frame.
    val pairs = graft.ops.CacheOnce.swapTruncated("incr-cluster-pairs",
      newPairs.select(col(c1).as("a"), col(c2).as("b"))
        .filter(col("a") =!= col("b")))
    val nodes = pairs.select(col("a").as("node"))
      .union(pairs.select(col("b").as("node"))).distinct()
    // endpoint representative: its state cluster id, or itself if new
    // (cached too: both rep-edge joins and the new-node path read it)
    val reps = graft.ops.CacheOnce.swap("incr-cluster-reps",
      nodes.join(stateLabels, Seq("node"), "left")
        .select(col("node"), coalesce(col("cluster_id"), col("node")).as("rep")))
    val repEdges = pairs
      .join(reps.select(col("node").as("a"), col("rep").as("_ra")), Seq("a"))
      .join(reps.select(col("node").as("b"), col("rep").as("_rb")), Seq("b"))
      .select(col("_ra").as("id1"), col("_rb").as("id2"))
      .filter(col("id1") =!= col("id2")) // same-cluster pairs merge nothing
    // cluster-of-clusters: increment-bounded CC over representatives
    val remap = connectedComponents(repEdges)
      .select(col("node").as("rep"), col("cluster_id").as("_new"))
    val updatedState = stateLabels
      .join(broadcast(remap), col("cluster_id") === col("rep"), "left")
      .select(col("node"), coalesce(col("_new"), col("cluster_id")).as("cluster_id"))
    // brand-new nodes: rep is the node itself (every one has a rep edge,
    // except when ALL its pairs landed inside one existing cluster —
    // then it joins that cluster directly via its rep)
    val newNodes = nodes.join(stateLabels, Seq("node"), "left_anti")
      .join(reps, Seq("node"))
      .join(broadcast(remap), Seq("rep"), "left")
      .select(col("node"), coalesce(col("_new"), col("rep")).as("cluster_id"))
    updatedState.union(newNodes)
  }

  /** Near-duplicate pairs by embedding cosine >= threshold, using
    * multi-table sign-LSH candidates (union over tables) with exact
    * cosine verification — see
    * [[graft.similarity.Similarity.lshCandidates]] for the scale design. */
  def cosineNearDups(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, numPlanes: Int = 8, numTables: Int = 4,
                     dim: Int = 64, seed: Long = 42L): DataFrame = {
    import graft.similarity.Similarity
    // Zero-norm vectors are excluded up front: their cosine is 0/0 = NaN,
    // which Spark orders above every real value, so they would otherwise
    // pass any >= threshold filter.
    val base = df.filter(Similarity.l2norm(col(vecCol)) > 0)
    val pairs = Similarity.lshCandidates(base, idCol, vecCol, numPlanes, numTables, dim, seed)
    val vecs = base.select(col(idCol), col(vecCol),
      Similarity.l2norm(col(vecCol)).as("_n"))
    pairs
      .join(vecs.select(col(idCol).as("id1"), col(vecCol).as("v1"),
        col("_n").as("_n1")), Seq("id1"))
      .join(vecs.select(col(idCol).as("id2"), col(vecCol).as("v2"),
        col("_n").as("_n2")), Seq("id2"))
      .withColumn("cosine",
        round(Similarity.dot(col("v1"), col("v2")) / (col("_n1") * col("_n2")), 4))
      .filter(col("cosine") >= threshold)
      .select("id1", "id2", "cosine")
  }

  /** (id, tb_key) sign-LSH bucket rows with the (table, bucket) pair
    * PACKED into one long (tbl << 32 | bucket; tbl is 0-based, bucket <
    * 2^numPlanes) — the persistable form of the multi-table bucket
    * stage, so state tables bucket on exactly the probe-join key. */
  def cosineBucketKeys(df: DataFrame, idCol: String, vecCol: String,
                       numPlanes: Int = 8, numTables: Int = 4,
                       dim: Int = 64, seed: Long = 42L): DataFrame = {
    import graft.similarity.Similarity
    Similarity.bucketTables(
        df.filter(Similarity.l2norm(col(vecCol)) > 0),
        idCol, vecCol, numPlanes, numTables, dim, seed)
      .select(col(idCol),
        shiftleft(col("tbl").cast("long"), 32)
          .bitwiseOR(col("bucket")).as("tb_key"))
  }

  /** [[cosineBucketKeys]]' PER-ROW variant: one array<long> of the
    * numTables packed tb_keys, as a Column — the shape a streaming gate
    * needs (explode the keys while the row carries its own vector; a
    * join back to the id-keyed frame would be a stream-stream join).
    * SAME defaults, per-table seed derivation (seed + 7919·t, matching
    * Similarity.tableData) and tbl<<32 packing as the state builder —
    * exposed HERE so a probe can never drift from the persisted state's
    * sketch parameters and silently zero its collisions. */
  def cosineTbKeys(vec: Column, numPlanes: Int = 8, numTables: Int = 4,
                   dim: Int = 64, seed: Long = 42L): Column = {
    import graft.similarity.Similarity
    array((0 until numTables).map { t =>
      shiftleft(lit(t.toLong), 32).bitwiseOR(
        Similarity.hyperplaneBucket(vec, numPlanes, dim, seed + 7919L * t))
    }: _*)
  }

  /** Incremental embedding-cosine near-dup dedup against persisted
    * sign-LSH bucket state — [[incrementalNearDups]]' shape for the
    * EMBEDDING modality, completing the family (exact digests, MinHash
    * bands, SimHash Manku keys, and now cosine buckets all probe
    * persisted state O(increment)). The accepted set's (id, tb_key)
    * bucket rows persist bucketed on tb_key; each increment buckets
    * only ITSELF, probes the state exchange-free (merge-hinted), and
    * exact-cosine verifies the collisions — state vectors are re-read
    * ONLY for ids that collided (left-semi prune, the MinHash text
    * treatment applied to vectors). Zero-norm vectors never pair
    * (cosine undefined) but still get a verdict row. Returns one row
    * per increment vector: (idCol, accepted, best_state_id,
    * best_cosine), best witness deterministic (cosine desc, state id
    * asc). */
  def incrementalCosineNearDups(incVecs: DataFrame, stateVecs: DataFrame,
                                stateBuckets: StateProbe.State, idCol: String,
                                vecCol: String, threshold: Double,
                                numPlanes: Int = 8, numTables: Int = 4,
                                dim: Int = 64, seed: Long = 42L,
                                bucketCap: Option[Int] = None): DataFrame = {
    import graft.similarity.Similarity
    val incBase = graft.ops.CacheOnce.swap("incr-inc-cosvecs",
      incVecs.filter(Similarity.l2norm(col(vecCol)) > 0)
        .select(col(idCol), col(vecCol),
          Similarity.l2norm(col(vecCol)).as("_n")))
    val incKeys = graft.ops.CacheOnce.swap("incr-inc-cosbuckets",
      cosineBucketKeys(incBase, idCol, vecCol, numPlanes, numTables, dim, seed)
        .withColumnRenamed(idCol, "id2"))
    val cands0 = StateProbe(stateBuckets, "tb_key", StateProbe.windowed(bucketCap))
      .pairs(incKeys, col(idCol).as("id1"))(_.select("id1", "id2").distinct())
    // Same probe-then-truncate discipline as incrementalNearDups
    // (VERDICT r18 item 1): the candidate set feeds the state-vector
    // left-semi prune AND the verify join — truncated once per
    // generation, both consumers read a LogicalRDD leaf and the probe
    // (state bucket-size window + key join + distinct) executes once.
    val cands = graft.ops.CacheOnce.swapTruncated("incr-cos-cands", cands0)
    val stateV = stateVecs
      .join(cands.select(col("id1").as(idCol)).distinct(), Seq(idCol), "left_semi")
      .select(col(idCol).as("id1"), col(vecCol).as("_v1"),
        Similarity.l2norm(col(vecCol)).as("_n1"))
    val verified = cands
      .join(stateV, Seq("id1"))
      .join(incBase.select(col(idCol).as("id2"), col(vecCol).as("_v2"),
        col("_n").as("_n2")), Seq("id2"))
      .withColumn("cosine",
        round(Similarity.dot(col("_v1"), col("_v2")) / (col("_n1") * col("_n2")), 4))
      .filter(col("cosine") >= threshold)
    StateProbe.verdict(incVecs, idCol, verified, ("id2", "id1"), "cosine",
      descending = true, ("accepted", "best_state_id", "best_cosine"), flagWitnessed = false)
  }
}
