package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.dedup.StateProbe
import graft.ops.EntityResolution
import graft.ops.PersistedState._

/** Entity resolution / record linkage (§2.13): a dirty customer feed —
  * every entity arrives twice, the second copy case-drifted, typo'd or
  * truncated — is blocked (multi-pass), fuzzy-verified (Levenshtein),
  * clustered (connected components) and resolved to one canonical
  * survivor per entity.
  *
  * The dirt is SYNTHESIZED IN-PLAN from the clean customer table with
  * deterministic string surgery (per-custkey variant class), so both
  * engines derive the identical dirty feed and the oracle reproduces
  * the whole pass — blocking, cap, verification, clustering and
  * survivorship — end to end. Variant classes by custkey % 3:
  * 0 = case drift (lower), 1 = punctuation typo ('#' → '-' at one
  * position), 2 = suffix truncation (last char dropped). The two
  * blocking passes are each designed to survive a different dirt
  * class: a digits-only key (survives case/punctuation) and a
  * (nation, digit-prefix) key (survives truncation) — the standard
  * multi-pass blocking argument, made checkable. */
object EntityQueries {

  private val erBlockCap = 32

  /** Derived-cap multiplier: the live block cap is
    * greatest(erBlockCap, erCapMeanMult · mean block size), the
    * corpus-derived bound [[EntityResolution.blockedCandidates]]
    * computes per pass — er_blocking_audit's own numbers wired into the
    * cap choice, so mass duplication (every block dense) degrades
    * gracefully instead of zeroing the pass, while a degenerate key
    * (one block far above mult × the mean) stays capped. Never binds
    * differently from the fixed floor at driver SFs (mean block size
    * ≈ 2 there). */
  private val erCapMeanMult = 4

  /** The dirty feed + normalized keys + blocked/verified matches, as
    * shared DuckDB CTEs (`k` = keyed records, `m` = verified pairs). */
  private val erCtes: String =
    s"""a AS (SELECT c_custkey*2 AS rid, c_name AS name, c_nationkey AS nation FROM customer),
b AS (SELECT c_custkey*2+1 AS rid,
  CASE CAST(c_custkey % 3 AS INTEGER) WHEN 0 THEN lower(c_name)
    WHEN 1 THEN substr(c_name,1,8) || '-' || substr(c_name,10)
    ELSE substr(c_name,1,length(c_name)-1) END AS name,
  c_nationkey AS nation FROM customer),
d AS (SELECT * FROM a UNION ALL SELECT * FROM b),
k AS (SELECT rid, nation, name, lower(name) AS norm,
  regexp_replace(name, '[^0-9]', '', 'g') AS digits FROM d),
p AS (SELECT rid, 0 AS pass, digits AS bk FROM k
  UNION ALL SELECT rid, 1, CAST(nation AS VARCHAR) || ':' || substr(digits,1,8) FROM k),
pcap AS (SELECT pass, greatest($erBlockCap, $erCapMeanMult * count(*) // count(DISTINCT bk)) AS cap
  FROM p GROUP BY pass),
pc AS (SELECT rid, pass, bk FROM
  (SELECT *, count(*) OVER (PARTITION BY pass, bk) AS bsz FROM p) pw
  JOIN pcap USING (pass) WHERE bsz <= cap),
cand AS (SELECT DISTINCT l.rid AS rid1, r.rid AS rid2
  FROM pc l JOIN pc r ON l.pass = r.pass AND l.bk = r.bk AND l.rid < r.rid),
m AS MATERIALIZED (SELECT rid1, rid2, CAST(levenshtein(k1.norm, k2.norm) AS BIGINT) AS name_dist
  FROM cand JOIN k k1 ON k1.rid = cand.rid1 JOIN k k2 ON k2.rid = cand.rid2
  WHERE k1.nation = k2.nation AND levenshtein(k1.norm, k2.norm) <= 1)"""

  /** Recursive-CTE clustering over `m` (same walk as dd_dup_clusters).
    * `m` and `e` are MATERIALIZED: the recursive walk re-derives a
    * plain CTE per iteration, which re-runs the whole blocking +
    * Levenshtein chain each round — intractable at the 30x fixture's
    * derived-cap pair volume. */
  private val erCompCtes: String =
    s"""$erCtes,
e AS MATERIALIZED (SELECT rid1 AS x, rid2 AS y FROM m UNION SELECT rid2, rid1 FROM m),
nn AS (SELECT DISTINCT x AS node FROM e),
walk(node, lbl) AS (SELECT node, node FROM nn
  UNION SELECT e.x, w.lbl FROM walk w JOIN e ON e.y = w.node),
comp AS (SELECT node, min(lbl) AS cluster_id FROM walk GROUP BY 1)"""

  /** er_incremental_clusters' oracle: the FULL re-cluster over the
    * complete (uncapped) match graph — (node, cluster_id) per matched
    * record. Uncapped on purpose: the incremental path probes the
    * whole persisted key state, so its pair feed is exactly the full
    * blocking restricted to increment-touching pairs, with no cap
    * boundary to straddle. */
  private val erIncClustersOracleSql: String =
    s"""WITH RECURSIVE a AS (SELECT c_custkey*2 AS rid, c_name AS name, c_nationkey AS nation FROM customer),
b AS (SELECT c_custkey*2+1 AS rid,
  CASE CAST(c_custkey % 3 AS INTEGER) WHEN 0 THEN lower(c_name)
    WHEN 1 THEN substr(c_name,1,8) || '-' || substr(c_name,10)
    ELSE substr(c_name,1,length(c_name)-1) END AS name,
  c_nationkey AS nation FROM customer),
d AS (SELECT * FROM a UNION ALL SELECT * FROM b),
k AS (SELECT rid, nation, name, lower(name) AS norm,
  regexp_replace(name, '[^0-9]', '', 'g') AS digits FROM d),
p AS (SELECT rid, 0 AS pass, digits AS bk FROM k
  UNION ALL SELECT rid, 1, CAST(nation AS VARCHAR) || ':' || substr(digits,1,8) FROM k),
cand AS (SELECT DISTINCT l.rid AS rid1, r.rid AS rid2
  FROM p l JOIN p r ON l.pass = r.pass AND l.bk = r.bk AND l.rid < r.rid),
m AS MATERIALIZED (SELECT rid1, rid2 FROM cand
  JOIN k k1 ON k1.rid = cand.rid1 JOIN k k2 ON k2.rid = cand.rid2
  WHERE k1.nation = k2.nation AND levenshtein(k1.norm, k2.norm) <= 1),
e AS MATERIALIZED (SELECT rid1 AS x, rid2 AS y FROM m UNION SELECT rid2, rid1 FROM m),
nn AS (SELECT DISTINCT x AS node FROM e),
walk(node, lbl) AS (SELECT node, node FROM nn
  UNION SELECT e.x, w.lbl FROM walk w JOIN e ON e.y = w.node)
SELECT node, min(lbl) AS cluster_id FROM walk GROUP BY 1"""

  /** er_incremental_clusters_capped's oracle — the cap-AWARE re-cluster:
    * the walk runs over (uncapped state-vs-state matches) ∪ (cross
    * matches whose STATE block passes the persisted derived cap) ∪
    * (uncapped increment self-matches). Mirrors the engine exactly: the
    * state graph was clustered uncapped at state-build time, the cap
    * binds ONLY the per-refresh probe (st_er_probe's stc CTE, composed
    * into the cluster merge), so the twin derives the same
    * greatest(floor, mult · mean state block size) bound over the state
    * keys and drops the same cross candidates. */
  private val erIncClustersCappedOracleSql: String =
    s"""WITH RECURSIVE a AS (SELECT c_custkey*2 AS rid, c_name AS name, c_nationkey AS nation FROM customer),
b AS (SELECT c_custkey*2+1 AS rid,
  CASE CAST(c_custkey % 3 AS INTEGER) WHEN 0 THEN lower(c_name)
    WHEN 1 THEN substr(c_name,1,8) || '-' || substr(c_name,10)
    ELSE substr(c_name,1,length(c_name)-1) END AS name,
  c_nationkey AS nation FROM customer),
d AS (SELECT * FROM a UNION ALL SELECT * FROM b),
k AS (SELECT rid, nation, name, lower(name) AS norm,
  regexp_replace(name, '[^0-9]', '', 'g') AS digits FROM d),
p AS (SELECT rid, '0:' || digits AS bkey FROM k
  UNION ALL SELECT rid, '1:' || CAST(nation AS VARCHAR) || ':' || substr(digits,1,8) FROM k),
st AS (SELECT rid, bkey FROM p WHERE (rid // 2) % 3 <> 2),
inc AS (SELECT rid, bkey FROM p WHERE (rid // 2) % 3 = 2),
stc AS (SELECT rid, bkey FROM
  (SELECT *, count(*) OVER (PARTITION BY bkey) AS bsz FROM st)
  WHERE bsz <= (SELECT greatest($erBlockCap, $erCapMeanMult * count(*) // count(DISTINCT bkey)) FROM st)),
cand AS (SELECT l.rid AS rid1, r.rid AS rid2 FROM st l JOIN st r ON l.bkey = r.bkey AND l.rid < r.rid
  UNION SELECT l.rid, r.rid FROM stc l JOIN inc r ON l.bkey = r.bkey
  UNION SELECT l.rid, r.rid FROM inc l JOIN inc r ON l.bkey = r.bkey AND l.rid < r.rid),
m AS MATERIALIZED (SELECT rid1, rid2 FROM cand
  JOIN k k1 ON k1.rid = cand.rid1 JOIN k k2 ON k2.rid = cand.rid2
  WHERE k1.nation = k2.nation AND levenshtein(k1.norm, k2.norm) <= 1),
e AS MATERIALIZED (SELECT rid1 AS x, rid2 AS y FROM m UNION SELECT rid2, rid1 FROM m),
nn AS (SELECT DISTINCT x AS node FROM e),
walk(node, lbl) AS (SELECT node, node FROM nn
  UNION SELECT e.x, w.lbl FROM walk w JOIN e ON e.y = w.node)
SELECT node, min(lbl) AS cluster_id FROM walk GROUP BY 1"""

  /** The dirty feed with normalized match/blocking keys; CacheOnce'd —
    * it feeds both blocking passes, both verify sides, and
    * survivorship's name lookup. */
  private def keyedRecords(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val a = c.select((col("c_custkey") * 2).as("rid"), col("c_name").as("name"),
      col("c_nationkey").as("nation"))
    val b = c.select((col("c_custkey") * 2 + 1).as("rid"),
      EntityResolution.dirtyNameVariant(col("c_custkey"), col("c_name")).as("name"),
      col("c_nationkey").as("nation"))
    graft.ops.CacheOnce.swap("er-keyed-records",
      a.unionByName(b).select(col("rid"), col("nation"), col("name"),
        lower(col("name")).as("norm"),
        EntityResolution.nameDigits(col("name")).as("digits")))
  }

  /** Split of the dirty feed for the incremental path: an ENTITY is in
    * the increment when its underlying custkey % 3 == 2 — both dirty
    * copies of it move together (rid div 2 recovers the custkey). */
  private def incPred = expr("(rid div 2) % 3 = 2")

  /** One composite blocking key per (record, pass) — pass ':' key, the
    * single-column band_key convention, so the persisted state can
    * bucket on exactly the probe-join column. */
  private def passKeyRows(k: DataFrame): DataFrame =
    EntityResolution.compositeBlockKeys(col("nation"), col("digits"))
      .map(bk => k.select(col("rid"), bk.as("bkey")))
      .reduce(_.unionByName(_))

  /** Full-corpus cluster map, persisted once per customer fingerprint
    * ("cluster once, elect forever"): er_survivorship's input — its
    * own surface is the ELECTION window, not the clustering, which
    * er_clusters exercises live and er_incremental_clusters maintains
    * incrementally. */
  private val fullClustersBuild = Build(ErFullClusters)((s, d) =>
    ErFullClusters.sorted(s, d, "node")(
      graft.dedup.Dedup.connectedComponents(matches(s, d), ("rid1", "rid2"))))

  /** er_incremental_survivorship's persisted CANONICAL map over the
    * day-1 cluster state — one (cluster_id, canonical_rid,
    * canonical_name) row per state cluster, elected once at state-build
    * time; increments re-elect only the clusters they dirty. */
  private val survivorsBuild = Build(ErSurvivors, ErClusters)((s, d) =>
    ErSurvivors.sorted(s, d, "cluster_id")(
      EntityResolution.survivorship(
        ErClusters.read(s, d)
          .join(keyedRecords(s, d).select(col("rid").as("node"), col("name")),
            Seq("node"))
          .select(col("cluster_id"), col("node").as("rid"), col("name")),
        "rid", "cluster_id",
        preference = when(col("name").rlike("^Customer#[0-9]+$"), 0).otherwise(1))
        .select(col("cluster_id"), col("rid").as("canonical_rid"),
          col("name").as("canonical_name"))))

  /** One-time bucketed CTAS of the ACCEPTED entities' blocking keys
    * (rid, bkey, bsz — bucketed on bkey, the probe-join column; bsz is
    * the block size, windowed ONCE here so cap filters are scan
    * predicates instead of per-probe windows); each increment then
    * probes it without ever re-blocking the stock. The derived block cap
    * is published with the state as `graft.stat`: greatest(floor,
    * mult · mean state block size), a layout statistic of the key state
    * read back O(1) per probe (the LSH/SimHash/cosine families' cap
    * convention). Bucket count derived from the key state's own staged
    * size (ScaleOps.ensureBucketedDerived — the verdict-17 layout
    * policy). Idempotent per customer generation. */
  private val keysBuild = Build(ErKeys)((s, d) =>
    ErKeys.bucketed(s, d, Seq("bkey"),
      cap = Some(graft.ops.KeyCap(erBlockCap.toLong, erCapMeanMult.toLong, tail = false)))(
      passKeyRows(keyedRecords(s, d).filter(!incPred)).withColumn("bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("bkey")))))

  /** One-time clustering of the accepted entities' match graph; each
    * increment then merges into it without re-clustering the stock.
    * Idempotent per customer generation. */
  private val clustersBuild = Build(ErClusters)((s, d) =>
    ErClusters.sorted(s, d, "node") {
      val stateK = keyedRecords(s, d).filter(!incPred)
      graft.dedup.Dedup.connectedComponents(
        EntityResolution.verifyByEditDistance(
          EntityResolution.blockedCandidates(stateK, "rid",
            passKeys = EntityResolution.blockPassKeys(col("nation"), col("digits"))),
          stateK, "rid", "norm", Seq("nation"), maxDist = 1),
        ("rid1", "rid2"))
    })

  /** Every prepared ER state with its one build:
    * `Build(family, families its build reads*)`. */
  val builds: Seq[Build] = Seq(keysBuild, clustersBuild, fullClustersBuild, survivorsBuild)

  private def matches(s: SparkSession, d: String): DataFrame = {
    val k = keyedRecords(s, d)
    val cands = EntityResolution.blockedCandidates(k, "rid",
      passKeys = EntityResolution.blockPassKeys(col("nation"), col("digits")),
      derivedCap = Some((erBlockCap, erCapMeanMult)))
    // TRUNCATED (r18): the verified match set feeds er_matches,
    // er_clusters' CC (which persists + counts + collects it) and the
    // one-time full-cluster CTAS — each re-ran the blocking join +
    // Levenshtein verify and re-analyzed its tree. One execution per
    // session, every consumer reads a LogicalRDD leaf.
    graft.ops.CacheOnce.swapTruncated("er-matches-verified",
      EntityResolution.verifyByEditDistance(cands, k, "rid", "norm",
        exactCols = Seq("nation"), maxDist = 1))
  }

  /** The increment's verified match pairs (rid1, rid2): its blocking
    * keys probe the persisted key state — with `capped`, under the
    * state's published block cap on its build-time `bsz` column — and
    * self-join for increment-vs-increment pairs; both legs verify in
    * one threshold-Levenshtein pass. */
  private def incrementPairs(s: SparkSession, d: String, capped: Boolean): DataFrame = {
    val k = keyedRecords(s, d)
    val incKeys = graft.ops.CacheOnce.swap("er-inc-keys",
      passKeyRows(k.filter(incPred)))
    val crossCands = StateProbe(StateProbe.Persisted(s, d, ErKeys, "ER key state"), "bkey",
        if (capped) Some(StateProbe.SizeColumn("bsz", ErKeys.stat(s, d))) else None)
      .pairs(incKeys.select(col("rid").as("rid2"), col("bkey")), col("rid").as("rid1"))(
        _.select("rid1", "rid2").distinct())
    EntityResolution.verifyByEditDistance(
      crossCands.unionByName(StateProbe.selfPairs(incKeys, "rid", "bkey", ("rid1", "rid2")))
        .distinct(),
      k, "rid", "norm", Seq("nation"), maxDist = 1)
  }

  val defs: Seq[Q] = Seq(

    // Blocked + fuzzy-verified match pairs: the linkage step alone.
    Q("er_matches",
      s"WITH $erCtes SELECT rid1, rid2, name_dist FROM m") { (s, d) =>
      matches(s, d)
    },

    // Blocking-quality audit — the report a linkage pipeline tunes its
    // passes with: per pass, the records covered, block count, the
    // candidate-pair volume the pass would generate UNCAPPED (sum of
    // c·(c−1)/2 over blocks — the number the block cap exists to
    // bound), the largest block (the degenerate-key detector), and the
    // DERIVED CAP the live blocking pass actually applies
    // (greatest(floor, mult · mean block size) — the audit's own
    // numbers are the cap choice, closing the tune-the-cap loop).
    // Driver-bounded output: one row per pass.
    Q("er_blocking_audit",
      s"""WITH $erCtes
SELECT pass, CAST(sum(c) AS BIGINT) AS n_records,
  CAST(count(*) AS BIGINT) AS n_blocks,
  CAST(sum(c * (c - 1) // 2) AS BIGINT) AS n_candidate_pairs,
  CAST(max(c) AS BIGINT) AS max_block,
  CAST(greatest($erBlockCap, $erCapMeanMult * sum(c) // count(*)) AS BIGINT) AS derived_cap
FROM (SELECT pass, bk, CAST(count(*) AS BIGINT) AS c FROM p GROUP BY 1, 2)
GROUP BY 1""") { (s, d) =>
      val k = keyedRecords(s, d)
      EntityResolution.blockPassKeys(col("nation"), col("digits"))
        .zipWithIndex.map { case (key, i) =>
        k.select(key.cast("string").as("bk")).filter(col("bk").isNotNull)
          .groupBy(col("bk")).agg(count(lit(1)).as("c"))
          .agg(sum(col("c")).as("n_records"),
            count(lit(1)).as("n_blocks"),
            expr("sum(c * (c - 1) div 2)").as("n_candidate_pairs"),
            max(col("c")).as("max_block"),
            greatest(lit(erBlockCap.toLong),
              expr(s"$erCapMeanMult * sum(c) div count(1)")).as("derived_cap"))
          .select(lit(i.toLong).as("pass"), col("n_records"), col("n_blocks"),
            col("n_candidate_pairs"), col("max_block"), col("derived_cap"))
      }.reduce(_.unionByName(_))
    },

    // Entity clusters: connected components over the match graph (the
    // greedy pairwise rules under-merge chains, exactly as in document
    // dedup), one row per entity with its size and max member.
    Q("er_clusters",
      s"""WITH RECURSIVE $erCompCtes
SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_recs, max(node) AS max_rid
FROM comp GROUP BY 1""") { (s, d) =>
      graft.dedup.Dedup.connectedComponents(matches(s, d), ("rid1", "rid2"))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_recs"), max(col("node")).as("max_rid"))
    },

    // Incremental entity resolution — the warehouse twin of
    // dd_incremental_clusters: the accepted stock's blocking keys
    // persist BUCKETED on the probe column and its entities cluster
    // once; each arriving batch computes only ITS OWN keys, probes the
    // state exchange-free (merge-hinted, REQUIREd), self-joins for
    // increment-vs-increment pairs, verifies both legs in one
    // threshold-Levenshtein pass, and merges via the SAME
    // incrementalClusters operator (increment-bounded CC over cluster
    // representatives + one broadcast state remap). The oracle is the
    // FULL re-cluster over the complete match graph.
    Q("er_incremental_clusters", erIncClustersOracleSql, ErKeys, ErClusters) { (s, d) =>
      // Same (name, plan) as er_incremental_survivorship's merged map:
      // one probe + verify + merge per session no matter which of the
      // two runs first, and the returned frame is one LogicalRDD leaf.
      graft.ops.CacheOnce.swapTruncated("er-inc-updated",
        graft.dedup.Dedup.incrementalClusters(
          ErClusters.read(s, d), incrementPairs(s, d, capped = false), ("rid1", "rid2")))
    },

    // The CAP-AWARE twin of er_incremental_clusters — the operational
    // member of the pair (the uncapped query stays as the oracle-parity
    // audit member, the split st_incremental_clusters/_capped already
    // uses): the cross-probe rides the PERSISTED derived block cap
    // (bsz <= cap as a scan predicate — bsz was windowed into the key
    // state at CTAS, the cap is an O(1) 1-row checkpoint read), so a
    // degenerate blocking key at collision density bounds the refresh
    // at the cap instead of exploding the candidate volume (the
    // uncapped probe's 30x price: ~15 s of oracle-parity candidates).
    // The cap binds ONLY the per-refresh probe: the state graph
    // clustered uncapped at build time, and increment self-pairs stay
    // uncapped (increment-bounded by definition) — exactly what the
    // cap-aware oracle reproduces. er_blocking_audit still reports the
    // cap and the uncapped volume per pass.
    Q("er_incremental_clusters_capped", erIncClustersCappedOracleSql, ErKeys, ErClusters) { (s, d) =>
      // Truncated merged map (capped feed — its own memo entry).
      graft.ops.CacheOnce.swapTruncated("er-inc-updated-capped",
        graft.dedup.Dedup.incrementalClusters(
          ErClusters.read(s, d), incrementPairs(s, d, capped = true), ("rid1", "rid2")))
    },

    // The streaming front gate of incremental ER (st_lsh_probe's shape
    // for structured records): arriving customers derive their dirty
    // copies and blocking keys PER ROW (narrow explode — zero streaming
    // aggregation state) and probe the persisted bucketed key state
    // with a stateless stream-static join; the settled distinct equals
    // the batch cross-candidate set at any arrival order. The state
    // side carries the same DERIVED block cap as the batch blocking
    // pass (greatest(floor, mult · mean state block size) — the
    // blocking audit's own numbers): never binds at driver SFs; at
    // copy-density stress fixtures it rides the density so the probe
    // degrades gracefully instead of zeroing, while an uncapped probe
    // would flood the sink cap+-fold per arrival (the r12 JVM-kill
    // incident) and a FIXED cap zeroes every block. Oracle = the
    // state-capped state-vs-increment blocking join with the same
    // derivation.
    Q("st_er_probe",
      s"""WITH a AS (SELECT c_custkey*2 AS rid, c_name AS name, c_nationkey AS nation FROM customer),
b AS (SELECT c_custkey*2+1 AS rid,
  CASE CAST(c_custkey % 3 AS INTEGER) WHEN 0 THEN lower(c_name)
    WHEN 1 THEN substr(c_name,1,8) || '-' || substr(c_name,10)
    ELSE substr(c_name,1,length(c_name)-1) END AS name,
  c_nationkey AS nation FROM customer),
d AS (SELECT * FROM a UNION ALL SELECT * FROM b),
k AS (SELECT rid, nation, regexp_replace(name, '[^0-9]', '', 'g') AS digits FROM d),
p AS (SELECT rid, '0:' || digits AS bkey FROM k
  UNION ALL SELECT rid, '1:' || CAST(nation AS VARCHAR) || ':' || substr(digits,1,8) FROM k),
st AS (SELECT rid, bkey FROM p WHERE (rid // 2) % 3 <> 2),
stc AS (SELECT rid, bkey FROM
  (SELECT *, count(*) OVER (PARTITION BY bkey) AS bsz FROM st)
  WHERE bsz <= (SELECT greatest($erBlockCap, $erCapMeanMult * count(*) // count(DISTINCT bkey)) FROM st)),
inc AS (SELECT rid, bkey FROM p WHERE (rid // 2) % 3 = 2)
SELECT DISTINCT stc.rid AS state_rid, inc.rid AS inc_rid
FROM stc JOIN inc ON stc.bkey = inc.bkey""", ErKeys) { (s, d) =>
      // Cap read from the state's published graft.stat (O(1)); the block
      // sizes were windowed into the state at CTAS — nothing state-sized is
      // recomputed per probe. Same value the in-plan derivation produced.
      graft.streaming.ErProbe.candidatesOnce(s, d, ErKeys.name(d),
        cap = Some(StateProbe.SizeColumn("bsz", ErKeys.stat(s, d))))
    },

    // Survivorship: per entity cluster, elect the canonical record by a
    // DATA preference (well-formed catalog names beat dirtied ones),
    // rid as the total-order tiebreak.
    Q("er_survivorship",
      s"""WITH RECURSIVE $erCompCtes
SELECT cluster_id, rid AS canonical_rid, name AS canonical_name FROM (
  SELECT comp.cluster_id, k.rid, k.name,
    row_number() OVER (PARTITION BY comp.cluster_id ORDER BY
      CASE WHEN regexp_full_match(k.name, 'Customer#[0-9]+') THEN 0 ELSE 1 END,
      k.rid) AS rn
  FROM comp JOIN k ON k.rid = comp.node) WHERE rn = 1""", ErFullClusters) { (s, d) =>
      val k = keyedRecords(s, d)
      val clustered = ErFullClusters.read(s, d)
        .join(k.select(col("rid").as("node"), col("name")), Seq("node"))
        .select(col("cluster_id"), col("node").as("rid"), col("name"))
      EntityResolution.survivorship(clustered, "rid", "cluster_id",
        preference = when(col("name").rlike("^Customer#[0-9]+$"), 0).otherwise(1))
        .select(col("cluster_id"), col("rid").as("canonical_rid"),
          col("name").as("canonical_name"))
    },

    // Incremental survivorship — the ER family's last batch-only
    // member made operational: canonicals persist per day-1 cluster,
    // the increment's cluster update (the same O(increment) probe +
    // merge er_incremental_clusters runs) marks DIRTY clusters (every
    // new/relabeled node's new id AND its old id — a merged-away
    // cluster's stale canonical must drop, a winning cluster that
    // gained members must re-elect because a new member can win the
    // preference), re-elects ONLY those, and every untouched cluster's
    // canonical rides from state verbatim (elections depend only on
    // membership, and untouched membership is unchanged). The result
    // must equal the full election over the full match graph — the
    // SAME oracle er_survivorship answers, so composition is pinned by
    // hash, not argued.
    Q("er_incremental_survivorship",
      s"""WITH RECURSIVE $erCompCtes
SELECT cluster_id, rid AS canonical_rid, name AS canonical_name FROM (
  SELECT comp.cluster_id, k.rid, k.name,
    row_number() OVER (PARTITION BY comp.cluster_id ORDER BY
      CASE WHEN regexp_full_match(k.name, 'Customer#[0-9]+') THEN 0 ELSE 1 END,
      k.rid) AS rn
  FROM comp JOIN k ON k.rid = comp.node) WHERE rn = 1""", ErKeys, ErClusters, ErSurvivors) { (s, d) =>
      val k = keyedRecords(s, d)
      val state = ErClusters.read(s, d)
      // shared key with er_incremental_clusters: one merged map per
      // session no matter which of the two queries runs first.
      // TRUNCATED: the merged map is referenced by changed (x1), dirty
      // (x2 via changed's two branches) and reElected (x1 + dirty's
      // x2), so a lazily-cached plan would embed the whole merge tree
      // ~6x in the final election plan; the map is state-sized, the
      // same class the merge already writes back as the new state in
      // production.
      val updated = graft.ops.CacheOnce.swapTruncated("er-inc-updated",
        graft.dedup.Dedup.incrementalClusters(state, incrementPairs(s, d, capped = false),
          ("rid1", "rid2")))
      val changed = updated
        .join(state.withColumnRenamed("cluster_id", "_old"), Seq("node"), "left")
        .filter(col("_old").isNull || col("_old") =!= col("cluster_id"))
      val dirty = changed.select(col("cluster_id"))
        .union(changed.filter(col("_old").isNotNull)
          .select(col("_old").as("cluster_id")))
        .distinct()
      val survState = ErSurvivors.read(s, d)
      val untouched = survState
        .join(broadcast(dirty), Seq("cluster_id"), "left_anti")
      val reElected = EntityResolution.survivorship(
        updated.join(broadcast(dirty), Seq("cluster_id"), "left_semi")
          .join(k.select(col("rid").as("node"), col("name")), Seq("node"))
          .select(col("cluster_id"), col("node").as("rid"), col("name")),
        "rid", "cluster_id",
        preference = when(col("name").rlike("^Customer#[0-9]+$"), 0).otherwise(1))
        .select(col("cluster_id"), col("rid").as("canonical_rid"),
          col("name").as("canonical_name"))
      untouched.unionByName(reElected)
    })
}
