package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank over a pair graph — the graph-centrality counterpart of the
  * connected-components resolver (graft.dedup.Dedup.connectedComponents):
  * where CC answers "which docs form one duplicate cluster", PageRank
  * ranks WITHIN the near-dup neighborhood, surfacing template hubs (a
  * boilerplate page near-dup to hundreds of others scores high; an
  * isolated pair stays near the floor).
  *
  * Pregel shape: the edge list joined with out-degrees is the static
  * frame every superstep re-reads (persisted once); a superstep is one
  * same-key join (ranks x edges on src) + one keyed aggregate (sum of
  * contributions by dst) — the standard two-shuffle iteration that
  * scales as |E| per round on a cluster. Node count and the teleport
  * term ride in-plan via a broadcast 1-row aggregate, so constructing
  * the plan triggers NO driver-side action.
  */
object PageRank {

  /** `iters` fixed-point rounds of the damped PageRank recurrence
    * r(v) = (1-damping)/N + damping * Σ_{u→v} r(u)/outdeg(u)
    * over directed `edges` (cols `src`, `dst`; pass both directions for
    * an undirected graph — [[symmetrize]]). Nodes are the distinct edge
    * sources — on a symmetric graph every node has outdeg ≥ 1, so there
    * is no dangling mass to redistribute. That contract is ENFORCED:
    * a plain directed graph with sink nodes (a dst that never appears
    * as a src) would silently drop the sinks after one superstep and
    * never redistribute their mass — not PageRank — so the guard fails
    * loudly instead (in-plan: a broadcast 1-row raise_error fires at
    * the output action, costing no separate count() round per call —
    * the incremental path's convention). Callers whose edge frame is a
    * [[symmetrize]] output hold the contract BY CONSTRUCTION and pass
    * `symmetric = true` to waive the guard — the waiver the incremental
    * path already extends to its persisted state, and worth taking
    * here too: the guard's distinct + anti-join branch is pure plan
    * weight on a query that is ANALYSIS-bound (sf0.1 warm: ~2 s of
    * driver planning over ~1.1 s of tasks). Returns (id, rank)
    * with rank rounded to `roundTo` decimals (sum-order noise lives
    * ~1e-12 below it).
    *
    * Fixed iteration count keeps the result an exact algebraic function
    * of the edge set — reproducible by any ANSI engine as `iters`
    * unrolled join+aggregate passes. */
  def pageRank(edges: DataFrame, iters: Int = 3, damping: Double = 0.85,
               roundTo: Int = 6, symmetric: Boolean = false): DataFrame = {
    require(iters >= 1, "pageRank needs at least one iteration")
    // TRUNCATE the RAW edge list, then derive EVERYTHING from the leaf:
    // deg, the superstep join frame, the node count and the init ranks
    // all reference `e`. The node-count aggregate alone is broadcast
    // once per superstep (each `broadcast(nDf)` is its own exchange),
    // so an uncached edge lineage would re-derive the upstream pair
    // computation iters+2 times — measured 6x the whole MinHash chain
    // on the near-dup graph before this was pinned down. Truncated,
    // not just cached (r18): caching dedups EXECUTION, but the ANALYZED
    // tree of a deep edge feed (the MinHash band join + Jaccard verify)
    // still rode into every one of the ~3·iters downstream references,
    // and Catalyst analysis dominated the warm query (sf0.1: 2.3 s of
    // driver gap over ~0.6 s of tasks — the same fat-leaf arithmetic
    // that motivated swapTruncated on the incremental path). After
    // truncation every reference costs the analyzer one LogicalRDD
    // leaf. An edge frame over tables by name is keyed by the files
    // they list, a LogicalRDD-leaf-fed one by the leaf (CacheOnce).
    val e = graft.ops.CacheOnce.swapTruncated("pagerank-edges", edges)
    // deg is node-cardinality sized and referenced by every superstep's
    // join AND every teleport broadcast (~2*iters references, each its
    // own stage if recomputed) — persist it alongside the edges.
    val deg = graft.ops.CacheOnce.swap("pagerank-deg",
      e.groupBy(col("src")).agg(count(lit(1)).as("_deg")))
    // Contract guard (see scaladoc): every dst must appear as a src, or
    // sink mass silently vanishes and the result is not PageRank.
    // IN-PLAN like the incremental path's: the dangling count rides as
    // a broadcast 1-row raise_error crossJoined under the result, so
    // the check costs no separate action per call (the old count() was
    // a full scheduling round over the cached edges before the real
    // action ran). Batch edges are ARBITRARY caller input, so unlike
    // incrementalPageRank the dst scan here must cover the full edge
    // frame — but it reads the same cache the supersteps do.
    // `symmetric = true` — the caller vouches the edge frame is a
    // [[symmetrize]] output (or otherwise closed under reversal), the
    // same by-construction waiver the incremental path extends to its
    // persisted state: a symmetric frame cannot hold a dst absent from
    // src, so the guard's distinct + anti-join branch is pure plan
    // weight. At sf0.1 that branch was ~40% of the query's measured
    // driver planning gap (the query is ANALYSIS-bound: ~2 s of
    // Catalyst work over ~1.1 s of tasks), which is what the r14 bench
    // recorded as a +0.9 s "drift" when the guard moved in-plan.
    def dangleGuard = broadcast(
      e.select(col("dst").as("src")).distinct()
        .join(deg, Seq("src"), "left_anti")
        .agg(count(lit(1)).as("_nd"))
        .select(when(col("_nd") > 0, raise_error(concat(
            lit("pageRank: "), col("_nd").cast("string"),
            lit(" dangling node(s) — a dst never appearing as a src; this " +
              "implementation assumes a symmetric graph (no dangling-mass " +
              "redistribution): symmetrize() the pair list first, or add " +
              "sink back-edges"))))
          .otherwise(lit(true)).as("_ok")))
    // The per-superstep constant frame: each edge with its source's
    // out-degree (recomputed per superstep from the cached edges — one
    // cheap keyed aggregate + join, no upstream recompute).
    val ed = e.join(deg, Seq("src"))
    val nDf = deg.agg(count(lit(1)).cast("double").as("_n"))
    val init = deg.crossJoin(broadcast(nDf))
      .select(col("src").as("id"), (lit(1.0) / col("_n")).as("r"))
    val last = (1 to iters).foldLeft(init) { (ranks, _) =>
      ed.join(ranks, ed("src") === ranks("id"))
        .groupBy(col("dst"))
        .agg(sum(col("r") / col("_deg")).as("_m"))
        .crossJoin(broadcast(nDf))
        .select(col("dst").as("id"),
          (lit(1.0 - damping) / col("_n") + lit(damping) * col("_m")).as("r"))
    }
    val out = last.select(col("id"), round(col("r"), roundTo).as("rank"))
    if (symmetric) out
    else out.crossJoin(dangleGuard).filter(col("_ok")).drop("_ok")
  }

  /** Incremental PageRank — the graph family's operational member
    * (digests, bands, centroids, clusters, aggregates and ER all have
    * one): ranks persist from the accepted corpus's graph, the crawl
    * increment contributes new edges, and the refresh RE-ITERATES over
    * the merged graph SEEDED from the persisted ranks — `iters` cheap
    * supersteps instead of the full from-uniform trajectory (warm-start
    * convergence: the seed is already near the merged fixpoint wherever
    * the increment didn't touch).
    *
    * Scale shape: `stateEdges` is the PERSISTED edge state — a table
    * bucketed AND sorted on `src` — and every superstep's big join
    * (edges ⋈ per-node rank/out-degree contributions) is pinned
    * sort-merge so the |E|-sized state rides its bucketing through
    * EVERY superstep with no exchange: per round, only node-sized
    * frames (ranks, degrees) and the keyed message aggregate move.
    * Increment edges join separately and the two message streams merge
    * in the dst aggregate — unioning the edge FRAMES first would erase
    * the state side's partitioning and re-shuffle the whole graph per
    * superstep, the exact cost the persisted layout exists to avoid.
    * Out-degrees are recomputed over the merged graph (an increment
    * edge at a state node changes its degree — stale state degrees
    * would leak rank mass).
    *
    * The persisted seed is the checkpoint ROUNDING boundary: state
    * ranks are stored at their published precision (pageRank's
    * `roundTo`), so the refresh trajectory is an exact algebraic
    * function of (state graph, increment edges, superstep counts) that
    * an ANSI engine reproduces by unrolling both phases — the
    * registered oracle does precisely that. New nodes (no persisted
    * rank) seed at 1/N of the merged graph. Same symmetric-graph
    * contract as [[pageRank]]; the in-plan guard checks the INCREMENT
    * side only (see below) — `stateEdges` must be a [[symmetrize]]
    * output (the state builder's CTAS guarantees it), because a state
    * dst scan would cost |E| per refresh to re-prove a build-time
    * invariant. */
  def incrementalPageRank(stateEdges: DataFrame, incEdges: DataFrame,
                          stateRanks: DataFrame, iters: Int = 2,
                          damping: Double = 0.85, roundTo: Int = 6): DataFrame = {
    require(iters >= 1, "incrementalPageRank needs at least one iteration")
    // TRUNCATED, not just cached: the increment feed is typically a
    // deep plan (LSH probe + verify) referenced by deg, the dangle
    // guard and every superstep's message branch — cached execution is
    // deduped, but the ANALYZED tree would still ride into each
    // reference and Catalyst analysis of the composed refresh plan
    // dominated the warm runtime (measured ~10 s of a 13 s refresh at
    // sf0.1, SCALE.md). After truncation each reference is
    // one LogicalRDD leaf.
    val incE = graft.ops.CacheOnce.swapTruncated("ipr-inc-edges", incEdges)
    // Merged out-degrees: the state side's aggregate rides the bucketing
    // (no exchange), and the merge with the increment's degrees is a
    // node-sized full-outer join PINNED sort-merge on the state side —
    // a union+re-aggregate here would put a shuffle between the
    // bucketed scan and its consuming join, which is exactly what the
    // executed-plan REQUIRE rejects.
    val deg = graft.ops.CacheOnce.swap("ipr-deg",
      stateEdges.groupBy(col("src")).agg(count(lit(1)).as("_sd")).hint("merge")
        .join(incE.groupBy(col("src")).agg(count(lit(1)).as("_id")),
          Seq("src"), "full_outer")
        .select(col("src"),
          (coalesce(col("_sd"), lit(0L)) + coalesce(col("_id"), lit(0L))).as("_deg")))
    // Symmetric-graph contract, enforced IN-PLAN instead of by a
    // separate count() action: the dangling count rides as a broadcast
    // 1-row guard crossJoined under the result, and raise_error fires
    // during the single output action if any dst never appears as a
    // src. INCREMENT-SIDED on purpose: the guard scans only the
    // increment's dsts (increment-sized distinct) — a state dst check
    // would re-scan and shuffle ~|E| rows per refresh for a contract
    // the EDGE STATE satisfies by construction (the state table is a
    // [[symmetrize]] output written at state-build time, and a
    // symmetric frame cannot hold a dst absent from src). A
    // non-symmetric INCREMENT — the input that actually varies per
    // refresh — still fails loudly: any inc dst missing from the
    // merged degree frame never appears as a src on either side.
    val dangleGuard = broadcast(
      incE.select(col("dst").as("src")).distinct()
        .join(deg, Seq("src"), "left_anti")
        .agg(count(lit(1)).as("_nd"))
        .select(when(col("_nd") > 0, raise_error(concat(
            lit("incrementalPageRank: "), col("_nd").cast("string"),
            lit(" dangling node(s) — symmetrize() both edge frames first"))))
          .otherwise(lit(true)).as("_ok")))
    val nDf = deg.agg(count(lit(1)).cast("double").as("_n"))
    val init = deg.select(col("src").as("id"))
      .join(stateRanks.select(col("id"), col("rank").as("_seed")), Seq("id"), "left")
      .crossJoin(broadcast(nDf))
      .select(col("id"), coalesce(col("_seed"), lit(1.0) / col("_n")).as("r"))
    // Superstep i's truncated frame is DEAD the moment superstep i+1's
    // eager truncation job completes (later rpds hold their own data —
    // a LogicalRDD leaf, no lineage back) — only the FINAL superstep's
    // frame is read by the terminal action. Release each intermediate
    // generation as soon as its successor materializes, or every
    // refresh pins iters-1 eager checkpoints per state fingerprint for
    // the session lifetime (blocks the memory manager cannot evict).
    val last = (1 to iters).foldLeft(init) { (ranks, i) =>
      // Per-node contribution r/outdeg, computed ONCE per round on the
      // node-sized frame then routed along BOTH edge frames. TRUNCATED
      // per superstep, not just cached: with two message-branch
      // references, a lazily-cached rpd dedups EXECUTION but the
      // analyzed/display tree still embeds the previous superstep twice
      // — O(2^iters) tree nodes — and at iters = 6 Spark spent ~8 min of
      // driver CPU just BUILDING the SQLExecutionStart plan string of
      // the nested InMemoryRelations (the batch path doesn't need this:
      // its single message branch keeps the tree linear). Truncation
      // makes each superstep's tree reference one LogicalRDD leaf, so
      // plan size, analysis and display are all linear in iters — the
      // eager node-sized materialization per round is the standard
      // iterative-graph checkpoint cadence. Keyed PER SUPERSTEP so the
      // per-name LRU never frees a round the terminal action still
      // reads (PageRankSpec pins iters = 6 linear via a stage-count
      // listener).
      //
      // Generations are NOT eagerly released between supersteps (r19):
      // the r18 release-each-round policy made every repeat refresh
      // re-materialize rpd-1, which changed rpd-2's LogicalRDD leaf and
      // so its memo KEY — each warm refresh re-ran every superstep AND
      // appended a fresh dead rpd-final entry per rep (measured: 28
      // stages / ~13 s-cpu per warm sf0.1 rep that the memo was built
      // to avoid). Kept, the whole chain memo-hits across refreshes of
      // one state generation: entries are one per generation (CacheOnce
      // keys each by the state files its plan reads), node-sized, and
      // the group's LRU (maxPerNameTruncated per superstep group)
      // bounds dead generations across source regenerations.
      val rpd = graft.ops.CacheOnce.swapTruncated(s"ipr-rpd-$i",
        ranks.join(deg, ranks("id") === deg("src"))
          .select(col("src"), (col("r") / col("_deg")).as("_rpd")))
      val msgs = stateEdges.hint("merge").join(rpd, Seq("src"))
        .select(col("dst"), col("_rpd"))
        .unionByName(incE.join(rpd, Seq("src")).select(col("dst"), col("_rpd")))
      msgs.groupBy(col("dst"))
        .agg(sum(col("_rpd")).as("_m"))
        .crossJoin(broadcast(nDf))
        .select(col("dst").as("id"),
          (lit(1.0 - damping) / col("_n") + lit(damping) * col("_m")).as("r"))
    }
    last.select(col("id"), round(col("r"), roundTo).as("rank"))
      .crossJoin(dangleGuard).filter(col("_ok")).drop("_ok")
  }

  /** Undirected helper: symmetrize an (id1, id2) pair list into the
    * directed `src`/`dst` edge list [[pageRank]] consumes. */
  def symmetrize(pairs: DataFrame, id1: String = "id1", id2: String = "id2"): DataFrame =
    pairs.select(col(id1).as("src"), col(id2).as("dst"))
      .union(pairs.select(col(id2).as("src"), col(id1).as("dst")))

  /** Build-time check behind the `symmetric = true` dangle-guard waiver:
    * a persisted edge state read BACK from a table is only
    * by-construction symmetric while the table really is a symmetrize()
    * CTAS, so the property is asserted ONCE where the table is written
    * (a stale/partial/hand-edited table would otherwise turn the waived
    * guard into silently wrong ranks). dst ⊆ src — every rank sink also
    * appears as a source — is exactly what the in-plan guard enforces;
    * one anti-join count per fingerprint, never a per-read tax. */
  def assertNoDangles(edges: DataFrame, what: String): Unit = {
    val dangling = edges.select(col("dst").as("id"))
      .join(edges.select(col("src").as("id")), Seq("id"), "left_anti")
      .count()
    require(dangling == 0L,
      s"$what is not symmetric: $dangling dst ids never appear as src — " +
        "symmetrize() CTAS corrupted")
  }
}
