package graft.queries

import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.ScaleOps
import graft.ops.PersistedState._

/** Physical-layout scale patterns registered as bench/oracle queries —
  * the claims SCALE.md makes about shuffle shape, asserted inside the
  * query itself so they show up in BENCH, not only in specs. */
object ScaleQueries {

  val defs: Seq[Q] = Seq(

    // A7: rollup aggregation — per-(flag, status) counts plus flag
    // subtotals plus the grand total in ONE pass (Expand + single keyed
    // aggregate: the multi-level summary tables the reference builds as
    // separate tally queries, without re-scanning per level).
    // grouping_id bit order (first column = MSB) matches SQL GROUPING().
    Q("a7_rollup",
      "SELECT l_returnflag, l_linestatus, " +
        "CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid, " +
        "CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty " +
        "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)") { (s, d) =>
      Tables.lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(grouping_id().as("gid"),
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("total_qty"))
        .select("l_returnflag", "l_linestatus", "gid", "n", "total_qty")
    },

    // A8: distinct-cardinality with the sketch path held to account —
    // at 100 TB `approx_count_distinct` (one pass, no distinct shuffle;
    // HLL++) is the production path, so the query RUNS it and requires
    // <= 10% relative error against the exact count before returning
    // the exact (oracle-comparable) answer. A sketch regression fails
    // the query, not a dashboard three weeks later. ONE aggregate
    // produces both counts (one scan); the returned frame is the
    // group-cardinality-sized exact projection of that same result.
    Q("a8_approx_distinct",
      "SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users " +
        "FROM events GROUP BY 1") { (s, d) =>
      val check = Tables.events(s, d).groupBy("event_type").agg(
        countDistinct(col("user_id")).as("ex"),
        approx_count_distinct(col("user_id"), 0.02).as("ap")).collect()
      check.foreach { r =>
        val (ex, ap) = (r.getLong(1), r.getLong(2))
        require(math.abs(ap - ex).toDouble / math.max(ex, 1) <= 0.10,
          s"approx_count_distinct drifted: ${r.getString(0)} exact=$ex approx=$ap")
      }
      import s.implicits._
      check.toSeq.map(r => (r.getString(0), r.getLong(1)))
        .toDF("event_type", "n_users")
    },

    // A9: exact continuous quantiles (R-7 linear interpolation — the
    // convention Spark's `percentile` and DuckDB's `quantile_cont`
    // share). At 100 TB the production path is approx_percentile
    // (t-digest, one pass); the exact aggregate here is its
    // verification twin, same role as a8's exact distinct count.
    Q("a9_percentiles",
      "SELECT event_type, round(quantile_cont(value, 0.5), 4) AS p50, " +
        "round(quantile_cont(value, 0.9), 4) AS p90, " +
        "round(quantile_cont(value, 0.99), 4) AS p99 " +
        "FROM events GROUP BY 1") { (s, d) =>
      Tables.events(s, d).groupBy("event_type").agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"))
    },

    // A10: the 100 TB percentile path, held to account the same way as
    // a8 — `approx_percentile` (t-digest-style quantile summary, one
    // pass, mergeable across partitions) RUNS with an in-query error
    // gate against the exact R-7 percentiles from the SAME single
    // aggregate, then the exact values (a9's oracle convention) are
    // returned. At 100 TB only the sketch path is tractable; this entry
    // benches it and proves it stays within 5% of exact.
    Q("a10_approx_percentiles",
      "SELECT event_type, round(quantile_cont(value, 0.5), 4) AS p50, " +
        "round(quantile_cont(value, 0.9), 4) AS p90, " +
        "round(quantile_cont(value, 0.99), 4) AS p99 " +
        "FROM events GROUP BY 1") { (s, d) =>
      val check = Tables.events(s, d).groupBy("event_type").agg(
        expr("percentile(value, array(0.5, 0.9, 0.99))").as("ex"),
        expr("approx_percentile(value, array(0.5, 0.9, 0.99), 10000)").as("ap"),
        count(lit(1)).as("n"))
        .collect()
      check.foreach { r =>
        val ex = r.getSeq[Double](1); val ap = r.getSeq[Double](2)
        // The guard pins SKETCH drift, so it only fires on groups dense
        // enough that discreteness can't dominate: approx_percentile
        // returns an order statistic while percentile() interpolates,
        // and in a sparse tail (warmup-SF groups of ~200 rows) the
        // nearest ELEMENT to rank .99 legitimately sits far from the
        // interpolated value — that gap is not sketch error.
        if (r.getLong(3) >= 1000)
          ex.zip(ap).zip(Seq("p50", "p90", "p99")).foreach { case ((e, a), p) =>
            require(math.abs(a - e) <= math.max(0.05 * math.abs(e), 1e-6),
              s"approx_percentile drifted: ${r.getString(0)} $p exact=$e approx=$a")
          }
      }
      import s.implicits._
      check.toSeq.map { r =>
        val ex = r.getSeq[Double](1)
        (r.getString(0), ex(0), ex(1), ex(2))
      }.toDF("event_type", "p50", "p90", "p99")
        .select(col("event_type"), round(col("p50"), 4).as("p50"),
          round(col("p90"), 4).as("p90"), round(col("p99"), 4).as("p99"))
    },

    // A12: heavy hitters with the sketch path held to account (a8/a10
    // pattern). At 100 TB the production path is `approx_top_k`
    // (DataSketches frequent-items: one pass, mergeable, NO keyed
    // shuffle over every distinct user); the query runs it and requires
    // that the exact top-5 (count desc, id asc) all appear in the
    // sketch's top-50 with exact counts — tracked-capacity well above
    // the key cardinality makes sketch counts exact, and the wide
    // margin keeps the gate tie-safe (a tie group spanning the exact
    // cutoff cannot span rank 50 too), so any miss is a real
    // regression. Returns the exact, oracle-comparable top-5.
    Q("a12_heavy_hitters",
      "SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM events " +
        "GROUP BY 1 ORDER BY n DESC, user_id LIMIT 5") { (s, d) =>
      val ev = Tables.events(s, d)
      val exact = ev.groupBy("user_id").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("user_id")).limit(5).collect()
      val sketch = ev.agg(expr("approx_top_k(user_id, 50, 100000)")).head()
        .getSeq[org.apache.spark.sql.Row](0)
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      exact.foreach { r =>
        val (u, n) = (r.getLong(0), r.getLong(1))
        require(sketch.get(u).contains(n),
          s"approx_top_k missed heavy hitter $u (exact n=$n, sketch has ${sketch.get(u)})")
      }
      import s.implicits._
      exact.toSeq.map(r => (r.getLong(0), r.getLong(1))).toDF("user_id", "n")
    },

    // Deterministic stratified downsampling: keep ~30% of each language
    // by md5-hash bucket of the doc id — the reproducible alternative to
    // rng sampling (same rows survive on any cluster, any partitioning,
    // any engine — the oracle proves it by re-deriving the buckets).
    Q("t_hash_sample",
      s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled,
CAST(min(doc_id) AS BIGINT) AS first_kept FROM (
  SELECT lang, doc_id FROM documents
  WHERE ${OracleSqlGen.hex8("md5(CAST(doc_id AS VARCHAR))", 1)} % 10 < 3)
GROUP BY 1""") { (s, d) =>
      val kept = Tables.documents(s, d).filter(
        pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long"), lit(10L)) < 3)
      kept.groupBy("lang").agg(count(lit(1)).as("n_sampled"),
        min(col("doc_id")).as("first_kept"))
    },

    // Deterministic seeded global shuffle order (training-order
    // reproducibility): "the first 100 documents of epoch-42's shuffle"
    // = top-100 by md5(doc_id:seed) — engine- and partitioning-
    // independent, and it plans as TakeOrderedAndProject (per-partition
    // top-N + single merge), never a global sort. Changing the seed
    // literal is a new epoch's order.
    Q("t_shuffle_order",
      "SELECT doc_id, substr(md5(concat(CAST(doc_id AS VARCHAR), ':42')), 1, 8) " +
        "AS shuffle_key FROM documents " +
        "ORDER BY md5(concat(CAST(doc_id AS VARCHAR), ':42')) LIMIT 100") { (s, d) =>
      val key = md5(concat(col("doc_id").cast("string"), lit(":42")))
      Tables.documents(s, d)
        .select(col("doc_id"), substring(key, 1, 8).as("shuffle_key"), key.as("_k"))
        .orderBy(col("_k")).limit(100).drop("_k")
    },

    // Zero-exchange bucketed fact-fact join: both sides are written
    // bucketed+sorted on the join key (the physical-layout answer to a
    // join repeated across many queries/days — at 100 TB this is the
    // difference between re-shuffling the fact table per query and
    // never shuffling it again). The query REQUIRES the join to plan
    // with no Exchange — a layout regression fails the query rather
    // than silently reintroducing the shuffle. Table prep is the
    // ONE-TIME cost of the layout claim: both sides are declared
    // states, built idempotently (keyed by source dir) before the body,
    // and Bench builds them (SparkEntry.prepare) outside the timed body
    // — the timed query measures the steady state: catalog lookup,
    // zero-Exchange join, aggregate.
    Q("sc1_bucketed_join",
      "SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1",
      LineitemBuckets, OrdersBuckets) { (s, d) =>
      // Cloned session: broadcast + AQE off only HERE so the static plan
      // check is deterministic; the caller's session is untouched. The
      // bucketed tables live in the shared catalog (./spark-warehouse).
      val ss = s.newSession()
      ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      ss.conf.set("spark.sql.adaptive.enabled", "false")
      val joined = ScaleOps.bucketedJoin(ss, OrdersBuckets.name(d),
        LineitemBuckets.name(d), "o_orderkey")
      val exchanges = joined.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeLike => e
      }
      require(exchanges.isEmpty,
        "bucketed join planned an Exchange — the co-located layout claim is violated")
      joined.groupBy("o_orderstatus").agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("total_qty"))
    }) ++ sc2Defs

  private def sc2Defs: Seq[Q] = Seq(
    // Partition pruning on a date-partitioned layout: the scan-side
    // twin of sc1's shuffle-side claim. The events tree is written
    // partitioned by event_date ONCE (its build, idempotent); a
    // single-day query must plan with a partition filter so only that
    // day's directory is listed and read — at 100 TB this is the
    // difference between touching a day and touching three years. The
    // query REQUIREs the partition filter in the plan; a layout or
    // pruning regression fails the query itself.
    Q("sc2_partition_pruning",
      "SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
        "round(sum(value), 2) AS total_value FROM events " +
        "WHERE CAST(ts AS DATE) = DATE '2024-01-15' GROUP BY 1", EventsPartitioned) { (s, d) =>
      val q = EventsPartitioned.read(s, d)
        .filter(col("event_date") === lit("2024-01-15").cast("date"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      val scans = q.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      require(scans.nonEmpty && scans.forall(f =>
        f.partitionFilters.exists(_.references.exists(_.name == "event_date"))),
        "single-day query did not plan a partition filter — pruning regressed")
      q
    },

    // Row-group data skipping on a range-clustered layout: the
    // INTRA-file complement of sc2's directory-level pruning. Events
    // are written once repartitionByRange(user_id) + sorted, so every
    // row group carries a tight user_id [min,max]; a 20-key range
    // query then skips almost every row group. The query REQUIREs the
    // clustering from the parquet footers themselves (at most a third
    // of row groups may overlap the range) and the pushed filter in
    // the plan — a layout regression fails the query, not a dashboard.
    Q("sc3_sorted_scan",
      "SELECT user_id, CAST(count(*) AS BIGINT) AS n, " +
        "round(sum(value), 2) AS total_value FROM events " +
        "WHERE user_id BETWEEN 100 AND 119 GROUP BY 1", EventsSorted) { (s, d) =>
      val path = EventsSorted.path(s, d)
      val ranges = ScaleOps.rowGroupRangesMemo(path, "user_id")
      val overlapping = ranges.count { case (lo, hi) => hi >= 100L && lo <= 119L }
      require(ranges.nonEmpty && overlapping * 3 <= ranges.size,
        s"sorted layout not clustering: $overlapping of ${ranges.size} row groups " +
          "overlap a 20-key range — data skipping regressed")
      val q = Tables.parquet(s, path)
        .filter(col("user_id").between(100, 119))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      val scans = q.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      require(scans.nonEmpty && scans.forall(_.dataFilters.nonEmpty),
        "range predicate did not reach the scan — pushdown regressed")
      q
    },

    // Z-ORDER (Morton) clustering: sc3 range-clusters ONE key; a table
    // queried by windows on TWO keys (user AND season) wants both
    // columns' row-group stats tight, which a single-key sort cannot
    // give. Events are written once sorted by the interleaved Morton
    // key of (user_id, day-of-year); a 2-D window query then skips, by
    // the parquet footers' own [min,max], most row groups ON BOTH
    // DIMENSIONS — REQUIREd in-query (<= 1/2 may overlap the window on
    // both axes; a plain user-sorted layout leaves day-of-year ranges
    // spanning the whole year in every row group).
    Q("sc6_zorder_scan",
      "SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM (" +
        "SELECT event_type, user_id, date_part('doy', CAST(ts AS TIMESTAMP)) AS doy " +
        "FROM events) WHERE user_id BETWEEN 40 AND 79 AND doy BETWEEN 8 AND 14 " +
        "GROUP BY 1", EventsZOrdered) { (s, d) =>
      val path = EventsZOrdered.path(s, d)
      val uRanges = ScaleOps.rowGroupRangesMemo(path, "user_id")
      val dRanges = ScaleOps.rowGroupRangesMemo(path, "doy")
      val overlap2d = uRanges.zip(dRanges).count { case ((ul, uh), (dl, dh)) =>
        uh >= 40L && ul <= 79L && dh >= 8L && dl <= 14L
      }
      require(uRanges.nonEmpty && overlap2d * 2 <= uRanges.size,
        s"z-order not clustering: $overlap2d of ${uRanges.size} row groups " +
          "overlap a 2-D window — multi-key skipping regressed")
      val q = Tables.parquet(s, path)
        .filter(col("user_id").between(40, 79) && col("doy").between(8, 14))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
      val scans = q.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      require(scans.nonEmpty && scans.forall(_.dataFilters.nonEmpty),
        "2-D predicate did not reach the scan — pushdown regressed")
      q
    },

    // HILBERT clustering: the step past sc6's Morton — the Hilbert
    // curve has no Z-seams (consecutive indices are always adjacent
    // cells), so a contiguous sort range maps to a compact 2-D blob
    // and even fewer row groups straddle a window. Same write-once
    // layout, same footer-REQUIREd claim, on a DIFFERENT window than
    // sc6 so the two queries pin two independent regions.
    Q("sc7_hilbert_scan",
      "SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM (" +
        "SELECT event_type, user_id, date_part('doy', CAST(ts AS TIMESTAMP)) AS doy " +
        "FROM events) WHERE user_id BETWEEN 100 AND 139 AND doy BETWEEN 20 AND 26 " +
        "GROUP BY 1", EventsHilbert) { (s, d) =>
      val path = EventsHilbert.path(s, d)
      val uRanges = ScaleOps.rowGroupRangesMemo(path, "user_id")
      val dRanges = ScaleOps.rowGroupRangesMemo(path, "doy")
      val overlap2d = uRanges.zip(dRanges).count { case ((ul, uh), (dl, dh)) =>
        uh >= 100L && ul <= 139L && dh >= 20L && dl <= 26L
      }
      require(uRanges.nonEmpty && overlap2d * 2 <= uRanges.size,
        s"hilbert not clustering: $overlap2d of ${uRanges.size} row groups " +
          "overlap a 2-D window — multi-key skipping regressed")
      val q = Tables.parquet(s, path)
        .filter(col("user_id").between(100, 139) && col("doy").between(20, 26))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
      val scans = q.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      require(scans.nonEmpty && scans.forall(_.dataFilters.nonEmpty),
        "2-D predicate did not reach the scan — pushdown regressed")
      q
    },

    // HILBERT RANGE PUSHDOWN (sc9): sc6/sc7 skip row groups via the
    // DIMENSION columns' footer [min,max] — stats the clustered layout
    // happens to keep tight. The scale-safe plan predicates the SORT
    // KEY ITSELF: decompose the 2-D window into contiguous Hilbert
    // intervals (the BIGMIN-style quadrant walk in HilbertRanges) and
    // filter on the stored hv column, whose stats are tight BY
    // CONSTRUCTION on any hv-sorted layout — no per-dimension stats
    // needed, which is what survives more dimensions, wider row
    // groups, or a store that only keeps cluster-key stats. The query
    // REQUIREs (a) row-group pruning via hv's OWN stats and (b) the hv
    // interval predicate reaching the scan's PushedFilters; the exact
    // dimension predicates stay as the residual filter, so coarsened
    // intervals can only over-read, never lose rows.
    Q("sc9_hilbert_range_scan",
      "SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM (" +
        "SELECT event_type, user_id, date_part('doy', CAST(ts AS TIMESTAMP)) AS doy " +
        "FROM events) WHERE user_id BETWEEN 60 AND 99 AND doy BETWEEN 10 AND 16 " +
        "GROUP BY 1", EventsHilbert) { (s, d) =>
      val path = EventsHilbert.path(s, d)
      val rs = graft.functions.HilbertRanges.ranges(
        60, 99, 10, 16, order = 16, maxRanges = 32)
      val hvStats = ScaleOps.rowGroupRangesMemo(path, "hv")
      val overlap = hvStats.count { case (lo, hi) =>
        rs.exists { case (rlo, rhi) => hi >= rlo && lo <= rhi } }
      require(hvStats.nonEmpty && overlap * 2 <= hvStats.size,
        s"hilbert range pushdown not pruning: $overlap of ${hvStats.size} " +
          "row groups intersect the decomposed intervals on hv's own stats")
      val hvPred = rs.map { case (lo, hi) => col("hv").between(lo, hi) }
        .reduce(_ || _)
      val q = Tables.parquet(s, path)
        .filter(hvPred &&
          col("user_id").between(60, 99) && col("doy").between(10, 16))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
      val scans = q.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      require(scans.nonEmpty && scans.forall(
        _.metadata.get("PushedFilters").exists(_.contains("hv"))),
        "hv interval predicate did not reach the scan's PushedFilters")
      q
    },

    // 3-D HILBERT RANGE PUSHDOWN (sc10): sc9's thesis one dimension
    // up — the natural 100 TB events layout clusters (user, day,
    // HOUR) so time-of-day windows prune too, which no 2-D curve
    // gives you. Same contract: decompose the 3-D window into
    // contiguous hilbert3 intervals (octant walk + aligned-block
    // trick in HilbertRanges.ranges3), predicate the SORT KEY ITSELF,
    // keep the exact per-dimension filters as the residual. REQUIREs
    // (a) row-group pruning via hv3's OWN footer stats and (b) the
    // interval predicate in the scan's PushedFilters.
    Q("sc10_hilbert3_range_scan",
      "SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM (" +
        "SELECT event_type, user_id, date_part('doy', CAST(ts AS TIMESTAMP)) AS doy, " +
        "date_part('hour', CAST(ts AS TIMESTAMP)) AS hod " +
        "FROM events) WHERE user_id BETWEEN 30 AND 69 AND doy BETWEEN 12 AND 18 " +
        "AND hod BETWEEN 6 AND 17 GROUP BY 1", EventsHilbert3) { (s, d) =>
      val path = EventsHilbert3.path(s, d)
      val rs = graft.functions.HilbertRanges.ranges3(
        30, 69, 12, 18, 6, 17, order = 14, maxRanges = 32)
      val hvStats = ScaleOps.rowGroupRangesMemo(path, "hv3")
      val overlap = hvStats.count { case (lo, hi) =>
        rs.exists { case (rlo, rhi) => hi >= rlo && lo <= rhi } }
      require(hvStats.nonEmpty && overlap * 2 <= hvStats.size,
        s"hilbert3 range pushdown not pruning: $overlap of ${hvStats.size} " +
          "row groups intersect the decomposed intervals on hv3's own stats")
      val hvPred = rs.map { case (lo, hi) => col("hv3").between(lo, hi) }
        .reduce(_ || _)
      val q = Tables.parquet(s, path)
        .filter(hvPred && col("user_id").between(30, 69) &&
          col("doy").between(12, 18) && col("hod").between(6, 17))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
      val scans = q.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      require(scans.nonEmpty && scans.forall(
        _.metadata.get("PushedFilters").exists(_.contains("hv3"))),
        "hv3 interval predicate did not reach the scan's PushedFilters")
      q
    },

    // SURGICAL KEY DELETION (sc11): right-to-be-forgotten / tenant
    // offboarding over the user_id-range-clustered layout. Deleting a
    // cohort by rewriting the whole table is O(table) per request; on
    // the clustered layout the cohort's keys live in FEW files (tight
    // footer [min,max]), so only those files rewrite — the rest copy
    // verbatim (a metadata move at scale). The query REQUIREs the
    // surgical property from the operator's own file counts (≤ 1/3 of
    // files rewritten) and answers from the rewritten tree; the oracle
    // recomputes from the raw table minus the cohort, so the hash also
    // proves the rewrite dropped exactly the cohort and nothing else.
    Q("sc11_forget_rewrite",
      "SELECT user_id, CAST(count(*) AS BIGINT) AS n, " +
        "round(sum(value), 2) AS total_value FROM events " +
        "WHERE user_id NOT BETWEEN 100 AND 119 GROUP BY 1", EventsSorted) { (s, d) =>
      val src = EventsSorted.path(s, d)
      val dst = EventsForgotten.path(s, d)
      val (rewritten, copied) = ScaleOps.ensureSurgicalDelete(
        s, src, dst, "user_id", srcFingerprint = EventsForgotten.fingerprint(d))(
        (100L to 119L).toSeq)
      require(rewritten > 0 && rewritten * 3 <= rewritten + copied,
        s"surgical delete not surgical: $rewritten of ${rewritten + copied} " +
          "files rewritten for a 20-key contiguous cohort — the clustered " +
          "layout's footer pruning regressed")
      Tables.parquet(s, dst)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
    },

    // SMALL-FILE COMPACTION (sc8): the operational 100 TB problem the
    // other layout queries assume away — streaming ingest lands
    // thousands of per-micro-batch files, and every query pays
    // per-file open/footer/listing cost until a compaction pass
    // rewrites them. The fixture fragments events into 64 files; the
    // compactor (shuffle-free coalesce rewrite, one-time and
    // fingerprint-idempotent) folds them to <= 4. The query REQUIREs
    // both facts from the filesystem and answers from the COMPACTED
    // copy, so the oracle (raw events) also proves the rewrite lost
    // and duplicated nothing.
    Q("sc8_compaction",
      "SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
        "round(sum(value), 2) AS total_value FROM events GROUP BY 1",
      EventsFragmented, EventsCompacted) { (s, d) =>
      val nFrag = ScaleOps.partFileCount(s, EventsFragmented.path(s, d))
      val nComp = ScaleOps.partFileCount(s, EventsCompacted.path(s, d))
      require(nFrag >= 32,
        s"fragmented fixture lost its fragmentation: $nFrag files")
      require(nComp >= 1 && nComp <= 4,
        s"compaction regressed: $nComp part files after rewrite")
      EventsCompacted.read(s, d).groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
    },

    // DYNAMIC partition pruning: sc2 prunes on a literal date; the
    // 100 TB join pattern filters a DIMENSION ("first week of any
    // month") and lets the runtime prune the fact tree from the dim
    // join keys — at scale the difference between scanning every
    // partition and scanning the ones the dim actually selects. The
    // broadcast dim's keys become a runtime partition filter on the
    // fact scan (reused broadcast, zero extra jobs); the query REQUIREs
    // the dynamicpruning subquery in the fact scan's PartitionFilters.
    Q("sc4_dynamic_pruning",
      "SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events " +
        "WHERE date_part('day', CAST(ts AS DATE)) <= 7 GROUP BY 1",
      EventsPartitioned, DatesDim) { (s, d) =>
      val fact = EventsPartitioned.read(s, d)
      val dim = DatesDim.read(s, d)
        .filter(col("day_of_month") <= 7)
      val q = fact.join(dim, Seq("event_date"))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
      val plan = q.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      require(plan.contains("dynamicpruning"),
        "dim-filtered join did not plan dynamic partition pruning on the fact scan")
      q
    },

    // AQE skew-join: a hot key (90% of fact rows land on one join key —
    // the one-beach-section / stop-word-shingle shape) turns a sort-merge
    // join into a single straggler task; AQE splits the skewed partition
    // at runtime from observed shuffle sizes. Session clone pins the
    // skew thresholds to data-independent values; the mechanism itself
    // ("skew=true" in the final adaptive plan) is pinned by AqeSkewSpec
    // on synthetic data — here the RESULT is the oracle-checked part
    // (AQE must never change answers, only partitioning).
    Q("sc5_aqe_skew",
      "SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(payload) AS BIGINT) AS total FROM " +
        "(SELECT CASE WHEN event_id % 10 < 9 THEN 0 ELSE event_id % 100 END AS k FROM events) e " +
        "JOIN (SELECT CAST(i AS BIGINT) AS k, CAST(i * 2 AS BIGINT) AS payload " +
        "FROM generate_series(0, 99) g(i)) dim USING (k)") { (s, d) =>
      val ss = s.newSession()
      ss.conf.set("spark.sql.adaptive.enabled", "true")
      ss.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      ss.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      ss.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32k")
      ss.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
      ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ: the skewed shape
      val e = Tables.events(ss, d).select(
        when(col("event_id") % 10 < 9, lit(0L))
          .otherwise(col("event_id") % 100).as("k"))
      val dim = ss.range(0, 100).select(col("id").as("k"), (col("id") * 2).as("payload"))
      e.join(dim, Seq("k"))
        .agg(count(lit(1)).as("n"), sum(col("payload")).as("total"))
    })

  /** The physical layouts' builds, one per family and each idempotent:
    * a fresh layout costs its freshness lookup and builds no frame. */
  val builds: Seq[Build] = Seq(
    Build(LineitemBuckets)((s, d) =>
      LineitemBuckets.bucketed(s, d, Seq("o_orderkey"))(Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity")))),
    // Co-located join pair: BOTH sides must carry the SAME bucket count
    // or the exchange-free bucketedJoin degrades to a one-sided shuffle.
    // Orders takes the count derived from the LARGER side (lineitem),
    // folded into its fingerprint so a lineitem regrowth that moves the
    // derived count rebuilds the orders layout in lockstep.
    Build(OrdersBuckets, LineitemBuckets) { (s, d) =>
      val nb = LineitemBuckets.buckets(s, d)
      ScaleOps.ensureBucketedKeys(s, OrdersBuckets.name(d), Seq("o_orderkey"), nb,
        OrdersBuckets.fingerprint(d, s"|nb=$nb"))(
        Tables.orders(s, d).select("o_orderkey", "o_orderstatus"))
    },
    Build(EventsPartitioned)((s, d) =>
      EventsPartitioned.partitioned(s, d, "event_date")(Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"),
          to_date(col("ts")).as("event_date")))),
    Build(EventsSorted)((s, d) =>
      EventsSorted.sorted(s, d, "user_id", numFiles = 8)(
        Tables.events(s, d).select("user_id", "event_type", "value"))),
    Build(DatesDim)((s, d) =>
      DatesDim.sorted(s, d, "event_date")(Tables.events(s, d)
        .select(to_date(col("ts")).as("event_date")).distinct()
        .withColumn("day_of_month", dayofmonth(col("event_date"))))),
    Build(EventsZOrdered)((s, d) =>
      EventsZOrdered.sorted(s, d, "zv", numFiles = 8)(userDays(s, d)
        .withColumn("zv", graft.functions.ZOrderFunctions.morton2(col("user_id"), col("doy"))))),
    Build(EventsHilbert)((s, d) =>
      EventsHilbert.sorted(s, d, "hv", numFiles = 8, smallGroups)(userDays(s, d)
        .withColumn("hv", graft.functions.HilbertFunctions.hilbert2(col("user_id"), col("doy"))))),
    Build(EventsHilbert3)((s, d) =>
      EventsHilbert3.sorted(s, d, "hv3", numFiles = 8, smallGroups)(
        userDays(s, d, hour(col("ts")).cast("long").as("hod"))
          .withColumn("hv3", graft.functions.HilbertFunctions.hilbert3(
            col("user_id"), col("doy"), col("hod"))))),
    Build(EventsFragmented)((s, d) =>
      EventsFragmented.fragmented(s, d, 64)(
        Tables.events(s, d).select("event_id", "event_type", "value"))),
    Build(EventsCompacted, EventsFragmented)((s, d) =>
      ScaleOps.compact(s, EventsFragmented.path(s, d),
        EventsCompacted.path(s, d), targetFiles = 4, EventsCompacted.fingerprint(d))))

  /** The events the clustered layouts sort: user, day of year, `extra`,
    * type and value. */
  private def userDays(s: org.apache.spark.sql.SparkSession, d: String,
                       extra: org.apache.spark.sql.Column*) =
    Tables.events(s, d).select(Seq(col("user_id"), dayofyear(col("ts")).cast("long").as("doy")) ++
      extra ++ Seq(col("event_type"), col("value")): _*)

  /** Small parquet block size for the Hilbert layouts, so the sf-sized
    * fixture has production-like row-group MULTIPLICITY (a 100 TB table
    * has thousands of 128 MB groups; 8 one-group files would make every
    * skipping claim granularity-bound rather than layout-bound). */
  private val smallGroups = Map("parquet.block.size" -> "16384")
}
