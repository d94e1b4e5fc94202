package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.ColumnOps
import graft.ops.PersistedState.IvmScd2

/** Scans, filters, scalar functions and aggregations (SURVEY.md §2.3,
  * §2.4, §2.6, §2.8) exercised over the TPC-H-ish testdata. Query names
  * carry the SURVEY §2 operator ids they cover.
  */
object RelationalQueries {

  // ---- SCD2 fixture snapshots, derived in-plan from customer ----
  // v2: balance bump on %10=0, deletes on %17=3, inserts cloned at
  // +10^12 from %13=5. v3 applies a second round of the same kinds of
  // change to v2 (bump %7=1, delete %19=4, insert +2·10^12 from %11=6).
  // The insert offsets are 10^12-scaled (r17): the original +1M/+2M
  // collided with REAL customer keys at the 30× stress fixture
  // (scale_up shifts c_custkey by i·100k per copy — K=30 reaches
  // 2.9M), making v2 carry duplicate business keys and silently
  // violating the SCD2 one-row-per-key snapshot contract the whole
  // family is specified against (caught as a 512k-vs-458k asof row
  // mismatch in the r17 30× oracle drain). 10^12 clears any
  // realistic K (collision needs K ≥ 10^7 copies).
  private def customerV1(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.customer(s, d).select("c_custkey", "c_acctbal", "c_mktsegment")

  private def customerV2(s: org.apache.spark.sql.SparkSession, d: String) = {
    val v1 = customerV1(s, d)
    v1.filter(col("c_custkey") % 17 =!= 3)
      .select(col("c_custkey"),
        when(col("c_custkey") % 10 === 0, col("c_acctbal") + 100)
          .otherwise(col("c_acctbal")).as("c_acctbal"),
        col("c_mktsegment"))
      .union(v1.filter(col("c_custkey") % 13 === 5)
        .select(col("c_custkey") + 1000000000000L, col("c_acctbal"), col("c_mktsegment")))
  }

  private def customerV3(s: org.apache.spark.sql.SparkSession, d: String) = {
    val v2 = customerV2(s, d)
    v2.filter(col("c_custkey") % 19 =!= 4)
      .select(col("c_custkey"),
        when(col("c_custkey") % 7 === 1, col("c_acctbal") + 50)
          .otherwise(col("c_acctbal")).as("c_acctbal"),
        col("c_mktsegment"))
      .union(v2.filter(col("c_custkey") % 11 === 6)
        .select(col("c_custkey") + 2000000000000L, col("c_acctbal"), col("c_mktsegment")))
  }

  // ---- SCD2 × IVM composition (ivm_scd2_agg) ----------------------

  /** The v3 snapshot as a CTE (same derivation as scd2_apply's oracle)
    * — the current dimension the composed view aggregates over. */
  private val scd2V3Cte: String =
    """v3 AS (SELECT c_custkey, CASE WHEN c_custkey % 7 = 1 THEN c_acctbal + 50 ELSE c_acctbal END AS c_acctbal,
  c_mktsegment FROM v2 WHERE c_custkey % 19 <> 4
  UNION ALL SELECT c_custkey + 2000000000000, c_acctbal, c_mktsegment FROM v2 WHERE c_custkey % 11 = 6)"""

  /** Balance band — the grouping attribute of the composed view. A
    * DERIVED attribute of the TRACKED column c_acctbal, so dimension
    * updates really do MOVE facts between groups (v2's +100 bump always
    * crosses a 100-wide band, v3's +50 half the time) — the retro-move
    * leg of the maintenance is exercised, not just inserts/deletes. */
  private def balBand = floor(col("c_acctbal") / 100).cast("long").as("bal_band")

  /** Facts with exact integer cents (ivm_daily_metrics' treatment). */
  private def factCents(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))

  /** The open SCD2 frontier reduced to (business key, band). */
  private def frontierBands(h: org.apache.spark.sql.DataFrame) =
    h.filter(col("is_current")).select(col("c_custkey"), balBand)

  private def scd2AggPartial(facts: org.apache.spark.sql.DataFrame,
                             dim: org.apache.spark.sql.DataFrame) =
    facts.join(dim, facts("o_custkey") === dim("c_custkey"))
      .groupBy(col("bal_band"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))

  private def h12(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.ops.ScdOps.scd2Merge(customerV1(s, d), customerV2(s, d),
      Seq("c_custkey"), Seq("c_acctbal", "c_mktsegment"), fromVer = 1L, toVer = 2L)

  /** The build of this file's one prepared state, ivm_scd2_agg's
    * persisted day-1 state: the composed aggregate over
    * the OLD facts and the v2-era frontier. Fingerprinted on BOTH
    * sources (the state derives from orders and customer alike) plus a
    * derivation-format token ([[graft.ops.PersistedState.IvmScd2]]):
    * without it an old-offset state generation matches the unchanged
    * source files and serves stale (how the r17 30× re-verify first
    * caught ivm_scd2_agg mismatching: the r16 sweep's state survived in
    * the shared warehouse). */
  val builds: Seq[Build] = Seq(Build(IvmScd2)((s, d) =>
    IvmScd2.sorted(s, d, "bal_band")(
      scd2AggPartial(factCents(s, d).filter(col("o_orderkey") % 3 =!= 2),
        frontierBands(h12(s, d))))))

  private val scd2V12Ctes: String =
    """v1 AS (SELECT c_custkey, c_acctbal, c_mktsegment FROM customer),
v2 AS (SELECT c_custkey, CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal,
  c_mktsegment FROM customer WHERE c_custkey % 17 <> 3
  UNION ALL SELECT c_custkey + 1000000000000, c_acctbal, c_mktsegment FROM customer WHERE c_custkey % 13 = 5),
j AS (SELECT v1.c_custkey AS ck, v2.c_custkey AS nk,
  v1.c_acctbal AS cb, v2.c_acctbal AS nb, v1.c_mktsegment AS cm, v2.c_mktsegment AS nm,
  (v1.c_custkey IS NOT NULL AND v2.c_custkey IS NOT NULL AND
   (v1.c_acctbal IS DISTINCT FROM v2.c_acctbal OR v1.c_mktsegment IS DISTINCT FROM v2.c_mktsegment)) AS chg
  FROM v1 FULL OUTER JOIN v2 ON v1.c_custkey = v2.c_custkey)"""

  /** CTE chain + final select of the full v1→v2→v3 history derivation,
    * split so downstream oracles (retention) can wrap the history as a
    * named CTE. */
  private val scd2HistoryCtes: String =
    s"""$scd2V12Ctes,
hcl AS (SELECT ck AS c_custkey, cb AS c_acctbal, cm AS c_mktsegment,
  CAST(1 AS BIGINT) AS valid_from, CAST(2 AS BIGINT) AS valid_to, false AS is_current
  FROM j WHERE chg OR (ck IS NOT NULL AND nk IS NULL)),
hop AS (SELECT ck AS c_custkey, cb AS c_acctbal, cm AS c_mktsegment, CAST(1 AS BIGINT) AS valid_from
  FROM j WHERE NOT chg AND ck IS NOT NULL AND nk IS NOT NULL
  UNION ALL SELECT nk, nb, nm, CAST(2 AS BIGINT)
  FROM j WHERE chg OR (ck IS NULL AND nk IS NOT NULL)),
$scd2V3Cte,
j2 AS (SELECT o.c_custkey AS ck, v3.c_custkey AS nk, o.c_acctbal AS cb, v3.c_acctbal AS nb,
  o.c_mktsegment AS cm, v3.c_mktsegment AS nm, o.valid_from AS cf,
  (o.c_custkey IS NOT NULL AND v3.c_custkey IS NOT NULL AND
   (o.c_acctbal IS DISTINCT FROM v3.c_acctbal OR o.c_mktsegment IS DISTINCT FROM v3.c_mktsegment)) AS chg
  FROM hop o FULL OUTER JOIN v3 ON o.c_custkey = v3.c_custkey)"""

  private val scd2HistorySelect: String =
    """SELECT * FROM hcl
UNION ALL SELECT ck, cb, cm, cf, CAST(3 AS BIGINT), false FROM j2 WHERE chg OR (ck IS NOT NULL AND nk IS NULL)
UNION ALL SELECT ck, cb, cm, cf, CAST(NULL AS BIGINT), true FROM j2 WHERE NOT chg AND ck IS NOT NULL AND nk IS NOT NULL
UNION ALL SELECT nk, nb, nm, CAST(3 AS BIGINT), CAST(NULL AS BIGINT), true FROM j2 WHERE chg OR (ck IS NULL AND nk IS NOT NULL)"""

  /** Full v1→v2→v3 history derivation — shared by scd2_apply (batch)
    * and st_scd2_apply (the streamed dimension feed, whose settled
    * history must equal this batched replay by hash). */
  private val scd2ApplyOracleSql: String =
    s"WITH $scd2HistoryCtes\n$scd2HistorySelect"

  val defs: Seq[Q] = Seq(

    // A1: group_by + tally, the reference workhorse (ningaloo-etl.Rmd:308-311).
    Q("a1_tally",
      "SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n " +
        "FROM lineitem GROUP BY 1, 2") { (s, d) =>
      graft.ops.PivotOps.tally(Tables.lineitem(s, d), Seq("l_returnflag", "l_linestatus"))
    },

    // A2: tally(sort = T) (ningaloo-etl.Rmd:311). The sort is presentation-only.
    Q("a2_tally_sorted",
      "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n " +
        "FROM orders GROUP BY 1 ORDER BY n DESC") { (s, d) =>
      graft.ops.PivotOps.tally(Tables.orders(s, d), Seq("o_orderpriority"), sorted = true)
    },

    // A3/A4: scalar max + row-count metadata (turtle-tracks.Rmd:63-66).
    Q("a3_scalar_max",
      "SELECT max(ts) AS latest_ts, CAST(count(*) AS BIGINT) AS n_obs, " +
        "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM events") { (s, d) =>
      Tables.events(s, d).agg(
        max(col("ts")).as("latest_ts"),
        count(lit(1)).as("n_obs"),
        countDistinct(col("user_id")).as("n_users"))
    },

    // A6/D4: histogram binning by ISO week (wastd-api.Rmd:40-45).
    Q("a6_histogram_week",
      "SELECT CAST(weekofyear(o_orderdate) AS BIGINT) AS week, " +
        "CAST(count(*) AS BIGINT) AS n FROM orders GROUP BY 1") { (s, d) =>
      Tables.orders(s, d)
        .groupBy(weekofyear(col("o_orderdate")).cast("long").as("week"))
        .agg(count(lit(1)).as("n"))
    },

    // Skew-safe two-phase tally (ScaleOps.saltedTally): same oracle as a
    // direct GROUP BY count — the salting must be invisible in the
    // result. The scale rationale lives in ops/ScaleOps.scala.
    Q("a1s_salted_tally",
      "SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1") { (s, d) =>
      graft.ops.ScaleOps.saltedTally(
        Tables.events(s, d), Seq("event_type"), "event_id", 16)
    },

    // O2/O3: explicit multi-key sort + limit (`arrange(subsection,
    // season)` ningaloo-etl.Rmd:341; `head(o)` tagging-etl.Rmd:408).
    // Deterministic because the sort suffix is the unique key; at scale
    // sort+limit plans as TakeOrderedAndProject — a per-partition top-N
    // plus a single merge, never a full global sort.
    Q("o23_sort_limit",
      "SELECT o_orderstatus, o_totalprice, o_orderkey FROM orders " +
        "ORDER BY o_orderstatus, o_totalprice DESC, o_orderkey LIMIT 20") { (s, d) =>
      Tables.orders(s, d)
        .orderBy(col("o_orderstatus"), desc("o_totalprice"), col("o_orderkey"))
        .limit(20)
        .select("o_orderstatus", "o_totalprice", "o_orderkey")
    },

    // Irregular GROUPING SETS — the general form behind rollup/cube:
    // per-(flag,status) cells plus status-only margins in ONE Expand +
    // keyed aggregate, no re-scan per level.
    Q("a11_grouping_sets",
      "SELECT l_returnflag, l_linestatus, " +
        "CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid, " +
        "CAST(count(*) AS BIGINT) AS n FROM lineitem " +
        "GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus))") { (s, d) =>
      Tables.lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"))
        .select("l_returnflag", "l_linestatus", "gid", "n")
    },

    // A13: CUBE — all four grouping combinations of (flag, status) from
    // one Expand + keyed aggregate (completes the Expand family next to
    // a7 rollup and a11 grouping sets).
    Q("a13_cube",
      "SELECT l_returnflag, l_linestatus, " +
        "CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid, " +
        "CAST(count(*) AS BIGINT) AS n FROM lineitem " +
        "GROUP BY CUBE(l_returnflag, l_linestatus)") { (s, d) =>
      Tables.lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"))
        .select("l_returnflag", "l_linestatus", "gid", "n")
    },

    // A14: boolean/conditional aggregates — count_if + bool_and/bool_or
    // (all deterministic, unlike any_value).
    Q("a14_bool_aggs",
      "SELECT event_type, " +
        "CAST(count(CASE WHEN value > 100 THEN 1 END) AS BIGINT) AS n_big, " +
        "bool_and(value > 0) AS all_positive, " +
        "bool_or(value > 400) AS any_huge FROM events GROUP BY 1") { (s, d) =>
      Tables.events(s, d).groupBy("event_type").agg(
        count_if(col("value") > 100).as("n_big"),
        bool_and(col("value") > 0).as("all_positive"),
        bool_or(col("value") > 400).as("any_huge"))
    },

    // Row-level set operations (SQL INTERSECT / EXCEPT are set
    // semantics, deduplicated — Spark's intersect/except match).
    Q("o6_set_ops",
      "SELECT user_id FROM events WHERE event_type = 'click' " +
        "INTERSECT SELECT user_id FROM events WHERE event_type = 'purchase' " +
        "EXCEPT SELECT user_id FROM events WHERE event_type = 'error' AND value > 450") { (s, d) =>
      val ev = Tables.events(s, d)
      ev.filter(col("event_type") === "click").select("user_id")
        .intersect(ev.filter(col("event_type") === "purchase").select("user_id"))
        .except(ev.filter(col("event_type") === "error" && col("value") > 450)
          .select("user_id"))
    },

    // Aggregate battery: sum/avg through DECIMAL for order-independence.
    Q("agg_pricing",
      "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base, " +
        "round(CAST(sum(CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE) / count(*), 6) AS avg_disc, " +
        "CAST(count(*) AS BIGINT) AS n FROM lineitem GROUP BY 1, 2") { (s, d) =>
      Tables.lineitem(s, d).groupBy("l_returnflag", "l_linestatus").agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base"),
        round(sum(col("l_discount").cast("decimal(8,2)")).cast("double") / count(lit(1)), 6)
          .as("avg_disc"),
        count(lit(1)).as("n"))
    },

    // F1/F2/F3: equality + not-null + not-empty predicate conjunction
    // (ningaloo-etl.Rmd:310, 386-388, 472).
    Q("f123_filter",
      "SELECT event_id, user_id, value FROM events " +
        "WHERE event_type = 'purchase' AND value IS NOT NULL " +
        "AND value > 100 AND props <> ''") { (s, d) =>
      Tables.events(s, d)
        .filter(col("event_type") === "purchase" && col("value").isNotNull &&
          col("value") > 100 && col("props") =!= "")
        .select("event_id", "user_id", "value")
    },

    // P8/C7/C3: conditional in-place patch + Access boolean 2->0 fix
    // (ningaloo-etl.Rmd:83-84, 202).
    Q("p8c7_patch_fixyn",
      "SELECT CASE WHEN o_totalprice < 1000 THEN '5-LOW' ELSE o_orderpriority END AS priority, " +
        "CAST(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END AS BIGINT) AS is_open, " +
        "CAST(count(*) AS BIGINT) AS n FROM orders GROUP BY 1, 2") { (s, d) =>
      val patched = ColumnOps.patchWhere(
        Tables.orders(s, d).withColumn("priority", col("o_orderpriority")),
        "priority", col("o_totalprice") < 1000, lit("5-LOW"))
      patched
        .withColumn("is_open",
          ColumnOps.fixYN(when(col("o_orderstatus") === "F", 2).otherwise(1)).cast("long"))
        .groupBy("priority", "is_open").agg(count(lit(1)).as("n"))
    },

    // D5 both variants: July-watershed and isoweek-27 season
    // (ningaloo-etl.Rmd:162-167; wastd-api.Rmd:67).
    Q("d5_season",
      "SELECT CAST(CASE WHEN month(o_orderdate) > 7 THEN year(o_orderdate) " +
        "ELSE year(o_orderdate) - 1 END AS BIGINT) AS season, " +
        "CAST(CASE WHEN weekofyear(o_orderdate) > 27 THEN year(o_orderdate) " +
        "ELSE year(o_orderdate) - 1 END AS BIGINT) AS season_wk, " +
        "CAST(count(*) AS BIGINT) AS n FROM orders GROUP BY 1, 2") { (s, d) =>
      Tables.orders(s, d)
        .groupBy(
          ColumnOps.season(col("o_orderdate")).as("season"),
          ColumnOps.seasonByWeek(col("o_orderdate")).as("season_wk"))
        .agg(count(lit(1)).as("n"))
    },

    // D8: dense daily series + trailing 7-day moving average — the
    // reference plots daily tallies where absent days are silently
    // missing (turtle-tracks.Rmd:93-103); the analytics-grade form
    // zero-fills the calendar (sequence + explode against the distinct
    // key grid, calendar broadcast) and computes the rolling mean over
    // the now-contiguous days (ROWS window == RANGE window once days
    // are dense). Gaps are real at every SF: most (type, user) series
    // have empty days.
    Q("d8_daily_series",
      "WITH ev AS (SELECT event_type, user_id, CAST(ts AS DATE) AS d FROM events), " +
        "span AS (SELECT min(d) AS lo, max(d) AS hi FROM ev), " +
        "cal AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d FROM span), " +
        "keys AS (SELECT DISTINCT event_type, user_id FROM ev), " +
        "daily AS (SELECT event_type, user_id, d, count(*) AS n FROM ev GROUP BY 1, 2, 3), " +
        "filled AS (SELECT k.event_type, k.user_id, c.d, coalesce(dy.n, 0) AS n " +
        "FROM keys k CROSS JOIN cal c " +
        "LEFT JOIN daily dy ON dy.event_type = k.event_type " +
        "AND dy.user_id = k.user_id AND dy.d = c.d) " +
        "SELECT event_type, user_id, d AS obs_date, CAST(n AS BIGINT) AS n, " +
        "round(avg(n) OVER (PARTITION BY event_type, user_id ORDER BY d " +
        "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS avg7 FROM filled") { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("user_id"), to_date(col("ts")).as("d"))
      val daily = ev.groupBy("event_type", "user_id", "d")
        .agg(count(lit(1)).as("n"))
      val cal = ev.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"),
          expr("interval 1 day"))).as("d"))
      val keys = ev.select("event_type", "user_id").distinct()
      val filled = keys.crossJoin(broadcast(cal))
        .join(daily, Seq("event_type", "user_id", "d"), "left")
        .select(col("event_type"), col("user_id"), col("d"),
          coalesce(col("n"), lit(0L)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"), col("user_id"))
        .orderBy(col("d")).rowsBetween(-6, 0)
      filled.select(col("event_type"), col("user_id"), col("d").as("obs_date"),
        col("n"), round(avg(col("n")).over(w), 4).as("avg7"))
    },

    // D6/D2: UTC instant -> Perth-local calendar date as grouping key
    // (turtle-tracks.Rmd:55). Perth is UTC+8 with no DST, so the oracle
    // can shift by a constant interval.
    Q("d6_local_date",
      "SELECT CAST(ts + INTERVAL 8 HOUR AS DATE) AS obs_date, " +
        "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1") { (s, d) =>
      Tables.events(s, d)
        .groupBy(ColumnOps.toLocalDate(col("ts"), "Australia/Perth").as("obs_date"))
        .agg(count(lit(1)).as("n"))
    },

    // D1: multi-format timestamp parse with fallback order
    // (parse_date_time orders, turtle-tracks.Rmd:46-54).
    Q("d1_parse_multi",
      "SELECT event_id, " +
        "coalesce(try_strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S'), " +
        "try_strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%m/%d/%Y %H:%M:%S')) AS parsed_iso, " +
        "coalesce(try_strptime(strftime(ts, '%m/%d/%Y %H:%M:%S'), '%Y-%m-%d %H:%M:%S'), " +
        "try_strptime(strftime(ts, '%m/%d/%Y %H:%M:%S'), '%m/%d/%Y %H:%M:%S')) AS parsed_us " +
        "FROM events") { (s, d) =>
      val fmts = Seq("yyyy-MM-dd HH:mm:ss", "MM/dd/yyyy HH:mm:ss")
      Tables.events(s, d).select(
        col("event_id"),
        ColumnOps.parseTimestampMulti(
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"), fmts).as("parsed_iso"),
        ColumnOps.parseTimestampMulti(
          date_format(col("ts"), "MM/dd/yyyy HH:mm:ss"), fmts).as("parsed_us"))
    },

    // D3: compose datetime from day part + time-of-day part
    // (ningaloo-etl.Rmd:176-178) — here both drawn from `ts`, so the
    // composition equals second-truncation, which the oracle states directly.
    Q("d3_compose_datetime",
      "SELECT event_id, date_trunc('second', ts) AS composed FROM events") { (s, d) =>
      Tables.events(s, d).select(
        col("event_id"),
        ColumnOps.composeDateTime(col("ts"), col("ts")).as("composed"))
    },

    // C4/C5: string concat + regex replace (tagging-etl.Rmd:282-284;
    // turtle-tracks.Rmd:38-39).
    Q("c4c5_strings",
      "SELECT c_custkey, concat_ws(' ', c_name, c_mktsegment) AS name_key, " +
        "regexp_replace(c_name, '[0-9]+', '#', 'g') AS cleaned FROM customer") { (s, d) =>
      Tables.customer(s, d).select(
        col("c_custkey"),
        concat_ws(" ", col("c_name"), col("c_mktsegment")).as("name_key"),
        regexp_replace(col("c_name"), "[0-9]+", "#").as("cleaned"))
    },

    // C6/C3: NA -> literal backfill (ningaloo-etl.Rmd:238).
    Q("c6_backfill",
      "SELECT coalesce(nullif(c_mktsegment, 'BUILDING'), 'NA') AS seg, " +
        "CAST(count(*) AS BIGINT) AS n FROM customer GROUP BY 1") { (s, d) =>
      Tables.customer(s, d)
        .groupBy(ColumnOps.naBackfill(
          when(col("c_mktsegment") === "BUILDING", lit(null)).otherwise(col("c_mktsegment")),
          "NA").as("seg"))
        .agg(count(lit(1)).as("n"))
    },

    // C1/C2: casts + latitude-negation (ningaloo-etl.Rmd:73-76).
    Q("c1c2_negate",
      "SELECT s_suppkey, CAST(s_suppkey AS VARCHAR) AS key_str, " +
        "-CAST(s_acctbal AS DOUBLE) AS neg_bal FROM supplier") { (s, d) =>
      Tables.supplier(s, d).select(
        col("s_suppkey"),
        col("s_suppkey").cast("string").as("key_str"),
        ColumnOps.negateLat(col("s_acctbal")).as("neg_bal"))
    },

    // N2: nested/JSON field extraction (track_analysis.R:21-28) over the
    // events props JSON.
    Q("n2_json_extract",
      "SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, " +
        "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1") { (s, d) =>
      Tables.events(s, d)
        .groupBy(get_json_object(col("props"), "$.k").cast("long").as("k"))
        .agg(count(lit(1)).as("n"))
    },

    // P6/P7: pattern select + positional slice (spatial_modelling.Rmd:220;
    // ningaloo-etl.Rmd:403).
    Q("p67_select_slice",
      "SELECT p_partkey, p_name, p_brand FROM part") { (s, d) =>
      val sliced = ColumnOps.selectSlice(Tables.part(s, d), 0, 2) // p_partkey, p_name
      val brands = ColumnOps.selectStartsWith(Tables.part(s, d), "p_b", keep = Seq("p_partkey"))
      graft.ops.JoinOps.naturalJoin(sliced, brands, "inner")
    },

    // F5: interactive pickers — one active equality picker, one "all"
    // no-op (app.R:193-203).
    Q("f5_interactive",
      "SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n FROM events " +
        "WHERE event_type = 'purchase' GROUP BY 1, 2") { (s, d) =>
      ColumnOps.applyPickers(Tables.events(s, d),
          Seq("event_type" -> Some("purchase"), "user_id" -> None))
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("n"))
    },

    // J11: positional concat (cbind) of two ordered dimension frames
    // (spatial_modelling.Rmd:218).
    Q("j11_cbind",
      "WITH l AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, " +
        "row_number() OVER (ORDER BY o_orderpriority) AS _rn FROM orders GROUP BY 1), " +
        "r AS (SELECT o_orderpriority AS rp, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price, " +
        "row_number() OVER (ORDER BY o_orderpriority) AS _rn FROM orders GROUP BY 1) " +
        "SELECT l.o_orderpriority, l.n, r.rp, r.sum_price FROM l JOIN r USING (_rn)") { (s, d) =>
      val l = Tables.orders(s, d).groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      val r = Tables.orders(s, d).groupBy(col("o_orderpriority").as("rp"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
      graft.ops.JoinOps.cbindByOrder(l, r, Seq("o_orderpriority"), Seq("rp"))
    },

    // SCD2 snapshot merge: the customer dimension's v2 snapshot is
    // derived in-plan (balance bump on custkey%10=0, deletes on
    // custkey%17=3, inserts cloned at custkey+10^12 from %13=5), then
    // merged into type-2 history rows — one full-outer join on the
    // business key, 0–2 history rows per key from a single explode.
    Q("scd2_merge",
      s"""WITH $scd2V12Ctes
SELECT ck AS c_custkey, cb AS c_acctbal, cm AS c_mktsegment, CAST(1 AS BIGINT) AS valid_from,
  CAST(2 AS BIGINT) AS valid_to, false AS is_current FROM j WHERE chg OR (ck IS NOT NULL AND nk IS NULL)
UNION ALL SELECT ck, cb, cm, CAST(1 AS BIGINT), CAST(NULL AS BIGINT), true
  FROM j WHERE NOT chg AND ck IS NOT NULL AND nk IS NOT NULL
UNION ALL SELECT nk, nb, nm, CAST(2 AS BIGINT), CAST(NULL AS BIGINT), true
  FROM j WHERE chg OR (ck IS NULL AND nk IS NOT NULL)""") { (s, d) =>
      graft.ops.ScdOps.scd2Merge(customerV1(s, d), customerV2(s, d), Seq("c_custkey"),
        Seq("c_acctbal", "c_mktsegment"), fromVer = 1L, toVer = 2L)
    },

    // Incremental SCD2 maintenance: a THIRD snapshot applied to the
    // v1→v2 history. Closed rows pass through untouched; only the open
    // frontier joins the incoming snapshot (daily cost O(open ∪
    // snapshot), never O(history)), and each open row keeps its own
    // valid_from when it closes — the composability that makes
    // one-version-at-a-time application equal any batched replay.
    Q("scd2_apply", scd2ApplyOracleSql) { (s, d) =>
      val keys = Seq("c_custkey")
      val tracked = Seq("c_acctbal", "c_mktsegment")
      val h12x = graft.ops.ScdOps.scd2Merge(customerV1(s, d), customerV2(s, d),
        keys, tracked, fromVer = 1L, toVer = 2L)
      graft.ops.ScdOps.scd2Apply(h12x, customerV3(s, d), keys, tracked, newVer = 3L)
    },

    // §2.11 streaming SCD2 maintenance — the dimension FEED: snapshots
    // v2 and v3 arrive as ordered files, each micro-batch folds its
    // snapshot(s) into the versioned history via the same scd2Apply the
    // batch path uses (one operator, two drivers). The settled final
    // history must equal the batched v1→v2→v3 replay — scd2_apply's own
    // oracle — which pins BOTH the streaming plumbing and scd2Apply's
    // one-at-a-time == batched composability by hash.
    Q("st_scd2_apply", scd2ApplyOracleSql) { (s, d) =>
      val keys = Seq("c_custkey")
      val tracked = Seq("c_acctbal", "c_mktsegment")
      val init = customerV1(s, d)
        .withColumn("valid_from", lit(1L))
        .withColumn("valid_to", lit(null).cast("long"))
        .withColumn("is_current", lit(true))
      graft.streaming.ScdApplyStream.applyOnce(s,
        graft.ops.PersistedState.StageScd2Feed, graft.ops.PersistedState.StScd2Feed,
        d, init, initVer = 1L,
        Seq(2L -> customerV2(s, d), 3L -> customerV3(s, d)),
        keys, tracked,
        "c_custkey BIGINT, c_acctbal DOUBLE, c_mktsegment STRING")
    },

    // SCD2 retention: the storage-policy member of the family — forget
    // closed versions whose validity ended at or before the horizon
    // (here 2: the v1-era rows closed by v2's changes vanish, the
    // frontier and every v3-era-visible row survives). The output IS
    // the pruned history, so the hash pins exactly which rows a
    // retention pass may forget; ScdOpsSpec pins the contract that
    // makes the prune safe (as-of at any version >= horizon is
    // unchanged). At warehouse scale the filter pairs with the surgical
    // file rewrite (sc11): only files whose valid_to [min,max] crosses
    // the horizon rewrite.
    Q("scd2_retention",
      s"""WITH $scd2HistoryCtes,
h AS ($scd2HistorySelect)
SELECT c_custkey, c_acctbal, c_mktsegment, valid_from, valid_to, is_current
FROM h WHERE valid_to IS NULL OR valid_to > 2""") { (s, d) =>
      val keys = Seq("c_custkey")
      val tracked = Seq("c_acctbal", "c_mktsegment")
      val h12r = graft.ops.ScdOps.scd2Merge(customerV1(s, d), customerV2(s, d),
        keys, tracked, fromVer = 1L, toVer = 2L)
      val h = graft.ops.ScdOps.scd2Apply(h12r, customerV3(s, d), keys, tracked, newVer = 3L)
      graft.ops.ScdOps.scd2Retention(h, horizon = 2L)
    },

    // SCD2 time travel: reconstructing AS OF version 2 from the
    // three-version history must return EXACTLY the v2 snapshot — the
    // oracle IS that snapshot's derivation, so the hash check proves
    // the history's validity intervals reconstruct every version. A
    // pure narrow filter over the history: no shuffle, no join.
    Q("scd2_asof",
      s"WITH $scd2V12Ctes SELECT c_custkey, c_acctbal, c_mktsegment FROM v2") { (s, d) =>
      val keys = Seq("c_custkey")
      val tracked = Seq("c_acctbal", "c_mktsegment")
      val h12 = graft.ops.ScdOps.scd2Merge(customerV1(s, d), customerV2(s, d),
        keys, tracked, fromVer = 1L, toVer = 2L)
      val h = graft.ops.ScdOps.scd2Apply(h12, customerV3(s, d), keys, tracked, newVer = 3L)
      graft.ops.ScdOps.scd2AsOf(h, ver = 2L)
    },

    // SCD2 × IVM composition — the warehouse shape neither family
    // covers alone: a fact aggregate grouped by a DERIVED attribute of
    // the dimension's OPEN FRONTIER (orders per 100-wide balance band
    // of the CURRENT customer row), maintained incrementally on BOTH
    // sides. Day-1 state persists the old-facts ⋈ v2-frontier
    // aggregate; the refresh computes only (a) the fact delta joined to
    // the new frontier and (b) the RETRO-MOVE leg — old facts of keys
    // whose frontier band changed (or appeared/disappeared) emit a
    // (-1, -cents) row at the old band and a (+1, +cents) row at the
    // new, the abelian-group treatment dimension updates force (counts
    // and sums subtract; insert-only IVM can't express a dimension
    // change). The old⋈old term is never re-joined: the executed plan
    // is REQUIREd to contain exactly TWO orders⋈customer joins (fact-Δ
    // and retro-move) plus the state scan. Old facts join only the
    // BROADCAST band-change delta — they never shuffle. Oracle = full
    // recompute over the complete fact table and the v3 frontier
    // (frontier == snapshot is scd2_asof's proven invariant).
    Q("ivm_scd2_agg",
      s"""WITH $scd2V12Ctes,
$scd2V3Cte,
f AS (SELECT o_custkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
SELECT CAST(floor(v3.c_acctbal / 100) AS BIGINT) AS bal_band,
  CAST(count(*) AS BIGINT) AS n_orders,
  CAST(sum(f.cents) AS BIGINT) / 100.0 AS total_value
FROM f JOIN v3 ON f.o_custkey = v3.c_custkey
GROUP BY 1""", IvmScd2) { (s, d) =>
      val state = IvmScd2.read(s, d)
      val keys = Seq("c_custkey")
      val tracked = Seq("c_acctbal", "c_mktsegment")
      // TRUNCATED (r18): the v1→v2 merge history is referenced by BOTH
      // h123 (the v3 apply) and the old frontier, so its full-outer
      // merge tree rode into every downstream reference and the warm
      // query was analysis-bound (~1.3 s driver gap over ~0.5 s of
      // tasks). One LogicalRDD leaf instead; the REQUIREd 2-join delta
      // shape still sees orders⋈customer through customerV3 (dimNew)
      // and the dimOld⋈dimNew delta, which keep their customer scans.
      val h = graft.ops.CacheOnce.swapTruncated("ivm-scd2-h12", h12(s, d))
      val h123 = graft.ops.ScdOps.scd2Apply(h, customerV3(s, d), keys, tracked, newVer = 3L)
      val dimOld = frontierBands(h)
        .select(col("c_custkey"), col("bal_band").as("_ob"))
      val dimNew = frontierBands(h123)
      val facts = factCents(s, d)
      // Band-change delta: keys whose CURRENT band moved, appeared or
      // disappeared between the v2-era and v3-era frontiers — tiny next
      // to the dimension, so it broadcasts to the old facts.
      val dimDelta = dimOld
        .join(dimNew.select(col("c_custkey"), col("bal_band").as("_nb")),
          Seq("c_custkey"), "full_outer")
        .filter(!(col("_ob") <=> col("_nb")))
      val moves = facts.filter(col("o_orderkey") % 3 =!= 2)
        .join(broadcast(dimDelta), col("o_custkey") === col("c_custkey"))
        .select(explode(array(
          when(col("_ob").isNotNull, struct(col("_ob").as("bal_band"),
            lit(-1L).as("n"), (-col("cents")).as("cents"))),
          when(col("_nb").isNotNull, struct(col("_nb").as("bal_band"),
            lit(1L).as("n"), col("cents").as("cents"))))).as("_d"))
        .filter(col("_d").isNotNull)
        .select(col("_d.bal_band"), col("_d.n"), col("_d.cents"))
      val adds = facts.filter(col("o_orderkey") % 3 === 2)
        .join(dimNew, col("o_custkey") === col("c_custkey"))
        .select(col("bal_band"), lit(1L).as("n"), col("cents"))
      val out = state.select(col("bal_band"), col("n"), col("cents"))
        .unionByName(adds).unionByName(moves)
        .groupBy(col("bal_band"))
        .agg(sum(col("n")).as("n_orders"), sum(col("cents")).as("cents"))
        .filter(col("n_orders") > 0)
        .select(col("bal_band"), col("n_orders"),
          (col("cents") / lit(100.0)).as("total_value"))
      // Delta-rule shape REQUIREd from the executed plan: exactly the
      // fact-delta and retro-move joins touch orders×customer — a third
      // would mean the old-facts⋈old-frontier history term is being
      // recomputed — and the persisted state must be IN the plan.
      import graft.plans.PlanChecks
      val plan = out.queryExecution.executedPlan
      val ocJoins = PlanChecks.joinsBetween(plan, "orders", "customer")
      require(ocJoins.size == 2,
        s"SCD2-IVM delta rule violated: ${ocJoins.size} orders⋈customer joins " +
          "planned, expected exactly 2 (fact-delta + retro-move; old⋈old comes from state)")
      require(PlanChecks.fileScanPaths(plan, "graft_ivm_scd2").nonEmpty,
        "persisted SCD2-aggregate state is not in the plan — the merge is recomputing")
      out
    },

    // A5: schema dump as data (contents(con), ningaloo-etl.Rmd:55).
    Q("a5_schema",
      "SELECT * FROM (VALUES ('l_orderkey', 'bigint'), ('l_partkey', 'bigint'), " +
        "('l_suppkey', 'bigint'), ('l_linenumber', 'int'), ('l_quantity', 'double'), " +
        "('l_extendedprice', 'double'), ('l_discount', 'double'), ('l_tax', 'double'), " +
        "('l_returnflag', 'string'), ('l_linestatus', 'string'), " +
        "('l_shipdate', 'timestamp_ntz')) AS t(col_name, data_type)") { (s, d) =>
      ColumnOps.schemaReport(Tables.lineitem(s, d))
    })
}
