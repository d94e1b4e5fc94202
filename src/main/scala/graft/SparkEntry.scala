package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** The query registry (see SURVEY.md §7).
  *
  * Every implemented operator from SURVEY.md §2 is registered here as a
  * named query over the testdata tables, each with the equivalent DuckDB
  * oracle SQL. Sketches hash with md5 so the oracle recomputes them too;
  * no query runs with a rows-only check.
  */
object SparkEntry {

  private val registry: Seq[Q] =
    RelationalQueries.defs ++ JoinQueries.defs ++ WindowPivotQueries.defs ++
      SpatialQueries.defs ++ CorpusQueries.defs ++ EtlQueries.defs ++
      TaggingQueries.defs ++ StatsQueries.defs ++ ScaleQueries.defs ++
      SqlBridgeQueries.defs ++ SourceQueries.defs ++ EntityQueries.defs ++ Seq(
        // §2.11 streaming: a real Structured Streaming job (file source,
        // dedup, event-time day window, AvailableNow) whose settled result
        // must equal the batch tally — the batch SQL IS the oracle.
        Q("st_stream_daily_tally",
          "SELECT CAST(ts + INTERVAL 8 HOUR AS DATE) AS obs_date, event_type, " +
            "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2") { (s, d) =>
          graft.streaming.StreamingTallies.dailyTallyOnce(s, d)
        },
        // §2.11 SLIDING event-time windows (1 day every 6 hours): each
        // event lands in 4 overlapping windows; the oracle re-derives
        // the covering window starts arithmetically (epoch µs floored
        // to the 6h slide grid, back-shifted 0..3 slides).
        Q("st_sliding_tally",
          "WITH ev AS (SELECT event_type, ts + INTERVAL 8 HOUR AS tsl FROM events) " +
            "SELECT make_timestamp(CAST(((epoch_us(tsl) // 21600000000 - g.k) * 21600000000) AS BIGINT)) AS w_start, " +
            "event_type, CAST(count(*) AS BIGINT) AS n " +
            "FROM ev, generate_series(0, 3) g(k) GROUP BY 1, 2") { (s, d) =>
          graft.streaming.StreamingTallies.slidingTallyOnce(s, d)
        },
        // Streaming corpus ingest: quality/lang gates + digest-keyed
        // dedup state + per-language unique-doc tally, drained with
        // AvailableNow; the settled result is arrival-order-independent,
        // so the batch aggregate IS the oracle.
        Q("st_corpus_ingest",
          CorpusQueries.corpusIngestOracleSql) { (s, d) =>
          graft.streaming.CorpusIngest.ingestOnce(s, d)
        },
        // §2.11 stream-stream join: click→purchase attribution within an
        // hour as a watermarked symmetric hash join (the time bound is
        // what makes both sides' state evictable). Both sides staged as
        // one file so every pair matches in one micro-batch and the
        // settled result equals the batch range join — the oracle.
        // Cross-batch match and post-watermark loss are pinned in
        // StreamJoinSpec.
        Q("st_stream_join",
          "SELECT c.event_id AS click_id, p.event_id AS purchase_id, " +
            "c.user_id FROM events c JOIN events p ON c.user_id = p.user_id " +
            "AND c.event_type = 'click' AND p.event_type = 'purchase' " +
            "AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 60 MINUTE") { (s, d) =>
          graft.streaming.StreamJoin.attributionOnce(s, d)
        },
        // §2.11 custom state (flatMapGroupsWithState + EventTimeTimeout):
        // streaming sessionization driven to completion; settled result
        // == batch gaps-and-islands (w_sessionize minus the session
        // number). Both close paths fire: mid-stream (next event past
        // the gap) and watermark timeout (the flush sentinel).
        // §2.11 streaming funnel: funnel-relevant events buffered in
        // keyed state, greedy stage recurrence REPLAYED at watermark
        // flush — arrival-order independent within the watermark delay
        // (the staged input adversarially splits odd/even event_ids
        // across micro-batches so later stages arrive first). Settled
        // summary == the batch funnel, so w_funnel's SQL is the oracle.
        Q("st_funnel", WindowPivotQueries.funnelOracleSql) { (s, d) =>
          graft.streaming.FunnelStream.funnelOnce(s, d)
        },
        Q("st_sessions",
          "WITH o AS (SELECT user_id, event_id, ts, lag(ts) OVER " +
            "(PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events), " +
            "f AS (SELECT *, CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000 " +
            "THEN 1 ELSE 0 END AS nw FROM o), " +
            "s AS (SELECT *, sum(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
            "ROWS UNBOUNDED PRECEDING) AS session_no FROM f) " +
            "SELECT user_id, min(ts) AS session_start, max(ts) AS session_end, " +
            "CAST(count(*) AS BIGINT) AS n_events FROM s GROUP BY user_id, session_no") { (s, d) =>
          graft.streaming.Sessionize.sessionsOnce(s, d)
        },
        // §2.11 bounded-state streaming dedup: the 100 TB shape for
        // streaming "first event per key" — state expires `delay` of
        // event time after first occurrence (dropDuplicatesWithinWatermark)
        // instead of growing forever. The oracle recomputes suppression
        // (state live), re-admission (state expired) and the late drop
        // from the staged earliest/spacer/latest replay; per-row
        // semantics pinned in BoundedDedupSpec.
        Q("st_bounded_dedup",
          "WITH ev AS (SELECT user_id, CAST(coalesce(floor(value / 50), -1) AS BIGINT) AS vb, " +
            "event_id, event_type, ts + INTERVAL 8 HOUR AS tsl FROM events), " +
            "fr AS (SELECT *, " +
            "row_number() OVER (PARTITION BY user_id, vb ORDER BY tsl, event_id) AS rn_a, " +
            "row_number() OVER (PARTITION BY user_id, vb ORDER BY tsl DESC, event_id DESC) AS rn_d " +
            "FROM ev), " +
            "b0 AS (SELECT user_id, vb, event_type, tsl FROM fr WHERE rn_a = 1), " +
            "b2 AS (SELECT user_id, vb, event_type, tsl FROM fr WHERE rn_d = 1), " +
            "m0 AS (SELECT max(tsl) AS m FROM b0), " +
            "emitted AS (" +
            "SELECT event_type FROM b0 " +
            "UNION ALL " +
            "SELECT b2.event_type FROM b2, b0 f, m0 " +
            "WHERE f.user_id = b2.user_id AND f.vb = b2.vb " +
            "AND b2.tsl > m - INTERVAL 5 DAY " +
            "AND f.tsl + INTERVAL 5 DAY < m - INTERVAL 5 DAY) " +
            "SELECT event_type, CAST(count(*) AS BIGINT) AS n " +
            "FROM emitted GROUP BY 1") { (s, d) =>
          graft.streaming.BoundedDedup.firstEventPerKeyOnce(s, d)
        },
        // §2.11 idempotent foreachBatch upsert (the reference's
        // EntryBatchProcess skip-if-loaded semantics): two OVERLAPPING
        // replayed batches land exactly once in the parquet target, so
        // the settled target equals the plain batch table.
        Q("st_upsert",
          "SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
            "round(sum(value), 2) AS total_value FROM events GROUP BY 1") { (s, d) =>
          graft.streaming.UpsertSink.upsertOnce(s, d)
        },
        // §2.11 watermark/late-data APPEND path: events replayed as an
        // on-time batch (even ids), a LATE batch (odd ids), and a flush
        // sentinel, one file per micro-batch. The oracle recomputes the
        // watermark trajectory (max even event time - 1 day) and the
        // drop rule (late row survives iff its day window was still
        // open), so the append-mode emit/drop semantics are
        // hash-checked, not just exercised. See streaming/LateArrivals.
        Q("st_late_tally",
          "WITH ev AS (SELECT event_id, event_type, ts + INTERVAL 8 HOUR AS tsl " +
            "FROM events), " +
            "wm AS (SELECT max(tsl) - INTERVAL 1 DAY AS w FROM ev WHERE event_id % 2 = 0), " +
            "kept AS (" +
            "SELECT event_type, tsl FROM ev WHERE event_id % 2 = 0 " +
            "UNION ALL " +
            "SELECT event_type, tsl FROM ev, wm WHERE event_id % 2 = 1 " +
            "AND date_trunc('day', tsl) + INTERVAL 1 DAY > w) " +
            "SELECT CAST(date_trunc('day', tsl) AS DATE) AS obs_date, event_type, " +
            "CAST(count(*) AS BIGINT) AS n FROM kept GROUP BY 1, 2") { (s, d) =>
          graft.streaming.LateArrivals.lateTallyOnce(s, d)
        },
        // §2.11 streaming FILE sink: bronze-landing ingest — drain to
        // parquet through the sink's _spark_metadata transaction log
        // (exactly-once file commits), read the landed table back as a
        // batch source (which resolves commits through the log), and
        // aggregate; the batch aggregate over raw events is the oracle.
        Q("st_file_sink",
          "SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
            "round(sum(value), 2) AS total_value FROM events GROUP BY 1") { (s, d) =>
          graft.streaming.FileSinkIngest.landOnce(s, d)
        },
        // §2.11 compaction of a LIVE file sink: phase-1 events land,
        // the committed set is folded into a generation (through the
        // sink log, never a directory listing), phase-2 events then
        // land through the same sink/checkpoint, and the composed
        // read (generation ∪ uncovered tail) aggregates. The oracle
        // over ALL raw events pins no row lost or duplicated across
        // the pass; the in-query require pins that a live tail really
        // landed after the generation snapshot.
        Q("st_compact_live",
          "SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
            "round(sum(value), 2) AS total_value FROM events GROUP BY 1") { (s, d) =>
          graft.streaming.CompactedLanding.landCompactLandOnce(s, d)
        },
        // §2.11 stream-STATIC broadcast join (the enrichment shape the
        // other st_* queries skip): a static event-type dimension
        // decorates the stream per micro-batch — stateless join, state
        // only in the downstream tally. The oracle re-joins the same
        // in-code dimension as a VALUES list.
        Q("st_static_enrich", {
          val values = graft.streaming.StaticEnrich.dim.map { case (t, c, w) =>
            s"('$t', '$c', CAST($w AS DOUBLE))"
          }.mkString(", ")
          s"SELECT category, event_type, CAST(count(*) AS BIGINT) AS n, " +
            "round(sum(value * weight), 2) AS weighted_value " +
            s"FROM events LEFT JOIN (VALUES $values) " +
            "dim(event_type, category, weight) USING (event_type) " +
            "GROUP BY 1, 2"
        }) { (s, d) =>
          graft.streaming.StaticEnrich.enrichedTallyOnce(s, d)
        },
        // §2.13 operations: state-generation GC — the lifecycle close
        // for every fingerprint-keyed persisted state (bucketed CTAS
        // tables, cap/bloom checkpoints, layouts). The registered form
        // runs a full destructive GC cycle over a scratch demo family
        // (live / stale-fingerprint / dead-source generations) in the
        // real warehouse root, REQUIREs the live generation survives
        // and still reads, and settles to a deterministic report — the
        // VALUES twin is the oracle. The real-warehouse sweep (dry-run
        // and destructive, table + layout kinds, two-fingerprint
        // staleness) is pinned in StateGcSpec.
        Q("ops_state_gc",
          "SELECT * FROM (VALUES ('dead', 'layout', 'drop', true), " +
            "('live', 'layout', 'keep', false), " +
            "('stale', 'layout', 'drop', true)) " +
            "t(gen, kind, action, reclaimed) ORDER BY gen") { (s, d) =>
          graft.ops.StateGc.demoAudit(s, d)
        })

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("j12_left_chain")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each builds
    * the prepared states it declares ([[Q.run]]) before its body. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> (q.run _)).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Every query has one. */
  def oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap

  /** The registered queries in registry order, duplicates kept: `queries`
    * and `oracleSql` are maps, so they cannot show a name registered twice. */
  private[graft] def registered: Seq[Q] = registry

  /** The builds [[prepare]] runs: the union of every registered query's
    * closure, in dependency order. */
  private[graft] def prepared: Seq[Build] = Build.closure(registry.flatMap(_.reads))

  /** Builds every prepared state a registered query reads, over `sfDir`:
    * idempotent, and only worth calling to keep one-time builds out of a
    * timed run, since each query builds its own closure first. */
  def prepare(spark: SparkSession, sfDir: String): Unit =
    prepared.foreach(_.run(spark, sfDir))
}
