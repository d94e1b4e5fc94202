package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One persisted-state family: the products the engine writes once per
  * source generation and reads back on every later call (bucketed
  * state tables, sorted/partitioned layouts, 1-row derived caps, gate
  * lineages, staged stream replays).
  *
  * The descriptor is the only place that decides, for every family:
  *  - the NAME, `graft_<family>_<tag>`, where `tag` renders the source
  *    dir by the one tag rule ([[PersistedState.tagOf]]) — so a warmup
  *    at one scale factor can never satisfy (or poison) a run at another,
  *    and [[StateGc]] keeps a generation by its name's tag;
  *  - the PATH, that name under the session's warehouse dir;
  *  - the FINGERPRINT that decides staleness: the `len:mtime` of each of
  *    `sources` (files directly under the source dir) joined by `|`,
  *    then `version` verbatim, then any runtime suffix the call passes
  *    (a bucket count, a cap, a staging's parameters). A fingerprint
  *    always starts with the first source's `len:mtime`, the base
  *    [[StateGc]]'s keep rule matches;
  *  - the BUILD: every writer takes its frame by name, so a fresh
  *    generation costs one marker read or catalog lookup and never
  *    builds (or analyzes) the frame.
  *
  * `version` carries the hand-bumped derivation tokens (`|p99` on the
  * tail-aware caps, `|v2` on schema changes, `:synthoff=1e12` on the
  * SCD2 composition): change one and that family rebuilds, nothing
  * else does. */
final case class PersistedState(family: String, sources: Seq[String],
                                version: String = "") {

  def name(sfDir: String): String =
    s"graft_${family}_${PersistedState.tagOf(sfDir)}"

  def path(spark: SparkSession, sfDir: String): String =
    new java.io.File(PersistedState.warehouse(spark), name(sfDir)).toString

  /** A bucketed family's catalog table. */
  def table(spark: SparkSession, sfDir: String): DataFrame =
    spark.table(name(sfDir))

  /** A path family's parquet tree. */
  def read(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.parquet(spark, path(spark, sfDir))

  def fingerprint(sfDir: String, suffix: String = ""): String =
    sources.map(f => ScaleOps.fileFingerprint(s"$sfDir/$f")).mkString("|") +
      version + suffix

  /** Bucketed state table, bucket count derived from its staged size
    * ([[ScaleOps.ensureBucketedDerived]]). */
  def bucketed(spark: SparkSession, sfDir: String, keys: Seq[String],
               sortCols: Seq[String] = Nil)(df: => DataFrame): (Boolean, Int) =
    ScaleOps.ensureBucketedDerived(spark, name(sfDir), keys,
      fingerprint(sfDir), sortCols)(df)

  /** Range-clustered layout ([[ScaleOps.ensureSortedBy]]); true when
    * this call wrote it. */
  def sorted(spark: SparkSession, sfDir: String, key: String, numFiles: Int = 1,
             writeOptions: Map[String, String] = Map.empty)
            (df: => DataFrame): Boolean =
    ScaleOps.ensureSortedBy(spark, path(spark, sfDir), key, numFiles,
      fingerprint(sfDir), writeOptions)(df)

  def partitioned(spark: SparkSession, sfDir: String, partCol: String)
                 (df: => DataFrame): Boolean =
    ScaleOps.ensurePartitioned(spark, path(spark, sfDir), partCol,
      fingerprint(sfDir))(df)

  def fragmented(spark: SparkSession, sfDir: String, numFiles: Int)
                (df: => DataFrame): Boolean =
    ScaleOps.ensureFragmented(spark, path(spark, sfDir), numFiles,
      fingerprint(sfDir))(df)

  /** The 1-row BIGINT statistic of a [[sorted]] cap layout, memoized
    * per generation ([[ScaleOps.readStatLong]]). */
  def readLong(spark: SparkSession, sfDir: String): Long =
    ScaleOps.readStatLong(spark, path(spark, sfDir), fingerprint(sfDir))
}

object PersistedState {

  /** The one rendering of a source dir into a name tag. Lossy: distinct
    * dirs can render to one tag ([[StateGc]] is conservative there). */
  def tagOf(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9]+", "_").stripPrefix("_")

  /** The session's warehouse dir as a path (the `file:` scheme dropped). */
  def warehouse(spark: SparkSession): String =
    spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")

  private val Docs = Seq("documents.parquet")
  private val Emb = Seq("embeddings.parquet")
  private val Events = Seq("events.parquet")
  private val Cust = Seq("customer.parquet")

  // ---- corpus states (CorpusQueries)
  val DedupState = PersistedState("dd_state", Docs)
  val CentroidState = PersistedState("km_state", Emb)
  val ClusterState = PersistedState("cc_state", Docs)
  val LshState = PersistedState("dd_lshstate", Docs)
  /** "|p99": the tail-aware cap formula must re-derive caps persisted
    * by the mean-only generation (also on the SimHash and cosine caps). */
  val LshCap = PersistedState("dd_lshcap", Docs, "|p99")
  val SimhashState = PersistedState("dd_simhashstate", Docs)
  val SimhashCap = PersistedState("dd_simhashcap", Docs, "|p99")
  /** "|v2": the df-column schema change must rebuild a v1 index. */
  val ContamState = PersistedState("dd_contamstate", Docs, "|v2")
  val ContamCap = PersistedState("dd_contamcap", Docs, "|v2")
  val ContamBloom = PersistedState("dd_contambloom", Docs, "|v2")
  val CosineState = PersistedState("dd_cosinestate", Emb)
  val CosineCap = PersistedState("dd_cosinecap", Emb, "|p99")
  val DqProfCounts = PersistedState("dq_profcnt", Docs)
  val DqProfRegs = PersistedState("dq_profregs", Docs)
  val PgEdges = PersistedState("pg_edges", Docs)
  val PgPairs = PersistedState("pg_pairs", Docs)
  val PgRanks = PersistedState("pg_ranks", Docs)
  val PgTris = PersistedState("pg_tris", Docs)
  /** Streamed incremental-cluster lineages; the capped one appends the
    * derived cap (`|cap=<n>`) at the call. */
  val StCcCapped = PersistedState("st_cc_capped", Docs)
  val StCcCands = PersistedState("st_cc_cands", Docs)

  // ---- IVM states over events / orders / lineitem
  val IvmTally = PersistedState("ivm_tally", Events)
  val IvmMetrics = PersistedState("ivm_metrics", Events)
  val IvmUsers = PersistedState("ivm_users", Events)
  val IvmBottomk = PersistedState("ivm_bottomk", Events)
  val IvmHll = PersistedState("ivm_hll", Events)
  val IvmQuant = PersistedState("ivm_quant", Events)
  /** Both sources: the old⋈old aggregate derives from orders AND
    * lineitem, so either one regenerating rebuilds it. */
  val IvmJoinAgg = PersistedState("ivm_joinagg", Seq("orders.parquet", "lineitem.parquet"))
  /** ":synthoff=1e12" is a derivation-format token: the state aggregates
    * over the v2 frontier, whose synthetic-insert key offsets moved to
    * 10^12 — an old-offset generation must not match the unchanged
    * source files. */
  val IvmScd2 = PersistedState("ivm_scd2", Seq("orders.parquet", "customer.parquet"),
    ":synthoff=1e12")

  // ---- entity resolution (EntityQueries)
  /** "|v2": the bsz-column schema change must rebuild a v1 key state. */
  val ErKeys = PersistedState("er_keys", Cust, "|v2")
  val ErCap = PersistedState("er_cap", Cust, "|v2")
  val ErClusters = PersistedState("er_cc", Cust)
  val ErFullClusters = PersistedState("er_cc_full", Cust)
  val ErSurvivors = PersistedState("er_surv", Cust)

  // ---- physical layouts (ScaleQueries)
  /** Orders carries lineitem's derived bucket count as a runtime
    * suffix (`|nb=<n>`), so the co-located pair rebuilds in lockstep. */
  val OrdersBuckets = PersistedState("b_orders", Seq("orders.parquet"))
  val LineitemBuckets = PersistedState("b_lineitem", Seq("lineitem.parquet"))
  val EventsPartitioned = PersistedState("p_events", Events)
  val EventsSorted = PersistedState("s_events", Events)
  val EventsZOrdered = PersistedState("z_events", Events)
  val EventsHilbert = PersistedState("h_events", Events)
  val EventsHilbert3 = PersistedState("h3_events", Events)
  val DatesDim = PersistedState("d_events", Events)
  val EventsFragmented = PersistedState("f_events", Events)
  val EventsCompacted = PersistedState("c_events", Events)
  /** sc11's surgical forget-rewrite of the sorted layout. */
  val EventsForgotten = PersistedState("sf_events", Events)

  // ---- stream gates: staged replays and lineages (graft.streaming).
  // Event stagings append ":<params>" at the call — everything beyond
  // the source data that shapes the staged batches.
  val StageLateTally = PersistedState("stage_late_tally", Events)
  val StageSessions = PersistedState("stage_sessions", Events)
  val StageBoundedDedup = PersistedState("stage_bounded_dedup", Events)
  val StageFunnel = PersistedState("stage_funnel", Events)
  val StageClicks = PersistedState("stage_sj_clicks", Events)
  val StagePurchases = PersistedState("stage_sj_purchases", Events)
  val StageUpsert = PersistedState("stage_upsert_src", Events)
  val StUpsert = PersistedState("st_upsert_src", Events)
  /** ":v2v3feed:v2": the v2/v3 snapshot derivations' synthetic-insert
    * offsets moved to 10^12, so histories applied under the old feed
    * must rebuild. */
  val StageScd2Feed = PersistedState("stage_scd2_feed", Cust, ":v2v3feed:v2")
  val StScd2Feed = PersistedState("st_scd2_feed", Cust, ":v2v3feed:v2")
  /** Probe-gate lineages: keyed by [[graft.streaming.GateLineage]]'s
    * probe fingerprint (source, state generation, parameters). */
  val StLshProbe = PersistedState("st_lsh_probe", Docs)
  val StSimhashProbe = PersistedState("st_simhash_probe", Docs)
  val StCosineProbe = PersistedState("st_cosine_probe", Emb)
  val StErProbe = PersistedState("st_er_probe", Cust)
  /** Landing lineages emptied on every run ([[graft.streaming.FileSinkIngest]],
    * [[graft.streaming.CompactedLanding]]): the fresh landing is each
    * query's contract; the descriptor puts them where [[StateGc]] sees
    * them. */
  val StFileSink = PersistedState("st_file_sink", Events)
  val StCompactLive = PersistedState("st_compact_live", Events)

  /** Every registered family. */
  val all: Seq[PersistedState] = Seq(
    DedupState, CentroidState, ClusterState, LshState, LshCap, SimhashState,
    SimhashCap, ContamState, ContamCap, ContamBloom, CosineState, CosineCap,
    DqProfCounts, DqProfRegs, PgEdges, PgPairs, PgRanks, PgTris, StCcCapped,
    StCcCands, IvmTally, IvmMetrics, IvmUsers, IvmBottomk, IvmHll, IvmQuant,
    IvmJoinAgg, IvmScd2, ErKeys, ErCap, ErClusters, ErFullClusters,
    ErSurvivors, OrdersBuckets, LineitemBuckets, EventsPartitioned,
    EventsSorted, EventsZOrdered, EventsHilbert, EventsHilbert3, DatesDim,
    EventsFragmented, EventsCompacted, EventsForgotten, StageLateTally, StageSessions,
    StageBoundedDedup, StageFunnel, StageClicks, StagePurchases, StageUpsert,
    StUpsert, StageScd2Feed, StScd2Feed, StLshProbe, StSimhashProbe,
    StCosineProbe, StErProbe, StFileSink, StCompactLive)
}
