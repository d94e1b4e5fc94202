package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming maintenance of the HLL register sketch behind
  * ivm_daily_users_hll — the sketch-IVM family's streaming end: events
  * stream through the strictly-narrow per-row rank derivation
  * (CorpusQueries.hllRowRanks — md5 words + the generated rank CASE,
  * zero pre-aggregation state), and the ONLY streaming state is the
  * register map itself, one max-aggregate row per (day, type, bucket)
  * — bounded at groups x 64 regardless of event volume, which is the
  * whole point of maintaining the sketch instead of the support
  * relation. Arrival order cannot matter (max is commutative and
  * idempotent over re-deliveries of the same user), so the settled
  * registers equal the batch sketch and the full-recompute estimate
  * oracle pins the streamed maintenance by hash. */
object HllIngest {

  /** Drain the events directory once (AvailableNow) maintaining the
    * registers in complete mode, then present the settled registers
    * with the SAME fixed-point estimate stage the batch query uses.
    * Cloned session per the streaming-isolation convention. */
  def usersOnce(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = graft.queries.CorpusQueries.hllRowRanks(
        Gate.events(Gate.session(spark), sfDir))
      .groupBy(col("obs_date"), col("event_type"), col("bucket"))
      .agg(max(col("rho")).as("r"))
    graft.queries.CorpusQueries.hllPresent(
      Gate.settle(stream, "graft_stream_hll_ingest", "complete"))
  }

  /** Multi-micro-batch variant for the spec: drains a STAGED directory
    * of pre-converted (ts TIMESTAMP, event_type, user_id) parquet files
    * one file per micro-batch, so register maintenance is exercised
    * across real batch boundaries instead of one lucky drain —
    * arrival-order independence (max commutes) asserted, not argued. */
  private[graft] def usersOnceStaged(spark: SparkSession,
                                     stagedDir: String): DataFrame = {
    val stream = graft.queries.CorpusQueries.hllRowRanks(
        Gate.staged(Gate.session(spark), stagedDir,
          "ts TIMESTAMP, event_type STRING, user_id BIGINT"))
      .groupBy(col("obs_date"), col("event_type"), col("bucket"))
      .agg(max(col("rho")).as("r"))
    graft.queries.CorpusQueries.hllPresent(
      Gate.settle(stream, "graft_stream_hll_ingest_staged", "complete"))
  }
}
