package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.PersistedState

/** Stream-stream inner join (§2.11 at scale): click→purchase
  * attribution within a time horizon, as a streaming symmetric hash
  * join. Both inputs carry watermarks and the join condition bounds the
  * event-time distance, so EACH side's state is evictable: a click is
  * kept only until the (global, min-across-sources) watermark passes
  * click_ts + horizon — without the time bound the join state grows
  * forever, the same failure mode `dropDuplicates` has without
  * `withinWatermark`.
  *
  * The registered query stages both sides as ONE file each so every
  * pair is matched within a single micro-batch and the settled result
  * equals the batch join — that is what makes it oracle-checkable. The
  * cross-batch semantics (a match found later across batches; a match
  * LOST because one side arrived after the other's state was evicted)
  * are pinned separately in StreamJoinSpec, arrival order staged the
  * same way as LateArrivals. */
object StreamJoin {

  /** Streaming inner join of two staged directories on
    * `user_id` within `[click_ts, click_ts + horizonMinutes]`.
    * Returns the settled (click_id, purchase_id, user_id) pairs. */
  def joinStaged(spark: SparkSession, clicksDir: String, purchasesDir: String,
                 horizonMinutes: Int, delay: String = "1 hour"): DataFrame = {
    val ss = Gate.session(spark)
    val clicks = Gate.staged(ss, clicksDir,
        "click_id BIGINT, user_id BIGINT, click_ts TIMESTAMP")
      .withWatermark("click_ts", delay)
    val purchases = Gate.staged(ss, purchasesDir,
        "purchase_id BIGINT, p_user_id BIGINT, purchase_ts TIMESTAMP")
      .withWatermark("purchase_ts", delay)
    val joined = clicks.join(purchases,
      expr(s"user_id = p_user_id AND purchase_ts >= click_ts " +
        s"AND purchase_ts <= click_ts + interval $horizonMinutes minutes"))
      .select(col("click_id"), col("purchase_id"), col("user_id"))
    Gate.settle(joined, "graft_stream_join", "append")
  }

  /** Registered query: clicks and purchases from the events table, one
    * staged file per side → all pairs match in one micro-batch →
    * settled result == the batch range join, which is the oracle. */
  def attributionOnce(spark: SparkSession, sfDir: String,
                      horizonMinutes: Int = 60): DataFrame = {
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"))
    val cd = LateArrivals.stageBatchesCached(spark, PersistedState.StageClicks,
      sfDir, ":1batch:v1")(Seq(clicks))
    val pd = LateArrivals.stageBatchesCached(spark, PersistedState.StagePurchases,
      sfDir, ":1batch:v1")(Seq(purchases))
    joinStaged(spark, cd.toString, pd.toString, horizonMinutes)
  }
}
