package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bounded-state streaming dedup (SURVEY §2.11 at 100 TB): plain
  * `dropDuplicates` keeps one state entry per key FOREVER — on an
  * unbounded stream the digest/user state grows without limit and the
  * job eventually dies on state size. `dropDuplicatesWithinWatermark`
  * is the production shape: state entries expire `delay` of event time
  * after their FIRST occurrence, so state size is bounded by the key
  * arrival rate × delay, and the dedup guarantee is explicitly scoped
  * ("duplicates within `delay` of the original are suppressed; a
  * re-appearance after expiry is re-admitted").
  *
  * The registered query pins arrival order the same way
  * [[LateArrivals]] does (staged files, mod-time ordered, one per
  * micro-batch) so the suppression/expiry/late decisions are
  * closed-form and a DuckDB oracle recomputes them exactly; the
  * semantics themselves (suppress while live, re-emit after expiry,
  * late-drop behind the lagging watermark, no expiry extension by
  * suppressed duplicates) are pinned row-by-row in BoundedDedupSpec. */
object BoundedDedup {

  /** Registered query: "first event per (user, value-bucket) key,
    * re-admitted after `delay` of event-time inactivity", replayed
    * deterministically: batch 0 = each key's earliest event (ties by
    * event_id), spacer, batch 2 = each key's latest event. The bucket
    * (floor(value/50)) makes keys sparse enough that at table scale all
    * three semantic branches fire (sf0.01: 248 late-dropped / 32
    * suppressed / 431 re-admitted of 711 keys). With M0 = max event
    * time of batch 0 and the measured batch-lagged watermark
    * (wmAfter(0) = M0 - delay governs batch 2's late filter AND its
    * state-expiry check), a latest-event row is emitted iff
    *   its own time > M0 - delay          (not late)  AND
    *   earliest time + delay < M0 - delay (state expired).
    * Output: per-event-type count of emitted rows (the flush-free shape
    * — dedup emits immediately, no window close needed). */
  def firstEventPerKeyOnce(spark: SparkSession, sfDir: String,
                            delay: String = "5 days",
                            tz: String = "Australia/Perth"): DataFrame = {
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("user_id"),
        coalesce(floor(col("value") / 50), lit(-1L)).cast("long").as("vb"),
        col("event_id"), col("event_type"),
        from_utc_timestamp(col("ts"), tz).as("ts_local"))
    val asc = Window.partitionBy("user_id", "vb")
      .orderBy(col("ts_local"), col("event_id"))
    val desc = Window.partitionBy("user_id", "vb")
      .orderBy(col("ts_local").desc, col("event_id").desc)
    val earliest = ev.withColumn("_rn", row_number().over(asc))
      .filter(col("_rn") === 1).drop("_rn")
    val latest = ev.withColumn("_rn", row_number().over(desc))
      .filter(col("_rn") === 1).drop("_rn")
    val spacer = ev.filter(lit(false))
    val staged = LateArrivals.stageBatchesCached(spark,
      graft.ops.PersistedState.StageBoundedDedup, sfDir,
      s":$delay:vb50:3batches:v1")(Seq(earliest, spacer, latest))

    val stream = Gate.staged(Gate.session(spark), staged.toString,
        "user_id BIGINT, vb BIGINT, event_id BIGINT, event_type STRING, ts_local TIMESTAMP")
      .withWatermark("ts_local", delay)
      .dropDuplicatesWithinWatermark("user_id", "vb")
    Gate.settle(stream, "graft_stream_bounded_dedup", "append")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
  }
}
