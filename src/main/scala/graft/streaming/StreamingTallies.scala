package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming/incremental semantics (SURVEY.md §2.11): the reference
  * approximates a stream with full re-pull micro-batches of a live feed
  * (app.R:77-154; README_TT.md:4-10). Here the same tallies run as a real
  * Structured Streaming job: file source over the events parquet,
  * dropDuplicates on the feed id (the GFT duplicate-row risk,
  * turtle-tracks.Rmd:178-182), event-time tumbling day window in local
  * time, an AvailableNow drain that stops once the input is read.
  *
  * At scale the same plan runs unchanged against a directory that keeps
  * receiving files (or a Kafka source): dropDuplicates + window state
  * distribute by key, and a watermark bounds state for append sinks. The
  * demo uses complete-mode aggregation into the memory sink so the result
  * is a plain DataFrame comparable 1:1 with the batch oracle.
  */
object StreamingTallies {

  /** Daily tally per (Perth-local day, event_type), computed by a
    * streaming query driven to completion. Returns the settled result.
    *
    * Stateful operators (dropDuplicates + window agg) create one state
    * store per shuffle partition per micro-batch, each with its own
    * commit I/O. The keyed state here (distinct ids + day windows) is
    * tiny relative to a batch, so a handful of state partitions is the
    * right shape; at real stream volume this is the knob to raise. The
    * partition count is pinned at query start from the SESSION conf —
    * so the stream runs on a CLONED session (shared SparkContext,
    * isolated SQLConf): a batch query planned on the caller's session
    * while the stream is live keeps its own shuffle-partition setting
    * (asserted by StreamingIsolationSpec). */
  def dailyTallyOnce(spark: SparkSession, sfDir: String,
                     tz: String = "Australia/Perth"): DataFrame = {
    val stream = Gate.events(Gate.session(spark), sfDir)
      .withColumn("ts_local", from_utc_timestamp(col("ts"), tz))
      .withWatermark("ts_local", "2 days")
      .dropDuplicates("event_id")
      .groupBy(window(col("ts_local"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(to_date(col("window.start")).as("obs_date"), col("event_type"), col("n"))
    Gate.settle(stream, "graft_stream_daily_tally", "complete")
  }

  /** SLIDING event-time windows (1-day window every 6 hours): each event
    * lands in size/slide = 4 overlapping windows — the trailing-24h-style
    * tally a monitoring dashboard actually serves, where tumbling windows
    * only answer calendar days. Same complete-mode AvailableNow drain on
    * a cloned session as [[dailyTallyOnce]]; the batch oracle re-derives
    * the 4 covering window starts per event arithmetically. */
  def slidingTallyOnce(spark: SparkSession, sfDir: String,
                       tz: String = "Australia/Perth"): DataFrame = {
    val stream = Gate.events(Gate.session(spark), sfDir)
      .withColumn("ts_local", from_utc_timestamp(col("ts"), tz))
      .groupBy(window(col("ts_local"), "1 day", "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))
    Gate.settle(stream, "graft_stream_sliding_tally", "complete")
  }
}
