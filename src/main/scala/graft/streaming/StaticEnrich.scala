package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** §2.11 stream–STATIC join — the enrichment shape every other st_*
  * query skips (they are single-stream or stream-stream): a live event
  * stream joined per micro-batch against a STATIC dimension (the
  * streaming twin of J3's broadcast lookup-resolve,
  * turtle-tracks.Rmd's lookup joins). The join is STATELESS — the
  * static side is planned once, broadcast into every micro-batch, and
  * carries no watermark or state store; only the downstream tally
  * holds state. At scale this is the canonical "decorate the firehose
  * with reference data" plan: the dimension re-broadcasts on restart,
  * the stream side never shuffles for the join itself. */
object StaticEnrich {

  /** The event-type dimension (category + weight) — declared in code on
    * BOTH sides of the oracle contract, like J3's in-code lookup. */
  val dim: Seq[(String, String, Double)] = Seq(
    ("view", "engagement", 1.0), ("click", "engagement", 2.0),
    ("signup", "conversion", 5.0), ("purchase", "conversion", 10.0),
    ("error", "ops", 0.0))

  /** Streams events, left-joins the static dimension (broadcast,
    * stateless), and tallies count + weighted value per
    * (category, event_type). Complete-mode AvailableNow drain on a
    * cloned session, same as the other streaming tallies. */
  def enrichedTallyOnce(spark: SparkSession, sfDir: String): DataFrame = {
    val ss = Gate.session(spark)
    import ss.implicits._
    val dimDf = dim.toDF("event_type", "category", "weight")
    val stream = Gate.file(ss, sfDir, "events.parquet", Tables.eventsRawSchema)
      .select(col("event_type"), col("value"))
      .join(broadcast(dimDf), Seq("event_type"), "left")
      .groupBy(col("category"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value") * col("weight")), 2).as("weighted_value"))
    Gate.settle(stream, "graft_stream_static_enrich", "complete")
  }
}
