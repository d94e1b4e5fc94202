package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** §2.11 streaming FILE sink — the bronze-landing shape of a lakehouse
  * ingest: the stream drains the events feed into a parquet directory
  * through the streaming file sink's `_spark_metadata` transaction log
  * (exactly-once FILE commits: a batch's files appear in the log
  * atomically or not at all), and the landed table is then read BACK
  * as a batch source, which resolves committed files through that log
  * — a torn or duplicated micro-batch write can never surface. At
  * scale this exact plan runs unchanged against a directory receiving
  * files forever, with compaction (sc8) downstream.
  */
object FileSinkIngest {

  /** Drains events → parquet landing → batch read-back → aggregate.
    * The settled aggregate equals the batch aggregate over the raw
    * events — the oracle. */
  def landOnce(spark: SparkSession, sfDir: String): DataFrame = {
    // Fresh landing per run, in the gate's lineage under the warehouse:
    // the sink's exactly-once story is the checkpoint + log PAIR; reusing
    // one against a deleted other is the classic operational mistake, so
    // the fixture recreates both together.
    val lineage = graft.ops.PersistedState.StFileSink
    val base = lineage.path(spark, sfDir)
    GateLineage.reset(spark, base, lineage.fingerprint(sfDir))
    val data = s"$base/data"
    val ckpt = s"$base/ckpt"
    Gate.land(Gate.file(Gate.session(spark, Some(ckpt)), sfDir, "events.parquet",
        Tables.eventsRawSchema)
      .select(col("event_id"), col("event_type"), col("value")), data, ckpt)
    // Batch read of a streaming-sink directory goes through
    // _spark_metadata: only committed files are visible.
    Tables.parquet(spark, data)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
  }
}
