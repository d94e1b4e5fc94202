package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
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
    val base = java.nio.file.Paths.get(
      s"${System.getProperty("java.io.tmpdir")}/graft_file_sink_${Integer.toHexString(sfDir.hashCode)}")
    // Fresh landing per run: the sink's exactly-once story is the
    // checkpoint + log PAIR; reusing one against a deleted other is
    // the classic operational mistake, so the fixture recreates both
    // together.
    graft.ops.ScaleOps.deleteLocal(base.toFile)
    java.nio.file.Files.createDirectories(base)
    val data = s"$base/data"
    val ckpt = s"$base/ckpt"
    val ss = LshProbe.checkpointSession(spark, ckpt)
    val stream = ss.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(Tables.eventsRawSchema))
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val q = stream.writeStream.format("parquet")
      .option("path", data)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // Batch read of a streaming-sink directory goes through
    // _spark_metadata: only committed files are visible.
    Tables.parquet(spark, data)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
  }
}
