package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.Tables
import graft.ops.PersistedState

/** Idempotent batch reprocessing (SURVEY.md §2.11; tagging-etl.Rmd:116-132):
  * WAMTRAM's `EntryBatchProcess` skips records whose ids were already
  * loaded and reprocesses failures without duplicating. The streaming
  * analog is a `foreachBatch` upsert keyed by id: replayed or overlapping
  * micro-batches land exactly once in the target.
  *
  * Scale notes: the existing-keys probe is an anti-join against only the
  * key column of the target (column-pruned parquet read); at warehouse
  * scale the same hook body targets a keyed table format instead of raw
  * parquet, with the identical foreachBatch contract.
  */
object UpsertSink {

  /** One micro-batch: append only the rows whose key is not in the target. */
  def upsertBatch(batch: DataFrame, targetPath: String, key: String): Unit = {
    val spark = batch.sparkSession
    // An unreadable target means "nothing upserted yet": either the path
    // does not exist (first batch) or it exists but holds no committed
    // parquet footer (a crashed first write left only _temporary/ —
    // surfaces as UNABLE_TO_INFER_SCHEMA, and the sink must still
    // recover, that's its whole contract).
    val existingKeys: Option[DataFrame] =
      try Some(Tables.parquet(spark, targetPath).select(key))
      catch { case e: Exception if e.getMessage != null &&
        (e.getMessage.contains("PATH_NOT_FOUND") ||
          e.getMessage.contains("UNABLE_TO_INFER_SCHEMA")) => None }
    val fresh = existingKeys.fold(batch)(ex => batch.join(ex, Seq(key), "left_anti"))
    // dedupe within the batch too (a replayed batch can carry repeats)
    fresh.dropDuplicates(key).write.mode("append").parquet(targetPath)
  }

  /** Wire a streaming Dataset into the upsert sink. */
  def start[T](stream: Dataset[T], targetPath: String, key: String,
               checkpoint: String): StreamingQuery =
    Gate.eachBatch(stream, checkpoint)((batch, _) =>
      upsertBatch(batch.toDF(), targetPath, key))

  /** Registered query: events replayed as two OVERLAPPING micro-batches
    * (ids ≡ 0..2 mod 5, then ids ≡ 2..4 mod 5 — the 20% overlap is the
    * reference's replayed-batch reality, tagging-etl.Rmd:116-132)
    * upserted by event_id into a parquet target. Exactly-once landing
    * means the settled target equals the plain batch table — every row
    * exactly once despite the overlap — so the batch aggregate is the
    * oracle. Overlap rows are bit-identical on both arrivals, so
    * first-wins is value-deterministic.
    *
    * Target and checkpoint live in the [[GateLineage]]
    * `graft_st_<staging tag>`, keyed on the staged batches' fingerprint:
    * a re-run on an unchanged staging restarts on its checkpoint, finds
    * no new batch and reads the settled target back. */
  def upsertOnce(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val b0 = ev.filter(pmod(col("event_id"), lit(5L)) < 3)
    val b1 = ev.filter(pmod(col("event_id"), lit(5L)) >= 2)
    val params = ":mod5overlap:2batches:v1"
    val staged = LateArrivals.stageBatchesCached(spark, PersistedState.StageUpsert,
      sfDir, params)(Seq(b0, b1))
    val work = PersistedState.StUpsert.path(spark, sfDir)
    // The checkpoint's file source records the staged dir's path, so the
    // lineage is keyed on it too: a staging that moves resets the lineage.
    GateLineage.resetIfStale(spark, work,
      PersistedState.StUpsert.fingerprint(sfDir, s"$params|staged=$staged"))
    val target = s"$work/target"
    val ckpt = s"$work/ckpt"
    val stream = Gate.staged(Gate.session(spark, Some(ckpt)), staged.toString,
      "event_id BIGINT, event_type STRING, value DOUBLE")
    start(stream, target, "event_id", ckpt)
      .awaitTermination()
    Tables.parquet(spark, target)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
  }
}
