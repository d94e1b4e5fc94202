package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSinkLog
import org.apache.spark.sql.functions._
import graft.Tables

/** Small-file compaction of a LIVE streaming file sink — the
  * operational interplay sc8's static fixture assumes away: the stream
  * keeps appending micro-batch files through the `_spark_metadata`
  * transaction log while a maintenance pass folds the accumulated
  * small files.
  *
  * Spark's sink log is append-only (ADD actions only — there is no
  * delete/replace action in the format), so files ALREADY COMMITTED
  * can never be rewritten in place without breaking the log's
  * exactly-once read contract. The scale-correct design is therefore
  * GENERATIONAL: the compactor snapshots the committed file set
  * through the log (never a directory listing — uncommitted torn
  * files must stay invisible), rewrites that set compacted into a
  * generation directory beside the landing, and records the covered
  * paths; the read path composes `generation ∪ (committed \ covered)`
  * — the compacted history plus the live tail the stream appended
  * during and after the pass. The landing directory and its log are
  * never mutated, so the stream's own exactly-once story is untouched
  * and a crashed compaction (no marker) simply falls back to the
  * plain log read. This is the same generation-plus-tail shape table
  * formats implement internally; here it is built directly on the
  * sink-log primitive the stock file sink already provides.
  */
object CompactedLanding {

  /** Committed data files as of NOW, resolved through the sink's
    * `_spark_metadata` log exactly as Spark's own batch reader does —
    * never by listing the directory (a torn in-flight file would be
    * visible there but is NOT committed). */
  def committedFiles(spark: SparkSession, dataDir: String): Seq[String] = {
    val log = new FileStreamSinkLog(
      FileStreamSinkLog.VERSION, spark, s"$dataDir/_spark_metadata", None)
    log.allFiles().map(_.path).toSeq
  }

  private def coveredMarker(genDir: String) =
    new org.apache.hadoop.fs.Path(genDir, "_GRAFT_COVERED")

  /** Folds the files committed AS OF THE SNAPSHOT into `genDir`
    * (coalesce to `targetFiles` — a shuffle-free rewrite) and records
    * the covered set. Returns the covered paths. Batches committing
    * WHILE this runs are simply not covered — they stay in the tail. */
  def compactGeneration(spark: SparkSession, dataDir: String, genDir: String,
                        targetFiles: Int): Seq[String] = {
    val covered = committedFiles(spark, dataDir)
    require(covered.nonEmpty, "compactGeneration: no committed files to compact")
    spark.read.parquet(covered: _*).coalesce(targetFiles)
      .write.mode("overwrite").parquet(genDir)
    // Marker written AFTER the data: a crash mid-rewrite leaves no
    // marker, and the composed read falls back to the plain log read.
    val fs = coveredMarker(genDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val out = fs.create(coveredMarker(genDir), true)
    try out.write(covered.sorted.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    covered
  }

  /** Log-aware composed read: the compacted generation plus every
    * committed file the generation does not cover (the live tail). No
    * generation marker -> plain log-resolved read of the landing. */
  def read(spark: SparkSession, dataDir: String, genDir: String): DataFrame = {
    val fs = coveredMarker(genDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(coveredMarker(genDir))) return Tables.parquet(spark, dataDir)
    val in = fs.open(coveredMarker(genDir))
    val covered =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toSet
      finally in.close()
    val tail = committedFiles(spark, dataDir).filterNot(covered)
    val gen = Tables.parquet(spark, genDir)
    if (tail.isEmpty) gen
    else gen.unionByName(spark.read.parquet(tail: _*))
  }

  /** The full interplay, driven end to end for the harness: phase-1
    * events (even ids) land through the file sink; the landing is
    * compacted into a generation; phase-2 events (odd ids) then land
    * through the SAME sink/checkpoint — the appends a live stream
    * would make during/after the pass; the composed read aggregates.
    * Oracle: the plain batch aggregate over ALL events — any row lost
    * (covered file dropped) or duplicated (covered file also read
    * from the tail) breaks the hash. */
  def landCompactLandOnce(spark: SparkSession, sfDir: String): DataFrame = {
    // The gate's lineage under the warehouse, emptied first: every run
    // lands into a fresh source, sink and checkpoint.
    val lineage = graft.ops.PersistedState.StCompactLive
    val base = lineage.path(spark, sfDir)
    GateLineage.reset(spark, base, lineage.fingerprint(sfDir))
    val src = s"$base/src"; val data = s"$base/data"
    val ckpt = s"$base/ckpt"; val gen = s"$base/gen"
    val ss = Gate.session(spark, Some(ckpt))
    val events = Tables.events(ss, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    def drain(): Unit = Gate.land(Gate.file(ss, src, "*.parquet",
      "event_id BIGINT, event_type STRING, value DOUBLE"), data, ckpt)
    events.filter(col("event_id") % 2 === 0).write.mode("append").parquet(src)
    drain()
    val covered = compactGeneration(ss, data, gen, targetFiles = 2)
    events.filter(col("event_id") % 2 === 1).write.mode("append").parquet(src)
    drain()
    // The composition must genuinely exercise generation ∪ tail: the
    // phase-2 batch committed after the generation snapshot.
    val tail = committedFiles(ss, data).filterNot(covered.toSet)
    require(tail.nonEmpty,
      "compaction interplay degenerate: no live tail landed after the generation")
    read(spark, data, gen)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
  }
}
