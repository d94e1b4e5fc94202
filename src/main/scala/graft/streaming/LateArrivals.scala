package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Watermark + late-data semantics (SURVEY §2.11): the reference's feed
  * really does deliver observations late — records for an earlier
  * survey date arrive in a later pull (turtle-tracks.Rmd:121-130) — and
  * its answer is to re-pull and recompute everything. The streaming
  * answer is a watermark: keep per-window state open for `delay` of
  * event time, emit a window once the watermark passes its end (append
  * mode — each window is output exactly once, the contract a downstream
  * incremental consumer needs), and DROP rows that arrive after their
  * window closed.
  *
  * Unlike the complete-mode tallies ([[StreamingTallies]]), the settled
  * append-mode result DEPENDS on arrival order, so the fixture pins it:
  * batches are staged as one file each with strictly increasing
  * modification times and replayed one-file-per-micro-batch. The
  * watermark trajectory is then closed-form — after batch k it is
  * max(event time of batches 0..k) - delay — and a DuckDB oracle can
  * recompute exactly which late rows survive, making the append path
  * hash-checkable, not just "rows > 0".
  *
  * One measured subtlety this encodes: Spark filters LATE EVENTS with
  * the watermark of the PREVIOUS micro-batch while EVICTING state with
  * the current one (a batch that both advances the watermark and
  * carries late rows keeps those rows — they are merged and evicted in
  * the same batch). So a fixture that wants "late batch sees the
  * watermark the on-time batch established" must put one (empty) spacer
  * micro-batch in between; the drop threshold for the late batch is
  * then exactly max(on-time event time) - delay.
  *
  * At scale the same plan runs against a landing directory or Kafka
  * topic: the watermark bounds window state (without it, day-window
  * state grows forever), and state distributes by (window, key). */
object LateArrivals {

  /** Stage `batches` as single parquet files `b000.parquet`, ... with
    * strictly increasing modification times, so the file stream source
    * (sorted by mod time, `latestFirst=false`) replays them in order,
    * one per micro-batch under `maxFilesPerTrigger=1`. */
  def stageBatches(batches: Seq[DataFrame], dir: Path): Path = {
    graft.ops.ScaleOps.deleteLocal(dir.toFile)
    Files.createDirectories(dir)
    val t0 = System.currentTimeMillis()
    batches.zipWithIndex.foreach { case (b, i) =>
      val tmp = dir.resolveSibling(dir.getFileName.toString + s"_stage$i")
      b.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = graft.ops.Generation.dataFiles(tmp.toString).headOption
        .getOrElse(sys.error(s"no parquet part written under $tmp"))
      val target = dir.resolve(f"b$i%03d.parquet")
      Files.move(java.nio.file.Paths.get(part.getPath.toUri), target)
      graft.ops.ScaleOps.deleteLocal(tmp.toFile)
      // 10s apart: far above any filesystem mod-time granularity.
      require(target.toFile.setLastModified(t0 + i * 10000L),
        s"cannot set modification time on $target")
    }
    dir
  }

  /** [[stageBatches]] with a cross-JVM cache: the staged replay of a
    * registered query is a pure function of (query, source data), so it
    * is written once as the persisted state `stage` of `sfDir` (under
    * the warehouse, where [[graft.ops.StateGc]] keeps it while the
    * source is live) and reused while its fingerprint matches — the
    * bench then times the stream, not re-staging, the same
    * steady-state discipline as the bucketed/partitioned layouts.
    * `params` is appended to the fingerprint and must name EVERYTHING
    * that shapes the staged content beyond the source data — timezone,
    * gap/delay/bucket knobs, batch count, and a version literal to bump
    * when the batch-construction code changes — or a parameter change
    * would silently replay a stale staging. `batches` is by-name: a
    * cache hit never builds the DataFrames. */
  def stageBatchesCached(spark: SparkSession, stage: graft.ops.PersistedState,
                         sfDir: String, params: String)
                        (batches: => Seq[DataFrame]): Path = {
    val dir = java.nio.file.Paths.get(stage.path(spark, sfDir))
    val srcFingerprint = stage.fingerprint(sfDir, params)
    // Cross-process file lock around check+stage: two JVMs racing the
    // same tag must not rm/re-stage the dir under each other (the
    // second comer re-checks the recorded generation under the lock and
    // reuses).
    val lockPath = dir.resolveSibling(dir.getFileName.toString + ".lock")
    Files.createDirectories(dir.getParent)
    val ch = java.nio.channels.FileChannel.open(lockPath,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      val lock = ch.lock()
      try {
        if (graft.ops.Generation.recorded(dir.toString).contains(srcFingerprint)) dir
        else {
          val staged = stageBatches(batches, dir)
          graft.ops.Generation.record(dir.toString, srcFingerprint)
          staged
        }
      } finally lock.release()
    } finally ch.close()
  }

  /** Append-mode watermarked day tally over a staged directory, drained
    * with AvailableNow one file per micro-batch. Emitted rows = windows
    * the watermark closed; a window still open when the stream drains is
    * NOT emitted (append-mode contract). Runs on a cloned session so the
    * stream's shuffle-partition setting never leaks to the caller. */
  def appendDailyTally(spark: SparkSession, stagedDir: String,
                       delay: String = "1 day",
                       extraConf: Map[String, String] = Map.empty): DataFrame = {
    // Conf seam: e.g. the RocksDB state store provider for
    // production-sized state (see RocksDbStateSpec). Non-empty extraConf
    // gets a PRIVATE child session; the shared stream session's conf is
    // a cross-gate contract and is never mutated here.
    val stream = Gate.staged(Gate.session(spark, extraConf = extraConf), stagedDir,
        "event_id BIGINT, event_type STRING, ts_local TIMESTAMP")
      .withWatermark("ts_local", delay)
      .groupBy(window(col("ts_local"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(to_date(col("window.start")).as("obs_date"), col("event_type"),
        col("n"))
    Gate.settle(stream, "graft_stream_late_tally", "append")
  }

  /** Registered query: the events table split by id parity into an
    * on-time batch (even ids) and a LATE batch (odd ids), separated by
    * an empty spacer batch so the late batch is filtered against the
    * watermark the on-time batch established — max(even event time) -
    * delay (see the class note on late-filter vs eviction watermark).
    * Odd rows whose day window closed behind that watermark are
    * dropped; a far-future flush sentinel (whose own window never
    * closes, so it is never emitted) pushes the watermark past every
    * real window so append mode emits them all. The DuckDB oracle
    * recomputes the watermark and the drop set from the same parity
    * split. */
  def lateTallyOnce(spark: SparkSession, sfDir: String,
                    tz: String = "Australia/Perth"): DataFrame = {
    val staged = stageBatchesCached(spark, graft.ops.PersistedState.StageLateTally,
        sfDir, s":$tz:1day:4batches:v1") {
      val ev = graft.Tables.events(spark, sfDir)
        .select(col("event_id"), col("event_type"),
          from_utc_timestamp(col("ts"), tz).as("ts_local"))
      val even = ev.filter(pmod(col("event_id"), lit(2L)) === 0)
      val spacer = ev.filter(lit(false))
      val odd = ev.filter(pmod(col("event_id"), lit(2L)) === 1)
      // Scalar seam: one max() to place the flush sentinel. Inside the
      // by-name block: a cache hit must not pay this scan.
      val maxTs = ev.agg(max(col("ts_local"))).head().getTimestamp(0)
      val flushTs = new java.sql.Timestamp(maxTs.getTime + 4L * 24 * 3600 * 1000)
      val flush = spark.createDataFrame(
        Seq(org.apache.spark.sql.Row(-1L, "_flush", flushTs)).asJava,
        org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, event_type STRING, ts_local TIMESTAMP"))
      Seq(even, spacer, odd, flush)
    }
    appendDailyTally(spark, staged.toString, "1 day")
  }
}
