package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.PersistedState

/** Streaming SCD2 maintenance — the dimension-feed shape of the
  * reference's timestamped-snapshot habit (ningaloo-etl.Rmd:480-486)
  * run as a LIVE feed: dimension snapshots arrive as files, each
  * micro-batch applies its snapshot(s) to the persisted type-2 history
  * via the same ScdOps.scd2Apply the batch path uses, and the settled
  * history equals the batched replay exactly (scd2Apply's one-at-a-time
  * == batched composability, spec-pinned, is what MAKES the streaming
  * and batch paths one operator).
  *
  * Scale shape: per micro-batch cost is scd2Apply's — O(open frontier ∪
  * snapshot), never O(history) — and the history lands in a VERSIONED
  * parquet dir per applied version (write-once, no read-modify-write on
  * a path being read: the append-only layout a warehouse table format
  * would give; version dirs double as time-travel checkpoints).
  * Version dirs publish by temp-write + rename, so a replayed
  * micro-batch is idempotent AND the replay skip only ever sees
  * completed dirs. Snapshot ORDER is the stream's contract: files stage
  * with increasing mod-times (LateArrivals.stageBatches) so the file
  * source replays versions in order, and a multi-version micro-batch
  * applies its versions ascending — either batching yields the same
  * settled history.
  */
object ScdApplyStream {

  private def latestVersionDir(fs: FileSystem, work: Path): Option[(Long, Path)] = {
    val ds = fs.listStatus(work).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("hist_"))
      .flatMap(st => st.getPath.getName.stripPrefix("hist_").toLongOption
        .map(_ -> st.getPath))
    if (ds.isEmpty) None else Some(ds.maxBy(_._1))
  }

  /** Writes `df` as `work/hist_<v>` through `work/_tmp_hist_<v>` and a
    * rename, so a version dir appears ATOMICALLY: a crash mid-write
    * leaves no hist_<v> at all (a partial dir under the final name would
    * be skipped forever and seed every later version from truncated
    * history). */
  private def publishVersion(fs: FileSystem, work: Path, v: Long,
                             df: DataFrame): Unit = {
    val tmp = new Path(work, s"_tmp_hist_$v")
    df.write.mode("overwrite").parquet(tmp.toString)
    val dst = new Path(work, s"hist_$v")
    if (!fs.rename(tmp, dst)) sys.error(s"could not publish $tmp as $dst")
  }

  /** Drain `snapshots` (ascending versions, each a full dimension
    * snapshot) through a file-source stream into a versioned SCD2
    * history seeded from `initHistory` (the version-`initVer` open
    * rows), and return the FINAL history. `stage` is the staged replay
    * cache of `sfDir` (a pure function of the source tables) and
    * `lineage` the work directory holding the version dirs and the
    * checkpoint, reset when its fingerprint rolls. A reset lineage is
    * seeded with hist_<initVer>; a re-run on an unchanged staging
    * restarts on its checkpoint, applies no batch and returns the
    * settled history. */
  def applyOnce(spark: SparkSession, stage: PersistedState,
                lineage: PersistedState, sfDir: String,
                initHistory: DataFrame, initVer: Long,
                snapshots: => Seq[(Long, DataFrame)],
                keys: Seq[String], tracked: Seq[String],
                snapshotSchemaDdl: String): DataFrame = {
    val staged = LateArrivals.stageBatchesCached(spark, stage, sfDir, "")(
      snapshots.map { case (v, df) => df.withColumn("_ver", lit(v)) })
    val work = new Path(lineage.path(spark, sfDir))
    val fs = work.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Keyed on the staged dir too: the checkpoint's file source records
    // its path, so a staging that moves must reset the lineage.
    graft.ops.Generation.resetIfStale(work.toString,
      lineage.fingerprint(sfDir, s"|staged=$staged"))
    // Seed: a reset lineage (or one a crash left before its seed
    // published) holds no version yet.
    if (latestVersionDir(fs, work).isEmpty)
      publishVersion(fs, work, initVer, initHistory)
    val ckpt = new Path(work, "ckpt").toString
    val stream = Gate.staged(Gate.session(spark, Some(ckpt)), staged.toString,
      s"$snapshotSchemaDdl, _ver BIGINT")
    Gate.eachBatch(stream, ckpt) { (batch, _) =>
      // Version count is the number of staged snapshots — driver-small
      // by construction (a dimension feed delivers a handful of
      // versions per drain, not rows).
      val vers = batch.select(col("_ver")).distinct()
        .collect().map(_.getLong(0)).sorted
      vers.foreach { v =>
        val bs = batch.sparkSession
        val (curVer, curDir) = latestVersionDir(fs, work)
          .getOrElse(sys.error(s"no seeded history under $work"))
        // A replayed micro-batch re-derives an already-applied
        // version: skip — hist_<v> already exists and is final (and
        // appeared atomically, see publishVersion).
        if (v > curVer)
          publishVersion(fs, work, v, graft.ops.ScdOps.scd2Apply(
            Tables.parquet(bs, curDir.toString),
            batch.filter(col("_ver") === v).drop("_ver"),
            keys, tracked, newVer = v))
      }
    }.awaitTermination()
    val (_, finalDir) = latestVersionDir(fs, work)
      .getOrElse(sys.error(s"no history produced under $work"))
    Tables.parquet(spark, finalDir.toString)
  }
}
