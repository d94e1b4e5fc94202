package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.types.StructType

/** Generation-keyed lineages of the stream gates: one directory per
  * (gate, source dir) under the warehouse, `graft_st_<name>`, holding
  * the sink, its checkpoint and a `_GRAFT_SRC` fingerprint — the
  * ensureBucketed staleness convention applied to a stream. While the
  * fingerprint holds, a drain restarts on its own checkpoint: the file
  * source has already seen every input file, so an unchanged generation
  * commits no micro-batch and the settled sink is read back as it
  * stands. A rolled fingerprint resets sink, checkpoint and everything
  * else under the directory as one unit (the checkpoint's seen-file log
  * dedupes by path, so a same-path regen would otherwise never
  * reprocess). Each lineage is a [[graft.ops.PersistedState]] family
  * (`st_<gate>`), so its name ends with the source dir's tag and its
  * fingerprint starts with the source file's `len:mtime`:
  * [[graft.ops.StateGc]] keeps a lineage exactly while its source is
  * live.
  *
  * Single-writer per warehouse, like every persisted state: two
  * concurrent drains of one lineage would race on its checkpoint. */
object GateLineage {

  /** Reset `baseDir` when its recorded `_GRAFT_SRC` differs from
    * `srcFingerprint`: the directory is emptied and the new fingerprint
    * recorded. Returns true when it reset (a fresh lineage). */
  def resetIfStale(spark: SparkSession, baseDir: String,
                   srcFingerprint: String): Boolean = {
    val p = new Path(baseDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(p, "_GRAFT_SRC")
    val fresh = fs.exists(marker) && {
      val in = fs.open(marker)
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        "UTF-8") == srcFingerprint
      finally in.close()
    }
    if (!fresh) reset(spark, baseDir, srcFingerprint)
    !fresh
  }

  /** Empties `baseDir` and records `srcFingerprint` as its `_GRAFT_SRC`:
    * a fresh lineage whatever the directory held. */
  def reset(spark: SparkSession, baseDir: String, srcFingerprint: String): Unit = {
    val p = new Path(baseDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    fs.mkdirs(p)
    val out = fs.create(new Path(p, "_GRAFT_SRC"), true)
    try out.write(srcFingerprint.getBytes("UTF-8")) finally out.close()
  }

  /** Fingerprint of a probe gate's generation: the streamed source
    * file's `len:mtime`, then the state table's name, `graft.src` and
    * `graft.layout`, then `params` (cap and sketch parameters). A state
    * table that records no `graft.src` has no generation to key on, so
    * every drain against it starts a fresh lineage. */
  private[graft] def probeFingerprint(spark: SparkSession, srcPath: String,
                                      stateTable: String,
                                      params: String): String = {
    val props = GraftShim.tableProperties(spark, stateTable).getOrElse(Map.empty)
    val state = props.get("graft.src") match {
      case Some(src) =>
        s"$stateTable;src=$src;layout=${props.getOrElse("graft.layout", "")}"
      case None => s"$stateTable;unkeyed=${java.util.UUID.randomUUID()}"
    }
    s"${graft.ops.ScaleOps.fileFingerprint(srcPath)}|$state|$params"
  }

  /** The settled-distinct drain every probe gate runs: an AvailableNow
    * drain of `stream` (built on the session this lineage's checkpoint
    * calls for — [[Gate.session]]) into the parquet sink
    * of `lineage` over `sfDir`, keyed by [[probeFingerprint]] of the
    * lineage's source file, `stateTable` and `params`.
    * Returns the DISTINCT rows the sink has committed, read through its
    * `_spark_metadata` log with `sinkSchema` (a zero-row drain leaves no
    * data file to infer from). The frame reads the lineage's files: it
    * stays valid until a drain of another generation resets the
    * lineage. A FILE sink, not a memory sink: the memory sink collects
    * every row to the driver (at a 30-copy-density fixture the ER
    * gate's ~50M candidate pairs exceeded spark.driver.maxResultSize),
    * and append sink → downstream batch is the deployment shape. */
  private[streaming] def drainDistinct(spark: SparkSession,
                                       lineage: graft.ops.PersistedState,
                                       sfDir: String,
                                       stateTable: String, params: String,
                                       sinkSchema: StructType)
                                      (stream: SparkSession => DataFrame): DataFrame = {
    val base = lineage.path(spark, sfDir)
    resetIfStale(spark, base,
      probeFingerprint(spark, s"$sfDir/${lineage.sources.head}", stateTable, params))
    val data = s"$base/data"
    val ckpt = s"$base/ckpt"
    Gate.land(stream(Gate.session(spark, Some(ckpt))), data, ckpt)
    spark.read.schema(sinkSchema).parquet(data).distinct()
  }
}
