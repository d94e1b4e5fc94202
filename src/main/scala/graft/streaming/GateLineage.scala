package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.types.StructType

/** Generation-keyed lineages of the stream gates: one directory per
  * (gate, source dir) under the warehouse, `graft_st_<name>`, holding
  * the sink, its checkpoint and the fingerprint it was drained at,
  * recorded and compared by [[graft.ops.Generation.resetIfStale]] — the
  * `graft.src` staleness convention of a bucketed state applied to a
  * stream. While the fingerprint holds, a drain restarts on its own
  * checkpoint: the file source has already seen every input file, so an
  * unchanged generation commits no micro-batch and the settled sink is
  * read back as it stands; a probe gate's provably current lineage
  * starts no stream at all ([[drainDistinct]]). A rolled fingerprint
  * resets sink, checkpoint and everything else under the directory as
  * one unit (the checkpoint's seen-file log dedupes by path, so a
  * same-path regen would otherwise never reprocess). Each lineage is a
  * [[graft.ops.PersistedState]] family (`st_<gate>`), so its name ends
  * with the source dir's tag and its fingerprint starts with the
  * source's generation: [[graft.ops.StateGc]] keeps a lineage exactly
  * while its source is live.
  *
  * Single-writer per warehouse, like every persisted state: two
  * concurrent drains of one lineage would race on its checkpoint. */
object GateLineage {

  /** Fingerprint of a probe gate's generation: the streamed source's
    * [[graft.ops.Generation]] (a probe gate streams ONE named file,
    * [[Gate.file]], so this is its `len:mtime`; a directory source for a
    * probe gate is out of scope), then the state table's name,
    * `graft.src` and `graft.layout`, then `params` (cap and sketch
    * parameters). A state table that records no `graft.src` has no
    * generation to key on, so every drain against it starts a fresh
    * lineage. */
  private[graft] def probeFingerprint(spark: SparkSession, srcPath: String,
                                      stateTable: String,
                                      params: String): String = {
    val props = GraftShim.tableProperties(spark, stateTable).getOrElse(Map.empty)
    val state = props.get("graft.src") match {
      case Some(src) =>
        s"$stateTable;src=$src;layout=${props.getOrElse("graft.layout", "")}"
      case None => s"$stateTable;unkeyed=${java.util.UUID.randomUUID()}"
    }
    s"${graft.ops.Generation.of(srcPath)}|$state|$params"
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
    * and append sink → downstream batch is the deployment shape.
    *
    * A CURRENT lineage starts no `StreamingQuery`: the sink is read as
    * it stands. Current means [[graft.ops.Generation.resetIfStale]] kept
    * the lineage (the fingerprint holds) and the checkpoint's latest offset has a commit
    * (the last drain finished every batch it planned, and the file sink
    * logs a batch before its commit). Every probe gate streams ONE named
    * file of the sf dir ([[Gate.file]]'s glob) whose `len:mtime` leads
    * the fingerprint, so on a current lineage the source lists exactly
    * the file that offset recorded, already in its seen-file log, and a
    * started drain would commit no batch: skipping it changes no row. A
    * reset lineage, or an offset left without its commit by a crash,
    * streams. */
  private[streaming] def drainDistinct(spark: SparkSession,
                                       lineage: graft.ops.PersistedState,
                                       sfDir: String,
                                       stateTable: String, params: String,
                                       sinkSchema: StructType)
                                      (stream: SparkSession => DataFrame): DataFrame = {
    val base = lineage.path(spark, sfDir)
    val reset = graft.ops.Generation.resetIfStale(base,
      probeFingerprint(spark, s"$sfDir/${lineage.sources.head}", stateTable, params))
    val data = s"$base/data"
    val ckpt = s"$base/ckpt"
    if (reset || !lastOffsetCommitted(spark, ckpt))
      Gate.land(stream(Gate.session(spark, Some(ckpt))), data, ckpt)
    spark.read.schema(sinkSchema).parquet(data).distinct()
  }

  /** True when the checkpoint at `ckpt` has logged an offset and the
    * latest one has a commit (both logs name each batch file by its id). */
  private def lastOffsetCommitted(spark: SparkSession, ckpt: String): Boolean = {
    val offsets = new Path(ckpt, "offsets")
    val fs = offsets.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(offsets) && fs.listStatus(offsets).map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).maxOption
      .exists(id => fs.exists(new Path(ckpt, s"commits/$id")))
  }
}
