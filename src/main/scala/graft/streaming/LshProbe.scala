package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming decontamination front gate (SURVEY §2.11 × the incremental
  * LSH state of dd_incremental_neardup): the documents increment
  * STREAMS through per-row minhash banding and probes the persisted
  * band state with a stateless stream-static join.
  *
  * The sketch is computed NARROW — `array_min(transform(...))` over the
  * row's own shingle array instead of the batch path's explode +
  * groupBy — so the stream carries NO aggregation state at all: the
  * only stateful thing in the pipeline is the append sink. The (w1,w2)
  * hash words are materialized once per row and shared by all 32
  * permutations (one md5 per shingle, not 32). Band keys are built with
  * the same concat_ws rendering as [[graft.dedup.Dedup.bandKeys]], so
  * the probe hits the SAME persisted buckets the batch path writes.
  *
  * Collisions land in an append sink; the batch `distinct()` of
  * (state_id, inc_id) afterwards equals the batch candidate set (the
  * oracle's band-equality join) regardless of arrival order or
  * micro-batch boundaries. At scale the append sink is a file/Kafka
  * sink and the distinct (plus exact-Jaccard verification) runs in the
  * downstream batch job — the stream's job is only to surface
  * collisions as documents arrive. */
object LshProbe {

  /** The streamed collision pipeline (shared by every sink shape):
    * per-row narrow minhash banding of the increment, stream-static
    * probe of the persisted band state. */
  private def collisionStream(ss: SparkSession, sfDir: String,
                              stateTable: String, numHashes: Int,
                              rowsPerBand: Int, shingleN: Int,
                              bandBucketCap: Option[Int]): DataFrame = {
    // shingleN travels WITH the hash parameters: probing a state table
    // built with a different shingle width yields zero collisions and
    // would silently accept everything — the sketch parameters are one
    // unit, never mixed.
    val shingles = graft.dedup.Dedup.distinctShingles(col("text"), shingleN)
    def w1(s: Column) = conv(substring(md5(s), 1, 8), 16, 10).cast("long")
    def w2(s: Column) = conv(substring(md5(s), 9, 8), 16, 10).cast("long")
    val ws = transform(shingles, s => struct(w1(s).as("w1"), w2(s).as("w2")))
    def sig(i: Int): Column = array_min(transform(col("_ws"),
      w => (w.getField("w1") + lit(i.toLong) * w.getField("w2")) %
        lit(4294967296L)))
    val numBands = numHashes / rowsPerBand
    val bandCols = (0 until numBands).map { b =>
      concat(lit(s"$b:"), concat_ws("|",
        (b * rowsPerBand until (b + 1) * rowsPerBand).map(sig): _*))
    }

    Gate.spreadNarrow(ss, s"$sfDir/documents.parquet", "graft_lsh_probe_rows",
      Gate.documents(ss, sfDir).filter(col("doc_id") % 3 === 2))
      .withColumn("_ws", ws)
      .select(col("doc_id"),
        explode(array(bandCols: _*)).as("band_key"))
      // Same collision-budget cap as the batch probe
      // ([[graft.dedup.Dedup.incrementalNearDups]]): oversized state
      // band buckets are degenerate and would fan every arriving doc
      // out cap+-fold — the static side drops them once, before the
      // stream ever joins.
      .join(graft.ops.ScaleOps.capBuckets(ss.table(stateTable)
        .select(col("doc_id").as("state_id"), col("band_key")),
        "band_key", bandBucketCap), Seq("band_key"))
      .select(col("state_id"), col("doc_id").as("inc_id"))
  }

  /** One AvailableNow drain of the increment (doc_id % 3 = 2) against
    * `stateTable` (written by prepareLshState: (doc_id, band_key)
    * bucketed on band_key). Returns the settled DISTINCT candidate
    * pairs (state_id, inc_id). Collisions land in the parquet append
    * sink of the gate's [[GateLineage]] (keyed on the documents file,
    * the state table's generation, the sketch parameters and the cap),
    * and the distinct runs as a distributed read-back — the
    * append-sink → downstream-batch deployment shape. A re-run on an
    * unchanged generation commits no micro-batch. */
  def candidatesOnce(spark: SparkSession, sfDir: String,
                     stateTable: String, numHashes: Int = 32,
                     rowsPerBand: Int = 4, shingleN: Int = 2,
                     bandBucketCap: Option[Int] = None): DataFrame =
    GateLineage.drainDistinct(spark, graft.ops.PersistedState.StLshProbe, sfDir,
      stateTable, s"v1;h=$numHashes;r=$rowsPerBand;n=$shingleN;" +
        s"cap=${bandBucketCap.getOrElse("none")}",
      org.apache.spark.sql.types.StructType.fromDDL(
        "state_id BIGINT, inc_id BIGINT")) { ss =>
      collisionStream(ss, sfDir, stateTable, numHashes, rowsPerBand,
        shingleN, bandBucketCap)
    }

  // ---- Watermark-bounded drains (verdict-17 task 3) -----------------
  // candidatesOnce hands back EVERY settled collision each drain, so a
  // downstream batch that re-verifies its output pays for the TOTAL
  // accumulated sink, not the increment. The watermarked shape is the
  // operational fix: beside the persistent sink and checkpoint (so the
  // source only ever processes new arrivals), a verified high-water
  // marker records which committed sink files the downstream batch has
  // already verified and merged, and each drain hands back ONLY the
  // files beyond the marker — per-drain verify cost rides new files
  // alone, an aged warehouse costs the same as a fresh one (SCALE.md
  // carries the measured pair).
  // Single-writer per baseDir, like every persisted state here.

  private def verifiedMarker(base: String) =
    new org.apache.hadoop.fs.Path(base, "_GRAFT_VERIFIED")

  /** One watermark-bounded drain's handoff: the NEW (beyond-marker)
    * collision files' distinct pairs, and `advance()` — which the
    * caller invokes AFTER its verify+merge is durably written, moving
    * the marker to the drained committed set (crash before advance ⇒
    * the next drain re-verifies the same files: at-least-once into an
    * idempotent merge). */
  final case class WatermarkedDrain(newPairs: DataFrame,
                                    newFiles: Seq[String],
                                    advance: () => Unit)

  /** One AvailableNow drain of the increment against `stateTable`
    * through the PERSISTENT sink at `baseDir/data` with checkpoint
    * `baseDir/ckpt` (caller runs [[GateLineage.resetIfStale]] first).
    * Committed sink files resolve through the sink's `_spark_metadata`
    * log (CompactedLanding's discipline — a torn in-flight file is
    * invisible); the returned pairs read ONLY files beyond the
    * verified marker. A drain with no new source files commits no new
    * sink files and hands back an empty frame — the aged-warehouse
    * fast path. */
  def candidatesWatermarked(spark: SparkSession, sfDir: String,
                            stateTable: String, baseDir: String,
                            numHashes: Int = 32, rowsPerBand: Int = 4,
                            shingleN: Int = 2,
                            bandBucketCap: Option[Int] = None): WatermarkedDrain = {
    val ckpt = s"$baseDir/ckpt"
    val dataDir = s"$baseDir/data"
    Gate.land(collisionStream(Gate.session(spark, Some(ckpt)), sfDir, stateTable,
      numHashes, rowsPerBand, shingleN, bandBucketCap), dataDir, ckpt)
    val fs = new org.apache.hadoop.fs.Path(baseDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // No metadata log at all ⇒ the drain had nothing to commit ever
    // (zero-arrival stream on a fresh dir).
    val committed =
      if (!fs.exists(new org.apache.hadoop.fs.Path(dataDir, "_spark_metadata")))
        Seq.empty[String]
      else CompactedLanding.committedFiles(spark, dataDir)
    val marker = verifiedMarker(baseDir)
    val verified: Set[String] =
      if (!fs.exists(marker)) Set.empty
      else {
        val in = fs.open(marker)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.nonEmpty).toSet
        finally in.close()
      }
    val newFiles = committed.filterNot(verified)
    val pairs =
      if (newFiles.isEmpty)
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType.fromDDL(
            "state_id BIGINT, inc_id BIGINT"))
      else spark.read
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "state_id BIGINT, inc_id BIGINT"))
        .parquet(newFiles: _*)
        .distinct()
    WatermarkedDrain(pairs, newFiles, () => {
      val out = fs.create(marker, true)
      try out.write(committed.sorted.mkString("\n").getBytes("UTF-8"))
      finally out.close()
    })
  }
}
