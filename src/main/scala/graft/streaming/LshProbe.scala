package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

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

  private val docSchema =
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"

  /** One child session per base session, shared across drains (and with
    * the other probe gates): a fresh `newSession()` per drain re-created
    * the conf + catalog, so every drain re-resolved the state table
    * (footer reads, relation cache cold) — a fixed per-drain driver cost
    * the decomposition profiler attributed ~0.2-0.4 s of the sf0.1
    * drain to. The child session exists only to pin the stream-side
    * shuffle width without touching the caller's conf; sharing it is
    * safe because that conf never varies. */
  private val streamSessions =
    new java.util.WeakHashMap[SparkSession, SparkSession] // weak keys: a
  // test harness creates many short-lived base sessions in one JVM, and
  // a strong-keyed memo would pin every one (plus its child) for the
  // JVM lifetime. The map is safe ONLY because the child session holds
  // no reference to its base SESSION OBJECT — newSession() shares the
  // SparkContext and SharedState, never the parent SparkSession (its
  // parentSessionState is None) — so the value never reaches the key.
  // If a future change made the child carry a base-session handle, the
  // value→key strong reference would pin every entry forever (the
  // documented WeakHashMap caveat); assertNoBaseRef guards that at
  // construction.

  /** Guards the WeakHashMap invariant above: no field of the child
    * session object may reference the base session. Shallow walk is the
    * right depth — the caveat is a DIRECT value→key reference; anything
    * deeper (context, shared state) is shared infrastructure that both
    * sessions reference and never points back at a session object. */
  private[streaming] def assertNoBaseRef(base: SparkSession,
                                         child: SparkSession): Unit = {
    var cls: Class[_] = child.getClass
    while (cls != null && cls != classOf[Object]) {
      cls.getDeclaredFields.foreach { f =>
        if (!f.getType.isPrimitive) {
          f.setAccessible(true)
          require(f.get(child).asInstanceOf[AnyRef] ne base,
            s"child stream session field ${f.getName} references its base " +
              "session — this would pin the WeakHashMap entry forever")
        }
      }
      cls = cls.getSuperclass
    }
  }

  private[streaming] def streamSession(spark: SparkSession): SparkSession =
    streamSessions.synchronized {
      val hit = streamSessions.get(spark)
      if (hit != null) {
        // The shared conf is a cross-gate CONTRACT: a gate that needs
        // different conf must keep its own session (BottomkIngest's
        // extraConf precedent) — mutating this one would silently
        // change every other gate's streams, so drift fails loudly.
        require(hit.conf.get("spark.sql.shuffle.partitions") == "8",
          "shared stream session conf was mutated — a gate needing " +
            "non-default conf must use its own newSession() " +
            "(see BottomkIngest), never the shared one")
        hit
      } else {
        val ss = spark.newSession()
        ss.conf.set("spark.sql.shuffle.partitions", "8")
        CheckpointIo.tune(ss)
        assertNoBaseRef(spark, ss)
        streamSessions.put(spark, ss)
        ss
      }
    }

  /** Session selector for gates that take caller `extraConf`: the shared
    * session's conf is a cross-gate contract (see streamSession), so any
    * non-empty extraConf gets a PRIVATE child session instead — the
    * BottomkIngest precedent — and the shared one is never mutated. The
    * private child is not memoized: extraConf callers are spec seams
    * (state-store-provider swaps), not per-drain hot paths. */
  private[streaming] def sessionFor(spark: SparkSession,
                                    extraConf: Map[String, String]): SparkSession =
    if (extraConf.isEmpty) streamSession(spark)
    else {
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "8")
      CheckpointIo.tune(ss) // before extraConf: a spec's overlay wins
      extraConf.foreach { case (k, v) => ss.conf.set(k, v) }
      ss
    }

  /** Session selector for a drain that checkpoints at `checkpointPath`:
    * a local path drains on the shared, tuned stream session; any other
    * scheme gets a PRIVATE child session without the local-only
    * checkpoint defaults ([[CheckpointIo.isLocal]] — the choice is a pure
    * function of the path). Not memoized: remote lineages are a
    * deployment shape, not the local hot path. */
  private[streaming] def checkpointSession(spark: SparkSession,
                                           checkpointPath: String): SparkSession =
    if (CheckpointIo.isLocal(checkpointPath)) streamSession(spark)
    else {
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "8")
      CheckpointIo.tune(ss, local = false)
    }

  /** Guarded redistribute of a streamed source before heavy PER-ROW
    * narrow work (per-row sketching, quality/lang scoring) — guide §2.5
    * applied to the stream gates: the fixture sources are one parquet
    * file with one row group, so the sketch ran on a single task of a
    * 32-core micro-batch. Identity on any multi-file landing directory
    * ([[graft.ops.ScaleOps.narrowScanAt]]'s guard). The observe() node
    * is an optimizer BARRIER as well as a free row-count metric:
    * deterministic filters/projections otherwise push back through the
    * Repartition (PushPredicateThroughNonJoin) onto the single scan
    * task; CollectMetrics is not in the push-through set. `name` must
    * be unique per query (observe contract). */
  private[streaming] def spreadNarrow(base: SparkSession, path: String,
                                      name: String, src: DataFrame): DataFrame =
    if (graft.ops.ScaleOps.narrowScanAt(base, path))
      src.repartition(base.sparkContext.defaultParallelism)
        .observe(name, count(lit(1)).as("n"))
    else src

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

    spreadNarrow(ss, s"$sfDir/documents.parquet", "graft_lsh_probe_rows",
      ss.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL(docSchema))
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sfDir)
        .filter(col("doc_id") % 3 === 2))
      .withColumn("_ws", ws)
      .select(col("doc_id"),
        explode(array(bandCols: _*)).as("band_key"))
      .join({
        // Same collision-budget cap as the batch probe
        // ([[graft.dedup.Dedup.incrementalNearDups]]): oversized state
        // band buckets are degenerate and would fan every arriving doc
        // out cap+-fold — the static side drops them once, before the
        // stream ever joins. Windowed count keyed on band_key rides the
        // state table's bucketing.
        val st = ss.table(stateTable)
          .select(col("doc_id").as("state_id"), col("band_key"))
        bandBucketCap.fold(st) { cap =>
          val w = org.apache.spark.sql.expressions.Window.partitionBy("band_key")
          st.withColumn("_bsz", count(lit(1)).over(w))
            .filter(col("_bsz") <= cap).drop("_bsz")
        }
      }, Seq("band_key"))
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
    val ss = checkpointSession(spark, s"$baseDir/ckpt")
    val dataDir = s"$baseDir/data"
    val query = collisionStream(ss, sfDir, stateTable, numHashes,
      rowsPerBand, shingleN, bandBucketCap)
      .writeStream
      .format("parquet")
      .option("path", dataDir)
      .option("checkpointLocation", s"$baseDir/ckpt")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination()
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
