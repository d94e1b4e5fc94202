package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.Tables

/** The three decisions every stream gate makes, decided here and nowhere
  * else under `graft.streaming` (`GateSiteSpec` fails on a stream
  * session, file source or sink built anywhere else):
  *  - the SESSION a stream runs on ([[session]]);
  *  - the SOURCE: one file of the sf dir ([[file]], [[events]],
  *    [[documents]]) or a staged replay, one file per trigger
  *    ([[staged]]);
  *  - the DRAIN, always AvailableNow: a memory sink read back as a frame
  *    ([[settle]]), a parquet sink ([[land]]) or `foreachBatch`
  *    ([[eachBatch]]). */
object Gate {

  /** One child session per base session, shared across drains and gates:
    * a fresh `newSession()` per drain re-created the conf + catalog, so
    * every drain re-resolved the state table (footer reads, relation
    * cache cold) — a fixed per-drain driver cost the decomposition
    * profiler attributed ~0.2-0.4 s of the sf0.1 drain to. The child
    * session exists only to pin the stream-side shuffle width and the
    * checkpoint I/O without touching the caller's conf; sharing it is
    * safe because that conf never varies. */
  private val shared =
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

  /** A child of `spark` with the stream conf. 8 shuffle partitions,
    * measured (r18 arbitration of the r17 bench doubling): the stateful
    * gates' wall is dominated by per-PARTITION state-store machinery,
    * not per-event work — widening BottomkIngest's mapGroupsWithState
    * stage to 32 partitions QUADRUPLED s-cpu (23-37 s → 94-347 s at
    * sf0.1) and made wall worse. The checkpoint I/O defaults apply only
    * when the drains checkpoint locally ([[CheckpointIo.isLocal]]). */
  private def child(spark: SparkSession, local: Boolean): SparkSession = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    if (local) CheckpointIo.tune(ss)
    ss
  }

  /** The session a gate's stream runs on. With no `extraConf` and a
    * local or absent `checkpoint`, the shared, memoized, tuned child of
    * `spark`. Otherwise a PRIVATE child: tuned with the `extraConf`
    * overlay on top (a spec's overlay wins), or untuned for a remote
    * checkpoint (hdfs://, s3a://, ...; the choice is a pure function of
    * the path). The private child is not memoized: `extraConf` callers
    * are spec seams (state-store-provider swaps) and remote lineages a
    * deployment shape, neither a per-drain hot path. The shared
    * session's conf is a cross-gate contract, so it is never mutated. */
  def session(spark: SparkSession, checkpoint: Option[String] = None,
              extraConf: Map[String, String] = Map.empty): SparkSession = {
    val local = checkpoint.forall(CheckpointIo.isLocal)
    if (local && extraConf.isEmpty) shared.synchronized {
      val hit = shared.get(spark)
      if (hit != null) {
        // Mutating the shared session would silently change every other
        // gate's streams, so drift fails loudly.
        require(hit.conf.get("spark.sql.shuffle.partitions") == "8",
          "shared stream session conf was mutated — a gate needing " +
            "non-default conf must pass extraConf, never set it on the shared one")
        hit
      } else {
        val ss = child(spark, local = true)
        assertNoBaseRef(spark, ss)
        shared.put(spark, ss)
        ss
      }
    } else {
      val ss = child(spark, local)
      extraConf.foreach { case (k, v) => ss.conf.set(k, v) }
      ss
    }
  }

  /** The files matching `glob` under `dir` as a stream with schema `ddl`
    * (a stream source infers none). The file source reads directories,
    * so for a source table the glob picks its one file out of the sf
    * dir. */
  def file(ss: SparkSession, dir: String, glob: String, ddl: String): DataFrame =
    ss.readStream.schema(StructType.fromDDL(ddl))
      .option("pathGlobFilter", glob)
      .parquet(dir)

  /** The events stream with `ts` converted from the raw INT64 column by
    * the footer-sniffed unit ([[Tables.eventsTsExpr]]); no session conf. */
  def events(ss: SparkSession, sfDir: String): DataFrame =
    file(ss, sfDir, "events.parquet", Tables.eventsRawSchema)
      .withColumn("ts", expr(Tables.eventsTsExpr(ss, sfDir)))

  /** The documents stream (the corpus probes' and ingest's source). */
  def documents(ss: SparkSession, sfDir: String): DataFrame =
    file(ss, sfDir, "documents.parquet",
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")

  /** A staged replay ([[LateArrivals.stageBatches]]) one file per
    * micro-batch, in modification-time order. */
  def staged(ss: SparkSession, dir: String, ddl: String): DataFrame =
    ss.readStream.schema(StructType.fromDDL(ddl))
      .option("pathGlobFilter", "*.parquet")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)

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
  def spreadNarrow(base: SparkSession, path: String, name: String,
                   src: DataFrame): DataFrame =
    if (graft.ops.ScaleOps.narrowScanAt(base, path))
      src.repartition(base.sparkContext.defaultParallelism)
        .observe(name, count(lit(1)).as("n"))
    else src

  /** Drains `stream` into the memory sink `name` in output `mode` and
    * returns the settled table, read on the stream's own session (the
    * sink registers its view there). The sink collects every row to the
    * driver, so its result must be driver-small. */
  def settle(stream: Dataset[_], name: String, mode: String): DataFrame = {
    stream.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    stream.sparkSession.table(name)
  }

  /** Drains `stream` into the parquet append sink at `data`, checkpointed
    * at `ckpt`. A batch read of `data` resolves committed files through
    * the sink's `_spark_metadata` log, so a torn micro-batch is never
    * visible. */
  def land(stream: DataFrame, data: String, ckpt: String): Unit =
    stream.writeStream
      .format("parquet")
      .option("path", data)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** Starts a drain of `stream` that hands each micro-batch and its id
    * to `fn`, checkpointed at `ckpt`; the caller awaits the query. */
  def eachBatch[T](stream: Dataset[T], ckpt: String)
                  (fn: (Dataset[T], Long) => Unit): StreamingQuery =
    stream.writeStream
      .foreachBatch(fn)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
}
