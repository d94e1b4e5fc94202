package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming front gate of incremental entity resolution (the
  * [[LshProbe]] shape for STRUCTURED records): arriving customer rows
  * stream through per-row dirty-variant derivation + blocking-key
  * construction — all NARROW (an explode of a 4-element array per
  * input row: 2 dirty copies × 2 blocking passes), so the stream
  * carries ZERO aggregation state — and probe the persisted bucketed
  * blocking-key state with a stateless stream-static join. Collisions
  * append as they arrive; the settled distinct equals the batch
  * cross-candidate set at any arrival order or micro-batch cut, and
  * the downstream batch job (verify + incrementalClusters merge —
  * er_incremental_clusters' tail) consumes them from the sink. */
object ErProbe {

  private val customerSchema =
    "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING"

  /** One AvailableNow drain of the customer increment (custkey % 3 = 2;
    * both dirty copies of an entity derive in-stream) against
    * `stateTable` ((rid, bkey) bucketed on bkey — written by
    * EntityQueries.prepareErState). Returns the settled DISTINCT
    * candidate pairs (state_rid, inc_rid). `blockCap` is the same
    * collision budget as the batch blocking pass and st_lsh_probe's
    * bandBucketCap: a state bucket above the cap is degenerate dirt
    * density, and every arriving record landing in it would fan out
    * cap+-fold into the sink — the static side drops such buckets
    * once, before the stream ever joins (windowed count keyed on the
    * bucketed column, no exchange). Without it, a 30-copy-density
    * fixture floods the sink with tens of millions of candidates.
    * `derivedBlockCap` = (floor, multOfMeanBlock) replaces the fixed
    * cap with the corpus-derived bound (greatest(floor, mult · mean
    * state block size), a 1-row broadcast over the state table) — mass
    * duplication raises the cap with the density instead of zeroing
    * the probe, while a degenerate key far above mult × the mean stays
    * capped. `persistedCap` = (bszCol, cap) is the O(1) shape of the
    * same bound: the block size was windowed INTO the state at build
    * time and the cap read back from its 1-row checkpoint
    * (PersistedState.ErCap), so the filter is a scan predicate and
    * nothing state-sized is recomputed per probe. The three cap modes
    * are mutually exclusive. The sink is the gate's [[GateLineage]],
    * keyed on customer.parquet, the state table's generation and the
    * cap: a re-run on an unchanged generation commits no micro-batch. */
  def candidatesOnce(spark: SparkSession, sfDir: String,
                     stateTable: String,
                     blockCap: Option[Int] = None,
                     derivedBlockCap: Option[(Int, Int)] = None,
                     persistedCap: Option[(String, Long)] = None): DataFrame = {
    require(Seq(blockCap, derivedBlockCap, persistedCap).count(_.nonEmpty) <= 1,
      "blockCap, derivedBlockCap and persistedCap are mutually exclusive")

    // Dirty-variant surgery and composite pass keys come from the ONE
    // shared builder ([[graft.ops.EntityResolution]]) the batch path
    // and the persisted key state also use — the sketch parameters are
    // one unit; a drifting key format would find zero collisions and
    // silently accept every record. Only the DuckDB oracle SQL remains
    // an independent copy, on purpose.
    import graft.ops.EntityResolution
    val name2 = EntityResolution.dirtyNameVariant(col("c_custkey"), col("c_name"))
    def keysOf(rid: org.apache.spark.sql.Column, nm: org.apache.spark.sql.Column) =
      EntityResolution
        .compositeBlockKeys(col("c_nationkey"), EntityResolution.nameDigits(nm))
        .map(bk => struct(rid.as("inc_rid"), bk.as("bkey")))

    val capMode = (blockCap.map(c => s"fixed=$c") ++
      derivedBlockCap.map { case (f, m) => s"derived=$f,$m" } ++
      persistedCap.map { case (c, cap) => s"persisted=$c<=$cap" })
      .headOption.getOrElse("none")
    GateLineage.drainDistinct(spark, graft.ops.PersistedState.StErProbe, sfDir,
      stateTable, s"v1;cap=$capMode",
      org.apache.spark.sql.types.StructType.fromDDL(
        "state_rid BIGINT, inc_rid BIGINT")) { ss =>
      Gate.file(ss, sfDir, "customer.parquet", customerSchema)
        .filter(col("c_custkey") % 3 === 2)
        .select(explode(array(
          keysOf(col("c_custkey") * 2, col("c_name")) ++
            keysOf(col("c_custkey") * 2 + 1, name2): _*)).as("k"))
        .select(col("k.inc_rid"), col("k.bkey"))
        .join({
          persistedCap match {
            case Some((bszCol, cap)) =>
              // Build-time block sizes + checkpointed cap: one pushable
              // scan predicate, zero per-probe window/aggregate work.
              ss.table(stateTable)
                .filter(col(bszCol) <= cap)
                .select(col("rid").as("state_rid"), col("bkey"))
            case None =>
              val st = ss.table(stateTable)
                .select(col("rid").as("state_rid"), col("bkey"))
              derivedBlockCap.fold(graft.ops.ScaleOps.capBuckets(st, "bkey", blockCap)) {
                case (floor, mult) =>
                  val capDf = st.agg(greatest(lit(floor.toLong),
                    expr(s"$mult * count(1) div count(DISTINCT bkey)")).as("_cap"))
                  st.withColumn("_bsz", count(lit(1))
                      .over(org.apache.spark.sql.expressions.Window.partitionBy("bkey")))
                    .crossJoin(broadcast(capDf))
                    .filter(col("_bsz") <= col("_cap")).drop("_bsz", "_cap")
              }
          }
        }, Seq("bkey"))
        .select(col("state_rid"), col("inc_rid"))
    }
  }
}
