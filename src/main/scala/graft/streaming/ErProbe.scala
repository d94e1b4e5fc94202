package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.StateProbe

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
    * `stateTable` ((rid, bkey, bsz) bucketed on bkey — written by
    * the ErKeys build in EntityQueries). Returns the settled DISTINCT
    * candidate pairs (state_rid, inc_rid). `cap` is the collision
    * budget of the batch blocking pass and st_lsh_probe: a state block
    * above it is degenerate dirt density, and every arriving record
    * landing in it would fan out cap+-fold into the sink — the static
    * side drops such blocks once, before the stream ever joins. Without
    * it, a 30-copy-density fixture floods the sink with tens of
    * millions of candidates. The registered gate passes the state's
    * published block cap on its build-time `bsz` column
    * ([[StateProbe.SizeColumn]]): a scan predicate, nothing
    * state-sized recomputed per probe. The sink is the gate's
    * [[GateLineage]], keyed on customer.parquet, the state table's
    * generation and the cap: a re-run on an unchanged generation
    * starts no stream. */
  def candidatesOnce(spark: SparkSession, sfDir: String,
                     stateTable: String,
                     cap: Option[StateProbe.Cap] = None): DataFrame = {
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

    val capMode = cap.fold("none") {
      case StateProbe.Windowed(max) => s"fixed=$max"
      case StateProbe.SizeColumn(c, max) => s"persisted=$c<=$max"
    }
    GateLineage.drainDistinct(spark, graft.ops.PersistedState.StErProbe, sfDir,
      stateTable, s"v1;cap=$capMode",
      org.apache.spark.sql.types.StructType.fromDDL(
        "state_rid BIGINT, inc_rid BIGINT")) { ss =>
      val incKeys = Gate.file(ss, sfDir, "customer.parquet", customerSchema)
        .filter(col("c_custkey") % 3 === 2)
        .select(explode(array(
          keysOf(col("c_custkey") * 2, col("c_name")) ++
            keysOf(col("c_custkey") * 2 + 1, name2): _*)).as("k"))
        .select(col("k.inc_rid"), col("k.bkey"))
      StateProbe(StateProbe.Frame(ss.table(stateTable)), "bkey", cap)
        .pairs(incKeys, col("rid").as("state_rid"))(_.select(col("state_rid"), col("inc_rid")))
    }
  }
}
