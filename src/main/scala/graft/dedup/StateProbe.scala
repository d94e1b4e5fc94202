package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one probe of a key state with an increment's keys. Every
  * incremental family (MinHash bands, SimHash Manku keys, cosine
  * sign-LSH buckets, contamination shingles, ER blocking keys) and every
  * probe gate in front of one screens its increment through here:
  *
  *  - the CAP: a state key holding more than `cap` rows is degenerate
  *    (boilerplate, mass duplication) and would fan every probing row
  *    out cap+-fold, so it is dropped before the join — by a windowed
  *    count over the key ([[StateProbe.Windowed]]; a state bucketed on
  *    the key computes it without an exchange), or by a scan predicate
  *    on a size column written at build time ([[StateProbe.SizeColumn]]:
  *    `bsz` in the ER state, `df` in the contamination state);
  *  - the JOIN: a batch increment joins merge-hinted, so the bucketed
  *    state side enters it riding its bucketing without a session-wide
  *    broadcast disable (which would also force the small downstream
  *    verify joins onto shuffles); a streamed increment joins
  *    stream-static, unhinted;
  *  - the CHECK: a state read through its
  *    [[graft.ops.PersistedState]] descriptor ([[StateProbe.Persisted]])
  *    is watched in every final plan under the descriptor's name, and
  *    the probe's own plan must scan it bucketed with no exchange below
  *    the join. A probe cannot leave its layout check out.
  *
  * The companion holds what the families share around the probe: the
  * increment's self-pairs and the best-witness verdict. */
final case class StateProbe(state: StateProbe.State, key: String,
                            cap: Option[StateProbe.Cap] = None) {

  /** `out` applied to the join of `inc` (which carries `key`) with the
    * capped state projected to `stateCols` and `key`. For a persisted
    * state, the REQUIRE runs on the result's plan: call this before any
    * truncation erases the probe from downstream plans. */
  def pairs(inc: DataFrame, stateCols: Column*)(out: DataFrame => DataFrame): DataFrame = {
    val capped = cap.fold(state.frame)(_.keep(state.frame, key))
    val probed = out(
      if (inc.isStreaming) inc.join(capped.select(stateCols :+ col(key): _*), Seq(key))
      else capped.hint("merge").select(stateCols :+ col(key): _*).join(inc, Seq(key)))
    state match {
      case StateProbe.Persisted(spark, sfDir, family, label) =>
        graft.plans.PlanChecks.watchFinalPlans(spark, family.name(sfDir), label)
        graft.plans.PlanChecks.requireExchangeFreeBucketedProbe(
          probed.queryExecution.executedPlan, label)
      case _: StateProbe.Frame => ()
    }
    probed
  }
}

object StateProbe {

  /** Where the probed state comes from. */
  sealed trait State { def frame: DataFrame }

  /** A plain frame (a spec's state, a stream gate's static side): no
    * layout to check. */
  final case class Frame(frame: DataFrame) extends State

  /** A persisted state's catalog table, checked under `label`. */
  final case class Persisted(spark: SparkSession, sfDir: String,
                             family: graft.ops.PersistedState,
                             label: String) extends State {
    def frame: DataFrame = family.table(spark, sfDir)
  }

  /** The largest key a probe keeps, in rows. */
  sealed trait Cap {
    def max: Long
    private[dedup] def keep(state: DataFrame, key: String): DataFrame
  }

  /** The key's rows counted by a window over the key. */
  final case class Windowed(max: Long) extends Cap {
    private[dedup] def keep(state: DataFrame, key: String): DataFrame =
      state.withColumn("_bsz", count(lit(1)).over(Window.partitionBy(key)))
        .filter(col("_bsz") <= max).drop("_bsz")
  }

  /** The key's rows as the build wrote them into `column`. */
  final case class SizeColumn(column: String, max: Long) extends Cap {
    private[dedup] def keep(state: DataFrame, key: String): DataFrame =
      state.filter(col(column) <= max)
  }

  /** A fixed bucket budget, the windowed form. */
  def windowed(cap: Option[Int]): Option[Cap] = cap.map(c => Windowed(c))

  /** The increment's own pairs `as` = (a, b): ids of `keys` sharing a
    * `key`, a < b, distinct — new rows can match each other before any
    * of them reaches the state. */
  def selfPairs(keys: DataFrame, id: String, key: String,
                as: (String, String)): DataFrame = {
    val (a, b) = as
    keys.select(col(id).as(a), col(key))
      .join(keys.select(col(id).as(b), col(key)), Seq(key))
      .filter(col(a) < col(b))
      .select(a, b).distinct()
  }

  /** One verdict row per id of `inc`: among `pairs` (increment id,
    * state id) = `ids`, the best witness by `score` (highest first when
    * `descending`), ties to the lowest state id, so the choice is
    * deterministic; left-joined back onto every increment id. Output
    * (idCol, flag, best state id, best score) under `out`'s names; the
    * flag is true when a witness exists if `flagWitnessed`, else when
    * none does. */
  def verdict(inc: DataFrame, idCol: String, pairs: DataFrame,
              ids: (String, String), score: String, descending: Boolean,
              out: (String, String, String), flagWitnessed: Boolean): DataFrame = {
    val (incId, stateId) = ids
    val (flag, bestId, bestScore) = out
    val w = Window.partitionBy(col(incId))
      .orderBy(if (descending) desc(score) else col(score), col(stateId))
    val best = pairs.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col(incId).as(idCol), col(stateId).as(bestId), col(score).as(bestScore))
    inc.select(col(idCol))
      .join(best, Seq(idCol), "left")
      .select(col(idCol),
        (if (flagWitnessed) col(bestId).isNotNull else col(bestId).isNull).as(flag),
        col(bestId), col(bestScore))
  }
}
