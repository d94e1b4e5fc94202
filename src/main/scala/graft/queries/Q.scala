package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.PersistedState

/** One harness-registered query: a Spark implementation over the testdata
  * tables plus the equivalent DuckDB oracle SQL.
  *
  * Oracle-parity rules (the driver hash-compares values after sorting
  * columns by name):
  *  - column names and types must match exactly on both sides (alias every
  *    computed column; CAST counts to BIGINT, ratios to DOUBLE);
  *  - money-type double sums go through DECIMAL so the aggregation order
  *    cannot perturb low bits; ratio/irrational outputs are `round(_, 4+)`;
  *  - every windowed or limited result is totally ordered (unique-id
  *    tie-breaks), so both engines resolve ties identically.
  *
  * `reads` declares the prepared persisted states ([[Build]]) the body
  * reads: [[run]] builds their closure before the body, so a body builds
  * no prepared state and a query builds none it does not read. */
final case class Q(
    name: String,
    body: (SparkSession, String) => DataFrame,
    oracle: String,
    reads: Seq[PersistedState]) {

  def run(spark: SparkSession, sfDir: String): DataFrame = {
    Build.prepare(spark, sfDir, reads)
    body(spark, sfDir)
  }
}

object Q {
  def apply(name: String, oracle: String, reads: PersistedState*)(
      body: (SparkSession, String) => DataFrame): Q =
    Q(name, body, oracle, reads)
}

/** The one build of a prepared persisted-state family: `run` writes
  * `state` over a source dir when its generation is stale (a fresh one
  * costs the family's freshness lookup), reading the prepared families
  * in `reads`, which [[Build.prepare]] builds first. */
final class Build(val state: PersistedState, val reads: Seq[PersistedState],
                  val run: (SparkSession, String) => Unit)

object Build {
  def apply(state: PersistedState, reads: PersistedState*)(
      run: (SparkSession, String) => Unit): Build =
    new Build(state, reads, run)

  /** Every prepared family's build. */
  lazy val all: Seq[Build] = ScaleQueries.builds ++ CorpusQueries.builds ++
    EntityQueries.builds ++ RelationalQueries.builds

  private lazy val byState: Map[PersistedState, Build] = all.map(b => b.state -> b).toMap

  /** The builds `states` need, each once and after the builds it reads.
    * Fails on a family without a build and on a dependency cycle. */
  def closure(states: Seq[PersistedState]): Seq[Build] = {
    val done = scala.collection.mutable.LinkedHashMap.empty[PersistedState, Build]
    def visit(st: PersistedState, path: List[PersistedState]): Unit =
      if (!done.contains(st)) {
        require(!path.contains(st),
          s"build cycle: ${(st :: path).reverse.map(_.family).mkString(" -> ")}")
        val b = byState.getOrElse(st,
          throw new IllegalArgumentException(s"${st.family} has no build"))
        b.reads.foreach(visit(_, st :: path))
        done(st) = b
      }
    states.foreach(visit(_, Nil))
    done.values.toSeq
  }

  /** Builds the closure of `states` over `sfDir`, in dependency order. */
  def prepare(spark: SparkSession, sfDir: String, states: Seq[PersistedState]): Unit =
    closure(states).foreach(_.run(spark, sfDir))
}
