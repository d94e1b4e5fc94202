package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

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
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String)

object Q {
  def apply(name: String, oracle: String)(run: (SparkSession, String) => DataFrame): Q =
    Q(name, run, oracle)
}
