package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Join operators from the reference (SURVEY.md §2.5).
  *
  * Scale notes:
  *  - Lookup/dimension joins are always `broadcast()` — a dimension of a
  *    few thousand rows must never shuffle a 100 TB fact table.
  *  - Natural joins are made EXPLICIT: we compute the shared column set
  *    once at plan time and pass it as `usingColumns`, so a schema drift
  *    changes the plan visibly instead of silently changing join keys
  *    (risk register SURVEY.md §7.4.1).
  *  - Anti/semi joins map to Spark's `left_anti`/`left_semi`, which are
  *    broadcast-able and never materialize the right side's payload.
  */
object JoinOps {

  /** Resolve a dimension/lookup FK into its label columns, dropping the
    * key afterwards — the reference's
    * `left_join(lookup, by = c(fk = pk)) %>% select(-fk)` chains
    * (ningaloo-etl.Rmd:235, 273-277; tagging-etl.Rmd:401).
    * Broadcast: dimensions are tiny by construction.
    */
  def resolveLookup(fact: DataFrame, dim: DataFrame, factKey: String, dimKey: String,
                    keep: Seq[String]): DataFrame = {
    val dimPruned = dim.select((dimKey +: keep).map(dim.col): _*)
    fact.join(broadcast(dimPruned), fact(factKey) === dimPruned(dimKey), "left")
      .drop(dimKey).drop(factKey)
  }

  /** dplyr-style natural join — joins on ALL shared column names
    * (ningaloo-etl.Rmd:314, 366: `inner_join(surveys)` with no `by`).
    * The shared set is resolved here, once, and is part of the returned
    * plan; tests assert it matches the reference's expectation.
    */
  def naturalJoin(left: DataFrame, right: DataFrame, how: String = "inner"): DataFrame = {
    val keys = left.columns.intersect(right.columns).toSeq
    require(keys.nonEmpty, "naturalJoin: no shared columns")
    left.join(right, keys, how)
  }

  /** Orphan detection: fact rows whose FK matches no parent —
    * the reference's `anti_join(x, y, by = key)` QA queries
    * (ningaloo-etl.Rmd:402, 405). */
  def orphans(fact: DataFrame, parent: DataFrame, key: String): DataFrame =
    fact.join(parent, Seq(key), "left_anti")

  /** Existence filter (left semi): keep fact rows with at least one match.
    * The validation "tag exists" checks (tagging-etl.Rmd:170-183). */
  def existing(fact: DataFrame, parent: DataFrame, key: String): DataFrame =
    fact.join(parent, Seq(key), "left_semi")

  /** As-of join (J13): for every left row, the single most recent right
    * row with the same `key` and `rightTime` <= `leftTime` — the
    * "latest dimension snapshot at event time" join Spark has no native
    * operator for. Composed Spark-first (preference (a) of the custom-
    * operator ladder) as the union + last-non-null-window trick: tag
    * both sides, union, per-key window ordered by time with right rows
    * BEFORE left rows at equal timestamps (as-of <= semantics), fill
    * `rightVals` with `last(_, ignoreNulls)`, keep the left rows. ONE
    * keyed shuffle total — a naive inequality join would be a per-key
    * cartesian. Left rows before any right row keep nulls (left join).
    * `right` must be unique per (key, rightTime) or ties are resolved
    * by union order — dedup it first for determinism. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
               leftTime: String, rightTime: String,
               rightVals: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, last, lit}
    val lCols = left.columns.toSeq
    val l2 = left.select(
      lCols.map(col) ++
        Seq(col(leftTime).cast("timestamp").as("_t"), lit(1).as("_side")) ++
        rightVals.map(v => lit(null).cast(right.schema(v).dataType).as(v)): _*)
    val r2 = right.select(
      lCols.map(c => if (c == key) col(key)
        else lit(null).cast(left.schema(c).dataType).as(c)) ++
        Seq(col(rightTime).cast("timestamp").as("_t"), lit(0).as("_side")) ++
        rightVals.map(col): _*)
    val w = Window.partitionBy(col(key)).orderBy(col("_t"), col("_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = l2.union(r2).select(
      (lCols.map(col) :+ col("_side")) ++
        rightVals.map(v => last(col(v), ignoreNulls = true).over(w).as(v)): _*)
    filled.filter(col("_side") === 1).drop("_side")
  }

  /** Interval (range) join via bucket prefilter (J14): match fact rows
    * to UNKEYED intervals containing their timestamp. A raw
    * `t BETWEEN start AND end` join is a cartesian with a filter; here
    * each interval explodes into the coarse time buckets it covers and
    * each fact maps to its single bucket, so the join is bucket-KEYED
    * and each (fact, interval) pair meets exactly once (the fact's one
    * bucket is covered once by the interval) — no dedup needed. Bucket
    * width is the knob: ~ median interval length keeps the explode
    * factor ~2 while the per-bucket population bounds the filter work. */
  def intervalJoin(facts: DataFrame, factTime: String,
                   intervals: DataFrame, startCol: String, endCol: String,
                   bucketOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : DataFrame = {
    import org.apache.spark.sql.functions.{col, explode, sequence}
    val fb = facts.withColumn("_b", bucketOf(col(factTime)))
    val ib = intervals.withColumn("_b",
      explode(sequence(bucketOf(col(startCol)), bucketOf(col(endCol)))))
    fb.join(ib, Seq("_b"))
      .filter(col(factTime) >= col(startCol) && col(factTime) <= col(endCol))
      .drop("_b")
  }

  /** J11: positional concat, R's `cbind(a, b)` (spatial_modelling.Rmd:218)
    * — rows paired by explicit sort order on each side. Order-dependent by
    * construction and intended for dimension-sized frames (the reference
    * zips 61 sites with their PCNM scores): the global row_number windows
    * below are single-partition. */
  def cbindByOrder(left: DataFrame, right: DataFrame,
                   leftOrder: Seq[String], rightOrder: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    val lw = Window.orderBy(leftOrder.map(col): _*)
    val rw = Window.orderBy(rightOrder.map(col): _*)
    left.withColumn("_rn", row_number().over(lw))
      .join(right.withColumn("_rn", row_number().over(rw)), Seq("_rn"))
      .drop("_rn")
  }
}
