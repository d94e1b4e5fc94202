package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream product analytics: ordered funnels and cohort retention —
  * the two query shapes every event warehouse serves daily and the
  * reference's tally/join toolkit (ningaloo-etl.Rmd:231-240 track
  * tallies, app.R:193-203 interactive slices) stops just short of.
  *
  * Scale notes: both operators decompose into KEYED aggregates and
  * SAME-KEY joins on the entity id — every shuffle is on `entity`, so a
  * pre-bucketed events table (sc1's layout) serves them shuffle-free,
  * and nothing ever windows over a global order. Funnel stage frames
  * shrink monotonically (stage k+1 joins the stage-k reach, never the
  * raw stream), so the heaviest join is the first.
  */
object EventAnalytics {

  /** Ordered-funnel conversion: per entity, the arrival time at each
    * stage is the EARLIEST event of that stage's type at-or-after the
    * entity's arrival at the previous stage (min-over-filtered-join, no
    * per-entity sort). Emits one row per stage: reach count and the
    * mean hours from funnel entry to stage arrival among entities that
    * reached it.
    *
    * Time arithmetic is exact integer microseconds until the single
    * final divide, so an ANSI oracle reproduces it bit-for-bit at
    * `round(_, 4)`.
    *
    * Each reach frame is consumed twice (the next stage's join and its
    * own 1-row summary), so per the multi-consumer rule each one is
    * [[graft.ops.CacheOnce]]'d (per-stage keys — one name never holds
    * more than the handful of window-variant plans a session runs):
    * the executed plan carries ONE filtered events scan per stage, not
    * a re-derived k-stage chain under every summary. */
  def funnel(events: DataFrame, entity: String, tsCol: String, typeCol: String,
             stages: Seq[String], windowHours: Option[Int] = None): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    // Stage-0 reach: first event of the entry type per entity. `_t0`
    // rides along every later frame for the hours-from-entry metric.
    val first = graft.ops.CacheOnce.swap("funnel-reach-0",
      events.filter(col(typeCol) === stages.head)
        .groupBy(col(entity)).agg(min(col(tsCol)).as("_t"))
        .withColumn("_t0", col("_t")))
    // Each later reach: same-key join against the previous reach, keep
    // events at-or-after the previous arrival (and, with a conversion
    // window, within `windowHours` of FUNNEL ENTRY — the product
    // convention: the deadline anchors at t0, not the previous stage),
    // min per entity. min(_t0) is constant per entity — it just
    // carries the column through.
    val reaches = stages.tail.zipWithIndex.scanLeft(first) {
      case (prev, (st, i)) =>
        val inWindow = windowHours.fold(lit(true))(h =>
          unix_micros(col(tsCol)) - unix_micros(col("_t0")) <= h * 3600000000L)
        graft.ops.CacheOnce.swap(s"funnel-reach-${i + 1}",
          events.filter(col(typeCol) === st)
            .join(prev.select(col(entity), col("_t").as("_tp"), col("_t0")), Seq(entity))
            .filter(col(tsCol) >= col("_tp") && inWindow)
            .groupBy(col(entity))
            .agg(min(col(tsCol)).as("_t"), min(col("_t0")).as("_t0")))
    }
    reaches.zip(stages).zipWithIndex.map { case ((reach, st), i) =>
      reach.agg(
        count(lit(1)).as("n_users"),
        round(avg(unix_micros(col("_t")) - unix_micros(col("_t0"))) /
          lit(3600000000.0), 4).as("avg_hours"))
        .select(lit(st).as("stage"), lit((i + 1).toLong).as("stage_no"),
          col("n_users"), col("avg_hours"))
    }.reduce(_.union(_))
  }

  /** Top-k session paths ("path analysis"): gaps-and-islands sessions
    * per entity, each session rendered as its ordered event-type string
    * (deterministic: events sorted by (ts, id) INSIDE the aggregate via
    * sort_array over structs — collect_list alone is partition-order
    * nondeterministic), then a path tally with a total-order top-k.
    * Two keyed shuffles (entity window → path tally) plus the k-row
    * ranking window over the aggregated path counts — path cardinality,
    * not event cardinality. */
  def sessionPaths(events: DataFrame, entity: String, tsCol: String, idCol: String,
                   typeCol: String, gapMinutes: Int, k: Int): DataFrame = {
    val w = Window.partitionBy(col(entity)).orderBy(col(tsCol), col(idCol))
    val gapUs = gapMinutes * 60L * 1000000L
    val sessioned = events
      .withColumn("_prev", lag(col(tsCol), 1).over(w))
      .withColumn("_new",
        when(col("_prev").isNull ||
          unix_micros(col(tsCol)) - unix_micros(col("_prev")) > gapUs, 1L)
          .otherwise(0L))
      .withColumn("_sno",
        sum(col("_new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val paths = sessioned.groupBy(col(entity), col("_sno"))
      .agg(array_join(
        transform(
          sort_array(collect_list(struct(
            col(tsCol).as("t"), col(idCol).as("i"), col(typeCol).as("y")))),
          x => x.getField("y")),
        ">").as("path"))
    val tallied = paths.groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
    // Top-k via orderBy+limit (TakeOrderedAndProject: per-partition
    // heads merged on the driver — distributed top-k, NOT a global
    // window over the whole path tally); the ranking window then runs
    // over at most k rows, so its single partition is bounded at any
    // corpus scale.
    val top = tallied.orderBy(desc("n_sessions"), col("path")).limit(k)
    val rw = Window.orderBy(desc("n_sessions"), col("path"))
    top.withColumn("rank", row_number().over(rw).cast("long"))
  }

  /** Cohort retention matrix: entities cohorted by their first active
    * day, activity counted as distinct (entity, day) pairs at each
    * day-offset from the cohort day. Two keyed aggregates plus one
    * same-key join — the distinct and the cohort min shuffle on the
    * same key, so AQE plans the join exchange-free. `dayCol` is the
    * caller's local-date expression (time zone policy stays at the
    * call site, as with [[ColumnOps.toLocalDate]]). */
  def cohortRetention(events: DataFrame, entity: String, dayCol: Column): DataFrame = {
    val days = events.select(col(entity), dayCol.as("_day")).distinct()
    val cohorts = days.groupBy(col(entity)).agg(min(col("_day")).as("cohort_date"))
    days.join(cohorts, Seq(entity))
      .groupBy(col("cohort_date"),
        datediff(col("_day"), col("cohort_date")).cast("long").as("offset_days"))
      .agg(count(lit(1)).as("n_active"))
  }
}
