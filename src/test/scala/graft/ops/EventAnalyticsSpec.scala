package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.SparkSpec

class EventAnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // u1: full funnel in order. u2: clicks only BEFORE signup (must not
  // count past stage 1). u3: signup+click, purchase before the click
  // (purchase must not count). u4: never signs up.
  private val ev = Seq(
    (1L, "signup", "2024-01-01 00:00:00"), (1L, "click", "2024-01-01 02:00:00"),
    (1L, "purchase", "2024-01-01 03:00:00"),
    (2L, "click", "2024-01-01 00:00:00"), (2L, "signup", "2024-01-01 01:00:00"),
    (3L, "signup", "2024-01-01 00:00:00"), (3L, "purchase", "2024-01-01 01:00:00"),
    (3L, "click", "2024-01-01 02:00:00"),
    (4L, "click", "2024-01-01 00:00:00"), (4L, "purchase", "2024-01-01 01:00:00"))
    .map { case (u, t, at) => (u, t, ts(at)) }
    .toDF("user_id", "event_type", "ts")

  test("funnel: stage arrival must be at-or-after the previous stage's") {
    val got = rows(EventAnalytics.funnel(ev, "user_id", "ts", "event_type",
      Seq("signup", "click", "purchase")).orderBy("stage_no"))
    // signup: u1,u2,u3. click-after-signup: u1 (+2h), u3 (+2h) — u2's
    // click precedes signup. purchase-after-click: u1 only (+3h from
    // entry) — u3's purchase precedes its click.
    assert(got == Seq(
      Seq("signup", 1L, 3L, 0.0),
      Seq("click", 2L, 2L, 2.0),
      Seq("purchase", 3L, 1L, 3.0)))
  }

  test("funnel: events exactly AT the previous stage's arrival count") {
    val d = Seq((1L, "signup", ts("2024-01-01 00:00:00")),
      (1L, "click", ts("2024-01-01 00:00:00")))
      .toDF("user_id", "event_type", "ts")
    val got = rows(EventAnalytics.funnel(d, "user_id", "ts", "event_type",
      Seq("signup", "click")).orderBy("stage_no"))
    assert(got == Seq(Seq("signup", 1L, 1L, 0.0), Seq("click", 2L, 1L, 0.0)))
  }

  test("funnel: empty stage yields a zero-count row, not a missing row") {
    val d = Seq((1L, "signup", ts("2024-01-01 00:00:00")))
      .toDF("user_id", "event_type", "ts")
    val got = rows(EventAnalytics.funnel(d, "user_id", "ts", "event_type",
      Seq("signup", "purchase")).orderBy("stage_no"))
    assert(got.map(_.take(3)) == Seq(Seq("signup", 1L, 1L), Seq("purchase", 2L, 0L)))
    assert(got(1)(3) == null) // mean hours over nobody is null, not 0
  }

  test("funnel window anchors at FUNNEL ENTRY, not the previous stage") {
    // click at +2h (inside any window), purchase at +11h — inside an
    // 11h-from-click span but OUTSIDE the 10h-from-entry window.
    val d = Seq((1L, "signup", ts("2024-01-01 00:00:00")),
      (1L, "click", ts("2024-01-01 02:00:00")),
      (1L, "purchase", ts("2024-01-01 11:00:00")))
      .toDF("user_id", "event_type", "ts")
    val got = rows(EventAnalytics.funnel(d, "user_id", "ts", "event_type",
      Seq("signup", "click", "purchase"), windowHours = Some(10)).orderBy("stage_no"))
      .map(r => (r(0), r(2)))
    assert(got == Seq(("signup", 1L), ("click", 1L), ("purchase", 0L)))
    // an event exactly AT the deadline still counts (<=)
    val at = rows(EventAnalytics.funnel(d, "user_id", "ts", "event_type",
      Seq("signup", "click", "purchase"), windowHours = Some(11)).orderBy("stage_no"))
    assert(at(2)(2) == 1L)
  }

  test("funnel reach frames persist: one filtered events scan per stage in the plan") {
    val dir = SparkSpec.tempDir("graft_funnel_scan").toString
    ev.write.mode("overwrite").parquet(dir)
    val pev = spark.read.parquet(dir)
    val out = EventAnalytics.funnel(pev, "user_id", "ts", "event_type",
      Seq("signup", "click", "purchase"))
    out.collect() // finalize cached reach frames
    // IDENTITY-distinct file scans across the whole plan (descending
    // into the cached reach relations): each CacheOnce'd reach frame
    // holds its stage's ONE filtered scan, reachable via several paths
    // but evaluated once. The pre-CacheOnce shape re-derived the
    // k-stage chain per summary — 1+2+3 = 6 distinct scan nodes.
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[org.apache.spark.sql.execution.SparkPlan, java.lang.Boolean]())
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      p match {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => seen.add(f)
        case _ =>
      }
      graft.plans.PlanChecks.kids(p).foreach(walk)
    }
    walk(out.queryExecution.executedPlan)
    assert(seen.size == 3,
      s"expected one filtered events scan per stage (3), found ${seen.size}")
  }

  test("sessionPaths: deterministic in-session order, gap split, top-k ties by path") {
    val d = Seq(
      (1L, 1L, "a", "2024-01-01 00:00:00"), (1L, 2L, "b", "2024-01-01 00:10:00"),
      (1L, 3L, "a", "2024-01-01 05:00:00"), (1L, 4L, "b", "2024-01-01 05:10:00"),
      (2L, 5L, "a", "2024-01-01 00:00:00"), (2L, 6L, "b", "2024-01-01 00:20:00"),
      (3L, 7L, "c", "2024-01-01 00:00:00"))
      .map { case (u, i, t, at) => (u, i, t, ts(at)) }
      .toDF("user_id", "event_id", "event_type", "ts")
    val got = rows(EventAnalytics.sessionPaths(d, "user_id", "ts", "event_id",
      "event_type", gapMinutes = 30, k = 10).orderBy("rank"))
    // "a>b" occurs in 3 sessions (u1 twice across the 5h gap, u2 once)
    assert(got == Seq(Seq("a>b", 3L, 1L), Seq("c", 1L, 2L)))
  }

  test("cohortRetention: cohort = first active day; offsets per distinct day") {
    val d = Seq(
      (1L, "2024-01-01 05:00:00"), (1L, "2024-01-01 09:00:00"), // same day: one pair
      (1L, "2024-01-03 05:00:00"),
      (2L, "2024-01-02 05:00:00"), (2L, "2024-01-03 05:00:00"))
      .map { case (u, at) => (u, ts(at)) }.toDF("user_id", "ts")
    val got = rows(EventAnalytics.cohortRetention(d, "user_id", to_date(col("ts")))
      .orderBy("cohort_date", "offset_days"))
      .map(r => (r(0).toString, r(1), r(2)))
    assert(got == Seq(
      ("2024-01-01", 0L, 1L), ("2024-01-01", 2L, 1L),
      ("2024-01-02", 0L, 1L), ("2024-01-02", 1L, 1L)))
  }
}
