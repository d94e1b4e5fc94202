package graft.plans

import graft.SparkSpec
import graft.ops.ScaleOps
import org.apache.spark.sql.functions._

/** Pins the AQE-final layout watch (PlanChecks.watchFinalPlans): the
  * pre-execution REQUIREs assert the initial plan; the watch re-checks
  * every EXECUTED plan behind the QueryExecutionListener bus. Both
  * directions are pinned — a clean exchange-free probe records nothing
  * (including through the async listener path, flushed via the shim),
  * and a probe that re-shuffles the state on its own bucket key records
  * a violation (checked synchronously via checkFinalPlan, because a
  * deliberately-bad plan should not be executed just to see the bus
  * deliver it). */
class FinalPlanCheckSpec extends SparkSpec {
  import spark.implicits._

  private val table = "fpc_state"

  private def withState[A](f: => A): A =
    try {
      ScaleOps.ensureBucketedKeys(spark, table, Seq("k"), 4, "fp-fpc")(
        (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v"))
      f
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")

  test("clean bucketed probe records no violation through the listener bus") {
    withState {
      PlanChecks.drainFinalPlanViolations()
      PlanChecks.watchFinalPlans(spark, table, "spec state")
      val probe = Seq((2L, "x"), (5L, "y")).toDF("k", "p")
      spark.table(table).hint("merge").join(probe, Seq("k")).count()
      org.apache.spark.sql.GraftShim.flushListenerBus(spark)
      val vio = PlanChecks.drainFinalPlanViolations().filter(_.fragment == table)
      assert(vio.isEmpty, s"clean probe flagged: $vio")
    }
  }

  test("state re-shuffled on its own bucket key into a join IS flagged") {
    withState {
      PlanChecks.drainFinalPlanViolations()
      PlanChecks.watchFinalPlans(spark, table, "spec state")
      val probe = Seq((2L, "x"), (5L, "y")).toDF("k", "p")
      // The regression shape: an explicit repartition ON THE BUCKET KEY
      // between the state scan and its probe join — the exchange the
      // bucketing exists to delete.
      val bad = spark.table(table).repartition(8, col("k")).join(probe, Seq("k"))
      PlanChecks.checkFinalPlan(bad.queryExecution.executedPlan)
      val vio = PlanChecks.drainFinalPlanViolations().filter(_.fragment == table)
      assert(vio.nonEmpty, "bucket-key re-shuffle not flagged")
    }
  }

  test("a DERIVED non-floor bucket count keeps the probe exchange-free " +
    "and the sorted scan sort-free (the layout contract is count-independent)") {
    // The fixtures' states all bind at the floor (they are MBs against
    // 128 MiB/8M-row production targets), so the derived machinery's
    // behavior at a count != 32 would otherwise never execute anywhere.
    // Force small targets -> a 64-bucket state, and REQUIRE the same
    // plan properties every floor-bound probe enjoys: state enters its
    // merge join with no Exchange and no state-side Sort.
    val t = "fpc_derived_state"
    try {
      spark.conf.set("graft.state.bucketTargetRows", "100")
      val df = (1L to 5000L).map(i => (i, i * 7)).toDF("k", "v")
      val (_, n) = ScaleOps.ensureBucketedDerived(spark, t, Seq("k"),
        srcFingerprint = "fp-derived-probe")(df)
      assert(n == 64, s"fixture expects a 64-bucket derivation, got $n")
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val probe = (1L to 40L).map(i => (i * 3, s"p$i")).toDF("k", "p")
        val joined = spark.table(t).hint("merge").join(probe, Seq("k"))
        val plan = joined.queryExecution.executedPlan
        PlanChecks.requireExchangeFreeBucketedProbe(plan, "derived-count state")
        PlanChecks.requireSortFreeBucketedScan(plan, t, "derived-count state")
        assert(joined.count() == 40)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally {
      spark.conf.unset("graft.state.bucketTargetRows")
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("a re-keying shuffle (different column) is NOT a violation") {
    withState {
      PlanChecks.drainFinalPlanViolations()
      PlanChecks.watchFinalPlans(spark, table, "spec state")
      val probe = Seq(("v2", 1L), ("v5", 2L)).toDF("v", "p")
      // Joining on a non-bucket column legitimately re-shuffles.
      val rekeyed = spark.table(table).join(probe.hint("merge"), Seq("v"))
      PlanChecks.checkFinalPlan(rekeyed.queryExecution.executedPlan)
      val vio = PlanChecks.drainFinalPlanViolations().filter(_.fragment == table)
      assert(vio.isEmpty, s"legitimate re-key flagged: $vio")
    }
  }
}
