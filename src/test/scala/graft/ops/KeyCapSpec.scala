package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkSpec

/** A state's derived cap is computed on the driver from the new table's
  * key-size histogram ([[ScaleOps.keySizeHistogram]], [[KeyCap.of]]) and
  * published as `graft.stat`. It must equal, on every input, the SQL the
  * caps were computed by when each was a 1-row parquet layout of its
  * own; those formulas live here as the reference. */
class KeyCapSpec extends SparkSpec {

  // ---- the SQL reference formulas ----

  /** The tail-aware cap (LSH, SimHash, cosine): greatest(floor,
    * 4 · mean bucket size, rank-based p99 of bucket sizes) over the
    * bucket-size histogram, as the cap layout computed it. */
  private def tailAwareCapDf(sizes: DataFrame, floor: Long): DataFrame = {
    val hist = sizes.groupBy(col("c")).agg(count(lit(1)).as("f"))
    val tot = hist.agg(coalesce(sum(col("f")), lit(0L)).as("nb"),
      coalesce(sum(col("c") * col("f")), lit(0L)).as("nr"))
    val cum = hist.withColumn("cum", sum(col("f")).over(
      org.apache.spark.sql.expressions.Window.orderBy(col("c"))))
    val p99 = cum.crossJoin(tot)
      .filter(col("cum") >= ceil(lit(0.99) * col("nb")).cast("long"))
      .agg(min(col("c")).as("p99"))
    p99.crossJoin(tot).select(
      greatest(lit(floor), expr("4 * nr div greatest(nb, 1)"),
        coalesce(col("p99"), lit(floor))).as("derived_cap"))
  }

  private def tailRef(state: DataFrame, key: String, floor: Long): Long =
    tailAwareCapDf(state.groupBy(col(key)).agg(count(lit(1)).as("c")), floor)
      .head().getLong(0)

  /** The mean cap (contamination, ER): greatest(floor,
    * mult · count(1) div count(DISTINCT key)). */
  private def meanRef(state: DataFrame, key: String, floor: Long, mult: Long): Long =
    state.agg(greatest(lit(floor),
      expr(s"$mult * count(1) div count(DISTINCT $key)"))).head().getLong(0)

  private def driverCap(state: DataFrame, key: String, cap: KeyCap): Long =
    cap.of(ScaleOps.keySizeHistogram(state, Seq(key)))

  // ---- generated key-size multisets ----

  /** (key sizes, size of the null-key group or 0). */
  private type Sizes = (Seq[Int], Int)

  private val sizeGen: Gen[Int] =
    Gen.frequency(8 -> Gen.choose(1, 4), 2 -> Gen.choose(5, 30), 1 -> Gen.choose(31, 120))

  private val sizesGen: Gen[Sizes] = for {
    n <- Gen.frequency(1 -> Gen.const(0), 1 -> Gen.const(1), 4 -> Gen.choose(2, 40),
      4 -> Gen.choose(95, 230))
    sizes <- Gen.listOfN(n, sizeGen)
    nulls <- Gen.frequency(3 -> Gen.const(0), 1 -> Gen.choose(1, 60))
  } yield (sizes, nulls)

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  /** One row per state row: key i repeated sizes(i) times, plus the
    * null-key group. */
  private def stateOf(s: SparkSession, sz: Sizes): DataFrame = {
    import s.implicits._
    val groups = sz._1.zipWithIndex.map { case (c, i) => (Option(i.toLong), c) } ++
      (if (sz._2 > 0) Seq((Option.empty[Long], sz._2)) else Nil)
    groups.toDF("k", "c").select(col("k"), explode(sequence(lit(1), col("c"))).as("r"))
  }

  private val lsh = KeyCap(16L, 4L, tail = true)
  private val contam = KeyCap(8L, 4L, tail = false)
  private val er = KeyCap(32L, 4L, tail = false)

  /** The mean SQL divides by the non-null key count: with none, ANSI
    * arithmetic fails the reference, and without ANSI it yields null,
    * which `greatest` skips — the floor, the driver's value. */
  private def meanRefAnyState(state: DataFrame, floor: Long, mult: Long): Long = {
    val nonNull = state.filter(col("k").isNotNull).limit(1).count() > 0
    if (nonNull) meanRef(state, "k", floor, mult)
    else {
      val lax = spark.newSession()
      lax.conf.set("spark.sql.ansi.enabled", "false")
      meanRef(lax.createDataFrame(state.rdd, state.schema), "k", floor, mult)
    }
  }

  private def check(sz: Sizes, what: String): Unit = {
    val state = stateOf(spark, sz).cache()
    try {
      assert(driverCap(state, "k", lsh) == tailRef(state, "k", 16L), s"tail cap, $what")
      assert(driverCap(state, "k", KeyCap(1L, 4L, tail = true)) == tailRef(state, "k", 1L),
        s"tail cap at floor 1, $what")
      assert(driverCap(state, "k", contam) == meanRefAnyState(state, 8L, 4L),
        s"mean cap, $what")
      assert(driverCap(state, "k", er) == meanRefAnyState(state, 32L, 4L),
        s"mean cap at floor 32, $what")
    } finally state.unpersist()
  }

  test("the driver cap equals the SQL formulas on the edge multisets") {
    check((Nil, 0), "empty state")
    check((Seq(7), 0), "one key")
    check((Nil, 9), "only a null key")
    check((Seq(3, 3, 200), 40), "a null key beside others")
    // 100 groups: ceil(0.99 · 100) = 99, so the p99 is the 99th size;
    // ties straddling the boundary, then a tie across it.
    check((Seq.fill(98)(1) ++ Seq(50, 50), 0), "a tie across the p99 rank")
    check((Seq.fill(98)(1) ++ Seq(50, 90), 0), "the p99 rank just below the max")
    check((Seq.fill(99)(2) ++ Seq(300), 0), "the max alone above the p99 rank")
    check((Seq.fill(99)(2), 300), "the null group as the tail")
  }

  test("the driver cap equals the SQL formulas on generated key-size multisets") {
    (1L to 24L).foreach(seed => check(sample(sizesGen, seed), s"seed $seed"))
  }

  test("each family's published graft.stat equals its former cap value on the " +
    "vendored sf0.01 fixture") {
    import PersistedState._
    val d = "perfbench/data/sf0.01"
    graft.queries.Build.prepare(spark, d,
      Seq(LshState, SimhashState, ContamState, CosineState, ErKeys))
    // The values the graft_dd_lshcap_, graft_dd_simhashcap_,
    // graft_dd_contamcap_, graft_dd_cosinecap_ and graft_er_cap_
    // layouts held for this fixture before the caps were published with
    // their states.
    assert(LshState.stat(spark, d) == 16L)
    assert(SimhashState.stat(spark, d) == 16L)
    assert(ContamState.stat(spark, d) == 8L)
    assert(CosineState.stat(spark, d) == 16L)
    assert(ErKeys.stat(spark, d) == 32L)
    // And each equals its reference formula over the state table.
    assert(LshState.stat(spark, d) == tailRef(LshState.table(spark, d), "band_key", 16L))
    assert(SimhashState.stat(spark, d) == tailRef(SimhashState.table(spark, d), "mkey", 16L))
    assert(CosineState.stat(spark, d) == tailRef(CosineState.table(spark, d), "tb_key", 16L))
    assert(ContamState.stat(spark, d) ==
      meanRef(ContamState.table(spark, d), "shingle", 8L, 4L))
    assert(ErKeys.stat(spark, d) == meanRef(ErKeys.table(spark, d), "bkey", 32L, 4L))
  }
}
