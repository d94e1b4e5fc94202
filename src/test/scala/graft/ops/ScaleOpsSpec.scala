package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class ScaleOpsSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("saltedTally == direct tally (skew-safe two-phase count)") {
    val ev = Tables.events(spark, sf)
    val direct = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = ScaleOps.saltedTally(ev, Seq("event_type"), "event_id", 7)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == direct)
  }

  test("events explicit-schema read still prunes columns at the scan") {
    // The TIMESTAMP(NANOS) workaround requests a full explicit schema;
    // Catalyst must still prune the scan to the referenced columns.
    val plan = Tables.events(spark, sf).select("event_id", "event_type")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<event_id:bigint,event_type:string>"),
      s"scan not pruned:\n$plan")
  }

  test("ensureBucketed with srcFingerprint rebuilds on fingerprint change, " +
    "skips on match") {
    val t = "b_fp_state"
    try {
      val v1 = spark.range(5).selectExpr("id AS k", "id * 2 AS v")
      ScaleOps.ensureBucketedKeys(spark, t, Seq("k"), 2, srcFingerprint = "fp-A")(v1)
      assert(spark.table(t).count() == 5)
      // Same fingerprint: the (different) df must NOT be rewritten —
      // "write once, join forever".
      ScaleOps.ensureBucketedKeys(spark, t, Seq("k"), 2, srcFingerprint = "fp-A")(
        spark.range(9).selectExpr("id AS k", "id AS v"))
      assert(spark.table(t).count() == 5, "matching fingerprint must skip rewrite")
      // Changed fingerprint (source regenerated): MUST drop and rebuild
      // — stale bucketed state is the r9 regen-staleness failure mode.
      val v2 = spark.range(7).selectExpr("id AS k", "id AS v")
      ScaleOps.ensureBucketedKeys(spark, t, Seq("k"), 2, srcFingerprint = "fp-B")(v2)
      assert(spark.table(t).count() == 7, "changed fingerprint must rebuild")
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("ensureBucketedDerived: count scales with state size, policy change " +
    "rebuilds, fresh call reads the count back without recomputing") {
    val t = "b_derived_state"
    try {
      // Force a tiny rows-per-bucket target so a 5k-row state derives a
      // count above the floor — the fixture-scale stand-in for the
      // 100 TB state the 128 MiB/8M-row defaults are sized for.
      spark.conf.set("graft.state.bucketTargetRows", "100")
      spark.conf.set("graft.state.bucketFloor", "4")
      val df = spark.range(5000).selectExpr("id AS k", "id * 3 AS v")
      val (built, n) = ScaleOps.ensureBucketedDerived(spark, t, Seq("k"), "fp-A")(df)
      assert(built)
      // 5000 rows / 100-row target = 50 -> next power of two = 64.
      assert(n == 64, s"expected derived count 64, got $n")
      assert(spark.table(t).count() == 5000)
      // One file per DERIVED bucket (the sort-free probe contract).
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      ScaleOps.assertOneFilePerBucket(spark, new java.io.File(wh, t).toString, n)
      // The staging detour cleaned up after itself.
      assert(!new java.io.File(wh, t + "__stage").exists(), "staging dir leaked")
      // Fresh call: same policy + fingerprint skips the rebuild and
      // reads the count back from the graft.buckets property.
      val (built2, n2) = ScaleOps.ensureBucketedDerived(spark, t, Seq("k"), "fp-A")(
        spark.range(9).selectExpr("id AS k", "id AS v"))
      assert(!built2 && n2 == 64)
      assert(spark.table(t).count() == 5000, "fresh derived layout must skip rewrite")
      // Policy change (new target) rolls the layout contract -> rebuild
      // with the new derivation, no hand-written fingerprint bump.
      spark.conf.set("graft.state.bucketTargetRows", "2500")
      val (built3, n3) = ScaleOps.ensureBucketedDerived(spark, t, Seq("k"), "fp-A")(df)
      assert(built3 && n3 == 4, s"expected floor-bound rebuild at 4, got $n3")
    } finally {
      spark.conf.unset("graft.state.bucketTargetRows")
      spark.conf.unset("graft.state.bucketFloor")
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("bucketTargets: the floor follows the session's parallelism, rounded up " +
    "to a power of two and capped at 32; graft.state.bucketFloor overrides it") {
    // The spec session is local[4].
    assert(spark.sparkContext.defaultParallelism == 4)
    assert(ScaleOps.bucketTargets(spark)._3 == 4)
    try {
      spark.conf.set("graft.state.bucketFloor", "16")
      assert(ScaleOps.bucketTargets(spark)._3 == 16, "the conf override must win")
    } finally spark.conf.unset("graft.state.bucketFloor")
    assert(ScaleOps.sessionFloor(6) == 8)
    assert(ScaleOps.sessionFloor(1) == 1)
    assert(ScaleOps.sessionFloor(32) == 32)
    assert(ScaleOps.sessionFloor(48) == 32)
    assert(ScaleOps.sessionFloor(256) == 32)
  }

  test("ensureBucketedDerived: a crash between the CTAS and the publish, or a " +
    "table without graft.stat, rebuilds to identical rows and graft.stat") {
    val t = "b_publish_crash"
    val cap = Some(KeyCap(2L, 4L, tail = true))
    val df = spark.range(300).selectExpr("id % 37 AS k", "id AS v")
    def props = org.apache.spark.sql.GraftShim.tableProperties(spark, t).get
    def contents = spark.table(t).collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    try {
      val (built, n) = ScaleOps.ensureBucketedDerived(spark, t, Seq("k"), "fp-A",
        cap = cap)(df)
      assert(built)
      val rows = contents
      val stat = props("graft.stat")
      // 37 keys of 8 or 9 rows: 4 · 300 div 37 = 32 binds.
      assert(stat == "32")
      // The crash window: the bucketed CTAS ran, the one ALTER TABLE that
      // publishes graft.src/layout/buckets/stat did not.
      ScaleOps.writeBucketedKeys(df, t, Seq("k"), n)
      assert(!props.contains("graft.src") && !props.contains("graft.stat"))
      val (rebuilt, n2) = ScaleOps.ensureBucketedDerived(spark, t, Seq("k"), "fp-A",
        cap = cap)(df)
      assert(rebuilt && n2 == n, "a table the publish never reached must rebuild")
      assert(contents == rows && props("graft.stat") == stat)
      // A published table that carries no graft.stat (a layout written
      // before caps were published with their state) never serves one.
      spark.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES ('graft.stat')")
      assert(ScaleOps.ensureBucketedDerived(spark, t, Seq("k"), "fp-A", cap = cap)(df)._1)
      assert(contents == rows && props("graft.stat") == stat)
      // An uncapped layout of the same state is a different contract.
      assert(ScaleOps.ensureBucketedDerived(spark, t, Seq("k"), "fp-A")(df)._1)
      assert(!props.contains("graft.stat"))
      assert(ScaleOps.ensureBucketedDerived(spark, t, Seq("k"), "fp-A", cap = cap)(df)._1)
      assert(contents == rows && props("graft.stat") == stat)
      // Fresh: no rebuild, the stat stays.
      assert(!ScaleOps.ensureBucketedDerived(spark, t, Seq("k"), "fp-A", cap = cap)(df)._1)
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("ensureBucketedKeys: a keys/sort layout change alone rebuilds " +
    "(graft.layout freshness, no fingerprint bump needed)") {
    val t = "b_layout_roll"
    try {
      val df = spark.range(50).selectExpr("id AS a", "id % 5 AS b", "id AS v")
      ScaleOps.ensureBucketedKeys(spark, t, Seq("a"), 2, "fp-X")(df)
      assert(spark.table(t).count() == 50)
      // Same fingerprint, different SORT columns: must rebuild — this
      // is exactly the r16 "|src,dst" class of change, now automatic.
      val built = ScaleOps.ensureBucketedKeys(spark, t, Seq("a"), 2, "fp-X",
        sortCols = Seq("a", "b"))(df)
      assert(built, "sort-column change must roll the layout contract")
      // And the new contract is then fresh.
      assert(!ScaleOps.ensureBucketedKeys(spark, t, Seq("a"), 2, "fp-X",
        sortCols = Seq("a", "b"))(df))
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("ensureBucketed*: a fresh table never builds the by-name frame; " +
    "a stale one does") {
    val t1 = "b_byname_one"; val t2 = "b_byname_keys"; val t3 = "b_byname_derived"
    def boom: org.apache.spark.sql.DataFrame =
      throw new IllegalStateException("state frame built for a fresh table")
    try {
      val df = spark.range(20).selectExpr("id AS k", "id % 3 AS v")
      assert(ScaleOps.ensureBucketedKeys(spark, t1, Seq("k"), 2, "fp-A")(df))
      assert(ScaleOps.ensureBucketedKeys(spark, t2, Seq("k", "v"), 2, "fp-A")(df))
      val (built, n) = ScaleOps.ensureBucketedDerived(spark, t3, Seq("k"), "fp-A")(df)
      assert(built)
      // Fresh: a catalog lookup answers, the frame argument is untouched.
      assert(!ScaleOps.ensureBucketedKeys(spark, t1, Seq("k"), 2, "fp-A")(boom))
      assert(!ScaleOps.ensureBucketedKeys(spark, t2, Seq("k", "v"), 2, "fp-A")(boom))
      assert(ScaleOps.ensureBucketedDerived(spark, t3, Seq("k"), "fp-A")(boom) ==
        ((false, n)))
      // Stale: the rebuild needs the frame, so it is evaluated.
      intercept[IllegalStateException](
        ScaleOps.ensureBucketedKeys(spark, t1, Seq("k"), 2, "fp-B")(boom))
      intercept[IllegalStateException](
        ScaleOps.ensureBucketedDerived(spark, t3, Seq("k"), "fp-B")(boom))
    } finally Seq(t1, t2, t3).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

    // The path layouts (sorted, partitioned, fragmented) keep the same
    // contract through their `_GRAFT_SRC` marker.
    val root = SparkSpec.tempDir("graft-byname").toFile
    try {
      val df = spark.range(20).selectExpr("id AS k", "id % 3 AS v")
      val sorted = new java.io.File(root, "sorted").toString
      val parted = new java.io.File(root, "parted").toString
      val frag = new java.io.File(root, "frag").toString
      assert(ScaleOps.ensureSortedBy(spark, sorted, "k", 2, "fp-A")(df))
      assert(ScaleOps.ensurePartitioned(spark, parted, "v", "fp-A")(df))
      assert(ScaleOps.ensureFragmented(spark, frag, 3, "fp-A")(df))
      assert(!ScaleOps.ensureSortedBy(spark, sorted, "k", 2, "fp-A")(boom))
      assert(!ScaleOps.ensurePartitioned(spark, parted, "v", "fp-A")(boom))
      assert(!ScaleOps.ensureFragmented(spark, frag, 3, "fp-A")(boom))
      intercept[IllegalStateException](
        ScaleOps.ensureSortedBy(spark, sorted, "k", 2, "fp-B")(boom))
      intercept[IllegalStateException](
        ScaleOps.ensurePartitioned(spark, parted, "v", "fp-B")(boom))
      intercept[IllegalStateException](
        ScaleOps.ensureFragmented(spark, frag, 3, "fp-B")(boom))
    } finally ScaleOps.deleteLocal(root)
  }

  test("deriveBucketCount: floors, power-of-two rounding, byte and row terms") {
    // Floor binds when the state is small.
    assert(ScaleOps.deriveBucketCount(1L << 20, 1000, 128L << 20, 8000000, 32) == 32)
    // Byte term: 1 GiB at 128 MiB target -> 8 -> floor still wins at 32.
    assert(ScaleOps.deriveBucketCount(1L << 30, 1000, 128L << 20, 8000000, 32) == 32)
    // 100 GiB at 128 MiB -> 800 -> 1024 (next power of two).
    assert(ScaleOps.deriveBucketCount(100L << 30, 1000, 128L << 20, 8000000, 32) == 1024)
    // Row term dominates when rows are wide of the byte estimate:
    // 100M rows / 8M target = 12.5 -> 13 -> next power of two from 4.
    assert(ScaleOps.deriveBucketCount(1L << 20, 100000000L, 128L << 20, 8000000, 4) == 16)
    // Empty state degrades to the floor, never zero.
    assert(ScaleOps.deriveBucketCount(0, 0, 128L << 20, 8000000, 32) == 32)
  }

  test("bucketed join plans with zero exchanges") {
    // Tables land in the default ./spark-warehouse (warehouse.dir is a
    // static conf); dropped in finally, dir is gitignored.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // Disable broadcast so the test exercises the co-located sort-merge
    // path a large-fact x large-fact join would take.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      ScaleOps.writeBucketedKeys(
        Tables.orders(spark, sf).select("o_orderkey", "o_totalprice"),
        "b_orders", Seq("o_orderkey"), 4)
      ScaleOps.writeBucketedKeys(
        Tables.lineitem(spark, sf)
          .select(col("l_orderkey").as("o_orderkey"), col("l_quantity")),
        "b_lineitem", Seq("o_orderkey"), 4)
      val joined = ScaleOps.bucketedJoin(spark, "b_orders", "b_lineitem", "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected no shuffle, got:\n$plan")
      // and it still computes the right thing
      val n = joined.count()
      val expected = Tables.lineitem(spark, sf)
        .join(Tables.orders(spark, sf),
          col("l_orderkey") === col("o_orderkey")).count()
      assert(n == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("ensureSurgicalDelete: untouched files byte-identical, cohort gone, idempotent") {
    import java.nio.file.{Files, Paths}
    val base = SparkSpec.tempDir("graft_surgical").toString
    val src = s"$base/src"; val dst = s"$base/dst"
    // 4 files range-clustered on k: cohort 25..29 lives in one file
    spark.range(0, 100).selectExpr("id AS k", "id * 2 AS v")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .write.parquet(src)
    val (rw, cp) = ScaleOps.ensureSurgicalDelete(spark, src, dst, "k", "fp1")(
      (25L to 29L).toSeq)
    assert(rw == 1 && cp == 3, s"expected 1 rewritten / 3 copied, got $rw/$cp")
    // survivors exact: everything but the cohort, values intact
    val got = spark.read.parquet(dst).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (0L until 100L).filterNot(k => k >= 25 && k <= 29)
      .map(k => (k, k * 2)).toSet
    assert(got == want)
    // untouched files are byte-identical copies (verbatim, not re-encoded)
    val srcFiles = new java.io.File(src).listFiles
      .filter(f => f.getName.endsWith(".parquet")).map(f => f.getName -> f).toMap
    val copied = new java.io.File(dst).listFiles
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("rw-"))
    assert(copied.length == 3)
    copied.foreach { f =>
      assert(java.util.Arrays.equals(
        Files.readAllBytes(f.toPath),
        Files.readAllBytes(srcFiles(f.getName).toPath)),
        s"${f.getName} was re-encoded, not copied")
    }
    // fresh fingerprint: second call is a no-op returning stored counts
    assert(ScaleOps.ensureSurgicalDelete(spark, src, dst, "k", "fp1")(
      sys.error("deleteKeys must not be evaluated on a fresh layout")) == ((1, 3)))
    // changed fingerprint: rebuilds (and re-evaluates the keys)
    assert(ScaleOps.ensureSurgicalDelete(spark, src, dst, "k", "fp2")(
      (25L to 29L).toSeq) == ((1, 3)))
    ScaleOps.deleteLocal(new java.io.File(base))
  }

  test("ensureSurgicalDelete: a footer-stats-less file ALWAYS rewrites " +
    "(it can hide any key, so it is never trusted)") {
    import java.nio.file.Files
    val base = SparkSpec.tempDir("graft_surgical_nostat").toString
    val src = s"$base/src"
    // Two range-clustered files WITH stats: keys 0..49 and 50..99.
    spark.range(0, 100).selectExpr("id AS k", "id * 2 AS v")
      .repartitionByRange(2, col("k")).sortWithinPartitions("k")
      .write.parquet(src)
    // Plus one file written WITHOUT column statistics (a foreign tool's
    // plain write), holding keys 200..219 — the layout contract breaker
    // the `case (_, None) => true` branch exists for.
    val staging = s"$base/nostat_staging"
    spark.range(200, 220).selectExpr("id AS k", "id * 2 AS v").coalesce(1)
      .write.option("parquet.column.statistics.enabled", "false")
      .option("compression", "none").parquet(staging)
    val part = new java.io.File(staging).listFiles
      .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
    Files.copy(part.toPath, new java.io.File(src, "nostat.parquet").toPath)
    // Fixture sanity: the injected file really reports NO key range —
    // if a parquet upgrade starts writing stats despite the option, this
    // fails here instead of silently testing the overlap branch.
    val noStat = ScaleOps.fileKeyRanges(src, "k")
      .find(_._1.getName == "nostat.parquet").get._2
    assert(noStat.isEmpty, s"injected file unexpectedly has stats: $noStat")
    // Delete a key that lives ONLY in the stats-less file: it must be
    // the one rewritten (and the key really gone — the post-delete
    // sanity REQUIRE inside the operator checks that), while both
    // stats-bearing files copy verbatim.
    val (rw, cp) = ScaleOps.ensureSurgicalDelete(spark, src, s"$base/dst1",
      "k", "fpA")(Seq(205L))
    assert(rw == 1 && cp == 2, s"expected 1 rewritten / 2 copied, got $rw/$cp")
    val got1 = spark.read.parquet(s"$base/dst1").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want1 = ((0L until 100L) ++ (200L until 220L)).filterNot(_ == 205L)
      .map(k => (k, k * 2)).toSet
    assert(got1 == want1)
    // Delete a key overlapping NO stated range: the stats-less file
    // STILL rewrites — stats absence means "could hide anything", and
    // skipping it on "no overlap" grounds is exactly the silent
    // retention bug the branch prevents.
    val (rw2, cp2) = ScaleOps.ensureSurgicalDelete(spark, src, s"$base/dst2",
      "k", "fpB")(Seq(99999L))
    assert(rw2 == 1 && cp2 == 2,
      s"a stats-less file must rewrite even with no range overlap, got $rw2/$cp2")
    assert(spark.read.parquet(s"$base/dst2").count() == 120)
    ScaleOps.deleteLocal(new java.io.File(base))
  }
}
