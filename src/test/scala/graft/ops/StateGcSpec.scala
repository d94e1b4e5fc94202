package graft.ops

import java.nio.file.Files
import graft.SparkSpec

/** State-generation GC: the verdict-16 contract — two fingerprints, a
  * live probe after every destructive pass, table AND layout kinds, and
  * the dry-run reporting shape. The spec family prefix `graft_specgc_`
  * scopes every sweep away from the real state families sharing the
  * test warehouse. */
class StateGcSpec extends SparkSpec {

  test("fingerprint key matching accepts exact/params/options forms only") {
    val fps = Set("10:111", "20:222")
    assert(StateGc.fpMatches("10:111", fps))
    assert(StateGc.fpMatches("10:111:tz=AWST,v=3", fps))      // staging params form
    assert(StateGc.fpMatches("20:222|parquet.block.size=1048576", fps)) // options form
    assert(!StateGc.fpMatches("10:112", fps))                 // rolled mtime
    assert(!StateGc.fpMatches("10:1110", fps))                // no bare-prefix match
    assert(!StateGc.fpMatches("30:333", fps))
  }

  test("GC keeps live generations, drops stale (second fingerprint) and dead ones") {
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val src = SparkSpec.tempDir("gcsrc")
    val fpFile = src.resolve("state.bin")
    Files.write(fpFile, "v1".getBytes)
    val f1 = Generation.of(fpFile.toString)
    val tag = PersistedState.tagOf(src.toString)
    val tbl = s"graft_specgc_tbl_$tag"
    val lay = new java.io.File(wh, s"graft_specgc_lay_$tag").toString
    ScaleOps.ensureBucketedKeys(spark, tbl, Seq("id"), 2, f1)(spark.range(10).toDF("id"))
    ScaleOps.ensureSortedBy(spark, lay, "id", 1, f1 + ":p=1")(spark.range(5).toDF("id"))

    // Dry run against the live source: everything reports keep, nothing
    // is touched.
    val dry = StateGc.run(spark, wh, Seq(src.toString), "graft_specgc_").collect()
    assert(dry.length == 2 && dry.forall(_.getString(5) == "keep"))
    assert(dry.forall(r => r.getBoolean(2) && r.getBoolean(3) && r.getLong(4) > 0))
    assert(dry.map(_.getString(1)).sorted.toSeq == Seq("layout", "table"))

    // Destructive pass against the live source: still keep — and the
    // live probe: both generations read back intact.
    val live = StateGc.run(spark, wh, Seq(src.toString), "graft_specgc_",
      dryRun = false).collect()
    assert(live.forall(_.getString(5) == "keep"))
    assert(spark.table(tbl).count() == 10)
    assert(spark.read.parquet(lay).count() == 5)

    // Second fingerprint: the source file rolls (len AND mtime change),
    // so both generations are stale under a still-live tag — dropped.
    Thread.sleep(5)
    Files.write(fpFile, "v2-longer".getBytes)
    val stale = StateGc.run(spark, wh, Seq(src.toString), "graft_specgc_",
      dryRun = false).collect()
    assert(stale.length == 2 && stale.forall(_.getString(5) == "drop"))
    assert(stale.forall(r => r.getBoolean(2) && !r.getBoolean(3)))
    assert(!spark.catalog.tableExists(tbl))
    assert(!new java.io.File(lay).exists())

    // Dead source: rebuild under the new fingerprint, then GC with no
    // live dirs at all — tag_live false, dropped.
    val f2 = Generation.of(fpFile.toString)
    ScaleOps.ensureBucketedKeys(spark, tbl, Seq("id"), 2, f2)(spark.range(3).toDF("id"))
    val dead = StateGc.run(spark, wh, Seq.empty, "graft_specgc_",
      dryRun = false).collect()
    assert(dead.length == 1 && !dead.head.getBoolean(2) &&
      dead.head.getString(5) == "drop")
    assert(!spark.catalog.tableExists(tbl))
  }

  test("gate lineages (graft_st_<gate>_<tag>, len:mtime|... marker): kept " +
    "while the source is live, would_drop once it is retired") {
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val live = SparkSpec.tempDir("gcgate_live")
    val gone = SparkSpec.tempDir("gcgate_gone")
    Seq(live, gone).foreach(d => Files.write(d.resolve("documents.parquet"), "docs".getBytes))
    val tbl = "graft_specgc_gate_state"
    ScaleOps.ensureBucketedKeys(spark, tbl, Seq("id"), 2,
      Generation.of(live.resolve("documents.parquet").toString))(
      spark.range(4).toDF("id"))
    def lineage(src: java.nio.file.Path): String = {
      val base = PersistedState("st_specgc_probe", Seq("documents.parquet"))
        .path(spark, src.toString)
      Generation.resetIfStale(base,
        graft.streaming.GateLineage.probeFingerprint(spark,
          src.resolve("documents.parquet").toString, tbl, "v1;cap=none"))
      base
    }
    val kept = lineage(live)
    val retired = lineage(gone)
    try {
      ScaleOps.deleteLocal(gone.toFile)
      val r = StateGc.run(spark, wh, Seq(live.toString), "graft_st_specgc_")
        .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(5))).toMap
      val name = (p: String) => new java.io.File(p).getName
      assert(r == Map(name(kept) -> ("layout", "keep"),
        name(retired) -> ("layout", "would_drop")), s"gate lineage audit: $r")
      assert(new java.io.File(retired).isDirectory, "a dry run must not delete")
    } finally {
      Seq(kept, retired).foreach(p => ScaleOps.deleteLocal(new java.io.File(p)))
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  test("a staging dropped because its source was rewritten leaves no .lock") {
    val wh = PersistedState.warehouse(spark)
    val src = SparkSpec.tempDir("gcstage")
    Files.write(src.resolve("events.parquet"), "v1".getBytes)
    val d = src.toString
    val stage = PersistedState("stage_specgc_lock", Seq("events.parquet"))
    val dir = graft.streaming.LateArrivals.stageBatchesCached(spark, stage, d, ":p")(
      Seq(spark.range(3).toDF("id")))
    val lock = dir.resolveSibling(dir.getFileName.toString + ".lock")
    try {
      assert(Files.exists(lock), s"the staging keeps no lock at $lock")
      Thread.sleep(5)
      Files.write(src.resolve("events.parquet"), "v2-longer".getBytes)
      val r = StateGc.run(spark, wh, Seq(d), "graft_stage_specgc_", dryRun = false)
        .collect().map(r => r.getString(0) -> r.getString(5)).toSeq
      assert(r == Seq(stage.name(d) -> "drop"), s"staging audit: $r")
      assert(!Files.exists(dir), "the stale staging was not dropped")
      assert(!Files.exists(lock), s"the dropped staging left $lock")
    } finally {
      ScaleOps.deleteLocal(dir.toFile)
      Files.deleteIfExists(lock)
    }
  }

  test("a generation built through each PersistedState descriptor is kept " +
    "while its source is live and would_drop once the source is rewritten") {
    val wh = PersistedState.warehouse(spark)
    val src = SparkSpec.tempDir("gcdesc")
    val files = PersistedState.all.flatMap(_.sources).distinct
    files.foreach(f => Files.write(src.resolve(f), "v1".getBytes))
    val d = src.toString
    val tag = PersistedState.tagOf(d)
    val bucketed = Set(PersistedState.DedupState, PersistedState.LshState,
      PersistedState.ErKeys, PersistedState.LineitemBuckets)
    def frame = spark.range(4).selectExpr("id", "id % 2 AS part")
    def audit(): Map[String, String] =
      StateGc.run(spark, wh, Seq(d), "graft_").collect()
        .filter(_.getString(0).endsWith("_" + tag))
        .map(r => r.getString(0) -> r.getString(5)).toMap
    try {
      PersistedState.all.foreach {
        case st if bucketed(st) => st.bucketed(spark, d, Seq("id"))(frame)
        case st if st == PersistedState.EventsPartitioned =>
          st.partitioned(spark, d, "part")(frame)
        case st if st == PersistedState.EventsFragmented =>
          st.fragmented(spark, d, 2)(frame)
        case st => st.sorted(spark, d, "id")(frame)
      }
      val names = PersistedState.all.map(_.name(d)).toSet
      val live = audit()
      assert(live.keySet == names, s"generations missing from the audit: ${names -- live.keySet}")
      assert(live.values.forall(_ == "keep"), s"live generations not kept: $live")
      // Rewrite every source (new length and mtime): every generation is
      // now stale under its still-live tag.
      Thread.sleep(5)
      files.foreach(f => Files.write(src.resolve(f), "v2-longer".getBytes))
      val rolled = audit()
      assert(rolled.keySet == names && rolled.values.forall(_ == "would_drop"),
        s"stale generations not reported droppable: $rolled")
    } finally {
      PersistedState.all.foreach { st =>
        spark.sql(s"DROP TABLE IF EXISTS `${st.name(d)}`")
        val p = new java.io.File(st.path(spark, d))
        if (p.exists()) ScaleOps.deleteLocal(p)
      }
      ScaleOps.deleteLocal(src.toFile)
    }
  }

  test("unfingerprinted generation under a live tag is kept (conservative)") {
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val src = SparkSpec.tempDir("gcsrc2")
    Files.write(src.resolve("x.bin"), "x".getBytes)
    val tag = PersistedState.tagOf(src.toString)
    val dir = new java.io.File(wh, s"graft_specgc_nofp_$tag").toString
    spark.range(2).toDF("id").coalesce(1).write.mode("overwrite").parquet(dir)
    val r = StateGc.run(spark, wh, Seq(src.toString), "graft_specgc_",
      dryRun = false).collect()
    assert(r.length == 1 && r.head.getString(5) == "keep")
    assert(spark.read.parquet(dir).count() == 2)
    // and the same generation with the source gone is reclaimed
    val r2 = StateGc.run(spark, wh, Seq.empty, "graft_specgc_", dryRun = false).collect()
    assert(r2.length == 1 && r2.head.getString(5) == "drop")
  }

  test("colliding lossy tags: a generation serving the SHADOWED dir " +
    "survives a destructive pass (fingerprints union per tag)") {
    // The tag rule is lossy: "<base>/gc a" and "<base>/gc_a" both render to
    // tag "..._gc_a". Before r17 liveDirs.toMap kept ONE dir's
    // fingerprints per tag, so a live generation keyed to the shadowed
    // dir's fingerprint was dropped as stale — GC deleting a
    // live-serving generation, the one failure it must never have.
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val base = SparkSpec.tempDir("gccollide")
    val dirA = base.resolve("gc a"); Files.createDirectory(dirA)
    val dirB = base.resolve("gc_a"); Files.createDirectory(dirB)
    Files.write(dirA.resolve("a.bin"), "aaaa".getBytes)
    Thread.sleep(5) // distinct mtimes → distinct fingerprints
    Files.write(dirB.resolve("b.bin"), "bb-longer".getBytes)
    val tagA = PersistedState.tagOf(dirA.toString)
    assert(tagA == PersistedState.tagOf(dirB.toString), "fixture must collide")
    val fpB = Generation.of(dirB.resolve("b.bin").toString)
    val gen = new java.io.File(wh, s"graft_specgc_collide_$tagA").toString
    try {
      // Generation keyed to dir B's fingerprint; both dirs declared live
      // (dir A listed FIRST, the order that used to shadow B's fps).
      ScaleOps.ensureSortedBy(spark, gen, "id", 1, fpB)(spark.range(4).toDF("id"))
      val r = StateGc.run(spark, wh, Seq(dirA.toString, dirB.toString),
        "graft_specgc_", dryRun = false).collect()
      assert(r.length == 1 && r.head.getString(5) == "keep",
        s"live-serving generation dropped under tag collision: ${r.toSeq}")
      assert(spark.read.parquet(gen).count() == 4)
    } finally {
      val d = new java.io.File(gen)
      if (d.exists()) ScaleOps.deleteLocal(d)
    }
  }

  test("concurrent demo audits sharing one warehouse do not clobber each " +
    "other (per-session family suffix — ADVICE r17)") {
    // Two sessions, interleaved destructive demoAudit cycles. Before the
    // per-session suffix, session B's scorched-earth pre-clean could
    // delete session A's freshly built live generation between build and
    // the post-GC probe — demoAudit's own require would then fail
    // spuriously. With the suffix each session sweeps only its own
    // family, so both must settle to the canonical 3-row report on
    // every iteration.
    val sf = "/root/testdata/sf0.001"
    val s2 = spark.newSession()
    val expected = Set(("dead", "drop"), ("live", "keep"), ("stale", "drop"))
    val ex = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val tasks = Seq(spark, s2).map { s =>
        ex.submit(new java.util.concurrent.Callable[Seq[Set[(String, String)]]] {
          def call(): Seq[Set[(String, String)]] = (1 to 3).map { _ =>
            StateGc.demoAudit(s, sf).collect()
              .map(r => (r.getString(0), r.getString(2))).toSet
          }
        })
      }
      tasks.foreach { t =>
        val reports = t.get(300, java.util.concurrent.TimeUnit.SECONDS)
        reports.foreach(r => assert(r == expected, s"clobbered report: $r"))
      }
    } finally { ex.shutdownNow(); () }
  }
}
