package graft.ops

import org.apache.spark.storage.StorageLevel
import graft.SparkSpec

class CacheOnceSpec extends SparkSpec {
  import spark.implicits._

  test("interleaved swaps over different inputs both keep their caches") {
    val a = Seq(1, 2, 3).toDF("x").filter($"x" > 0)
    val b = Seq(4, 5).toDF("x").filter($"x" > 4)
    val ca = CacheOnce.swap("spec-corpus", a)
    val cb = CacheOnce.swap("spec-corpus", b)
    assert(ca.storageLevel != StorageLevel.NONE, "first corpus evicted by second")
    assert(cb.storageLevel != StorageLevel.NONE)
    // the same plan re-requested returns the SAME persisted frame
    val ca2 = CacheOnce.swap("spec-corpus", Seq(1, 2, 3).toDF("x").filter($"x" > 0))
    assert(ca2 eq ca)
    CacheOnce.release("spec-corpus")
    assert(ca.storageLevel == StorageLevel.NONE)
    assert(cb.storageLevel == StorageLevel.NONE)
  }

  test("GraftSession.configure applies the documented deployment confs") {
    val b = org.apache.spark.sql.SparkSession.builder().master("local[2]")
    val s = graft.GraftSession.configure(b, 2).getOrCreate()
    // getOrCreate returns the existing test session but applies configs
    // to it; assert the knobs landed where not static.
    assert(s.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(s.conf.get("spark.sql.files.maxPartitionBytes") == "268435456")
    // restore the suite's shuffle-partition setting
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("per-name entries are bounded: oldest evicted beyond maxPerName") {
    val frames = (0 to CacheOnce.maxPerName).map(i =>
      CacheOnce.swap("spec-bound", Seq(i).toDF("x")))
    assert(frames.head.storageLevel == StorageLevel.NONE, "oldest not evicted")
    frames.tail.foreach(f => assert(f.storageLevel != StorageLevel.NONE))
    CacheOnce.release("spec-bound")
  }

  test("swapTruncated: generations share one LRU group and stay bounded") {
    // One group, maxPerNameTruncated + 1 distinct frames: eviction must
    // count per group, or a source regenerated mid-session leaks every
    // dead generation.
    val frames = (0 to CacheOnce.maxPerNameTruncated).map { i =>
      CacheOnce.swapTruncated("spec-gen", Seq(i).toDF("x"))
    }
    // oldest generation evicted (its memo entry gone: a fresh request
    // for the same frame re-materializes a NEW one) ...
    val again = CacheOnce.swapTruncated("spec-gen", Seq(0).toDF("x"))
    assert(!(again eq frames.head), "oldest generation not evicted")
    // ... while the newest generations memo-hit.
    val newest = CacheOnce.swapTruncated("spec-gen",
      Seq(CacheOnce.maxPerNameTruncated).toDF("x"))
    assert(newest eq frames.last)
    // another group is untouched by the sweep
    val solo = CacheOnce.swapTruncated("spec-gen-other", Seq(99).toDF("x"))
    assert(CacheOnce.swapTruncated("spec-gen-other", Seq(99).toDF("x")) eq solo)
    CacheOnce.release("spec-gen")
    CacheOnce.release("spec-gen-other")
  }

  test("release(group) frees every generation of a truncated group") {
    def a = Seq(1, 2).toDF("x")
    def b = Seq(3, 4).toDF("x")
    val ta = CacheOnce.swapTruncated("spec-rel", a)
    val tb = CacheOnce.swapTruncated("spec-rel", b)
    assert(CacheOnce.swapTruncated("spec-rel", a) eq ta)
    assert(CacheOnce.swapTruncated("spec-rel", b) eq tb)
    CacheOnce.release("spec-rel")
    // both generations left the memo: a fresh request re-materializes
    val ra = CacheOnce.swapTruncated("spec-rel", a)
    val rb = CacheOnce.swapTruncated("spec-rel", b)
    assert(!(ra eq ta), "release(group) kept the first generation")
    assert(!(rb eq tb), "release(group) kept the second generation")
    CacheOnce.release("spec-rel")
  }

  test("swapTruncated: leaf plan, memo hit on re-request, eager data") {
    val deep = Seq(1, 2, 3).toDF("x").filter($"x" > 1).select(($"x" * 2).as("y"))
    val t = CacheOnce.swapTruncated("spec-trunc", deep)
    // the WHOLE logical plan is one LogicalRDD leaf — the property every
    // downstream reference's analysis cost rides on
    assert(t.queryExecution.logical
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    assert(t.queryExecution.logical.children.isEmpty)
    // same (name, plan) re-requested returns the SAME truncated frame
    // without re-materializing
    val t2 = CacheOnce.swapTruncated("spec-trunc",
      Seq(1, 2, 3).toDF("x").filter($"x" > 1).select(($"x" * 2).as("y")))
    assert(t2 eq t)
    assert(t.as[Long].collect().sorted.toSeq == Seq(4L, 6L))
    CacheOnce.release("spec-trunc")
    // released: a fresh request re-materializes a NEW frame
    val t3 = CacheOnce.swapTruncated("spec-trunc", deep)
    assert(!(t3 eq t))
    CacheOnce.release("spec-trunc")
  }

  private def ints(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    df.as[Int].collect().sorted.toSeq

  test("a parquet path rewritten in place misses and returns the new rows") {
    val p = SparkSpec.tempDir("graft-cache-rewrite").resolve("t.parquet").toString
    Seq(1, 2).toDF("x").write.parquet(p)
    def hash = spark.read.parquet(p).queryExecution.analyzed.semanticHash()
    val hashBefore = hash
    val before = CacheOnce.swapTruncated("spec-rewrite", spark.read.parquet(p))
    assert(ints(before) == Seq(1, 2))
    Seq(3, 4, 5).toDF("x").write.mode("overwrite").parquet(p)
    // same path, same plan, same semantic hash: only the files moved
    assert(hash == hashBefore)
    val after = CacheOnce.swapTruncated("spec-rewrite", spark.read.parquet(p))
    assert(!(after eq before), "a rewritten path hit the old generation")
    assert(ints(after) == Seq(3, 4, 5))
    CacheOnce.release("spec-rewrite")
  }

  test("a bucketed table rebuilt under a new fingerprint misses") {
    // `src` stands for the source file a state is derived from; it does
    // not change while the state table is rebuilt under its name.
    val dir = SparkSpec.tempDir("graft-cache-bucketed")
    val src = dir.resolve("src.parquet").toString
    Seq(7).toDF("x").write.parquet(src)
    val srcBefore = Generation.of(src)
    val table = "graft_spec_cacheonce_bucketed"
    try {
      ScaleOps.ensureBucketedKeys(spark, table, Seq("x"), 2, "gen-1")(Seq(1, 2).toDF("x"))
      val before = CacheOnce.swapTruncated("spec-bucketed", spark.table(table))
      assert(ints(before) == Seq(1, 2))
      ScaleOps.ensureBucketedKeys(spark, table, Seq("x"), 2, "gen-2")(Seq(3, 4, 5).toDF("x"))
      assert(Generation.of(src) == srcBefore)
      val after = CacheOnce.swapTruncated("spec-bucketed", spark.table(table))
      assert(!(after eq before), "a rebuilt table hit the old generation")
      assert(ints(after) == Seq(3, 4, 5))
    } finally {
      CacheOnce.release("spec-bucketed")
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("an unchanged generation is an eq hit") {
    val p = SparkSpec.tempDir("graft-cache-same").resolve("t.parquet").toString
    Seq(1, 2).toDF("x").write.parquet(p)
    // every read lists the path afresh; the listing is the same
    val first = CacheOnce.swapTruncated("spec-same", spark.read.parquet(p))
    assert(CacheOnce.swapTruncated("spec-same", spark.read.parquet(p)) eq first)
    val persisted = CacheOnce.swap("spec-same", spark.read.parquet(p))
    assert(CacheOnce.swap("spec-same", spark.read.parquet(p)) eq persisted)
    CacheOnce.release("spec-same")
  }

  test("value builds once per generation, again after a rewrite, bounded") {
    val p = SparkSpec.tempDir("graft-cache-value").resolve("t.parquet").toString
    Seq(1, 2).toDF("x").write.parquet(p)
    var builds = 0
    def sum(): Int = {
      val df = spark.read.parquet(p)
      CacheOnce.value("spec-value", df) { builds += 1; ints(df).sum }
    }
    assert(sum() == 3 && sum() == 3)
    assert(builds == 1, "an unchanged generation rebuilt its value")
    Seq(10, 20).toDF("x").write.mode("overwrite").parquet(p)
    assert(sum() == 30 && sum() == 30)
    assert(builds == 2, "a rewrite did not rebuild the value exactly once")
    // maxPerName + 1 distinct frames in one group: the oldest is evicted
    // (rebuilt on request), the newest still hits
    var built = Seq.empty[Int]
    def v(i: Int): Int = CacheOnce.value("spec-value-bound", Seq(i).toDF("x")) {
      built :+= i; i
    }
    (0 to CacheOnce.maxPerName).foreach(v)
    assert(v(CacheOnce.maxPerName) == CacheOnce.maxPerName)
    assert(v(0) == 0)
    assert(built == (0 to CacheOnce.maxPerName) :+ 0)
    CacheOnce.release("spec-value")
    CacheOnce.release("spec-value-bound")
  }
}
