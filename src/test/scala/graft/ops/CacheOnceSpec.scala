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

  test("swapTruncated: tagged generations share one LRU group and stay bounded") {
    // Fingerprints are the TAG (spec-gen, <fp>); eviction must count per
    // group or every generation is a singleton the per-group bound never
    // fires on (dead-generation leak on mid-session source regeneration).
    val frames = (0 to CacheOnce.maxPerNameTruncated).map { i =>
      CacheOnce.swapTruncated("spec-gen", s"123$i:456$i", Seq(i).toDF("x"))
    }
    // oldest generation evicted (its memo entry gone: a fresh request
    // under the same tagged name re-materializes a NEW frame) ...
    val again = CacheOnce.swapTruncated("spec-gen", "1230:4560", Seq(0).toDF("x"))
    assert(!(again eq frames.head), "oldest tagged generation not evicted")
    // ... while the newest generations memo-hit.
    val newest = CacheOnce.swapTruncated("spec-gen",
      s"123${CacheOnce.maxPerNameTruncated}:456${CacheOnce.maxPerNameTruncated}",
      Seq(CacheOnce.maxPerNameTruncated).toDF("x"))
    assert(newest eq frames.last)
    // another group is untouched by the sweep
    val solo = CacheOnce.swapTruncated("spec-gen-untagged", "", Seq(99).toDF("x"))
    assert(CacheOnce.swapTruncated("spec-gen-untagged", "", Seq(99).toDF("x")) eq solo)
    CacheOnce.release("spec-gen")
    CacheOnce.release("spec-gen-untagged")
  }

  test("release(group) frees every tag of a truncated group") {
    def a = Seq(1, 2).toDF("x")
    def b = Seq(3, 4).toDF("x")
    val ta = CacheOnce.swapTruncated("spec-rel", "gen-a", a)
    val tb = CacheOnce.swapTruncated("spec-rel", "gen-b", b)
    assert(CacheOnce.swapTruncated("spec-rel", "gen-a", a) eq ta)
    assert(CacheOnce.swapTruncated("spec-rel", "gen-b", b) eq tb)
    CacheOnce.release("spec-rel")
    // both generations left the memo: a fresh request re-materializes
    val ra = CacheOnce.swapTruncated("spec-rel", "gen-a", a)
    val rb = CacheOnce.swapTruncated("spec-rel", "gen-b", b)
    assert(!(ra eq ta), "release(group) kept the first tag")
    assert(!(rb eq tb), "release(group) kept the second tag")
    CacheOnce.release("spec-rel")
  }

  test("swapTruncated: leaf plan, memo hit on re-request, eager data") {
    val deep = Seq(1, 2, 3).toDF("x").filter($"x" > 1).select(($"x" * 2).as("y"))
    val t = CacheOnce.swapTruncated("spec-trunc", "", deep)
    // the WHOLE logical plan is one LogicalRDD leaf — the property every
    // downstream reference's analysis cost rides on
    assert(t.queryExecution.logical
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    assert(t.queryExecution.logical.children.isEmpty)
    // same (name, plan) re-requested returns the SAME truncated frame
    // without re-materializing
    val t2 = CacheOnce.swapTruncated("spec-trunc", "",
      Seq(1, 2, 3).toDF("x").filter($"x" > 1).select(($"x" * 2).as("y")))
    assert(t2 eq t)
    assert(t.as[Long].collect().sorted.toSeq == Seq(4L, 6L))
    CacheOnce.release("spec-trunc")
    // released: a fresh request re-materializes a NEW frame
    val t3 = CacheOnce.swapTruncated("spec-trunc", "", deep)
    assert(!(t3 eq t))
    CacheOnce.release("spec-trunc")
  }
}
