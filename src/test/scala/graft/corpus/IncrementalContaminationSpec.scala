package graft.corpus

import graft.SparkSpec
import graft.dedup.{Dedup, StateProbe}
import org.apache.spark.sql.functions._

/** Incremental decontamination against a persisted test-suite shingle
  * index: verdicts must agree with the stateless bloom path's pair set
  * when the doc-frequency cap does not bind, and the cap must drop
  * boilerplate shingles without touching discriminative ones. */
class IncrementalContaminationSpec extends SparkSpec {
  import spark.implicits._

  private val testDocs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog tonight"),
    (3L, "completely unrelated benchmark question about turtles and reefs"),
    (5L, "boiler plate run boiler plate run boiler plate run")).toDF("doc_id", "text")
  private val incDocs = Seq(
    (10L, "the quick brown fox jumps over the lazy dog tonight indeed"), // contaminated by 1
    (11L, "novel crawl content sharing nothing with the suite at all"),
    (12L, "")).toDF("doc_id", "text")

  private def index = testDocs.select(col("doc_id").as("test_id"),
    explode(Dedup.distinctShingles(col("text"), 3)).as("shingle"))

  test("verdicts agree with the stateless bloom pair set (cap unbound)") {
    val got = Dedup.incrementalContamination(incDocs, StateProbe.Frame(index), "doc_id", "text")
      .as[(Long, Boolean, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

    val pairs = Dedup.bloomContamination(incDocs, testDocs, "doc_id", "text",
        shingleN = 3, minShared = 3)
      .as[(Long, Long, Long)].collect() // (train=inc, test, n_shared)
    val bestOf = pairs.groupBy(_._1).map { case (inc, ps) =>
      val best = ps.maxBy(p => (p._3, -p._2))
      inc -> ((true, Some(best._2), Some(best._3)))
    }
    val expect = Seq(10L, 11L, 12L).map { id =>
      id -> bestOf.getOrElse(id, (false, None, None))
    }.toMap
    assert(got == expect)
    assert(got(10L)._2.contains(1L), "contamination witness missed")
    assert(!got(11L)._1 && !got(12L)._1)
  }

  test("df cap drops boilerplate shingles, keeps discriminative ones") {
    // every test doc shares the shingle universe? No: make the cap bind
    // on a shingle present in ALL test docs by constructing a hot index
    val hot = Seq(
      (1L, "alpha beta gamma one"), (3L, "alpha beta gamma two"),
      (5L, "alpha beta gamma three"), (7L, "alpha beta gamma four"))
      .toDF("doc_id", "text")
      .select(col("doc_id").as("test_id"),
        explode(Dedup.distinctShingles(col("text"), 3)).as("shingle"))
    // 'alpha beta gamma' has df 4; the per-doc tails have df 1
    val inc = Seq((20L, "alpha beta gamma one")).toDF("doc_id", "text")
    val capped = Dedup.incrementalContamination(inc, StateProbe.Frame(hot), "doc_id", "text",
        minShared = 2, cap = Some(StateProbe.Windowed(1)))
      .as[(Long, Boolean, Option[Long], Option[Long])].collect()
    // with the hot shingle dropped only 'beta gamma one'/'gamma one'-
    // class df-1 shingles remain -> fewer shared than uncapped
    val uncapped = Dedup.incrementalContamination(inc, StateProbe.Frame(hot), "doc_id", "text",
        minShared = 2, cap = None)
      .as[(Long, Boolean, Option[Long], Option[Long])].collect()
    assert(uncapped.head._2, "uncapped must flag the exact copy")
    assert(capped.head._4.getOrElse(0L) <= uncapped.head._4.getOrElse(0L),
      "cap can only reduce shared counts")
  }

  test("persisted-df + bloom probe == windowed probe, verdict for verdict") {
    // The operational shape: df stored in the index at build time (cap
    // becomes a scan predicate) and a bloom over the capped shingle set
    // prefiltering the increment. Must be indistinguishable from the
    // windowed-cap reference — bloom has no false negatives and stored
    // df == windowed df over the same index.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("shingle")
    val idxDf = index.withColumn("df", count(lit(1)).over(w))
    for (cap <- Seq(1, 2, 100)) {
      val keys = idxDf.filter(col("df") <= cap).select("shingle").distinct()
      val bf = keys.stat.bloomFilter("shingle", math.max(keys.count(), 1L), 0.01)
      val viaState = Dedup.incrementalContamination(incDocs, StateProbe.Frame(idxDf), "doc_id",
          "text", cap = Some(StateProbe.SizeColumn("df", cap)), bloom = Some((bf, cap)))
        .as[(Long, Boolean, Option[Long], Option[Long])].collect().sortBy(_._1).toSeq
      val viaWindow = Dedup.incrementalContamination(incDocs, StateProbe.Frame(index), "doc_id",
          "text", cap = Some(StateProbe.Windowed(cap)))
        .as[(Long, Boolean, Option[Long], Option[Long])].collect().sortBy(_._1).toSeq
      assert(viaState == viaWindow, s"divergence at cap=$cap")
    }
  }

  test("bloom built at a tighter cap than the probe's is rejected") {
    // A bloom built over the df<=1 index paired with a df<=2 probe cap
    // (or an uncapped probe) would silently MISS contamination on
    // shingles with df == 2 — the library must refuse the pairing, not
    // trust caller convention.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("shingle")
    val idxDf = index.withColumn("df", count(lit(1)).over(w))
    val keys = idxDf.filter(col("df") <= 1).select("shingle").distinct()
    val bf = keys.stat.bloomFilter("shingle", math.max(keys.count(), 1L), 0.01)
    val e1 = intercept[IllegalArgumentException] {
      Dedup.incrementalContamination(incDocs, StateProbe.Frame(idxDf), "doc_id", "text",
        cap = Some(StateProbe.SizeColumn("df", 2)), bloom = Some((bf, 1)))
    }
    assert(e1.getMessage.contains("FALSE NEGATIVES"))
    val e2 = intercept[IllegalArgumentException] {
      Dedup.incrementalContamination(incDocs, StateProbe.Frame(idxDf), "doc_id", "text",
        cap = None, bloom = Some((bf, 1)))
    }
    assert(e2.getMessage.contains("bloom"))
    // Equal caps (and a LOOSER bloom) are fine.
    Dedup.incrementalContamination(incDocs, StateProbe.Frame(idxDf), "doc_id", "text",
      cap = Some(StateProbe.SizeColumn("df", 1)), bloom = Some((bf, 1))).count()
  }
}
