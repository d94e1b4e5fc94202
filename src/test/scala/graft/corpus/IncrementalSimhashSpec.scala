package graft.corpus

import graft.SparkSpec
import graft.dedup.{Dedup, StateProbe}
import org.apache.spark.sql.functions._

/** Incremental SimHash near-dup dedup against persisted Manku-key
  * state: verdicts must equal the full-corpus banded self-join
  * restricted to (state, increment) pairs whenever the bucket cap does
  * not bind — the invariant the registered oracle pins at corpus
  * scale, checked here on hand-shaped near-dup corpora. */
class IncrementalSimhashSpec extends SparkSpec {
  import spark.implicits._

  // Docs shaped so that some state/increment pairs sit within Hamming 3
  // (token-overlap near-dups), others far outside it.
  private val stateDocs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta"),
    (2L, "alpha beta gamma delta epsilon zeta eta iota"),
    (3L, "one two three four five six seven eight nine ten"),
    (4L, "completely different content about turtles and reefs"),
    (5L, "")).toDF("doc_id", "text")
  private val incDocs = Seq(
    (10L, "alpha beta gamma delta epsilon zeta eta theta"), // exact text of 1
    (11L, "one two three four five six seven eight nine eleven"),
    (12L, "unrelated crawl snippet with novel vocabulary entirely"),
    (13L, "")).toDF("doc_id", "text")

  private def stateKeys =
    Dedup.simhashMankuKeysMd5(
      Dedup.simhashMd5(stateDocs, "doc_id", "text"), "doc_id")

  test("verdicts equal full banded self-join restricted to cross pairs") {
    val got = Dedup.incrementalSimhashNearDups(
        incDocs, StateProbe.Frame(stateKeys), "doc_id", "text")
      .as[(Long, Boolean, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

    // brute-force expectation from the full pipeline over the union
    val cross = Dedup.simhashNearDupsMd5(stateDocs.union(incDocs), "doc_id", "text")
      .as[(Long, Long, Long)].collect()
      .filter { case (a, b, _) => a <= 5 && b >= 10 }
    val bestOf = cross.groupBy(_._2).map { case (inc, ps) =>
      val best = ps.minBy(p => (p._3, p._1))
      inc -> ((false, Some(best._1), Some(best._3)))
    }
    val expect = Seq(10L, 11L, 12L, 13L).map { id =>
      id -> bestOf.getOrElse(id, (true, None, None))
    }.toMap
    assert(got == expect)
    // the shape this family exists for: the exact-text doc matched, the
    // novel one was accepted
    assert(got(10L)._2.contains(1L) && got(10L)._3.contains(0L))
    assert(got(12L)._1)
  }

  test("bucket cap skips oversized state buckets (cap 0 accepts everything)") {
    val got = Dedup.incrementalSimhashNearDups(
        incDocs, StateProbe.Frame(stateKeys), "doc_id", "text", bucketCap = Some(0))
      .as[(Long, Boolean, Option[Long], Option[Long])].collect()
    assert(got.forall(_._2), "cap 0 must leave no probeable bucket")
    assert(got.length == 4)
  }

  test("native codegen signer is bit-identical to the aggregate twin") {
    // every simhash path (batch, state prep, streaming gate) signs with
    // the native SimHashMd5Packed expression; a drifting bit would
    // probe the wrong buckets and silently accept everything
    val all = stateDocs.union(incDocs)
    val native = Dedup.simhashMd5(all, "doc_id", "text")
      .as[(Long, Long, Long)].collect().toSet
    val agg = Dedup.simhashMd5Agg(all, "doc_id", "text")
      .as[(Long, Long, Long)].collect().toSet
    assert(native == agg)
    assert(native.exists(s => s._2 != 0L || s._3 != 0L))
    // tokenless docs sign (0, 0) on both paths
    assert(native.contains((5L, 0L, 0L)) && native.contains((13L, 0L, 0L)))
    // halves are non-negative 32-bit values (the md5-twin encoding)
    assert(native.forall(s => s._2 >= 0 && s._2 < (1L << 32) && s._3 >= 0 && s._3 < (1L << 32)))
  }

  test("Manku packing: 20 combos per doc, key fits under combo<<40") {
    val keys = stateKeys.filter(col("doc_id") === 1L)
      .select(col("mkey")).as[Long].collect()
    assert(keys.length == 20, "6-choose-3 combinations")
    assert(keys.distinct.length == 20)
    assert(keys.forall(k => (k >> 40) >= 0 && (k >> 40) < 20))
  }
}
