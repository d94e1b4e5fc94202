package graft.corpus

import graft.SparkSpec
import graft.dedup.{Dedup, StateProbe}
import org.apache.spark.sql.functions._

/** Incremental embedding-cosine near-dup against persisted sign-LSH
  * bucket state: verdicts must equal the full-corpus banded pipeline
  * restricted to (state, increment) pairs when the cap does not bind —
  * the oracle's invariant, pinned on hand-shaped vectors. */
class IncrementalCosineSpec extends SparkSpec {
  import spark.implicits._

  // 64-dim vectors: 1/2 nearly parallel (cosine ~1), 3 orthogonal-ish,
  // 4 zero-norm (must never pair, still gets a verdict row).
  private def vec(seed: Int): Seq[Float] =
    Seq.tabulate(64)(i => (math.sin(seed * 97 + i).toFloat))
  private val e1 = vec(1)
  private val e1b = e1.zipWithIndex.map { case (v, i) => if (i == 0) v + 0.01f else v }
  private val stateVecs = Seq(
    (1L, e1), (3L, vec(3)), (5L, vec(5))).toDF("vec_id", "embedding")
  private val incVecs = Seq(
    (10L, e1b),                      // near-parallel to state 1
    (11L, vec(11)),                  // unrelated
    (12L, Seq.fill(64)(0.0f))        // zero norm
  ).toDF("vec_id", "embedding")

  private def stateKeys =
    Dedup.cosineBucketKeys(stateVecs, "vec_id", "embedding")

  test("verdicts equal full banded pipeline restricted to cross pairs") {
    val got = Dedup.incrementalCosineNearDups(
        incVecs, stateVecs, StateProbe.Frame(stateKeys), "vec_id", "embedding", threshold = 0.3)
      .as[(Long, Boolean, Option[Long], Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

    val cross = Dedup.cosineNearDups(stateVecs.union(incVecs),
        "vec_id", "embedding", threshold = 0.3)
      .as[(Long, Long, Double)].collect()
      .filter { case (a, b, _) => a <= 5 && b >= 10 }
    val bestOf = cross.groupBy(_._2).map { case (inc, ps) =>
      val best = ps.maxBy(p => (p._3, -p._1))
      inc -> ((false, Some(best._1), Some(best._3)))
    }
    val expect = Seq(10L, 11L, 12L).map { id =>
      id -> bestOf.getOrElse(id, (true, None, None))
    }.toMap
    assert(got == expect)
    // the near-parallel pair matched; zero-norm got a verdict row, accepted
    assert(got(10L)._2.contains(1L))
    assert(got(12L)._1)
    assert(got.size == 3)
  }

  test("cap 0 accepts everything; packed key carries 0-based table") {
    val got = Dedup.incrementalCosineNearDups(
        incVecs, stateVecs, StateProbe.Frame(stateKeys), "vec_id", "embedding",
        threshold = 0.3, bucketCap = Some(0))
      .as[(Long, Boolean, Option[Long], Option[Double])].collect()
    assert(got.forall(_._2))
    val keys = stateKeys.filter(col("vec_id") === 1L)
      .select(col("tb_key")).as[Long].collect()
    assert(keys.length == 4, "one packed key per table")
    assert(keys.map(_ >> 32).sorted.toSeq == Seq(0L, 1L, 2L, 3L))
    assert(keys.forall(k => (k & 0xffffffffL) < 256), "8-plane bucket fits 8 bits")
  }

  test("per-row cosineTbKeys == state builder's cosineBucketKeys, key for key") {
    // The streaming gate derives its keys from cosineTbKeys; the state
    // is built by cosineBucketKeys. A drift in seed derivation, packing
    // or plane data would silently zero the probe's collisions — pinned
    // here as exact per-id key-set equality on nonzero-norm vectors.
    val perRow = stateVecs.union(incVecs)
      .filter(graft.similarity.Similarity.l2norm(col("embedding")) > 0)
      .select(col("vec_id"),
        explode(Dedup.cosineTbKeys(col("embedding"))).as("tb_key"))
      .as[(Long, Long)].collect().toSet
    val builder = Dedup.cosineBucketKeys(stateVecs.union(incVecs),
        "vec_id", "embedding")
      .as[(Long, Long)].collect().toSet
    assert(perRow == builder && perRow.nonEmpty)
  }
}
