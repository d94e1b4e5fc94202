package graft.corpus

import graft.SparkSpec
import graft.dedup.Dedup

/** Connected-components cluster resolution over near-dup pair graphs. */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def components(pairs: Seq[(Long, Long)], maxIters: Int = 50,
                         gate: Long = 2L * 1000 * 1000) =
    Dedup.connectedComponents(pairs.toDF("id1", "id2"), maxIters = maxIters,
        driverCcMaxEdges = gate)
      .as[(Long, Long)].collect().toMap

  test("property: driver union-find fast path == distributed loop on random graphs") {
    // The size gate switches implementations; both must label every
    // component by its min node id. Adversarial shapes: chains (worst
    // case for naive union), stars, dense multi-merges, singletons-free
    // edge soups. gate=0 forces the loop; the default takes the fast
    // path for these sizes.
    val rnd = new scala.util.Random(7)
    (1 to 8).foreach { trial =>
      val n = 8 + rnd.nextInt(30)
      val pairs = (1 to (5 + rnd.nextInt(40))).map { _ =>
        val a = 1L + rnd.nextInt(n); val b = 1L + rnd.nextInt(n)
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      if (pairs.nonEmpty) {
        val fast = components(pairs)
        val loop = components(pairs, gate = 0L)
        assert(fast == loop, s"trial $trial: $pairs")
      }
    }
    // descending chain: every union attaches the existing root under a
    // smaller newcomer — the path-compression stress case
    val desc = (10L until 1L by -1L).map(i => (i - 1, i))
    assert(components(desc) == components(desc, gate = 0L))
  }

  test("chain merges transitively where greedy pair rules under-merge") {
    // (2,3) and (1,3): greedy drop-larger keeps both 1 and 2; CC puts
    // all three in cluster 1.
    val got = components(Seq((2L, 3L), (1L, 3L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("long chain needs diameter rounds, still converges to the min") {
    val chain = (1L until 10L).map(i => (i, i + 1))
    val got = components(chain)
    assert(got.values.toSet == Set(1L))
    assert(got.keySet == (1L to 10L).toSet)
  }

  test("separate components keep separate min labels; star resolves in one round") {
    val got = components(Seq((5L, 9L), (5L, 7L), (20L, 30L)))
    assert(got == Map(5L -> 5L, 9L -> 5L, 7L -> 5L, 20L -> 20L, 30L -> 20L))
  }

  test("non-convergence inside maxIters fails loudly") {
    val chain = (1L until 10L).map(i => (i, i + 1))
    intercept[IllegalArgumentException] {
      components(chain, maxIters = 2, gate = 0L) // gate=0: force the loop
    }
  }

  test("superseded rounds release persisted label generations") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val chain = (1L until 10L).map(i => (i, i + 1))
    assert(components(chain, gate = 0L).values.toSet == Set(1L))
    val leaked = sc.getPersistentRDDs.size - before
    // Final labels (+ nothing else) may still be pinned; the ~9 rounds
    // of a 10-node chain must not each leave a localCheckpoint behind.
    assert(leaked <= 1, s"$leaked persisted RDD generations leaked by the label loop")
  }

  test("superseded rounds delete their reliable-checkpoint files") {
    val sc = spark.sparkContext
    // A 10-node chain runs ~9 label rounds; without per-round cleanup
    // the checkpoint dir accumulates one rdd-* subdir per round.
    val ckptDir = SparkSpec.tempDir("graft_cc_ckpt")
    val hadCkpt = sc.getCheckpointDir
    sc.setCheckpointDir(ckptDir.toString)
    try {
      val chain = (1L until 10L).map(i => (i, i + 1))
      val got = components(chain, gate = 0L) // gate=0: force the loop
      assert(got.values.toSet == Set(1L))
      val rddDirs = Option(new java.io.File(sc.getCheckpointDir.get).listFiles())
        .toSeq.flatten.filter(_.getName.startsWith("rdd-"))
      // Only the FINAL labels generation (still referenced by the
      // returned frame) may remain on disk.
      assert(rddDirs.length <= 1,
        s"stale checkpoint generations left behind: ${rddDirs.map(_.getName).mkString(", ")}")
    } finally {
      hadCkpt.foreach(sc.setCheckpointDir)
    }
  }

  private def incr(state: Seq[(Long, Long)], pairs: Seq[(Long, Long)]) =
    Dedup.incrementalClusters(
      state.toDF("node", "cluster_id"), pairs.toDF("id1", "id2"))
      .as[(Long, Long)].collect().toMap

  test("incrementalClusters: chain of increment pairs merges two state clusters") {
    // state: {1,5} labeled 1, {10,20} labeled 10; increment doc 100
    // bridges them (5,100) + (100,20) -> everything is cluster 1, and
    // the result equals a full re-cluster over the combined pair graph.
    val state = Seq((1L, 1L), (5L, 1L), (10L, 10L), (20L, 10L))
    val got = incr(state, Seq((5L, 100L), (100L, 20L)))
    assert(got == Map(1L -> 1L, 5L -> 1L, 10L -> 1L, 20L -> 1L, 100L -> 1L))
    val full = components(Seq((1L, 5L), (10L, 20L), (5L, 100L), (100L, 20L)))
    assert(got == full)
  }

  test("incrementalClusters: untouched clusters keep their labels verbatim") {
    val state = Seq((1L, 1L), (5L, 1L), (10L, 10L), (20L, 10L))
    // increment touches only the {10,20} cluster via new doc 7 (smaller
    // than the old label -> the merged cluster relabels to 7)
    val got = incr(state, Seq((7L, 20L)))
    assert(got == Map(1L -> 1L, 5L -> 1L, 10L -> 7L, 20L -> 7L, 7L -> 7L))
  }

  test("incrementalClusters: pair inside one cluster is a no-op; new-new pair forms a cluster") {
    val state = Seq((1L, 1L), (5L, 1L))
    val got = incr(state, Seq((1L, 5L), (200L, 300L)))
    assert(got == Map(1L -> 1L, 5L -> 1L, 200L -> 200L, 300L -> 200L))
  }

  test("property: incremental merge == full re-cluster on random graphs and splits") {
    // For arbitrary pair graphs and arbitrary state/increment splits,
    // CC(state pairs) + incrementalClusters(increment pairs) must be
    // row-identical to CC(all pairs) restricted to the same node set —
    // the invariant the registered oracle checks at corpus scale,
    // pinned here on adversarial shapes (long chains, stars, multi-way
    // merges through new nodes). Deterministic seed.
    val rnd = new scala.util.Random(42)
    (1 to 6).foreach { trial =>
      val n = 12 + rnd.nextInt(10)
      val pairs = (1 to 25).map { _ =>
        val a = 1L + rnd.nextInt(n); val b = 1L + rnd.nextInt(n)
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      val (statePairs, incPairs) = pairs.partition(_ => rnd.nextBoolean())
      if (incPairs.nonEmpty) {
        val state =
          if (statePairs.nonEmpty) components(statePairs) else Map.empty[Long, Long]
        val got = incr(state.toSeq, incPairs)
        val fullAll = components(pairs)
        // full CC restricted to nodes the incremental result covers
        // (state nodes + increment-pair endpoints)
        val covered = state.keySet ++ incPairs.flatMap(p => Seq(p._1, p._2))
        val expect = fullAll.filter { case (k, _) => covered(k) }
        assert(got == expect, s"trial $trial: $statePairs | $incPairs")
      }
    }
  }
}
