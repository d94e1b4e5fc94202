package graft.graph

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkSpec

class TrianglesSpec extends SparkSpec {
  import spark.implicits._

  private def ref(pairs: Set[(Long, Long)]): Map[Long, Long] = {
    val es = pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val nodes = es.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val tris = for {
      a <- nodes; b <- nodes if a < b && es((a, b))
      c <- nodes if b < c && es((b, c)) && es((a, c))
    } yield Seq(a, b, c)
    tris.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
  }

  test("K4 has 3 triangles per node; a square has none") {
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val got = Triangles.perNodeCounts(k4.toDF("id1", "id2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))

    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
    assert(Triangles.perNodeCounts(square.toDF("id1", "id2")).count() == 0)
  }

  test("property: degree-oriented counts == brute-force enumeration") {
    val gen = Gen.listOfN(30, for {
      a <- Gen.choose(1L, 10L); b <- Gen.choose(1L, 10L) if a != b
    } yield (math.min(a, b), math.max(a, b)))
    (1L to 8L).foreach { seed =>
      val pairs = gen.apply(Gen.Parameters.default, Seed(seed)).get.toSet
      val got = Triangles.perNodeCounts(pairs.toSeq.toDF("id1", "id2"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == ref(pairs), s"seed=$seed pairs=$pairs")
    }
  }

  test("property: incremental counts == full recount on arbitrary state/delta splits") {
    val gen = Gen.listOfN(40, for {
      a <- Gen.choose(1L, 12L); b <- Gen.choose(1L, 12L) if a != b
    } yield (math.min(a, b), math.max(a, b)))
    (1L to 6L).foreach { seed =>
      val all = gen.apply(Gen.Parameters.default, Seed(seed)).get.toSet
      // Arbitrary disjoint split — INCLUDING delta edges between two
      // state nodes (the general dEE case the corpus deployment never
      // produces), and with delta orientation scrambled to exercise the
      // canonicalization.
      val (state, delta0) = all.partition { case (a, b) => (a * 7 + b) % 3 != 0 }
      val delta = delta0.map { case (a, b) => if ((a + b) % 2 == 0) (b, a) else (a, b) }
      val stateAdj = PageRank.symmetrize(state.toSeq.toDF("id1", "id2"))
      val stateCounts = Triangles.perNodeCounts(state.toSeq.toDF("id1", "id2"))
      val got = Triangles.incrementalPerNodeCounts(
          stateAdj, delta.toSeq.toDF("id1", "id2"), stateCounts)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == ref(all), s"seed=$seed state=$state delta=$delta0")
    }
  }

  test("incremental with empty delta returns the state counts unchanged") {
    val k4 = (for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)).toDF("id1", "id2")
    val counts = Triangles.perNodeCounts(k4)
    val got = Triangles.incrementalPerNodeCounts(
        PageRank.symmetrize(k4), Seq.empty[(Long, Long)].toDF("id1", "id2"), counts)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("the delta closes carry sort-merge hints, never broadcast() " +
    "of an increment-derived frame") {
    // r15 banned the broadcast closes (a 12-33M-row candidate frame's
    // hash relation built single-threaded on the driver — a measured
    // 25 s all-cores-idle stall) and shipped shuffled-hash builds; r16
    // measured THOSE hitting Spark's unspillable per-task hash-build
    // wall at the 100x fixture (candEE ∝ delta × degree — increment-
    // DERIVED is not increment-sized). The closes must plan SORT-MERGE:
    // spillable at any density, state side still exchange-free on its
    // src bucketing. AQE may still downgrade a tiny candidate side to
    // broadcast at runtime, which is wanted — what must never return
    // is a PLANNED broadcast or a planned per-task hash build of the
    // candidate side.
    val k4 = (for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)).toDF("id1", "id2")
    val counts = Triangles.perNodeCounts(k4)
    val out = Triangles.incrementalPerNodeCounts(
      PageRank.symmetrize(k4), Seq((1L, 5L), (2L, 5L)).toDF("id1", "id2"), counts)
    val joins = out.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.hint
    }
    val smjSides = joins.count(h =>
      h.leftHint.exists(_.strategy.exists(_.toString.contains("merge"))) ||
        h.rightHint.exists(_.strategy.exists(_.toString.contains("merge"))))
    assert(smjSides >= 3,
      s"expected the three closes to carry merge hints, found $smjSides in $joins")
    val shjSides = joins.count(h =>
      h.leftHint.exists(_.strategy.exists(_.toString.contains("shuffle_hash"))) ||
        h.rightHint.exists(_.strategy.exists(_.toString.contains("shuffle_hash"))))
    assert(shjSides == 0,
      s"an unspillable shuffled-hash build is back in the delta closes: $joins")
    val broadcasts = joins.count(h =>
      h.leftHint.exists(_.strategy.exists(_.toString.toLowerCase.contains("broadcast"))) ||
        h.rightHint.exists(_.strategy.exists(_.toString.toLowerCase.contains("broadcast"))))
    assert(broadcasts == 0,
      s"a planned broadcast is back in the delta closes: $joins")
  }

  test("sorted bucketed edge+pair states enter the merge closes with no " +
    "state-side Sort and no state-side Exchange (and stay correct)") {
    // r17 layout: the adjacency is bucketed on src and sorted
    // (src, dst) with ONE file per bucket (candEE consumes the src
    // prefix ordering from the scan); the closes' canonical pair set
    // is a SECOND state bucketed+sorted on the composite (src, dst)
    // key — Spark's requireAllClusterKeysForCoPartition rejects
    // subset-key co-partitioning, so a src-bucketed frame re-shuffles
    // in full on every (src, dst)-keyed close (at 100× that was two
    // |E| = 33M-row shuffles + sorts per refresh). Broadcast disabled
    // so the closes actually plan SMJ at this toy size.
    val tAdj = "tri_edge_sorted_state"
    val tPair = "tri_pair_sorted_state"
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val stateEdges = (for {
        a <- 1L to 30L; b <- 1L to 30L
        if a < b && (a * 31 + b) % 5 < 2
      } yield (a, b)).toSet
      val delta = Set((1L, 31L), (2L, 31L), (3L, 32L)) ++
        (for { a <- 1L to 30L; b <- 1L to 30L
               if a < b && !stateEdges((a, b)) && (a * 13 + b) % 17 == 0
         } yield (a, b)).take(4)
      graft.ops.ScaleOps.ensureBucketedKeys(spark, tAdj, Seq("src"), 4, "fp-adj",
        sortCols = Seq("src", "dst"))(
        PageRank.symmetrize(stateEdges.toSeq.toDF("id1", "id2")))
      graft.ops.ScaleOps.ensureBucketedKeys(spark, tPair, Seq("src", "dst"), 4, "fp-pair")(
        spark.table(tAdj).filter($"src" < $"dst"))
      val counts = Triangles.perNodeCounts(stateEdges.toSeq.toDF("id1", "id2"))
      val out = Triangles.incrementalPerNodeCounts(
        spark.table(tAdj), spark.table(tPair),
        delta.toSeq.toDF("id1", "id2"), counts)
      val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == ref(stateEdges ++ delta))
      val plan = out.queryExecution.executedPlan
      for (t <- Seq(tAdj, tPair)) {
        graft.plans.PlanChecks.requireSortFreeBucketedScan(plan, t, t)
        // Exchange-free below the consuming join, for BOTH states —
        // checkFinalPlan's bucket-key watch would miss a composite-key
        // re-shuffle (it re-keys), so assert it directly here.
        graft.plans.PlanChecks.fileScanPaths(plan, t).foreach { case (_, path) =>
          val joinIdx = path.lastIndexWhere(
            _.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec])
          assert(joinIdx >= 0, s"no join consumes the $t scan")
          assert(!path.drop(joinIdx + 1).exists(
            _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]),
            s"$t re-shuffled into its close:\n${path.mkString("\n")}")
        }
      }
      graft.plans.PlanChecks.requireExchangeFreeBucketedProbe(plan, "graph state")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql(s"DROP TABLE IF EXISTS $tAdj")
      spark.sql(s"DROP TABLE IF EXISTS $tPair")
    }
  }

  test("a hub star with one closing edge yields exactly one triangle") {
    // hub 1 connected to 2..9, plus edge (2,3): only {1,2,3} closes.
    val star = (2L to 9L).map(1L -> _) :+ (2L, 3L)
    val got = Triangles.perNodeCounts(star.toDF("id1", "id2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }
}
