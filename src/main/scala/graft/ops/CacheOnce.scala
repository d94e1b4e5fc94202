package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Keyed persist-with-replacement for computed intermediates that a
  * downstream plan references more than once (a feature table feeding an
  * ANN search, the exploded shingle set feeding both MinHash stages).
  *
  * `persist()` entries live in the session CacheManager until explicitly
  * released — the ContextCleaner never reclaims them — so a library
  * function that persists on every call leaks its heaviest intermediate
  * for the session lifetime. `swap` bounds that: entries are keyed by
  * (name, SEMANTIC HASH of the analyzed plan), so
  *  - the same input re-requested returns the already-persisted frame
  *    (no duplicate cache, no mid-job unpersist of a frame an earlier
  *    caller still references lazily), and
  *  - two interleaved calls over DIFFERENT corpora each keep their own
  *    cache instead of evicting each other (a silent 2x read regression
  *    exactly where caching mattered).
  * Only when a name accumulates more than `maxPerName` distinct plans is
  * the oldest evicted (LRU) — the bound that keeps a long session from
  * pinning every corpus it ever touched. At cluster scale the same seam
  * is where a parquet checkpoint goes. */
object CacheOnce {
  val maxPerName = 4

  /** Separate (higher) bound for the TRUNCATED map: one group there is
    * legitimately shared by every member of an operator family — seven
    * incremental-cluster queries feed "incr-cluster-pairs", times two
    * fixture SFs in one bench JVM — and a bound of 4 made the LRU churn
    * on membership ORDER: adding the r15 capped-ER twin shifted the
    * registry order and evicted the feed dd_incremental_clusters would
    * have memo-hit, silently re-executing its whole verify chain
    * (+2.4 s on its bench line, reproducible). Truncated entries are
    * increment- or pair-graph-sized BY CONTRACT (every caller feeds an
    * increment-bounded frame, a verified pair/match set, or another
    * graph-not-corpus-sized artifact — r18 widened the family to the
    * shared near-dup pair feeds and ER match sets, which are orders of
    * magnitude under the corpus at any duplication density the caps
    * admit), so 16 of them is tens-to-hundreds of MB — the right trade
    * against plan-dependent recompute storms. Never feed a raw corpus
    * or exploded shingle set through here. */
  val maxPerNameTruncated = 16

  private val live = scala.collection.mutable.LinkedHashMap.empty[(String, Int), DataFrame]

  def swap(name: String, df: DataFrame,
           level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    synchronized {
      val key = (name, df.queryExecution.analyzed.semanticHash())
      live.get(key) match {
        case Some(cached) => cached
        case None =>
          val cached = df.persist(level)
          live(key) = cached
          val mine = live.keys.filter(_._1 == name).toSeq
          if (mine.size > maxPerName) {
            val victim = mine.head // LinkedHashMap keeps insertion order
            live.remove(victim).foreach(_.unpersist())
          }
          cached
      }
    }

  /** [[swap]] + eager PLAN truncation, for frames consumed by
    * iterative plan builders (an incremental PageRank's pair feed, a
    * propagation loop's edge delta). Caching alone only dedups
    * EXECUTION — every downstream reference still embeds the frame's
    * full analyzed tree, so the driver's Catalyst analysis cost grows
    * as (tree size × references), and a 2-superstep refresh over a
    * deep LSH-verify feed spends 10+ s in plan analysis while its
    * tasks run ~1 s (measured at sf0.1, SCALE.md). Here the frame is
    * materialized once ([[Materialize.eagerDurable]] — a LogicalRDD
    * leaf) and memoized under the (group, tag, semantic hash) key, so
    * repeat calls return the truncated frame without re-executing, and
    * every downstream reference costs the analyzer a single leaf node.
    * EAGER (the data computes at call time, not at the terminal
    * action); eviction frees the checkpoint blocks via
    * [[Materialize.release]].
    *
    * `group` names the operator family's memo (`"pagerank-edges"`) and
    * `tag` the generation within it — callers pass the source
    * fingerprint, so a mid-session source regeneration gets its own
    * entry. The LRU bound counts entries per GROUP: keyed per tag
    * alone, every generation would be its own singleton and a
    * regenerating source would leak every dead generation's checkpoint
    * until JVM exit. [[release]]`(group)` frees every tag of the group.
    *
    * CONTRACT, stricter than [[swap]]'s: do not hold a returned frame
    * across more than `maxPerNameTruncated` later `swapTruncated` calls
    * in the SAME group. A plain `swap` frame evicted while still
    * referenced silently degrades to a recompute; a truncated frame has
    * no lineage left to recompute from, so an action over an evicted
    * one FAILS. Current callers take one generation per state
    * fingerprint and act before the next, so the bound is never
    * approached. */
  def swapTruncated(group: String, tag: String, df: DataFrame): DataFrame = synchronized {
    val key = ((group, tag), df.queryExecution.analyzed.semanticHash())
    liveT.get(key) match {
      case Some(t) => t
      case None =>
        val t = Materialize.eagerDurable(df)
        liveT(key) = t
        val mine = liveT.keys.filter(_._1._1 == group).toSeq
        if (mine.size > maxPerNameTruncated) {
          val victim = mine.head // LinkedHashMap keeps insertion order
          liveT.remove(victim).foreach(Materialize.release)
        }
        t
    }
  }

  private val liveT =
    scala.collection.mutable.LinkedHashMap.empty[((String, String), Int), DataFrame]

  /** Drop and unpersist every cached plan under `name`: the [[swap]]
    * entries of that name and the [[swapTruncated]] entries of every
    * tag in that group. */
  def release(name: String): Unit = synchronized {
    live.keys.filter(_._1 == name).toSeq
      .foreach(k => live.remove(k).foreach(_.unpersist()))
    liveT.keys.filter(_._1._1 == name).toSeq
      .foreach(k => liveT.remove(k).foreach(Materialize.release))
  }
}

/** Eager lineage truncation for DRIVER-LOOPED iterative operators
  * (label propagation, k-means): each round's result must replace its
  * logical plan outright — `persist` alone leaves the plan tree
  * doubling every round (the round-N frame references round N-1 twice),
  * so planning cost, not execution, becomes the bottleneck. Same
  * fail-safe policy as [[graft.similarity.Similarity.durableMaterialize]]
  * but EAGER, because truncation only happens once the data exists:
  * reliable `checkpoint(true)` when a checkpoint dir is set (survives
  * executor loss on a cluster), else `localCheckpoint(true)`. */
object Materialize {
  def eagerDurable(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      // persist before the reliable checkpoint: Spark's checkpoint write
      // is a SECOND job over the full lineage (an iterative operator
      // would pay every propagation join twice per round without this);
      // with the persist the action fills the cache, the write job
      // drains it, and — because the checkpoint is EAGER — the blocks
      // can be dropped immediately, leaving only the checkpoint files.
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val out = p.checkpoint(true)
      p.unpersist(blocking = false)
      out
    } else df.localCheckpoint(true)
  }

  /** Releases the storage behind a frame produced by [[eagerDurable]]
    * once a LATER round has materialized and the frame will never be
    * read again: unpersists the localCheckpoint blocks and deletes the
    * reliable-checkpoint files (Spark itself keeps both until session
    * end unless `spark.cleaner.referenceTracking.cleanCheckpoints` GC
    * kicks in — an iterative operator that runs 50 rounds would
    * otherwise hold 50 generations of labels). Deliberately NARROW: it
    * acts only when the frame IS an [[eagerDurable]] output (its whole
    * logical plan is the one checkpoint-backed LogicalRDD) — on any
    * derived or composite plan it is a no-op, because a LogicalRDD
    * found deeper in a plan may be shared with consumers that still
    * need its storage. */
  def release(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
        l.rdd.getCheckpointFile.foreach { dir =>
          val p = new org.apache.hadoop.fs.Path(dir)
          p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
            .delete(p, true)
          ()
        }
      case _ => () // not an eagerDurable output: nothing we own to free
    }
}
