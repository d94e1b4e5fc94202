package graft.ops

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.storage.StorageLevel

/** Keyed memos for computed intermediates that a downstream plan
  * references more than once (a feature table feeding an ANN search,
  * the exploded shingle set feeding both MinHash stages), and for the
  * driver-side values built from them (a Bloom filter).
  *
  * THE KEY. Every memo is keyed by (group, SEMANTIC HASH of the frame's
  * analyzed plan, GENERATION), where the generation is
  * [[Generation.ofFiles]] — the digest of the (path, length, mtime) of
  * every file listed by every file-source leaf of that plan, subqueries
  * included. The semantic hash alone is not
  * enough: a parquet path rewritten in place, or a bucketed table
  * rebuilt under its name, analyzes to the same plan and hashes the
  * same, so a memo keyed by the hash would keep serving the old rows —
  * and a truncated memo has no lineage to recompute them from. The
  * listing is the one each leaf's `PartitioningAwareFileIndex` already
  * holds (`InMemoryFileIndex` for paths and catalog tables,
  * `MetadataLogFileIndex` for a sink read back through its log), so the
  * generation costs no listing and no job; a leaf over any other index
  * contributes its root paths (as unlisted statuses, length -1). A leaf
  * that is itself a memo's output (a truncated `LogicalRDD`) hashes by
  * its RDD, so a chain of memos misses all the way down once its first
  * input moves. Callers pass no tag.
  *
  * THE BOUND. `persist()` entries live in the session CacheManager until
  * explicitly released — the ContextCleaner never reclaims them — so a
  * library function that persists on every call leaks its heaviest
  * intermediate for the session lifetime. Each group keeps its entries
  * in insertion order and evicts the oldest beyond its bound, so
  *  - the same input re-requested returns the already-built entry (no
  *    duplicate cache, no mid-job unpersist of a frame an earlier
  *    caller still references lazily), and
  *  - two interleaved calls over DIFFERENT corpora each keep their own
  *    entry instead of evicting each other (a silent 2x read regression
  *    exactly where caching mattered), while
  *  - a source regenerated mid-session cannot pin every dead
  *    generation it ever had. [[release]]`(group)` frees a group. */
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

  /** (group, plan semantic hash, generation of the files it reads). */
  private type Key = (String, Int, String)

  private def key(group: String, df: DataFrame): Key = {
    val plan = df.queryExecution.analyzed
    val files = plan.collectWithSubqueries {
      case l: LogicalRelation => l.relation
    }.collect { case r: HadoopFsRelation => r.location }.flatMap {
      case idx: PartitioningAwareFileIndex => idx.allFiles().toSeq
      case idx => idx.rootPaths.map(p => new FileStatus(-1L, true, 0, 0L, -1L, p))
    }
    (group, plan.semanticHash(), Generation.ofFiles(files))
  }

  /** One memo: entries per group in insertion order, the oldest of a
    * group freed beyond `bound`. Callers hold the CacheOnce lock. */
  private final class Memo[V](bound: Int, free: V => Unit) {
    private val entries = scala.collection.mutable.LinkedHashMap.empty[Key, V]
    def get(k: Key): Option[V] = entries.get(k)
    def getOrElseUpdate(k: Key)(build: => V): V = entries.getOrElse(k, {
      val v = build
      entries(k) = v
      val mine = entries.keys.filter(_._1 == k._1).toSeq
      if (mine.size > bound) entries.remove(mine.head).foreach(free)
      v
    })
    def release(group: String): Unit =
      entries.keys.filter(_._1 == group).toSeq.foreach(k => entries.remove(k).foreach(free))
  }

  private val persisted = new Memo[DataFrame](maxPerName, _.unpersist())
  private val truncated = new Memo[DataFrame](maxPerNameTruncated, Materialize.release)
  private val values = new Memo[Any](maxPerName, _ => ())

  /** `df` persisted at `level`, or the frame an earlier call persisted
    * under the same key. */
  def swap(name: String, df: DataFrame,
           level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val k = key(name, df)
    synchronized(persisted.getOrElseUpdate(k)(df.persist(level)))
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
    * leaf) and memoized under `group` by the CacheOnce key, so repeat
    * calls return the truncated frame without re-executing, and every
    * downstream reference costs the analyzer a single leaf node.
    * EAGER (the data computes at call time, not at the terminal
    * action); eviction frees the checkpoint blocks via
    * [[Materialize.release]].
    *
    * CONTRACT, stricter than [[swap]]'s: do not hold a returned frame
    * across more than `maxPerNameTruncated` later `swapTruncated` calls
    * in the SAME group. A plain `swap` frame evicted while still
    * referenced silently degrades to a recompute; a truncated frame has
    * no lineage left to recompute from, so an action over an evicted
    * one FAILS. Current callers take one entry per input generation and
    * act before the next, so the bound is never approached. */
  def swapTruncated(group: String, df: DataFrame): DataFrame = {
    val k = key(group, df)
    synchronized(truncated.getOrElseUpdate(k)(Materialize.eagerDurable(df)))
  }

  /** A driver-side value derived from `df` (a Bloom filter over a test
    * split, a filter deserialized from a checkpoint), memoized under
    * `group` by `df`'s CacheOnce key: `build` runs once per key and
    * again once `df`'s files move. It runs OUTSIDE the lock — it may
    * run Spark jobs, and a concurrent caller of another key must not
    * wait on them; two racing builders of one key both run, and the
    * first value stored is returned to both. `df` is only keyed, never
    * executed here: `build` decides what to run. Bounded like [[swap]],
    * `maxPerName` per group; nothing is freed on eviction. */
  def value[A](group: String, df: DataFrame)(build: => A): A = {
    val k = key(group, df)
    synchronized(values.get(k)).getOrElse {
      val v = build
      synchronized(values.getOrElseUpdate(k)(v))
    }.asInstanceOf[A]
  }

  /** Drop and free every entry under `name`: the [[swap]],
    * [[swapTruncated]] and [[value]] entries of that group. */
  def release(name: String): Unit = synchronized {
    persisted.release(name)
    truncated.release(name)
    values.release(name)
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
