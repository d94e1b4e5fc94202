package graft.ops

import org.apache.spark.sql.{DataFrame, GraftShim, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.Tables

/** Warehouse state-generation GC (SURVEY §2.13 operations surface).
  *
  * Every persisted state the engine maintains is a [[PersistedState]]
  * family — bucketed CTAS tables (dedup digests, LSH bands, ER keys,
  * graph edges), path layouts and 1-row checkpoints (caps, blooms, rank
  * states), gate lineages and staged stream replays — so it is named
  * `graft_<family>_<sourceTag>` by the one tag rule
  * ([[PersistedState.tagOf]]) and freshness-keyed by the descriptor's
  * fingerprint (`graft.src` table property or `_GRAFT_SRC` marker,
  * format `len:mtime[|len:mtime][version][:params|&#124;options]`).
  * ensure* REBUILDS in place when the fingerprint rolls, so a live
  * source never leaks — but a source that disappears (a retired crawl
  * directory, a deleted fixture) strands its whole generation forever,
  * and at 100 TB with rolling sources that is unbounded storage. This
  * operator closes the lifecycle: enumerate generations, keep exactly
  * those that still serve a live source, drop the rest.
  *
  * Keep rule, per generation:
  *  - its tag must suffix-match a live source dir's tag (longest match
  *    wins, so `..._sf0_1` never claims `..._sf0_11`'s generations); AND
  *  - its recorded fingerprint, when present, must match the CURRENT
  *    fingerprint of some file in that live dir — exactly (`len:mtime`)
  *    or as the base of a params/options-suffixed key (`len:mtime:...`,
  *    `len:mtime|...`), the two suffix forms ensure* writes. A stale
  *    fingerprint means ensure* would rebuild before serving it, so
  *    dropping loses nothing.
  *  - a generation with NO recorded fingerprint under a live tag is
  *    kept (conservative: unfingerprinted layouts self-heal via
  *    `_SUCCESS`, and GC must never be the thing that breaks one).
  *
  * The drop path re-REQUIREs the keep predicate per entry (defense in
  * depth: a live generation must be untouchable even if the report
  * assembly above it ever drifts), drops catalog tables through the
  * catalog (`DROP TABLE` reclaims the managed dir) and path layouts
  * through the Hadoop FileSystem API — hdfs:// and s3a:// roots work
  * the same as file://. A generation's sibling `<name>.lock` (a staged
  * replay's) is dropped with it.
  *
  * `dryRun = true` (the default, and what the registered audit reports
  * against the demo family) only reports `would_drop`; nothing is
  * deleted. Reclaimed bytes are measured BEFORE deletion.
  */
object StateGc {

  private def fs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Current `len:mtime` fingerprints of every regular file directly in
    * a live source dir — the candidate bases a recorded generation key
    * may match. */
  private def liveFileFps(spark: SparkSession, dir: String): Set[String] = {
    val (f, p) = fs(spark, dir)
    if (!f.exists(p)) Set.empty
    else f.listStatus(p).toSeq.filter(_.isFile)
      .map(st => s"${st.getLen}:${st.getModificationTime}").toSet
  }

  private def readMarker(f: org.apache.hadoop.fs.FileSystem,
                         gen: org.apache.hadoop.fs.Path): Option[String] = {
    val m = new org.apache.hadoop.fs.Path(gen, "_GRAFT_SRC")
    if (!f.exists(m)) None
    else {
      val in = f.open(m)
      try Some(new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8"))
      finally in.close()
    }
  }

  /** A recorded generation key matches a current file fingerprint when
    * it IS it, or extends it with the `:params` / `|options` suffix
    * forms ensure* writes. */
  private[ops] def fpMatches(recorded: String, currentFps: Set[String]): Boolean =
    currentFps.exists(f =>
      recorded == f || recorded.startsWith(f + ":") || recorded.startsWith(f + "|"))

  private val reportSchema = StructType(Seq(
    StructField("generation", StringType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("tag_live", BooleanType, nullable = false),
    StructField("fp_live", BooleanType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("action", StringType, nullable = false)))

  /** Enumerate generations under `root` whose name starts with `prefix`,
    * keep those serving `liveDirs`, drop (or report, when `dryRun`) the
    * rest. Returns the audit: one row per generation with its size and
    * the action taken. Driver-small by construction: one row per state
    * generation (families × sources), never per data row. */
  def run(spark: SparkSession, root: String, liveDirs: Seq[String],
          prefix: String = "graft_", dryRun: Boolean = true): DataFrame = {
    val (f, rootP) = fs(spark, root)
    // Longest-first so a tag can never claim another tag's suffix.
    // CONSERVATIVE under tag collisions: the tag rule is lossy (distinct dirs
    // can render to one tag), so fingerprints are UNIONED per tag —
    // a generation serving EITHER colliding dir stays live. GC must
    // under-approximate droppability, never a live dir's liveness.
    val liveTags = liveDirs.groupBy(PersistedState.tagOf).toSeq.sortBy(-_._1.length)
    val fpsByTag = liveTags.map { case (t, ds) =>
      t -> ds.flatMap(d => liveFileFps(spark, d)).toSet
    }.toMap
    val entries =
      if (!f.exists(rootP)) Seq.empty
      else f.listStatus(rootP).toSeq.filter(st =>
        st.isDirectory && st.getPath.getName.startsWith(prefix))
        .sortBy(_.getPath.getName)
    val rows = entries.map { st =>
      val name = st.getPath.getName
      val props = GraftShim.tableProperties(spark, name)
      val isTable = props.isDefined
      val recorded = props.fold(readMarker(f, st.getPath))(_.get("graft.src"))
      val tagHit = liveTags.collectFirst {
        case (t, _) if name.endsWith("_" + t) => t
      }
      val fpLive = recorded.isEmpty ||
        tagHit.exists(t => fpMatches(recorded.get, fpsByTag(t)))
      val keep = tagHit.isDefined && fpLive
      // A staged replay's `.lock` sits beside its dir
      // ([[graft.streaming.LateArrivals.stageBatchesCached]]): it belongs
      // to the generation, so it is counted and dropped in the same row.
      val lock = new org.apache.hadoop.fs.Path(rootP, name + ".lock")
      val lockLen = if (f.exists(lock)) Some(f.getFileStatus(lock).getLen) else None
      val bytes = f.getContentSummary(st.getPath).getLength + lockLen.getOrElse(0L)
      val action =
        if (keep) "keep"
        else if (dryRun) "would_drop"
        else {
          // Defense in depth: re-derive the predicate at the point of
          // deletion — GC must never touch a live generation.
          require(!(tagHit.isDefined && fpLive),
            s"stateGc attempted to drop live generation $name")
          if (isTable) spark.sql(s"DROP TABLE `$name`")
          else f.delete(st.getPath, true)
          if (lockLen.isDefined) f.delete(lock, false)
          "drop"
        }
      Row(name, if (isTable) "table" else "layout",
        tagHit.isDefined, fpLive, bytes, action)
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), reportSchema)
  }

  // ---- Registered demo audit: a deterministic, oracle-twinned GC cycle.

  private def writeUtf8(f: org.apache.hadoop.fs.FileSystem,
                        p: org.apache.hadoop.fs.Path, s: String): Unit = {
    val out = f.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  /** One full GC cycle over a scratch `graft_gcdemo_*` family in the
    * real warehouse root: a LIVE generation (current documents
    * fingerprint, params-suffixed — the staged-replay key shape), a STALE
    * one (live tag, rolled fingerprint) and a DEAD one (tag of a gone
    * source). GC with `dryRun = false` must drop stale+dead, keep live,
    * and the live generation must still read afterwards (the probe is a
    * require, so a regression fails the query, not just a spec).
    * Rebuilt from scratch each call, so the settled report is
    * deterministic and the DuckDB VALUES twin is the oracle.
    *
    * REENTRANT across concurrent sessions sharing one warehouse
    * (ADVICE r17, closed r18): the demo family is namespaced by a
    * per-SESSION suffix (`graft_gcdemo<sfx>_…`, sfx = the session
    * object's identity hash), so a concurrent audit's scorched-earth
    * pre-clean and destructive GC pass can only ever touch its OWN
    * session's generations — never delete this call's freshly built
    * live generation between build and the post-GC probe. Orphans from
    * crashed sessions are bounded: the pre-clean also sweeps OTHER
    * sessions' demo families older than one hour (a live concurrent
    * audit is seconds old; an hour-old family is a crash leftover). */
  def demoAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = PersistedState.warehouse(spark)
    val tag = PersistedState.tagOf(sfDir)
    val (f, whP) = fs(spark, wh)
    val sfx = Integer.toHexString(System.identityHashCode(spark))
    val famPrefix = s"graft_gcdemo${sfx}_"
    // Scorched-earth pre-clean of THIS SESSION's demo family, any tag:
    // the warehouse outlives fixtures, and a live_<otherTag> kept by a
    // previous run at a DIFFERENT sfDir is (correctly) GC'd as dead by
    // THIS run — a fourth report row that made the settled report
    // depend on warehouse history instead of on this call (caught by
    // the r16 sf0.01 gate after a 30× sweep shared the warehouse). The
    // demo's determinism contract is per-call, so the build starts from
    // zero generations every time. Other sessions' families are swept
    // only when old enough to be crash leftovers.
    if (f.exists(whP))
      f.listStatus(whP).toSeq
        .filter { st =>
          val n = st.getPath.getName
          st.isDirectory && n.startsWith("graft_gcdemo") &&
            (n.startsWith(famPrefix) ||
              st.getModificationTime < System.currentTimeMillis() - 3600000L)
        }
        .foreach { st =>
          spark.sql(s"DROP TABLE IF EXISTS `${st.getPath.getName}`")
          f.delete(st.getPath, true); ()
        }
    val docFp = ScaleOps.fileFingerprint(s"$sfDir/documents.parquet")
    def build(name: String, marker: String): Unit = {
      val dir = new java.io.File(wh, name).toString
      spark.range(1).toDF("id").coalesce(1).write.mode("overwrite").parquet(dir)
      writeUtf8(f, new org.apache.hadoop.fs.Path(dir, "_GRAFT_SRC"), marker)
    }
    val liveGen = s"${famPrefix}live_$tag"
    build(liveGen, docFp + ":demo=1")
    build(s"${famPrefix}stale_$tag", "0:0")
    build(s"${famPrefix}dead_tmp_graft_gone_gcdemo", docFp)
    val report = run(spark, wh, Seq(sfDir), prefix = famPrefix,
      dryRun = false).collect()
    // Live probe AFTER the destructive pass: the kept generation must
    // still be a readable layout with its marker intact.
    val liveDir = new java.io.File(wh, liveGen).toString
    require(Tables.parquet(spark, liveDir).count() == 1L &&
      readMarker(f, new org.apache.hadoop.fs.Path(liveDir)).contains(docFp + ":demo=1"),
      "stateGc demo: live generation damaged by GC")
    val out = report.map { r =>
      val label = r.getString(0).stripPrefix(famPrefix).takeWhile(_ != '_')
      Row(label, r.getString(1), r.getString(5),
        r.getString(5) == "drop" && r.getLong(4) > 0L)
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(out.toSeq).asJava),
      StructType(Seq(
        StructField("gen", StringType, nullable = false),
        StructField("kind", StringType, nullable = false),
        StructField("action", StringType, nullable = false),
        StructField("reclaimed", BooleanType, nullable = false))))
      .orderBy("gen")
  }
}
