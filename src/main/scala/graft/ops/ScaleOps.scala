package graft.ops

import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Skew and co-location utilities — the two shuffle-shaping patterns a
  * 100 TB deployment leans on that the small-SF queries can't surface on
  * their own.
  *
  *  - Salted aggregation: a hot grouping key (one beach section with
  *    millions of observations, one stop-word shingle) turns a keyed
  *    shuffle into a single straggler task. Salting splits each key into
  *    `salts` sub-keys for a partial aggregate, then re-aggregates the
  *    partials — two small shuffles instead of one skewed one. The salt
  *    is derived from a second column's hash, so the result is exactly
  *    the unsalted aggregate (verified by test).
  *  - Bucketed joins: writing both fact tables bucketed by the join key
  *    lets every subsequent join between them run with NO exchange — the
  *    scan itself is already co-partitioned. This is the physical-layout
  *    answer to a join that repeats across many queries/days.
  */
object ScaleOps {

  /** Collision-budget cap of a probe's static side: drops every `key`
    * bucket holding more than `cap` rows — a degenerate bucket
    * (boilerplate, mass duplication) would fan every arriving row out
    * cap+-fold. The size is a windowed count keyed on `key`, so a table
    * bucketed on `key` computes it WITHOUT an exchange. */
  def capBuckets(df: DataFrame, key: String, cap: Option[Int]): DataFrame =
    cap.fold(df) { c =>
      df.withColumn("_bsz", count(lit(1))
          .over(org.apache.spark.sql.expressions.Window.partitionBy(key)))
        .filter(col("_bsz") <= c).drop("_bsz")
    }

  /** `groupBy(keys).count()` in two phases: partial count per
    * (keys, salt), then sum of partials per keys. Identical output to
    * the direct tally; bounded per-task input even when one key
    * dominates. `saltFrom` should be a high-cardinality column (a row
    * id); the salt is its hash mod `salts`, deterministic end to end. */
  def saltedTally(df: DataFrame, keys: Seq[String], saltFrom: String,
                  salts: Int): DataFrame = {
    val salted = df.withColumn("_salt", pmod(xxhash64(col(saltFrom)), lit(salts.toLong)))
    val partial = salted.groupBy((keys :+ "_salt").map(col): _*)
      .agg(count(lit(1)).as("_partial"))
    partial.groupBy(keys.map(col): _*)
      .agg(sum(col("_partial")).as("n"))
  }

  /** Write `df` as a bucketed+sorted table (parquet, session catalog).
    * Joins between tables bucketed the same way on `key` plan with zero
    * exchanges. Idempotent across JVMs: a stale warehouse directory left
    * by a previous process (whose in-memory metastore is gone) is
    * removed before the create — `mode(overwrite)` alone only replaces
    * tables the CURRENT catalog knows about. */
  /** Recursive LOCAL-file delete (fixture/staging/landing cleanup —
    * the one shared copy; layout paths that may be remote go through
    * the Hadoop FS helpers below instead). */
  def deleteLocal(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteLocal)
    f.delete(); ()
  }

  def writeBucketed(df: DataFrame, table: String, key: String,
                    numBuckets: Int, sortCols: Seq[String] = Nil): Unit =
    writeBucketedKeys(df, table, Seq(key), numBuckets, sortCols)

  // ---- Derived bucket counts (layout policy, not a constant) --------
  // A literal bucket count is a scale bug in both directions: 32
  // one-file buckets over a 100 TB state writes multi-TB files AND caps
  // every later probe's scan parallelism at 32 tasks; thousands of
  // buckets over a 100 MB state is pure file-count overhead. The count
  // must be a function of the state's own size at CTAS — the derived-cap
  // pattern applied to layout. Targets are conf-tunable (they participate
  // in the layout fingerprint, so a policy change rebuilds generations).

  /** (targetBytesPerBucket, targetRowsPerBucket, floor). Defaults:
    * 128 MiB / 8M rows per bucket — bucket files a scan task handles in
    * one read, small enough that a retry is cheap; floor 32 keeps the
    * local-harness parallelism and the historic layout for states the
    * fixtures keep small. */
  private[graft] def bucketTargets(spark: SparkSession): (Long, Long, Int) = (
    spark.conf.get("graft.state.bucketTargetBytes", (128L << 20).toString).toLong,
    spark.conf.get("graft.state.bucketTargetRows", (8L * 1000 * 1000).toString).toLong,
    spark.conf.get("graft.state.bucketFloor", "32").toInt)

  /** Bucket count for a state of `bytes`/`rows`: enough buckets that
    * each stays under BOTH targets, rounded UP to a power of two (>=
    * floor) so two derived generations' counts always divide — the
    * precondition for Spark's bucket-join coalescing when two states of
    * different generations ever meet in a join. */
  private[graft] def deriveBucketCount(bytes: Long, rows: Long,
                                       targetBytes: Long, targetRows: Long,
                                       floor: Int): Int = {
    def ceilDiv(a: Long, b: Long) = if (a <= 0) 1L else (a + b - 1) / b
    val need = math.max(ceilDiv(bytes, targetBytes), ceilDiv(rows, targetRows))
    var n = math.max(floor, 1)
    while (n < need && n < (1 << 24)) n <<= 1
    n
  }

  /** Total (bytes, rows) of the parquet tree at `path`, from file sizes
    * and footer row counts — metadata only, never a data scan. */
  private[graft] def parquetStats(spark: SparkSession, path: String): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val (fs, base) = hadoopFs(spark, path)
    val files = fs.listStatus(base).toSeq.filter { st =>
      st.isFile && st.getPath.getName.endsWith(".parquet") &&
        !st.getPath.getName.startsWith("_")
    }
    val bytes = files.map(_.getLen).sum
    val conf = spark.sparkContext.hadoopConfiguration
    val rows = files.map { st =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(st.getPath, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      finally reader.close()
    }.sum
    (bytes, rows)
  }

  /** Multi-key variant of [[writeBucketed]] — for states whose probe
    * join carries a COMPOSITE key (e.g. the triangle closes' canonical
    * (src, dst) pair set): Spark's co-partitioning check requires ALL
    * join keys in the children's hash partitioning by default
    * (requireAllClusterKeysForCoPartition), so a src-only bucketing
    * does NOT make a (src, dst)-keyed sort-merge probe exchange-free —
    * the state side re-shuffles in full (the r17 finding behind the
    * pair-state CTAS; the (src, dst) shuffle was invisible to the
    * bucket-key watch because it re-keys, matching the "legitimate
    * repartition" carve-out). */
  def writeBucketedKeys(df: DataFrame, table: String, keys: Seq[String],
                        numBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new java.io.File(PersistedState.warehouse(spark), table)
    if (loc.exists()) deleteLocal(loc)
    val sc = if (sortCols.nonEmpty) sortCols else keys
    // ONE FILE PER BUCKET, deliberately: Spark trusts a bucketed
    // table's sortBy metadata (scan exposes outputOrdering, so a
    // sort-merge probe skips the state-side Sort) ONLY when each
    // bucket holds a single file — the repartition below hashes on
    // exactly the bucket expressions, so task i writes only bucket i.
    // Paid once at CTAS; every refresh-path SMJ against the state
    // then gets its |state|-sized sort for free (r16 advisory: the
    // triangle closes were re-sorting the full adjacency per refresh
    // because multi-file buckets void the sortBy metadata).
    df.repartition(numBuckets, keys.map(col): _*)
      .write.mode("overwrite")
      .format("parquet")
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(sc.head, sc.tail: _*)
      .saveAsTable(table)
    assertOneFilePerBucket(spark, loc.toString, numBuckets)
  }

  /** The one-file-per-bucket invariant, asserted AT THE WRITE SITE
    * (ADVICE r17): the sortBy-ordering optimization above silently
    * breaks if `spark.sql.files.maxRecordsPerFile` ever splits a task's
    * bucket into several files, or if the writer's bucket-id hash ever
    * diverges from repartition's partitioner — and the failure would
    * otherwise surface far away, as a requireSortFreeBucketedScan crash
    * in whatever query probes the state first. Cheap directory listing
    * (bucket ids parsed from the `part-*_NNNNN.c000*` file-name
    * convention), Hadoop FS so remote warehouses check the same way. */
  private[graft] def assertOneFilePerBucket(spark: SparkSession, loc: String,
                                            numBuckets: Int): Unit = {
    val (fs, base) = hadoopFs(spark, loc)
    val bucketRe = "_(\\d{5})\\.".r
    val dataFiles = fs.listStatus(base).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
    val ids = dataFiles.flatMap(st =>
      bucketRe.findFirstMatchIn(st.getPath.getName).map(_.group(1).toInt))
    // An all-empty frame writes no data files at all — vacuously fine
    // (the ordering contract has nothing to order); a data file WITHOUT
    // a parseable bucket id in a bucketed table dir is never fine.
    require(ids.size == dataFiles.size,
      s"bucketed CTAS at $loc wrote data files without bucket ids")
    if (dataFiles.isEmpty) return
    val dup = ids.groupBy(identity).filter(_._2.size > 1)
    require(dup.isEmpty,
      s"bucketed CTAS at $loc wrote multiple files for bucket(s) " +
        s"${dup.keys.toSeq.sorted.take(5).mkString(",")} — the one-file-per-" +
        "bucket contract behind bucketed-scan outputOrdering is broken " +
        "(maxRecordsPerFile set, or writer/partitioner hash divergence)")
    require(ids.forall(_ < numBuckets),
      s"bucketed CTAS at $loc wrote bucket ids beyond numBuckets=$numBuckets")
  }

  /** Idempotent [[writeBucketed]]: skip when the CURRENT catalog already
    * has the table (within a SharedState the files are then known-good —
    * bucketing metadata lives in the catalog, so a table the catalog
    * doesn't know must be rewritten even if stale files exist). This is
    * the "write once, join forever" contract: layout prep runs once per
    * (table, warehouse), every later call is a catalog lookup.
    *
    * `srcFingerprint` extends the freshness test beyond mere existence —
    * the bucketed-table analogue of [[ensureSortedBy]]'s layout marker:
    * the fingerprint is recorded as table property `graft.src`, and a
    * later call with a DIFFERENT fingerprint drops and rebuilds the
    * table. Without it, an in-place regen of the source parquet would
    * silently serve stale bucketed state (the regen-staleness failure
    * mode the r9 ts-unit incident hit). Empty fingerprint keeps the
    * existence-only contract for callers whose input is immutable. */
  /** Returns true when the table was (re)built by THIS call — the hook
    * for build-time-only invariant checks (e.g. the pagerank edge
    * state's one-per-fingerprint symmetry assertion), which must run
    * where the table is written, never on every read-back.
    *
    * The frame is taken BY NAME, with the session passed explicitly (the
    * [[ensureSortedBy]] shape): a fresh table costs one catalog
    * lookup, and the state frame is neither built nor analyzed. */
  def ensureBucketed(spark: SparkSession, table: String, key: String,
                     numBuckets: Int, srcFingerprint: String = "",
                     sortCols: Seq[String] = Nil)(df: => DataFrame): Boolean =
    ensureBucketedKeys(spark, table, Seq(key), numBuckets, srcFingerprint,
      sortCols)(df)

  /** Rendered layout contract of a bucketed table — keys, sort columns
    * and bucket sizing — stored as table property `graft.layout` and
    * folded into the freshness test AUTOMATICALLY (ADVICE r17: layout
    * changes used to be invalidated only by hand-written fingerprint
    * suffix bumps like "|src,dst"; now a keys/sort/count/policy change
    * can never serve a stale generation even without one). */
  private def layoutContract(keys: Seq[String], sortCols: Seq[String],
                             sizing: String): String = {
    val sc = if (sortCols.nonEmpty) sortCols else keys
    s"keys=${keys.mkString(",")};sort=${sc.mkString(",")};$sizing"
  }

  /** Fresh when the catalog has the table under the same layout
    * contract and (when one is given) the same source fingerprint. One
    * catalog lookup ([[GraftShim.tableProperties]]) serves the whole
    * test; callers reuse `props` for `graft.buckets`. */
  private def bucketedFresh(props: Option[Map[String, String]],
                            srcFingerprint: String, layout: String): Boolean =
    props.exists(p =>
      (srcFingerprint.isEmpty || p.get("graft.src").contains(srcFingerprint)) &&
        p.get("graft.layout").contains(layout))

  private def recordBucketedProps(spark: SparkSession, table: String,
                                  srcFingerprint: String, layout: String,
                                  numBuckets: Int): Unit = {
    val fpProp =
      if (srcFingerprint.nonEmpty) s"'graft.src' = '$srcFingerprint', " else ""
    spark.sql(s"ALTER TABLE `$table` SET TBLPROPERTIES (" +
      fpProp + s"'graft.layout' = '$layout', 'graft.buckets' = '$numBuckets')")
  }

  /** Multi-key [[ensureBucketed]] — see [[writeBucketedKeys]]. */
  def ensureBucketedKeys(spark: SparkSession, table: String, keys: Seq[String],
                         numBuckets: Int, srcFingerprint: String = "",
                         sortCols: Seq[String] = Nil)(df: => DataFrame): Boolean = {
    val layout = layoutContract(keys, sortCols, s"n=$numBuckets")
    val fresh = bucketedFresh(GraftShim.tableProperties(spark, table),
      srcFingerprint, layout)
    if (!fresh) {
      writeBucketedKeys(df, table, keys, numBuckets, sortCols)
      recordBucketedProps(spark, table, srcFingerprint, layout, numBuckets)
    }
    !fresh
  }

  /** [[ensureBucketed]] with the bucket count DERIVED from the state's
    * own size at CTAS instead of passed in (the verdict-17 scale task:
    * every literal count is wrong at some scale — see [[bucketTargets]]).
    * Build path: the frame is computed ONCE and staged as plain parquet
    * beside the table, the staged tree's bytes/rows are read from file
    * sizes + footers (metadata only), the count is derived, and the
    * bucketed CTAS re-reads the staging — so an expensive producer (a
    * near-dup graph, a winnowed index) never computes twice for the
    * sake of a row count. The staging detour costs one extra
    * write+read of state-sized data, paid once per generation at build
    * time, never on a probe path. One file per DERIVED bucket still
    * holds (asserted at the write site), so the sort-free probe
    * contract survives the policy change. Returns (builtByThisCall,
    * bucketCount) — the count read back from `graft.buckets` when the
    * generation was already fresh. `df` is by name, as in
    * [[ensureBucketed]]. */
  def ensureBucketedDerived(spark: SparkSession, table: String, keys: Seq[String],
                            srcFingerprint: String = "",
                            sortCols: Seq[String] = Nil)
                           (df: => DataFrame): (Boolean, Int) = {
    val (tBytes, tRows, floor) = bucketTargets(spark)
    val layout = layoutContract(keys, sortCols,
      s"derived;tb=$tBytes;tr=$tRows;floor=$floor")
    val props = GraftShim.tableProperties(spark, table)
    if (bucketedFresh(props, srcFingerprint, layout))
      (false, props.flatMap(_.get("graft.buckets")).fold(floor)(_.toInt))
    else {
      val stage = new java.io.File(PersistedState.warehouse(spark),
        table + "__stage").toString
      df.write.mode("overwrite").parquet(stage)
      val (bytes, rows) = parquetStats(spark, stage)
      val n = deriveBucketCount(bytes, rows, tBytes, tRows, floor)
      writeBucketedKeys(Tables.parquet(spark, stage), table, keys, n, sortCols)
      recordBucketedProps(spark, table, srcFingerprint, layout, n)
      val (fs, stageP) = hadoopFs(spark, stage)
      fs.delete(stageP, true)
      (true, n)
    }
  }

  // ---- Hadoop FS plumbing: layout prep must work on hdfs://, s3a://
  // and file:// alike, so every existence check, marker file and listing
  // below goes through the FileSystem API, never java.io.File.

  private def hadoopFs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** The active session's hadoop conf when one exists (carries
    * spark.hadoop.* credentials/endpoints — without it s3a/hdfs auth is
    * silently dropped), classpath defaults otherwise. */
  private[graft] def hadoopConf(): org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  private def readUtf8(fs: org.apache.hadoop.fs.FileSystem,
                       p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
    finally in.close()
  }

  private def writeUtf8(fs: org.apache.hadoop.fs.FileSystem,
                        p: org.apache.hadoop.fs.Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  /** _SUCCESS exists AND (no fingerprint requested OR the recorded one
    * matches) — the shared freshness test of ensurePartitioned /
    * ensureSortedBy. */
  private def layoutFresh(spark: SparkSession, path: String,
                          srcFingerprint: String): Boolean = {
    val (fs, base) = hadoopFs(spark, path)
    val done = new org.apache.hadoop.fs.Path(base, "_SUCCESS")
    val marker = new org.apache.hadoop.fs.Path(base, "_GRAFT_SRC")
    fs.exists(done) && (srcFingerprint.isEmpty ||
      (fs.exists(marker) && readUtf8(fs, marker) == srcFingerprint))
  }

  private def writeMarker(spark: SparkSession, path: String,
                          srcFingerprint: String): Unit =
    if (srcFingerprint.nonEmpty) {
      val (fs, base) = hadoopFs(spark, path)
      writeUtf8(fs, new org.apache.hadoop.fs.Path(base, "_GRAFT_SRC"), srcFingerprint)
    }

  /** Write `df` as a directory tree partitioned by `partCol` (the
    * physical layout that lets a partition-filtered query read ONE
    * directory out of thousands instead of scanning everything — at
    * 100 TB the difference between touching a day and touching three
    * years). Idempotent across JVMs via a source fingerprint marker:
    * skipped only when _SUCCESS exists AND the recorded fingerprint
    * matches `srcFingerprint` — a regenerated source re-triggers the
    * write instead of silently serving a stale tree (the same
    * cross-process staleness writeBucketed guards against). The frame
    * is by name, as in [[ensureSortedBy]]; true when this call wrote. */
  def ensurePartitioned(spark: SparkSession, path: String, partCol: String,
                        srcFingerprint: String = "")(df: => DataFrame): Boolean =
    if (!layoutFresh(spark, path, srcFingerprint)) {
      df.write.mode("overwrite").partitionBy(partCol).parquet(path)
      writeMarker(spark, path, srcFingerprint)
      true
    } else false

  /** Unsplittable-input guard (optimization guide §2.5, "one huge
    * unsplittable file"): parquet scans parallelize by ROW GROUP, so a
    * source that arrives as one file with one giant row group scans as
    * ONE task no matter the cluster width — and every narrow pass fused
    * above that scan (shingling, hashing, quality gates: the heaviest
    * per-row work in the corpus pipelines) serializes behind it. When
    * the PLANNED scan parallelism is at or below half the session's
    * default parallelism, redistribute round-robin before the heavy
    * work; on a properly-split source (>= cores of input splits — any
    * sane 100 TB layout) the guard is the identity and no exchange is
    * added. The round-robin repartition is retry-deterministic
    * (sortBeforeRepartition, on by default) and every consumer here is
    * order-independent (aggregates/joins).
    *
    * PRECONDITION: apply to RAW SCAN frames only (scan + narrow
    * projections/filters). The parallelism probe reads `df.rdd`, and
    * under adaptive execution materializing the RDD of a plan that
    * contains a shuffle executes its upstream query stages — the whole
    * computation would run once at guard time and again at the real
    * action. The current caller (the winnowing query) passes a bare
    * table scan. */
  def splitNarrowInput(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 <= want) df.repartition(want) else df
  }

  /** [[splitNarrowInput]]'s guard for STREAMED sources (a streaming
    * DataFrame has no planned batch scan to inspect): true when a batch
    * scan of `path` would plan at most half the cores' worth of tasks —
    * the one-big-unsplittable-file shape (guide §2.5). A streamed gate
    * whose per-row narrow work is heavy (quality/lang scoring, per-row
    * sketching) inserts a repartition after the source ONLY under this
    * guard: identity on any multi-file 100 TB landing directory, where
    * the source scan is already parallel. Memoized per (path,
    * fingerprint) — the guard is a layout property of the source
    * generation, not worth a planning round per drain. */
  private val narrowMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Boolean]
  def narrowScanAt(spark: SparkSession, path: String): Boolean = {
    val key = (path, fileFingerprint(path))
    val hit = narrowMemo.get(key)
    if (hit != null) hit.booleanValue()
    else {
      val want = spark.sparkContext.defaultParallelism
      val v = Tables.parquet(spark, path).rdd.getNumPartitions * 2 <= want
      narrowMemo.putIfAbsent(key, java.lang.Boolean.valueOf(v))
      v
    }
  }

  /** 1-row layout-statistic checkpoints (the derived probe caps): each
    * parquet `head()` is a full driver job (~0.1-0.2 s) paid by EVERY
    * cap-consuming query invocation, but the value is a constant of the
    * state GENERATION — memoized per (path, source fingerprint), the
    * bloomMemo precedent in CorpusQueries. A state rebuild changes the
    * fingerprint and re-reads; racing readers of one key both compute
    * the same value and the second put is a no-op. */
  private val statMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]

  def readStatLong(spark: SparkSession, path: String,
                   srcFingerprint: String): Long = {
    val key = (path, srcFingerprint)
    val hit = statMemo.get(key)
    if (hit != null) hit.longValue()
    else {
      val v = Tables.parquet(spark, path).head().getLong(0)
      statMemo.putIfAbsent(key, java.lang.Long.valueOf(v))
      v
    }
  }

  /** Fingerprint of a source file for [[ensurePartitioned]]: length +
    * mtime — cheap and changes whenever the driver regenerates it.
    * Resolved through the path's Hadoop FileSystem (default
    * configuration), so non-local sources fingerprint too. */
  def fileFingerprint(path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val st = p.getFileSystem(hadoopConf()).getFileStatus(p)
    s"${st.getLen}:${st.getModificationTime}"
  }

  /** Write `df` globally range-clustered by `key`: repartitionByRange
    * gives disjoint key ranges per file, sortWithinPartitions orders
    * inside each, so every parquet row group carries a TIGHT [min,max]
    * for `key` and a key-range query skips almost all of them (row-group
    * a.k.a. data skipping — the intra-file complement of partition
    * pruning, and the poor man's Z-order for a single key). Idempotent
    * via the same fingerprint marker as [[ensurePartitioned]].
    *
    * The frame is taken BY NAME: a fresh layout costs one marker read,
    * and the frame is neither built nor analyzed — which matters most
    * for producers that EXECUTE on construction (driver-looped
    * operators like connectedComponents or k-means run their whole
    * loop when CALLED). Returns true when the layout was written by
    * THIS call — the hook for releasing build-scoped caches (a frame
    * the producer persisted for its own supersteps must not outlive
    * the build: a cached bare TABLE scan would shadow the table's
    * bucketed scan in every later probe plan of the session). */
  def ensureSortedBy(spark: SparkSession, path: String, key: String, numFiles: Int,
                     srcFingerprint: String = "",
                     writeOptions: Map[String, String] = Map.empty)
                    (df: => DataFrame): Boolean = {
    // Options participate in the freshness fingerprint UNCONDITIONALLY:
    // changing e.g. parquet.block.size must rewrite the layout, not
    // serve the old one — including when no source fingerprint was
    // given (an empty fp would let layoutFresh pass on _SUCCESS alone).
    val fp =
      if (writeOptions.isEmpty) srcFingerprint
      else srcFingerprint + "|" +
        writeOptions.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")
    if (!layoutFresh(spark, path, fp)) {
      df.repartitionByRange(numFiles, col(key))
        .sortWithinPartitions(key)
        .write.mode("overwrite").options(writeOptions).parquet(path)
      writeMarker(spark, path, fp)
      true
    } else false
  }

  /** Per-FILE [min, max] of an INT64 column from the parquet footers
    * (min/max over the file's row groups) — the granularity a surgical
    * rewrite prunes at. Files with no non-null stats report None. */
  def fileKeyRanges(path: String,
                    column: String): Seq[(org.apache.hadoop.fs.Path, Option[(Long, Long)])] = {
    import scala.jdk.CollectionConverters._
    val conf = hadoopConf()
    val base = new org.apache.hadoop.fs.Path(path)
    val files = base.getFileSystem(conf).listStatus(base).toSeq.map(_.getPath)
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      .sortBy(_.getName)
    files.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val rs = reader.getFooter.getBlocks.asScala.toSeq.flatMap { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == column).flatMap { c =>
            val st = c.getStatistics
            if (st == null || !st.hasNonNullValue) None
            else Some((st.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
              st.genericGetMax.asInstanceOf[java.lang.Long].longValue()))
          }
        }
        (f, if (rs.isEmpty) None else Some((rs.map(_._1).min, rs.map(_._2).max)))
      } finally reader.close()
    }
  }

  /** Surgical key deletion over a key-CLUSTERED parquet tree — the
    * right-to-be-forgotten / tenant-offboarding pass: rewriting the
    * whole table to drop a handful of keys is O(table) per request, but
    * on a layout whose files carry tight footer [min,max] for the key
    * (ensureSortedBy's product), only the files OVERLAPPING a deleted
    * key need rewriting — everything else is copied verbatim (on a real
    * store: a metadata move/hardlink, zero bytes). Writes `src` minus
    * `deleteKeys` to `dst`: untouched files byte-identical, touched
    * files anti-joined against the (broadcast) key list and rewritten
    * re-sorted. `deleteKeys` is BY NAME — only evaluated on a stale
    * layout. Returns (rewritten, copied) file counts; idempotent per
    * (dst, srcFingerprint), counts persisted beside the marker so a
    * fresh call can still report them. */
  def ensureSurgicalDelete(spark: SparkSession, src: String, dst: String,
                           key: String, srcFingerprint: String)
                          (deleteKeys: => Seq[Long]): (Int, Int) = {
    val (fs, dstPath) = hadoopFs(spark, dst)
    val countsFile = new org.apache.hadoop.fs.Path(dstPath, "_graft_surgical_counts")
    if (layoutFresh(spark, dst, srcFingerprint)) {
      val Array(rw, cp) = readUtf8(fs, countsFile).trim.split(",").map(_.toInt)
      (rw, cp)
    } else {
      val keys = deleteKeys
      val keySet = keys.toSet
      if (fs.exists(dstPath)) fs.delete(dstPath, true)
      fs.mkdirs(dstPath)
      val (touched, untouched) = fileKeyRanges(src, key).partition {
        // a file with NO stats can hide anything — always rewrite it
        case (_, None) => true
        case (_, Some((lo, hi))) => keys.exists(k => k >= lo && k <= hi)
      }
      untouched.foreach { case (f, _) =>
        org.apache.hadoop.fs.FileUtil.copy(fs, f, fs,
          new org.apache.hadoop.fs.Path(dstPath, f.getName), false, hadoopConf())
      }
      if (touched.nonEmpty) {
        val tmp = dst + "_rw_tmp"
        val keysDf = spark.createDataset(keys)(
          org.apache.spark.sql.Encoders.scalaLong).toDF(key)
        spark.read.parquet(touched.map(_._1.toString): _*)
          .join(broadcast(keysDf), Seq(key), "left_anti")
          .repartitionByRange(touched.size, col(key))
          .sortWithinPartitions(key)
          .write.mode("overwrite").parquet(tmp)
        val (tfs, tPath) = hadoopFs(spark, tmp)
        tfs.listStatus(tPath).map(_.getPath)
          .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
          .foreach(f => tfs.rename(f,
            new org.apache.hadoop.fs.Path(dstPath, "rw-" + f.getName)))
        tfs.delete(tPath, true)
      }
      // sanity: the surviving data must not contain any deleted key
      require(Tables.parquet(spark, dst).filter(col(key).isInCollection(keySet)).isEmpty,
        "surgical delete left deleted keys behind — footer stats lied or rewrite failed")
      writeUtf8(fs, countsFile, s"${touched.size},${untouched.size}")
      // the dir was assembled by hand (copy + rename), so the _SUCCESS
      // layoutFresh keys on must be written explicitly
      writeUtf8(fs, new org.apache.hadoop.fs.Path(dstPath, "_SUCCESS"), "")
      writeMarker(spark, dst, srcFingerprint)
      (touched.size, untouched.size)
    }
  }

  /** [[rowGroupRanges]] memoized per layout GENERATION: the footer walk
    * costs one driver I/O round per file per call, and the sc* layout
    * REQUIREs re-ran it every rep over a tree that can only change when
    * its `_GRAFT_SRC` generation marker does — so the memo keys on
    * (path, column, marker content) and one tiny marker read replaces
    * the N-footer walk on every warm call. A layout rebuilt under a new
    * fingerprint re-walks. */
  private val rangesMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), Seq[(Long, Long)]]

  def rowGroupRangesMemo(path: String, column: String): Seq[(Long, Long)] = {
    val conf = hadoopConf()
    val base = new org.apache.hadoop.fs.Path(path)
    val fs = base.getFileSystem(conf)
    val marker = new org.apache.hadoop.fs.Path(base, "_GRAFT_SRC")
    if (!fs.exists(marker)) rowGroupRanges(path, column)
    else {
      val gen = readUtf8(fs, marker)
      val key = (path, column, gen)
      val hit = rangesMemo.get(key)
      if (hit != null) hit
      else {
        val v = rowGroupRanges(path, column)
        rangesMemo.putIfAbsent(key, v)
        v
      }
    }
  }

  /** Row-group [min, max] statistics of an INT64 column across every
    * part file under `path`, straight from the parquet footers — the
    * metadata a range predicate prunes against. Driver-side metadata
    * read (footers, not data); file counts here are layout-prep sized. */
  def rowGroupRanges(path: String, column: String): Seq[(Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val conf = hadoopConf()
    val base = new org.apache.hadoop.fs.Path(path)
    // Sorted by name: listStatus order is filesystem-dependent, and
    // callers that correlate two columns' ranges (sc6's 2-D overlap
    // check) need both calls to walk row groups in the SAME order.
    val files = base.getFileSystem(conf).listStatus(base).toSeq.map(_.getPath)
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      .sortBy(_.getName)
    files.flatMap { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try reader.getFooter.getBlocks.asScala.toSeq.flatMap { b =>
        b.getColumns.asScala.find(_.getPath.toDotString == column).flatMap { c =>
          val st = c.getStatistics
          if (st == null || !st.hasNonNullValue) None
          else Some((st.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
            st.genericGetMax.asInstanceOf[java.lang.Long].longValue()))
        }
      } finally reader.close()
    }
  }

  /** Publish a staged directory as `dst` by delete + rename. The pair
    * is NOT atomic (FileSystem.rename cannot replace a non-empty dir,
    * so the swap must delete first), which opens a crash window where
    * `dst` is gone while the staged tree still holds the complete
    * result — and any bookkeeping the caller advanced for EARLIER
    * publishes (a verified-files marker) silently lies about state
    * that no longer exists. Callers must run [[recoverPublishedDir]]
    * on entry, BEFORE testing `dst` for existence. */
  private[graft] def publishDirSwap(spark: SparkSession, tmp: String,
                                    dst: String): Unit = {
    val (fs, dstP) = hadoopFs(spark, dst)
    if (fs.exists(dstP)) fs.delete(dstP, true)
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp), dstP),
      s"publish rename $tmp -> $dst failed")
  }

  /** Heal [[publishDirSwap]]'s delete→rename crash window: when `dst`
    * is missing but the staged tree is complete (_SUCCESS present),
    * finish the interrupted rename. Without this, a caller that
    * rebuilds a missing `dst` from scratch would silently drop every
    * increment already merged into the vanished publish — the staged
    * tree IS that merged state, and completing the swap is the only
    * recovery that keeps the caller's already-advanced bookkeeping
    * truthful. Returns true when a recovery happened. */
  private[graft] def recoverPublishedDir(spark: SparkSession, tmp: String,
                                         dst: String): Boolean = {
    val (fs, dstP) = hadoopFs(spark, dst)
    val tmpSuccess =
      new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(tmp), "_SUCCESS")
    if (!fs.exists(dstP) && fs.exists(tmpSuccess)) {
      require(fs.rename(new org.apache.hadoop.fs.Path(tmp), dstP),
        s"recovery rename $tmp -> $dst failed")
      true
    } else false
  }

  /** Join two same-bucketed tables on their bucket key. The caller is
    * asserting the physical layout matches; the plan check lives in the
    * test suite (no Exchange above either scan). */
  def bucketedJoin(spark: SparkSession, leftTable: String, rightTable: String,
                   key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), Seq(key))

  /** Part-file count under `path` (Hadoop FS; _markers excluded) — the
    * small-files metric [[compact]] exists to drive down. */
  def partFileCount(spark: SparkSession, path: String): Int = {
    val (fs, base) = hadoopFs(spark, path)
    fs.listStatus(base).count { st =>
      val name = st.getPath.getName
      st.isFile && name.endsWith(".parquet") && !name.startsWith("_")
    }
  }

  /** Write `df` as exactly `numFiles` part files (repartition — the
    * deliberately-fragmented fixture writer for the compaction demo).
    * Idempotent via the fingerprint marker; the frame is by name. */
  def ensureFragmented(spark: SparkSession, path: String, numFiles: Int,
                       srcFingerprint: String = "")(df: => DataFrame): Boolean =
    if (!layoutFresh(spark, path, srcFingerprint)) {
      df.repartition(numFiles).write.mode("overwrite").parquet(path)
      writeMarker(spark, path, srcFingerprint)
      true
    } else false

  /** Small-file compaction: rewrite `src`'s parquet tree as
    * `targetFiles` part files at `dst` (idempotent via the same
    * fingerprint marker as the other layout preps). coalesce — not
    * repartition — so the rewrite is shuffle-FREE: at 100 TB the
    * compactor must move bytes once (read+write), never twice
    * (read+shuffle+write). The streaming-ingest operational loop:
    * micro-batches land thousands of small files per day; queries pay
    * per-file open/footer cost until a compaction pass rewrites the
    * day, after which scans read a handful of full-size files. */
  def compact(spark: SparkSession, src: String, dst: String,
              targetFiles: Int, srcFingerprint: String = ""): Unit =
    if (!layoutFresh(spark, dst, srcFingerprint)) {
      Tables.parquet(spark, src).coalesce(targetFiles)
        .write.mode("overwrite").parquet(dst)
      writeMarker(spark, dst, srcFingerprint)
    }
}
