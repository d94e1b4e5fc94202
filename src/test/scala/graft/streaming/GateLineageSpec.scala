package graft.streaming

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.SparkSpec
import graft.dedup.Dedup
import graft.ops.{EntityResolution, PersistedState, ScaleOps}
import graft.queries.Build
import graft.similarity.Similarity

/** The four settled-distinct probe gates drain into one generation-keyed
  * lineage ([[GateLineage]]). On a copy of sf0.01, each gate runs
  * twice: the second call finds its lineage current and starts no
  * stream query, and both calls return the set an independent batch
  * join computes. A changed cap, or a rewritten source file, resets the
  * lineage and the drain reprocesses to the same set, and so does a
  * re-run after either crash of a drain: a lineage left empty without
  * its `_GRAFT_SRC` (a reset that died before the marker write), and a
  * checkpoint holding an offset with no commit. No call leaves an entry
  * in java.io.tmpdir. */
class GateLineageSpec extends SparkSpec {

  /** The in-repo sf0.01 fixture, read only (TablesSchemaSpec's). */
  private val fixture = "perfbench/data/sf0.01"

  private def pairs(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  // Every drain here runs on the shared stream session; the listener
  // counts the queries it starts (reported synchronously by start()) and
  // the micro-batches they commit. A query's termination event follows
  // its progress events on the bus, so waiting for it fences the count.
  private val started = new AtomicInteger
  private val batches = new AtomicInteger
  private val terminated = new AtomicInteger
  private lazy val listening: Unit =
    Gate.session(spark).streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
        started.incrementAndGet(); ()
      }
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        batches.incrementAndGet(); ()
      }
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
        terminated.incrementAndGet(); ()
      }
    })

  /** Runs `gate` (at most one stream query) and returns its collected
    * rows with the number of stream queries it started and of
    * micro-batches they committed. */
  private def drainCounted(gate: => DataFrame): (Set[Seq[Any]], Int, Int) = {
    listening
    val (s0, b0, t0) = (started.get(), batches.get(), terminated.get())
    val out = pairs(gate)
    val starts = started.get() - s0
    val deadline = System.currentTimeMillis() + 30000
    while (terminated.get() - t0 < starts && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    assert(terminated.get() - t0 >= starts, "drain did not report termination")
    (out, starts, batches.get() - b0)
  }

  /** [[drainCounted]] of a gate that must start its stream query. */
  private def drain(gate: => DataFrame): (Set[Seq[Any]], Int) = {
    val (out, starts, b) = drainCounted(gate)
    assert(starts == 1, s"the drain started $starts stream queries, not 1")
    (out, b)
  }

  private def tmpEntries: Set[String] =
    new java.io.File(System.getProperty("java.io.tmpdir")).list().toSet

  test("probe gates: a re-run commits no micro-batch and equals the batch " +
    "join; a rolled source or cap resets the lineage; no temp dir leaks") {
    val root = SparkSpec.tempDir("gate_lineage")
    val d = root.resolve("sf").toString
    Files.createDirectory(root.resolve("sf"))
    Files.list(java.nio.file.Paths.get(fixture)).forEach { f =>
      Files.copy(f, root.resolve("sf").resolve(f.getFileName)); ()
    }
    val tag = PersistedState.tagOf(d)
    try {
      Build.prepare(spark, d, Seq(PersistedState.LshState, PersistedState.SimhashState,
        PersistedState.CosineState, PersistedState.ErKeys))

      val docs = graft.Tables.documents(spark, d)
      val incDoc = col("doc_id") % 3 === 2

      // Independent batch references, one per gate.
      val lshRef = {
        def bands(df: DataFrame) = Dedup.bandKeys(df.select(col("doc_id"),
          explode(Dedup.distinctShingles(col("text"), 2)).as("shingle")),
          "doc_id", 32, 4)
        bands(docs.filter(!incDoc)).select(col("doc_id").as("state_id"), col("band_key"))
          .join(bands(docs.filter(incDoc))
            .select(col("doc_id").as("inc_id"), col("band_key")), Seq("band_key"))
          .select("state_id", "inc_id")
      }
      val simhashRef = {
        val sigs = Dedup.simhashMd5(docs, "doc_id", "text")
        sigs.filter(!incDoc).select(col("doc_id").as("state_id"),
            col("sig_hi").as("h1"), col("sig_lo").as("l1"))
          .crossJoin(sigs.filter(incDoc).select(col("doc_id").as("inc_id"),
            col("sig_hi").as("h2"), col("sig_lo").as("l2")))
          .select(col("state_id"), col("inc_id"),
            Dedup.hammingHiLo(col("h1"), col("l1"), col("h2"), col("l2")).as("hamming"))
          .filter(col("hamming") <= 3)
      }
      val emb = graft.Tables.embeddings(spark, d)
      val cosineRef = {
        val incVec = col("vec_id") % 3 === 2
        def side(df: DataFrame, id: String, v: String, n: String) =
          Dedup.cosineBucketKeys(df, "vec_id", "embedding")
            .join(df.select(col("vec_id"), col("embedding")), Seq("vec_id"))
            .select(col("vec_id").as(id), col("tb_key"), col("embedding").as(v),
              Similarity.l2norm(col("embedding")).as(n))
        side(emb.filter(!incVec), "state_id", "_v1", "_n1")
          .join(side(emb.filter(incVec), "inc_id", "_v2", "_n2"), Seq("tb_key"))
          .select(col("state_id"), col("inc_id"),
            round(Similarity.dot(col("_v1"), col("_v2")) /
              (col("_n1") * col("_n2")), 4).as("cosine"))
          .filter(col("cosine") >= 0.3)
      }
      val erRef = {
        val c = graft.Tables.customer(spark, d)
        def keys(rid: org.apache.spark.sql.Column, name: org.apache.spark.sql.Column) =
          EntityResolution.compositeBlockKeys(col("c_nationkey"),
            EntityResolution.nameDigits(name)).map(bk => struct(rid.as("rid"), bk.as("bkey")))
        val all = c.select(col("c_custkey"), explode(array(
            keys(col("c_custkey") * 2, col("c_name")) ++
              keys(col("c_custkey") * 2 + 1,
                EntityResolution.dirtyNameVariant(col("c_custkey"), col("c_name"))): _*))
            .as("k"))
          .select(col("c_custkey"), col("k.rid"), col("k.bkey"))
          .filter(col("bkey").isNotNull)
        all.filter(col("c_custkey") % 3 =!= 2).select(col("rid").as("state_rid"), col("bkey"))
          .join(all.filter(col("c_custkey") % 3 === 2)
            .select(col("rid").as("inc_rid"), col("bkey")), Seq("bkey"))
          .select("state_rid", "inc_rid")
      }

      type Gate = Option[Int] => DataFrame
      val gates: Seq[(String, String, Gate, DataFrame)] = Seq(
        ("lsh_probe", "documents.parquet", cap => LshProbe.candidatesOnce(
          spark, d, PersistedState.LshState.name(d), bandBucketCap = cap), lshRef),
        ("simhash_probe", "documents.parquet", cap => SimhashProbe.verifiedOnce(
          spark, d, PersistedState.SimhashState.name(d), bucketCap = cap), simhashRef),
        ("cosine_probe", "embeddings.parquet", cap => CosineProbe.verifiedOnce(
          spark, d, PersistedState.CosineState.name(d),
          emb.filter(col("vec_id") % 3 =!= 2), threshold = 0.3, bucketCap = cap),
          cosineRef),
        ("er_probe", "customer.parquet", cap => ErProbe.candidatesOnce(
          spark, d, PersistedState.ErKeys.name(d),
          cap = graft.dedup.StateProbe.windowed(cap)), erRef))

      val tmpBefore = tmpEntries
      gates.foreach { case (name, src, gate, refDf) =>
        val ref = pairs(refDf.distinct())
        assert(ref.nonEmpty, s"$name: fixture produced no pairs — spec is vacuous")

        val (first, b1) = drain(gate(None))
        assert(b1 > 0, s"$name: a fresh lineage must drain its input")
        assert(first == ref, s"$name: settled set != batch join")
        // A current lineage is read as it stands: no stream query starts.
        val (second, n2, b2) = drainCounted(gate(None))
        assert(n2 == 0, s"$name: a current lineage started $n2 stream queries")
        assert(b2 == 0, s"$name: unchanged generation committed $b2 micro-batch(es)")
        assert(second == ref, s"$name: re-run on a current lineage != batch join")

        // A different cap is a different generation (Int.MaxValue never
        // binds, so the set must not move).
        val (capped, b3) = drain(gate(Some(Int.MaxValue)))
        assert(b3 > 0, s"$name: a cap change must reset the lineage")
        assert(capped == ref, s"$name: reset lineage != batch join")

        // A rewritten source (same bytes, new mtime) rolls `len:mtime`.
        val f: Path = root.resolve("sf").resolve(src)
        val copy = root.resolve(src + ".copy")
        Files.copy(f, copy)
        Files.move(copy, f, StandardCopyOption.REPLACE_EXISTING)
        assert(f.toFile.setLastModified(System.currentTimeMillis() + 60000))
        val (rolled, b4) = drain(gate(Some(Int.MaxValue)))
        assert(b4 > 0, s"$name: a rewritten source must reset the lineage")
        assert(rolled == ref, s"$name: rolled source != batch join")
        val lineage = java.nio.file.Paths.get(PersistedState(s"st_$name", Nil).path(spark, d))
        assert(lineage.toFile.isDirectory, s"$name: lineage not under the warehouse")

        // Crash (i): a reset deleted and recreated the lineage but died
        // before recording _GRAFT_SRC — an empty directory.
        ScaleOps.deleteLocal(lineage.toFile)
        Files.createDirectories(lineage)
        val (healed, b5) = drain(gate(Some(Int.MaxValue)))
        assert(b5 > 0, s"$name: a lineage without _GRAFT_SRC must drain its input")
        assert(healed == ref, s"$name: re-run over an empty lineage != batch join")

        // Crash (ii): a drain died after logging its last offset and
        // before committing it — the checkpoint holds an offset with no
        // commit, so the re-run replays that batch.
        val commits = lineage.resolve("ckpt").resolve("commits").toFile
        val last = commits.listFiles().map(_.getName)
          .filter(n => n.nonEmpty && n.forall(_.isDigit)).maxBy(_.toLong)
        Seq(last, s".$last.crc").foreach(n => Files.deleteIfExists(commits.toPath.resolve(n)))
        val (replayed, b6) = drain(gate(Some(Int.MaxValue)))
        assert(b6 > 0, s"$name: an uncommitted offset must be replayed")
        assert(replayed == ref, s"$name: re-run over an uncommitted offset != batch join")
      }
      val leaked = tmpEntries -- tmpBefore
      assert(leaked.isEmpty, s"gate drains left entries in java.io.tmpdir: $leaked")
    } finally {
      // The copy's states and lineages: every warehouse entry tagged
      // with it (tables through the catalog).
      val wh = new java.io.File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
      Option(wh.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith("_" + tag))
        .foreach { e =>
          spark.sql(s"DROP TABLE IF EXISTS `${e.getName}`")
          if (e.exists()) ScaleOps.deleteLocal(e)
        }
      ScaleOps.deleteLocal(root.toFile)
    }
  }

  test("st_upsert and st_scd2_apply keep their work dirs in one lineage: " +
    "a re-run applies no micro-batch, returns the same rows, leaks nothing") {
    val d = fixture
    Seq("st_upsert" -> PersistedState.StUpsert, "st_scd2_apply" -> PersistedState.StScd2Feed)
      .foreach { case (q, lineage) =>
        val run = graft.SparkEntry.queries(q)
        // The first call may build the lineage (and its cached staging).
        val (first, n1, _) = drainCounted(run(spark, d))
        assert(n1 >= 1 && first.nonEmpty, s"$q started no stream or returned no rows")
        val tmpBefore = tmpEntries
        val (second, n2, b) = drainCounted(run(spark, d))
        assert(n2 >= 1, s"$q: re-run started no stream")
        assert(b == 0, s"$q: unchanged staging committed $b micro-batch(es)")
        assert(second == first, s"$q: re-run changed the result")
        assert(tmpEntries == tmpBefore, s"$q: re-run left entries in java.io.tmpdir")
        assert(new java.io.File(lineage.path(spark, d), "ckpt").isDirectory,
          s"$q: work dir is not the lineage $lineage")
      }
  }
}
