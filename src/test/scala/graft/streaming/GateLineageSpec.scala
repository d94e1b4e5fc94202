package graft.streaming

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.SparkSpec
import graft.dedup.Dedup
import graft.ops.{EntityResolution, PersistedState, ScaleOps}
import graft.queries.{CorpusQueries, EntityQueries}
import graft.similarity.Similarity

/** The four settled-distinct probe gates drain into one generation-keyed
  * lineage ([[GateLineage]]). On a copy of sf0.01, each gate runs
  * twice: the second call restarts on its checkpoint and commits no
  * micro-batch, and both calls return the set an independent batch
  * join computes. A changed cap, or a rewritten source file, resets the
  * lineage and the drain reprocesses to the same set. No call leaves an
  * entry in java.io.tmpdir. */
class GateLineageSpec extends SparkSpec {

  /** The in-repo sf0.01 fixture, read only (TablesSchemaSpec's). */
  private val fixture = "perfbench/data/sf0.01"

  private def pairs(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  // Every drain here runs on the shared stream session; the listener
  // counts the micro-batches its queries commit. A query's termination
  // event follows its progress events on the bus, so waiting for it
  // fences the count.
  private val batches = new AtomicInteger
  private val terminated = new AtomicInteger
  private lazy val listening: Unit =
    Gate.session(spark).streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        batches.incrementAndGet(); ()
      }
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
        terminated.incrementAndGet(); ()
      }
    })

  /** Runs `gate` (one stream query) and returns its collected rows with
    * the number of micro-batches the query committed. */
  private def drain(gate: => DataFrame): (Set[Seq[Any]], Int) = {
    listening
    val (b0, t0) = (batches.get(), terminated.get())
    val out = pairs(gate)
    val deadline = System.currentTimeMillis() + 30000
    while (terminated.get() == t0 && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    assert(terminated.get() > t0, "drain did not report termination")
    (out, batches.get() - b0)
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
      CorpusQueries.prepareLshState(spark, d)
      CorpusQueries.prepareSimhashState(spark, d)
      CorpusQueries.prepareCosineState(spark, d)
      EntityQueries.prepareErState(spark, d)

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
          spark, d, PersistedState.ErKeys.name(d), blockCap = cap), erRef))

      val tmpBefore = tmpEntries
      gates.foreach { case (name, src, gate, refDf) =>
        val ref = pairs(refDf.distinct())
        assert(ref.nonEmpty, s"$name: fixture produced no pairs — spec is vacuous")

        val (first, b1) = drain(gate(None))
        assert(b1 > 0, s"$name: a fresh lineage must drain its input")
        assert(first == ref, s"$name: settled set != batch join")
        val (second, b2) = drain(gate(None))
        assert(b2 == 0, s"$name: unchanged generation committed $b2 micro-batch(es)")
        assert(second == first, s"$name: re-run changed the settled set")

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
        assert(new java.io.File(PersistedState(s"st_$name", Nil).path(spark, d)).isDirectory,
          s"$name: lineage not under the warehouse")
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
        val (first, _) = drain(run(spark, d))
        assert(first.nonEmpty, s"$q returned no rows")
        val tmpBefore = tmpEntries
        val (second, b) = drain(run(spark, d))
        assert(b == 0, s"$q: unchanged staging committed $b micro-batch(es)")
        assert(second == first, s"$q: re-run changed the result")
        assert(tmpEntries == tmpBefore, s"$q: re-run left entries in java.io.tmpdir")
        assert(new java.io.File(lineage.path(spark, d), "ckpt").isDirectory,
          s"$q: work dir is not the lineage $lineage")
      }
  }
}
