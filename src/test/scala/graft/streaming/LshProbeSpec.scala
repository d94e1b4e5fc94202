package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.dedup.Dedup

/** The stream computes its minhash bands NARROW (array_min over a
  * per-row transform) while the state writer uses the batch explode +
  * groupBy path — this spec pins that the two formulations produce the
  * SAME band keys, by requiring the streamed candidate set to equal a
  * batch band-equality join built entirely from [[Dedup.bandKeys]]. */
class LshProbeSpec extends SparkSpec {

  test("streamed narrow banding settles to the batch band-join candidate set") {
    val d = "/root/testdata/sf0.001"
    graft.queries.Build.prepare(spark, d, Seq(graft.ops.PersistedState.LshState))
    val got = LshProbe.candidatesOnce(
        spark, d, graft.ops.PersistedState.LshState.name(d))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val docs = graft.Tables.documents(spark, d)
    def sets(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
      explode(Dedup.distinctShingles(col("text"), 2)).as("shingle"))
    val st = Dedup.bandKeys(
      sets(docs.filter(col("doc_id") % 3 =!= 2)), "doc_id", 32, 4)
    val inc = Dedup.bandKeys(
      sets(docs.filter(col("doc_id") % 3 === 2)), "doc_id", 32, 4)
    val ref = st.select(col("doc_id").as("state_id"), col("band_key"))
      .join(inc.select(col("doc_id").as("inc_id"), col("band_key")),
        Seq("band_key"))
      .select("state_id", "inc_id").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(got == ref)
    assert(got.nonEmpty, "fixture produced no collisions — spec is vacuous")

    // The collision-budget knob plumbs through to the static state
    // side: a zero cap drops every bucket (no candidates at all), a
    // huge cap equals the uncapped set.
    val cap0 = LshProbe.candidatesOnce(
      spark, d, graft.ops.PersistedState.LshState.name(d),
      bandBucketCap = Some(0))
    assert(cap0.isEmpty)
    val capBig = LshProbe.candidatesOnce(
        spark, d, graft.ops.PersistedState.LshState.name(d),
        bandBucketCap = Some(Int.MaxValue))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capBig == ref)
  }

  test("watermarked drain: first drain hands back every committed pair, " +
    "an aged re-drain hands back ZERO new files, advance() is what moves " +
    "the marker, and a rolled source fingerprint resets the lineage") {
    val d = "/root/testdata/sf0.001"
    graft.queries.Build.prepare(spark, d, Seq(graft.ops.PersistedState.LshState))
    val state = graft.ops.PersistedState.LshState.name(d)
    val base = SparkSpec.tempDir("graft_wm_probe").toString + "/lineage"
    graft.ops.Generation.resetIfStale(base, "fp-1")

    // Fresh lineage: everything the sink committed is beyond the marker.
    val d1 = LshProbe.candidatesWatermarked(spark, d, state, base)
    val got = d1.newPairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(d1.newFiles.nonEmpty && got.nonEmpty)
    val ref = LshProbe.candidatesOnce(spark, d, state)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == ref, "watermarked first drain != the per-drain candidate set")

    // WITHOUT advance(): a re-drain re-hands the same files (crash
    // between merge and advance ⇒ at-least-once, never lost).
    val dRetry = LshProbe.candidatesWatermarked(spark, d, state, base)
    assert(dRetry.newFiles.toSet == d1.newFiles.toSet,
      "un-advanced marker must re-deliver the same files")
    dRetry.advance()

    // Aged lineage, unchanged source: the drain commits nothing new and
    // the downstream verify gets exactly zero files — per-drain cost
    // rides the increment, not the sink's lifetime accumulation.
    val d2 = LshProbe.candidatesWatermarked(spark, d, state, base)
    assert(d2.newFiles.isEmpty, s"aged re-drain re-delivered ${d2.newFiles}")
    assert(d2.newPairs.isEmpty)

    // Rolled fingerprint: lineage (sink, checkpoint, marker) resets as
    // one unit, so the next drain reprocesses from scratch.
    graft.ops.Generation.resetIfStale(base, "fp-2")
    val d3 = LshProbe.candidatesWatermarked(spark, d, state, base)
    assert(d3.newFiles.nonEmpty &&
      d3.newPairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == ref,
      "reset lineage must reprocess the full source")
    graft.ops.ScaleOps.deleteLocal(new java.io.File(base).getParentFile)
  }

  test("settled-state publish heals the delete→rename crash window — " +
    "previously-merged increments never silently rebuild from the day-1 " +
    "state") {
    val d = "/root/testdata/sf0.001"
    val q = graft.SparkEntry.queries("st_incremental_clusters")
    // First run: drains the sink, merges into settled, advances the
    // verified marker.
    val first = q(spark, d).collect().map(_.toSeq).toSet
    assert(first.nonEmpty)

    val tag = d.replaceAll("[^A-Za-z0-9]+", "_").stripPrefix("_")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val base = new java.io.File(wh, "graft_st_cc_cands_" + tag).toString
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val settled = new org.apache.hadoop.fs.Path(base, "settled")
    val tmp = new org.apache.hadoop.fs.Path(base, "settled_tmp")
    assert(fs.exists(settled), "first run must have published settled state")

    // A complete staged tree beside a live publish is the pre-delete
    // crash shape — recovery must NOT fire (the publish is newer truth).
    fs.mkdirs(tmp)
    assert(!graft.ops.ScaleOps.recoverPublishedDir(spark, tmp.toString,
      settled.toString))
    fs.delete(tmp, true)

    // Simulate a crash INSIDE the publish swap: settled deleted, the
    // staged tree (the complete merged state, _SUCCESS and all) still
    // present — exactly what publishDirSwap leaves when killed between
    // its delete and rename. The marker still lists every drained sink
    // file as merged, so a day-1 rebuild here would be silent data loss.
    require(fs.rename(settled, tmp))
    val again = q(spark, d).collect().map(_.toSeq).toSet
    assert(again == first,
      "post-crash drain must recover the staged merged state, not " +
        "rebuild from the day-1 cluster state")
    assert(fs.exists(settled) && !fs.exists(tmp),
      "recovery must complete the interrupted swap")
  }
}
