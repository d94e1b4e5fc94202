package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Streamed HLL register maintenance must settle to the batch sketch
  * ACROSS micro-batch boundaries — events staged one file per trigger,
  * so the register max-merge is exercised on real partial states, not
  * one lucky single-batch drain. */
class HllIngestSpec extends SparkSpec {

  test("staged multi-batch drain settles to the batch estimate rows") {
    val d = "/root/testdata/sf0.001"
    val ev = graft.Tables.events(spark, d)
      .select(col("ts"), col("event_type"), col("user_id"))
    val staged = SparkSpec.tempDir("graft_hll_stage").toString
    // 3 files -> 3 micro-batches under maxFilesPerTrigger=1
    ev.repartition(3).write.mode("overwrite").parquet(staged)

    val got = HllIngest.usersOnceStaged(spark, staged)
      .collect().map(r => (r.getDate(0).toString, r.getString(1),
        r.getLong(2), r.getLong(3))).toSet
    val batch = graft.queries.CorpusQueries.hllPresent(
        graft.queries.CorpusQueries.hllRegisters(ev))
      .collect().map(r => (r.getDate(0).toString, r.getString(1),
        r.getLong(2), r.getLong(3))).toSet
    assert(got == batch)
    assert(got.nonEmpty, "fixture produced no groups — spec is vacuous")
  }
}
