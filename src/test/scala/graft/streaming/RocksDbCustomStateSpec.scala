package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkSpec
import java.sql.Timestamp

/** RocksDB parity for the CUSTOM-STATE streaming operators.
  * RocksDbStateSpec covers the aggregation-state path (watermark tally);
  * the provider swap is just as load-bearing — and hides different bugs
  * (state encoder round-trips, timeout bookkeeping) — under
  * mapGroupsWithState (st_bottomk_ingest's k-list state) and
  * FlatMapGroupsWithState with event-time timeouts (st_funnel's buffer
  * + flush replay). Settled output under the RocksDB provider must be
  * IDENTICAL to the default provider's, and the provider conf must land
  * only on the operator's cloned stream session. */
class RocksDbCustomStateSpec extends SparkSpec {

  private val rocksConf = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  test("bottom-k mapGroupsWithState: RocksDB == default provider") {
    val d = "/root/testdata/sf0.001"
    // One event_type so groups far exceed k and cross-batch eviction
    // genuinely exercises the state merge (same fixture shape as
    // BottomkIngestSpec).
    val ev = graft.Tables.events(spark, d)
      .select(col("ts"), lit("all").as("event_type"), col("event_id"))
    val staged = SparkSpec.tempDir("graft_bk_rocks_stage").toString
    ev.repartition(4).write.mode("overwrite").parquet(staged)

    def settle(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getDate(0).toString, r.getString(1),
        r.getLong(2), r.getLong(3))).toSet

    val default = BottomkIngest.sampleOnceStaged(spark, staged)
    val rocks = BottomkIngest.sampleOnceStaged(spark, staged,
      extraConf = rocksConf)
    assert(rocks.sparkSession.conf
      .get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDBStateStoreProvider"))
    assert(!spark.conf
      .get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDBStateStoreProvider"))
    val (dS, rS) = (settle(default), settle(rocks))
    assert(dS == rS && dS.nonEmpty)
  }

  test("funnel FlatMapGroupsWithState + event-time timeout: RocksDB == default provider") {
    import FunnelStream._
    def ts(min: Long): Timestamp = new Timestamp(1700000000000L + min * 60000L)
    val stages = Seq("signup", "click", "purchase")
    // The adversarial arrival from FunnelStreamSpec: later stages arrive
    // a micro-batch BEFORE the signup, then the flush sentinel fires the
    // event-time timeouts — buffer state AND timeout timestamps both
    // round-trip through the provider under test.
    val batches: Seq[Seq[Ev]] = Seq(
      Seq(Ev(1L, 3L, ts(90), "purchase"), Ev(1L, 2L, ts(60), "click"),
        Ev(3L, 6L, ts(0), "signup"), Ev(3L, 7L, ts(30), "purchase")),
      Seq(Ev(1L, 1L, ts(0), "signup"), Ev(3L, 8L, ts(60), "click"),
        Ev(2L, 4L, ts(0), "click"), Ev(2L, 5L, ts(30), "signup")),
      Seq(Ev(-1L, -1L, ts(60 * 24 * 10), "flush")))

    def run(name: String, conf: Map[String, String]): Seq[(Long, Long, Long)] = {
      val ss = spark.newSession()
      conf.foreach { case (k, v) => ss.conf.set(k, v) }
      implicit val sqlCtx = ss.sqlContext
      import ss.implicits._
      val input = MemoryStream[Ev]
      val query = reaches(input.toDS(), stages, watermarkMin = 600,
          flushSlackMin = 120)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      try {
        batches.foreach { b => input.addData(b: _*); query.processAllAvailable() }
        ss.table(name).collect()
          .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("stage_no"),
            (r.getAs[Long]("tk_us") - r.getAs[Long]("t0_us")) / 60000000L))
          .sorted.toSeq
      } finally query.stop()
    }

    val default = run("graft_funnel_rocks_d", Map.empty)
    val rocks = run("graft_funnel_rocks_r", rocksConf)
    assert(rocks == default)
    assert(default == Seq((1L, 1L, 0L), (1L, 2L, 60L), (1L, 3L, 90L),
      (2L, 1L, 0L), (3L, 1L, 0L), (3L, 2L, 60L)))
    assert(!spark.conf
      .get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDBStateStoreProvider"))
  }
}
