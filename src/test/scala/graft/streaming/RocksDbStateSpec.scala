package graft.streaming

import org.apache.spark.sql.Row
import graft.SparkSpec
import java.nio.file.Files

/** State-store backend for production-sized state: the default
  * HDFS-backed provider keeps every version of every state partition on
  * the executor HEAP — fine for day windows and demo dedup, an OOM at
  * the billions of keys a 100 TB stream accumulates. RocksDB (ships
  * with Spark) keeps state on local disk with block-cache reads. The
  * plans in this package take the provider as session conf through
  * `extraConf`, and the RESULTS must be identical — this spec runs the
  * append-mode watermark tally on both providers and compares. */
class RocksDbStateSpec extends SparkSpec {
  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("RocksDB state store yields identical append-mode results to the default provider") {
    val schema = "event_id BIGINT, event_type STRING, ts_local TIMESTAMP"
    val b0 = df(schema)(Seq(
      Row(1L, "a", ts("2024-01-01 10:00:00")),
      Row(2L, "b", ts("2024-01-03 09:00:00"))))
    val spacer = df(schema)(Seq())
    val b1 = df(schema)(Seq(
      Row(3L, "a", ts("2024-01-01 23:00:00")),
      Row(4L, "a", ts("2024-01-02 12:00:00"))))
    val b2 = df(schema)(Seq(Row(99L, "z", ts("2024-01-10 00:30:00"))))
    val staged = LateArrivals.stageBatches(Seq(b0, spacer, b1, b2),
      SparkSpec.tempDir("graft-rocksdb-spec")).toString

    val default = LateArrivals.appendDailyTally(spark, staged)
    val rocks = LateArrivals.appendDailyTally(spark, staged,
      extraConf = Map("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    // The conf must have landed on the stream's (cloned) session...
    assert(rocks.sparkSession.conf
      .get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDBStateStoreProvider"))
    // ...and never on the caller's.
    assert(!spark.conf
      .get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDBStateStoreProvider"))
    val d = rows(default.orderBy("obs_date", "event_type"))
    val r = rows(rocks.orderBy("obs_date", "event_type"))
    assert(d == r && d.nonEmpty)
  }
}
