package graft.streaming

import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec
import java.nio.file.Files

/** Measured semantics of `dropDuplicatesWithinWatermark` that
  * [[BoundedDedup]]'s oracle encodes, pinned on a replay where every
  * branch fires. With batches indexed N and wmAfter(k) = max event time
  * of batches 0..k minus the delay:
  *
  *  - a row in batch N is LATE-dropped when its event time is behind
  *    wmAfter(N-2) (the late filter lags eviction by one batch, same as
  *    the windowed-agg path — see LateArrivals);
  *  - otherwise it is suppressed as a duplicate iff its key's state is
  *    live: firstSeenTs + delay >= wmAfter(N-2);
  *  - a re-appearance after expiry is re-emitted (bounded state means
  *    bounded memory AND bounded dedup guarantee — both sides matter);
  *  - suppressed duplicates do NOT extend the state's life (the
  *    expiry is anchored to the FIRST occurrence).
  */
class BoundedDedupSpec extends SparkSpec {
  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("bounded dedup: suppression, expiry re-emission, late drop — exactly per watermark") {
    val schema = "id BIGINT, k STRING, ts_local TIMESTAMP"
    val b0 = df(schema)(Seq(
      Row(1L, "X", ts("2024-01-01 10:00:00")),
      Row(10L, "V", ts("2024-01-01 00:30:00")),
      Row(12L, "U", ts("2024-01-01 01:00:00")),
      Row(2L, "Y", ts("2024-01-03 09:00:00"))))
    // wmAfter(0) = 01-02 09:00; expiries: X 01-02 10:00, V 01-02 00:30,
    // U 01-02 01:00, Y 01-04 09:00
    val spacer = df(schema)(Seq())
    val b2 = df(schema)(Seq(
      Row(3L, "X", ts("2024-01-02 11:00:00")),  // X live (10:00 >= 09:00) -> suppressed
      Row(4L, "Y", ts("2024-01-02 12:00:00")),  // Y live -> suppressed
      Row(5L, "Z", ts("2024-01-02 13:00:00")),  // new key -> emitted
      Row(11L, "V", ts("2024-01-02 14:00:00")), // V expired (00:30 < 09:00) -> RE-emitted
      Row(13L, "U", ts("2024-01-01 02:00:00")))) // U expired BUT row behind wm -> late-dropped
    val b3 = df(schema)(Seq(
      Row(6L, "X", ts("2024-01-06 12:00:00")))) // wmAfter(1) = 01-02 09:00 < X expiry -> suppressed
    val b4 = df(schema)(Seq(
      Row(7L, "X", ts("2024-01-20 12:00:00")),  // wmAfter(2) = 01-02 09:00 < X expiry -> STILL suppressed
      Row(9L, "W", ts("2024-01-20 13:00:00")))) // new key -> emitted
    val b5 = df(schema)(Seq(
      Row(8L, "X", ts("2024-02-15 12:00:00")))) // wmAfter(3) = 01-05 12:00 > X expiry -> RE-emitted
    val staged = LateArrivals.stageBatches(Seq(b0, spacer, b2, b3, b4, b5),
      SparkSpec.tempDir("graft-bdd-spec"))
    val ss = spark.newSession()
    val stream = ss.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(schema))
      .option("pathGlobFilter", "*.parquet")
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.toString)
      .withWatermark("ts_local", "1 day")
      .dropDuplicatesWithinWatermark("k")
    val q = stream.writeStream.format("memory").queryName("bdd_spec")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = ss.table("bdd_spec").collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(1L, 2L, 5L, 8L, 9L, 10L, 11L, 12L))
  }
}
