package graft.streaming

import org.apache.spark.sql.Row
import graft.SparkSpec
import java.nio.file.Files

/** Append-mode watermark semantics on a pinned replay: batch 0 (on
  * time) opens day windows and advances the watermark, an empty spacer
  * batch lets the late-event filter catch up to it (Spark filters late
  * events with the PREVIOUS batch's watermark — see LateArrivals), the
  * late batch contains one row late-but-inside the watermark (kept) and
  * one row behind it (dropped), and the far-future flush closes every
  * real window while its own stays open (never emitted). */
class LateDataSpec extends SparkSpec {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("too-late row is dropped exactly per the watermark; in-watermark late row is kept") {
    val schema = "event_id BIGINT, event_type STRING, ts_local TIMESTAMP"
    val b0 = df(schema)(Seq(
      Row(1L, "a", ts("2024-01-01 10:00:00")),
      Row(2L, "a", ts("2024-01-03 09:00:00"))))
    // watermark after b0 = 2024-01-03 09:00 - 1 day = 2024-01-02 09:00
    val spacer = df(schema)(Seq())
    val b1 = df(schema)(Seq(
      // window end 2024-01-02 00:00 <= watermark -> DROPPED
      Row(3L, "a", ts("2024-01-01 23:00:00")),
      // window end 2024-01-03 00:00 > watermark -> kept
      Row(4L, "a", ts("2024-01-02 12:00:00"))))
    val b2 = df(schema)(Seq(Row(99L, "z", ts("2024-01-10 00:30:00"))))

    val staged = LateArrivals.stageBatches(Seq(b0, spacer, b1, b2),
      SparkSpec.tempDir("graft-late-spec"))
    val out = LateArrivals.appendDailyTally(spark, staged.toString, "1 day")
      .collect().map(r => (r.getDate(0).toString, r.getString(1), r.getLong(2)))
      .sortBy(_._1)

    assert(out.toSeq == Seq(
      ("2024-01-01", "a", 1L), // late 23:00 row NOT counted
      ("2024-01-02", "a", 1L), // in-watermark late row counted
      ("2024-01-03", "a", 1L)))
    // The flush window (2024-01-10) is still open when the stream
    // drains, so append mode must not have emitted it.
  }
}
