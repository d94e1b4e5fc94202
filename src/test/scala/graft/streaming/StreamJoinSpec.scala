package graft.streaming

import org.apache.spark.sql.Row
import graft.SparkSpec
import java.nio.file.Files

/** Cross-batch semantics of the watermarked stream-stream join. */
class StreamJoinSpec extends SparkSpec {
  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("cross-batch match found; post-watermark arrival lost") {
    val cSchema = "click_id BIGINT, user_id BIGINT, click_ts TIMESTAMP"
    val pSchema = "purchase_id BIGINT, p_user_id BIGINT, purchase_ts TIMESTAMP"
    // batch 0: click A arrives, no purchases yet
    val c0 = df(cSchema)(Seq(Row(1L, 1L, ts("2024-01-01 10:00:00"))))
    val p0 = df(pSchema)(Seq())
    // batch 1: purchase within horizon -> must match ACROSS batches
    val c1 = df(cSchema)(Seq())
    val p1 = df(pSchema)(Seq(Row(100L, 1L, ts("2024-01-01 10:30:00"))))
    // batch 2: both watermarks jump 10 days ahead
    val c2 = df(cSchema)(Seq(Row(2L, 2L, ts("2024-01-11 10:00:00"))))
    val p2 = df(pSchema)(Seq(Row(200L, 99L, ts("2024-01-11 10:00:00"))))
    // batch 3: empty spacer — the join's eviction/late watermark lags
    // one batch behind the data that advanced it (same measured
    // behavior as LateArrivals/BoundedDedup)
    val c3 = df(cSchema)(Seq())
    val p3 = df(pSchema)(Seq())
    // batch 4: a purchase for click A, inside the horizon by event time
    // but arriving after the watermark passed -> LOST (late-dropped
    // before it can probe state; A's state is gone by now too)
    val c4 = df(cSchema)(Seq())
    val p4 = df(pSchema)(Seq(Row(101L, 1L, ts("2024-01-01 10:45:00"))))
    val cd = LateArrivals.stageBatches(Seq(c0, c1, c2, c3, c4),
      SparkSpec.tempDir("graft-sj-spec-c"))
    val pd = LateArrivals.stageBatches(Seq(p0, p1, p2, p3, p4),
      SparkSpec.tempDir("graft-sj-spec-p"))
    val out = StreamJoin.joinStaged(spark, cd.toString, pd.toString, 60)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(out == Seq((1L, 100L)))
  }
}
