package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import graft.SparkSpec

/** Compaction of a live streaming file sink: the generation pass must
  * resolve files through the sink log (not the directory), leave the
  * landing and its `_spark_metadata` untouched, compose exactly with
  * batches that commit after the snapshot, and fall back to the plain
  * log read when the pass crashed before its marker. */
class CompactedLandingSpec extends SparkSpec {
  import spark.implicits._

  private def drain(src: String, data: String, ckpt: String): Unit = {
    val q = spark.readStream
      .schema(StructType.fromDDL("id BIGINT, v DOUBLE"))
      .parquet(src)
      .writeStream.format("parquet")
      .option("path", data).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  test("generation ∪ tail is exact; the landing log is never mutated") {
    val base = SparkSpec.tempDir("compact_live").toString
    val src = s"$base/src"; val data = s"$base/data"
    val ckpt = s"$base/ckpt"; val gen = s"$base/gen"

    (0L until 100L).map(i => (i, i * 0.5)).toDF("id", "v")
      .repartition(4).write.mode("append").parquet(src)
    drain(src, data, ckpt)
    val phase1 = CompactedLanding.committedFiles(spark, data)
    assert(phase1.nonEmpty)

    val covered = CompactedLanding.compactGeneration(spark, data, gen, 2)
    assert(covered.toSet == phase1.toSet)
    // The landing's log is append-only for the STREAM alone: the pass
    // added nothing to it and removed nothing from it.
    assert(CompactedLanding.committedFiles(spark, data).toSet == phase1.toSet)
    // Composed read covers all of phase 1, from the generation only.
    assert(CompactedLanding.read(spark, data, gen).count() == 100L)
    // Generation data files honor the target (marker is not data).
    val genFiles = new java.io.File(gen).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(genFiles.length <= 2, s"${genFiles.length} generation files")

    // Phase 2 commits AFTER the snapshot — the live tail.
    (100L until 130L).map(i => (i, i * 0.5)).toDF("id", "v")
      .repartition(2).write.mode("append").parquet(src)
    drain(src, data, ckpt)
    val composed = CompactedLanding.read(spark, data, gen)
    assert(composed.count() == 130L)
    assert(composed.agg(sum($"v")).as[Double].head() ==
      (0L until 130L).map(_ * 0.5).sum)
    // The stream's own exactly-once batch read is untouched: the plain
    // log-resolved read of the landing agrees with the composition.
    assert(spark.read.parquet(data).count() == 130L)
    // Exactly-once composition, row-level: no id lost, none duplicated.
    assert(composed.select("id").distinct().count() == 130L)

    // Crash fallback: a generation without its marker is ignored.
    val gen2 = s"$base/gen2"
    spark.read.parquet(data).limit(10).write.parquet(gen2)
    val fallback = CompactedLanding.read(spark, data, gen2)
    assert(fallback.count() == 130L)
  }

  test("committed files come from the log: a torn orphan parquet stays invisible") {
    val base = SparkSpec.tempDir("compact_torn").toString
    val src = s"$base/src"; val data = s"$base/data"; val ckpt = s"$base/ckpt"
    (0L until 20L).map(i => (i, 1.0)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(src)
    drain(src, data, ckpt)
    // Simulate a torn micro-batch: a data file present in the
    // directory but never committed to the log.
    Seq((999L, 9.9)).toDF("id", "v").coalesce(1)
      .write.parquet(s"$base/orphan")
    val orphan = new java.io.File(s"$base/orphan").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(orphan.toPath,
      java.nio.file.Paths.get(data, "part-orphan.parquet"))
    // Directory listing sees it; the log-resolved snapshot must not.
    assert(new java.io.File(data).listFiles()
      .exists(_.getName == "part-orphan.parquet"))
    val committed = CompactedLanding.committedFiles(spark, data)
    assert(!committed.exists(_.contains("part-orphan")))
    // And the composed read after compaction excludes it too.
    val gen = s"$base/gen"
    CompactedLanding.compactGeneration(spark, data, gen, 1)
    assert(CompactedLanding.read(spark, data, gen).count() == 20L)
  }
}
