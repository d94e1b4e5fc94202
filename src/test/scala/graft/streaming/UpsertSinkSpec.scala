package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec
import java.nio.file.Files

final case class Rec(id: Long, v: String)

class UpsertSinkSpec extends SparkSpec {

  test("foreachBatch upsert lands overlapping batches exactly once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft_upsert")
    val target = dir.resolve("target").toString

    val input = MemoryStream[Rec]
    input.addData(Rec(1, "a"), Rec(2, "b"))
    val q1 = UpsertSink.start(input.toDS(), target, "id", dir.resolve("cp1").toString)
    q1.awaitTermination()

    // overlapping replay: id 2 again (changed payload must NOT overwrite), new id 3
    input.addData(Rec(2, "b-replayed"), Rec(3, "c"))
    val q2 = UpsertSink.start(input.toDS(), target, "id", dir.resolve("cp1").toString)
    q2.awaitTermination()

    val got = rows(spark.read.parquet(target).orderBy("id"))
    assert(got == Seq(Seq(1L, "a"), Seq(2L, "b"), Seq(3L, "c")))

    // full replay from scratch (fresh checkpoint): still exactly once
    val input2 = MemoryStream[Rec]
    input2.addData(Rec(1, "a"), Rec(2, "b"), Rec(3, "c"))
    val q3 = UpsertSink.start(input2.toDS(), target, "id", dir.resolve("cp2").toString)
    q3.awaitTermination()
    assert(spark.read.parquet(target).count() == 3)
  }

  test("upsertBatch recovers when the target dir exists but holds no parquet") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft_upsert_empty")
    val target = dir.resolve("target")
    // Simulate a crashed first write: directory created, no data committed.
    Files.createDirectories(target.resolve("_temporary"))
    UpsertSink.upsertBatch(Seq(Rec(1, "a")).toDF(), target.toString, "id")
    assert(spark.read.parquet(target.toString).count() == 1)
  }
}
