package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Manual smoke driver: exercises the library surface on sf0.001 the way a
  * user would (geocode via the codegen PointInPolygon expression, pivots,
  * hellinger, dedup sketches). Run: `sbt "runMain graft.Smoke"`. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    import graft.spatial.{Poly, Spatial}
    // Synthesize lon/lat from events and geocode against two boxes + a triangle.
    val ev = Tables.events(spark, sfDir)
      .withColumn("lon", (col("value") % 3.6) * 100 - lit(180.0))
      .withColumn("lat", (col("event_id") % 180) - lit(90.0))
    val areas = Seq(
      "east_box" -> Spatial.bboxPoly(-60.005, -30.5, 60.005, 30.5),
      "north_tri" -> Poly(Seq((-180.0, 30.5), (180.0, 30.5), (0.0, 90.0), (-180.0, 30.5))))
    val geo = ev.withColumn("location",
      Spatial.geocode(col("lon"), col("lat"), areas, "WA"))
    println("== geocode counts ==")
    geo.groupBy("location").count().orderBy("location").show(false)
    println("== geocode plan (codegen check) ==")
    geo.select("location").explain("formatted")

    import graft.ops.PivotOps
    val tallied = PivotOps.tally(ev, Seq("event_type"))
    val wide = PivotOps.spreadFill0(
      PivotOps.tally(ev, Seq("user_id", "event_type")),
      Seq("user_id"), "event_type", "n",
      Seq("click", "view", "purchase", "signup", "error"))
    val hel = PivotOps.hellinger(wide, Seq("click", "view", "purchase", "signup", "error"))
    println("== hellinger (row sums of squares must be 1) ==")
    hel.select((Seq("click", "view", "purchase", "signup", "error")
        .map(c => col(c) * col(c)).reduce(_ + _)).as("sumsq"))
      .agg(min("sumsq"), max("sumsq")).show(false)
    tallied.show(false)

    import graft.dedup.Dedup
    println("== simhash sample ==")
    Dedup.simhashMd5(Tables.documents(spark, sfDir), "doc_id", "text").show(3, false)

    import graft.similarity.Similarity
    println("== cosineTopK sample ==")
    val emb = Tables.embeddings(spark, sfDir)
    Similarity.cosineTopK(
      emb.filter(col("vec_id") < 3).withColumnRenamed("vec_id", "qid").withColumnRenamed("embedding", "qv"),
      emb, "qid", "vec_id", "qv", "embedding", 3).show(false)

    spark.stop()
  }
}
