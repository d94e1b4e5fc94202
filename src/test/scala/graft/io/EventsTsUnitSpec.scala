package graft.io

import graft.SparkSpec
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

/** The driver's data generator has shipped `events.ts` as INT64
  * TIMESTAMP(NANOS) (rounds 1-8) and TIMESTAMP(MICROS) (round 9's
  * regen) — the regen silently broke 23 queries because the loader
  * assumed nanos. [[graft.Tables.eventsTsUnit]] now sniffs the footer;
  * this spec writes one tiny events file per unit (via parquet-hadoop's
  * example writer — Spark itself cannot write NANOS) and proves all
  * three encodings decode to the SAME instants, so the next unit flip
  * is a no-op instead of a silent 1000x timestamp compression. */
class EventsTsUnitSpec extends SparkSpec {

  private def writeEvents(dir: java.io.File,
                          unit: LogicalTypeAnnotation.TimeUnit,
                          rawTs: Seq[Long]): Unit = {
    val schema = Types.buildMessage()
      .addField(Types.optional(PrimitiveTypeName.INT64).named("event_id"))
      .addField(Types.optional(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(false, unit)).named("ts"))
      .addField(Types.optional(PrimitiveTypeName.INT64).named("user_id"))
      .addField(Types.optional(PrimitiveTypeName.BINARY)
        .as(LogicalTypeAnnotation.stringType()).named("event_type"))
      .addField(Types.optional(PrimitiveTypeName.DOUBLE).named("value"))
      .addField(Types.optional(PrimitiveTypeName.BINARY)
        .as(LogicalTypeAnnotation.stringType()).named("props"))
      .named("spark_schema")
    val path = new org.apache.hadoop.fs.Path(
      new java.io.File(dir, "events.parquet").toString)
    val writer = ExampleParquetWriter.builder(path).withType(schema).build()
    val gf = new SimpleGroupFactory(schema)
    try rawTs.zipWithIndex.foreach { case (v, i) =>
      val g = gf.newGroup()
      g.add("event_id", i.toLong)
      g.add("ts", v)
      g.add("user_id", i.toLong % 3)
      g.add("event_type", "click")
      g.add("value", 1.0)
      g.add("props", "{}")
      writer.write(g)
    } finally writer.close()
  }

  test("NANOS, MICROS and MILLIS ts encodings all decode to the same instants") {
    // 2024-01-15T10:00:00Z and 11:00:00Z, expressed in micros.
    val micros = Seq(1705312800000000L, 1705316400000000L)
    val cases = Seq(
      (LogicalTypeAnnotation.TimeUnit.NANOS, micros.map(_ * 1000L), "NANOS"),
      (LogicalTypeAnnotation.TimeUnit.MICROS, micros, "MICROS"),
      (LogicalTypeAnnotation.TimeUnit.MILLIS, micros.map(_ / 1000L), "MILLIS"))
    cases.foreach { case (unit, raw, name) =>
      val dir = SparkSpec.tempDir(s"graft-tsunit-$name").toFile
      try {
        writeEvents(dir, unit, raw)
        assert(graft.Tables.eventsTsUnit(spark, dir.toString) == name)
        val got = graft.Tables.events(spark, dir.toString)
          .selectExpr("CAST(ts AS STRING) AS s")
          .orderBy("s").collect().map(_.getString(0)).toSeq
        assert(got == Seq("2024-01-15 10:00:00", "2024-01-15 11:00:00"),
          s"unit=$name")
      } finally graft.ops.ScaleOps.deleteLocal(dir)
    }
  }

  test("directory-form events.parquet: unit sniffed from the first part file, " +
    "cache keyed by that file") {
    // events.parquet as a DIRECTORY tree (the cluster-scale layout):
    // a partition subdirectory holds the part file, _SUCCESS and a
    // _spark_metadata-style underscore entry must be skipped, and the
    // unit must come from the nested footer.
    val root = SparkSpec.tempDir("graft-tsunit-dir").toFile
    try {
      val tree = new java.io.File(root, "events.parquet/day=2024-01-15")
      java.nio.file.Files.createDirectories(tree.toPath)
      java.nio.file.Files.createFile(
        new java.io.File(root, "events.parquet/_SUCCESS").toPath)
      val micros = Seq(1705312800000000L)
      // write the part file via the same writer, then move it into the tree
      val scratch = SparkSpec.tempDir("graft-tsunit-scratch").toFile
      writeEvents(scratch, LogicalTypeAnnotation.TimeUnit.MICROS, micros)
      java.nio.file.Files.move(
        new java.io.File(scratch, "events.parquet").toPath,
        new java.io.File(tree, "part-00000.parquet").toPath)
      graft.ops.ScaleOps.deleteLocal(scratch)
      assert(graft.Tables.eventsTsUnit(spark, root.toString) == "MICROS")
    } finally graft.ops.ScaleOps.deleteLocal(root)
  }

  test("ts-conversion loader does not block column pruning: a props-only " +
    "query's scan ReadSchema excludes ts") {
    // Tables.events always layers `withColumn(ts, <unit conversion>)`
    // over the raw scan; Catalyst's ColumnPruning must still collapse
    // that project away for queries that never touch ts — otherwise
    // every events query pays the timestamp column's IO forever.
    import org.apache.spark.sql.functions._
    val plan = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy(get_json_object(col("props"), "$.k").cast("long").as("k"))
      .agg(count(lit(1)).as("n"))
      .queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("ReadSchema: struct<props:string>"),
      s"events scan must read ONLY props for a props-only query; got: $readSchema")
  }

  test("unannotated INT64 ts with an all-null first row group raises the " +
    "explicit diagnostic, not an NPE") {
    // No timestamp annotation forces the stats-magnitude fallback; an
    // all-null row group has stats with hasNonNullValue=false, so
    // genericGetMax is null — the sniffer must surface the 'cannot
    // determine the time unit' IllegalStateException.
    val dir = SparkSpec.tempDir("graft-tsnull").toFile
    try {
      val schema = Types.buildMessage()
        .addField(Types.optional(PrimitiveTypeName.INT64).named("event_id"))
        .addField(Types.optional(PrimitiveTypeName.INT64).named("ts"))
        .named("spark_schema")
      val path = new org.apache.hadoop.fs.Path(
        new java.io.File(dir, "events.parquet").toString)
      val writer = ExampleParquetWriter.builder(path).withType(schema).build()
      val gf = new SimpleGroupFactory(schema)
      try (0 until 3).foreach { i =>
        val g = gf.newGroup()
        g.add("event_id", i.toLong) // ts never added -> all-null column
        writer.write(g)
      } finally writer.close()
      val e = intercept[IllegalStateException] {
        graft.Tables.eventsTsUnit(spark, dir.toString)
      }
      assert(e.getMessage.contains("cannot determine the time unit"))
    } finally graft.ops.ScaleOps.deleteLocal(dir)
  }

  test("the live testdata unit is sniffed, not assumed") {
    // Whatever the driver generated THIS round, the loader must agree
    // with DuckDB-visible instants: 10k events spanning a month, not
    // the 1000x-compressed single day the r9 regression produced.
    val d = "/root/testdata/sf0.001"
    val days = graft.Tables.events(spark, d)
      .selectExpr("CAST(count(DISTINCT CAST(ts AS DATE)) AS LONG) AS n")
      .collect().head.getLong(0)
    assert(days >= 25, s"events collapsed to $days distinct days — ts unit misread")
  }
}
