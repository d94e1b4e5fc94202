package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

class JsonlSourceSpec extends SparkSpec {

  private def writeLines(dir: String, name: String, lines: Seq[String]): Unit = {
    val d = new java.io.File(dir); d.mkdirs()
    Files.write(new java.io.File(d, name).toPath,
      lines.mkString("\n").getBytes("UTF-8"))
  }

  test("inference: types, long+double widening, nested-as-text, null rows") {
    val dir = SparkSpec.tempDir("graft_jsonl_inf").toString
    writeLines(dir, "a.jsonl", Seq(
      """{"k": 1, "s": "x", "d": 2, "b": true, "nested": {"y": 1}}""",
      """{"k": 2, "s": null, "d": 2.5, "b": false, "nested": [1, 2]}"""))
    val df = spark.read.format("graft-jsonl").load(dir)
    val types = df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    assert(types == Map("k" -> "bigint", "s" -> "string", "d" -> "double",
      "b" -> "boolean", "nested" -> "string"))
    val rows = df.orderBy("k").collect()
    assert(rows(0).getAs[String]("nested") == """{"y":1}""")
    assert(rows(1).isNullAt(rows(1).fieldIndex("s")))
  }

  test("inference: a non-widenable type conflict fails loudly") {
    val dir = SparkSpec.tempDir("graft_jsonl_conflict").toString
    writeLines(dir, "a.jsonl", Seq("""{"k": 1}""", """{"k": "one"}"""))
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft-jsonl").load(dir).schema
    }
    assert(e.getMessage.contains("pass an explicit schema"))
  }

  test("explicit schema: INT narrowing works; a lying cell fails loudly") {
    val dir = SparkSpec.tempDir("graft_jsonl_explicit").toString
    writeLines(dir, "a.jsonl", Seq("""{"k": 7, "s": "x"}"""))
    val df = spark.read.format("graft-jsonl")
      .schema(StructType.fromDDL("k INT, s STRING")).load(dir)
    assert(df.collect().map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((7, "x")))
    val bad = spark.read.format("graft-jsonl")
      .schema(StructType.fromDDL("s INT")).load(dir)
    val err = intercept[Exception] { bad.collect() }
    assert(err.getMessage != null)
  }

  test("filter pushdown: accepted filters reach the scan and skip rows " +
    "at the source; missing fields compare as SQL NULL") {
    val dir = SparkSpec.tempDir("graft_jsonl_pd").toString
    writeLines(dir, "a.jsonl", Seq(
      """{"k": 1, "v": 10}""",
      """{"k": 2}""",
      """{"k": 3, "v": 30}"""))
    val df = spark.read.format("graft-jsonl")
      .schema(StructType.fromDDL("k BIGINT, v BIGINT")).load(dir)
    val q = df.filter(col("v") > 15)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []"),
      s"filter not pushed:\n$plan")
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(3L))
    // missing v: IsNull keeps it, IsNotNull drops it
    assert(df.filter(col("v").isNull).collect().map(_.getLong(0)).toSeq == Seq(2L))
    // IN pushdown
    assert(df.filter(col("k").isin(1L, 3L)).count() == 2)
  }

  test("pushed BIGINT comparisons are exact above 2^53 (no double collapse)") {
    // 2^53 and its neighbors collapse onto shared doubles; a pushed
    // filter that compared through doubleValue() would skip matching
    // rows AT THE SOURCE, where Spark's residual re-check cannot
    // resurrect them. The compare must stay integral.
    val dir = SparkSpec.tempDir("graft_jsonl_bigint").toString
    val p53 = 9007199254740992L // 2^53: (double)(2^53) == (double)(2^53+1)
    writeLines(dir, "a.jsonl", Seq(
      s"""{"k": 1, "v": $p53}""",
      s"""{"k": 2, "v": ${p53 + 1}}""",
      s"""{"k": 3, "v": ${Long.MaxValue}}""",
      // beyond 64 bits: parses as BigInteger, must order above any long
      s"""{"k": 4, "v": 18446744073709551616}"""))
    // GreaterThan at 2^53: row 2 (2^53+1) matches, row 1 (2^53) must
    // not. The <= Long.MaxValue conjunct makes the out-of-64-bit row's
    // exclusion happen IN THE PUSHED EVAL (sign path) — it must be
    // skipped at the source, before cell conversion would reject it.
    val dfL = spark.read.format("graft-jsonl")
      .schema(StructType.fromDDL("k BIGINT, v BIGINT")).load(dir)
      .filter(col("v") > p53 && col("v") <= Long.MaxValue).select("k")
    assert(dfL.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    val eq = spark.read.format("graft-jsonl")
      .schema(StructType.fromDDL("k BIGINT, v BIGINT")).load(dir)
      .filter(col("v") === (p53 + 1)).select("k")
    assert(eq.collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("explicit INT/BIGINT schema over an out-of-range integral fails loudly") {
    val dir = SparkSpec.tempDir("graft_jsonl_ovf").toString
    writeLines(dir, "a.jsonl", Seq(s"""{"k": ${Int.MaxValue.toLong + 1}}"""))
    val bad = spark.read.format("graft-jsonl")
      .schema(StructType.fromDDL("k INT")).load(dir)
    val err = intercept[Exception] { bad.collect() }
    assert(err.getMessage.contains("cannot be read as"),
      s"expected loud overflow, got: ${err.getMessage}")
    writeLines(dir, "b.jsonl", Seq("""{"j": 18446744073709551616}"""))
    val badL = spark.read.format("graft-jsonl")
      .schema(StructType.fromDDL("j BIGINT")).load(s"$dir/b.jsonl")
    val errL = intercept[Exception] { badL.collect() }
    assert(errL.getMessage.contains("cannot be read as"))
  }

  test("column pruning reaches the scan (ReadSchema drops unused fields)") {
    val dir = SparkSpec.tempDir("graft_jsonl_prune").toString
    writeLines(dir, "a.jsonl", Seq("""{"k": 1, "s": "x", "unused": 9}"""))
    val q = spark.read.format("graft-jsonl")
      .schema(StructType.fromDDL("k BIGINT, s STRING, unused BIGINT")).load(dir)
      .select("s")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<s:string>"), s"not pruned:\n$plan")
    assert(q.collect().map(_.getString(0)).toSeq == Seq("x"))
  }

  test("a directory of shards reads as one table, one partition per shard") {
    val dir = SparkSpec.tempDir("graft_jsonl_shards").toString
    writeLines(dir, "s0.jsonl", Seq("""{"k": 1}"""))
    writeLines(dir, "s1.jsonl", Seq("""{"k": 2}""", """{"k": 3}"""))
    writeLines(dir, "_meta.json", Seq("""{"ignored": true}""")) // _-prefixed skipped
    val df = spark.read.format("graft-jsonl")
      .schema(StructType.fromDDL("k BIGINT")).load(dir)
    assert(df.rdd.getNumPartitions == 2)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
  }
}
