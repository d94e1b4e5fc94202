package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.WinnowFunctions

/** The SQL FunctionRegistry bridge: registered functions must be the
  * SAME codegen expressions as the Column API (bit-identical results),
  * static parameters must be literals, and registration must be
  * idempotent. */
class SqlFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "a b"), (3L, ""), (4L, "one"))
    .toDF("doc_id", "text")

  private def registered(): Unit = {
    GraftSqlFunctions.register(spark)
    docs.createOrReplaceTempView("sqlspec_docs")
  }

  test("SQL graft_winnow and graft_dot match the Column API") {
    registered()
    val viaSql = spark.sql(
      "SELECT doc_id, graft_winnow(text, 5, 8) AS fp FROM sqlspec_docs")
      .select(col("doc_id"), explode(col("fp")))
      .as[(Long, String)].collect().toSet
    val viaCol = docs.select(col("doc_id"),
      explode(WinnowFunctions.winnowMd5(col("text"), 5, 8)))
      .as[(Long, String)].collect().toSet
    assert(viaSql == viaCol)

    val dot = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .as[Double].head()
    assert(dot == 11.0)
  }

  test("SQL graft_multi_occurrences counts like the marker SQL") {
    registered()
    val got = spark.sql(
      "SELECT doc_id, graft_multi_occurrences(concat(' ', text, ' '), ' the ', ' fox ') AS c " +
        "FROM sqlspec_docs WHERE doc_id = 1")
      .select(element_at(col("c"), 1), element_at(col("c"), 2))
      .as[(Long, Long)].head()
    assert(got == ((2L, 1L)))
  }

  test("static parameters must be integer literals (codegen params)") {
    registered()
    val e = intercept[Exception] {
      spark.sql("SELECT graft_word_shingles(text, doc_id) FROM sqlspec_docs").collect()
    }
    assert(e.getMessage.contains("INTEGER literal") ||
      e.getCause != null && e.getCause.getMessage.contains("INTEGER literal"))
  }

  test("registration is idempotent and extension-class loadable") {
    GraftSqlFunctions.register(spark)
    GraftSqlFunctions.register(spark) // second time must not throw
    // the extensions entry point constructs cleanly (cluster config path)
    assert(new GraftExtensions() != null)
  }
}
