package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Spark 4 removed the public `Column(Expression)` constructor and
  * `Column.expr`; the supported converters live in
  * `org.apache.spark.sql.classic.ExpressionUtils` but are `private[sql]`.
  * This object sits in the `org.apache.spark.sql` package purely to
  * re-expose those two converters to graft's custom Catalyst expressions.
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a SQL function on an EXISTING session (the extension path
    * `spark.sql.extensions=graft.plans.GraftExtensions` covers new
    * sessions; this covers a session already built, e.g. in tests or a
    * REPL). `sessionState` is `private[sql]`, hence this lives here. */
  def registerFunction(
      spark: SparkSession,
      fd: (org.apache.spark.sql.catalyst.FunctionIdentifier,
           org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
           Seq[Expression] => Expression)): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(fd._1, fd._2, fd._3)

  /** Block until the shared listener bus has delivered every queued
    * event — the synchronization point that makes a
    * QueryExecutionListener-based check (PlanChecks.watchFinalPlans)
    * deterministic to drain. `listenerBus.waitUntilEmpty()` is
    * `private[spark]`, hence this lives here. */
  def flushListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Properties of `table` in the session catalog, or None when the
    * catalog has no such table — ONE catalog lookup, where
    * `spark.catalog.tableExists` plus `SHOW TBLPROPERTIES` statements
    * would each parse, analyze and run a command. The name resolves
    * against the current database, as an unqualified name in SQL does.
    * `sessionState.catalog` is `private[sql]`, hence this lives here. */
  def tableProperties(spark: SparkSession,
                      table: String): Option[Map[String, String]] =
    try Some(spark.asInstanceOf[classic.SparkSession].sessionState.catalog
      .getTableRawMetadata(catalyst.TableIdentifier(table)).properties)
    catch { case _: catalyst.analysis.NoSuchTableException => None }
}
