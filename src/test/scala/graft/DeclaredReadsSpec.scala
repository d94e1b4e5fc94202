package graft

import java.nio.file.Files
import graft.ops.{PersistedState, ScaleOps}
import graft.queries.{Build, Q}

/** A query declares every prepared state its body reads ([[Q]]): each
  * member that declares one runs its BODY over a fresh copy of the
  * in-repo sf0.01 fixture (a never-seen source tag, so no state of this
  * session exists for it) after only its declared states were built.
  * The closure is built first and the families that only its builds
  * read are dropped again, so a body that reads a prepared state it does
  * not declare itself, directly, finds it missing and fails. Members
  * with one declaration share a copy. */
class DeclaredReadsSpec extends SparkSpec {

  private val fixture = "perfbench/data/sf0.01"

  /** Drops `st`'s product over `d`: its catalog table and its path. */
  private def drop(st: PersistedState, d: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `${st.name(d)}`")
    ScaleOps.deleteLocal(new java.io.File(st.path(spark, d)))
  }

  private val groups: Seq[(Seq[PersistedState], Seq[Q])] =
    SparkEntry.registered.filter(_.reads.nonEmpty).groupBy(_.reads.toSet)
      .values.map(qs => (qs.head.reads, qs)).toSeq.sortBy(_._2.head.name)

  groups.foreach { case (reads, members) =>
    test(s"${members.map(_.name).mkString(", ")} read only what they declare") {
      val root = SparkSpec.tempDir("graft-reads")
      Files.list(java.nio.file.Paths.get(fixture)).forEach { f =>
        Files.copy(f, root.resolve(f.getFileName)); ()
      }
      val d = root.toString
      val tag = PersistedState.tagOf(d)
      try {
        val closure = Build.closure(reads)
        closure.foreach(_.run(spark, d))
        closure.map(_.state).filterNot(reads.contains).foreach(drop(_, d))
        members.foreach { q =>
          try q.body(spark, d).write.format("noop").mode("overwrite").save() catch {
            case e: Exception => fail(s"${q.name} failed with its declared states built", e)
          }
        }
      } finally {
        spark.catalog.listTables().collect().filter(_.name.endsWith(tag))
          .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
        Option(new java.io.File(PersistedState.warehouse(spark)).listFiles()).toSeq.flatten
          .filter(_.getName.endsWith(tag)).foreach(ScaleOps.deleteLocal)
        ScaleOps.deleteLocal(root.toFile)
      }
    }
  }
}
