package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.PersistedState
import graft.queries.Build

/** Structural checks on the query registry. `queries` and `oracleSql`
  * are maps built from the registry, so a name registered twice would
  * silently keep one entry; these specs read the registry itself. The
  * prepared-state checks read the declarations only and run no Spark
  * job. */
class RegistrySpec extends AnyFunSuite {

  test("registry names are unique") {
    val dups = SparkEntry.registered.map(_.name).groupBy(identity)
      .collect { case (name, seen) if seen.size > 1 => name }
    assert(dups.isEmpty, s"registered more than once: ${dups.mkString(", ")}")
  }

  test("every registered query has non-empty oracle SQL") {
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
    val blank = SparkEntry.oracleSql.collect { case (n, sql) if sql.trim.isEmpty => n }
    assert(blank.isEmpty, s"empty oracle SQL: ${blank.mkString(", ")}")
  }

  test("every declared prepared family is a registered PersistedState family") {
    val declared = SparkEntry.registered.flatMap(q => q.reads.map(q.name -> _)) ++
      Build.all.flatMap(b => (b.state +: b.reads).map(s"build of ${b.state.family}" -> _))
    val unknown = declared.filterNot { case (_, st) => PersistedState.all.contains(st) }
    assert(unknown.isEmpty, s"not in PersistedState.all: ${unknown.mkString(", ")}")
  }

  test("each prepared family has exactly one build") {
    val counts = Build.all.groupBy(_.state).map { case (st, bs) => st.family -> bs.size }
    assert(counts.filter(_._2 != 1).isEmpty, s"families with several builds: $counts")
    val read = (SparkEntry.registered.flatMap(_.reads) ++ Build.all.flatMap(_.reads)).toSet
    val unbuilt = read.filterNot(st => Build.all.exists(_.state == st))
    assert(unbuilt.isEmpty, s"declared but never built: ${unbuilt.map(_.family)}")
  }

  test("build dependencies are acyclic and each build follows the builds it reads") {
    val order = Build.closure(Build.all.map(_.state)).map(_.state)
    assert(order.toSet == Build.all.map(_.state).toSet)
    Build.all.foreach(b => b.reads.foreach(r =>
      assert(order.indexOf(r) < order.indexOf(b.state),
        s"${b.state.family} is built before ${r.family}, which it reads")))
  }

  test("SparkEntry.prepare builds exactly the union of the registry's closures") {
    val prepared = SparkEntry.prepared.map(_.state)
    val union = SparkEntry.registered.flatMap(q => Build.closure(q.reads)).map(_.state).toSet
    assert(prepared.distinct == prepared, "a build runs twice")
    assert(prepared.toSet == union)
    // No build that no query reads.
    assert(union == Build.all.map(_.state).toSet,
      s"builds no query reads: ${Build.all.map(_.state).filterNot(union).map(_.family)}")
  }
}
