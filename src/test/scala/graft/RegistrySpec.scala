package graft

import org.scalatest.funsuite.AnyFunSuite

/** Structural checks on the query registry. `queries` and `oracleSql`
  * are maps built from the registry, so a name registered twice would
  * silently keep one entry; these specs read the registry itself. */
class RegistrySpec extends AnyFunSuite {

  test("registry names are unique") {
    val dups = SparkEntry.registryNames.groupBy(identity)
      .collect { case (name, seen) if seen.size > 1 => name }
    assert(dups.isEmpty, s"registered more than once: ${dups.mkString(", ")}")
  }

  test("every registered query has non-empty oracle SQL") {
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
    val blank = SparkEntry.oracleSql.collect { case (n, sql) if sql.trim.isEmpty => n }
    assert(blank.isEmpty, s"empty oracle SQL: ${blank.mkString(", ")}")
  }
}
