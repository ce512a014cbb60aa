package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract guards: the correctness gate compares
  * `SparkEntry.queries` against `SparkEntry.oracleSql` by NAME, and the
  * bench keys results by the short id before the first underscore. A
  * query added without an oracle would silently degrade to a rows-only
  * check; a duplicated name would silently drop a query from the Map —
  * both must fail loudly here instead.
  */
class SparkEntrySpec extends AnyFunSuite {

  test("query names are unique and well-formed") {
    val names = SparkEntry.specs.map(_.name)
    assert(names.distinct.size === names.size,
      names.diff(names.distinct).mkString("duplicated: ", ", ", ""))
    names.foreach(n => assert(n.matches("q\\d{2,3}_[a-z0-9_]+"), n))
  }

  test("bench short ids (prefix before '_') stay unique") {
    val shorts = SparkEntry.specs.map(_.name.takeWhile(_ != '_'))
    assert(shorts.distinct.size === shorts.size,
      shorts.diff(shorts.distinct).mkString("colliding: ", ", ", ""))
  }

  test("every gate query ships a DuckDB oracle") {
    val missing = SparkEntry.specs.filter(_.oracle.isEmpty).map(_.name)
    assert(missing.isEmpty,
      s"rows-only (no oracle): ${missing.mkString(", ")}")
    assert(SparkEntry.oracleSql.keySet === SparkEntry.queries.keySet)
  }

  test("oracle SQL never references the staging temp-table names") {
    // a copy-pasted oracle accidentally querying a commit's staging
    // directory or a table's log would pass locally and break when the
    // oracle runs against a fresh output directory
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(!sql.contains("_stage-") && !sql.contains("_log/"), name)
    }
  }
}
