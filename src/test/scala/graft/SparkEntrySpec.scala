package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver contract's shape: `queries` and `oracleSql` are built from
  * `allQs` with `.toMap`, so a duplicate row name would silently drop a
  * row (and a generated row table is where a name collision slips in),
  * and every row must carry its DuckDB oracle. */
class SparkEntrySpec extends AnyFunSuite {

  test("board rows: 180 unique names, every one with an oracle") {
    val names = SparkEntry.allQs.map(_.name)
    val dups = names.groupBy(identity).collect { case (n, xs) if xs.size > 1 => n }
    assert(dups.isEmpty, s"duplicate row names: ${dups.mkString(", ")}")
    assert(names.size == 180, s"expected 180 board rows, got ${names.size}")
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet,
      s"rows without an oracle: ${SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet}")
  }
}
