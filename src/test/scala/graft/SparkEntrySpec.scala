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

  test("Verify's row list: an unknown name fails by name before any read") {
    val known = SparkEntry.queries.keySet
    assert(Verify.selectRows("q_ann_ivf_topk", known) == Set("q_ann_ivf_topk"))
    val e = intercept[UnknownRowException](
      Verify.selectRows("q_ann_ivf_topk,q_nope,q_ann_ivf_topkk", known))
    assert(e.names == Seq("q_ann_ivf_topkk", "q_nope"))
    assert(e.getMessage.contains("'q_nope'") && e.getMessage.contains("'q_ann_ivf_topkk'"),
      e.getMessage)
  }
}
