package graft

import org.scalatest.funsuite.AnyFunSuite

/** The sf1 probe table is plain data: building it starts no Spark job. */
class BenchTableSpec extends AnyFunSuite {

  test("sf1 table names registered queries, unique labels and no empty family") {
    val (rows, setups) = Bench.sf1Table("sf", "sf1", docStride = 1L, new Bench.Sf1Out)
    val registered = SparkEntry.queries.keySet
    val unknown = rows.collect { case Bench.Query(_, _, id) if !registered(id) => id }
    assert(unknown.isEmpty, s"ids missing from SparkEntry.queries: $unknown")
    val labels = rows.map(_.label)
    assert(labels.diff(labels.distinct).isEmpty, "labels repeat across the table")
    val empty = (rows.map(_.family) ++ setups.keys).distinct
      .filterNot(f => rows.exists(_.family == f))
    assert(empty.isEmpty, s"families without rows: $empty")
  }
}
