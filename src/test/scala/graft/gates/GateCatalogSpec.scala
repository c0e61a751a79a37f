package graft.gates

import org.scalatest.funsuite.AnyFunSuite

import graft.{Bench, GraftQueries, SparkEntry}

/** The gate catalogue's shape, checked without a Spark session or job. */
class GateCatalogSpec extends AnyFunSuite {

  test("the catalogue holds 112 gates under unique names") {
    val names = GraftQueries.gates.map(_.name)
    assert(names.size == 112)
    assert(names.distinct.size == names.size)
  }

  test("every driver query has an oracle and every oracle a query") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == GraftQueries.gates.map(_.name).toSet)
  }

  test("a catalogue with a name written twice fails to build") {
    val g = GraftQueries.gates.head
    val e = intercept[IllegalArgumentException](
      Gate.catalog(Seq(g), Seq(g.copy(oracle = "SELECT 1"))))
    assert(e.getMessage.contains(g.name))
  }

  test("every Bench headline query is a gate") {
    assert(Bench.HeadlineQueries.filterNot(GraftQueries.queries.contains).isEmpty)
  }
}
