package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{Catalog, Query}

/** The query registry: each query is declared once with its oracle, and
  * a catalog with a duplicate name or a blank oracle fails to build
  * with an error that names the query.
  */
class CatalogSpec extends AnyFunSuite {
  private def q(name: String, oracle: String = "SELECT 1"): Query =
    Query(name, (s, _) => s.emptyDataFrame, oracle)

  test("a catalog with a duplicate query name fails, naming it") {
    val e = intercept[IllegalArgumentException](Catalog(Seq(q("q01_a"), q("q02_b"), q("q01_a", "SELECT 2"))))
    assert(e.getMessage.contains("q01_a") && !e.getMessage.contains("q02_b"), e.getMessage)
  }

  test("a catalog with a blank oracle fails, naming the query") {
    val e = intercept[IllegalArgumentException](Catalog(Seq(q("q01_a"), q("q02_b", " \n "))))
    assert(e.getMessage.contains("q02_b") && !e.getMessage.contains("q01_a"), e.getMessage)
  }

  test("the declared catalog holds 198 distinct queries, one oracle each") {
    val names = Catalog.declared.queries.map(_.name)
    assert(names.size == 198 && names.distinct.size == 198)
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == names.toSet)
    assert(SparkEntry.oracleSql.values.forall(_.trim.nonEmpty))
  }

  test("Probe selects by prefix and fails naming a prefix that matches nothing") {
    val names = Seq("q113_pagerank", "q140_hits", "q14_x")
    assert(Probe.select(names, Seq("q14")) == Seq("q140_hits", "q14_x"))
    assert(Probe.select(names, Nil) == names.sorted)
    val e = intercept[IllegalArgumentException](Probe.select(names, Seq("q113", "q999_typo")))
    assert(e.getMessage.contains("q999_typo") && !e.getMessage.contains("q113"), e.getMessage)
  }
}
