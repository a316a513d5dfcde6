package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_ONLY` selection, shared by Bench and Verify: a name that is
  * not a query fails the run instead of selecting nothing. And the query
  * catalog's invariants: the lookups Verify, Bench, the plan tools and the
  * benchmark read are views of the one catalog. Needs no Spark session.
  */
class QuerySelectionSpec extends AnyFunSuite {

  test("no filter selects every query") {
    assert(SparkEntry.select(None).keySet == SparkEntry.queries.keySet)
  }

  test("a filter selects exactly the named queries") {
    val names = Set("mqtt_history", "mqtt_state")
    assert(SparkEntry.select(Some(names)).keySet == names)
  }

  test("an unknown name throws IllegalArgumentException naming it") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.select(Some(Set("mqtt_history", "mqtt_histroy")))
    }
    assert(e.getMessage.contains("mqtt_histroy"), e.getMessage)
  }

  test("an empty filter throws IllegalArgumentException") {
    intercept[IllegalArgumentException](SparkEntry.select(Some(Set.empty)))
  }

  test("catalog names are distinct") {
    val dups = SparkEntry.catalog.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    assert(dups.isEmpty, s"declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
  }

  test("every query has an oracle and every oracle a query") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("eager queries are queries") {
    assert(SparkEntry.eagerQueries.subsetOf(SparkEntry.queries.keySet))
  }

  test("no oracle is blank") {
    val blank = SparkEntry.catalog.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"blank oracle SQL: ${blank.mkString(", ")}")
  }

  test("no filter iterates in the order of queries") {
    assert(SparkEntry.select(None).keys.toSeq == SparkEntry.queries.keys.toSeq)
  }
}
