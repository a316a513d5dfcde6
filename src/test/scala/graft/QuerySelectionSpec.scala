package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_ONLY` selection, shared by Bench and Verify: a name that is
  * not a query fails the run instead of selecting nothing.
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
}
