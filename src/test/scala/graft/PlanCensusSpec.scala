package graft

import org.apache.spark.sql.execution.ExplainMode

/** The census's subquery counter reads the formatted-explain layout. */
class PlanCensusSpec extends SparkSpec {

  test("the subqueries column counts scalar subqueries, and only them") {
    def subqueries(sql: String): Int = PlanCensus.subqueries(
      spark.sql(sql).queryExecution.explainString(ExplainMode.fromString("formatted")))
    assert(subqueries("select (select max(id) from range(3)) from range(2)") >= 1)
    assert(subqueries("select id from range(2)") == 0)
  }
}
