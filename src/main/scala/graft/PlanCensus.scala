package graft

/** Round-15 measurement tool (optimization guide §1 / §7.2): one line per
  * declared query with physical-plan shape counts — parquet scans,
  * exchanges, join strategies, plan size — so duplicated-subtree offenders
  * (the x140 class: N references to an unpinned frame re-plan the whole
  * upstream DAG N times) surface as scan counts far above the query's
  * table count. Mostly explain-only — the timed consume never runs — but
  * builders that pin eagerly (PinnedResult forces with count()) do pay
  * their build here, same as under PlanDump.
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 4,
  * read by `core.Session.local`); any other Spark key (the AQE ones
  * included) as a `-Dspark.*` JVM property.
  */
object PlanCensus {
  /** Anchored node-header count: "(n) NodeKind" detail headers,
    * so each column counts exactly one node kind — a bare "Exchange" regex
    * also matched BroadcastExchange/ReusedExchange.
    */
  private def nodes(plan: String, node: String): Int =
    ("""(?m)^\(\d+\) """ + node + """($| )""").r.findAllIn(plan).size

  /** Subquery sections: formatted explain lists each one under a
    * "Subquery:N Hosting operator …" header, never as an "(n) Subquery"
    * node, so `nodes` cannot count them.
    */
  def subqueries(plan: String): Int =
    """(?m)^Subquery:\d+ Hosting operator""".r.findAllIn(plan).size

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Session.local()
    val names = args.toSeq match {
      case Nil => SparkEntry.queries.keys.toSeq.sorted
      case xs  => xs
    }
    println("query\tlines\tscans\texchanges\tsmj\tbhj\tinmem\tsubqueries")
    for (name <- names) {
      val line = try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val p = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Seq(name, p.linesIterator.size, nodes(p, "Scan parquet"),
          nodes(p, "Exchange"), nodes(p, "SortMergeJoin"),
          nodes(p, "BroadcastHashJoin"), nodes(p, "InMemoryTableScan"),
          subqueries(p)).mkString("\t")
      } catch { case e: Throwable =>
        s"$name\tERROR\t${e.getClass.getSimpleName}"
      }
      println(line)
    }
    spark.stop()
  }
}
