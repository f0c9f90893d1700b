package graft.core

import graft.plans.GraftExtensions
import org.apache.spark.sql.SparkSession

/** The one place graft builds a SparkSession: every main and the test JVM
  * come through here. It sets master `local[cpus]`, as many shuffle
  * partitions as cores, the UTC session zone, no UI and the WARN log
  * level, and registers graft's extensions on the new session. Sessions
  * graft does not build (an external caller's, such as a benchmark
  * harness's) get the extensions from the `SparkEntry.queries` wrapper
  * instead.
  *
  * Every other Spark key (the AQE partition-sizing keys included) is set
  * the standard way: `--conf` under spark-submit, or a `-Dspark.*` system
  * property on the JVM that builds the session.
  */
object Session {
  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    spark
  }
}
