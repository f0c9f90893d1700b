package graft.core

import graft.{SparkEntry, SparkSpec}

/** The two extension-registration points: `Session.local` for sessions
  * graft builds, the `SparkEntry.queries` wrapper for any other session.
  */
class SessionSpec extends SparkSpec {

  test("Session.local: UTC zone, shuffle partitions = cpus, extensions resolve") {
    val s = Session.local("4")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(s.sql("SELECT float_dot(cast(array(1, 2) AS array<float>), " +
      "cast(array(3, 4) AS array<float>))").head().getDouble(0) == 11.0)
  }

  test("a SparkEntry query registers on a fresh session that has nothing registered") {
    import spark.implicits._
    val sf = java.nio.file.Files.createTempDirectory("graft_session_spec").toString
    Seq((1L, "a short one"), (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, null)).toDF("doc_id", "text").write.parquet(s"$sf/documents.parquet")
    val fresh = spark.newSession()
    assert(!fresh.catalog.functionExists("min_window_md5"),
      "a new session must not inherit runtime registrations")
    val q = SparkEntry.queries("x17_fingerprint")
    val onFresh = q(fresh, sf).collect().toSeq
    assert(onFresh.nonEmpty)
    assert(onFresh == q(spark, sf).collect().toSeq)
  }
}
