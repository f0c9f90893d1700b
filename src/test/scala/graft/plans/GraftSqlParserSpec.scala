package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.parser.ParseException
import org.apache.spark.sql.functions._

/** The parser extension face: the DEDUP dialect statement end-to-end
  * through a session built with `spark.sql.extensions` (the real
  * `injectParser` path), the runtime-rewrite fallback
  * (`GraftSqlParser.sql`), delegate passthrough for standard SQL, and the
  * grammar's error edges.
  */
class GraftSqlParserSpec extends SparkSpec {
  import spark.implicits._

  private val rows = Seq(
    (1L, "a", "same text"),
    (2L, "b", "same text"),   // dup of 1 — must lose to doc_id 1
    (3L, "a", "unique one"),
    (4L, "c", null.asInstanceOf[String]),
    (5L, "d", null.asInstanceOf[String]), // NULL keys group: 4 survives
    (6L, "b", "another"))

  private def fixture: DataFrame = rows.toDF("doc_id", "source", "text").repartition(3)

  /** Same fixture, owned by `s` (temp views live per-session). */
  private def fixtureOn(s: SparkSession): DataFrame = {
    import s.implicits._
    rows.toDF("doc_id", "source", "text").repartition(3)
  }

  /** The hand-written window idiom the statement must equal. */
  private def expected(df: DataFrame): Set[Seq[Any]] = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .drop("rn").collect().map(_.toSeq).toSet
  }

  /** A session whose parser really came from `injectParser`: the shared
    * test session predates it, so default/active are cleared and a fresh
    * session (same SparkContext) is built through
    * `builder().withExtensions` — the programmatic arm of the
    * SparkSessionExtensions mechanism (the `spark.sql.extensions` conf
    * arm is a STATIC conf, inert once a SparkContext exists, which is
    * exactly why the declared query needs `GraftSqlParser.sql`). The
    * shared session is restored after — suites run sequentially in the
    * forked test JVM, so the swap is invisible to other specs.
    */
  private def withInjectedSession[T](f: SparkSession => T): T = {
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .withExtensions(e => new GraftExtensions().apply(e))
        .getOrCreate()
      assert(s ne shared, "swap must yield a fresh session")
      f(s)
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("injected session parses and runs the DEDUP statement via plain spark.sql") {
    withInjectedSession { s =>
      assert(s.sessionState.sqlParser.isInstanceOf[GraftSqlParser])
      val df = fixtureOn(s)
      df.createOrReplaceTempView("gsp_docs")
      val got = s.sql("DEDUP gsp_docs BY md5(text) ORDER BY doc_id")
        .collect().map(_.toSeq).toSet
      assert(got == expected(df))
      assert(got.exists(_.head == 4L) && !got.exists(_.head == 5L),
        "NULL texts must group together, keeping the smallest doc_id")
    }
  }

  test("injected session still parses standard SQL through the delegate") {
    withInjectedSession { s =>
      fixtureOn(s).createOrReplaceTempView("gsp_docs")
      assert(s.sql("SELECT count(*) AS n FROM gsp_docs").head().getLong(0) == 6L)
      // and the other delegated faces still answer
      assert(s.sessionState.sqlParser.parseMultipartIdentifier("a.b") == Seq("a", "b"))
      assert(s.sessionState.sqlParser.parseDataType("int").typeName == "integer")
    }
  }

  test("GraftSqlParser.sql rewrites on a session without the extension") {
    assert(!spark.sessionState.sqlParser.isInstanceOf[GraftSqlParser])
    val df = fixture
    df.createOrReplaceTempView("gsp_docs")
    val got = GraftSqlParser.sql(spark, "DEDUP gsp_docs BY md5(text) ORDER BY doc_id")
      .collect().map(_.toSeq).toSet
    assert(got == expected(df))
  }

  test("multi-key, DESC order, and trailing semicolon") {
    val df = fixture
    df.createOrReplaceTempView("gsp_docs")
    // keep the LARGEST doc_id per (source, text) group
    val got = GraftSqlParser
      .sql(spark, "DEDUP gsp_docs BY source, md5(text) ORDER BY doc_id DESC;")
      .collect().map(_.toSeq).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), md5(col("text"))).orderBy(col("doc_id").desc)
    val exp = df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .drop("rn").collect().map(_.toSeq).toSet
    assert(got == exp)
  }

  test("backtick-quoted and multipart table identifiers survive the rewrite") {
    val df = fixture
    df.createOrReplaceTempView("gsp_docs")
    val quoted = GraftSqlParser
      .sql(spark, "DEDUP `gsp_docs` BY md5(text) ORDER BY doc_id")
      .collect().map(_.toSeq).toSet
    assert(quoted == expected(df))
    df.createOrReplaceGlobalTempView("gsp_global")
    val multipart = GraftSqlParser
      .sql(spark, "DEDUP global_temp.gsp_global BY md5(text) ORDER BY doc_id")
      .collect().map(_.toSeq).toSet
    assert(multipart == expected(df))
  }

  test("a non-identifier table part raises a ParseException") {
    intercept[ParseException] {
      GraftSqlParser.rewrite(
        "DEDUP (SELECT 1) BY k ORDER BY k", spark.sessionState.sqlParser)
    }
  }

  test("malformed key expressions fail in the delegated parse of the rewrite") {
    fixture.createOrReplaceTempView("gsp_docs")
    intercept[ParseException] {
      GraftSqlParser.sql(spark, "DEDUP gsp_docs BY ,, ORDER BY doc_id").collect()
    }
  }

  test("non-DEDUP text falls through to the delegate untouched") {
    assert(GraftSqlParser.rewrite("SELECT 1", spark.sessionState.sqlParser).isEmpty)
    assert(GraftSqlParser.rewrite(
      "DEDUPLICATE t BY k ORDER BY k", spark.sessionState.sqlParser).isEmpty)
    // keyword as a prefix of an identifier must not trigger
    assert(GraftSqlParser.rewrite(
      "SELECT dedup FROM t", spark.sessionState.sqlParser).isEmpty)
  }

  test("the rewrite composes with the TopKRewrite optimizer face") {
    val df = fixture
    df.createOrReplaceTempView("gsp_docs")
    val prior = spark.conf.getOption("spark.graft.topk.rewrite")
    spark.conf.set("spark.graft.topk.rewrite", "true")
    try {
      val q = GraftSqlParser.sql(spark, "DEDUP gsp_docs BY md5(text) ORDER BY doc_id")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("TopKPerKey"),
        s"the rn=1 rewrite output is exactly TopKRewrite's shape:\n$plan")
      assert(q.collect().map(_.toSeq).toSet == expected(df))
    } finally prior match {
      case Some(v) => spark.conf.set("spark.graft.topk.rewrite", v)
      case None    => spark.conf.unset("spark.graft.topk.rewrite")
    }
  }
}
