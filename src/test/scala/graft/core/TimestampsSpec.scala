package graft.core

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, StringType}
import java.sql.Timestamp

/** T1–T4 semantics: unit thresholds at the 1e11/1e14/1e17 boundaries,
  * numeric-looking vacuity, exact long ns→µs truncation, string coercion
  * (reference /root/reference/flows/pipeline.py:25-37,130-141), and the
  * one-aggregate rule against the two-job decision it replaced.
  */
class TimestampsSpec extends SparkSpec {
  import spark.implicits._

  private def unitOf(vals: Seq[java.lang.Double]): String =
    Timestamps.detectEpochUnit(vals.toDF("ts"), "ts")

  test("detectEpochUnit thresholds are strict greater-than") {
    assert(unitOf(Seq(1.7e9)) == "s")    // 2023 in seconds
    assert(unitOf(Seq(1e11)) == "s")     // boundary itself: NOT > 1e11
    assert(unitOf(Seq(1.0000001e11)) == "ms")
    assert(unitOf(Seq(1.7e12)) == "ms")  // 2023 in millis
    assert(unitOf(Seq(1e14)) == "ms")
    assert(unitOf(Seq(1.0000001e14)) == "us")
    assert(unitOf(Seq(1.7e15)) == "us")
    assert(unitOf(Seq(1e17)) == "us")
    assert(unitOf(Seq(1.0000001e17)) == "ns")
    assert(unitOf(Seq(1.7e18)) == "ns")  // 2023 in nanos
  }

  test("detectEpochUnit: median over mixed magnitudes; abs() applied") {
    assert(unitOf(Seq(1.7e9, 1.7e9, 1.7e18)) == "s")  // median picks majority
    assert(unitOf(Seq(-1.7e12, -1.7e12, 1.0)) == "ms") // abs before median
  }

  test("detectEpochUnit: empty / all-null defaults to seconds") {
    assert(unitOf(Seq.empty[java.lang.Double]) == "s")
    assert(unitOf(Seq(null.asInstanceOf[java.lang.Double])) == "s")
  }

  test("looksNumeric: numeric dtype, digit strings, vacuous empty") {
    def ln(df: DataFrame) = Timestamps.rule(df, "ts").numeric
    assert(ln(Seq(1L, 2L).toDF("ts")))
    assert(ln(Seq("1700000000", "1700000001.5").toDF("ts")))
    assert(!ln(Seq("2024-01-01", "123").toDF("ts")))
    assert(ln(Seq.empty[String].toDF("ts")))            // pandas .all() vacuity
    assert(ln(Seq(null.asInstanceOf[String]).toDF("ts")))
  }

  /** The decision the one-aggregate rule replaced: an `isEmpty` scan for
    * T2, then (on the numeric path only) a `percentile_approx` job for T1.
    */
  private def twoJobRule(df: DataFrame, c: String): Timestamps.Rule = {
    val numeric = df.schema(c).dataType match {
      case _: NumericType => true
      case _ =>
        df.filter(col(c).isNotNull && !col(c).cast("string").rlike("^\\d+(\\.\\d+)?$")).isEmpty
    }
    Timestamps.Rule(numeric, if (numeric) Timestamps.detectEpochUnit(df, c) else "s")
  }

  private def sameDecision(df: DataFrame): Unit = {
    val got  = Timestamps.rule(df, "ts")
    val want = twoJobRule(df, "ts")
    assert(got.numeric == want.numeric, s"numeric: $got vs $want")
    if (want.numeric) assert(got.unit == want.unit, s"unit: $got vs $want")
  }

  test("one-aggregate rule equals the two-job looksNumeric + detectEpochUnit decision") {
    def d(vals: java.lang.Double*) = vals.toDF("ts")
    // numeric dtype, digit strings, non-numeric strings, vacuous empty
    sameDecision(Seq(1L, 2L).toDF("ts"))
    sameDecision(Seq(-1700000000000L, 5L).toDF("ts")) // negative: still numeric dtype
    sameDecision(Seq("1700000000", "1700000001.5").toDF("ts"))
    sameDecision(Seq("1700000000000", "1700000000001").toDF("ts"))
    sameDecision(Seq("2024-01-01", "123").toDF("ts"))
    sameDecision(Seq.empty[String].toDF("ts"))
    sameDecision(Seq(null.asInstanceOf[String]).toDF("ts"))
    // strict thresholds
    Seq(1.7e9, 1e11, 1.0000001e11, 1.7e12, 1e14, 1.0000001e14, 1.7e15, 1e17,
        1.0000001e17, 1.7e18).foreach(v => sameDecision(d(v)))
    // mixed magnitudes; abs before the median
    sameDecision(d(1.7e9, 1.7e9, 1.7e18))
    sameDecision(d(-1.7e12, -1.7e12, 1.0))
    // all-null and empty → s
    sameDecision(d(null))
    sameDecision(Seq.empty[java.lang.Double].toDF("ts"))
    assert(Timestamps.rule(d(null), "ts") == Timestamps.Rule(numeric = true, "s"))
    // a non-numeric, non-string dtype only looks numeric when all-null
    sameDecision(Seq(Timestamp.valueOf("2024-01-02 03:04:05")).toDF("ts"))
    sameDecision(Seq(null.asInstanceOf[Timestamp]).toDF("ts"))
  }

  test("the rule read off the pre-clean profile under a \" Timestamp \" raw header") {
    val raw = Seq(("1700000000000", "sale", "1.0"), ("1700000001000", "sale", null),
        ("1700000002000", " REFUND ", "-2.0"))
      .toDF(" Timestamp ", "transaction_type", "amount")
    val (dq, row) = Quality.profile(raw, "pre_clean",
      Timestamps.ruleAggs(col(" Timestamp "), StringType))
    assert(dq == Quality.profile(raw, "pre_clean")) // extra columns change nothing
    val fromProfile = Timestamps.ruleOf(row)
    val normalized  = Normalize.normalizeNames(raw)
    assert(fromProfile == Timestamps.Rule(numeric = true, "ms"))
    assert(fromProfile == Timestamps.rule(normalized, "timestamp"))
    assert(fromProfile == twoJobRule(normalized.withColumnRenamed("timestamp", "ts"), "ts"))
    val decided = Timestamps.parseTimestampColumn(normalized, "timestamp", Some(fromProfile))
    val own     = Timestamps.parseTimestampColumn(normalized, "timestamp")
    assert(col0(decided.select(unix_millis(col("timestamp")))) ==
      Seq(1700000000000L, 1700000001000L, 1700000002000L))
    assert(col0(decided.select("timestamp")) == col0(own.select("timestamp")))
  }

  test("epochToTimestamp long paths are exact, ns truncates to µs") {
    val df = Seq(1700000000123456789L).toDF("v")
    def us(unit: String): Long =
      collectSingle[Long](df.select(unix_micros(
        Timestamps.epochToTimestamp(col("v"), unit, df.schema("v").dataType))))
    assert(us("ns") == 1700000000123456L) // exact integral div, not double
    val secs = Seq(1700000000L).toDF("v")
    assert(collectSingle[Long](secs.select(unix_micros(
      Timestamps.epochToTimestamp(col("v"), "s", secs.schema("v").dataType))))
      == 1700000000000000L)
    assert(collectSingle[Long](secs.select(unix_micros(
      Timestamps.epochToTimestamp(col("v"), "ms", secs.schema("v").dataType))))
      == 1700000000000L)
    assert(collectSingle[Long](secs.select(unix_micros(
      Timestamps.epochToTimestamp(col("v"), "us", secs.schema("v").dataType))))
      == 1700000000L)
  }

  test("epochToTimestamp string input goes through numeric coercion") {
    val df = Seq("1700000000", "garbage").toDF("v")
    val out = col0(df.select(unix_micros(
      Timestamps.epochToTimestamp(col("v"), "s", df.schema("v").dataType))))
    assert(out == Seq(1700000000000000L, null))
  }

  test("stringToTimestamp coerces bad strings to null") {
    val df  = Seq("2024-01-02 03:04:05", "not a time").toDF("v")
    val out = col0(df.select(Timestamps.stringToTimestamp(col("v"))))
    assert(out == Seq(Timestamp.valueOf("2024-01-02 03:04:05"), null))
  }

  test("parseTimestampColumn: missing column synthesizes all-null timestamps") {
    val out = Timestamps.parseTimestampColumn(Seq(1).toDF("x"), "timestamp")
    assert(out.schema("timestamp").dataType.typeName == "timestamp")
    assert(out.select("timestamp").collect().head.isNullAt(0))
  }

  test("parseTimestampColumn: numeric column detects unit; string column parses") {
    val num = Timestamps.parseTimestampColumn(Seq(1700000000L).toDF("timestamp"))
    assert(collectSingle[Long](num.select(unix_micros(col("timestamp"))))
      == 1700000000000000L)
    val str = Timestamps.parseTimestampColumn(
      Seq("2024-01-02 03:04:05", "bogus").toDF("timestamp"))
    assert(col0(str.select(col("timestamp")))
      == Seq(Timestamp.valueOf("2024-01-02 03:04:05"), null))
  }
}
