package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Adaptive timestamp ingestion (SURVEY §2.3; reference
  * /root/reference/flows/pipeline.py:25-37,130-141).
  *
  * The one genuinely "custom" operator in the reference: a global statistic
  * (median magnitude) picks the epoch unit, then the column converts. The
  * Spark shape is the same: one cheap aggregation decides the rule — its
  * columns ([[Timestamps.ruleAggs]]) can ride another aggregate over the same
  * rows — then a declarative per-row conversion that stays in codegen.
  */
object Timestamps {

  /** T1 — epoch-unit detection: median(abs(numeric values)); thresholds
    * >1e17→ns, >1e14→us, >1e11→ms, else s; empty/all-null→s
    * (pipeline.py:25-37). Approximate median (`percentile_approx`): exact
    * percentile buffers every value per partition — a scale-killer at 100 TB
    * for a statistic that only needs order-of-magnitude accuracy. The
    * approximation returns an actual data value, so it can only differ from
    * the exact median when values straddle a 1000× unit threshold, where the
    * reference's single-unit model is ill-defined anyway.
    */
  def detectEpochUnit(df: DataFrame, colName: String): String =
    detectEpochUnits(df, Seq(colName))(colName)

  /** Multi-column T1 in ONE aggregation job: when several candidate epoch
    * columns need unit detection (r7 probes all four units at once), a
    * per-column `first()` would launch one full scan each — this fuses them
    * into a single pass, which is the only acceptable shape at 100 TB.
    */
  def detectEpochUnits(df: DataFrame, colNames: Seq[String]): Map[String, String] = {
    val row = df.select(colNames.map(c => medianMagnitude(col(c)).as(c)): _*).first()
    colNames.zipWithIndex.map { case (c, i) => c -> unitAt(row, i) }.toMap
  }

  private def medianMagnitude(c: Column): Column =
    percentile_approx(abs(c.try_cast("double")), lit(0.5d), lit(10000))

  /** The T1 thresholds over a median read at `row(i)`; null → s. */
  private def unitAt(row: Row, i: Int): String =
    if (row.isNullAt(i)) "s"
    else {
      val m = row.getDouble(i)
      if (m > 1e17) "ns" else if (m > 1e14) "us" else if (m > 1e11) "ms" else "s"
    }

  /** The decided reference rule for one raw timestamp column
    * (pipeline.py:130-141): `numeric` is T2's "looks numeric" and `unit`
    * is T1's epoch unit, which only the numeric path reads.
    */
  final case class Rule(numeric: Boolean, unit: String)

  private val NonNumericCol = "_ts_non_numeric"
  private val MedianCol     = "_ts_median"

  /** T1 + T2 as two aggregate columns over raw column `c` of type `dt`, so
    * the rule rides any aggregate over the same rows — `Pipeline.run` puts
    * it in the pre-clean DQ profile; [[rule]] runs it alone. Read the
    * aggregate row back with [[ruleOf]].
    *
    * T2: numeric dtype, OR no non-null value fails ^\d+(\.\d+)?$ — a
    * zero count over an empty column is pandas' vacuous `.all()`. T1 is the
    * median of [[detectEpochUnits]]. A column of any other dtype (timestamp,
    * date, boolean) only looks numeric when it is all null, where T1 reads
    * s, so its median is a typed null instead of a cast that may not exist.
    */
  def ruleAggs(c: Column, dt: DataType): Seq[Column] = {
    val nonNumeric = dt match {
      case _: NumericType => lit(0L)
      case _ => count(when(c.isNotNull && !c.cast("string").rlike("^\\d+(\\.\\d+)?$"), 1))
    }
    val median = dt match {
      case _: NumericType | _: StringType => medianMagnitude(c)
      case _                              => lit(null).cast("double")
    }
    Seq(nonNumeric.as(NonNumericCol), median.as(MedianCol))
  }

  /** The rule from a row that carries the [[ruleAggs]] columns. */
  def ruleOf(row: Row): Rule =
    Rule(row.getAs[Long](NonNumericCol) == 0L, unitAt(row, row.fieldIndex(MedianCol)))

  /** T1 + T2 for `colName` in one aggregation job. */
  def rule(df: DataFrame, colName: String): Rule = {
    val aggs = ruleAggs(col(colName), df.schema(colName).dataType)
    ruleOf(df.agg(aggs.head, aggs.tail: _*).first())
  }

  /** T3 — epoch number → TimestampType at the given unit (pipeline.py:137).
    *
    * Integral inputs use exact long arithmetic (pandas keeps int64 → exact);
    * only string/float inputs go through double coercion, mirroring
    * `pd.to_numeric`. This matters for ns epochs: a double only resolves
    * ~256 ns at 2024 magnitudes, so the long path is required for
    * truncation-exact ns→µs.
    */
  def epochToTimestamp(c: Column, unit: String, dt: DataType): Column = {
    val integral = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _                                             => false
    }
    if (integral) {
      // Exact long arithmetic; `div` is SQL integral division (truncating),
      // matching DuckDB's ns→µs truncation bit-for-bit.
      val v = c.cast("long")
      unit match {
        case "s"  => timestamp_seconds(v)
        case "ms" => timestamp_millis(v)
        case "us" => timestamp_micros(v)
        case "ns" => timestamp_micros(call_function("div", v, lit(1000L)))
      }
    } else {
      val n = Normalize.tryNum(c)
      unit match {
        case "s"  => timestamp_seconds(n)
        case "ms" => timestamp_micros((n * 1000).cast("long"))
        case "us" => timestamp_micros(n.cast("long"))
        case "ns" => timestamp_micros((n / 1000).cast("long"))
      }
    }
  }

  /** T4 — string → timestamp with coerce-to-null (pandas
    * `to_datetime(errors="coerce")`; pipeline.py:139). `try_to_timestamp`,
    * NOT `to_timestamp`, which throws under ANSI.
    */
  def stringToTimestamp(c: Column): Column = try_to_timestamp(c)

  /** The full reference rule for a raw timestamp column
    * (pipeline.py:130-141): missing → all-null; numeric-looking → epoch
    * conversion at the detected unit; otherwise string parse with coercion.
    * `decided` is the rule already read off an aggregate over the same rows
    * (see [[ruleAggs]]); without it, [[rule]] runs its own one-job pass.
    */
  def parseTimestampColumn(
      df: DataFrame,
      colName: String = "timestamp",
      decided: Option[Rule] = None): DataFrame =
    if (!df.columns.contains(colName))
      df.withColumn(colName, lit(null).cast("timestamp"))
    else {
      val r = decided.getOrElse(rule(df, colName))
      if (r.numeric)
        df.withColumn(colName, epochToTimestamp(col(colName), r.unit, df.schema(colName).dataType))
      else
        df.withColumn(colName, stringToTimestamp(col(colName).cast("string")))
    }
}
