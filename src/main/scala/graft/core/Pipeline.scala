package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference-equivalent end-to-end flow (SURVEY §0, §2.9; reference
  * /root/reference/flows/pipeline.py:222-265):
  *
  *   ingest CSV → DQ pre-gate (on the RAW frame, before name normalization)
  *   → clean & standardize → DQ post-gate → business transforms → publish.
  *
  * The driver program IS the orchestration (no Prefect analog needed): plain
  * function composition, with the gates' publish-before-throw ordering
  * preserved. All transforms are lazy DataFrames, and `run` materializes
  * each stage once:
  *
  *   - ingest: CSV schema inference.
  *   - dq_pre: ONE aggregate over the raw frame, which also decides the
  *     timestamp rule (numeric-looking + epoch unit, [[Timestamps.ruleAggs]])
  *     for the raw column that normalizes to `timestamp`.
  *   - clean: launches nothing when dq_pre decided the timestamp rule (one
  *     job otherwise); it builds the cleaned frame lazily and caches it.
  *   - dq_post: the post-clean aggregate builds that cache, so clean's work
  *     (scan, standardize, dedup) lands inside dq_post.
  *   - publish: every write reads the cached cleaned frame; the region and
  *     last-sale frames, each written twice, are cached on first write.
  *
  * Every cache is released on every exit path, gate throws and failed
  * writes included. [[Result.stages]] carries per-stage wall time and row
  * counts read off the two profiles (no extra Spark action).
  */
object Pipeline {

  /** One stage's wall time and the row counts the profiles already know;
    * `None` where the stage has no such figure.
    */
  final case class StageMetrics(
      stage: String,
      wallMs: Long,
      rowsIn: Option[Long],
      rowsOut: Option[Long],
      conformity: Option[Double]) {
    def toJson: String = {
      def opt(v: Option[Any]) = v.fold("null")(_.toString)
      s"""{"stage": "$stage", "wall_ms": $wallMs, "rows_in": ${opt(rowsIn)}, """ +
        s""""rows_out": ${opt(rowsOut)}, "conformity": ${opt(conformity)}}"""
    }
  }

  final case class Result(
      staged: DataFrame,
      regionRiskAvg: DataFrame,
      lastSalePerAddress: DataFrame,
      top3RecentSales: DataFrame,
      dqPre: Quality.DqMetrics,
      dqPost: Quality.DqMetrics,
      stages: Seq[StageMetrics])

  /** S1 — headered CSV scan with schema inference (pipeline.py:41-47), with
    * input order stamped immediately so keep-first dedup stays faithful.
    * String columns get pandas' default NA tokens null-coded (the reference
    * ingests via pd.read_csv, whose na_values turn "None"/"NULL"/"NaN"/…
    * into NaN BEFORE the pre-clean DQ profile runs — see
    * Normalize.PandasNaTokens; pinned by DifferentialRefSpec).
    */
  def ingestCsv(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(path)
    val naCoded = raw.select(raw.schema.fields.map { f =>
      if (f.dataType == org.apache.spark.sql.types.StringType)
        Normalize.pandasNaToNull(col(f.name)).as(f.name)
      else col(f.name)
    }.toIndexedSeq: _*)
    Dedup.stampIngestOrder(naCoded)
  }

  /** pipeline.py:112-160 — the full clean_and_standardize task. Every access
    * is guarded on column presence; missing timestamp/amount synthesize as
    * all-null (P4). `tsRule` is the timestamp rule when an aggregate over the
    * same rows already decided it; without it the rule costs one job here.
    */
  def clean(df0: DataFrame, tsRule: Option[Timestamps.Rule] = None): DataFrame = {
    var df = Normalize.normalizeNames(df0)

    if (df.columns.contains("receiving_address"))
      df = df.withColumn("receiving_address", Normalize.normAddress(col("receiving_address")))
    if (df.columns.contains("transaction_type"))
      df = df.withColumn("transaction_type", Normalize.normTransactionType(col("transaction_type")))
    if (df.columns.contains("location_region"))
      df = df.withColumn("location_region", Normalize.normRegion(col("location_region")))

    df = Timestamps.parseTimestampColumn(df, "timestamp", tsRule)

    df =
      if (df.columns.contains("amount"))
        df.withColumn("amount", Normalize.tryNum(col("amount")))
      else df.withColumn("amount", lit(null).cast("double"))
    if (df.columns.contains("risk_score"))
      df = df.withColumn("risk_score", Normalize.tryNum(col("risk_score")))

    df = df.na.drop(Seq("timestamp", "transaction_type", "amount").filter(df.columns.contains))
      .filter(col("amount") >= 0)

    Dedup.keepFirstByIngestOrder(df)
  }

  /** A1/O1/F3 — avg risk per region, desc (pipeline.py:178-186). At scale
    * this is a two-phase hash aggregate (map-side partial) + a final sort.
    */
  def regionRiskAvg(staged: DataFrame): DataFrame =
    staged
      .filter(col("location_region").isNotNull)
      .groupBy("location_region")
      .agg(avg("risk_score").as("avg_risk_score"))
      .orderBy(desc("avg_risk_score"))

  /** W1/F4/F5 — latest 'sale' per receiving_address (pipeline.py:189-203).
    * The reference's `order by timestamp desc` is tie-nondeterministic; we
    * stabilize with the ingest id (first-ingested wins ties), which changes
    * nothing when timestamps are unique.
    */
  def lastSalePerAddress(staged: DataFrame): DataFrame = {
    val orderCols =
      if (staged.columns.contains(Dedup.IngestIdCol))
        Seq(col("timestamp").desc, col(Dedup.IngestIdCol).asc)
      else Seq(col("timestamp").desc)
    val w = Window.partitionBy("receiving_address").orderBy(orderCols: _*)
    staged
      .filter(col("transaction_type") === "sale")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("receiving_address", "amount", "timestamp")
  }

  /** O2 — top-3 by amount (pipeline.py:205-211). `orderBy.limit` plans as
    * TakeOrderedAndProject: per-partition top-k + driver merge, no full sort.
    */
  def top3RecentSales(lastSales: DataFrame): DataFrame =
    lastSales.orderBy(desc("amount")).limit(3)

  /** Full flow with both quality gates. `dataDir` receives the DQ JSONs and
    * parquet "tables" (our analog of the reference's results.duckdb);
    * `curatedDir` the two CSV exports (pipeline.py:214-215). Gate failures
    * throw QualityGateException AFTER publishing inspection artifacts,
    * matching pipeline.py:235-261. `onStage` sees each stage's metrics as
    * soon as they are known, so a gate throw still reports the stages run.
    */
  def run(
      spark: SparkSession,
      inputCsv: String,
      dataDir: String,
      curatedDir: String,
      minConformityPre: Double = 0.98,
      minConformityPost: Double = 0.995,
      onStage: StageMetrics => Unit = _ => ()): Result = {

    new java.io.File(dataDir).mkdirs()
    new java.io.File(curatedDir).mkdirs()

    val stages = Seq.newBuilder[StageMetrics]
    def report(m: StageMetrics): Unit = { stages += m; onStage(m) }
    var t = System.nanoTime()
    def lap(): Long = { val now = System.nanoTime(); val ms = (now - t) / 1000000; t = now; ms }

    val raw = ingestCsv(spark, inputCsv)
    val ingestMs = lap()

    // DQ pre-gate runs on the RAW frame — before name normalization, so a
    // CSV with "Timestamp " produces no timestamp rule (pipeline.py:232).
    // The same pass decides clean's timestamp rule on the raw column that
    // normalizes to `timestamp` (same rows, same values); with none or
    // several such columns clean decides it itself.
    val rawCols = raw.drop(Dedup.IngestIdCol)
    val tsAggs = rawCols.columns.filter(c => Normalize.normName(c) == "timestamp") match {
      case Array(c) => Timestamps.ruleAggs(col(c), rawCols.schema(c).dataType)
      case _        => Nil
    }
    val (dqPre, preRow) = Quality.profile(rawCols, "pre_clean", tsAggs)
    val tsRule = if (tsAggs.isEmpty) None else Some(Timestamps.ruleOf(preRow))
    writeString(s"$dataDir/dq_metrics_pre.json", Quality.toJson(dqPre))
    report(StageMetrics("ingest", ingestMs, None, Some(dqPre.totalRows), None))
    report(StageMetrics("dq_pre", lap(), Some(dqPre.totalRows), Some(dqPre.totalRows),
      Some(dqPre.conformityRate)))
    if (dqPre.conformityRate < minConformityPre) {
      // publish a raw snapshot for inspection, THEN fail (pipeline.py:236-247)
      rawCols.write.mode("overwrite").parquet(s"$dataDir/raw_snapshot")
      Quality.gate(dqPre, minConformityPre)
    }

    val staged = clean(raw, tsRule).cache()
    try {
      val cleanMs = lap()
      val dqPost = Quality.profile(staged.drop(Dedup.IngestIdCol), "post_clean")
      writeString(s"$dataDir/dq_metrics_post.json", Quality.toJson(dqPost))
      report(StageMetrics("clean", cleanMs, Some(dqPre.totalRows), Some(dqPost.totalRows), None))
      report(StageMetrics("dq_post", lap(), Some(dqPost.totalRows), Some(dqPost.totalRows),
        Some(dqPost.conformityRate)))

      val (stg, region, last, top3) = publish(staged, dataDir, curatedDir)
      report(StageMetrics("publish", lap(), Some(dqPost.totalRows), None, None))
      Quality.gate(dqPost, minConformityPost) // post-gate publishes FIRST, then fails
      // Result's DataFrames stay valid after the caches go: re-use just
      // recomputes (or, cheaper, re-reads the parquet published above).
      Result(stg, region, last, top3, dqPre, dqPost, stages.result())
    } finally staged.unpersist()
  }

  /** Writes every published table from the cached `staged` frame. `region`
    * and `last` each feed two writes (last via top3), so each is cached on
    * its first write and released before returning or throwing — `last`
    * first, so Spark does not re-plan a cached frame over a parent that has
    * just been uncached.
    */
  private def publish(staged: DataFrame, dataDir: String, curatedDir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val stg    = staged.drop(Dedup.IngestIdCol)
    val region = regionRiskAvg(stg).cache()
    val last   = lastSalePerAddress(staged).drop(Dedup.IngestIdCol).cache()
    try {
      val top3 = top3RecentSales(last)
      stg.write.mode("overwrite").parquet(s"$dataDir/stg_transactions")
      region.write.mode("overwrite").parquet(s"$dataDir/region_risk_avg")
      last.write.mode("overwrite").parquet(s"$dataDir/last_sale_per_address")
      top3.write.mode("overwrite").parquet(s"$dataDir/top3_recent_sales_by_receiving")

      // S4 — single-file headered CSV exports with the reference's exact file
      // names, order baked in (pipeline.py:214-215)
      Io.writeSingleCsv(region, s"$curatedDir/region_risk_avg.csv")
      Io.writeSingleCsv(top3, s"$curatedDir/top3_recent_sales_by_receiving.csv")
      (stg, region, last, top3)
    } finally Seq(last, region).foreach(_.unpersist())
  }

  private def writeString(path: String, s: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), s)
}
