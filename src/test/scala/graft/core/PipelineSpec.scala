package graft.core

import graft.SparkSpec
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.{Files, Path}

/** End-to-end flow over a synthesized dirty fraud CSV (FIXTURES.md §A):
  * pass branch, pre-gate fail branch (raw_snapshot then throw), post-gate
  * publish-before-throw, dirty-header asymmetry, CLI exit codes
  * (reference /root/reference/flows/pipeline.py:222-268), per-stage
  * metrics, cache release on every exit path, and the run's job diet.
  */
class PipelineSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** 185 rows: 180 clean (epoch-ms timestamps), 2 duplicates of row 0's
    * composite key, 1 negative amount, 1 null amount, 1 unparseable amount.
    * Pre-gate fails = 3 (negative + null + unparseable — dq_checks coerces
    * amount to numeric BEFORE profiling, pipeline.py:99-101) over 185 ⇒
    * conformity ≈ 0.9838.
    */
  private def writePassCsv(dir: Path): String = {
    val sb = new StringBuilder(
      "timestamp,transaction_type,amount,receiving_address,location_region,risk_score\n")
    val regions = Seq("eu", "us", "0", "None", "")
    (0 until 180).foreach { i =>
      val typ = if (i % 2 == 0) "sale" else " REFUND "
      sb ++= s"${1700000000000L + i * 1000},$typ,${i + 1}.0,addr${i % 20},${regions(i % 5)},0.${i % 9}\n"
    }
    sb ++= s"${1700000000000L},sale,1.0,addr0,eu,0.1\n"   // dup of row 0 key
    sb ++= s"${1700000000000L},sale,1.0,addr0,us,0.2\n"   // dup of row 0 key
    sb ++= s"${1700000500000L},sale,-7.0,addrN,eu,0.3\n"  // negative → pre fail + dropped
    sb ++= s"${1700000600000L},sale,,addrM,eu,0.4\n"      // null amount → pre fail + dropped
    sb ++= s"${1700000700000L},sale,abc,addrX,eu,0.5\n"   // unparseable → coerced null, dropped
    val f = dir.resolve("df_fraud_credit.csv")
    Files.writeString(f, sb.toString)
    f.toString
  }

  test("pass branch: clean, dedup, publish; named single-file CSV exports") {
    val in  = writePassCsv(Files.createTempDirectory("pipe_in"))
    val data = tmp("pipe_data"); val curated = tmp("pipe_curated")
    val res = Pipeline.run(spark, in, data, curated)

    assert(res.dqPre.totalRows == 185)
    assert(res.dqPre.failedRowsEstimate == 3)
    assert(res.dqPre.nulls("amount") == 2) // empty field + unparseable "abc"
    assert(res.dqPre.conformityRate > 0.98 && res.dqPre.conformityRate < 0.99)
    // 185 - 3 bad - 2 dups = 180 staged rows; post profile is fully conformant
    assert(res.staged.count() == 180)
    assert(res.dqPost.failedRowsEstimate == 0)

    // epoch-ms unit detection produced 2023-era timestamps, not 1970/55978
    val yr = res.staged.select(year(col("timestamp"))).distinct().collect().map(_.getInt(0))
    assert(yr.toSeq == Seq(2023))

    // keep-first kept ROW 0's region ("eu"), not a duplicate's ("us")
    val kept = res.staged
      .filter(col("receiving_address") === "addr0" && col("amount") === 1.0)
      .select("location_region").collect().map(_.getString(0))
    assert(kept.toSeq == Seq("eu"))

    // "0"/"None"/"" regions were null-coded: only eu/us survive the region agg
    assert(res.regionRiskAvg.select("location_region").collect()
      .map(_.getString(0)).toSet == Set("eu", "us"))

    // named single-file exports exist as FILES (reference file names)
    assert(new java.io.File(s"$curated/region_risk_avg.csv").isFile)
    assert(new java.io.File(s"$curated/top3_recent_sales_by_receiving.csv").isFile)
    val top3 = Files.readAllLines(
      java.nio.file.Paths.get(s"$curated/top3_recent_sales_by_receiving.csv"))
    assert(top3.get(0) == "receiving_address,amount,timestamp")
    assert(top3.size == 4) // header + top 3
    assert(Files.exists(java.nio.file.Paths.get(s"$data/dq_metrics_pre.json")))
    assert(Files.exists(java.nio.file.Paths.get(s"$data/dq_metrics_post.json")))
  }

  test("pre-gate fail: raw_snapshot published, then QualityGateException") {
    val dir = Files.createTempDirectory("pipe_prefail")
    val sb  = new StringBuilder(
      "timestamp,transaction_type,amount,receiving_address,location_region,risk_score\n")
    (0 until 40).foreach(i => sb ++= s"${1700000000L + i},sale,${i}.0,a$i,eu,0.1\n")
    (0 until 10).foreach(i => sb ++= s"${1700000100L + i},sale,,b$i,eu,0.1\n") // 10 null amounts
    val in = dir.resolve("bad.csv"); Files.writeString(in, sb.toString)
    val data = tmp("pipe_data2"); val curated = tmp("pipe_curated2")

    val e = intercept[Quality.QualityGateException] {
      Pipeline.run(spark, in.toString, data, curated)
    }
    assert(e.getMessage.contains("pre_clean"))
    // inspection artifacts were published BEFORE the throw (pipeline.py:236-247)
    assert(new java.io.File(s"$data/raw_snapshot").isDirectory)
    assert(Files.exists(java.nio.file.Paths.get(s"$data/dq_metrics_pre.json")))
  }

  test("post-gate: publishes results FIRST, then throws") {
    // Cleaning drops every rule-violating row, so post conformity is exactly
    // 1.0 on any input — in the reference too, the post gate only trips via
    // threshold config. Threshold > 1 exercises the publish-then-fail order.
    val in = writePassCsv(Files.createTempDirectory("pipe_in3"))
    val data = tmp("pipe_data3"); val curated = tmp("pipe_curated3")
    intercept[Quality.QualityGateException] {
      Pipeline.run(spark, in, data, curated, minConformityPost = 1.01)
    }
    assert(new java.io.File(s"$data/stg_transactions").isDirectory)
    assert(new java.io.File(s"$curated/region_risk_avg.csv").isFile)
  }

  test("dirty header names: pre-DQ runs on RAW names (trivially passes), clean normalizes") {
    // Pre-clean DQ runs BEFORE name normalization (pipeline.py:232 vs :118):
    // none of the rule columns match " Timestamp "/"AMOUNT", so the pre gate
    // passes even though half the amounts are null. String timestamps take
    // the try_to_timestamp path (T4).
    val dir = Files.createTempDirectory("pipe_hdr")
    val sb = new StringBuilder(
      " Timestamp ,Transaction Type,AMOUNT,Receiving Address,Location Region,Risk Score\n")
    (0 until 20).foreach(i =>
      sb ++= f"2024-01-0${i % 9 + 1} ${i % 24}%02d:00:00,sale,$i.5,a$i,eu,0.1\n")
    (0 until 20).foreach(i =>
      sb ++= f"2024-01-0${i % 9 + 1} ${i % 24}%02d:30:00,sale,,b$i,eu,0.1\n")
    val in = dir.resolve("hdr.csv"); Files.writeString(in, sb.toString)
    val data = tmp("pipe_data4"); val curated = tmp("pipe_curated4")

    val res = Pipeline.run(spark, in.toString, data, curated) // must not throw
    assert(res.dqPre.ruleViolations.isEmpty)                  // no raw column matched
    assert(res.dqPre.nulls.isEmpty)
    assert(res.staged.columns.toSet.contains("transaction_type")) // normalized
    assert(res.staged.count() == 20)                          // null amounts dropped post-normalize
    assert(res.dqPost.totalRows == 20)
  }

  test("CLI exit codes: 0 pass, 1 missing input, 2 gate breach") {
    val in = writePassCsv(Files.createTempDirectory("pipe_cli"))
    assert(PipelineMain.runCli(spark, in, tmp("d0"), tmp("c0"), 0.98, 0.995) == 0)
    assert(PipelineMain.runCli(spark, "/nonexistent/nope.csv",
      tmp("d1"), tmp("c1"), 0.98, 0.995) == 1)
    assert(PipelineMain.runCli(spark, in, tmp("d2"), tmp("c2"), 1.01, 0.995) == 2)
  }

  test("stage metrics: five stages in flow order, row counts from the two profiles") {
    val in = writePassCsv(Files.createTempDirectory("pipe_stages"))
    val seen = scala.collection.mutable.ArrayBuffer.empty[Pipeline.StageMetrics]
    val res = Pipeline.run(spark, in, tmp("ds"), tmp("cs"), onStage = seen += _)
    assert(res.stages == seen.toSeq)
    assert(res.stages.map(_.stage) ==
      Seq("ingest", "dq_pre", "clean", "dq_post", "publish"))
    assert(res.stages.forall(_.wallMs >= 0))
    val by = res.stages.map(m => m.stage -> m).toMap
    assert(by("ingest").rowsOut.contains(185L))
    assert(by("clean").rowsIn.contains(185L) && by("clean").rowsOut.contains(180L))
    assert(by("dq_pre").conformity.contains(res.dqPre.conformityRate))
    assert(by("dq_post").conformity.contains(1.0))
    assert(by("publish").toJson ==
      s"""{"stage": "publish", "wall_ms": ${by("publish").wallMs}, "rows_in": 180, """ +
        """"rows_out": null, "conformity": null}""")
  }

  test("every pipeline cache is released on pass, post-gate throw and failed publish") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val in = writePassCsv(Files.createTempDirectory("pipe_leak"))

    Pipeline.run(spark, in, tmp("dl1"), tmp("cl1"))
    assert(sc.getPersistentRDDs.size == before, "pass run")

    intercept[Quality.QualityGateException] {
      Pipeline.run(spark, in, tmp("dl2"), tmp("cl2"), minConformityPost = 1.01)
    }
    assert(sc.getPersistentRDDs.size == before, "post-gate throw")

    // curatedDir is a regular file: the CSV exports fail after the parquet
    // writes have built every cache
    val notADir = Files.createTempFile("pipe_leak", ".file").toString
    intercept[Exception](Pipeline.run(spark, in, tmp("dl3"), notADir))
    assert(sc.getPersistentRDDs.size == before, "failed publish")
  }

  test("job diet: each stage runs once and no publish write rescans the CSV") {
    val in = writePassCsv(Files.createTempDirectory("pipe_jobs"))
    Pipeline.run(spark, in, tmp("dw"), tmp("cw")) // warm: first-run planning noise
    val sc = spark.sparkContext
    ListenerBusDrain(sc)

    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    object Aqe extends AdaptiveSparkPlanHelper
    val csvWrites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val writes = new java.util.concurrent.atomic.AtomicInteger()
    val qeListener = new QueryExecutionListener {
      // a write's executed plan is AQE-wrapped whole; the helper walks
      // query stages but not into cached relations' build plans
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        Aqe.collect(qe.executedPlan) { case w: DataWritingCommandExec => w }.foreach { w =>
          writes.incrementAndGet()
          val csvScans = Aqe.collect(w.child) {
            case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[CSVFileFormat] => s
          }
          if (csvScans.nonEmpty) csvWrites.add(w.cmd.toString.take(200))
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    try {
      Pipeline.run(spark, in, tmp("dj"), tmp("cj"))
      ListenerBusDrain(sc)
    } finally {
      spark.listenerManager.unregister(qeListener)
      sc.removeSparkListener(jobListener)
    }
    assert(writes.get == 6, "4 parquet tables + 2 CSV exports")
    assert(csvWrites.isEmpty, s"publish writes that rescan the CSV: $csvWrites")
    assert(jobs.get <= MaxJobs, s"${jobs.get} jobs for one pass run")
  }

  /** Jobs of one warm pass run on the 185-row CSV: schema inference, the
    * two DQ aggregates (the second builds the cleaned cache), and the six
    * publish writes, each AQE stage submitted as its own job.
    */
  private val MaxJobs = 20
}
