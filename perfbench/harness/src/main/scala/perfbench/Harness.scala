package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import java.lang.management.{ManagementFactory, MemoryType}
import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side. It reads a plan (JSON) written by run.py,
  * drives the engine only through its public calls (`Pipeline.run`, the
  * `SparkEntry.queries` functions, `Bench.consume`, `MemoMeter.snapshot`)
  * and writes raw observations (JSON) that run.py turns into metrics:
  *
  *   setup   - fresh sessions, one after another: creation time and
  *             first-job time of each
  *   cold    - the first pass over the workload in this JVM, timed; each
  *             query writes its result as one parquet file (the sink the
  *             repository's correctness dump uses), which run.py checks
  *   window  - whole passes (at least three) until the plan's seconds
  *             have elapsed; in a traced run, passes alternate
  *             untraced/traced and the traced ones also record Spark
  *             listener events per operation
  *
  * Times are epoch milliseconds with sub-millisecond precision, on the same
  * clock as Spark's listener event times.
  */
object Harness {
  private val om = new ObjectMapper()
  private val nanoOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowMs(): Double = (System.nanoTime() + nanoOffset) / 1e6

  def main(args: Array[String]): Unit = {
    val plan = om.readTree(new java.io.File(args(0)))
    val out = om.createObjectNode()
    val workload = plan.get("workload").asText
    val cores = plan.get("cores").asInt
    val work = plan.get("work_dir").asText

    def session(): SparkSession = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()

    val setups = out.putArray("setup")
    var spark: SparkSession = null
    for (k <- 1 to plan.get("setups").asInt) {
      if (spark != null) spark.stop()
      val t0 = nowMs()
      spark = session()
      spark.sparkContext.setLogLevel("WARN")
      val t1 = nowMs()
      spark.range(1).count()
      val t2 = nowMs()
      setups.addObject().put("session_s", (t1 - t0) / 1e3).put("warm_s", (t2 - t1) / 1e3)
    }

    val ops: Ops = workload match {
      case "etl_csv" => new EtlOps(plan.get("csv").asText, s"$work/etl")
      case _ => new QueryOps(
        plan.get("fixture_dir").asText,
        plan.get("results_dir").asText,
        plan.get("queries").elements.asScala.map(_.asText).toVector)
    }

    val oracle = out.putObject("oracle_sql")
    val oracleSql = graft.SparkEntry.oracleSql
    if (ops.dumps) ops.names.foreach(n => oracleSql.get(n).foreach(oracle.put(n, _)))

    val rng = new scala.util.Random(plan.get("order_seed").asLong)
    val recorder = new Recorder(spark)

    // the cold pass runs in list order, so the same query absorbs the JVM's
    // warm-up in every run; the timed passes are shuffled
    val cold = out.putArray("cold")
    ops.names.foreach(n => cold.add(recorder.op(n, 0, traced = false)(ops.first(spark, n, _))))

    val traced = plan.get("trace").asInt == 1
    val seconds = plan.get("seconds").asDouble * (if (traced) 2 else 1)
    val window = out.putObject("window")
    val windowOps = window.putArray("ops")
    val jvm = new JvmMeter
    val t0 = nowMs()
    var pass = 0
    // at least three passes: when a pass takes about as long as the window,
    // a time-only stop flips between one and two passes from run to run,
    // and the first timed pass is still warming up
    def done: Boolean =
      pass >= 3 && nowMs() - t0 >= seconds * 1e3 && (!traced || pass % 2 == 0)
    while (!done) {
      val tracedPass = traced && pass % 2 == 1
      if (tracedPass) recorder.attach()
      rng.shuffle(ops.names).foreach { n =>
        windowOps.add(recorder.op(n, pass + 1, tracedPass)(ops.run(spark, n, _)))
      }
      if (tracedPass) recorder.detach()
      pass += 1
    }
    window.put("t0_ms", t0).put("wall_s", (nowMs() - t0) / 1e3)
    window.put("passes", pass)
    jvm.report(window)
    if (traced) recorder.report(window.putObject("trace"))

    spark.stop()
    om.writeValue(new java.io.File(plan.get("out").asText), out)
  }

  /** A workload's operations, executed by name under spans: `first` in the
    * cold pass, `run` in the timed window.
    */
  trait Ops {
    def names: Vector[String]
    def dumps: Boolean
    def first(spark: SparkSession, name: String, span: Span): Unit
    def run(spark: SparkSession, name: String, span: Span): Unit
  }

  /** One query = its query function (read setup and planning of any eager
    * pieces) followed by `Bench.consume` (the full declared plan into the
    * noop sink); in the cold pass, by a one-file parquet dump of the result.
    */
  final class QueryOps(fixtures: String, results: String, val names: Vector[String]) extends Ops {
    private val queryFns = graft.SparkEntry.queries
    val dumps = true
    def first(spark: SparkSession, name: String, span: Span): Unit = {
      val df = span("build")(queryFns(name)(spark, fixtures))
      span("dump")(df.coalesce(1).write.mode("overwrite").parquet(s"$results/$name"))
    }
    def run(spark: SparkSession, name: String, span: Span): Unit = {
      val df = span("build")(queryFns(name)(spark, fixtures))
      span("consume")(graft.Bench.consume(df))
    }
  }

  /** One operation = one full `Pipeline.run` into its own output dir, so
    * run.py can check every run's curated CSVs and DQ JSONs.
    */
  final class EtlOps(csv: String, outRoot: String) extends Ops {
    val names: Vector[String] = Vector("pipeline")
    val dumps = false
    private var runs = 0
    def first(spark: SparkSession, name: String, span: Span): Unit = run(spark, name, span)
    def run(spark: SparkSession, name: String, span: Span): Unit = {
      runs += 1
      val dir = f"$outRoot/run-$runs%04d"
      span("run")(graft.core.Pipeline.run(spark, csv, s"$dir/data", s"$dir/curated"))
    }
  }

  /** Collects child spans of one operation. */
  final class Span(node: ArrayNode) {
    def apply[T](name: String)(body: => T): T = {
      val t0 = nowMs()
      try body
      finally node.addObject().put("name", name).put("t0_ms", t0).put("t1_ms", nowMs())
    }
  }

  /** Runs operations, and in traced passes owns the Spark listeners. */
  final class Recorder(spark: SparkSession) {
    private val sc = spark.sparkContext
    private val listener = new EventListener
    private val qeListener = new QeListener(listener)
    private val streamListener = new StreamListener(listener)
    private var opSeq = 0

    def attach(): Unit = {
      sc.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
      spark.streams.addListener(streamListener)
    }

    def detach(): Unit = {
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
      spark.streams.removeListener(streamListener)
    }

    def op(name: String, pass: Int, traced: Boolean)(body: Span => Unit): ObjectNode = {
      opSeq += 1
      val node = om.createObjectNode().put("name", name).put("pass", pass)
        .put("traced", traced).put("id", opSeq)
      val spans = node.putArray("spans")
      val before = if (traced) Some(Counters.take()) else None
      listener.current = opSeq
      val t0 = nowMs()
      val err =
        try { body(new Span(spans)); null }
        catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}".take(500) }
      val t1 = nowMs()
      node.put("t0_ms", t0).put("t1_ms", t1).put("error", err)
      before.foreach { b =>
        PerfbenchBus.drain(sc)
        Counters.take().diff(b, node)
        node.put("cache_rdds", sc.getPersistentRDDs.size)
        node.put("cache_mem_bytes", sc.getRDDStorageInfo.map(_.memSize).sum)
      }
      listener.current = -1
      node
    }

    def report(into: ObjectNode): Unit = listener.report(into)
  }

  /** Process-wide counters read before and after a traced operation. */
  final case class Counters(compiles: Long, compileNs: Long, memo: Map[String, Double]) {
    def diff(b: Counters, into: ObjectNode): Unit = {
      into.put("codegen_compiles", compiles - b.compiles)
      into.put("codegen_ms", (compileNs - b.compileNs) / 1e6)
      val m = into.putObject("memo_build_s")
      memo.foreach { case (k, v) =>
        val d = v - b.memo.getOrElse(k, 0.0)
        if (d > 0) m.put(k, d)
      }
    }
  }

  object Counters {
    def take(): Counters = Counters(
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime,
      graft.core.MemoMeter.snapshot().toMap)
  }

  /** GC time and heap peak over the measured window. */
  final class JvmMeter {
    private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    private val heap = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    private def gcMs = gcs.map(_.getCollectionTime).sum
    private val gc0 = gcMs
    heap.foreach(_.resetPeakUsage())
    def report(into: ObjectNode): Unit = {
      into.put("jvm_gc_s", (gcMs - gc0) / 1e3)
      into.put("jvm_heap_peak_mb", heap.map(_.getPeakUsage.getUsed).sum / 1048576.0)
    }
  }

  /** Jobs, stages and task metrics, attributed to the operation that was
    * running when the job started (operations run one at a time, and the
    * bus is drained between them). A job's call site is its SQL
    * execution's when it has one: adaptive execution submits stages from a
    * pool thread whose own stack holds no engine frames.
    */
  final class EventListener extends SparkListener {
    @volatile var current: Int = -1
    private val jobs = mutable.LinkedHashMap[Int, ObjectNode]()
    private val stageJob = mutable.Map[Int, ObjectNode]()
    private val executionSite = mutable.Map[String, String]()
    val qes: ArrayNode = om.createArrayNode()
    val streams: ArrayNode = om.createArrayNode()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(executionSite.get)
        .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details)
      val j = om.createObjectNode().put("op", current).put("id", e.jobId)
        .put("start_ms", e.time.toDouble).put("callsite", site)
      Seq("stages", "tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_read_bytes",
        "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes")
        .foreach(j.put(_, 0L))
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => executionSite(s.executionId.toString) = s.details
      case _ => ()
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.put("end_ms", e.time.toDouble))

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageJob.get(e.stageInfo.stageId).foreach(add(_, "stages", 1))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageJob.get(e.stageId).foreach { j =>
        add(j, "tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          add(j, "run_ms", m.executorRunTime)
          add(j, "cpu_ns", m.executorCpuTime)
          add(j, "gc_ms", m.jvmGCTime)
          add(j, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
          add(j, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
          add(j, "spill_bytes", m.diskBytesSpilled)
          add(j, "input_bytes", m.inputMetrics.bytesRead)
          add(j, "output_bytes", m.outputMetrics.bytesWritten)
        }
      }

    private def add(j: ObjectNode, k: String, v: Long): Unit = j.put(k, j.get(k).asLong + v)

    def report(into: ObjectNode): Unit = {
      val a = into.putArray("jobs")
      jobs.values.foreach(a.add)
      into.set[JsonNode]("qes", qes)
      into.set[JsonNode]("streams", streams)
    }
  }

  /** Catalyst phase times of every QueryExecution that ran an action. */
  final class QeListener(events: EventListener) extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
      events.qes.addObject().put("op", events.current)
        .put("analysis_ms", ms("analysis")).put("optimization_ms", ms("optimization"))
        .put("planning_ms", ms("planning"))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  /** Micro-batches and state-store commit time of streaming queries. */
  final class StreamListener(events: EventListener) extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.streams.addObject().put("op", events.current)
        .put("commit_ms", e.progress.stateOperators.map(_.commitTimeMs).sum)
  }
}
