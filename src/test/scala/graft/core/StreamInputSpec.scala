package graft.core

import graft.SparkSpec
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** [[Io.writeStreamInput]] caps the written part count at 4 without capping
  * the producing computation, and reads the input's width without a job.
  */
class StreamInputSpec extends SparkSpec {

  /** Jobs and per-stage task counts of one `writeStreamInput`, plus the
    * part files it left.
    */
  private def write(partitions: Int): (Int, Seq[Int], Int) = {
    val df = spark.range(0, 1000, 1, partitions).select(col("id"), (col("id") % 7).as("k"))
    val dir = Files.createTempDirectory("stream_in").resolve("out").toString
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    val jobs  = new java.util.concurrent.atomic.AtomicInteger()
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        tasks.add(e.stageInfo.numTasks)
    }
    sc.addSparkListener(listener)
    try {
      Io.writeStreamInput(df, dir)
      ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    assert(spark.read.parquet(dir).count() == 1000)
    val parts = new java.io.File(dir).list().count(_.startsWith("part-"))
    (jobs.get, tasks.toArray.toSeq.map(_.asInstanceOf[Int]), parts)
  }

  test("writeStreamInput: a wide input keeps its producing width, writes at most 4 parts") {
    val (jobs, tasks, parts) = write(8)
    assert(tasks.contains(8), s"producing stage narrowed: stage task counts $tasks")
    assert(parts >= 1 && parts <= 4, s"$parts part files")
    assert(jobs <= 2, s"$jobs jobs: the shuffle's map stage and the write only")
  }

  test("writeStreamInput: an input of at most 4 partitions is written as-is in one job") {
    val (jobs, tasks, parts) = write(3)
    assert(tasks == Seq(3))
    assert(parts == 3)
    assert(jobs == 1)
  }
}
