package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.sources.Tables

/** `q_partitioned_export` writes on every core, one file per period, and
  * reads its partitioned output back without a partition-listing job. */
class ExportSpec extends SparkSpec with BeforeAndAfterAll {

  /** Descriptions of started jobs, and the task counts of the stages that
    * wrote output. */
  private object Recorder extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[String]
    val writeStageTasks = new ConcurrentLinkedQueue[Int]
    def clear(): Unit = { jobs.clear(); writeStageTasks.clear() }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse(""))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null && m.outputMetrics.bytesWritten > 0) writeStageTasks.add(e.stageInfo.numTasks)
    }
  }
  override def beforeAll(): Unit = spark.sparkContext.addSparkListener(Recorder)
  override def afterAll(): Unit = spark.sparkContext.removeSparkListener(Recorder)

  test("the export writes one task per core and one file per period, and lists no partitions in a job") {
    val periods = Tables.orders(spark, sf)
      .select(date_format(col("o_orderdate"), "yyyyMM")).distinct().count()
    // past the default parallel-listing threshold (32 paths)
    assert(periods > 32, s"fixture spans only $periods periods")
    Recorder.clear()
    val out = SparkEntry.queries("q_partitioned_export")(spark, sf)
    out.collect()
    // listener events arrive in order: once this job's start is seen, every
    // event of the call has been delivered
    val marker = "export-spec-marker"
    spark.sparkContext.setJobDescription(marker)
    try spark.sparkContext.parallelize(Seq(1), 1).count()
    finally spark.sparkContext.setJobDescription(null)
    eventually(timeout(30.seconds), interval(20.millis)) {
      assert(Recorder.jobs.contains(marker))
    }

    val listing = Recorder.jobs.asScala.filter(_.startsWith("Listing leaf files"))
    assert(listing.isEmpty, s"partition-listing jobs: $listing")
    assert(Recorder.writeStageTasks.asScala.toSeq == Seq(spark.sparkContext.defaultParallelism))
    // the read-back's files are the written ones
    val files = out.inputFiles.toSeq
    assert(files.size == periods, files)
    assert(files.map(f => f.substring(0, f.lastIndexOf('/'))).distinct.size == periods, files)
  }
}
