package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** Records the jobs a session's context starts: each job's label (its
  * description, else its first stage's name, e.g. `parquet at
  * Tables.scala:43`) and the call sites of its stages, and the task counts
  * of the stages that wrote output, and which jobs have not ended. Add it
  * to the context, `clear()`, run the code under test, then `flush()`
  * before reading. */
class JobRecorder(spark: SparkSession) extends SparkListener {
  private val started = new ConcurrentLinkedQueue[(String, Seq[String])]
  private val running = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]
  private val writeTasks = new ConcurrentLinkedQueue[Int]
  private val marker = "job-recorder-marker"

  def clear(): Unit = { started.clear(); running.clear(); writeTasks.clear() }

  /** Ids of the jobs started since `clear()` that have not ended. */
  def activeJobs: Set[Int] = running.asScala.toSet

  /** Labels of the jobs started since `clear()`. */
  def jobs: Seq[String] = started.asScala.map(_._1).filter(_ != marker).toSeq

  /** Jobs started by a `DataFrameReader.parquet` call: with no declared
    * schema, the read starts one to infer it from a file footer. */
  def parquetReads: Seq[String] = started.asScala.collect {
    case (label, sites) if sites.exists(_.startsWith(
        "org.apache.spark.sql.classic.DataFrameReader.parquet(")) => label
  }.toSeq

  def writeStageTasks: Seq[Int] = writeTasks.asScala.toSeq

  /** Wait until every event of the jobs started so far has arrived:
    * listener events arrive in order, so once a marker job's start is seen
    * all earlier ones have been delivered. */
  def flush(): Unit = {
    spark.sparkContext.setJobDescription(marker)
    try spark.sparkContext.parallelize(Seq(1), 1).count()
    finally spark.sparkContext.setJobDescription(null)
    eventually(timeout(30.seconds), interval(20.millis)) {
      assert(started.asScala.exists(_._1 == marker))
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val label = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse(e.stageInfos.headOption.fold("")(_.name))
    if (label != marker) running.add(e.jobId)
    started.add((label, e.stageInfos.map(_.details)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = running.remove(e.jobId)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val m = e.stageInfo.taskMetrics
    if (m != null && m.outputMetrics.bytesWritten > 0) writeTasks.add(e.stageInfo.numTasks)
  }
}
