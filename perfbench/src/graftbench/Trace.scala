package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-call counters, summed over every job, stage and task that ran under
  * the call's job group. */
final class CallCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadRecords = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var resultBytes = 0L
  var outputBytes = 0L
  var planningNs = 0L
  var queries = 0L
  /** Job (start, end) intervals in ms, for the driver time outside jobs. */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Per stage: (total task run ms, max task ms, median task ms). */
  val stageTasks = mutable.ArrayBuffer.empty[(Long, Long, Long)]
}

/** Listener-bus trace keyed by job group. The benchmark sets one job group
  * per call (`setJobGroup`), so every job Spark runs for the call — graft's
  * own driver-side actions included — lands in that call's counters. */
final class GroupListener extends SparkListener with QueryExecutionListener {
  private val byGroup = mutable.Map.empty[String, CallCounts]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  private def counts(g: String) = byGroup.getOrElseUpdate(g, new CallCounts)

  def take(group: String): CallCounts = synchronized(byGroup.remove(group).getOrElse(new CallCounts))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { grp =>
      jobGroup(e.jobId) = grp
      jobStart(e.jobId) = e.time
      val c = counts(grp)
      c.jobs += 1
      e.stageInfos.foreach(si => stageGroup(si.stageId) = grp)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { g =>
      counts(g).jobSpans += ((jobStart.remove(e.jobId).getOrElse(e.time), e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageGroup.get(id).foreach { g =>
      val c = counts(g)
      c.stages += 1
      val ts = stageTaskMs.remove(id).getOrElse(mutable.ArrayBuffer.empty[Long]).sorted
      if (ts.nonEmpty) c.stageTasks += ((ts.sum, ts.last, ts(ts.size / 2)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val c = counts(g)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.resultBytes += m.resultSize
        c.outputBytes += m.outputMetrics.bytesWritten
        stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) += m.executorRunTime
      }
    }
  }

  // QueryExecutionListener: planning time (analysis + optimization +
  // physical planning) of every action, attributed by the job group that
  // was current on the calling thread.
  @volatile var currentGroup: String = null

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val g = currentGroup
    if (g != null) synchronized {
      val c = counts(g)
      c.queries += 1
      c.planningNs += qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs) * 1000000L).sum
    }
  }
}

/** Spans recorded from the benchmark's side of each call into graft: name,
  * start, end and parent. A span's self time is its duration minus the part
  * covered by its children. */
final class Spans {
  final case class Span(id: Int, name: String, parent: Int, start: Long, var end: Long = 0L)
  private val all = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  def apply[T](name: String)(body: => T): T = {
    val s = Span(all.size, name, stack.headOption.getOrElse(-1), System.nanoTime())
    all += s
    stack = s.id :: stack
    try body
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
    }
  }

  /** Self seconds summed per span name. */
  def selfSeconds: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    all.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.end - s.start - childNs(s.id)) / 1e9).sum
    }
  }

  def records: Seq[Map[String, Any]] = all.toSeq.map(s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ns" -> s.start, "end_ns" -> s.end))
}
