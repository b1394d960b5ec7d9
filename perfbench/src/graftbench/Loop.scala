package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** The closed loop: one client, each call starts only after the previous
  * one has returned its complete result. A pass is the workload's calls in
  * order. The first `WarmPasses` passes run at full size, checked but not
  * timed: pass times keep falling for several passes while the JIT compiles
  * Spark's planner and the classes Spark generates (a pass of curate
  * compiles about 50 generated classes anew). Then timed passes repeat while the next one,
  * at the median timed pass so far, is due to end within the time, and at
  * least `MinTimed` of them run. Every call's digest is compared across all
  * passes. */
object Loop {
  final case class Sample(
      call: String, pass: Int, warm: Boolean, seconds: Double, digest: Option[Digest],
      error: Option[String], counts: Option[CallCounts]) {
    def traced: Boolean = counts.isDefined
  }

  /** Per-call samples, and per pass: driver heap after GC, JIT and GC
    * seconds, and generated classes compiled. */
  final case class Result(
      samples: Seq[Sample], heapMb: Seq[Double], jitS: Seq[Double], gcS: Seq[Double], codegen: Seq[Long]) {
    def record: Map[String, Any] = Map(
      "warm_passes" -> WarmPasses,
      "heap_old_after_gc_mb" -> heapMb,
      "jit_compile_s" -> jitS,
      "gc_s" -> gcS,
      "codegen_compiles" -> codegen,
      "samples" -> samples.map { s =>
        Map("call" -> s.call, "pass" -> s.pass, "warm" -> s.warm, "traced" -> s.traced, "seconds" -> s.seconds,
          "digest" -> s.digest.map(_.toString), "error" -> s.error,
          "counts" -> s.counts.map(countsRecord))
      })
  }

  def countsRecord(c: CallCounts): Map[String, Any] = Map(
    "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
    "executor_run_s" -> c.runMs / 1e3, "executor_cpu_s" -> c.cpuNs / 1e9,
    "input_bytes" -> c.inputBytes, "input_rows" -> c.inputRows,
    "shuffle_write_bytes" -> c.shuffleWriteBytes, "shuffle_read_records" -> c.shuffleReadRecords,
    "fetch_wait_s" -> c.fetchWaitMs / 1e3, "spill_bytes" -> c.spillBytes,
    "result_bytes" -> c.resultBytes, "output_bytes" -> c.outputBytes,
    "planning_s" -> c.planningNs / 1e9, "queries" -> c.queries,
    "job_spans_ms" -> c.jobSpans.map { case (a, b) => Seq(a, b) },
    "stage_tasks_ms" -> c.stageTasks.map { case (sum, mx, med) => Seq(sum, mx, med) })

  private lazy val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP && Seq("Old", "Tenured").exists(p.getName.contains))

  /** Driver old-generation occupancy right after a full collection, in MB. */
  def oldGenAfterGc(): Double = {
    System.gc()
    oldGen.map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)
  }

  /** Seconds the JIT compilers and the collectors have run so far, summed
    * over their threads. */
  private def jitS(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  private def gcS(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Deletes what the calls of one pass exported (JSONL shards in the call
    * scratch directory, and `q_partitioned_export`'s temp directories). */
  def cleanExports(scratch: Path): Unit = {
    Io.deleteTree(scratch)
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    Files.list(tmp).iterator().asScala
      .filter(_.getFileName.toString.startsWith("graft_export_"))
      .toList.foreach(Io.deleteTree)
  }

  val WarmPasses = 2
  val MinTimed = 3

  /** With `trace`, odd passes run with the listener attached and a job group
    * per call, so traced and untraced passes alternate and see the same
    * JIT and cache state; the difference of their medians is the tracing
    * overhead. */
  def run(
      spark: SparkSession,
      calls: Seq[Call],
      newCtx: () => CallCtx,
      seconds: Double,
      trace: Boolean): Result = {
    val samples = mutable.ArrayBuffer.empty[Sample]
    val heap = mutable.ArrayBuffer.empty[Double]
    val jit = mutable.ArrayBuffer.empty[Double]
    val gc = mutable.ArrayBuffer.empty[Double]
    val codegen = mutable.ArrayBuffer.empty[Long]
    val sc = spark.sparkContext
    val timedPasses = mutable.ArrayBuffer.empty[Long]
    var deadline = Long.MaxValue
    var pass = 0
    def another(): Boolean = {
      val now = System.nanoTime()
      if (pass == WarmPasses) deadline = now + (seconds * 1e9).toLong
      if (pass < WarmPasses + MinTimed) true
      else now + timedPasses.sorted.apply(timedPasses.size / 2) <= deadline
    }
    while (another()) {
      val warm = pass < WarmPasses
      val p0 = System.nanoTime()
      val (jit0, gc0) = (jitS(), gcS())
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val ctx = newCtx()
      val listener = if (trace && pass % 2 == 1) Some(new GroupListener) else None
      listener.foreach { l =>
        sc.addSparkListener(l)
        spark.listenerManager.register(l)
      }
      calls.foreach { c =>
        val group = s"${c.name}#$pass"
        listener.foreach { l =>
          l.currentGroup = group
          sc.setJobGroup(group, c.name)
        }
        val t0 = System.nanoTime()
        val outcome =
          try Right(Main.runCall(c, ctx))
          catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        val secs = (System.nanoTime() - t0) / 1e9
        val counts = listener.map { l =>
          BenchBus.drain(sc)
          sc.clearJobGroup()
          l.currentGroup = null
          l.take(group)
        }
        samples += Sample(c.name, pass, warm, secs, outcome.toOption.map(Digest.of),
          outcome.left.toOption, counts)
      }
      listener.foreach { l =>
        spark.listenerManager.unregister(l)
        sc.removeSparkListener(l)
      }
      jit += jitS() - jit0
      gc += gcS() - gc0
      codegen += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
      cleanExports(ctx.scratch)
      heap += oldGenAfterGc()
      if (!warm) timedPasses += System.nanoTime() - p0
      pass += 1
    }
    Result(samples.toSeq, heap.toSeq, jit.toSeq, gc.toSeq, codegen.toSeq)
  }
}
