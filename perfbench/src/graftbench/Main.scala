package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.{GraftSession, SparkEntry}

/** JVM side of the benchmark, launched once per run by `perfbench/run.py`
  * after it has generated the seeded fixtures (perfbench/fixtures.py).
  *
  * It sets up the way a user would — JVM start, `GraftSession.local()`, one
  * warm-up pass of the workload's calls on the oracle-scale fixture — and
  * records when set-up finished. The warm-up outputs are then written,
  * untimed, with their oracle SQL for the DuckDB check. Then comes the
  * closed loop over the full fixture, warm passes first and timed passes
  * after them; with trace on, every other pass is listener-traced and the
  * stage-by-stage replay follows.
  *
  * Usage: Main <workload> <seconds> <trace 0|1> <fixture dir>
  *        <oracle-scale fixture dir> <scratch dir> <result file>
  *        [planted calls, comma-separated]
  */
object Main {
  private def epoch(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, secondsS, traceS, fullDir, smallDir, scratchS, resultS) = args.take(7)
    val plant = args.lift(7).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val scratch = Paths.get(scratchS)
    Files.createDirectories(scratch)

    val t0 = System.nanoTime()
    val spark = GraftSession.local()
    val sessionS = (System.nanoTime() - t0) / 1e9

    val calls = Workloads.calls(workload) ++ Workloads.planted(plant)
    val w0 = System.nanoTime()
    val warm = new CallCtx(spark, smallDir, scratch.resolve("warm"))
    val warmFailed = calls.flatMap { c =>
      try { runCall(c, warm); None }
      catch { case e: Throwable => Some(s"${c.name}: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    val warmupS = (System.nanoTime() - w0) / 1e9
    val warmDone = epoch()

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "setup" -> Map("warm_done_epoch_s" -> warmDone, "session_s" -> sessionS, "warmup_s" -> warmupS),
      "env" -> env(spark),
      "oracle" -> Map("dir" -> dumpOracle(spark, calls, warm, scratch).toString, "failed" -> warmFailed))

    val ctx = () => new CallCtx(spark, fullDir, scratch.resolve("calls"))
    record("timed") = Loop.run(spark, calls, ctx, seconds, trace).record
    if (trace) {
      val rctx = ctx()
      record("replay") =
        try Replay.run(workload, rctx)
        catch { case e: Throwable => Map("error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      Loop.cleanExports(rctx.scratch)
    }
    spark.stop()
    Files.writeString(Paths.get(resultS), Json.value(record))
  }

  /** Runs one call and collects its complete result. */
  def runCall(c: Call, ctx: CallCtx): Array[Row] = {
    val df = c.output(ctx)
    val rows = df.collect()
    ctx.results(c.name) = rows
    ctx.schemas(c.name) = df.schema
    rows
  }

  /** Writes each call's warm-up (oracle-scale) result as one parquet file,
    * with the matching oracle SQL: the layout `tools/oracle_check.py` reads. */
  private def dumpOracle(spark: SparkSession, calls: Seq[Call], warm: CallCtx, scratch: Path): Path = {
    val out = Files.createDirectories(scratch.resolve("oracle"))
    calls.filter(c => warm.results.contains(c.name)).foreach { c =>
      spark.createDataFrame(warm.results(c.name).toSeq.asJava, warm.schemas(c.name))
        .coalesce(1).write.mode("overwrite").parquet(out.resolve(c.name).toString)
    }
    val sql = calls.flatMap(c => c.oracle.map(q => c.name -> SparkEntry.oracleSql(q))).toMap
    Files.writeString(out.resolve("oracle_sql.json"), Json.value(sql))
    out
  }

  private def env(spark: SparkSession): Map[String, Any] = {
    val rt = ManagementFactory.getRuntimeMXBean
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "master" -> spark.sparkContext.master,
      "xmx_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "jvm_args" -> rt.getInputArguments.asScala.filter(a => a.startsWith("-X")).toSeq,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString)
  }
}
