package graft

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** `SparkEntry.drain`: each streaming twin's state operators run at the
  * partition count the twin declares, the session keeps its own
  * `spark.sql.shuffle.partitions`, and a failed drain hands its error to
  * the caller with no query left running. */
class DrainSpec extends SparkSpec with BeforeAndAfterAll {
  private val key = "spark.sql.shuffle.partitions"

  /** Per memory-sink name: the state partition count of every progress
    * event, and whether the query has terminated. A query's progress events
    * reach the listener before its termination event. */
  private object Recorder extends StreamingQueryListener {
    private val names = new ConcurrentHashMap[UUID, String]
    val partitions = new ConcurrentHashMap[String, Vector[Long]]
    val terminated = ConcurrentHashMap.newKeySet[String]()
    def forget(name: String): Unit = { partitions.remove(name); terminated.remove(name) }
    override def onQueryStarted(e: QueryStartedEvent): Unit = names.put(e.runId, e.name)
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      e.progress.stateOperators.headOption.foreach { op =>
        partitions.merge(e.progress.name, Vector(op.numShufflePartitions), _ ++ _)
      }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      Option(names.get(e.runId)).foreach(terminated.add)
  }
  override def beforeAll(): Unit = spark.streams.addListener(Recorder)
  override def afterAll(): Unit = spark.streams.removeListener(Recorder)

  /** Run `query`, whose drain writes the sink `sink`, and return the state
    * partition counts its progress reported. */
  private def statePartitionsOf(query: String, sink: String): Set[Long] = {
    Recorder.forget(sink)
    val before = spark.conf.get(key)
    SparkEntry.queries(query)(spark, sf).collect()
    assert(spark.conf.get(key) == before, s"$query left $key changed")
    eventually(timeout(60.seconds), interval(50.millis)) {
      assert(Recorder.terminated.contains(sink))
    }
    Option(Recorder.partitions.get(sink)).map(_.toSet).getOrElse(Set.empty)
  }

  test("each twin's state operators run at the partition count it declares") {
    assert(statePartitionsOf("q_msprt_stream", "graft_msprt_stream") == Set(1L))
    assert(statePartitionsOf("q_fd_audit_stream", "graft_fd_audit_stream") == Set(4L))
    assert(statePartitionsOf("q_g_test_stream", "graft_gtest_stream") == Set(8L))
  }

  test("a twin that declares no count uses the session's") {
    assert(statePartitionsOf("q_repeated_spans_stream", "graft_repeated_spans_stream") ==
      Set(spark.conf.get(key).toLong))
  }

  test("a failed drain reaches the caller, restores the conf and leaves no active query") {
    val dir = SparkEntry.tempDir("graft-drain").toString
    spark.range(3).write.parquet(s"$dir/t")
    val stream = spark.readStream.schema("id long").parquet(s"$dir/t")
      .select(col("id"), raise_error(lit("planted drain failure")).cast("long").as("boom"))
    val before = spark.conf.get(key)
    val e = intercept[StreamingQueryException] {
      SparkEntry.drain(stream, "graft_drain_failure", "append", Some(3))
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("planted drain failure")))
    assert(spark.conf.get(key) == before)
    assert(spark.streams.active.isEmpty)
  }
}
