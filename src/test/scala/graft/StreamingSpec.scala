package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.streaming.Events

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private val sample = Seq(
    (1L, ts("2024-01-01 10:05:00"), 7L, "click", 1.5),
    (2L, ts("2024-01-01 10:20:00"), 7L, "click", 2.5),
    (3L, ts("2024-01-01 11:05:00"), 7L, "view", 1.0),
    (4L, ts("2024-01-01 10:10:00"), 9L, "click", 4.0))

  test("hourlyAggStream over a memory source equals the batch twin") {
    val batchDf = sample.toDF("event_id", "ts", "user_id", "event_type", "value")
    val expected = Events.hourlyAggBatch(batchDf)
      .orderBy("event_date", "event_hour", "event_type")
      .collect()
      .toSeq

    val ms = MemoryStream[(Long, Timestamp, Long, String, Double)](spark)
    ms.addData(sample.map(r => (r._1, r._2, r._3, r._4, r._5)))
    val streamDf = ms.toDF.toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Events.hourlyAggStream(streamDf)
      .writeStream
      .format("memory")
      .queryName("hourly_out")
      .outputMode("complete")
      .start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("hourly_out")
      .orderBy("event_date", "event_hour", "event_type")
      .collect()
      .toSeq
    assert(got == expected)
  }

  test("assignSessionsStream carries session state across micro-batches") {
    val ms = MemoryStream[Events.SessionEvent](spark)
    val q = Events.assignSessionsStream(spark, ms.toDS())
      .writeStream
      .format("memory")
      .queryName("sess_out")
      .outputMode("append")
      .start()
    try {
      // batch 1: two events 10 min apart -> same session
      ms.addData(Events.SessionEvent(7L, 1L, 0L), Events.SessionEvent(7L, 2L, 600L * 1000000L))
      q.processAllAvailable()
      // batch 2: one event 2h after the last -> new session
      ms.addData(Events.SessionEvent(7L, 3L, 7800L * 1000000L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sess_out").orderBy("event_id").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 0L), (2L, 0L), (3L, 1L)))
  }

  test("transitionsStream bridges consecutive pairs across micro-batches") {
    val ms = MemoryStream[Events.TransEvent](spark)
    val q = Events.transitionsStream(spark, ms.toDS())
      .writeStream.format("memory").queryName("trans_out")
      .outputMode("append")
      .start()
    try {
      // batch 1: user 1 goes a -> b (ties at us=5 pinned by event_id: c before d)
      ms.addData(
        Events.TransEvent(1L, "a", 1L, 1L),
        Events.TransEvent(1L, "b", 2L, 2L),
        Events.TransEvent(2L, "c", 5L, 3L),
        Events.TransEvent(2L, "d", 5L, 4L))
      q.processAllAvailable()
      // batch 2: the pair b -> e must bridge the batch boundary via state
      ms.addData(Events.TransEvent(1L, "e", 9L, 5L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("trans_out").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("a", "b"), ("c", "d"), ("b", "e")))
  }

  test("attributionStream carries the last touch across micro-batches") {
    val ms = MemoryStream[Events.AttrEvent](spark)
    val q = Events.attributionStream(spark, ms.toDS(), "purchase", Set("click", "view"))
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append")
      .start()
    try {
      // batch 1: u1 conversion before any touch (unattributed), then a click
      ms.addData(
        Events.AttrEvent(1L, "purchase", 1000000L, 1L),
        Events.AttrEvent(1L, "click", 2000000L, 2L))
      q.processAllAvailable()
      // batch 2: the conversion must attribute to batch 1's click via state
      ms.addData(Events.AttrEvent(1L, "purchase", 5000000L, 3L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("attr_out").orderBy("conversion_id").collect()
      .map(r => (r.getLong(1), Option(r.get(3)).map(_.toString.toLong),
        Option(r.get(5)).map(_.toString.toLong)))
    assert(got.toSeq == Seq((1L, None, None), (3L, Some(2L), Some(3L))))
  }

  test("hourlyAggStream with append mode drops data later than the watermark") {
    val ms = MemoryStream[(Long, Timestamp, Long, String, Double)](spark)
    val streamDf = ms.toDF.toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = Events.hourlyAggStream(streamDf)
      .writeStream
      .format("memory")
      .queryName("late_out")
      .outputMode("append")
      .start()
    try {
      // batch 1: one event at 10:05; watermark still unset
      ms.addData((1L, ts("2024-01-01 10:05:00"), 7L, "click", 1.0))
      q.processAllAvailable()
      // batch 2: event at 15:00 advances the watermark to 13:00 (2h delay),
      // closing the 10:00-11:00 window
      ms.addData((2L, ts("2024-01-01 15:00:00"), 7L, "click", 1.0))
      q.processAllAvailable()
      // batch 3: a straggler back at 10:10 — behind the watermark, dropped
      ms.addData((3L, ts("2024-01-01 10:10:00"), 7L, "click", 99.0))
      q.processAllAvailable()
    } finally q.stop()
    val tenOClock = spark.table("late_out")
      .filter(col("event_hour") === 10)
      .collect()
    // the 10:00 window was finalized with ONLY the on-time event
    assert(tenOClock.length == 1)
    assert(tenOClock.head.getAs[Long]("n_events") == 1L)
    assert(tenOClock.head.getAs[Double]("sum_value") == 1.0)
  }

  test("intervalJoinStream pairs clicks to purchases across micro-batches within the horizon") {
    val clicks = MemoryStream[(Long, Long, Timestamp)](spark)
    val purchases = MemoryStream[(Long, Long, Timestamp)](spark)
    val q = Events.intervalJoinStream(
      clicks.toDF.toDF("click_id", "user_id", "ts"),
      purchases.toDF.toDF("purchase_id", "user_id", "ts"),
      horizonSec = 1800L)
      .select("click_id", "purchase_id")
      .writeStream.format("memory").queryName("ij_out")
      .outputMode("append")
      .start()
    try {
      // click arrives first; its purchase lands in a LATER micro-batch —
      // the click must be buffered in join state until then
      clicks.addData((1L, 7L, ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      purchases.addData(
        (50L, 7L, ts("2024-01-01 10:20:00")), // within 30m of click 1
        (51L, 7L, ts("2024-01-01 11:30:00")), // past the horizon
        (52L, 9L, ts("2024-01-01 10:10:00"))) // different user
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ij_out").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 50L)))
  }

  test("evicting sessionizer assigns sessions and restarts after state eviction") {
    val ms = MemoryStream[Events.SessionEvent](spark)
    val q = Events.assignSessionsStreamEvicting(spark, ms.toDS())
      .writeStream
      .format("memory")
      .queryName("sess_evict_out")
      .outputMode("append")
      .start()
    try {
      val hour = 3600L * 1000000L
      val base = 1_700_000_000L * 1000000L // off epoch-0: ts at the initial
      // watermark (0) would be dropped as late data
      // two events 10 min apart -> session 0
      ms.addData(Events.SessionEvent(7L, 1L, base), Events.SessionEvent(7L, 2L, base + 600L * 1000000L))
      q.processAllAvailable()
      // 6h later: advances the watermark far past user 7's gap, evicting its
      // state; the same batch's event gets a fresh session index 0
      ms.addData(Events.SessionEvent(9L, 3L, base + 6L * hour))
      q.processAllAvailable()
      ms.addData(Events.SessionEvent(7L, 4L, base + 7L * hour))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sess_evict_out").orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((7L, 1L, 0L), (7L, 2L, 0L), (9L, 3L, 0L), (7L, 4L, 0L)),
      s"got ${got.toSeq}")
    // event 4 restarted at index 0 — state was evicted, not carried to idx 1
  }

  test("dedupStream drops in-watermark duplicate keys") {
    val ms = MemoryStream[(Long, Timestamp, String)](spark)
    val streamDf = ms.toDF.toDF("event_id", "ts", "event_type")
    val q = Events.dedupStream(streamDf, Seq("event_id"))
      .writeStream
      .format("memory")
      .queryName("dedup_out")
      .outputMode("append")
      .start()
    try {
      ms.addData(
        (1L, ts("2024-01-01 10:00:00"), "a"),
        (1L, ts("2024-01-01 10:01:00"), "a-dup"),
        (2L, ts("2024-01-01 10:02:00"), "b"))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("dedup_out").count() == 2)
  }

  test("file-source streaming (readStream over parquet, AvailableNow) equals batch") {
    val dir = SparkEntry.tempDir("graft-stream-src").toString + "/events"
    val batchDf = sample.toDF("event_id", "ts", "user_id", "event_type", "value")
    batchDf.write.parquet(dir)
    val expected = Events.hourlyAggBatch(batchDf)
      .orderBy("event_date", "event_hour", "event_type").collect().toSeq

    val streamDf = spark.readStream.schema(batchDf.schema).parquet(dir)
    val q = Events.hourlyAggStream(streamDf)
      .writeStream
      .format("memory")
      .queryName("file_stream_out")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(60000)
    finally if (q.isActive) q.stop()
    val got = spark.table("file_stream_out")
      .orderBy("event_date", "event_hour", "event_type").collect().toSeq
    assert(got == expected)
  }

  test("streaming rolling sketch-distinct equals the batch twin exactly (HLL merge is order-independent)") {
    // HLL register updates are deterministic and merges are register-max,
    // so micro-batch accumulation must land on the SAME cube as one batch
    // pass — estimates included, row for row
    val streamed = SparkEntry.queries("q_rolling_distinct_stream")(spark, sf).collect().toSeq
    val batch = SparkEntry.queries("q_rolling_distinct")(spark, sf).collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"stream cube diverged from batch cube: ${streamed.take(3)} vs ${batch.take(3)}")
  }

  test("native session_window produces the same sessions as manual sessionization") {
    val df = Tables.events(spark, sf)
    val manual = Events.sessionizeBatch(df)
      .select("user_id", "n_events", "first_event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val native = Events.sessionWindowAgg(df)
      .select("user_id", "n_events", "first_event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(native == manual)
  }

  test("sessionizeBatch splits on the inactivity gap") {
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00"), 7L, "a", 0.0),
      (2L, ts("2024-01-01 10:10:00"), 7L, "a", 0.0),
      (3L, ts("2024-01-01 12:00:00"), 7L, "a", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Events.sessionizeBatch(df).orderBy("session_idx").collect()
    assert(out.length == 2)
    assert(out(0).getLong(2) == 2L) // first session has 2 events
    assert(out(1).getLong(2) == 1L)
  }

  test("funnelStream carries per-user depth state across micro-batches") {
    val steps = Seq("signup", "click", "purchase")
    val ms = MemoryStream[Events.FunnelEvent](spark)
    val q = Events.funnelStream(spark, ms.toDS(), steps)
      .writeStream
      .format("memory")
      .queryName("funnel_out")
      .outputMode("update")
      .start()
    try {
      // batch 1: u7 signs up; u9 clicks without signup (no progress)
      ms.addData(
        Events.FunnelEvent(7L, "signup", 100L),
        Events.FunnelEvent(9L, "click", 100L))
      q.processAllAvailable()
      // batch 2: u7's click lands out of order WITHIN the batch (purchase
      // first in arrival order, click earlier in event time) — the sorted
      // scan must advance through click then purchase
      ms.addData(
        Events.FunnelEvent(7L, "purchase", 300L),
        Events.FunnelEvent(7L, "click", 200L))
      q.processAllAvailable()
    } finally q.stop()
    val depths = spark.table("funnel_out")
      .groupBy("user_id").agg(max("depth").as("depth"))
      .as[(Long, Int)].collect().toMap
    assert(depths(7L) == 3, s"u7 should complete the funnel: $depths")
    assert(depths(9L) == 0, s"u9 never signed up: $depths")
  }

  test("cdcStream keeps the highest-sequence change per key across micro-batches") {
    val ms = MemoryStream[Events.CdcChange](spark)
    val q = Events.cdcStream(spark, ms.toDS())
      .writeStream.format("memory").queryName("cdc_out")
      .outputMode("update")
      .start()
    try {
      // batch 1: key 1 updated at seq 2, key 2 deleted at seq 1
      ms.addData(
        Events.CdcChange(1L, "a", 10.0, "U", 2L),
        Events.CdcChange(2L, "b", 20.0, "D", 1L))
      q.processAllAvailable()
      // batch 2: a LATE seq-1 change for key 1 must NOT displace seq 2;
      // a seq-3 delete for key 1 must win; key 2 resurrects at seq 2
      ms.addData(
        Events.CdcChange(1L, "a-late", 11.0, "U", 1L),
        Events.CdcChange(1L, "a-del", 10.0, "D", 3L),
        Events.CdcChange(2L, "b2", 21.0, "I", 2L))
      q.processAllAvailable()
    } finally q.stop()
    // update-mode sink accumulates one winner per key per batch: latest wins
    val last = spark.table("cdc_out")
      .groupBy("k").agg(max_by(struct($"op", $"seq", $"status"), $"seq").as("w"))
      .select($"k", $"w.op", $"w.seq", $"w.status")
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getLong(2), r.getString(3)))).toMap
    assert(last(1L) == ("D", 3L, "a-del"), s"key 1 must end deleted at seq 3: $last")
    assert(last(2L) == ("I", 2L, "b2"), s"key 2 must end inserted at seq 2: $last")
  }
}
