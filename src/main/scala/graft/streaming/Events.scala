package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming operators over the `events` table shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * Each operator has a batch twin with identical semantics so correctness is
  * oracle-checkable; the streaming variants use watermarks + state the way a
  * production Structured Streaming job would.
  */
object Events {

  /** Batch twin of the windowed aggregation: events per (day, hour,
    * event_type) with exact decimal value sums. */
  def hourlyAggBatch(events: DataFrame): DataFrame =
    events
      .groupBy(
        col("ts").cast("date").as("event_date"),
        hour(col("ts")).as("event_hour"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))

  /** Streaming variant: tumbling 1h window with a 2h watermark. */
  def hourlyAggStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(
        col("window.start").cast("date").as("event_date"),
        hour(col("window.start")).as("event_hour"),
        col("event_type"),
        col("n_events"),
        col("sum_value"))

  /** Gap-based sessionization, batch twin: a session breaks after
    * `gapSeconds` of user inactivity. Exact integer math on epoch
    * microseconds so any engine reproduces it bit-for-bit. */
  def sessionizeBatch(events: DataFrame, gapSeconds: Long = 1800): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("__us"), col("event_id"))
    val gapUs = gapSeconds * 1000000L
    sessionRollup(events
      .withColumn("__us", unix_micros(col("ts").cast("timestamp")))
      .withColumn(
        "__new",
        when(col("__us") - lag(col("__us"), 1).over(byUser) > gapUs, 1).otherwise(0))
      .withColumn("session_idx", sum(col("__new")).over(byUser)))
  }

  /** Per (user_id, session_idx): the event count, first event id and the
    * span of the `__us` event times. */
  def sessionRollup(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event_id"),
        (max(col("__us")) - min(col("__us"))).as("duration_us"))

  /** Gap sessions via Spark's native `session_window` — the declarative twin
    * of [[sessionizeBatch]] (same session boundaries; the native operator
    * merges overlapping gap windows inside the aggregate, one shuffle).
    * Works identically over a stream with a watermark, where it becomes
    * incremental session state managed by the engine. */
  def sessionWindowAgg(events: DataFrame, gapSeconds: Long = 1800): DataFrame =
    events
      .groupBy(
        session_window(col("ts"), s"$gapSeconds seconds").as("session"),
        col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event_id"))
      .select(
        col("user_id"),
        col("session.start").as("session_start"),
        col("session.end").as("session_end"),
        col("n_events"),
        col("first_event_id"))

  final case class SessionState(lastUs: Long, sessionIdx: Long)
  final case class SessionEvent(user_id: Long, event_id: Long, us: Long)
  final case class SessionAssign(user_id: Long, event_id: Long, session_idx: Long)

  /** Streaming sessionization skeleton via mapGroupsWithState: assigns a
    * session index to each event as it arrives (per-batch ordering within a
    * user). Demonstrates the custom-state path; production would add an
    * event-time timeout eviction. */
  def assignSessionsStream(
      spark: SparkSession,
      events: Dataset[SessionEvent],
      gapSeconds: Long = 1800): Dataset[SessionAssign] = {
    import spark.implicits._
    val gapUs = gapSeconds * 1000000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, it: Iterator[SessionEvent], state: GroupState[SessionState]) => {
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L))
          val out = it.toSeq.sortBy(e => (e.us, e.event_id)).map { e =>
            val idx =
              if (st.lastUs != Long.MinValue && e.us - st.lastUs > gapUs) st.sessionIdx + 1
              else st.sessionIdx
            st = SessionState(e.us, idx)
            SessionAssign(user, e.event_id, idx)
          }
          state.update(st)
          out.iterator
        })
  }

  /** Production variant of [[assignSessionsStream]]: event-time timeout
    * eviction. The input must carry a watermarked `ts` column; each user's
    * state times out `gapSeconds` past their last event (in event time), at
    * which point it is REMOVED — so state size tracks active users, not
    * all-time users. A user reappearing after eviction starts a new session
    * index sequence offset by the evicted index (monotonicity preserved via
    * the timeout's final emit of nothing and a fresh base). */
  def assignSessionsStreamEvicting(
      spark: SparkSession,
      events: Dataset[SessionEvent],
      gapSeconds: Long = 1800): Dataset[SessionAssign] = {
    import spark.implicits._
    val gapUs = gapSeconds * 1000000L
    events
      .withColumn("ts", expr("timestamp_micros(us)"))
      .withWatermark("ts", "2 hours")
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (user: Long, it: Iterator[SessionEvent], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            // gap elapsed in event time: drop the state; a future event for
            // this user starts over at index 0 of a new epoch
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L))
            val out = it.toSeq.sortBy(e => (e.us, e.event_id)).map { e =>
              val idx =
                if (st.lastUs != Long.MinValue && e.us - st.lastUs > gapUs) st.sessionIdx + 1
                else st.sessionIdx
              st = SessionState(e.us, idx)
              SessionAssign(user, e.event_id, idx)
            }
            state.update(st)
            // evict once the gap passes the last seen event (event time)
            state.setTimeoutTimestamp(st.lastUs / 1000L + gapSeconds * 1000L)
            out.iterator
          }
        })
  }

  final case class FunnelEvent(user_id: Long, et: String, us: Long)
  final case class FunnelState(depth: Int, completedUs: Long)
  final case class FunnelDepth(user_id: Long, depth: Int)

  /** Streaming greedy ordered funnel — the incremental twin of
    * [[graft.operators.Funnel.funnel]]: each user's state is just (depth
    * reached, completion time), updated by scanning every micro-batch's
    * events in time order and advancing when the next expected step type
    * arrives at-or-after the previous step's completion. Emits the user's
    * current depth each batch (Update mode); `max(depth)` per user over the
    * sink gives the same reachability counts as the batch fold because
    * greedy earliest-completion is monotone in the event prefix. State is
    * two fields per ACTIVE user — independent of history length; pair with
    * a timeout eviction in production if the user universe is unbounded. */
  def funnelStream(
      spark: SparkSession,
      events: Dataset[FunnelEvent],
      steps: Seq[String]): Dataset[FunnelDepth] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (user: Long, it: Iterator[FunnelEvent], state: GroupState[FunnelState]) => {
          var st = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
          it.toSeq.sortBy(e => (e.us, e.et)).foreach { e =>
            if (st.depth < steps.length && e.et == steps(st.depth) && e.us >= st.completedUs)
              st = FunnelState(st.depth + 1, e.us)
          }
          state.update(st)
          FunnelDepth(user, st.depth)
        })
  }

  final case class TransEvent(user_id: Long, et: String, us: Long, event_id: Long)
  final case class TransLast(us: Long, et: String, event_id: Long)
  final case class TransPair(state: String, next_state: String)

  /** Streaming first-order transition pairs — the incremental twin of
    * [[graft.operators.Funnel.transitionMatrix]]: per-user state carries
    * ONLY the last seen event (two fields); each batch sorts its own
    * events per user ((us, event_id) — the same tiebreak as the batch
    * window) and emits one (state, next_state) pair per consecutive step,
    * bridging batches through the stored last event. Aggregate the emitted
    * pairs downstream for the matrix. In-order arrival across batches is
    * assumed, as with [[funnelStream]]. */
  def transitionsStream(
      spark: SparkSession,
      events: Dataset[TransEvent]): Dataset[TransPair] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, it: Iterator[TransEvent], state: GroupState[TransLast]) => {
          var last = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[TransPair]
          it.toSeq.sortBy(e => (e.us, e.event_id)).foreach { e =>
            last.foreach(l => out += TransPair(l.et, e.et))
            last = Some(TransLast(e.us, e.et, e.event_id))
          }
          last.foreach(state.update)
          out.iterator
        })
  }

  final case class AttrEvent(user_id: Long, et: String, us: Long, event_id: Long)
  final case class AttrTouch(us: Long, et: String, event_id: Long)
  final case class Attribution(
      user_id: Long, conversion_id: Long, conversion_us: Long,
      touch_event_id: Option[Long], touch_type: Option[String], latency_sec: Option[Long])

  /** Streaming last-touch attribution — the incremental twin of
    * [[graft.operators.Funnel.lastTouchAttribution]], and the shape this
    * computation actually wants: attribution is an ONLINE fold (remember
    * the last touch, emit on conversion), so per-user state is three
    * fields regardless of history length. Each batch sorts its own events
    * per user ((us, event_id), the batch window's tiebreak) and bridges
    * batches through the stored last touch; conversions strictly before
    * any touch emit unattributed with nulls, exactly like the batch
    * operator. In-order arrival across batches assumed, as with
    * [[funnelStream]]. */
  def attributionStream(
      spark: SparkSession,
      events: Dataset[AttrEvent],
      conversionType: String,
      touchTypes: Set[String]): Dataset[Attribution] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, it: Iterator[AttrEvent], state: GroupState[AttrTouch]) => {
          var touch = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[Attribution]
          it.toSeq.sortBy(e => (e.us, e.event_id)).foreach { e =>
            if (e.et == conversionType) {
              out += Attribution(
                user, e.event_id, e.us,
                touch.map(_.event_id), touch.map(_.et),
                touch.map(t => (e.us - t.us) / 1000000L))
            }
            if (touchTypes.contains(e.et)) touch = Some(AttrTouch(e.us, e.et, e.event_id))
          }
          touch.foreach(state.update)
          out.iterator
        })
  }

  /** One CDC change row: key, payload, operation (I/U upsert, D delete) and
    * change sequence — the concrete (orders-shaped) rendering the streaming
    * twin of [[graft.operators.Relational.applyCdc]] folds over. */
  case class CdcChange(k: Long, status: String, price: Double, op: String, seq: Long)

  /** Streaming CDC fold: maintain the highest-sequence change per key in the
    * state store (last-writer-wins is an online fold — exactly the shape
    * mapGroupsWithState wants) and emit the current winner every
    * micro-batch. Downstream, the accumulated update-mode sink repairs to
    * "latest per key" and applies over the base snapshot through the SAME
    * batch merge ([[graft.operators.Relational.applyCdc]]), so the batch
    * oracle gates the streamed feed end to end. State per key is one change
    * row — bounded by key cardinality, not feed length. */
  def cdcStream(spark: SparkSession, changes: Dataset[CdcChange]): Dataset[CdcChange] = {
    import spark.implicits._
    changes
      .groupByKey(_.k)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (_: Long, it: Iterator[CdcChange], state: GroupState[CdcChange]) => {
          val incoming = it.maxBy(_.seq)
          val best = state.getOption match {
            case Some(b) if b.seq >= incoming.seq => b
            case _ => incoming
          }
          state.update(best)
          best
        })
  }

  /** Streaming exact dedup on a key with watermarked state — the streaming
    * member of the dedup family (batch members live in operators.Dedup). */
  def dedupStream(events: DataFrame, keyCols: Seq[String]): DataFrame =
    events.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(keyCols)

  /** Stream-stream interval join — the incremental twin of
    * [[graft.operators.Temporal.intervalJoin]]: both sides watermarked, the
    * time-bound condition lets the engine EVICT buffered rows once the
    * watermark passes their join horizon, so state size tracks the interval
    * width, not the stream length. Both inputs must carry `user_id` and a
    * `ts` event-time column; left rows pair with right rows of the same user
    * in `[ts, ts + horizonSec]`. */
  def intervalJoinStream(
      left: DataFrame,
      right: DataFrame,
      horizonSec: Long,
      watermark: String = "2 hours",
      joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark("ts", watermark).alias("l")
    val r = right.withWatermark("ts", watermark).alias("r")
    l.join(
      r,
      col("l.user_id") === col("r.user_id") &&
        col("r.ts") >= col("l.ts") &&
        col("r.ts") <= col("l.ts") + expr(s"INTERVAL $horizonSec SECONDS"),
      joinType)
  }
}
