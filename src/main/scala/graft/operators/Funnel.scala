package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ordered event-funnel analytics over an event log (the product-analytics
  * staple: how many users progressed signup → activation → purchase). */
object Funnel {

  /** Top user-journey paths: gap-sessionize (same boundaries as
    * [[graft.streaming.Events.sessionizeBatch]]), render each session as
    * its ordered `a>b>c` event-type path (deterministic ordered agg via
    * `sort_array(collect_list(struct))`), count sessions per path, top-N
    * with a (count desc, path asc) total order. Per-user window + two
    * partial aggregates; the result set is path-cardinality, tiny at any
    * corpus scale. */
  def sessionPaths(
      events: DataFrame,
      gapSeconds: Long = 1800,
      topN: Int = 20): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("__us"), col("event_id"))
    val gapUs = gapSeconds * 1000000L
    events
      .withColumn("__us", unix_micros(col("ts").cast("timestamp")))
      .withColumn(
        "__new",
        when(col("__us") - lag(col("__us"), 1).over(byUser) > gapUs, 1).otherwise(0))
      .withColumn("__sid", sum(col("__new")).over(byUser))
      .groupBy(col("user_id"), col("__sid"))
      .agg(array_join(
        transform(
          sort_array(collect_list(struct(col("__us"), col("event_id"), col("event_type")))),
          s => s("event_type")),
        ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(topN)
  }

  /** Gap-allowed sequential 2-patterns (the depth-2 core of
    * GSP/PrefixSpan, Agrawal & Srikant 1995): pattern a→b is supported by
    * a session when SOME a-event strictly precedes SOME b-event — not
    * necessarily adjacently, which is exactly what [[sessionPaths]]
    * (whole contiguous paths) and the Markov transition counts (adjacent
    * pairs only) cannot see. Support = supporting sessions / all
    * sessions; each session votes once per pattern (the per-session
    * DISTINCT).
    *
    * Scale shape: the [[sessionPaths]] sessionizer (one per-user window
    * pass), then a co-partitioned self-equi-join on the session key whose
    * fanout is session-length-bounded (the gap parameter is the cap
    * lever), a distinct + one partial-aggregated count, and a bounded
    * TakeOrdered top-k under the (sessions desc, ante, cons) total
    * order. The session total broadcasts from a 1-row aggregate. */
  def sequentialPatterns(
      events: DataFrame,
      gapSeconds: Long = 1800,
      topN: Int = 25): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("__us"), col("event_id"))
    val gapUs = gapSeconds * 1000000L
    val sess = events
      .withColumn("__us", unix_micros(col("ts").cast("timestamp")))
      .withColumn("__new",
        when(col("__us") - lag(col("__us"), 1).over(byUser) > gapUs, 1).otherwise(0))
      .withColumn("__sid", sum(col("__new")).over(byUser))
      .select(concat(col("user_id"), lit("#"), col("__sid")).as("__s"),
        col("__us"), col("event_id"), col("event_type"))
    val tot = sess.agg(count_distinct(col("__s")).as("__n"))
    val b = sess.select(col("__s").as("__s2"), col("__us").as("__tb"),
      col("event_id").as("__ib"), col("event_type").as("cons"))
    sess
      .join(b, col("__s") === col("__s2") &&
        (col("__us") < col("__tb") ||
          (col("__us") === col("__tb") && col("event_id") < col("__ib"))))
      .select(col("__s"), col("event_type").as("ante"), col("cons"))
      .distinct()
      .groupBy(col("ante"), col("cons"))
      .agg(count(lit(1)).as("sessions"))
      .crossJoin(broadcast(tot))
      .select(col("ante"), col("cons"), col("sessions"),
        round(col("sessions").cast("double") / col("__n").cast("double"), 6)
          .as("support"))
      .orderBy(col("sessions").desc, col("ante"), col("cons"))
      .limit(topN)
  }

  /** Last-touch attribution: each conversion event is credited to the most
    * recent STRICTLY-PRECEDING touch event of an allowed type by the same
    * user — the marketing-attribution staple. One per-user window pass
    * using the IGNORE NULLS last_value idiom (the forward-fill shape, X37):
    * no self-join, no per-conversion scan; unattributed conversions (no
    * prior touch) survive with nulls. `ts + event_id` pins a total order.
    *
    * Returns one row per conversion: user, conversion id/ts, attributed
    * touch id/type/ts, and the touch→conversion latency in seconds. */
  def lastTouchAttribution(
      events: DataFrame,
      conversionType: String,
      touchTypes: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("__us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val isTouch = col("event_type").isin(touchTypes.map(x => x: Any): _*)
    events
      .withColumn("__us", unix_micros(col("ts").cast("timestamp")))
      .withColumn("touch_event_id",
        last(when(isTouch, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("touch_type",
        last(when(isTouch, col("event_type")), ignoreNulls = true).over(w))
      .withColumn("touch_us",
        last(when(isTouch, col("__us")), ignoreNulls = true).over(w))
      .filter(col("event_type") === conversionType)
      .select(
        col("user_id"),
        col("event_id").as("conversion_id"),
        col("__us").as("conversion_us"),
        col("touch_event_id"),
        col("touch_type"),
        // integer division (not a double cast: engines round double->long
        // differently; positive micros make div/floor-div agree)
        expr("(__us - touch_us) div 1000000").as("latency_sec"))
  }

  /** LINEAR multi-touch attribution — the equal-split companion to
    * [[lastTouchAttribution]]: every touch in the `windowSec` lookback
    * before a conversion shares the credit 1/k. The pairing is a
    * co-partitioned self-join on the user key with a time-range predicate
    * (the interval-join shape — fan-out bounded by touches-per-user-
    * window, never user-history²), k counts over a conversion-keyed
    * window on the PAIR table, and credit quantizes to exact
    * `1e9 div k` longs so per-channel totals are exact integer sums with
    * ONE final division — no order-dependent double accumulation.
    * Returns one row per channel: conversions reached, exact total
    * credit. Σ credit < conversions exactly when some conversions had no
    * touch in window (the unattributed remainder). */
  def linearAttribution(
      events: DataFrame,
      conversionType: String,
      touchTypes: Seq[String],
      windowSec: Long): DataFrame = {
    val k = Window.partitionBy(col("conversion_id"))
    touchPairs(events, conversionType, touchTypes, windowSec)
      .withColumn("__k", count(lit(1)).over(k))
      .withColumn("__credit_q", expr("1000000000 div __k"))
      .groupBy(col("channel"))
      .agg(
        countDistinct(col("conversion_id")).as("n_conversions"),
        (sum(col("__credit_q")).cast("double") / 1e9).as("credit"))
  }

  /** POSITION-BASED (U-shaped, 40/20/40) multi-touch attribution — the
    * industry-standard positional member completing the heuristic family
    * (X75 last-touch, X164 linear, X167 time-decay; X239 Markov and X285
    * Shapley are the data-driven members): the FIRST touch (discovery) and
    * the LAST touch (closing) each take 40%, the middle touches split the
    * remaining 20%. One touch takes 100%, two touches 50/50 (the standard
    * renormalization). Positions come from a per-conversion row_number on
    * the (time, touch id) total order — bounded by touches-per-conversion,
    * the same window grain as the rest of the family; credits are exact
    * 1e-9 integer units (middles one integer division each), channel
    * totals exact long sums. */
  def positionAttribution(
      events: DataFrame,
      conversionType: String,
      touchTypes: Seq[String],
      windowSec: Long): DataFrame = {
    val k = Window.partitionBy(col("conversion_id"))
    val ord = Window.partitionBy(col("conversion_id"))
      .orderBy(col("__tus"), col("__tid"))
    touchPairs(events, conversionType, touchTypes, windowSec)
      .withColumn("__n", count(lit(1)).over(k))
      .withColumn("__rn", row_number().over(ord))
      .withColumn("__cq",
        when(col("__n") === 1, lit(1000000000L))
          .when(col("__n") === 2, lit(500000000L))
          .when(col("__rn") === 1 || col("__rn") === col("__n"), lit(400000000L))
          .otherwise(expr("200000000 div (__n - 2)")))
      .groupBy(col("channel"))
      .agg(
        countDistinct(col("conversion_id")).as("n_conversions"),
        (sum(col("__cq")).cast("double") / 1e9).as("credit"))
  }

  /** TIME-DECAY multi-touch attribution — the recency-weighted member of
    * the family (last-touch X75 / linear / this): a touch Δt before the
    * conversion carries weight 2^(−Δt/halfLife), normalized per
    * conversion. Weights quantize to 1e-9 longs, the per-conversion
    * normalizer is an exact long window sum, each pair's credit is ONE
    * integer division ((w·1e9) div W), and channel totals are exact
    * integer sums — the same no-double-accumulation discipline as the
    * linear twin, so the whole readout is oracle-replayable (ln 2 is an
    * embedded literal, not an engine log call). */
  def timeDecayAttribution(
      events: DataFrame,
      conversionType: String,
      touchTypes: Seq[String],
      windowSec: Long,
      halfLifeSec: Long): DataFrame = {
    require(halfLifeSec > 0, s"halfLifeSec must be > 0, got $halfLifeSec")
    val w = exp(lit(-0.6931471805599453) *
      (col("__cus") - col("__tus")).cast("double") / (halfLifeSec * 1e6))
    val conv = Window.partitionBy(col("conversion_id"))
    touchPairs(events, conversionType, touchTypes, windowSec)
      .withColumn("__wq", floor(w * 1e9 + 0.5).cast("long"))
      .withColumn("__tot", sum(col("__wq")).over(conv))
      .withColumn("__cq",
        when(col("__tot") > 0, expr("(__wq * 1000000000) div __tot")).otherwise(0L))
      .groupBy(col("channel"))
      .agg(
        countDistinct(col("conversion_id")).as("n_conversions"),
        (sum(col("__cq")).cast("double") / 1e9).as("credit"))
  }

  /** Conversion←touch candidate pairs: co-partitioned user-key join with
    * the strictly-before, in-window time predicate — fan-out bounded by
    * touches-per-user-window, never user-history². */
  private def touchPairs(
      events: DataFrame,
      conversionType: String,
      touchTypes: Seq[String],
      windowSec: Long): DataFrame = {
    require(windowSec > 0, s"windowSec must be > 0, got $windowSec")
    val base = events.withColumn("__us", unix_micros(col("ts").cast("timestamp")))
    val touches = base
      .filter(col("event_type").isin(touchTypes.map(x => x: Any): _*))
      .select(col("user_id").as("__tu"), col("__us").as("__tus"),
        col("event_id").as("__tid"), col("event_type").as("channel"))
    val convs = base
      .filter(col("event_type") === conversionType)
      .select(col("user_id").as("__cu"), col("__us").as("__cus"),
        col("event_id").as("conversion_id"))
    convs.join(touches,
      col("__cu") === col("__tu") &&
        col("__tus") < col("__cus") &&
        col("__tus") >= col("__cus") - windowSec * 1000000L)
  }

  /** Weekly retention cohorts: each user's cohort is the Monday week of
    * their first `signupType` event; every later active week counts them in
    * (cohort_week, week_offset). One small cohort aggregate joined back on
    * the user key (co-partitioned with the activity dedup's shuffle), then
    * a (cohort, offset, user) dedup + count — all partial-agg shapes.
    * The product-analytics retention triangle. */
  def retentionCohorts(events: DataFrame, signupType: String): DataFrame = {
    val cohorts = events
      .filter(col("event_type") === signupType)
      .groupBy(col("user_id"))
      .agg(min(date_trunc("week", col("ts").cast("timestamp"))).cast("date").as("cohort_week"))
    events
      .select(col("user_id"), date_trunc("week", col("ts").cast("timestamp")).cast("date").as("__act_week"))
      .join(cohorts, "user_id")
      .filter(col("__act_week") >= col("cohort_week"))
      .select(
        col("cohort_week"),
        (datediff(col("__act_week"), col("cohort_week")).cast("long") / 7L).cast("long").as("week_offset"),
        col("user_id"))
      .distinct()
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Greedy ordered funnel: a user reaches step i when, scanning their
    * events in time order, an event of type `steps(i)` occurs at-or-after
    * the moment steps 0..i-1 completed. The greedy earliest-completion scan
    * is exact for reachability (completing a prefix as early as possible
    * never forfeits a later step).
    *
    * Shape: ONE partial hash aggregate collects each user's step-relevant
    * events (bounded by per-user activity, not corpus size — the same
    * contract as sessionization), the per-user scan is a codegen'd
    * `aggregate` fold over the sorted array, and the final step counts
    * reduce to a single row unpivoted with a narrow explode. No window, no
    * iterated self-joins — at 100 TB the only shuffle is the per-user
    * aggregate. Ties (same user, same timestamp, different types) resolve
    * by (ts, type) struct order in the sort.
    *
    * Returns (step_idx, step, n_users) — n_users reaching each step. */
  def funnel(
      df: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.size == steps.size, "funnel steps must be distinct")
    val perUser = df
      .filter(col(typeCol).isin(steps: _*))
      .select(
        col(userCol),
        struct(col(tsCol).as("ts"), col(typeCol).as("et")).as("__e"))
      .groupBy(col(userCol))
      .agg(sort_array(collect_list(col("__e"))).as("__evs"))
    val depth = aggregate(
      col("__evs"),
      lit(0),
      (d, e) =>
        steps.zipWithIndex
          .foldLeft(when(lit(false), d)) { case (acc, (s, i)) =>
            acc.when(d === i && e("et") === s, i + 1)
          }
          .otherwise(d))
    depthCounts(perUser.select(depth.as("__depth")), steps)
  }

  /** First-order Markov transition matrix of per-key event sequences:
    * P(next_state | state) estimated from consecutive pairs. One window lag
    * per key (`tiebreakCols` pins equal-timestamp order), one partial-agg
    * pair count; the per-state normalization window runs over the
    * state-cardinality² matrix rows, not the data. The standard what-happens-
    * next / next-page model behind journey analytics. */
  def transitionMatrix(
      df: DataFrame,
      keyCol: String,
      timeCol: String,
      stateCol: String,
      tiebreakCols: Seq[String] = Nil): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol))
      .orderBy(col(timeCol) +: tiebreakCols.map(col): _*)
    val counts = df
      .withColumn("__prev", lag(col(stateCol), 1).over(w))
      .filter(col("__prev").isNotNull)
      .groupBy(col("__prev").as("state"), col(stateCol).as("next_state"))
      .agg(count(lit(1)).as("n"))
    transitionProbs(counts)
  }

  /** Each (state, next_state, n) count's share of its state's row. */
  def transitionProbs(counts: DataFrame): DataFrame = {
    val byState = org.apache.spark.sql.expressions.Window.partitionBy(col("state"))
    counts.withColumn("p", col("n") / sum(col("n")).over(byState))
  }

  /** Reduce per-user reached depths (column `__depth`) to one row per funnel
    * step with the user count that reached it — shared by the batch fold
    * above and the streaming state-machine twin
    * ([[graft.streaming.Events.funnelStream]]). */
  private[graft] def depthCounts(depths: DataFrame, steps: Seq[String]): DataFrame = {
    val stepReach = steps.indices.map(i =>
      sum(when(col("__depth") >= i + 1, 1L).otherwise(0L)).as(s"__r$i"))
    depths
      .agg(stepReach.head, stepReach.tail: _*)
      .select(explode(array(steps.zipWithIndex.map { case (s, i) =>
        struct(
          lit(i + 1).as("step_idx"),
          lit(s).as("step"),
          col(s"__r$i").as("n_users"))
      }: _*)).as("__p"))
      .select(col("__p.*"))
  }

  /** Markov removal-effect attribution (Anderl et al. 2016) — the
    * DATA-DRIVEN member of the attribution family (X75 last-touch / X164
    * linear / X167 time-decay are positional rules; this one asks the
    * journeys): build the first-order chain over
    * {START, channels…, CONV, NULL} from per-user pre-conversion touch
    * sequences, then for each channel compute the conversion probability
    * of the chain WITH THAT CHANNEL REMOVED (its inbound edges redirect to
    * NULL, its outbound rows drop) — the relative drop is the channel's
    * removal effect, normalized into attribution shares.
    *
    * Execution: every removal variant's absorption recursion runs JOINTLY
    * as one fixed-iteration loop over the (removal × state) keyed table —
    * the PageRank discipline with absorption semantics: p stores as
    * 1e-12-unit longs, each edge contributes floor(c·p/rowTotal + 0.5)
    * (an exact-integer-operand chain), CONV re-pins to 1e12 every round.
    * All tables are bounded by the channel domain (the matrix, not the
    * corpus); the channel list collects to the driver — domain-bounded by
    * contract, like the centroid tables. One corpus shuffle builds the
    * edges; everything after is domain-scale.
    *
    * Returns per channel `(channel, conv_prob_base, conv_prob_without,
    * removal_effect, share)`; share is NULL when no channel has positive
    * effect. */
  def markovAttribution(
      df: DataFrame,
      userCol: String,
      tsCol: String,
      channelCol: String,
      convChannel: String,
      tiebreakCols: Seq[String] = Nil,
      iterations: Int = 20): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val START = "__START__"
    val CONV = "__CONV__"
    val NULLS = "__NULL__"
    val ord = col("__ts") +: tiebreakCols.map(col)
    val w = Window.partitionBy(col("__u")).orderBy(ord: _*)
    val seq0 = df
      .select((col(userCol).as("__u") +: col(tsCol).as("__ts") +:
        col(channelCol).as("__c") +: tiebreakCols.map(col)): _*)
      .withColumn("__rn", row_number().over(w))
    val convPos = seq0.filter(col("__c") === convChannel)
      .groupBy(col("__u")).agg(min(col("__rn")).as("__cp"))
    val tagged = seq0.join(convPos, Seq("__u"), "left")
    val touches = tagged
      .filter(col("__c") =!= convChannel &&
        (col("__cp").isNull || col("__rn") < col("__cp")))
    val wo = Window.partitionBy(col("__u")).orderBy(col("__rn"))
    val withNext = touches
      .withColumn("__next", lead(col("__c"), 1).over(wo))
      .withColumn("__pos", row_number().over(wo))
    val startEdges = withNext.filter(col("__pos") === 1)
      .select(lit(START).as("__s"), col("__c").as("__t"))
    val midEdges = withNext.filter(col("__next").isNotNull)
      .select(col("__c").as("__s"), col("__next").as("__t"))
    val endEdges = withNext.filter(col("__next").isNull)
      .select(col("__c").as("__s"),
        when(col("__cp").isNotNull, CONV).otherwise(NULLS).as("__t"))
    // converters whose FIRST event is the conversion: START -> CONV direct
    val directConv = convPos
      .join(touches.select(col("__u")).distinct(), Seq("__u"), "left_anti")
      .select(lit(START).as("__s"), lit(CONV).as("__t"))
    val edges = startEdges.unionByName(midEdges).unionByName(endEdges)
      .unionByName(directConv)
      .groupBy(col("__s"), col("__t")).agg(count(lit(1)).as("__c"))
      .localCheckpoint(true)
    val rowTot = edges.groupBy(col("__s").as("__s2")).agg(sum(col("__c")).as("__rt"))
    val edgesT = edges.join(rowTot, col("__s") === col("__s2")).drop("__s2")
    // channel domain — bounded by contract (event-type scale)
    val channels = touches.select(col("__c")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val spark = df.sparkSession
    import spark.implicits._
    // The absorption recursion runs on the DRIVER (r14): the channel
    // domain is bounded by contract (collected just above), so every
    // removal variant's edge table is ≤ (channels+3)² rows — while the
    // distributed form scheduled `iterations` tiny join+agg rounds whose
    // job overhead dominated the query (measured at sf0.1: rounds ~9.3 s
    // of scheduling vs 0.7 s for the whole corpus half). The arithmetic
    // is the IDENTICAL quantized chain — floor(c·pq/rt + 0.5) per edge
    // row on doubles, long sums (order-free) — so results are
    // bit-identical and stay oracle-gated; the corpus-scale work above
    // and the share readout below remain distributed.
    val edgeRows = edgesT.select(col("__s"), col("__t"), col("__c"), col("__rt"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val removalsSeq = "__NONE__" +: channels
    val startRows = removalsSeq.flatMap { rm =>
      val variant = edgeRows.iterator
        .filter(_._1 != rm)
        .map { case (s0, t0, c0, rt0) =>
          (s0, if (t0 == rm) NULLS else t0, c0, rt0)
        }.toVector
      var p = Map(CONV -> 1000000000000L)
      for (_ <- 1 to iterations) {
        val next = scala.collection.mutable.Map.empty[String, Long]
        variant.foreach { case (s0, t2, c0, rt0) =>
          p.get(t2).foreach { pq =>
            val contrib =
              math.floor(c0.toDouble * pq.toDouble / rt0.toDouble + 0.5).toLong
            next.update(s0, next.getOrElse(s0, 0L) + contrib)
          }
        }
        p = next.toMap + (CONV -> 1000000000000L)
      }
      p.get(START).map(rm -> _)
    }
    val starts = startRows.toDF("__r", "__pq")
    val base = starts.filter(col("__r") === "__NONE__")
      .select(col("__pq").as("__base"))
    val perChannel = broadcast(channels.toDF("channel"))
      .join(starts.withColumnRenamed("__r", "channel"), Seq("channel"), "left")
      .crossJoin(broadcast(base))
      .select(
        col("channel"),
        (col("__base").cast("double") / 1e12).as("conv_prob_base"),
        (coalesce(col("__pq"), lit(0L)).cast("double") / 1e12).as("conv_prob_without"),
        when(col("__base") > 0L,
          (col("__base") - coalesce(col("__pq"), lit(0L))).cast("double") /
            col("__base").cast("double")).as("removal_effect"))
    // shares normalize over 1e-9-quantized effects so the cross-channel
    // sum is an exact integer (a double sum's order is not guaranteed)
    val wAll = Window.partitionBy()
    perChannel
      .withColumn("__req", floor(col("removal_effect") * 1e9 + 0.5).cast("long"))
      .withColumn("__posSum",
        sum(when(col("__req") > 0L, col("__req")).otherwise(lit(0L))).over(wAll))
      .withColumn("share",
        when(col("__posSum") > 0L && col("__req") > 0L,
          col("__req").cast("double") / col("__posSum").cast("double")))
      .drop("__req", "__posSum")
  }

  /** Shapley-value channel attribution (Shapley 1953; the cooperative-
    * game member of the attribution family, beside X239's Markov removal
    * effect and the positional rules): each converting user's
    * pre-conversion touch SET is a coalition footprint; the value of a
    * channel coalition S is v(S) = conversions reachable using only
    * channels in S (touch-set ⊆ S), and channel i's credit is the exact
    * Shapley value φ_i = Σ_{S∌i} |S|!·(c−|S|−1)!/c!·(v(S∪i)−v(S)).
    * Efficiency holds by construction: Σφ_i = v(all channels) = the
    * attributable conversion count.
    *
    * EXACT END TO END: the only corpus-scale work is one touch-set
    * aggregate (distinct channel bits per converter folded into a ≤2^c
    * mask histogram); v() and the φ sums run on DOMAIN-BOUNDED tables
    * (2^c subsets × 2^c masks, c ≤ `maxChannels`), weights are integer
    * factorial products (φ·c! stays in exact DECIMAL), and the single
    * division by c! lands each φ on one correctly-rounded double —
    * partition-invariant and SQL-replayable verbatim. Touches count when
    * STRICTLY earlier than the user's first conversion; converters with
    * an empty touch set are unattributable and report as the
    * `__DIRECT__` row (share NULL) rather than silently vanishing.
    *
    * Returns one row per channel + the direct row:
    * (channel, conversions, share). */
  def shapleyAttribution(
      df: DataFrame,
      userCol: String,
      tsCol: String,
      channelCol: String,
      convChannel: String,
      maxChannels: Int = 12): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(
      col(userCol).as("__u"), col(tsCol).as("__ts"), col(channelCol).as("__c"))
    // channel domain collects to the driver — domain-bounded by contract,
    // the markovAttribution posture
    val channels = base.filter(col("__c") =!= convChannel)
      .select(col("__c").cast("string")).distinct().orderBy("__c")
      .as[String].collect().toSeq
    require(channels.nonEmpty, "no non-conversion channels present")
    require(channels.length <= maxChannels,
      s"${channels.length} channels exceed maxChannels=$maxChannels (2^c subsets)")
    val c = channels.length
    val full = (1L << c) - 1
    val bitOf = channels.zipWithIndex.foldLeft(lit(null).cast("long")) {
      case (acc, (ch, i)) => when(col("__c") === ch, lit(1L << i)).otherwise(acc)
    }
    val convTs = base.filter(col("__c") === convChannel)
      .groupBy(col("__u")).agg(min(col("__ts")).as("__ct"))
    // one corpus pass: per-converter distinct touch bits -> mask histogram
    val maskCounts = base
      .join(convTs, Seq("__u"))
      .filter(col("__c") =!= convChannel && col("__ts") < col("__ct"))
      .select(col("__u"), bitOf.as("__b")).distinct()
      .groupBy(col("__u")).agg(sum(col("__b")).as("__m"))
      .groupBy(col("__m")).agg(count(lit(1)).as("__cv"))
    val nConverters = convTs.count()
    val nTouched = maskCounts.agg(coalesce(sum(col("__cv")), lit(0L))).head.getLong(0)
    val nDirect = nConverters - nTouched
    // v(S) over all 2^c subsets: containment join on the bounded tables
    val subsets = spark.range(1L << c).select(col("id").as("__s"))
    val v = subsets
      .join(broadcast(maskCounts),
        col("__m").bitwiseAND(col("__s")) === col("__m"), "left")
      .groupBy(col("__s")).agg(coalesce(sum(col("__cv")), lit(0L)).as("__v"))
    val fact = (1 to c).scanLeft(1L)(_ * _) // fact(k) = k!, indices 0..c
    val wBySize = array((0 until c).map(k => lit(fact(k) * fact(c - 1 - k))): _*)
    val chanTab = channels.zipWithIndex
      .map { case (ch, i) => (ch, 1L << i) }.toDF("channel", "__bit")
    val vS = v.select(col("__s"), col("__v"))
    val vSi = v.select(col("__s").as("__si"), col("__v").as("__vi"))
    val phi = subsets.crossJoin(broadcast(chanTab))
      .filter(col("__s").bitwiseAND(col("__bit")) === 0L)
      .join(broadcast(vS), Seq("__s"))
      .join(broadcast(vSi), col("__si") === col("__s").bitwiseOR(col("__bit")))
      .withColumn("__w", element_at(wBySize, expr("int(bit_count(__s))") + 1))
      .groupBy(col("channel"))
      .agg(sum((col("__w") * (col("__vi") - col("__v"))).cast("decimal(38,0)"))
        .as("__phiN"))
      .select(col("channel"),
        round(col("__phiN").cast("double") / lit(fact(c).toDouble), 6)
          .as("conversions"),
        when(lit(nTouched) > 0,
          round(col("__phiN").cast("double") / lit(fact(c).toDouble) /
            lit(nTouched.toDouble), 6)).as("share"))
    phi.unionByName(
      Seq(("__DIRECT__", nDirect.toDouble)).toDF("channel", "conversions")
        .withColumn("share", lit(null).cast("double")))
  }
}
