package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join/window operators.
  *
  * The reference's period calculus (rolling 6-month windows keyed to quarter
  * ends, extract_pec_data.py:193) generalizes to two operators Spark lacks as
  * primitives: the as-of join and the range (interval) join. Both are
  * implemented in their scalable form:
  *
  *  - as-of join: union + one window pass — ONE shuffle on the key, linear
  *    scan per key, no candidate-pair explosion. This is the plan that
  *    survives 100 TB: a join-then-rank formulation materializes |L|×|R|/keys
  *    intermediate rows; the union form never materializes more than the
  *    input.
  *  - range join to a tiny bin dimension: broadcast nested-loop on a
  *    between() predicate — zero shuffle on the fact side.
  */
object Temporal {

  /** As-of join: for each `left` row, the single latest `right` row with
    * `right.timeCol <= left.timeCol` on the same key (ties broken by the
    * largest `tiebreak`). Left rows with no preceding right row keep nulls —
    * left-outer semantics.
    *
    * @param rightVals right columns to carry onto the left rows (renamed as
    *                   given); must not collide with left column names
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      leftTime: String,
      rightTime: String,
      rightTiebreak: String,
      rightVals: Seq[(String, String)]): DataFrame = {
    val leftCols = left.columns.toSeq
    val outNames = rightVals.map(_._2)

    // Tag sides; right rows sort before left rows at an equal timestamp so
    // the inclusive (<=) match sees them.
    val l = left
      .withColumn("__t", col(leftTime))
      .withColumn("__side", lit(1))
      .withColumn("__tb", lit(null).cast(right.schema(rightTiebreak).dataType))
    val lAligned = outNames.foldLeft(l) { (acc, n) =>
      acc.withColumn(n, lit(null).cast(right.schema(rightVals.find(_._2 == n).get._1).dataType))
    }
    val r0 = right
      .withColumn("__t", col(rightTime))
      .withColumn("__side", lit(0))
      .withColumn("__tb", col(rightTiebreak))
    val rRenamed = rightVals.foldLeft(r0) { case (acc, (from, to)) =>
      if (from == to) acc else acc.withColumn(to, col(from))
    }
    val rAligned = leftCols.filterNot(keyCols.contains).foldLeft(rRenamed) { (acc, n) =>
      acc.withColumn(n, lit(null).cast(left.schema(n).dataType))
    }
    val cols = (keyCols ++ leftCols.filterNot(keyCols.contains) ++ Seq("__t", "__side", "__tb") ++ outNames)
      .map(col)
    val unioned = lAligned.select(cols: _*).unionByName(rAligned.select(cols: _*))

    // One pass per key: running last-seen right values; window is
    // rows-unbounded-preceding so it needs no second sort.
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col("__t").asc, col("__side").asc, col("__tb").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = outNames.foldLeft(unioned) { (acc, n) =>
      acc.withColumn(n, last(col(n), ignoreNulls = true).over(w))
    }
    filled
      .filter(col("__side") === 1)
      .drop("__t", "__side", "__tb")
  }

  /** NEAREST-event join — the bidirectional sibling of [[asofJoin]]
    * (backward-only) completing the temporal-join family: each left row
    * matches the right event CLOSEST in time within `tolerance`, in
    * either direction (sensor alignment, nearest-click attribution,
    * nearest-price marking). Deterministic conventions: a tie in distance
    * prefers the BACKWARD match (asof semantics degrade gracefully);
    * equal-instant right rows resolve by tiebreak — largest wins backward
    * (the asofJoin convention), smallest wins forward; unmatched left
    * rows keep NULL right columns.
    *
    * Same scale shape as asofJoin: union both sides, ONE shuffle on the
    * key, two running `last(ignoreNulls)` window passes (ascending and
    * descending) — never a range join, never per-left scans. Time columns
    * must be numeric (epoch units); `tolerance` is in the same units. */
  def nearestEventJoin(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      leftTime: String,
      rightTime: String,
      rightTiebreak: String,
      rightVals: Seq[(String, String)],
      tolerance: Long): DataFrame = {
    require(tolerance > 0, s"tolerance must be > 0, got $tolerance")
    val leftCols = left.columns.toSeq
    val outNames = rightVals.map(_._2)
    val l = left
      .withColumn("__t", col(leftTime).cast("long"))
      .withColumn("__side", lit(1))
      .withColumn("__tb", lit(null).cast(right.schema(rightTiebreak).dataType))
      .withColumn("__rt", lit(null).cast("long"))
    val lAligned = outNames.foldLeft(l) { (acc, n) =>
      acc.withColumn(n,
        lit(null).cast(right.schema(rightVals.find(_._2 == n).get._1).dataType))
    }
    val r0 = right
      .withColumn("__t", col(rightTime).cast("long"))
      .withColumn("__side", lit(0))
      .withColumn("__tb", col(rightTiebreak))
      .withColumn("__rt", col(rightTime).cast("long"))
    val rRenamed = rightVals.foldLeft(r0) { case (acc, (from, to)) =>
      if (from == to) acc else acc.withColumn(to, col(from))
    }
    val rAligned = leftCols.filterNot(keyCols.contains).foldLeft(rRenamed) { (acc, n) =>
      acc.withColumn(n, lit(null).cast(left.schema(n).dataType))
    }
    val cols = (keyCols ++ leftCols.filterNot(keyCols.contains) ++
      Seq("__t", "__side", "__tb", "__rt") ++ outNames).map(col)
    val unioned = lAligned.select(cols: _*).unionByName(rAligned.select(cols: _*))
    val wB = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__t").asc, col("__side").asc, col("__tb").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__t").desc, col("__side").asc, col("__tb").desc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // ONE struct of (__rt, all carried values) rides a SINGLE last() per
    // direction, so every output column comes from the SAME matched right
    // row — independent per-column last(ignoreNulls) would skip a NULL
    // value on the nearest event and splice in an older row's value.
    val rightStruct = when(col("__side") === 0,
      struct(col("__rt").as("__rt") +: outNames.map(n => col(n).as(n)): _*))
    val withBoth = unioned
      .withColumn("__bs", last(rightStruct, ignoreNulls = true).over(wB))
      .withColumn("__fs", last(rightStruct, ignoreNulls = true).over(wF))
      .withColumn("__bt", col("__bs").getField("__rt"))
      .withColumn("__ft", col("__fs").getField("__rt"))
    val db = col("__t") - col("__bt")
    val df0 = col("__ft") - col("__t")
    val bOk = col("__bt").isNotNull && db <= tolerance
    val fOk = col("__ft").isNotNull && df0 <= tolerance
    val useB = bOk && (!fOk || db <= df0)
    val useF = fOk && !(bOk && db <= df0)
    val picked = outNames.foldLeft(withBoth.filter(col("__side") === 1)) {
      (acc, n) =>
        acc.withColumn(n,
          when(useB, col("__bs").getField(n)).when(useF, col("__fs").getField(n)))
    }
    picked
      .withColumn("nearest_time", when(useB, col("__bt")).when(useF, col("__ft")))
      .withColumn("nearest_gap", when(useB, db).when(useF, df0))
      .withColumn("direction",
        when(useB, "before").when(useF, "after"))
      .drop("__t", "__side", "__tb", "__rt", "__bt", "__ft", "__bs", "__fs")
  }

  /** Join facts to a small bin dimension on `lo <= v < hi`. The dimension is
    * broadcast, so the fact side never shuffles (BroadcastNestedLoopJoin).
    * Out-of-range facts keep null bin columns (left-outer). */
  def rangeJoin(
      facts: DataFrame,
      bins: DataFrame,
      valueCol: String,
      loCol: String,
      hiCol: String): DataFrame =
    facts.join(
      broadcast(bins),
      col(valueCol) >= col(loCol) && col(valueCol) < col(hiCol),
      "left")

  /** Equi-key interval join: pair each left row with the right rows of the
    * same key whose timestamp falls in `[leftTs + lowerSec, leftTs +
    * upperSec]` — click-to-purchase attribution, exposure windows, the batch
    * twin of a Structured Streaming stream-stream interval join
    * ([[graft.streaming.Events.intervalJoinStream]] runs the SAME condition
    * incrementally with watermark-bounded state).
    *
    * Plan shape: one shuffle per side on the key (sort-merge or, if a side
    * is small, broadcast); the time predicate evaluates inside the join, so
    * nothing fans out beyond true matches — never a cartesian. */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      lowerSec: Long,
      upperSec: Long): DataFrame = {
    val cond = keys.map(k => left(k) === right(k)).reduce(_ && _) &&
      right(rightTs) >= left(leftTs) + expr(s"INTERVAL $lowerSec SECONDS") &&
      right(rightTs) <= left(leftTs) + expr(s"INTERVAL $upperSec SECONDS")
    left.join(right, cond)
  }

  /** Fill calendar gaps per key (resample-to-regular-grid): build each key's
    * spine `sequence(min, max, step)` — a narrow generate off one aggregate
    * row per key, never a global calendar cross-join — left-join the actual
    * per-period rows back on (key, period), and zero-fill the holes. The
    * spine agg and the join share the key columns, so with AQE both hash
    * exchanges co-partition; per-key spine width is bounded by the calendar
    * span, not the data volume, so the fanout stays O(keys × periods) at any
    * scale. With no key columns the whole frame is one series. The
    * declarative twin of the reference's "complete missing quarters with
    * zeros" reporting step.
    *
    * @param step     the grid step: a positive whole number of months
    *                 (`Period.ofMonths`) or of days (`Period.ofDays`)
    * @param defaults fill value per column for spine rows with no match
    */
  def fillGaps(
      df: DataFrame,
      keyCols: Seq[String],
      periodCol: String,
      step: java.time.Period,
      defaults: Seq[(String, Column)]): DataFrame = {
    val (months, days) = (step.toTotalMonths, step.getDays)
    require((months > 0 && days == 0) || (months == 0 && days > 0),
      s"step must be a positive whole number of months or of days, got $step")
    val interval = if (days > 0) s"$days DAY" else s"$months MONTH"
    val keys = keyCols.map(col)
    val spine = df
      .groupBy(keys: _*)
      .agg(min(col(periodCol)).as("__lo"), max(col(periodCol)).as("__hi"))
      .select(
        keys :+ explode(
          sequence(col("__lo"), col("__hi"), expr(s"INTERVAL $interval")))
          .as(periodCol): _*)
    val joined = spine.join(df, keyCols :+ periodCol, "left")
    defaults.foldLeft(joined) { case (acc, (c, dflt)) =>
      acc.withColumn(c, coalesce(col(c), dflt))
    }
  }

  /** Forward-fill (LOCF — last observation carried forward): replace nulls
    * in `cols` with the latest non-null value at-or-before each row within
    * its key, ordered by `orderCol`. One per-key window with
    * `last(ignoreNulls)` over an unbounded-preceding frame — pairs with
    * [[fillGaps]] (`defaults` left null) to resample a sparse series onto a
    * regular grid carrying the last known reading. */
  def forwardFill(
      df: DataFrame,
      keyCols: Seq[String],
      orderCol: String,
      cols: Seq[String]): DataFrame = {
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    cols.foldLeft(df) { case (acc, c) =>
      acc.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
  }

  /** SCD2 (slowly-changing-dimension type 2) interval build: collapse an
    * ordered series of per-key observations into validity runs — one row
    * per maximal run of unchanged `attrCols`, with `valid_from` (first
    * order value of the run) and `valid_to` (start of the next run,
    * null while current). The run id is the sessionize cumsum trick on a
    * null-safe change flag (`lag(struct) <=> struct`), so the whole build
    * is one per-key window pass + one partial aggregate + one run-grain
    * window (run cardinality ≤ observation cardinality). */
  def scd2(
      df: DataFrame,
      keyCols: Seq[String],
      orderCol: String,
      attrCols: Seq[String]): DataFrame = {
    val keys = keyCols.map(col)
    val w = Window.partitionBy(keys: _*).orderBy(col(orderCol))
    val attrs = struct(attrCols.map(col): _*)
    val runs = df
      .withColumn("__chg", when(lag(attrs, 1).over(w) <=> attrs, 0).otherwise(1))
      .withColumn("__run", sum(col("__chg")).over(w))
      .groupBy(keys :+ col("__run") :+ attrs.as("__attrs"): _*)
      .agg(min(col(orderCol)).as("valid_from"))
    val wRun = Window.partitionBy(keys: _*).orderBy(col("valid_from"))
    runs
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wRun))
      .select(keys ++ attrCols.map(a => col(s"__attrs.$a").as(a)) ++
        Seq(col("valid_from"), col("valid_to")): _*)
  }

  /** SCD2 history from a CDC CHANGE FEED — the other standard path to
    * validity intervals next to [[scd2]]'s snapshot-diff runs: each
    * non-delete change opens a version valid from its own sequence until
    * the key's next change (any op — a later update supersedes, a
    * tombstone closes), `valid_to` null while current; delete changes
    * close the preceding interval but emit no row, so a deleted key has no
    * current version. One per-key window pass (frames bounded by per-key
    * change count), no join — the feed itself carries the full history
    * that [[Relational.applyCdc]] collapses to latest-state. */
  def scd2FromCdc(
      changes: DataFrame,
      keyCols: Seq[String],
      seqCol: String,
      opCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val w = Window.partitionBy(keys: _*).orderBy(col(seqCol))
    changes
      .withColumn("valid_from", col(seqCol))
      .withColumn("valid_to", lead(col(seqCol), 1).over(w))
      .filter(col(opCol) =!= lit("D"))
      .withColumn("is_current", col("valid_to").isNull)
      .drop(opCol)
  }

  /** Merge overlapping (or `tolerance`-adjacent) [start, end] intervals per
    * key — the classic gaps-and-islands reduction (coverage windows, on-call
    * spans, session stitching). One window pass per key: an interval opens a
    * new island exactly when its start exceeds the running max end of every
    * earlier interval (running max, not lag — an engulfed interval must not
    * end the island); island id is the running sum of those flags; one
    * partial-agg groupBy collapses each island to (start, max end, n).
    * Partitions by key — the standard sessionize caveat (a single key's
    * intervals sort together; keys are the parallelism unit). Start/end may
    * be timestamps or numerics; `tolerance` is in the column's long-cast
    * units (epoch SECONDS for timestamps). Closed intervals: touching
    * endpoints merge at tolerance 0. */
  def mergeIntervals(
      df: DataFrame,
      keyCols: Seq[String],
      startCol: String,
      endCol: String,
      tolerance: Long = 0L): DataFrame = {
    val keys = keyCols.map(col)
    val w = Window.partitionBy(keys: _*).orderBy(col(startCol), col(endCol))
    val runningEnd = max(col(endCol))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    // tolerance 0 compares the raw values (no long-cast truncation of
    // sub-second timestamps); a nonzero tolerance works in long-cast units
    val gapExceeded =
      if (tolerance == 0L) col(startCol) > runningEnd
      else col(startCol).cast("long") > runningEnd.cast("long") + tolerance
    df
      .withColumn(
        "__new_island",
        when(runningEnd.isNull || gapExceeded, 1L).otherwise(0L))
      .withColumn("island_idx", sum(col("__new_island")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(keys :+ col("island_idx"): _*)
      .agg(
        min(col(startCol)).as("island_start"),
        max(col(endCol)).as("island_end"),
        count(lit(1)).as("n_intervals"))
  }

  /** Time-weighted average of a sampled value per key: each sample holds
    * until the next one, so it weighs by its holding duration
    * (sum(v * dt) / sum(dt), the TWAP convention; the final sample has no
    * duration and drops out). One window pass for the lead, one partial
    * aggregate; numerators sum exactly through decimal, the one division
    * runs in double so any engine reproduces it. `tiebreakCols` pins the
    * sample order under equal timestamps (tied samples get dt = 0, so only
    * the ordering of the LAST tie matters — but it must be deterministic). */
  def timeWeightedAvg(
      df: DataFrame,
      keyCols: Seq[String],
      timeCol: String,
      valueCol: String,
      tiebreakCols: Seq[String] = Nil): DataFrame = {
    val keys = keyCols.map(col)
    val w = Window.partitionBy(keys: _*)
      .orderBy(col(timeCol) +: tiebreakCols.map(col): _*)
    val dtUs = (unix_micros(lead(col(timeCol), 1).over(w)) -
      unix_micros(col(timeCol))).as("__dt")
    df.select(keys ++ Seq(col(valueCol).as("__v"), dtUs): _*)
      .filter(col("__dt").isNotNull)
      .groupBy(keys: _*)
      .agg(
        (sum((col("__v") * col("__dt")).cast("decimal(30,6)")).cast("double") /
          sum(col("__dt")).cast("double")).as("twap"),
        count(lit(1)).as("n_samples"))
  }

  /** Trailing-window z-score anomaly detection: each observation scored
    * against the mean/stddev of its own STRICTLY-PRECEDING `lookback` rows
    * per key (self-excluded, so a spike can't mask itself), flagged when
    * |z| > `k` — the standard streaming-metrics outlier gate. Engine
    * determinism via the corrMatrix recipe: values quantize to exact
    * integer `scale`-ths (longs), window sums of longs are EXACT on any
    * engine, and the mean/variance divisions run in double from those
    * exact ingredients — so Spark and an oracle engine agree bit-for-bit.
    * One shuffle on the key, one window pass, no self-join.
    *
    * Output: input + (n_window, z, is_outlier); z is null when the
    * trailing window holds fewer than `minObs` rows. `orderCols` must make
    * the per-key order total. */
  def rollingZScore(
      df: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[String],
      valueCol: String,
      lookback: Int = 20,
      k: Double = 3.0,
      minObs: Int = 5,
      scale: Int = 100,
      numPartitions: Option[Int] = None): DataFrame = {
    require(lookback >= minObs && minObs >= 2, s"need lookback >= minObs >= 2, got $lookback/$minObs")
    def zOver(frame: DataFrame, w: org.apache.spark.sql.expressions.WindowSpec): DataFrame = {
      val q = floor(col(valueCol) * scale + 0.5).cast("long")
      val n = count(lit(1)).over(w)
      val s = sum(q).over(w)
      val ss = sum(q * q).over(w)
      // mean/var in double from the exact long sums; sample variance,
      // clamped at 0 (catastrophic cancellation can leave -ulp)
      val mean = s.cast("double") / (n * scale.toLong).cast("double")
      val varPop = (ss.cast("double") - s.cast("double") * s.cast("double") / n.cast("double")) /
        ((n - 1).cast("double") * (scale.toLong * scale)) // sample var, exact-long ingredients
      val sd = sqrt(greatest(varPop, lit(0.0)))
      val z = when(n >= minObs && sd > 0.0, (col(valueCol) - mean) / sd)
      frame.withColumn("n_window", n)
        .withColumn("z", z)
        .withColumn("is_outlier", coalesce(abs(col("z")) > k, lit(false)))
    }
    // keys are usually LOW-cardinality here (metric/event-type streams) —
    // parallelize past them with the borrowed-tail sliding-frame discipline
    Relational.slidingByKey(df, keyCols, orderCols,
      frameLower = -lookback.toLong, frameUpper = -1L,
      numPartitions = numPartitions)(zOver)
  }

  /** Hampel rolling-median outlier filter (Hampel 1974; the robust
    * sibling of [[rollingZScore]]): each observation scores against the
    * MEDIAN and MAD of its strictly-preceding `lookback` rows per key —
    * where the z-score's mean/sd let one earlier spike inflate sd and
    * mask the next (the masking problem), median/MAD have a 50%
    * breakdown. Deviation > k·1.4826·MAD flags (1.4826 = the Gaussian
    * MAD→σ constant); the degenerate MAD = 0 window (all-equal history)
    * flags ANY deviation from the median (documented convention).
    *
    * EXACT kernels: values quantize to integer `scale`-ths, the window
    * materializes as a bounded collect_list (≤ `lookback` longs — the
    * Theil–Sen collected-kernel discipline), and median/MAD are lower-
    * median ELEMENT selections on array_sort — exact integers until the
    * one k·1.4826·MAD comparison. Same scale shape as rollingZScore:
    * slidingByKey's deterministic-split two-pass machinery, no
    * low-cardinality-key serialization.
    *
    * Output: input + (n_window, median, mad, is_outlier); median/mad
    * NULL below `minObs`. */
  def hampelFilter(
      df: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[String],
      valueCol: String,
      lookback: Int = 20,
      k: Double = 3.0,
      minObs: Int = 5,
      scale: Int = 100,
      numPartitions: Option[Int] = None): DataFrame = {
    require(lookback >= minObs && minObs >= 2, s"need lookback >= minObs >= 2, got $lookback/$minObs")
    def overW(frame: DataFrame, w: org.apache.spark.sql.expressions.WindowSpec): DataFrame = {
      val q = floor(col(valueCol) * scale + 0.5).cast("long")
      val mid = expr("CAST((size(__srt) + 1) / 2 AS INT)")
      val enough = size(col("__srt")) >= minObs
      frame
        .withColumn("__srt", array_sort(collect_list(q).over(w)))
        .withColumn("__med", when(enough, element_at(col("__srt"), mid)))
        .withColumn("__mad", when(enough, element_at(
          array_sort(transform(col("__srt"), x => abs(x - col("__med")))), mid)))
        .withColumn("n_window", size(col("__srt")))
        .withColumn("median", col("__med").cast("double") / scale.toLong)
        .withColumn("mad", col("__mad").cast("double") / scale.toLong)
        .withColumn("is_outlier", coalesce(
          when(col("__mad") > 0L,
            abs(floor(col(valueCol) * scale + 0.5).cast("long") - col("__med"))
              .cast("double") > lit(k * 1.4826) * col("__mad").cast("double"))
            .otherwise(floor(col(valueCol) * scale + 0.5).cast("long") =!= col("__med")),
          lit(false)))
        .drop("__srt", "__med", "__mad")
    }
    Relational.slidingByKey(df, keyCols, orderCols,
      frameLower = -lookback.toLong, frameUpper = -1L,
      numPartitions = numPartitions)(overW)
  }

  /** Rolling aggregation over an integer position index (e.g. a month index
    * `year*12+month`): `agg` over the window `[pos - lookback, pos]` per key.
    * RANGE frame on the index, so missing months still bound the window
    * correctly — the declarative twin of the reference's rolling 6-month
    * windows (extract_pec_data.py:193). One shuffle on the key. */
  def rollingAgg(
      df: DataFrame,
      keyCols: Seq[String],
      posCol: String,
      lookback: Long,
      aggs: Seq[(Column, String)]): DataFrame = {
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(posCol))
      .rangeBetween(-lookback, 0)
    aggs.foldLeft(df) { case (acc, (c, name)) => acc.withColumn(name, c.over(w)) }
  }

  /** Two-sided CUSUM change-point detection (Page 1954) — the sequential
    * mean-shift monitor: `S+_t = max(0, S+_{t-1} + (x_t − target − slack))`
    * flags upward drifts, the mirrored `S-` downward ones, an alarm fires
    * when either exceeds `threshold`. The recursion is re-expressed in its
    * prefix form `S+_t = C_t − min(0, min_{j≤t} C_j)` (C = running sum of
    * deviations), so the whole operator is running sums + running extrema
    * of those sums — no recursion, no driver loop. Deviations quantize to
    * exact 1e-6ths (longs) before the cumulative sums, making every S
    * value and alarm decision exact integer arithmetic — partition- and
    * engine-portable. The prefix machinery rides
    * [[Relational.groupedRunningStats]]' keyed two-pass range exchange
    * (r11): CUSUM monitors run per metric/event-type — LOW-cardinality
    * keys at data grain — and a plain `Window.partitionBy(key)` would
    * serialize the corpus onto |keys| tasks; the two-pass form keeps
    * every core busy and is bit-identical (exact longs). `orderCols`
    * must be a unique order within each key. Appends
    * cusum_pos/cusum_neg (micro-unit grid doubles) and alarm_pos/alarm_neg. */
  def cusum(
      df: DataFrame,
      orderCols: Seq[String],
      valueCol: String,
      target: Double,
      slack: Double,
      threshold: Double,
      keyCols: Seq[String] = Nil): DataFrame = {
    require(threshold > 0, s"threshold must be positive, got $threshold")
    val dq = floor((col(valueCol) - lit(target) - lit(slack)) * lit(1000000.0) + lit(0.5))
      .cast("long")
    val eq = floor((col(valueCol) - lit(target) + lit(slack)) * lit(1000000.0) + lit(0.5))
      .cast("long")
    val hq = math.floor(threshold * 1000000.0 + 0.5).toLong
    val stats = Relational.groupedRunningStats(
      df.withColumn("__dq", dq).withColumn("__eq", eq),
      keyCols, orderCols.map(col),
      Seq(
        Relational.RunningSpec("__dq", "__c", runMin = Some("__cmin")),
        Relational.RunningSpec("__eq", "__d", runMax = Some("__dmax"))))
    stats
      .withColumn("__cp", col("__c") - least(lit(0L), col("__cmin")))
      .withColumn("__cn", greatest(lit(0L), col("__dmax")) - col("__d"))
      .withColumn("cusum_pos", col("__cp") / lit(1000000.0))
      .withColumn("cusum_neg", col("__cn") / lit(1000000.0))
      .withColumn("alarm_pos", col("__cp") > hq)
      .withColumn("alarm_neg", col("__cn") > hq)
      .drop("__dq", "__eq", "__c", "__d", "__cmin", "__dmax", "__cp", "__cn")
  }

  /** Bounded-lookback EWMA smoothing — the exponentially-weighted moving
    * average re-expressed without its recursion: s_t = Σ_{j<K} w_j·x_{t−j}
    * / Σ_{j<K} w_j over the last K observations per key, the "adjusted"
    * pandas form truncated at K (the tail weight (1−α)^K is negligible for
    * any practical α·K, and truncation is what makes the operator a
    * FIXED-width window — one shuffle on the key, K lags in one frame, no
    * sequential scan, no driver loop).
    *
    * ENGINE-PORTABLE by construction: the K weights (1−α)^j round to 12 dp
    * as literals at plan-build time, numerator and denominator accumulate
    * in a FIXED left-to-right expression order (IEEE doubles are
    * deterministic given order), missing lags at a series head contribute
    * to neither sum, and the ratio rounds at 6 dp. An oracle replays the
    * identical literals in the identical order.
    *
    * Appends `ewma` to every input row. */
  def ewma(
      df: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[String],
      valueCol: String,
      alpha: Double,
      lookback: Int = 8): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    require(lookback >= 1, s"lookback must be >= 1, got $lookback")
    val weights = (0 until lookback).map(j =>
      BigDecimal(math.pow(1.0 - alpha, j))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // LOW-CARDINALITY KEY ESCAPE (r11): the lag stack reaches at most
    // lookback-1 rows back, so it rides the borrowed-tail ordered core —
    // parallelism beyond key cardinality, same output bit-for-bit
    def build(frame: DataFrame, w: org.apache.spark.sql.expressions.WindowSpec): DataFrame = {
      val lags = (0 until lookback).map(j =>
        (if (j == 0) col(valueCol) else lag(col(valueCol), j).over(w)).cast("double"))
      val num = weights.zip(lags).map { case (wj, x) =>
        when(x.isNotNull, lit(wj) * x).otherwise(lit(0.0)) }.reduceLeft(_ + _)
      val den = weights.zip(lags).map { case (wj, x) =>
        when(x.isNotNull, lit(wj)).otherwise(lit(0.0)) }.reduceLeft(_ + _)
      // all-null frame -> NULL, not a 0/0 NaN
      frame.withColumn("ewma", when(den > 0, round(num / den, 6)))
    }
    if (lookback == 1) build(df, Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*))
    else Relational.slidingByKeyOrdered(
      df, keyCols, orderCols, history = lookback - 1)(build)
  }

  /** Rolling Pearson correlation of two INTEGER-VALUED series (quantize
    * first) over the last `lookback` rows per key — co-movement detection
    * as one fixed-width window: the five sufficient statistics accumulate
    * as exact DECIMAL window sums (the [[graft.operators.Sketches.olsTrend]]
    * recipe, windowed), then
    * r = (nΣxy−ΣxΣy)/√((nΣx²−(Σx)²)·(nΣy²−(Σy)²)) with the two exact
    * denominators cast to double BEFORE the product+sqrt (IEEE
    * multiplication and correctly-rounded sqrt — deterministic on any
    * engine), rounded at 6 dp. Degenerate frames (either series constant)
    * yield NULL. `orderCols` must be a total order per key for the frame —
    * and therefore the output — to be engine-deterministic.
    *
    * Appends `corr` to every input row. */
  def rollingCorr(
      df: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[String],
      xCol: String,
      yCol: String,
      lookback: Int,
      numPartitions: Option[Int] = None): DataFrame = {
    require(lookback >= 2, s"lookback must be >= 2, got $lookback")
    // LONG sufficient statistics, not decimal: decimal window aggregation
    // costs ~10× (measured 18.6s -> ~2s at sf0.1) and longs are exact while
    // (lookback·max|value|)² fits 63 bits — 1e7-unit values at lookback 100
    // still leave 9× headroom; ANSI mode turns a violation into a loud
    // overflow error, never a silent wrap
    def corrOver(frame: DataFrame, w: org.apache.spark.sql.expressions.WindowSpec): DataFrame = {
      val x = col(xCol).cast("long")
      val y = col(yCol).cast("long")
      val n = count(lit(1)).over(w)
      val sx = sum(x).over(w)
      val sy = sum(y).over(w)
      val sxx = sum(x * x).over(w)
      val syy = sum(y * y).over(w)
      val sxy = sum(x * y).over(w)
      val num = n * sxy - sx * sy
      val denx = n * sxx - sx * sx
      val deny = n * syy - sy * sy
      frame.withColumn(
        "corr",
        when(denx > 0 && deny > 0,
          round(num.cast("double") /
            sqrt(denx.cast("double") * deny.cast("double")), 6)))
    }
    // LOW-CARDINALITY KEY ESCAPE: the borrowed-tail sliding-frame
    // discipline, factored as [[Relational.slidingByKey]] — parallelism
    // beyond key cardinality, guarded fallback to the plain keyed window.
    Relational.slidingByKey(df, keyCols, orderCols,
      frameLower = -(lookback - 1).toLong, frameUpper = 0L,
      numPartitions = numPartitions)(corrOver)
  }

  /** Linear interpolation of missing values between known neighbors — the
    * upgrade over LOCF ([[forwardFill]]) when the series is a sampled
    * continuous signal: v = v_prev + (v_next − v_prev)·(t − t_prev)/(t_next
    * − t_prev). Rows outside the known span (no previous or no next
    * observation) stay NULL — extrapolation is a modeling decision the
    * caller owns; compose with forwardFill for boundary holds.
    *
    * ENGINE-DETERMINISTIC: inputs are exact longs (quantize the value
    * upstream), the neighbor lookups are `last/first(ignoreNulls)` window
    * selections, and the arithmetic shape is fixed — cast-to-double per
    * exact integer, one product, one division, one add, each correctly
    * rounded, so any engine replaying the same shape lands on the same
    * bits. Equal-timestamp neighbors fall back to v_prev (a 0/0 would be
    * NaN). The next-neighbor lookup runs as `last(ignoreNulls)` over the
    * REVERSED running frame, not `first` over (current → unbounded
    * following): Spark evaluates growing unbounded-preceding frames
    * incrementally but recomputes an unbounded-following frame from
    * scratch per row — O(n²) per partition, measured 173s vs 3s at sf0.1
    * on the event series.
    *
    * SCALE (r11): interpolation keys are often LOW-cardinality signal
    * names at DATA grain, where `Window.partitionBy(key)` serializes the
    * corpus onto |keys| tasks — so the neighbor lookups run per
    * (range-placement partition, key) with the cross-partition neighbors
    * spliced from a partitions×keys-bounded boundary table (each slice's
    * first/last non-null (t, v) pair selected atomically by struct
    * min/max on the order fields; placement pinned by the lazy-checkpoint
    * discipline). Exact selections ⇒ bit-identical to the keyed window.
    * `orderCols` must be total within each key.
    *
    * @param valueCol exact long measurement with NULLs at the gaps
    * @param timeCol  exact long time axis (e.g. unix micros)
    */
  def interpolateLinear(
      df: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[String],
      timeCol: String,
      valueCol: String,
      outCol: String = "value_interp"): DataFrame = {
    val keys = keyCols.map(col)
    val order = orderCols.map(col)
    val v = col(valueCol).cast("long")
    val t = col(timeCol).cast("long")
    val spark = df.sparkSession
    val nParts = spark.sparkContext.defaultParallelism.max(2)
    // pin the sampled range placement (the r11 mis-splice lesson): the
    // boundary table below re-evaluates this subplan
    val ranged = df.repartitionByRange(nParts, keys ++ order: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(false)
    val wB = Window.partitionBy(col("__pid") +: keys: _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wR = Window.partitionBy(col("__pid") +: keys: _*).orderBy(order.map(_.desc): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val obs = when(v.isNotNull, struct(t.as("t"), v.as("v")))
    val local = ranged
      .withColumn("__prev", last(obs, ignoreNulls = true).over(wB))
      .withColumn("__next", last(obs, ignoreNulls = true).over(wR))
    // one row per (partition, key): the slice's first/last non-null
    // observation, the (t, v) pair selected ATOMICALLY with its order
    // position via struct extrema
    val tagged = when(v.isNotNull, struct(order.map(o => o) :+ t.as("__t") :+ v.as("__v"): _*))
    val bounds = local.groupBy(col("__pid") +: keys: _*)
      .agg(min(tagged).as("__fo"), max(tagged).as("__lo"))
    val wPrevB = Window.partitionBy(keys: _*).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wNextB = Window.partitionBy(keys: _*).orderBy(col("__pid").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val spliced = bounds
      .withColumn("__pb", last(col("__lo"), ignoreNulls = true).over(wPrevB))
      .withColumn("__nb", last(col("__fo"), ignoreNulls = true).over(wNextB))
      .select(col("__pid").as("__pid_o") +:
        keyCols.map(k => col(k).as(k + "__o")) :+
        struct(col("__pb.__t").as("t"), col("__pb.__v").as("v")).as("__pbo") :+
        struct(col("__nb.__t").as("t"), col("__nb.__v").as("v")).as("__nbo"): _*)
    val cond = keyCols.map(k => col(k) === col(k + "__o"))
      .foldLeft(col("__pid") === col("__pid_o"))(_ && _)
    val joined = local.join(broadcast(spliced), cond)
    val prev = coalesce(col("__prev"), when(col("__pbo.t").isNotNull, col("__pbo")))
    val next = coalesce(col("__next"), when(col("__nbo.t").isNotNull, col("__nbo")))
    val vp = prev.getField("v")
    val tp = prev.getField("t")
    val vn = next.getField("v")
    val tn = next.getField("t")
    joined
      .withColumn(outCol,
        when(v.isNotNull, v.cast("double"))
          .otherwise(when(vp.isNotNull && vn.isNotNull,
            when(tn === tp, vp.cast("double"))
              .otherwise(vp.cast("double") +
                ((vn - vp).cast("double") * (t - tp).cast("double")) /
                  (tn - tp).cast("double")))))
      .drop(Seq("__pid", "__pid_o", "__prev", "__next", "__pbo", "__nbo") ++
        keyCols.map(_ + "__o"): _*)
  }

  /** Sweep-line peak concurrency over integer-time intervals [start, end]
    * (inclusive): +1/−1 boundary deltas collapsed to the DISTINCT
    * change-point histogram, the running sum over it via the TWO-PASS
    * global prefix sum ([[Relational.globalRunningSum]] — every core
    * computes its time range; no single-partition sort even when the
    * change-point table is unbounded); returns the peak and the FIRST
    * instant it is reached. All exact integer arithmetic —
    * engine-deterministic by construction. The capacity-planning /
    * max-parallel-sessions readout. */
  def peakConcurrency(
      intervals: DataFrame,
      startCol: String,
      endCol: String): DataFrame = {
    val deltas = intervals
      .select(col(startCol).cast("long").as("__t"), lit(1L).as("__d"))
      .unionAll(intervals
        .select((col(endCol).cast("long") + 1).as("__t"), lit(-1L).as("__d")))
      .groupBy(col("__t")).agg(sum(col("__d")).as("__delta"))
    Relational.globalRunningSum(deltas, Seq(col("__t")), "__delta", "__run")
      // max on (run, -t): peak concurrency, then the EARLIEST t at peak
      .agg(max(struct(col("__run").as("r"), (-col("__t")).as("nt"))).as("__m"))
      .select(
        col("__m.r").as("peak_concurrency"),
        (-col("__m.nt")).as("peak_at"))
  }

  /** Kaplan–Meier product-limit survival estimate (Kaplan & Meier 1958)
    * per key group: at each distinct duration t with `d` observed events,
    * the at-risk count `n` is everyone whose duration is >= t, and
    * S(t) = Π_{t'<=t} (1 - d/n).
    *
    * Scale shape: one partial aggregate collapses the corpus to its
    * DISTINCT (key, duration) pairs — the only windows run on that
    * collapsed table, whose size is bounded by the duration resolution
    * (days here), not the row count. The running product is evaluated as
    * exp(Σ ln), the associative form a distributed window can compute;
    * counts stay exact longs, doubles appear only in the final ratio.
    *
    * @param df          one row per subject
    * @param durationCol integral duration (e.g. days until event/censor)
    * @param eventCol    boolean — true when the event was OBSERVED, false
    *                    when the subject was censored at that duration
    * @param keyCols     stratification keys (one curve per combination)
    */
  def kaplanMeier(
      df: DataFrame,
      durationCol: String,
      eventCol: String,
      keyCols: Seq[String] = Nil): DataFrame = {
    val keys = keyCols.map(col)
    val grouped = df
      .groupBy(keys :+ col(durationCol).cast("long").as("duration"): _*)
      .agg(
        sum(when(col(eventCol), 1L).otherwise(0L)).as("d_events"),
        count(lit(1)).as("__at_t"))
    val wCum = Window.partitionBy(keys: _*).orderBy(col("duration"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(keys: _*)
    // at risk at t = total - (everyone who left strictly before t)
    val nRisk = sum(col("__at_t")).over(wAll) -
      (sum(col("__at_t")).over(wCum) - col("__at_t"))
    grouped
      .withColumn("n_risk", nRisk)
      .withColumn(
        "survival",
        // the 1e-300 clamp keeps the d == n ("everyone at risk leaves")
        // step finite — exp picks up a ≤ -690 term and the product rounds
        // to 0.0 identically on every engine, with no ±inf semantics in play
        round(exp(sum(
          when(col("d_events") > 0,
            log(greatest(lit(1e-300),
              lit(1.0) - col("d_events").cast("double") / col("n_risk"))))
            .otherwise(lit(0.0))).over(wCum)), 6))
      // Nelson–Aalen cumulative hazard H(t) = Σ d_i/n_i — the companion
      // estimator off the same at-risk scaffolding (Aalen 1978); the
      // ordered window accumulates the per-step exact divisions in
      // duration order, the same sequential chain any engine replays
      .withColumn("cum_hazard",
        round(sum(col("d_events").cast("double") / col("n_risk")).over(wCum), 6))
      .drop("__at_t")
  }

  /** Kaplan–Meier with GREENWOOD standard errors and 95% CIs (Greenwood
    * 1926) — the uncertainty layer the bare [[kaplanMeier]] curve lacks
    * ("are these two segments' churn curves actually distinguishable?"
    * needs bands before [[logRank]]'s single verdict): Var(Ŝ(t)) =
    * Ŝ(t)²·Σ_{tᵢ≤t} dᵢ/(nᵢ(nᵢ−dᵢ)), linear CI Ŝ ± 1.959964·SE clamped to
    * [0,1] (the plain Greenwood form; log-log bands are a caller-side
    * transform away).
    *
    * Same at-risk scaffolding and determinism argument as [[kaplanMeier]]:
    * per-step terms are single double divisions from exact longs, the
    * ordered window accumulates them in duration order — a sequential
    * chain any engine replays identically. At the first step where
    * EVERYONE at risk leaves (d = n): Ŝ hits 0 and the Greenwood term is
    * 1/0 — SE and CI are NULL from that step on (0·∞ has no estimate),
    * never NaN/∞. */
  def kaplanMeierGreenwood(
      df: DataFrame,
      durationCol: String,
      eventCol: String,
      keyCols: Seq[String] = Nil): DataFrame = {
    val keys = keyCols.map(col)
    val grouped = df
      .groupBy(keys :+ col(durationCol).cast("long").as("duration"): _*)
      .agg(
        sum(when(col(eventCol), 1L).otherwise(0L)).as("d_events"),
        count(lit(1)).as("__at_t"))
    val wCum = Window.partitionBy(keys: _*).orderBy(col("duration"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(keys: _*)
    val nRisk = sum(col("__at_t")).over(wAll) -
      (sum(col("__at_t")).over(wCum) - col("__at_t"))
    val d = col("d_events"); val n = col("n_risk")
    val stepped = grouped
      .withColumn("n_risk", nRisk)
      .withColumn("__lsum", sum(
        when(d > 0,
          log(greatest(lit(1e-300), lit(1.0) - d.cast("double") / n)))
          .otherwise(lit(0.0))).over(wCum))
      .withColumn("__g", sum(
        when(d > 0 && d < n,
          d.cast("double") / (n.cast("double") * (n - d).cast("double")))
          .otherwise(lit(0.0))).over(wCum))
      .withColumn("__dead", max(when(d === n, 1).otherwise(0)).over(wCum))
    val sUn = exp(col("__lsum"))
    val seUn = sqrt(sUn * sUn * col("__g"))
    stepped.select(
      keys ++ Seq(
        col("duration"), col("d_events"), col("n_risk"),
        round(sUn, 6).as("survival"),
        when(col("__dead") === 0, round(seUn, 6)).as("se"),
        when(col("__dead") === 0,
          round(greatest(lit(0.0), sUn - lit(1.959964) * seUn), 6)).as("ci_lo"),
        when(col("__dead") === 0,
          round(least(lit(1.0), sUn + lit(1.959964) * seUn), 6)).as("ci_hi")): _*)
  }

  /** Seasonal-naive backtest with MASE (Hyndman & Koehler 2006) — the
    * forecast-evaluation primitive the model family (X257 AR, X174 Holt)
    * needs before anyone trusts a forecast: hold out the last `holdout`
    * points per key, forecast each with the seasonal-naive lag-m value,
    * and score MAE/RMSE plus MASE = MAE_forecast / MAE_in-sample-naive —
    * the scale-free "is this even beating copy-last-value" ratio
    * (MASE ≥ 1 means the model loses to the naive walk; MAPE's
    * divide-by-zero and scale problems are why MASE is the standard).
    *
    * EXACT: integral values make every per-point error an exact long;
    * MAE/RMSE/MASE are one/two divisions of exact sums (RMSE adds one
    * sqrt). One lag window per key over the calendar-bounded series (the
    * ACF contract), one rollup. Keys with no valid lag-m test points or a
    * zero naive scale report NULL mase.
    *
    * Returns one row per key: (keys…, n_test, mae, rmse, mase). */
  def backtestSeasonalNaive(
      series: DataFrame,
      keyCols: Seq[String],
      orderCol: String,
      valueCol: String,
      period: Int,
      holdout: Int): DataFrame = {
    require(period >= 1, s"period must be >= 1, got $period")
    require(holdout >= 1, s"holdout must be >= 1, got $holdout")
    val keys = keyCols.map(col)
    val w = Window.partitionBy(keys: _*).orderBy(col(orderCol))
    val wDesc = Window.partitionBy(keys: _*).orderBy(col(orderCol).desc)
    val v = col(valueCol).cast("long")
    val t = series
      .withColumn("__v", v)
      .withColumn("__fc", lag(v, period).over(w))
      .withColumn("__nv", lag(v, 1).over(w))
      .withColumn("__rnd", row_number().over(wDesc))
      .withColumn("__isTest", col("__rnd") <= holdout)
    val agg = t.groupBy(keys: _*).agg(
      sum(when(col("__isTest") && col("__fc").isNotNull, 1L).otherwise(0L)).as("n_test"),
      sum(when(col("__isTest") && col("__fc").isNotNull,
        abs(col("__v") - col("__fc"))).otherwise(0L)).as("__sae"),
      sum(when(col("__isTest") && col("__fc").isNotNull,
        (col("__v") - col("__fc")) * (col("__v") - col("__fc"))).otherwise(0L)).as("__sse"),
      sum(when(!col("__isTest") && col("__nv").isNotNull, 1L).otherwise(0L)).as("__nn"),
      sum(when(!col("__isTest") && col("__nv").isNotNull,
        abs(col("__v") - col("__nv"))).otherwise(0L)).as("__san"))
    val mae = col("__sae").cast("double") / col("n_test").cast("double")
    val naiveMae = col("__san").cast("double") / col("__nn").cast("double")
    agg.select(keys ++ Seq(
      col("n_test"),
      when(col("n_test") > 0, round(mae, 6)).as("mae"),
      when(col("n_test") > 0,
        round(sqrt(col("__sse").cast("double") / col("n_test").cast("double")), 6))
        .as("rmse"),
      when(col("n_test") > 0 && col("__nn") > 0 && col("__san") > 0,
        round(mae / naiveMae, 6)).as("mase")): _*)
  }

  /** Restricted mean survival time (Irwin 1949; Royston–Parmar 2013) —
    * the ∫₀^τ S(t)dt readout modern trials quote INSTEAD of hazard
    * ratios (it is the average event-free time over the horizon, model-
    * free and meaningful even when proportional hazards fails): the exact
    * step integral of the [[kaplanMeier]] curve, S = 1 on [0, t_min) plus
    * Σ S(t_i)·(min(t_{i+1}, τ) − min(t_i, τ)) over the distinct event
    * times. Rides KM's at-risk scaffolding verbatim; interval terms use
    * the 6-dp-rounded survival (engine-stable by KM's contract) times
    * exact long interval lengths, quantized to 1e-6 longs before the
    * per-key sum. One extra window (lead) + one rollup over the
    * duration-bounded step table.
    *
    * Returns one row per key: (keys…, horizon, rmst, n_times). */
  def rmst(
      df: DataFrame,
      durationCol: String,
      eventCol: String,
      horizon: Long,
      keyCols: Seq[String] = Nil): DataFrame = {
    require(horizon > 0, s"horizon must be > 0, got $horizon")
    val keys = keyCols.map(col)
    val km = kaplanMeier(df, durationCol, eventCol, keyCols)
    val w = Window.partitionBy(keys: _*).orderBy(col("duration"))
    val wAll = Window.partitionBy(keys: _*)
    val h = lit(horizon)
    val segEnd = least(coalesce(lead(col("duration"), 1).over(w), h), h)
    val segStart = least(col("duration"), h)
    val seg = greatest(lit(0L), segEnd - segStart)
    km
      .withColumn("__term",
        floor(col("survival") * seg.cast("double") * 1e6 + 0.5).cast("long"))
      .withColumn("__head", least(min(col("duration")).over(wAll), h))
      .groupBy(keys: _*)
      .agg(
        max(col("__head")).as("__h0"),
        sum(col("__term")).as("__sq"),
        count(lit(1)).as("n_times"))
      .select(keys ++ Seq(
        lit(horizon).as("horizon"),
        round(col("__h0").cast("double") + col("__sq").cast("double") / 1e6, 6)
          .as("rmst"),
        col("n_times")): _*)
  }

  /** Fixed-period periodogram power (the single-frequency DFT readout of
    * Schuster 1898) — "HOW seasonal is this series at period p?", the
    * quantitative companion to X236's decomposition-based strengths: the
    * centered cosine/sine projections c = Σ(x_t−μ)cos(2πt/p),
    * s = Σ(x_t−μ)sin(2πt/p) give the harmonic's amplitude 2√(c²+s²)/n
    * and its variance share 2(c²+s²)/(n·SS) (the R² of regressing on the
    * pair).
    *
    * The cos/sin values live on the p-point phase grid, so they ride in
    * as a JVM-computed LITERAL table (the X264 ln-table discipline — no
    * engine libm call touches hashed output); per-row products quantize
    * to 1e6 longs and sum exactly; centering happens in the readout via
    * the exact Σcos/Σsin phase marginals (n not a multiple of p leaves
    * them nonzero — dropping them is the classic bias). One window pass
    * for the time index, one partial aggregate, fixed IEEE readout.
    *
    * @param valueCol exact integer series value (counts, quantized units)
    * @param period   phase-grid size (e.g. 7 for weekly on daily data) */
  def seasonalPower(
      series: DataFrame,
      keys: Seq[String],
      orderCol: String,
      valueCol: String,
      period: Int): DataFrame = {
    require(keys.nonEmpty, "at least one key required (use a constant for global)")
    require(period >= 2 && period <= 1000, s"period must be in 2..1000, got $period")
    val k = keys.map(col)
    val w = Window.partitionBy(k: _*).orderBy(col(orderCol))
    val cosLits = array((0 until period).map(p =>
      lit(math.cos(2.0 * math.Pi * p / period))): _*)
    val sinLits = array((0 until period).map(p =>
      lit(math.sin(2.0 * math.Pi * p / period))): _*)
    val phased = series
      .withColumn("__x", col(valueCol).cast("long"))
      .withColumn("__ph", ((row_number().over(w) - 1) % period).cast("int"))
      .withColumn("__c", element_at(cosLits, col("__ph") + 1))
      .withColumn("__s", element_at(sinLits, col("__ph") + 1))
    def q(c: Column): Column = sum(floor(c * 1e6 + 0.5).cast("long"))
    val agg = phased.groupBy(k: _*).agg(
      count(lit(1)).as("n"),
      sum(col("__x")).as("__sx"),
      sum(col("__x") * col("__x")).as("__sxx"),
      q(col("__x").cast("double") * col("__c")).as("__xc"),
      q(col("__x").cast("double") * col("__s")).as("__xs"),
      q(col("__c")).as("__sc"),
      q(col("__s")).as("__ss"))
    val nn = col("n").cast("double")
    val mu = col("__sx").cast("double") / nn
    val cc = col("__xc").cast("double") / 1e6 - mu * (col("__sc").cast("double") / 1e6)
    val ss = col("__xs").cast("double") / 1e6 - mu * (col("__ss").cast("double") / 1e6)
    val sst = col("__sxx").cast("double") - nn * mu * mu
    val p2 = cc * cc + ss * ss
    agg.select(k ++ Seq(
      col("n"),
      round(lit(2.0) * sqrt(p2) / nn, 6).as("amplitude"),
      when(sst > 0, round(lit(2.0) * p2 / (nn * sst), 6)).as("power_frac")): _*)
  }

  /** Pairwise Granger causality (Granger 1969) — the hypothesis test ON
    * TOP of [[var1]]'s coefficients: does y's lag improve the prediction
    * of x beyond x's own lag? For each direction, the unrestricted model
    * (intercept + own lag + cross lag) and the restricted one (own lag
    * only) solve in CLOSED FORM from one shared quantized-moment pass
    * (DECIMAL-exact sums, Cramer chains, OLS identity
    * SSE = Σy² − βᵀXᵀy), and F = (SSE_r − SSE_u)/(SSE_u/(n−3)) with 1
    * numerator df. Fully declarative — no collect, no iteration; one lag
    * window over the calendar-bounded series, ONE aggregate, two readout
    * rows. Degenerate designs (det 0, SSE_u ≤ 0, n ≤ 3) yield NULL F.
    *
    * Returns TWO rows: (direction ∈ {y->x, x->y}, n, beta_cross, f). */
  def grangerCausality(
      series: DataFrame,
      orderCol: String,
      xCol: String,
      yCol: String): DataFrame = {
    val w = Window.orderBy(col("__t"))
    val lagged = series.select(col(orderCol).as("__t"),
        col(xCol).cast("double").as("__x"), col(yCol).cast("double").as("__y"))
      .withColumn("__a", lag(col("__x"), 1).over(w))
      .withColumn("__b", lag(col("__y"), 1).over(w))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
    def q(c: Column) = floor(c * 1e6 + 0.5).cast("decimal(38,0)")
    val m = lagged.select(
      q(col("__x")).as("__qx"), q(col("__y")).as("__qy"),
      q(col("__a")).as("__qa"), q(col("__b")).as("__qb"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("__qa")).as("__sa0"), sum(col("__qb")).as("__sb0"),
        sum(col("__qa") * col("__qa")).as("__saa0"),
        sum(col("__qb") * col("__qb")).as("__sbb0"),
        sum(col("__qa") * col("__qb")).as("__sab0"),
        sum(col("__qx")).as("__syx0"), sum(col("__qa") * col("__qx")).as("__sayx0"),
        sum(col("__qb") * col("__qx")).as("__sbyx0"),
        sum(col("__qx") * col("__qx")).as("__syyx0"),
        sum(col("__qy")).as("__syy0"), sum(col("__qa") * col("__qy")).as("__sayy0"),
        sum(col("__qb") * col("__qy")).as("__sbyy0"),
        sum(col("__qy") * col("__qy")).as("__syyy0"))
    val t = m.select(
      col("n"), col("n").cast("double").as("nn"),
      (col("__sa0").cast("double") / 1e6).as("sa"),
      (col("__sb0").cast("double") / 1e6).as("sb"),
      (col("__saa0").cast("double") / 1e12).as("saa"),
      (col("__sbb0").cast("double") / 1e12).as("sbb"),
      (col("__sab0").cast("double") / 1e12).as("sab"),
      (col("__syx0").cast("double") / 1e6).as("syx"),
      (col("__sayx0").cast("double") / 1e12).as("sayx"),
      (col("__sbyx0").cast("double") / 1e12).as("sbyx"),
      (col("__syyx0").cast("double") / 1e12).as("syyx"),
      (col("__syy0").cast("double") / 1e6).as("syy"),
      (col("__sayy0").cast("double") / 1e12).as("sayy"),
      (col("__sbyy0").cast("double") / 1e12).as("sbyy"),
      (col("__syyy0").cast("double") / 1e12).as("syyy"))
      .withColumn("det",
        col("nn") * (col("saa") * col("sbb") - col("sab") * col("sab")) -
          col("sa") * (col("sa") * col("sbb") - col("sab") * col("sb")) +
          col("sb") * (col("sa") * col("sab") - col("saa") * col("sb")))
    // one direction's readout off the shared moment row: target moments
    // (sy, say, sby, syy), own-lag moments (so, soo) for the restricted fit
    def direction(tag: String, sy: Column, say: Column, sby: Column, syy: Column,
        so: Column, soo: Column, sayOwn: Column, crossBeta: String): DataFrame = {
      val nn = col("nn"); val det = col("det")
      val b0 = (sy * (col("saa") * col("sbb") - col("sab") * col("sab")) -
        col("sa") * (say * col("sbb") - col("sab") * sby) +
        col("sb") * (say * col("sab") - col("saa") * sby)) / det
      val b1 = (nn * (say * col("sbb") - col("sab") * sby) -
        sy * (col("sa") * col("sbb") - col("sab") * col("sb")) +
        col("sb") * (col("sa") * sby - say * col("sb"))) / det
      val b2 = (nn * (col("saa") * sby - say * col("sab")) -
        col("sa") * (col("sa") * sby - say * col("sb")) +
        sy * (col("sa") * col("sab") - col("saa") * col("sb"))) / det
      val sseU = syy - (b0 * sy + b1 * say + b2 * sby)
      val denR = nn * soo - so * so
      val slopeR = (nn * sayOwn - so * sy) / denR
      val b0r = (sy - slopeR * so) / nn
      val sseR = syy - b0r * sy - slopeR * sayOwn
      val f = (sseR - sseU) / (sseU / (nn - 3.0))
      val cross = if (crossBeta == "b2") b2 else b1
      t.select(
        lit(tag).as("direction"), col("n"),
        when(det =!= 0.0, round(cross, 6)).as("beta_cross"),
        when(det =!= 0.0 && denR =!= 0.0 && sseU > 0.0 && nn > 3.0,
          round(f, 6)).as("f"))
    }
    val yToX = direction("y->x",
      col("syx"), col("sayx"), col("sbyx"), col("syyx"),
      col("sa"), col("saa"), col("sayx"), crossBeta = "b2")
    val xToY = direction("x->y",
      col("syy"), col("sayy"), col("sbyy"), col("syyy"),
      col("sb"), col("sbb"), col("sbyy"), crossBeta = "b1")
    yToX.unionAll(xToY)
  }

  /** Mann–Kendall trend test (Mann 1945; Kendall 1975) — the
    * NONPARAMETRIC "is this series drifting?" readout beside the OLS
    * trend's slope (no linearity or distribution assumption; robust to
    * outliers): S = Σ_{i<j} sgn(x_j − x_i) over all time-ordered pairs,
    * tie-corrected variance
    * Var(S) = [n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)]/18 over the
    * tie groups of x, and the continuity-corrected Z = (S∓1)/√Var (0 at
    * S=0; NULL when Var=0 — a constant series has no test).
    *
    * Everything up to the final σ is EXACT integer arithmetic: the pair
    * sign sum rides a co-partitioned self-equi-join on the key (fanout
    * bounded by the calendar-bounded series length, the [[acf]]
    * contract), ties come from one value-collapse aggregate, and Z is a
    * two-op IEEE chain — partition-invariant and trivially SQL-replayed.
    *
    * @param valueCol exact integer series value (counts, quantized units) */
  def mannKendall(
      series: DataFrame,
      keys: Seq[String],
      orderCol: String,
      valueCol: String): DataFrame = {
    require(keys.nonEmpty, "at least one key required (use a constant for global)")
    val k = keys.map(col)
    val base = series.select(
      (k :+ col(orderCol).as("__t") :+ col(valueCol).cast("long").as("__x")): _*)
    val a = base.select(
      (k :+ col("__t").as("__ta") :+ col("__x").as("__xa")): _*)
    val b = base.select(
      (keys.map(kc => col(kc).as(s"__k_$kc")) :+
        col("__t").as("__tb") :+ col("__x").as("__xb")): _*)
    val joinCond = keys.map(kc => col(kc) === col(s"__k_$kc"))
      .foldLeft(col("__ta") < col("__tb"))(_ && _)
    val sTab = a.join(b, joinCond)
      .groupBy(k: _*)
      .agg(sum(signum((col("__xb") - col("__xa")).cast("double")).cast("long")).as("s"))
    val ties = base.groupBy((k :+ col("__x")): _*)
      .agg(count(lit(1)).as("__tg"))
      .groupBy(k: _*)
      .agg(
        sum(col("__tg")).as("n"),
        sum(col("__tg") * (col("__tg") - 1) * (lit(2) * col("__tg") + 5)).as("__tcorr"))
    val nn = col("n")
    val varS = (nn * (nn - 1) * (lit(2) * nn + 5) - col("__tcorr")).cast("double") / 18.0
    val z = when(col("s") > 0, (col("s") - 1).cast("double") / sqrt(varS))
      .when(col("s") < 0, (col("s") + 1).cast("double") / sqrt(varS))
      .otherwise(lit(0.0))
    // ties is built from EVERY row, sTab only from keys with >= 2
    // observations (a single-row series yields no i<j pairs) — left-join
    // from ties so n=1 keys surface as (n=1, s=0, var_s=0, z=NULL)
    // instead of silently vanishing.
    ties.join(sTab, keys, "left")
      .withColumn("s", coalesce(col("s"), lit(0L)))
      .select(k ++ Seq(
        col("n"), col("s"),
        round(varS, 6).as("var_s"),
        when(varS > 0, round(z, 6)).otherwise(lit(null).cast("double")).as("z"),
        signum(col("s").cast("double")).cast("int").as("trend")): _*)
  }

  /** Bivariate VAR(1) (Sims 1980) — the MULTIVARIATE autoregression
    * beside [[arYuleWalker]]'s univariate fit and [[ccf]]'s symptom
    * readout ("y leads x" becomes an actual cross-coefficient): each
    * equation of [x_t, y_t] = c + A·[x_{t−1}, y_{t−1}] + ε is the exact
    * closed-form OLS of [[Models.linearRegression]] on the lagged pair
    * (quantized DECIMAL moments, Cramer chains — zero iteration), plus a
    * one-step forecast from the last observation through the UNROUNDED
    * coefficients. One lag-window pass over the series table (regular and
    * calendar-bounded by the caller's contract — the [[acf]] posture),
    * two moment aggregates, two bounded collects.
    *
    * Returns TWO rows: (equation ∈ {x, y}, n, beta0, beta1 [on x_{t−1}],
    * beta2 [on y_{t−1}], r2, f1) — degenerate designs (det 0) yield NULL
    * coefficients and forecast. */
  def var1(
      series: DataFrame,
      orderCol: String,
      xCol: String,
      yCol: String): DataFrame = {
    val spark = series.sparkSession
    import spark.implicits._
    val w = Window.orderBy(col("__t"))
    val lagged = series.select(col(orderCol).as("__t"),
        col(xCol).cast("double").as("__x"), col(yCol).cast("double").as("__y"))
      .withColumn("__xl", lag(col("__x"), 1).over(w))
      .withColumn("__yl", lag(col("__y"), 1).over(w))
      .filter(col("__xl").isNotNull && col("__yl").isNotNull)
    val eqX = Models.linearRegression(lagged, "__x", Seq("__xl", "__yl")).head()
    val eqY = Models.linearRegression(lagged, "__y", Seq("__xl", "__yl")).head()
    val last = series
      .agg(max(struct(col(orderCol).as("t"),
        col(xCol).cast("double").as("x"), col(yCol).cast("double").as("y"))).as("__l"))
      .select(col("__l.x"), col("__l.y")).head()
    val (xn, yn) = (last.getDouble(0), last.getDouble(1))
    def readout(tag: String, r: org.apache.spark.sql.Row) = {
      val n = r.getAs[Long]("n")
      if (r.isNullAt(r.fieldIndex("beta0")))
        (tag, n, None: Option[Double], None: Option[Double], None: Option[Double],
          None: Option[Double], None: Option[Double])
      else {
        val b0 = r.getAs[Double]("beta0")
        val b1 = r.getAs[Double]("beta1"); val b2 = r.getAs[Double]("beta2")
        val f1 = b0 + b1 * xn + b2 * yn
        (tag, n, Some(b0), Some(b1), Some(b2),
          Option(r.getAs[java.lang.Double]("r2")).map(_.doubleValue), Some(f1))
      }
    }
    Seq(readout("x", eqX), readout("y", eqY))
      .toDF("equation", "n", "__b0", "__b1", "__b2", "__r2", "__f1")
      .select(col("equation"), col("n"),
        round(col("__b0"), 6).as("beta0"),
        round(col("__b1"), 6).as("beta1"),
        round(col("__b2"), 6).as("beta2"),
        round(col("__r2"), 6).as("r2"),
        round(col("__f1"), 6).as("f1"))
  }

  /** Aalen–Johansen cumulative incidence under competing risks (Aalen &
    * Johansen 1978) — the estimator that replaces 1−KM when more than one
    * event type can claim a subject (naive per-cause KM overstates every
    * cause): CIF_k(t) = Σ_{t_i ≤ t} S(t_i−)·d_{k,i}/n_i, with S the
    * ALL-cause Kaplan–Meier survival just before t_i. Causes are coded
    * 1 and 2; 0 is censored (enters the at-risk counts only).
    *
    * The [[kaplanMeier]] scale shape verbatim: one partial aggregate
    * collapses the corpus to distinct (key, duration) rows; every window
    * runs on that duration-bounded table; counts stay exact longs; the
    * running product is exp(Σ ln) with the same 1e-300 clamp, S(t−) the
    * same sum over the EXCLUSIVE window frame; each CIF is the ordered
    * cumulative sum of fixed per-row IEEE chains. CIF₁ + CIF₂ + S(t) = 1
    * at every step up to rounding — the spec's conservation check. */
  def aalenJohansen(
      df: DataFrame,
      durationCol: String,
      causeCol: String,
      keyCols: Seq[String] = Nil): DataFrame = {
    val keys = keyCols.map(col)
    val grouped = df
      .groupBy(keys :+ col(durationCol).cast("long").as("duration"): _*)
      .agg(
        sum(when(col(causeCol) === 1, 1L).otherwise(0L)).as("d1"),
        sum(when(col(causeCol) === 2, 1L).otherwise(0L)).as("d2"),
        count(lit(1)).as("__at_t"))
    val wCum = Window.partitionBy(keys: _*).orderBy(col("duration"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrev = Window.partitionBy(keys: _*).orderBy(col("duration"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(keys: _*)
    val nRisk = sum(col("__at_t")).over(wAll) -
      (sum(col("__at_t")).over(wCum) - col("__at_t"))
    val dAll = col("d1") + col("d2")
    val logTerm = when(dAll > 0,
      log(greatest(lit(1e-300),
        lit(1.0) - dAll.cast("double") / col("n_risk").cast("double"))))
      .otherwise(lit(0.0))
    def cif(d: Column): Column =
      round(sum(col("__sprev") * d.cast("double") / col("n_risk").cast("double"))
        .over(wCum), 6)
    grouped
      .withColumn("n_risk", nRisk)
      .withColumn("__sprev", exp(coalesce(sum(logTerm).over(wPrev), lit(0.0))))
      .withColumn("cif1", cif(col("d1")))
      .withColumn("cif2", cif(col("d2")))
      .withColumn("survival", round(exp(sum(logTerm).over(wCum)), 6))
      .drop("__at_t", "__sprev")
  }

  /** Two-sample log-rank test (Mantel 1966; Peto & Peto 1972) — the
    * standard "are these two survival curves the same?" readout next to
    * [[kaplanMeier]], sharing its at-risk scaffolding. At each distinct
    * event time t with d = d_A + d_B observed events and n = n_A + n_B
    * subjects still at risk, group A's expected events under H0 are
    * e_A = d·n_A/n with hypergeometric variance
    * v_A = e_A·(n_B/n)·((n−d)/(n−1)); the statistic is
    * χ² = (O_A − E_A)² / V_A with E_A = Σe_A, V_A = Σv_A, O_A = Σd_A,
    * distributed χ²(1) under H0.
    *
    * Scale shape: one partial aggregate collapses the corpus to distinct
    * durations; the cumulative at-risk counts ride the two-pass
    * range-partitioned prefix pass ([[Relational.globalRunningSums]]), so
    * no single-partition window exists at ANY duration cardinality (totals
    * broadcast from a 1-row aggregate). Counts stay exact longs; each
    * time's e/v term is a FIXED left-associated chain of single IEEE ops
    * from those longs, QUANTIZED to 1e-9 longs before the sum (a raw
    * double SUM is partition-order-dependent), so the statistic
    * hash-gates cross-engine. Times where n = 1 contribute zero variance
    * (the hypergeometric (n−d)/(n−1) term is degenerate there).
    *
    * @param df          one row per subject
    * @param durationCol integral duration until event/censor
    * @param eventCol    true when the event was observed (not censored)
    * @param groupCol    group label column
    * @param groupA      first group value (the O/E/V side reported)
    * @param groupB      second group value
    */
  def logRank(
      df: DataFrame,
      durationCol: String,
      eventCol: String,
      groupCol: String,
      groupA: String,
      groupB: String): DataFrame = {
    val isA = col(groupCol) === lit(groupA)
    val grouped = df
      .filter(col(groupCol).isin(groupA, groupB))
      .groupBy(col(durationCol).cast("long").as("__t"))
      .agg(
        sum(when(isA && col(eventCol), 1L).otherwise(0L)).as("__dA"),
        sum(when(!isA && col(eventCol), 1L).otherwise(0L)).as("__dB"),
        sum(when(isA, 1L).otherwise(0L)).as("__cA"),
        sum(when(!isA, 1L).otherwise(0L)).as("__cB"))
    // at-risk counts = total − (cumulative before t): cumulative counts ride
    // the two-pass range-partitioned prefix pass (globalRunningSums — no
    // single-partition window at ANY duration cardinality), totals
    // broadcast from a 1-row aggregate
    val tot = grouped.agg(
      sum(col("__cA")).as("__tA"), sum(col("__cB")).as("__tB"))
    val risked = Relational
      .globalRunningSums(grouped, Seq(col("__t")),
        Seq("__cA" -> "__FA", "__cB" -> "__FB"))
      .crossJoin(broadcast(tot))
      .withColumn("__nA", col("__tA") - (col("__FA") - col("__cA")))
      .withColumn("__nB", col("__tB") - (col("__FB") - col("__cB")))
      .withColumn("__n", col("__nA") + col("__nB"))
      .withColumn("__d", col("__dA") + col("__dB"))
    val e = (col("__d") * col("__nA")).cast("double") / col("__n").cast("double")
    val v = e * (col("__nB").cast("double") / col("__n").cast("double")) *
      ((col("__n") - col("__d")).cast("double") /
        (col("__n") - lit(1)).cast("double"))
    val withTerms = risked
      .withColumn("__eq",
        when(col("__d") > 0, floor(e * 1e9 + 0.5).cast("long")).otherwise(0L))
      .withColumn("__vq",
        when(col("__d") > 0 && col("__n") > 1,
          floor(v * 1e9 + 0.5).cast("long")).otherwise(0L))
    val oA = sum(col("__dA"))
    val eA = sum(col("__eq")).cast("double") / lit(1e9)
    val vA = sum(col("__vq")).cast("double") / lit(1e9)
    withTerms.agg(
      lit(groupA).as("group_a"),
      lit(groupB).as("group_b"),
      oA.as("observed_a"),
      round(eA, 6).as("expected_a"),
      round(vA, 6).as("variance_a"),
      round((oA.cast("double") - eA) * (oA.cast("double") - eA) / vA, 6)
        .as("chi2"))
  }

  /** Classical additive seasonal decomposition of a regular integer-valued
    * series: trend = centered moving average over one full period,
    * seasonal = mean detrended value per phase (position-in-period),
    * remainder = value - trend - seasonal. The moving-average +
    * seasonal-means method is the textbook "classical decomposition"
    * (Hyndman & Athanasopoulos, *Forecasting: Principles and Practice*,
    * §3.4 — public knowledge).
    *
    * ENGINE-DETERMINISTIC by exact integer sufficient statistics: the
    * caller supplies the series already quantized to longs (e.g. cents);
    * the centered window SUM and the per-phase sums of
    * `period·value - windowSum` stay exact integers, and every output is
    * EXACTLY ONE correctly-rounded division at the end — bit-identical
    * doubles on any IEEE engine, so no ROUND is applied at all (ROUND(x, 6)
    * at 1e8 magnitudes is itself engine-divergent: the decimal half-way
    * boundary falls inside an ulp, and DuckDB's multiply-based round and
    * the JVM's BigDecimal round can disagree on it — measured, not
    * hypothetical).
    *
    * Runs one window over the SERIES (already aggregated to one row per
    * tick — bounded by calendar length, not corpus size) and one
    * period-sized broadcast join back.
    *
    * @param series   one row per tick, strictly regular (no gaps — compose
    *                 with [[fillGaps]] upstream otherwise)
    * @param orderCol monotone tick column (date / timestamp / index)
    * @param valueCol exact long measurement (quantize upstream)
    * @param phaseCol phase-in-period column, 0..period-1 (e.g. day-of-week)
    * @param period   season length in ticks (7 for daily data, weekly season)
    */
  def seasonalDecompose(
      series: DataFrame,
      orderCol: String,
      valueCol: String,
      phaseCol: String,
      period: Int): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    val half = period / 2
    val w = Window.orderBy(col(orderCol)).rowsBetween(-half, half)
    val v = col(valueCol).cast("long")
    // full windows only: the first/last half-period rows carry no trend
    val windowed = series
      .withColumn("__wsum", sum(v).over(w))
      .withColumn("__wcnt", count(lit(1)).over(w))
      .withColumn("__detr_num",
        when(col("__wcnt") === period, v * period - col("__wsum")))
    val phaseMeans = windowed
      .filter(col("__detr_num").isNotNull)
      .groupBy(col(phaseCol))
      .agg(sum(col("__detr_num")).as("__psum"), count(lit(1)).as("__pcnt"))
    // remainder = detr/period − psum/(pcnt·period) re-associated onto the
    // COMMON denominator so it is one division too, not a subtraction of
    // two rounded quotients
    windowed
      .join(broadcast(phaseMeans), Seq(phaseCol), "left")
      .withColumn("trend",
        when(col("__wcnt") === period,
          col("__wsum").cast("double") / period))
      .withColumn("seasonal",
        col("__psum").cast("double") / (col("__pcnt") * period))
      .withColumn("remainder",
        when(col("__detr_num").isNotNull,
          (col("__detr_num") * col("__pcnt") - col("__psum")).cast("double") /
            (col("__pcnt") * period)))
      .drop("__wsum", "__wcnt", "__detr_num", "__psum", "__pcnt")
  }

  /** Strength of seasonality / trend (Hyndman & Athanasopoulos §12.2, the
    * feature behind "which of my 10,000 series ARE seasonal?"):
    * F_s = max(0, 1 − Var(R)/Var(S+R)) and F_t = max(0, 1 − Var(R)/Var(T+R))
    * over [[seasonalDecompose]]'s full-window rows — 1 ≈ strongly
    * seasonal/trending, 0 ≈ noise.
    *
    * Exactness: each component chain is one exact division (the X126
    * guarantee), then components QUANTIZE to 1e-6 longs so every variance
    * is a ratio of exact decimal(38,0) moment NUMERATORS
    * (n·Σx² − (Σx)², the n² denominators cancel) — ONE division per
    * strength. Same bounded-series shapes as the decomposition. */
  def seasonalStrength(
      series: DataFrame,
      orderCol: String,
      valueCol: String,
      phaseCol: String,
      period: Int): DataFrame = {
    val dec = seasonalDecompose(series, orderCol, valueCol, phaseCol, period)
      .filter(col("remainder").isNotNull)
    def q(c: Column) = floor(c * 1e6 + 0.5).cast("long")
    def dd(c: Column) = c.cast("decimal(38,0)")
    val t = dec.select(
      q(col("remainder")).as("__r"),
      q(col("seasonal") + col("remainder")).as("__sr"),
      q(col("trend") + col("remainder")).as("__tr"))
    val agg = t.agg(
      count(lit(1)).as("n"),
      sum(dd(col("__r"))).as("__s1r"), sum(dd(col("__r")) * dd(col("__r"))).as("__s2r"),
      sum(dd(col("__sr"))).as("__s1s"), sum(dd(col("__sr")) * dd(col("__sr"))).as("__s2s"),
      sum(dd(col("__tr"))).as("__s1t"), sum(dd(col("__tr")) * dd(col("__tr"))).as("__s2t"))
    val nD = col("n").cast("decimal(38,0)")
    def varNum(s1: Column, s2: Column) = (nD * s2 - s1 * s1).cast("decimal(38,0)")
    val vr = varNum(col("__s1r"), col("__s2r"))
    val vs = varNum(col("__s1s"), col("__s2s"))
    val vt = varNum(col("__s1t"), col("__s2t"))
    agg.select(
      col("n"),
      when(vs =!= 0,
        round(greatest(lit(0.0),
          lit(1.0) - vr.cast("double") / vs.cast("double")), 6))
        .as("seasonal_strength"),
      when(vt =!= 0,
        round(greatest(lit(0.0),
          lit(1.0) - vr.cast("double") / vt.cast("double")), 6))
        .as("trend_strength"))
  }

  /** Downsample an irregular tick stream to OHLC bars (open / high / low /
    * close / volume / sum) per (key…, bucket) — the classic resample-to-bars
    * readout (reference: the quarterly roll-ups of extract_pec_data.py:193,
    * generalized to any bucket).
    *
    * Open and close are selected by a TOTAL order `(tsCol, tieCol)` — two
    * row_numbers (ASC + DESC) over one window partitioning, then the group
    * agg reuses that same hash partitioning, so the whole operator is ONE
    * shuffle. min/max/count are order-independent; the only order-sensitive
    * outputs (open/close) ride the explicit total order, so results are
    * bit-stable under any partitioning. `sumCol` must be an exact (long)
    * measure — quantize doubles upstream; a double SUM here would be
    * partition-order-dependent.
    */
  def ohlcBars(
      ticks: DataFrame,
      keys: Seq[String],
      bucketCol: String,
      tsCol: String,
      tieCol: String,
      valueCol: String,
      sumCol: String): DataFrame = {
    val part = (keys :+ bucketCol).map(col)
    val wAsc = Window.partitionBy(part: _*).orderBy(col(tsCol).asc, col(tieCol).asc)
    val wDesc = Window.partitionBy(part: _*).orderBy(col(tsCol).desc, col(tieCol).desc)
    ticks
      .withColumn("__ra", row_number().over(wAsc))
      .withColumn("__rd", row_number().over(wDesc))
      .groupBy(part: _*)
      .agg(
        max(when(col("__ra") === 1, col(valueCol))).as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max(when(col("__rd") === 1, col(valueCol))).as("close"),
        count(lit(1)).as("volume"),
        sum(col(sumCol)).as("sum_value"))
  }

  /** Autocorrelation function at lags 1..maxLag per key over a REGULAR
    * integer series (compose with [[fillGaps]] upstream for calendar data).
    *
    * Deterministic by construction: every aggregate is an exact integer sum
    * (n, Σx, Σx², and per-lag Σ x_t·x_{t-k}, Σ' x_t, Σ' x_{t-k}), and the
    * double assembly ρ_k = (P_k − μA_k − μB_k + n_kμ²)/(S2 − nμ²) is a fixed
    * chain of correctly-rounded IEEE ops — no double SUM whose result would
    * depend on partition order. One window pass per key (lag columns), one
    * partial agg; series length is calendar-bounded, not corpus-bounded.
    *
    * @param valueCol exact integer series value (counts, quantized units)
    */
  def acf(
      series: DataFrame,
      keys: Seq[String],
      orderCol: String,
      valueCol: String,
      maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val k = keys.map(col)
    // the keyed lag window here is NOT a data-grain scale trap: acf's input
    // is a per-(key, period) SERIES — calendar-bounded rows, the corpus
    // already collapsed by the upstream aggregate — so the plain window is
    // the right plan at any corpus size (the borrowed-tail escape would
    // only add fixed cost; contrast ewma, which appends at data grain)
    val w = Window.partitionBy(k: _*).orderBy(col(orderCol))
    val v = col(valueCol).cast("long")
    val lagged = (1 to maxLag).foldLeft(series.withColumn("__v", v)) {
      (df, i) => df.withColumn(s"__l$i", lag(col("__v"), i).over(w))
    }
    val base = Seq(
      count(lit(1)).as("n"),
      sum(col("__v")).as("s1"),
      sum(col("__v") * col("__v")).as("s2"))
    val perLag = (1 to maxLag).flatMap { i =>
      val l = col(s"__l$i")
      Seq(
        sum(when(l.isNotNull, col("__v") * l)).as(s"p$i"),
        sum(when(l.isNotNull, col("__v"))).as(s"a$i"),
        sum(when(l.isNotNull, l)).as(s"b$i"),
        count(l).as(s"n$i"))
    }
    val aggd = lagged.groupBy(k: _*).agg((base ++ perLag).head, (base ++ perLag).tail: _*)
    val mu = col("s1").cast("double") / col("n").cast("double")
    val den = col("s2").cast("double") - col("n").cast("double") * mu * mu
    val lagRows = (1 to maxLag).map { i =>
      struct(
        lit(i).as("lag"),
        when(den > 0 && col(s"n$i") > 0,
          round((col(s"p$i").cast("double") -
            mu * col(s"a$i").cast("double") -
            mu * col(s"b$i").cast("double") +
            col(s"n$i").cast("double") * mu * mu) / den, 6)).as("acf"))
    }
    aggd
      .select((k :+ col("n") :+ explode(array(lagRows: _*)).as("__e")): _*)
      .select((k :+ col("n") :+ col("__e.lag").as("lag") :+ col("__e.acf").as("acf")): _*)
  }

  /** AR(2) fit by Yule–Walker plus an h-step closed-form forecast per key
    * — the autoregressive member beside [[acf]]'s diagnostic readout
    * (Holt/Holt–Winters smooth level+trend; this models the lag structure
    * itself): φ₁ = r₁(1−r₂)/(1−r₁²), φ₂ = (r₂−r₁²)/(1−r₁²) from the
    * lag-1/2 autocorrelations, intercept c = μ(1−φ₁−φ₂), forecasts
    * iterate x̂_{t+1} = c + φ₁x̂_t + φ₂x̂_{t−1} seeded by the series' last
    * two values.
    *
    * The [[acf]] determinism recipe end to end: ONE window pass builds the
    * two lag columns and the descending row number, ONE partial aggregate
    * collects exact integer sums (n, Σx, Σx², per-lag Σx_t·x_{t−k} and
    * valid-row marginals, the last two values), and every readout is a
    * fixed chain of single IEEE ops on those exact longs — partition-
    * invariant and replayable in SQL with no iteration (the forecast
    * recursion unrolls to `horizon` fixed expressions). Degenerate guards:
    * a constant series (zero variance) or r₁² = 1 ⇒ NULL coefficients and
    * forecasts.
    *
    * @param valueCol exact integer series value (counts, quantized units)
    * @param horizon  forecast steps (1..8 — the column set is static) */
  def arYuleWalker(
      series: DataFrame,
      keys: Seq[String],
      orderCol: String,
      valueCol: String,
      horizon: Int = 3): DataFrame = {
    require(horizon >= 1 && horizon <= 8, s"horizon must be in 1..8, got $horizon")
    val k = keys.map(col)
    val w = Window.partitionBy(k: _*).orderBy(col(orderCol))
    val wd = Window.partitionBy(k: _*).orderBy(col(orderCol).desc)
    val lagged = series
      .withColumn("__v", col(valueCol).cast("long"))
      .withColumn("__l1", lag(col("__v"), 1).over(w))
      .withColumn("__l2", lag(col("__v"), 2).over(w))
      .withColumn("__rn", row_number().over(wd))
    val aggd = lagged.groupBy(k: _*).agg(
      count(lit(1)).as("n"),
      sum(col("__v")).as("s1"),
      sum(col("__v") * col("__v")).as("s2"),
      sum(when(col("__l1").isNotNull, col("__v") * col("__l1"))).as("p1"),
      sum(when(col("__l1").isNotNull, col("__v"))).as("a1"),
      sum(when(col("__l1").isNotNull, col("__l1"))).as("b1"),
      count(col("__l1")).as("n1"),
      sum(when(col("__l2").isNotNull, col("__v") * col("__l2"))).as("p2"),
      sum(when(col("__l2").isNotNull, col("__v"))).as("a2"),
      sum(when(col("__l2").isNotNull, col("__l2"))).as("b2"),
      count(col("__l2")).as("n2"),
      max(when(col("__rn") === 1, col("__v"))).as("xn"),
      max(when(col("__rn") === 2, col("__v"))).as("xn1"))
    val mu = col("s1").cast("double") / col("n").cast("double")
    val den = col("s2").cast("double") - col("n").cast("double") * mu * mu
    def r(i: Int): Column =
      when(den > 0 && col(s"n$i") > 0,
        (col(s"p$i").cast("double") -
          mu * col(s"a$i").cast("double") -
          mu * col(s"b$i").cast("double") +
          col(s"n$i").cast("double") * mu * mu) / den)
    val withR = aggd.withColumn("__mu", mu)
      .withColumn("__r1", r(1)).withColumn("__r2", r(2))
    val d = lit(1.0) - col("__r1") * col("__r1")
    val withPhi = withR
      .withColumn("__phi1",
        when(col("__r1").isNotNull && col("__r2").isNotNull && d =!= 0.0,
          col("__r1") * (lit(1.0) - col("__r2")) / d))
      .withColumn("__phi2",
        when(col("__r1").isNotNull && col("__r2").isNotNull && d =!= 0.0,
          (col("__r2") - col("__r1") * col("__r1")) / d))
      .withColumn("__c",
        col("__mu") * (lit(1.0) - col("__phi1") - col("__phi2")))
    // unrolled forecast recursion: __f1 seeds on the last two observations
    val withF = (1 to horizon).foldLeft(withPhi) { (df, h) =>
      val (prev, prev2) = h match {
        case 1 => (col("xn").cast("double"), col("xn1").cast("double"))
        case 2 => (col("__f1"), col("xn").cast("double"))
        case _ => (col(s"__f${h - 1}"), col(s"__f${h - 2}"))
      }
      df.withColumn(s"__f$h",
        col("__c") + col("__phi1") * prev + col("__phi2") * prev2)
    }
    withF.select(
      k ++ Seq(
        col("n"),
        round(col("__r1"), 6).as("r1"),
        round(col("__r2"), 6).as("r2"),
        round(col("__phi1"), 6).as("phi1"),
        round(col("__phi2"), 6).as("phi2"),
        round(col("__c"), 6).as("intercept")) ++
        (1 to horizon).map(h => round(col(s"__f$h"), 6).as(s"f$h")): _*)
  }

  /** Cross-correlation function between two REGULAR integer series at lags
    * −maxLag..maxLag per key — the lead/lag discovery readout next to
    * [[acf]] ("does x move k days before y?"): positive lag k correlates
    * x_t against y_{t−k} (y LEADS x), negative against y_{t+k}.
    *
    * The [[acf]] determinism recipe with two series: every aggregate is an
    * exact integer sum (n, Σx, Σy, Σx², Σy², and per-lag Σ x_t·y_{t∓k}
    * with the valid-row marginals), and each output is a fixed chain of
    * single IEEE ops — numerator (P − μ_y·A − μ_x·B + n_k·μ_x·μ_y) over
    * the full-series std product, statsmodels' convention. One window
    * pass + one partial agg per key; series are calendar-bounded. */
  def ccf(
      series: DataFrame,
      keys: Seq[String],
      orderCol: String,
      xCol: String,
      yCol: String,
      maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val k = keys.map(col)
    val w = Window.partitionBy(k: _*).orderBy(col(orderCol))
    val lags = (-maxLag to maxLag)
    def lcol(i: Int) = col(s"__y$i")
    val lagged = lags.foldLeft(
      series
        .withColumn("__x", col(xCol).cast("long"))
        .withColumn("__y", col(yCol).cast("long"))) { (df, i) =>
      val shifted =
        if (i >= 0) lag(col("__y"), i).over(w) else lead(col("__y"), -i).over(w)
      df.withColumn(s"__y$i", shifted)
    }
    val base = Seq(
      count(lit(1)).as("n"),
      sum(col("__x")).as("sx"), sum(col("__y")).as("sy"),
      sum(col("__x") * col("__x")).as("sxx"),
      sum(col("__y") * col("__y")).as("syy"))
    val perLag = lags.flatMap { i =>
      Seq(
        sum(when(lcol(i).isNotNull, col("__x") * lcol(i))).as(s"p$i"),
        sum(when(lcol(i).isNotNull, col("__x"))).as(s"a$i"),
        sum(when(lcol(i).isNotNull, lcol(i))).as(s"b$i"),
        count(lcol(i)).as(s"n$i"))
    }
    val aggd = lagged.groupBy(k: _*).agg((base ++ perLag).head, (base ++ perLag).tail: _*)
    val mx = col("sx").cast("double") / col("n").cast("double")
    val my = col("sy").cast("double") / col("n").cast("double")
    val vx = col("sxx").cast("double") - col("n").cast("double") * mx * mx
    val vy = col("syy").cast("double") - col("n").cast("double") * my * my
    val lagRows = lags.map { i =>
      struct(
        lit(i).as("lag"),
        when(vx > 0 && vy > 0 && col(s"n$i") > 0,
          round((col(s"p$i").cast("double") -
            my * col(s"a$i").cast("double") -
            mx * col(s"b$i").cast("double") +
            col(s"n$i").cast("double") * mx * my) /
            (sqrt(vx) * sqrt(vy)), 6)).as("ccf"))
    }
    aggd
      .select((k :+ col("n") :+ explode(array(lagRows: _*)).as("__e")): _*)
      .select((k :+ col("n") :+ col("__e.lag").as("lag") :+
        col("__e.ccf").as("ccf")): _*)
  }

  /** Hurst exponent per key by rescaled-range (R/S) analysis — the
    * long-memory readout (H ≈ 0.5 random walk, > 0.5 trending,
    * < 0.5 mean-reverting) that decides whether a series' apparent trends
    * are structure or noise. For each block size w: complete blocks of w
    * observations, per block the range of cumulative deviations over the
    * in-block std, then ln-ln OLS of the per-size mean R/S against w.
    * Determinism: cumulative deviations use the EXACT-prefix closed form
    * `P_i − i·(S_b/w)` (long prefix sums, one float product each — never a
    * float accumulation), block std comes from exact (S, Σv²-as-DECIMAL)
    * moments, and the only float SUMs are the ≤(n/w)-block averages and
    * the |sizes|-point OLS, both orders of magnitude below the 6 dp gate.
    * Zero-variance blocks drop; keys shorter than 2·max(sizes) report
    * whatever sizes fit (≥ 2 sizes required for the fit). Values must be
    * pre-quantized longs. */
  def hurstRS(
      df: DataFrame,
      keyCols: Seq[String],
      orderCol: String,
      valueCol: String,
      sizes: Seq[Int] = Seq(4, 8, 16)): DataFrame = {
    require(sizes.size >= 2 && sizes.forall(_ >= 2), s"need >= 2 sizes >= 2: $sizes")
    val dec = "decimal(38,0)"
    val k = keyCols.map(col)
    val pos = df.select(k ++ Seq(
      col(valueCol).cast("long").as("__v"),
      (row_number().over(Window.partitionBy(k: _*).orderBy(col(orderCol))) - 1)
        .as("__i")): _*)
    val exploded = pos.select(k ++ Seq(col("__v"), col("__i"),
      explode(array(sizes.map(lit): _*)).as("__w")): _*)
      .withColumn("__b", floor(col("__i") / col("__w")).cast("long"))
      .withColumn("__nk",
        count(lit(1)).over(Window.partitionBy(k :+ col("__w"): _*)))
      .filter((col("__b") + 1) * col("__w") <= col("__nk"))
    val wBlk = Window.partitionBy(k ++ Seq(col("__w"), col("__b")): _*)
    val blk = exploded
      .withColumn("__p", sum(col("__v")).over(wBlk.orderBy(col("__i"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__sb", sum(col("__v")).over(wBlk))
      .withColumn("__qb", sum(col("__v").cast(dec) * col("__v").cast(dec)).over(wBlk))
      .withColumn("__j",
        row_number().over(wBlk.orderBy(col("__i"))).cast("double"))
      .withColumn("__cd",
        col("__p").cast("double") -
          col("__j") * (col("__sb").cast("double") / col("__w").cast("double")))
    val perBlock = blk
      .groupBy(k ++ Seq(col("__w"), col("__b"), col("__sb"), col("__qb")): _*)
      .agg((max(col("__cd")) - min(col("__cd"))).as("__r"))
      .withColumn("__s", sqrt(
        (col("__qb").cast("double") -
          col("__sb").cast("double") * col("__sb").cast("double") /
            col("__w").cast("double")) / col("__w").cast("double")))
      .filter(col("__s") > 0)
      .withColumn("__rs", col("__r") / col("__s"))
    val perSize = perBlock.groupBy(k :+ col("__w"): _*)
      .agg(avg(col("__rs")).as("__mrs"))
      .filter(col("__mrs") > 0)
      .select(k ++ Seq(
        log(col("__w").cast("double")).as("__x"),
        log(col("__mrs")).as("__y")): _*)
    val nD = count(lit(1)).cast("double")
    perSize.groupBy(k: _*)
      .agg(count(lit(1)).as("n_sizes"),
        ((nD * sum(col("__x") * col("__y")) - sum(col("__x")) * sum(col("__y"))) /
          (nD * sum(col("__x") * col("__x")) - sum(col("__x")) * sum(col("__x"))))
          .as("__h"))
      .filter(col("n_sizes") >= 2)
      .select(k ++ Seq(col("n_sizes"), round(col("__h"), 6).as("hurst")): _*)
  }

  /** Partial autocorrelations per key — Durbin–Levinson over the exact-sum
    * [[acf]] values: pacf(k) is the lag-k coefficient with lags 1..k−1
    * regressed out, the AR-order-selection readout ACF alone can't give
    * (an AR(1) series has geometric ACF at every lag but PACF support only
    * at lag 1). The recursion is the caller-bounded O(m²) in-row kernel
    * [[graft.functions.VectorOps.pacf]]; everything upstream is one [[acf]]
    * pass. NULL acf entries (degenerate series) drop the key. */
  def pacf(
      series: DataFrame,
      keys: Seq[String],
      orderCol: String,
      valueCol: String,
      maxLag: Int): DataFrame = {
    val k = keys.map(col)
    val a = acf(series, keys, orderCol, valueCol, maxLag)
      .filter(col("acf").isNotNull)
    a.groupBy(k: _*)
      .agg(
        max(col("n")).as("n"),
        count(lit(1)).as("__m"),
        graft.functions.pacf_from_acf(
          transform(
            array_sort(collect_list(struct(col("lag"), col("acf")))),
            s => s.getField("acf"))).as("__p"))
      // a key with ANY degenerate lag would mis-index the recursion — drop it
      .filter(col("__m") === maxLag)
      .select(k ++ Seq(col("n"), posexplode(col("__p")).as(Seq("__i", "__v"))): _*)
      .select(k ++ Seq(
        col("n"), (col("__i") + 1).cast("long").as("lag"),
        round(col("__v"), 6).as("pacf")): _*)
  }

  /** Floored (can't-go-negative) running balance per key — the
    * inventory / prepaid-wallet recursion b_t = max(0, b_{t−1} + δ_t),
    * which LOOKS sequential but closes via the Lindley one-sided
    * reflection: b_t = S_t − min(0, min_{k≤t} S_k) over the plain prefix
    * sums. So the operator is two stacked windows on one per-key
    * partitioning (running sum, then running min of it) — no recursion,
    * no kernel, exact long arithmetic end to end, and a plain-SQL oracle
    * replays it. The two-sided (floor AND capacity ceiling) variant has
    * no such closed form — that one would need a per-key kernel. */
  def flooredRunningBalance(
      df: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[Column],
      deltaCol: String,
      outCol: String = "balance"): DataFrame = {
    require(keyCols.nonEmpty, "flooredRunningBalance needs at least one key column")
    val k = keyCols.map(col)
    val w = Window.partitionBy(k: _*).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__s", sum(col(deltaCol).cast("long")).over(w))
      .withColumn("__m", min(col("__s")).over(w))
      .withColumn(outCol, col("__s") - least(lit(0L), col("__m")))
      .drop("__s", "__m")
  }

  /** Single-changepoint detection per key (binary segmentation's first
    * split, Scott–Knott / CUSUM-squared form): the split k maximizing the
    * between-segment SSE reduction
    * `gain_k = S_k²/k + (S−S_k)²/(n−k) − S²/n` over exact-long prefix
    * sums — two stacked windows (running sum/count, whole-partition
    * totals), one row_number argmax with earliest-k tie-break, no kernel
    * and no O(n²) candidate scan. Values must be pre-quantized longs so
    * every gain is the same fixed expression tree of single IEEE ops on
    * exact integers — bit-identical in any engine, which makes even the
    * argmax (a comparison on doubles) replayable in plain SQL. Keys with
    * fewer than two rows have no candidate split and drop out. */
  def changepoint(
      df: DataFrame,
      keyCols: Seq[String],
      orderCol: String,
      valueCol: String): DataFrame = {
    val k = keyCols.map(col)
    val run = Window.partitionBy(k: _*).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(k: _*)
    val dec = "decimal(38,0)"
    val skD = col("__sk").cast("double")
    val kD = col("__k").cast("double")
    val restD = (col("__s") - col("__sk")).cast("double")
    val nkD = (col("__n") - col("__k")).cast("double")
    // gain = (n·S_k − k·S)² / (k·(n−k)·n): the three-term float form
    // (S_k²/k + …) diverges cross-engine by an ulp at 1e10 magnitude;
    // here numerator and denominator are EXACT decimals, so the gain is
    // two casts and one division — bit-identical anywhere
    val num = col("__n").cast(dec) * col("__sk").cast(dec) -
      col("__k").cast(dec) * col("__s").cast(dec)
    val den = col("__k").cast(dec) * (col("__n") - col("__k")).cast(dec) *
      col("__n").cast(dec)
    df.withColumn("__sk", sum(col(valueCol).cast("long")).over(run))
      .withColumn("__k", count(lit(1)).over(run))
      .withColumn("__s", sum(col(valueCol).cast("long")).over(all))
      .withColumn("__n", count(lit(1)).over(all))
      .filter(col("__k") < col("__n"))
      .withColumn("__gain", (num * num).cast("double") / den.cast("double"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(k: _*).orderBy(col("__gain").desc, col(orderCol))))
      .filter(col("__rn") === 1)
      .select(k ++ Seq(
        col("__n").as("n"),
        col("__k").as("cp_index"),
        col(orderCol).as("cp_at"),
        col("__gain").as("gain"),
        round(skD / kD, 6).as("mean_left"),
        round(restD / nkD, 6).as("mean_right")): _*)
  }

  /** LTTB downsample per key: each CALENDAR-BOUNDED series collects into
    * one row and the sequential largest-triangle selection
    * ([[graft.functions.VectorOps.lttb]]) runs in-row — the [[graft.operators.Sketches.isotonic]]
    * bounded-kernel discipline. Output rows are the kept (x, y) points,
    * `threshold` per key (endpoints always included). */
  def lttbDownsample(
      df: DataFrame,
      keyCols: Seq[String],
      xCol: String,
      yCol: String,
      threshold: Int): DataFrame = {
    require(threshold >= 3, s"threshold must be >= 3, got $threshold")
    val k = keyCols.map(col)
    df.groupBy(k: _*)
      .agg(collect_list(
        struct(col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y")))
        .as("__pts"))
      .withColumn("__ds", graft.functions.lttb_downsample(col("__pts"), lit(threshold)))
      .select(k :+ explode(
        transform(sequence(lit(0), floor(size(col("__ds")) / 2).cast("int") - 1),
          i => struct(
            element_at(col("__ds"), i * 2 + 1).as("x"),
            element_at(col("__ds"), i * 2 + 2).as("y")))).as("__e"): _*)
      .select(k :+
        col("__e.x").cast("long").as(xCol) :+
        col("__e.y").cast("long").as(yCol): _*)
  }

  /** Holt linear (double) exponential smoothing per key — level + trend
    * recursion `l_t = α·x_t + (1−α)(l_{t−1}+b_{t−1})`,
    * `b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1}`, seeded `l_1 = x_1, b_1 = 0`.
    * Inherently sequential, so it runs as the CALENDAR-BOUNDED in-row
    * kernel the LTTB/isotonic family uses — but fully DECLARATIVE: the
    * recursion is `aggregate()` over the sorted series array (Catalyst
    * higher-order function, no UDF), a fixed chain of scalar IEEE ops
    * whose bits any engine reproduces — DuckDB replays it with a
    * recursive CTE, and the outputs ship UNROUNDED (identical bits render
    * identically; ROUND itself is the engine-divergent step at magnitude).
    * Returns (keys, n, level, trend, forecast = level + trend). */
  def holtSmooth(
      df: DataFrame,
      keyCols: Seq[String],
      orderCol: String,
      valueCol: String,
      alpha: Double,
      beta: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    require(beta >= 0 && beta <= 1, s"beta must be in [0,1], got $beta")
    val k = keyCols.map(col)
    val a = lit(alpha)
    val b = lit(beta)
    val series = df.groupBy(k: _*)
      .agg(
        array_sort(collect_list(
          struct(col(orderCol).as("t"), col(valueCol).cast("double").as("x"))))
          .as("__s"),
        count(lit(1)).as("n"))
    val arr = col("__s")
    val fin = aggregate(
      slice(arr, lit(2), size(arr) - 1),
      struct(
        element_at(arr, 1).getField("x").as("level"),
        lit(0.0).as("trend")),
      (acc, e) => {
        val nl = a * e.getField("x") +
          (lit(1.0) - a) * (acc.getField("level") + acc.getField("trend"))
        struct(
          nl.as("level"),
          (b * (nl - acc.getField("level")) +
            (lit(1.0) - b) * acc.getField("trend")).as("trend"))
      })
    series
      .withColumn("__f", fin)
      .select(k ++ Seq(
        col("n"),
        col("__f.level").as("level"),
        col("__f.trend").as("trend"),
        (col("__f.level") + col("__f.trend")).as("forecast")): _*)
  }

  /** Croston's method (1972) per key — the intermittent-demand forecaster
    * the smooth-series family (EWMA/Holt) gets WRONG on sparse series
    * (their level decays toward 0 through the zero periods; Croston only
    * updates at demand events): on each nonzero demand, size and interval
    * EWMAs update — `z' = αx + (1−α)z`, `p' = αq + (1−α)p` with q the
    * periods since the last demand (current included) — zero periods only
    * advance q. Forecast per period = z/p; `sba` applies the
    * Syntetos–Boylan (2005) bias correction (1 − α/2)·z/p. Seeds at the
    * FIRST demand: z = x, p = its 1-based position; keys with no demand
    * return NULLs.
    *
    * Execution is [[holtSmooth]]'s recipe verbatim: the inherently
    * sequential recursion folds DECLARATIVELY via `aggregate()` over the
    * calendar-bounded sorted series array — a fixed chain of scalar IEEE
    * ops any engine reproduces bit-for-bit (DuckDB: recursive CTE);
    * outputs ship UNROUNDED. Expects the caller to provide the zero-filled
    * regular grid (compose with [[fillGaps]]). */
  def crostonForecast(
      df: DataFrame,
      keyCols: Seq[String],
      orderCol: String,
      valueCol: String,
      alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    val k = keyCols.map(col)
    val a = lit(alpha)
    val series = df.groupBy(k: _*)
      .agg(
        array_sort(collect_list(
          struct(col(orderCol).as("t"), col(valueCol).cast("double").as("x"))))
          .as("__s"),
        count(lit(1)).as("n"),
        sum(when(col(valueCol).cast("double") > 0.0, 1L).otherwise(0L)).as("n_demands"))
    val fin = aggregate(
      col("__s"),
      struct(
        lit(null).cast("double").as("z"),
        lit(null).cast("double").as("p"),
        lit(0L).as("q")),
      (acc, e) => {
        val x = e.getField("x")
        val qin = acc.getField("q") + lit(1L)
        val started = acc.getField("z").isNotNull
        val z2 = when(!started, when(x > 0.0, x))
          .otherwise(when(x > 0.0,
            a * x + (lit(1.0) - a) * acc.getField("z"))
            .otherwise(acc.getField("z")))
        val p2 = when(!started, when(x > 0.0, qin.cast("double")))
          .otherwise(when(x > 0.0,
            a * qin.cast("double") + (lit(1.0) - a) * acc.getField("p"))
            .otherwise(acc.getField("p")))
        val q2 = when(x > 0.0, lit(0L)).otherwise(qin)
        struct(z2.as("z"), p2.as("p"), q2.as("q"))
      })
    series
      .withColumn("__f", fin)
      .select(k ++ Seq(
        col("n"),
        col("n_demands"),
        col("__f.z").as("size_level"),
        col("__f.p").as("interval_level"),
        (col("__f.z") / col("__f.p")).as("forecast"),
        ((lit(1.0) - a / lit(2.0)) * (col("__f.z") / col("__f.p"))).as("sba")): _*)
  }

  /** Durbin–Watson statistic per key — the residual-autocorrelation audit
    * behind every per-group trend fit (X118 olsTrend): DW = Σ(e_t−e_{t−1})²
    * / Σe_t² over the residuals of x-on-step OLS (≈2 = no autocorrelation,
    * →0 = positive — the "my trend line is lying" alarm, →4 = negative).
    *
    * Exactness: the OLS moments are exact decimal(38,0) sums (olsTrend's
    * recipe), slope/intercept ONE division each; every residual is then a
    * fixed IEEE chain QUANTIZED to 1e-6 longs, so numerator and
    * denominator become exact integer sums of decimal squares and DW is
    * ONE division. One keyed window supplies the step index and the lag —
    * per-key series are calendar-bounded, never data-volume-bounded.
    * Expects integral values (quantize upstream); perfect fits (zero
    * residual energy) and single-point series return NULL. */
  def durbinWatson(
      df: DataFrame,
      keyCols: Seq[String],
      orderCol: String,
      valueCol: String): DataFrame = {
    val k = keyCols.map(col)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(k: _*).orderBy(col(orderCol))
    val stepped = df
      .withColumn("__t", row_number().over(w).cast("long"))
      .withColumn("__y", col(valueCol).cast("long"))
    val xD = col("__t").cast("decimal(38,0)")
    val yD = col("__y").cast("decimal(38,0)")
    val moments = stepped.groupBy(k: _*)
      .agg(
        count(lit(1)).cast("decimal(38,0)").as("__n"),
        sum(xD).as("__sx"), sum(yD).as("__sy"),
        sum(xD * xD).as("__sxx"), sum(xD * yD).as("__sxy"))
    val num = col("__n") * col("__sxy") - col("__sx") * col("__sy")
    val den = col("__n") * col("__sxx") - col("__sx") * col("__sx")
    val fit = moments.select(
      k ++ Seq(
        col("__n").cast("long").as("__cnt"),
        when(den =!= 0, num.cast("double") / den.cast("double")).as("__slope"),
        when(den =!= 0,
          (col("__sy") * den - num * col("__sx")).cast("double") /
            (col("__n") * den).cast("double")).as("__icept")): _*)
    val resid = stepped.join(fit, keyCols)
      .withColumn("__e",
        col("__y").cast("double") - col("__icept") - col("__slope") * col("__t").cast("double"))
      .withColumn("__eq", floor(col("__e") * 1e6 + 0.5).cast("long"))
      .withColumn("__lag", lag(col("__eq"), 1).over(w))
    val eqD = col("__eq").cast("decimal(19,0)")
    val dfD = (col("__eq") - col("__lag")).cast("decimal(19,0)")
    resid.groupBy(k: _*)
      .agg(
        max(col("__cnt")).as("n"),
        sum((dfD * dfD).cast("decimal(38,0)")).as("__num"),
        sum((eqD * eqD).cast("decimal(38,0)")).as("__den"))
      .select(
        k ++ Seq(
          col("n"),
          when(col("__den") =!= 0,
            round(col("__num").cast("double") / col("__den").cast("double"), 6))
            .as("dw")): _*)
  }

  /** Holt–Winters additive triple exponential smoothing per key — the
    * seasonal extension of [[holtSmooth]]:
    * l_t = α(x_t − s_{t−p}) + (1−α)(l_{t−1}+b_{t−1}),
    * b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1},
    * s_t = γ(x_t − l_t) + (1−γ)s_{t−p};
    * textbook init l_p = mean(x_1..x_p), b_p = (mean₂ − mean₁)/p,
    * s_i = x_i − l_p (Hyndman & Athanasopoulos §7.3 — public knowledge).
    *
    * Same execution recipe as Holt: the sequential recursion runs as a
    * DECLARATIVE `aggregate()` fold over the sorted calendar-bounded
    * series, with the rotating seasonal p-vector carried in the
    * accumulator struct (head = s_{t−p}, append = s_t). Init period sums
    * stay exact longs (one division each); every fold step is a fixed
    * chain of scalar IEEE ops, so outputs ship UNROUNDED and DuckDB
    * replays the whole recursion with a recursive CTE carrying the list.
    * Keys shorter than 2·period are dropped (init needs two periods).
    * Returns (keys, n, level, trend, forecast = level+trend+s_{t+1−p}). */
  def holtWinters(
      df: DataFrame,
      keyCols: Seq[String],
      orderCol: String,
      valueCol: String,
      period: Int,
      alpha: Double,
      beta: Double,
      gamma: Double): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    require(beta >= 0 && beta <= 1, s"beta must be in [0,1], got $beta")
    require(gamma >= 0 && gamma <= 1, s"gamma must be in [0,1], got $gamma")
    val k = keyCols.map(col)
    val a = lit(alpha); val b = lit(beta); val g = lit(gamma)
    val p = period
    val series = df.groupBy(k: _*)
      .agg(
        array_sort(collect_list(
          struct(col(orderCol).as("t"), col(valueCol).cast("long").as("v"))))
          .as("__s"),
        count(lit(1)).as("n"))
    val arr = col("__s")
    val s1 = aggregate(slice(arr, 1, p), lit(0L),
      (acc, e) => acc + e.getField("v"))
    val s2 = aggregate(slice(arr, p + 1, p), lit(0L),
      (acc, e) => acc + e.getField("v"))
    val l0 = s1.cast("double") / lit(p.toDouble)
    val b0 = (s2.cast("double") / lit(p.toDouble) -
      s1.cast("double") / lit(p.toDouble)) / lit(p.toDouble)
    val seas0 = transform(slice(arr, 1, p),
      e => e.getField("v").cast("double") - l0)
    val fin = aggregate(
      slice(arr, lit(p + 1), size(arr) - lit(p)),
      struct(l0.as("level"), b0.as("trend"), seas0.as("seas")),
      (acc, e) => {
        val x = e.getField("v").cast("double")
        val sOld = element_at(acc.getField("seas"), 1)
        val nl = a * (x - sOld) +
          (lit(1.0) - a) * (acc.getField("level") + acc.getField("trend"))
        val nb = b * (nl - acc.getField("level")) +
          (lit(1.0) - b) * acc.getField("trend")
        val sNew = g * (x - nl) + (lit(1.0) - g) * sOld
        struct(nl.as("level"), nb.as("trend"),
          concat(slice(acc.getField("seas"), 2, p - 1), array(sNew)).as("seas"))
      })
    series.filter(col("n") >= 2 * p)
      .withColumn("__f", fin)
      .select(k ++ Seq(
        col("n"),
        col("__f.level").as("level"),
        col("__f.trend").as("trend"),
        (col("__f.level") + col("__f.trend") +
          element_at(col("__f.seas"), 1)).as("forecast")): _*)
  }

  /** 1-D Kalman filter (local-level model) per key — the optimal recursive
    * smoother/anomaly baseline for a noisy level series (Kalman 1960):
    * predict P⁻ = P + Q; gain K = P⁻/(P⁻ + R); update
    * x = x + K(z − x), P = (1 − K)P⁻; seeded x₁ = z₁, P₁ = R.
    * Q = process variance (level drift), R = observation variance.
    *
    * The [[holtSmooth]] execution recipe: a declarative `aggregate()` fold
    * over the sorted calendar-bounded series — every step a fixed chain of
    * scalar IEEE ops, outputs UNROUNDED, replayed bit-exactly by a
    * recursive CTE. The steady-state gain is data-independent, so the
    * final K doubles as a sanity readout. Returns
    * (keys, n, level, p_var, gain, innovation = z_n − x_{n−1|n−1}). */
  def kalmanLevel(
      df: DataFrame,
      keyCols: Seq[String],
      orderCol: String,
      valueCol: String,
      q: Double,
      r: Double): DataFrame = {
    require(q > 0 && r > 0, s"q and r must be > 0, got q=$q r=$r")
    val k = keyCols.map(col)
    val qc = lit(q); val rc = lit(r)
    val series = df.groupBy(k: _*)
      .agg(
        array_sort(collect_list(
          struct(col(orderCol).as("t"), col(valueCol).cast("double").as("z"))))
          .as("__s"),
        count(lit(1)).as("n"))
    val arr = col("__s")
    val fin = aggregate(
      slice(arr, lit(2), size(arr) - lit(1)),
      struct(
        element_at(arr, 1).getField("z").as("x"),
        rc.as("p"),
        lit(0.0).as("gain"),
        lit(0.0).as("innov")),
      (acc, e) => {
        val pPred = acc.getField("p") + qc
        val kg = pPred / (pPred + rc)
        val innov = e.getField("z") - acc.getField("x")
        struct(
          (acc.getField("x") + kg * innov).as("x"),
          ((lit(1.0) - kg) * pPred).as("p"),
          kg.as("gain"),
          innov.as("innov"))
      })
    series
      .withColumn("__f", fin)
      .select(k ++ Seq(
        col("n"),
        col("__f.x").as("level"),
        col("__f.p").as("p_var"),
        col("__f.gain").as("gain"),
        col("__f.innov").as("innovation")): _*)
  }

  /** SAX symbolic approximation per key (Lin–Keogh 2003) — each series
    * z-normalized, PAA-compressed to `segments` means, each mean mapped to
    * a letter at the standard Gaussian breakpoints: the representation
    * iSAX-style series indexing builds on. Fully distributed (no bounded
    * collect): one key-window pass for row numbers + exact (S, Σv²-as-
    * DECIMAL, n) moments, one partial agg at (key, segment) grain with
    * exact long segment sums, and a ≤`segments`-row word assembly. Every
    * float (mean, std, z) is a fixed chain of single IEEE ops from exact
    * integer sums, and the breakpoints are literals — so the WORDS are
    * bit-deterministic and replay in SQL. Constant series (σ = 0) pin
    * z = 0. Values must be pre-quantized longs; alphabet is fixed at 4
    * (breakpoints ±0.6744897501960817, 0 — the N(0,1) quartiles). */
  def saxWords(
      df: DataFrame,
      keyCols: Seq[String],
      orderCol: String,
      valueCol: String,
      segments: Int = 8): DataFrame = {
    require(segments >= 2, s"segments must be >= 2, got $segments")
    val dec = "decimal(38,0)"
    val k = keyCols.map(col)
    val wKey = Window.partitionBy(k: _*)
    val v = col(valueCol).cast("long")
    val b = 0.6744897501960817
    val positioned = df.select(k ++ Seq(
      v.as("__v"),
      (row_number().over(wKey.orderBy(col(orderCol))) - 1).as("__i")): _*)
      .withColumn("__n", count(lit(1)).over(wKey))
      .withColumn("__s", sum(col("__v")).over(wKey))
      .withColumn("__q", sum(col("__v").cast(dec) * col("__v").cast(dec)).over(wKey))
      .filter(col("__n") >= segments)
      .withColumn("__seg", floor(col("__i") * lit(segments) / col("__n")).cast("int"))
    val mu = col("__s").cast("double") / col("__n").cast("double")
    val sigma = sqrt(
      (col("__q").cast("double") -
        col("__s").cast("double") * col("__s").cast("double") / col("__n").cast("double")) /
        col("__n").cast("double"))
    val segs = positioned
      .groupBy(k ++ Seq(col("__seg"), col("__n"), col("__s"), col("__q")): _*)
      .agg(sum(col("__v")).as("__sv"), count(lit(1)).as("__cv"))
      .withColumn("__z",
        when(sigma > 0,
          (col("__sv").cast("double") / col("__cv").cast("double") - mu) / sigma)
          .otherwise(lit(0.0)))
      .withColumn("__sym",
        when(col("__z") < lit(-b), "a")
          .when(col("__z") < lit(0.0), "b")
          .when(col("__z") < lit(b), "c")
          .otherwise("d"))
    segs.groupBy(k: _*)
      .agg(
        max(col("__n")).as("n"),
        array_join(transform(
          array_sort(collect_list(struct(col("__seg"), col("__sym")))),
          s => s.getField("__sym")), "").as("sax_word"))
  }

  /** Forecast backtest per key — in-sample MAE of the naive (carry last
    * value) and seasonal-naive (carry value from `season` observations
    * back) forecasters, plus their ratio MASE (Hyndman–Koehler 2006,
    * computed against the one-step naive): the standard "is my fancy
    * forecaster even beating persistence" gate, and the denominator any
    * model's MASE needs. Values must be pre-quantized longs: absolute
    * errors are exact long sums, the MAEs one division each, MASE one
    * more — all single IEEE ops, engine-identical. Keys shorter than
    * `season`+1 observations report NULL seasonal columns. One window
    * pass + one partial agg per key. */
  def forecastBacktest(
      df: DataFrame,
      keyCols: Seq[String],
      orderCol: String,
      valueCol: String,
      season: Int): DataFrame = {
    require(season >= 2, s"season must be >= 2, got $season")
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(orderCol))
    val v = col(valueCol).cast("long")
    val d1 = abs(v - lag(v, 1).over(w))
    val dm = abs(v - lag(v, season).over(w))
    val lagged = df.select(
      keyCols.map(col) ++ Seq(d1.as("__d1"), dm.as("__dm")): _*)
    lagged.groupBy(keyCols.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(col("__d1")).as("__s1"), count(col("__d1")).as("__c1"),
        sum(col("__dm")).as("__sm"), count(col("__dm")).as("__cm"))
      .select(keyCols.map(col) ++ Seq(
        col("n"),
        round(col("__s1").cast("double") / col("__c1").cast("double"), 6)
          .as("mae_naive"),
        when(col("__cm") > 0,
          round(col("__sm").cast("double") / col("__cm").cast("double"), 6))
          .as("mae_snaive"),
        when(col("__cm") > 0,
          round((col("__s1").cast("double") / col("__c1").cast("double")) /
            (col("__sm").cast("double") / col("__cm").cast("double")), 6))
          .as("mase")): _*)
  }

  /** Maximum drawdown per key over an ordered level series — the classic
    * peak-to-trough risk readout: dd_t = (max_{s<=t} level_s) − level_t,
    * reported as its maximum together with the all-time peak. Pass the
    * level pre-quantized to an integral type (cents) and the whole
    * computation is exact long arithmetic — running MAX is a selection,
    * never an accumulation, so there is no float drift at any length.
    *
    * One window per key (entity-grain partitioning — millions of
    * independent keys parallelize; this is NOT a low-cardinality
    * partition) followed by a partial-agg groupBy. `orderCol` must be a
    * total order within each key (add a row id tiebreak) — the running
    * max itself is order-insensitive across ties, but deterministic
    * plans are easier to audit. */
  def maxDrawdown(
      df: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[Column],
      levelCol: String): DataFrame = {
    require(keyCols.nonEmpty, "maxDrawdown needs at least one key column")
    val k = keyCols.map(col)
    val w = Window.partitionBy(k: _*).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__peak", max(col(levelCol)).over(w))
      .withColumn("__dd", col("__peak") - col(levelCol))
      .groupBy(k: _*)
      .agg(
        max(col("__dd")).as("max_drawdown"),
        max(col("__peak")).as("peak_level"),
        count(lit(1)).as("n_points"))
  }

  /** Chow structural-break test (Chow 1960) at a KNOWN break point — the
    * INFERENCE layer over [[changepoint]]'s argmax (changepoint finds the
    * most suspicious split; Chow asks whether a DECLARED split is real):
    * fit y = a + b·x separately on each side and pooled, F =
    * ((SSE_p − SSE₁ − SSE₂)/k) / ((SSE₁+SSE₂)/(n−2k)) with k = 2
    * parameters, ~F(k, n−2k) under no break.
    *
    * ONE partial aggregate: per-segment exact quantized moments
    * (n, Σx, Σy, Σxy, Σx², Σy² — 1e-6-grid longs, cross-products as
    * DECIMAL), each SSE the closed form (A − B²/C)/n on
    * A = nΣy²−(Σy)², B = nΣxy−ΣxΣy, C = nΣx²−(Σx)² — the X248 identity,
    * no residual pass. A segment with n < 3 or a constant-x segment
    * (C = 0) → NULL F (the split fit is undefined). SSEs report in
    * y-units² (the 1e-12 quantization divides out), 6-dp rounded.
    *
    * Returns ONE row: (n1, n2, sse_pooled, sse_split, f_stat). */
  def chowTest(
      df: DataFrame,
      orderCol: String,
      xCol: String,
      yCol: String,
      breakPoint: Double): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    def q6(c: Column) = sum(floor(c * 1e6 + 0.5).cast("long"))
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val seg = df
      .groupBy((col(orderCol).cast("double") >= breakPoint).as("__hi"))
      .agg(count(lit(1)).as("__n"),
        q6(x).as("__sx"), q6(y).as("__sy"), q6(x * y).as("__sxy"),
        q6(x * x).as("__sxx"), q6(y * y).as("__syy"))
    def pick(hi: Boolean, c: String) = max(when(col("__hi") === hi, col(c)))
    val w = seg.agg(
      pick(false, "__n").as("n1"), pick(true, "__n").as("n2"),
      pick(false, "__sx").as("sx1"), pick(true, "__sx").as("sx2"),
      pick(false, "__sy").as("sy1"), pick(true, "__sy").as("sy2"),
      pick(false, "__sxy").as("sxy1"), pick(true, "__sxy").as("sxy2"),
      pick(false, "__sxx").as("sxx1"), pick(true, "__sxx").as("sxx2"),
      pick(false, "__syy").as("syy1"), pick(true, "__syy").as("syy2"))
    // SSE of a simple-regression fit from exact moments: (A − B²/C)/n with
    // A = n·Σq(y²)·1e6 − (Σq(y))² etc. — the ·1e6 rescale puts the
    // second-moment sums (quantized at 1e-6) on the same 1e-12 grid as the
    // squared first-moment sums BEFORE subtracting (mismatched grids made
    // A ≈ −Sy², caught by the spec's independent hand-math); exact
    // decimals cast once to double, 1e-12 units ÷ 1e12 at readout
    def sse(n: Column, sx: Column, sy: Column, sxy: Column,
        sxx: Column, syy: Column): (Column, Column) = {
      val m = lit(1000000L).cast("decimal(38,0)")
      val a = (dec(n) * dec(syy) * m - dec(sy) * dec(sy)).cast("double")
      val b = (dec(n) * dec(sxy) * m - dec(sx) * dec(sy)).cast("double")
      val c = (dec(n) * dec(sxx) * m - dec(sx) * dec(sx)).cast("double")
      (when(c > 0.0, (a - b * b / c) / n.cast("double")), c)
    }
    val (sse1, _) = sse(col("n1"), col("sx1"), col("sy1"),
      col("sxy1"), col("sxx1"), col("syy1"))
    val (sse2, _) = sse(col("n2"), col("sx2"), col("sy2"),
      col("sxy2"), col("sxx2"), col("syy2"))
    val (sseP, _) = sse(col("n1") + col("n2"),
      col("sx1") + col("sx2"), col("sy1") + col("sy2"),
      col("sxy1") + col("sxy2"), col("sxx1") + col("sxx2"),
      col("syy1") + col("syy2"))
    val n = (col("n1") + col("n2")).cast("double")
    val ok = col("n1") >= 3 && col("n2") >= 3 &&
      sse1.isNotNull && sse2.isNotNull && sseP.isNotNull
    val f = ((sseP - sse1 - sse2) / 2.0) / ((sse1 + sse2) / (n - 4.0))
    w.select(
      col("n1"), col("n2"),
      when(ok, round(sseP / 1e12, 6)).as("sse_pooled"),
      when(ok, round((sse1 + sse2) / 1e12, 6)).as("sse_split"),
      when(ok && (sse1 + sse2) > 0.0, round(f, 6)).as("f_stat"))
  }
}