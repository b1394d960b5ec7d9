package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate/statistical summaries — the sketch family a 100 TB pipeline
  * leans on when exact answers would shuffle the world.
  *
  * Everything here is a thin, named wrapper over Spark's built-in sketch
  * aggregates (HyperLogLog++, GK quantiles): they are already partial
  * (map-side combined), mergeable, and codegen'd — re-implementing them
  * would only lose those properties.
  */
object Sketches {

  /** Approximate distinct count (HyperLogLog++) per group.
    * `rsd` = target relative standard deviation. */
  def approxDistinct(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      rsd: Double = 0.05): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(
        approx_count_distinct(col(valueCol), rsd).as("approx_distinct"),
        count(lit(1)).as("n_rows"))

  /** DataSketches-HLL sibling of [[approxDistinct]] — same
    * (group, approx_distinct, n_rows) readout through `hll_sketch_agg`.
    * Two reasons to prefer it: the sketch column is mergeable (the
    * [[sketchCube]] pre-aggregation pattern), and high-precision runs are
    * CHEAP — below ~k coupons the sketch stays in sparse mode, whereas
    * Spark's HLL++ allocates its full 2^p dense register array per group
    * per partition regardless of cardinality (measured 17.8s vs 0.2s at
    * equal precision on the bench events table). */
  def approxDistinctDs(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      lgK: Int = 12): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(
        hll_sketch_estimate(hll_sketch_agg(col(valueCol), lit(lgK)))
          .as("approx_distinct"),
        count(lit(1)).as("n_rows"))

  /** Exact distinct count per group, for sketch-error measurement. */
  def exactDistinct(df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(count_distinct(col(valueCol)).as("exact_distinct"))

  /** Approximate quantiles (Greenwald-Khanna) per group; accuracy is
    * 1/`relativeError`. */
  def approxQuantiles(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      probabilities: Seq[Double],
      relativeError: Double = 0.01): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(
        percentile_approx(
          col(valueCol),
          array(probabilities.map(lit): _*),
          lit((1.0 / relativeError).toInt)).as("approx_quantiles"))

  /** Exact interpolated percentiles aggregate (SQL `percentile`): the
    * oracle-checkable twin of [[approxQuantiles]]. Exact percentile sorts
    * within groups — use the approx variant when groups are huge. */
  def exactPercentiles(valueCol: String, probabilities: Seq[Double]): Column =
    percentile(col(valueCol), array(probabilities.map(lit): _*))

  /** Per-GROUP winsorization — the grouped sibling of the corpus-wide
    * [[winsorize]] (X77), the way grouped ECDF pairs with global ECDF:
    * each group's rows clip to that group's own [pLo, pHi] percentile
    * band. Bounds come from one exact-percentile aggregate per group
    * (rounded at 6 dp so the clip boundary is engine-portable) broadcast
    * back onto the rows — the fact table never shuffles. For groups too
    * large for an exact within-group percentile sort, compute bounds with
    * [[approxQuantiles]] instead and feed them through the same join-back.
    * Appends `<valueCol>_w` plus the bounds. */
  def winsorizeGrouped(
      df: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      pLo: Double = 0.01,
      pHi: Double = 0.99): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, s"need 0 <= pLo < pHi <= 1, got ($pLo, $pHi)")
    val bounds = df
      .groupBy(groupCols.map(col): _*)
      .agg(
        round(percentile(col(valueCol), lit(pLo)), 6).as("winsor_lo"),
        round(percentile(col(valueCol), lit(pHi)), 6).as("winsor_hi"))
    df.join(broadcast(bounds), groupCols)
      .withColumn(
        valueCol + "_w",
        least(greatest(col(valueCol).cast("double"), col("winsor_lo")), col("winsor_hi")))
  }

  /** Heavy hitters of a string column per group via the native mergeable
    * Misra–Gries aggregate ([[graft.functions.MisraGries]]): at most `k`
    * counters cross the shuffle per partition regardless of cardinality.
    * Exact when `k` >= the column's distinct count; otherwise every item
    * with frequency > n/(k+1) is present with a count underestimated by at
    * most n/(k+1). */
  def heavyHitters(df: DataFrame, valueCol: String, k: Int, groupCols: Seq[String] = Nil): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(graft.functions.approx_heavy_hitters(col(valueCol), k).as("heavy_hitters"))

  /** Mergeable distinct-count sketch cube — the pre-aggregation pattern
    * that makes 100 TB distinct-count analytics cheap: materialize one
    * Datasketches HLL sketch COLUMN (binary, mergeable) per fine-grained
    * group once, then answer any coarser-grained distinct-count rollup by
    * merging sketches ([[rollupSketchCube]]) without ever touching the raw
    * data again. Both steps are partial hash aggregates (HLL union is
    * associative + commutative, so map-side combine applies). */
  def sketchCube(df: DataFrame, keyCols: Seq[String], valueCol: String, lgK: Int = 12): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(
        hll_sketch_agg(col(valueCol), lit(lgK)).as("hll"),
        count(lit(1)).as("n_rows"))

  /** Roll a [[sketchCube]] up to a coarser key set: merge the sketches and
    * estimate. The estimate is identical to sketching the raw data at the
    * coarse grain directly (HLL union merges registers exactly). */
  def rollupSketchCube(cube: DataFrame, keyCols: Seq[String]): DataFrame =
    cube.groupBy(keyCols.map(col): _*)
      .agg(
        hll_sketch_estimate(hll_union_agg(col("hll"))).as("approx_distinct"),
        sum(col("n_rows")).as("n_rows"))

  /** Equi-width histogram: one bounds aggregate (min/max) broadcast back as
    * a 1-row cross join — same shape as [[filterByQuantileBand]], no driver
    * collect — then a codegen'd bin projection and one partial-agg count.
    * The top value lands in the last bin (the standard closed-right top
    * edge). Returns (bin, bin_lo, bin_hi, n) for the bins that are
    * occupied. */
  def histogram(df: DataFrame, valueCol: String, nBins: Int): DataFrame = {
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    val v = col(valueCol).cast("double")
    val bounds = df.agg(min(v).as("__lo"), max(v).as("__hi"))
    df.crossJoin(broadcast(bounds))
      .withColumn("__w", (col("__hi") - col("__lo")) / nBins)
      .withColumn(
        "bin",
        least(
          when(col("__w") === 0.0, lit(0))
            .otherwise(floor((v - col("__lo")) / col("__w"))),
          lit(nBins - 1)).cast("long"))
      .groupBy(col("bin"))
      .agg(
        round(first(col("__lo")) + col("bin") * first(col("__w")), 6).as("bin_lo"),
        round(first(col("__lo")) + (col("bin") + 1) * first(col("__w")), 6).as("bin_hi"),
        count(lit(1)).as("n"))
  }

  /** 2-D equi-width histogram — the density heatmap beneath scatter-plot
    * overviews and anomaly grids: both axes bin against their own
    * 1-row broadcast bounds (the [[histogram]] recipe twice), one partial
    * agg to (bin_x, bin_y) cells. Output is the OCCUPIED cell list —
    * at most nx·ny rows regardless of input size. */
  def histogram2d(
      df: DataFrame,
      xCol: String,
      yCol: String,
      nx: Int,
      ny: Int): DataFrame = {
    require(nx >= 1 && ny >= 1, s"bin counts must be >= 1, got nx=$nx ny=$ny")
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val bounds = df.agg(
      min(x).as("__xlo"), max(x).as("__xhi"),
      min(y).as("__ylo"), max(y).as("__yhi"))
    def binOf(v: Column, lo: Column, w: Column, n: Int): Column =
      least(
        when(w === 0.0, lit(0)).otherwise(floor((v - lo) / w)),
        lit(n - 1)).cast("long")
    df.crossJoin(broadcast(bounds))
      .withColumn("__wx", (col("__xhi") - col("__xlo")) / nx)
      .withColumn("__wy", (col("__yhi") - col("__ylo")) / ny)
      .withColumn("bin_x", binOf(x, col("__xlo"), col("__wx"), nx))
      .withColumn("bin_y", binOf(y, col("__ylo"), col("__wy"), ny))
      .groupBy(col("bin_x"), col("bin_y"))
      .agg(count(lit(1)).as("n"))
  }

  /** Mergeable QUANTILE sketch cube — the quantile twin of [[sketchCube]]:
    * one binary KLL sketch per fine-grained group
    * ([[graft.functions.kll_sketch]]), after which any coarser-grained
    * quantile readout is a register merge ([[rollupQuantileCube]]), never a
    * raw re-scan. Rank error <= ~1.65% at the default k = 200, preserved
    * under merge (spec-pinned against exact percentiles). */
  def quantileCube(df: DataFrame, keyCols: Seq[String], valueCol: String, k: Int = 200): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(
        graft.functions.kll_sketch(col(valueCol), k).as("kll"),
        count(lit(1)).as("n_rows"))

  /** Roll a [[quantileCube]] up to a coarser key set and read out quantile
    * estimates at `probs`. Output keeps the merged sketch for further
    * rollups plus one estimate column per rank. */
  def rollupQuantileCube(
      cube: DataFrame,
      keyCols: Seq[String],
      probs: Seq[Double],
      k: Int = 200): DataFrame =
    cube.groupBy(keyCols.map(col): _*)
      .agg(
        graft.functions.kll_merge(col("kll"), k).as("kll"),
        sum(col("n_rows")).as("n_rows"))
      .withColumn("quantiles", graft.functions.kll_quantiles(col("kll"), probs))

  /** Rolling `days`-day distinct counts by MERGING the daily HLL sketches
    * of a [[sketchCube]] — the sliding-window distinct pattern at 100 TB:
    * raw events are sketched once per (key, day); every rolling answer
    * after that is a register merge over at most `days` sketch rows per
    * output row (a RANGE window over the calendar, so gap days shorten the
    * frame instead of silently widening it). Re-scanning the raw data per
    * window — the naive formulation — would read each event `days` times. */
  def rollingSketchDistinct(
      cube: DataFrame,
      dayCol: String,
      keyCols: Seq[String],
      days: Int): DataFrame = {
    require(days >= 1, s"days must be >= 1, got $days")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(unix_date(col(dayCol).cast("date")))
      .rangeBetween(-(days - 1), 0)
    cube.withColumn(
      "approx_distinct_rolling",
      hll_sketch_estimate(hll_union_agg(col("hll")).over(w)))
  }

  /** Equi-width bin bounds of the baseline as a 1-row frame (__lo, __w) —
    * the broadcastable piece of [[psi]], factored out so a STREAMING
    * current side can bin against a static baseline. */
  def psiBounds(baseline: DataFrame, valueCol: String, nBins: Int): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    val v = col(valueCol).cast("double")
    baseline.agg(min(v).as("__lo"), ((max(v) - min(v)) / nBins).as("__w"))
  }

  /** Per-bin counts of `df` under the given baseline bounds; out-of-range
    * values clamp into the edge bins. Streaming-safe (one aggregate). */
  def psiBinCounts(
      df: DataFrame,
      bounds: DataFrame,
      valueCol: String,
      nBins: Int,
      as: String): DataFrame = {
    val v = col(valueCol).cast("double")
    df.crossJoin(broadcast(bounds))
      .withColumn(
        "bin",
        least(
          when(col("__w") === 0.0, lit(0))
            .otherwise(floor((v - col("__lo")) / col("__w"))),
          lit(nBins - 1)).cast("long"))
      // out-of-baseline-range current values clamp into the edge bins
      .withColumn("bin", greatest(col("bin"), lit(0L)))
      .groupBy(col("bin")).agg(count(lit(1)).as(as))
  }

  /** Join per-bin baseline/current counts into PSI terms — the finishing
    * step shared by the batch and streaming paths. Expects (bin, n_base)
    * and (bin, n_cur). */
  def psiAssemble(
      baseCounts: DataFrame,
      curCounts: DataFrame,
      eps: Double = 1e-4): DataFrame = {
    binShares(baseCounts, curCounts)
      .withColumn("base_pct", greatest(col("base_pct"), lit(eps)))
      .withColumn("cur_pct", greatest(col("cur_pct"), lit(eps)))
      .withColumn(
        "psi_term",
        (col("cur_pct") - col("base_pct")) * log(col("cur_pct") / col("base_pct")))
  }

  /** Per-bin baseline/current counts (bin, n_base) ⋈ (bin, n_cur), a side's
    * missing bin counted 0, with each side's share of its total (`base_pct`,
    * `cur_pct`) — the head of the PSI, JS and Hellinger assembles. */
  private def binShares(baseCounts: DataFrame, curCounts: DataFrame): DataFrame = {
    val joined = baseCounts
      .join(curCounts, Seq("bin"), "full_outer")
      .na.fill(0L, Seq("n_base", "n_cur"))
    val totB = sum(col("n_base")).over(org.apache.spark.sql.expressions.Window.partitionBy())
    val totC = sum(col("n_cur")).over(org.apache.spark.sql.expressions.Window.partitionBy())
    joined
      .withColumn("base_pct", col("n_base") / totB)
      .withColumn("cur_pct", col("n_cur") / totC)
  }

  /** Jensen–Shannon divergence terms from per-bin baseline/current counts
    * — the bounded, symmetric drift sibling of [[psiAssemble]] (JSD ∈
    * [0, ln 2]; no eps floor needed: p·ln(p/m) → 0 as p → 0, and the
    * mixture m is positive whenever either side occupies the bin). Emits
    * PER-BIN terms like the PSI path — the caller sums the bounded bin
    * table, so every number this operator emits is a fixed per-row double
    * chain, engine-stable with no order-dependent double SUM anywhere. */
  def jsAssemble(baseCounts: DataFrame, curCounts: DataFrame): DataFrame = {
    binShares(baseCounts, curCounts)
      .withColumn("m_pct", (col("base_pct") + col("cur_pct")) / 2)
      .withColumn(
        "js_term",
        when(col("base_pct") > 0,
          col("base_pct") * log(col("base_pct") / col("m_pct")) / 2).otherwise(lit(0.0)) +
          when(col("cur_pct") > 0,
            col("cur_pct") * log(col("cur_pct") / col("m_pct")) / 2).otherwise(lit(0.0)))
  }

  /** Squared-Hellinger drift terms from per-bin baseline/current counts —
    * the third member of the bounded drift family ([[psiAssemble]]
    * unbounded, [[jsAssemble]] ∈ [0, ln 2], Hellinger² ∈ [0, 1] and a
    * true metric's square): H² = ½·Σ(√p − √q)². No eps floor, no log —
    * each per-bin term is a fixed 3-op IEEE chain, so the bounded bin
    * table sums engine-stably like the JS path. */
  def hellingerAssemble(baseCounts: DataFrame, curCounts: DataFrame): DataFrame = {
    binShares(baseCounts, curCounts)
      .withColumn("h2_term",
        (sqrt(col("base_pct")) - sqrt(col("cur_pct"))) *
          (sqrt(col("base_pct")) - sqrt(col("cur_pct"))) / 2)
  }

  /** Squared-Hellinger drift over equi-width baseline bins — same binning
    * as [[psi]] and [[jsDivergence]]. */
  def hellinger(
      baseline: DataFrame,
      current: DataFrame,
      valueCol: String,
      nBins: Int = 10): DataFrame = {
    val bounds = psiBounds(baseline, valueCol, nBins)
    hellingerAssemble(
      psiBinCounts(baseline, bounds, valueCol, nBins, "n_base"),
      psiBinCounts(current, bounds, valueCol, nBins, "n_cur"))
  }

  /** Jensen–Shannon drift over equi-width baseline bins — same binning as
    * [[psi]], JSD terms instead of PSI terms. */
  def jsDivergence(
      baseline: DataFrame,
      current: DataFrame,
      valueCol: String,
      nBins: Int = 10): DataFrame = {
    val bounds = psiBounds(baseline, valueCol, nBins)
    jsAssemble(
      psiBinCounts(baseline, bounds, valueCol, nBins, "n_base"),
      psiBinCounts(current, bounds, valueCol, nBins, "n_cur"))
  }

  /** Population Stability Index of a score column between a `baseline` and
    * a `current` snapshot — the standard drift alarm in front of a model or
    * a curated corpus (public convention: PSI < 0.1 stable, > 0.25 shifted).
    * Bins are the BASELINE's equi-width bins (broadcast bounds, same shape
    * as [[histogram]]); both sides reduce to bin counts with one partial
    * aggregate each, the comparison joins B bin rows. Empty bins clamp to
    * `eps` share (the standard continuity correction). Returns one row per
    * bin with the PSI term; sum `psi_term` for the index. */
  def psi(
      baseline: DataFrame,
      current: DataFrame,
      valueCol: String,
      nBins: Int = 10,
      eps: Double = 1e-4): DataFrame = {
    val bounds = psiBounds(baseline, valueCol, nBins)
    psiAssemble(
      psiBinCounts(baseline, bounds, valueCol, nBins, "n_base"),
      psiBinCounts(current, bounds, valueCol, nBins, "n_cur"),
      eps)
  }

  /** Equi-depth (quantile) histogram: bin edges are the exact
    * percentiles — ONE percentile aggregate broadcast back, then
    * the same codegen'd binary-search rank as the Z-order path and one
    * partial-agg count. The complement of [[histogram]] for skewed data,
    * where equi-width bins collapse into one hot bucket. Returns
    * (bin, lo, hi, n) with lo/hi the actual value range present in the
    * bin. */
  def equiDepthHistogram(
      df: DataFrame,
      valueCol: String,
      nBins: Int,
      edgeRound: Option[Int] = None): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    val v = col(valueCol).cast("double")
    val probs = array((1 until nBins).map(i => lit(i.toDouble / nBins)): _*)
    val pct = percentile(v, probs)
    // edgeRound quantizes the interpolated edges (ONCE, in the 1-row agg —
    // zero per-row cost) so engines whose percentile interpolation differs
    // in the last ulp still bin identically
    val edges = edgeRound match {
      case Some(dp) => transform(pct, e => round(e, dp))
      case None => pct
    }
    val bounds = df.agg(edges.as("__edges"))
    df.crossJoin(broadcast(bounds))
      .withColumn("bin", graft.functions.rank_below(col("__edges"), v))
      .groupBy(col("bin"))
      .agg(min(v).as("lo"), max(v).as("hi"), count(lit(1)).as("n"))
  }

  /** Distinct-key overlap estimate between two columns via HLL
    * inclusion–exclusion: |A ∩ B| ≈ est(A) + est(B) − est(A ∪ B), with the
    * union estimated by MERGING the two sketches (exact register union, no
    * data re-read). The planner's question — "how much do these join keys
    * overlap?" — answered with two sketch aggregates and a 1-row combine,
    * at any scale. Signed result: the difference of estimates can dip
    * below zero on disjoint sets; clamp at 0. */
  def distinctOverlapEstimate(
      a: DataFrame,
      aCol: String,
      b: DataFrame,
      bCol: String,
      lgK: Int = 12): DataFrame = {
    val sa = a.agg(hll_sketch_agg(col(aCol), lit(lgK)).as("__sa"))
    val sb = b.agg(hll_sketch_agg(col(bCol), lit(lgK)).as("__sb"))
    sa.crossJoin(sb)
      .select(
        hll_sketch_estimate(col("__sa")).as("distinct_a"),
        hll_sketch_estimate(col("__sb")).as("distinct_b"),
        hll_sketch_estimate(hll_union(col("__sa"), col("__sb"))).as("distinct_union"))
      .withColumn(
        "distinct_overlap",
        greatest(col("distinct_a") + col("distinct_b") - col("distinct_union"), lit(0L)))
  }

  /** Exact corpus-wide percentile-rank (ECDF) normalization of a score
    * column WITHOUT a global sort: quantize the score to `dp` decimals,
    * aggregate the value histogram (partial hash agg — the shuffle carries
    * one row per distinct quantized value per partition), cumulative-sum
    * that histogram, and broadcast the value→cdf map back onto the data.
    * `cdf = count(score' <= score) / n`, i.e. `cume_dist()` semantics, but
    * the only ordered pass runs over the HISTOGRAM (cardinality = distinct
    * quantized values, bounded by 10^dp × score range — thousands, not
    * rows), so the data side never sorts or re-shuffles. The standard
    * "quality score → corpus percentile" step before threshold filtering.
    *
    * @param keyCols optional grouping — percentiles computed within each
    *   key (e.g. per language); the histogram windows partition by key, so
    *   no single partition ever holds more than one key's buckets. */
  def ecdfNormalize(
      df: DataFrame,
      scoreCol: String,
      dp: Int = 6,
      keyCols: Seq[String] = Nil): DataFrame = {
    val q = round(col(scoreCol).cast("double"), dp)
    val keys = keyCols.map(col)
    val hist = df.select(keys :+ q.as("__s"): _*)
      .groupBy(keys :+ col("__s"): _*).agg(count(lit(1)).as("__c"))
    // grouped: the ordered window runs on the HISTOGRAM per key (size
    // capped by the quantization). Global: even the histogram window is
    // routed through the two-pass prefix sum, so no single-partition sort
    // exists at ANY quantization
    val cdf =
      if (keyCols.isEmpty) {
        Relational.globalRunningSum(hist, Seq(col("__s")), "__c", "__cum")
          .crossJoin(broadcast(hist.agg(sum(col("__c")).as("__n"))))
          .select(col("__s"), round(col("__cum") / col("__n"), 6).as("percentile"))
      } else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys: _*)
          .orderBy(col("__s"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        hist
          .withColumn("__cum", sum(col("__c")).over(w))
          .withColumn("__n", sum(col("__c")).over(
            org.apache.spark.sql.expressions.Window.partitionBy(keys: _*)))
          .select(keys ++ Seq(col("__s"),
            round(col("__cum") / col("__n"), 6).as("percentile")): _*)
      }
    df.withColumn("__s", q)
      .join(broadcast(cdf), keyCols :+ "__s")
      .drop("__s")
  }

  /** Quantile normalization — map every group's value distribution onto
    * the POOLED distribution (`x → G⁻¹(F_g(x))`, the rank-matching
    * transform of bioinformatics/ML preprocessing): after it, every group
    * has the same marginal distribution, which kills per-group scale drift
    * without choosing a parametric form. Both CDFs live on 6-dp-quantized
    * value HISTOGRAMS (windows bounded by the grid, not the corpus), and
    * the inverse lookup `min{v : G(v) ≥ p}` is the as-of union+window
    * shape — group-grid and global-grid rows union-tagged, ONE descending
    * sort over the merged grid, `last(v) ignoreNulls` back-fill — no
    * grid×grid join, no per-row search. Cumulative fractions are exact
    * long ratios rounded at 9 dp, so the mapping reproduces cross-engine.
    * Appends `<valueCol>_qnorm`. */
  def quantileNormalize(
      df: DataFrame,
      valueCol: String,
      keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(keyCols.nonEmpty, "quantileNormalize needs at least one key column")
    val q = round(col(valueCol).cast("double"), 6)
    val keys = keyCols.map(col)
    val gh = df.select(keys :+ q.as("__v"): _*)
      .groupBy(keys :+ col("__v"): _*).agg(count(lit(1)).as("__c"))
    val wg = Window.partitionBy(keys: _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val grouped = gh.withColumn(
      "__p",
      round(sum(col("__c")).over(wg).cast("double") /
        sum(col("__c")).over(Window.partitionBy(keys: _*)).cast("double"), 9))
    val gl = df.select(q.as("__gv")).groupBy(col("__gv")).agg(count(lit(1)).as("__c"))
    val wgl = Window.orderBy(col("__gv")).rowsBetween(Window.unboundedPreceding, 0)
    val global = gl.withColumn(
      "__p",
      round(sum(col("__c")).over(wgl).cast("double") /
        sum(col("__c")).over(Window.partitionBy()).cast("double"), 9))
      .select(col("__gv"), col("__p"))
    val tagged = grouped
      .select(keys ++ Seq(col("__v"), col("__p"),
        lit(null).cast("double").as("__gv"), lit(1).as("__tag")): _*)
      .unionByName(global.select(
        keyCols.map(k => lit(null).cast(df.schema(k).dataType).as(k)) ++
          Seq(lit(null).cast("double").as("__v"), col("__p"), col("__gv"),
            lit(0).as("__tag")): _*))
    val wAsof = Window.orderBy(col("__p").desc, col("__tag"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val mapping = tagged
      .withColumn("__norm", last(col("__gv"), ignoreNulls = true).over(wAsof))
      .filter(col("__tag") === 1)
      .select(keys ++ Seq(col("__v"), col("__norm").as(valueCol + "_qnorm")): _*)
    df.withColumn("__v", q).join(mapping, keyCols :+ "__v").drop("__v")
  }

  /** Two-sample Kolmogorov–Smirnov test — the nonparametric drift check
    * next to [[psi]] (binned), chi-square (categorical) and Welch
    * (means): D = sup |F_a − F_b| over the two empirical CDFs, sensitive
    * to ANY distributional change. Runs on the 6-dp-quantized value
    * HISTOGRAM (the [[ecdfNormalize]] trick: window size capped by the
    * grid, not the corpus), and the supremum is computed in EXACT integer
    * arithmetic — the gap at each step is |i_a·m − i_b·n| (cumulative
    * counts cross-multiplied), maxed as a long and divided by n·m only at
    * the end — so D is bit-identical on any engine/partitioning. n·m must
    * fit a long (fine to ~3·10^9 rows a side); the 95%/99% thresholds use
    * the asymptotic c(α)·√((n+m)/nm) form, compared after 6 dp rounding.
    * Returns one row: (n_a, n_b, ks_d, crit_95, crit_99, reject_95,
    * reject_99). */
  def ksTest(a: DataFrame, b: DataFrame, valueCol: String): DataFrame = {
    val q = round(col(valueCol).cast("double"), 6)
    val ha = a.select(q.as("__s")).groupBy(col("__s")).agg(count(lit(1)).as("__ca"))
    val hb = b.select(q.as("__s")).groupBy(col("__s")).agg(count(lit(1)).as("__cb"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__s"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val tot = org.apache.spark.sql.expressions.Window.partitionBy()
    val cum = ha.join(hb, Seq("__s"), "full_outer")
      .na.fill(0L, Seq("__ca", "__cb"))
      .withColumn("__ia", sum(col("__ca")).over(w))
      .withColumn("__ib", sum(col("__cb")).over(w))
      .withColumn("__n", sum(col("__ca")).over(tot))
      .withColumn("__m", sum(col("__cb")).over(tot))
      .withColumn("__gap", abs(col("__ia") * col("__m") - col("__ib") * col("__n")))
    val d = col("__g").cast("double") / (col("__n") * col("__m")).cast("double")
    val crit = (alpha: Double) =>
      round(lit(alpha) * sqrt((col("__n") + col("__m")).cast("double") /
        (col("__n") * col("__m")).cast("double")), 6)
    cum
      .groupBy(col("__n"), col("__m"))
      .agg(max(col("__gap")).as("__g"))
      .select(
        col("__n").as("n_a"),
        col("__m").as("n_b"),
        round(d, 6).as("ks_d"),
        crit(1.358).as("crit_95"),
        crit(1.628).as("crit_99"),
        (round(d, 6) > crit(1.358)).as("reject_95"),
        (round(d, 6) > crit(1.628)).as("reject_99"))
  }

  /** Mann–Whitney U test (Wilcoxon rank-sum) — the rank-based two-sample
    * location test next to [[welchTTest]] (means) and [[ksTest]] (whole
    * distribution): robust to outliers and non-normality, the standard
    * nonparametric A/B significance check. Computed on the merged value
    * HISTOGRAM with EXACT integer arithmetic throughout: with midranks,
    * 2·rank_v = 2·prevcum_v + c_v + 1 is an integer, so 2·R_a sums as a
    * long and U = R_a − n_a(n_a+1)/2 is exact (held as 2U); the normal
    * approximation applies the standard tie correction
    * σ² = n_a·n_b/12 · ((n+1) − Σ(t³−t)/(n(n−1))) with the tie sum an
    * exact long, rounding z at 6 dp only at the end. Returns one row:
    * (n_a, n_b, u_a, z, reject_95, reject_99). */
  def mannWhitneyU(a: DataFrame, b: DataFrame, valueCol: String): DataFrame = {
    val q = round(col(valueCol).cast("double"), 6)
    val ha = a.select(q.as("__s")).groupBy(col("__s")).agg(count(lit(1)).as("__ca"))
    val hb = b.select(q.as("__s")).groupBy(col("__s")).agg(count(lit(1)).as("__cb"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__s"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val merged = ha.join(hb, Seq("__s"), "full_outer")
      .na.fill(0L, Seq("__ca", "__cb"))
      .withColumn("__c", col("__ca") + col("__cb"))
      .withColumn("__prev", coalesce(sum(col("__c")).over(w), lit(0L)))
      // 2·midrank for every row of this value; ties contribute t³−t
      .withColumn("__r2", lit(2L) * col("__prev") + col("__c") + lit(1L))
      .withColumn("__tie", col("__c") * col("__c") * col("__c") - col("__c"))
    val agg = merged.agg(
      sum(col("__ca")).as("__na"),
      sum(col("__cb")).as("__nb"),
      sum(col("__ca") * col("__r2")).as("__ra2"),
      sum(col("__tie")).as("__ties"))
    val na = col("__na").cast("double")
    val nb = col("__nb").cast("double")
    val n = (col("__na") + col("__nb")).cast("double")
    // 2U = 2R_a − n_a(n_a+1)
    val u2 = col("__ra2") - col("__na") * (col("__na") + lit(1L))
    val sigmaSq = na * nb / lit(12.0) *
      ((n + lit(1.0)) - col("__ties").cast("double") / (n * (n - lit(1.0))))
    // z from exact 2U: (2U − n_a·n_b) / (2σ)
    val z = round(
      (u2.cast("double") - na * nb) / (lit(2.0) * sqrt(sigmaSq)), 6)
    agg.select(
      col("__na").as("n_a"),
      col("__nb").as("n_b"),
      (col("__ra2") - col("__na") * (col("__na") + lit(1L))).cast("double")./(lit(2.0)).as("u_a"),
      z.as("z"),
      (abs(z) > lit(1.959964)).as("reject_95"),
      (abs(z) > lit(2.575829)).as("reject_99"))
  }

  /** Brunner–Munzel test (Brunner & Munzel 2000) — the heteroscedastic
    * rank test modern practice prefers over [[mannWhitneyU]] when the two
    * groups may differ in SHAPE/SPREAD (MW U assumes exchangeable
    * distributions under H0; BM tests the relative effect
    * p = P(X<Y) + ½P(X=Y) = ½ directly with a Welch-style studentized
    * variance and Welch-type dof): W = (n₁n₂(R̄₂−R̄₁)/N)/√(n₁v₁+n₂v₂),
    * vₖ from the combined-minus-within rank deviations.
    *
    * EXACT-RATIONAL on the merged distinct-value histogram (the
    * mannWhitneyU shape, values pre-quantized integral): doubled combined
    * and within midranks are integers; each cell's deviation scaled by
    * 2nₖ — nₖ·rc₂ − nₖ·rw₂ − SRₖ + nₖ² + nₖ — is an exact DECIMAL(38,0)
    * integer, so Qₖ = Σc·D² is exact and nₖvₖ = Qₖ/(4nₖ(nₖ−1)) is ONE
    * double division; the statistic numerator collapses to
    * (n₁·SR₂ − n₂·SR₁)/(2N) — one more division — and p̂ to
    * (SR₂ − n₂(n₂+1))/(2n₁n₂). Degenerate variance (complete separation)
    * or nₖ ≤ 1 → NULL W/dof, p̂ still reports. */
  def brunnerMunzel(a: DataFrame, b: DataFrame, valueCol: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val v = col(valueCol).cast("long")
    val ha = a.filter(v.isNotNull).select(v.as("__v"))
      .groupBy(col("__v")).agg(count(lit(1)).as("__ca"))
    val hb = b.filter(v.isNotNull).select(v.as("__v"))
      .groupBy(col("__v")).agg(count(lit(1)).as("__cb"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cells = ha.join(hb, Seq("__v"), "full_outer")
      .na.fill(0L, Seq("__ca", "__cb"))
      .withColumn("__c", col("__ca") + col("__cb"))
      .withColumn("__pall", coalesce(sum(col("__c")).over(w), lit(0L)))
      .withColumn("__pa", coalesce(sum(col("__ca")).over(w), lit(0L)))
      .withColumn("__pb", coalesce(sum(col("__cb")).over(w), lit(0L)))
      .withColumn("__rc2", lit(2L) * col("__pall") + col("__c") + 1)
      .withColumn("__rwa2", lit(2L) * col("__pa") + col("__ca") + 1)
      .withColumn("__rwb2", lit(2L) * col("__pb") + col("__cb") + 1)
    val sums = cells.agg(
      sum(col("__ca")).as("__na"), sum(col("__cb")).as("__nb"),
      sum(dec(col("__ca")) * dec(col("__rc2"))).as("__sra"),
      sum(dec(col("__cb")) * dec(col("__rc2"))).as("__srb"))
    val na = dec(col("__na")); val nb = dec(col("__nb"))
    val da = na * dec(col("__rc2")) - na * dec(col("__rwa2")) -
      col("__sra") + na * na + na
    val db = nb * dec(col("__rc2")) - nb * dec(col("__rwb2")) -
      col("__srb") + nb * nb + nb
    val qAgg = cells.crossJoin(broadcast(sums)).agg(
      max(col("__na")).as("__na"), max(col("__nb")).as("__nb"),
      max(col("__sra")).as("__sra"), max(col("__srb")).as("__srb"),
      coalesce(sum(dec(col("__ca")) * da * da), lit(0).cast("decimal(38,0)"))
        .as("__qa"),
      coalesce(sum(dec(col("__cb")) * db * db), lit(0).cast("decimal(38,0)"))
        .as("__qb"))
    val bigN = col("__na") + col("__nb")
    val num = (na * col("__srb") - nb * col("__sra")).cast("double") /
      (lit(2.0) * bigN.cast("double"))
    val t1 = col("__qa").cast("double") /
      (na * (na - 1) * 4).cast("double")
    val t2 = col("__qb").cast("double") /
      (nb * (nb - 1) * 4).cast("double")
    val se = sqrt(t1 + t2)
    val wStat = num / se
    val pHat = (col("__srb") - nb * (nb + 1)).cast("double") /
      (na * nb * 2).cast("double")
    val dof = (t1 + t2) * (t1 + t2) /
      (t1 * t1 / (na.cast("double") - 1.0) + t2 * t2 / (nb.cast("double") - 1.0))
    val ok = col("__na") > 1 && col("__nb") > 1
    qAgg.select(
      col("__na").as("n_a"), col("__nb").as("n_b"),
      when(col("__na") > 0 && col("__nb") > 0, round(pHat, 6)).as("p_hat"),
      when(ok, when(se > 0, round(wStat, 6))).as("w_stat"),
      when(ok, when(se > 0 && (t1 > 0 || t2 > 0), round(dof, 6))).as("dof"))
  }

  /** Cliff's delta (Cliff 1993) with the Vargha–Delaney Â (2000) beside it
    * — the ORDINAL effect sizes completing the magnitude family (X297's
    * d/g/Δ assume interval scale and near-normal tails; δ and Â are pure
    * dominance probabilities, valid for any ordered data and immune to
    * monotone transforms): δ = (#[x>y] − #[x<y])/(n_a·n_b) over all cross
    * pairs, Â = (#[x>y] + ½#[x=y])/(n_a·n_b) = (δ+1)/2 up to ties, and δ
    * equals the rank-biserial correlation, so this is also the effect size
    * to quote next to [[mannWhitneyU]]'s verdict.
    *
    * Never a pair join: on the merged DISTINCT-value histogram (the
    * mannWhitneyU shape — values must be pre-quantized integral, the gini
    * contract), each value's dominance contributions are c_a·cumB_below /
    * c_a·cumB_above / c_a·c_b — exact longs promoted to DECIMAL(38,0)
    * before the products (pair counts overflow a long past ~3e9 rows per
    * side). δ and Â are each ONE double division of exact operands, 6-dp
    * rounded; the qualitative `magnitude` label applies the Romano et al.
    * 2006 |δ| thresholds (0.147/0.33/0.474) to the ROUNDED δ so the label
    * is engine-portable too. Empty sides yield NULL effect sizes. */
  def cliffsDelta(a: DataFrame, b: DataFrame, valueCol: String): DataFrame = {
    def d(c: Column): Column = c.cast("decimal(38,0)")
    val v = col(valueCol).cast("long")
    val ha = a.filter(v.isNotNull).select(v.as("__v"))
      .groupBy(col("__v")).agg(count(lit(1)).as("__ca"))
    val hb = b.filter(v.isNotNull).select(v.as("__v"))
      .groupBy(col("__v")).agg(count(lit(1)).as("__cb"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val merged = ha.join(hb, Seq("__v"), "full_outer")
      .na.fill(0L, Seq("__ca", "__cb"))
      .withColumn("__prevb", coalesce(sum(col("__cb")).over(w), lit(0L)))
    val agg = merged.agg(
      sum(col("__ca")).as("__na"),
      sum(col("__cb")).as("__nb"),
      sum(d(col("__ca")) * d(col("__prevb"))).as("__gt"),
      sum(d(col("__ca")) * d(col("__cb"))).as("__tie"))
    // LT = n_a·n_b − GT − TIE (the three dominance counts partition pairs)
    val pairs = d(col("__na")) * d(col("__nb"))
    val lt = pairs - col("__gt") - col("__tie")
    val delta = round(
      (col("__gt") - lt).cast("double") / pairs.cast("double"), 6)
    val vdA = round(
      (col("__gt") * lit(2) + col("__tie")).cast("double") /
        (pairs * lit(2)).cast("double"), 6)
    agg.select(
      col("__na").as("n_a"),
      col("__nb").as("n_b"),
      when(pairs > 0, delta).as("cliffs_delta"),
      when(pairs > 0, vdA).as("vd_a"),
      when(pairs > 0,
        when(abs(delta) < 0.147, "negligible")
          .when(abs(delta) < 0.33, "small")
          .when(abs(delta) < 0.474, "medium")
          .otherwise("large")).as("magnitude"))
  }

  /** Welch's two-sample t-test (unequal variances) between groups `a` and
    * `b` of `groupCol` — the A/B experiment readout. One partial aggregate
    * computes each group's (n, Σx, Σx²) with the same fixed-point trick as
    * `corrMatrix` (per-row `floor(x·1e6 + 0.5)` into exact long sums —
    * identical IEEE ops in any engine, no decimal-cast semantics to
    * disagree on); the t statistic and Welch–Satterthwaite dof derive in
    * plain double math from those exact moments. Requires |x| small enough
    * that Σ(x²·1e6) fits a long (|x| ≲ 1e3 at a billion rows) — pre-scale
    * the measure (t is scale-invariant). */
  def welchTTest(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      a: String,
      b: String): DataFrame = {
    val wide = welchMoments(df, groupCol, valueCol, a, b)
    val ma = col("sa") / col("na")
    val mb = col("sb") / col("nb")
    val va = (col("ssa") - col("sa") * col("sa") / col("na")) / (col("na") - 1)
    val vb = (col("ssb") - col("sb") * col("sb") / col("nb")) / (col("nb") - 1)
    val sea = va / col("na")
    val seb = vb / col("nb")
    wide.select(
      col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
      ma.as("mean_a"), mb.as("mean_b"),
      ((ma - mb) / sqrt(sea + seb)).as("t_stat"),
      (pow(sea + seb, 2.0) /
        (pow(sea, 2.0) / (col("na") - 1) + pow(seb, 2.0) / (col("nb") - 1))).as("dof"))
  }

  /** Groups `a` and `b`'s count (`na`, `nb`), sum (`sa`, `sb`) and sum of
    * squares (`ssa`, `ssb`) as one row, the sums from per-row
    * `floor(x·1e6 + 0.5)` exact long sums — the moments of [[welchTTest]]
    * and [[tostEquivalence]]. */
  private def welchMoments(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      a: String,
      b: String): DataFrame = {
    def S(e: Column) =
      sum(floor(e * 1000000.0 + 0.5).cast("long")).cast("double") / 1000000.0
    val v = col(valueCol).cast("double")
    val byGroup = df
      .filter(col(groupCol).isin(a, b))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).cast("double").as("__n"), S(v).as("__s"), S(v * v).as("__ss"))
    def pick(g: String, c: String) = max(when(col(groupCol) === g, col(c)))
    byGroup.agg(
      pick(a, "__n").as("na"), pick(a, "__s").as("sa"), pick(a, "__ss").as("ssa"),
      pick(b, "__n").as("nb"), pick(b, "__s").as("sb"), pick(b, "__ss").as("ssb"))
  }

  /** Group-sequential A/B readout with Pocock boundaries (Pocock 1977) —
    * the FIXED-K interim-analysis design completing the experimentation
    * family between X54's single-look Welch and X298's always-valid mSPRT:
    * K planned looks at cumulative data, each tested against the CONSTANT
    * Pocock critical value c(K) that holds the overall two-sided α at
    * 0.05 (published literals — K=2: 2.178, 3: 2.289, 4: 2.361, 5: 2.413
    * — the power-analysis precedent: no CDF inversion in the plan).
    *
    * Scale shape: each row fans out to the looks whose cutoff covers it
    * (bounded K ≤ 5), per-(look, arm) moments accumulate as exact
    * 1e-6-quantized long sums in ONE partial aggregate (the welch
    * discipline), and each look's z is a fixed IEEE chain. `reject`
    * compares the ROUNDED |z| to the literal so the verdict is engine-
    * portable; degenerate looks (an arm missing or n ≤ 1 or se = 0)
    * report NULL. Returns one row per look:
    * (look, cutoff, n_a, n_b, mean_diff, z, boundary, reject). */
  def groupSequentialPocock(
      df: DataFrame,
      armCol: String,
      valueCol: String,
      orderCol: String,
      cutoffs: Seq[Long],
      a: String,
      b: String): DataFrame = {
    val pocock = Map(2 -> 2.178, 3 -> 2.289, 4 -> 2.361, 5 -> 2.413)
    require(cutoffs.size >= 2 && cutoffs.size <= 5,
      s"2..5 looks supported (published Pocock constants), got ${cutoffs.size}")
    require(cutoffs == cutoffs.sorted && cutoffs.distinct == cutoffs,
      "cutoffs must be strictly increasing")
    val c = pocock(cutoffs.size)
    val spark = df.sparkSession
    import spark.implicits._
    val looks = cutoffs.zipWithIndex.map { case (cut, i) => (i + 1, cut) }
      .toDF("look", "cutoff")
    def S(e: Column) =
      sum(floor(e * 1000000.0 + 0.5).cast("long")).cast("double") / 1000000.0
    val v = col(valueCol).cast("double")
    val perLook = df
      .filter(col(armCol).isin(a, b))
      .join(broadcast(looks), col(orderCol).cast("long") <= col("cutoff"))
      .groupBy(col("look"), col("cutoff"), col(armCol))
      .agg(count(lit(1)).cast("double").as("__n"), S(v).as("__s"), S(v * v).as("__ss"))
    def pick(g: String, cc: String) = max(when(col(armCol) === g, col(cc)))
    val wide = perLook.groupBy(col("look"), col("cutoff")).agg(
      pick(a, "__n").as("na"), pick(a, "__s").as("sa"), pick(a, "__ss").as("ssa"),
      pick(b, "__n").as("nb"), pick(b, "__s").as("sb"), pick(b, "__ss").as("ssb"))
    val ma = col("sa") / col("na")
    val mb = col("sb") / col("nb")
    val va = (col("ssa") - col("sa") * col("sa") / col("na")) / (col("na") - 1)
    val vb = (col("ssb") - col("sb") * col("sb") / col("nb")) / (col("nb") - 1)
    val se = sqrt(va / col("na") + vb / col("nb"))
    val z = round((ma - mb) / se, 6)
    val ok = col("na") > 1 && col("nb") > 1
    wide.select(
      col("look"), col("cutoff"),
      col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
      when(ok, round(ma - mb, 6)).as("mean_diff"),
      when(ok, when(se > 0, z)).as("z"),
      lit(c).as("boundary"),
      when(ok, when(se > 0, abs(z) > lit(c))).as("reject"))
      .orderBy("look")
  }

  /** TOST equivalence test (Schuirmann 1987; Westlake 1981 CI form) — the
    * verdict [[welchTTest]] cannot give: "are A and B the SAME to within
    * ±margin?" (failing to reject H0 is not evidence of equivalence — the
    * classic A/B mistake this operator exists to stop): two one-sided
    * large-sample z tests, z_lower = (Δ+δ)/se against Δ ≤ −δ and
    * z_upper = (δ−Δ)/se against Δ ≥ δ; equivalence at α = 0.05 iff BOTH
    * exceed z_{0.95} = 1.644854 (a fixed published literal, the
    * power-analysis precedent — equivalently the 90% CI sits inside
    * [−δ, +δ]).
    *
    * The welchTTest moment discipline: per-group (n, Σx, Σx²) from exact
    * 1e-6-quantized long sums in ONE pass; Δ, se and both z's are fixed
    * IEEE chains, 6-dp rounded; the boolean verdict compares the ROUNDED
    * z's so even it is engine-portable. Groups with n ≤ 1 or a zero
    * standard error → NULL verdicts, divisions inside guard branches. */
  def tostEquivalence(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      a: String,
      b: String,
      margin: Double): DataFrame = {
    require(margin > 0, s"margin must be > 0, got $margin")
    val wide = welchMoments(df, groupCol, valueCol, a, b)
    val ma = col("sa") / col("na")
    val mb = col("sb") / col("nb")
    val va = (col("ssa") - col("sa") * col("sa") / col("na")) / (col("na") - 1)
    val vb = (col("ssb") - col("sb") * col("sb") / col("nb")) / (col("nb") - 1)
    val se = sqrt(va / col("na") + vb / col("nb"))
    val diff = ma - mb
    val zLo = round((diff + lit(margin)) / se, 6)
    val zHi = round((lit(margin) - diff) / se, 6)
    val ok = col("na") > 1 && col("nb") > 1
    wide.select(
      col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
      lit(margin).as("margin"),
      when(ok, round(diff, 6)).as("mean_diff"),
      when(ok, when(se > 0, round(se, 6))).as("se"),
      when(ok, when(se > 0, zLo)).as("z_lower"),
      when(ok, when(se > 0, zHi)).as("z_upper"),
      when(ok, when(se > 0,
        zLo > lit(1.644854) && zHi > lit(1.644854))).as("equivalent"))
  }

  /** A/B power analysis / minimum-detectable-effect readout — the DESIGN
    * companion to [[welchTTest]]'s verdict: given the experiment's
    * OBSERVED arm sizes and variances, what absolute effect could this
    * setup actually detect (MDE = (z_{1−α/2}+z_{power})·√(s_a²/n_a +
    * s_b²/n_b)), and how many units per arm would a `targetEffect` need
    * (n = ⌈(z_a+z_b)²·(s_a²+s_b²)/Δ²⌉, equal allocation)? The readout
    * every "the test was not significant" discussion needs before
    * concluding anything.
    *
    * Normal quantiles enter as FIXED PUBLISHED LITERALS for the canonical
    * (α, power) grid — no CDF inversion in the plan, so every output is a
    * fixed IEEE chain off [[welchTTest]]'s exact quantized moments and
    * replays in SQL verbatim. Same |x| ≲ 1e3 pre-scaling contract. */
  def abPower(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      a: String,
      b: String,
      alpha: Double = 0.05,
      power: Double = 0.8,
      targetEffect: Option[Double] = None): DataFrame =
    abPowerAssemble(msprtMoments(df, groupCol, valueCol, a, b),
      groupCol, a, b, alpha, power, targetEffect)

  /** Readout half of [[abPower]] over the shared per-arm integer moment
    * rows ([[msprtMoments]]) — the streaming twin's state shape. */
  def abPowerAssemble(
      byGroup: DataFrame,
      groupCol: String,
      a: String,
      b: String,
      alpha: Double = 0.05,
      power: Double = 0.8,
      targetEffect: Option[Double] = None): DataFrame = {
    val zAlpha = Map(0.01 -> 2.5758293035489004,
      0.05 -> 1.959963984540054, 0.1 -> 1.6448536269514722)
    val zPower = Map(0.8 -> 0.8416212335729143,
      0.9 -> 1.2815515655446004, 0.95 -> 1.6448536269514722)
    require(zAlpha.contains(alpha), s"alpha must be one of ${zAlpha.keys}, got $alpha")
    require(zPower.contains(power), s"power must be one of ${zPower.keys}, got $power")
    targetEffect.foreach(e => require(e > 0, s"targetEffect must be > 0, got $e"))
    val zSum = zAlpha(alpha) + zPower(power)
    val wide = armMoments(byGroup, groupCol, a, b)
    val va = (col("ssa") - col("sa") * col("sa") / col("na")) / (col("na") - 1)
    val vb = (col("ssb") - col("sb") * col("sb") / col("nb")) / (col("nb") - 1)
    val seDiff = sqrt(va / col("na") + vb / col("nb"))
    val nReq = targetEffect.map(e =>
      ceil(lit(zSum) * lit(zSum) * (va + vb) / lit(e * e)).cast("long"))
    wide.select(Seq(
      col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
      round(col("sa") / col("na") - col("sb") / col("nb"), 6).as("observed_diff"),
      round(seDiff, 6).as("se_diff"),
      round(lit(zSum) * seDiff, 6).as("mde")) ++
      nReq.map(_.as("n_required_per_arm")).toSeq: _*)
  }

  /** Yuen's trimmed-mean t-test (Yuen 1974) — the ROBUST two-sample
    * location test completing the family (X54 Welch on means — 0%
    * breakdown; X92 Mann–Whitney on ranks — a different hypothesis;
    * this: Welch's test on TRIMMED means with winsorized variances, the
    * standard robust recipe when tails are heavy but the question is
    * still "are the centers different"): per group trim k = ⌊n·frac⌋
    * each side, t = (x̄t_a − x̄t_b)/√(d_a+d_b) with
    * d = (n−1)·s²_w/(h(h−1)), h = n−2k, and the Welch–Satterthwaite dof
    * over the d's.
    *
    * EVERYTHING before the final chains is exact integer arithmetic on
    * the distinct-value histogram: trimmed sums via the window-clipped
    * multiplicity identity (the [[trimmedMean]] recipe), winsorization
    * points as ORDER-STATISTIC selections (x_(k+1), x_(n−k) — min v with
    * cum ≥ rank), winsorized moments Σc·w, Σc·w² as exact DECIMAL sums of
    * clamped longs. Cumulative counts ride the keyed two-pass prefix
    * ([[Relational.groupedRunningSum]] — a 2-value group column must not
    * serialize the histogram). Degenerate h ≤ 1 or zero variances ⇒ NULL
    * t/dof.
    *
    * Returns ONE row: (n_a, n_b, h_a, h_b, tmean_a, tmean_b, t_stat,
    * dof). */
  def yuenTTest(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      a: String,
      b: String,
      trimFrac: Double = 0.2): DataFrame = {
    require(trimFrac > 0 && trimFrac < 0.5, s"trimFrac must be in (0, 0.5), got $trimFrac")
    def d(c: Column): Column = c.cast("decimal(38,0)")
    val hist = df
      .filter(col(groupCol).isin(a, b))
      .groupBy(col(groupCol).as("__g"), col(valueCol).cast("long").as("__v"))
      .agg(count(lit(1)).as("__c"))
    val cum = Relational.groupedRunningSum(
      hist, Seq("__g"), Seq(col("__v")), "__c", "__cum")
    val tot = hist.groupBy(col("__g").as("__gt")).agg(sum(col("__c")).as("__n"))
    val j = cum.join(broadcast(tot), col("__g") === col("__gt"))
      .withColumn("__k",
        floor(col("__n").cast("double") * trimFrac).cast("long"))
    // winsorization points: x_(k+1) and x_(n-k) as order-statistic selections
    val pts = j.groupBy(col("__g")).agg(
      max(col("__n")).as("__n"),
      max(col("__k")).as("__k"),
      min(when(col("__cum") >= col("__k") + 1, col("__v"))).as("__lo"),
      min(when(col("__cum") >= col("__n") - col("__k"), col("__v"))).as("__hi"))
    val withPts = j.join(
      broadcast(pts.select(col("__g").as("__gp"), col("__lo"), col("__hi"))),
      col("__g") === col("__gp"))
    val kept = greatest(lit(0L),
      least(col("__cum"), col("__n") - col("__k")) -
        greatest(col("__cum") - col("__c"), col("__k")))
    val w = greatest(col("__lo"), least(col("__hi"), col("__v")))
    val g = withPts.groupBy(col("__g")).agg(
      max(col("__n")).as("n"),
      max(col("__k")).as("k"),
      sum(d(kept * col("__v"))).as("__ts"),
      sum(d(col("__c") * w)).as("__sw"),
      sum(d(col("__c")) * d(w) * d(w)).as("__sww"))
    def pick(gv: String, c: String) = max(when(col("__g") === gv, col(c)))
    val wide = g.agg(
      pick(a, "n").as("na"), pick(a, "k").as("ka"),
      pick(a, "__ts").as("tsa"), pick(a, "__sw").as("swa"), pick(a, "__sww").as("swwa"),
      pick(b, "n").as("nb"), pick(b, "k").as("kb"),
      pick(b, "__ts").as("tsb"), pick(b, "__sw").as("swb"), pick(b, "__sww").as("swwb"))
    def side(n: String, k: String, ts: String, sw: String, sww: String) = {
      val nn = col(n).cast("double")
      val h = (col(n) - col(k) * 2).cast("double")
      val tm = col(ts).cast("double") / h
      val s2w = (col(sww).cast("double") - col(sw).cast("double") *
        col(sw).cast("double") / nn) / (nn - 1.0)
      val dd = (nn - 1.0) * s2w / (h * (h - 1.0))
      (h, tm, dd)
    }
    val (ha, tma, da) = side("na", "ka", "tsa", "swa", "swwa")
    val (hb, tmb, db) = side("nb", "kb", "tsb", "swb", "swwb")
    val ok = ha > 1.0 && hb > 1.0 && (da + db) > 0.0
    val t = (tma - tmb) / sqrt(da + db)
    val dof = (da + db) * (da + db) /
      (da * da / (ha - 1.0) + db * db / (hb - 1.0))
    wide.select(
      col("na").as("n_a"), col("nb").as("n_b"),
      (col("na") - col("ka") * 2).as("h_a"),
      (col("nb") - col("kb") * 2).as("h_b"),
      round(tma, 6).as("tmean_a"),
      round(tmb, 6).as("tmean_b"),
      when(ok, round(t, 6)).as("t_stat"),
      when(ok, round(dof, 6)).as("dof"))
  }

  /** Standardized effect sizes (Cohen 1969; Hedges 1981; Glass 1976) —
    * the MAGNITUDE readout beside [[welchTTest]]'s verdict and
    * [[abPower]]'s design: a p-value says an effect exists, Cohen's
    * d = (x̄_a−x̄_b)/s_pooled says whether anyone should care (the 0.2 /
    * 0.5 / 0.8 small-medium-large convention), Hedges' g applies the
    * small-sample bias factor 1−3/(4N−9), and Glass's Δ standardizes by
    * the CONTROL sd alone (right when treatment changes the variance).
    * Also the per-study input [[metaAnalysis]] expects.
    *
    * One welch-quantized moment aggregate, fixed IEEE chains; degenerate
    * variances ⇒ NULL readouts. Same |x| ≲ 1e3 pre-scaling contract. */
  def effectSize(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      a: String,
      b: String): DataFrame =
    effectSizeAssemble(msprtMoments(df, groupCol, valueCol, a, b), groupCol, a, b)

  /** Readout half of [[effectSize]] over the shared per-arm integer
    * moment rows ([[msprtMoments]]) — the streaming twin's state shape. */
  def effectSizeAssemble(
      byGroup: DataFrame,
      groupCol: String,
      a: String,
      b: String): DataFrame = {
    val wide = armMoments(byGroup, groupCol, a, b)
    val va = (col("ssa") - col("sa") * col("sa") / col("na")) / (col("na") - 1)
    val vb = (col("ssb") - col("sb") * col("sb") / col("nb")) / (col("nb") - 1)
    val diff = col("sa") / col("na") - col("sb") / col("nb")
    val sp = sqrt(((col("na") - 1) * va + (col("nb") - 1) * vb) /
      (col("na") + col("nb") - 2))
    val d = diff / sp
    val corr = lit(1.0) - lit(3.0) / (lit(4.0) * (col("na") + col("nb")) - 9.0)
    wide.select(
      col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
      round(diff, 6).as("mean_diff"),
      when(sp > 0, round(sp, 6)).as("pooled_sd"),
      when(sp > 0, round(d, 6)).as("cohens_d"),
      when(sp > 0, round(d * corr, 6)).as("hedges_g"),
      when(vb > 0, round(diff / sqrt(vb), 6)).as("glass_delta"))
  }

  /** Two-sample mixture SPRT / always-valid p-value (Robbins 1970;
    * Johari–Koomen–Pekelis–Walsh 2017 — the "peeking-safe" inference
    * modern A/B platforms run): with observed effect d = x̄_a − x̄_b,
    * its variance se² = s_a²/n_a + s_b²/n_b and a N(μ0, τ²) mixture over
    * alternatives, the mixture likelihood ratio has the closed form
    * ln Λ = ½·ln(se²/(se²+τ²)) + τ²·(d−μ0)²/(2·se²·(se²+τ²)) and
    * p = min(1, e^{−ln Λ}) is valid at EVERY look — you may stop the
    * experiment whenever it crosses α without inflating false positives
    * (the fixed-n [[welchTTest]] p is only valid at one pre-registered n).
    *
    * One welch-quantized moment aggregate; every readout a fixed IEEE
    * chain (the only transcendentals are one ln and one exp — the KN-
    * perplexity oracle precedent). Reject compares the UNROUNDED p. Same
    * |x| ≲ 1e3 pre-scaling contract as welchTTest; τ is the caller's
    * effect-scale prior (its sensitivity is the documented knob, not a
    * fit). */
  def msprt(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      a: String,
      b: String,
      tau: Double,
      mu0: Double = 0.0,
      alpha: Double = 0.05): DataFrame =
    msprtAssemble(msprtMoments(df, groupCol, valueCol, a, b),
      groupCol, a, b, tau, mu0, alpha)

  /** Moment half of [[msprt]]: per-arm (count, quantized Σv, Σv²) as
    * exact LONG sums — the streaming twin accumulates exactly these in
    * the state store (sums of disjoint partial sums equal the direct
    * sums, so stream == batch bit-exactly). */
  def msprtMoments(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      a: String,
      b: String): DataFrame = {
    def q(e: Column) = sum(floor(e * 1000000.0 + 0.5).cast("long"))
    val v = col(valueCol).cast("double")
    df.filter(col(groupCol).isin(a, b))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("__n"), q(v).as("__sq"), q(v * v).as("__ssq"))
  }

  /** The two arms of a [[msprtMoments]] table as one row: count (`na`,
    * `nb`), sum (`sa`, `sb`) and sum of squares (`ssa`, `ssb`) as doubles —
    * the head of [[abPowerAssemble]], [[effectSizeAssemble]] and
    * [[msprtAssemble]]. */
  private def armMoments(byGroup: DataFrame, groupCol: String, a: String, b: String): DataFrame = {
    def pick(g: String, c: String) = max(when(col(groupCol) === g, col(c)))
    byGroup.agg(
      pick(a, "__n").cast("double").as("na"),
      (pick(a, "__sq").cast("double") / 1000000.0).as("sa"),
      (pick(a, "__ssq").cast("double") / 1000000.0).as("ssa"),
      pick(b, "__n").cast("double").as("nb"),
      (pick(b, "__sq").cast("double") / 1000000.0).as("sb"),
      (pick(b, "__ssq").cast("double") / 1000000.0).as("ssb"))
  }

  /** Readout half of [[msprt]] over the per-arm integer moment rows —
    * the always-valid p is DESIGNED for this split: the state updates
    * every micro-batch and the readout stays honest at every look. */
  def msprtAssemble(
      byGroup: DataFrame,
      groupCol: String,
      a: String,
      b: String,
      tau: Double,
      mu0: Double = 0.0,
      alpha: Double = 0.05): DataFrame = {
    require(tau > 0, s"tau must be > 0, got $tau")
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    val wide = armMoments(byGroup, groupCol, a, b)
    val va = (col("ssa") - col("sa") * col("sa") / col("na")) / (col("na") - 1)
    val vb = (col("ssb") - col("sb") * col("sb") / col("nb")) / (col("nb") - 1)
    val se2 = va / col("na") + vb / col("nb")
    val d = col("sa") / col("na") - col("sb") / col("nb")
    val t2 = lit(tau * tau)
    val logLambda = lit(0.5) * log(se2 / (se2 + t2)) +
      t2 * (d - lit(mu0)) * (d - lit(mu0)) / (lit(2.0) * se2 * (se2 + t2))
    val p = least(lit(1.0), exp(-logLambda))
    wide.select(
      col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
      round(d, 6).as("diff"),
      round(logLambda, 6).as("log_lambda"),
      round(p, 6).as("p_always_valid"),
      (p <= alpha).as("reject"))
  }

  /** Fixed-effect inverse-variance meta-analysis (Cochran 1954) — pool a
    * FAMILY of per-segment/per-study effect estimates into one weighted
    * effect with its SE, plus the heterogeneity readouts that say whether
    * pooling was even legitimate: Cochran's Q = Σw(e−ē)² ~ χ²(k−1) and
    * Higgins' I² = max(0, (Q−(k−1))/Q) (the fraction of variance that is
    * BETWEEN-study — I² ≳ 0.5 says the fixed-effect model is suspect).
    * The cross-segment rollup every per-nation/per-cohort test family
    * needs before quoting one number.
    *
    * Input is one row per study (effect, se) — a domain-bounded family
    * table (the [[graft.operators.Quality.bhAdjust]] contract). Rows with
    * se ≤ 0 or NULL are excluded (they carry no information weight).
    * Per-row weights w = 1/se² and terms quantize to 1e-6 longs before
    * the sums (a raw double SUM is partition-order-dependent); two passes
    * over the tiny table (pooled mean, then Q), every readout a fixed
    * IEEE chain. Pre-scale effects so w·e fits the 1e6 grid.
    *
    * Returns ONE row: (k, pooled_effect, pooled_se, q_stat, i2) —
    * k < 2 ⇒ NULL Q/I²; Q = 0 ⇒ I² = 0. */
  def metaAnalysis(
      df: DataFrame,
      effectCol: String,
      seCol: String): DataFrame = {
    val e = col(effectCol).cast("double")
    val se = col(seCol).cast("double")
    val w = lit(1.0) / (se * se)
    def q6(c: Column) = sum(floor(c * 1e6 + 0.5).cast("long"))
    val valid = df.filter(se.isNotNull && se > 0 && e.isNotNull)
    val first = valid.agg(
      count(lit(1)).as("k"), q6(w).as("__sw"), q6(w * e).as("__swe"))
    val pooled = (col("__swe").cast("double") / 1e6) /
      (col("__sw").cast("double") / 1e6)
    val firstP = first.withColumn("__pooled", pooled)
    val qPass = valid
      .crossJoin(broadcast(firstP.select(col("__pooled"))))
      .agg(q6(w * (e - col("__pooled")) * (e - col("__pooled"))).as("__q"))
    val qStat = col("__q").cast("double") / 1e6
    val dfK = (col("k") - 1).cast("double")
    firstP.crossJoin(qPass).select(
      col("k"),
      round(col("__pooled"), 6).as("pooled_effect"),
      round(sqrt(lit(1.0) / (col("__sw").cast("double") / 1e6)), 6).as("pooled_se"),
      when(col("k") > 1, round(qStat, 6)).as("q_stat"),
      when(col("k") > 1,
        round(greatest(lit(0.0),
          when(qStat > 0, (qStat - dfK) / qStat).otherwise(lit(0.0))), 6)).as("i2"))
  }

  /** Survey raking / iterative proportional fitting (Deming–Stephan 1940)
    * — calibrate cell weights of the (A × B) contingency so row sums hit
    * the declared row margins and column sums the column margins
    * (post-stratification weighting, the survey/census standard; also the
    * Sinkhorn matrix-balancing kernel). `iterations` alternating
    * row-scale / column-scale sweeps.
    *
    * Engine-exact iteration discipline (the PageRank recipe): weights
    * STORE as 1e-9-unit longs, so every margin sum is an exact integer
    * and each scale step is ONE fixed chain
    * floor(w·target/marginSum·1e9+0.5) of exactly-converted integers —
    * bit-identical on any engine at every sweep. All joins/apply on the
    * BOUNDED cell table (|A|·|B|), margins broadcast; lineage truncates
    * per sweep. Cells outside the declared margins drop (inner join —
    * they cannot be calibrated). */
  def rake(
      df: DataFrame,
      aCol: String,
      bCol: String,
      rowTargets: Seq[(String, Long)],
      colTargets: Seq[(String, Long)],
      iterations: Int = 3): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(rowTargets.nonEmpty && colTargets.nonEmpty, "targets must not be empty")
    require(rowTargets.map(_._2).sum == colTargets.map(_._2).sum,
      "row and column margins must agree on the grand total")
    val spark = df.sparkSession
    import spark.implicits._
    val rt = broadcast(rowTargets.toDF("__a", "__rt"))
    val ct = broadcast(colTargets.toDF("__b", "__ct"))
    var cells = df
      .groupBy(col(aCol).cast("string").as("__a"), col(bCol).cast("string").as("__b"))
      .agg(count(lit(1)).as("n_obs"))
      .join(rt, "__a").join(ct, "__b")
      .withColumn("__wq", col("n_obs") * lit(1000000000L))
      .localCheckpoint(true)
    def rescale(keyCol: String, sumName: String, targetCol: String): Unit = {
      val sums = cells.groupBy(col(keyCol).as("__k")).agg(sum(col("__wq")).as(sumName))
      cells = cells.join(sums, col(keyCol) === col("__k"))
        .withColumn("__wq",
          floor(col("__wq").cast("double") * col(targetCol).cast("double") /
            col(sumName).cast("double") * 1e9 + 0.5).cast("long"))
        .drop("__k", sumName)
    }
    for (_ <- 1 to iterations) {
      rescale("__a", "__rs", "__rt")
      rescale("__b", "__cs", "__ct")
      cells = cells.localCheckpoint(true)
    }
    cells.select(
      col("__a").as(aCol), col("__b").as(bCol), col("n_obs"),
      (col("__wq").cast("double") / 1e9).as("weight"))
  }

  /** Subclassification ATE (Cochran 1968; Rosenbaum–Rubin 1984's
    * stratified-propensity design) — the observational-causal member next
    * to [[diffInDiff]] when there is no pre-period: within each stratum
    * (the caller's propensity bins or covariate cells) compute treated and
    * control means, weight the mean differences by stratum population
    * share n_s/N, and sum. Strata lacking either arm have no common
    * support: they DROP from the estimate and are counted in the readout.
    * The ignorability-within-strata assumption is the caller's to defend —
    * this computes the arithmetic, deterministically.
    *
    * ONE partial aggregate collects each (stratum, arm)'s (n, Σx, Σx²)
    * via [[welchTTest]]'s fixed-point trick (per-row floor(x·1e6+0.5) into
    * exact long sums); everything after lives on the DOMAIN-BOUNDED
    * stratum table (windows over cells, never the data — the chiSquare
    * discipline). Per-stratum ATE/SE terms are fixed IEEE chains from
    * exact moments, cast to decimal(30,12) before the cross-stratum sum so
    * the total is partition-order-invariant. SE = √(Σ w²(s₁²/n₁ + s₀²/n₀))
    * is NULL when any used stratum has an arm with n < 2.
    *
    * Returns ONE row: (n_strata_used, n_strata_dropped, n_used, n_dropped,
    * ate, se, t_stat). */
  def subclassificationAte(
      df: DataFrame,
      treatedCol: String,
      valueCol: String,
      strataCols: Seq[String]): DataFrame = {
    require(strataCols.nonEmpty, "at least one stratum column required")
    def S(e: Column) =
      sum(floor(e * 1000000.0 + 0.5).cast("long")).cast("double") / 1000000.0
    val v = col(valueCol).cast("double")
    val arms = df
      .groupBy(strataCols.map(col) :+ col(treatedCol).cast("boolean").as("__t"): _*)
      .agg(count(lit(1)).cast("double").as("__n"), S(v).as("__s"), S(v * v).as("__ss"))
    def pick(t: Boolean, c: String) = max(when(col("__t") === t, col(c)))
    val strata = arms
      .groupBy(strataCols.map(col): _*)
      .agg(
        pick(true, "__n").as("n1"), pick(true, "__s").as("s1"), pick(true, "__ss").as("ss1"),
        pick(false, "__n").as("n0"), pick(false, "__s").as("s0"), pick(false, "__ss").as("ss0"))
      .withColumn("__used", col("n1").isNotNull && col("n0").isNotNull)
      .withColumn("__ns", coalesce(col("n1"), lit(0.0)) + coalesce(col("n0"), lit(0.0)))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    def se2(s: String, ss: String, n: String) =
      ((col(ss) - col(s) * col(s) / col(n)) / (col(n) - 1)) / col(n)
    val terms = strata
      .withColumn("__N", sum(when(col("__used"), col("__ns")).otherwise(lit(0.0))).over(wAll))
      .withColumn("__w", col("__ns") / col("__N"))
      .withColumn("__diff", col("s1") / col("n1") - col("s0") / col("n0"))
      .withColumn("__at",
        when(col("__used"), (col("__w") * col("__diff")).cast("decimal(30,12)")))
      // ANSI: the variance chain divides by n−1, so a 1-row arm must not
      // evaluate it (the readout nulls the SE then anyway)
      .withColumn("__st",
        when(col("__used") && col("n1") >= 2.0 && col("n0") >= 2.0,
          (col("__w") * col("__w") * (se2("s1", "ss1", "n1") + se2("s0", "ss0", "n0")))
            .cast("decimal(30,12)")))
    val out = terms.agg(
      coalesce(sum(when(col("__used"), 1L)), lit(0L)).as("n_strata_used"),
      coalesce(sum(when(!col("__used"), 1L)), lit(0L)).as("n_strata_dropped"),
      sum(when(col("__used"), col("__ns")).otherwise(lit(0.0))).cast("long").as("n_used"),
      sum(when(!col("__used"), col("__ns")).otherwise(lit(0.0))).cast("long").as("n_dropped"),
      sum(col("__at")).cast("double").as("ate"),
      sum(col("__st")).cast("double").as("__seSq"),
      min(when(col("__used"), least(col("n1"), col("n0")))).as("__minArm"))
    out.select(
      col("n_strata_used"), col("n_strata_dropped"), col("n_used"), col("n_dropped"),
      col("ate"),
      when(col("__minArm") >= 2.0, sqrt(col("__seSq"))).as("se"),
      when(col("__minArm") >= 2.0, col("ate") / sqrt(col("__seSq"))).as("t_stat"))
  }

  /** Split-conformal prediction intervals (Papadopoulos et al. 2002;
    * Vovk's inductive conformal) — the distribution-free coverage
    * guarantee, verified empirically: a deterministic md5 hash split
    * carves train/calibration/test; the in-engine regressor is the
    * per-group train mean; q̂ is the EXACT ⌈(n_cal+1)(1−α)⌉-th smallest
    * calibration residual (an order statistic, not a sketch quantile —
    * selected via [[graft.operators.Relational.globalRowNumbers]]'s
    * range-partition + zipWithIndex two-pass, never a single-partition
    * window); the readout reports the test-split share with |y − ŷ| ≤ q̂,
    * which the theorem lower-bounds by 1−α.
    *
    * Train sums quantize per-row to 1e-6 longs (exact means); residual
    * chains are fixed IEEE ops on identical doubles in any engine, and
    * rank selection depends only on the residual MULTISET, so ties cannot
    * diverge. Rows whose group never appears in train have no prediction
    * and drop from both calibration and test (counted via the n_* fields
    * vs the input). If ⌈(n_cal+1)(1−α)⌉ > n_cal the conformal interval is
    * infinite: q̂ is NULL and coverage exactly 1.0.
    *
    * Returns ONE row: (n_train, n_calib, n_test, alpha, qhat, coverage). */
  def splitConformal(
      df: DataFrame,
      idCol: String,
      groupCols: Seq[String],
      valueCol: String,
      alpha: Double = 0.1,
      trainBuckets: Int = 6,
      calibBuckets: Int = 2,
      numBuckets: Int = 10): DataFrame = {
    // share the fit's materialized bucketing pass instead of re-hashing
    // the corpus for the test slice (r14)
    val (model, nTrain, nCal, qhat, base) =
      conformalFitBase(df, idCol, groupCols, valueCol, alpha,
        trainBuckets, calibBuckets, numBuckets)
    val test = base.filter(col("__b") >= trainBuckets + calibBuckets)
      .join(broadcast(model), groupCols, "inner")
      .withColumn("__r", abs(col("__v") - col("__yhat")))
      .select(col("__r"))
    val cov = test
      .crossJoin(broadcast(nCal))
      .join(qhat, lit(true), "left")
      .agg(
        count(lit(1)).as("n_test"),
        max(col("n_calib")).as("n_calib"),
        max(col("__qhat")).as("qhat"),
        (sum(when(col("__qhat").isNull || col("__r") <= col("__qhat"), 1L).otherwise(0L))
          .cast("double") / count(lit(1)).cast("double")).as("coverage"))
    cov.crossJoin(broadcast(nTrain))
      .select(col("n_train"), col("n_calib"), col("n_test"),
        lit(alpha).as("alpha"), col("qhat"), col("coverage"))
  }

  /** The fit half of [[splitConformal]], exposed so a STREAM of test rows
    * can be scored against a batch-fit interval: returns
    * (model (groupCols, __yhat) — broadcastable, group-cardinality;
    * nTrain 1-row (n_train); nCal 1-row (n_calib);
    * qhat ≤1-row (__qhat) — EMPTY when the conformal interval is
    * infinite). All pieces are plain DataFrames; localCheckpoint them
    * before feeding a streaming join. */
  def conformalFit(
      df: DataFrame,
      idCol: String,
      groupCols: Seq[String],
      valueCol: String,
      alpha: Double = 0.1,
      trainBuckets: Int = 6,
      calibBuckets: Int = 2,
      numBuckets: Int = 10): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (model, nTrain, nCal, qhat, _) = conformalFitBase(
      df, idCol, groupCols, valueCol, alpha, trainBuckets, calibBuckets, numBuckets)
    (model, nTrain, nCal, qhat)
  }

  /** [[conformalFit]] plus the materialized bucketed base projection
    * (groupCols, __v, __b) as a 5th element, so [[splitConformal]]'s test
    * slice reads the same single pass (r14). */
  private def conformalFitBase(
      df: DataFrame,
      idCol: String,
      groupCols: Seq[String],
      valueCol: String,
      alpha: Double,
      trainBuckets: Int,
      calibBuckets: Int,
      numBuckets: Int): (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    require(trainBuckets >= 1 && calibBuckets >= 1 &&
      trainBuckets + calibBuckets < numBuckets,
      "need at least one train, one calibration and one test bucket")
    val v = col(valueCol).cast("double")
    // the md5 bucketing pass feeds model, n_train, calibration and (via
    // [[splitConformal]]) the test slice — materialize the narrow
    // projection once (lazy; r14: the chained derivations re-hashed the
    // corpus ~6×, 28 Exchanges on q_conformal)
    val base = df.select(groupCols.map(col) :+ v.as("__v") :+
      (conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
        .cast("long") % numBuckets).as("__b"): _*)
      .localCheckpoint(false)
    val model = base.filter(col("__b") < trainBuckets)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__tn"),
        sum(floor(col("__v") * 1000000.0 + 0.5).cast("long")).as("__tq"))
      .withColumn("__yhat", col("__tq").cast("double") / 1000000.0 / col("__tn").cast("double"))
      .select(groupCols.map(col) :+ col("__yhat"): _*)
    val nTrain = base.filter(col("__b") < trainBuckets).agg(count(lit(1)).as("n_train"))
    // calibration residuals feed both the count and the rank pass (whose
    // RDD-based numbering cannot reuse exchanges) — materialize once
    val calib = base.filter(col("__b") >= trainBuckets &&
        col("__b") < trainBuckets + calibBuckets)
      .join(broadcast(model), groupCols, "inner")
      .withColumn("__r", abs(col("__v") - col("__yhat")))
      .select(col("__r"))
      .localCheckpoint(false)
    val nCal = calib.agg(count(lit(1)).as("n_calib"))
    // 0-based rank of the ⌈(n_cal+1)(1−α)⌉-th smallest residual
    val ranked = graft.operators.Relational.globalRowNumbers(
      calib, Seq(col("__r")), rowNumCol = "__rn")
    val qhat = ranked.crossJoin(broadcast(nCal))
      .filter(col("__rn") ===
        ceil((col("n_calib").cast("double") + 1.0) * lit(1.0 - alpha)).cast("long") - 1L)
      .select(col("__r").as("__qhat"))
    (model, nTrain, nCal, qhat, base)
  }

  /** Difference-in-differences readout (Card–Krueger design) — the
    * quasi-experimental estimate when you could not randomize: DiD =
    * (ȳ_treated,post − ȳ_treated,pre) − (ȳ_control,post − ȳ_control,pre),
    * with the unpooled standard error √(Σ s²ᵢ/nᵢ) over the four cells and
    * t = DiD/SE. The parallel-trends assumption is the CALLER's to defend
    * — this computes the arithmetic, deterministically.
    *
    * ONE partial aggregate collects each cell's (n, Σx, Σx²) with
    * [[welchTTest]]'s fixed-point trick (per-row floor(x·1e6+0.5) into
    * exact long sums), then every mean/variance/SE is a fixed IEEE chain
    * from exact moments. Pre-scale the measure so Σx²·1e6 fits a long
    * (|x| ≲ 1e3 at a billion rows). Cells with n < 2 make the SE NULL. */
  def diffInDiff(
      df: DataFrame,
      treatedCol: String,
      postCol: String,
      valueCol: String): DataFrame = {
    def S(e: Column) =
      sum(floor(e * 1000000.0 + 0.5).cast("long")).cast("double") / 1000000.0
    val v = col(valueCol).cast("double")
    val cells = df
      .groupBy(col(treatedCol).cast("boolean").as("__t"), col(postCol).cast("boolean").as("__p"))
      .agg(count(lit(1)).cast("double").as("__n"), S(v).as("__s"), S(v * v).as("__ss"))
    def pick(t: Boolean, p: Boolean, c: String) =
      max(when(col("__t") === t && col("__p") === p, col(c)))
    val wide = cells.agg(
      pick(true, false, "__n").as("n_t0"), pick(true, false, "__s").as("s_t0"), pick(true, false, "__ss").as("ss_t0"),
      pick(true, true, "__n").as("n_t1"), pick(true, true, "__s").as("s_t1"), pick(true, true, "__ss").as("ss_t1"),
      pick(false, false, "__n").as("n_c0"), pick(false, false, "__s").as("s_c0"), pick(false, false, "__ss").as("ss_c0"),
      pick(false, true, "__n").as("n_c1"), pick(false, true, "__s").as("s_c1"), pick(false, true, "__ss").as("ss_c1"))
    def m(s: String, n: String) = col(s) / col(n)
    def se2(s: String, ss: String, n: String) =
      ((col(ss) - col(s) * col(s) / col(n)) / (col(n) - 1)) / col(n)
    val did = (m("s_t1", "n_t1") - m("s_t0", "n_t0")) - (m("s_c1", "n_c1") - m("s_c0", "n_c0"))
    val seSq = se2("s_t1", "ss_t1", "n_t1") + se2("s_t0", "ss_t0", "n_t0") +
      se2("s_c1", "ss_c1", "n_c1") + se2("s_c0", "ss_c0", "n_c0")
    val minN = least(col("n_t0"), col("n_t1"), col("n_c0"), col("n_c1"))
    wide.select(
      col("n_t0").cast("long").as("n_treated_pre"),
      col("n_t1").cast("long").as("n_treated_post"),
      col("n_c0").cast("long").as("n_control_pre"),
      col("n_c1").cast("long").as("n_control_post"),
      m("s_t0", "n_t0").as("mean_treated_pre"),
      m("s_t1", "n_t1").as("mean_treated_post"),
      m("s_c0", "n_c0").as("mean_control_pre"),
      m("s_c1", "n_c1").as("mean_control_post"),
      did.as("did"),
      when(minN >= 2.0, sqrt(seSq)).as("se"),
      when(minN >= 2.0, did / sqrt(seSq)).as("t_stat"))
  }

  /** Pearson chi-square test of independence between two categorical
    * columns: one partial-agg pass builds the contingency cells; the
    * marginals come from windows over the CELL table (cardinality =
    * |A|·|B|, never the data). Per-cell terms quantize to decimal(30,12)
    * before the final sum so the statistic is reproducible in any engine
    * (a raw double sum would depend on partial-agg order). Returns
    * `(n, n_cells, dof, chi2)`. */
  def chiSquare(df: DataFrame, colA: String, colB: String): DataFrame = {
    val cells = contingencyCells(df, colA, colB)
    val wa = org.apache.spark.sql.expressions.Window.partitionBy(col("__a"))
    val wb = org.apache.spark.sql.expressions.Window.partitionBy(col("__b"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val terms = cells
      .withColumn("__ra", sum(col("__o")).over(wa))
      .withColumn("__cb", sum(col("__o")).over(wb))
      .withColumn("__n", sum(col("__o")).over(wAll))
      .withColumn("__e",
        col("__ra").cast("double") * col("__cb").cast("double") / col("__n").cast("double"))
      .withColumn("__d", col("__o").cast("double") - col("__e"))
      // explicit multiply, not pow(x,2): libm pow is not bit-identical
      // across engines; x*x is
      .withColumn("__t", (col("__d") * col("__d") / col("__e")).cast("decimal(30,12)"))
    terms.agg(
      max(col("__n")).as("n"),
      count(lit(1)).as("n_cells"),
      ((count_distinct(col("__a")) - 1) * (count_distinct(col("__b")) - 1)).as("dof"),
      sum(col("__t")).cast("double").as("chi2"),
      least(count_distinct(col("__a")), count_distinct(col("__b"))).as("__minCard"))
      // Cramér's V: the [0,1]-normalized effect size — chi2 alone grows
      // with n, V is comparable across tables
      .withColumn(
        "cramers_v",
        sqrt(col("chi2") / (col("n").cast("double") * (col("__minCard") - 1))))
      .drop("__minCard")
  }

  /** Chi-square GOODNESS-OF-FIT against a declared expected distribution
    * (Pearson 1900) — "does this categorical column follow the
    * distribution it is supposed to?": the one-sample member beside
    * [[chiSquare]]'s two-column independence test, and the general form of
    * every fixed-model audit (uniform shard balance, declared source mix,
    * label priors after sampling). `expected` is a bounded (category,
    * weight) table with POSITIVE integral weights (any scale — only
    * proportions w/W matter); χ² = Σ (O−E)²/E over the EXPECTED domain
    * with E = n·w/W, zero-observed expected categories included.
    *
    * Determinism: each term is exact-integer arithmetic until one double
    * division — (O·W − n·w)² / (n·w·W), both sides DECIMAL(38,0) — and
    * terms quantize to decimal(30,12) before the bounded sum (the
    * chiSquare discipline). Observed categories MISSING from the expected
    * table make the statistic undefined (E = 0): their row mass is
    * reported as `n_unexpected` and χ² is NULL until the caller fixes the
    * model; non-positive weights NULL the same way, never NaN/∞.
    *
    * Scale shape: one partial-agg pass to observed counts, broadcast join
    * against the bounded expected table, two metadata-sized aggregates. */
  def chiSquareGof(
      df: DataFrame,
      catCol: String,
      expected: DataFrame,
      expCatCol: String,
      expWeightCol: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val obs = df.filter(col(catCol).isNotNull)
      .groupBy(col(catCol).cast("string").as("__cat"))
      .agg(count(lit(1)).as("__o"))
    val exp = expected.select(
      col(expCatCol).cast("string").as("__cat"),
      col(expWeightCol).cast("long").as("__w"))
    val j = obs.join(broadcast(exp), Seq("__cat"), "full_outer")
      .select(col("__cat"), coalesce(col("__o"), lit(0L)).as("__o"), col("__w"))
    val tot = j.agg(
      sum(col("__o")).as("__n"),
      sum(when(col("__w").isNull, col("__o")).otherwise(0L)).as("__nu"),
      sum(col("__w")).as("__bw"),
      min(col("__w")).as("__minw"),
      sum(when(col("__w").isNotNull, 1L).otherwise(0L)).as("__k"))
    val num = dec(col("__o")) * dec(col("__bw")) - dec(col("__n")) * dec(col("__w"))
    val den = dec(col("__n")) * dec(col("__w")) * dec(col("__bw"))
    val term = (num * num).cast("double") / den.cast("double")
    val agg = j.crossJoin(broadcast(tot))
      .filter(col("__w").isNotNull)
      .agg(
        max(col("__n")).as("n"),
        max(col("__nu")).as("n_unexpected"),
        max(col("__k")).as("k"),
        (max(col("__k")) - 1).as("dof"),
        max(col("__minw")).as("__minw"),
        sum(when(col("__n") > 0 && col("__minw") > 0,
          term.cast("decimal(30,12)"))).as("__chi2"))
    agg.select(
      col("n"), col("k"), col("dof"), col("n_unexpected"),
      when(col("n_unexpected") === 0 && col("__minw") > 0 && col("n") > 0,
        round(col("__chi2").cast("double"), 6)).as("chi2"))
  }

  /** G-test (log-likelihood-ratio) of independence between two categorical
    * columns — the information-theoretic twin of [[chiSquare]] (G = 2·Σ
    * O·ln(O/E) is additive across partitions of the table, which X² is
    * not, and is the statistic behind mutual information: G = 2·N·I(A;B)
    * in nats). Same plan shape as chiSquare: ONE partial-agg pass to the
    * contingency cells, marginals via windows over the CELL table
    * (cardinality |A|·|B|, never the data).
    *
    * Cross-engine determinism: each term is O·ln((O·N)/(R·C)) where the
    * two products stay EXACT decimal(38,0) integers before the ONE
    * nearest-double conversion each, so the ln argument is bit-identical
    * in any engine; terms quantize to 1e-9 longs held in decimal(38,0)
    * (no overflow at any N) before the sum. Zero cells contribute 0
    * (lim x·ln x = 0) and are absent from the cell table anyway.
    * Returns `(n, n_cells, dof, g)`. */
  def gTest(df: DataFrame, colA: String, colB: String): DataFrame =
    gTestFromCells(contingencyCells(df, colA, colB))

  /** The `(__a, __b, __o)` contingency cells of the rows where both
    * columns are set: one aggregate, so a stream can keep them as state. */
  def contingencyCells(df: DataFrame, colA: String, colB: String): DataFrame =
    df.filter(col(colA).isNotNull && col(colB).isNotNull)
      .groupBy(col(colA).as("__a"), col(colB).as("__b"))
      .agg(count(lit(1)).as("__o"))

  /** The assembly half of [[gTest]] over a pre-aggregated contingency cell
    * table `(__a, __b, __o)` — e.g. maintained incrementally in a
    * streaming state store. Identical marginal windows + quantized terms,
    * so stream == batch exactly. */
  def gTestFromCells(cells: DataFrame): DataFrame = {
    val wa = org.apache.spark.sql.expressions.Window.partitionBy(col("__a"))
    val wb = org.apache.spark.sql.expressions.Window.partitionBy(col("__b"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    def prod(x: Column, y: Column): Column =
      (x.cast("decimal(19,0)") * y.cast("decimal(19,0)")).cast("decimal(38,0)")
    val terms = cells
      .withColumn("__ra", sum(col("__o")).over(wa))
      .withColumn("__cb", sum(col("__o")).over(wb))
      .withColumn("__n", sum(col("__o")).over(wAll))
      .withColumn("__lnr",
        log(prod(col("__o"), col("__n")).cast("double") /
          prod(col("__ra"), col("__cb")).cast("double")))
      .withColumn("__tq",
        floor(col("__o").cast("double") * col("__lnr") * 1e9 + 0.5)
          .cast("decimal(38,0)"))
    terms.agg(
      max(col("__n")).as("n"),
      count(lit(1)).as("n_cells"),
      ((count_distinct(col("__a")) - 1) * (count_distinct(col("__b")) - 1)).as("dof"),
      (lit(2.0) * sum(col("__tq")).cast("double") / 1e9).as("g"))
  }

  /** Two-proportion z-test between groups `a` and `b` — the conversion-rate
    * A/B readout next to [[welchTTest]] (means) and [[rocAuc]] (ranking):
    * z = (p̂_a − p̂_b) / √(p̂(1−p̂)(1/n_a + 1/n_b)) with the pooled p̂.
    * ONE partial aggregate collects the four exact long counters; every
    * division/sqrt is then a fixed IEEE chain from exact integers —
    * engine-deterministic with no quantization needed. Degenerate pooled
    * rates (p̂ ∈ {0,1}) yield NULL z rather than ±∞. */
  def twoProportionZ(
      df: DataFrame,
      groupCol: String,
      successCol: String,
      a: String,
      b: String): DataFrame =
    twoProportionAssemble(twoProportionCounts(df, groupCol, successCol, a, b))

  /** The counting half of [[twoProportionZ]]: the four exact counters
    * `(n_a, x_a, n_b, x_b)` in one global aggregate. */
  def twoProportionCounts(
      df: DataFrame,
      groupCol: String,
      successCol: String,
      a: String,
      b: String): DataFrame = {
    def cnt(g: String, pred: Column) =
      sum(when(col(groupCol) === g && pred, 1L).otherwise(0L))
    df.filter(col(groupCol).isin(a, b))
      .agg(
        cnt(a, lit(true)).as("n_a"),
        cnt(a, col(successCol)).as("x_a"),
        cnt(b, lit(true)).as("n_b"),
        cnt(b, col(successCol)).as("x_b"))
  }

  /** The pure-assembly half of [[twoProportionZ]]: takes the four exact
    * counters `(n_a, x_a, n_b, x_b)` already aggregated (e.g. maintained
    * incrementally in a streaming state store) and derives the identical
    * fixed-IEEE readout — counters in, z out, so stream == batch exactly. */
  def twoProportionAssemble(agg: DataFrame): DataFrame = {
    val pa = col("x_a").cast("double") / col("n_a").cast("double")
    val pb = col("x_b").cast("double") / col("n_b").cast("double")
    val pp = (col("x_a") + col("x_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val se = sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / col("n_a").cast("double") + lit(1.0) / col("n_b").cast("double")))
    val z = when(se > 0.0, (pa - pb) / se)
    agg.select(
      col("n_a"), col("x_a"), col("n_b"), col("x_b"),
      pa.as("p_a"), pb.as("p_b"), pp.as("p_pooled"),
      z.as("z"),
      (abs(z) > lit(1.959964)).as("reject_95"),
      (abs(z) > lit(2.575829)).as("reject_99"))
  }

  /** Robust per-key outlier flags via the median absolute deviation:
    * `is_outlier = |x - median| > k * MAD` — the classic robust z-score
    * (unlike mean/stddev, one huge outlier cannot mask itself by inflating
    * the threshold). Adds `median`, `mad`, `is_outlier` to every row.
    *
    * Shape: two keyed median aggregates (the value, then the residuals),
    * each broadcast back onto the data — the data side itself never
    * re-shuffles. The medians are exact (the percentile aggregate's
    * partial state carries the group's values — fine up to millions of
    * rows per key). */
  def madOutliers(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      k: Double = 3.0): DataFrame = {
    val keys = keyCols.map(col)
    def medianOf(in: DataFrame, c: Column, as: String): DataFrame = {
      val m = percentile(c, lit(0.5))
      if (keyCols.isEmpty) in.agg(m.as(as)) else in.groupBy(keys: _*).agg(m.as(as))
    }
    def back(in: DataFrame, agg: DataFrame): DataFrame =
      if (keyCols.isEmpty) in.crossJoin(broadcast(agg))
      else in.join(broadcast(agg), keyCols)
    val v = col(valueCol).cast("double")
    val withMed = back(df, medianOf(df, v, "__med"))
      .withColumn("__resid", abs(v - col("__med")))
    back(withMed, medianOf(withMed, col("__resid"), "__mad"))
      .withColumn("is_outlier", col("__resid") > lit(k) * col("__mad"))
      .withColumnRenamed("__med", "median")
      .withColumnRenamed("__mad", "mad")
      .drop("__resid")
  }

  /** Winsorize: CLAMP `valueCol` into its own [lo, hi] quantile band
    * (instead of dropping the tails like [[filterByQuantileBand]]) — the
    * outlier treatment that keeps row counts stable for downstream stats.
    * Same shape: one percentile aggregate reduced to a 1-row broadcast
    * cross join, then a codegen'd LEAST/GREATEST projection; thresholds
    * round at 4dp (the equi-depth edge recipe) so any engine lands on the
    * same clamp values. Appends `clampedCol` (original column untouched). */
  def winsorize(
      df: DataFrame,
      valueCol: String,
      lo: Double = 0.01,
      hi: Double = 0.99,
      clampedCol: String = "winsorized"): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, s"need 0 <= lo < hi <= 1, got [$lo, $hi]")
    val probs = array(lit(lo), lit(hi))
    val v = col(valueCol).cast("double")
    val pct = percentile(v, probs)
    val bounds = df.agg(
      round(element_at(pct, 1), 4).as("__w_lo"),
      round(element_at(pct, 2), 4).as("__w_hi"))
    df.crossJoin(broadcast(bounds))
      .withColumn(clampedCol, least(greatest(v, col("__w_lo")), col("__w_hi")))
      .drop("__w_lo", "__w_hi")
  }

  /** Corpus-level quantile-band gate: keep rows whose `valueCol` lies in the
    * [lo, hi] quantile band of the WHOLE input — the "drop the quality-score
    * tails" filter in front of a training corpus. Two passes: a global
    * exact percentile aggregate reduces to ONE threshold row, which joins
    * back as a broadcast nested loop (a 1-row cross join — no shuffle of the
    * data side, no driver collect in the plan), then a codegen'd range
    * filter. */
  def filterByQuantileBand(
      df: DataFrame,
      valueCol: String,
      lo: Double,
      hi: Double): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, s"need 0 <= lo < hi <= 1, got [$lo, $hi]")
    val probs = array(lit(lo), lit(hi))
    val pct = percentile(col(valueCol), probs)
    val bounds = df.agg(
      element_at(pct, 1).as("__q_lo"),
      element_at(pct, 2).as("__q_hi"))
    df.crossJoin(broadcast(bounds))
      .filter(col(valueCol) >= col("__q_lo") && col(valueCol) <= col("__q_hi"))
      .drop("__q_lo", "__q_hi")
  }

  /** Mutual information between two categorical columns — the
    * feature-selection / dependence measure I(A;B) = Σ_ij p_ij·ln(p_ij /
    * (p_i·p_j)) over the contingency table: one partial aggregate builds
    * the cells, margins come from window sums OVER the (small) cell table,
    * never a second scan. Each cell term is computed in double (the ln
    * argument is a ratio of exact integer products — deterministic; ln
    * itself follows the PSI precedent) then QUANTIZED to exact 1e-12ths
    * before the cross-cell sum, so the total is partition-order-independent
    * and the oracle replays it cell for cell. Returns one row
    * (n, n_cells, mi) with mi ≥ 0 up to quantization, rounded at 6 dp. */
  def mutualInformation(
      df: DataFrame,
      aCol: String,
      bCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = df.groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__c"))
    val wa = Window.partitionBy(col("__a"))
    val wb = Window.partitionBy(col("__b"))
    val wAll = Window.partitionBy()
    val withM = cells
      .withColumn("__ca", sum(col("__c")).over(wa))
      .withColumn("__cb", sum(col("__c")).over(wb))
      .withColumn("__n", sum(col("__c")).over(wAll))
    val term = (col("__c").cast("double") / col("__n").cast("double")) *
      log((col("__n") * col("__c")).cast("double") /
        (col("__ca") * col("__cb")).cast("double"))
    withM
      .withColumn("__tq", floor(term * 1e12 + 0.5).cast("long"))
      .agg(
        max(col("__n")).as("n"),
        count(lit(1)).as("n_cells"),
        round(sum(col("__tq")) / 1e12, 6).as("mi"))
  }

  /** Binned mutual information between two CONTINUOUS columns — the
    * dependence detector the linear family (X40 Pearson / X170 Spearman)
    * misses entirely when the relationship is non-monotone: X163's
    * equi-width 2-D binning (ONE broadcast bounds row, codegen'd bin
    * projection) feeds X123's quantized MI assembly, whose windows run on
    * the BOUNDED nx×ny cell table, never the data. Returns
    * `(n, n_cells, mi)` in nats; MI of the binned copy, so the bin counts
    * are part of the contract (more bins = finer dependence, noisier
    * cells). */
  def mutualInfoBinned(
      df: DataFrame,
      xCol: String,
      yCol: String,
      nx: Int,
      ny: Int): DataFrame = {
    require(nx >= 1 && ny >= 1, s"bin counts must be >= 1, got nx=$nx ny=$ny")
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val bounds = df.agg(
      min(x).as("__xlo"), max(x).as("__xhi"),
      min(y).as("__ylo"), max(y).as("__yhi"))
    def binOf(v: Column, lo: Column, w: Column, n: Int): Column =
      least(
        when(w === 0.0, lit(0)).otherwise(floor((v - lo) / w)),
        lit(n - 1)).cast("long")
    val binned = df.crossJoin(broadcast(bounds))
      .withColumn("__wx", (col("__xhi") - col("__xlo")) / nx)
      .withColumn("__wy", (col("__yhi") - col("__ylo")) / ny)
      .select(
        binOf(x, col("__xlo"), col("__wx"), nx).as("__bx"),
        binOf(y, col("__ylo"), col("__wy"), ny).as("__by"))
    mutualInformation(binned, "__bx", "__by")
  }

  /** Per-group simple linear regression (closed-form OLS) — the trend
    * detector of the stats family: slope/intercept/r² of y over x for each
    * group in ONE partial aggregate, no second pass, no window.
    *
    * x and y must be INTEGER-VALUED columns (quantize first — epoch days,
    * cents): the five sufficient statistics Σx Σy Σx² Σy² Σxy accumulate as
    * DECIMAL(38,0) — exact, commutative, partition-order-independent — and
    * the closed forms assemble from them:
    * slope = (nΣxy−ΣxΣy)/(nΣx²−(Σx)²), intercept = (Σy·den−num·Σx)/(n·den),
    * r² = (num/den)·(num/den_y). Every division casts TWO exact integers to
    * double (IEEE round-to-nearest — identical on any engine) and rounds at
    * 6 dp; numerators/denominators are never squared in decimal (num² would
    * overflow 38 digits), the oracle replays the same double expression
    * shape. Degenerate groups (constant x, or constant y for r²) yield NULL.
    *
    * Returns groupCols ++ (n, slope, intercept, r2). */
  def olsTrend(
      df: DataFrame,
      groupCols: Seq[String],
      xCol: String,
      yCol: String): DataFrame = {
    val x = col(xCol).cast("decimal(38,0)")
    val y = col(yCol).cast("decimal(38,0)")
    val agg = df.groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).cast("decimal(38,0)").as("__n"),
        sum(x).as("__sx"),
        sum(y).as("__sy"),
        sum(x * x).as("__sxx"),
        sum(y * y).as("__syy"),
        sum(x * y).as("__sxy"))
    val num = (col("__n") * col("__sxy") - col("__sx") * col("__sy"))
    val den = (col("__n") * col("__sxx") - col("__sx") * col("__sx"))
    val deny = (col("__n") * col("__syy") - col("__sy") * col("__sy"))
    val numD = num.cast("double")
    val denD = den.cast("double")
    val denyD = deny.cast("double")
    agg.select(
      groupCols.map(col) ++ Seq(
        col("__n").cast("long").as("n"),
        when(den =!= 0, round(numD / denD, 6)).as("slope"),
        when(den =!= 0,
          round((col("__sy") * den - num * col("__sx")).cast("double") /
            (col("__n") * den).cast("double"), 6)).as("intercept"),
        when(den =!= 0 && deny =!= 0,
          round((numD / denD) * (numD / denyD), 6)).as("r2")): _*)
  }

  /** Gini coefficient per key group — the inequality/concentration measure
    * (Lorenz-curve area) over an exact-quantized value column, from the
    * rank-sum identity G = (2·Σ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx) with x sorted
    * ascending and i the 1-based rank.
    *
    * Grouped-value form (no per-row global sort): on the DISTINCT value
    * histogram with counts c and exclusive running count `prev`, the tied
    * block contributes v·c·(2·prev + c + 1) = 2·Σ i·x over the block —
    * ties share the same v so their rank order inside the block cancels,
    * making the statistic tie-stable and engine-deterministic. All sums
    * are exact DECIMAL(38,0) (the olsTrend recipe); G is one division of
    * two exact integers, rounded at 6 dp.
    *
    * Scale shape: one partial agg to the histogram, one windowed pass over
    * it (bounded by value resolution — quantize upstream), one partial agg
    * back down to a row per key.
    */
  def gini(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val hist = df
      .groupBy(keys :+ col(valueCol).cast("long").as("__v"): _*)
      .agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(keys: _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withPrev = hist.withColumn("__prev", sum(col("__c")).over(w) - col("__c"))
    def d(c: Column): Column = c.cast("decimal(38,0)")
    val agg = withPrev.groupBy(keys: _*).agg(
      sum(col("__c")).cast("decimal(38,0)").as("__n"),
      sum(d(col("__v")) * d(col("__c"))).as("__s1"),
      // v·c·(2·prev + c + 1), every factor decimal BEFORE multiplying so
      // nothing transits a long product
      sum(d(col("__v")) * d(col("__c")) *
        (d(col("__prev")) * lit(2) + d(col("__c")) + lit(1))).as("__si2"))
    val num = col("__si2") - (col("__n") + lit(1)) * col("__s1")
    val den = col("__n") * col("__s1")
    agg.select(
      keys ++ Seq(
        col("__n").cast("long").as("n"),
        when(col("__s1") =!= 0,
          round(num.cast("double") / den.cast("double"), 6)).as("gini")): _*)
  }

  /** Elo ratings from an ordered match log (Elo 1978; the Bradley–Terry
    * family's ONLINE member — X280's MM fit weighs all pairs at once,
    * Elo replays the match SEQUENCE, so recent form moves the number):
    * standard update R ← R ± K·(1 − E) with E = 1/(1+10^(ΔR/400)).
    *
    * Inherently sequential (every update reads both players' CURRENT
    * ratings), so it runs as ONE in-row kernel over the collected match
    * list — the Theil–Sen/LTTB bounded-collection contract: the match log
    * must be calendar/driver-bounded, and `orderCol` must give a total
    * order up to the (winner, loser) ASCII tiebreak. 10^x is spelled
    * exp(ln10·x) with ln10 an embedded literal (libm pow is engine-
    * divergent, exp is not) and every update re-quantizes to the 1e-6
    * grid, so a recursive-CTE oracle replays the entire fold bit-for-bit.
    * Returns one row per player: (player, rating, games). */
  def eloRatings(
      df: DataFrame,
      orderCol: String,
      winnerCol: String,
      loserCol: String,
      kFactor: Double = 32.0,
      initial: Double = 1500.0): DataFrame = {
    require(kFactor > 0, s"kFactor must be > 0, got $kFactor")
    val collected = df.agg(collect_list(struct(
      col(orderCol).cast("long").as("o"),
      col(winnerCol).cast("string").as("w"),
      col(loserCol).cast("string").as("l"))).as("__m"))
    collected
      .select(explode(graft.functions.elo_ratings(
        col("__m"), lit(kFactor), lit(initial))).as("__e"))
      .select(col("__e.player").as("player"),
        col("__e.rating").as("rating"),
        col("__e.games").as("games"))
  }

  /** Theil–Sen robust trend per group — the median of all pairwise slopes
    * (Theil 1950 / Sen 1968), the outlier-resistant sibling of X118's
    * least-squares trend (breakdown point ~29% vs 0%).
    *
    * Pairwise means quadratic PER GROUP: the caller's contract is bounded
    * groups (compose with [[Relational.capGroupSize]] upstream, the same
    * guard the basket-mining shapes use). Under that bound the whole
    * computation runs as a native kernel over each group's collected
    * points ([[graft.functions.theil_sen_median]]) — ONE partial aggregate,
    * no O(k²)-row pair join and no rank window (the first formulation
    * shuffled every pair and benched 8.3s at sf0.1; the kernel does the
    * same O(k²) arithmetic inside a row). Equal-x pairs are skipped
    * (undefined slope); each slope is one division of two exact integer
    * differences (bit-identical on any IEEE engine), and the median is the
    * LOWER median — the ⌈n/2⌉-th smallest slope, an element SELECTION
    * rather than an interpolation, so the output double is one of the
    * bit-exact slopes and needs no rounding at all (an interpolated
    * median's (a+b)/2 vs a+(b−a)/2 differ by an ulp across engines).
    * The slope multiset is collection-order-independent, so so is the
    * selected element.
    */
  def theilSen(
      df: DataFrame,
      groupCols: Seq[String],
      xCol: String,
      yCol: String): DataFrame = {
    val keys = groupCols.map(col)
    val pts = df.groupBy(keys: _*)
      .agg(collect_list(
        struct(col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y")))
        .as("__pts"))
      .withColumn("__r", graft.functions.theil_sen_median(col("__pts")))
    pts.filter(size(col("__r")) === 2)
      .select(keys :+
        element_at(col("__r"), 1).cast("long").as("n_pairs") :+
        element_at(col("__r"), 2).as("slope"): _*)
  }

  /** Isotonic (monotone non-decreasing) regression per group via pool-
    * adjacent-violators — classifier calibration / monotone-trend fitting
    * ([[graft.functions.VectorOps.pavFit]]): the x-axis must be CAP-BOUNDED per
    * group (calendar ticks, score deciles — the [[theilSen]] discipline),
    * the kernel then runs as O(n) arithmetic inside one collected row
    * with exact cross-multiplied merge decisions and one division per
    * distinct x. Returns one row per (group, distinct x): (x, fit). */
  def isotonic(
      df: DataFrame,
      groupCols: Seq[String],
      xCol: String,
      yCol: String): DataFrame = {
    val keys = groupCols.map(col)
    val flat = df.groupBy(keys: _*)
      .agg(collect_list(
        struct(col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y")))
        .as("__pts"))
      .withColumn("__fit", graft.functions.pav_fit(col("__pts")))
    flat
      .select(keys :+ explode(
        transform(sequence(lit(0), floor(size(col("__fit")) / 2).cast("int") - 1),
          i => struct(
            element_at(col("__fit"), i * 2 + 1).as("x"),
            element_at(col("__fit"), i * 2 + 2).as("fit")))).as("__e"): _*)
      .select(keys :+
        col("__e.x").cast("long").as(xCol) :+
        col("__e.fit").as("fit"): _*)
  }

  /** Exact weighted median per group: the smallest value whose cumulative
    * weight reaches half the total (the "lower weighted median" — a pure
    * integer selection, NO interpolation, so it is engine-exact by
    * construction where interpolated medians are only ulp-close).
    * One partial agg to the (value, weight) histogram, one window over it,
    * one min back down. */
  def weightedMedian(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      weightCol: String): DataFrame = {
    val keys = keyCols.map(col)
    // the (key, value) weight histogram feeds the prefix pass AND the
    // per-key totals — materialize it once (lazy, distinct-value-bounded;
    // r14: the totals leg re-aggregated the corpus)
    val hist = df
      .groupBy(keys :+ col(valueCol).cast("long").as("__v"): _*)
      .agg(sum(col(weightCol).cast("long")).as("__w"))
      .localCheckpoint(false)
    // keyed two-pass prefix (X145): a low-cardinality key column must not
    // serialize its whole histogram onto one task
    val cum =
      if (keyCols.isEmpty)
        Relational.globalRunningSum(hist, Seq(col("__v")), "__w", "__cum")
      else
        Relational.groupedRunningSum(hist, keyCols, Seq(col("__v")), "__w", "__cum")
    // totals share hist's lineage — alias their keys to fresh attributes
    // (same ambiguous-self-join issue the running-sum helpers document)
    val totals = hist.groupBy(keys: _*).agg(sum(col("__w")).as("__tot"))
      .select(keyCols.map(k => col(k).as(k + "__t")) :+ col("__tot"): _*)
    val joined =
      if (keyCols.isEmpty) cum.crossJoin(broadcast(totals))
      else cum.join(broadcast(totals),
        keyCols.map(k => col(k) === col(k + "__t")).reduce(_ && _))
    joined
      .filter(col("__cum") * 2 >= col("__tot"))
      .groupBy(keys: _*)
      .agg(min(col("__v")).as("weighted_median"),
        max(col("__tot")).as("total_weight"))
  }

  /** Deterministic bootstrap confidence interval for the mean — B
    * resamples with replacement, each draw picking the sorted-multiset
    * element at rank md5(resample:draw) mod n (the T13/T47 content-hash
    * discipline: no RNG state, identical on any engine/partitioning/run).
    * The CI bounds are ELEMENT SELECTIONS among the B resample means
    * (rank ⌈B·q⌉ — never an interpolation), and each mean is one division
    * of an exact integer sum, so every output double is bit-identical.
    *
    * Scale shape: the value table is ranked once by the two-pass
    * range-partition numbering (X25 — no single-partition window), draws
    * are B rows per value joined back co-partitioned on the rank, means
    * are one partial agg on the resample id. B·n rows total — linear in
    * the input times a small constant.
    */
  def bootstrapCiMean(
      df: DataFrame,
      valueCol: String,
      resamples: Int = 40,
      loQ: Double = 0.025,
      hiQ: Double = 0.975): DataFrame = {
    require(resamples >= 4, s"resamples must be >= 4, got $resamples")
    require(loQ > 0 && hiQ < 1 && loQ < hiQ, s"need 0 < loQ < hiQ < 1")
    val ranked = Relational.globalRowNumbers(
      df.select(col(valueCol).cast("long").as("__v")), Seq(col("__v")), rowNumCol = "__idx")
      .localCheckpoint(true)
    val totals = ranked.agg(
      count(lit(1)).as("__n"),
      sum(col("__v").cast("decimal(38,0)")).as("__s"))
    val draws = ranked.select(col("__idx").as("__j"))
      .crossJoin(broadcast(totals))
      .select(col("__j"), col("__n"), col("__s"),
        explode(array((0 until resamples).map(lit): _*)).as("__b"))
      .withColumn("__t",
        conv(substring(md5(concat(col("__b").cast("string"), lit(":"),
          col("__j").cast("string"))), 1, 8), 16, 10).cast("long") % col("__n"))
    val means = draws
      .join(ranked.select(col("__idx").as("__t"), col("__v")), Seq("__t"))
      .groupBy(col("__b"))
      .agg(
        (sum(col("__v").cast("decimal(38,0)")).cast("double") / max(col("__n"))).as("__mean"),
        max(col("__n")).as("__n"), max(col("__s")).as("__s"))
    val loR = math.max(1, math.ceil(resamples * loQ).toInt)
    val hiR = math.min(resamples, math.max(1, math.ceil(resamples * hiQ).toInt))
    val w = Window.orderBy(col("__mean"), col("__b"))
    means.withColumn("__rn", row_number().over(w))
      .agg(
        max(col("__n")).cast("long").as("n"),
        lit(resamples).as("resamples"),
        (max(col("__s")).cast("double") / max(col("__n"))).as("mean"),
        min(when(col("__rn") === loR, col("__mean"))).as("ci_lo"),
        min(when(col("__rn") === hiR, col("__mean"))).as("ci_hi"))
  }

  /** Top-p% concentration shares per group — "what fraction of total value
    * sits in the top p% of holders" (the Lorenz-curve point readout that
    * pairs with [[gini]]): for each integer percent p, take exactly
    * k = ⌈n·p/100⌉ rows from the value-descending sorted multiset —
    * including a PARTIAL tie block at the cut, so ties are handled exactly
    * — and divide their value sum by the total. All integer arithmetic on
    * the distinct-value histogram (k via exact ceil-division, never a
    * float boundary); each share is one division of exact integers.
    */
  def topShare(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      percents: Seq[Int]): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p >= 1 && p <= 100),
      s"percents must be integers in [1,100], got $percents")
    val keys = keyCols.map(col)
    val hist = df
      .groupBy(keys :+ col(valueCol).cast("long").as("__v"): _*)
      .agg(count(lit(1)).as("__c"))
    def d(c: Column): Column = c.cast("decimal(38,0)")
    val wDesc = Window.partitionBy(keys: _*).orderBy(col("__v").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(keys: _*)
    val cumC = sum(col("__c")).over(wDesc)
    val base = hist
      .withColumn("__cumc", cumC)
      .withColumn("__prevc", cumC - col("__c"))
      .withColumn("__cumv", sum(d(col("__v")) * d(col("__c"))).over(wDesc))
      .withColumn("__n", sum(col("__c")).over(wAll))
      .withColumn("__tot", sum(d(col("__v")) * d(col("__c"))).over(wAll))
    val shareCols = percents.map { p =>
      val k = floor((col("__n") * p + lit(99)) / lit(100)).cast("long")
      // the block containing sorted-desc position k contributes partially
      val inBlock = col("__prevc") < k && k <= col("__cumc")
      val num = col("__cumv") - d(col("__v")) * d(col("__c")) +
        d(col("__v")) * d(k - col("__prevc"))
      max(when(inBlock, num.cast("double") / col("__tot").cast("double")))
        .as(s"share_top_$p")
    }
    base.groupBy(keys: _*)
      .agg(max(col("__n")).as("n"), shareCols: _*)
  }

  /** Exact skewness and excess kurtosis per group from integer sufficient
    * statistics: the caller quantizes values so |v| keeps v⁴ inside a long
    * per row (|v| ≤ ~50k — coarsen the unit if needed; both statistics are
    * scale-invariant, so the unit choice only sets resolution). The four
    * power sums accumulate as exact DECIMAL(38,0); the final central-moment
    * assembly is a FIXED double expression shape (each step one correctly
    * rounded op over the same exact integers), so any engine replaying the
    * shape lands on the same bits; 6-dp round on O(1) magnitudes is safe.
    */
  def momentStats(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val v = col(valueCol).cast("long")
    def d(c: Column): Column = c.cast("decimal(38,0)")
    val agg = df.groupBy(keys: _*).agg(
      count(lit(1)).as("__n"),
      sum(d(v)).as("__s1"),
      sum(d(v * v)).as("__s2"),
      sum(d(v * v * v)).as("__s3"),
      sum(d(v) * d(v) * d(v) * d(v)).as("__s4"))
    val n = col("__n").cast("double")
    val m1 = col("__s1").cast("double") / n
    val m2 = col("__s2").cast("double") / n - m1 * m1
    val m3 = col("__s3").cast("double") / n - lit(3.0) * m1 *
      (col("__s2").cast("double") / n) + lit(2.0) * m1 * m1 * m1
    val m4 = col("__s4").cast("double") / n - lit(4.0) * m1 *
      (col("__s3").cast("double") / n) + lit(6.0) * m1 * m1 *
      (col("__s2").cast("double") / n) - lit(3.0) * m1 * m1 * m1 * m1
    agg.select(
      keys ++ Seq(
        col("__n").cast("long").as("n"),
        round(m1, 6).as("mean"),
        when(col("__n") > 1, round(m2, 6)).as("m2"),
        when(col("__n") > 2 && m2 > 0,
          round(m3 / (m2 * sqrt(m2)), 6)).as("skewness"),
        when(col("__n") > 3 && m2 > 0,
          round(m4 / (m2 * m2) - lit(3.0), 6)).as("excess_kurtosis")): _*)
  }

  /** Jarque–Bera normality test per key (Jarque & Bera 1980) — the
    * "is this distribution even roughly Gaussian?" gate built from the
    * [[momentStats]] exact-decimal moment machinery:
    * JB = n/6·(g₁² + g₂²/4) with g₁ skewness and g₂ excess kurtosis,
    * asymptotically χ²(2) under normality. Raw power sums stay exact
    * DECIMAL(38,0); g₁/g₂/JB are fixed chains of single IEEE ops.
    * Zero-variance or n ≤ 3 keys report NULL. */
  def jarqueBera(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val v = col(valueCol).cast("long")
    def d(c: Column): Column = c.cast("decimal(38,0)")
    val agg = df.groupBy(keys: _*).agg(
      count(lit(1)).as("__n"),
      sum(d(v)).as("__s1"),
      sum(d(v * v)).as("__s2"),
      sum(d(v * v * v)).as("__s3"),
      sum(d(v) * d(v) * d(v) * d(v)).as("__s4"))
    val n = col("__n").cast("double")
    val m1 = col("__s1").cast("double") / n
    val r2 = col("__s2").cast("double") / n
    val r3 = col("__s3").cast("double") / n
    val r4 = col("__s4").cast("double") / n
    val m2 = r2 - m1 * m1
    val m3 = r3 - lit(3.0) * m1 * r2 + lit(2.0) * m1 * m1 * m1
    val m4 = r4 - lit(4.0) * m1 * r3 + lit(6.0) * m1 * m1 * r2 -
      lit(3.0) * m1 * m1 * m1 * m1
    val g1 = m3 / (m2 * sqrt(m2))
    val g2 = m4 / (m2 * m2) - lit(3.0)
    agg.select(
      keys ++ Seq(
        col("__n").cast("long").as("n"),
        when(col("__n") > 3 && m2 > 0, round(g1, 6)).as("skewness"),
        when(col("__n") > 3 && m2 > 0, round(g2, 6)).as("excess_kurtosis"),
        when(col("__n") > 3 && m2 > 0,
          round(n / lit(6.0) * (g1 * g1 + g2 * g2 / lit(4.0)), 6)).as("jb")): _*)
  }

  /** Exact trimmed mean per group: drop the ⌊n·trimFrac⌋ smallest and
    * largest observations, average the rest — the robust location estimate
    * between mean (trim 0) and median (trim 0.5). Histogram form: per
    * distinct value, the kept multiplicity is the window-clipped overlap
    * `min(cum, n−k) − max(prev, k)`, all exact longs; ONE division at the
    * end (bit-identical double, no rounding). `k = floor(n·trimFrac)` is
    * computed in the plan with the same IEEE ops on any engine. */
  def trimmedMean(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      trimFrac: Double): DataFrame = {
    require(trimFrac >= 0 && trimFrac < 0.5, s"trimFrac must be in [0, 0.5), got $trimFrac")
    val keys = keyCols.map(col)
    val hist = df
      .groupBy(keys :+ col(valueCol).cast("long").as("__v"): _*)
      .agg(count(lit(1)).as("__c"))
    val wCum = Window.partitionBy(keys: _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(keys: _*)
    val n = sum(col("__c")).over(wAll)
    val cum = sum(col("__c")).over(wCum)
    val clipped = hist
      .withColumn("__n", n)
      .withColumn("__k", floor(n.cast("double") * trimFrac).cast("long"))
      .withColumn("__kept",
        greatest(lit(0L),
          least(cum, col("__n") - col("__k")) -
            greatest(cum - col("__c"), col("__k"))))
    clipped.groupBy(keys: _*)
      .agg(
        max(col("__n")).as("n"),
        max(col("__k")).as("n_trimmed_each_side"),
        // DECIMAL(38,0) sum (the olsTrend recipe) so kept·v never wraps a
        // long at any corpus size; one double division at the end
        (sum(col("__kept").cast("decimal(38,0)") * col("__v").cast("decimal(38,0)"))
          .cast("double") /
          max(col("__n") - lit(2) * col("__k"))).as("trimmed_mean"))
  }

  /** Wald–Wolfowitz runs test (1940) per key — "is this ordered sequence
    * random, or does it streak?": the series dichotomizes against its
    * selection median (values EQUAL to the median drop — the standard
    * treatment), the observed run count R compares to the exact null
    * moments μ = 2n₁n₀/n + 1, σ² = 2n₁n₀(2n₁n₀−n)/(n²(n−1)), and
    * z = (R−μ)/σ reads N(0,1): z ≪ 0 streaky/trending, z ≫ 0 alternating.
    *
    * R, n₁, n₀ exact longs (one lag window over the calendar-bounded
    * series); μ/σ²/z fixed chains of single IEEE ops from exact integer
    * products. One-sided keys (all above/below) report NULL. */
  def runsTest(
      df: DataFrame,
      keyCols: Seq[String],
      orderCol: String,
      valueCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val v = col(valueCol).cast("long")
    val wRank = Window.partitionBy(keys: _*).orderBy(col("__v"))
    val medPos = floor((col("__nAll") + 1).cast("double") / 2.0).cast("long")
    val base = df.select(keys ++ Seq(col(orderCol).as("__o"), v.as("__v")): _*)
    val med = base
      .withColumn("__rn", row_number().over(wRank))
      .withColumn("__nAll", count(lit(1)).over(Window.partitionBy(keys: _*)))
      .filter(col("__rn") === medPos)
      .select(keys :+ col("__v").as("__med"): _*)
    val signed = base.join(med, keyCols)
      .filter(col("__v") =!= col("__med"))
      .withColumn("__s", col("__v") > col("__med"))
    val wSeq = Window.partitionBy(keys: _*).orderBy(col("__o"))
    val runs = signed
      .withColumn("__chg",
        when(lag(col("__s"), 1).over(wSeq).isNull ||
          col("__s") =!= lag(col("__s"), 1).over(wSeq), 1L).otherwise(0L))
      .groupBy(keys: _*)
      .agg(
        sum(col("__chg")).as("runs"),
        sum(when(col("__s"), 1L).otherwise(0L)).as("n_above"),
        sum(when(!col("__s"), 1L).otherwise(0L)).as("n_below"))
    val n = col("n_above") + col("n_below")
    val p2 = col("n_above") * col("n_below") * 2
    val mu = p2.cast("double") / n.cast("double") + lit(1.0)
    val vr = (p2 * (p2 - n)).cast("double") /
      (n * n * (n - 1)).cast("double")
    runs.select(
      keys ++ Seq(
        col("runs"), col("n_above"), col("n_below"),
        when(col("n_above") > 0 && col("n_below") > 0 && n > 1,
          round(mu, 6)).as("expected_runs"),
        when(col("n_above") > 0 && col("n_below") > 0 && n > 1,
          round((col("runs").cast("double") - mu) / sqrt(vr), 6)).as("z")): _*)
  }

  /** Cochran's Q (1950) — the k-treatment generalization of [[mcnemar]]:
    * do k binary rules/classifiers flag the SAME rows at the same rate?
    * Q = k(k−1)·Σ_j(T_j − T̄)² / (k·ΣR_i − ΣR_i²) ~ χ²(k−1), with T_j the
    * per-rule totals and R_i the per-row hit counts.
    *
    * EXACT-RATIONAL via the reassociated form
    * (k−1)·Σ_j(k·T_j − S)² / (k·(k·S − ΣR²)): every term an exact long
    * from ONE partial aggregate, the statistic ONE division. Degenerate
    * tables (every row all-true/all-false) report NULL. */
  def cochranQ(df: DataFrame, ruleCols: Seq[String]): DataFrame = {
    val k = ruleCols.size
    require(k >= 2, s"need >= 2 rules, got $k")
    val r = ruleCols.map(c => when(col(c), 1L).otherwise(0L)).reduce(_ + _)
    val aggs =
      Seq(count(lit(1)).as("__n"), sum(r).as("__s"), sum(r * r).as("__r2")) ++
        ruleCols.zipWithIndex.map { case (c, j) =>
          sum(when(col(c), 1L).otherwise(0L)).as(s"__t$j")
        }
    val agg = df.agg(aggs.head, aggs.tail: _*)
    val num = (0 until k).map { j =>
      val t = col(s"__t$j") * k - col("__s")
      t * t
    }.reduce(_ + _) * (k - 1)
    val den = (col("__s") * k - col("__r2")) * k
    agg.select(
      col("__n").as("n"), lit(k.toLong).as("k"), lit((k - 1).toLong).as("dof"),
      when(den > 0, round(num.cast("double") / den.cast("double"), 6))
        .as("q"))
  }

  /** Multi-class classification report — per-class precision/recall/F1
    * with macro-F1 and accuracy, the model-eval table every labeling
    * pipeline ends in. Classes are the UNION of actual and predicted
    * labels (a class never predicted still reports recall).
    *
    * EXACT-RATIONAL: tp/fp/fn exact longs from one confusion partial agg;
    * precision/recall single divisions; F1 uses the reassociated
    * 2·tp/(2·tp+fp+fn) — ONE division, always defined for union classes;
    * macro-F1 quantizes each class F1 to a 1e-9 long before the
    * bounded-domain mean; accuracy is one division of exact longs. */
  def classificationReport(
      df: DataFrame,
      actualCol: String,
      predictedCol: String): DataFrame =
    classificationReportFromCells(
      df.groupBy(col(actualCol).as("__a"), col(predictedCol).as("__p"))
        .agg(count(lit(1)).as("__c")))

  /** [[classificationReport]]'s assembly half over pre-aggregated confusion
    * cells `(__a, __p, __c)` — the label-domain-bounded state shape a
    * streaming monitor maintains in the state store (complete mode), so
    * stream == batch exactly: integer cells merge associatively. */
  def classificationReportFromCells(cells: DataFrame): DataFrame = {
    val act = cells.groupBy(col("__a").as("label"))
      .agg(sum(col("__c")).as("__act"))
    val prd = cells.groupBy(col("__p").as("label"))
      .agg(sum(col("__c")).as("__prd"))
    val diag = cells.filter(col("__a") === col("__p"))
      .select(col("__a").as("label"), col("__c").as("__tp"))
    val per = act.join(prd, Seq("label"), "full_outer")
      .join(diag, Seq("label"), "left")
      .select(
        col("label"),
        coalesce(col("__tp"), lit(0L)).as("tp"),
        (coalesce(col("__prd"), lit(0L)) - coalesce(col("__tp"), lit(0L))).as("fp"),
        (coalesce(col("__act"), lit(0L)) - coalesce(col("__tp"), lit(0L))).as("fn"))
    val f1 = (col("tp") * 2).cast("double") /
      (col("tp") * 2 + col("fp") + col("fn")).cast("double")
    val wAll = Window.partitionBy(lit(1))
    per
      .withColumn("__f1q", floor(f1 * 1e9 + 0.5).cast("long"))
      .withColumn("__tpAll", sum(col("tp")).over(wAll))
      .withColumn("__nAll", sum(col("tp") + col("fn")).over(wAll))
      .select(
        col("label"),
        (col("tp") + col("fn")).as("support"),
        col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") > 0,
          round(col("tp").cast("double") /
            (col("tp") + col("fp")).cast("double"), 6)).as("precision"),
        when(col("tp") + col("fn") > 0,
          round(col("tp").cast("double") /
            (col("tp") + col("fn")).cast("double"), 6)).as("recall"),
        round(f1, 6).as("f1"),
        round(sum(col("__f1q")).over(wAll).cast("double") / lit(1e9) /
          count(lit(1)).over(wAll).cast("double"), 6).as("macro_f1"),
        round(col("__tpAll").cast("double") / col("__nAll").cast("double"), 6)
          .as("accuracy"))
  }

  /** The complete blocks of a (`__b` block, `__t` treatment, `__v` value)
    * frame: blocks with one row for each of the k treatments. The filter
    * checks BOTH counts, distinct treatments == k AND rows == k — a block
    * with a duplicated (block, treatment) row plus a missing treatment
    * matches the raw row count alone and would silently corrupt the
    * within-block midranks. */
  private def completeBlocks(base: DataFrame): DataFrame = {
    val kDf = base.agg(count_distinct(col("__t")).as("__k"))
    val complete = base.groupBy(col("__b"))
      .agg(count(lit(1)).as("__cnt"), count_distinct(col("__t")).as("__td"))
      .crossJoin(broadcast(kDf))
      .filter(col("__cnt") === col("__k") && col("__td") === col("__k"))
      .select(col("__b"))
    base.join(complete, Seq("__b"), "left_semi")
  }

  /** Rows per (block, value) of a [[completeBlocks]] frame (`__c`). */
  private def blockValueCounts(kept: DataFrame): DataFrame =
    kept.groupBy(col("__b"), col("__v")).agg(count(lit(1)).as("__c"))

  /** Each treatment's sum `__R2` of doubled within-block midranks
    * (2·before + ties + 1, exact integers) and its block count `__nb`. */
  private def treatmentRankSums(kept: DataFrame, hist: DataFrame): DataFrame = {
    val wCum = Window.partitionBy(col("__b")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val r2 = hist
      .withColumn("__before", sum(col("__c")).over(wCum) - col("__c"))
      .select(col("__b"), col("__v"),
        (col("__before") * 2 + col("__c") + 1).as("__r2"))
    kept.join(r2, Seq("__b", "__v"))
      .groupBy(col("__t"))
      .agg(sum(col("__r2")).as("__R2"), count(lit(1)).as("__nb"))
  }

  /** Friedman test (1937) — the nonparametric repeated-measures check
    * across k treatments observed in matched blocks (e.g. "do the event
    * types rank the same every day?"): within-block midranks, then
    * Q = 12/(n·k·(k+1))·ΣR_j² − 3n(k+1), ~χ²(k−1) under H0 (tie
    * correction omitted — the classic form; heavy within-block ties
    * understate Q slightly).
    *
    * EXACT-RATIONAL: doubled midranks 2·before + ties + 1 are integers,
    * so ΣR_j² stays exact (3·Σ(2R_j)²/4 reassociates the 12/4) and Q is
    * ONE division of exact longs. Incomplete blocks (missing treatments)
    * are dropped. One rank window per block + two partial aggs. */
  def friedmanTest(
      df: DataFrame,
      blockCol: String,
      treatmentCol: String,
      valueCol: String): DataFrame = {
    val base = df.select(
      col(blockCol).as("__b"), col(treatmentCol).as("__t"),
      col(valueCol).cast("long").as("__v"))
    val kept = completeBlocks(base)
    val perT = treatmentRankSums(kept, blockValueCounts(kept))
    val agg = perT.agg(
      max(col("__nb")).as("__n"),
      count(lit(1)).as("__kk"),
      sum(col("__R2") * col("__R2")).as("__sR2"))
    val n = col("__n"); val k = col("__kk")
    val den = n * k * (k + 1)
    val num = col("__sR2") * 3 - n * (k + 1) * 3 * den
    agg.select(
      n.as("n_blocks"), k.as("k"),
      (k - 1).as("dof"),
      round(num.cast("double") / den.cast("double"), 6).as("q"))
  }

  /** First-order PARTIAL correlation r_xy·z (Yule 1907; Fisher 1924 t) —
    * "is the x–y association real once z is held fixed?", the
    * confounder-control member of the dependence family (X40 Pearson is
    * marginal; X190 MH adjusts categorical 2×2s; this is the continuous
    * analogue): r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)), with
    * t = r·√((n−3)/(1−r²)) ~ t(n−3) beside it.
    *
    * ONE partial aggregate collects the ten exact DECIMAL(38,0) co-moments
    * of the pre-quantized integral columns (the olsTrend contract); each
    * pairwise r follows the X235 recipe — centered num/denominators exact,
    * the two denominators cast to double BEFORE the IEEE product + sqrt —
    * and the partial assembles from the UNROUNDED r's in a fixed chain
    * (the reported r's round at 6 dp separately). Zero variance in any
    * column, perfect x–z or y–z collinearity (denominator 0), or n ≤ 3
    * (for t) → NULL, never NaN; every division sits inside its guard
    * branch (ANSI throws on double /0). */
  def partialCorr(
      df: DataFrame,
      xCol: String,
      yCol: String,
      zCol: String): DataFrame = {
    def d(c: String): Column = col(c).cast("decimal(38,0)")
    val agg = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull && col(zCol).isNotNull)
      .agg(
        count(lit(1)).cast("decimal(38,0)").as("__n"),
        sum(d(xCol)).as("__sx"), sum(d(yCol)).as("__sy"), sum(d(zCol)).as("__sz"),
        sum(d(xCol) * d(xCol)).as("__sxx"),
        sum(d(yCol) * d(yCol)).as("__syy"),
        sum(d(zCol) * d(zCol)).as("__szz"),
        sum(d(xCol) * d(yCol)).as("__sxy"),
        sum(d(xCol) * d(zCol)).as("__sxz"),
        sum(d(yCol) * d(zCol)).as("__syz"))
    val n = col("__n")
    def cnum(ab: String, a: String, b: String): Column =
      n * col(ab) - col(a) * col(b)
    val dxx = cnum("__sxx", "__sx", "__sx")
    val dyy = cnum("__syy", "__sy", "__sy")
    val dzz = cnum("__szz", "__sz", "__sz")
    def r(num: Column, da: Column, db: Column): Column =
      num.cast("double") / sqrt(da.cast("double") * db.cast("double"))
    val rxy = r(cnum("__sxy", "__sx", "__sy"), dxx, dyy)
    val rxz = r(cnum("__sxz", "__sx", "__sz"), dxx, dzz)
    val ryz = r(cnum("__syz", "__sy", "__sz"), dyy, dzz)
    val varsOk = dxx > 0 && dyy > 0 && dzz > 0
    val denSq = (lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz)
    val rp = (rxy - rxz * ryz) / sqrt(denSq)
    val tStat = rp * sqrt((n.cast("double") - 3.0) / (lit(1.0) - rp * rp))
    agg.select(
      n.cast("long").as("n"),
      when(varsOk, round(rxy, 6)).as("r_xy"),
      when(varsOk, round(rxz, 6)).as("r_xz"),
      when(varsOk, round(ryz, 6)).as("r_yz"),
      when(varsOk, when(denSq > 0, round(rp, 6))).as("r_partial"),
      when(varsOk,
        when(denSq > 0 && n > 3,
          when(rp * rp < 1.0, round(tStat, 6)))).as("t_stat"))
  }

  /** Jonckheere–Terpstra ordered-alternative k-sample test (Terpstra 1952;
    * Jonckheere 1954) — "do the distributions SHIFT UP with the ordered
    * group score?", the continuous-response member beside X214
    * Cochran–Armitage (binary rates) that the unordered omnibus pair
    * (Kruskal–Wallis / ANOVA F) cannot answer (they burn power on
    * non-monotone alternatives): JT = Σ_{i<j} U_ij over score-ordered
    * group pairs, U the Mann–Whitney count with ½ per tie; z from the
    * classic tie-free null moments E = (N²−Σnᵢ²)/4 and
    * Var = (N²(2N+3) − Σnᵢ²(2nᵢ+3))/72 (the Friedman precedent: the
    * textbook form, heavy ties understate |z| slightly).
    *
    * Never a pair join: each (group, value) histogram cell fans out to
    * the HIGHER-scored groups only (bounded by k — ordered dose/severity
    * levels are small by contract), lower-mass prefixes come from one
    * value-ordered window PER GROUP (k-way parallel, never a global
    * single-partition sort), and doubled-JT accumulates as exact
    * DECIMAL(38,0) products. z is a fixed IEEE chain (cast, /72, sqrt,
    * one division) from exact integer operands, 6-dp rounded; fewer than
    * two groups → NULL. `groupCol` must be an integral score giving the
    * hypothesized order; `valueCol` integral (the gini contract). */
  def jonckheereTerpstra(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val base = df.select(
      col(groupCol).cast("long").as("__g"), col(valueCol).cast("long").as("__v"))
      .filter(col("__g").isNotNull && col("__v").isNotNull)
    val hist = base.groupBy(col("__g"), col("__v")).agg(count(lit(1)).as("__c"))
    // bounded group domain and its ordered pairs (score_low < score_high)
    val groups = hist.groupBy(col("__g")).agg(sum(col("__c")).as("__ng"))
    val pairsUp = groups.select(col("__g").as("__glo"))
      .join(broadcast(groups.select(col("__g").as("__ghi"))),
        col("__glo") < col("__ghi"))
    // mass each cell contributes to every higher group, re-aggregated to
    // (target group, value) grain, then merged onto the target's own cells
    val contrib = hist
      .join(broadcast(pairsUp), col("__g") === col("__glo"))
      .groupBy(col("__ghi").as("__g"), col("__v"))
      .agg(sum(col("__c")).as("__cl"))
    val merged = hist.join(contrib, Seq("__g", "__v"), "full_outer")
      .select(col("__g"), col("__v"),
        coalesce(col("__c"), lit(0L)).as("__c"),
        coalesce(col("__cl"), lit(0L)).as("__cl"))
    val wPrev = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cells = merged.withColumn(
      "__lowPrev", coalesce(sum(col("__cl")).over(wPrev), lit(0L)))
    // 2·JT = Σ c·(2·lower-mass-below + lower-mass-at-value)
    val jt2Agg = cells.agg(
      coalesce(sum(dec(col("__c")) *
        (dec(col("__lowPrev")) * 2 + dec(col("__cl")))),
        lit(0).cast("decimal(38,0)")).as("__jt2"))
    val momAgg = groups.agg(
      sum(col("__ng")).cast("decimal(38,0)").as("__N"),
      count(lit(1)).as("__k"),
      sum(dec(col("__ng")) * dec(col("__ng"))).as("__sn2"),
      sum(dec(col("__ng")) * dec(col("__ng")) * (dec(col("__ng")) * 2 + 3))
        .as("__sn23"))
    val agg = momAgg.crossJoin(broadcast(jt2Agg))
    val bigN = col("__N")
    // 4·(JT − E) = 2·JT2 − (N² − Σn²), exact
    val num4 = col("__jt2") * 2 - (bigN * bigN - col("__sn2"))
    val varI = bigN * bigN * (bigN * 2 + 3) - col("__sn23")
    val z = num4.cast("double") /
      (lit(4.0) * sqrt(varI.cast("double") / 72.0))
    agg.select(
      bigN.cast("long").as("n"),
      col("__k").as("k"),
      when(col("__k") > 1, round(col("__jt2").cast("double") / 2.0, 6))
        .as("jt"),
      when(col("__k") > 1 && varI > 0, round(z, 6)).as("z"))
  }

  /** Ordinal-association suite — Goodman–Kruskal γ (1954), Somers' D in
    * BOTH directions (1962) and a corpus-scale Kendall τ-b from ONE
    * concordance pass: the "does severity rise with dose?" measures for
    * ordered × ordered columns (γ ignores all ties; D_yx is the
    * asymmetric regression-flavored form penalizing y-ties; τ-b the
    * symmetric compromise — X190's τ-b needs the per-key bounded-series
    * contract, THIS one runs at any row count because pairs never
    * materialize).
    *
    * The X321 machinery generalized: cells (a, b, count) from one partial
    * agg; each cell's mass fans out to HIGHER a-levels only (bounded by
    * the a-domain — ordinal levels are small by contract); per-level
    * b-ordered windows give the strictly-below / at-b / level-total
    * lower-mass prefixes, so C = Σc·below and D = Σc·(total−below−at) are
    * exact DECIMAL(38,0) sums. Tie corrections come from the marginals
    * (doubled forms stay integral); each statistic is ONE double division
    * (τ-b's two denominators cast to double BEFORE the product+sqrt, the
    * X235 recipe), 6-dp rounded; degenerate denominators → NULL. */
  def ordinalAssociation(
      df: DataFrame,
      aCol: String,
      bCol: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val base = df.select(
      col(aCol).cast("long").as("__a"), col(bCol).cast("long").as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
    val cells = base.groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("__c"))
    val aLvls = cells.groupBy(col("__a")).agg(sum(col("__c")).as("__na"))
    val bLvls = cells.groupBy(col("__b")).agg(sum(col("__c")).as("__nb"))
    val pairsUp = aLvls.select(col("__a").as("__alo"))
      .join(broadcast(aLvls.select(col("__a").as("__ahi"))),
        col("__alo") < col("__ahi"))
    val contrib = cells
      .join(broadcast(pairsUp), col("__a") === col("__alo"))
      .groupBy(col("__ahi").as("__a"), col("__b"))
      .agg(sum(col("__c")).as("__cl"))
    val merged = cells.join(contrib, Seq("__a", "__b"), "full_outer")
      .select(col("__a"), col("__b"),
        coalesce(col("__c"), lit(0L)).as("__c"),
        coalesce(col("__cl"), lit(0L)).as("__cl"))
    val wPrev = Window.partitionBy(col("__a")).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(col("__a"))
    val scored = merged
      .withColumn("__below", coalesce(sum(col("__cl")).over(wPrev), lit(0L)))
      .withColumn("__tot", sum(col("__cl")).over(wAll))
    val cd = scored.agg(
      coalesce(sum(dec(col("__c")) * dec(col("__below"))),
        lit(0).cast("decimal(38,0)")).as("__C"),
      coalesce(sum(dec(col("__c")) *
        (dec(col("__tot")) - dec(col("__below")) - dec(col("__cl")))),
        lit(0).cast("decimal(38,0)")).as("__D"))
    val aT = aLvls.agg(
      sum(col("__na")).cast("decimal(38,0)").as("__n"),
      coalesce(sum(dec(col("__na")) * (dec(col("__na")) - 1)),
        lit(0).cast("decimal(38,0)")).as("__t1"))
    val bT = bLvls.agg(
      coalesce(sum(dec(col("__nb")) * (dec(col("__nb")) - 1)),
        lit(0).cast("decimal(38,0)")).as("__t2"))
    val agg = aT.crossJoin(broadcast(bT)).crossJoin(broadcast(cd))
    val p2 = col("__n") * (col("__n") - 1)
    val num = col("__C") - col("__D")
    val denG = col("__C") + col("__D")
    val den1 = p2 - col("__t1")
    val den2 = p2 - col("__t2")
    agg.select(
      col("__n").cast("long").as("n"),
      when(denG > 0,
        round(num.cast("double") / denG.cast("double"), 6)).as("gamma"),
      when(den1 > 0,
        round((num * 2).cast("double") / den1.cast("double"), 6))
        .as("somers_d_yx"),
      when(den2 > 0,
        round((num * 2).cast("double") / den2.cast("double"), 6))
        .as("somers_d_xy"),
      when(den1 > 0 && den2 > 0,
        round((num * 2).cast("double") /
          sqrt(den1.cast("double") * den2.cast("double")), 6)).as("tau_b"))
  }

  /** ROC / PR operating-point table — the CURVE behind X199's tie-aware
    * AUC scalar (a single number can't answer "what threshold do I
    * deploy?"): one row per DISTINCT score threshold with the confusion
    * counts and tpr/fpr/precision/recall of "predict positive at
    * score ≥ t". Exact by construction: counts come from one (score,
    * label) histogram and a descending cumulative window over the
    * distinct-score table (bounded by score resolution — quantize
    * upstream, the mannWhitneyU contract); each rate is ONE division of
    * exact longs, 6-dp rounded; precision at all-negative thresholds and
    * rates on empty classes → NULL, divisions inside guard branches. */
  def rocCurve(
      df: DataFrame,
      scoreCol: String,
      labelCol: String): DataFrame = {
    val sc = col(scoreCol).cast("long")
    val hist = df.filter(sc.isNotNull && col(labelCol).isNotNull)
      .groupBy(sc.as("threshold"))
      .agg(
        sum(when(col(labelCol).cast("boolean"), 1L).otherwise(0L)).as("__p"),
        sum(when(col(labelCol).cast("boolean"), 0L).otherwise(1L)).as("__n"))
    val wDesc = org.apache.spark.sql.expressions.Window
      .orderBy(col("threshold").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val cum = hist
      .withColumn("tp", sum(col("__p")).over(wDesc))
      .withColumn("fp", sum(col("__n")).over(wDesc))
      .withColumn("__tP", sum(col("__p")).over(wAll))
      .withColumn("__tN", sum(col("__n")).over(wAll))
    cum.select(
      col("threshold"), col("tp"), col("fp"),
      (col("__tP") - col("tp")).as("fn"),
      (col("__tN") - col("fp")).as("tn"),
      when(col("__tP") > 0,
        round(col("tp").cast("double") / col("__tP").cast("double"), 6))
        .as("tpr"),
      when(col("__tN") > 0,
        round(col("fp").cast("double") / col("__tN").cast("double"), 6))
        .as("fpr"),
      when(col("tp") + col("fp") > 0,
        round(col("tp").cast("double") / (col("tp") + col("fp")).cast("double"),
          6)).as("precision"))
      .orderBy(col("threshold").desc)
  }

  /** Dunn's post-hoc pairwise test (Dunn 1964), tie-corrected — WHICH
    * groups differ once [[kruskalWallis]]'s omnibus H fires (the rank
    * sibling of X184's Tukey contrasts over the ANOVA F): z_ij =
    * (r̄_i − r̄_j)/√(σ²(1/nᵢ + 1/nⱼ)) with combined-sample midranks and
    * σ² = N(N+1)/12 − ΣT/(12(N−1)). The multiple-comparison control is a
    * caller-supplied `zCrit` (Dunn's Bonferroni: Φ⁻¹(1 − α/(k(k−1))),
    * looked up offline — the no-CDF-in-plan discipline), and `reject`
    * compares the ROUNDED |z| so the verdict is engine-portable.
    *
    * EXACT: doubled midranks make every rank sum an integer;
    * r̄_i − r̄_j = (nⱼSRᵢ − nᵢSRⱼ)/(2nᵢnⱼ) is ONE division of exact
    * DECIMAL(38,0) operands; σ² is a fixed chain from exact (N, ΣT). One
    * value histogram + one global ordered window (mannWhitneyU
    * resolution contract) + a k-row group self-join. */
  def dunnTest(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      zCrit: Double): DataFrame = {
    require(zCrit > 0, s"zCrit must be > 0, got $zCrit")
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val base = df.select(col(groupCol).cast("string").as("__g"),
      col(valueCol).cast("long").as("__v"))
      .filter(col("__g").isNotNull && col("__v").isNotNull)
    val cells = base.groupBy(col("__g"), col("__v")).agg(count(lit(1)).as("__c"))
    val vals = cells.groupBy(col("__v")).agg(sum(col("__c")).as("__cAll"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ranked = vals
      .withColumn("__prev", coalesce(sum(col("__cAll")).over(w), lit(0L)))
      .withColumn("__rc2", lit(2L) * col("__prev") + col("__cAll") + 1)
    val groups = cells.join(ranked.select(col("__v"), col("__rc2")), Seq("__v"))
      .groupBy(col("__g"))
      .agg(sum(col("__c")).as("__n"),
        sum(dec(col("__c")) * dec(col("__rc2"))).as("__sr"))
    val glob = vals.agg(
      sum(col("__cAll")).as("__N"),
      coalesce(sum(dec(col("__cAll")) * dec(col("__cAll")) * dec(col("__cAll"))
        - dec(col("__cAll"))), lit(0).cast("decimal(38,0)")).as("__T"))
    val a = groups.select(col("__g").as("g1"), col("__n").as("__n1"),
      col("__sr").as("__sr1"))
    val b = groups.select(col("__g").as("g2"), col("__n").as("__n2"),
      col("__sr").as("__sr2"))
    val pairs = a.join(b, col("g1") < col("g2")).crossJoin(broadcast(glob))
    val nD = col("__N").cast("double")
    val sigma2 = nD * (nD + 1.0) / 12.0 -
      col("__T").cast("double") / (lit(12.0) * (nD - 1.0))
    val num = (dec(col("__n2")) * col("__sr1") - dec(col("__n1")) * col("__sr2"))
      .cast("double") /
      (dec(col("__n1")) * dec(col("__n2")) * 2).cast("double")
    val z = round(num / sqrt(sigma2 *
      (lit(1.0) / col("__n1").cast("double") +
        lit(1.0) / col("__n2").cast("double"))), 6)
    val meanRank = (c: String, n: String) =>
      round(col(c).cast("double") / (col(n).cast("double") * 2.0), 6)
    pairs.select(
      col("g1"), col("g2"),
      col("__n1").as("n_1"), col("__n2").as("n_2"),
      meanRank("__sr1", "__n1").as("mean_rank_1"),
      meanRank("__sr2", "__n2").as("mean_rank_2"),
      when(col("__N") > 1, when(sigma2 > 0, z)).as("z"),
      lit(zCrit).as("z_crit"),
      when(col("__N") > 1, when(sigma2 > 0, abs(z) > lit(zCrit))).as("reject"))
      .orderBy("g1", "g2")
  }

  /** Wilson score interval per key (Wilson 1927) — the proportion CI that
    * actually behaves at small n and extreme p̂ (the Wald interval
    * p̂ ± z√(p̂(1−p̂)/n) collapses to zero width at p̂ ∈ {0,1} and
    * overshoots [0,1]; Wilson inverts the score test instead): center
    * (p̂ + z²/2n)/(1 + z²/n), half-width z√(p̂(1−p̂)/n + z²/4n²)/(1+z²/n),
    * clamped to [0,1]. The uncertainty layer for every per-key rate
    * readout, complementing X324's point-estimate shrinkage.
    *
    * p̂ is ONE double division of exact longs and everything downstream a
    * fixed IEEE chain (z a literal), 6-dp rounded — engine-portable with
    * no quantization games because no data-sized float sum exists.
    * Empty keys cannot occur (groupBy), so n ≥ 1 always. */
  def wilsonInterval(
      df: DataFrame,
      keyCols: Seq[String],
      successCol: String,
      z: Double = 1.959964): DataFrame = {
    require(keyCols.nonEmpty, "at least one key column required")
    require(z > 0, s"z must be > 0, got $z")
    val keys = keyCols.map(col)
    val per = df.groupBy(keys: _*)
      .agg(
        count(lit(1)).as("n"),
        sum(when(col(successCol).cast("boolean"), 1L).otherwise(0L)).as("x"))
    val nD = col("n").cast("double")
    val p = col("x").cast("double") / nD
    val z2 = z * z
    val denom = lit(1.0) + lit(z2) / nD
    val center = p + lit(z2) / (nD * 2.0)
    val half = lit(z) * sqrt(p * (lit(1.0) - p) / nD +
      lit(z2) / (nD * nD * 4.0))
    per.select(keys ++ Seq(
      col("n"), col("x"),
      round(p, 6).as("p_hat"),
      round(greatest(lit(0.0), (center - half) / denom), 6).as("ci_lo"),
      round(least(lit(1.0), (center + half) / denom), 6).as("ci_hi")): _*)
  }

  /** Distribution-free quantile confidence interval (order-statistic
    * bounds; Thompson 1936, the binomial-rank method with the large-sample
    * normal ranks) — the UNCERTAINTY layer the point-percentile family
    * (X4 exact / X6 GK / T19 KLL / X134 weighted) lacks: "the p50 is X"
    * means little without "95% CI [a, b]". Ranks l = ⌊np − z√(np(1−p))⌋,
    * u = ⌈np + z√(np(1−p))⌉ clamped to [1, n]; the interval is the (l, u)
    * ORDER-STATISTIC pair — pure selections, never interpolation, so the
    * bounds are actual data values and engine-exact by construction;
    * z = 1.959964 (published literal).
    *
    * One histogram partial agg + one distinct-value cumulative window
    * (the mannWhitneyU bounded-resolution contract) + three conditional-
    * min selections off broadcast ranks (fixed IEEE chains from the exact
    * n). Values must be pre-quantized integral. n = 0 → no row; the
    * normal-rank approximation is documented as large-sample (small-n
    * callers should widen to the exact binomial ranks offline). */
  def quantileCi(
      df: DataFrame,
      valueCol: String,
      p: Double,
      z: Double = 1.959964): DataFrame = {
    require(p > 0 && p < 1, s"p must be in (0,1), got $p")
    require(z > 0, s"z must be > 0, got $z")
    val v = col(valueCol).cast("long")
    val hist = df.filter(v.isNotNull).groupBy(v.as("__v"))
      .agg(count(lit(1)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = hist.withColumn("__cum", sum(col("__c")).over(w))
    val tot = cum.agg(max(col("__cum")).as("__n"))
    val nD = col("__n").cast("double")
    val half = lit(z) * sqrt(nD * lit(p) * lit(1.0 - p))
    val ranks = tot.select(
      col("__n"),
      greatest(lit(1L), ceil(nD * lit(p)).cast("long")).as("__rp"),
      greatest(lit(1L), floor(nD * lit(p) - half).cast("long")).as("__rl"),
      least(col("__n"), ceil(nD * lit(p) + half).cast("long")).as("__ru"))
    def sel(rank: Column): Column = min(when(col("__cum") >= rank, col("__v")))
    cum.crossJoin(broadcast(ranks))
      .groupBy(col("__n"), col("__rl"), col("__rp"), col("__ru"))
      .agg(
        sel(col("__rp")).as("point"),
        sel(col("__rl")).as("ci_lo"),
        sel(col("__ru")).as("ci_hi"))
      .select(
        lit(p).as("p"),
        col("__n").as("n"),
        col("__rl").as("rank_lo"), col("__rp").as("rank_point"),
        col("__ru").as("rank_hi"),
        col("point"), col("ci_lo"), col("ci_hi"))
  }

  /** Bowker's symmetry test (Bowker, JASA 1948) — the k×k generalization
    * of [[mcnemar]]'s 2×2: do two paired categorical raters/rules/model
    * versions disagree SYMMETRICALLY across all label pairs, or does the
    * confusion flow one way (the model-upgrade drift check: "v2 moves
    * docs from 'good' to 'spam' more than the reverse")? χ² =
    * Σ_{i<j} (n_ij − n_ji)²/(n_ij + n_ji), ~χ²(dof) with dof = the number
    * of off-diagonal pairs actually observed (empty pairs carry no
    * information and drop from both the sum and the dof — the standard
    * correction, documented).
    *
    * One confusion-cell partial agg; the pair table is label-domain-
    * bounded; each term is exact-integer arithmetic until ONE double
    * division, quantized decimal(30,12) before the bounded sum (the
    * chiSquare discipline); perfect symmetry everywhere → χ² = 0;
    * no observed off-diagonal pair → NULL. */
  def bowkerTest(
      df: DataFrame,
      beforeCol: String,
      afterCol: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val cells = df
      .filter(col(beforeCol).isNotNull && col(afterCol).isNotNull)
      .groupBy(col(beforeCol).cast("string").as("__a"),
        col(afterCol).cast("string").as("__b"))
      .agg(count(lit(1)).as("__c"))
    val up = cells.filter(col("__a") < col("__b"))
      .select(col("__a").as("__i"), col("__b").as("__j"), col("__c").as("__nij"))
    val down = cells.filter(col("__a") > col("__b"))
      .select(col("__b").as("__i"), col("__a").as("__j"), col("__c").as("__nji"))
    val pairs = up.join(down, Seq("__i", "__j"), "full_outer")
      .select(
        coalesce(col("__nij"), lit(0L)).as("__nij"),
        coalesce(col("__nji"), lit(0L)).as("__nji"))
    val diff = dec(col("__nij")) - dec(col("__nji"))
    val tot = dec(col("__nij")) + dec(col("__nji"))
    val term = (diff * diff).cast("double") / tot.cast("double")
    val nAgg = cells.agg(sum(col("__c")).as("__n"))
    val agg = pairs.agg(
      count(lit(1)).as("__dof"),
      sum(when(tot > 0, term.cast("decimal(30,12)"))).as("__chi2"))
    agg.crossJoin(broadcast(nAgg)).select(
      col("__n").as("n"),
      col("__dof").as("dof"),
      when(col("__dof") > 0, round(col("__chi2").cast("double"), 6))
        .as("chi2_bowker"))
  }

  /** Kendall's W coefficient of concordance (Kendall & Babington Smith
    * 1939), tie-corrected — "HOW MUCH do the m blocks/raters agree on the
    * ranking of the k treatments?", the effect-size companion to
    * [[friedmanTest]]'s verdict on the same complete-block layout (and the
    * RANKING member of the agreement family: κ/Krippendorff are categorical,
    * ICC/CCC interval — W is ordinal): W = 12·S / (m²(k³−k) − m·ΣT) with
    * S the spread of treatment rank sums and ΣT = Σ(t³−t) over within-block
    * tie groups; χ²_F = m(k−1)·W (~χ²(k−1)) ships beside it.
    *
    * EXACT-RATIONAL: with doubled midranks 2·before+ties+1 (integers),
    * 4S = ΣR₂ⱼ² − m²k(k+1)² because ΣR₂ⱼ = m·k(k+1) identically — so W
    * and χ² are each ONE double division of exact DECIMAL(38,0) operands,
    * 6-dp rounded. Incomplete/corrupt blocks drop (the friedmanTest
    * filter); a fully-tied design (den = 0, nothing ranked) → NULL, never
    * NaN. One rank window per block + two bounded partial aggs. */
  def kendallW(
      df: DataFrame,
      blockCol: String,
      treatmentCol: String,
      valueCol: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val base = df.select(
      col(blockCol).as("__b"), col(treatmentCol).as("__t"),
      col(valueCol).cast("long").as("__v"))
    val kept = completeBlocks(base)
    val hist = blockValueCounts(kept)
    val tieAgg = hist.agg(
      coalesce(sum(dec(col("__c")) * dec(col("__c")) * dec(col("__c"))
        - dec(col("__c"))), lit(0).cast("decimal(38,0)")).as("__T"))
    val perT = treatmentRankSums(kept, hist)
    val agg = perT.agg(
      max(col("__nb")).as("__m"),
      count(lit(1)).as("__kk"),
      sum(dec(col("__R2")) * dec(col("__R2"))).as("__sR2"))
      .crossJoin(broadcast(tieAgg))
    val m = dec(col("__m")); val k = dec(col("__kk"))
    // 4S = ΣR₂² − m²k(k+1)²; 12S = 3·(4S)
    val s4 = col("__sR2") - m * m * k * (k + 1) * (k + 1)
    val num = s4 * 3
    val den = m * m * (k * k * k - k) - m * col("__T")
    agg.select(
      col("__m").as("n_blocks"), col("__kk").as("k"),
      (col("__kk") - 1).as("dof"),
      when(den > 0,
        round(num.cast("double") / den.cast("double"), 6)).as("w"),
      when(den > 0,
        round((num * m * (k - 1)).cast("double") / den.cast("double"), 6))
        .as("chi2"))
  }

  /** Page's L trend test (Page, JASA 1963) — the ORDERED-alternative
    * repeated-measures test completing the complete-block family: X215
    * Friedman asks "do treatments differ at all?", Page asks "do they
    * INCREASE in the hypothesized order?" (the blocked sibling of X321
    * Jonckheere — same question, matched blocks instead of independent
    * groups): L = Σ c_j·R_j with c_j the treatment's rank in the
    * hypothesized order (ascending `treatmentCol` score) and R_j its
    * within-block rank sum; z from the classic tie-free null moments
    * E = mk(k+1)²/4, Var = mk²(k+1)²(k−1)/144 (the Friedman precedent:
    * textbook form, ties understate |z| slightly).
    *
    * EXACT-RATIONAL: doubled midranks make L₂ = 2L an exact DECIMAL(38,0)
    * sum; 4(L − E) = 2L₂ − mk(k+1)² exactly; z is ONE fixed IEEE chain
    * (cast, /144, sqrt, one division) from exact operands, 6-dp rounded.
    * Incomplete/corrupt blocks drop (the friedmanTest filter); k < 2 or a
    * degenerate variance → NULL. One rank window per block, one k-row
    * treatment ranking, two bounded aggs. */
  def pageTrendTest(
      df: DataFrame,
      blockCol: String,
      treatmentCol: String,
      valueCol: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val base = df.select(
      col(blockCol).as("__b"), col(treatmentCol).cast("long").as("__t"),
      col(valueCol).cast("long").as("__v"))
    val kept = completeBlocks(base)
    val perT = treatmentRankSums(kept, blockValueCounts(kept))
    // hypothesized-order rank over the k-row treatment table
    val ranked = perT.withColumn("__cj",
      row_number().over(Window.orderBy(col("__t"))))
    val agg = ranked.agg(
      max(col("__nb")).as("__m"),
      count(lit(1)).as("__kk"),
      sum(dec(col("__cj")) * dec(col("__R2"))).as("__L2"))
    val m = dec(col("__m")); val k = dec(col("__kk"))
    val num4 = col("__L2") * 2 - m * k * (k + 1) * (k + 1)
    val varI = m * k * k * (k + 1) * (k + 1) * (k - 1)
    val z = num4.cast("double") /
      (lit(4.0) * sqrt(varI.cast("double") / 144.0))
    agg.select(
      col("__m").as("n_blocks"), col("__kk").as("k"),
      round(col("__L2").cast("double") / 2.0, 6).as("l_stat"),
      when(col("__kk") > 1 && varI > 0, round(z, 6)).as("z"))
  }

  /** McNemar's test (1947) for PAIRED binary classifiers/rules on the same
    * rows — "do rule A and rule B disagree symmetrically?": only the
    * discordant cells matter, χ² = (b−c)²/(b+c) with b = A∧¬B, c = ¬A∧B,
    * ~χ²(1) under H0; the Edwards continuity-corrected (|b−c|−1)²/(b+c)
    * ships alongside. One partial aggregate; counts exact longs, each
    * statistic ONE integer division; b+c = 0 (perfect agreement) NULL. */
  def mcnemar(
      df: DataFrame,
      ruleACol: String,
      ruleBCol: String): DataFrame = {
    val a = col(ruleACol); val b = col(ruleBCol)
    val agg = df.agg(
      count(lit(1)).as("n"),
      sum(when(a && !b, 1L).otherwise(0L)).as("b_only"),
      sum(when(!a && b, 1L).otherwise(0L)).as("c_only"))
    val diff = col("b_only") - col("c_only")
    val disc = col("b_only") + col("c_only")
    val corr = abs(diff) - lit(1)
    agg.select(
      col("n"), col("b_only"), col("c_only"),
      when(disc > 0,
        round((diff * diff).cast("double") / disc.cast("double"), 6))
        .as("chi2"),
      when(disc > 0,
        round((corr * corr).cast("double") / disc.cast("double"), 6))
        .as("chi2_corrected"))
  }

  /** Brown–Forsythe/Levene variance-homogeneity test — "do these groups
    * even have comparable spread?", the assumption-check gate in front of
    * [[anovaF]]: one-way ANOVA ON the absolute deviations from each
    * group's median (Brown & Forsythe 1974 — the median-centered variant,
    * robust where mean-centered Levene 1960 is not).
    *
    * The group median is an element SELECTION (the ⌊(n+1)/2⌋-th smallest —
    * the house rule: never an interpolation), so deviations stay exact
    * longs and the whole statistic inherits [[anovaF]]'s exact-moment
    * determinism. One rank window + one broadcast-back join + the ANOVA
    * aggregate. */
  def leveneTest(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val base = df.select(col(groupCol), col(valueCol).cast("long").as("__v"))
    val wRank = Window.partitionBy(col(groupCol)).orderBy(col("__v"))
    val medPos = floor((col("__n") + 1).cast("double") / 2.0).cast("long")
    val med = base
      .withColumn("__rn", row_number().over(wRank))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(groupCol))))
      .filter(col("__rn") === medPos)
      .select(col(groupCol), col("__v").as("__med"))
    val dev = base.join(med, Seq(groupCol))
      .select(col(groupCol), abs(col("__v") - col("__med")).as("__dev"))
    anovaF(dev, groupCol, "__dev")
  }

  /** One-way ANOVA F across the `groupCol` levels — the parametric twin of
    * [[kruskalWallis]]. `valueCol` must be pre-quantized integral (cents):
    * per-group (n, Σv, Σv² as DECIMAL(38,0)) come from ONE partial
    * aggregate, SSB uses the centered `Σ n_g (m_g − m)²` form and SSW the
    * per-group `Q_g − S_g²/n_g` — every term single IEEE ops from exact
    * sums, so the only cross-engine float SUMs run over k group terms.
    * Returns one row: (n, n_groups, f, eta_sq). */
  def anovaF(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val v = col(valueCol).cast("long")
    val g = df.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("__ng"),
        sum(v).as("__sg"),
        sum(v.cast(dec) * v.cast(dec)).as("__qg"))
    val wAll = Window.partitionBy()
    val ngD = col("__ng").cast("double")
    val mg = col("__sg").cast("double") / ngD
    val m = col("__s").cast("double") / col("__n").cast("double")
    val terms = g
      .withColumn("__n", sum(col("__ng")).over(wAll))
      .withColumn("__s", sum(col("__sg")).over(wAll))
      .withColumn("__ssb", ngD * (mg - m) * (mg - m))
      .withColumn("__ssw",
        col("__qg").cast("double") -
          col("__sg").cast("double") * col("__sg").cast("double") / ngD)
    terms.groupBy(col("__n"))
      .agg(
        count(lit(1)).as("n_groups"),
        sum(col("__ssb")).as("__b"),
        sum(col("__ssw")).as("__w"))
      .select(
        col("__n").as("n"), col("n_groups"),
        round(
          (col("__b") / (col("n_groups") - lit(1L)).cast("double")) /
            (col("__w") / (col("__n") - col("n_groups")).cast("double")), 6).as("f"),
        round(col("__b") / (col("__b") + col("__w")), 6).as("eta_sq"))
  }

  /** Theil T inequality index per key — the DECOMPOSABLE inequality
    * measure next to Gini/Lorenz (between-group + within-group terms add
    * up exactly, which Gini can't do): T = (1/n)Σ (xᵢ/μ)·ln(xᵢ/μ). Each
    * row's term is a fixed chain of single IEEE ops from the exact long
    * value and the single-division mean, then QUANTIZED to 1e-9 longs
    * before the sum (the degree-tail discipline — a raw double SUM would
    * be partition-order-dependent), so the index hash-gates. Zero values
    * contribute 0 (lim x·ln x = 0); negative values are the caller's bug.
    * Two passes over one key partitioning: mean window + term sum. */
  def theilIndex(
      df: DataFrame, keyCols: Seq[String], valueCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val v = col(valueCol).cast("long")
    val wAll = Window.partitionBy(keys: _*)
    val mu = col("__s").cast("double") / col("__n").cast("double")
    val ratio = col("__v").cast("double") / mu
    val term = when(col("__v") > 0, ratio * log(ratio)).otherwise(lit(0.0))
    df.select(keys :+ v.as("__v"): _*)
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__s", sum(col("__v")).over(wAll))
      .withColumn("__tq", floor(term * 1e9 + 0.5).cast("long"))
      .groupBy(keys: _*)
      .agg(max(col("__n")).as("n"),
        round(sum(col("__tq")).cast("double") / lit(1e9) /
          max(col("__n")).cast("double"), 6).as("theil_t"))
  }

  /** Theil T between/within decomposition over one grouping — the reason
    * to pick Theil over Gini: T_total = T_between + Σ_g s_g·T_g with
    * s_g = the group's value share. T_total and each group's T come from
    * [[theilIndex]]'s quantized-term machinery (pooled and per-group
    * partitionings of the same scan); T_between = Σ_g s_g·ln(μ_g/μ) is k
    * single-op terms. The reported `additivity_gap` is the 1e-9
    * quantization residual — identical on both engines, and its tininess
    * is itself the audit that the decomposition is computed right. */
  def theilDecomposition(
      df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val v = col(valueCol).cast("long")
    val base = df.select(col(groupCol).as("__g"), v.as("__v"))
    val wAll = Window.partitionBy()
    val wG = Window.partitionBy(col("__g"))
    def terms(nC: Column, sC: Column): Column = {
      val mu = sC.cast("double") / nC.cast("double")
      val ratio = col("__v").cast("double") / mu
      floor(when(col("__v") > 0, ratio * log(ratio)).otherwise(lit(0.0)) * 1e9 + 0.5)
        .cast("long")
    }
    val rows = base
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__s", sum(col("__v")).over(wAll))
      .withColumn("__ng", count(lit(1)).over(wG))
      .withColumn("__sg", sum(col("__v")).over(wG))
      .withColumn("__tqAll", terms(col("__n"), col("__s")))
      .withColumn("__tqG", terms(col("__ng"), col("__sg")))
    val perGroup = rows
      .groupBy(col("__g"), col("__n"), col("__s"), col("__ng"), col("__sg"))
      .agg(sum(col("__tqAll")).as("__ta"), sum(col("__tqG")).as("__tg"))
    val share = col("__sg").cast("double") / col("__s").cast("double")
    val muRatio = (col("__sg").cast("double") / col("__ng").cast("double")) /
      (col("__s").cast("double") / col("__n").cast("double"))
    perGroup
      .withColumn("__within", share * (col("__tg").cast("double") / lit(1e9) /
        col("__ng").cast("double")))
      .withColumn("__between", share * log(muRatio))
      .groupBy(col("__n"))
      .agg(
        count(lit(1)).as("n_groups"),
        (sum(col("__ta")).cast("double") / lit(1e9) / col("__n").cast("double"))
          .as("__tt"),
        sum(col("__between")).as("__tb"),
        sum(col("__within")).as("__tw"))
      .select(
        col("__n").as("n"), col("n_groups"),
        round(col("__tt"), 6).as("t_total"),
        round(col("__tb"), 6).as("t_between"),
        round(col("__tw"), 6).as("t_within"),
        // + 0.0 collapses IEEE −0.0 (engines disagree on its rendering)
        (round(col("__tt") - (col("__tb") + col("__tw")), 6) + lit(0.0))
          .as("additivity_gap"))
  }

  /** Lorenz curve at decile grain per key — the table behind the Gini
    * number: units sorted by value into NTILE(10) bins (ties broken by a
    * total order the caller guarantees via `tieCols`), each row one
    * decile's exact value sum, share and cumulative share. Shares are
    * single divisions of exact long sums; NTILE over an explicit total
    * order is engine-deterministic. One window pass + one partial agg. */
  def lorenzDeciles(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      tieCols: Seq[String]): DataFrame = {
    val keys = keyCols.map(col)
    val v = col(valueCol).cast("long")
    val w = Window.partitionBy(keys: _*)
      .orderBy(col("__v") +: tieCols.map(col): _*)
    val binned = df.select(keys ++ Seq(v.as("__v")) ++ tieCols.map(col): _*)
      .withColumn("__d", ntile(10).over(w))
    val per = binned.groupBy(keys :+ col("__d"): _*)
      .agg(count(lit(1)).as("n"), sum(col("__v")).as("__s"))
    val tot = sum(col("__s")).over(Window.partitionBy(keys: _*))
    val cum = sum(col("__s")).over(Window.partitionBy(keys: _*).orderBy(col("__d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    per
      .withColumn("__t", tot)
      .withColumn("__c", cum)
      .select(keys ++ Seq(
        col("__d").as("decile"), col("n"), col("__s").as("value_sum"),
        round(col("__s").cast("double") / col("__t").cast("double"), 6).as("share"),
        round(col("__c").cast("double") / col("__t").cast("double"), 6)
          .as("cum_share")): _*)
  }

  /** Fleiss' κ — chance-corrected agreement for r ≥ 2 raters per subject
    * (the multi-annotator generalization of [[cohenKappa]]): per subject
    * Σ_c n_c² collapses to the pairwise-equality closed form
    * `r + 2·Σ_{i<j} [rating_i = rating_j]` (exact integers, no per-
    * category pivot), so P̄ = (Σs − rN)/(r(r−1)N) is one division from
    * exact sums; category marginals come from one explode + partial agg
    * and P̄ₑ = Σ p_c² sums over the label domain only.
    * κ = (P̄ − P̄ₑ)/(1 − P̄ₑ), NULL when P̄ₑ = 1. */
  def fleissKappa(df: DataFrame, raterCols: Seq[String]): DataFrame = {
    val r = raterCols.size
    require(r >= 2, s"need >= 2 raters, got $r")
    val pairsEq = raterCols.combinations(2).map { case Seq(a, b) =>
      when(col(a) <=> col(b), 1L).otherwise(0L)
    }.reduce(_ + _)
    val s = lit(r.toLong) + lit(2L) * pairsEq
    val subj = df.agg(count(lit(1)).as("__n"), sum(s).as("__ss"))
    val cats = df.select(explode(array(raterCols.map(col): _*)).as("__c"))
      .groupBy(col("__c")).agg(count(lit(1)).as("__k"))
    val nD = col("__n").cast("double")
    val rD = lit(r.toDouble)
    val pbar = (col("__ss").cast("double") - rD * nD) / (rD * (rD - lit(1.0)) * nD)
    val pc = col("__k").cast("double") / (rD * nD)
    val pe = cats.crossJoin(broadcast(subj))
      .agg(sum(pc * pc).as("__pe"), max(col("__n")).as("__n"), max(col("__ss")).as("__ss"))
    pe.select(
      col("__n").as("n"), lit(r).as("n_raters"),
      round(pbar, 6).as("p_observed"),
      round(col("__pe"), 6).as("p_chance"),
      when(col("__pe") < 1.0,
        round((pbar - col("__pe")) / (lit(1.0) - col("__pe")), 6)).as("kappa"))
  }

  /** Cohen's κ — chance-corrected inter-annotator agreement between two
    * categorical labelers over the same rows, the labeling-pipeline QA
    * readout (raw agreement flatters on skewed label sets; κ corrects by
    * the marginal-product chance rate): κ = (p_o − p_e)/(1 − p_e) with
    * p_o from the confusion diagonal and p_e = Σ_c row_c·col_c / n². All
    * counts and cross products are exact integers (DECIMAL for the n²
    * products), the statistic a fixed chain of single divisions. One
    * confusion-matrix partial agg + one marginal rollup — label-domain-
    * bounded everywhere. Degenerate p_e = 1 (both raters constant) yields
    * NULL. */
  def cohenKappa(
      df: DataFrame, raterACol: String, raterBCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val conf = df.groupBy(col(raterACol).as("__a"), col(raterBCol).as("__b"))
      .agg(count(lit(1)).as("__c"))
    val rowm = conf.groupBy(col("__a").as("__l")).agg(sum(col("__c")).as("__ra"))
    val colm = conf.groupBy(col("__b").as("__l")).agg(sum(col("__c")).as("__rb"))
    val chance = rowm.join(colm, Seq("__l"), "inner")
      .agg(sum(col("__ra").cast(dec) * col("__rb").cast(dec)).as("__pe2"))
    val agg = conf.agg(
      sum(col("__c")).as("__n"),
      sum(when(col("__a") <=> col("__b"), col("__c")).otherwise(0L)).as("__diag"))
    val nD = col("__n").cast("double")
    val po = col("__diag").cast("double") / nD
    val pe = col("__pe2").cast("double") / (nD * nD)
    agg.crossJoin(broadcast(chance))
      .select(
        col("__n").as("n"),
        round(po, 6).as("p_observed"),
        round(pe, 6).as("p_chance"),
        when(pe < 1.0, round((po - pe) / (lit(1.0) - pe), 6)).as("kappa"))
  }

  /** Gwet's AC1 (Gwet 2008) — the agreement coefficient that survives the
    * KAPPA PARADOX: on skewed label sets (most docs 'clean', raters agree
    * 95%) [[cohenKappa]]'s chance term inflates and κ collapses toward 0
    * even for near-perfect raters; AC1's chance model
    * p_e = (1/(K−1))·Σ_k π_k(1−π_k) with π_k the AVERAGED marginal stays
    * honest, which is why labeling-QA practice increasingly quotes both.
    * Same plan shape as κ: one confusion partial agg, label-bounded
    * marginal rollups; π_k quantized to 1e-9 longs before the cross-label
    * sum (order-independence), AC1 = (p_o − p_e)/(1 − p_e) a fixed chain,
    * 6-dp rounded; both-raters-constant (p_e = 1) → NULL. */
  def gwetAc1(
      df: DataFrame, raterACol: String, raterBCol: String): DataFrame = {
    val conf = df.groupBy(col(raterACol).as("__a"), col(raterBCol).as("__b"))
      .agg(count(lit(1)).as("__c"))
    val rowm = conf.groupBy(col("__a").as("__l")).agg(sum(col("__c")).as("__ra"))
    val colm = conf.groupBy(col("__b").as("__l")).agg(sum(col("__c")).as("__rb"))
    val tot = conf.agg(
      sum(col("__c")).as("__n"),
      sum(when(col("__a") <=> col("__b"), col("__c")).otherwise(0L)).as("__diag"))
    val marg = rowm.join(colm, Seq("__l"), "full_outer")
      .select(col("__l"),
        (coalesce(col("__ra"), lit(0L)) + coalesce(col("__rb"), lit(0L)))
          .as("__m2"))
      .crossJoin(broadcast(tot))
    // pi_k = m2/(2n); term pi(1-pi) quantized to 1e-9 before the K-sum
    val pi = col("__m2").cast("double") / (col("__n").cast("double") * 2.0)
    val kAgg = marg.agg(
      count(lit(1)).as("__k"),
      sum(floor(pi * (lit(1.0) - pi) * 1e9 + 0.5).cast("long")).as("__sq"))
    val agg = tot.crossJoin(broadcast(kAgg))
    val nD = col("__n").cast("double")
    val po = col("__diag").cast("double") / nD
    val pe = col("__sq").cast("double") / 1e9 /
      (col("__k").cast("double") - 1.0)
    agg.select(
      col("__n").as("n"),
      col("__k").as("n_labels"),
      round(po, 6).as("p_observed"),
      when(col("__k") > 1, round(pe, 6)).as("p_chance_ac1"),
      when(col("__k") > 1, when(pe < 1.0,
        round((po - pe) / (lit(1.0) - pe), 6))).as("ac1"))
  }

  /** Cronbach's α — internal-consistency reliability of a set of "items"
    * (columns of an implicit subject×item count matrix, e.g. per-user
    * event-type counts): α = k/(k−1)·(1 − Σσ²ᵢ/σ²_total). Subjects
    * missing an item count as 0 WITHOUT densifying: per-item and total
    * variances come from exact integer (S, Σv²-as-DECIMAL) sums over the
    * observed rows with n = the distinct subject count, so zeros
    * contribute nothing to the sums and everything to the n — no spine
    * join at any scale. Two partial aggs + one k-row rollup; the only
    * float SUM spans k item variances. */
  def cronbachAlpha(
      df: DataFrame,
      subjectCol: String,
      itemCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val v = col(valueCol).cast("long")
    val cells = df.groupBy(col(subjectCol).as("__s"), col(itemCol).as("__i"))
      .agg(sum(v).as("__v"))
    val u = cells.select(col("__s")).distinct().count()
    def varCol: Column =
      (col("__q").cast("double") -
        col("__sv").cast("double") * col("__sv").cast("double") / lit(u.toDouble)) /
        lit(u.toDouble)
    val items = cells.groupBy(col("__i"))
      .agg(sum(col("__v")).as("__sv"),
        sum(col("__v").cast(dec) * col("__v").cast(dec)).as("__q"))
      .withColumn("__var", varCol)
    val totals = cells.groupBy(col("__s")).agg(sum(col("__v")).as("__t"))
      .agg(sum(col("__t")).as("__sv"),
        sum(col("__t").cast(dec) * col("__t").cast(dec)).as("__q"))
      .withColumn("__vart", varCol)
    val kd = count(lit(1)).cast("double")
    items.agg(count(lit(1)).as("n_items"), sum(col("__var")).as("__sumvar"),
        (kd / (kd - lit(1.0))).as("__kfrac"))
      .crossJoin(broadcast(totals.select(col("__vart"))))
      .select(
        lit(u).as("n_subjects"), col("n_items"),
        when(col("__vart") > 0,
          round(col("__kfrac") * (lit(1.0) - col("__sumvar") / col("__vart")), 6))
          .as("alpha"))
  }

  /** Kendall τ-b per key — concordance-based rank association, the
    * heavy-tie-robust companion to [[spearmanCorr]]: τ_b =
    * (C − D)/√((n₀−n_x)(n₀−n_y)) over all point pairs, with C/D/tie
    * counts EXACT integers from a per-key pair self-join — so the whole
    * statistic is integer-backed and one sqrt from exact. The join is
    * O(n²) per key by definition; this is the BOUNDED-series form (daily
    * aggregates, calendar-capped groups — the Theil–Sen discipline), not
    * a row-scale operator. */
  def kendallTau(
      df: DataFrame, keyCols: Seq[String], xCol: String, yCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val pts = df.select(keys ++ Seq(
      col(xCol).cast("long").as("__x"), col(yCol).cast("long").as("__y"),
      monotonically_increasing_id().as("__r")): _*)
    // n and per-axis tie pair counts from histograms — cheaper than the join
    val nTot = pts.groupBy(keys: _*).agg(count(lit(1)).as("n"))
    def tiePairs(c: String, out: String): DataFrame =
      pts.groupBy(keys :+ col(c): _*).agg(count(lit(1)).as("__c"))
        .groupBy(keys: _*)
        .agg(sum(col("__c") * (col("__c") - 1) / 2).as(out))
    val a = pts.select(keys ++ Seq(col("__x").as("__xa"), col("__y").as("__ya"),
      col("__r").as("__ra")): _*)
    val b = pts.select(keys ++ Seq(col("__x").as("__xb"), col("__y").as("__yb"),
      col("__r").as("__rb")): _*)
    val sgn = (signum(col("__xa") - col("__xb")) *
      signum(col("__ya") - col("__yb"))).cast("long")
    val pairs = a.join(b, keyCols).filter(col("__ra") < col("__rb"))
      .groupBy(keys: _*)
      .agg(
        sum(when(sgn === 1L, 1L).otherwise(0L)).as("__conc"),
        sum(when(sgn === -1L, 1L).otherwise(0L)).as("__disc"))
    nTot.join(tiePairs("__x", "__tx"), keyCols)
      .join(tiePairs("__y", "__ty"), keyCols)
      .join(pairs, keyCols)
      .select(keys ++ Seq(
        col("n"), col("__conc").as("concordant"), col("__disc").as("discordant"),
        // explicit guard: an all-tied axis zeroes the denominator, and
        // engines disagree on 0/0 rendering
        when((col("n") * (col("n") - 1) / 2 - col("__tx")) *
            (col("n") * (col("n") - 1) / 2 - col("__ty")) > 0,
          round((col("__conc") - col("__disc")).cast("double") /
            sqrt((col("n") * (col("n") - 1) / 2 - col("__tx")).cast("double") *
              (col("n") * (col("n") - 1) / 2 - col("__ty")).cast("double")), 6))
          .as("tau_b")): _*)
  }

  /** Cochran–Armitage trend test (1954/55) — "does the success rate climb
    * MONOTONICALLY with an ordered dose/severity score?" — the ordered
    * alternative the unordered independence family (X65/X224) has no power
    * for: T = Σ sᵢ(xᵢ − nᵢX/N) against Var(T) = p̄(1−p̄)(Σnᵢsᵢ² − (Σnᵢsᵢ)²/N).
    *
    * Re-associated to exact integers: Tn = N·Σsx − X·Σsn and
    * S2 = N·Σns² − (Σsn)² stay exact decimal(38,0) products (ONE
    * nearest-double conversion each), z = Tn / √(X(N−X)·S2 / N) a fixed
    * IEEE chain — engine-deterministic with no quantization. One partial
    * agg to the score domain, one 1-row reduction. Degenerate inputs
    * (all-success, all-failure, single score) return NULL z. */
  def cochranArmitage(
      df: DataFrame,
      scoreCol: String,
      outcomeCol: String): DataFrame = {
    val s = col(scoreCol).cast("long")
    val o = col(outcomeCol).cast("boolean")
    val grp = df
      .filter(s.isNotNull && o.isNotNull)
      .groupBy(s.as("__s"))
      .agg(count(lit(1)).as("__n"), sum(when(o, 1L).otherwise(0L)).as("__x"))
    def d(c: Column): Column = c.cast("decimal(38,0)")
    val agg = grp.agg(
      count(lit(1)).as("n_groups"),
      sum(col("__n")).as("n"),
      sum(col("__x")).as("x"),
      sum(d(col("__s")) * d(col("__n"))).as("__sn"),
      sum(d(col("__s")) * d(col("__x"))).as("__sx"),
      sum(d(col("__s")) * d(col("__s")) * d(col("__n"))).as("__sns2"))
    val nD = d(col("n"))
    val xD = d(col("x"))
    val tn = (nD * col("__sx") - xD * col("__sn")).cast("decimal(38,0)")
    val s2 = (nD * col("__sns2") - col("__sn") * col("__sn")).cast("decimal(38,0)")
    // X·(N−X)·S2 as a fixed double chain of exactly-converted integers —
    // the all-decimal product can exceed 38 digits at extreme N
    val varD = col("x").cast("double") * (col("n") - col("x")).cast("double") *
      s2.cast("double")
    agg.select(
      col("n_groups"), col("n"), col("x"),
      when(col("x") > 0L && col("x") < col("n") && s2 =!= 0,
        tn.cast("double") / sqrt(varD / col("n").cast("double")))
        .as("z"))
  }

  /** Fisher's EXACT test per stratum — the small-count 2×2 inference the
    * asymptotic family (X65 chi-square / X224 G) is invalid for (expected
    * cells < 5): the two-sided p sums hypergeometric probabilities of
    * every table as-or-more extreme than the observed one (the standard
    * "P(k) ≤ P(obs)·(1+1e-7)" convention).
    *
    * Engine-exact by construction: a log-factorial PREFIX TABLE in integer
    * 1e-12 ln units (lf(i) = Σ floor(ln(j)·1e12+0.5) — any engine rebuilds
    * the identical integers) makes every table's log-probability an exact
    * integer sum, so the which-tables-qualify decision is an INTEGER
    * comparison (tolerance = 100000 ≡ 1e-7) that can never diverge
    * cross-engine; only then does each qualifying term exp() back to a
    * probability, quantized to 1e-12 before the ascending-k sum.
    *
    * Scale: the k-range explode is bounded by `maxTableN`, and strata with
    * n > maxTableN return NULL p BEFORE any fan-out — Fisher is a
    * small-count test (use chi-square/G above it), so the guard is the
    * contract, not a limitation. The lf table is maxTableN+1 longs built
    * driver-side and shipped as ONE literal (80 KB at the default).
    * Returns per stratum (a, b, c, d, n, odds_ratio, p_two_sided). */
  def fisherExact(
      df: DataFrame,
      strataCol: String,
      exposedCol: String,
      outcomeCol: String,
      maxTableN: Int = 10000): DataFrame = {
    require(maxTableN >= 1 && maxTableN <= 100000,
      s"maxTableN must be in [1, 100000], got $maxTableN")
    val lf = new Array[Long](maxTableN + 1)
    var acc = 0L
    var i = 1
    while (i <= maxTableN) {
      acc += math.floor(math.log(i.toDouble) * 1e12 + 0.5).toLong
      lf(i) = acc
      i += 1
    }
    val lfLit = typedLit(lf.toSeq)
    def lfAt(c: Column): Column = element_at(lfLit, (c + lit(1L)).cast("int"))
    val e = col(exposedCol).cast("boolean")
    val o = col(outcomeCol).cast("boolean")
    def cnt(p: Column): Column = sum(when(p, 1L).otherwise(0L))
    val wide = df.groupBy(col(strataCol))
      .agg(
        cnt(e && o).as("a"), cnt(e && !o).as("b"),
        cnt(!e && o).as("c"), cnt(!e && !o).as("d"),
        count(lit(1)).as("n"))
      .withColumn("__r1", col("a") + col("b"))
      .withColumn("__r2", col("c") + col("d"))
      .withColumn("__c1", col("a") + col("c"))
      .withColumn("__fits", col("n") <= lit(maxTableN.toLong))
      .withColumn("__const",
        when(col("__fits"),
          lfAt(col("__r1")) + lfAt(col("__r2")) + lfAt(col("__c1")) +
            lfAt(col("n") - col("__c1")) - lfAt(col("n"))))
    def lnP(k: Column): Column =
      col("__const") - lfAt(k) - lfAt(col("__r1") - k) -
        lfAt(col("__c1") - k) - lfAt(col("__r2") - col("__c1") + k)
    val terms = wide
      .filter(col("__fits"))
      .withColumn("__k",
        explode(sequence(
          greatest(lit(0L), col("__c1") - col("__r2")),
          least(col("__r1"), col("__c1")))))
      .withColumn("__lnq", lnP(col("__k")))
      .withColumn("__lnqA", lnP(col("a")))
      .filter(col("__lnq") <= col("__lnqA") + lit(100000L))
      .groupBy(col(strataCol))
      .agg(sum(
        floor(exp(col("__lnq").cast("double") / 1e12) * 1e12 + 0.5).cast("long"))
        .as("__pq"))
    wide
      .join(terms, Seq(strataCol), "left")
      .select(
        col(strataCol),
        col("a"), col("b"), col("c"), col("d"), col("n"),
        when(col("b") > 0L && col("c") > 0L,
          (col("a") * col("d")).cast("double") / (col("b") * col("c")).cast("double"))
          .as("odds_ratio"),
        when(col("__fits"), col("__pq").cast("double") / 1e12).as("p_two_sided"))
  }

  /** Mantel–Haenszel pooled odds ratio across strata — the confounder-
    * adjusted association readout of stratified surveillance analysis
    * (the reference domain's workhorse next to age/sex standardization):
    * per stratum the 2×2 cell counts (a, b, c, d), OR_MH =
    * Σ(aᵢdᵢ/nᵢ) / Σ(bᵢcᵢ/nᵢ), reported beside the crude (collapsed) OR
    * whose divergence IS the confounding signal (Simpson's paradox gate).
    * One partial agg to k stratum rows; cell products are exact longs,
    * per-stratum terms single divisions, the only float SUMs span k
    * strata. Strata where any margin is empty still contribute their
    * defined terms (0 numerators drop out naturally); a zero denominator
    * yields NULL. */
  def mantelHaenszel(
      df: DataFrame,
      strataCol: String,
      exposedCol: String,
      outcomeCol: String): DataFrame = {
    val e = col(exposedCol).cast("boolean")
    val o = col(outcomeCol).cast("boolean")
    def cnt(p: Column): Column = sum(when(p, 1L).otherwise(0L))
    val strata = df.groupBy(col(strataCol))
      .agg(
        cnt(e && o).as("__a"), cnt(e && !o).as("__b"),
        cnt(!e && o).as("__c"), cnt(!e && !o).as("__d"),
        count(lit(1)).as("__n"))
    val nD = col("__n").cast("double")
    strata
      .withColumn("__num", col("__a").cast("double") * col("__d").cast("double") / nD)
      .withColumn("__den", col("__b").cast("double") * col("__c").cast("double") / nD)
      .agg(
        sum(col("__n")).as("n"),
        count(lit(1)).as("n_strata"),
        sum(col("__a")).as("__sa"), sum(col("__b")).as("__sb"),
        sum(col("__c")).as("__sc"), sum(col("__d")).as("__sd"),
        sum(col("__num")).as("__snum"), sum(col("__den")).as("__sden"))
      .select(
        col("n"), col("n_strata"),
        when(col("__sb") > 0 && col("__sc") > 0,
          round((col("__sa").cast("double") * col("__sd").cast("double")) /
            (col("__sb").cast("double") * col("__sc").cast("double")), 6))
          .as("or_crude"),
        when(col("__sden") > 0, round(col("__snum") / col("__sden"), 6))
          .as("or_mh"))
  }

  /** AMS tug-of-war F₂ sketch (Alon, Matias & Szegedy, STOC 1996) — the
    * SECOND-frequency-moment estimator completing the sketch family (HLL
    * counts distinct = F₀, CMS points, KLL quantiles, Misra–Gries heavy
    * hitters; F₂ = Σf²ₓ is the SELF-JOIN SIZE, the quantity the X146 CMS
    * join advisor and every skew planner actually want): k independent
    * estimators Sᵢ = Σₓ signᵢ(x)·fₓ with 4-universal-style ±1 signs, each
    * Sᵢ² unbiased for F₂, averaged. The exact F₂ and the relative error
    * ship beside the estimate — this gate IS the "how wrong is the sketch"
    * audit.
    *
    * Signs are DETERMINISTIC BY DESIGN (md5(i|x) low bit — the noisyCounts
    * trade, reproducible and cross-engine replayable; production swaps a
    * seeded 4-wise hash family, same shape). Fully relational and exact:
    * one partial agg to the value histogram, estimator fan-out k on the
    * HISTOGRAM (never the rows), per-estimator sums exact DECIMAL(38,0),
    * the average ONE double division rounded 6 dp. The k·distinct fan-out
    * is the declared knob — k is a constant (default 64), so the sketch
    * pass stays linear in distinct values at any corpus size. */
  def amsF2(df: DataFrame, valueCol: String, k: Int = 64): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val hist = df.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).cast("string").as("__v"))
      .agg(count(lit(1)).as("__c"))
    val exact = hist.agg(
      coalesce(sum(col("__c")), lit(0L)).as("__n"),
      count(lit(1)).as("__d"),
      coalesce(sum(dec(col("__c")) * dec(col("__c"))),
        lit(0).cast("decimal(38,0)")).as("__f2"))
    val sign = when(
      conv(substring(md5(concat_ws("|", col("__i").cast("string"), col("__v"))),
        1, 13), 16, 10).cast("long") % 2 === 0, lit(1L)).otherwise(lit(-1L))
    val perEst = hist
      .withColumn("__i", explode(sequence(lit(0), lit(k - 1))))
      .groupBy(col("__i"))
      .agg(sum(dec(sign * col("__c"))).as("__s"))
    val estAgg = perEst.agg(
      coalesce(sum(col("__s") * col("__s")), lit(0).cast("decimal(38,0)"))
        .as("__ss"))
    val f2e = col("__f2").cast("double")
    val est = col("__ss").cast("double") / lit(k.toDouble)
    exact.crossJoin(broadcast(estAgg)).select(
      col("__n").as("n"),
      col("__d").as("n_distinct"),
      round(f2e, 6).as("f2_exact"),
      round(est, 6).as("f2_est"),
      when(col("__f2") > 0, round(abs(est - f2e) / f2e, 6)).as("rel_err"))
  }

  /** Cochran–Mantel–Haenszel χ² test (Cochran 1954; Mantel & Haenszel
    * 1959) — the INFERENCE layer over [[mantelHaenszel]]'s pooled-OR
    * estimate on the same stratified 2×2 layout: "is the exposure–outcome
    * association real AFTER adjusting for the confounder?" χ² =
    * (Σ(aᵢ−E[aᵢ]))²/ΣVar(aᵢ) with E = r₁c₁/n and Var = r₁r₀c₁c₀/(n²(n−1))
    * per stratum, ~χ²(1) under H0; the ½-continuity-corrected form
    * (Mantel–Haenszel's original) ships beside it, clamped at 0.
    *
    * Determinism: per-stratum cells are exact longs; each stratum's
    * deviation (a·n − r₁·c₁)/n and variance term are ONE double division
    * of exact DECIMAL(38,0) operands, quantized decimal(30,12) before the
    * strata sums (the chiSquare discipline — float SUMs span only k
    * strata but partition order must still not matter); the statistic is
    * a square and a division of those exact sums, 6-dp rounded. n ≤ 1
    * strata carry zero information (deviation identically 0) and
    * contribute nothing; ΣVar = 0 (every stratum degenerate) → NULL. */
  def cmhTest(
      df: DataFrame,
      strataCol: String,
      exposedCol: String,
      outcomeCol: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val e = col(exposedCol).cast("boolean")
    val o = col(outcomeCol).cast("boolean")
    def cnt(p: Column): Column = sum(when(p, 1L).otherwise(0L))
    val strata = df.groupBy(col(strataCol))
      .agg(
        cnt(e && o).as("__a"), cnt(e && !o).as("__b"),
        cnt(!e && o).as("__c"), cnt(!e && !o).as("__d"),
        count(lit(1)).as("__n"))
      .withColumn("__r1", col("__a") + col("__b"))
      .withColumn("__r0", col("__c") + col("__d"))
      .withColumn("__c1", col("__a") + col("__c"))
      .withColumn("__c0", col("__b") + col("__d"))
    val diff = (dec(col("__a")) * dec(col("__n"))
      - dec(col("__r1")) * dec(col("__c1"))).cast("double") /
      col("__n").cast("double")
    val vr = (dec(col("__r1")) * dec(col("__r0")) * dec(col("__c1"))
      * dec(col("__c0"))).cast("double") /
      (dec(col("__n")) * dec(col("__n")) * dec(col("__n") - 1)).cast("double")
    val agg = strata.agg(
      sum(col("__n")).as("n"),
      count(lit(1)).as("n_strata"),
      sum(when(col("__n") > 1, diff.cast("decimal(30,12)"))
        .otherwise(lit(0).cast("decimal(30,12)"))).as("__sd"),
      sum(when(col("__n") > 1, vr.cast("decimal(30,12)"))
        .otherwise(lit(0).cast("decimal(30,12)"))).as("__sv"))
    val sd = col("__sd").cast("double")
    val sv = col("__sv").cast("double")
    val corr = greatest(abs(sd) - 0.5, lit(0.0))
    agg.select(
      col("n"), col("n_strata"),
      when(col("__sv") > 0, round(sd * sd / sv, 6)).as("chi2_cmh"),
      when(col("__sv") > 0, round(corr * corr / sv, 6)).as("chi2_cmh_corrected"))
  }

  /** Huber robust location per group — IRLS with the Huber ψ: weight 1
    * inside `k` quantized units of the current estimate, k/|r| outside,
    * run for `iters` fixed sweeps from the plain mean. Every iteration is
    * bit-reproducible: weights quantize to 1e9-scaled longs
    * (`floor(min(1, k/|r|)·1e9 + 0.5)` — single IEEE ops from exact
    * integers), the weighted mean is a ratio of exact DECIMAL sums, and
    * the estimate re-quantizes to the integer grid each sweep — so a
    * chained-CTE oracle replays the whole refinement. The sweeps compose
    * into ONE lazy plan (no driver actions): each is a broadcast join of
    * the k-row estimate onto the base + one partial agg.
    * `valueCol` must be pre-quantized integral. */
  def huberLocation(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      k: Long,
      iters: Int = 3): DataFrame = {
    require(k > 0 && iters >= 1, s"need k > 0, iters >= 1; got k=$k iters=$iters")
    val dec = "decimal(38,0)"
    val v = col(valueCol).cast("long")
    val base = df.select(col(groupCol).as("__g"), v.as("__v"))
    // sweep 0: plain mean, floor(S/n + 0.5) on the grid
    var est = base.groupBy(col("__g"))
      .agg(floor(sum(col("__v")).cast("double") / count(lit(1)) + 0.5)
        .cast("long").as("__m"))
    for (_ <- 1 to iters) {
      val r = abs(col("__v") - col("__m")).cast("double")
      val w = when(r <= lit(k.toDouble), lit(1.0))
        .otherwise(lit(k.toDouble) / r)
      val wq = floor(w * 1e9 + 0.5).cast("long")
      est = base.join(broadcast(est), Seq("__g"))
        .withColumn("__wq", wq)
        .groupBy(col("__g"))
        .agg(floor(
          sum(col("__wq").cast(dec) * col("__v").cast(dec)).cast("double") /
            sum(col("__wq")).cast("double") + 0.5).cast("long").as("__m"))
    }
    val stats = base.groupBy(col("__g"))
      .agg(count(lit(1)).as("n"),
        floor(sum(col("__v")).cast("double") / count(lit(1)) + 0.5)
          .cast("long").as("plain_mean"))
    stats.join(est, Seq("__g"))
      .select(col("__g").as(groupCol), col("n"), col("plain_mean"),
        col("__m").as("huber_mean"))
  }

  /** Tukey-style pairwise post-hoc contrasts after [[anovaF]] — for every
    * group pair the mean difference, pooled-MSW standard error
    * `sqrt(MSW/2 · (1/nᵢ + 1/nⱼ))` and studentized statistic
    * q = |m̄ᵢ − m̄ⱼ|/SE: which groups actually differ once the omnibus F
    * fires. Group moments come from ONE partial aggregate on pre-quantized
    * longs; the k-row moment table self-joins (k tiny — broadcast), every
    * statistic single IEEE ops from exact sums. */
  def tukeyPairs(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val v = col(valueCol).cast("long")
    val g = df.groupBy(col(groupCol).as("__g"))
      .agg(
        count(lit(1)).as("__ng"),
        sum(v).as("__sg"),
        sum(v.cast(dec) * v.cast(dec)).as("__qg"))
    val wAll = Window.partitionBy()
    val ssw = sum(
      col("__qg").cast("double") -
        col("__sg").cast("double") * col("__sg").cast("double") /
          col("__ng").cast("double")).over(wAll)
    val moments = g
      .withColumn("__n", sum(col("__ng")).over(wAll))
      .withColumn("__k", count(lit(1)).over(wAll))
      .withColumn("__msw", ssw / (col("__n") - col("__k")).cast("double"))
    val a = moments.select(
      col("__g").as("group_a"), col("__ng").as("__na"), col("__sg").as("__sa"),
      col("__msw"))
    val b = moments.select(
      col("__g").as("group_b"), col("__ng").as("__nb"), col("__sg").as("__sb"))
    val diff = col("__sa").cast("double") / col("__na").cast("double") -
      col("__sb").cast("double") / col("__nb").cast("double")
    val se = sqrt(col("__msw") / lit(2.0) *
      (lit(1.0) / col("__na").cast("double") + lit(1.0) / col("__nb").cast("double")))
    broadcast(a).join(b, col("group_a") < col("group_b"))
      .select(
        col("group_a"), col("group_b"),
        round(diff, 6).as("mean_diff"),
        round(se, 6).as("se"),
        round(abs(diff) / se, 6).as("q_stat"))
  }

  /** Kruskal–Wallis H (rank one-way ANOVA across the `groupCol` levels) —
    * the k-sample generalization of [[mannWhitneyU]], sharing its exact
    * midrank machinery: value histogram → one global ordered pass for
    * doubled midranks (`2r` stays a long, ties contribute `t³−t`) → one
    * per-group aggregate. H uses the CENTERED form
    * `3/(N(N+1)) · Σ n_g (r̄2_g − (N+1))²` (doubled ranks throughout):
    * every per-group term derives from exact long sums by single IEEE ops,
    * so the only cross-engine float SUM runs over k centered group terms
    * whose reordering error is ~1e-14 of H — the uncentered
    * `Σ R_g²/n_g` form would put that same reordering at 1e20 magnitude
    * and visibly perturb the 6th decimal. Two shuffles total (value
    * histogram, group rollup), both on bounded cardinality. */
  def kruskalWallis(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val h = df.select(col(groupCol).as("__g"), col(valueCol).as("__s"))
      .groupBy(col("__g"), col("__s")).agg(count(lit(1)).as("__cg"))
    // per-value totals + doubled midrank from the cumulative count of
    // STRICTLY smaller values (window over the distinct-value table so
    // same-value rows never accumulate each other)
    val v = h.groupBy(col("__s")).agg(sum(col("__cg")).as("__c"))
      .withColumn("__prev",
        coalesce(sum(col("__c")).over(
          Window.orderBy(col("__s")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__r2", lit(2L) * col("__prev") + col("__c") + lit(1L))
      .withColumn("__tie", col("__c") * col("__c") * col("__c") - col("__c"))
    val perGroup = h.join(v.select(col("__s"), col("__r2")), Seq("__s"))
      .groupBy(col("__g"))
      .agg(sum(col("__cg")).as("__ng"), sum(col("__cg") * col("__r2")).as("__rg2"))
    val nTot = sum(col("__ng")).over(Window.partitionBy())
    val terms = perGroup
      .withColumn("__n", nTot)
      .withColumn("__mean2", col("__rg2").cast("double") / col("__ng").cast("double"))
      .withColumn("__d", col("__mean2") - (col("__n") + lit(1L)).cast("double"))
      .withColumn("__t", col("__ng").cast("double") * col("__d") * col("__d"))
    val ties = v.agg(sum(col("__tie")).as("__ties"))
    val nD = col("__n").cast("double")
    terms.groupBy(col("__n"))
      .agg(count(lit(1)).as("n_groups"), sum(col("__t")).as("__sum"))
      .crossJoin(ties)
      .select(
        col("__n").as("n"), col("n_groups"),
        round(
          (lit(3.0) * col("__sum") / (nD * (nD + lit(1.0)))) /
            (lit(1.0) - col("__ties").cast("double") /
              (nD * nD * nD - nD)), 6).as("h"))
  }

  /** Spearman rank correlation of `xCol` vs `yCol` per key — Pearson over
    * tie-averaged ranks, with every moment EXACT: doubled midranks
    * (`2·rank + tie_count − 1`, longs) feed integer sums, products promote
    * to DECIMAL(38,0) before they can wrap a long, and the only floating
    * ops are the final single divisions/sqrts from exact operands — so
    * both engines produce identical bits and the result hash-gates.
    * Shape: two rank windows + one tie-count window per axis on the same
    * per-key partitioning (one shuffle), then one partial aggregate. */
  def spearmanCorr(
      df: DataFrame, keyCols: Seq[String], xCol: String, yCol: String): DataFrame = {
    val keys = keyCols.map(col)
    def r2(c: String, out: String): Column =
      (lit(2L) * rank().over(Window.partitionBy(keys: _*).orderBy(col(c))) +
        count(lit(1)).over(Window.partitionBy(keys :+ col(c): _*)) - lit(1L)).as(out)
    val dec = "decimal(38,0)"
    val ranked = df.select(keys :+ r2(xCol, "__rx") :+ r2(yCol, "__ry"): _*)
    ranked.groupBy(keys: _*)
      .agg(
        count(lit(1)).as("n"),
        sum(col("__rx")).as("__sx"), sum(col("__ry")).as("__sy"),
        sum(col("__rx") * col("__ry")).as("__sxy"),
        sum(col("__rx") * col("__rx")).as("__sxx"),
        sum(col("__ry") * col("__ry")).as("__syy"))
      .select(keys ++ Seq(
        col("n"),
        round(
          (col("n").cast(dec) * col("__sxy").cast(dec) -
            col("__sx").cast(dec) * col("__sy").cast(dec)).cast("double") /
            (sqrt((col("n").cast(dec) * col("__sxx").cast(dec) -
              col("__sx").cast(dec) * col("__sx").cast(dec)).cast("double")) *
             sqrt((col("n").cast(dec) * col("__syy").cast(dec) -
              col("__sy").cast(dec) * col("__sy").cast(dec)).cast("double"))), 6)
          .as("rho")): _*)
  }

  /** Shannon / Simpson diversity of a categorical column per key — the
    * corpus-mix health check (how evenly does each user/source spread over
    * event types / languages / domains). One partial category count + one
    * per-key rollup; entropy terms are single-op doubles from exact longs
    * (the [[graft.operators.TextAnalysis]] char-entropy recipe), evenness
    * normalizes by ln(k). */
  def diversityIndex(df: DataFrame, keyCols: Seq[String], catCol: String): DataFrame =
    diversityAssemble(
      df.groupBy(keyCols.map(col) :+ col(catCol): _*).agg(count(lit(1)).as("__c")),
      keyCols)

  /** Assembly half of [[diversityIndex]] over a pre-counted
    * (keys..., category, `__c`) table — shared by the streaming twin,
    * whose state store accumulates exactly these integer counts. */
  def diversityAssemble(counts: DataFrame, keyCols: Seq[String]): DataFrame = {
    val keys = keyCols.map(col)
    val n = sum(col("__c")).over(Window.partitionBy(keys: _*))
    val p = col("__c").cast("double") / col("__n").cast("double")
    counts.withColumn("__n", n)
      .groupBy(keys: _*)
      .agg(
        max(col("__n")).as("n"),
        count(lit(1)).as("n_categories"),
        round(-sum(p * log(p)), 6).as("shannon"),
        round(lit(1.0) - sum(p * p), 6).as("simpson"),
        // single-category keys get NULL evenness (0/0 would be NaN, whose
        // rendering is engine-specific) — explicit on both engines
        when(count(lit(1)) > 1,
          round(-sum(p * log(p)) / log(count(lit(1)).cast("double")), 6))
          .as("evenness"))
  }

  /** Weight of evidence + information value per category of a categorical
    * predictor against a binary outcome — the credit-scoring standard for
    * "how separating is this feature?": WOE_i = ln((good_i/G)/(bad_i/B)),
    * IV = Σ (good_i/G − bad_i/B)·WOE_i (rule of thumb: IV > 0.3 strong).
    *
    * Cross products good_i·B / bad_i·G stay exact longs so WOE is one
    * division + one log and the share difference one division; each IV
    * term is that fixed chain QUANTIZED to 1e-9 longs before the sum.
    * Zero-cell categories get NULL WOE and contribute 0 to IV (standard
    * practice absent smoothing — explicit on both engines). One partial
    * agg to the category domain; windows run on that bounded table. */
  def woeIv(
      df: DataFrame,
      catCol: String,
      labelCol: String): DataFrame = {
    val agg = df.groupBy(col(catCol).as("category"))
      .agg(
        sum(when(col(labelCol), 0L).otherwise(1L)).as("n_good"),
        sum(when(col(labelCol), 1L).otherwise(0L)).as("n_bad"))
    val wAll = Window.partitionBy(lit(1))
    val woe = log((col("n_good") * col("__B")).cast("double") /
      (col("n_bad") * col("__G")).cast("double"))
    val diff = (col("n_good") * col("__B") - col("n_bad") * col("__G"))
      .cast("double") / (col("__G") * col("__B")).cast("double")
    val valid = col("n_good") > 0 && col("n_bad") > 0
    agg
      .withColumn("__G", sum(col("n_good")).over(wAll))
      .withColumn("__B", sum(col("n_bad")).over(wAll))
      .withColumn("__tq",
        when(valid, floor(diff * woe * 1e9 + 0.5).cast("long")).otherwise(0L))
      .select(
        col("category"), col("n_good"), col("n_bad"),
        when(valid, round(woe, 6)).as("woe"),
        when(valid, round(diff * woe, 6)).as("iv_term"),
        round(sum(col("__tq")).over(wAll).cast("double") / lit(1e9), 6)
          .as("iv"))
  }

  /** Decile lift/gains table — the campaign-targeting readout beside
    * [[rocAuc]]: rows sorted by score DESCENDING into NTILE(`buckets`)
    * bins over an explicit caller-guaranteed total order (ties broken by
    * `tieCols` — engine-deterministic binning, the Lorenz discipline);
    * per bin the response rate, lift vs the base rate, and cumulative
    * gain (share of all responders captured down to this bin).
    *
    * Counts stay exact longs; response_rate and cum_gain are single
    * divisions and lift is ONE division of the exact cross products
    * (resp_b·n)/(n_b·resp) — no float transits anything but the final
    * ratio. One window for binning + one partial agg + bounded
    * (buckets-sized) cumulative window per key. */
  def liftTable(
      df: DataFrame,
      keyCols: Seq[String],
      scoreCol: String,
      labelCol: String,
      tieCols: Seq[String],
      buckets: Int = 10): DataFrame = {
    val keys = keyCols.map(col)
    val w = Window.partitionBy(keys: _*)
      .orderBy(col(scoreCol).desc +: tieCols.map(col): _*)
    val binned = df
      .select(keys ++ Seq(col(scoreCol), when(col(labelCol), 1L)
        .otherwise(0L).as("__y")) ++ tieCols.map(col): _*)
      .withColumn("__b", ntile(buckets).over(w))
    val per = binned.groupBy(keys :+ col("__b"): _*)
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("responders"))
    val wAll = Window.partitionBy(keys: _*)
    val wCum = Window.partitionBy(keys: _*).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per
      .withColumn("__nt", sum(col("n")).over(wAll))
      .withColumn("__rt", sum(col("responders")).over(wAll))
      .withColumn("__rc", sum(col("responders")).over(wCum))
      .select(keys ++ Seq(
        col("__b").as("bucket"), col("n"), col("responders"),
        round(col("responders").cast("double") / col("n").cast("double"), 6)
          .as("response_rate"),
        when(col("__rt") > 0,
          round((col("responders") * col("__nt")).cast("double") /
            (col("n") * col("__rt")).cast("double"), 6)).as("lift"),
        when(col("__rt") > 0,
          round(col("__rc").cast("double") / col("__rt").cast("double"), 6))
          .as("cum_gain")): _*)
  }

  /** Exact ROC AUC for a binary label against an integral score — the
    * ranking-quality readout of a scoring pipeline (quality gates, linkage
    * scores, risk models), computed by the tie-aware Mann–Whitney rank
    * identity rather than any curve interpolation:
    * AUC = (Σ avg-ranks of positives − n₁(n₁+1)/2) / (n₁·n₀),
    * where ties get the midrank (tied pos/neg pairs count ½).
    *
    * EXACT-RATIONAL: on the score-collapsed table each block's doubled
    * positive rank-sum is p·(2·before + c + 1) — exact longs throughout —
    * so AUC is EXACTLY ONE division of exact integers, then rounded.
    * One partial aggregate collapses the corpus to distinct scores; the
    * cumulative count over that histogram runs through the two-pass
    * range-partitioned prefix sum ([[Relational.globalRunningSums]]), so
    * no single-partition sort exists at ANY score cardinality. */
  def rocAuc(
      df: DataFrame,
      labelCol: String,
      scoreCol: String): DataFrame = {
    val hist = df
      .groupBy(col(scoreCol).cast("long").as("__v"))
      .agg(
        sum(when(col(labelCol), 1L).otherwise(0L)).as("__p"),
        count(lit(1)).as("__c"))
    val before = col("__cum") - col("__c")
    val t = Relational
      .globalRunningSums(hist, Seq(col("__v")), Seq("__c" -> "__cum"))
      .withColumn("__r2",
        col("__p") * (before * lit(2) + col("__c") + lit(1)))
    val n1 = sum(col("__p"))
    val n0 = sum(col("__c")) - sum(col("__p"))
    val num = sum(col("__r2")) - n1 * (n1 + lit(1))
    t.agg(
      n1.as("n_pos"),
      n0.as("n_neg"),
      round(num.cast("double") / (n1 * n0 * lit(2)).cast("double"), 6)
        .as("auc"))
  }

  /** Each row's score quantized to 1e-9 (`__pq`), its 0/1 label (`__y`)
    * and its equal-width bin of [0, 1] (`__bin`, an integer chain; p = 1.0
    * clamps into the top bin) — the head of [[reliabilityDiagram]],
    * [[calibrationError]] and [[brierDecomposition]]. */
  private def scoreBins(df: DataFrame, scoreCol: String, labelCol: String, bins: Int): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val pq = floor(col(scoreCol).cast("double") * 1000000000.0 + 0.5).cast("long")
    df.select(pq.as("__pq"), when(col(labelCol), 1L).otherwise(0L).as("__y"))
      .withColumn("__bin",
        least(floor((col("__pq") * bins).cast("double") / 1000000000.0).cast("long"),
          lit(bins - 1L)))
  }

  /** Reliability diagram — the calibration readout next to [[rocAuc]]'s
    * ranking readout (a model can rank perfectly and still be
    * miscalibrated): probability scores quantize per-row to 1e-9 longs,
    * bin by equal-width B-ths of [0,1] (integer chain, p = 1.0 clamps into
    * the top bin), and each bin reports (n, n_pos, mean predicted
    * probability, observed positive rate). One partial aggregate to the
    * B-row table; all sums are exact longs, so bins are bit-identical
    * across partitionings and engines.
    *
    * Output: (bin 0-based, n, n_pos, mean_pred, frac_pos). Empty bins are
    * absent (their diagram point does not exist). */
  def reliabilityDiagram(
      df: DataFrame,
      scoreCol: String,
      labelCol: String,
      bins: Int = 10): DataFrame = {
    scoreBins(df, scoreCol, labelCol, bins)
      .groupBy(col("__bin").as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("n_pos"),
        sum(col("__pq")).as("__sp"))
      .select(col("bin"), col("n"), col("n_pos"),
        round(col("__sp").cast("double") / 1000000000.0 / col("n").cast("double"), 6)
          .as("mean_pred"),
        round(col("n_pos").cast("double") / col("n").cast("double"), 6)
          .as("frac_pos"))
  }

  /** Expected / maximum calibration error (Naeini, Cooper & Hauskrecht
    * 2015) — the L1 calibration summary LLM evals actually quote, beside
    * [[brierDecomposition]]'s squared REL term: over equal-width score
    * bins, ECE = Σ n_b·|p̄_b − ō_b|/N and MCE = max_b |p̄_b − ō_b|.
    * The [[reliabilityDiagram]] binning verbatim (1e-9-quantized scores,
    * exact long bin moments); per-bin gaps are fixed IEEE chains cast to
    * DECIMAL(30,12) before the cross-bin reduction (a double SUM/MAX over
    * bins would be partition-order-dependent in the sum case; DECIMAL
    * keeps both exact). Returns ONE row: (n, n_bins_used, ece, mce). */
  def calibrationError(
      df: DataFrame,
      scoreCol: String,
      labelCol: String,
      bins: Int = 10): DataFrame = {
    val perBin = scoreBins(df, scoreCol, labelCol, bins)
      .groupBy(col("__bin"))
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__pos"),
        sum(col("__pq")).as("__sp"))
    val gap = abs(
      col("__sp").cast("double") / 1000000000.0 / col("__n").cast("double") -
        col("__pos").cast("double") / col("__n").cast("double"))
    perBin
      .withColumn("__wgap",
        (col("__n").cast("double") * gap).cast("decimal(30,12)"))
      .withColumn("__gap", gap.cast("decimal(30,12)"))
      .agg(
        sum(col("__n")).as("n"),
        count(lit(1)).as("n_bins_used"),
        sum(col("__wgap")).as("__sw"),
        max(col("__gap")).as("__mx"))
      .select(col("n"), col("n_bins_used"),
        round(col("__sw").cast("double") / col("n").cast("double"), 6).as("ece"),
        round(col("__mx").cast("double"), 6).as("mce"))
  }

  /** Murphy (1973) decomposition of the Brier score — calibration
    * (reliability), discrimination (resolution) and base-rate entropy
    * (uncertainty) as one summary row beside [[reliabilityDiagram]]'s
    * per-bin view: BS = mean((p−y)²); REL = Σ n_b(p̄_b−ō_b)²/N;
    * RES = Σ n_b(ō_b−ō)²/N; UNC = ō(1−ō). (With continuous scores binned
    * after the fact the identity BS = REL − RES + UNC holds only up to the
    * within-bin score variance — all four are reported, none derived.)
    *
    * Per-row Brier terms quantize to 1e-9 longs (exact corpus sum); the
    * bin terms are fixed IEEE chains from exact long moments on the
    * B-row table, cast to DECIMAL(30,12) before the cross-bin sum —
    * the [[subclassificationAte]] discipline. */
  def brierDecomposition(
      df: DataFrame,
      scoreCol: String,
      labelCol: String,
      bins: Int = 10): DataFrame = {
    val rows = scoreBins(df, scoreCol, labelCol, bins)
      .withColumn("__p", col("__pq").cast("double") / 1000000000.0)
      .withColumn("__bt",
        floor((col("__p") - col("__y").cast("double"))
          * (col("__p") - col("__y").cast("double")) * 1000000000.0 + 0.5).cast("long"))
    val perBin = rows.groupBy(col("__bin"))
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__pos"),
        sum(col("__pq")).as("__sp"), sum(col("__bt")).as("__sbt"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    // NOTE: Spark column resolution is case-insensitive — a window total
    // named __N would silently REPLACE the per-bin count __n
    val terms = perBin
      .withColumn("__tot", sum(col("__n")).over(wAll))
      .withColumn("__post", sum(col("__pos")).over(wAll))
      .withColumn("__pb", col("__sp").cast("double") / 1000000000.0 / col("__n").cast("double"))
      .withColumn("__ob", col("__pos").cast("double") / col("__n").cast("double"))
      .withColumn("__o", col("__post").cast("double") / col("__tot").cast("double"))
      .withColumn("__rel",
        (col("__n").cast("double") * (col("__pb") - col("__ob")) * (col("__pb") - col("__ob")))
          .cast("decimal(30,12)"))
      .withColumn("__res",
        (col("__n").cast("double") * (col("__ob") - col("__o")) * (col("__ob") - col("__o")))
          .cast("decimal(30,12)"))
    terms.agg(
      max(col("__tot")).as("n"),
      round(sum(col("__sbt")).cast("double") / 1000000000.0 / max(col("__tot")).cast("double"), 6)
        .as("brier"),
      round(sum(col("__rel")).cast("double") / max(col("__tot")).cast("double"), 6)
        .as("reliability"),
      round(sum(col("__res")).cast("double") / max(col("__tot")).cast("double"), 6)
        .as("resolution"),
      round(max(col("__o")) * (lit(1.0) - max(col("__o"))), 6).as("uncertainty"))
  }

  /** Exact tie-aware average precision (the PR-curve area by the step
    * rule, sklearn's AP) — [[rocAuc]]'s precision-recall sibling for the
    * class-imbalanced regimes where ROC flatters: over the distinct-score
    * collapse in DESCENDING score order, AP = Σ_blocks ΔR·P with
    * ΔR = p_block/n_pos and P = TP/N at the block's cumulative depth —
    * every term ONE division of exact longs, quantized to 1e-9 before the
    * partition-invariant sum. Cumulative depths ride the two-pass
    * range-partitioned running sum (no single-partition window at any
    * score cardinality); a corpus with no positives reports NULL.
    *
    * Returns ONE row: (n_pos, n_neg, ap). */
  def averagePrecision(
      df: DataFrame,
      labelCol: String,
      scoreCol: String): DataFrame = {
    val hist = df.groupBy(col(scoreCol).cast("long").as("__v"))
      .agg(sum(when(col(labelCol), 1L).otherwise(0L)).as("__p"),
        count(lit(1)).as("__c"))
    val tot = hist.agg(sum(col("__p")).as("__np"), sum(col("__c")).as("__nt"))
    val cum = Relational.globalRunningSums(hist, Seq(col("__v").desc),
      Seq("__c" -> "__cn", "__p" -> "__tp"))
    cum.crossJoin(broadcast(tot))
      .agg(
        max(col("__np")).as("n_pos"),
        (max(col("__nt")) - max(col("__np"))).as("n_neg"),
        sum(when(col("__np") > 0L,
          floor((col("__p") * col("__tp")).cast("double") /
            (col("__np") * col("__cn")).cast("double") * 1e9 + 0.5).cast("long")))
          .as("__apq"))
      .select(col("n_pos"), col("n_neg"),
        round(col("__apq").cast("double") / 1e9, 6).as("ap"))
  }

  /** Two-sample Cramér–von Mises statistic + 1-D energy distance between
    * two groups' value distributions — the ECDF-discrepancy family
    * completing KS (supremum), Wasserstein (L1) and PSI/JS (binned):
    * CvM T = nm/(n+m)²·Σ_{x∈A∪B}(F_A(x)−F_B(x))² sums at SAMPLE points,
    * energy D² = 2·∫(F_A−F_B)²dx weights by support length (Székely's
    * 1-D identity).
    *
    * EXACT-RATIONAL like [[wasserstein1d]]: on the distinct-value collapse
    * the common-denominator numerators c·(F_A·m − F_B·n)² and
    * (F_A·m − F_B·n)²·Δx are exact integers in DECIMAL(38,0); each
    * statistic is then EXACTLY ONE division of exact integers. One
    * partial aggregate, then BOTH cumulative counts and the Δx lead ride
    * one two-pass range-partitioned pass
    * ([[Relational.globalRunningSums]]) — no single-partition window at
    * any value cardinality; group totals broadcast from a 1-row agg. */
  def cramerVonMises(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      groupA: String,
      groupB: String): DataFrame = {
    val hist = wassersteinCounts(df, groupCol, valueCol, groupA, groupB)
    def d(c: Column): Column = c.cast("decimal(38,0)")
    val t = ecdfSteps(hist)
      .withColumn("__num",
        d(col("__FA") * col("__nB") - col("__FB") * col("__nA")) *
          d(col("__FA") * col("__nB") - col("__FB") * col("__nA")))
    val nA = max(col("__nA")); val nB = max(col("__nB"))
    val nTot = nA + nB
    t.agg(
      lit(groupA).as("group_a"),
      lit(groupB).as("group_b"),
      nA.as("n_a"),
      nB.as("n_b"),
      // T = Σ c·(FA·m − FB·n)² / ((n+m)²·n·m)
      round(sum(col("__num") * d(col("__cA") + col("__cB"))).cast("double") /
        (d(nTot) * d(nTot) * d(nA) * d(nB)).cast("double"), 6).as("cvm"),
      // D² = 2·Σ (FA·m − FB·n)²·Δx / (n·m)²
      round((sum(col("__num") * d(col("__dx"))) * 2).cast("double") /
        (d(nA) * d(nB) * d(nA) * d(nB)).cast("double"), 6)
        .as("energy_sq"))
  }

  /** Two-sample Anderson–Darling statistic (Pettitt 1976; Scholz &
    * Stephens 1987, k = 2, tie-adjusted) — the TAIL-WEIGHTED member
    * completing the ECDF-discrepancy family (KS supremum, CvM uniform L2,
    * energy/Wasserstein metric-weighted): the 1/(H(1−H)) weight makes AD
    * the test that actually notices tail drift the others average away.
    * On the distinct-value collapse with multiplicities l_j, pooled
    * cumulative B_j and the SAME exact cross term X_j = F_A·n_B − F_B·n_A
    * as CvM:
    *   A² = 1/(n_A·n_B) · Σ_{B_j<N} l_j·X_j² / (B_j·(N−B_j))
    * — the Scholz–Stephens eq. (3) right-continuous form (for k = 2 the
    * inner Σ_i (N·M_ij − B_j·n_i)²/n_i collapses to X_j²·N/(n_A·n_B),
    * cancelling eq. 3's 1/N), extended to ties by the distinct-value
    * collapse. NOT the midrank A²_ak variant: that one changes B_j and
    * the denominator too, not just an (N−1)/N prefactor (r10 ADVICE —
    * the earlier hybrid matched neither form). The B_j = N block
    * contributes X = 0 and is excluded — its weight is degenerate. No
    * null-distribution standardization is reported — like
    * the CvM/energy row, the statistic is the readout and the
    * Scholz–Stephens variance constants are a table lookup the caller
    * owns.
    *
    * Numerators l·X² are exact DECIMAL(38,0); each term has its OWN
    * denominator B(N−B), so terms quantize to 1e-9 longs before the sum
    * (the log-rank discipline — a raw double SUM is partition-order-
    * dependent), then ONE fixed chain scales by 1/(n_A·n_B). Same
    * scale shape as [[cramerVonMises]]: one partial aggregate, prefix
    * counts on the two-pass [[Relational.globalRunningSums]] pass. */
  def andersonDarling(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      groupA: String,
      groupB: String): DataFrame = {
    val hist = wassersteinCounts(df, groupCol, valueCol, groupA, groupB)
    def d(c: Column): Column = c.cast("decimal(38,0)")
    val tot = hist.agg(
      sum(col("__cA")).as("__nA"), sum(col("__cB")).as("__nB"))
    val t = Relational
      .globalRunningSums(hist, Seq(col("__v")),
        Seq("__cA" -> "__FA", "__cB" -> "__FB"))
      .crossJoin(broadcast(tot))
    val nTot = col("__nA") + col("__nB")
    val b = col("__FA") + col("__FB")
    val x = d(col("__FA") * col("__nB") - col("__FB") * col("__nA"))
    val lx2 = d(col("__cA") + col("__cB")) * x * x
    val den = d(b) * d(nTot - b)
    val term = when(b < nTot,
      lx2.cast("double") / den.cast("double")).otherwise(lit(0.0))
    t.agg(
      max(col("__nA")).as("n_a"),
      max(col("__nB")).as("n_b"),
      sum(floor(term * 1e9 + 0.5).cast("decimal(38,0)")).as("__sq"))
      .select(
        lit(groupA).as("group_a"),
        lit(groupB).as("group_b"),
        col("n_a"), col("n_b"),
        round(
          (col("__sq").cast("double") / 1e9) /
            (d(col("n_a")) * d(col("n_b"))).cast("double"), 6).as("ad"))
  }

  /** 1-D Wasserstein-1 (earth mover's) distance between two groups' value
    * distributions — the drift readout that, unlike PSI/JS, needs no
    * binning and respects the metric on the value axis:
    * W₁ = ∫ |F_A(x) − F_B(x)| dx over the merged support.
    *
    * EXACT-RATIONAL: on integral values the integral is a finite sum of
    * |F_A − F_B|·Δx steps; with F = cum/n the common denominator is
    * n_A·n_B, so each step's numerator |cumA·n_B − cumB·n_A|·Δx is an
    * exact integer (accumulated in decimal(38,0) — cum·n ~ 1e10 times
    * cent-scale Δx overflows a long). The distance is then EXACTLY ONE
    * division of exact integers — bit-identical cross-engine before the
    * final round.
    *
    * Scale shape: one partial aggregate collapses both groups to distinct
    * values; cumulative counts and the Δx lead then ride one two-pass
    * range-partitioned prefix pass ([[Relational.globalRunningSums]]) —
    * no single-partition window at any value cardinality. */
  def wasserstein1d(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      groupA: String,
      groupB: String): DataFrame =
    wassersteinAssemble(wassersteinCounts(df, groupCol, valueCol, groupA, groupB), groupA, groupB)

  /** Count half of [[wasserstein1d]]: per distinct value, the count of
    * each group's rows — a streaming twin's state. */
  def wassersteinCounts(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      groupA: String,
      groupB: String): DataFrame = {
    val isA = col(groupCol) === lit(groupA)
    df.filter(col(groupCol).isin(groupA, groupB))
      .groupBy(col(valueCol).cast("long").as("__v"))
      .agg(
        sum(when(isA, 1L).otherwise(0L)).as("__cA"),
        sum(when(!isA, 1L).otherwise(0L)).as("__cB"))
  }

  /** Assembly half of [[wasserstein1d]] over a pre-aggregated
    * (`__v`, `__cA`, `__cB`) distinct-value count table — shared by the
    * streaming twin, whose state store accumulates exactly these integer
    * counts (integer state ⇒ stream == batch bit-exactly). */
  def wassersteinAssemble(
      hist: DataFrame,
      groupA: String,
      groupB: String): DataFrame = {
    def d(c: Column): Column = c.cast("decimal(38,0)")
    val t = ecdfSteps(hist)
      .withColumn("__step",
        d(abs(col("__FA") * col("__nB") - col("__FB") * col("__nA"))) *
          d(col("__dx")))
    t.agg(
      lit(groupA).as("group_a"),
      lit(groupB).as("group_b"),
      max(col("__nA")).as("n_a"),
      max(col("__nB")).as("n_b"),
      round(sum(col("__step")).cast("double") /
        (max(col("__nA")) * max(col("__nB"))).cast("double"), 6)
        .as("wasserstein"))
  }

  /** Both groups' running counts (`__FA`, `__FB`) and totals (`__nA`,
    * `__nB`) over a [[wassersteinCounts]] table, with each distinct value's
    * step width `__dx` to the next — the ECDF pass of [[cramerVonMises]] and
    * [[wassersteinAssemble]] ([[andersonDarling]] needs no step width). */
  private def ecdfSteps(hist: DataFrame): DataFrame = {
    val tot = hist.agg(
      sum(col("__cA")).as("__nA"), sum(col("__cB")).as("__nB"))
    Relational
      .globalRunningSums(hist, Seq(col("__v")),
        Seq("__cA" -> "__FA", "__cB" -> "__FB"), leadOf = Some("__v" -> "__nxt"))
      .crossJoin(broadcast(tot))
      .withColumn("__dx", coalesce(col("__nxt") - col("__v"), lit(0L)))
  }

  /** Herfindahl–Hirschman concentration index per key (Herfindahl 1950;
    * the antitrust staple, and the "is this corpus dominated by a few
    * sources?" audit beside X151 Gini / X164 top-share): HHI = Σ sᵢ²
    * over entity shares, computed WITHOUT per-entity divisions as
    * Σqᵢ²/(Σqᵢ)² over exact cent-quantized DECIMAL sums — one
    * entity-level partial agg, one key-level partial agg, ONE division.
    * The normalized variant (HHI − 1/n)/(1 − 1/n) rescales to [0,1]
    * (NULL for a single-entity key, where concentration is vacuous).
    * Values must be non-negative (caller's contract; zero total ⇒ NULL).
    *
    * Returns one row per key: (keys…, n_entities, hhi, hhi_norm). */
  def herfindahl(
      df: DataFrame,
      keys: Seq[String],
      entityCol: String,
      valueCol: String): DataFrame = {
    require(keys.nonEmpty, "at least one key required (use a constant for global)")
    val k = keys.map(col)
    val ent = df.groupBy(k :+ col(entityCol).as("__e"): _*)
      .agg(sum(floor(col(valueCol).cast("double") * 100 + 0.5)
        .cast("decimal(38,0)")).as("__q"))
    val per = ent.groupBy(k: _*).agg(
      count(lit(1)).as("n_entities"),
      sum(col("__q")).as("__sv"),
      sum(col("__q") * col("__q")).as("__sq2"))
    val hhi = col("__sq2").cast("double") /
      (col("__sv").cast("double") * col("__sv").cast("double"))
    val nd = col("n_entities").cast("double")
    per.select(k ++ Seq(
      col("n_entities"),
      when(col("__sv") > 0, round(hhi, 6)).as("hhi"),
      when(col("__sv") > 0 && col("n_entities") > 1,
        round((hhi - lit(1.0) / nd) / (lit(1.0) - lit(1.0) / nd), 6)).as("hhi_norm")): _*)
  }

  /** Lin's concordance correlation coefficient (Lin 1989) — CONTINUOUS
    * agreement, the numeric counterpart to Cohen's κ (categorical) and
    * the stricter cousin of Pearson r (which forgives location/scale
    * shifts; CCC does not): CCC = 2·cov/(var_x + var_y + (x̄−ȳ)²) — 1
    * only when y = x exactly. The "does the cheap model AGREE with the
    * expensive one" readout for scorer replacement. ONE partial
    * aggregate of 1e6-quantized long moments, fixed IEEE chains; a
    * degenerate pair (both variances zero and equal means) ⇒ NULL.
    *
    * Returns ONE row: (n, pearson_r, ccc, location_shift). */
  def concordanceCcc(
      df: DataFrame,
      xCol: String,
      yCol: String): DataFrame = {
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    def q(c: Column): Column = sum(floor(c * 1e6 + 0.5).cast("long"))
    val a = df.agg(
      count(lit(1)).as("n"),
      q(x).as("__sx"), q(y).as("__sy"),
      q(x * x).as("__sxx"), q(y * y).as("__syy"), q(x * y).as("__sxy"))
    val nn = col("n").cast("double")
    def d6(c: String) = col(c).cast("double") / 1e6
    val covN = nn * d6("__sxy") - d6("__sx") * d6("__sy")
    val vxN = nn * d6("__sxx") - d6("__sx") * d6("__sx")
    val vyN = nn * d6("__syy") - d6("__sy") * d6("__sy")
    val dMean = d6("__sx") / nn - d6("__sy") / nn
    val denom = vxN + vyN + nn * nn * (dMean * dMean)
    a.select(
      col("n"),
      when(vxN > 0 && vyN > 0,
        round(covN / sqrt(vxN * vyN), 6)).as("pearson_r"),
      when(denom =!= 0.0,
        round(lit(2.0) * covN / denom, 6)).as("ccc"),
      round(dMean, 6).as("location_shift"))
  }

  /** CUPED variance reduction (Deng, Xu, Kohavi & Walker 2013) — the
    * A/B-testing staple that shrinks metric variance with a
    * PRE-experiment covariate: θ = cov(x,y)/var(x) from the pooled
    * moments, adjusted metric y′ = y − θ(x − x̄), and the treatment
    * effect re-reads as (ȳ_t − θx̄_t) − (ȳ_c − θx̄_c); the theoretical
    * variance reduction is ρ² = θ²·var(x)/var(y). ONE partial aggregate
    * collects pooled + per-arm exact 1e6-quantized long sums; every
    * readout is a fixed IEEE chain — partition-invariant,
    * SQL-replayable. Degenerate var(x) = 0 or a missing arm ⇒ NULL
    * adjusted readouts (the raw ATE still reports when both arms exist).
    *
    * Returns ONE row: (n, n_t, n_c, theta, rho2, ate_raw, ate_cuped). */
  def cuped(
      df: DataFrame,
      treatmentCol: String,
      metricCol: String,
      covariateCol: String): DataFrame =
    cupedAssemble(cupedMoments(df, treatmentCol, metricCol, covariateCol))

  /** Moment half of [[cuped]]: the pooled and treated-arm quantized sums
    * in one global aggregate — a streaming twin's state row. */
  def cupedMoments(
      df: DataFrame,
      treatmentCol: String,
      metricCol: String,
      covariateCol: String): DataFrame = {
    val y = col(metricCol).cast("double")
    val x = col(covariateCol).cast("double")
    val t = when(col(treatmentCol), 1.0).otherwise(0.0)
    def q(c: Column): Column = sum(floor(c * 1e6 + 0.5).cast("long"))
    df.agg(
      count(lit(1)).as("n"),
      q(x).as("__sx"), q(y).as("__sy"),
      q(x * x).as("__sxx"), q(x * y).as("__sxy"), q(y * y).as("__syy"),
      sum(when(col(treatmentCol), 1L).otherwise(0L)).as("n_t"),
      q(t * y).as("__syt"), q(t * x).as("__sxt"))
  }

  /** Readout half of [[cuped]] over the pre-aggregated quantized moment
    * row — shared by the streaming twin (integer state ⇒ stream == batch
    * bit-exactly). */
  def cupedAssemble(a: DataFrame): DataFrame = {
    val nn = col("n").cast("double")
    def d6(c: String) = col(c).cast("double") / 1e6
    val varXn = nn * d6("__sxx") - d6("__sx") * d6("__sx")
    val varYn = nn * d6("__syy") - d6("__sy") * d6("__sy")
    val covN = nn * d6("__sxy") - d6("__sx") * d6("__sy")
    val theta = covN / varXn
    val ntd = col("n_t").cast("double")
    val ncd = (col("n") - col("n_t")).cast("double")
    val myT = d6("__syt") / ntd
    val mxT = d6("__sxt") / ntd
    val myC = (d6("__sy") - d6("__syt")) / ncd
    val mxC = (d6("__sx") - d6("__sxt")) / ncd
    val bothArms = col("n_t") > 0 && col("n_t") < col("n")
    a.select(
      col("n"), col("n_t"), (col("n") - col("n_t")).as("n_c"),
      when(varXn =!= 0.0, round(theta, 6)).as("theta"),
      when(varXn =!= 0.0 && varYn =!= 0.0,
        round(theta * theta * varXn / varYn, 6)).as("rho2"),
      when(bothArms, round(myT - myC, 6)).as("ate_raw"),
      when(bothArms && varXn =!= 0.0,
        round(myT - theta * mxT - (myC - theta * mxC), 6)).as("ate_cuped"))
  }

  /** Kish survey readout — weighted mean with the effective sample size
    * and design effect (Kish 1965: unequal weights inflate variance by
    * deff = n·Σw²/(Σw)²; n_eff = (Σw)²/Σw² is what the weighted mean is
    * "really worth"): ONE partial aggregate of per-row quantized longs
    * (Σfloor(w·1e6+0.5), Σfloor(wy·1e6+0.5), Σfloor(w²·1e6+0.5),
    * Σfloor(wy²·1e6+0.5)), every readout a fixed IEEE chain — mean_w,
    * n_eff, deff, and the design-adjusted SE √(s²_w / n_eff) with the
    * weighted variance clamped at 0 (quantization can push an exact-zero
    * variance a hair negative). Weights must be positive (caller's
    * contract; zero total weight ⇒ NULL readouts). */
  def kishWeightedMean(
      df: DataFrame,
      valueCol: String,
      weightCol: String): DataFrame =
    kishAssemble(kishMoments(df, valueCol, weightCol))

  /** Moment half of [[kishWeightedMean]]: the quantized weight sums in
    * one global aggregate — a streaming twin's state row. */
  def kishMoments(df: DataFrame, valueCol: String, weightCol: String): DataFrame = {
    val y = col(valueCol).cast("double")
    val w = col(weightCol).cast("double")
    def q(c: Column): Column = sum(floor(c * 1e6 + 0.5).cast("long"))
    df.agg(
      count(lit(1)).as("n"),
      q(w).as("__sw"), q(w * y).as("__swy"),
      q(w * w).as("__sww"), q(w * y * y).as("__swyy"))
  }

  /** Readout half of [[kishWeightedMean]] over a pre-aggregated
    * (n, __sw, __swy, __sww, __swyy) quantized-long sums row — shared by
    * the streaming twin, whose state store accumulates exactly these
    * integer sums (sums of disjoint partial sums equal the direct sums,
    * so stream == batch bit-exactly). */
  def kishAssemble(sums: DataFrame): DataFrame = {
    val swd = col("__sw").cast("double") / 1e6
    val swyd = col("__swy").cast("double") / 1e6
    val swwd = col("__sww").cast("double") / 1e6
    val swyyd = col("__swyy").cast("double") / 1e6
    val meanW = swyd / swd
    val effN = swd * swd / swwd
    val varW = greatest(lit(0.0), (swyyd - swyd * swyd / swd) / swd)
    sums.select(
      col("n"),
      when(col("__sw") > 0, round(meanW, 6)).as("mean_w"),
      when(col("__sw") > 0, round(effN, 6)).as("eff_n"),
      when(col("__sw") > 0, round(col("n").cast("double") / effN, 6)).as("deff"),
      when(col("__sw") > 0, round(sqrt(varW / effN), 6)).as("se"))
  }

  /** Delete-a-group jackknife SE of the mean (Kott 2001's survey
    * workhorse; the VARIANCE readout on top of X254's leave-one-out
    * means): per group g, θ₍g₎ = (S−S_g)/(n−n_g) from ONE bounded group
    * aggregate of exact quantized longs; v_J = (G−1)/G·Σ(θ₍g₎−θ̄)² with
    * θ₍g₎ re-quantized to 1e-9 longs so the G-row reduction is
    * partition-invariant. A group holding every row ⇒ its θ₍g₎ is NULL
    * and the SE degrades to NULL rather than dividing by zero. Group
    * cardinality is the caller's contract (survey PSUs: dozens). */
  def jackknifeGroupSe(
      df: DataFrame,
      valueCol: String,
      groupCol: String): DataFrame =
    jackknifeAssemble(jackknifeGroupSums(df, valueCol, groupCol))

  /** Sum half of [[jackknifeGroupSe]]: per group, the count and the
    * quantized value sum — a streaming twin's state. */
  def jackknifeGroupSums(df: DataFrame, valueCol: String, groupCol: String): DataFrame =
    df.groupBy(col(groupCol).as("__g")).agg(
      count(lit(1)).as("__ng"),
      sum(floor(col(valueCol).cast("double") * 1e6 + 0.5).cast("long")).as("__sg"))

  /** Readout half of [[jackknifeGroupSe]] over the pre-aggregated
    * (__g, __ng, __sg) group table — shared by the streaming twin, whose
    * state store accumulates exactly these integer sums (sums of
    * disjoint partial sums equal the direct sums ⇒ stream == batch
    * bit-exactly). */
  def jackknifeAssemble(g: DataFrame): DataFrame = {
    val tot = g.agg(
      count(lit(1)).as("groups"),
      sum(col("__ng")).as("n"), sum(col("__sg")).as("__s"))
    val withTheta = g.crossJoin(broadcast(tot))
      .withColumn("__theta",
        when(col("n") > col("__ng"),
          (col("__s") - col("__sg")).cast("double") / 1e6 /
            (col("n") - col("__ng")).cast("double")))
      .withColumn("__tq", floor(col("__theta") * 1e9 + 0.5).cast("long"))
    val red = withTheta.agg(
      max(col("groups")).as("groups"),
      max(col("n")).as("n"),
      max(col("__s")).as("__s"),
      sum(col("__tq")).as("__tsum"),
      count(col("__tq")).as("__tcnt"))
    val gCnt = col("groups").cast("double")
    val dev = withTheta.crossJoin(
      broadcast(red.select(col("__tsum"), col("groups").as("__gc"))))
      .withColumn("__d",
        col("__tq").cast("double") / 1e9 -
          col("__tsum").cast("double") / 1e9 / col("__gc").cast("double"))
      .agg(sum(floor(col("__d") * col("__d") * 1e9 + 0.5).cast("long")).as("__sd"),
        sum(when(col("__tq").isNull, 1L).otherwise(0L)).as("__nulls"))
    red.crossJoin(dev).select(
      col("groups"), col("n"),
      round(col("__s").cast("double") / 1e6 / col("n").cast("double"), 6).as("mean"),
      when(col("__nulls") === 0 && col("groups") > 1,
        round(sqrt((gCnt - 1.0) / gCnt * (col("__sd").cast("double") / 1e9)), 6))
        .as("se_jack"))
  }

  /** Wilcoxon SIGNED-RANK test (Wilcoxon 1945) — the PAIRED member of the
    * rank-test family, next to [[mannWhitneyU]] (independent samples) and
    * [[yuenTTest]] (robust means): "did the same units' values shift
    * between two conditions?" without assuming the differences are normal.
    * `df` carries one row per pair; `xCol`/`yCol` are integer-valued
    * (pre-quantized, e.g. cents) so d = x − y is an exact long.
    *
    * Exact arithmetic end to end, the [[mannWhitneyU]] discipline: zero
    * differences drop (Wilcoxon's convention); |d| ranks come from the
    * |d|-value HISTOGRAM where with midranks 2·rank = 2·prevcum + c + 1 is
    * an integer, so 2·W⁺ sums as a long; the normal approximation applies
    * the tie correction σ² = n(n+1)(2n+1)/24 − Σ(t³−t)/48 with the tie sum
    * an exact long. The rank window is VALUE-DOMAIN bounded (one row per
    * distinct |d|), not data-grain. Returns one row:
    * (n_pairs, n_nonzero, w_plus, z, reject_95, reject_99). */
  def wilcoxonSignedRank(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val d = (col(xCol).cast("long") - col(yCol).cast("long"))
    val hist = df
      .select(d.as("__d"))
      .filter(col("__d").isNotNull)
      .groupBy(abs(col("__d")).as("__a"))
      .agg(
        count(lit(1)).as("__c"),
        sum(when(col("__d") > 0, 1L).otherwise(0L)).as("__cpos"))
    val nz = hist.filter(col("__a") > 0)
    val w = Window.orderBy(col("__a")).rowsBetween(Window.unboundedPreceding, -1)
    val ranked = nz
      .withColumn("__prev", coalesce(sum(col("__c")).over(w), lit(0L)))
      .withColumn("__r2", lit(2L) * col("__prev") + col("__c") + lit(1L))
      .withColumn("__tie", col("__c") * col("__c") * col("__c") - col("__c"))
    val zeros = hist.agg(sum(col("__c")).as("__all")).select(col("__all"))
    val agg = ranked.agg(
      sum(col("__c")).as("__n"),
      sum(col("__cpos") * col("__r2")).as("__wp2"),
      sum(col("__tie")).as("__ties"))
    val n = col("__n").cast("double")
    val wp = col("__wp2").cast("double") / 2.0
    val mu = n * (n + 1.0) / 4.0
    val sigmaSq = n * (n + 1.0) * (n * 2.0 + 1.0) / 24.0 -
      col("__ties").cast("double") / 48.0
    val z = round((wp - mu) / sqrt(sigmaSq), 6)
    agg.crossJoin(broadcast(zeros)).select(
      col("__all").as("n_pairs"),
      col("__n").as("n_nonzero"),
      (col("__wp2").cast("double") / 2.0).as("w_plus"),
      when(col("__n") > 0 && sigmaSq > 0.0, z).as("z"),
      when(col("__n") > 0 && sigmaSq > 0.0, abs(z) > lit(1.959964)).as("reject_95"),
      when(col("__n") > 0 && sigmaSq > 0.0, abs(z) > lit(2.575829)).as("reject_99"))
  }

  /** Paired SIGN test (Arbuthnott 1710; the oldest test in statistics) —
    * the assumption-FREE member of the paired family: [[wilcoxonSignedRank]]
    * assumes the difference distribution is symmetric, the sign test only
    * asks "which side won more often" (its breakdown point is the median
    * itself). Zero differences drop (the standard convention); the normal
    * approximation uses the continuity correction
    * z = (2k − m ∓ 1)/√m toward the null (k = positive differences of m
    * non-zero). ONE partial aggregate — no histogram, no window. Returns
    * (n_pairs, n_nonzero, n_pos, z, reject_95, reject_99). */
  def signTest(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val d = col(xCol).cast("long") - col(yCol).cast("long")
    val agg = df
      .select(d.as("__d"))
      .filter(col("__d").isNotNull)
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("__d") =!= 0L, 1L).otherwise(0L)).as("n_nonzero"),
        sum(when(col("__d") > 0L, 1L).otherwise(0L)).as("n_pos"))
    val m = col("n_nonzero").cast("double")
    val num = lit(2.0) * col("n_pos").cast("double") - m
    // continuity correction shrinks |2k - m| by 1 toward the null
    val z = round(
      signum(num) * greatest(abs(num) - 1.0, lit(0.0)) / sqrt(m), 6)
    agg.select(
      col("n_pairs"), col("n_nonzero"), col("n_pos"),
      when(col("n_nonzero") > 0, z).as("z"),
      when(col("n_nonzero") > 0, abs(z) > lit(1.959964)).as("reject_95"),
      when(col("n_nonzero") > 0, abs(z) > lit(2.575829)).as("reject_99"))
  }

  /** Krippendorff's α, nominal data (Krippendorff 1970/2004) — the GENERAL
    * inter-annotator reliability coefficient completing the agreement
    * family next to [[cohenKappa]] (2 fixed raters) and [[fleissKappa]]
    * (r complete raters): it accepts ANY number of ratings per unit,
    * including unbalanced/missing designs, which is the shape real
    * labeling pipelines produce. `df` carries one row per rating.
    *
    * Coincidence-matrix identities keep everything exact until one final
    * division: only units with m_u ≥ 2 ratings are pairable; the marginal
    * n_c is the plain category count over pairable units (Σ_k o_ck
    * telescopes); observed disagreement Do·n = Σ_u (m_u(m_u−1) −
    * Σ_c n_uc(n_uc−1))/(m_u−1), each unit's term an IEEE-exact double
    * division quantized to a 1e-9 long (the Anderson–Darling per-term
    * discipline — every term owns its own denominator); and
    * α = 1 − DoNum·(n−1)/(n² − Σ n_c²) with the marginal squares in
    * decimal(38,0). Two shuffles: (unit,value) counts, then the unit
    * rollup reuses the unit prefix; the value marginal reduces the
    * (unit,value) count table, never the raw ratings. */
  def krippendorffAlpha(df: DataFrame, unitCol: String, valueCol: String): DataFrame = {
    val uv = df
      .filter(col(valueCol).isNotNull)
      .groupBy(col(unitCol).as("__u"), col(valueCol).cast("string").as("__v"))
      .agg(count(lit(1)).as("__nuc"))
    val um = uv
      .groupBy(col("__u"))
      .agg(
        sum(col("__nuc")).as("__m"),
        sum(col("__nuc") * (col("__nuc") - 1L)).as("__same"))
      .filter(col("__m") >= 2L)
    val doTerm = (col("__m") * (col("__m") - 1L) - col("__same")).cast("double") /
      (col("__m") - 1L).cast("double")
    val units = um.agg(
      count(lit(1)).as("n_units"),
      sum(col("__m")).as("__n"),
      sum(floor(doTerm * 1e9 + 0.5).cast("long")).as("__doq"))
    val marg = uv
      .join(um.select(col("__u")), Seq("__u"))
      .groupBy(col("__v"))
      .agg(sum(col("__nuc")).as("__nc"))
      .agg(
        count(lit(1)).as("n_categories"),
        sum(col("__nc").cast("decimal(38,0)") * col("__nc").cast("decimal(38,0)"))
          .as("__ncsq"))
    val n = col("__n").cast("double")
    val doNum = col("__doq").cast("double") / 1e9
    val pairsDen = n * n - col("__ncsq").cast("double")
    units.crossJoin(broadcast(marg)).select(
      col("n_units"),
      col("__n").as("n_ratings"),
      col("n_categories"),
      round(doNum / n, 6).as("do_rate"),
      round(pairsDen / (n * (n - 1.0)), 6).as("de_rate"),
      when(pairsDen > 0.0, round(lit(1.0) - doNum * (n - 1.0) / pairsDen, 6))
        .as("alpha"))
  }

  /** Intraclass correlation ICC(1,1) (Shrout & Fleiss 1979, one-way
    * random-effects, single rater) — CONTINUOUS inter-rater reliability
    * completing the agreement family: [[krippendorffAlpha]] covers nominal
    * labels, [[fleissKappa]] complete categorical panels, Lin's CCC two
    * fixed raters; ICC handles ANY number of continuous ratings per unit
    * (unbalanced designs included, via the ANOVA estimator
    * k₀ = (N − Σk_i²/N)/(n−1)). ICC = (MSB − MSW)/(MSB + (k₀−1)·MSW).
    *
    * Exact up to one fixed double chain: `valueCol` must be integer-valued
    * (pre-quantize), per-unit sums are longs, sums of squares decimal(38,0), and
    * each unit's S_i²/k_i term quantizes to a 1e-2 integer summed in
    * decimal(38,0) (the per-term-denominator discipline, decimal because
    * term magnitudes reach S², far past a long's headroom) so both
    * between- and within-group sums of squares derive from the SAME
    * exact total T. One (unit) partial agg +
    * one global reduce — no window. Returns
    * (n_units, n_ratings, k0, msb, msw, icc). */
  def icc(df: DataFrame, unitCol: String, valueCol: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val y = col(valueCol).cast("long")
    val per = df
      .filter(y.isNotNull)
      .groupBy(col(unitCol).as("__u"))
      .agg(
        count(lit(1)).as("__k"),
        sum(y).as("__s"),
        sum(dec(y) * dec(y)).as("__ss"))
    val term = dec(col("__s")).cast("double") * col("__s").cast("double") /
      col("__k").cast("double")
    val agg = per.agg(
      count(lit(1)).as("n_units"),
      sum(col("__k")).as("n_ratings"),
      sum(col("__s")).as("__g"),
      sum(col("__ss")).as("__sstot"),
      sum(floor(term * 100 + 0.5).cast("decimal(38,0)")).as("__tq"),
      sum(dec(col("__k")) * dec(col("__k"))).as("__ksq"))
    val n = col("n_units").cast("double")
    val bigN = col("n_ratings").cast("double")
    val g = col("__g").cast("double")
    val t = col("__tq").cast("double") / 100.0
    val msw = (col("__sstot").cast("double") - t) / (bigN - n)
    val msb = (t - g * g / bigN) / (n - 1.0)
    val k0 = (bigN - col("__ksq").cast("double") / bigN) / (n - 1.0)
    val iccV = (msb - msw) / (msb + (k0 - 1.0) * msw)
    agg.select(
      col("n_units"), col("n_ratings"),
      when(col("n_units") > 1, round(k0, 6)).as("k0"),
      when(bigN > n && col("n_units") > 1, round(msb, 6)).as("msb"),
      when(bigN > n, round(msw, 6)).as("msw"),
      when(bigN > n && col("n_units") > 1 &&
        (msb + (k0 - 1.0) * msw) > 0.0, round(iccV, 6)).as("icc"))
  }

  /** Matthews correlation coefficient, multiclass (Gorodkin 2004 R_K;
    * Matthews 1975 for K=2) — the single-number classifier quality summary
    * that stays honest under class imbalance, completing the evaluation
    * family next to [[classificationReport]] (per-class view) and
    * [[rocAuc]] (ranking view). One partial aggregate builds the K×K
    * confusion matrix; everything downstream reduces that tiny table:
    * cov(X,Y) = N·Σ_k c_kk − Σ_k t_k·p_k with the actual/predicted
    * marginals t_k/p_k and all products in decimal(38,0) (N² overflows a
    * long at ~3e9 rows), one sqrt each side at the end. Returns one row:
    * (n, n_classes, accuracy, mcc); mcc is NULL when either marginal is
    * degenerate (all one class — the coefficient is undefined there). */
  def matthewsCorr(df: DataFrame, actualCol: String, predCol: String): DataFrame =
    matthewsCorrFromCells(
      df.groupBy(
        col(actualCol).cast("string").as("__a"),
        col(predCol).cast("string").as("__p"))
        .agg(count(lit(1)).as("__c")))

  /** [[matthewsCorr]]'s assembly half over pre-aggregated confusion cells
    * `(__a, __p, __c)` — shares the streaming state shape with
    * [[classificationReportFromCells]], so one confusion-cell monitor
    * feeds both readouts. */
  def matthewsCorrFromCells(cm: DataFrame): DataFrame = {
    def d(c: Column): Column = c.cast("decimal(38,0)")
    val ta = cm.groupBy(col("__a")).agg(sum(col("__c")).as("__t"))
    val pp = cm.groupBy(col("__p")).agg(sum(col("__c")).as("__q"))
    val tot = cm.agg(
      sum(col("__c")).as("__nn"),
      sum(when(col("__a") === col("__p"), col("__c")).otherwise(0L)).as("__diag"))
    val cross = ta
      .join(pp, ta("__a") === pp("__p"), "full_outer")
      .agg(
        sum(d(coalesce(col("__t"), lit(0L))) * d(coalesce(col("__q"), lit(0L))))
          .as("__tp"),
        sum(d(coalesce(col("__t"), lit(0L))) * d(coalesce(col("__t"), lit(0L))))
          .as("__tt"),
        sum(d(coalesce(col("__q"), lit(0L))) * d(coalesce(col("__q"), lit(0L))))
          .as("__qq"),
        count(lit(1)).as("n_classes"))
    val n = d(col("__nn"))
    val cov = (n * d(col("__diag")) - col("__tp")).cast("double")
    val vA = (n * n - col("__tt")).cast("double")
    val vP = (n * n - col("__qq")).cast("double")
    tot.crossJoin(broadcast(cross)).select(
      col("__nn").as("n"),
      col("n_classes"),
      round(col("__diag").cast("double") / col("__nn").cast("double"), 6).as("accuracy"),
      when(vA > 0.0 && vP > 0.0, round(cov / (sqrt(vA) * sqrt(vP)), 6)).as("mcc"))
  }

  /** Poisson bootstrap confidence interval for a mean (Chamandy et al.,
    * Google 2012 — "Estimating uncertainty for massive data streams") —
    * THE bootstrap that works distributed: instead of resampling n rows
    * with replacement (a global operation), each (row, replicate) pair
    * draws an independent Poisson(1) weight, preserving the bootstrap
    * distribution at streaming/sharded scale with ONE pass over rows ×
    * `reps`. Weights are ENGINE-PORTABLE determinism at one md5 per EIGHT
    * replicates: the digest of "id_g" (g = rep/8) slices into eight
    * 16-bit hex words, u = word(rep%8)/65536 (a 1.5e-5-grid uniform —
    * immaterial for a bootstrap CI; per-(row,rep) md5 measured 5.2 s vs
    * ~1.5 s at 15k × 200), mapped through the fixed Poisson(1)
    * inverse-CDF ladder (literal thresholds, k capped at 8); per-replicate
    * weighted means use exact quantized sums; the CI reads nearest-rank
    * order statistics off the R-row replicate table (R bounded, e.g.
    * 200 — never a data-grain sort).
    *
    * Returns ONE row: (n, reps, mean, boot_lo, boot_hi) at the given
    * two-sided level (nearest-rank convention: 1-based rank
    * floor(q·(R−1))+1 on (mean asc, rep asc)). */
  def poissonBootstrapMean(
      df: DataFrame,
      idCol: String,
      valueCol: String,
      reps: Int = 200,
      level: Double = 0.95): DataFrame = {
    require(reps >= 10, s"reps must be >= 10, got $reps")
    require(level > 0 && level < 1, s"level must be in (0,1), got $level")
    // Poisson(1) CDF ladder as FIXED literals (sums of e^{-1}/k! rounded to
    // 10 dp) — both engines compare u against identical constants
    val cdf = Seq(0.3678794412, 0.7357588823, 0.9196986029, 0.9810118431,
      0.9963401532, 0.9994058152, 0.9999167589, 0.9999897508)
    // the substring DSL helper only takes literal pos — the expression form
    // accepts the per-replicate word offset column
    val u = conv(expr("substring(__hx, CAST(__off AS INT), 4)"), 16, 10)
      .cast("double") / 65536.0
    // foldRight keeps the SMALLEST threshold outermost (first match wins);
    // a foldLeft here inverts the ladder and silently pins k ≈ constant
    val k = cdf.zipWithIndex.foldRight(lit(8): Column) { case ((t, i), acc) =>
      when(u < t, lit(i)).otherwise(acc)
    }
    val base = df.select(col(idCol),
      floor(col(valueCol).cast("double") * 1e6 + 0.5).cast("long").as("__vq"))
    // two-stage explode so the digest computes on the (row, group) grain —
    // one md5 feeds eight replicates; a single-stage explode would
    // re-evaluate it per (row, rep)
    val nGroups = (reps + 7) / 8
    val perRep = base
      .withColumn("__g", explode(array((0 until nGroups).map(lit): _*)))
      .withColumn("__hx", md5(concat(col(idCol).cast("string"), lit("_"),
        col("__g").cast("string"))))
      .withColumn("__o8", explode(array((0 until 8).map(lit): _*)))
      .withColumn("__rep", col("__g") * 8 + col("__o8"))
      .filter(col("__rep") < reps)
      .withColumn("__off", col("__o8") * 4 + 1)
      .withColumn("__w", k.cast("long"))
      .groupBy(col("__rep"))
      .agg(sum(col("__w") * col("__vq")).as("__swx"), sum(col("__w")).as("__sw"))
      .filter(col("__sw") > 0)
      .select(col("__rep"),
        (col("__swx").cast("double") / col("__sw").cast("double") / 1e6).as("__m"))
      // pin the R-row replicate table: the rank window and both CI picks
      // re-read it, and without the pin each branch re-runs the full
      // rows × reps explode
      .localCheckpoint(true)
    val ranked = perRep.withColumn("__rn",
      row_number().over(Window.orderBy(col("__m").asc, col("__rep").asc)))
    val loRank = math.floor((1.0 - level) / 2.0 * (reps - 1)).toLong + 1L
    val hiRank = math.floor((1.0 + level) / 2.0 * (reps - 1)).toLong + 1L
    val stats = base.agg(count(lit(1)).as("n"),
      (sum(col("__vq")).cast("double") / count(lit(1)).cast("double") / 1e6).as("__mean"))
    // LEFT joins, not crossJoins: replicates with zero total weight are
    // filtered out above (P ≈ e^{-reps·?}… for tiny n a replicate drops
    // with probability ~e^{-n}), so a rank pick can be EMPTY — a crossJoin
    // would then collapse the whole output to zero rows, while the DuckDB
    // oracle's scalar subqueries keep the row with NULL bounds. The left
    // join reproduces exactly that: missing rank → NULL boot_lo/boot_hi.
    val lo = ranked.filter(col("__rn") === loRank)
      .select(lit(1).as("__k"), col("__m").as("__lo"))
    val hi = ranked.filter(col("__rn") === hiRank)
      .select(lit(1).as("__k"), col("__m").as("__hi"))
    stats.withColumn("__k", lit(1))
      .join(broadcast(lo), Seq("__k"), "left")
      .join(broadcast(hi), Seq("__k"), "left")
      .select(col("n"), lit(reps).as("reps"),
        round(col("__mean"), 6).as("mean"),
        round(col("__lo"), 6).as("boot_lo"),
        round(col("__hi"), 6).as("boot_hi"))
  }

  /** Exact-style sign-flip permutation test for a paired difference
    * (Fisher 1935's randomization test on H0: the difference distribution
    * is symmetric about 0) — the assumption-free companion to the paired
    * t-test: each permutation flips every difference's sign independently
    * and recomputes |Σ±d|; the p-value is the fraction of permutations at
    * least as extreme as the observed |Σd| with the add-one correction
    * (1 + #extreme)/(P + 1) (Davison & Hinkley's unbiased convention).
    * Signs are ENGINE-PORTABLE and cost ONE md5 per ROW, not per
    * (row, perm): permutation p reads BIT p of the row's md5 digest —
    * the digest's first two 15-hex-char words parse once into two 60-bit
    * longs, and sign(p) = bit p of word p/60 (bits of a cryptographic
    * digest are independent — the standard bit-slicing construction;
    * per-(row,perm) md5 MEASURED 18.9 s vs ~2 s at 150k rows × 199).
    * `perms` is therefore capped at 120. Differences quantize to exact
    * 1e-6 longs, so every permutation sum is an exact integer and the
    * extreme-count compares longs — no float order anywhere.
    *
    * One pass over rows × `perms` (explode, partial agg per perm) — the
    * Poisson-bootstrap scale shape. Returns ONE row:
    * (n, perms, observed_diff, p_value). */
  def signFlipPermutationTest(
      df: DataFrame,
      idCol: String,
      diffCol: String,
      perms: Int = 119): DataFrame = {
    require(perms >= 19 && perms <= 120, s"perms must be in [19,120], got $perms")
    val h = md5(col(idCol).cast("string"))
    val base = df.select(col(idCol),
      floor(col(diffCol).cast("double") * 1e6 + 0.5).cast("long").as("__dq"),
      conv(substring(h, 1, 15), 16, 10).cast("long").as("__h1"),
      conv(substring(h, 16, 15), 16, 10).cast("long").as("__h2"))
    // shiftright's DSL helper only takes a literal shift — the expression
    // form accepts a column shift (both engines do)
    val sign = when(expr(
      "(shiftright(CASE WHEN __p < 60 THEN __h1 ELSE __h2 END," +
        " CAST(pmod(__p, 60) AS INT)) & 1) = 1"), 1L).otherwise(-1L)
    val perPerm = base
      .withColumn("__p", explode(array((0 until perms).map(lit): _*)))
      .groupBy(col("__p"))
      .agg(abs(sum(sign * col("__dq"))).as("__t"))
    val obs = base.agg(count(lit(1)).as("n"), abs(sum(col("__dq"))).as("__t0"),
      (sum(col("__dq")).cast("double") / 1e6).as("__sum"))
    obs.crossJoin(broadcast(
        perPerm.crossJoin(obs.select(col("__t0").as("__o")))
          .agg(sum(when(col("__t") >= col("__o"), 1L).otherwise(0L)).as("__ge"))))
      .select(
        col("n"), lit(perms).as("perms"),
        round(col("__sum") / col("n").cast("double"), 6).as("observed_diff"),
        round((col("__ge").cast("double") + 1.0) / lit(perms + 1).cast("double"), 6)
          .as("p_value"))
  }

  /** Grubbs' maximum-deviation outlier test (Grubbs 1950) — "is the single
    * most extreme value an outlier?", the one-point verdict beside X45's
    * MAD flagging (which scores every row): G = max|x − x̄|/s on the
    * sample sd. Two partial aggregates: exact quantized moments
    * (n, Σx, Σx²-as-DECIMAL) then a max over |n·x − Σx| (exact integers —
    * the centering multiplies through by n so no float appears before the
    * final chain), with the arg-max value selected deterministically
    * (largest deviation, ties to the SMALLER value). n < 3 or zero
    * variance → NULL G.
    *
    * Returns ONE row: (n, mean, sd, suspect, g_stat). */
  def grubbsTest(df: DataFrame, valueCol: String): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val base = df.select(
      floor(col(valueCol).cast("double") * 1e6 + 0.5).cast("long").as("__xq"))
      .localCheckpoint(true)
    val mom = base.agg(count(lit(1)).as("__n"), sum(col("__xq")).as("__sx"),
      sum(dec(col("__xq")) * dec(col("__xq"))).cast("decimal(38,0)").as("__sxx"))
    val dev = base.crossJoin(broadcast(mom))
      .select(col("__xq"),
        abs(dec(col("__n")) * dec(col("__xq")) - dec(col("__sx"))).as("__d"))
      .agg(max(struct(col("__d").as("d"), (-col("__xq")).as("negx"))).as("__m"))
      .select(col("__m.d").as("__dmax"), (-col("__m.negx")).as("__suspect"))
    val nD = col("__n").cast("double")
    val varN = (dec(col("__n")) * col("__sxx") - dec(col("__sx")) * dec(col("__sx")))
      .cast("double")
    // sample sd: sqrt(varN / (n(n−1))) in 1e-6 units
    val sd = sqrt(varN / (nD * (nD - 1.0))) / 1e6
    val g = (col("__dmax").cast("double") / nD / 1e6) / sd
    mom.crossJoin(broadcast(dev))
      .select(
        col("__n").as("n"),
        round(col("__sx").cast("double") / nD / 1e6, 6).as("mean"),
        when(col("__n") >= 2 && varN > 0.0, round(sd, 6)).as("sd"),
        round(col("__suspect").cast("double") / 1e6, 6).as("suspect"),
        when(col("__n") >= 3 && varN > 0.0, round(g, 6)).as("g_stat"))
  }
}