package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality expectations over a table.
  *
  * The reference validates integrated data with a rule matrix
  * (/root/reference/update_pnls_report/utils.py:133
  * `filter_consistent_data_by_rules` — per-ROW boolean formulas, see
  * [[Rules]]); this is the TABLE-level complement: completeness, bounds,
  * set membership, pattern conformance, row count, uniqueness and
  * referential containment, each reduced to one (metric, passed) report row
  * — the check-suite shape popularized by AWS Deequ (public docs/paper:
  * "Automating Large-Scale Data Quality Verification", VLDB'18).
  *
  * 100 TB shape: every row-scalar check compiles into ONE shared aggregate
  * pass over the table (a single partial+final HashAggregate — adding a
  * check adds a column, not a scan). Uniqueness needs its own two-level
  * aggregate (keyed count, then a count-of-counts); referential containment
  * is a broadcast left join against the DISTINCT parent keys. Nothing ever
  * collects to the driver; the report itself is a handful of rows.
  */
object Quality {

  sealed trait Check {
    /** check kind, e.g. "complete" — first report column. */
    def name: String
    /** checked column(s) — second report column. */
    def target: String
  }

  /** Fraction of non-null values >= `minFraction`. */
  final case class Complete(target: String, minFraction: Double = 1.0) extends Check {
    val name = "complete"
  }

  /** `min(target) >= atLeast`. */
  final case class MinAtLeast(target: String, atLeast: Double) extends Check {
    val name = "min_at_least"
  }

  /** `max(target) <= atMost`. */
  final case class MaxAtMost(target: String, atMost: Double) extends Check {
    val name = "max_at_most"
  }

  /** Fraction of rows whose value is in `allowed` (null counts as outside
    * the set) >= `minFraction`. */
  final case class InSet(target: String, allowed: Seq[String], minFraction: Double = 1.0)
      extends Check {
    val name = "in_set"
  }

  /** Fraction of rows matching `regex` (find-anywhere semantics; null never
    * matches) >= `minFraction`. */
  final case class MatchesRegex(target: String, regex: String, minFraction: Double = 1.0)
      extends Check {
    val name = "matches_regex"
  }

  /** `lo <= count(*) <= hi`. */
  final case class RowCountBetween(lo: Long, hi: Long) extends Check {
    val name = "row_count_between"
    val target = "*"
  }

  /** Deequ-style uniqueness: fraction of ROWS whose key value occurs exactly
    * once, >= `minFraction`. Runs as its own two-level aggregate. */
  final case class Unique(cols: Seq[String], minFraction: Double = 1.0) extends Check {
    val name = "unique"
    val target: String = cols.mkString(",")
  }

  /** Referential containment: fraction of child rows whose key exists in
    * `parent` (a null child key is an orphan) >= `minFraction`. The parent's
    * DISTINCT keys are broadcast — the child side never shuffles. */
  final case class FkContained(
      childCols: Seq[String],
      parent: DataFrame,
      parentCols: Seq[String],
      minFraction: Double = 1.0) extends Check {
    val name = "fk_contained"
    val target: String = childCols.mkString(",")
  }

  private def metricExpr(c: Check): Column = c match {
    case Complete(t, _) => avg(when(col(t).isNull, 0.0).otherwise(1.0))
    case MinAtLeast(t, _) => min(col(t)).cast("double")
    case MaxAtMost(t, _) => max(col(t)).cast("double")
    case InSet(t, allowed, _) =>
      avg(when(coalesce(col(t).isin(allowed: _*), lit(false)), 1.0).otherwise(0.0))
    case MatchesRegex(t, re, _) =>
      avg(when(coalesce(col(t).rlike(re), lit(false)), 1.0).otherwise(0.0))
    case RowCountBetween(_, _) => count(lit(1)).cast("double")
    case other => throw new IllegalArgumentException(s"not a single-pass check: $other")
  }

  private def passedExpr(c: Check, metric: Column): Column = c match {
    case Complete(_, f) => metric >= f
    case MinAtLeast(_, lo) => metric >= lo
    case MaxAtMost(_, hi) => metric <= hi
    case InSet(_, _, f) => metric >= f
    case MatchesRegex(_, _, f) => metric >= f
    case RowCountBetween(lo, hi) => metric >= lo.toDouble && metric <= hi.toDouble
    case Unique(_, f) => metric >= f
    case FkContained(_, _, _, f) => metric >= f
  }

  /** The row-scalar checks' aggregate columns — exposed (with
    * [[renderScalarReport]]) for STREAMING twins: Structured Streaming
    * allows exactly one aggregation per query, so a live quality monitor
    * aggregates the stream with these columns in complete mode and renders
    * the accumulated 1-row state table through the same report shape the
    * batch path uses. Unique/FkContained need their own second aggregate /
    * join and stay batch-only. */
  def scalarAggs(checks: Seq[Check]): Seq[Column] = {
    require(checks.forall { case _: Unique | _: FkContained => false; case _ => true },
      "scalarAggs covers row-scalar checks only (Unique/FkContained need their own pass)")
    checks.zipWithIndex.map { case (c, i) => metricExpr(c).as(s"__m$i") }
  }

  /** Render a 1-row frame produced by aggregating [[scalarAggs]] into the
    * standard `(check_name, target, metric, passed)` report rows. */
  def renderScalarReport(agged: DataFrame, checks: Seq[Check]): DataFrame = {
    val rows = checks.zipWithIndex.map { case (c, i) =>
      struct(
        lit(c.name).as("check_name"), lit(c.target).as("target"),
        col(s"__m$i").cast("double").as("metric"),
        passedExpr(c, col(s"__m$i")).as("passed"))
    }
    agged
      .select(explode(array(rows: _*)).as("r"))
      .select(col("r.check_name"), col("r.target"), col("r.metric"), col("r.passed"))
  }

  /** Run a check suite; returns one row per check:
    * `(check_name, target, metric double, passed boolean)`, in the order the
    * checks were given (pin an ORDER BY for cross-engine comparison). */
  def report(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "empty check suite")
    val single = checks.filter {
      case _: Unique | _: FkContained => false
      case _ => true
    }
    val branches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    if (single.nonEmpty) {
      val aggs = scalarAggs(single)
      branches += renderScalarReport(df.agg(aggs.head, aggs.tail: _*), single)
    }
    checks.foreach {
      case u: Unique =>
        val m = df.groupBy(u.cols.map(col): _*).agg(count(lit(1)).as("__n"))
          .agg((sum(when(col("__n") === 1, 1.0).otherwise(0.0)) /
            sum(col("__n")).cast("double")).as("metric"))
        branches += m.select(
          lit(u.name).as("check_name"), lit(u.target).as("target"),
          col("metric"), passedExpr(u, col("metric")).as("passed"))
      case f: FkContained =>
        val pKeys = f.parentCols.zipWithIndex.map { case (c, i) => col(c).as(s"__p$i") }
        val parentDistinct = f.parent.select(pKeys: _*).distinct()
        val cond = f.childCols.zipWithIndex
          .map { case (c, i) => col(c) === col(s"__p$i") }
          .reduce(_ && _)
        val m = df.select(f.childCols.map(col): _*)
          .join(broadcast(parentDistinct), cond, "left")
          .agg(avg(when(col("__p0").isNotNull, 1.0).otherwise(0.0)).as("metric"))
        branches += m.select(
          lit(f.name).as("check_name"), lit(f.target).as("target"),
          col("metric"), passedExpr(f, col("metric")).as("passed"))
      case _ => ()
    }
    branches.reduce(_.unionAll(_))
  }

  /** Benford's-law first-significant-digit audit — the classic fabricated-
    * numbers / broken-ETL alarm for naturally occurring positive measures
    * (public result: leading digit d occurs with probability log10(1+1/d)).
    * The digit extracts from the decimal string form (works through
    * scientific notation too — the mantissa leads), zeros/nulls drop, one
    * partial aggregate; the 9-row share window is metadata-sized. Returns
    * (digit, n, observed_pct, expected_pct, deviation). */
  def benford(df: DataFrame, valueCol: String): DataFrame = {
    val digit = regexp_extract(abs(col(valueCol)).cast("string"), "[1-9]", 0)
    val tot = sum(col("n")).over(org.apache.spark.sql.expressions.Window.partitionBy())
    df.select(digit.as("digit"))
      .filter(col("digit") =!= "")
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n"))
      .withColumn("observed_pct", col("n") / tot)
      .withColumn("expected_pct", log10(lit(1.0) + lit(1.0) / col("digit").cast("double")))
      .withColumn("deviation", col("observed_pct") - col("expected_pct"))
  }

  /** Join-fanout explosion guard — answers "will this equi-join blow up?"
    * BEFORE running it: per-key row counts on both sides joined on the key,
    * `out_rows = n_left · n_right` being exactly what the join would emit
    * for that key. Sum it for the total output estimate; sort it for the
    * offending keys. Costs two partial-agg histograms + one join on
    * DISTINCT keys — always cheap relative to the join it audits, which is
    * the point: run the guard at 100 TB where the real join might not
    * finish. Returns matched keys only (left key names), with n_left,
    * n_right, out_rows. */
  def joinFanout(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[(String, String)]): DataFrame = {
    require(keys.nonEmpty, "joinFanout needs at least one key pair")
    val lc = left
      .groupBy(keys.map(k => col(k._1)): _*)
      .agg(count(lit(1)).as("n_left"))
    val rc = right
      .groupBy(keys.map(k => col(k._2).as("__r_" + k._2)): _*)
      .agg(count(lit(1)).as("n_right"))
    lc.join(rc, keys.map { case (a, b) => col(a) === col("__r_" + b) }.reduce(_ && _))
      .select(
        keys.map(k => col(k._1)) :+ col("n_left") :+ col("n_right") :+
          (col("n_left") * col("n_right")).as("out_rows"): _*)
  }

  /** Functional-dependency audit — does `determinant → dependent` hold?
    * The key-discovery / consistency check of a profiling suite (the
    * column-pair analogue of X36's FK orphan audit): for each candidate
    * pair, one partial aggregate counts distinct dependent values per
    * determinant key (via the expand-free distinct-pair pre-aggregate),
    * then one aggregate rolls up how many keys violate. A held FD reports
    * 0 violating keys and max_values = 1. */
  def functionalDependencies(df: DataFrame, pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "functionalDependencies needs at least one pair")
    pairs.map { case (det, dep) =>
      df.select(col(det).as("__k"), col(dep).as("__v")).distinct()
        .groupBy(col("__k")).agg(count(lit(1)).as("__nv"))
        .agg(
          count(lit(1)).as("n_keys"),
          sum(when(col("__nv") > 1L, 1L).otherwise(0L)).as("violating_keys"),
          max(col("__nv")).as("max_values"))
        .select(
          lit(det).as("determinant"), lit(dep).as("dependent"),
          col("n_keys"), col("violating_keys"), col("max_values"),
          (col("violating_keys") === 0L).as("holds"))
    }.reduce(_ unionByName _)
  }

  /** Deterministic experiment assignment + sample-ratio-mismatch audit —
    * the experimentation-platform pair in one pass: units assign to arms
    * by `md5(salt|unit) mod Σweights` bucketed through the cumulative
    * weight ranges (stable across runs/engines — the industry-standard
    * hash bucketing), and the SRM chi-square goodness-of-fit compares
    * observed arm counts to the declared ratios — the #1
    * invalid-experiment alarm (Fabijan et al. 2019): any SDK filtering /
    * logging loss / assignment bug shows up as chi2 ≫ dof.
    *
    * Exactness: per-arm terms (O·W − n·w)² / (W·n·w) keep both sides
    * exact decimal(38,0) integers until ONE double division each,
    * 1e-9-quantized before the sum. One distinct-unit collapse + one
    * partial agg to the arm domain. Returns one row per DECLARED arm
    * (zero-observation arms included) carrying the shared chi2/dof. */
  def srmCheck(
      df: DataFrame,
      unitCol: String,
      arms: Seq[(String, Int)],
      salt: String = "graft"): DataFrame = {
    require(arms.nonEmpty && arms.forall(_._2 > 0), "arms need positive weights")
    require(arms.map(_._1).distinct.size == arms.size, "arm names must be unique")
    val spark = df.sparkSession
    import spark.implicits._
    val totalW = arms.map(_._2.toLong).sum
    val bucket = conv(
      substring(md5(concat_ws("|", lit(salt), col(unitCol).cast("string"))), 1, 13),
      16, 10).cast("long") % totalW
    val armFor = arms.tail.scanLeft((arms.head._1, arms.head._2.toLong)) {
      case ((_, cum), (name, w)) => (name, cum + w)
    }.foldRight(lit(arms.last._1)) { case ((name, cum), rest) =>
      when(bucket < cum, name).otherwise(rest)
    }
    val obs = df.select(col(unitCol)).distinct()
      .select(armFor.as("arm"))
      .groupBy(col("arm")).agg(count(lit(1)).as("__o"))
    val declared = arms.toDF("arm", "__w")
    def d(c: Column): Column = c.cast("decimal(38,0)")
    val joined = declared
      .join(obs, Seq("arm"), "left")
      .withColumn("__o", coalesce(col("__o"), lit(0L)))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val withN = joined.withColumn("__n", sum(col("__o")).over(wAll))
    val num = (d(col("__o")) * lit(totalW) - d(col("__n")) * col("__w"))
    val term = (num * num).cast("decimal(38,0)").cast("double") /
      (d(col("__n")) * col("__w") * lit(totalW)).cast("double")
    val terms = withN.withColumn("__tq",
      when(col("__n") > 0L, floor(term * 1e9 + 0.5).cast("long")))
    terms
      .withColumn("__chiq", sum(col("__tq")).over(wAll))
      .select(
        col("arm"), col("__w").cast("long").as("weight"),
        col("__o").as("n_observed"),
        (col("__n").cast("double") * col("__w").cast("double") / lit(totalW.toDouble))
          .as("n_expected"),
        (col("__chiq").cast("double") / 1e9).as("chi2"),
        lit(arms.size.toLong - 1L).as("dof"))
  }

  /** Laplace-noised count release (the Dwork et al. 2006 counting-query
    * mechanism) — the RELEASE step completing the privacy ladder after the
    * audits (X122 k-anonymity → X149 l-diversity → X153 t-closeness):
    * per-group counts plus Laplace(Δ/ε) noise with counting-query
    * sensitivity Δ = 1, released values rounded half-up and clamped at 0,
    * the noise scale b = 1/ε reported alongside.
    *
    * The draw here is DETERMINISTIC BY DESIGN: a uniform from the md5 of
    * (seed, group key) — (h + 0.5)/2^52 ∈ (0,1), never exactly ½ — through
    * the Laplace inverse CDF −b·sgn(u−½)·ln(1−2|u−½|), so the release is
    * reproducible and the cross-engine gate can replay it. That
    * determinism is the TESTING trade: a keyed hash of the group name is
    * NOT private — production DP swaps the hash for a CSPRNG draw (one
    * line) and keeps everything else. */
  def noisyCounts(
      df: DataFrame,
      keyCols: Seq[String],
      epsilon: Double,
      seed: String = "graft"): DataFrame = {
    require(epsilon > 0, s"epsilon must be > 0, got $epsilon")
    val k = keyCols.map(col)
    val b = 1.0 / epsilon
    val h = conv(
      substring(md5(concat_ws("|",
        lit(seed) +: keyCols.map(c => col(c).cast("string")): _*)), 1, 13),
      16, 10).cast("long")
    val u = (h.cast("double") + lit(0.5)) / lit(4503599627370496.0) // 2^52
    val v = u - lit(0.5)
    val noise = -lit(b) * signum(v) * log(lit(1.0) - lit(2.0) * abs(v))
    df.groupBy(k: _*)
      .agg(count(lit(1)).as("__n"))
      .select(
        k ++ Seq(
          greatest(
            floor(col("__n").cast("double") + noise + lit(0.5)).cast("long"),
            lit(0L)).as("n_released"),
          lit(b).as("noise_scale")): _*)
  }

  /** Exponential-mechanism selection (McSherry & Talwar 2007) — the
    * SELECTION rung of the privacy ladder next to [[noisyCounts]]'s
    * numeric release: privately pick ONE candidate from a scored table
    * (most common category, best parameter, top supplier) with probability
    * ∝ exp(ε·u(r)/(2Δu)) — the released winner, not the scores, is the
    * output. Implemented by the Gumbel-max identity: argmax of
    * ε·u(r)/(2Δu) + Gumbel(r) samples exactly that distribution, turning
    * the mechanism into one TakeOrdered top-1 over the candidate table
    * (no normalization pass, works at any candidate cardinality).
    *
    * The Gumbel draw is DETERMINISTIC BY DESIGN (the [[noisyCounts]]
    * trade): u from the md5 of (seed, candidate key) → (h+0.5)/2^52 ∈
    * (0,1), G = −ln(−ln u) — so the release is reproducible and the
    * cross-engine gate replays the whole selection. Production DP swaps
    * the hash for a CSPRNG draw (one line) and keeps the identity.
    * `scoreCol` must be pre-quantized integral utility; ties in the noisy
    * score break on the key columns (measure-zero in theory, pinned for
    * engines). Returns one row: (keys…, utility, epsilon, sensitivity). */
  def exponentialMechanism(
      df: DataFrame,
      keyCols: Seq[String],
      scoreCol: String,
      epsilon: Double,
      sensitivity: Double = 1.0,
      seed: String = "graft"): DataFrame = {
    require(epsilon > 0, s"epsilon must be > 0, got $epsilon")
    require(sensitivity > 0, s"sensitivity must be > 0, got $sensitivity")
    val k = keyCols.map(col)
    val h = conv(
      substring(md5(concat_ws("|",
        lit(seed) +: keyCols.map(c => col(c).cast("string")): _*)), 1, 13),
      16, 10).cast("long")
    val u = (h.cast("double") + lit(0.5)) / lit(4503599627370496.0) // 2^52
    val gumbel = -log(-log(u))
    val noisy = col(scoreCol).cast("double") *
      lit(epsilon / (2.0 * sensitivity)) + gumbel
    df.select(k ++ Seq(col(scoreCol).cast("long").as("utility"),
        noisy.as("__noisy")): _*)
      .orderBy(col("__noisy").desc +: k.map(_.asc): _*)
      .limit(1)
      .select(k ++ Seq(col("utility"),
        lit(epsilon).as("epsilon"), lit(sensitivity).as("sensitivity")): _*)
  }

  /** Randomized-response release + debias (Warner 1965) — the LOCAL
    * differential-privacy member of the privacy family, next to
    * [[noisyCounts]]'s central-DP release: each unit reports its true
    * boolean with probability `p` and the opposite with 1−p, and the
    * population rate is recovered as π̂ = (λ̂ + p − 1)/(2p − 1) with
    * SE(π̂) = √(λ̂(1−λ̂)/n)/|2p−1|. Satisfies ε-LDP with ε = ln(p/(1−p)).
    *
    * The coin is DETERMINISTIC BY DESIGN (the [[noisyCounts]] trade): a
    * 10000-sided md5 hash-bucket of (seed, unit id) flips truth when
    * bucket ≥ p·10000 — exact integer comparison, so any engine replays
    * the exact same responses and the debias is gate-checkable.
    * Production LDP swaps the hash for a client-side CSPRNG draw and
    * keeps the estimator. Pure projection + one count aggregate — no
    * shuffle beyond the final reduce. Returns one row:
    * (n, n_yes_reported, lambda_hat, pi_hat, se, epsilon, true_rate —
    * the last for gate calibration only; a real release never sees it). */
  def randomizedResponse(
      df: DataFrame,
      idCol: String,
      truthCol: String,
      p: Double = 0.75,
      seed: String = "graft"): DataFrame = {
    require(p > 0.5 && p < 1.0, s"p must be in (0.5, 1), got $p")
    val pScaled = math.round(p * 10000.0)
    val keep = graft.operators.Sampling.hashBucket(
      concat_ws("|", lit(seed), col(idCol).cast("string")), 10000) < lit(pScaled)
    val truth = col(truthCol).cast("boolean")
    val reported = when(keep, truth).otherwise(!truth)
    val agg = df.agg(
      count(lit(1)).as("n"),
      sum(when(reported, 1L).otherwise(0L)).as("n_yes_reported"),
      sum(when(truth, 1L).otherwise(0L)).as("__ny"))
    val n = col("n").cast("double")
    val lam = col("n_yes_reported").cast("double") / n
    val piHat = (lam + lit(p) - 1.0) / lit(2.0 * p - 1.0)
    agg.select(
      col("n"),
      col("n_yes_reported"),
      round(lam, 6).as("lambda_hat"),
      round(piHat, 6).as("pi_hat"),
      round(sqrt(lam * (lit(1.0) - lam) / n) / lit(math.abs(2.0 * p - 1.0)), 6).as("se"),
      round(lit(math.log(p / (1.0 - p))), 6).as("epsilon"),
      round(col("__ny").cast("double") / n, 6).as("true_rate"))
  }

  /** l-diversity audit — the companion to [[kAnonymity]]: a k-anonymous
    * equivalence class still leaks the sensitive attribute when every row in
    * it shares one value, so flag quasi-identifier groups whose sensitive
    * column carries fewer than `l` DISTINCT values (Machanavajjhala et al.,
    * ICDE 2006). One partial-agg groupBy with a distinct count — the same
    * single-shuffle shape as the k-anonymity audit; the audit output is
    * group-level, bounded by the quasi-identifier domain, never row-scale. */
  def lDiversity(
      df: DataFrame,
      quasiCols: Seq[String],
      sensitiveCol: String,
      l: Long): DataFrame = {
    require(quasiCols.nonEmpty, "lDiversity needs at least one quasi-identifier column")
    require(l >= 2, s"l must be >= 2, got $l")
    df.groupBy(quasiCols.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col(sensitiveCol)).as("l_distinct"))
      .withColumn("diverse", col("l_distinct") >= l)
  }

  /** k-anonymity audit — the privacy re-identification check: every
    * quasi-identifier combination must describe at least k records, or the
    * records in it are linkable. Returns the VIOLATING combinations (quasi
    * values + group size); an empty result certifies the k-anonymity
    * property. One partial aggregate on the quasi key — always cheap
    * relative to the release it audits, any corpus size. */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.nonEmpty, "kAnonymity needs at least one quasi-identifier column")
    require(k >= 2, s"k must be >= 2, got $k")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") < k)
  }

  /** t-closeness audit — the third rung of the privacy ladder after
    * [[kAnonymity]] and [[lDiversity]] (Li, Li & Venkatasubramanian, ICDE
    * 2007): an l-diverse class can still leak when its sensitive-value
    * MIX differs sharply from the corpus at large. For a categorical
    * sensitive column the prescribed distance is total variation:
    * TVD(g) = ½ Σ_s |n_gs/n_g − N_s/N|, flagged when > t.
    *
    * Shape: two partial-agg groupBys over the release (quasi×sensitive
    * and sensitive), then all arithmetic on the AUDIT tables — the grid
    * of QI-classes × sensitive support built by a broadcast cross join is
    * bounded by the two domains, never row-scale. Each |·| term is the
    * exact integer cross-multiply |n_gs·N − N_s·n_g| on decimal(38,0)
    * (counts at 100 TB overflow a long product); the single division by
    * 2·n_g·N happens once per class at the very end. */
  def tCloseness(
      df: DataFrame,
      quasiCols: Seq[String],
      sensitiveCol: String,
      t: Double): DataFrame = {
    require(quasiCols.nonEmpty, "tCloseness needs at least one quasi-identifier column")
    require(t > 0 && t < 1, s"t must be in (0,1), got $t")
    val quasi = quasiCols.map(col)
    val gs = df.groupBy(quasi :+ col(sensitiveCol).as("__s"): _*)
      .agg(count(lit(1)).as("__n_gs"))
    val g = gs.groupBy(quasi: _*).agg(sum(col("__n_gs")).as("n"))
    val sTab = df.groupBy(col(sensitiveCol).as("__s_o")).agg(count(lit(1)).as("__n_s"))
    val totals = sTab.agg(sum(col("__n_s")).as("__n_total"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    // fresh attribute ids on the class-count side: g derives from gs, and
    // joining shared-lineage attributes trips the ambiguous-self-join
    // resolver (same lesson as Relational.globalRunningSum's offsets)
    val gsFresh = gs.select(
      quasiCols.map(k => col(k).as(k + "__q")) ++
        Seq(col("__s").as("__s_g"), col("__n_gs")): _*)
    val grid = g.crossJoin(broadcast(sTab)).crossJoin(broadcast(totals))
      .join(gsFresh,
        quasiCols.map(k => col(k) <=> col(k + "__q"))
          .reduce(_ && _) && col("__s_o") <=> col("__s_g"),
        "left")
      .withColumn("__term",
        abs(dec(coalesce(col("__n_gs"), lit(0L))) * dec(col("__n_total")) -
          dec(col("__n_s")) * dec(col("n"))))
    // numerator is an exact decimal integer; the one division runs in
    // doubles with (2·n)·N association so any engine evaluating the same
    // chain bit-agrees (×2 is exact, each factor converts exactly below
    // 2^53, one rounding per multiply)
    grid.groupBy((quasi :+ col("n") :+ col("__n_total")): _*)
      .agg(sum(col("__term")).as("__num"))
      .withColumn("tvd",
        col("__num").cast("double") /
          (lit(2.0) * col("n").cast("double") * col("__n_total").cast("double")))
      .withColumn("close", col("tvd") <= t)
      .drop("__num", "__n_total")
  }

  /** Schema contract audit — the ingestion guard in front of everything
    * else: compare a frame's ACTUAL schema against the declared
    * (column, typeDDL) contract and report one row per discrepancy class
    * — `missing` (contracted, absent), `type_mismatch` (present, wrong
    * type), `unexpected` (present, not contracted), `ok` otherwise.
    * Purely metadata — zero jobs, zero scans; run it before the first
    * action on any externally-supplied table. */
  def schemaContract(
      df: DataFrame,
      expected: Seq[(String, String)]): DataFrame = {
    require(expected.nonEmpty, "schemaContract needs at least one expected column")
    val actual = df.schema.fields.map(f => f.name -> f.dataType.sql.toLowerCase).toMap
    val spark = df.sparkSession
    import spark.implicits._
    val rows = expected.map { case (name, ddl) =>
      val want = org.apache.spark.sql.types.DataType.fromDDL(ddl).sql.toLowerCase
      actual.get(name) match {
        case None                      => (name, want, null: String, "missing")
        case Some(got) if got != want  => (name, want, got, "type_mismatch")
        case Some(got)                 => (name, want, got, "ok")
      }
    } ++ (actual.keySet -- expected.map(_._1)).toSeq.sorted.map { extra =>
      (extra, null: String, actual(extra), "unexpected")
    }
    rows.toDF("column", "expected_type", "actual_type", "status")
  }

  /** Reliability diagram + expected-calibration-error terms (Naeini et
    * al., AAAI 2015 — the standard "is this model's 0.8 really an 80%"
    * audit): scores bucket into `bins` equal-width bins; per bin the mean
    * predicted score, the observed positive rate, their |gap|, and the
    * ECE term (n/N)·gap — sum `ece_term` over the bounded bin table for
    * the scalar ECE. One partial-agg pass; scores quantize to 1e-9 longs
    * before the sum so the bin means are exact-integer-backed single
    * divisions, engine-stable. */
  def calibration(
      df: DataFrame,
      scoreCol: String,
      labelCol: Column,
      bins: Int = 10): DataFrame =
    calibrationAssemble(calibrationBins(df, scoreCol, labelCol, bins))

  /** Count half of [[calibration]]: per score bin, (n, quantized score sum
    * `__sq`, n_pos) in one aggregate — a streaming twin's state. */
  def calibrationBins(
      df: DataFrame,
      scoreCol: String,
      labelCol: Column,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val sc = col(scoreCol).cast("double")
    df.withColumn("__bin",
        least(floor(sc * bins).cast("long"), lit(bins - 1L)))
      .withColumn("__q", floor(sc * 1e9 + 0.5).cast("long"))
      .withColumn("__pos", labelCol.cast("long"))
      .groupBy(col("__bin").as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("__q")).as("__sq"),
        sum(col("__pos")).as("n_pos"))
  }

  /** Readout half of [[calibration]] over [[calibrationBins]]. */
  def calibrationAssemble(binned: DataFrame): DataFrame = {
    val total = binned.agg(sum(col("n")).as("__nt"))
    binned.crossJoin(broadcast(total))
      .withColumn("mean_score",
        (col("__sq").cast("double") / col("n")) / 1e9)
      .withColumn("obs_rate", col("n_pos").cast("double") / col("n"))
      .withColumn("gap", abs(col("mean_score") - col("obs_rate")))
      .withColumn("ece_term",
        (col("n").cast("double") / col("__nt")) * col("gap"))
      .drop("__sq", "__nt")
  }

  /** Benjamini–Hochberg step-up FDR adjustment (JRSS-B 1995) over a table
    * of test p-values — the multiple-testing layer above the inference
    * family (Welch / Mann–Whitney / KS / chi-square): q_i = min_{k≥i}
    * p_(k)·m/k clamped at 1, reject ⟺ q ≤ alpha (equivalent to the
    * largest-i step-up rule).
    *
    * Runs on the TEST table — one row per hypothesis, bounded by how many
    * tests the caller ran, so the global rank windows are safe. Engine
    * determinism needs no rounding: p·m/i is two correctly-rounded ops on
    * exact integers and the step-up envelope is a running MIN — a
    * selection, never an accumulation. */
  def bhAdjust(
      df: DataFrame,
      idCol: String,
      pCol: String,
      alpha: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    val p = col(pCol).cast("double")
    val w = Window.orderBy(p, col(idCol))
    val wAll = Window.partitionBy()
    val wRev = Window.orderBy(p.desc, col(idCol).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("__m", count(lit(1)).over(wAll))
      .withColumn("q_value",
        least(lit(1.0), min(p * col("__m") / col("rank")).over(wRev)))
      .withColumn("reject", col("q_value") <= alpha)
      .drop("__m")
  }

  /** Holm–Bonferroni step-down (Holm 1979) — the FWER member completing
    * the multiple-testing trio beside [[bhAdjust]] (FDR under
    * independence/PRDS) and [[byAdjust]] (FDR under arbitrary dependence):
    * controls the probability of even ONE false rejection, valid under
    * arbitrary dependence with no distributional assumptions, and
    * uniformly more powerful than plain Bonferroni. Adjusted
    * p_(i) = min(1, max_{k≤i} (m−k+1)·p_(k)) — a running MAX over the
    * ascending (p, id) order (the step-down mirror of BH's step-up
    * envelope). Same discipline as the siblings: the input is the TEST
    * table (one row per hypothesis), so the un-partitioned rank window is
    * family-sized, never data-grain. */
  def holmAdjust(
      df: DataFrame,
      idCol: String,
      pCol: String,
      alpha: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    val p = col(pCol).cast("double")
    val w = Window.orderBy(p, col(idCol))
    val wAll = Window.partitionBy()
    val wFwd = Window.orderBy(p, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("__m", count(lit(1)).over(wAll))
      .withColumn("p_adj",
        least(lit(1.0),
          max(p * (col("__m") - col("rank") + 1L).cast("double")).over(wFwd)))
      .withColumn("reject", col("p_adj") <= alpha)
      .drop("__m")
  }

  /** Benjamini–Yekutieli step-up (Ann. Statist. 2001) — [[bhAdjust]]'s
    * sibling that stays valid under ARBITRARY dependence between the
    * tests (BH needs independence/PRDS; correlated per-segment tests on
    * overlapping data are exactly where that assumption dies): same
    * step-up envelope with the harmonic penalty, q_i = min_{k≥i}
    * p_(k)·m·H_m/k, H_m = Σ_{j≤m} 1/j.
    *
    * H_m is computed IN-PLAN as the sum of 1/rank over the family — the
    * ranks are exactly 1..m — with each term quantized to a 1e-12 long
    * first (a raw float sum over the window would be row-order-dependent
    * across engines); everything else is the bhAdjust discipline. */
  def byAdjust(
      df: DataFrame,
      idCol: String,
      pCol: String,
      alpha: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    val p = col(pCol).cast("double")
    val w = Window.orderBy(p, col(idCol))
    val wAll = Window.partitionBy()
    val wRev = Window.orderBy(p.desc, col(idCol).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("__m", count(lit(1)).over(wAll))
      .withColumn("__h",
        sum(floor(lit(1e12) / col("rank").cast("double") + 0.5).cast("long"))
          .over(wAll).cast("double") / 1e12)
      .withColumn("q_value",
        least(lit(1.0),
          min(p * col("__m") * col("__h") / col("rank")).over(wRev)))
      .withColumn("reject", col("q_value") <= alpha)
      .drop("__m", "__h")
  }

  /** Source-ablation readout — the closed-form leave-one-source-out
    * influence of each source on a corpus mean (the cheap end of data
    * valuation: for MEANS, deletion influence needs no refit, only the
    * global sums): per source s, mean_without(s) = (S − S_s)/(N − N_s)
    * and delta = mean_with − mean_without — a source whose removal RAISES
    * the metric (delta < 0) is hurting it. ONE partial aggregate to the
    * source table; per-row values quantize to 1e-6 longs so every mean is
    * an exact-ratio double, identical in any engine. A source holding the
    * whole corpus reports NULL for its without-mean.
    *
    * Output: (sourceCol, n, mean_source, mean_without, delta). */
  def sourceAblation(
      df: DataFrame,
      sourceCol: String,
      valueCol: String): DataFrame = {
    val q = floor(col(valueCol).cast("double") * 1000000.0 + 0.5).cast("long")
    val per = df.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("__n"), sum(q).as("__s"))
    val tot = per.agg(sum(col("__n")).as("__nt"), sum(col("__s")).as("__st"))
    val without = (col("__st") - col("__s")).cast("double") / 1000000.0 /
      (col("__nt") - col("__n")).cast("double")
    val withAll = col("__st").cast("double") / 1000000.0 / col("__nt").cast("double")
    per.crossJoin(broadcast(tot))
      .select(
        col(sourceCol), col("__n").as("n"),
        round(col("__s").cast("double") / 1000000.0 / col("__n").cast("double"), 6)
          .as("mean_source"),
        when(col("__nt") > col("__n"), round(without, 6)).as("mean_without"),
        when(col("__nt") > col("__n"), round(withAll - without, 6)).as("delta"))
  }

  /** Chapman capture–recapture population estimate (Chapman 1951; the
    * mark–recapture classic) — "how big is the TRUE population two
    * independent partial crawls are sampling?": with capture sizes n₁,
    * n₂ and overlap m, N̂ = (n₁+1)(n₂+1)/(m+1) − 1 (bias-corrected
    * Lincoln–Petersen, finite even at m = 0) with
    * Var(N̂) = (n₁+1)(n₂+1)(n₁−m)(n₂−m)/((m+1)²(m+2)). The corpus-size
    * audit beside X34's sketch overlap: two dedup'd key sets, three
    * exact counts (two partial aggs + one co-partitioned semi-join
    * count), one fixed IEEE chain.
    *
    * Returns ONE row: (n1, n2, overlap, n_hat, se). Assumes the two
    * captures draw independently (the caller's design contract). */
  def captureRecapture(
      capA: DataFrame,
      capB: DataFrame,
      keyCol: String): DataFrame = {
    val a = capA.select(col(keyCol).as("__k")).distinct()
    val b = capB.select(col(keyCol).as("__k")).distinct()
    val n1 = a.agg(count(lit(1)).as("n1"))
    val n2 = b.agg(count(lit(1)).as("n2"))
    val m = a.join(b, Seq("__k"), "left_semi").agg(count(lit(1)).as("m"))
    val j = n1.crossJoin(n2).crossJoin(m)
    val n1d = (col("n1") + 1).cast("double")
    val n2d = (col("n2") + 1).cast("double")
    val md = (col("m") + 1).cast("double")
    val nHat = n1d * n2d / md - lit(1.0)
    val varN = n1d * n2d * (col("n1") - col("m")).cast("double") *
      (col("n2") - col("m")).cast("double") / (md * md * (col("m") + 2).cast("double"))
    j.select(col("n1"), col("n2"), col("m").as("overlap"),
      round(nHat, 6).as("n_hat"),
      round(sqrt(varN), 6).as("se"))
  }
  /** Functional-dependency audit (g₃ error, Kivinen & Mannila 1995) — the
    * schema-discovery / integrity readout profilers run before trusting a
    * "key determines value" assumption: for each declared candidate
    * LHS → RHS, does one LHS value ever map to two RHS values, and how
    * many rows would have to leave to make the dependency hold (g₃ = N −
    * Σ_lhs max_rhs count — the standard minimal-repair measure)? NULL RHS
    * counts as a value (a NULL/non-NULL mix IS a violation); NULL-LHS rows
    * are excluded and counted. Per pair: one (lhs, rhs) partial agg, one
    * lhs rollup (max + distinct), one 1-row readout — bounded by the
    * declared pair list, each pass linear, the X30 profiler posture.
    *
    * Returns one row per pair: (lhs, rhs, n_rows, n_lhs_null, n_lhs_values,
    * n_violating_lhs, g3_rows, g3_ratio, holds). */
  def functionalDependencyAudit(
      df: DataFrame,
      pairs: Seq[(String, String)]): DataFrame =
    fdAssemble(fdCellCounts(df, pairs))

  /** The COUNTS half of [[functionalDependencyAudit]]: one melt over the
    * declared pairs + ONE (pair, lhs, rhs) partial-agg count — exactly the
    * integer state a streaming monitor maintains across micro-batches (the
    * goldenUnpivotCounts factoring discipline). NULL-lhs rows keep a cell
    * (NULL lhs string) so the assembly can count them. */
  def fdCellCounts(df: DataFrame, pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "at least one (lhs, rhs) pair required")
    df.select(explode(array(pairs.map { case (lhs, rhs) =>
        struct(lit(lhs).as("lhs"), lit(rhs).as("rhs"),
          col(lhs).cast("string").as("__l"), col(rhs).cast("string").as("__r"))
      }: _*)).as("__cell"))
      .select(col("__cell.lhs").as("lhs"), col("__cell.rhs").as("rhs"),
        col("__cell.__l").as("__l"), col("__cell.__r").as("__r"))
      .groupBy(col("lhs"), col("rhs"), col("__l"), col("__r"))
      .agg(count(lit(1)).as("__c"))
  }

  /** The ASSEMBLY half of [[functionalDependencyAudit]] over
    * [[fdCellCounts]]'s (pair, lhs, rhs) → count table: per-lhs rollups
    * on the bounded cell table, the g₃ identity, NULL-lhs cells read off
    * as n_lhs_null. Batch and stream share this verbatim, so integer
    * state ⇒ stream == batch bit-exactly. */
  def fdAssemble(cells0: DataFrame): DataFrame = {
    // pin to a LogicalRDD: the null-cells and per-lhs branches SELF-JOIN
    // this table, and a memory-sink VIEW (the streaming twin's source)
    // cannot re-instance its attributes — the join dies with conflicting
    // references; a checkpointed plan dedups normally (cells are bounded:
    // pairs × distinct values)
    val cells = cells0.localCheckpoint(true)
    val nulls = cells.filter(col("__l").isNull)
      .groupBy(col("lhs"), col("rhs"))
      .agg(sum(col("__c")).as("__nl"))
    val perLhs = cells.filter(col("__l").isNotNull)
      .groupBy(col("lhs"), col("rhs"), col("__l"))
      .agg(max(col("__c")).as("__mx"), count(lit(1)).as("__k"),
        sum(col("__c")).as("__rows"))
    perLhs.groupBy(col("lhs"), col("rhs"))
      .agg(
        sum(col("__rows")).as("n_rows"),
        count(lit(1)).as("n_lhs_values"),
        sum(when(col("__k") > 1, 1L).otherwise(0L)).as("n_violating_lhs"),
        (sum(col("__rows")) - sum(col("__mx"))).as("g3_rows"))
      .join(nulls, Seq("lhs", "rhs"), "full_outer")
      .select(
        col("lhs"), col("rhs"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        coalesce(col("__nl"), lit(0L)).as("n_lhs_null"),
        coalesce(col("n_lhs_values"), lit(0L)).as("n_lhs_values"),
        coalesce(col("n_violating_lhs"), lit(0L)).as("n_violating_lhs"),
        coalesce(col("g3_rows"), lit(0L)).as("g3_rows"),
        when(coalesce(col("n_rows"), lit(0L)) > 0,
          round(col("g3_rows").cast("double") / col("n_rows").cast("double"), 6))
          .as("g3_ratio"),
        coalesce(col("n_violating_lhs") === 0, lit(true)).as("holds"))
  }
}
