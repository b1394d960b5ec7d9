package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** In-engine model TRAINING loops — the distributed fitting step of the
  * pipeline families whose scoring side already exists (target encoding,
  * DSIR, perplexity, conformal): fixed iteration schedules over partial
  * aggregates, weights quantized so every engine replays the fit
  * bit-for-bit. */
object Models {

  /** Run `n` independent fits, each of which starts Spark jobs, concurrently
    * and return their results in order. All of them run in one job group
    * that interrupts its tasks on cancel. The first fit to throw cancels
    * the group, including jobs its siblings have not started yet; the call
    * returns once every fit has ended, so no job of the group is left
    * running, and rethrows that first exception (a `require` message
    * surfaces as declared, not as a sibling's cancellation). Each fit parks
    * a global-EC thread for whole Spark jobs, so it runs in `blocking`,
    * which lets the pool grow instead of starving other users of it. */
  private[operators] def concurrentFits[T](
      spark: org.apache.spark.sql.SparkSession, name: String, n: Int)(fit: Int => T): Seq[T] = {
    import scala.concurrent.{blocking, Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val sc = spark.sparkContext
    val group = s"$name-${java.util.UUID.randomUUID}"
    val first = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val fits = (0 until n).map { i => Future { blocking {
      sc.setJobGroup(group, s"$name fit $i", interruptOnCancel = true)
      try fit(i)
      catch { case e: Throwable =>
        if (first.compareAndSet(null, e)) sc.cancelJobGroupAndFutureJobs(group)
        throw e
      } finally sc.clearJobGroup()
    } } }
    fits.foreach(Await.ready(_, Duration.Inf))
    Option(first.get).foreach(e => throw e)
    fits.map(_.value.get.get)
  }

  /** Distributed logistic regression by a FIXED quantized batch
    * gradient-descent schedule — the in-engine propensity/quality
    * classifier (the fit half the scoring operators assume): an intercept
    * plus the caller's pre-scaled features, `iterations` full-batch GD
    * steps at rate `lr`.
    *
    * PageRank's iteration discipline applied to model fitting: weights
    * STORE as 1e-9-unit longs on the driver (k+1 scalars — domain-bounded
    * by contract); each step is ONE partial aggregate computing all
    * gradient components, with per-row terms floor((p−y)·x_j·1e6+0.5)
    * summed as exact longs, and the update
    * w_q ← w_q − floor(lr·g_q·1000/n + 0.5) an identical double chain in
    * any engine — so the whole fit is bit-identical across partitionings
    * and replayable in SQL as unrolled CTEs. Per-iteration cost: one scan
    * + one k-column partial agg; nothing but 1-row results ever moves.
    *
    * Features must be pre-scaled to O(1) (the caller's contract — |z|
    * then stays in exp's well-conditioned range and p never saturates to
    * an exact 0/1, which would make the log-loss readout infinite).
    * Labels are booleans.
    *
    * Returns ONE row: (n, w0 … wk as 1e-9-exact doubles — w0 the
    * intercept, then `featureCols` order — log_loss, accuracy). */
  def logisticRegression(
      df: DataFrame,
      labelCol: String,
      featureCols: Seq[String],
      iterations: Int = 8,
      lr: Double = 0.5): DataFrame = {
    require(featureCols.nonEmpty, "at least one feature required")
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(lr > 0, s"lr must be > 0, got $lr")
    val k = featureCols.length + 1
    val base =
      pinnedDesign(df, Seq(when(col(labelCol), 1.0).otherwise(0.0).as("__y")), featureCols)
    val n = base.count()
    require(n > 0, "cannot fit on an empty DataFrame")
    val wq = fitQ(base, k, iterations, lr, n)
    val p = sigmoid(wq, k)
    val metrics = base.agg(
      count(lit(1)).as("n"),
      sum(floor(when(col("__y") === 1.0, log(p)).otherwise(log(lit(1.0) - p))
        * 1e6 + 0.5).cast("long")).as("__ll"),
      sum(when((p >= 0.5).cast("double") === col("__y"), 1L).otherwise(0L)).as("__ok"))
    metrics.select(
      col("n") +:
        (0 until k).map(j => lit(wq(j) / 1e9).as(s"w$j")) :+
        (-col("__ll").cast("double") / 1e6 / col("n").cast("double")).as("log_loss") :+
        (col("__ok").cast("double") / col("n").cast("double")).as("accuracy"): _*)
  }

  /** The GD fits' design: the `lead` columns (the label `__y` first), then
    * the intercept `__x0` = 1 and each feature as `__x1…`, checkpointed to
    * pin the loop-invariant base — ONE source scan for the whole fit. */
  private def pinnedDesign(
      df: DataFrame, lead: Seq[Column], featureCols: Seq[String]): DataFrame =
    df.select(lead ++ (lit(1.0) +: featureCols.map(c => col(c).cast("double")))
        .zipWithIndex.map { case (f, j) => f.as(s"__x$j") }: _*)
      .localCheckpoint(true)

  /** σ(w·x) over the `__x0…` columns for 1e-9-quantized weights — the
    * fixed left-assoc IEEE chain both the fit and every scorer share. */
  private def sigmoid(wq: Array[Long], k: Int): Column = {
    val z = (0 until k).map(j => lit(wq(j) / 1e9) * col(s"__x$j")).reduceLeft(_ + _)
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** The log-link quantized GD loop shared by [[poissonRegression]] and
    * [[poissonDispersion]]: `base` must carry __y and __x0…__x{k−1}. */
  private def poissonFitQ(
      base: DataFrame, k: Int, iterations: Int, lr: Double, n: Long): Array[Long] = {
    var wq = Array.fill(k)(0L)
    def z: Column =
      (0 until k).map(j => lit(wq(j) / 1e9) * col(s"__x$j")).reduceLeft(_ + _)
    for (_ <- 1 to iterations) {
      val p = exp(z)
      val g = base.agg(
        sum(floor((p - col("__y")) * col("__x0") * 1e6 + 0.5).cast("long")).as("g0"),
        (1 until k).map(j =>
          sum(floor((p - col("__y")) * col(s"__x$j") * 1e6 + 0.5).cast("long")).as(s"g$j")): _*)
        .head()
      wq = wq.zipWithIndex.map { case (w, j) =>
        w - math.floor(lr * g.getLong(j) * 1000.0 / n + 0.5).toLong
      }
    }
    wq
  }

  /** The quantized GD loop shared by [[logisticRegression]] and the
    * propensity consumers: `base` must carry __y and __x0…__x{k−1}. */
  private def fitQ(
      base: DataFrame, k: Int, iterations: Int, lr: Double, n: Long): Array[Long] = {
    var wq = Array.fill(k)(0L)
    for (_ <- 1 to iterations) {
      val p = sigmoid(wq, k)
      val g = base.agg(
        sum(floor((p - col("__y")) * col("__x0") * 1e6 + 0.5).cast("long")).as("g0"),
        (1 until k).map(j =>
          sum(floor((p - col("__y")) * col(s"__x$j") * 1e6 + 0.5).cast("long")).as(s"g$j")): _*)
        .head()
      wq = wq.zipWithIndex.map { case (w, j) =>
        w - math.floor(lr * g.getLong(j) * 1000.0 / n + 0.5).toLong
      }
    }
    wq
  }

  /** Quantile (pinball-loss) linear regression — the robust-regression
    * member beside [[linearRegression]]'s mean fit: intercept + two
    * features, `iterations` full-batch subgradient steps on
    * ρ_τ(y − ŷ) at rate `lr`, with the equality subgradient pinned to the
    * 1{y ≤ ŷ} convention so every step is deterministic, and the
    * classic lr/√t decay (constant-step subgradient never converges —
    * it orbits the optimum at radius ∝ lr). The [[logisticRegression]]
    * discipline otherwise: per-row terms floor((1{y≤ŷ} − τ)·x_j·1e6+0.5)
    * sum as exact longs, weights store as 1e-9 longs with an identical
    * update chain — the whole trajectory is bit-identical anywhere and
    * replays in SQL. Readout adds the exact quantized mean pinball loss.
    *
    * Returns ONE row: (n, tau, w0, w1, w2, pinball). */
  def quantileRegression(
      df: DataFrame,
      valueCol: String,
      featureCols: Seq[String],
      tau: Double = 0.5,
      iterations: Int = 20,
      lr: Double = 0.5): DataFrame = {
    require(featureCols.length == 2,
      s"exactly two features (plus intercept) supported, got ${featureCols.length}")
    require(tau > 0 && tau < 1, s"tau must be in (0,1), got $tau")
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val k = featureCols.length + 1
    val base = pinnedDesign(df, Seq(col(valueCol).cast("double").as("__y")), featureCols)
    val n = base.count()
    require(n > 0, "cannot fit on an empty DataFrame")
    var wq = Array.fill(k)(0L)
    def yhat: Column =
      (0 until k).map(j => lit(wq(j) / 1e9) * col(s"__x$j")).reduceLeft(_ + _)
    for (iter <- 1 to iterations) {
      val ind = when(col("__y") <= yhat, 1.0).otherwise(0.0)
      val g = base.agg(
        sum(floor((ind - lit(tau)) * col("__x0") * 1e6 + 0.5).cast("long")).as("g0"),
        (1 until k).map(j =>
          sum(floor((ind - lit(tau)) * col(s"__x$j") * 1e6 + 0.5).cast("long")).as(s"g$j")): _*)
        .head()
      val lrI = lr / math.sqrt(iter.toDouble)
      wq = wq.zipWithIndex.map { case (w, j) =>
        w - math.floor(lrI * g.getLong(j) * 1000.0 / n + 0.5).toLong
      }
    }
    val dy = col("__y") - yhat
    val metrics = base.agg(
      count(lit(1)).as("n"),
      sum(floor(greatest(lit(tau) * dy, lit(tau - 1.0) * dy) * 1e6 + 0.5).cast("long"))
        .as("__pb"))
    metrics.select(
      col("n") +: lit(tau).as("tau") +:
        (0 until k).map(j => lit(wq(j) / 1e9).as(s"w$j")) :+
        (col("__pb").cast("double") / 1e6 / col("n").cast("double")).as("pinball"): _*)
  }

  /** Regression decision stump with an EXACT distributed greedy split —
    * the one-node CART member beside the linear fits (and the kernel of
    * every histogram-based boosted-tree trainer: per-bin sufficient
    * statistics, then a bounded split scan): for each candidate feature
    * (pre-binned to integers by the caller — the XGBoost/LightGBM
    * histogram contract, cardinality ≤ a few thousand by contract), ONE
    * partial aggregate collects per-bin (count, Σ floor(y·1e6+0.5)) exact
    * longs; cumulative left-side sums ride a per-feature window over the
    * BOUNDED bin table; the variance-reduction gain
    * S_L²/n_L + S_R²/n_R − S²/n (in 1e-6-unit doubles, a fixed IEEE
    * chain on exact longs) ranks every (feature, split) candidate, ties
    * broken (feature asc, bin asc). Split semantics: bin ≤ split_bin
    * goes left; the last bin of a feature is never a split (empty right
    * side); a feature with one populated bin contributes no candidate —
    * all-constant input yields ZERO rows.
    *
    * Returns ONE row: (n, feature, split_bin, n_left, n_right,
    * mean_left, mean_right, gain). */
  def decisionStump(
      df: DataFrame,
      valueCol: String,
      binCols: Seq[String]): DataFrame = {
    val best = stumpBest(df, col(valueCol).cast("double"), binCols)
    val sld = col("sl").cast("double") / 1e6
    val srd = (col("st") - col("sl")).cast("double") / 1e6
    best.select(
      col("nt").as("n"), col("feature"), col("bin").as("split_bin"),
      col("nl").as("n_left"), (col("nt") - col("nl")).as("n_right"),
      round(sld / col("nl").cast("double"), 6).as("mean_left"),
      round(srd / (col("nt") - col("nl")).cast("double"), 6).as("mean_right"),
      round(col("__g"), 6).as("gain"))
  }

  /** The exact split-search kernel shared by [[decisionStump]] and
    * [[gbStumps]]: ONE row — (feature, bin, nl, sl, nt, st exact longs,
    * __g the unrounded gain), argmax over every (feature, split)
    * candidate with (feature, bin)-ascending ties. `value` may be any
    * deterministic double expression (residuals included). */
  private def stumpBest(df: DataFrame, value: Column, binCols: Seq[String]): DataFrame = {
    require(binCols.nonEmpty, "at least one binned feature required")
    val long = df.select(
      floor(value * 1e6 + 0.5).cast("long").as("__yq"),
      explode(array(binCols.map(f =>
        struct(lit(f).as("feature"), col(f).cast("long").as("bin"))): _*)).as("__f"))
      .select(col("__f.feature").as("feature"), col("__f.bin").as("bin"), col("__yq"))
    val binAgg = long.groupBy("feature", "bin").agg(
      count(lit(1)).as("nb"), sum(col("__yq")).as("sb"))
    // bounded per-feature windows: bin cardinality is the caller's contract
    val w = Window.partitionBy("feature").orderBy("bin")
    val wAll = Window.partitionBy("feature")
    val cand = binAgg
      .withColumn("nl", sum(col("nb")).over(w))
      .withColumn("sl", sum(col("sb")).over(w))
      .withColumn("nt", sum(col("nb")).over(wAll))
      .withColumn("st", sum(col("sb")).over(wAll))
      .filter(col("nl") < col("nt"))
    val sld = col("sl").cast("double") / 1e6
    val srd = (col("st") - col("sl")).cast("double") / 1e6
    val std = col("st").cast("double") / 1e6
    val gain = sld * sld / col("nl").cast("double") +
      srd * srd / (col("nt") - col("nl")).cast("double") -
      std * std / col("nt").cast("double")
    cand.select(col("feature"), col("bin"), col("nl"), col("sl"),
        col("nt"), col("st"), gain.as("__g"))
      .orderBy(col("__g").desc, col("feature"), col("bin"))
      .limit(1)
  }

  /** Bagged regression stumps (subagging, Bühlmann & Yu 2002) — the
    * VARIANCE-reduction ensemble beside [[gbStumps]]'s bias-reduction one,
    * completing the stump-kernel trio: each bag is a deterministic
    * ~`samplePct`% hash subsample (md5(id‖"#bag<b>") bucket — the
    * engine-portable [[Sampling.hashBucket]] draw, so every engine
    * selects the identical rows), fits the exact [[decisionStump]]
    * kernel, and the ensemble prediction is the plain average of the bag
    * stumps over the FULL corpus. The driver paces one bounded 1-row
    * argmax collect per bag; every data pass stays distributed and the
    * readout — per-bag splits, leaf means, and the quantized ensemble
    * MSE — replays in SQL. A bag whose features are all constant has no
    * split candidate and errors loudly (caller's contract: real features).
    *
    * Returns `bags` rows: (bag, feature, split_bin, n_bag, mean_left,
    * mean_right, ensemble_mse — the last identical on every row). */
  def baggedStumps(
      df: DataFrame,
      valueCol: String,
      binCols: Seq[String],
      idCol: String,
      bags: Int = 3,
      samplePct: Int = 63): DataFrame = {
    require(bags >= 1 && bags <= 8, s"bags must be in 1..8, got $bags")
    require(samplePct >= 1 && samplePct <= 100,
      s"samplePct must be in 1..100, got $samplePct")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(
      col(valueCol).cast("double").as("__v") +:
        col(idCol).cast("string").as("__id") +:
        binCols.map(f => col(f).cast("long").as(f)): _*)
    // the bag fits are INDEPENDENT argmax jobs over disjoint hash
    // subsamples — submit them concurrently (guide §2.6: each fit's tail
    // otherwise leaves the cluster idle between the sequential collects;
    // r14). Exact-integer argmaxes on fixed subsamples are deterministic,
    // so concurrency cannot change a split.
    val fits = concurrentFits(spark, "baggedStumps", bags) { i =>
      val b = i + 1
      val sub = base.filter(
        Sampling.hashBucket(concat(col("__id"), lit(s"#bag$b")), 100) < samplePct)
      val cands = stumpBest(sub, col("__v"), binCols).collect()
      require(cands.nonEmpty, s"bag $b has no split candidate (constant features?)")
      val r = cands.head
      (b, r.getAs[String]("feature"), r.getAs[Long]("bin"),
        r.getAs[Long]("nl"), r.getAs[Long]("nt"),
        r.getAs[Long]("sl"), r.getAs[Long]("st"))
    }
    val preds = fits.map { case (_, feat, split, nl, nt, sl, st) =>
      val ml = sl.toDouble / 1e6 / nl.toDouble
      val mr = (st - sl).toDouble / 1e6 / (nt - nl).toDouble
      when(col(feat) <= lit(split), lit(ml)).otherwise(lit(mr))
    }
    val yhat = preds.reduceLeft(_ + _) / lit(bags.toDouble)
    val m = base.agg(
      count(lit(1)).as("n"),
      sum(floor((col("__v") - yhat) * (col("__v") - yhat) * 1e6 + 0.5).cast("long"))
        .as("sq")).head()
    val mse = m.getAs[Long]("sq").toDouble / 1e6 / m.getAs[Long]("n").toDouble
    fits.map { case (b, feat, split, nl, nt, sl, st) =>
      (b, feat, split, nt,
        sl.toDouble / 1e6 / nl.toDouble,
        (st - sl).toDouble / 1e6 / (nt - nl).toDouble, mse)
    }.toDF("bag", "feature", "split_bin", "n_bag", "__ml", "__mr", "__mse")
      .select(col("bag"), col("feature"), col("split_bin"), col("n_bag"),
        round(col("__ml"), 6).as("mean_left"),
        round(col("__mr"), 6).as("mean_right"),
        round(col("__mse"), 6).as("ensemble_mse"))
  }

  /** Gradient-boosted regression stumps (squared loss, `rounds` rounds at
    * shrinkage ν) — the ensemble member the [[decisionStump]] kernel
    * exists for: F₀ = the exact-ratio global mean; each round fits the
    * stump to the CURRENT residual and updates
    * F_r = F_{r−1} + ν·(mean_left | mean_right). The driver paces the
    * loop (one bounded argmax collect per round — the BPE/k-means
    * precedent) while all data passes stay distributed; residuals are a
    * deterministic IEEE chain on exact-long stump statistics, so every
    * round — and the per-round quantized training MSE — replays in SQL.
    *
    * Returns `rounds` rows: (round, feature, split_bin, n_left, n_right,
    * delta_left, delta_right, mse) — deltas are the ν-scaled leaf
    * updates, mse the post-round quantized mean squared residual. */
  def gbStumps(
      df: DataFrame,
      valueCol: String,
      binCols: Seq[String],
      rounds: Int = 2,
      shrinkage: Double = 0.5): DataFrame = {
    require(rounds >= 1 && rounds <= 8, s"rounds must be in 1..8, got $rounds")
    require(shrinkage > 0 && shrinkage <= 1, s"shrinkage must be in (0,1], got $shrinkage")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(
      (col(valueCol).cast("double").as("__v") +:
        binCols.map(f => col(f).cast("long").as(f))): _*)
    val m0row = base.agg(
      count(lit(1)).as("n"),
      sum(floor(col("__v") * 1e6 + 0.5).cast("long")).as("sq"))
      .head()
    val n = m0row.getAs[Long]("n")
    require(n > 0, "cannot fit on an empty DataFrame")
    val mean0 = m0row.getAs[Long]("sq").toDouble / 1e6 / n.toDouble
    var resid: Column = col("__v") - lit(mean0)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, Long, Long, Long, Double, Double, Double)]
    for (r <- 1 to rounds) {
      val bst = stumpBest(base, resid, binCols).head()
      val feat = bst.getAs[String]("feature")
      val split = bst.getAs[Long]("bin")
      val nl = bst.getAs[Long]("nl"); val nt = bst.getAs[Long]("nt")
      val sl = bst.getAs[Long]("sl"); val st = bst.getAs[Long]("st")
      val ml = sl.toDouble / 1e6 / nl.toDouble
      val mr = (st - sl).toDouble / 1e6 / (nt - nl).toDouble
      resid = resid - lit(shrinkage) *
        when(col(feat) <= lit(split), lit(ml)).otherwise(lit(mr))
      val sseq = base.agg(
        sum(floor(resid * resid * 1e6 + 0.5).cast("long")).as("sseq"))
        .head().getAs[Long]("sseq")
      out += ((r, feat, split, nl, nt - nl,
        shrinkage * ml, shrinkage * mr, sseq.toDouble / 1e6 / n.toDouble))
    }
    out.toSeq.toDF("round", "feature", "split_bin", "n_left", "n_right",
      "__dl", "__dr", "__mse")
      .select(col("round"), col("feature"), col("split_bin"),
        col("n_left"), col("n_right"),
        round(col("__dl"), 6).as("delta_left"),
        round(col("__dr"), 6).as("delta_right"),
        round(col("__mse"), 6).as("mse"))
  }

  /** Linear SVM by a FIXED quantized hinge-subgradient schedule — the
    * max-margin member beside [[logisticRegression]]'s probabilistic fit:
    * intercept + two features, `iterations` full-batch subgradient steps
    * on λ/2·‖w_slopes‖² + mean(max(0, 1 − y·f(x))) at rate `lr` with the
    * classic lr/√t decay, the margin-equality subgradient pinned to the
    * inactive side (1{y·f < 1}, strict) so every step is deterministic.
    * The [[quantileRegression]] discipline throughout: per-row data terms
    * floor(−y·1{active}·x_j·1e6+0.5) sum as exact longs; weights store as
    * 1e-9 longs; the L2 pull on the slopes applies IN the long domain as
    * floor(lr_t·λ·w_q + 0.5) (the intercept is unpenalized, the
    * convention) — so the whole trajectory is partition-invariant and
    * replays in SQL as unrolled CTEs. Per step: one corpus scan into a
    * 3-column partial aggregate; only 1-row results move.
    *
    * Labels are booleans (true → +1, false → −1); features pre-scaled to
    * O(1) by the caller. The readout pins f(x)=0 to WRONG (margin > 0
    * strict counts correct).
    *
    * Returns ONE row: (n, lambda, w0, w1, w2, hinge, accuracy). */
  def svmHinge(
      df: DataFrame,
      labelCol: String,
      featureCols: Seq[String],
      iterations: Int = 20,
      lr: Double = 0.5,
      lambda: Double = 0.01): DataFrame = {
    require(featureCols.length == 2,
      s"exactly two features (plus intercept) supported, got ${featureCols.length}")
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(lr > 0, s"lr must be > 0, got $lr")
    require(lambda >= 0, s"lambda must be >= 0, got $lambda")
    val k = featureCols.length + 1
    val base =
      pinnedDesign(df, Seq(when(col(labelCol), 1.0).otherwise(-1.0).as("__y")), featureCols)
    val n = base.count()
    require(n > 0, "cannot fit on an empty DataFrame")
    var wq = Array.fill(k)(0L)
    def fx: Column =
      (0 until k).map(j => lit(wq(j) / 1e9) * col(s"__x$j")).reduceLeft(_ + _)
    for (iter <- 1 to iterations) {
      val active = when(col("__y") * fx < 1.0, 1.0).otherwise(0.0)
      val g = base.agg(
        sum(floor(-col("__y") * active * col("__x0") * 1e6 + 0.5).cast("long")).as("g0"),
        (1 until k).map(j =>
          sum(floor(-col("__y") * active * col(s"__x$j") * 1e6 + 0.5).cast("long")).as(s"g$j")): _*)
        .head()
      val lrI = lr / math.sqrt(iter.toDouble)
      wq = wq.zipWithIndex.map { case (w, j) =>
        val data = math.floor(lrI * g.getLong(j) * 1000.0 / n + 0.5).toLong
        val reg = if (j == 0) 0L else math.floor(lrI * lambda * w + 0.5).toLong
        w - data - reg
      }
    }
    val margin = col("__y") * fx
    val metrics = base.agg(
      count(lit(1)).as("n"),
      sum(floor(greatest(lit(0.0), lit(1.0) - margin) * 1e6 + 0.5).cast("long"))
        .as("__hq"),
      sum(when(margin > 0.0, 1L).otherwise(0L)).as("__ok"))
    metrics.select(
      col("n") +: lit(lambda).as("lambda") +:
        (0 until k).map(j => lit(wq(j) / 1e9).as(s"w$j")) :+
        (col("__hq").cast("double") / 1e6 / col("n").cast("double")).as("hinge") :+
        (col("__ok").cast("double") / col("n").cast("double")).as("accuracy"): _*)
  }

  /** Bradley–Terry preference strengths by the quantized MM schedule
    * (Bradley & Terry 1952; Hunter 2004's minorization–maximization) —
    * the "rank items from pairwise outcomes" model behind preference
    * datasets and eval arenas: P(i beats j) = π_i/(π_i+π_j), and each MM
    * round updates π_i ← w_i / Σ_j n_ij/(π_i+π_j), then normalizes to
    * Σπ = 1.
    *
    * The PageRank iteration discipline: strengths live as 1e-9-unit
    * longs in a bounded item table; per round, the games table (item
    * pairs with their match counts — bounded by the caller's item-arity
    * contract) joins the strengths twice, per-pair terms quantize
    * floor(n/(π_i+π_j)·1e9+0.5) to longs and sum exactly, and the
    * update + normalization are fixed IEEE chains re-quantized to longs
    * — partition-invariant, replayable as round-unrolled SQL. Items with
    * zero wins go to strength 0 (the MM fixed point); `rounds` is fixed
    * (no data-dependent convergence test).
    *
    * Returns one row per item: (item, wins, games, strength). */
  def bradleyTerry(
      outcomes: DataFrame,
      winnerCol: String,
      loserCol: String,
      rounds: Int = 5): DataFrame = {
    require(rounds >= 1 && rounds <= 12, s"rounds must be in 1..12, got $rounds")
    val o = outcomes.select(col(winnerCol).cast("string").as("__w"),
      col(loserCol).cast("string").as("__l")).localCheckpoint(true)
    val wins = o.groupBy(col("__w").as("item")).agg(count(lit(1)).as("wins"))
    val items = o.select(col("__w").as("item"))
      .unionAll(o.select(col("__l").as("item"))).distinct()
    val games = o.select(col("__w").as("a"), col("__l").as("b"))
      .unionAll(o.select(col("__l").as("a"), col("__w").as("b")))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val gamesPer = games.groupBy(col("a").as("item")).agg(sum(col("n")).as("games"))
    val nItems = items.count()
    require(nItems >= 2, s"need >= 2 items, got $nItems")
    // uniform start: floor(1/k·1e9+0.5) — identical in any engine
    var pi = items.withColumn("__pq",
      lit(math.floor(1e9 / nItems.toDouble + 0.5).toLong)).localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val withPi = games
        .join(pi.select(col("item").as("a"), col("__pq").as("__pa")), Seq("a"))
        .join(pi.select(col("item").as("b"), col("__pq").as("__pb")), Seq("b"))
        .withColumn("__t", floor(
          col("n").cast("double") /
            ((col("__pa") + col("__pb")).cast("double") / 1e9) * 1e9 + 0.5).cast("long"))
        .groupBy(col("a").as("item"))
        .agg(sum(col("__t")).as("__den"))
      val raw = items
        .join(wins, Seq("item"), "left")
        .join(withPi, Seq("item"), "left")
        .withColumn("__rq", when(col("wins").isNotNull && col("__den") > 0,
          floor(col("wins").cast("double") /
            (col("__den").cast("double") / 1e9) * 1e9 + 0.5).cast("long"))
          .otherwise(lit(0L)))
      val tot = raw.agg(sum(col("__rq")).as("__s"))
      pi = raw.crossJoin(broadcast(tot))
        .withColumn("__pq", floor(
          col("__rq").cast("double") / col("__s").cast("double") * 1e9 + 0.5).cast("long"))
        .select("item", "__pq")
        .localCheckpoint(true)
    }
    items
      .join(wins, Seq("item"), "left")
      .join(gamesPer, Seq("item"), "left")
      .join(pi, Seq("item"))
      .select(col("item"),
        coalesce(col("wins"), lit(0L)).as("wins"),
        coalesce(col("games"), lit(0L)).as("games"),
        round(col("__pq").cast("double") / 1e9, 6).as("strength"))
  }

  /** Sharp regression discontinuity (Thistlethwaite & Campbell 1960;
    * Imbens & Lemieux 2008) — the LOCAL causal readout completing the
    * family (X237 DiD, X241 subclassification, X246 IPW, X253 AIPW):
    * within `bandwidth` of the `cutoff`, fit one simple OLS of the
    * outcome on the centered running variable PER SIDE, and the effect
    * is the intercept gap τ = α_above − α_below at the cutoff itself
    * (rows at the cutoff belong to the treated side, the convention).
    *
    * ONE partial aggregate keyed by side collects exact quantized
    * moments (the [[linearRegression]] DECIMAL discipline); each side's
    * slope/intercept and τ are fixed IEEE chains — partition-invariant,
    * SQL-replayable, zero iteration. A side that is empty or has zero
    * running-variable variance yields NULL fits and a NULL τ.
    *
    * Returns ONE row: (n_below, n_above, int_below, slope_below,
    * int_above, slope_above, tau). */
  def regressionDiscontinuity(
      df: DataFrame,
      runningCol: String,
      outcomeCol: String,
      cutoff: Double,
      bandwidth: Double): DataFrame =
    rdAssemble(rdMoments(df, runningCol, outcomeCol, cutoff, bandwidth))

  /** Moment half of [[regressionDiscontinuity]]: per side of the cutoff,
    * the quantized DECIMAL sums of the rows inside the bandwidth — a
    * streaming twin's state. */
  def rdMoments(
      df: DataFrame,
      runningCol: String,
      outcomeCol: String,
      cutoff: Double,
      bandwidth: Double): DataFrame = {
    require(bandwidth > 0, s"bandwidth must be > 0, got $bandwidth")
    def q(c: Column) = floor(c * 1e6 + 0.5).cast("decimal(38,0)")
    val x = col(runningCol).cast("double") - lit(cutoff)
    df.filter(abs(col(runningCol).cast("double") - lit(cutoff)) <= bandwidth)
      .select((x >= 0).as("__above"), q(x).as("__qx"),
        q(col(outcomeCol).cast("double")).as("__qy"))
      .groupBy(col("__above")).agg(
        count(lit(1)).as("n"),
        sum(col("__qx")).as("__sx0"), sum(col("__qy")).as("__sy0"),
        sum(col("__qx") * col("__qx")).as("__sxx0"),
        sum(col("__qx") * col("__qy")).as("__sxy0"))
  }

  /** Readout half of [[regressionDiscontinuity]] over the pre-aggregated
    * per-side (__above, n, __sx0, __sy0, __sxx0, __sxy0) quantized moment
    * rows — shared by the streaming twin, whose state store accumulates
    * exactly these DECIMAL sums (sums of disjoint partial sums equal the
    * direct sums, so stream == batch bit-exactly). */
  def rdAssemble(sides: DataFrame): DataFrame = {
    def side(above: Boolean, tag: String) = {
      val nn = col("n").cast("double")
      val sx = col("__sx0").cast("double") / 1e6
      val sy = col("__sy0").cast("double") / 1e6
      val sxx = col("__sxx0").cast("double") / 1e12
      val sxy = col("__sxy0").cast("double") / 1e12
      val den = nn * sxx - sx * sx
      val slope = (nn * sxy - sx * sy) / den
      val icept = (sy - slope * sx) / nn
      // aggregate-to-one-row so an EMPTY side degrades to NULLs instead
      // of annihilating the readout through the cross join
      sides.filter(col("__above") === above)
        .select(col("n").as("__nC"),
          when(den =!= 0.0, icept).as("__iC"),
          when(den =!= 0.0, slope).as("__sC"))
        .agg(max(col("__nC")).as(s"n_$tag"),
          max(col("__iC")).as(s"__i_$tag"),
          max(col("__sC")).as(s"__s_$tag"))
    }
    side(above = false, "below").crossJoin(side(above = true, "above"))
      .select(
        col("n_below"), col("n_above"),
        round(col("__i_below"), 6).as("int_below"),
        round(col("__s_below"), 6).as("slope_below"),
        round(col("__i_above"), 6).as("int_above"),
        round(col("__s_above"), 6).as("slope_above"),
        round(col("__i_above") - col("__i_below"), 6).as("tau"))
  }

  /** Poisson regression (log link) by the FIXED quantized GD schedule —
    * the count-data GLM completing the family (OLS/ridge mean, logistic
    * class, quantile/Huber robust, hinge margin): intercept + two
    * features, per-row gradient (e^z − y)·x_j with the
    * [[logisticRegression]] discipline (1e6-quantized long sums,
    * 1e-9-long weights, floor(lr·g·1000/n+0.5) updates) ⇒ the whole fit
    * is partition-invariant and replays behind unrolled CTEs (EXP is in
    * both engines' scalar surface, the logistic precedent).
    *
    * The deviance readout needs ln y — a transcendental the r8 lesson
    * bans from hashed columns (JVM and DuckDB libm differ by 1 ulp on
    * real inputs). Counts are BOUNDED (`maxCount`, caller's contract), so
    * ln rides in as a JVM-computed LITERAL table embedded verbatim in
    * both engines — no engine libm call touches the hashed output, and
    * ln μ = z by construction. Counts above `maxCount` or below 0 make
    * the deviance NULL (never silently dropped rows: the count of
    * out-of-range rows is part of the contract check in spec).
    *
    * Returns ONE row: (n, w0, w1, w2, deviance, mean_mu) — deviance the
    * mean 2·[y·ln(y/μ) − (y−μ)], mean_mu the fitted-rate average. */
  def poissonRegression(
      df: DataFrame,
      countCol: String,
      featureCols: Seq[String],
      iterations: Int = 8,
      lr: Double = 0.1,
      maxCount: Int = 64): DataFrame = {
    require(featureCols.length == 2,
      s"exactly two features (plus intercept) supported, got ${featureCols.length}")
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(lr > 0, s"lr must be > 0, got $lr")
    require(maxCount >= 1, s"maxCount must be >= 1, got $maxCount")
    val k = featureCols.length + 1
    val base = pinnedDesign(df, Seq(col(countCol).cast("double").as("__y")), featureCols)
    val n = base.count()
    require(n > 0, "cannot fit on an empty DataFrame")
    val wq = poissonFitQ(base, k, iterations, lr, n)
    def z: Column =
      (0 until k).map(j => lit(wq(j) / 1e9) * col(s"__x$j")).reduceLeft(_ + _)
    // ln y as a broadcast literal table: identical bits in any engine
    val lnY = (1 to maxCount).foldLeft(lit(null).cast("double")) { (acc, c) =>
      when(col("__y") === c.toDouble, lit(math.log(c.toDouble))).otherwise(acc)
    }
    val p = exp(z)
    val term = when(col("__y") === 0.0, lit(0.0)).otherwise(col("__y") * (lnY - z)) +
      (p - col("__y"))
    val metrics = base.agg(
      count(lit(1)).as("n"),
      sum(floor(term * 1e6 + 0.5).cast("long")).as("__dv"),
      count(when(col("__y") < 0.0 || col("__y") > maxCount.toDouble ||
        col("__y") =!= floor(col("__y")), 1)).as("__oob"),
      sum(floor(p * 1e6 + 0.5).cast("long")).as("__mu"))
    metrics.select(
      col("n") +:
        (0 until k).map(j => lit(wq(j) / 1e9).as(s"w$j")) :+
        when(col("__oob") === 0,
          lit(2.0) * (col("__dv").cast("double") / 1e6) / col("n").cast("double"))
          .as("deviance") :+
        (col("__mu").cast("double") / 1e6 / col("n").cast("double")).as("mean_mu"): _*)
  }

  /** Poisson overdispersion audit (Cameron & Trivedi 1990, the NB2
    * auxiliary regression) — "is the Poisson assumption Var = μ actually
    * holding?", the diagnostic every count model needs before its SEs
    * are believed: regressing ((y−μ̂)²−y)/μ̂ on μ̂ through the origin
    * collapses to the CLOSED FORM α̂ = Σ((y−μ̂)²−y)/Σμ̂² (the μ̂ factors
    * cancel); α̂ > 0 says overdispersed (negative-binomial territory),
    * and the Pearson ratio χ²/(n−k) is reported beside it. Refits the
    * shared [[poissonRegression]] quantized GD schedule, then ONE extra
    * aggregate of per-row 1e6-quantized terms — fixed IEEE chains, fully
    * SQL-replayable.
    *
    * Returns ONE row: (n, alpha, pearson_ratio). */
  def poissonDispersion(
      df: DataFrame,
      countCol: String,
      featureCols: Seq[String],
      iterations: Int = 8,
      lr: Double = 0.1): DataFrame = {
    require(featureCols.length == 2,
      s"exactly two features (plus intercept) supported, got ${featureCols.length}")
    val k = featureCols.length + 1
    val base = pinnedDesign(df, Seq(col(countCol).cast("double").as("__y")), featureCols)
    val n = base.count()
    require(n > 0, "cannot fit on an empty DataFrame")
    val wq = poissonFitQ(base, k, iterations, lr, n)
    val z = (0 until k).map(j => lit(wq(j) / 1e9) * col(s"__x$j")).reduceLeft(_ + _)
    val mu = exp(z)
    val dev = col("__y") - mu
    val a = base.agg(
      count(lit(1)).as("n"),
      sum(floor((dev * dev - col("__y")) * 1e6 + 0.5).cast("long")).as("__num"),
      sum(floor(mu * mu * 1e6 + 0.5).cast("long")).as("__den"),
      sum(floor(dev * dev / mu * 1e6 + 0.5).cast("long")).as("__chi"))
    a.select(
      col("n"),
      when(col("__den") > 0,
        round(col("__num").cast("double") / col("__den").cast("double"), 6)).as("alpha"),
      when(col("n") > k,
        round(col("__chi").cast("double") / 1e6 /
          (col("n") - k).cast("double"), 6)).as("pearson_ratio"))
  }

  /** AIPW doubly-robust ATE (Robins–Rotnitzky–Zhao 1994) — the estimator
    * completing the causal quartet (DiD, subclassification, IPW): per-row
    * influence values ψ = m₁(s) − m₀(s) + t(y−m₁)/e − (1−t)(y−m₀)/(1−e)
    * combine STRATUM-mean outcome models (exact quantized ratios, the
    * [[Sketches.subclassificationAte]] arms) with the clipped logistic
    * propensity ([[logisticRegression]]'s exact quantized fit) —
    * consistent if EITHER model is right. ATE = mean ψ with the
    * influence-function SE sd(ψ)/√n, both from per-row floor(·1e6+0.5)
    * long sums, so the whole estimate replays bit-for-bit in SQL behind
    * the unrolled GD CTEs. Strata lacking either arm have no outcome
    * model: their rows DROP and are counted.
    *
    * Returns ONE row: (n_used, n_dropped, ate, se, t_stat). */
  def aipwAte(
      df: DataFrame,
      treatedCol: String,
      valueCol: String,
      strataCols: Seq[String],
      featureCols: Seq[String],
      iterations: Int = 6,
      lr: Double = 0.5,
      clip: Double = 0.01): DataFrame = {
    require(strataCols.nonEmpty, "at least one stratum column required")
    require(featureCols.nonEmpty, "at least one feature required")
    require(clip > 0 && clip < 0.5, s"clip must be in (0, 0.5), got $clip")
    val k = featureCols.length + 1
    val base = df.select(
      strataCols.map(col) ++
        (when(col(treatedCol), 1.0).otherwise(0.0).as("__y") +:
          col(valueCol).cast("double").as("__v") +:
          (lit(1.0) +: featureCols.map(c => col(c).cast("double")))
            .zipWithIndex.map { case (f, j) => f.as(s"__x$j") }): _*)
      .localCheckpoint(true) // pin the loop-invariant base: ONE source scan for the whole fit
    val n = base.count()
    require(n > 0, "cannot fit on an empty DataFrame")
    val wq = fitQ(base, k, iterations, lr, n)
    def pick(t: Double, c: String) = max(when(col("__y2") === t, col(c)))
    val arms = base
      .groupBy(strataCols.map(col) :+ col("__y").as("__y2"): _*)
      .agg(count(lit(1)).cast("double").as("__an"),
        (sum(floor(col("__v") * 1000000.0 + 0.5).cast("long")).cast("double") / 1000000.0)
          .as("__as"))
      .groupBy(strataCols.map(col): _*)
      .agg(
        (pick(1.0, "__as") / pick(1.0, "__an")).as("__m1"),
        (pick(0.0, "__as") / pick(0.0, "__an")).as("__m0"))
      .filter(col("__m1").isNotNull && col("__m0").isNotNull)
    val e = least(greatest(sigmoid(wq, k), lit(clip)), lit(1.0 - clip))
    val psi = (col("__m1") - col("__m0")) +
      col("__y") * (col("__v") - col("__m1")) / col("__e") -
      (lit(1.0) - col("__y")) * (col("__v") - col("__m0")) / (lit(1.0) - col("__e"))
    val agg = base
      .join(broadcast(arms), strataCols)
      .withColumn("__e", e)
      .withColumn("__psi", psi)
      .agg(
        count(lit(1)).as("n_used"),
        sum(floor(col("__psi") * 1e6 + 0.5).cast("long")).as("__s"),
        sum(floor(col("__psi") * col("__psi") * 1e6 + 0.5).cast("long")).as("__ss"))
    val nu = col("n_used").cast("double")
    val ate = col("__s").cast("double") / 1e6 / nu
    val variance = (col("__ss").cast("double") / 1e6 -
      (col("__s").cast("double") / 1e6) * (col("__s").cast("double") / 1e6) / nu) /
      (nu - 1.0)
    agg.select(
      col("n_used"),
      (lit(n) - col("n_used")).as("n_dropped"),
      ate.as("ate"),
      when(col("n_used") >= 2L, sqrt(variance / nu)).as("se"),
      // ψ constant (perfect outcome models) ⇒ se exactly 0: t undefined
      when(col("n_used") >= 2L && sqrt(variance / nu) > 0.0,
        ate / sqrt(variance / nu)).as("t_stat"))
  }

  /** Multinomial Naive Bayes text classification (fit on `train`, score
    * `df`) — the in-engine supervised classifier next to the heuristic
    * language id: per-class add-k token log-probs over the GLOBAL train
    * vocabulary (one pseudo-type reserved for OOV, the
    * [[TextAnalysis.unigramLm]] convention, so unseen tokens still score)
    * plus document-count log-priors; a document's class score is the
    * exact long sum of 1e-6-quantized per-token log-probs + prior, and
    * the argmax breaks ties to the LEXICOGRAPHICALLY SMALLEST class via
    * max(struct(score, −rank)) — bit-deterministic on any engine.
    *
    * The (vocab × classes) model is built by crossing the bounded class
    * table with the vocabulary and coalescing absent counts to 0; it
    * broadcasts into the token stream. One train shuffle, one per-(doc,
    * class) aggregate; zero-token documents are absent.
    *
    * Output: (idCol, predicted). */
  def naiveBayesClassify(
      df: DataFrame,
      idCol: String,
      textCol: String,
      train: DataFrame,
      classCol: String,
      addK: Double = 1.0,
      minLen: Int = 1): DataFrame = {
    val (model, oov, priors, ranked) = naiveBayesFit(train, textCol, classCol, addK, minLen)
    val scores = naiveBayesTokenScores(
      df.select(col(idCol), col(textCol)), idCol, textCol, model, oov, minLen)
      .groupBy(col(idCol), col("__cls")).agg(sum(col("__q")).as("__sq"))
    naiveBayesArgmax(scores, idCol, priors, ranked)
  }

  /** The fit half of [[naiveBayesClassify]] — exposed so a document
    * STREAM can be scored against a batch-fit model: returns (model
    * (__tok, __cls, __lpq) over the complete vocab × class grid; oov
    * (__cls, __oq); priors (__cls, __pq); ranked (__cls, __cr) — the
    * deterministic tie order). localCheckpoint each before a stream. */
  def naiveBayesFit(
      train: DataFrame,
      textCol: String,
      classCol: String,
      addK: Double = 1.0,
      minLen: Int = 1): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    require(addK > 0, s"addK must be > 0, got $addK")
    val tt = TextAnalysis.lmTokens(
      train.select(col(classCol).as("__cls"), col(textCol)), textCol, minLen)
    // (class, token) counts are the model's ONLY corpus-scale aggregate;
    // classTotals, vocab and the grid all re-derive it, so materialize the
    // post-aggregation table once (lazy, vocab×class-bounded) instead of
    // re-tokenizing the training corpus per consumer (r14: q_naive_bayes
    // carried 74 Exchanges from the duplicated tokenize+count subtree)
    val ct = tt.groupBy(col("__cls"), col("__tok")).agg(count(lit(1)).as("__c"))
      .localCheckpoint(false)
    val classTotals = ct.groupBy(col("__cls")).agg(sum(col("__c")).as("__nc"))
    val vocab = ct.select(col("__tok")).distinct()
    val vtot = vocab.agg(count(lit(1)).as("__v"))
    def lpq(num: Column): Column =
      floor(log(num / (col("__nc").cast("double") + lit(addK) * (col("__v").cast("double") + 1.0)))
        * 1e6 + 0.5).cast("long")
    val model = vocab.crossJoin(broadcast(classTotals)).crossJoin(broadcast(vtot))
      .join(ct, Seq("__tok", "__cls"), "left")
      .select(col("__tok"), col("__cls"),
        lpq(coalesce(col("__c"), lit(0L)).cast("double") + lit(addK)).as("__lpq"))
    val oov = classTotals.crossJoin(broadcast(vtot))
      .select(col("__cls"), lpq(lit(addK)).as("__oq"))
    val priors = train.groupBy(col(classCol).as("__cls")).agg(count(lit(1)).as("__dn"))
      .crossJoin(broadcast(train.agg(count(lit(1)).as("__dt"))))
      .select(col("__cls"),
        floor(log(col("__dn").cast("double") / col("__dt").cast("double")) * 1e6 + 0.5)
          .cast("long").as("__pq"))
    val ranked = Relational.globalRowNumbers(
      classTotals.select(col("__cls")), Seq(col("__cls")), rowNumCol = "__cr")
    (model, oov, priors, ranked)
  }

  /** Stateless per-token class scores (idCol, __cls, __q) — the streaming
    * half: OOV tokens fall back to the per-class OOV row.
    *
    * CONTRACT: the `model` must be a COMPLETE vocab × class grid — one
    * row for every (token, class) combination, as [[naiveBayesFit]]
    * emits — and `oov` must hold one row per class. Every token fans out
    * to every `oov` class and the per-class OOV score stands in for ANY
    * absent (token, class) pair, so a partial grid (a known token missing
    * some class rows) scores those classes as OOV instead of failing. */
  def naiveBayesTokenScores(
      df: DataFrame,
      idCol: String,
      textCol: String,
      model: DataFrame,
      oov: DataFrame,
      minLen: Int = 1): DataFrame = {
    // ONE pass over the tokenized corpus: fanning every token out to the
    // |C| classes (oov doubles as the class table) and left-joining the
    // complete grid leaves exactly the OOV (token, class) rows null —
    // coalesce to the per-class OOV score. Both joins are broadcast, so
    // nothing shuffles.
    TextAnalysis.lmTokens(df.select(col(idCol), col(textCol)), textCol, minLen)
      .crossJoin(broadcast(oov))
      .join(broadcast(model), Seq("__tok", "__cls"), "left")
      .select(col(idCol), col("__cls"), coalesce(col("__lpq"), col("__oq")).as("__q"))
  }

  /** The batch readout over accumulated (idCol, __cls, __sq) partials:
    * add priors, argmax with ties to the smallest class. */
  def naiveBayesArgmax(
      scores: DataFrame, idCol: String,
      priors: DataFrame, ranked: DataFrame): DataFrame =
    scores
      .join(broadcast(priors), "__cls")
      .join(broadcast(ranked), "__cls")
      .select(col(idCol), col("__cls"),
        (col("__sq") + col("__pq")).as("__score"), col("__cr"))
      .groupBy(col(idCol))
      .agg(max(struct(col("__score"), (-col("__cr")).as("__nr"), col("__cls"))).as("__best"))
      .select(col(idCol), col("__best.__cls").as("predicted"))

  /** Cox proportional hazards (single covariate, Breslow ties) — the
    * regression member completing the survival family beside
    * Kaplan–Meier and the log-rank test: `iterations` Newton steps on the
    * partial likelihood, then a final score/information evaluation at β̂
    * for the standard error.
    *
    * The risk-set sums S_k(t) = Σ_{t_j ≥ t} x_jᵏ·exp(βx_j) are SUFFIX
    * sums over the DISTINCT-TIME collapse: per-row exp terms quantize to
    * 1e-6 longs inside a per-time partial aggregate, and the cumulative
    * over descending time runs through the two-pass range-partitioned
    * prefix sum ([[Relational.globalRunningSums]]) — no single-partition
    * window at any time cardinality. Score and information accumulate as
    * 1e-6-quantized longs from per-time fixed IEEE chains, and the Newton
    * update β_q ← β_q + floor(U_q/I_q·1e9 + 0.5) stores β as a 1e-9 long
    * — the whole fit is bit-identical across partitionings and replays in
    * SQL as unrolled CTEs. β stays put when I_q = 0 (flat likelihood).
    * Per step: one corpus scan + one bounded-table pass; only 1-row
    * results move.
    *
    * Pre-scale x to O(1) so exp(βx)·x²·1e6 stays in range. Returns ONE
    * row: (n, n_events, beta, se, z). */
  def coxPh(
      df: DataFrame,
      timeCol: String,
      eventCol: String,
      xCol: String,
      iterations: Int = 5): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val base = df.select(
      col(timeCol).cast("long").as("__t"),
      when(col(eventCol), 1L).otherwise(0L).as("__ev"),
      col(xCol).cast("double").as("__x"),
      floor(col(xCol).cast("double") * 1e6 + 0.5).cast("long").as("__xq"))
    // deliberately NOT localCheckpoint-pinned (unlike the GD fitters): the
    // base is a 4-column parquet projection, and an A/B at sf0.1 measured
    // pinned vs unpinned indistinguishable (3.1-4.2 s both ways, within
    // contention noise) — re-scanning narrow columnar parquet per Newton
    // step costs about the same as replaying checkpointed row blocks, so
    // the pin buys nothing here; it pays when the upstream plan is
    // expensive to recompute (the GD fitters' derived feature columns)
    val et = base.groupBy(col("__t")).agg(
      sum(col("__ev")).as("__d"),
      sum(when(col("__ev") === 1L, col("__xq")).otherwise(0L)).as("__sxq"))
      .localCheckpoint(true)
    val n = base.count()
    require(n > 0, "cannot fit on an empty DataFrame")
    val nEvents = et.agg(sum(col("__d"))).head().getLong(0)
    var bq = 0L
    var lastUq = 0L
    var lastIq = 0L
    for (iter <- 0 to iterations) {
      val w = exp(lit(bq / 1e9) * col("__x"))
      val pt = base.groupBy(col("__t")).agg(
        sum(floor(w * 1e6 + 0.5).cast("long")).as("__w0"),
        sum(floor(w * col("__x") * 1e6 + 0.5).cast("long")).as("__w1"),
        sum(floor(w * col("__x") * col("__x") * 1e6 + 0.5).cast("long")).as("__w2"))
      val cs = Relational.globalRunningSums(pt, Seq(col("__t").desc),
        Seq("__w0" -> "__S0", "__w1" -> "__S1", "__w2" -> "__S2"))
      val r = cs.join(et, "__t")
        .agg(
          sum(floor((col("__sxq").cast("double") / 1e6 -
            col("__d").cast("double") * col("__S1").cast("double") / col("__S0").cast("double"))
            * 1e6 + 0.5).cast("long")).as("__uq"),
          sum(floor(col("__d").cast("double") *
            (col("__S2").cast("double") / col("__S0").cast("double") -
              (col("__S1").cast("double") / col("__S0").cast("double")) *
                (col("__S1").cast("double") / col("__S0").cast("double")))
            * 1e6 + 0.5).cast("long")).as("__iq"))
        .head()
      lastUq = r.getLong(0)
      lastIq = r.getLong(1)
      if (iter < iterations && lastIq != 0L)
        bq = bq + math.floor(lastUq.toDouble / lastIq.toDouble * 1e9 + 0.5).toLong
    }
    val spark = df.sparkSession
    import spark.implicits._
    val beta = bq / 1e9
    val seCol =
      if (lastIq > 0L) lit(math.sqrt(1e6 / lastIq.toDouble)) else lit(null).cast("double")
    val zCol =
      if (lastIq > 0L) lit(beta / math.sqrt(1e6 / lastIq.toDouble))
      else lit(null).cast("double")
    Seq((n, nEvents)).toDF("n", "n_events")
      .select(col("n"), col("n_events"), lit(beta).as("beta"),
        seCol.as("se"), zCol.as("z"))
  }

  /** The exact normal-equation moments of `valueCol` on two features:
    * per-row 1e6-quantized DECIMAL(38,0) sums in one partial aggregate,
    * cast to doubles (`n`, `nn`, `sa` … `syy`) — the head of
    * [[linearRegression]] and [[ridgeRegression]]. */
  private def twoFeatureMoments(
      df: DataFrame, valueCol: String, featureCols: Seq[String]): DataFrame = {
    def q(c: String) = floor(col(c).cast("double") * 1e6 + 0.5).cast("decimal(38,0)")
    val m = df
      .select(q(valueCol).as("__y"),
        q(featureCols.head).as("__a"), q(featureCols(1)).as("__b"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("__a")).as("__sa"), sum(col("__b")).as("__sb"),
        sum(col("__a") * col("__a")).as("__saa"),
        sum(col("__b") * col("__b")).as("__sbb"),
        sum(col("__a") * col("__b")).as("__sab"),
        sum(col("__y")).as("__sy"),
        sum(col("__a") * col("__y")).as("__say"),
        sum(col("__b") * col("__y")).as("__sby"),
        sum(col("__y") * col("__y")).as("__syy"))
    m.select(
      col("n"),
      col("n").cast("double").as("nn"),
      (col("__sa").cast("double") / 1e6).as("sa"),
      (col("__sb").cast("double") / 1e6).as("sb"),
      (col("__saa").cast("double") / 1e12).as("saa"),
      (col("__sbb").cast("double") / 1e12).as("sbb"),
      (col("__sab").cast("double") / 1e12).as("sab"),
      (col("__sy").cast("double") / 1e6).as("sy"),
      (col("__say").cast("double") / 1e12).as("say"),
      (col("__sby").cast("double") / 1e12).as("sby"),
      (col("__syy").cast("double") / 1e12).as("syy"))
  }

  /** Multiple linear regression (intercept + two features) by EXACT
    * normal equations — the closed-form big sibling of the per-key OLS
    * trend: per-row values quantize to 1e-6 longs, so every normal-
    * equation moment (Σx, Σx², Σxy, …) is an exact DECIMAL(38,0) integer
    * from ONE partial aggregate; the 3×3 system then solves by Cramer's
    * rule as a fixed IEEE chain on the unscaled moments, identical in any
    * engine. SSE comes closed-form from the same moments
    * (SSE = Σy² − βᵀXᵀy — no second scan), so R² is free.
    *
    * A singular design (collinear features) makes det exactly 0.0 (the
    * double chain cancels bit-exactly on identical columns) and every
    * coefficient NULL. Pre-scale features/outcome to O(1–10) so the
    * quantized cross-moments fit DECIMAL(38,0) at corpus row counts.
    *
    * Returns ONE row: (n, beta0, beta1, beta2, r2). */
  def linearRegression(
      df: DataFrame,
      valueCol: String,
      featureCols: Seq[String]): DataFrame = {
    require(featureCols.length == 2,
      s"exactly two features (plus intercept) supported, got ${featureCols.length}")
    val t = twoFeatureMoments(df, valueCol, featureCols)
    val det = col("nn") * (col("saa") * col("sbb") - col("sab") * col("sab")) -
      col("sa") * (col("sa") * col("sbb") - col("sab") * col("sb")) +
      col("sb") * (col("sa") * col("sab") - col("saa") * col("sb"))
    val det0 = col("sy") * (col("saa") * col("sbb") - col("sab") * col("sab")) -
      col("sa") * (col("say") * col("sbb") - col("sab") * col("sby")) +
      col("sb") * (col("say") * col("sab") - col("saa") * col("sby"))
    val det1 = col("nn") * (col("say") * col("sbb") - col("sab") * col("sby")) -
      col("sy") * (col("sa") * col("sbb") - col("sab") * col("sb")) +
      col("sb") * (col("sa") * col("sby") - col("say") * col("sb"))
    val det2 = col("nn") * (col("saa") * col("sby") - col("say") * col("sab")) -
      col("sa") * (col("sa") * col("sby") - col("say") * col("sb")) +
      col("sy") * (col("sa") * col("sab") - col("saa") * col("sb"))
    val solved = t
      .withColumn("__det", det)
      .withColumn("beta0", when(col("__det") =!= 0.0, det0 / col("__det")))
      .withColumn("beta1", when(col("__det") =!= 0.0, det1 / col("__det")))
      .withColumn("beta2", when(col("__det") =!= 0.0, det2 / col("__det")))
    val sse = col("syy") -
      (col("beta0") * col("sy") + col("beta1") * col("say") + col("beta2") * col("sby"))
    val sst = col("syy") - col("sy") * col("sy") / col("nn")
    solved.select(
      col("n"), col("beta0"), col("beta1"), col("beta2"),
      when(col("__det") =!= 0.0 && sst =!= 0.0, lit(1.0) - sse / sst).as("r2"))
  }

  /** OLS residual diagnostics (Durbin & Watson 1950; Breusch & Pagan
    * 1979) — the two checks every [[linearRegression]] fit needs before
    * its SEs are quoted: DW = Σ(e_t−e_{t−1})²/Σe_t² over the declared
    * order (≈2 independent, →0 positive autocorrelation, →4 negative;
    * ρ̂₁ ≈ 1−DW/2 reported beside it), and the Breusch–Pagan LM = n·R²
    * of the auxiliary regression of e² on the SAME features ~ χ²(2) —
    * whose survival is ELEMENTARY at df 2, p = exp(−LM/2), the
    * heteroskedasticity alarm.
    *
    * Shape: the closed-form fit collects ONCE (1 row); residuals
    * quantize to the 1e-6 grid, so the DW sums are exact longs and the
    * adjacent difference rides the two-pass range-partitioned
    * lead ([[Relational.globalRunningSums]]' leadOf — NO single-partition
    * window at any series length); the auxiliary fit reuses the same
    * closed-form machinery on e². Degenerate designs throw (det = 0);
    * an exactly-homoskedastic e² (aux R² NULL) reports NULL bp/p.
    *
    * Returns ONE row: (n, dw, rho1, bp_lm, bp_p). */
  def olsDiagnostics(
      df: DataFrame,
      orderCols: Seq[String],
      valueCol: String,
      featureCols: Seq[String]): DataFrame = {
    require(featureCols.length == 2,
      s"exactly two features (plus intercept) supported, got ${featureCols.length}")
    require(orderCols.nonEmpty, "orderCols must give the residuals a total time order")
    val spark = df.sparkSession
    import spark.implicits._
    val fit = linearRegression(df, valueCol, featureCols).head()
    require(!fit.isNullAt(fit.fieldIndex("beta0")), "degenerate design (det = 0)")
    val b0 = fit.getAs[Double]("beta0")
    val b1 = fit.getAs[Double]("beta1")
    val b2 = fit.getAs[Double]("beta2")
    val e = col(valueCol).cast("double") -
      (lit(b0) + lit(b1) * col(featureCols.head).cast("double") +
        lit(b2) * col(featureCols(1)).cast("double"))
    val resid = df.withColumn("__e", e)
    val eq = resid.select(
      orderCols.map(col) :+ floor(col("__e") * 1e6 + 0.5).cast("long").as("__eq"): _*)
    // globalRunningSums requires >= 1 running sum; ride a harmless one
    // alongside the leadOf we actually want
    val withNext = Relational.globalRunningSums(
      eq, orderCols.map(col), Seq("__eq" -> "__cum_unused"),
      leadOf = Some("__eq" -> "__nxt"))
    val ed = col("__eq").cast("double") / 1e6
    val nd = col("__nxt").cast("double") / 1e6
    val agg = withNext.agg(
      count(lit(1)).as("n"),
      sum(when(col("__nxt").isNotNull,
        floor((ed - nd) * (ed - nd) * 1e9 + 0.5).cast("long")).otherwise(0L)).as("__num"),
      sum(floor(ed * ed * 1e9 + 0.5).cast("long")).as("__den")).head()
    val n = agg.getAs[Long]("n")
    // a perfect fit (all residuals 0) has no autocorrelation to measure
    val dw = if (agg.getAs[Long]("__den") == 0L) None
      else Some(agg.getAs[Long]("__num").toDouble / agg.getAs[Long]("__den").toDouble)
    val aux = linearRegression(
      resid.withColumn("__e2", col("__e") * col("__e")), "__e2", featureCols).head()
    val r2 = if (aux.isNullAt(aux.fieldIndex("r2"))) None
      else Some(aux.getAs[Double]("r2"))
    // UNROUNDED outputs (the propensity-match knife-edge lesson): dw is a
    // ratio of exact longs, rho1/bp/p fixed chains off it — identical
    // doubles on any engine need no round, and a driver-side round would
    // have to match SQL ROUND's tie semantics exactly
    val bp = r2.map(_ * n)
    def jd(o: Option[Double]) = o.map(Double.box).orNull.asInstanceOf[java.lang.Double]
    Seq((n, jd(dw), jd(dw.map(v => 1.0 - v / 2.0)), jd(bp),
      jd(bp.map(v => math.exp(-v / 2.0)))))
      .toDF("n", "dw", "rho1", "bp_lm", "bp_p")
  }

  /** Per-row OLS influence diagnostics for simple regression (leverage,
    * internally studentized residual, Cook's distance — Cook 1977;
    * Belsley–Kuh–Welsch 1980): "WHICH rows drive the fit", the row-grain
    * companion to [[olsDiagnostics]]' global residual audits. Closed
    * forms off one exact moment pass: hᵢ = 1/n + (xᵢ−x̄)²/Sxx,
    * rᵢ = eᵢ/(s√(1−hᵢ)), Dᵢ = rᵢ²hᵢ/(2(1−hᵢ)), SSE via the OLS identity
    * Syy − β₁Sxy (never a second residual scan).
    *
    * Determinism: inputs pre-quantized integral (olsTrend contract);
    * β₁ is ONE double division of exact DECIMAL(38,0) centered moments
    * and everything downstream is a fixed IEEE chain per row, so the
    * top-k selection orders on the UNROUNDED Cook's D (identical doubles
    * cross-engine) with id tiebreak; displayed metrics round at 6 dp.
    * Degenerate fits (n ≤ 2, zero x-spread, perfect fit s² = 0, h ≥ 1)
    * → NULL diagnostics, with every division inside its guard branch.
    * Scale shape: one moment agg broadcast back into a map-side
    * projection + one bounded TakeOrdered — no shuffle of the fact. */
  def olsInfluence(
      df: DataFrame,
      idCol: String,
      xCol: String,
      yCol: String,
      topK: Int = 20): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    def dec(c: String): Column = col(c).cast("decimal(38,0)")
    val base = df.select(col(idCol).as("__id"),
      col(xCol).cast("long").as("__x"), col(yCol).cast("long").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    val mom = base.agg(
      count(lit(1)).cast("decimal(38,0)").as("__n"),
      sum(dec("__x")).as("__sx"), sum(dec("__y")).as("__sy"),
      sum(dec("__x") * dec("__x")).as("__sxx"),
      sum(dec("__y") * dec("__y")).as("__syy"),
      sum(dec("__x") * dec("__y")).as("__sxy"))
    val n = col("__n")
    val cnum = n * col("__sxy") - col("__sx") * col("__sy")
    val dxx = n * col("__sxx") - col("__sx") * col("__sx")
    val dyy = n * col("__syy") - col("__sy") * col("__sy")
    val nD = n.cast("double")
    val b1 = cnum.cast("double") / dxx.cast("double")
    val xbar = col("__sx").cast("double") / nD
    val ybar = col("__sy").cast("double") / nD
    val b0 = ybar - b1 * xbar
    val s2 = (dyy.cast("double") / nD - b1 * (cnum.cast("double") / nD)) /
      (nD - 2.0)
    val model = mom.select(
      when(n > 2 && dxx > 0, b0).as("__b0"),
      when(n > 2 && dxx > 0, b1).as("__b1"),
      when(n > 2 && dxx > 0, xbar).as("__xbar"),
      when(n > 2 && dxx > 0, s2).as("__s2"),
      when(n > 2 && dxx > 0, dxx.cast("double") / nD).as("__sxxc"),
      nD.as("__nd"))
    val xd = col("__x").cast("double")
    val yd = col("__y").cast("double")
    val e = yd - (col("__b0") + col("__b1") * xd)
    val h = lit(1.0) / col("__nd") +
      (xd - col("__xbar")) * (xd - col("__xbar")) / col("__sxxc")
    val valid = col("__b0").isNotNull && col("__s2") > 0 && h < 1.0
    val r = e / sqrt(col("__s2") * (lit(1.0) - h))
    val cooks = r * r * h / (lit(2.0) * (lit(1.0) - h))
    base.crossJoin(broadcast(model))
      .withColumn("__cooks", when(valid, cooks))
      .orderBy(col("__cooks").desc_nulls_last, col("__id"))
      .limit(topK)
      .select(
        col("__id").as(idCol),
        col("__x").as(xCol), col("__y").as(yCol),
        when(col("__b0").isNotNull, round(e, 6)).as("residual"),
        when(col("__b0").isNotNull, round(h, 6)).as("leverage"),
        when(valid, round(r, 6)).as("std_resid"),
        when(valid, round(cooks, 6)).as("cooks_d"))
  }

  /** Ridge regression (L2 on the two slopes, intercept unpenalized) —
    * [[linearRegression]]'s moment pass with λ added to the slope
    * diagonal of the normal matrix before the same Cramer chains. Unlike
    * OLS, SSE = Σy² − βᵀXᵀy does NOT hold under ridge, so the residual
    * sum expands honestly as SSE = Σy² − 2βᵀXᵀy + βᵀ(XᵀX)β over the
    * UNpenalized moments — still closed-form, still one scan. R² can go
    * negative for large λ (the shrunk fit explains less than the mean);
    * it is reported as-is.
    *
    * Returns ONE row: (n, beta0, beta1, beta2, r2). */
  def ridgeRegression(
      df: DataFrame,
      valueCol: String,
      featureCols: Seq[String],
      lambda: Double): DataFrame = {
    require(featureCols.length == 2,
      s"exactly two features (plus intercept) supported, got ${featureCols.length}")
    require(lambda >= 0, s"lambda must be >= 0, got $lambda")
    val t = twoFeatureMoments(df, valueCol, featureCols)
      .withColumn("paa", col("saa") + lit(lambda))
      .withColumn("pbb", col("sbb") + lit(lambda))
    val det = col("nn") * (col("paa") * col("pbb") - col("sab") * col("sab")) -
      col("sa") * (col("sa") * col("pbb") - col("sab") * col("sb")) +
      col("sb") * (col("sa") * col("sab") - col("paa") * col("sb"))
    val det0 = col("sy") * (col("paa") * col("pbb") - col("sab") * col("sab")) -
      col("sa") * (col("say") * col("pbb") - col("sab") * col("sby")) +
      col("sb") * (col("say") * col("sab") - col("paa") * col("sby"))
    val det1 = col("nn") * (col("say") * col("pbb") - col("sab") * col("sby")) -
      col("sy") * (col("sa") * col("pbb") - col("sab") * col("sb")) +
      col("sb") * (col("sa") * col("sby") - col("say") * col("sb"))
    val det2 = col("nn") * (col("paa") * col("sby") - col("say") * col("sab")) -
      col("sa") * (col("sa") * col("sby") - col("say") * col("sb")) +
      col("sy") * (col("sa") * col("sab") - col("paa") * col("sb"))
    val solved = t
      .withColumn("__det", det)
      .withColumn("beta0", when(col("__det") =!= 0.0, det0 / col("__det")))
      .withColumn("beta1", when(col("__det") =!= 0.0, det1 / col("__det")))
      .withColumn("beta2", when(col("__det") =!= 0.0, det2 / col("__det")))
    val btb = col("beta0") * col("sy") + col("beta1") * col("say") + col("beta2") * col("sby")
    val bab = col("beta0") * col("beta0") * col("nn") +
      col("beta1") * col("beta1") * col("saa") +
      col("beta2") * col("beta2") * col("sbb") +
      lit(2.0) * col("beta0") * col("beta1") * col("sa") +
      lit(2.0) * col("beta0") * col("beta2") * col("sb") +
      lit(2.0) * col("beta1") * col("beta2") * col("sab")
    val sse = col("syy") - lit(2.0) * btb + bab
    val sst = col("syy") - col("sy") * col("sy") / col("nn")
    solved.select(
      col("n"), col("beta0"), col("beta1"), col("beta2"),
      when(col("__det") =!= 0.0 && sst =!= 0.0, lit(1.0) - sse / sst).as("r2"))
  }

  /** Inverse-propensity-weighted ATE on the in-engine logistic propensity
    * — the MODEL-BASED member of the causal family beside
    * [[Sketches.subclassificationAte]]'s binned one: fit
    * e(x) = P(treated | x) by [[logisticRegression]]'s exact quantized GD
    * schedule, clip into [clip, 1−clip] (standard overlap trimming), then
    * ONE exact pass computes both estimators —
    * Horvitz–Thompson (1/n)·Σ[t·y/e − (1−t)·y/(1−e)] and the
    * self-normalizing Hájek Σ(t·y/e)/Σ(t/e) − Σ((1−t)·y/(1−e))/Σ((1−t)/(1−e))
    * — from per-row floor(·1e6+0.5) long sums, so both replay bit-for-bit
    * in SQL behind the unrolled fit. Pre-scale the outcome so
    * |y|/clip·1e6 fits a long at corpus row counts.
    *
    * Returns ONE row: (n, n_treated, ate_ht, ate_hajek). */
  def ipwAte(
      df: DataFrame,
      treatedCol: String,
      valueCol: String,
      featureCols: Seq[String],
      iterations: Int = 6,
      lr: Double = 0.5,
      clip: Double = 0.01): DataFrame = {
    require(featureCols.nonEmpty, "at least one feature required")
    require(clip > 0 && clip < 0.5, s"clip must be in (0, 0.5), got $clip")
    val k = featureCols.length + 1
    val base = pinnedDesign(df,
      Seq(when(col(treatedCol), 1.0).otherwise(0.0).as("__y"),
        col(valueCol).cast("double").as("__v")),
      featureCols)
    val n = base.count()
    require(n > 0, "cannot fit on an empty DataFrame")
    val wq = fitQ(base, k, iterations, lr, n)
    val e = least(greatest(sigmoid(wq, k), lit(clip)), lit(1.0 - clip))
    def q6(c: Column) = sum(floor(c * 1e6 + 0.5).cast("long"))
    base
      .withColumn("__e", e)
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("__y") === 1.0, 1L).otherwise(0L)).as("n_treated"),
        q6(col("__y") * col("__v") / col("__e")).as("__s1"),
        q6(col("__y") / col("__e")).as("__d1"),
        q6((lit(1.0) - col("__y")) * col("__v") / (lit(1.0) - col("__e"))).as("__s0"),
        q6((lit(1.0) - col("__y")) / (lit(1.0) - col("__e"))).as("__d0"))
      .select(
        col("n"), col("n_treated"),
        ((col("__s1") - col("__s0")).cast("double") / 1e6 / col("n").cast("double"))
          .as("ate_ht"),
        (col("__s1").cast("double") / col("__d1").cast("double")
          - col("__s0").cast("double") / col("__d0").cast("double")).as("ate_hajek"))
  }

  /** Nearest-neighbor propensity matching WITH replacement under a
    * caliper (Rosenbaum & Rubin 1983; the matching estimator member of
    * the causal family beside X259/X260's IPW/AIPW weighting): each
    * treated unit pairs with the control whose score is nearest within
    * `caliper`, ties to the smaller control id; the matched-pair ATT is
    * then mean(y_t − y_c) over the pairs (the caller's one aggregate —
    * the operator returns the pair table so the match itself is
    * auditable).
    *
    * SCALE SHAPE — no global sort, no single-partition window: scores
    * quantize to the 1e-9 grid; controls collapse to ONE candidate per
    * distinct score (smallest id); matching is a co-partitioned equi-join
    * on caliper-width score CELLS (each treated row explodes to its 3
    * adjacent cells — the spatial grid-join discipline), |gap| ≤ caliper
    * filtered, argmin by exact (gap, control id) struct-min. Fanout is
    * bounded by distinct control scores per caliper cell — the documented
    * knob, exactly the radius-join contract. Treated units with no
    * control in the caliper drop (count them against n_treated).
    *
    * Returns one row per matched treated unit: (treated_id, control_id,
    * score_t, score_c, score_gap, y_treated, y_control). */
  def propensityMatch(
      df: DataFrame,
      idCol: String,
      treatedCol: String,
      scoreCol: String,
      outcomeCol: String,
      caliper: Double): DataFrame = {
    require(caliper > 0, s"caliper must be > 0, got $caliper")
    val cq = math.max(1L, math.floor(caliper * 1e9 + 0.5).toLong)
    val base = df.select(
      col(idCol).cast("long").as("__id"),
      col(treatedCol).cast("boolean").as("__tr"),
      floor(col(scoreCol).cast("double") * 1e9 + 0.5).cast("long").as("__sq"),
      floor(col(outcomeCol).cast("double") * 1e6 + 0.5).cast("long").as("__yq"))
    // exact long floor-division (negative-score-safe; a double divide
    // would lose grid precision past 2^53)
    def cell(c: Column) = expr(
      s"(${c.toString} - (((${c.toString} % $cq) + $cq) % $cq)) div $cq")
    val ctl = base.filter(!col("__tr"))
      .groupBy(col("__sq").as("__csq"))
      .agg(min(struct(col("__id"), col("__yq"))).as("__c"))
      .select(col("__csq"), col("__c.__id").as("__cid"), col("__c.__yq").as("__cyq"))
      .withColumn("__ccell", cell(col("__csq")))
    val tre = base.filter(col("__tr"))
      .withColumn("__cell", cell(col("__sq")))
      .withColumn("__cand",
        explode(array(col("__cell") - 1, col("__cell"), col("__cell") + 1)))
    tre.join(ctl, col("__cand") === col("__ccell"))
      .filter(abs(col("__sq") - col("__csq")) <= cq)
      .groupBy(col("__id").as("treated_id"))
      .agg(
        max(col("__sq")).as("__tsq"),
        max(col("__yq")).as("__tyq"),
        min(struct(abs(col("__sq") - col("__csq")).as("__gap"),
          col("__cid"), col("__csq"), col("__cyq"))).as("__b"))
      .select(
        // UNROUNDED: every output is an exact-rational double (long/1e9 or
        // long/1e6) — identical bits on any engine, while a 6-6 ROUND
        // re-introduces the half-way knife-edge (measured: gap 997500ns
        // rendered .000998 via Spark's HALF_UP vs .000997 via DuckDB's
        // half-even at sf0.01)
        col("treated_id"),
        col("__b.__cid").as("control_id"),
        (col("__tsq").cast("double") / 1e9).as("score_t"),
        (col("__b.__csq").cast("double") / 1e9).as("score_c"),
        (col("__b.__gap").cast("double") / 1e9).as("score_gap"),
        (col("__tyq").cast("double") / 1e6).as("y_treated"),
        (col("__b.__cyq").cast("double") / 1e6).as("y_control"))
  }

  /** Rank-2 alternating-least-squares matrix factorization (Koren–Bell–
    * Volinsky 2009; the Netflix-era collaborative-filtering staple) — the
    * in-engine FACTOR-model trainer beside X128's neighborhood item-item
    * CF: r_ui ≈ p_u·q_i, alternating ridge solves with each side's 2×2
    * normal equations closed-form (A = Σqqᵀ+λI, p = A⁻¹b via Cramer — no
    * iterative inner solver, λ > 0 makes A positive definite so det > 0
    * always).
    *
    * ENGINE-EXACT ITERATION (the PageRank/logistic discipline): factors
    * live on the 1e-6 grid as longs; each half-sweep joins ratings to the
    * other side's factors, quantizes the per-row normal-equation terms
    * (q², q₁q₂, r·q) to 1e-9 longs, sums them EXACTLY in DECIMAL(38,0)
    * (1e9 ratings × 1e11-scale terms outgrow a long), runs the fixed
    * Cramer chain, and re-quantizes the solve to the grid ⇒ the ENTIRE
    * training trajectory is partition-invariant and replays in SQL as
    * unrolled CTEs. Item init is deterministic off the item's rank in
    * sorted order (symmetry-breaking, no RNG); user factors derive from
    * items on the first half-sweep.
    *
    * Scale shape: per half-sweep ONE ratings-side shuffle (groupBy the
    * side being solved); the item side broadcasts (a domain-bounded
    * catalog), users never collect anywhere. `sweeps` is small and fixed;
    * lineage stays a fixed-depth plan.
    *
    * Returns (entity ∈ {user, item}, id, f1, f2, rmse) — factors 6-dp,
    * rmse the final quantized-residual readout repeated on every row. */
  def alsRank2(
      ratings: DataFrame,
      userCol: String,
      itemCol: String,
      ratingCol: String,
      sweeps: Int = 3,
      lambda: Double = 0.1): DataFrame = {
    require(sweeps >= 1, s"sweeps must be >= 1, got $sweeps")
    require(lambda > 0, s"lambda must be > 0 (Cramer needs det > 0), got $lambda")
    val r = ratings.select(
      col(userCol).cast("string").as("__u"),
      col(itemCol).cast("string").as("__i"),
      floor(col(ratingCol).cast("double") * 1e6 + 0.5).cast("long").as("__rq"))
    // deterministic symmetry-breaking init off the item's sorted rank —
    // the item table is domain-bounded (catalog, not corpus)
    val items0 = r.select(col("__i")).distinct()
      .withColumn("__rk",
        row_number().over(Window.orderBy(col("__i"))).cast("long"))
      .select(col("__i"),
        lit(1000000L).as("__f1"),
        ((col("__rk") % 7 - 3) * 100000L).as("__f2"))
    // one ridge half-sweep: solve `solveKey`'s factors against the fixed
    // `fixedKey` factors joined onto the ratings
    def halfSweep(factors: DataFrame, solveKey: String, fixedKey: String): DataFrame = {
      val f1d = col("__f1").cast("double") / 1e6
      val f2d = col("__f2").cast("double") / 1e6
      val rd = col("__rq").cast("double") / 1e6
      def q9(c: Column) =
        sum(floor(c * 1e9 + 0.5).cast("decimal(38,0)"))
      // fresh attribute on the factor side: __u/__i descend from the same
      // plan as r, and a shared exprId in the condition trips Spark's
      // ambiguous-self-join check (the running-sum helpers' lesson)
      val joined = r.join(
        factors.withColumnRenamed(fixedKey, "__fk"), col(fixedKey) === col("__fk"))
      val sums = joined.groupBy(col(solveKey)).agg(
        q9(f1d * f1d).as("__s11"), q9(f1d * f2d).as("__s12"),
        q9(f2d * f2d).as("__s22"),
        q9(rd * f1d).as("__b1"), q9(rd * f2d).as("__b2"))
      val a11 = col("__s11").cast("double") / 1e9 + lit(lambda)
      val a12 = col("__s12").cast("double") / 1e9
      val a22 = col("__s22").cast("double") / 1e9 + lit(lambda)
      val b1 = col("__b1").cast("double") / 1e9
      val b2 = col("__b2").cast("double") / 1e9
      val det = a11 * a22 - a12 * a12
      sums.select(col(solveKey),
        floor((a22 * b1 - a12 * b2) / det * 1e6 + 0.5).cast("long").as("__f1"),
        floor((a11 * b2 - a12 * b1) / det * 1e6 + 0.5).cast("long").as("__f2"))
    }
    var itemF = items0
    var userF: DataFrame = null
    (1 to sweeps).foreach { _ =>
      userF = halfSweep(broadcast(itemF.select(col("__i"), col("__f1"), col("__f2"))),
        solveKey = "__u", fixedKey = "__i")
      itemF = halfSweep(userF.select(col("__u"), col("__f1"), col("__f2")),
        solveKey = "__i", fixedKey = "__u")
    }
    val uf = userF.select(col("__u").as("__uu"),
      col("__f1").as("__u1"), col("__f2").as("__u2"))
    val itf = itemF.select(col("__i").as("__ii"),
      col("__f1").as("__i1"), col("__f2").as("__i2"))
    val pred = r
      .join(uf, col("__u") === col("__uu"))
      .join(broadcast(itf), col("__i") === col("__ii"))
      .select(((col("__rq").cast("double") / 1e6) -
        ((col("__u1").cast("double") / 1e6) * (col("__i1").cast("double") / 1e6) +
          (col("__u2").cast("double") / 1e6) * (col("__i2").cast("double") / 1e6)))
        .as("__e"))
    val rmse = pred.agg(
      count(lit(1)).as("__n"),
      sum(floor(col("__e") * col("__e") * 1e9 + 0.5).cast("decimal(38,0)")).as("__se"))
      .select(round(sqrt(col("__se").cast("double") / 1e9 /
        col("__n").cast("double")), 6).as("rmse"))
    val users = uf.select(lit("user").as("entity"), col("__uu").as("id"),
      round(col("__u1").cast("double") / 1e6, 6).as("f1"),
      round(col("__u2").cast("double") / 1e6, 6).as("f2"))
    val itemsOut = itf.select(lit("item").as("entity"), col("__ii").as("id"),
      round(col("__i1").cast("double") / 1e6, 6).as("f1"),
      round(col("__i2").cast("double") / 1e6, 6).as("f2"))
    users.unionByName(itemsOut).crossJoin(broadcast(rmse))
  }

  /** Uplift-by-decile / Qini readout (Radcliffe 2007) — the evaluation
    * every TARGETING model needs that plain AUC cannot give: rank the
    * population by a model score, and per score decile compare treated vs
    * control conversion (uplift = conv_t/n_t − conv_c/n_c); the
    * cumulative Qini value qini(k) = Σconv_t − Σconv_c·Σn_t/Σn_c measures
    * incremental conversions captured by targeting the top k deciles —
    * a random-score model reads ≈ 0 everywhere, a useful one front-loads.
    *
    * Scale shape: ONE two-pass range-partitioned numbering
    * ([[Relational.globalRowNumbers]] — no single-partition window at any
    * corpus size) assigns exact ranks under (score desc, tiebreaks asc);
    * buckets are exact integer arithmetic ⌊(rank−1)·b/n⌋+1; the per-bucket
    * aggregate collapses to b rows, and the cumulative window runs on
    * that DOMAIN-BOUNDED table. Every readout is exact long counts into
    * one/two divisions — partition-invariant, SQL-replayable.
    *
    * Returns one row per bucket (1 = best-scored): (bucket, n_t, n_c,
    * conv_t, conv_c, uplift, qini). Empty arms NULL their readouts. */
  def upliftDeciles(
      df: DataFrame,
      treatmentCol: String,
      outcomeCol: String,
      scoreCol: String,
      tiebreakCols: Seq[String],
      buckets: Int = 10): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    require(tiebreakCols.nonEmpty, "tiebreakCols must make the score order total")
    val ranked = Relational.globalRowNumbers(
      df.select(Seq(col(treatmentCol).as("__tr"), col(outcomeCol).as("__y"),
        col(scoreCol).as("__sc")) ++ tiebreakCols.map(col): _*),
      col("__sc").desc +: tiebreakCols.map(col(_).asc),
      rowNumCol = "__rn")
    val n = ranked.agg(count(lit(1)).as("__n"))
    // globalRowNumbers is 0-based: rank rn in [0, n) -> bucket floor(rn*b/n)+1
    val perBucket = ranked.crossJoin(broadcast(n))
      .withColumn("__b", floor(col("__rn") * buckets / col("__n")).cast("int") + 1)
      .groupBy(col("__b").as("bucket"))
      .agg(
        sum(when(col("__tr"), 1L).otherwise(0L)).as("n_t"),
        sum(when(!col("__tr"), 1L).otherwise(0L)).as("n_c"),
        sum(when(col("__tr") && col("__y"), 1L).otherwise(0L)).as("conv_t"),
        sum(when(!col("__tr") && col("__y"), 1L).otherwise(0L)).as("conv_c"))
    // bounded: exactly `buckets` rows — the unpartitioned window is fine
    val wCum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket
      .withColumn("__cnt", sum(col("n_t")).over(wCum))
      .withColumn("__cnc", sum(col("n_c")).over(wCum))
      .withColumn("__cct", sum(col("conv_t")).over(wCum))
      .withColumn("__ccc", sum(col("conv_c")).over(wCum))
      .select(
        col("bucket"), col("n_t"), col("n_c"), col("conv_t"), col("conv_c"),
        when(col("n_t") > 0 && col("n_c") > 0,
          round(col("conv_t").cast("double") / col("n_t").cast("double") -
            col("conv_c").cast("double") / col("n_c").cast("double"), 6)).as("uplift"),
        when(col("__cnc") > 0,
          round(col("__cct").cast("double") -
            col("__ccc").cast("double") * col("__cnt").cast("double") /
              col("__cnc").cast("double"), 6)).as("qini"))
  }

  /** k-NN majority-vote classifier — the SERVING-side lazy learner
    * completing the supervised family next to the parametric fits
    * (logistic, SVM, Naive Bayes): each query row takes the exact cosine
    * top-`k` of the labeled corpus ([[Similarity.bruteForceTopK]]'s
    * broadcast-queries shape — queries small by contract, corpus never
    * shuffles beyond its top-k heaps) and the label with the most
    * neighbors wins, ties to the smallest label (fully deterministic).
    * Returns (query_id, pred_label, n_votes). */
  def knnClassify(
      train: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val nbrs = Similarity.bruteForceTopK(train, queries, idCol, vecCol, k)
    val votes = nbrs
      .join(
        train.select(col(idCol).as("vec_id"), col(labelCol).cast("long").as("__lbl")),
        Seq("vec_id"))
      .groupBy(col("query_id"), col("__lbl"))
      .agg(count(lit(1)).as("n_votes"))
    Relational.topKPerKey(
      votes,
      keyCols = Seq("query_id"),
      sort = Seq("n_votes" -> true, "__lbl" -> false),
      k = 1)
      .select(col("query_id"), col("__lbl").as("pred_label"), col("n_votes"))
  }

  /** Per-column feature scaling — the preprocessing step in front of every
    * distance-based operator here (k-NN, k-means, SVM all assume
    * comparable feature scales). Appends `<valueCol>_scaled`; the stats
    * come from ONE partial-aggregate pass (or a value-domain histogram for
    * `robust`) and broadcast back — no data-grain window, no second
    * shuffle of the fact.
    *
    * Methods: `zscore` = (x−mean)/sd (sample sd over 1e6-quantized exact
    * moments, squares in decimal(38,0)); `minmax` = (x−min)/(max−min) on
    * raw doubles (min/max are exact); `robust` = (x−median)/IQR with
    * median/q1/q3 as LOWER order statistics (rank ⌈p·n⌉) selected from
    * the quantized-value histogram — selection, not interpolation (the
    * standing determinism lesson). Degenerate spread (sd/range/IQR = 0)
    * yields NULL, never a division blow-up. */
  def scaleColumn(df: DataFrame, valueCol: String, method: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val vq = floor(v * 1e6 + 0.5).cast("long")
    val out = valueCol + "_scaled"
    method match {
      case "zscore" =>
        val stats = df.agg(
          count(lit(1)).as("__n"),
          sum(vq).as("__s"),
          sum(vq.cast("decimal(38,0)") * vq.cast("decimal(38,0)")).as("__ss"))
        val n = col("__n").cast("double")
        val mean = col("__s").cast("double") / n
        val varc = (col("__ss").cast("double") - col("__s").cast("double") *
          col("__s").cast("double") / n) / (n - 1.0)
        df.crossJoin(broadcast(stats))
          .withColumn(out,
            when(col("__n") > 1 && varc > 0.0,
              round((vq.cast("double") - mean) / sqrt(varc), 6)))
          .drop("__n", "__s", "__ss")
      case "minmax" =>
        val stats = df.agg(min(v).as("__lo"), max(v).as("__hi"))
        df.crossJoin(broadcast(stats))
          .withColumn(out,
            when(col("__hi") > col("__lo"),
              round((v - col("__lo")) / (col("__hi") - col("__lo")), 6)))
          .drop("__lo", "__hi")
      case "robust" =>
        val hist = df.groupBy(vq.as("__v")).agg(count(lit(1)).as("__c"))
        val w = Window.orderBy(col("__v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = hist.withColumn("__cum", sum(col("__c")).over(w))
        val tot = cum.agg(max(col("__cum")).as("__n"))
        def sel(p: Double) =
          min(when(col("__cum") >= ceil(col("__n").cast("double") * lit(p)), col("__v")))
        val stats = cum.crossJoin(broadcast(tot)).agg(
          sel(0.25).as("__q1"), sel(0.5).as("__med"), sel(0.75).as("__q3"))
        df.crossJoin(broadcast(stats))
          .withColumn(out,
            when(col("__q3") > col("__q1"),
              round((vq - col("__med")).cast("double") /
                (col("__q3") - col("__q1")).cast("double"), 6)))
          .drop("__q1", "__med", "__q3")
      case other => throw new IllegalArgumentException(
        s"unknown scaling method '$other' (zscore | minmax | robust)")
    }
  }

  /** Negative-binomial fit by method of moments, per key (the NB2
    * parameterization: Var = μ + μ²/r) — the model [[poissonDispersion]]'s
    * audit points at when Var > μ: r̂ = m²/(v−m), p̂ = m/v. The standard
    * first stop for overdispersed counts (per-day event volumes, per-user
    * purchase counts) before reaching for the GLM.
    *
    * Exact DECIMAL(38,0) (n, S, ΣS²) moments per key in ONE partial agg
    * (pre-quantized integral counts); mean and the unbiased variance are
    * fixed chains of single divisions; r̂/p̂ one division each, 6-dp
    * rounded. Underdispersed keys (v ≤ m — Poisson/binomial regime, no
    * finite NB) and n ≤ 1 → NULL fit with mean/var still reported,
    * divisions inside guard branches. */
  def nbFitMoments(
      df: DataFrame,
      keyCols: Seq[String],
      countCol: String): DataFrame = {
    require(keyCols.nonEmpty, "at least one key column required")
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val keys = keyCols.map(col)
    val v = col(countCol).cast("long")
    val agg = df.filter(v.isNotNull)
      .groupBy(keys: _*)
      .agg(
        count(lit(1)).as("n"),
        sum(dec(v)).as("__s"),
        sum(dec(v) * dec(v)).as("__ss"))
    val nD = col("n").cast("double")
    val m = col("__s").cast("double") / nD
    val varNum = dec(col("n")) * col("__ss") - col("__s") * col("__s")
    val vv = varNum.cast("double") /
      (dec(col("n")) * (dec(col("n")) - 1)).cast("double")
    val over = vv - m
    agg.select(keys ++ Seq(
      col("n"),
      round(m, 6).as("mean"),
      when(col("n") > 1, round(vv, 6)).as("variance"),
      when(col("n") > 1, when(over > 0, round(m * m / over, 6))).as("r_hat"),
      when(col("n") > 1, when(over > 0, round(m / vv, 6))).as("p_hat")): _*)
  }

  /** Empirical-Bayes beta-binomial rate shrinkage (Robbins 1956 empirical
    * Bayes; the method-of-moments beta prior of Morris 1983 practice) —
    * the "is this small-sample rate real?" tool every per-key conversion/
    * success readout needs: a key with 1/2 successes should NOT outrank
    * one with 480/1000. Fits Beta(α, β) to the observed per-key rates by
    * moments (m, v over keys → ν = m(1−m)/v − 1, α = mν, β = (1−m)ν) and
    * reports each key's posterior mean (α + x)/(α + β + n) — raw rates
    * shrink toward the corpus mean in proportion to their sample size.
    *
    * Determinism: per-key rates are ONE double division of exact longs
    * quantized to 1e-9 before the moment sums (exact DECIMAL(38,0) — a
    * raw double SUM over keys would be partition-order-dependent); m, v,
    * ν, α, β are a FIXED chain of single IEEE ops from those exact sums,
    * replayed verbatim by the oracle; each key's posterior is one more
    * division, 6-dp rounded. Degenerate priors — fewer than 2 keys,
    * zero rate variance (ν → ∞), or v ≥ m(1−m) (no valid beta, ν ≤ 0) —
    * yield NULL `rate_eb` rather than a fabricated shrinkage.
    *
    * Scale shape: one partial agg to per-key counts, one 1-row moment
    * aggregate broadcast back — the key table never reshuffles. */
  def ebRateShrinkage(
      df: DataFrame,
      keyCols: Seq[String],
      successCol: String): DataFrame = {
    require(keyCols.nonEmpty, "at least one key column required")
    ebRateShrinkageFromCounts(ebCounts(df, keyCols, successCol), keyCols)
  }

  /** Per key, the trial and success counts `(n, x)` [[ebRateShrinkage]]
    * shrinks — one aggregate, so a streaming twin keeps it as state. */
  def ebCounts(df: DataFrame, keyCols: Seq[String], successCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(when(col(successCol).cast("boolean"), 1L).otherwise(0L)).as("x"))

  /** [[ebRateShrinkage]]'s assembly half over pre-aggregated per-key
    * `(n, x)` trial/success counts — the streaming twin maintains exactly
    * this count state across micro-batches, so one integer state shape
    * feeds both the batch and the live monitor (the FromCells
    * discipline). */
  def ebRateShrinkageFromCounts(
      perKey: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val keys = keyCols.map(col)
    // n = 0 keys (legal in pre-aggregated input) carry NO rate: the x/n
    // divisions stay inside the n > 0 branch (ANSI throws on 0-division),
    // the key drops out of the prior moments, and both rate columns read
    // NULL — never a fabricated 0/0.
    val per = perKey
      .withColumn("__pq",
        when(col("n") > 0,
          floor(col("x").cast("double") / col("n").cast("double") * 1e9 + 0.5)
            .cast("long")))
    val mom = per.filter(col("__pq").isNotNull).agg(
      count(lit(1)).as("__k"),
      sum(dec(col("__pq"))).as("__sp"),
      sum(dec(col("__pq")) * dec(col("__pq"))).as("__spp"))
    val kD = col("__k").cast("double")
    val m = col("__sp").cast("double") / kD / 1e9
    val vNum = dec(col("__k")) * col("__spp") - col("__sp") * col("__sp")
    val v = vNum.cast("double") /
      (dec(col("__k")) * (dec(col("__k")) - 1)).cast("double") / 1e18
    val nu = m * (lit(1.0) - m) / v - lit(1.0)
    // zero-denominator divisions must stay INSIDE when-branches: ANSI
    // throws on double division by zero, so the validity test is the
    // exact-decimal vNum > 0 (⟺ v > 0 once k > 1), never v itself
    val valid = col("__k") > 1 && vNum > 0
    val model = mom.select(
      col("__k"),
      when(valid, when(nu > 0, m * nu)).as("__alpha"),
      when(valid, when(nu > 0, (lit(1.0) - m) * nu)).as("__beta"))
    val eb = (col("__alpha") + col("x").cast("double")) /
      (col("__alpha") + col("__beta") + col("n").cast("double"))
    per.crossJoin(broadcast(model))
      .select(keys ++ Seq(
        col("n"), col("x"),
        when(col("n") > 0,
          round(col("x").cast("double") / col("n").cast("double"), 6))
          .as("rate_raw"),
        when(col("__alpha").isNotNull && col("n") > 0, round(eb, 6))
          .as("rate_eb")): _*)
  }

  /** Instrumental-variables causal effect — the Wald estimator (Wald 1940;
    * the closed form of single-instrument two-stage least squares, read as
    * the LATE by Angrist, Imbens & Rubin 1996). Completes the causal family
    * on its third identification axis: DiD needs parallel trends,
    * subclassification/IPW/AIPW/matching need unconfoundedness — IV is the
    * design for when the TREATMENT itself is endogenous but an exogenous
    * shifter z exists. β̂_IV = cov(z,y)/cov(z,x), reported beside the
    * first-stage slope cov(z,x)/var(z) (the weak-instrument check — quote
    * it BEFORE believing β̂) and the reduced form cov(z,y)/var(z).
    *
    * Determinism: inputs must be pre-quantized integral columns (the
    * olsTrend contract); the six sufficient statistics (n, Σz, Σx, Σy,
    * Σz², Σzx, Σzy) accumulate as exact DECIMAL(38,0) sums in ONE partial
    * aggregate, every centered co-moment n·Σab − Σa·Σb is exact decimal
    * arithmetic, and each reported ratio is ONE double division of two
    * exact operands rounded at 6 dp. var(z)=0 → first stage/reduced form
    * NULL (a constant instrument identifies nothing); cov(z,x)=0 → β̂ NULL
    * (a zero first stage makes the Wald ratio undefined).
    *
    * Scale shape: one map-side-combined aggregate pass, one output row —
    * nothing downstream of the scan at any corpus size. */
  def ivWald(
      df: DataFrame,
      instrumentCol: String,
      treatmentCol: String,
      outcomeCol: String): DataFrame = {
    def d(c: String): Column = col(c).cast("decimal(38,0)")
    val agg = df
      .filter(col(instrumentCol).isNotNull && col(treatmentCol).isNotNull &&
        col(outcomeCol).isNotNull)
      .agg(
        count(lit(1)).cast("decimal(38,0)").as("__n"),
        sum(d(instrumentCol)).as("__sz"),
        sum(d(treatmentCol)).as("__sx"),
        sum(d(outcomeCol)).as("__sy"),
        sum(d(instrumentCol) * d(instrumentCol)).as("__szz"),
        sum(d(instrumentCol) * d(treatmentCol)).as("__szx"),
        sum(d(instrumentCol) * d(outcomeCol)).as("__szy"))
    val varZ = col("__n") * col("__szz") - col("__sz") * col("__sz")
    val covZX = col("__n") * col("__szx") - col("__sz") * col("__sx")
    val covZY = col("__n") * col("__szy") - col("__sz") * col("__sy")
    agg.select(
      col("__n").cast("long").as("n"),
      when(varZ =!= 0,
        round(covZX.cast("double") / varZ.cast("double"), 6)).as("first_stage"),
      when(varZ =!= 0,
        round(covZY.cast("double") / varZ.cast("double"), 6)).as("reduced_form"),
      when(covZX =!= 0,
        round(covZY.cast("double") / covZX.cast("double"), 6)).as("beta_iv"))
  }
  /** Box–Cox power-transform selection (Box & Cox 1964) by profile
    * log-likelihood over a FIXED λ grid — the feature-transform fit a
    * normalizing pipeline runs before any Gaussian-assuming model:
    * z_λ = (y^λ − 1)/λ (λ ≠ 0; ln y at λ = 0), and the profile
    * LL(λ) = −n/2·ln(σ̂²_λ) + (λ−1)·Σ ln y picks the λ that makes the
    * transformed data most normal-like. A grid, not a golden-section
    * search: the grid is what production pipelines actually use (λ is
    * reported at coarse resolution anyway), it makes the whole fit ONE
    * explode + partial aggregate over rows × |grid| with every candidate
    * sharing the scan, and — unlike an iterative optimizer — it replays
    * exactly in SQL. Per-row z and ln y quantize to 1e-6 longs (the
    * welchTTest discipline) so σ̂² and Σ ln y are fixed chains on exact
    * sums. Non-positive y rows are excluded (Box–Cox's domain) and
    * counted. Returns |grid| rows ordered by λ: (lambda, n, n_dropped,
    * loglik, is_best) — best = max loglik, ties to the smaller λ; the
    * grid is joined as a spine, so an all-non-positive input still emits
    * every λ (n = 0, NULL loglik) and a NULL-loglik row is never best. */
  def boxCoxFit(
      df: DataFrame,
      valueCol: String,
      lambdas: Seq[Double] = Seq(-2.0, -1.5, -1.0, -0.5, 0.0, 0.5, 1.0, 1.5, 2.0)): DataFrame = {
    require(lambdas.nonEmpty, "at least one lambda required")
    require(lambdas.distinct.size == lambdas.size, "duplicate lambda in grid")
    import org.apache.spark.sql.expressions.Window
    val y = col(valueCol).cast("double")
    val counts = df.agg(
      count(lit(1)).as("__all"),
      sum(when(y > 0.0, 1L).otherwise(0L)).as("__pos"))
    val base = df.filter(y > 0.0)
      .select(y.as("__y"), explode(array(lambdas.map(lit): _*)).as("lambda"))
    val z = when(col("lambda") === 0.0, log(col("__y")))
      .otherwise((pow(col("__y"), col("lambda")) - 1.0) / col("lambda"))
    // z at λ = ±2 reaches 1e10 in 1e-6 units, so z·z must cross-multiply
    // as DECIMAL (a long z² term overflows ANSI at a single row) — the
    // corrMatrix exact-decimal discipline
    def d18(c: Column) = c.cast("decimal(18,0)")
    val m = base
      .select(col("lambda"),
        floor(z * 1e6 + 0.5).cast("long").as("__zq"),
        floor(log(col("__y")) * 1e6 + 0.5).cast("long").as("__lq"))
      .groupBy(col("lambda"))
      .agg(count(lit(1)).as("n"),
        sum(col("__zq")).as("__sz"),
        sum(d18(col("__zq")) * d18(col("__zq"))).cast("decimal(38,0)").as("__szz"),
        sum(col("__lq")).as("__sl"))
    val nD = col("n").cast("double")
    // z² accumulates as (1e-6 long)² = 1e-12 units; σ² = E[z²] − E[z]²
    val varZ = col("__szz").cast("double") / nD / 1e12 -
      (col("__sz").cast("double") / nD / 1e6) * (col("__sz").cast("double") / nD / 1e6)
    val ll = lit(-0.5) * nD * log(varZ) +
      (col("lambda") - 1.0) * (col("__sl").cast("double") / 1e6)
    // λ-grid spine: with NO positive rows the grouped aggregate is empty,
    // which would silently break the "returns |grid| rows" contract — left
    // join the grid so every λ emits (n = 0, NULL loglik) instead
    val spine = df.sparkSession.range(1)
      .select(explode(array(lambdas.map(lit): _*)).as("lambda"))
    val scored = spine
      .join(m, Seq("lambda"), "left")
      .crossJoin(broadcast(counts))
      .select(col("lambda"), coalesce(col("n"), lit(0L)).as("n"),
        (col("__all") - coalesce(col("__pos"), lit(0L))).as("n_dropped"),
        when(varZ > 0.0, round(ll, 6)).as("loglik"))
    scored
      .withColumn("is_best",
        // never crown a NULL-loglik row (all-degenerate grids previously
        // marked one NULL row best)
        col("loglik").isNotNull &&
          row_number().over(Window.orderBy(col("loglik").desc_nulls_last,
            col("lambda").asc)) === 1)
      .orderBy("lambda")
  }

  /** RANSAC robust line fit (Fischler & Bolles 1981) — the
    * high-breakdown member of the regression family: where OLS breaks at
    * one outlier and Theil–Sen at ~29%, RANSAC survives ANY outlier
    * fraction a consensus set can outvote, by hypothesizing lines from
    * minimal 2-point samples and keeping the one the most data agrees
    * with (residual ≤ `eps`), then refitting exactly on its consensus
    * set.
    *
    * DETERMINISTIC and engine-replayable where textbook RANSAC is RNG:
    * rows take X25 global row numbers on the (idCol) total order; trial
    * t samples positions md5("t_1") and md5("t_2") (first 60 digest bits
    * mod n, +1 on collision) — the md5-idiom bootstrap discipline, no
    * RNG state, partitioning-invariant. Scale shape: ONE numbering pass,
    * a 2·T-row broadcast join picks the sample points, scoring is one
    * rows × T pass (broadcast model table, partial-agg counts), the
    * refit one exact quantized-moment aggregate over the winning
    * consensus set (the olsTrend DECIMAL recipe). Degenerate trials
    * (equal sample x after 1e-6 quantization) drop; ties on inlier count
    * break to the smaller trial id. n < 2 or all trials degenerate →
    * zero rows.
    *
    * Returns ONE row: (n, trials, best_trial, n_inliers, slope,
    * intercept) — slope/intercept from the exact consensus refit. */
  def ransacLine(
      df: DataFrame,
      idCol: String,
      xCol: String,
      yCol: String,
      trials: Int = 32,
      eps: Double = 0.5): DataFrame = {
    require(trials >= 1, s"trials must be >= 1, got $trials")
    require(eps > 0, s"eps must be > 0, got $eps")
    val base = df.select(col(idCol).as("__id"),
      floor(col(xCol).cast("double") * 1e6 + 0.5).cast("long").as("__xq"),
      floor(col(yCol).cast("double") * 1e6 + 0.5).cast("long").as("__yq"))
    val numbered = Relational.globalRowNumbers(base, Seq(col("__id")), "__rn")
      .localCheckpoint(true)
    val n = numbered.count()
    if (n < 2) return numbered.sparkSession.emptyDataFrame
      .select(lit(0L).as("n"), lit(trials).as("trials"), lit(0).as("best_trial"),
        lit(0L).as("n_inliers"), lit(0.0).as("slope"), lit(0.0).as("intercept"))
      .limit(0)
    // first 15 hex chars = 60 bits — parses as a signed long in ANY engine
    // (16 chars could exceed 2^63), the q_perm_test word idiom
    def pos(t: Int, j: Int): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${t}_$j".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % n
    }
    val picks: Seq[(Int, Long, Long)] = (0 until trials).map { t =>
      val i1 = pos(t, 1)
      val i2raw = pos(t, 2)
      val i2 = if (i2raw == i1) (i2raw + 1) % n else i2raw
      (t, i1, i2)
    }
    val spark = df.sparkSession
    import spark.implicits._
    val trialPos = picks.flatMap { case (t, i1, i2) =>
      Seq((t, i1, 1), (t, i2, 2)) }.toDF("__t", "__rn", "__which")
    val sampled = numbered.join(broadcast(trialPos), Seq("__rn"))
      .groupBy(col("__t"))
      .agg(
        max(when(col("__which") === 1, col("__xq"))).as("__x1"),
        max(when(col("__which") === 1, col("__yq"))).as("__y1"),
        max(when(col("__which") === 2, col("__xq"))).as("__x2"),
        max(when(col("__which") === 2, col("__yq"))).as("__y2"))
      .filter(col("__x1") =!= col("__x2"))
      .select(col("__t"),
        ((col("__y2") - col("__y1")).cast("double") /
          (col("__x2") - col("__x1")).cast("double")).as("__b"),
        (col("__y1").cast("double") / 1e6 -
          (col("__y2") - col("__y1")).cast("double") /
            (col("__x2") - col("__x1")).cast("double") *
            (col("__x1").cast("double") / 1e6)).as("__a"))
    val counted = numbered.crossJoin(broadcast(sampled))
      .filter(abs(col("__yq").cast("double") / 1e6 -
        (col("__a") + col("__b") * (col("__xq").cast("double") / 1e6))) <= eps)
      .groupBy(col("__t"), col("__a"), col("__b"))
      .agg(count(lit(1)).as("__ni"))
    val best = Relational.topKPerKey(
      counted.withColumn("__k", lit(1)),
      keyCols = Seq("__k"),
      sort = Seq("__ni" -> true, "__t" -> false), k = 1)
      .select(col("__t"), col("__a"), col("__b"), col("__ni"))
    // exact consensus refit: quantized moments as DECIMAL, one Cramer chain
    def dec(c: Column) = c.cast("decimal(38,0)")
    val refit = numbered.crossJoin(broadcast(best))
      .filter(abs(col("__yq").cast("double") / 1e6 -
        (col("__a") + col("__b") * (col("__xq").cast("double") / 1e6))) <= eps)
      .agg(
        count(lit(1)).as("__m"),
        sum(dec(col("__xq"))).as("__sx"), sum(dec(col("__yq"))).as("__sy"),
        sum(dec(col("__xq")) * dec(col("__yq"))).as("__sxy"),
        sum(dec(col("__xq")) * dec(col("__xq"))).as("__sxx"),
        max(col("__t")).as("best_trial"), max(col("__ni")).as("n_inliers"))
    val det = dec(col("__m")) * col("__sxx") - col("__sx") * col("__sx")
    val slope = (dec(col("__m")) * col("__sxy") - col("__sx") * col("__sy")).cast("double") /
      det.cast("double")
    val icept = (col("__sy").cast("double") -
      (dec(col("__m")) * col("__sxy") - col("__sx") * col("__sy")).cast("double") /
        det.cast("double") * col("__sx").cast("double")) /
      col("__m").cast("double") / 1e6
    refit
      // an all-degenerate trial set leaves the ungrouped agg with its one
      // empty-input row (__m = 0, null sums) — drop it so "no consensus"
      // reads as zero rows, the documented contract
      .filter(col("__m") > 0)
      .select(
        lit(n).as("n"), lit(trials).as("trials"),
        col("best_trial"), col("n_inliers"),
        when(det.cast("double") =!= 0.0, round(slope, 6)).as("slope"),
        when(det.cast("double") =!= 0.0, round(icept, 6)).as("intercept"))
  }
}