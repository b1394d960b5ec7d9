package graft

import org.apache.spark.sql.functions.{col, concat, lit, udf}

import graft.operators.{Models, Sampling}

class ModelsSpec extends SparkSpec {
  import spark.implicits._

  test("logisticRegression: exact quantized-GD replay, separable data, partition invariance") {
    val data = Seq((-2.0, false), (-1.0, false), (1.0, true), (2.0, true))
    val df = data.toDF("x", "y").repartition(2)
    val r = Models.logisticRegression(df, "y", Seq("x"), iterations = 10, lr = 0.5).head
    // driver-side replay of the identical quantized schedule
    val rows = data.map { case (x, yy) => (Array(1.0, x), if (yy) 1.0 else 0.0) }
    val n = rows.length
    var w = Array(0L, 0L)
    def p(xs: Array[Double]): Double = {
      val z = w(0) / 1e9 * xs(0) + w(1) / 1e9 * xs(1)
      1.0 / (1.0 + math.exp(-z))
    }
    for (_ <- 1 to 10) {
      val g = Array(0L, 0L)
      for ((xs, yy) <- rows; j <- 0 until 2)
        g(j) += math.floor((p(xs) - yy) * xs(j) * 1e6 + 0.5).toLong
      for (j <- 0 until 2)
        w(j) = w(j) - math.floor(0.5 * g(j) * 1000.0 / n + 0.5).toLong
    }
    assert(r.getAs[Long]("n") == n.toLong)
    assert(r.getAs[Double]("w0") == w(0) / 1e9)
    assert(r.getAs[Double]("w1") == w(1) / 1e9)
    val llq = rows.map { case (xs, yy) =>
      math.floor((if (yy == 1.0) math.log(p(xs)) else math.log(1.0 - p(xs))) * 1e6 + 0.5).toLong
    }.sum
    assert(r.getAs[Double]("log_loss") == -llq.toDouble / 1e6 / n)
    // separable data: the slope must be positive and classify perfectly
    assert(r.getAs[Double]("w1") > 0)
    assert(r.getAs[Double]("accuracy") == 1.0)
    // the quantized schedule is partition-count-invariant, bit for bit
    val r7 = Models.logisticRegression(
      data.toDF("x", "y").repartition(7), "y", Seq("x"), iterations = 10, lr = 0.5).head
    assert(r7.getAs[Double]("w0") == r.getAs[Double]("w0"))
    assert(r7.getAs[Double]("w1") == r.getAs[Double]("w1"))
  }

  test("linearRegression: exact plane recovery, R²=1; collinear design => NULLs") {
    // y = 2 + 3·x1 − x2 exactly, on a non-degenerate grid
    val data = for (i <- 0 until 10; j <- 0 until 10)
      yield (i / 10.0, j / 10.0, 2.0 + 3.0 * (i / 10.0) - j / 10.0)
    val df = data.toDF("x1", "x2", "y").repartition(3)
    val r = Models.linearRegression(df, "y", Seq("x1", "x2")).head
    assert(r.getAs[Long]("n") == 100L)
    assert(math.abs(r.getAs[Double]("beta0") - 2.0) < 1e-6)
    assert(math.abs(r.getAs[Double]("beta1") - 3.0) < 1e-6)
    assert(math.abs(r.getAs[Double]("beta2") + 1.0) < 1e-6)
    assert(math.abs(r.getAs[Double]("r2") - 1.0) < 1e-9)
    // identical feature columns: det cancels to exactly 0.0 -> NULLs
    val sing = data.map { case (a, _, y) => (a, a, y) }.toDF("x1", "x2", "y")
    val rs = Models.linearRegression(sing, "y", Seq("x1", "x2")).head
    assert(rs.isNullAt(rs.fieldIndex("beta1")) && rs.isNullAt(rs.fieldIndex("r2")))
  }

  test("ridgeRegression: λ=0 matches OLS; λ>0 shrinks slopes toward zero") {
    val data = for (i <- 0 until 10; j <- 0 until 10)
      yield (i / 10.0, j / 10.0, 2.0 + 3.0 * (i / 10.0) - j / 10.0)
    val df = data.toDF("x1", "x2", "y").repartition(3)
    val ols = Models.linearRegression(df, "y", Seq("x1", "x2")).head
    val r0 = Models.ridgeRegression(df, "y", Seq("x1", "x2"), lambda = 0.0).head
    assert(math.abs(r0.getAs[Double]("beta1") - ols.getAs[Double]("beta1")) < 1e-9)
    assert(math.abs(r0.getAs[Double]("beta2") - ols.getAs[Double]("beta2")) < 1e-9)
    val r1 = Models.ridgeRegression(df, "y", Seq("x1", "x2"), lambda = 5.0).head
    assert(math.abs(r1.getAs[Double]("beta1")) < math.abs(ols.getAs[Double]("beta1")))
    assert(math.abs(r1.getAs[Double]("beta2")) < math.abs(ols.getAs[Double]("beta2")))
    assert(r1.getAs[Double]("r2") < r0.getAs[Double]("r2") + 1e-12)
  }

  test("quantileRegression: median line shrugs off the outlier OLS chases; invariant") {
    // y = 1 + 2·x1 (+ 0·x2) exactly, except one wild outlier
    val clean = for (i <- 0 until 10; j <- 0 until 10)
      yield (i / 10.0, j / 10.0, 1.0 + 2.0 * (i / 10.0))
    val data = clean :+ ((0.9, 0.5, 1000.0))
    val df = data.toDF("x1", "x2", "y").repartition(3)
    val ols = Models.linearRegression(df, "y", Seq("x1", "x2")).head
    val qr = Models.quantileRegression(df, "y", Seq("x1", "x2"),
      tau = 0.5, iterations = 100, lr = 1.0).head
    assert(qr.getAs[Long]("n") == 101L && qr.getAs[Double]("tau") == 0.5)
    val olsErr = math.abs(ols.getAs[Double]("beta1") - 2.0)
    val qrErr = math.abs(qr.getAs[Double]("w1") - 2.0)
    assert(qrErr < olsErr, s"median slope $qrErr must beat OLS $olsErr under the outlier")
    assert(qrErr < 0.1)
    val qr7 = Models.quantileRegression(data.toDF("x1", "x2", "y").repartition(7),
      "y", Seq("x1", "x2"), tau = 0.5, iterations = 100, lr = 1.0).head
    assert(qr7.getAs[Double]("w1") == qr.getAs[Double]("w1"))
    assert(qr7.getAs[Double]("pinball") == qr.getAs[Double]("pinball"))
  }

  test("decisionStump: finds the planted step, beats the weak feature; constants drop") {
    // y steps 10 → 20 exactly at good ≤ 5; weak is pure noise-free junk
    val data = (0 until 200).map { i =>
      val good = i % 10L
      (if (good <= 5) 10.0 else 20.0, good, i % 3L)
    }
    val df = data.toDF("y", "good", "weak").repartition(4)
    val got = Models.decisionStump(df, "y", Seq("good", "weak")).head
    assert(got.getAs[String]("feature") == "good")
    assert(got.getAs[Long]("split_bin") == 5L)
    assert(got.getAs[Long]("n_left") == 120L && got.getAs[Long]("n_right") == 80L)
    assert(got.getAs[Double]("mean_left") == 10.0)
    assert(got.getAs[Double]("mean_right") == 20.0)
    assert(got.getAs[Double]("gain") > 0)
    // partition invariance
    val g7 = Models.decisionStump(df.repartition(7), "y", Seq("good", "weak")).head
    assert(g7.getAs[Long]("split_bin") == 5L &&
      g7.getAs[Double]("gain") == got.getAs[Double]("gain"))
    // all-constant features: no candidate survives
    val const = (0 until 10).map(i => (i.toDouble, 1L)).toDF("y", "c")
    assert(Models.decisionStump(const, "y", Seq("c")).count() == 0L)
  }

  test("bradleyTerry: transitive dominance orders strengths; winless hits zero; invariant") {
    // A beats B 3x, B beats C 3x, A beats C 3x: strengths must order
    // A > B > C, sum to ~1, and C (winless) must pin to exactly 0
    val o = Seq.fill(3)(Seq(("A", "B"), ("B", "C"), ("A", "C"))).flatten
      .toDF("w", "l").repartition(3)
    val got = Models.bradleyTerry(o, "w", "l", rounds = 8)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("wins"), r.getAs[Long]("games"), r.getAs[Double]("strength"))).toMap
    assert(got("A")._1 == 6L && got("B")._1 == 3L && got("C")._1 == 0L)
    assert(got("A")._2 == 6L && got("B")._2 == 6L && got("C")._2 == 6L)
    assert(got("A")._3 > got("B")._3 && got("B")._3 > got("C")._3, got.toString)
    assert(got("C")._3 == 0.0, "winless item must pin to strength zero")
    val tot = got.values.map(_._3).sum
    assert(math.abs(tot - 1.0) < 1e-6, s"strengths must normalize: $tot")
    // implied win probability favors the dominant item
    assert(got("A")._3 / (got("A")._3 + got("B")._3) > 0.5)
    val g7 = Models.bradleyTerry(o.repartition(7), "w", "l", rounds = 8)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("strength")).toMap
    assert(g7 == got.map { case (k, v) => k -> v._3 })
  }

  test("regressionDiscontinuity: planted jump recovered exactly; empty side NULLs") {
    // y = 5 + x below the cutoff, 9 + x above: tau = 4, both slopes 1
    val data = ((-30 until 0) ++ (0 until 30)).map { i =>
      val x = i / 10.0
      (x, (if (i >= 0) 9.0 else 5.0) + x)
    }
    val df = data.toDF("run", "yv").repartition(4)
    val got = Models.regressionDiscontinuity(df, "run", "yv",
      cutoff = 0.0, bandwidth = 2.0).head
    // inclusive bandwidth: x = +2.0 (i = 20) is the 21st point above
    assert(got.getAs[Long]("n_below") == 20L && got.getAs[Long]("n_above") == 21L)
    assert(got.getAs[Double]("tau") == 4.0, s"tau=${got.getAs[Double]("tau")}")
    assert(got.getAs[Double]("slope_below") == 1.0)
    assert(got.getAs[Double]("slope_above") == 1.0)
    assert(got.getAs[Double]("int_below") == 5.0 && got.getAs[Double]("int_above") == 9.0)
    // cutoff beyond the data: the above side is empty, readout degrades
    val off = Models.regressionDiscontinuity(df, "run", "yv",
      cutoff = 10.0, bandwidth = 2.0).head
    assert(off.isNullAt(off.fieldIndex("n_above")) &&
      off.isNullAt(off.fieldIndex("tau")))
    // partition invariance
    val g7 = Models.regressionDiscontinuity(df.repartition(7), "run", "yv",
      cutoff = 0.0, bandwidth = 2.0).head
    assert(g7.getAs[Double]("tau") == 4.0)
  }

  test("baggedStumps: every bag finds the planted step; ensemble beats no-model MSE") {
    // clean step y = 10·1{a > 4}: any 63% subsample still splits a at 4
    val data = (0 until 300).map { i =>
      val a = i % 10L
      (if (a > 4) 10.0 else 0.0, a, i % 3L, i.toLong)
    }
    val df = data.toDF("y", "a", "weak", "rid").repartition(4)
    val got = Models.baggedStumps(df, "y", Seq("a", "weak"), "rid", bags = 3)
      .orderBy("bag").collect()
    assert(got.length == 3)
    got.foreach { r =>
      assert(r.getAs[String]("feature") == "a" && r.getAs[Long]("split_bin") == 4L)
      assert(r.getAs[Double]("mean_left") == 0.0 && r.getAs[Double]("mean_right") == 10.0)
    }
    // exact recovery: the ensemble of identical correct stumps has MSE 0
    assert(got.head.getAs[Double]("ensemble_mse") == 0.0)
    // bags saw ~63% of rows, and different rows
    val sizes = got.map(_.getAs[Long]("n_bag"))
    assert(sizes.forall(s => s > 120 && s < 250), sizes.toSeq.toString)
    assert(sizes.distinct.length > 1, "hash bags must differ")
    val g7 = Models.baggedStumps(df.repartition(7), "y", Seq("a", "weak"), "rid",
      bags = 3).orderBy("bag").collect()
    assert(g7.map(_.getAs[Long]("n_bag")).toSeq == sizes.toSeq)
  }

  test("baggedStumps: the first failed bag cancels its siblings' jobs and its require surfaces") {
    // bag 1's subsample has one constant feature value, so its fit fails
    // fast; bags 2 and 3 draw other rows, whose feature takes 200 ms a row
    val inBag1 = spark.range(200)
      .filter(Sampling.hashBucket(concat(col("id").cast("string"), lit("#bag1")), 100) < 50)
      .as[Long].collect().toSet
    val feature = udf { (id: Long) =>
      if (inBag1(id)) 0L else { Thread.sleep(200); id % 2 } }
    val df = spark.range(0, 200, 1, 1)
      .select(col("id").as("rid"), (col("id") % 7).cast("double").as("y"), feature(col("id")).as("a"))
    val recorder = new JobRecorder(spark)
    spark.sparkContext.addSparkListener(recorder)
    try {
      recorder.clear()
      val e = intercept[IllegalArgumentException] {
        Models.baggedStumps(df, "y", Seq("a"), "rid", bags = 3, samplePct = 50)
      }
      assert(e.getMessage.contains("bag 1 has no split candidate"), e.getMessage)
      recorder.flush()
      assert(recorder.jobs.nonEmpty)
      assert(recorder.activeJobs.isEmpty, s"jobs still running: ${recorder.activeJobs}")
    } finally spark.sparkContext.removeSparkListener(recorder)
  }

  test("poissonDispersion: deterministic counts read under-, inflated variance over-") {
    // deterministic y = round(exp(0.3 + x1)): variance ~ 0 < mean, so the
    // auxiliary regression must read UNDERdispersed (alpha < 0)
    val calm = for (i <- 0 until 40; j <- 0 until 4)
      yield (math.round(math.exp(0.3 + i / 40.0)).toDouble, i / 40.0, j / 4.0)
    val c = Models.poissonDispersion(calm.toDF("y", "x1", "x2"), "y",
      Seq("x1", "x2"), iterations = 80, lr = 0.3).head
    assert(c.getAs[Double]("alpha") < 0.0, s"alpha=${c.getAs[Double]("alpha")}")
    // variance-inflated: same means, but counts swing 0 <-> 2mu
    val wild = calm.zipWithIndex.map { case ((y, a, b), i) =>
      (if (i % 2 == 0) 0.0 else 2.0 * y, a, b)
    }
    val w = Models.poissonDispersion(wild.toDF("y", "x1", "x2"), "y",
      Seq("x1", "x2"), iterations = 80, lr = 0.3).head
    assert(w.getAs[Double]("alpha") > 0.2,
      s"wild=${w.getAs[Double]("alpha")} calm=${c.getAs[Double]("alpha")}")
    assert(w.getAs[Double]("pearson_ratio") > c.getAs[Double]("pearson_ratio"))
    // partition invariance
    val c7 = Models.poissonDispersion(calm.toDF("y", "x1", "x2").repartition(7),
      "y", Seq("x1", "x2"), iterations = 80, lr = 0.3).head
    assert(c7.getAs[Double]("alpha") == c.getAs[Double]("alpha"))
  }

  test("poissonRegression: recovers the planted log-linear slope; oob NULLs deviance") {
    // y = round(exp(0.3 + 1.0·x1)) on a grid — slope must come out near 1
    val data = for (i <- 0 until 30; j <- 0 until 4)
      yield (math.round(math.exp(0.3 + 1.0 * (i / 30.0))).toDouble, i / 30.0, j / 4.0)
    val df = data.toDF("y", "x1", "x2").repartition(3)
    val fit = Models.poissonRegression(df, "y", Seq("x1", "x2"),
      iterations = 80, lr = 0.3, maxCount = 16).head
    assert(fit.getAs[Long]("n") == data.length.toLong)
    val w1 = fit.getAs[Double]("w1")
    assert(w1 > 0.4 && w1 < 1.6, s"w1=$w1")
    assert(fit.getAs[Double]("deviance") >= 0.0)
    assert(math.abs(fit.getAs[Double]("mean_mu") -
      data.map(_._1).sum / data.length) < 0.1)
    // bit-identical across partitionings
    val f7 = Models.poissonRegression(df.repartition(7), "y", Seq("x1", "x2"),
      iterations = 80, lr = 0.3, maxCount = 16).head
    assert(f7.getAs[Double]("w1") == w1)
    assert(f7.getAs[Double]("deviance") == fit.getAs[Double]("deviance"))
    // a count above maxCount NULLs the deviance, never silently drops
    val oob = (data :+ ((99.0, 0.5, 0.5))).toDF("y", "x1", "x2")
    val o = Models.poissonRegression(oob, "y", Seq("x1", "x2"),
      iterations = 5, lr = 0.1, maxCount = 16).head
    assert(o.isNullAt(o.fieldIndex("deviance")))
    // a NON-INTEGER count in (0, maxCount] has no lnY table row — it must
    // trip __oob and NULL the deviance too, not silently drop from the sum
    val frac = (data :+ ((2.5, 0.5, 0.5))).toDF("y", "x1", "x2")
    val f = Models.poissonRegression(frac, "y", Seq("x1", "x2"),
      iterations = 5, lr = 0.1, maxCount = 16).head
    assert(f.isNullAt(f.fieldIndex("deviance")))
  }

  test("gbStumps: two rounds peel the two planted effects to zero MSE; invariant") {
    // y = 10·1{a>2} + 4·1{b>1} on a balanced grid: round 1 must split a at
    // 2 (gain 25 vs 4), round 2 mops up b at 1, residual exactly zero
    val data = for (a <- 0L until 6L; b <- 0L until 4L; _ <- 0 until 3)
      yield ((if (a > 2) 10.0 else 0.0) + (if (b > 1) 4.0 else 0.0), a, b)
    val df = data.toDF("y", "a", "b").repartition(4)
    val got = Models.gbStumps(df, "y", Seq("a", "b"), rounds = 2, shrinkage = 1.0)
      .orderBy("round").collect()
    assert(got.length == 2)
    val r1 = got(0); val r2 = got(1)
    assert(r1.getAs[String]("feature") == "a" && r1.getAs[Long]("split_bin") == 2L)
    assert(r1.getAs[Double]("delta_left") == -5.0 && r1.getAs[Double]("delta_right") == 5.0)
    assert(r2.getAs[String]("feature") == "b" && r2.getAs[Long]("split_bin") == 1L)
    assert(r2.getAs[Double]("delta_left") == -2.0 && r2.getAs[Double]("delta_right") == 2.0)
    assert(r2.getAs[Double]("mse") == 0.0)
    assert(r1.getAs[Double]("mse") == 4.0) // residual ±2 everywhere after round 1
    val g7 = Models.gbStumps(df.repartition(7), "y", Seq("a", "b"),
      rounds = 2, shrinkage = 1.0).orderBy("round").collect()
    assert(g7.map(_.getAs[Double]("mse")).toSeq == got.map(_.getAs[Double]("mse")).toSeq)
  }

  test("svmHinge: separates a margin-split design; L2 shrinks slopes; invariant") {
    // +1 above the line x1 + x2 = 1 (with a clear margin), −1 below
    val data = for (i <- 0 until 12; j <- 0 until 12; s = (i + j) / 11.0 - 1.0
                    if math.abs(s) > 0.15)
      yield (i / 11.0, j / 11.0, s > 0)
    val df = data.toDF("x1", "x2", "lab").repartition(3)
    val fit = Models.svmHinge(df, "lab", Seq("x1", "x2"),
      iterations = 60, lr = 1.0, lambda = 0.001).head
    assert(fit.getAs[Long]("n") == data.length.toLong)
    assert(fit.getAs[Double]("accuracy") == 1.0,
      s"separable data must reach accuracy 1, got ${fit.getAs[Double]("accuracy")}")
    assert(fit.getAs[Double]("w1") > 0 && fit.getAs[Double]("w2") > 0)
    // heavier L2 pulls the slope norm down
    val heavy = Models.svmHinge(df, "lab", Seq("x1", "x2"),
      iterations = 60, lr = 1.0, lambda = 5.0).head
    def norm(r: org.apache.spark.sql.Row) =
      math.hypot(r.getAs[Double]("w1"), r.getAs[Double]("w2"))
    assert(norm(heavy) < norm(fit))
    // bit-identical across partitionings
    val fit7 = Models.svmHinge(df.repartition(7), "lab", Seq("x1", "x2"),
      iterations = 60, lr = 1.0, lambda = 0.001).head
    assert(fit7.getAs[Double]("w1") == fit.getAs[Double]("w1"))
    assert(fit7.getAs[Double]("hinge") == fit.getAs[Double]("hinge"))
  }

  test("aipwAte: de-biases the confounded design; single-arm strata drop; invariant") {
    // the ipwAte confounded design, with x doubling as the stratum
    val data = (0 until 200).map { i =>
      val x = (i % 2).toDouble
      val t = if (x == 1.0) i % 8 != 1 else i % 8 == 0
      val y = 1.0 + (if (t) 0.5 else 0.0) + 0.3 * x
      (t, y, x, x.toString)
    }
    val df = data.toDF("t", "y", "x", "g").repartition(3)
    val r = Models.aipwAte(df, "t", "y", Seq("g"), Seq("x"), iterations = 40).head
    assert(r.getAs[Long]("n_used") == 200L && r.getAs[Long]("n_dropped") == 0L)
    // with correct outcome models the estimator hits the truth dead-on
    assert(math.abs(r.getAs[Double]("ate") - 0.5) < 1e-3)
    // ψ is constant here (outcome models are exact): se 0, t undefined
    assert(r.getAs[Double]("se") == 0.0)
    assert(r.isNullAt(r.fieldIndex("t_stat")))
    val r7 = Models.aipwAte(data.toDF("t", "y", "x", "g").repartition(7),
      "t", "y", Seq("g"), Seq("x"), iterations = 40).head
    assert(r7.getAs[Double]("ate") == r.getAs[Double]("ate"))
    // a treated-only stratum has no outcome model: its rows drop
    val withSolo = data ++ Seq((true, 9.0, 2.0, "solo"))
    val rs = Models.aipwAte(withSolo.toDF("t", "y", "x", "g"),
      "t", "y", Seq("g"), Seq("x"), iterations = 10).head
    assert(rs.getAs[Long]("n_dropped") == 1L)
  }

  test("coxPh: hazard direction, flat likelihood under constant covariate, invariance") {
    // the x=1 group fails first (t 1..20), x=0 fails later (t 21..40):
    // higher hazard for x=1 => beta decisively positive
    val data = (1 to 40).map(i => (i.toLong, true, if (i <= 20) 1.0 else 0.0))
    val df = data.toDF("t", "ev", "x").repartition(3)
    val r = Models.coxPh(df, "t", "ev", "x", iterations = 8).head
    assert(r.getAs[Long]("n") == 40L && r.getAs[Long]("n_events") == 40L)
    assert(r.getAs[Double]("beta") > 0.5)
    // the groups separate almost perfectly, so the likelihood flattens at
    // large beta and SE inflates — direction, not magnitude, is the pin
    assert(r.getAs[Double]("z") > 0.0)
    assert(r.getAs[Double]("se") > 0.0)
    // the quantized Newton path replays bit-for-bit on another partitioning
    val r7 = Models.coxPh(data.toDF("t", "ev", "x").repartition(7),
      "t", "ev", "x", iterations = 8).head
    assert(r7.getAs[Double]("beta") == r.getAs[Double]("beta"))
    assert(r7.getAs[Double]("se") == r.getAs[Double]("se"))
    // constant covariate: the partial likelihood is flat, beta stays ~0
    val const = (1 to 30).map(i => (i.toLong, i % 3 != 0, 0.5)).toDF("t", "ev", "x")
    val rc = Models.coxPh(const, "t", "ev", "x", iterations = 5).head
    assert(math.abs(rc.getAs[Double]("beta")) < 1e-3)
  }

  test("naiveBayesClassify: hand-built bilingual model; OOV neutral; ties to smallest class") {
    val train = Seq(("en", "the cat"), ("en", "the dog"), ("fr", "le chat"), ("fr", "le chien"))
      .toDF("cls", "text")
    val docs = Seq(
      (1L, "the fish"),    // "the" is English evidence, "fish" OOV-neutral
      (2L, "le poisson"),  // "le" is French evidence
      (3L, "cat chat"),    // perfectly symmetric scores: tie -> "en"
      (4L, "chien chien"))
      .toDF("id", "text").repartition(3)
    val out = Models.naiveBayesClassify(docs, "id", "text", train, "cls")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((1L, "en"), (2L, "fr"), (3L, "en"), (4L, "fr")))
  }

  test("ipwAte: de-biases a confounded treatment effect; partition-invariant") {
    // x confounds: P(t|x=1)=0.75, P(t|x=0)=0.25; y = 1.0 + 0.5·t + 0.3·x
    // true ATE 0.5; the naive treated-minus-control mean is 0.65
    val data = (0 until 200).map { i =>
      val x = (i % 2).toDouble
      val t = if (x == 1.0) i % 8 != 1 else i % 8 == 0
      val y = 1.0 + (if (t) 0.5 else 0.0) + 0.3 * x
      (t, y, x)
    }
    val df = data.toDF("t", "y", "x").repartition(3)
    val r = Models.ipwAte(df, "t", "y", Seq("x"), iterations = 40, lr = 0.5).head
    assert(r.getAs[Long]("n") == 200L)
    assert(r.getAs[Long]("n_treated") == 100L)
    val treated = data.filter(_._1).map(_._2)
    val control = data.filterNot(_._1).map(_._2)
    val naive = treated.sum / treated.size - control.sum / control.size
    val hajek = r.getAs[Double]("ate_hajek")
    assert(math.abs(naive - 0.65) < 1e-9)
    assert(math.abs(hajek - 0.5) < math.abs(naive - 0.5),
      s"IPW must reduce confounding bias, got $hajek vs naive $naive")
    assert(math.abs(hajek - 0.5) < 0.1)
    // the quantized fit + sums replay identically on another partitioning
    val r7 = Models.ipwAte(data.toDF("t", "y", "x").repartition(7),
      "t", "y", Seq("x"), iterations = 40, lr = 0.5).head
    assert(r7.getAs[Double]("ate_hajek") == hajek)
    assert(r7.getAs[Double]("ate_ht") == r.getAs[Double]("ate_ht"))
  }

  test("logisticRegression: 2-feature fit uses only the informative axis") {
    // y depends on x1 only; x2 is symmetric noise orthogonal to the label
    val data = (1 to 80).map { i =>
      val x1 = if (i % 2 == 0) 1.0 else -1.0
      val x2 = if (i % 4 < 2) 1.0 else -1.0
      (x1, x2, x1 > 0)
    }
    val df = data.toDF("x1", "x2", "y")
    val r = Models.logisticRegression(df, "y", Seq("x1", "x2"), iterations = 8, lr = 0.5).head
    assert(r.getAs[Double]("w1") > math.abs(r.getAs[Double]("w2")) * 10)
    assert(r.getAs[Double]("accuracy") == 1.0)
  }

  test("olsDiagnostics: alternating residuals read DW~4, trending ~0, white ~2; BP flags planted heteroskedasticity") {
    // y = x1 + alternating +/-1 residual: e_t - e_{t-1} = +/-2 -> DW -> 4
    val alt = (0 until 40).map(i =>
      (i.toLong, i.toDouble / 10, (i % 4).toDouble / 10,
        i.toDouble / 10 + (if (i % 2 == 0) 1.0 else -1.0)))
      .toDF("t", "x1", "x2", "y").repartition(3)
    val a = Models.olsDiagnostics(alt, Seq("t"), "y", Seq("x1", "x2")).head
    assert(a.getAs[Double]("dw") > 3.5, s"dw=${a.getAs[Double]("dw")}")
    assert(a.getAs[Double]("rho1") < -0.75)
    // slow sign-coherent residual (sinusoid-ish drift): DW << 2
    val trend = (0 until 40).map(i =>
      (i.toLong, i.toDouble / 10, (i % 4).toDouble / 10,
        i.toDouble / 10 + math.sin(i / 8.0)))
      .toDF("t", "x1", "x2", "y")
    val tr = Models.olsDiagnostics(trend, Seq("t"), "y", Seq("x1", "x2")).head
    assert(tr.getAs[Double]("dw") < 1.0, s"dw=${tr.getAs[Double]("dw")}")
    // variance growing with x1: BP fires (p tiny); hash-noise does not
    val het = (0 until 60).map { i =>
      val noise = (((i * 2654435761L) % 1000) / 1000.0 - 0.5) // deterministic
      (i.toLong, i.toDouble / 10, (i % 4).toDouble / 10,
        i.toDouble / 10 + noise * i)
    }.toDF("t", "x1", "x2", "y")
    val h = Models.olsDiagnostics(het, Seq("t"), "y", Seq("x1", "x2")).head
    assert(h.getAs[Double]("bp_p") < 0.05, s"bp_p=${h.getAs[Double]("bp_p")}")
    val g7 = Models.olsDiagnostics(alt.repartition(7), Seq("t"), "y", Seq("x1", "x2")).head
    assert(g7.getAs[Double]("dw") == a.getAs[Double]("dw"))
  }

  test("propensityMatch: nearest control within caliper; ties to smaller id; drops unmatched") {
    // id, treated, score, y
    val rows = Seq(
      (1L, true, 0.50, 10.0),  // nearest control is c=12 at .51 (gap .01)
      (2L, true, 0.80, 20.0),  // no control within caliper .02 -> dropped
      (3L, true, 0.30, 30.0),  // equidistant .29/.31 -> smaller cid 13
      (11L, false, 0.48, 2.0),
      (12L, false, 0.51, 4.0),
      (13L, false, 0.29, 3.0),
      (14L, false, 0.31, 5.0),
      (15L, false, 0.29, 99.0)) // duplicate score: id 13 < 15 carries the y
      .toDF("id", "tr", "score", "y").repartition(3)
    val got = Models.propensityMatch(rows, "id", "tr", "score", "y", caliper = 0.02)
      .orderBy("treated_id").collect()
    assert(got.length == 2)
    assert(got(0).getAs[Long]("treated_id") == 1L &&
      got(0).getAs[Long]("control_id") == 12L &&
      got(0).getAs[Double]("score_gap") == 0.01 &&
      got(0).getAs[Double]("y_control") == 4.0)
    assert(got(1).getAs[Long]("treated_id") == 3L &&
      got(1).getAs[Long]("control_id") == 13L &&
      got(1).getAs[Double]("y_control") == 3.0)
    // matched-pair ATT: ((10-4) + (30-3)) / 2 = 16.5
    val att = got.map(r => r.getAs[Double]("y_treated") - r.getAs[Double]("y_control"))
      .sum / got.length
    assert(att == 16.5)
    val g7 = Models.propensityMatch(rows.repartition(7), "id", "tr", "score", "y", 0.02)
      .orderBy("treated_id").collect().map(_.getAs[Long]("control_id")).toSeq
    assert(g7 == Seq(12L, 13L))
  }

  test("alsRank2: reconstructs a planted rank-1 matrix; rmse falls with sweeps; invariant") {
    // r_ui = a_u * b_i exactly (rank 1 < 2): ALS must drive RMSE near 0
    val as = Map(1L -> 1.0, 2L -> 2.0, 3L -> 0.5, 4L -> 1.5)
    val bs = Map("x" -> 2.0, "y" -> 1.0, "z" -> 3.0)
    val rows = for (u <- as.keys.toSeq; i <- bs.keys.toSeq)
      yield (u, i, as(u) * bs(i))
    val df = rows.toDF("u", "i", "r").repartition(3)
    val out = Models.alsRank2(df, "u", "i", "r", sweeps = 6, lambda = 0.01)
    val rmse = out.head.getAs[Double]("rmse")
    assert(rmse < 0.05, s"rmse=$rmse")
    // predictions recover the planted products
    val items = out.filter(col("entity") === "item").collect()
      .map(r => r.getString(1) -> (r.getDouble(2), r.getDouble(3))).toMap
    val users = out.filter(col("entity") === "user").collect()
      .map(r => r.getString(1) -> (r.getDouble(2), r.getDouble(3))).toMap
    val predXy = users("2")._1 * items("z")._1 + users("2")._2 * items("z")._2
    assert(math.abs(predXy - 6.0) < 0.2, s"pred(2,z)=$predXy")
    // a planted RANK-2 matrix needs both factors and still fits
    val rows2 = for (u <- as.keys.toSeq; i <- bs.keys.toSeq)
      yield (u, i, as(u) * bs(i) + (u % 3).toDouble * "xyz".indexOf(i))
    val r2 = Models.alsRank2(rows2.toDF("u", "i", "r"), "u", "i", "r",
      sweeps = 8, lambda = 0.01).head.getAs[Double]("rmse")
    assert(r2 < 0.1, s"rank-2 rmse=$r2")
    // partition invariance: the quantized trajectory is bit-identical
    val g7 = Models.alsRank2(df.repartition(7), "u", "i", "r", sweeps = 6, lambda = 0.01)
    assert(g7.head.getAs[Double]("rmse") == rmse)
    assert(g7.filter(col("entity") === "item").collect()
      .map(r => (r.getString(1), r.getDouble(2), r.getDouble(3))).sortBy(_._1).toSeq ==
      items.toSeq.sortBy(_._1).map { case (k, (f1, f2)) => (k, f1, f2) })
  }

  test("upliftDeciles: perfect targeting front-loads qini; random score reads ~0; invariant") {
    // 40 units, 2 buckets. High-score half: treated convert (uplift 1),
    // control never. Low-score half: nobody converts.
    // bucket 1: n_t=n_c=10, conv_t=10, conv_c=0 -> uplift 1, qini 10
    // bucket 2: conv 0 -> uplift 0, cumulative qini stays 10
    val rows = (0 until 40).map { i =>
      val hi = i < 20
      val tr = i % 2 == 0
      (i.toLong, tr, hi && tr, if (hi) 100.0 else 1.0)
    }
    val df = rows.toDF("id", "tr", "y", "score").repartition(3)
    val got = Models.upliftDeciles(df, "tr", "y", "score", Seq("id"), buckets = 2)
      .orderBy("bucket").collect()
    assert(got.length == 2)
    assert(got(0).getAs[Long]("n_t") == 10L && got(0).getAs[Long]("n_c") == 10L)
    assert(got(0).getAs[Double]("uplift") == 1.0 && got(0).getAs[Double]("qini") == 10.0)
    assert(got(1).getAs[Double]("uplift") == 0.0 && got(1).getAs[Double]("qini") == 10.0)
    // anti-targeting (score inverted) pushes the lift to the LAST bucket
    val inv = Models.upliftDeciles(df.withColumn("score", -col("score")),
      "tr", "y", "score", Seq("id"), buckets = 2).orderBy("bucket").collect()
    assert(inv(0).getAs[Double]("uplift") == 0.0)
    assert(inv(1).getAs[Double]("qini") == 10.0)
    val g7 = Models.upliftDeciles(df.repartition(7), "tr", "y", "score", Seq("id"), buckets = 2)
      .orderBy("bucket").collect()
    assert(g7.map(_.getAs[Double]("qini")).toSeq == got.map(_.getAs[Double]("qini")).toSeq)
  }

  test("knnClassify: cluster vote, deterministic tie-break, partition invariance") {
    val train = Seq(
      (10L, Array(1.0f, 0.0f), 1), (11L, Array(0.9f, 0.1f), 1), (12L, Array(0.95f, 0.05f), 1),
      (13L, Array(0.0f, 1.0f), 2), (14L, Array(0.1f, 0.9f), 2), (15L, Array(0.05f, 0.95f), 2))
      .toDF("vec_id", "embedding", "label")
    val q = Seq((1L, Array(0.8f, 0.2f), 0)).toDF("vec_id", "embedding", "label")
    val r = Models.knnClassify(train.repartition(3), q, "vec_id", "embedding", "label", k = 3)
      .head
    assert(r.getAs[Long]("pred_label") == 1L && r.getAs[Long]("n_votes") == 3L)
    // k = 6 splits the vote 3-3: the smaller label wins deterministically
    val t = Models.knnClassify(train, q, "vec_id", "embedding", "label", k = 6).head
    assert(t.getAs[Long]("pred_label") == 1L && t.getAs[Long]("n_votes") == 3L)
    val p = Models.knnClassify(train.repartition(5), q, "vec_id", "embedding", "label", 3).head
    assert(p.getAs[Long]("pred_label") == 1L)
    intercept[IllegalArgumentException] {
      Models.knnClassify(train, q, "vec_id", "embedding", "label", k = 0)
    }
  }

  test("scaleColumn: hand z/minmax/robust on 1..5, degenerate NULLs, bad method") {
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val df = Seq(1.0, 2.0, 3.0, 4.0, 5.0).map(Tuple1(_)).toDF("v").repartition(3)
    val z = Models.scaleColumn(df, "v", "zscore").orderBy("v").collect()
    assert(z.last.getAs[Double]("v_scaled") == r6(2e6 / math.sqrt(2.5e12)))
    assert(z(2).getAs[Double]("v_scaled") == 0.0)
    val m = Models.scaleColumn(df, "v", "minmax").orderBy("v").collect()
    assert(m.map(_.getAs[Double]("v_scaled")).toSeq == Seq(0.0, 0.25, 0.5, 0.75, 1.0))
    // lower order statistics on n=5: q1 = 2, med = 3, q3 = 4 -> IQR 2
    val r = Models.scaleColumn(df, "v", "robust").orderBy("v").collect()
    assert(r.map(_.getAs[Double]("v_scaled")).toSeq == Seq(-1.0, -0.5, 0.0, 0.5, 1.0))
    // a constant column has no spread under any method
    val const = Seq(7.0, 7.0, 7.0).map(Tuple1(_)).toDF("v")
    for (meth <- Seq("zscore", "minmax", "robust")) {
      val c = Models.scaleColumn(const, "v", meth).collect()
      assert(c.forall(_.isNullAt(c.head.fieldIndex("v_scaled"))), meth)
    }
    intercept[IllegalArgumentException] { Models.scaleColumn(df, "v", "mad") }
  }

  test("nbFitMoments: hand overdispersed fit, Poisson-regime NULL, NB2 identity") {
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // counts 1,2,3,10: m=4, v=(4*114-256)/12 = 16.6667, over = 12.6667
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 10L)).toDF("k", "c")
    val r = Models.nbFitMoments(df.repartition(3), Seq("k"), "c").head
    val m = 4.0; val v = (4.0 * 114 - 256) / 12.0
    assert(r.getAs[Long]("n") == 4L && r.getAs[Double]("mean") == 4.0)
    assert(r.getAs[Double]("variance") == r6(v))
    assert(r.getAs[Double]("r_hat") == r6(m * m / (v - m)))
    assert(r.getAs[Double]("p_hat") == r6(m / v))
    // NB2 identity: Var = mu + mu^2/r reproduces the observed variance
    val rh = m * m / (v - m)
    assert(math.abs((m + m * m / rh) - v) < 1e-9)
    // underdispersed (constant counts): no finite NB
    val flat = Models.nbFitMoments(
      Seq(("a", 5L), ("a", 5L), ("a", 5L)).toDF("k", "c"), Seq("k"), "c").head
    assert(flat.isNullAt(flat.fieldIndex("r_hat")))
    assert(flat.getAs[Double]("variance") == 0.0)
    // single observation: not even a variance
    val solo = Models.nbFitMoments(Seq(("a", 7L)).toDF("k", "c"), Seq("k"), "c").head
    assert(solo.isNullAt(solo.fieldIndex("variance")))
  }

  test("olsInfluence: outlier dominates Cook's D, scala chain replay, degenerate guards") {
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pts = Seq((1L, 1L, 1L), (2L, 2L, 2L), (3L, 3L, 3L), (4L, 4L, 4L), (5L, 10L, 30L))
    val out = Models.olsInfluence(pts.toDF("id", "x", "y").repartition(3),
      "id", "x", "y", topK = 5).collect()
    // scala replay of the identical moment->chain arithmetic
    val n = pts.length.toDouble
    def s(f: ((Long, Long, Long)) => Long) = pts.map(f).sum.toDouble
    val (sx, sy) = (s(_._2), s(_._3))
    val (sxx, syy, sxy) = (s(t => t._2 * t._2), s(t => t._3 * t._3), s(t => t._2 * t._3))
    val cnum = n * sxy - sx * sy; val dxx = n * sxx - sx * sx; val dyy = n * syy - sy * sy
    val b1 = cnum / dxx; val xbar = sx / n; val b0 = sy / n - b1 * xbar
    val s2 = (dyy / n - b1 * (cnum / n)) / (n - 2.0)
    def diag(x: Long, y: Long) = {
      val e = y.toDouble - (b0 + b1 * x.toDouble)
      val h = 1.0 / n + (x.toDouble - xbar) * (x.toDouble - xbar) / (dxx / n)
      val r = e / math.sqrt(s2 * (1.0 - h))
      (e, h, r, r * r * h / (2.0 * (1.0 - h)))
    }
    val expect = pts.map { case (id, x, y) => id -> diag(x, y) }.toMap
    // the planted outlier leads the ranking
    assert(out(0).getAs[Long]("id") == 5L, out.mkString(","))
    val top = expect(5L)
    assert(out(0).getAs[Double]("cooks_d") == r6(top._4))
    assert(out(0).getAs[Double]("leverage") == r6(top._2))
    assert(out(0).getAs[Double]("std_resid") == r6(top._3))
    // ranking matches the replayed Cook's D order
    val gotOrder = out.map(_.getAs[Long]("id")).toSeq
    val expOrder = expect.toSeq.sortBy { case (id, d) => (-d._4, id) }.map(_._1)
    assert(gotOrder == expOrder)
    // constant x: no fit at all
    val flat = Models.olsInfluence(
      Seq((1L, 5L, 1L), (2L, 5L, 2L), (3L, 5L, 3L)).toDF("id", "x", "y"),
      "id", "x", "y").collect()
    assert(flat.forall(_.isNullAt(flat.head.fieldIndex("cooks_d"))))
    // perfect fit: residual/leverage report, studentized/Cook's NULL (s2=0)
    val perfect = Models.olsInfluence(
      Seq((1L, 1L, 2L), (2L, 2L, 4L), (3L, 3L, 6L)).toDF("id", "x", "y"),
      "id", "x", "y").collect()
    assert(perfect.forall(r => r.getAs[Double]("residual") == 0.0))
    assert(perfect.forall(_.isNullAt(perfect.head.fieldIndex("cooks_d"))))
    assert(perfect.forall(!_.isNullAt(perfect.head.fieldIndex("leverage"))))
  }

  test("ebRateShrinkage: hand beta-prior fit, shrinkage direction, degenerate NULL") {
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // rates 0.9 / 0.1 / 0.5 over n=10 each: m=0.5, v=0.16, nu=0.5625,
    // alpha = beta = 0.28125
    val rows =
      Seq.fill(9)(("a", true)) ++ Seq.fill(1)(("a", false)) ++
        Seq.fill(1)(("b", true)) ++ Seq.fill(9)(("b", false)) ++
        Seq.fill(5)(("c", true)) ++ Seq.fill(5)(("c", false))
    val out = Models.ebRateShrinkage(
      rows.toDF("k", "s").repartition(4), Seq("k"), "s")
      .orderBy("k").collect()
    val alpha = 0.28125
    assert(out(0).getAs[Double]("rate_raw") == 0.9)
    assert(out(0).getAs[Double]("rate_eb") == r6((alpha + 9.0) / (2 * alpha + 10.0)))
    assert(out(1).getAs[Double]("rate_eb") == r6((alpha + 1.0) / (2 * alpha + 10.0)))
    assert(out(2).getAs[Double]("rate_eb") == 0.5)
    // shrinkage moves both extremes toward the corpus mean
    assert(out(0).getAs[Double]("rate_eb") < 0.9)
    assert(out(1).getAs[Double]("rate_eb") > 0.1)
    // a lone key has no prior to fit
    val solo = Models.ebRateShrinkage(
      Seq(("a", true), ("a", false)).toDF("k", "s"), Seq("k"), "s").head
    assert(solo.isNullAt(solo.fieldIndex("rate_eb")))
    assert(solo.getAs[Double]("rate_raw") == 0.5)
    // zero variance across keys: nu unbounded, no finite prior
    val flat = Models.ebRateShrinkage(
      Seq(("a", true), ("a", false), ("b", true), ("b", false))
        .toDF("k", "s"), Seq("k"), "s").orderBy("k").collect()
    assert(flat.forall(_.isNullAt(flat.head.fieldIndex("rate_eb"))))
  }

  test("ebRateShrinkageFromCounts: n=0 key yields NULL rates and drops from the prior") {
    // pre-aggregated input may legally carry zero-trial keys; they must not
    // throw under ANSI (x/n) and must not pollute the prior moments
    val perKey = Seq(("a", 10L, 9L), ("b", 10L, 1L), ("c", 10L, 5L), ("z", 0L, 0L))
      .toDF("k", "n", "x")
    val out = Models.ebRateShrinkageFromCounts(perKey.repartition(3), Seq("k"))
      .orderBy("k").collect()
    val z = out(3)
    assert(z.isNullAt(z.fieldIndex("rate_raw")))
    assert(z.isNullAt(z.fieldIndex("rate_eb")))
    // prior fit over a/b/c only: identical to the 3-key hand case above
    val alpha = 0.28125
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(0).getAs[Double]("rate_eb") == r6((alpha + 9.0) / (2 * alpha + 10.0)))
  }

  test("ivWald: hand Wald ratio, degenerate instrument guards, null drop") {
    // n=4, Σz=2, Σx=10, Σy=26, Σz²=2, Σzx=7, Σzy=20:
    // var(z)=4, cov(z,x)=8, cov(z,y)=28 → first stage 2, reduced form 7,
    // β_IV = 28/8 = 3.5
    val df = Seq((0L, 1L, 2L), (0L, 2L, 4L), (1L, 3L, 9L), (1L, 4L, 11L))
      .toDF("z", "x", "y")
    val r = Models.ivWald(df.repartition(3), "z", "x", "y").head
    assert(r.getAs[Long]("n") == 4L)
    assert(r.getAs[Double]("first_stage") == 2.0)
    assert(r.getAs[Double]("reduced_form") == 7.0)
    assert(r.getAs[Double]("beta_iv") == 3.5)
    // constant instrument: var(z)=0 → everything NULL (nothing identified)
    val const = Models.ivWald(
      Seq((5L, 1L, 2L), (5L, 2L, 3L)).toDF("z", "x", "y"), "z", "x", "y").head
    assert(const.isNullAt(const.fieldIndex("first_stage")))
    assert(const.isNullAt(const.fieldIndex("reduced_form")))
    assert(const.isNullAt(const.fieldIndex("beta_iv")))
    // zero first stage with a non-degenerate instrument: β undefined but
    // the reduced form still reports
    val weak = Models.ivWald(
      Seq((0L, 5L, 1L), (1L, 5L, 2L), (0L, 5L, 3L), (1L, 5L, 4L))
        .toDF("z", "x", "y"), "z", "x", "y").head
    assert(weak.getAs[Double]("first_stage") == 0.0)
    assert(weak.getAs[Double]("reduced_form") == 1.0)
    assert(weak.isNullAt(weak.fieldIndex("beta_iv")))
    // null rows drop before the moment pass
    val withNull = Seq(
      (Some(0L), Some(1L), Some(2L)), (Some(0L), Some(2L), Some(4L)),
      (Some(1L), Some(3L), Some(9L)), (Some(1L), Some(4L), Some(11L)),
      (None, Some(9L), Some(9L)), (Some(1L), None, Some(9L)))
      .toDF("z", "x", "y")
    val rn = Models.ivWald(withNull, "z", "x", "y").head
    assert(rn.getAs[Long]("n") == 4L && rn.getAs[Double]("beta_iv") == 3.5)
  }

  test("boxCoxFit: replayed profile-LL grid, best flag, non-positive drop") {
    import spark.implicits._
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ys = Seq(0.5, 1.0, 2.0, 4.0, 8.0, 16.0, 3.0, 7.0)
    val df = (ys :+ -1.0 :+ 0.0).toDF("v")
    val out = Models.boxCoxFit(df.repartition(3), "v").orderBy("lambda").collect()
    assert(out.length == 9)
    assert(out.forall(_.getAs[Long]("n_dropped") == 2L))
    assert(out.count(_.getAs[Boolean]("is_best")) == 1)
    // independent replay of the quantized profile LL per lambda
    def ll(lam: Double): Double = {
      val zq = ys.map { y =>
        val z = if (lam == 0.0) math.log(y) else (math.pow(y, lam) - 1.0) / lam
        math.floor(z * 1e6 + 0.5)
      }
      val lq = ys.map(y => math.floor(math.log(y) * 1e6 + 0.5))
      val n = ys.size.toDouble
      val varz = zq.map(q => q * q).sum / n / 1e12 -
        (zq.sum / n / 1e6) * (zq.sum / n / 1e6)
      -0.5 * n * math.log(varz) + (lam - 1.0) * (lq.sum / 1e6)
    }
    val lams = Seq(-2.0, -1.5, -1.0, -0.5, 0.0, 0.5, 1.0, 1.5, 2.0)
    lams.zip(out).foreach { case (lam, row) =>
      assert(row.getAs[Double]("lambda") == lam)
      assert(row.getAs[Double]("loglik") == r6(ll(lam)), s"lambda=$lam")
    }
    val best = out.filter(_.getAs[Boolean]("is_best")).head.getAs[Double]("lambda")
    assert(best == lams.maxBy(ll), s"best=$best")
    // quantized exact moments make the grid partitioning-invariant
    val out7 = Models.boxCoxFit((ys :+ -1.0 :+ 0.0).toDF("v").repartition(7), "v")
      .orderBy("lambda").collect()
    assert(out7.map(_.getAs[Double]("loglik")).toSeq ==
      out.map(_.getAs[Double]("loglik")).toSeq)
  }

  test("boxCoxFit: all-non-positive input still emits the full grid, nothing crowned best") {
    import spark.implicits._
    val out = Models.boxCoxFit(Seq(-1.0, 0.0, -3.5).toDF("v"), "v")
      .orderBy("lambda").collect()
    assert(out.length == 9, "the lambda grid is a spine, not a grouped result")
    assert(out.forall(_.getAs[Long]("n") == 0L))
    assert(out.forall(_.getAs[Long]("n_dropped") == 3L))
    assert(out.forall(r => r.isNullAt(r.fieldIndex("loglik"))))
    assert(out.forall(!_.getAs[Boolean]("is_best")),
      "a NULL-loglik row must never be crowned best")
  }

  test("ransacLine: all-equal x makes every trial degenerate — zero rows, no crash") {
    import spark.implicits._
    val df = (0 until 30).map(i => (i.toLong, 5.0, i.toDouble)).toDF("id", "x", "y")
    assert(Models.ransacLine(df, "id", "x", "y", trials = 8, eps = 0.5).count() == 0L)
  }

  test("ransacLine: recovers the planted line through 23% wild outliers exactly") {
    import spark.implicits._
    // y = 2x + 1 on 100 clean points; 30 outliers pinned at y = 50
    val clean = (0 until 100).map(i => (i.toLong, i / 10.0, 2.0 * (i / 10.0) + 1.0))
    val wild = (100 until 130).map(i => (i.toLong, (i - 100) / 3.0, 50.0))
    val df = (clean ++ wild).toDF("id", "x", "y")
    val r = Models.ransacLine(df.repartition(4), "id", "x", "y",
      trials = 32, eps = 0.3).head
    assert(r.getAs[Long]("n") == 130L)
    // the consensus set is exactly the clean points, and the exact refit
    // on points that sit ON the line returns it bit-for-bit
    assert(r.getAs[Long]("n_inliers") == 100L)
    assert(r.getAs[Double]("slope") == 2.0)
    assert(r.getAs[Double]("intercept") == 1.0)
    // OLS on the same data is dragged far off by the outlier block
    val ols = Models.linearRegression(
      df.withColumn("x2", org.apache.spark.sql.functions.lit(0.0)), "y", Seq("x", "x2")).head
    assert(math.abs(ols.getAs[Double]("beta1") - 2.0) > 0.5)
    // partition invariance: the md5-positioned trials see the same rows
    val r7 = Models.ransacLine(df.repartition(7), "id", "x", "y",
      trials = 32, eps = 0.3).head
    assert(r7.getAs[Double]("slope") == 2.0 &&
      r7.getAs[Long]("n_inliers") == 100L)
  }
}