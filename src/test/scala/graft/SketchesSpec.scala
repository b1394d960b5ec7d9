package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{abs, col, conv, count, floor, lit, md5, substring, sum}

import graft.operators.Sketches
import graft.sources.Tables

class SketchesSpec extends SparkSpec {
  import spark.implicits._

  test("approxDistinct is within the configured error of the exact count") {
    val ev = Tables.events(spark, sf)
    val joined = Sketches.approxDistinct(ev, Seq("event_type"), "user_id", rsd = 0.05)
      .join(Sketches.exactDistinct(ev, Seq("event_type"), "user_id"), "event_type")
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val approx = r.getAs[Long]("approx_distinct").toDouble
      val exact = r.getAs[Long]("exact_distinct").toDouble
      assert(math.abs(approx - exact) / exact < 0.15,
        s"${r.getString(0)}: approx $approx vs exact $exact")
    }
  }

  test("approxQuantiles brackets the exact percentile") {
    val df = Seq.tabulate(1000)(i => ("g", i.toDouble)).toDF("g", "v")
    val qs = Sketches.approxQuantiles(df, Seq("g"), "v", Seq(0.5), relativeError = 0.01)
      .head.getSeq[Double](1)
    assert(math.abs(qs.head - 499.5) <= 20.0)
  }

  test("exactPercentiles interpolates like the SQL standard") {
    val df = Seq.tabulate(5)(i => ("g", i.toDouble)).toDF("g", "v") // 0..4
    val p = df.groupBy($"g")
      .agg(Sketches.exactPercentiles("v", Seq(0.25, 0.5)).as("p"))
      .head.getSeq[Double](1)
    assert(p == Seq(1.0, 2.0))
  }

  test("filterByQuantileBand keeps exactly the in-band rows") {
    // values 1..100: P10 = 10.9, P90 = 90.1 -> keep 11..90 (80 rows)
    val df = Seq.tabulate(100)(i => (i.toLong, (i + 1).toLong)).toDF("id", "v")
    val kept = Sketches.filterByQuantileBand(df, "v", 0.1, 0.9)
      .select("v").as[Long].collect().sorted
    assert(kept.head == 11L && kept.last == 90L && kept.length == 80)
  }

  test("heavyHitters exact regime (k >= distinct) equals groupBy counts across partitions") {
    val words = (1 to 400).map(i => s"w${i % 13}")
    val df = words.toDF("w").repartition(8)
    val hh = Sketches.heavyHitters(df, "w", k = 64)
      .selectExpr("explode(heavy_hitters) AS e")
      .selectExpr("e.item AS item", "e.count_lo AS c")
      .orderBy("item").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val exact = df.groupBy("w").count()
      .orderBy("w").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(hh == exact)
  }

  test("sketch cube: rolled-up sketch merges equal direct sketching, within HLL error of exact") {
    import graft.operators.Sketches
    import org.apache.spark.sql.functions.{col, expr}
    val df = (1 to 5000)
      .map(i => (s"t${i % 3}", i % 7, (i * 31) % 900))
      .toDF("typ", "day", "uid")
      .repartition(8)
    val cube = Sketches.sketchCube(df, Seq("typ", "day"), "uid")
    val rolled = Sketches.rollupSketchCube(cube, Seq("typ"))
      .orderBy("typ")
      .select("typ", "approx_distinct")
      .as[(String, Long)].collect()
    // merging the daily sketches must equal sketching the coarse grain directly
    val direct = Sketches.sketchCube(df, Seq("typ"), "uid")
      .select(col("typ"), expr("hll_sketch_estimate(hll)").as("e"))
      .orderBy("typ")
      .as[(String, Long)].collect()
    assert(rolled === direct)
    // and land within HLL error (lgK=12 -> ~1.6% rse; allow 5%) of exact
    val exact = df.select("typ", "uid").distinct()
      .groupBy("typ").count().orderBy("typ")
      .as[(String, Long)].collect().toMap
    rolled.foreach { case (t, est) =>
      val ex = exact(t).toDouble
      assert(math.abs(est - ex) / ex < 0.05, s"$t: est $est vs exact $ex")
    }
  }

  test("winsorize clamps exactly to the rounded band edges, row count unchanged") {
    val df = Seq.tabulate(100)(i => (i.toLong, (i + 1).toDouble)).toDF("id", "v") // 1..100
    val out = Sketches.winsorize(df, "v", lo = 0.10, hi = 0.90, clampedCol = "w")
      .orderBy("id").collect().map(r => (r.getDouble(1), r.getDouble(2)))
    assert(out.length == 100, "winsorize must never drop rows")
    // p10 of 1..100 (interpolated) = 10.9, p90 = 90.1
    assert(out.forall { case (_, w) => w >= 10.9 && w <= 90.1 })
    assert(out.count { case (v, w) => v != w } == 20) // 10 clamped each tail
    assert(out.forall { case (v, w) => v < 10.9 || v > 90.1 || v == w })
  }

  test("winsorizeGrouped clamps each group to its OWN band") {
    // group a: 1..100; group b: 1001..1100 — global bounds would mangle both
    val df = (Seq.tabulate(100)(i => ("a", i.toLong, (i + 1).toDouble)) ++
      Seq.tabulate(100)(i => ("b", 100L + i, (i + 1001).toDouble))).toDF("g", "id", "v")
    val out = Sketches.winsorizeGrouped(df, "v", Seq("g"), pLo = 0.10, pHi = 0.90)
      .orderBy("id").collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Double]("v"), r.getAs[Double]("v_w")))
    assert(out.length == 200, "winsorizeGrouped must never drop rows")
    val (as, bs) = (out.filter(_._1 == "a"), out.filter(_._1 == "b"))
    assert(as.forall { case (_, _, w) => w >= 10.9 && w <= 90.1 })
    assert(bs.forall { case (_, _, w) => w >= 1010.9 && w <= 1090.1 })
    assert(as.count { case (_, v, w) => v != w } == 20)
    assert(bs.count { case (_, v, w) => v != w } == 20)
  }

  test("top_rows: exact top-k under any partitioning, ties break by id asc") {
    import graft.functions.top_rows
    // 1000 rows, scores with deliberate ties (value = i % 50)
    val rows = Seq.tabulate(1000)(i => ("g" + (i % 3), (i % 50).toDouble, i.toLong))
    val expected = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(t => (t._2, t._3)).sortBy { case (s, id) => (-s, id) }.take(5)
    }
    for (parts <- Seq(1, 7)) {
      val df = rows.toDF("g", "v", "id").repartition(parts)
      val got = df.groupBy($"g").agg(top_rows($"v", $"id", 5).as("t"))
        .selectExpr("g", "explode(t) AS e").select($"g", $"e.score", $"e.id")
        .collect().groupBy(_.getString(0))
        .map { case (g, rs) => g -> rs.map(r => (r.getDouble(1), r.getLong(2))).toSeq }
      assert(got == expected, s"parts=$parts")
    }
  }

  test("ksTest: hand-computed D, identity gives zero, disjoint gives one") {
    val a = Seq(1.0, 2.0, 3.0).toDF("v")
    val b = Seq(2.0, 3.0, 4.0).toDF("v")
    val r = Sketches.ksTest(a, b, "v").head
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 3L)
    assert(r.getAs[Double]("ks_d") == 0.333333, r.toString) // max gap 1/3
    val same = Sketches.ksTest(a, a, "v").head
    assert(same.getAs[Double]("ks_d") == 0.0 && !same.getAs[Boolean]("reject_95"))
    val far = Sketches.ksTest(
      Seq.tabulate(50)(i => i.toDouble).toDF("v"),
      Seq.tabulate(50)(i => 1000.0 + i).toDF("v"), "v").head
    assert(far.getAs[Double]("ks_d") == 1.0 && far.getAs[Boolean]("reject_99"))
  }

  test("quantileNormalize: equal-size groups land on the identical marginal") {
    // two groups, same shape but shifted by 1000 — after rank-matching onto
    // the pooled distribution both must have the SAME sorted value multiset
    val df = (Seq.tabulate(100)(i => ("a", i.toLong, (i + 1).toDouble)) ++
      Seq.tabulate(100)(i => ("b", 100L + i, (i + 1001).toDouble))).toDF("g", "id", "v")
    val out = Sketches.quantileNormalize(df, "v", Seq("g"))
      .collect().map(r => (r.getString(0), r.getDouble(2), r.getDouble(3)))
    val byG = out.groupBy(_._1).view.mapValues(_.map(_._3).sorted.toSeq).toMap
    assert(byG("a") == byG("b"), "groups must share one marginal after normalization")
    // monotone within group: larger raw value -> larger-or-equal normalized
    for (g <- Seq("a", "b")) {
      val sorted = out.filter(_._1 == g).sortBy(_._2).map(_._3)
      assert(sorted.zip(sorted.tail).forall { case (x, y) => x <= y })
    }
    // rank matching: group a's smallest raw value maps to the pooled 1st
    // percentile region (1.0 or 2.0), its largest to at most the pooled max
    assert(out.filter(t => t._1 == "a" && t._2 == 1.0).head._3 <= 2.0)
    assert(out.map(_._3).max <= 1100.0)
  }

  test("mannWhitneyU: hand-computed U with and without ties, z borderline case") {
    val a = Seq(1.0, 2.0, 3.0).toDF("v")
    val b = Seq(4.0, 5.0, 6.0).toDF("v")
    val r = Sketches.mannWhitneyU(a, b, "v").head
    // complete separation: U_a = 0; z = -9 / (2·sqrt(5.25)) = -1.963961
    assert(r.getAs[Double]("u_a") == 0.0)
    assert(r.getAs[Double]("z") == -1.963961, r.toString)
    assert(r.getAs[Boolean]("reject_95") && !r.getAs[Boolean]("reject_99"))
    // ties: a={1,1}, b={1,2} -> midranks 2,2,2 then 4; R_a=4, U_a=1
    val t = Sketches.mannWhitneyU(
      Seq(1.0, 1.0).toDF("v"), Seq(1.0, 2.0).toDF("v"), "v").head
    assert(t.getAs[Double]("u_a") == 1.0, t.toString)
  }

  test("quantileCube: estimates obey the KLL rank-error bound vs exact ranks") {
    // 20k rows over 4 groups with a skewed (squared-uniform) distribution
    val df = Seq.tabulate(20000) { i =>
      val g = s"g${i % 4}"
      val u = ((i * 2654435761L) % 100000).toDouble / 100000.0
      (g, u * u * 1000.0)
    }.toDF("k", "v").repartition(16)
    val cube = Sketches.quantileCube(df, Seq("k"), "v")
    val probs = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
    val est = Sketches.rollupQuantileCube(cube, Seq("k"), probs)
      .select(col("k"), col("n_rows"), col("quantiles")).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getSeq[Double](2)))).toMap
    val byKey = df.collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sorted }
    assert(est.size == 4)
    est.foreach { case (k, (n, qs)) =>
      val sorted = byKey(k)
      assert(n == sorted.length, "kll n must be exact")
      probs.zip(qs).foreach { case (p, q) =>
        // true normalized rank of the estimate must be within 3% of p
        // (published bound ~1.65% at k=200, 99% confidence)
        val rank = sorted.count(_ <= q).toDouble / sorted.length
        assert(math.abs(rank - p) <= 0.03, s"$k p=$p est=$q rank=$rank")
      }
    }
  }

  test("quantileCube: rollup-by-merge agrees with direct coarse sketching within bound") {
    val df = Seq.tabulate(12000) { i =>
      (s"k${i % 3}", s"d${i % 10}", (i % 997).toDouble)
    }.toDF("k", "day", "v").repartition(8)
    val fine = Sketches.quantileCube(df, Seq("k", "day"), "v")
    val probs = Seq(0.25, 0.5, 0.75)
    val merged = Sketches.rollupQuantileCube(fine, Seq("k"), probs)
      .select(col("k"), col("n_rows"), col("quantiles")).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getSeq[Double](2)))).toMap
    val direct = Sketches.rollupQuantileCube(
      Sketches.quantileCube(df, Seq("k"), "v"), Seq("k"), probs)
      .select(col("k"), col("n_rows"), col("quantiles")).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getSeq[Double](2)))).toMap
    val exact = df.collect().map(r => (r.getString(0), r.getDouble(2)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sorted }
    assert(merged.keySet == direct.keySet && merged.size == 3)
    merged.foreach { case (k, (n, qs)) =>
      assert(n == direct(k)._1, "merged n must equal direct n (exact counter)")
      val sorted = exact(k)
      probs.zip(qs).zip(direct(k)._2).foreach { case ((p, qm), qd) =>
        val rm = sorted.count(_ <= qm).toDouble / sorted.length
        val rd = sorted.count(_ <= qd).toDouble / sorted.length
        // merge must not degrade the bound: both paths within epsilon
        assert(math.abs(rm - p) <= 0.03, s"merged $k p=$p rank=$rm")
        assert(math.abs(rd - p) <= 0.03, s"direct $k p=$p rank=$rd")
      }
    }
  }

  test("rollingSketchDistinct: merged sketches equal exact rolling distinct; calendar gaps respected") {
    import java.sql.Date
    // users per (type, day); day 3 missing for type a — the RANGE frame must
    // not stretch the 2-day window across the gap
    val rows = Seq(
      ("a", "2024-01-01", 1L), ("a", "2024-01-01", 2L),
      ("a", "2024-01-02", 2L), ("a", "2024-01-02", 3L),
      ("a", "2024-01-04", 9L),
      ("b", "2024-01-01", 5L))
      .map { case (t, d, u) => (t, Date.valueOf(d), u) }
      .toDF("event_type", "day", "user_id")
    val cube = Sketches.sketchCube(rows, Seq("event_type", "day"), "user_id")
    val out = Sketches.rollingSketchDistinct(cube, "day", Seq("event_type"), days = 2)
      .select(col("event_type"), col("day"), col("approx_distinct_rolling"))
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
      .toSet
    assert(out == Set(
      ("a", "2024-01-01", 2L), // {1,2}
      ("a", "2024-01-02", 3L), // {1,2} ∪ {2,3}
      ("a", "2024-01-04", 1L), // gap: day 2 is OUTSIDE the 2-day range frame
      ("b", "2024-01-01", 1L)))
  }

  test("psi: identical distributions score 0; a shifted distribution alarms") {
    val base = (1 to 1000).map(i => i.toDouble % 100).toDF("v")
    val same = Sketches.psi(base, base, "v", nBins = 10)
    val sameTerms = same.collect()
    assert(sameTerms.length == 10)
    assert(sameTerms.forall(r => r.getAs[Double]("psi_term") == 0.0),
      "equal bin shares must give exactly 0 terms")
    // shift the mass hard to the top of the range
    val shifted = (1 to 1000).map(i => 90.0 + (i % 10)).toDF("v")
    val drift = Sketches.psi(base, shifted, "v", nBins = 10)
      .agg(sum(col("psi_term"))).head.getDouble(0)
    assert(drift > 0.25, s"hard shift must alarm, psi=$drift")
  }

  test("madOutliers flags exactly |x - median| > k*MAD, per key and globally") {
    // key a: values 1..9 + planted 100 -> median 5.5, residuals
    // (4.5,3.5,2.5,1.5,0.5,0.5,1.5,2.5,3.5,94.5) -> MAD = 2.5;
    // k=3 -> threshold 7.5: only 100 (resid 94.5) crosses it
    val a = (1 to 9).map(v => ("a", v.toDouble)) :+ ("a", 100.0)
    // key b: constant values -> MAD 0, nothing flagged at any k (0 > 0 false)
    val b = (1 to 5).map(_ => ("b", 7.0))
    val df = (a ++ b).toDF("k", "v").repartition(4)
    val out = Sketches.madOutliers(df, Seq("k"), "v", k = 3.0)
    val flagged = out.filter(col("is_outlier")).collect()
    assert(flagged.length == 1)
    assert(flagged(0).getAs[String]("k") == "a")
    assert(flagged(0).getAs[Double]("v") == 100.0)
    assert(flagged(0).getAs[Double]("median") == 5.5)
    assert(flagged(0).getAs[Double]("mad") == 2.5)
    // global (no keys) variant: same machinery through the crossJoin path.
    // pooled median 7, MAD 1, threshold 3 -> values {1,2,3,100} cross it
    val g = Sketches.madOutliers(df.select("v"), Nil, "v", k = 3.0)
    assert(g.filter(col("is_outlier")).collect()
      .map(_.getAs[Double]("v")).sorted.toSeq == Seq(1.0, 2.0, 3.0, 100.0))
  }

  test("equiDepthHistogram splits uniform data into equal bins; skew stays balanced") {
    val uniform = (1 to 800).map(_.toDouble).toDF("v").repartition(4)
    val bins = Sketches.equiDepthHistogram(uniform, "v", nBins = 8)
      .orderBy("bin").collect()
    assert(bins.length == 8)
    assert(bins.forall(_.getAs[Long]("n") == 100L),
      s"uniform data must split evenly: ${bins.mkString(", ")}")
    // heavy skew: equi-width would dump ~all rows in bin 0; equi-depth must not
    val skewed = ((1 to 790).map(_ => 1.0) ++ (1 to 10).map(i => 1000.0 * i)).toDF("v")
    val sk = Sketches.equiDepthHistogram(skewed, "v", nBins = 4)
      .orderBy("bin").collect()
    assert(sk.map(_.getAs[Long]("n")).max < 795, s"degenerate binning: ${sk.mkString(", ")}")
  }

  test("distinctOverlapEstimate is near-exact at spec cardinalities") {
    val a = (1 to 500).toDF("k").repartition(3)
    val b = (301 to 900).toDF("k").repartition(2) // overlap = 200
    val r = Sketches.distinctOverlapEstimate(a, "k", b, "k").head
    assert(math.abs(r.getAs[Long]("distinct_a") - 500L) <= 15)
    assert(math.abs(r.getAs[Long]("distinct_b") - 600L) <= 18)
    assert(math.abs(r.getAs[Long]("distinct_overlap") - 200L) <= 40)
  }

  test("chiSquare reproduces the hand-computed 2x2 statistic; independence scores ~0") {
    // classic 2x2: rows (10,20),(20,10) -> n=60, expected 15 each,
    // chi2 = 4 * 25/15 = 6.6667, dof = 1
    val df = (Seq.fill(10)(("a", "x")) ++ Seq.fill(20)(("a", "y")) ++
      Seq.fill(20)(("b", "x")) ++ Seq.fill(10)(("b", "y"))).toDF("u", "v").repartition(4)
    val r = Sketches.chiSquare(df, "u", "v").head
    assert(r.getAs[Long]("n") == 60L)
    assert(r.getAs[Long]("n_cells") == 4L)
    assert(r.getAs[Long]("dof") == 1L)
    assert(math.abs(r.getAs[Double]("chi2") - 20.0 / 3.0) < 1e-9)
    // V = sqrt(chi2 / (n * (min(2,2)-1))) = sqrt((20/3)/60) = 1/3
    assert(math.abs(r.getAs[Double]("cramers_v") - 1.0 / 3.0) < 1e-9)
    // perfectly proportional table -> statistic exactly 0
    val indep = (Seq.fill(10)(("a", "x")) ++ Seq.fill(20)(("a", "y")) ++
      Seq.fill(5)(("b", "x")) ++ Seq.fill(10)(("b", "y"))).toDF("u", "v")
    assert(Sketches.chiSquare(indep, "u", "v").head.getAs[Double]("chi2") == 0.0)
  }

  test("rake: margins converge to the declared targets; undeclared cells drop") {
    import graft.operators.Sketches
    // skewed 2x2 counts: a-x 30, a-y 10, b-x 10, b-y 50
    val rows = Seq.fill(30)(("a", "x")) ++ Seq.fill(10)(("a", "y")) ++
      Seq.fill(10)(("b", "x")) ++ Seq.fill(50)(("b", "y")) ++
      Seq.fill(5)(("c", "x")) // 'c' has no declared row target -> dropped
    val out = Sketches.rake(rows.toDF("g", "h"), "g", "h",
      rowTargets = Seq(("a", 100L), ("b", 100L)),
      colTargets = Seq(("x", 120L), ("y", 80L)),
      iterations = 8)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getAs[Double]("weight")).toMap
    assert(out.size == 4) // the undeclared 'c' cells are gone
    // columns are scaled LAST so their margins are tight; rows carry the
    // residual alternation error, shrinking with each sweep
    val rowA = out(("a", "x")) + out(("a", "y"))
    val colX = out(("a", "x")) + out(("b", "x"))
    assert(math.abs(colX - 120.0) < 1e-6, s"col margin off: $colX")
    assert(math.abs(rowA - 100.0) < 0.05, s"row margin off: $rowA")
    val few = Sketches.rake(rows.toDF("g", "h"), "g", "h",
      Seq(("a", 100L), ("b", 100L)), Seq(("x", 120L), ("y", 80L)), iterations = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getAs[Double]("weight")).toMap
    val rowAfew = few(("a", "x")) + few(("a", "y"))
    assert(math.abs(rowA - 100.0) < math.abs(rowAfew - 100.0), "more sweeps must converge")
    // deterministic under repartitioning (integer margin sums each sweep)
    val out2 = Sketches.rake(rows.toDF("g", "h").repartition(7), "g", "h",
      Seq(("a", 100L), ("b", 100L)), Seq(("x", 120L), ("y", 80L)), iterations = 8)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getAs[Double]("weight")).toMap
    assert(out == out2)
  }

  test("diffInDiff: hand-computed estimate; parallel trends score 0; tiny cells NULL SE") {
    import graft.operators.Sketches
    // treated: 10 -> 14 (+4), control: 20 -> 21 (+1) => DiD = 3
    def cell(t: Boolean, p: Boolean, vs: Seq[Double]) = vs.map(v => (t, p, v))
    val df = (cell(true, false, Seq(9, 10, 11)) ++ cell(true, true, Seq(13, 14, 15)) ++
      cell(false, false, Seq(19, 20, 21)) ++ cell(false, true, Seq(20, 21, 22)))
      .toDF("t", "p", "v").repartition(3)
    val r = Sketches.diffInDiff(df, "t", "p", "v").head
    assert(r.getAs[Double]("did") == 3.0)
    assert(r.getAs[Long]("n_treated_pre") == 3L)
    // each cell: var = 1, n = 3 -> SE = sqrt(4/3); t = 3/SE
    assert(math.abs(r.getAs[Double]("se") - math.sqrt(4.0 / 3.0)) < 1e-9)
    assert(math.abs(r.getAs[Double]("t_stat") - 3.0 / math.sqrt(4.0 / 3.0)) < 1e-9)
    // identical shifts in both groups -> DiD exactly 0
    val par = (cell(true, false, Seq(1, 2, 3)) ++ cell(true, true, Seq(6, 7, 8)) ++
      cell(false, false, Seq(11, 12, 13)) ++ cell(false, true, Seq(16, 17, 18)))
      .toDF("t", "p", "v")
    assert(Sketches.diffInDiff(par, "t", "p", "v").head.getAs[Double]("did") == 0.0)
    // a 1-row cell cannot carry a variance -> SE and t NULL, estimate kept
    val tiny = (cell(true, false, Seq(1)) ++ cell(true, true, Seq(2)) ++
      cell(false, false, Seq(3, 4)) ++ cell(false, true, Seq(5, 6))).toDF("t", "p", "v")
    val rt = Sketches.diffInDiff(tiny, "t", "p", "v").head
    assert(rt.isNullAt(rt.fieldIndex("se")) && !rt.isNullAt(rt.fieldIndex("did")))
  }

  test("subclassificationAte: hand-computed stratified estimate; no-support strata drop") {
    import graft.operators.Sketches
    def arm(g: String, t: Boolean, vs: Seq[Double]) = vs.map(v => (g, t, v))
    // A: treated {2,4} vs control {1,1} -> diff 2 ; B: {8,10} vs {5,7} -> diff 3
    // C: treated-only {100} -> no common support, drops
    val df = (arm("A", true, Seq(2, 4)) ++ arm("A", false, Seq(1, 1)) ++
      arm("B", true, Seq(8, 10)) ++ arm("B", false, Seq(5, 7)) ++
      arm("C", true, Seq(100)))
      .toDF("g", "t", "v").repartition(3)
    val r = Sketches.subclassificationAte(df, "t", "v", Seq("g")).head
    assert(r.getAs[Long]("n_strata_used") == 2L)
    assert(r.getAs[Long]("n_strata_dropped") == 1L)
    assert(r.getAs[Long]("n_used") == 8L)
    assert(r.getAs[Long]("n_dropped") == 1L)
    // equal weights 1/2: ATE = 2/2 + 3/2 = 2.5
    assert(math.abs(r.getAs[Double]("ate") - 2.5) < 1e-9)
    // sesq = 1/4*(1+0) + 1/4*(1+1) = 3/4
    assert(math.abs(r.getAs[Double]("se") - math.sqrt(0.75)) < 1e-9)
    assert(math.abs(r.getAs[Double]("t_stat") - 2.5 / math.sqrt(0.75)) < 1e-9)
    // a 1-row arm inside a USED stratum keeps the estimate, nulls the SE
    val tiny = (arm("A", true, Seq(2)) ++ arm("A", false, Seq(1, 3))).toDF("g", "t", "v")
    val rt = Sketches.subclassificationAte(tiny, "t", "v", Seq("g")).head
    assert(rt.isNullAt(rt.fieldIndex("se")) && math.abs(rt.getAs[Double]("ate")) < 1e-9)
  }

  test("reliabilityDiagram + brierDecomposition: hand-solved two-bin example; p=1 clamps") {
    import graft.operators.Sketches
    // bin 0: p=0.25, 1 of 4 positive (perfectly calibrated)
    // bin 1: p=0.75, 3 of 4 positive (perfectly calibrated)
    val rows = Seq.fill(3)((0.25, false)) ++ Seq((0.25, true)) ++
      Seq((0.75, false)) ++ Seq.fill(3)((0.75, true))
    val df = rows.toDF("p", "y").repartition(3)
    val rel = Sketches.reliabilityDiagram(df, "p", "y", bins = 2)
      .orderBy("bin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rel.toSeq == Seq((0L, 4L, 1L, 0.25, 0.25), (1L, 4L, 3L, 0.75, 0.75)))
    val b = Sketches.brierDecomposition(df, "p", "y", bins = 2).head
    assert(b.getAs[Long]("n") == 8L)
    // BS = (3·.0625 + .5625)·2 / 8; REL = 0; RES = 2·4·.0625/8; UNC = .25
    assert(math.abs(b.getAs[Double]("brier") - 0.1875) < 1e-9)
    assert(b.getAs[Double]("reliability") == 0.0)
    assert(math.abs(b.getAs[Double]("resolution") - 0.0625) < 1e-9)
    assert(math.abs(b.getAs[Double]("uncertainty") - 0.25) < 1e-9)
    // constant-within-bin forecasts: Murphy identity BS = REL − RES + UNC
    assert(math.abs(b.getAs[Double]("brier") -
      (b.getAs[Double]("reliability") - b.getAs[Double]("resolution") +
        b.getAs[Double]("uncertainty"))) < 1e-9)
    // p = 1.0 lands in the top bin, not a phantom bins-th bin
    val top = Sketches.reliabilityDiagram(
      Seq((1.0, true)).toDF("p", "y"), "p", "y", bins = 10).head
    assert(top.getAs[Long]("bin") == 9L)
  }

  test("averagePrecision: hand-solved tie blocks; perfect ranking = 1; no positives => NULL") {
    import graft.operators.Sketches
    // blocks desc: v=3 (1 of 2 pos): ΔR·P = 1/2·1/2; v=2: 1/2·2/3; v=1: 0
    val df = Seq((3L, true), (3L, false), (2L, true), (1L, false))
      .toDF("s", "y").repartition(3)
    val r = Sketches.averagePrecision(df, "y", "s").head
    assert(r.getAs[Long]("n_pos") == 2L && r.getAs[Long]("n_neg") == 2L)
    assert(r.getAs[Double]("ap") == 0.583333)
    val perfect = Seq((2L, true), (1L, false)).toDF("s", "y")
    assert(Sketches.averagePrecision(perfect, "y", "s").head.getAs[Double]("ap") == 1.0)
    val none = Seq((1L, false)).toDF("s", "y")
    val rn = Sketches.averagePrecision(none, "y", "s").head
    assert(rn.isNullAt(rn.fieldIndex("ap")))
  }

  test("splitConformal: exact order-statistic q̂; tiny calibration => infinite interval") {
    import graft.operators.Sketches
    val df = (1 to 300).map(i => (i.toLong, (i % 3).toString, (i % 7).toDouble))
      .toDF("id", "g", "v").repartition(4)
    val r = Sketches.splitConformal(df, "id", Seq("g"), "v", alpha = 0.2).head
    // recompute q̂ and coverage from the operator's own split definition
    val base = df.select(col("g"), col("v"),
      (conv(substring(md5(col("id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 10).as("bk"))
    val model = base.filter(col("bk") < 6).groupBy("g")
      .agg((sum(floor(col("v") * 1000000.0 + 0.5).cast("long")).cast("double")
        / 1000000.0 / count(lit(1)).cast("double")).as("yhat"))
    def res(p: DataFrame) = p.join(model, "g")
      .select(abs(col("v") - col("yhat")).as("r")).as[Double].collect()
    val calR = res(base.filter(col("bk") >= 6 && col("bk") < 8)).sorted
    val tstR = res(base.filter(col("bk") >= 8))
    val k = math.ceil((calR.length + 1) * 0.8).toInt
    assert(r.getAs[Long]("n_calib") == calR.length.toLong)
    assert(r.getAs[Double]("qhat") == calR(k - 1))
    val qh = calR(k - 1)
    assert(r.getAs[Double]("coverage") ==
      tstR.count(_ <= qh).toDouble / tstR.length)
    // the finite-sample guarantee holds on this fixed split
    assert(r.getAs[Double]("coverage") >= 0.8 - 0.1)
    // α so strict that ceil((n+1)(1−α)) > n: interval infinite, coverage 1
    val inf = Sketches.splitConformal(df, "id", Seq("g"), "v", alpha = 0.001).head
    assert(inf.isNullAt(inf.fieldIndex("qhat")))
    assert(inf.getAs[Double]("coverage") == 1.0)
  }

  test("mutualInfoBinned: deterministic functional beats independent; parabola beats Pearson") {
    import graft.operators.Sketches
    // y = x exactly: MI of the binned copy = H(bin) = ln(4) on 4 equal bins
    val ident = (0 until 400).map(i => (i.toDouble, i.toDouble)).toDF("x", "y")
    val mId = Sketches.mutualInfoBinned(ident, "x", "y", 4, 4).head.getAs[Double]("mi")
    assert(math.abs(mId - math.log(4.0)) < 1e-6)
    // independent grid: every (x band, y band) combination equally often -> MI 0
    val indep = (for (a <- 0 until 20; b <- 0 until 20) yield (a.toDouble, b.toDouble))
      .toDF("x", "y")
    val mInd = Sketches.mutualInfoBinned(indep, "x", "y", 4, 4).head.getAs[Double]("mi")
    assert(math.abs(mInd) < 1e-9)
    // parabola y = (x-1)^2 on [0,2]: Pearson ~0 by symmetry, binned MI large
    val par = (0 until 400).map { i =>
      val x = i / 200.0; (x, (x - 1.0) * (x - 1.0))
    }.toDF("x", "y")
    val mPar = Sketches.mutualInfoBinned(par, "x", "y", 4, 4).head.getAs[Double]("mi")
    assert(mPar > 0.5, s"parabola MI should be substantial, got $mPar")
  }

  test("cochranArmitage: hand-computed trend z, flat rates zero, degenerate NULL") {
    import graft.operators.Sketches
    // doses 1,2,3 with rates 1/10, 5/10, 9/10 — strong positive trend
    def dose(s: Long, x: Int, n: Int) =
      Seq.fill(x)((s, true)) ++ Seq.fill(n - x)((s, false))
    val df = (dose(1L, 1, 10) ++ dose(2L, 5, 10) ++ dose(3L, 9, 10)).toDF("s", "o")
    val r = Sketches.cochranArmitage(df.repartition(4), "s", "o").head
    assert(r.getAs[Long]("n_groups") == 3L && r.getAs[Long]("n") == 30L && r.getAs[Long]("x") == 15L)
    // Tn = N·Σsx − X·Σsn = 30*(1+10+27) − 15*60 = 240; S2 = 30*140 − 3600 = 600
    // z = 240 / sqrt(15*15*600/30) = 240/sqrt(4500)
    val z = 240.0 / math.sqrt(15.0 * 15.0 * 600.0 / 30.0)
    assert(math.abs(r.getAs[Double]("z") - z) < 1e-12)
    // identical rates at every dose -> z exactly 0
    val flat = (dose(1L, 3, 10) ++ dose(2L, 3, 10) ++ dose(3L, 3, 10)).toDF("s", "o")
    assert(Sketches.cochranArmitage(flat, "s", "o").head.getAs[Double]("z") == 0.0)
    // all successes -> variance degenerate -> NULL
    val all = (dose(1L, 10, 10) ++ dose(2L, 10, 10)).toDF("s", "o")
    val ra = Sketches.cochranArmitage(all, "s", "o").head
    assert(ra.isNullAt(ra.fieldIndex("z")))
  }

  test("fisherExact reproduces the hand-computed hypergeometric p-values") {
    import graft.operators.Sketches
    // lady-tasting-tea 2x2 (a=3,b=1,c=1,d=3): P(k)/70 = 1,16,36,16,1 for
    // k=0..4 -> two-sided p = (1+16+16+1)/70 = 34/70
    def table(g: String, a: Int, b: Int, c: Int, d: Int) =
      Seq.fill(a)((g, true, true)) ++ Seq.fill(b)((g, true, false)) ++
        Seq.fill(c)((g, false, true)) ++ Seq.fill(d)((g, false, false))
    val df = (table("tea", 3, 1, 1, 3) ++
      table("extreme", 5, 0, 0, 5) ++
      table("flat", 5, 5, 5, 5)).toDF("g", "e", "o").repartition(4)
    val r = Sketches.fisherExact(df, "g", "e", "o").collect()
      .map(x => x.getString(0) -> x).toMap
    assert(math.abs(r("tea").getAs[Double]("p_two_sided") - 34.0 / 70.0) < 1e-9)
    assert(r("tea").getAs[Double]("odds_ratio") == 9.0)
    // perfect separation: only the two corner tables qualify -> 2/C(10,5)
    assert(math.abs(r("extreme").getAs[Double]("p_two_sided") - 2.0 / 252.0) < 1e-9)
    assert(r("extreme").isNullAt(r("extreme").fieldIndex("odds_ratio"))) // b=c=0
    // perfectly balanced: observed table is the mode -> every table
    // qualifies -> p = 1 (up to 1e-12 term quantization)
    assert(math.abs(r("flat").getAs[Double]("p_two_sided") - 1.0) < 1e-9)
    assert(r("flat").getAs[Long]("n") == 20L)
    // over the maxTableN guard: counts reported, p NULL before any fan-out
    val big = Sketches.fisherExact(
      table("big", 4, 4, 4, 4).toDF("g", "e", "o"), "g", "e", "o", maxTableN = 10).head
    assert(big.isNullAt(big.fieldIndex("p_two_sided")) && big.getAs[Long]("n") == 16L)
  }

  test("gTest reproduces the hand-computed 2x2 G; proportional table scores 0") {
    // rows (10,20),(20,10): E = 15 everywhere,
    // G = 2*(10 ln(10/15) + 20 ln(20/15) + 20 ln(20/15) + 10 ln(10/15))
    val df = (Seq.fill(10)(("a", "x")) ++ Seq.fill(20)(("a", "y")) ++
      Seq.fill(20)(("b", "x")) ++ Seq.fill(10)(("b", "y"))).toDF("u", "v").repartition(4)
    val r = Sketches.gTest(df, "u", "v").head
    assert(r.getAs[Long]("n") == 60L)
    assert(r.getAs[Long]("n_cells") == 4L)
    assert(r.getAs[Long]("dof") == 1L)
    val expected = 2.0 * (20 * math.log(10.0 / 15.0) + 40 * math.log(20.0 / 15.0))
    assert(math.abs(r.getAs[Double]("g") - expected) < 1e-6)
    // perfectly proportional table -> every O == E -> G exactly 0
    val indep = (Seq.fill(10)(("a", "x")) ++ Seq.fill(20)(("a", "y")) ++
      Seq.fill(5)(("b", "x")) ++ Seq.fill(10)(("b", "y"))).toDF("u", "v")
    assert(math.abs(Sketches.gTest(indep, "u", "v").head.getAs[Double]("g")) < 1e-9)
  }

  test("gTest is partition-invariant and tracks chi2 on a skewed table") {
    val rows = (1 to 200).map(i => (if (i % 3 == 0) "a" else "b", if (i % 7 < 3) "x" else "y"))
    val g1 = Sketches.gTest(rows.toDF("u", "v").repartition(1), "u", "v").head.getAs[Double]("g")
    val g8 = Sketches.gTest(rows.toDF("u", "v").repartition(8), "u", "v").head.getAs[Double]("g")
    assert(g1 == g8) // quantized terms -> bit-identical under any partitioning
    val chi2 = Sketches.chiSquare(rows.toDF("u", "v"), "u", "v").head.getAs[Double]("chi2")
    assert(math.abs(g1 - chi2) < 0.5) // asymptotically equivalent statistics
  }

  test("twoProportionZ reproduces the hand-computed z; equal rates score 0") {
    // a: 40/100, b: 25/100 -> pp = 65/200 = 0.325,
    // z = 0.15 / sqrt(0.325*0.675*0.02)
    val df = ((Seq.fill(40)(("a", true)) ++ Seq.fill(60)(("a", false)) ++
      Seq.fill(25)(("b", true)) ++ Seq.fill(75)(("b", false)))).toDF("g", "s").repartition(5)
    val r = Sketches.twoProportionZ(df, "g", "s", "a", "b").head
    assert(r.getAs[Long]("n_a") == 100L && r.getAs[Long]("x_a") == 40L)
    assert(r.getAs[Long]("n_b") == 100L && r.getAs[Long]("x_b") == 25L)
    val z = 0.15 / math.sqrt(0.325 * 0.675 * 0.02)
    assert(math.abs(r.getAs[Double]("z") - z) < 1e-12)
    assert(r.getAs[Boolean]("reject_95")) // z ~ 2.26
    assert(!r.getAs[Boolean]("reject_99"))
    // identical rates -> z exactly 0
    val same = (Seq.fill(10)(("a", true)) ++ Seq.fill(10)(("a", false)) ++
      Seq.fill(20)(("b", true)) ++ Seq.fill(20)(("b", false))).toDF("g", "s")
    assert(Sketches.twoProportionZ(same, "g", "s", "a", "b").head.getAs[Double]("z") == 0.0)
  }

  test("twoProportionZ degenerate pooled rate yields NULL z, not infinity") {
    val df = (Seq.fill(5)(("a", false)) ++ Seq.fill(5)(("b", false))).toDF("g", "s")
    val r = Sketches.twoProportionZ(df, "g", "s", "a", "b").head
    assert(r.isNullAt(r.fieldIndex("z")))
  }

  test("welchTTest reproduces hand-computed t and dof; sign follows mean order") {
    // group a: 1,2,3,4,5 (mean 3, var 2.5); group b: 2,4,6,8,10 (mean 6, var 10)
    val df = (Seq(1, 2, 3, 4, 5).map(v => ("a", v.toDouble)) ++
      Seq(2, 4, 6, 8, 10).map(v => ("b", v.toDouble))).toDF("g", "v").repartition(3)
    val r = Sketches.welchTTest(df, "g", "v", "a", "b").head
    assert(r.getAs[Long]("n_a") == 5L && r.getAs[Long]("n_b") == 5L)
    assert(r.getAs[Double]("mean_a") == 3.0 && r.getAs[Double]("mean_b") == 6.0)
    // t = (3-6)/sqrt(2.5/5 + 10/5) = -3/sqrt(2.5) = -1.897366596...
    assert(math.abs(r.getAs[Double]("t_stat") - (-3.0 / math.sqrt(2.5))) < 1e-9)
    // dof = (0.5+2)^2 / (0.5^2/4 + 2^2/4) = 6.25 / 1.0625 = 5.882352941
    assert(math.abs(r.getAs[Double]("dof") - 6.25 / 1.0625) < 1e-9)
  }

  test("heavyHitters approximate regime honors Misra-Gries bounds") {
    // 1000 of "hot", 50 each of 40 cold items -> n = 3000, k = 9:
    // any item with freq > n/(k+1) = 300 MUST survive with count_lo >= freq - 300
    val data = Seq.fill(1000)("hot") ++ (1 to 40).flatMap(i => Seq.fill(50)(s"cold$i"))
    val df = data.toDF("w").repartition(6)
    val out = Sketches.heavyHitters(df, "w", k = 9)
      .selectExpr("explode(heavy_hitters) AS e")
      .selectExpr("e.item AS item", "e.count_lo AS c")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out.contains("hot"), s"guaranteed heavy item evicted: $out")
    assert(out("hot") >= 1000 - 300 && out("hot") <= 1000, s"count bound violated: ${out("hot")}")
    assert(out.size <= 9)
  }

  test("cms: rollup-by-merge equals direct sketching byte-for-byte; exact in no-collision regime") {
    val df = Seq.tabulate(10000)(i => (s"d${i % 7}", s"item${i % 20}"))
      .toDF("day", "item").repartition(8)
    val merged = df.groupBy("day")
      .agg(graft.functions.cms_sketch(col("item")).as("sk"))
      .agg(graft.functions.cms_merge(col("sk")).as("sk"))
      .head().getAs[Array[Byte]]("sk")
    val direct = df.agg(graft.functions.cms_sketch(col("item")).as("sk"))
      .head().getAs[Array[Byte]]("sk")
    // counter-wise merge: the rolled-up sketch IS the direct sketch
    assert(java.util.Arrays.equals(merged, direct))
    // 20 distinct items vs width 8192: no collision, every estimate exact
    val sk = graft.functions.CmsOps.fromBytes(merged)
    (0 until 20).foreach { i =>
      assert(sk.estimateCount(s"item$i".getBytes("UTF-8")) == 500L)
    }
    assert(sk.totalCount() == 10000L)
  }

  test("cms inner product: exact join size in the collision-free regime, never under") {
    // f1 = {k0:3, k1:2, k2:1}, f2 = {k1:4, k2:5, k9:7} -> sum f1*f2 = 13
    val a = (Seq.fill(3)("k0") ++ Seq.fill(2)("k1") ++ Seq("k2")).toDF("v")
      .agg(graft.functions.cms_sketch(col("v")).as("sk")).head().getAs[Array[Byte]](0)
    val b = (Seq.fill(4)("k1") ++ Seq.fill(5)("k2") ++ Seq.fill(7)("k9")).toDF("v")
      .agg(graft.functions.cms_sketch(col("v")).as("sk")).head().getAs[Array[Byte]](0)
    assert(graft.functions.CmsOps.cmsInnerProduct(a, b) == 2L * 4 + 1 * 5)
    // upper-bound property on a domain wide enough to collide: estimate
    // can exceed but never undercut the true dot product
    val big1 = Seq.tabulate(5000)(i => s"x${i % 3000}").toDF("v")
      .agg(graft.functions.cms_sketch(col("v"), width = 1024).as("sk"))
      .head().getAs[Array[Byte]](0)
    val big2 = Seq.tabulate(5000)(i => s"x${(i % 3000) + 1500}").toDF("v")
      .agg(graft.functions.cms_sketch(col("v"), width = 1024).as("sk"))
      .head().getAs[Array[Byte]](0)
    // true dot product: keys 1500..2999 occur in both; each ~2x1 or 1x2 mixes
    val f1 = Seq.tabulate(5000)(i => s"x${i % 3000}").groupBy(identity).view.mapValues(_.size)
    val f2 = Seq.tabulate(5000)(i => s"x${(i % 3000) + 1500}").groupBy(identity).view.mapValues(_.size)
    val truth = f1.keys.toSeq.intersect(f2.keys.toSeq)
      .map(k => f1(k).toLong * f2(k)).sum
    assert(graft.functions.CmsOps.cmsInnerProduct(big1, big2) >= truth)
  }

  test("theta: exact set algebra below nominal k; rollup-by-merge equals direct bytes") {
    // A = {0..299}, B = {200..499}: |A∩B| = 100, |A\B| = 200, |A∪B| = 500
    val df = (Seq.tabulate(300)(i => ("a", i.toLong)) ++
      Seq.tabulate(300)(i => ("b", (i + 200).toLong)))
      .toDF("side", "v").repartition(8)
    val sk = df.groupBy("side").agg(graft.functions.theta_sketch(col("v")).as("sk"))
      .collect().map(r => (r.getString(0), r.getAs[Array[Byte]]("sk"))).toMap
    import graft.functions.ThetaOps._
    assert(thetaEstimate(sk("a")) == 300.0 && thetaEstimate(sk("b")) == 300.0)
    assert(thetaEstimate(thetaIntersect(sk("a"), sk("b"))) == 100.0)
    assert(thetaEstimate(thetaAnotb(sk("a"), sk("b"))) == 200.0)
    assert(thetaEstimate(thetaUnionPair(sk("a"), sk("b"))) == 500.0)
    // set identity holds exactly in this regime
    assert(thetaEstimate(sk("a")) ==
      thetaEstimate(thetaIntersect(sk("a"), sk("b"))) + thetaEstimate(thetaAnotb(sk("a"), sk("b"))))
    // rollup: sketches of two disjoint day-slices union-merge to the direct sketch, byte-for-byte
    val fine = df.filter(col("side") === "a")
      .withColumn("day", (col("v") % 3).cast("string"))
      .groupBy("day").agg(graft.functions.theta_sketch(col("v")).as("sk"))
    val merged = fine.agg(graft.functions.theta_merge(col("sk")).as("sk"))
      .head().getAs[Array[Byte]]("sk")
    assert(java.util.Arrays.equals(merged, sk("a")))
  }

  test("theta: estimation-regime error stays within published RSE bounds") {
    val n = 200000
    val bytes = spark.range(n).toDF("v")
      .agg(graft.functions.theta_sketch(col("v"), lgK = 12).as("sk"))
      .head().getAs[Array[Byte]]("sk")
    val est = graft.functions.ThetaOps.thetaEstimate(bytes)
    // RSE ~ 1/sqrt(4096) = 1.56%; allow 4 sigma
    assert(math.abs(est - n) / n < 0.0625, s"theta estimate $est for n=$n")
  }

  test("cms: estimates never underestimate and stay within eps*N under forced collisions") {
    val n = 5000
    val df = Seq.tabulate(n)(i => s"k${i % 200}").toDF("item").repartition(8)
    val bytes = df
      .agg(graft.functions.cms_sketch(col("item"), depth = 3, width = 16).as("sk"))
      .head().getAs[Array[Byte]]("sk")
    val sk = graft.functions.CmsOps.fromBytes(bytes)
    val truth = n / 200L
    val eps = 2.0 / 16
    (0 until 200).foreach { i =>
      val est = sk.estimateCount(s"k$i".getBytes("UTF-8"))
      assert(est >= truth, s"CMS must never underestimate: k$i est=$est")
      assert(est <= truth + (eps * n).toLong,
        s"k$i est=$est exceeds truth + eps*N = ${truth + (eps * n).toLong}")
    }
  }

  test("mutualInformation: ln2 for a perfect copy, 0 for independence") {
    import graft.operators.Sketches
    val dep = Seq(("x", "x"), ("x", "x"), ("y", "y"), ("y", "y")).toDF("a", "b")
    val mDep = Sketches.mutualInformation(dep, "a", "b").head()
    assert(mDep.getLong(0) == 4L && mDep.getLong(1) == 2L)
    assert(math.abs(mDep.getDouble(2) - math.log(2.0)) < 1e-6)
    val ind = Seq(("x", "p"), ("x", "q"), ("y", "p"), ("y", "q")).toDF("a", "b")
    assert(Sketches.mutualInformation(ind, "a", "b").head().getDouble(2) == 0.0)
  }

  test("olsTrend: hand-computed lines, flat slope, degenerate-x nulls") {
    import graft.operators.Sketches
    val df = Seq(
      // perfect line y = 2x + 1 -> slope 2, intercept 1, r2 1
      ("line", 0L, 1L), ("line", 1L, 3L), ("line", 2L, 5L),
      // flat numerator: sxy*n == sx*sy -> slope 0, intercept = mean y
      ("flat", 0L, 0L), ("flat", 1L, 1L), ("flat", 2L, 0L),
      // constant x -> den = 0 -> all NULL
      ("degx", 5L, 1L), ("degx", 5L, 9L)).toDF("g", "x", "y")
    val out = Sketches.olsTrend(df, Seq("g"), "x", "y").collect()
      .map(r => r.getString(0) -> r).toMap
    val line = out("line")
    assert(line.getLong(1) == 3L && line.getDouble(2) == 2.0 &&
      line.getDouble(3) == 1.0 && line.getDouble(4) == 1.0)
    val flat = out("flat")
    assert(flat.getDouble(2) == 0.0 && flat.getDouble(3) == 0.333333 &&
      flat.getDouble(4) == 0.0)
    val degx = out("degx")
    assert(degx.isNullAt(2) && degx.isNullAt(3) && degx.isNullAt(4))
  }

  test("olsTrend matches driver-side double formula within rounding on random data") {
    import graft.operators.Sketches
    val rnd = new scala.util.Random(11)
    val pts = Seq.tabulate(300)(i =>
      ("g", i.toLong, (3L * i + 40 + rnd.nextInt(21) - 10)))
    val got = Sketches.olsTrend(pts.toDF("g", "x", "y"), Seq("g"), "x", "y").head()
    val n = pts.size.toDouble
    val (sx, sy) = (pts.map(_._2).sum.toDouble, pts.map(_._3).sum.toDouble)
    val sxx = pts.map(p => p._2 * p._2).sum.toDouble
    val sxy = pts.map(p => p._2 * p._3).sum.toDouble
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val intercept = (sy - slope * sx) / n
    assert(math.abs(got.getDouble(2) - slope) < 1e-6)
    assert(math.abs(got.getDouble(3) - intercept) < 1e-6)
    assert(got.getDouble(4) > 0.99, "strong linear signal must give r2 near 1")
  }

  test("histogram2d: planted grid counts exact, edge values land in the last bin") {
    // x,y in [0,8): cell (x div 2, y div 2) with one point per unit cell
    val pts = for (x <- 0 until 8; y <- 0 until 8) yield (x.toDouble, y.toDouble)
    val out = Sketches.histogram2d(pts.toDF("x", "y").repartition(4), "x", "y", 4, 4)
      .orderBy("bin_x", "bin_y").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(out.size == 16)
    // lo=0, hi=7, w=1.75: bins are [0,1.75),[1.75,3.5),[3.5,5.25),[5.25,7]
    // -> per axis the 8 integer points split 2,2,2,2 except the max lands last
    assert(out.values.sum == 64L)
    assert(out((3L, 3L)) == 4L) // {5.25..7} x {5.25..7} holds 6,7 each axis
  }

  test("isotonic: classic PAV pooling, duplicate x merged, decreasing input flattens") {
    // textbook case: y = 1,3,2,4 -> 1, 2.5, 2.5, 4
    val df = Seq(("g", 1L, 1L), ("g", 2L, 3L), ("g", 3L, 2L), ("g", 4L, 4L))
      .toDF("g", "x", "y")
    val out = Sketches.isotonic(df.repartition(3), Seq("g"), "x", "y")
      .orderBy("x").select("x", "fit").as[(Long, Double)].collect()
    assert(out.toSeq == Seq((1L, 1.0), (2L, 2.5), (3L, 2.5), (4L, 4.0)))
    // duplicate x pools first: (1,0),(1,2),(2,4) -> fit 1.0 then 4.0
    val dup = Seq(("g", 1L, 0L), ("g", 1L, 2L), ("g", 2L, 4L)).toDF("g", "x", "y")
    val dout = Sketches.isotonic(dup, Seq("g"), "x", "y")
      .orderBy("x").select("x", "fit").as[(Long, Double)].collect()
    assert(dout.toSeq == Seq((1L, 1.0), (2L, 4.0)))
    // strictly decreasing input collapses to the global mean
    val dec = Seq(("g", 1L, 3L), ("g", 2L, 2L), ("g", 3L, 1L)).toDF("g", "x", "y")
    val fits = Sketches.isotonic(dec, Seq("g"), "x", "y")
      .select("fit").as[Double].collect()
    assert(fits.forall(_ == 2.0))
  }

  test("jsAssemble: zero for identical mixes, ln 2 for disjoint support") {
    val base = Seq((0L, 10L), (1L, 30L)).toDF("bin", "n_base")
    val sameMix = Seq((0L, 1L), (1L, 3L)).toDF("bin", "n_cur")
    val zero = Sketches.jsAssemble(base, sameMix)
      .select("js_term").as[Double].collect()
    assert(zero.forall(_ == 0.0), "identical distributions must give JSD 0")
    val disjoint = Seq((2L, 5L)).toDF("bin", "n_cur")
    val total = Sketches.jsAssemble(base, disjoint)
      .agg(sum(col("js_term"))).as[Double].head()
    assert(math.abs(total - math.log(2.0)) < 1e-12,
      s"disjoint supports must give ln 2, got $total")
  }

  test("kruskalWallis: textbook no-tie H, and a ties case vs a local reference") {
    val df = Seq("a" -> 1, "a" -> 2, "a" -> 3, "b" -> 4, "b" -> 5, "b" -> 6,
      "c" -> 7, "c" -> 8, "c" -> 9).toDF("g", "v")
    val r = Sketches.kruskalWallis(df, "g", "v").head
    assert(r.getAs[Long]("n") == 9L && r.getAs[Long]("n_groups") == 3L)
    assert(math.abs(r.getAs[Double]("h") - 7.2) < 1e-9,
      s"textbook 1..9 in thirds must give H = 7.2, got ${r.getAs[Double]("h")}")
    // ties case against a plain-Scala midrank reference
    val data = Seq("a" -> 1.0, "a" -> 2.0, "a" -> 2.0, "b" -> 2.0, "b" -> 3.0,
      "c" -> 3.0, "c" -> 3.0, "c" -> 5.0)
    val n = data.size
    val ranks = data.map(_._2).map { v =>
      1.0 + data.count(_._2 < v) + (data.count(_._2 == v) - 1) / 2.0
    }
    val byG = data.map(_._1).zip(ranks).groupBy(_._1)
    val hNum = 12.0 / (n * (n + 1.0)) * byG.values.map { g =>
      val rb = g.map(_._2).sum / g.size; g.size * rb * rb
    }.sum - 3 * (n + 1.0)
    val ties = data.map(_._2).groupBy(identity).values
      .map(t => math.pow(t.size, 3) - t.size).sum
    val expected = hNum / (1.0 - ties / (math.pow(n, 3) - n))
    val got = Sketches.kruskalWallis(data.toDF("g", "v"), "g", "v")
      .head.getAs[Double]("h")
    assert(math.abs(got - expected) < 1e-6, s"ties H: got $got expected $expected")
  }

  test("anovaF: hand-computed F on three shifted groups; identical groups give F = 0") {
    val df = Seq("a" -> 1L, "a" -> 2L, "a" -> 3L, "b" -> 4L, "b" -> 5L, "b" -> 6L,
      "c" -> 7L, "c" -> 8L, "c" -> 9L).toDF("g", "v")
    val r = Sketches.anovaF(df, "g", "v").head
    // means 2/5/8, grand 5: SSB = 3·9+0+3·9 = 54, SSW = 2+2+2 = 6,
    // F = (54/2)/(6/6) = 27, eta² = 54/60
    assert(r.getAs[Long]("n") == 9L && r.getAs[Long]("n_groups") == 3L)
    assert(r.getAs[Double]("f") == 27.0 && r.getAs[Double]("eta_sq") == 0.9)
    val same = Seq("a" -> 1L, "a" -> 3L, "b" -> 1L, "b" -> 3L).toDF("g", "v")
    val s = Sketches.anovaF(same, "g", "v").head
    assert(s.getAs[Double]("f") == 0.0 && s.getAs[Double]("eta_sq") == 0.0)
  }

  test("kendallTau: monotone pairs give 1, reversal -1, hand ties case checks out") {
    val mono = (1 to 10).map(i => ("m", i.toLong, (i * i).toLong))
    val rev = (1 to 10).map(i => ("r", i.toLong, (100 - i).toLong))
    val out = Sketches.kendallTau(
        (mono ++ rev).toDF("k", "x", "y").repartition(3), Seq("k"), "x", "y")
      .orderBy("k").collect().map(r => (r.getString(0), r.getAs[Double]("tau_b")))
    assert(out.toSeq == Seq(("m", 1.0), ("r", -1.0)))
    // ties: x=[1,2,2,3], y=[1,1,2,2]: pairs (1,1)-(2,1), (2,1)-(2,2) and
    // (2,2)-(3,2) tie on an axis -> C=3, D=0, tx=1, ty=2; n0=6
    // tau_b = 3/sqrt(5·4)
    val t = Seq(("t", 1L, 1L), ("t", 2L, 1L), ("t", 2L, 2L), ("t", 3L, 2L))
      .toDF("k", "x", "y")
    val r = Sketches.kendallTau(t, Seq("k"), "x", "y").head
    assert(r.getAs[Long]("concordant") == 3L && r.getAs[Long]("discordant") == 0L)
    assert(r.getAs[Double]("tau_b") == math.rint(3.0 / math.sqrt(20.0) * 1e6) / 1e6)
    // all-tied x axis: guarded NULL, not NaN
    val flat = Seq(("f", 5L, 1L), ("f", 5L, 2L)).toDF("k", "x", "y")
    val f = Sketches.kendallTau(flat, Seq("k"), "x", "y").head
    assert(f.isNullAt(f.fieldIndex("tau_b")))
  }

  test("theilDecomposition: between + within reproduce the total on a planted mix") {
    // group a: all equal (T_a = 0); group b: unequal; different means
    val df = (Seq.fill(4)(("a", 10L)) ++ Seq(("b", 1L), ("b", 3L), ("b", 20L), ("b", 40L)))
      .toDF("g", "v")
    val r = Sketches.theilDecomposition(df, "g", "v").head
    assert(r.getAs[Long]("n") == 8L && r.getAs[Long]("n_groups") == 2L)
    val (tt, tb, tw) = (r.getAs[Double]("t_total"), r.getAs[Double]("t_between"),
      r.getAs[Double]("t_within"))
    assert(tt > 0 && tb > 0 && tw > 0)
    assert(math.abs(tt - (tb + tw)) < 2e-6,
      s"decomposition must add up: $tt vs $tb + $tw")
    assert(math.abs(r.getAs[Double]("additivity_gap")) <= 1e-6)
    // all in one group: between collapses to 0, within = total
    val one = (1 to 6).map(i => ("g", i.toLong)).toDF("g", "v")
    val o = Sketches.theilDecomposition(one, "g", "v").head
    assert(o.getAs[Double]("t_between") == 0.0)
    assert(math.abs(o.getAs[Double]("t_within") - o.getAs[Double]("t_total")) <= 1e-6)
  }

  test("theilIndex: equal values give 0, hand-computed two-point case") {
    val eq = Seq.fill(10)(("e", 5L)).toDF("g", "v")
    assert(Sketches.theilIndex(eq, Seq("g"), "v").head.getAs[Double]("theil_t") == 0.0)
    // values 1 and 3: mu=2, T = (0.5·ln 0.5 + 1.5·ln 1.5)/2
    val two = Seq(("t", 1L), ("t", 3L)).toDF("g", "v")
    val expectedRaw =
      (math.floor((0.5 * math.log(0.5)) * 1e9 + 0.5) +
        math.floor((1.5 * math.log(1.5)) * 1e9 + 0.5)) / 1e9 / 2.0
    val expected = math.rint(expectedRaw * 1e6) / 1e6
    val got = Sketches.theilIndex(two, Seq("g"), "v").head.getAs[Double]("theil_t")
    assert(got == expected, s"got $got expected $expected")
  }

  test("lorenzDeciles: uniform values give the diagonal, shares sum to 1") {
    val df = (1 to 100).map(i => ("g", i.toLong, i.toLong)).toDF("g", "id", "v")
    // values 1..100: decile d holds (10d-9)..(10d), cum share = running sums
    val out = Sketches.lorenzDeciles(df.repartition(5), Seq("g"), "v", Seq("id"))
      .orderBy("decile").collect()
    assert(out.length == 10 && out.forall(_.getAs[Long]("n") == 10L))
    val total = (1 to 100).sum.toDouble
    val d1 = out.head
    assert(d1.getAs[Long]("value_sum") == 55L)
    assert(d1.getAs[Double]("share") == math.rint(55.0 / total * 1e6) / 1e6)
    assert(out.last.getAs[Double]("cum_share") == 1.0)
    // bottom decile of an unequal distribution holds almost nothing
    val skew = ((1 to 99).map(i => ("s", i.toLong, 1L)) :+ (("s", 100L, 10000L)))
      .toDF("g", "id", "v")
    val s1 = Sketches.lorenzDeciles(skew, Seq("g"), "v", Seq("id"))
      .orderBy("decile").collect()
    assert(s1.head.getAs[Double]("cum_share") < 0.01)
  }

  test("fleissKappa: unanimity gives 1; hand-computed mixed panel") {
    val unanimous = Seq.tabulate(12)(i => (s"l${i % 3}", s"l${i % 3}", s"l${i % 3}"))
      .toDF("a", "b", "c")
    val u = Sketches.fleissKappa(unanimous, Seq("a", "b", "c")).head
    assert(u.getAs[Double]("kappa") == 1.0 && u.getAs[Int]("n_raters") == 3)
    // 2 subjects, 3 raters: s1 all 'x' (s=9), s2 two 'x' one 'y' (s=5)
    // P̄ = (14-6)/(6·2) = 2/3; marginals x=5, y=1 of 6
    // P̄e = (5/6)² + (1/6)² = 26/36; kappa = (2/3 - 26/36)/(1 - 26/36)
    val mixed = Seq(("x", "x", "x"), ("x", "x", "y")).toDF("a", "b", "c")
    val m = Sketches.fleissKappa(mixed, Seq("a", "b", "c")).head
    assert(m.getAs[Double]("p_observed") == math.rint(2.0 / 3.0 * 1e6) / 1e6)
    val pe = 26.0 / 36.0
    val expected = math.rint((2.0 / 3.0 - pe) / (1.0 - pe) * 1e6) / 1e6
    assert(m.getAs[Double]("kappa") == expected,
      s"got ${m.getAs[Double]("kappa")} expected $expected")
  }

  test("cohenKappa: perfect agreement 1, independence-by-construction ~0, textbook 2x2") {
    val perfect = Seq.tabulate(20)(i => (s"l${i % 3}", s"l${i % 3}")).toDF("a", "b")
    assert(Sketches.cohenKappa(perfect, "a", "b").head.getAs[Double]("kappa") == 1.0)
    // textbook 2x2: diag 20+15, off 5+10, n=50 -> po=0.7
    // pe = (25·30 + 25·20)/2500 = 0.5 -> kappa = 0.4
    val rows = Seq.fill(20)(("y", "y")) ++ Seq.fill(5)(("y", "n")) ++
      Seq.fill(10)(("n", "y")) ++ Seq.fill(15)(("n", "n"))
    val r = Sketches.cohenKappa(rows.toDF("a", "b"), "a", "b").head
    assert(r.getAs[Long]("n") == 50L && r.getAs[Double]("p_observed") == 0.7)
    assert(r.getAs[Double]("p_chance") == 0.5 && r.getAs[Double]("kappa") == 0.4)
    // both raters constant: pe = 1, guarded NULL
    val const = Seq.fill(5)(("x", "x")).toDF("a", "b")
    val c = Sketches.cohenKappa(const, "a", "b").head
    assert(c.isNullAt(c.fieldIndex("kappa")))
  }

  test("cronbachAlpha: identical items give 1, a constant item gives 0") {
    // two items moving in lockstep across 4 subjects
    val twin = (1 to 4).flatMap(i => Seq((i.toLong, "a", i.toLong), (i.toLong, "b", i.toLong)))
      .toDF("s", "i", "v")
    val r = Sketches.cronbachAlpha(twin, "s", "i", "v").head
    assert(r.getAs[Long]("n_subjects") == 4L && r.getAs[Long]("n_items") == 2L)
    assert(r.getAs[Double]("alpha") == 1.0)
    // item b constant: contributes no covariance -> alpha 0
    val const = (1 to 4).flatMap(i => Seq((i.toLong, "a", i.toLong), (i.toLong, "b", 5L)))
      .toDF("s", "i", "v")
    assert(Sketches.cronbachAlpha(const, "s", "i", "v").head.getAs[Double]("alpha") == 0.0)
  }

  test("mantelHaenszel: planted Simpson's paradox — crude flips, MH stays") {
    // two strata, each with within-stratum OR = 1 (no true effect), but
    // exposure and outcome both concentrated in stratum s2 -> crude OR > 1
    def rows(g: String, a: Int, b: Int, c: Int, d: Int) =
      Seq.fill(a)((g, true, true)) ++ Seq.fill(b)((g, true, false)) ++
        Seq.fill(c)((g, false, true)) ++ Seq.fill(d)((g, false, false))
    val df = (rows("s1", 1, 9, 4, 36) ++ rows("s2", 36, 4, 9, 1))
      .toDF("g", "ex", "oc")
    val r = Sketches.mantelHaenszel(df, "g", "ex", "oc").head
    assert(r.getAs[Long]("n") == 100L && r.getAs[Long]("n_strata") == 2L)
    // per stratum ad/n = bc/n -> OR_MH exactly 1
    assert(r.getAs[Double]("or_mh") == 1.0, s"adjusted OR must be 1, got ${r.getAs[Double]("or_mh")}")
    // crude: (37·37)/(13·13) ≈ 8.1 — the paradox the adjustment removes
    assert(r.getAs[Double]("or_crude") > 5.0)
  }

  test("huberLocation: one planted outlier barely moves the robust mean") {
    // 9 values near 100 plus one at 10000: plain mean 1090, huber stays close
    val vals = Seq(96L, 97L, 98L, 99L, 100L, 101L, 102L, 103L, 104L, 10000L)
    val df = vals.map(("g", _)).toDF("g", "v")
    val r = Sketches.huberLocation(df, "g", "v", k = 10L, iters = 3).head
    assert(r.getAs[Long]("n") == 10L && r.getAs[Long]("plain_mean") == 1090L)
    val h = r.getAs[Long]("huber_mean")
    assert(h >= 95L && h <= 120L, s"huber mean must resist the outlier, got $h")
    // outlier-free data: huber == plain mean after any number of sweeps
    val clean = Seq(10L, 20L, 30L).map(("c", _)).toDF("g", "v")
    val c = Sketches.huberLocation(clean, "g", "v", k = 100L, iters = 2).head
    assert(c.getAs[Long]("huber_mean") == c.getAs[Long]("plain_mean"))
  }

  test("tukeyPairs: hand-computed contrasts on the ANOVA fixture") {
    val df = Seq("a" -> 1L, "a" -> 2L, "a" -> 3L, "b" -> 4L, "b" -> 5L, "b" -> 6L,
      "c" -> 7L, "c" -> 8L, "c" -> 9L).toDF("g", "v")
    val out = Sketches.tukeyPairs(df, "g", "v").orderBy("group_a", "group_b")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    // MSW = 6/6 = 1; SE = sqrt(1/2·(1/3+1/3)) = sqrt(1/3); means 2, 5, 8
    val se = math.rint(math.sqrt(1.0 / 3.0) * 1e6) / 1e6
    assert(out.length == 3)
    assert(out(0)._1 == "a" && out(0)._2 == "b" && out(0)._3 == -3.0 && out(0)._4 == se)
    assert(out(2)._1 == "b" && out(2)._2 == "c" && out(2)._3 == -3.0)
    val q = math.rint(3.0 / math.sqrt(1.0 / 3.0) * 1e6) / 1e6
    assert(out(0)._5 == q, s"q stat: got ${out(0)._5} expected $q")
  }

  test("spearmanCorr: Pearson over tie-averaged ranks, exact on monotone data") {
    val mono = (1 to 20).map(i => ("k", i, i * i)).toDF("k", "x", "y")
    val rho1 = Sketches.spearmanCorr(mono, Seq("k"), "x", "y")
      .head.getAs[Double]("rho")
    assert(rho1 == 1.0, s"strictly monotone pairs must give rho = 1, got $rho1")
    val data = Seq(1.0 -> 5.0, 2.0 -> 6.0, 3.0 -> 7.0, 4.0 -> 8.0, 5.0 -> 7.0)
    def avgRanks(v: Seq[Double]) =
      v.map(x => 1.0 + v.count(_ < x) + (v.count(_ == x) - 1) / 2.0)
    val (rx, ry) = (avgRanks(data.map(_._1)), avgRanks(data.map(_._2)))
    val n = data.size
    val num = n * rx.zip(ry).map { case (a, b) => a * b }.sum - rx.sum * ry.sum
    val den = math.sqrt(n * rx.map(x => x * x).sum - rx.sum * rx.sum) *
      math.sqrt(n * ry.map(y => y * y).sum - ry.sum * ry.sum)
    val expected = math.rint(num / den * 1e6) / 1e6
    val got = Sketches.spearmanCorr(
        data.map { case (x, y) => ("k", x, y) }.toDF("k", "x", "y"), Seq("k"), "x", "y")
      .head.getAs[Double]("rho")
    assert(math.abs(got - expected) < 1e-9, s"ties rho: got $got expected $expected")
  }

  test("diversityIndex: uniform mix gives shannon = ln k, evenness 1; single category NULL evenness") {
    val df = (for (u <- 1 to 2; c <- Seq("a", "b", "c", "d"); _ <- 1 to 3)
      yield (u, c)).toDF("u", "cat")
    val r = Sketches.diversityIndex(df, Seq("u"), "cat").orderBy("u").head
    assert(r.getAs[Long]("n") == 12L && r.getAs[Long]("n_categories") == 4L)
    assert(math.abs(r.getAs[Double]("shannon") - math.log(4.0)) < 1e-5)
    assert(r.getAs[Double]("evenness") == 1.0)
    assert(math.abs(r.getAs[Double]("simpson") - 0.75) < 1e-9)
    val single = Seq((1, "a"), (1, "a")).toDF("u", "cat")
    val s = Sketches.diversityIndex(single, Seq("u"), "cat").head
    assert(s.getAs[Double]("shannon") == 0.0 && s.isNullAt(s.fieldIndex("evenness")))
  }

  test("runsTest: monotone ramp streaks (z<0), alternation scores z>0") {
    import spark.implicits._
    val ramp = (1 to 10).map(t => ("r", t, t.toLong)).toDF("g", "o", "v")
    val r = Sketches.runsTest(ramp, Seq("g"), "o", "v").head
    assert(r.getAs[Long]("runs") == 2L) // below-block then above-block
    assert(r.getAs[Double]("z") < -2.0)
    val alt = Seq(10L, 1L, 20L, 2L, 30L, 3L).zipWithIndex
      .map { case (v, t) => ("a", t, v) }.toDF("g", "o", "v")
    val a = Sketches.runsTest(alt, Seq("g"), "o", "v").head
    assert(a.getAs[Long]("runs") == 5L && a.getAs[Double]("z") > 0.0)
  }

  test("cochranQ: hand 4x3 table gives 28/6, degenerate table is NULL") {
    import spark.implicits._
    val df = Seq((true, true, false), (true, false, false),
      (true, true, true), (true, false, false)).toDF("r1", "r2", "r3")
    val r = Sketches.cochranQ(df, Seq("r1", "r2", "r3")).head
    assert(r.getAs[Long]("n") == 4L && r.getAs[Long]("dof") == 2L)
    assert(math.abs(r.getAs[Double]("q") - 28.0 / 6) < 1e-6)
    val allSame = Seq((true, true, true), (false, false, false)).toDF("r1", "r2", "r3")
    val s = Sketches.cochranQ(allSame, Seq("r1", "r2", "r3")).head
    assert(s.isNullAt(s.fieldIndex("q")))
  }

  test("classificationReport: hand confusion, union classes, macro/accuracy") {
    import spark.implicits._
    // actual: a,a,a,b,b,c ; predicted: a,a,b,b,b,d
    val df = Seq(("a", "a"), ("a", "a"), ("a", "b"), ("b", "b"), ("b", "b"),
      ("c", "d")).toDF("y", "p")
    val out = Sketches.classificationReport(df, "y", "p").orderBy("label")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("a").getAs[Long]("tp") == 2L && out("a").getAs[Long]("fn") == 1L)
    assert(out("a").getAs[Double]("precision") == 1.0)
    assert(math.abs(out("a").getAs[Double]("f1") - 0.8) < 1e-9) // 4/(4+0+1)
    assert(out("b").getAs[Long]("fp") == 1L)
    // 'd' never actual: support 0, recall NULL, f1 = 0
    assert(out("d").getAs[Long]("support") == 0L)
    assert(out("d").isNullAt(out("d").fieldIndex("recall")))
    assert(out("d").getAs[Double]("f1") == 0.0)
    assert(math.abs(out("a").getAs[Double]("accuracy") - 4.0 / 6) < 1e-6)
  }

  test("friedmanTest: consistent ranking maxes Q, incomplete blocks drop") {
    import spark.implicits._
    // 4 blocks, 3 treatments always ranked A<B<C: Q = 12/48·224 − 48 = 8
    val df = (1 to 4).flatMap(b => Seq(
      (b, "A", 10L * b), (b, "B", 10L * b + 1), (b, "C", 10L * b + 2)))
      .toDF("b", "t", "v")
    val r = Sketches.friedmanTest(df, "b", "t", "v").head
    assert(r.getAs[Long]("n_blocks") == 4L && r.getAs[Long]("k") == 3L)
    assert(r.getAs[Long]("dof") == 2L)
    assert(r.getAs[Double]("q") == 8.0)
    // a block missing a treatment is dropped entirely
    val withBad = df.unionByName(Seq((9, "A", 1L)).toDF("b", "t", "v"))
    assert(Sketches.friedmanTest(withBad, "b", "t", "v")
      .head.getAs[Long]("n_blocks") == 4L)
  }

  test("mcnemar: textbook discordant cells, perfect agreement is NULL") {
    import spark.implicits._
    // b=10 (A only), c=4 (B only): chi2 = 36/14, corrected = 25/14
    val df = (Seq.fill(10)((true, false)) ++ Seq.fill(4)((false, true)) ++
      Seq.fill(20)((true, true)) ++ Seq.fill(6)((false, false)))
      .toDF("a", "b")
    val r = Sketches.mcnemar(df, "a", "b").head
    assert(r.getAs[Long]("b_only") == 10L && r.getAs[Long]("c_only") == 4L)
    assert(math.abs(r.getAs[Double]("chi2") - 36.0 / 14) < 1e-6)
    assert(math.abs(r.getAs[Double]("chi2_corrected") - 25.0 / 14) < 1e-6)
    val same = Seq((true, true), (false, false)).toDF("a", "b")
    val s = Sketches.mcnemar(same, "a", "b").head
    assert(s.isNullAt(s.fieldIndex("chi2")))
  }

  test("leveneTest: equal-spread groups score F=0, unequal spread blows up") {
    import spark.implicits._
    // same spread shifted: deviations identical ⇒ SSB = 0 ⇒ F = 0
    val eq = (Seq(("a", 1L), ("a", 3L), ("a", 5L)) ++
      Seq(("b", 11L), ("b", 13L), ("b", 15L))).toDF("g", "v")
    assert(Sketches.leveneTest(eq, "g", "v").head.getAs[Double]("f") == 0.0)
    // one tight group, one wide
    val ne = (Seq(("a", 10L), ("a", 10L), ("a", 10L), ("a", 11L)) ++
      Seq(("b", 0L), ("b", 50L), ("b", 100L), ("b", 150L))).toDF("g", "v")
    assert(Sketches.leveneTest(ne, "g", "v").head.getAs[Double]("f") > 5.0)
  }

  test("jarqueBera: symmetric data scores near zero skew, outliers blow up JB") {
    import spark.implicits._
    val sym = (1L to 100L).map(v => ("s", v))
    val skw = (Seq.fill(50)(1L) ++ Seq.fill(5)(100L)).map(v => ("k", v))
    val out = Sketches.jarqueBera((sym ++ skw).toDF("g", "v"), Seq("g"), "v")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("skewness"), r.getAs[Double]("jb"))).toMap
    assert(math.abs(out("s")._1) < 1e-4)
    // discrete uniform: JB = n/6·(g2²/4) with g2 ≈ −1.2 ⇒ ≈ 6
    assert(out("s")._2 > 5.0 && out("s")._2 < 7.0)
    assert(out("k")._1 > 2.0)         // heavy right tail
    assert(out("k")._2 > 100.0)       // decisively non-normal
    // constant column: NULL
    val c = Sketches.jarqueBera(Seq(("c", 5L), ("c", 5L), ("c", 5L), ("c", 5L))
      .toDF("g", "v"), Seq("g"), "v").head
    assert(c.isNullAt(c.fieldIndex("jb")))
  }

  test("woeIv reproduces the hand-computed WOE and IV") {
    import spark.implicits._
    // A: 30 good / 10 bad, B: 20 good / 40 bad ⇒ WOE_A = ln3, WOE_B = -ln2
    val df = (Seq.fill(30)(("A", false)) ++ Seq.fill(10)(("A", true)) ++
      Seq.fill(20)(("B", false)) ++ Seq.fill(40)(("B", true)))
      .toDF("cat", "y")
    val out = Sketches.woeIv(df, "cat", "y").orderBy("category").collect()
    assert(math.abs(out(0).getAs[Double]("woe") - math.log(3.0)) < 1e-5)
    assert(math.abs(out(1).getAs[Double]("woe") + math.log(2.0)) < 1e-5)
    // IV = 0.4·ln3 + 0.4·ln2 = 0.716703...
    assert(math.abs(out(0).getAs[Double]("iv") - 0.716704) < 1e-5)
    // zero-cell category: NULL woe, excluded from IV
    val z = (Seq.fill(5)(("A", false)) ++ Seq.fill(5)(("A", true)) ++
      Seq.fill(3)(("Z", true))).toDF("cat", "y")
    val zr = Sketches.woeIv(z, "cat", "y").orderBy("category").collect()
    assert(zr(1).isNullAt(zr(1).fieldIndex("woe")))
  }

  test("liftTable concentrates planted responders in the top bucket") {
    import spark.implicits._
    // 20 rows, scores 20..1; responders are exactly scores 16..20
    val df = (1 to 20).map(i => ("k", i.toLong, i > 15, i)).toDF("g", "s", "y", "t")
    val out = Sketches.liftTable(df, Seq("g"), "s", "y", Seq("t"), buckets = 4)
      .orderBy("bucket").collect()
    assert(out.length == 4)
    assert(out(0).getAs[Long]("responders") == 5L)
    assert(out(0).getAs[Double]("lift") == 4.0)      // (5·20)/(5·5)
    assert(out(0).getAs[Double]("cum_gain") == 1.0)  // all captured in b1
    assert(out(3).getAs[Long]("responders") == 0L &&
      out(3).getAs[Double]("lift") == 0.0)
  }

  test("rocAuc midranks ties and matches the hand pair count") {
    import spark.implicits._
    // pos scores {3,5}, neg {1,3}: pairs 1 + .5 + 1 + 1 = 3.5 of 4 = 0.875
    val df = Seq((true, 3L), (true, 5L), (false, 1L), (false, 3L))
      .toDF("y", "s")
    val r = Sketches.rocAuc(df, "y", "s").head
    assert(r.getAs[Long]("n_pos") == 2L && r.getAs[Long]("n_neg") == 2L)
    assert(r.getAs[Double]("auc") == 0.875)
    // perfect separation = 1, anti-separation = 0
    val sep = Seq((true, 10L), (true, 9L), (false, 2L), (false, 1L)).toDF("y", "s")
    assert(Sketches.rocAuc(sep, "y", "s").head.getAs[Double]("auc") == 1.0)
  }

  test("cramerVonMises: hand ECDF discrepancies and the Szekely identity") {
    import spark.implicits._
    val df = Seq(("A", 0L), ("A", 4L), ("B", 2L), ("B", 2L)).toDF("g", "v")
    val r = Sketches.cramerVonMises(df, "g", "v", "A", "B").head
    assert(r.getAs[Double]("cvm") == 0.1875)     // 12/64
    // D² = 2E|X−Y| − E|X−X'| − E|Y−Y'| = 4 − 2 − 0 = 2
    assert(r.getAs[Double]("energy_sq") == 2.0)
    val same = Seq("A", "B").flatMap(g => Seq((g, 1L), (g, 7L))).toDF("g", "v")
    val s = Sketches.cramerVonMises(same, "g", "v", "A", "B").head
    assert(s.getAs[Double]("cvm") == 0.0 && s.getAs[Double]("energy_sq") == 0.0)
  }

  test("andersonDarling: hand case; identical zero; tail-sensitivity vs CvM; invariant") {
    import spark.implicits._
    // A = {1,2}, B = {3,4}: terms l*X^2/(B(N-B)) at v=1: 1*4/(1*3),
    // v=2: 1*16/(2*2), v=3: 1*4/(3*1); B=N block excluded.
    // Scholz-Stephens eq. 3 scale (no (N-1)/N midrank prefactor — r10
    // ADVICE): A^2 = (4/3 + 4 + 4/3) / (n_A*n_B) = (20/3)/4 = 5/3
    val df = Seq(("A", 1L), ("A", 2L), ("B", 3L), ("B", 4L)).toDF("g", "v")
    val r = Sketches.andersonDarling(df, "g", "v", "A", "B").head
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Double]("ad") == 1.666667)
    // identical distributions: X = 0 at every distinct value
    val same = Seq("A", "B").flatMap(g => Seq((g, 1L), (g, 7L))).toDF("g", "v")
    assert(Sketches.andersonDarling(same, "g", "v", "A", "B")
      .head.getAs[Double]("ad") == 0.0)
    // a pure TAIL shift (one far outlier moved) must move AD
    // proportionally more than CvM: same bulk, B's max pushed out
    val bulk = (1L to 40L).flatMap(i => Seq(("A", i), ("B", i)))
    val tailA = (bulk :+ (("A", 41L)) :+ (("B", 400L))).toDF("g", "v")
    val ad = Sketches.andersonDarling(tailA, "g", "v", "A", "B").head.getAs[Double]("ad")
    val cvm = Sketches.cramerVonMises(tailA, "g", "v", "A", "B").head.getAs[Double]("cvm")
    assert(ad > 4 * cvm, s"ad=$ad cvm=$cvm — tail weight must dominate")
    val g7 = Sketches.andersonDarling(df.repartition(7), "g", "v", "A", "B").head
    assert(g7.getAs[Double]("ad") == 1.666667)
  }

  test("abPower: hand MDE/n-required; tighter alpha widens MDE; invariant") {
    import spark.implicits._
    // arm a {0,2}: va = 2; arm b {1,1}: vb = 0 -> se = sqrt(2/2) = 1,
    // MDE = z.975+z.8 = 2.8015852...; n_req(effect 1) = ceil(z^2*2) = 16
    val df = Seq(("a", 0.0), ("a", 2.0), ("b", 1.0), ("b", 1.0)).toDF("g", "v")
      .repartition(3)
    val r = Sketches.abPower(df, "g", "v", "a", "b", targetEffect = Some(1.0)).head
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Double]("observed_diff") == 0.0)
    assert(r.getAs[Double]("se_diff") == 1.0)
    assert(r.getAs[Double]("mde") == 2.801585)
    assert(r.getAs[Long]("n_required_per_arm") == 16L)
    // stricter alpha demands a larger detectable effect
    val strict = Sketches.abPower(df, "g", "v", "a", "b", alpha = 0.01).head
    assert(strict.getAs[Double]("mde") > r.getAs[Double]("mde"))
    // no targetEffect -> no n_required column
    assert(!Sketches.abPower(df, "g", "v", "a", "b").columns
      .contains("n_required_per_arm"))
    val g7 = Sketches.abPower(df.repartition(7), "g", "v", "a", "b",
      targetEffect = Some(1.0)).head
    assert(g7.getAs[Double]("mde") == 2.801585)
  }

  test("metaAnalysis: hand pooling; homogeneous I2 zero; se<=0 excluded; invariant") {
    import spark.implicits._
    // e1=1 se1=1 (w=1), e2=4 se2=0.5 (w=4): pooled = 17/5 = 3.4,
    // se = sqrt(1/5), Q = 1*(2.4)^2 + 4*(0.6)^2 = 7.2, I2 = 6.2/7.2
    val df = Seq((1.0, 1.0), (4.0, 0.5), (9.9, 0.0), (5.0, -1.0))
      .toDF("e", "se").repartition(3)
    val r = Sketches.metaAnalysis(df, "e", "se").head
    assert(r.getAs[Long]("k") == 2L)
    assert(r.getAs[Double]("pooled_effect") == 3.4)
    assert(r.getAs[Double]("pooled_se") == 0.447214)
    assert(r.getAs[Double]("q_stat") == 7.2)
    assert(math.abs(r.getAs[Double]("i2") - 6.2 / 7.2) < 1e-6)
    // identical studies: Q = 0, I2 reads 0 (not NULL) — homogeneity is a result
    val same = Seq((2.0, 0.5), (2.0, 0.5), (2.0, 0.5)).toDF("e", "se")
    val s = Sketches.metaAnalysis(same, "e", "se").head
    assert(s.getAs[Double]("pooled_effect") == 2.0)
    assert(s.getAs[Double]("q_stat") == 0.0 && s.getAs[Double]("i2") == 0.0)
    // single informative study: no heterogeneity to speak of
    val one = Sketches.metaAnalysis(Seq((2.0, 0.5)).toDF("e", "se"), "e", "se").head
    assert(one.isNullAt(one.fieldIndex("q_stat")) && one.isNullAt(one.fieldIndex("i2")))
    val g7 = Sketches.metaAnalysis(df.repartition(7), "e", "se").head
    assert(g7.getAs[Double]("q_stat") == 7.2)
  }

  test("yuenTTest: hand trimmed/winsorized arithmetic; outlier robustness; invariant") {
    import spark.implicits._
    // a = 1..10, b = 11..20, trim .2 -> k=2, h=6: tmeans 5.5/15.5,
    // s2w = (345-302.5)/9, d = 42.5/30 each, t = -10/sqrt(85/30), dof = 10
    val df = ((1 to 10).map(v => ("a", v.toLong)) ++
      (11 to 20).map(v => ("b", v.toLong))).toDF("g", "v").repartition(3)
    val r = Sketches.yuenTTest(df, "g", "v", "a", "b", trimFrac = 0.2).head
    assert(r.getAs[Long]("h_a") == 6L && r.getAs[Long]("h_b") == 6L)
    assert(r.getAs[Double]("tmean_a") == 5.5 && r.getAs[Double]("tmean_b") == 15.5)
    assert(math.abs(r.getAs[Double]("t_stat") - (-10.0 / math.sqrt(85.0 / 30))) < 1e-6)
    assert(r.getAs[Double]("dof") == 10.0)
    // one absurd outlier in a: the trimmed test barely moves, Welch collapses
    val out = (df.collect().map(x => (x.getString(0), x.getLong(1))).toSeq :+
      (("a", 100000L))).toDF("g", "v")
    val y2 = Sketches.yuenTTest(out, "g", "v", "a", "b", trimFrac = 0.2).head
    val w2 = Sketches.welchTTest(out.withColumn("vd", col("v").cast("double")),
      "g", "vd", "a", "b").head
    assert(math.abs(y2.getAs[Double]("t_stat")) > 4.0,
      s"yuen=${y2.getAs[Double]("t_stat")}")
    assert(math.abs(w2.getAs[Double]("t_stat")) < 1.5,
      s"welch=${w2.getAs[Double]("t_stat")}")
    val g7 = Sketches.yuenTTest(df.repartition(7), "g", "v", "a", "b", 0.2).head
    assert(g7.getAs[Double]("t_stat") == r.getAs[Double]("t_stat"))
  }

  test("effectSize: hand Cohen's d / Hedges g / Glass delta; degenerate NULLs") {
    import spark.implicits._
    // a {0,2,4}: mean 2, var 4; b {1,1,1,3}: mean 1.5, var 1
    // sp = sqrt((2*4 + 3*1)/5) = sqrt(2.2); d = .5/sqrt(2.2)
    // g = d*(1 - 3/(4*7-9)) = d*16/19; glass = .5/1
    val df = (Seq(0.0, 2.0, 4.0).map(("a", _)) ++
      Seq(1.0, 1.0, 1.0, 3.0).map(("b", _))).toDF("g", "v").repartition(3)
    val r = Sketches.effectSize(df, "g", "v", "a", "b").head
    assert(r.getAs[Double]("mean_diff") == 0.5)
    assert(math.abs(r.getAs[Double]("pooled_sd") - math.sqrt(2.2)) < 1e-6)
    val d = 0.5 / math.sqrt(2.2)
    assert(math.abs(r.getAs[Double]("cohens_d") - d) < 1e-6)
    assert(math.abs(r.getAs[Double]("hedges_g") - d * 16 / 19) < 1e-6)
    assert(r.getAs[Double]("glass_delta") == 0.5)
    // both groups constant: pooled sd 0 -> NULL d/g (diff survives)
    val const = Seq(("a", 5.0), ("a", 5.0), ("b", 3.0), ("b", 3.0)).toDF("g", "v")
    val c = Sketches.effectSize(const, "g", "v", "a", "b").head
    assert(c.getAs[Double]("mean_diff") == 2.0)
    assert(c.isNullAt(c.fieldIndex("cohens_d")) && c.isNullAt(c.fieldIndex("glass_delta")))
  }

  test("msprt: null effect clamps p to 1; planted effect rejects; hand log-lambda") {
    import spark.implicits._
    // arms {0,2} vs {1,1}: se2 = 1, d = 0, tau = 1:
    // logLambda = 0.5*ln(1/2), p = min(1, sqrt(2)) = 1 -> never rejects on noise
    val df = Seq(("a", 0.0), ("a", 2.0), ("b", 1.0), ("b", 1.0)).toDF("g", "v")
      .repartition(3)
    val r = Sketches.msprt(df, "g", "v", "a", "b", tau = 1.0).head
    assert(r.getAs[Double]("diff") == 0.0)
    assert(math.abs(r.getAs[Double]("log_lambda") - 0.5 * math.log(0.5)) < 1e-6)
    assert(r.getAs[Double]("p_always_valid") == 1.0 && !r.getAs[Boolean]("reject"))
    // an overwhelming effect: p crushes to 0 and rejects
    val big = Seq(("a", 10.0), ("a", 10.2), ("b", 0.0), ("b", 0.2)).toDF("g", "v")
    val s = Sketches.msprt(big, "g", "v", "a", "b", tau = 1.0).head
    assert(s.getAs[Double]("diff") == 10.0)
    assert(s.getAs[Double]("p_always_valid") == 0.0 && s.getAs[Boolean]("reject"))
    val g7 = Sketches.msprt(df.repartition(7), "g", "v", "a", "b", tau = 1.0).head
    assert(g7.getAs[Double]("log_lambda") == r.getAs[Double]("log_lambda"))
  }

  test("wasserstein1d matches the hand-computed earth-mover distance") {
    import spark.implicits._
    // A uniform on {0,4}, B point mass at 2: EMD = (2+2)/2 = 2
    val df = Seq(("A", 0L), ("A", 4L), ("B", 2L), ("B", 2L))
      .toDF("g", "v")
    val r = Sketches.wasserstein1d(df, "g", "v", "A", "B").head
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Double]("wasserstein") == 2.0)
  }

  test("wasserstein1d on identical distributions is exactly zero") {
    import spark.implicits._
    val df = Seq("A", "B").flatMap(g => Seq((g, 1L), (g, 5L), (g, 9L)))
      .toDF("g", "v")
    val r = Sketches.wasserstein1d(df, "g", "v", "A", "B").head
    assert(r.getAs[Double]("wasserstein") == 0.0)
  }

  test("herfindahl: duopoly/dominant/monopoly hand cases; normalization bounds") {
    val df = Seq(
      ("duo", "a", 50.0), ("duo", "b", 50.0),
      ("dom", "a", 90.0), ("dom", "b", 10.0),
      ("mono", "a", 7.0)).toDF("k", "e", "v").repartition(3)
    val got = Sketches.herfindahl(df, Seq("k"), "e", "v")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_entities"), r.getAs[Double]("hhi"),
          r.getAs[java.lang.Double]("hhi_norm"))).toMap
    assert(got("duo") == ((2L, 0.5, 0.0: java.lang.Double)))
    assert(got("dom")._2 == 0.82 && got("dom")._3 == 0.64)
    assert(got("mono")._2 == 1.0 && got("mono")._3 == null,
      "single-entity concentration is vacuous")
  }

  test("hellinger: identical distributions read 0, disjoint read 1; hand term") {
    // identical: every bin term 0
    val a = (1 to 100).map(i => (i % 10).toDouble)
    val same = Sketches.hellinger(a.toDF("v"), a.toDF("v"), "v", nBins = 10)
      .agg(sum(col("h2_term"))).head.getDouble(0)
    assert(same == 0.0)
    // disjoint occupancy within shared bounds: baseline in bin 0, current
    // in the top bin -> H^2 = (1/2 + 1/2) = 1
    val base = Seq.fill(50)(0.0) ++ Seq(9.0) // one baseline row pins the range
    val cur = Seq.fill(50)(9.0)
    val h = Sketches.hellinger(base.toDF("v"), cur.toDF("v"), "v", nBins = 10)
      .collect()
    val tot = h.map(_.getAs[Double]("h2_term")).sum
    // baseline has 51 rows (50 at bin 0, 1 at bin 9); current all in bin 9.
    // Only bin 9 contributes a cross term: H^2 = 1 - sqrt(p9*q9)
    //   = 1 - sqrt((1/51)*1) = 0.85997...
    val expected = 1.0 - math.sqrt(1.0 / 51.0)
    assert(math.abs(tot - expected) < 1e-12, s"H2=$tot expected=$expected")
  }

  test("concordanceCcc: identity is 1; a pure shift keeps r=1 but drops CCC") {
    val same = Seq((0.0, 0.0), (1.0, 1.0), (2.0, 2.0)).toDF("x", "y")
    val s0 = Sketches.concordanceCcc(same, "x", "y").head
    assert(s0.getAs[Double]("ccc") == 1.0 && s0.getAs[Double]("pearson_r") == 1.0)
    // y = x + 1: Pearson forgives the shift, CCC must not
    // hand: covN=4, vxN=vyN=4, dmean=-1, n=2 -> ccc = 8/12
    val shift = Seq((0.0, 1.0), (2.0, 3.0)).toDF("x", "y").repartition(2)
    val s1 = Sketches.concordanceCcc(shift, "x", "y").head
    assert(s1.getAs[Double]("pearson_r") == 1.0)
    assert(s1.getAs[Double]("ccc") == 0.666667)
    assert(s1.getAs[Double]("location_shift") == -1.0)
    // degenerate: both constant and equal -> denom 0 -> NULL ccc
    val const = Seq((5.0, 5.0), (5.0, 5.0)).toDF("x", "y")
    val c = Sketches.concordanceCcc(const, "x", "y").head
    assert(c.isNullAt(c.fieldIndex("ccc")) && c.isNullAt(c.fieldIndex("pearson_r")))
  }

  test("calibrationError: hand-solved ECE/MCE; perfect calibration reads zero") {
    // bin .8: 4 rows, 2 positives -> gap .3; bin .2: 4 rows, 1 positive -> gap .05
    val df = (Seq.fill(2)((0.8, true)) ++ Seq.fill(2)((0.8, false)) ++
      Seq((0.2, true)) ++ Seq.fill(3)((0.2, false))).toDF("p", "y").repartition(3)
    val r = Sketches.calibrationError(df, "p", "y", bins = 10).head
    assert(r.getAs[Long]("n") == 8L && r.getAs[Long]("n_bins_used") == 2L)
    assert(r.getAs[Double]("ece") == 0.175 && r.getAs[Double]("mce") == 0.3)
    // perfectly calibrated bins: both metrics vanish
    val perfect = (Seq((0.5, true), (0.5, false)) ++
      Seq.fill(3)((1.0, true))).toDF("p", "y")
    val p = Sketches.calibrationError(perfect, "p", "y", bins = 10).head
    assert(p.getAs[Double]("ece") == 0.0 && p.getAs[Double]("mce") == 0.0)
  }

  test("cuped: balanced covariate keeps the ATE, theta ~ slope; constant x NULLs") {
    // y = 2x + 0.5·treated, identical x grids per arm: both ATEs read 0.5
    val rows = for (x <- 1 to 10; tr <- Seq(true, false))
      yield (tr, 2.0 * x + (if (tr) 0.5 else 0.0), x.toDouble)
    val df = rows.toDF("tr", "y", "x").repartition(3)
    val r = Sketches.cuped(df, "tr", "y", "x").head
    assert(r.getAs[Long]("n_t") == 10L && r.getAs[Long]("n_c") == 10L)
    assert(r.getAs[Double]("ate_raw") == 0.5)
    assert(math.abs(r.getAs[Double]("ate_cuped") - 0.5) < 1e-6)
    assert(math.abs(r.getAs[Double]("theta") - 2.0) < 0.01)
    assert(r.getAs[Double]("rho2") > 0.9)
    // constant covariate: theta/rho2/adjusted NULL, the raw ATE survives
    val flat = rows.map { case (t2, yv, _) => (t2, yv, 7.0) }.toDF("tr", "y", "x")
    val f = Sketches.cuped(flat, "tr", "y", "x").head
    assert(f.isNullAt(f.fieldIndex("theta")) && f.isNullAt(f.fieldIndex("ate_cuped")))
    assert(!f.isNullAt(f.fieldIndex("ate_raw")))
    val r7 = Sketches.cuped(df.repartition(7), "tr", "y", "x").head
    assert(r7.getAs[Double]("theta") == r.getAs[Double]("theta"))
  }

  test("kishWeightedMean: equal weights are deff 1; concentration inflates deff") {
    val eq = Seq((1.0, 1.0), (2.0, 1.0), (3.0, 1.0), (4.0, 1.0)).toDF("y", "w")
    val r = Sketches.kishWeightedMean(eq.repartition(3), "y", "w").head
    assert(r.getAs[Long]("n") == 4L)
    assert(r.getAs[Double]("mean_w") == 2.5)
    assert(r.getAs[Double]("eff_n") == 4.0)
    assert(r.getAs[Double]("deff") == 1.0)
    assert(math.abs(r.getAs[Double]("se") - math.sqrt(1.25 / 4.0)) < 1e-6)
    // one dominant weight: the sample is "worth" barely more than 1 row
    val hot = Seq((1.0, 1000.0), (2.0, 1.0), (3.0, 1.0), (4.0, 1.0)).toDF("y", "w")
    val h = Sketches.kishWeightedMean(hot, "y", "w").head
    assert(h.getAs[Double]("eff_n") < 1.05 && h.getAs[Double]("deff") > 3.0)
    assert(math.abs(h.getAs[Double]("mean_w") - 1.0) < 0.01)
  }

  test("jackknifeGroupSe: two-group hand case, single-group NULL, invariant") {
    // groups {1,1} and {3,3}: leave-one-out means are 3 and 1, so the
    // delete-a-group jackknife SE is exactly |3-1|/2 = 1
    val df = Seq((1.0, "a"), (1.0, "a"), (3.0, "b"), (3.0, "b")).toDF("y", "g")
    val r = Sketches.jackknifeGroupSe(df.repartition(3), "y", "g").head
    assert(r.getAs[Long]("groups") == 2L && r.getAs[Long]("n") == 4L)
    assert(r.getAs[Double]("mean") == 2.0)
    assert(r.getAs[Double]("se_jack") == 1.0)
    val r5 = Sketches.jackknifeGroupSe(df.repartition(5), "y", "g").head
    assert(r5.getAs[Double]("se_jack") == 1.0)
    // one group holds everything: its leave-one-out mean is undefined
    val solo = Seq((1.0, "a"), (2.0, "a")).toDF("y", "g")
    val s = Sketches.jackknifeGroupSe(solo, "y", "g").head
    assert(s.isNullAt(s.fieldIndex("se_jack")))
  }

  test("wilcoxonSignedRank: hand ranks, zero-diff drop, tie correction, invariant") {
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // d = {+1,+2,-3,+4,+5}: ranks 1..5, W+ = 1+2+4+5 = 12; plus one zero
    // pair that drops from the ranking but counts in n_pairs
    val df = Seq((11L, 10L), (12L, 10L), (7L, 10L), (14L, 10L), (15L, 10L), (10L, 10L))
      .toDF("x", "y")
    val r = Sketches.wilcoxonSignedRank(df, "x", "y").head
    assert(r.getAs[Long]("n_pairs") == 6L && r.getAs[Long]("n_nonzero") == 5L)
    assert(r.getAs[Double]("w_plus") == 12.0)
    // mu = 7.5, sigma^2 = 5*6*11/24 = 13.75
    assert(r.getAs[Double]("z") == r6(4.5 / math.sqrt(13.75)), r.toString)
    assert(!r.getAs[Boolean]("reject_95"))
    // ties: d = {+1,-1,+2} -> midranks 1.5,1.5,3; W+ = 4.5; ties 2^3-2 = 6
    val t = Sketches.wilcoxonSignedRank(
      Seq((2L, 1L), (1L, 2L), (3L, 1L)).toDF("x", "y"), "x", "y").head
    assert(t.getAs[Double]("w_plus") == 4.5)
    assert(t.getAs[Double]("z") == r6(1.5 / math.sqrt(3.0 * 4.0 * 7.0 / 24.0 - 6.0 / 48.0)))
    // partition invariance
    val p = Sketches.wilcoxonSignedRank(df.repartition(7), "x", "y").head
    assert(p.getAs[Double]("w_plus") == 12.0 && p.getAs[Double]("z") == r.getAs[Double]("z"))
    // all differences zero: no ranks, z undefined
    val z0 = Sketches.wilcoxonSignedRank(Seq((5L, 5L), (6L, 6L)).toDF("x", "y"), "x", "y").head
    assert(z0.getAs[Long]("n_pairs") == 2L && z0.isNullAt(z0.fieldIndex("z")))
  }

  test("signTest: hand continuity-corrected z, zero drop, all-zero NULL, invariance") {
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // 7 positive of 9 nonzero (+ one zero pair): z = (14 - 9 - 1)/3
    val df = (1L to 7L).map(i => (10L + i, 10L)) ++
      Seq((9L, 10L), (8L, 10L), (10L, 10L))
    val r = Sketches.signTest(df.toDF("x", "y"), "x", "y").head
    assert(r.getAs[Long]("n_pairs") == 10L && r.getAs[Long]("n_nonzero") == 9L)
    assert(r.getAs[Long]("n_pos") == 7L)
    assert(r.getAs[Double]("z") == r6(4.0 / 3.0))
    assert(!r.getAs[Boolean]("reject_95"))
    // perfectly balanced: z exactly 0
    val b = Sketches.signTest(
      Seq((2L, 1L), (1L, 2L)).toDF("x", "y"), "x", "y").head
    assert(b.getAs[Double]("z") == 0.0)
    // all differences zero: undefined
    val z0 = Sketches.signTest(Seq((5L, 5L)).toDF("x", "y"), "x", "y").head
    assert(z0.isNullAt(z0.fieldIndex("z")))
    val p = Sketches.signTest(df.toDF("x", "y").repartition(7), "x", "y").head
    assert(p.getAs[Double]("z") == r.getAs[Double]("z"))
  }

  test("krippendorffAlpha: hand coincidence case, unanimity = 1, unpairable drop") {
    // units {a,a}, {a,b}, {b,b,b} + a single-rating unit that drops:
    // n = 7, Do·n = 2, marginals a=3 b=4 -> De = 24/42, alpha = 0.5
    val df = Seq(
      (1L, "a"), (1L, "a"), (2L, "a"), (2L, "b"),
      (3L, "b"), (3L, "b"), (3L, "b"), (4L, "a"))
      .toDF("u", "v")
    val r = Sketches.krippendorffAlpha(df.repartition(5), "u", "v").head
    assert(r.getAs[Long]("n_units") == 3L && r.getAs[Long]("n_ratings") == 7L)
    assert(r.getAs[Long]("n_categories") == 2L)
    assert(r.getAs[Double]("do_rate") == 0.285714 && r.getAs[Double]("de_rate") == 0.571429)
    assert(r.getAs[Double]("alpha") == 0.5, r.toString)
    // unanimous units over two categories: perfect reliability
    val u = Sketches.krippendorffAlpha(
      Seq((1L, "a"), (1L, "a"), (2L, "b"), (2L, "b")).toDF("u", "v"), "u", "v").head
    assert(u.getAs[Double]("alpha") == 1.0)
    // a single category everywhere: De = 0, alpha undefined
    val one = Sketches.krippendorffAlpha(
      Seq((1L, "a"), (1L, "a")).toDF("u", "v"), "u", "v").head
    assert(one.isNullAt(one.fieldIndex("alpha")))
  }

  test("icc: hand one-way ANOVA, perfect within-unit agreement, degenerate guards") {
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // units {1,2}, {5,6}, {9,10}: MSB = 32, MSW = 0.5, k0 = 2
    val df = Seq((1L, 1L), (1L, 2L), (2L, 5L), (2L, 6L), (3L, 9L), (3L, 10L))
      .toDF("u", "v")
    val r = Sketches.icc(df.repartition(4), "u", "v").head
    assert(r.getAs[Long]("n_units") == 3L && r.getAs[Long]("n_ratings") == 6L)
    assert(r.getAs[Double]("k0") == 2.0)
    assert(r.getAs[Double]("msb") == 32.0 && r.getAs[Double]("msw") == 0.5)
    assert(r.getAs[Double]("icc") == r6(31.5 / 32.5), r.toString)
    // identical ratings within units: MSW = 0, ICC = 1
    val p = Sketches.icc(
      Seq((1L, 3L), (1L, 3L), (2L, 7L), (2L, 7L)).toDF("u", "v"), "u", "v").head
    assert(p.getAs[Double]("msw") == 0.0 && p.getAs[Double]("icc") == 1.0)
    // a single unit: between-unit variance undefined, no NaN leaks
    val solo = Sketches.icc(Seq((1L, 3L), (1L, 4L)).toDF("u", "v"), "u", "v").head
    assert(solo.isNullAt(solo.fieldIndex("msb")) && solo.isNullAt(solo.fieldIndex("icc")))
    assert(solo.isNullAt(solo.fieldIndex("k0")))
    // unbalanced: k0 = (N - sum k^2/N)/(n-1) = (5 - 13/5)/1 = 2.4
    val u = Sketches.icc(
      Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 8L), (2L, 9L)).toDF("u", "v"), "u", "v").head
    assert(u.getAs[Double]("k0") == 2.4)
  }

  test("brunnerMunzel: hand overlapping case, complete separation NULL, p_hat") {
    import graft.operators.Sketches
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def run(a: Seq[Long], b: Seq[Long]) =
      Sketches.brunnerMunzel(a.toDF("v").repartition(3), b.toDF("v"), "v").head
    // a=[1,3], b=[2,4]: v1=v2=0.5, W = 1/sqrt(2), p_hat = 0.75, dof = 2
    val r = run(Seq(1L, 3L), Seq(2L, 4L))
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Double]("p_hat") == 0.75)
    assert(r.getAs[Double]("w_stat") == r6(1.0 / math.sqrt(2.0)), r.toString)
    assert(r.getAs[Double]("dof") == 2.0)
    // complete separation: zero rank variance, statistic undefined, p_hat = 1
    val sep = run(Seq(1L, 2L), Seq(3L, 4L))
    assert(sep.getAs[Double]("p_hat") == 1.0)
    assert(sep.isNullAt(sep.fieldIndex("w_stat")))
    // identical samples: p_hat exactly 1/2, W = 0
    val same = run(Seq(1L, 2L, 3L), Seq(1L, 2L, 3L))
    assert(same.getAs[Double]("p_hat") == 0.5)
    assert(same.getAs[Double]("w_stat") == 0.0)
  }

  test("cliffsDelta: hand dominance counts, boundaries, empty-side NULL") {
    def run(a: Seq[Long], b: Seq[Long]) =
      graft.operators.Sketches.cliffsDelta(
        a.toDF("v").repartition(3), b.toDF("v"), "v").head
    // A=[1,2,3] vs B=[2,2,4]: GT=2, TIE=2, LT=5 over 9 pairs
    val r = run(Seq(1L, 2L, 3L), Seq(2L, 2L, 4L))
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 3L)
    assert(r.getAs[Double]("cliffs_delta") == -0.333333)
    assert(r.getAs[Double]("vd_a") == 0.333333)
    assert(r.getAs[String]("magnitude") == "medium")
    // identical distributions: delta 0, A-hat exactly 1/2
    val same = run(Seq(1L, 2L), Seq(1L, 2L))
    assert(same.getAs[Double]("cliffs_delta") == 0.0)
    assert(same.getAs[Double]("vd_a") == 0.5)
    assert(same.getAs[String]("magnitude") == "negligible")
    // complete dominance: delta 1, A-hat 1
    val dom = run(Seq(5L, 6L), Seq(1L, 2L))
    assert(dom.getAs[Double]("cliffs_delta") == 1.0)
    assert(dom.getAs[Double]("vd_a") == 1.0)
    assert(dom.getAs[String]("magnitude") == "large")
    // an empty side identifies nothing
    val empty = run(Seq(1L, 2L), Seq.empty[Long])
    assert(empty.isNullAt(empty.fieldIndex("cliffs_delta")))
    assert(empty.isNullAt(empty.fieldIndex("magnitude")))
  }

  test("chiSquareGof: exact fit 0, hand terms, unseen-category NULL, zero-observed included") {
    import graft.operators.Sketches
    def obs(rows: (String, Int)*) =
      rows.flatMap { case (c, n) => Seq.fill(n)(c) }.toDF("cat").repartition(4)
    val wts = Seq(("a", 5L), ("b", 3L), ("c", 2L)).toDF("cat", "w")
    // observed exactly proportional to weights: chi2 = 0
    val fit = Sketches.chiSquareGof(obs(("a", 50), ("b", 30), ("c", 20)),
      "cat", wts, "cat", "w").head
    assert(fit.getAs[Long]("n") == 100L && fit.getAs[Long]("k") == 3L)
    assert(fit.getAs[Long]("dof") == 2L && fit.getAs[Double]("chi2") == 0.0)
    // hand case: E = (50,30,20), O = (60,25,15) -> 2 + 0.833333 + 1.25
    val hand = Sketches.chiSquareGof(obs(("a", 60), ("b", 25), ("c", 15)),
      "cat", wts, "cat", "w").head
    assert(hand.getAs[Double]("chi2") == 4.083333, hand.toString)
    // zero-observed expected category still contributes its full E term
    val zero = Sketches.chiSquareGof(obs(("a", 10)),
      "cat", Seq(("a", 1L), ("b", 1L)).toDF("cat", "w"), "cat", "w").head
    assert(zero.getAs[Double]("chi2") == 10.0)
    assert(zero.getAs[Long]("n_unexpected") == 0L)
    // observed category missing from the model: statistic undefined
    val unseen = Sketches.chiSquareGof(obs(("a", 8), ("zz", 2)),
      "cat", Seq(("a", 1L)).toDF("cat", "w"), "cat", "w").head
    assert(unseen.getAs[Long]("n_unexpected") == 2L)
    assert(unseen.isNullAt(unseen.fieldIndex("chi2")))
    // non-positive weight: undefined, NULL not NaN
    val badw = Sketches.chiSquareGof(obs(("a", 5), ("b", 5)),
      "cat", Seq(("a", 1L), ("b", 0L)).toDF("cat", "w"), "cat", "w").head
    assert(badw.isNullAt(badw.fieldIndex("chi2")))
  }

  test("amsF2: hand sign replay, exact F2 audit, partition invariance") {
    import graft.operators.Sketches
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def sign(i: Int, v: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$i|$v".getBytes("UTF-8")).map("%02x".format(_)).mkString
      if (java.lang.Long.parseLong(md.take(13), 16) % 2 == 0) 1L else -1L
    }
    // a x3, b x4: F2 = 9 + 16 = 25
    val df = (Seq.fill(3)("a") ++ Seq.fill(4)("b")).toDF("v")
    val r = Sketches.amsF2(df.repartition(4), "v", k = 8).head
    assert(r.getAs[Long]("n") == 7L && r.getAs[Long]("n_distinct") == 2L)
    assert(r.getAs[Double]("f2_exact") == 25.0)
    val estExp = (0 until 8).map { i =>
      val s = sign(i, "a") * 3 + sign(i, "b") * 4
      (s * s).toDouble
    }.sum / 8.0
    assert(r.getAs[Double]("f2_est") == r6(estExp), r.toString)
    assert(r.getAs[Double]("rel_err") == r6(math.abs(estExp - 25.0) / 25.0))
    // partition invariance: exact integer sums, same estimate any layout
    val r2 = Sketches.amsF2(df.repartition(1), "v", k = 8).head
    assert(r2.getAs[Double]("f2_est") == r.getAs[Double]("f2_est"))
    // a single heavy value is estimated EXACTLY (S_i = ±f, S² = f²)
    val solo = Sketches.amsF2(Seq.fill(5)("x").toDF("v"), "v", k = 4).head
    assert(solo.getAs[Double]("f2_est") == 25.0 && solo.getAs[Double]("rel_err") == 0.0)
  }

  test("cmhTest: hand single-stratum chi2, degenerate strata contribute nothing") {
    import graft.operators.Sketches
    def stratum(s: String, a: Int, b: Int, c: Int, d: Int) =
      Seq.fill(a)((s, true, true)) ++ Seq.fill(b)((s, true, false)) ++
        Seq.fill(c)((s, false, true)) ++ Seq.fill(d)((s, false, false))
    // a=10 b=5 c=5 d=10: E[a]=7.5, diff=2.5, Var=15^4/(900*29)
    val df = stratum("s1", 10, 5, 5, 10).toDF("s", "e", "o").repartition(4)
    val r = Sketches.cmhTest(df, "s", "e", "o").head
    val vq = BigDecimal(50625.0 / 26100.0)
      .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Long]("n") == 30L && r.getAs[Long]("n_strata") == 1L)
    assert(r.getAs[Double]("chi2_cmh") == r6(6.25 / vq), r.toString)
    assert(r.getAs[Double]("chi2_cmh_corrected") == r6(4.0 / vq), r.toString)
    // perfectly balanced stratum: zero deviation, chi2 = 0
    val bal = Sketches.cmhTest(
      stratum("s1", 5, 5, 5, 5).toDF("s", "e", "o"), "s", "e", "o").head
    assert(bal.getAs[Double]("chi2_cmh") == 0.0)
    // singleton strata carry no information: every stratum n=1 -> NULL
    val solo = Sketches.cmhTest(
      Seq(("x", true, true), ("y", false, false)).toDF("s", "e", "o"),
      "s", "e", "o").head
    assert(solo.isNullAt(solo.fieldIndex("chi2_cmh")))
    // adding a singleton to a real stratum changes nothing
    val mixed = Sketches.cmhTest(
      (stratum("s1", 10, 5, 5, 10) ++ Seq(("tiny", true, true)))
        .toDF("s", "e", "o"), "s", "e", "o").head
    assert(mixed.getAs[Double]("chi2_cmh") == r6(6.25 / vq))
    assert(mixed.getAs[Long]("n_strata") == 2L)
  }

  test("rocCurve: hand confusion counts per threshold, monotone rates, guards") {
    import graft.operators.Sketches
    // scores: pos at 3,3,2; neg at 2,1: thresholds {3,2,1}
    val df = Seq((3L, true), (3L, true), (2L, true), (2L, false), (1L, false))
      .toDF("s", "y")
    val out = Sketches.rocCurve(df.repartition(3), "s", "y").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)))
    // t=3: tp=2 fp=0 fn=1 tn=2; t=2: tp=3 fp=1; t=1: tp=3 fp=2
    assert(out(0) == ((3L, 2L, 0L, 1L, 2L, 0.666667, 0.0, 1.0)), out.mkString(","))
    assert(out(1) == ((2L, 3L, 1L, 0L, 1L, 1.0, 0.5, 0.75)))
    assert(out(2) == ((1L, 3L, 2L, 0L, 0L, 1.0, 1.0, 0.6)))
    // tpr and fpr are non-decreasing as the threshold falls
    assert(out.map(_._6).toSeq == out.map(_._6).sorted.toSeq)
    assert(out.map(_._7).toSeq == out.map(_._7).sorted.toSeq)
    // all-positive labels: fpr undefined, tpr still reports
    val onecls = Sketches.rocCurve(
      Seq((2L, true), (1L, true)).toDF("s", "y"), "s", "y").collect()
    assert(onecls.forall(_.isNullAt(6)))
    assert(onecls.head.getDouble(5) == 0.5)
  }

  test("gwetAc1: hand chance model, kappa-paradox contrast, degenerate NULL") {
    import graft.operators.Sketches
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def q9(x: Double) = math.floor(x * 1e9 + 0.5) / 1e9
    // the classic skewed table: 95 (y,y), 4 (y,n), 1 (n,y): po = 0.95
    val rows = Seq.fill(95)(("y", "y")) ++ Seq.fill(4)(("y", "n")) ++
      Seq.fill(1)(("n", "y"))
    val r = Sketches.gwetAc1(rows.toDF("a", "b").repartition(4), "a", "b").head
    // marginals: y: (99+96)/200, n: (1+4)/200
    val piY = 195.0 / 200.0; val piN = 5.0 / 200.0
    val pe = (q9(piY * (1 - piY)) + q9(piN * (1 - piN))) / 1.0
    assert(r.getAs[Long]("n") == 100L && r.getAs[Long]("n_labels") == 2L)
    assert(r.getAs[Double]("p_observed") == 0.95)
    assert(r.getAs[Double]("p_chance_ac1") == r6(pe), r.toString)
    assert(r.getAs[Double]("ac1") == r6((0.95 - pe) / (1.0 - pe)))
    // the paradox: kappa collapses on this table, AC1 stays high
    val kappa = Sketches.cohenKappa(rows.toDF("a", "b"), "a", "b")
      .head.getAs[Double]("kappa")
    assert(r.getAs[Double]("ac1") > 0.9 && kappa < 0.4,
      s"ac1=${r.getAs[Double]("ac1")} kappa=$kappa")
    // both raters constant: one label, chance undefined
    val const = Sketches.gwetAc1(
      Seq(("y", "y"), ("y", "y")).toDF("a", "b"), "a", "b").head
    assert(const.isNullAt(const.fieldIndex("ac1")))
  }

  test("dunnTest: hand three-group pairs, tie correction, reject flags") {
    import graft.operators.Sketches
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // a=[1,2], b=[3,4], c=[10,11]: N=6 no ties, sigma2 = 3.5,
    // mean ranks 1.5/3.5/5.5
    val df = Seq(("a", 1L), ("a", 2L), ("b", 3L), ("b", 4L), ("c", 10L), ("c", 11L))
      .toDF("g", "v")
    val out = Sketches.dunnTest(df.repartition(3), "g", "v", zCrit = 2.0)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Double]("z"), r.getAs[Boolean]("reject"))).toMap
    def zExp(r1: Double, r2: Double) =
      r6((r1 - r2) / math.sqrt(3.5 * (0.5 + 0.5)))
    assert(out(("a", "b"))._1 == zExp(1.5, 3.5), out.toString)
    assert(out(("a", "c"))._1 == zExp(1.5, 5.5))
    assert(out(("a", "c"))._2 && !out(("a", "b"))._2 && !out(("b", "c"))._2)
    // ties shrink sigma2: all values equal -> sigma2 = N(N+1)/12 - (N^3-N)/(12(N-1)) = 0
    val flat = Sketches.dunnTest(
      Seq(("a", 5L), ("a", 5L), ("b", 5L), ("b", 5L)).toDF("g", "v"),
      "g", "v", zCrit = 2.0).head
    assert(flat.isNullAt(flat.fieldIndex("z")))
    // mean ranks report per pair
    val ab = Sketches.dunnTest(df, "g", "v", zCrit = 2.0)
      .filter(col("g1") === "a" && col("g2") === "b").head
    assert(ab.getAs[Double]("mean_rank_1") == 1.5 && ab.getAs[Double]("mean_rank_2") == 3.5)
  }

  test("wilsonInterval: scala chain replay, extreme p clamps, Wald contrast") {
    import graft.operators.Sketches
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def wilson(x: Long, n: Long): (Double, Double) = {
      val z = 1.959964; val z2 = z * z; val nd = n.toDouble
      val p = x.toDouble / nd
      val denom = 1.0 + z2 / nd
      val center = p + z2 / (nd * 2.0)
      val half = z * math.sqrt(p * (1.0 - p) / nd + z2 / (nd * nd * 4.0))
      (math.max(0.0, (center - half) / denom), math.min(1.0, (center + half) / denom))
    }
    val rows = Seq.fill(7)(("a", true)) ++ Seq.fill(3)(("a", false)) ++
      Seq.fill(10)(("b", true)) ++ Seq.fill(0)(("b", false)) ++
      Seq.fill(5)(("c", false))
    val out = Sketches.wilsonInterval(rows.toDF("k", "s").repartition(3),
      Seq("k"), "s").orderBy("k").collect()
      .map(r => r.getString(0) ->
        (r.getAs[Double]("p_hat"), r.getAs[Double]("ci_lo"), r.getAs[Double]("ci_hi"))).toMap
    val (lo, hi) = wilson(7, 10)
    assert(out("a") == ((0.7, r6(lo), r6(hi))), out.toString)
    // p-hat = 1: the Wald interval would be zero-width; Wilson stays open below
    assert(out("b")._1 == 1.0 && out("b")._3 == 1.0 && out("b")._2 < 1.0)
    // p-hat = 0: open above, closed at zero
    assert(out("c")._1 == 0.0 && out("c")._2 == 0.0 && out("c")._3 > 0.0)
  }

  test("quantileCi: hand order-statistic bounds, ties collapse, clamps, guards") {
    import graft.operators.Sketches
    // 1..100: median rank 50, CI ranks floor(50-9.79982)=40 / ceil(59.79982)=60
    val r = Sketches.quantileCi((1L to 100L).toDF("v").repartition(4), "v", 0.5).head
    assert(r.getAs[Long]("n") == 100L)
    assert(r.getAs[Long]("rank_point") == 50L && r.getAs[Long]("point") == 50L)
    assert(r.getAs[Long]("rank_lo") == 40L && r.getAs[Long]("ci_lo") == 40L)
    assert(r.getAs[Long]("rank_hi") == 60L && r.getAs[Long]("ci_hi") == 60L)
    // p=0.9 on 1..10 with the upper rank clamped at n
    val t = Sketches.quantileCi((1L to 10L).toDF("v"), "v", 0.9).head
    assert(t.getAs[Long]("point") == 9L)
    assert(t.getAs[Long]("ci_lo") == 7L && t.getAs[Long]("ci_hi") == 10L)
    // a constant column: every selection lands on the same value
    val c = Sketches.quantileCi(Seq.fill(50)(7L).toDF("v"), "v", 0.5).head
    assert(c.getAs[Long]("point") == 7L && c.getAs[Long]("ci_lo") == 7L &&
      c.getAs[Long]("ci_hi") == 7L)
    intercept[IllegalArgumentException] {
      Sketches.quantileCi((1L to 10L).toDF("v"), "v", 1.0)
    }
  }

  test("groupSequentialPocock: cumulative looks, boundary literal, planted effect fires") {
    import graft.operators.Sketches
    // look 1 covers order<=10, look 2 everything; arm B jumps +10 in the
    // second half so only look 2 should reject at K=2 (c = 2.178)
    val rows =
      (1 to 10).map(i => ("A", 5.0 + (i % 3) * 0.1, i.toLong)) ++
      (1 to 10).map(i => ("B", 5.0 + ((i + 1) % 3) * 0.1, i.toLong)) ++
      (11 to 30).map(i => ("A", 5.0 + (i % 3) * 0.1, i.toLong)) ++
      (11 to 30).map(i => ("B", 15.0 + (i % 3) * 0.1, i.toLong))
    val out = Sketches.groupSequentialPocock(
      rows.toDF("arm", "v", "t").repartition(4),
      "arm", "v", "t", Seq(10L, 30L), "A", "B").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Int]("look") == 1 && out(0).getAs[Long]("n_a") == 10L)
    assert(out(0).getAs[Double]("boundary") == 2.178)
    assert(!out(0).getAs[Boolean]("reject"), out(0).toString)
    assert(out(1).getAs[Long]("n_a") == 30L && out(1).getAs[Boolean]("reject"))
    assert(out(1).getAs[Double]("z") < -2.178)
    // cumulative means: look 2's diff reflects ALL data, not the increment
    assert(math.abs(out(1).getAs[Double]("mean_diff") + 20.0 / 3.0) < 0.2)
    // guards: wrong look counts refuse loudly
    intercept[IllegalArgumentException] {
      Sketches.groupSequentialPocock(rows.toDF("arm", "v", "t"),
        "arm", "v", "t", Seq(10L), "A", "B")
    }
    intercept[IllegalArgumentException] {
      Sketches.groupSequentialPocock(rows.toDF("arm", "v", "t"),
        "arm", "v", "t", Seq(30L, 10L), "A", "B")
    }
  }

  test("bowkerTest: hand 3x3 asymmetry, perfect symmetry 0, diagonal-only NULL") {
    import graft.operators.Sketches
    def rows(spec: ((String, String), Int)*) =
      spec.flatMap { case (p, n) => Seq.fill(n)(p) }.toDF("a", "b")
    // off-diagonal: AB 5 vs BA 1 -> 16/6; AC 2 vs CA 2 -> 0; BC 0 vs CB 3 -> 3
    val df = rows(
      (("A", "A"), 4), (("A", "B"), 5), (("B", "A"), 1),
      (("A", "C"), 2), (("C", "A"), 2), (("C", "B"), 3))
    val r = Sketches.bowkerTest(df.repartition(4), "a", "b").head
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Long]("n") == 17L && r.getAs[Long]("dof") == 3L)
    val exp = BigDecimal(16.0 / 6.0).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble +
      0.0 + 3.0
    assert(r.getAs[Double]("chi2_bowker") == r6(exp), r.toString)
    // perfect symmetry: chi2 exactly 0
    val sym = Sketches.bowkerTest(rows(
      (("A", "B"), 3), (("B", "A"), 3), (("B", "C"), 2), (("C", "B"), 2)),
      "a", "b").head
    assert(sym.getAs[Double]("chi2_bowker") == 0.0 && sym.getAs[Long]("dof") == 2L)
    // everything on the diagonal: nothing to test
    val diag = Sketches.bowkerTest(rows((("A", "A"), 5), (("B", "B"), 2)),
      "a", "b").head
    assert(diag.getAs[Long]("dof") == 0L)
    assert(diag.isNullAt(diag.fieldIndex("chi2_bowker")))
  }

  test("tostEquivalence: identical groups equivalent, shifted groups not, guards") {
    import graft.operators.Sketches
    // two tight groups centered on the same mean: clearly within +-1
    val same = (1 to 50).flatMap(i =>
      Seq(("a", 10.0 + (i % 5) * 0.01), ("b", 10.0 + ((i + 2) % 5) * 0.01)))
      .toDF("g", "v")
    val r = Sketches.tostEquivalence(same.repartition(4), "g", "v", "a", "b", margin = 1.0).head
    assert(r.getAs[Long]("n_a") == 50L && r.getAs[Long]("n_b") == 50L)
    assert(r.getAs[Boolean]("equivalent"), r.toString)
    assert(r.getAs[Double]("z_lower") > 1.644854 && r.getAs[Double]("z_upper") > 1.644854)
    // b shifted up past the margin: the lower one-sided test fails hard
    val shifted = (1 to 50).flatMap(i =>
      Seq(("a", 10.0 + (i % 5) * 0.01), ("b", 15.0 + (i % 5) * 0.01)))
      .toDF("g", "v")
    val sh = Sketches.tostEquivalence(shifted, "g", "v", "a", "b", margin = 1.0).head
    assert(!sh.getAs[Boolean]("equivalent"))
    assert(sh.getAs[Double]("z_lower") < 0)
    // an underpowered sample cannot certify equivalence even when means match
    val tiny = Seq(("a", 10.0), ("a", 14.0), ("b", 10.0), ("b", 14.0)).toDF("g", "v")
    val t = Sketches.tostEquivalence(tiny, "g", "v", "a", "b", margin = 0.5).head
    assert(!t.getAs[Boolean]("equivalent"))
    // n = 1 group: no variance estimate
    val solo = Sketches.tostEquivalence(
      Seq(("a", 1.0), ("b", 1.0), ("b", 2.0)).toDF("g", "v"),
      "g", "v", "a", "b", margin = 1.0).head
    assert(solo.isNullAt(solo.fieldIndex("equivalent")))
    intercept[IllegalArgumentException] {
      Sketches.tostEquivalence(tiny, "g", "v", "a", "b", margin = 0.0)
    }
  }

  test("eloRatings: scala fold replay, collection-order invariance, games counts") {
    import graft.operators.Sketches
    val l10 = 2.302585092994046
    def q6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def fold(ms: Seq[(Long, String, String)]): Map[String, Double] = {
      var r = Map.empty[String, Double]
      ms.sortBy(identity).foreach { case (_, w, l) =>
        val ra = r.getOrElse(w, 1500.0); val rb = r.getOrElse(l, 1500.0)
        val ea = 1.0 / (1.0 + math.exp(l10 * ((rb - ra) / 400.0)))
        val d = 32.0 * (1.0 - ea)
        r = r + (w -> q6(ra + d)) + (l -> q6(rb - d))
      }
      r
    }
    val ms = Seq((1L, "a", "b"), (2L, "a", "b"), (3L, "b", "c"), (4L, "c", "a"))
    val out = Sketches.eloRatings(ms.toDF("ord", "w", "l"), "ord", "w", "l")
      .orderBy("player").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getInt(2))).toMap
    val exp = fold(ms)
    assert(out("a")._1 == exp("a") && out("b")._1 == exp("b") && out("c")._1 == exp("c"),
      s"$out vs $exp")
    assert(out("a")._2 == 3 && out("b")._2 == 3 && out("c")._2 == 2)
    // first match from equal ratings moves exactly K/2
    val first = Sketches.eloRatings(
      Seq((1L, "x", "y")).toDF("ord", "w", "l"), "ord", "w", "l")
      .orderBy("player").collect()
    assert(first(0).getDouble(1) == 1516.0 && first(1).getDouble(1) == 1484.0)
    // collection order never matters: the kernel sorts by (ord, w, l)
    val shuffled = Sketches.eloRatings(
      ms.reverse.toDF("ord", "w", "l").repartition(4), "ord", "w", "l")
      .orderBy("player").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(shuffled == out.map { case (k, v) => k -> v._1 })
  }

  test("ordinalAssociation: perfect concordance, hand ties, degenerate NULL") {
    import graft.operators.Sketches
    // perfect monotone: C=3, D=0, all statistics 1
    val perfect = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("a", "b")
    val p = Sketches.ordinalAssociation(perfect.repartition(3), "a", "b").head
    assert(p.getAs[Long]("n") == 3L)
    assert(p.getAs[Double]("gamma") == 1.0 && p.getAs[Double]("tau_b") == 1.0)
    assert(p.getAs[Double]("somers_d_yx") == 1.0 && p.getAs[Double]("somers_d_xy") == 1.0)
    // hand tie case: a=(1,1,2,2), b=(1,2,1,2): C=1, D=1 -> everything 0
    val mixed = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L)).toDF("a", "b")
    val m = Sketches.ordinalAssociation(mixed, "a", "b").head
    assert(m.getAs[Double]("gamma") == 0.0 && m.getAs[Double]("tau_b") == 0.0)
    // asymmetric ties: a=(1,2,2), b=(1,2,3): C = 2 (pairs 12,13), D = 0,
    // a-tied pair 23 -> t1=2, t2=0, P2=6: d(y|x) = 4/(6-2) = 1,
    // d(x|y) = 4/6, gamma = 1
    val asym = Sketches.ordinalAssociation(
      Seq((1L, 1L), (2L, 2L), (2L, 3L)).toDF("a", "b"), "a", "b").head
    assert(asym.getAs[Double]("gamma") == 1.0)
    assert(asym.getAs[Double]("somers_d_yx") == 1.0)
    assert(asym.getAs[Double]("somers_d_xy") == 0.666667)
    val tbExp = BigDecimal(4.0 / math.sqrt(4.0 * 6.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(asym.getAs[Double]("tau_b") == tbExp)
    // constant a: no untied-a pairs, directional D undefined
    val flat = Sketches.ordinalAssociation(
      Seq((5L, 1L), (5L, 2L)).toDF("a", "b"), "a", "b").head
    assert(flat.isNullAt(flat.fieldIndex("gamma")))
    assert(flat.isNullAt(flat.fieldIndex("somers_d_yx")))
  }

  test("partialCorr: scala moment replay, constant-column NULL, collinear NULL") {
    import graft.operators.Sketches
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = Seq((1L, 2L, 1L), (2L, 1L, 3L), (3L, 5L, 2L), (4L, 4L, 5L), (5L, 7L, 4L))
    val df = rows.toDF("x", "y", "z")
    val r = Sketches.partialCorr(df.repartition(3), "x", "y", "z").head
    // replay the identical exact-moment double chain
    val n = rows.length.toDouble
    def s(f: ((Long, Long, Long)) => Long): Double = rows.map(f).sum.toDouble
    val (sx, sy, sz) = (s(_._1), s(_._2), s(_._3))
    val (sxx, syy, szz) = (s(t => t._1 * t._1), s(t => t._2 * t._2), s(t => t._3 * t._3))
    val (sxy, sxz, syz) = (s(t => t._1 * t._2), s(t => t._1 * t._3), s(t => t._2 * t._3))
    val (dxx, dyy, dzz) = (n * sxx - sx * sx, n * syy - sy * sy, n * szz - sz * sz)
    val rxy = (n * sxy - sx * sy) / math.sqrt(dxx * dyy)
    val rxz = (n * sxz - sx * sz) / math.sqrt(dxx * dzz)
    val ryz = (n * syz - sy * sz) / math.sqrt(dyy * dzz)
    val rp = (rxy - rxz * ryz) / math.sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))
    val t = rp * math.sqrt((n - 3.0) / (1.0 - rp * rp))
    assert(r.getAs[Long]("n") == 5L)
    assert(r.getAs[Double]("r_xy") == r6(rxy) && r.getAs[Double]("r_xz") == r6(rxz))
    assert(r.getAs[Double]("r_partial") == r6(rp), r.toString)
    assert(r.getAs[Double]("t_stat") == r6(t), r.toString)
    // constant z: nothing to hold fixed
    val flat = Sketches.partialCorr(
      Seq((1L, 2L, 7L), (2L, 3L, 7L), (3L, 5L, 7L)).toDF("x", "y", "z"),
      "x", "y", "z").head
    assert(flat.isNullAt(flat.fieldIndex("r_partial")))
    // z == x: perfect collinearity, partial undefined but marginals report
    val coll = Sketches.partialCorr(
      Seq((1L, 2L, 1L), (2L, 1L, 2L), (3L, 5L, 3L), (4L, 4L, 4L))
        .toDF("x", "y", "z"), "x", "y", "z").head
    assert(coll.getAs[Double]("r_xz") == 1.0)
    assert(coll.isNullAt(coll.fieldIndex("r_partial")))
  }

  test("jonckheereTerpstra: perfect trend hand case, ties half-count, one-group NULL") {
    import graft.operators.Sketches
    // g1=[1,2] < g2=[3,4] < g3=[5,6]: JT = 12 (every cross pair concordant),
    // E = 6, Var = 456/72 -> z = 6 / sqrt(6.3333...)
    val up = Seq((1L, 1L), (1L, 2L), (2L, 3L), (2L, 4L), (3L, 5L), (3L, 6L))
      .toDF("g", "v")
    val r = Sketches.jonckheereTerpstra(up.repartition(4), "g", "v").head
    assert(r.getAs[Long]("n") == 6L && r.getAs[Long]("k") == 3L)
    assert(r.getAs[Double]("jt") == 12.0)
    val zExp = BigDecimal(6.0 / math.sqrt(456.0 / 72.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("z") == zExp, r.toString)
    // a cross-group tie counts half
    val tie = Sketches.jonckheereTerpstra(
      Seq((1L, 5L), (2L, 5L)).toDF("g", "v"), "g", "v").head
    assert(tie.getAs[Double]("jt") == 0.5)
    // reversed trend: JT = 0, z symmetric negative
    val down = Seq((3L, 1L), (3L, 2L), (2L, 3L), (2L, 4L), (1L, 5L), (1L, 6L))
      .toDF("g", "v")
    val rd = Sketches.jonckheereTerpstra(down, "g", "v").head
    assert(rd.getAs[Double]("jt") == 0.0 && rd.getAs[Double]("z") == -zExp)
    // a single group has no ordered alternative
    val solo = Sketches.jonckheereTerpstra(
      Seq((1L, 5L), (1L, 7L)).toDF("g", "v"), "g", "v").head
    assert(solo.isNullAt(solo.fieldIndex("jt")) && solo.isNullAt(solo.fieldIndex("z")))
  }

  test("pageTrendTest: perfect ascending trend hand case, reversed symmetric, incomplete drop") {
    import graft.operators.Sketches
    // 2 blocks, k=3, values increase with treatment score: L=28, E=24,
    // Var=4 -> z = 2
    val up = Seq(
      ("b1", 1L, 10L), ("b1", 2L, 20L), ("b1", 3L, 30L),
      ("b2", 1L, 5L), ("b2", 2L, 6L), ("b2", 3L, 7L))
      .toDF("blk", "trt", "v")
    val r = Sketches.pageTrendTest(up.repartition(4), "blk", "trt", "v").head
    assert(r.getAs[Long]("n_blocks") == 2L && r.getAs[Long]("k") == 3L)
    assert(r.getAs[Double]("l_stat") == 28.0 && r.getAs[Double]("z") == 2.0)
    // reversed values: minimum L, symmetric z
    val down = Seq(
      ("b1", 1L, 30L), ("b1", 2L, 20L), ("b1", 3L, 10L),
      ("b2", 1L, 7L), ("b2", 2L, 6L), ("b2", 3L, 5L))
      .toDF("blk", "trt", "v")
    val rd = Sketches.pageTrendTest(down, "blk", "trt", "v").head
    assert(rd.getAs[Double]("l_stat") == 20.0 && rd.getAs[Double]("z") == -2.0)
    // an incomplete block drops before ranking
    val withBad = up.union(Seq(("b3", 1L, 9L)).toDF("blk", "trt", "v"))
    val wb = Sketches.pageTrendTest(withBad, "blk", "trt", "v").head
    assert(wb.getAs[Long]("n_blocks") == 2L && wb.getAs[Double]("z") == 2.0)
  }

  test("kendallW: perfect agreement = 1, hand tied case, fully-tied NULL") {
    // 3 blocks all ranking a<b<c: W = 1, chi2 = m(k-1)W = 6
    val perfect = Seq(
      ("b1", "a", 1L), ("b1", "b", 2L), ("b1", "c", 3L),
      ("b2", "a", 10L), ("b2", "b", 20L), ("b2", "c", 30L),
      ("b3", "a", 5L), ("b3", "b", 6L), ("b3", "c", 7L))
      .toDF("blk", "trt", "v")
    val r = graft.operators.Sketches.kendallW(
      perfect.repartition(4), "blk", "trt", "v").head
    assert(r.getAs[Long]("n_blocks") == 3L && r.getAs[Long]("k") == 3L)
    assert(r.getAs[Double]("w") == 1.0 && r.getAs[Double]("chi2") == 6.0)
    // block 3 ties a=b: 4S = 494-432 = 62, T = 6, W = 186/198, chi2 = 6W
    val tied = Seq(
      ("b1", "a", 1L), ("b1", "b", 2L), ("b1", "c", 3L),
      ("b2", "a", 1L), ("b2", "b", 2L), ("b2", "c", 3L),
      ("b3", "a", 5L), ("b3", "b", 5L), ("b3", "c", 7L))
      .toDF("blk", "trt", "v")
    val t = graft.operators.Sketches.kendallW(tied, "blk", "trt", "v").head
    assert(t.getAs[Double]("w") == 0.939394, t.toString)
    assert(t.getAs[Double]("chi2") == 5.636364, t.toString)
    // every block fully tied: nothing is ranked, den = 0 -> NULL
    val flat = Seq(
      ("b1", "a", 1L), ("b1", "b", 1L), ("b1", "c", 1L),
      ("b2", "a", 2L), ("b2", "b", 2L), ("b2", "c", 2L))
      .toDF("blk", "trt", "v")
    val f = graft.operators.Sketches.kendallW(flat, "blk", "trt", "v").head
    assert(f.isNullAt(f.fieldIndex("w")) && f.isNullAt(f.fieldIndex("chi2")))
    // incomplete blocks drop before ranking (the friedman filter)
    val withBad = perfect.union(Seq(("b4", "a", 9L)).toDF("blk", "trt", "v"))
    val wb = graft.operators.Sketches.kendallW(withBad, "blk", "trt", "v").head
    assert(wb.getAs[Long]("n_blocks") == 3L && wb.getAs[Double]("w") == 1.0)
  }

  test("matthewsCorr: hand binary case, perfect = 1, degenerate NULL, multiclass") {
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // TP=6 TN=3 FP=1 FN=2: cov = 12*9 - (8*7 + 4*5) = 32, vA = 64, vP = 70
    val rows = Seq.fill(6)(("a", "a")) ++ Seq.fill(3)(("b", "b")) ++
      Seq.fill(1)(("b", "a")) ++ Seq.fill(2)(("a", "b"))
    val r = Sketches.matthewsCorr(rows.toDF("actual", "pred").repartition(4),
      "actual", "pred").head
    assert(r.getAs[Long]("n") == 12L && r.getAs[Long]("n_classes") == 2L)
    assert(r.getAs[Double]("accuracy") == 0.75)
    assert(r.getAs[Double]("mcc") == r6(32.0 / (math.sqrt(64.0) * math.sqrt(70.0))))
    // perfect prediction
    val p = Sketches.matthewsCorr(
      Seq(("a", "a"), ("b", "b"), ("c", "c")).toDF("actual", "pred"), "actual", "pred").head
    assert(p.getAs[Double]("mcc") == 1.0 && p.getAs[Long]("n_classes") == 3L)
    // constant prediction: vP = 0, coefficient undefined
    val d = Sketches.matthewsCorr(
      Seq(("a", "a"), ("b", "a")).toDF("actual", "pred"), "actual", "pred").head
    assert(d.isNullAt(d.fieldIndex("mcc")))
    // prediction-only class still counts toward K (union of labels)
    val m = Sketches.matthewsCorr(
      Seq(("a", "a"), ("a", "c"), ("b", "b")).toDF("actual", "pred"), "actual", "pred").head
    assert(m.getAs[Long]("n_classes") == 3L)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  test("poissonBootstrapMean: exact replay of the md5 weight ladder, nearest-rank CI") {
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vals = (1 to 20).map(i => (i.toLong, i.toDouble / 4.0))
    val df = vals.toDF("id", "v")
    val reps = 50
    val out = Sketches.poissonBootstrapMean(df.repartition(4), "id", "v",
      reps = reps, level = 0.9).head
    // independent replay: same ladder, same order statistics
    val cdf = Seq(0.3678794412, 0.7357588823, 0.9196986029, 0.9810118431,
      0.9963401532, 0.9994058152, 0.9999167589, 0.9999897508)
    def weight(id: Long, rep: Int): Long = {
      val h = md5Hex(s"${id}_${rep / 8}")
      val word = java.lang.Long.parseLong(h.substring((rep % 8) * 4, (rep % 8) * 4 + 4), 16)
      val u = word.toDouble / 65536.0
      cdf.indexWhere(u < _) match { case -1 => 8L; case k => k.toLong }
    }
    val repMeans = (0 until reps).flatMap { r =>
      val ws = vals.map { case (id, v) =>
        (weight(id, r), math.floor(v * 1e6 + 0.5).toLong) }
      val sw = ws.map(_._1).sum
      if (sw > 0) Some((ws.map { case (w, vq) => w * vq }.sum.toDouble / sw / 1e6, r))
      else None
    }.sorted
    val lo = repMeans(math.floor(0.05 * (reps - 1)).toInt)._1
    val hi = repMeans(math.floor(0.95 * (reps - 1)).toInt)._1
    assert(out.getAs[Long]("n") == 20L)
    assert(out.getAs[Double]("mean") == r6(vals.map(v => math.floor(v._2 * 1e6 + 0.5)).sum / 20.0 / 1e6))
    assert(out.getAs[Double]("boot_lo") == r6(lo))
    assert(out.getAs[Double]("boot_hi") == r6(hi))
    assert(out.getAs[Double]("boot_lo") <= out.getAs[Double]("mean"))
    assert(out.getAs[Double]("boot_hi") >= out.getAs[Double]("mean"))
    // id-keyed md5 weights are partitioning-invariant, bit for bit
    val out7 = Sketches.poissonBootstrapMean(df.repartition(7), "id", "v",
      reps = reps, level = 0.9).head
    assert(out7.getAs[Double]("boot_lo") == out.getAs[Double]("boot_lo"))
    assert(out7.getAs[Double]("boot_hi") == out.getAs[Double]("boot_hi"))
  }

  test("poissonBootstrapMean: n=1 survives dropped replicates with NULL bounds, never zero rows") {
    // with one row, each replicate drops with prob ~e^-1: some rank picks
    // can be empty — the output row must SURVIVE with NULL bounds (the
    // oracle's scalar-subquery semantics), not collapse to zero rows
    val out = Sketches.poissonBootstrapMean(
      Seq((1L, 2.5)).toDF("id", "v"), "id", "v", reps = 50, level = 0.9)
      .collect()
    assert(out.length == 1, "the stats row must survive empty rank picks")
    assert(out.head.getAs[Long]("n") == 1L)
    assert(out.head.getAs[Double]("mean") == 2.5)
    // bounds are either a real replicate mean (= 2.5, the only value) or
    // NULL (rank landed past the surviving replicates) — never anything else
    Seq("boot_lo", "boot_hi").foreach { c =>
      val idx = out.head.fieldIndex(c)
      assert(out.head.isNullAt(idx) || out.head.getDouble(idx) == 2.5, c)
    }
  }

  test("signFlipPermutationTest: exact replay of md5 signs, add-one p, partition-invariant") {
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vals = Seq((1L, 2.0), (2L, 1.5), (3L, 3.0), (4L, 0.5), (5L, 2.5), (6L, 1.0))
    val perms = 39
    val out = Sketches.signFlipPermutationTest(
      vals.toDF("id", "dv").repartition(3), "id", "dv", perms = perms).head
    val dq = vals.map { case (_, d) => math.floor(d * 1e6 + 0.5).toLong }
    val t0 = math.abs(dq.sum)
    // independent bit-slice replay: sign(p) = bit p of the row digest's
    // first (p < 60) or second 60-bit hex word
    def sign(id: Long, p: Int): Long = {
      val h = md5Hex(id.toString)
      val word = java.lang.Long.parseLong(
        if (p < 60) h.substring(0, 15) else h.substring(15, 30), 16)
      if (((word >> (p % 60)) & 1L) == 1L) 1L else -1L
    }
    val ge = (0 until perms).count { p =>
      val t = vals.zip(dq).map { case ((id, _), q) => sign(id, p) * q }.sum
      math.abs(t) >= t0
    }
    assert(out.getAs[Long]("n") == 6L)
    assert(out.getAs[Double]("observed_diff") == r6(dq.sum.toDouble / 1e6 / 6.0))
    assert(out.getAs[Double]("p_value") == r6((ge + 1.0) / (perms + 1.0)))
    // all-same-sign strong effect: p at the permutation floor region
    assert(out.getAs[Double]("p_value") <= 0.2)
  }

  test("grubbsTest: hand G on a planted outlier; tie suspects pick the smaller value") {
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = Sketches.grubbsTest(
      Seq(1.0, 2.0, 3.0, 100.0).toDF("v").repartition(2), "v").head
    val mean = 26.5
    val sd = math.sqrt(Seq(1.0, 2.0, 3.0, 100.0).map(v => (v - mean) * (v - mean)).sum / 3.0)
    assert(out.getAs[Long]("n") == 4L)
    assert(out.getAs[Double]("mean") == 26.5)
    assert(out.getAs[Double]("sd") == r6(sd))
    assert(out.getAs[Double]("suspect") == 100.0)
    assert(out.getAs[Double]("g_stat") == r6((100.0 - mean) / sd))
    // symmetric tie: |−10| and |10| deviate equally from mean 0 — the
    // smaller value wins deterministically
    val tie = Sketches.grubbsTest(Seq(-10.0, 0.0, 10.0).toDF("v"), "v").head
    assert(tie.getAs[Double]("suspect") == -10.0)
    // constant input: zero variance, G undefined
    val const = Sketches.grubbsTest(Seq(5.0, 5.0, 5.0).toDF("v"), "v").head
    assert(const.isNullAt(const.fieldIndex("g_stat")))
  }
}