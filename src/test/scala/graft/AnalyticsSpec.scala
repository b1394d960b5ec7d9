package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import java.time.Period

import graft.operators.{Funnel, Graph, Models, Relational, Sketches, Skew, Temporal, TextAnalysis}

/** Round-5 analytics operators: boilerplate removal, gap fill, profiler,
  * ECDF normalization, funnel. */
class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  test("removeBoilerplate strips lines shared by >= minDocs docs, keeps order") {
    val docs = Seq(
      (1L, "COOKIE BANNER\nalpha one\nbeta two"),
      (2L, "COOKIE BANNER\ngamma three"),
      (3L, "COOKIE BANNER\ndelta four\nalpha one"),
      (4L, "unique only")).toDF("doc_id", "text")
    val out = TextAnalysis.removeBoilerplate(docs, "doc_id", "text", minDocs = 3)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)]
      .collect()
    // "COOKIE BANNER" in 3 docs -> removed; "alpha one" in 2 docs -> kept
    assert(out === Array(
      (1L, "alpha one\nbeta two", 2L, 1L),
      (2L, "gamma three", 1L, 1L),
      (3L, "delta four\nalpha one", 2L, 1L),
      (4L, "unique only", 1L, 0L)))
  }

  test("removeBoilerplate keeps a fully-boilerplate doc with empty text") {
    val docs = Seq(
      (1L, "SAME"), (2L, "SAME"), (3L, "SAME")).toDF("doc_id", "text")
    val out = TextAnalysis.removeBoilerplate(docs, "doc_id", "text", minDocs = 2)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)]
      .collect()
    assert(out.length === 3)
    assert(out.forall { case (_, t, kept, removed) => t == "" && kept == 0L && removed == 1L })
  }

  test("dedupLinesKeepFirst keeps the globally first occurrence of each line") {
    val docs = Seq(
      (1L, "shared one\nunique a"),
      (2L, "unique b\nshared one"),    // "shared one" repeat -> dropped here
      (3L, "shared one"))              // and here -> empty doc survives
      .toDF("doc_id", "text")
    val out = TextAnalysis.dedupLinesKeepFirst(docs, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)]
      .collect()
    assert(out === Array(
      (1L, "shared one\nunique a", 2L, 0L),
      (2L, "unique b", 1L, 1L),
      (3L, "", 0L, 1L)))
  }

  test("fillGaps completes each key's own month span, zero-filled") {
    val df = Seq(
      (1L, "2024-01-01", 5L),
      (1L, "2024-04-01", 7L),
      (2L, "2024-02-01", 1L))
      .toDF("k", "month", "n")
      .withColumn("month", col("month").cast("date"))
    val out = Temporal.fillGaps(
      df, Seq("k"), "month", Period.ofMonths(1), defaults = Seq("n" -> lit(0L)))
      .orderBy("k", "month")
      .select(col("k"), col("month").cast("string"), col("n"))
      .as[(Long, String, Long)]
      .collect()
    assert(out === Array(
      (1L, "2024-01-01", 5L),
      (1L, "2024-02-01", 0L),
      (1L, "2024-03-01", 0L),
      (1L, "2024-04-01", 7L),
      (2L, "2024-02-01", 1L)))
  }

  test("fillGaps at day grain: gap days 0, keyless form, single-day key, empty input") {
    val df = Seq(
      (1L, "2024-01-30", 5L),
      (1L, "2024-02-02", 7L),
      (2L, "2024-01-31", 1L))
      .toDF("k", "day", "n")
      .withColumn("day", col("day").cast("timestamp"))
    val fill = (in: DataFrame, keys: Seq[String]) => Temporal.fillGaps(
      in, keys, "day", Period.ofDays(1), defaults = Seq("n" -> lit(0L)))
    def rows(out: DataFrame) =
      out.select(col("day").cast("date").cast("string"), col("n"))
        .orderBy("day").as[(String, Long)].collect()
    assert(rows(fill(df.filter(col("k") === 1L), Seq("k"))) === Array(
      ("2024-01-30", 5L), ("2024-01-31", 0L), ("2024-02-01", 0L), ("2024-02-02", 7L)))
    assert(fill(df, Seq("k")).filter(col("k") === 2L).count() === 1L)
    // keyless: one series over the whole frame, the two keys' rows at their own day
    val keyless = df.groupBy("day").agg(sum("n").as("n"))
    assert(rows(fill(keyless, Nil)) === Array(
      ("2024-01-30", 5L), ("2024-01-31", 1L), ("2024-02-01", 0L), ("2024-02-02", 7L)))
    assert(fill(df.filter(lit(false)), Seq("k")).count() === 0L)
    Seq(Period.ofDays(0), Period.ofMonths(-1), Period.ofDays(-2)).foreach { p =>
      intercept[IllegalArgumentException] {
        Temporal.fillGaps(df, Seq("k"), "day", p, defaults = Nil)
      }
    }
  }

  test("profile reports per-column null/distinct/min/max in one pass") {
    val df = Seq(
      (Some(1L), "a"), (Some(2L), "b"), (None, "a"))
      .toDF("x", "y")
    val out = Relational.profile(df, Seq("x", "y")).orderBy("col_name")
      .as[(String, Long, Long, Long, String, String)]
      .collect()
    assert(out === Array(
      ("x", 2L, 1L, 2L, "1", "2"),
      ("y", 3L, 0L, 2L, "a", "b")))
  }

  test("ecdfNormalize matches cume_dist on the quantized score") {
    val df = (1 to 100).map(i => (i.toLong, (i % 10) / 10.0)).toDF("id", "score")
    val out = Sketches.ecdfNormalize(df, "score", dp = 2)
    // 10 rows at each of score 0.0 .. 0.9 -> cume_dist of bucket b = (b+1)/10
    val got = out.select(round(col("score"), 2).as("s"), col("percentile"))
      .distinct().orderBy("s")
      .as[(Double, Double)].collect()
    assert(got.length === 10)
    got.zipWithIndex.foreach { case ((_, p), i) =>
      assert(math.abs(p - (i + 1) / 10.0) < 1e-9, s"bucket $i: $p")
    }
    // and the histogram window ran on the bucket table, not the data
    assert(out.count() === 100L)
  }

  test("retentionCohorts anchors offsets on each user's own signup week") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val events = Seq(
      (1L, "signup", ts("2024-01-01 10:00:00")), // Monday, cohort wk 0
      (1L, "click", ts("2024-01-09 10:00:00")),  // next week -> offset 1
      (2L, "signup", ts("2024-01-10 10:00:00")), // cohort 2024-01-08
      (2L, "view", ts("2024-01-22 10:00:00")),   // offset 2
      (3L, "click", ts("2024-01-02 10:00:00")))  // never signed up -> excluded
      .toDF("user_id", "event_type", "ts")
    val out = Funnel.retentionCohorts(events, "signup")
      .orderBy("cohort_week", "week_offset")
      .select(col("cohort_week").cast("string"), col("week_offset"), col("n_users"))
      .as[(String, Long, Long)]
      .collect()
    assert(out === Array(
      ("2024-01-01", 0L, 1L),
      ("2024-01-01", 1L, 1L),
      ("2024-01-08", 0L, 1L),
      ("2024-01-08", 2L, 1L)))
  }

  test("harmonicClosenessApprox: path-graph closed form, hop bound, scaling") {
    import graft.operators.Graph
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def q(d: Int) = math.floor(1e9 / d + 0.5) / 1e9
    // path 1-2-3-4-5, pivots {1,5}, 4 hops, n=5 -> scale (n-1)/k = 2
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val got = Graph.harmonicClosenessApprox(edges.repartition(3), "a", "b",
      sources = Seq(1L, 5L), maxHops = 4, topK = 10)
      .collect().map(r => (r.getAs[Long]("node"),
        (r.getAs[Long]("n_pivots_reached"), r.getAs[Double]("h_raw"),
          r.getAs[Double]("h_est")))).toMap
    // node 3: d=2 from both pivots -> raw 1, est 2; node 2: d=1,3
    assert(got(3L) == ((2L, 1.0, 2.0)), got.toString)
    assert(got(2L)._2 == r6(q(1) + q(3)))
    assert(got(2L)._3 == r6((q(1) + q(3)) * 2.0))
    // pivot 1 itself: reached only from pivot 5 at d=4 (self excluded)
    assert(got(1L) == ((1L, q(4), r6(q(4) * 2.0))))
    // hop bound: at maxHops=2 the far endpoint never reaches across
    val bounded = Graph.harmonicClosenessApprox(edges, "a", "b",
      sources = Seq(1L), maxHops = 2, topK = 10)
      .collect().map(r => r.getAs[Long]("node")).toSet
    assert(bounded == Set(2L, 3L), bounded.toString)
    // partition invariance of the exact quantized sums
    val g7 = Graph.harmonicClosenessApprox(edges.repartition(7), "a", "b",
      sources = Seq(1L, 5L), maxHops = 4, topK = 10)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Double]("h_raw")).toMap
    assert(g7 == got.map { case (k, v) => k -> v._2 })
  }

  test("betweennessApprox: path-graph dependencies are the Brandes closed form") {
    import graft.operators.Graph
    // path 1-2-3-4-5, pivots {1,5}, 4 hops: every interior node
    // accumulates delta 4 (3+1 / 2+2 / 1+3), endpoints 0
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val got = Graph.betweennessApprox(edges.repartition(3), "a", "b",
      sources = Seq(1L, 5L), maxHops = 4, topK = 10)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Double]("betweenness")).toMap
    assert(got(2L) == 4.0 && got(3L) == 4.0 && got(4L) == 4.0, got.toString)
    assert(got(1L) == 0.0 && got(5L) == 0.0)
    // bridge between two triangles: the bridge endpoints dominate
    val bridge = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 4L)).toDF("a", "b")
    val bc = Graph.betweennessApprox(bridge, "a", "b",
      sources = Seq(1L, 2L, 5L, 6L), maxHops = 3, topK = 10)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Double]("betweenness")).toMap
    assert(bc(3L) > bc(1L) && bc(4L) > bc(6L),
      s"bridge endpoints must outrank triangle corners: $bc")
    // partition invariance of the exact accumulators
    val g7 = Graph.betweennessApprox(edges.repartition(7), "a", "b",
      sources = Seq(1L, 5L), maxHops = 4, topK = 10)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Double]("betweenness")).toMap
    assert(g7 == got)
  }

  test("sequentialPatterns: gap-allowed precedence, one vote per session, gap splits") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val events = Seq(
      (1L, 1L, "a", ts("2024-01-01 10:00:00")),
      (1L, 7L, "a", ts("2024-01-01 10:01:00")), // duplicate a: still one vote
      (1L, 2L, "b", ts("2024-01-01 10:05:00")),
      (1L, 3L, "c", ts("2024-01-01 10:10:00")),
      (2L, 4L, "b", ts("2024-01-01 10:00:00")),
      (2L, 5L, "a", ts("2024-01-01 10:05:00")),
      (2L, 6L, "z", ts("2024-01-01 12:00:00"))) // >30 min: its own session
      .toDF("user_id", "event_id", "event_type", "ts")
    val got = Funnel.sequentialPatterns(events, gapSeconds = 1800, topN = 10)
      .collect().map(r => ((r.getAs[String]("ante"), r.getAs[String]("cons")),
        (r.getAs[Long]("sessions"), r.getAs[Double]("support")))).toMap
    // 3 sessions total; a precedes c twice within u1's session but votes once
    assert(got.keySet == Set(("a", "a"), ("a", "b"), ("a", "c"), ("b", "c"), ("b", "a")))
    assert(got(("a", "c")) == (1L, 0.333333))
    assert(got(("b", "a")) == (1L, 0.333333))
    // a→a from u1's duplicate a (a precedes a): gap-allowed means it counts
    assert(got(("a", "a"))._1 == 1L)
  }

  test("lastTouchAttribution credits the most recent preceding touch, strictly before") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // u1: view, click, purchase -> credited to the click (latest touch)
      (1L, 10L, "view", ts("2024-01-01 10:00:00")),
      (1L, 11L, "click", ts("2024-01-01 10:05:00")),
      (1L, 12L, "purchase", ts("2024-01-01 10:06:30")),
      // u1 second purchase with no new touch -> still the same click
      (1L, 13L, "purchase", ts("2024-01-01 11:00:00")),
      // u2: purchase BEFORE any touch -> unattributed (nulls)
      (2L, 20L, "purchase", ts("2024-01-01 09:00:00")),
      (2L, 21L, "click", ts("2024-01-01 09:30:00")),
      // u3: signup is not a touch type -> unattributed
      (3L, 30L, "signup", ts("2024-01-01 08:00:00")),
      (3L, 31L, "purchase", ts("2024-01-01 08:10:00")))
      .toDF("user_id", "event_id", "event_type", "ts")
    val out = Funnel.lastTouchAttribution(ev, "purchase", Seq("click", "view"))
      .orderBy("conversion_id").collect()
      .map(r => (r.getLong(1), Option(r.get(3)).map(_.toString.toLong),
        Option(r.getAs[String]("touch_type")), Option(r.get(5)).map(_.toString.toLong)))
    assert(out.toSeq == Seq(
      (12L, Some(11L), Some("click"), Some(90L)),
      (13L, Some(11L), Some("click"), Some(3300L)),
      (20L, None, None, None),
      (31L, None, None, None)))
  }

  test("linearAttribution splits credit equally among in-window touches") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // u1: click + view inside the window -> 1/2 credit each
      (1L, 10L, "view", ts("2024-01-01 10:00:00")),
      (1L, 11L, "click", ts("2024-01-01 10:05:00")),
      (1L, 12L, "purchase", ts("2024-01-01 10:06:30")),
      // u2: only a click in window (the view is 2h old -> outside 1800s)
      (2L, 20L, "view", ts("2024-01-01 07:00:00")),
      (2L, 21L, "click", ts("2024-01-01 09:10:00")),
      (2L, 22L, "purchase", ts("2024-01-01 09:30:00")),
      // u3: no touches -> contributes nothing to any channel
      (3L, 30L, "purchase", ts("2024-01-01 08:00:00")))
      .toDF("user_id", "event_id", "event_type", "ts")
    val out = Funnel.linearAttribution(ev, "purchase", Seq("click", "view"), 1800L)
      .orderBy("channel").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // click: 0.5 (u1) + 1.0 (u2) = 1.5 ; view: 0.5 (u1)
    assert(out.toSeq == Seq(("click", 2L, 1.5), ("view", 1L, 0.5)))
  }

  test("timeDecayAttribution: closer touches earn more, credits sum to 1 per conversion") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // view 900s before (weight 1/2), click 0s... use 450s (weight 2^-0.5)
    val ev = Seq(
      (1L, 10L, "view", ts("2024-01-01 10:00:00")),     // dt 900 -> w = 0.5
      (1L, 11L, "click", ts("2024-01-01 10:07:30")),    // dt 450 -> w = 2^-.5
      (1L, 12L, "purchase", ts("2024-01-01 10:15:00")))
      .toDF("user_id", "event_id", "event_type", "ts")
    val out = Funnel.timeDecayAttribution(ev, "purchase", Seq("click", "view"),
        windowSec = 1800L, halfLifeSec = 900L)
      .orderBy("channel").collect()
      .map(r => (r.getString(0), r.getDouble(2))).toMap
    val wv = 0.5; val wc = math.pow(2, -0.5)
    assert(math.abs(out("view") - wv / (wv + wc)) < 1e-6, s"view=${out("view")}")
    assert(math.abs(out("click") - wc / (wv + wc)) < 1e-6, s"click=${out("click")}")
    assert(out("click") > out("view"), "the closer touch must earn more")
    // integer-division credits can undershoot 1 by at most 2 ulps of 1e-9
    assert(math.abs(out.values.sum - 1.0) < 3e-9)
  }

  test("positionAttribution: 40/20/40 across positions, 1- and 2-touch renormalization") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // u1: four ordered touches A(view) B(click) C(click) D(view):
    // view gets .4 (first) + .4 (last), each middle click .1
    val ev = Seq(
      (1L, 10L, "view", ts("2024-01-01 10:00:00")),
      (1L, 11L, "click", ts("2024-01-01 10:05:00")),
      (1L, 12L, "click", ts("2024-01-01 10:10:00")),
      (1L, 13L, "view", ts("2024-01-01 10:15:00")),
      (1L, 14L, "purchase", ts("2024-01-01 10:20:00")),
      // u2: single touch -> 100%
      (2L, 20L, "click", ts("2024-01-01 09:10:00")),
      (2L, 21L, "purchase", ts("2024-01-01 09:30:00")),
      // u3: two touches -> 50/50
      (3L, 30L, "view", ts("2024-01-01 08:00:00")),
      (3L, 31L, "click", ts("2024-01-01 08:10:00")),
      (3L, 32L, "purchase", ts("2024-01-01 08:20:00")))
      .toDF("user_id", "event_id", "event_type", "ts")
    val out = Funnel.positionAttribution(ev, "purchase", Seq("click", "view"), 1800L)
      .orderBy("channel").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // click: .1+.1 (u1 middles) + 1.0 (u2) + .5 (u3) = 1.7
    // view:  .4+.4 (u1 ends) + .5 (u3) = 1.3
    assert(out.toSeq == Seq(("click", 3L, 1.7), ("view", 2L, 1.3)), out.mkString(","))
  }

  test("markovAttribution: removal effects match the hand-solved chain") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // u1: A -> purchase ; u2: A -> B -> purchase ; u3: B (no purchase)
      // u4: purchase with no prior touch (START -> CONV direct)
      (1L, 1L, "A", ts("2024-01-01 10:00:00")),
      (1L, 2L, "purchase", ts("2024-01-01 10:01:00")),
      (2L, 3L, "A", ts("2024-01-01 10:00:00")),
      (2L, 4L, "B", ts("2024-01-01 10:01:00")),
      (2L, 5L, "purchase", ts("2024-01-01 10:02:00")),
      (3L, 6L, "B", ts("2024-01-01 10:00:00")),
      (4L, 7L, "purchase", ts("2024-01-01 10:00:00")))
      .toDF("user_id", "event_id", "event_type", "ts").repartition(3)
    val out = Funnel.markovAttribution(ev, "user_id", "ts", "event_type",
        convChannel = "purchase", tiebreakCols = Seq("event_id"))
      .orderBy("channel").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    // chain: START->{CONV:1,A:2,B:1}; A->{B:1,CONV:1}; B->{CONV:1,NULL:1}
    // base = 1/4 + (2/4)(3/4) + (1/4)(1/2) = 3/4
    // remove A -> 3/8 (effect 1/2); remove B -> 1/2 (effect 1/3)
    assert(out.map(_._1).toSeq == Seq("A", "B"))
    val byCh = out.map(t => t._1 -> t).toMap
    assert(math.abs(byCh("A")._2 - 0.75) < 1e-6)
    assert(math.abs(byCh("A")._3 - 0.375) < 1e-6)
    assert(math.abs(byCh("A")._4 - 0.5) < 1e-6)
    assert(math.abs(byCh("B")._3 - 0.5) < 1e-6)
    assert(math.abs(byCh("B")._4 - 1.0 / 3) < 1e-6)
    assert(math.abs(byCh("A")._5 - 0.6) < 1e-6)
    assert(math.abs(byCh("B")._5 - 0.4) < 1e-6)
    assert(math.abs(out.map(_._5).sum - 1.0) < 1e-9)
  }

  test("transitionMatrix: exact pair counts and per-state shares, tie order pinned") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // u1: a -> b -> a ; u2: a -> b ; boundary between users must not pair
      ("u1", ts("2024-01-01 00:00:01"), "a", 1L),
      ("u1", ts("2024-01-01 00:00:02"), "b", 2L),
      ("u1", ts("2024-01-01 00:00:03"), "a", 3L),
      ("u2", ts("2024-01-01 00:00:01"), "a", 4L),
      ("u2", ts("2024-01-01 00:00:02"), "b", 5L))
      .toDF("u", "t", "state", "id").repartition(3)
    val out = Funnel.transitionMatrix(ev, "u", "t", "state", tiebreakCols = Seq("id"))
      .orderBy("state", "next_state").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // from a: a->b twice (u1, u2); from b: b->a once
    assert(out.toSeq == Seq(("a", "b", 2L, 1.0), ("b", "a", 1L, 1.0)))
  }

  test("fkOrphans flags missing and null foreign keys") {
    val child = Seq((1L, Some(10L)), (2L, Some(99L)), (3L, None))
      .toDF("id", "fk")
    val parent = Seq(10L).toDF("pk")
    val orphans = Relational.fkOrphans(child, parent, Seq("fk" -> "pk"))
      .select("id").as[Long].collect().sorted
    // 99 has no parent; NULL never matches (NOT EXISTS semantics)
    assert(orphans === Array(2L, 3L))
  }

  test("sessionPaths renders ordered per-session paths with deterministic top-N") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val events = Seq(
      (1L, 7L, "view", ts("2024-01-01 10:00:00")),
      (2L, 7L, "click", ts("2024-01-01 10:05:00")),
      (3L, 7L, "view", ts("2024-01-01 14:00:00")), // >30min gap: new session
      (4L, 9L, "view", ts("2024-01-01 09:00:00")),
      (5L, 9L, "click", ts("2024-01-01 09:10:00")))
      .toDF("event_id", "user_id", "event_type", "ts")
    val out = Funnel.sessionPaths(events, gapSeconds = 1800, topN = 10)
      .as[(String, Long)].collect()
    assert(out === Array(("view>click", 2L), ("view", 1L)))
  }

  test("forwardFill carries the last non-null observation, leading nulls stay null") {
    val df = Seq(
      (1L, 1, Some(10.0)), (1L, 2, None), (1L, 3, None), (1L, 4, Some(40.0)),
      (2L, 1, None), (2L, 2, Some(5.0)))
      .toDF("k", "pos", "v")
    val out = Temporal.forwardFill(df, Seq("k"), "pos", Seq("v"))
      .orderBy("k", "pos")
      .as[(Long, Int, Option[Double])]
      .collect()
    assert(out === Array(
      (1L, 1, Some(10.0)), (1L, 2, Some(10.0)), (1L, 3, Some(10.0)), (1L, 4, Some(40.0)),
      (2L, 1, None), (2L, 2, Some(5.0))))
  }

  test("scd2 collapses unchanged runs into validity intervals, open-ended current run") {
    val df = Seq(
      (1L, 1, "a"), (1L, 2, "a"), (1L, 3, "b"), (1L, 4, "a"),
      (2L, 1, "x"))
      .toDF("k", "pos", "attr")
    val out = Temporal.scd2(df, Seq("k"), "pos", Seq("attr"))
      .orderBy("k", "valid_from")
      .as[(Long, String, Int, Option[Int])]
      .collect()
    assert(out === Array(
      (1L, "a", 1, Some(3)),
      (1L, "b", 3, Some(4)),
      (1L, "a", 4, None), // attr returning to 'a' opens a NEW run
      (2L, "x", 1, None)))
  }

  test("histogram bins span [min, max] with the top value in the last bin") {
    val df = (0 to 100).map(_.toDouble).toDF("v")
    val out = Sketches.histogram(df, "v", nBins = 10)
      .orderBy("bin")
      .as[(Long, Double, Double, Long)]
      .collect()
    assert(out.length === 10)
    assert(out.head === ((0L, 0.0, 10.0, 10L)))
    // last bin is closed on the right: picks up both [90,100) and the max
    assert(out.last === ((9L, 90.0, 100.0, 11L)))
    assert(out.map(_._4).sum === 101L)
  }

  test("corrMatrix matches Spark's native corr to rounding") {
    val df = (1 to 1000).map(i => (i.toDouble, 2.0 * i + 3, (1001 - i).toDouble))
      .toDF("a", "b", "c")
    val out = Relational.corrMatrix(df, Seq("a", "b", "c"))
      .as[(String, String, Double)].collect()
      .map { case (x, y, v) => (x, y) -> v }.toMap
    assert(math.abs(out(("a", "b")) - 1.0) < 1e-6)   // perfect positive
    assert(math.abs(out(("a", "c")) + 1.0) < 1e-6)   // perfect negative
    val native = df.select(corr(col("a"), col("b"))).as[Double].head()
    assert(math.abs(out(("a", "b")) - native) < 1e-5)
  }

  test("allPairsJaccard finds exactly the planted near-dup pairs, no false negatives") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base),
      (2L, base + " lambda"),                       // near-dup of 1
      (3L, "totally different words here none shared at all today"),
      (4L, base))                                   // exact dup of 1
      .toDF("doc_id", "text")
    val out = graft.operators.Dedup.allPairsJaccard(docs, "doc_id", "text", threshold = 0.5)
      .orderBy("id1", "id2")
      .as[(Long, Long, Double)]
      .collect()
    assert(out.map(p => (p._1, p._2)) === Array((1L, 2L), (1L, 4L), (2L, 4L)))
    val j14 = out.find(p => p._1 == 1L && p._2 == 4L).get._3
    assert(j14 === 1.0)
    // 1 vs 2: 8 shared 3-shingles of (8 + 9 - 8) -> 8/9
    val j12 = out.find(p => p._1 == 1L && p._2 == 2L).get._3
    assert(math.abs(j12 - 8.0 / 9.0) < 1e-6)
  }

  test("weightedSample is exact-n, partitioning-invariant, and weight-biased") {
    val df = (1L to 2000L).map(i => (i, if (i <= 100) 100.0 else 1.0)).toDF("id", "w")
    val a = graft.operators.Sampling.weightedSample(df, "id", "w", n = 200)
      .select("id").as[Long].collect().toSet
    val b = graft.operators.Sampling.weightedSample(df.repartition(13), "id", "w", n = 200)
      .select("id").as[Long].collect().toSet
    assert(a.size === 200)
    assert(a === b, "sample must not depend on partitioning")
    // the 100 heavy rows (weight 100x) should dominate the sample
    val heavy = a.count(_ <= 100L)
    assert(heavy > 60, s"expected heavy-weight rows to dominate, got $heavy/100")
    // different seed -> different draw
    val c = graft.operators.Sampling.weightedSample(df, "id", "w", n = 200, seed = "other")
      .select("id").as[Long].collect().toSet
    assert(a != c)
  }

  test("grouped ecdfNormalize ranks within each key independently") {
    val df = Seq(
      ("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0),
      ("b", 100.0), ("b", 200.0))
      .toDF("k", "score")
    val out = Sketches.ecdfNormalize(df, "score", dp = 2, keyCols = Seq("k"))
      .orderBy("k", "score")
      .select("k", "score", "percentile")
      .as[(String, Double, Double)]
      .collect()
    assert(out === Array(
      ("a", 1.0, 0.25), ("a", 2.0, 0.5), ("a", 3.0, 0.75), ("a", 4.0, 1.0),
      ("b", 100.0, 0.5), ("b", 200.0, 1.0)))
  }

  test("funnel counts greedy ordered step completion per user") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val events = Seq(
      // u1 completes all three in order
      (1L, "signup", ts("2024-01-01 00:00:00")),
      (1L, "click", ts("2024-01-02 00:00:00")),
      (1L, "purchase", ts("2024-01-03 00:00:00")),
      // u2: purchase BEFORE click -> stops at click
      (2L, "signup", ts("2024-01-01 00:00:00")),
      (2L, "purchase", ts("2024-01-02 00:00:00")),
      (2L, "click", ts("2024-01-03 00:00:00")),
      // u3: never signs up -> reaches nothing
      (3L, "click", ts("2024-01-01 00:00:00")),
      (3L, "purchase", ts("2024-01-02 00:00:00")),
      // u4: signup only
      (4L, "signup", ts("2024-01-05 00:00:00")))
      .toDF("user_id", "event_type", "ts")
    val out = Funnel.funnel(events, "user_id", "event_type", "ts",
      Seq("signup", "click", "purchase"))
      .orderBy("step_idx")
      .as[(Int, String, Long)]
      .collect()
    assert(out === Array(
      (1, "signup", 3L),
      (2, "click", 2L),
      (3, "purchase", 1L)))
  }

  test("pageRank: hand-computed path graph, hub dominance, rank conservation") {
    import graft.operators.Graph
    // symmetrized path a-b-c: outdeg a=1, b=2, c=1
    val path = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("u", "v")
    val r2 = Graph.pageRank(path, "u", "v", iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // it1: a=c=0.15+0.85*(1/2)=0.575, b=0.15+0.85*(1+1)=1.85
    // it2: a=c=0.15+0.85*(1.85/2)=0.93625, b=0.15+0.85*(0.575+0.575)=1.1275
    assert(r2(1L) == 0.93625 && r2(3L) == 0.93625 && r2(2L) == 1.1275, r2.toString)
    // star graph: the hub outranks every leaf; total rank stays ~n
    val star = (2L to 6L).flatMap(l => Seq((1L, l), (l, 1L))).toDF("u", "v")
    val rs = Graph.pageRank(star, "u", "v", iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert((2L to 6L).forall(l => rs(1L) > rs(l)))
    assert(math.abs(rs.values.sum - 6.0) < 0.2, s"rank mass drifted: ${rs.values.sum}")
  }

  test("personalizedPageRank: seed-local mass, distance decay, empty seeds zero") {
    import graft.operators.Graph
    // directed 3-cycle a->b->c->a, seed {a}:
    // it1: a=0.15, b=0.85*1=0.85, c=0
    // it2: a=0.15, b=0.85*0.15=0.1275, c=0.85*0.85=0.7225
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("u", "v")
    val seedA = Seq(Tuple1(1L)).toDF("id")
    val r2 = Graph.personalizedPageRank(cyc, "u", "v", seedA, "id", iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(r2(1L) == 0.15 && r2(2L) == 0.1275 && r2(3L) == 0.7225, r2.toString)
    // symmetrized path a-b-c-d, seed {a}: the seed holds the most rank,
    // the far end the least (interior nodes are NOT monotone — b splits
    // its mass over 2 neighbors while c collects from both sides)
    val path = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L), (4L, 3L)).toDF("u", "v")
    val rp = Graph.personalizedPageRank(path, "u", "v", seedA, "id", iterations = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rp(1L) == rp.values.max && rp(4L) == rp.values.min, rp.toString)
    // no seeds -> every rank exactly 0; off-graph seeds are inert
    val r0 = Graph.personalizedPageRank(cyc, "u", "v", Seq.empty[Long].toDF("id"), "id")
      .collect().map(_.getDouble(1))
    assert(r0.forall(_ == 0.0))
    val rOff = Graph.personalizedPageRank(cyc, "u", "v", Seq(Tuple1(99L)).toDF("id"), "id")
      .collect().map(_.getDouble(1))
    assert(rOff.forall(_ == 0.0))
  }

  test("recMetrics: hand-computed coverage, novelty and cold-item exposure") {
    import graft.operators.Recommend
    // catalog {a,b,c,d}, 4 users; pop: a=4, b=2, c=1, d=1
    val inter = (Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "a"),
      (1L, "b"), (2L, "b"), (3L, "c"), (4L, "d"),
      (1L, "b"))).toDF("u", "i") // duplicate row collapses at distinct grain
    // recs: a (pop 4), b (pop 2), c (pop 1), e (cold)
    val recs = Seq((1L, "a"), (1L, "b"), (3L, "c"), (2L, "e")).toDF("u", "i")
    val r = Recommend.recMetrics(recs, "u", "i", inter, "u", "i").head
    assert(r.getAs[Long]("n_recs") == 4L)
    assert(r.getAs[Long]("n_rec_items") == 4L)
    assert(r.getAs[Long]("catalog_size") == 4L)
    assert(r.getAs[Double]("coverage") == 0.75) // warm items {a,b,c} of 4
    assert(r.getAs[Long]("n_cold") == 1L)
    // novelty = mean(ln(4/4), ln(4/2), ln(4/1)) over the 3 warm rec rows
    val expected = (0.0 + math.log(2.0) + math.log(4.0)) / 3.0
    assert(math.abs(r.getAs[Double]("novelty") - expected) < 1e-6)
    // all-blockbuster recs: novelty exactly 0
    val hot = Seq((1L, "a"), (2L, "a")).toDF("u", "i")
    assert(Recommend.recMetrics(hot, "u", "i", inter, "u", "i").head
      .getAs[Double]("novelty") == 0.0)
  }

  test("slopeOne reproduces the hand-worked weighted predictions") {
    import graft.operators.Recommend
    val r = Seq((1L, "i1", 1L), (1L, "i2", 2L),
      (2L, "i1", 3L), (2L, "i2", 4L), (2L, "i3", 6L),
      (3L, "i1", 2L)).toDF("u", "item", "v")
    val out = Recommend.slopeOne(r, "u", "item", "v").collect()
      .map(x => (x.getLong(0), x.getString(1)) -> x.getAs[Double]("prediction"))
      .toMap
    assert(out((3L, "i2")) == 3.0) // dev(i2,i1)=1 over 2 raters
    assert(out((3L, "i3")) == 5.0)
    assert(out((1L, "i3")) == 4.0) // (3+1·1 + 2+2·1) / 2
    assert(!out.contains((2L, "i1"))) // rated cells never predicted
  }

  test("kTruss: K4 survives k=4, pendant triangle only k=3, bridges peel") {
    import graft.operators.Graph
    // K4 on 1..4 + triangle {4,5,6} + pendant edge 6-7
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (4L, 6L), (6L, 7L)).toDF("s", "d")
    val t3 = Graph.kTruss(e, "s", "d", k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(t3.size == 9 && !t3.contains((6L, 7L))) // only the bridge peels
    val t4 = Graph.kTruss(e, "s", "d", k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // K4 edges each close 2 triangles; the pendant triangle's close 1
    assert(t4 == Set((1L, 2L, 2L), (1L, 3L, 2L), (1L, 4L, 2L),
      (2L, 3L, 2L), (2L, 4L, 2L), (3L, 4L, 2L)))
  }

  test("kTruss on a planted hub-star: wedge work is orientation-bounded") {
    import graft.operators.Graph
    // 1 hub (node 0) with 10k spokes + a K5 on 100001..100005: the r13
    // verdict's skew scenario. The hub has degree 10 000 but oriented
    // OUT-degree 0 (every spoke-hub edge points spoke→hub under the
    // (degree, id) order), so the star contributes ZERO wedge rows —
    // the unoriented formulation would have built 10k × 10k of them.
    val spokes = (1L to 10000L).map(i => (0L, i))
    val k5 = (for { i <- 1 to 5; j <- i + 1 to 5 }
      yield (100000L + i, 100000L + j)).toSeq
    val e = (spokes ++ k5).toDF("s", "d").repartition(8)
    // direct evidence of the bound: the oriented star has no wedges
    val star = spokes.toDF("s", "d")
      .select(least(col("s"), col("d")).as("a"), greatest(col("s"), col("d")).as("b"))
    val o = Graph.orientEdges(star)
    val wedges = o.select(col("u").as("x"), col("v").as("y"))
      .join(o.select(col("u").as("y"), col("v").as("z")), "y")
    assert(wedges.count() == 0L, "oriented star must produce no wedge rows")
    // end-to-end: K5 survives k=4 with support 3 per edge; all star edges peel
    val t4 = Graph.kTruss(e, "s", "d", k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(t4 == k5.map { case (a, b) => (a, b, 3L) }.toSet)
  }

  test("assortativity: star is -1, regular ring is NULL") {
    import graft.operators.Graph
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("s", "d")
    val r = Graph.assortativity(star, "s", "d").head
    assert(r.getAs[Long]("m_edges") == 3L)
    assert(r.getAs[Double]("assortativity") == -1.0)
    // 4-cycle: every degree 2 ⇒ zero variance ⇒ NULL
    val ring = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("s", "d")
    val rr = Graph.assortativity(ring, "s", "d").head
    assert(rr.isNullAt(rr.fieldIndex("assortativity")))
  }

  test("linkPrediction: 4-cycle diagonals score cn=2, jaccard=1, AA=2/ln2") {
    import graft.operators.Graph
    // cycle 1-2-3-4-1: the two diagonals (1,3) and (2,4) are the only
    // non-adjacent pairs, each with both cycle-mates as common neighbors
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("s", "d")
    val out = Graph.linkPrediction(e, "s", "d", minCommon = 2L)
      .orderBy("u").collect()
    assert(out.length == 2)
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 3L), (2L, 4L)))
    assert(out.forall(_.getAs[Long]("common_neighbors") == 2L))
    assert(out.forall(_.getAs[Double]("jaccard") == 1.0))
    assert(out.forall(_.getAs[Double]("adamic_adar") == 2.88539))
    assert(out.forall(_.getAs[Double]("resource_alloc") == 1.0)) // 2·(1/2)
    // capping intermediaries to degree < 2 removes every wedge
    assert(Graph.linkPrediction(e, "s", "d", maxDegree = 1L).count() == 0L)
  }

  test("hits: hand-replayed bipartite half-steps, roles split correctly") {
    import graft.operators.Graph
    // u1→{v1,v2}, u2→{v1}; iter1: a(v1)=1, a(v2)=.5, h(u1)=1, h(u2)=1/1.5
    val e = Seq(("u1", "v1"), ("u1", "v2"), ("u2", "v1")).toDF("s", "d")
    val m1 = Graph.hits(e, "s", "d", iterations = 1).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(m1("v1")._2 == 1.0 && m1("v2")._2 == 0.5)
    assert(m1("u1")._1 == 1.0 && m1("u2")._1 == 0.666666667)
    // pure sources have 0 authority; pure sinks 0 hub
    assert(m1("u1")._2 == 0.0 && m1("v1")._1 == 0.0)
    // iter3 hand-replay of the quantized recurrence
    val m3 = Graph.hits(e, "s", "d", iterations = 3).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(m3("v2")._2 == 0.615384615 && m3("u2")._1 == 0.619047619, m3.toString)
  }

  test("triangleCounts: K4 + pendant path, robust to dupes/reversals/self-loops") {
    import graft.operators.Graph
    // K4 on 1..4 (4 triangles, each node in 3) + path 4-5-6 (none);
    // inputs deliberately messy: both directions, duplicates, a self-loop
    val edges = (Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)) ++ Seq((2L, 1L), (3L, 1L), (1L, 2L), (5L, 5L)))
      .toDF("u", "v")
    val out = Graph.triangleCounts(edges, "u", "v")
      .orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (1L, 3L, 3L), (2L, 3L, 3L), (3L, 3L, 3L),
      (4L, 4L, 3L), (5L, 2L, 0L), (6L, 1L, 0L)))
  }

  test("degreeTailAlpha matches the hand-computed Hill estimate") {
    import graft.operators.Graph
    // star K1,5: hub degree 5, five leaves degree 1
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (0L, 5L)).toDF("u", "v")
    val out = Graph.degreeTailAlpha(star, "u", "v", dMin = 1L).head()
    assert(out.getLong(1) == 6L)
    // sum of ln(d/1) terms = ln(5) (leaves contribute ln(1)=0), 6dp-rounded
    val expected = 1.0 + 6.0 / BigDecimal(math.log(5.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(out.getDouble(2) - expected) < 1e-6, s"got ${out.getDouble(2)}")
    // dMin filters the tail: only the hub (degree 5) survives dMin = 2
    val tail = Graph.degreeTailAlpha(star, "u", "v", dMin = 2L).head()
    assert(tail.getLong(1) == 1L)
    val exp2 = 1.0 + 1.0 / BigDecimal(math.log(2.5))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(tail.getDouble(2) - exp2) < 1e-6, s"got ${tail.getDouble(2)}")
  }

  test("kCore: cascading peel reaches the k-core, messy input canonicalized") {
    import graft.operators.Graph
    // K4 on 1..4 is the 3-core; the tail 4-5-6-7 peels away over THREE
    // cascading rounds (7 first, then 6, then 5) — exercises iteration,
    // not just one filter pass. Dupes/reversals/self-loop must not count.
    val edges = (Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 7L)) ++ Seq((2L, 1L), (1L, 2L), (6L, 6L)))
      .toDF("u", "v")
    val out = Graph.kCore(edges, "u", "v", k = 2, rounds = 8)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))
    // insufficient rounds stop mid-peel: after one round only node 7 is
    // gone, so 5 and 6 still linger with their current degrees
    val partial = Graph.kCore(edges, "u", "v", k = 2, rounds = 1)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(partial.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    // a graph that IS its own k-core exits on the first no-op round
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("u", "v")
    assert(Graph.kCore(k4, "u", "v", k = 3, rounds = 100).count() == 4L)
  }

  test("connectedComponents: random graphs match driver-side union-find") {
    import graft.operators.Graph
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 40 + trial * 20
      val edges = Seq.fill(n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      // driver-side union-find as the brute oracle
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = parent.keys.map(k => k -> find(k)).toMap
      // min root: union-find with min-root merge yields min label directly
      val got = Graph.connectedComponents(edges.toDF("u", "v"), "u", "v")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial $trial")
    }
  }

  test("connectedComponents: 200-node chain converges in O(log n) rounds") {
    import graft.operators.Graph
    // diameter 200 — naive min-label needs 200 rounds; star contraction
    // must land well inside 15. driverFinishEdges = 0 pins the DISTRIBUTED
    // path (the r14 driver-finish escape would close this size instantly)
    val chain = (0L until 200L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("u", "v")
    val labels = Graph.connectedComponents(chain, "u", "v", maxIter = 15,
        driverFinishEdges = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length == 200 && labels.forall(_._2 == 0L))
  }

  test("connectedComponents: driver-finish escape equals the distributed fixpoint") {
    import graft.operators.Graph
    val rnd = new scala.util.Random(21)
    // chains + blobs + self-loops so both paths cross several rounds
    val edges = (Seq.fill(120)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)) ++
      (100L until 140L).sliding(2).map(s => (s(0), s(1)))).toDF("u", "v")
    val viaEscape = Graph.connectedComponents(edges, "u", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaRounds = Graph.connectedComponents(edges, "u", "v",
        driverFinishEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaEscape == viaRounds)
  }

  test("bfsHops: hand-computed hop distances, hop bound, unreachable absent") {
    import graft.operators.Graph
    // path 1-2-3-4-5 plus disconnected 8-9; seeds {1}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L)).toDF("u", "v")
    val seeds = Seq(1L).toDF("s")
    val got = Graph.bfsHops(edges, "u", "v", seeds, "s", maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 5 is 4 hops away -> absent at maxHops 3; 8,9 unreachable -> absent
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    // multi-source: seeds {1, 5} cover the path in 2 hops
    val got2 = Graph.bfsHops(edges, "u", "v", Seq(1L, 5L).toDF("s"), "s", maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == Map(1L -> 0L, 5L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L))
  }

  test("connectedComponents: self-loops, isolated-by-self-loop nodes, messy input") {
    import graft.operators.Graph
    val edges = Seq(
      (3L, 1L), (1L, 3L), (3L, 3L),          // component {1,3} + noise
      (7L, 7L),                               // self-loop only -> own label
      (5L, 4L), (6L, 5L)).toDF("u", "v")      // component {4,5,6}
    val got = Graph.connectedComponents(edges, "u", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 3L -> 1L, 7L -> 7L, 4L -> 4L, 5L -> 4L, 6L -> 4L))
  }

  test("modularity: two clean triangles score 0.5, one-community graph scores 0") {
    import graft.operators.Graph
    val tris = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("u", "v")
    val comms = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L), (12L, 10L))
      .toDF("node", "community")
    val r = Graph.modularity(tris, comms, "u", "v", "node", "community").head
    // m=6, each community: L=3, D=6 -> Q = 2·(3/6 − (6/12)²) = 0.5
    assert(r.getAs[Long]("m") == 6L && r.getAs[Long]("n_communities") == 2L)
    assert(r.getAs[Double]("modularity") == 0.5)
    val one = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 1L), (11L, 1L), (12L, 1L))
      .toDF("node", "community")
    val q1 = Graph.modularity(tris, one, "u", "v", "node", "community")
      .head.getAs[Double]("modularity")
    assert(q1 == 0.0, s"everything-in-one-community must score 0, got $q1")
  }

  test("labelPropagation: disjoint triangles converge to their min labels, hand-replayed round") {
    import graft.operators.Graph
    val tris = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("u", "v")
    val got = Graph.labelPropagation(tris, "u", "v", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
    // one sweep on a triangle, replayed by hand: each node adopts the
    // smaller of its two neighbors' seed labels (counts tie at 1)
    val one = Graph.labelPropagation(
        Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("u", "v"), "u", "v", rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == Map(1L -> 2L, 2L -> 1L, 3L -> 1L))
    // self-loops and duplicate/reversed edges must not skew the counts
    val noisy = Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 3L), (1L, 3L)).toDF("u", "v")
    val clean = Graph.labelPropagation(noisy, "u", "v", rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clean == one)
  }

  test("shapleyAttribution: hand-solved two-channel game; efficiency; direct row; invariant") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // touch sets among converters: {A} x3, {B} x1, {A,B} x2, direct x1
    // v(A)=3 v(B)=1 v(AB)=6; phi_A = ((v(A)-0) + (v(AB)-v(B)))/2 = 4
    // phi_B = ((v(B)-0) + (v(AB)-v(A)))/2 = 2; shares 4/6, 2/6
    var id = 0L
    def u(uid: Long, chans: Seq[String], conv: Boolean) = {
      val touches = chans.zipWithIndex.map { case (ch, i) =>
        id += 1; (uid, id, ch, ts(f"2024-01-01 10:0$i%d:00"))
      }
      val tail = if (conv) { id += 1; Seq((uid, id, "purchase", ts("2024-01-01 10:09:00"))) }
      else Seq.empty
      touches ++ tail
    }
    val rows =
      u(1, Seq("A"), conv = true) ++ u(2, Seq("A"), conv = true) ++
        u(3, Seq("A"), conv = true) ++ u(4, Seq("B"), conv = true) ++
        u(5, Seq("A", "B"), conv = true) ++ u(6, Seq("B", "A"), conv = true) ++
        u(7, Seq.empty, conv = true) ++ // direct
        u(8, Seq("A", "B"), conv = false) // non-converter: must not count
    val ev = rows.toDF("user_id", "event_id", "event_type", "ts").repartition(3)
    val out = Funnel.shapleyAttribution(ev, "user_id", "ts", "event_type", "purchase")
      .orderBy("channel").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getAs[java.lang.Double]("share")))
    assert(out.map(_._1).toSeq == Seq("A", "B", "__DIRECT__"))
    assert(out(0)._2 == 4.0 && out(1)._2 == 2.0)
    assert(math.abs(out(0)._3 - 4.0 / 6) < 1e-6 && math.abs(out(1)._3 - 2.0 / 6) < 1e-6)
    assert(out(2)._2 == 1.0 && out(2)._3 == null)
    // efficiency: channel credits sum to the attributable conversions
    assert(out(0)._2 + out(1)._2 == 6.0)
    // a touch AT the conversion instant is not strictly earlier -> direct
    val tie = Seq(
      (9L, 100L, "A", ts("2024-01-01 10:09:00")),
      (9L, 101L, "purchase", ts("2024-01-01 10:09:00")))
      .toDF("user_id", "event_id", "event_type", "ts")
    val t = Funnel.shapleyAttribution(tie, "user_id", "ts", "event_type", "purchase")
      .orderBy("channel").collect()
    assert(t.find(_.getString(0) == "__DIRECT__").get.getDouble(1) == 1.0)
    val g7 = Funnel.shapleyAttribution(ev.repartition(7), "user_id", "ts", "event_type", "purchase")
      .orderBy("channel").collect().map(_.getDouble(1)).toSeq
    assert(g7 == out.map(_._2).toSeq)
  }

  test("boruvkaMst: matches driver-side Kruskal on random graphs, forest + edge cases") {
    import graft.operators.Graph
    // driver-side Kruskal under the same (w, a, b) total order
    def kruskal(edges: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      val canon = edges.map { case (u, v, w) => (math.min(u, v), math.max(u, v), w) }
        .groupBy(e => (e._1, e._2)).map { case ((a, b), es) => (a, b, es.map(_._3).min) }
      canon.toSeq.sortBy(e => (e._3, e._1, e._2)).flatMap { case (a, b, w) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { parent(ra) = rb; Some((a, b, w)) } else None
      }.toSet
    }
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val n = 20 + trial * 10
      val edges = Seq.fill(n * 3)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong, rnd.nextInt(1000).toLong + 1L))
        .filter(e => e._1 != e._2)
      val got = Graph.boruvkaMst(edges.toDF("u", "v", "w").repartition(4), "u", "v", "w")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == kruskal(edges), s"trial $trial")
    }
    // two disconnected components: a spanning FOREST, one edge short per part
    val forest = Seq((1L, 2L, 5L), (2L, 3L, 1L), (1L, 3L, 2L), (10L, 11L, 7L))
      .toDF("u", "v", "w")
    val f = Graph.boruvkaMst(forest, "u", "v", "w")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(f == Set((2L, 3L, 1L), (1L, 3L, 2L), (10L, 11L, 7L)))
    // parallel edges collapse to their min weight before selection
    val par = Seq((1L, 2L, 9L), (2L, 1L, 4L)).toDF("u", "v", "w")
    assert(Graph.boruvkaMst(par, "u", "v", "w").head.getLong(2) == 4L)
  }

  test("eigenvectorCentrality: dense region pins to 1, tail trails; invariant") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // triangle 1-2-3 with a pendant 4 on node 3 (non-bipartite, so the
    // power iteration settles): 3 sees the most important neighbors
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("u", "v")
    val out = Graph.eigenvectorCentrality(edges.repartition(3), "u", "v", iterations = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(3L) == 1.0, s"the hub must pin to the max norm: $out")
    assert(out(1L) == out(2L), "symmetric nodes must tie exactly")
    assert(out(1L) > out(4L), "triangle members outrank the pendant")
    assert(out(4L) > 0.0)
    val o7 = Graph.eigenvectorCentrality(edges.repartition(7), "u", "v", iterations = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(o7 == out, "quantized rounds are partition-invariant")
  }

  test("eigenvectorCentrality: directed sink-heavy graph still pins a RETURNED node to 1.0") {
    import spark.implicits._
    // node 9 is a pure sink (never a source, excluded from the output
    // universe) collecting every edge — the max-norm divisor must come
    // from the returned universe, or no output node reads 1.0
    val edges = Seq((1L, 9L), (2L, 9L), (3L, 9L), (1L, 2L), (2L, 1L), (3L, 1L))
      .toDF("u", "v")
    val out = Graph.eigenvectorCentrality(edges, "u", "v", iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!out.contains(9L), "sink-only nodes stay outside the node universe")
    assert(out.values.max == 1.0, s"documented max = 1.0 contract: $out")
  }

  test("degenerate inputs: empty, one-row and null-heavy frames return without an exception") {
    val frames = Seq(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType.fromDDL("id LONG, k STRING, cls STRING, text STRING, v DOUBLE")),
      Seq((1L, "a", "x", "hello", 1.0)).toDF("id", "k", "cls", "text", "v"),
      // NULL text, whitespace-only text, an all-NULL value column
      Seq[(Long, String, String, String, Option[Double])](
        (1L, "a", "x", null, None),
        (2L, "b", "y", "   ", None),
        (3L, "a", "x", "hello world", None)).toDF("id", "k", "cls", "text", "v"))
    // operator -> row counts on (empty, one row, null-heavy)
    val cases: Seq[(String, DataFrame => DataFrame, Seq[Int])] = Seq(
      ("lmBigramScore", TextAnalysis.lmBigramScore(_, "id", "text"), Seq(0, 0, 1)),
      ("tfIdfTopTerms", TextAnalysis.tfIdfTopTerms(_, "id", "text", topPerDoc = 3), Seq(0, 1, 2)),
      ("perplexityScore", df => TextAnalysis.perplexityScore(df, "id", "text", df), Seq(0, 1, 1)),
      ("removeBoilerplate", TextAnalysis.removeBoilerplate(_, "id", "text", minDocs = 2), Seq(0, 1, 2)),
      ("naiveBayesClassify", df => Models.naiveBayesClassify(df, "id", "text", df, "cls"), Seq(0, 1, 1)),
      ("alsRank2", Models.alsRank2(_, "k", "cls", "v", sweeps = 1), Seq(0, 2, 4)),
      ("equiDepthHistogram", Sketches.equiDepthHistogram(_, "v", nBins = 4), Seq(0, 1, 1)),
      ("madOutliers", Sketches.madOutliers(_, Seq("k"), "v"), Seq(0, 1, 3)),
      ("winsorize", Sketches.winsorize(_, "v"), Seq(0, 1, 3)),
      ("filterByQuantileBand", Sketches.filterByQuantileBand(_, "v", 0.1, 0.9), Seq(0, 1, 0)),
      ("skewReport", Skew.skewReport(_, Seq("k")), Seq(1, 1, 1)),
      ("profile", Relational.profile(_, Seq("k", "text", "v")), Seq(3, 3, 3)))
    for ((op, run, want) <- cases) {
      val got = frames.map(run(_).collect().length)
      assert(got == want, s"$op row counts on (empty, one row, null-heavy)")
    }
    assert(Skew.skewReport(frames(0), Seq("k")).head.getAs[Long]("n_keys") == 0L)
    val tfidf = TextAnalysis.tfIdfTopTerms(frames(1), "id", "text", topPerDoc = 3).head
    assert(tfidf.getAs[Double]("tfidf") == 0.0)
  }
}
