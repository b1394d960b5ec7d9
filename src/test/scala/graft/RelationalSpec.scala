package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Relational

class RelationalSpec extends SparkSpec {
  import spark.implicits._

  test("diagonalConcat unions by name and null-fills missing columns") {
    val a = Seq((1L, "x")).toDF("id", "a_only")
    val b = Seq((2L, 3.5)).toDF("id", "b_only")
    val out = Relational.diagonalConcat(Seq(a, b)).orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(out(0).getString(1) == "x" && out(0).isNullAt(2))
    assert(out(1).isNullAt(1) && out(1).getDouble(2) == 3.5)
  }

  test("sumIfAnyNotNull keeps all-null groups null, sums otherwise") {
    val df = Seq(
      ("g1", Some(1.0)), ("g1", None), ("g2", None), ("g2", None))
      .toDF("g", "v")
    val out = Relational
      .diagonalConcat(Seq(df))
      .groupBy("g")
      .agg(Relational.sumIfAnyNotNull(col("v")).as("s"))
      .orderBy("g")
      .collect()
    assert(out(0).getDouble(1) == 1.0)
    assert(out(1).isNullAt(1))
  }

  /** The decimal `sumIfAnyNotNull` against Spark's `sum` of the same cast,
    * per group of `g`: same type, same values. */
  private def assertSparkSum(df: DataFrame, scale: Int): Unit = {
    val ours = df.groupBy("g").agg(Relational.sumIfAnyNotNull(col("v"), scale).as("s"))
    val theirs = df.groupBy("g").agg(sum(col("v").cast(DecimalType(18, scale))).as("s"))
    assert(ours.schema("s").dataType == DecimalType(28, scale))
    assert(ours.schema == theirs.schema)
    assert(ours.orderBy("g").collect().toSeq == theirs.orderBy("g").collect().toSeq)
  }

  test("decimal sumIfAnyNotNull equals Spark's decimal sum over seeded, negative, tie and null values") {
    val rnd = new scala.util.Random(11)
    val seeded = (1 to 2000).map { i =>
      val v = i % 7 match {
        case 0 => None
        case 1 => Some(rnd.nextGaussian() * 1e5)
        case 2 => Some(-rnd.nextDouble() * 1e4)
        case _ => Some(math.round(rnd.nextDouble() * 2e5 - 1e5) / 1000.0)
      }
      (s"g${i % 13}", v)
    }
    val ties = Seq(1.005, 2.675, -1.005, -2.675, 0.125, -0.125, 1.0005, -2.6755)
      .map(v => ("ties", Option(v)))
    val df = (seeded ++ ties :+ (("nulls", None: Option[Double]))).toDF("g", "v")
    Seq(0, 2, 4).foreach(assertSparkSum(df, _))
  }

  test("decimal sumIfAnyNotNull keeps every digit of a scale past 8") {
    // a rebuild typed past 38 digits would cut these sums to 8 decimals
    val tiny = Seq(("a", 1e-10), ("b", -3e-10), ("b", 7e-10), ("c", 1.23456789012e-4),
      ("d", 5e-18), ("d", -2e-18)).toDF("g", "v")
    Seq(10, 12, 18).foreach(assertSparkSum(tiny, _))
    val a = tiny.filter(col("g") === "a")
      .agg(Relational.sumIfAnyNotNull(col("v"), 10).as("s")).head.getDecimal(0)
    assert(a.compareTo(new java.math.BigDecimal("1e-10")) == 0, a)
  }

  test("decimal sumIfAnyNotNull stays exact where one long would overflow") {
    val big = (Seq.fill(100)(("pos", 9e15)) ++ Seq.fill(100)(("neg", -9e15)) ++
      Seq.fill(50)(("mix", 9e15)) ++ Seq.fill(50)(("mix", -8.99e15))).toDF("g", "v")
    // 100 x 9e15 at scale 2 is 9e19 unscaled, past Long.MaxValue
    val total = new java.math.BigDecimal("9e15").setScale(2).multiply(new java.math.BigDecimal(100))
    assert(total.unscaledValue.compareTo(java.math.BigInteger.valueOf(Long.MaxValue)) > 0)
    assertSparkSum(big, 2)
    val pos = big.filter(col("g") === "pos")
      .agg(Relational.sumIfAnyNotNull(col("v"), 2).as("s")).head.getDecimal(0)
    assert(pos.compareTo(total) == 0, pos)
  }

  test("decimal sumIfAnyNotNull: all-null group, empty input, one row") {
    val df = Seq(("a", Some(1.25)), ("b", None), ("b", None)).toDF("g", "v")
    val out = df.groupBy("g").agg(Relational.sumIfAnyNotNull(col("v"), 2).as("s"))
      .orderBy("g").collect()
    assert(out(0).getDecimal(1).compareTo(new java.math.BigDecimal("1.25")) == 0)
    assert(out(1).isNullAt(1))
    val empty = df.limit(0)
    assert(empty.groupBy("g").agg(Relational.sumIfAnyNotNull(col("v"), 2)).collect().isEmpty)
    val global = empty.agg(Relational.sumIfAnyNotNull(col("v"), 2)).collect()
    assert(global.length == 1 && global(0).isNullAt(0))
  }

  test("alignToSchema adds typed null columns in canonical order") {
    val df = Seq((1L, "x")).toDF("id", "name")
    val out = Relational.alignToSchema(
      df,
      Seq("name" -> StringType, "id" -> LongType, "extra" -> DoubleType))
    assert(out.columns.toSeq == Seq("name", "id", "extra"))
    assert(out.schema("extra").dataType == DoubleType)
    assert(out.head.isNullAt(2))
  }

  test("roundNumericsToLong rounds non-key numerics and keeps keys") {
    val df = Seq((1L, 2.6, "k")).toDF("id", "v", "s")
    val out = Relational.roundNumericsToLong(df, keyCols = Set("id"))
    val row = out.head
    assert(row.getLong(0) == 1L)
    assert(row.getLong(1) == 3L)
    assert(row.getString(2) == "k")
  }

  test("upsert: updates win over base, new keys insert, version breaks update ties") {
    val base = Seq((1L, 1, "base1"), (2L, 1, "base2")).toDF("k", "ver", "v")
    val updates = Seq(
      (1L, 2, "upd1-old"), (1L, 3, "upd1-new"), // same key twice: ver wins
      (3L, 1, "ins3")).toDF("k", "ver", "v")
    val out = Relational.upsert(base, updates, Seq("k"), "ver")
      .orderBy("k").collect()
    assert(out.map(r => (r.getLong(0), r.getString(2))).toSeq ==
      Seq((1L, "upd1-new"), (2L, "base2"), (3L, "ins3")))
  }

  test("applyCdc: last seq wins per key, D deletes, untouched keys survive") {
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
      .toDF("k", "status", "price")
    val changes = Seq(
      (1L, "a2", 11.0, "U", 1L), (1L, "a3", 12.0, "U", 2L), // last write wins
      (2L, "b", 20.0, "D", 1L),                             // tombstone
      (3L, "c2", 31.0, "U", 1L), (3L, "c2", 31.0, "D", 2L), // update then delete
      (5L, "e", 50.0, "I", 1L))                             // insert of a new key
      .toDF("k", "status", "price", "op", "seq")
    val out = Relational.applyCdc(base, changes, Seq("k"), "seq", "op")
      .orderBy("k").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((1L, "a3", 12.0), (4L, "d", 40.0), (5L, "e", 50.0)))
  }

  test("applyCdc equals a last-writer-wins reference model on a 300-change random feed") {
    val r = new scala.util.Random(7)
    val baseRows = (0L until 100L).map(k => (k, s"s$k", k * 1.5))
    val changeRows = (0 until 300).map { i =>
      val k = r.nextInt(120).toLong // keys 100-119 are pure inserts
      val op = Seq("I", "U", "D")(r.nextInt(3))
      (k, s"c$i", i * 0.25, op, i.toLong) // globally unique seq
    }
    val out = Relational.applyCdc(
      baseRows.toDF("k", "status", "price"),
      changeRows.toDF("k", "status", "price", "op", "seq"),
      Seq("k"), "seq", "op")
      .collect().map(row => (row.getLong(0), (row.getString(1), row.getDouble(2)))).toMap
    val lastByKey = changeRows.groupBy(_._1).map { case (k, cs) => k -> cs.maxBy(_._5) }
    val expected = (baseRows.map(b => b._1 -> (b._2, b._3)).toMap ++
      lastByKey.map { case (k, c) => k -> (c._2, c._3) })
      .filter { case (k, _) => !lastByKey.get(k).exists(_._4 == "D") }
    assert(out == expected)
  }

  test("globalRowNumbers: contiguous, order-correct, multi-partition, no single-partition window") {
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("k", org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("id") * 37 % 1000, org.apache.spark.sql.functions.lit(1000)))
      .repartition(8)
    val out = Relational.globalRowNumbers(df, Seq(col("k")), numPartitions = Some(6))
    assert(out.rdd.getNumPartitions > 1, "must not collapse to one partition")
    val rows = out.orderBy("k").collect()
    assert(rows.map(_.getLong(rows.head.fieldIndex("row_num"))).toSeq == (0L until 1000L))
    // matches the window formulation exactly
    val viaWindow = df.withColumn("row_num",
      org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("k"))).cast("long") - 1)
      .orderBy("k").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(2))).toSeq ==
      viaWindow.map(r => (r.getLong(0), r.getLong(2))).toSeq)
  }

  test("aggState merge of disjoint slices equals the full recompute exactly") {
    val full = Seq(
      ("a", 10.50, 1.0), ("a", 2.25, 9.0), ("b", 5.00, 4.0),
      ("b", -1.75, 2.0), ("c", 0.10, 3.0)).toDF("k", "x", "y")
    // slice so key 'a' spans both, 'b' sits in one, 'c' in the other
    val sliceA = full.filter(col("y") <= 2.0)
    val sliceB = full.filter(col("y") > 2.0)
    def state(df: org.apache.spark.sql.DataFrame) =
      Relational.aggState(df, Seq("k"), Seq("x"), minCols = Seq("y"), maxCols = Seq("y"))
    val merged = Relational.mergeAggState(state(sliceA), state(sliceB), Seq("k"))
    val direct = state(full)
    // names + types must be stable (nullability legitimately widens:
    // count(*) is non-null, the re-merged sum(cnt) is nullable)
    def shape(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => (f.name, f.dataType))
    assert(shape(merged) == shape(direct), s"merge must be schema-stable:\n${merged.schema}\n${direct.schema}")
    val m = merged.orderBy("k").collect().toSeq
    val d = direct.orderBy("k").collect().toSeq
    assert(m == d, s"merged $m != direct $d")
    // and the merge folds again (three-slice chain) without drift
    val chained = Relational.mergeAggState(
      Relational.mergeAggState(state(sliceA), state(sliceB), Seq("k")),
      state(full.limit(0)), Seq("k"))
    assert(chained.orderBy("k").collect().toSeq == d)
  }

  test("coerceTimestamps: format priority, garbage to null, no ANSI throw") {
    val df = Seq(
      (1L, "2024-03-05 10:00:00"),
      (2L, "03/05/2024"),
      (3L, "20240305"),
      // ambiguous: parses under BOTH MM/dd and dd/MM — the declared order
      // must win deterministically
      (4L, "01/02/2024"),
      (5L, "definitely not a date")).toDF("id", "raw")
    val out = Relational.coerceTimestamps(
      df, "raw", Seq("yyyy-MM-dd HH:mm:ss", "MM/dd/yyyy", "dd/MM/yyyy", "yyyyMMdd"))
      .orderBy("id").collect()
      .map(r => Option(r.getTimestamp(2)).map(_.toString))
    assert(out(0).contains("2024-03-05 10:00:00.0"))
    assert(out(1).contains("2024-03-05 00:00:00.0"))
    assert(out(2).contains("2024-03-05 00:00:00.0"))
    assert(out(3).contains("2024-01-02 00:00:00.0"), s"first format must win: ${out(3)}")
    assert(out(4).isEmpty, "garbage must null out, not throw (ANSI)")
  }

  test("capGroupSize drops a planted 10k-line basket and bounds the pair fan-out") {
    import org.apache.spark.sql.functions.{count => fcount}
    // 50 normal baskets of 5 items + one pathological 10k-item basket
    val normal = (1 to 50).flatMap(k => (1 to 5).map(i => (k.toLong, k * 100L + i)))
    val hot = (1 to 10000).map(i => (9999L, 500000L + i))
    val df = (normal ++ hot).toDF("basket", "item").repartition(8)
    val capped = Relational.capGroupSize(df, Seq("basket"), maxRows = 100)
    // the hot basket is gone entirely, normals untouched
    assert(capped.filter(col("basket") === 9999L).count() == 0)
    assert(capped.count() == normal.length)
    // pair fan-out after the self-join is bounded by n*(n-1)/2 per basket:
    // 50 baskets x C(5,2) = 500 pairs, instead of ~50M from the hot basket
    val pairs = capped.join(
      capped.select(col("basket"), col("item").as("item2")), Seq("basket"))
      .filter(col("item") < col("item2"))
    assert(pairs.count() == 50L * 10)
    // cap at the exact group size keeps the group (strictly-greater drop)
    assert(Relational.capGroupSize(df, Seq("basket"), maxRows = 10000)
      .groupBy(col("basket")).agg(fcount(lit(1))).count() == 51)
  }

  test("flattenStructs expands nested structs, leaves arrays alone, handles dotted names") {
    val df = Seq((1L, ("x", (2.5, Seq(1, 2))))).toDF("id", "outer")
      .selectExpr("id", "named_struct('tag', outer._1, 'inner', named_struct('score', outer._2._1, 'xs', outer._2._2)) AS `weird.name`")
    val flat = Relational.flattenStructs(df)
    assert(flat.columns.toSeq == Seq("id", "weird.name_tag", "weird.name_inner_score", "weird.name_inner_xs"))
    val row = flat.head
    assert(row.getLong(0) == 1L)
    assert(row.getString(1) == "x")
    assert(row.getDouble(2) == 2.5)
    assert(row.getSeq[Int](3) == Seq(1, 2)) // arrays pass through
  }

  test("impute fills nulls from group mode (ties to smallest) and exact group mean") {
    val df = Seq(
      ("g1", Some("x"), Some(10.0)),
      ("g1", Some("x"), Some(20.0)),
      ("g1", Some("y"), None), // numeric null -> mean(10,20) = 15
      ("g1", None, Some(30.0)), // categorical null -> mode x (2 > 1)
      ("g2", Some("a"), None),
      ("g2", Some("b"), None), // tie a/b -> a (smallest); means: no data -> stays null
      ("g2", None, None))
      .toDF("k", "c", "v")
      .repartition(3)
    val out = Relational.impute(df, Seq("k"), modeCols = Seq("c"), meanCols = Seq("v"))
      .orderBy("k", "c", "v").collect()
      .map(r => (r.getString(0), r.getString(1), if (r.isNullAt(2)) null else r.getDouble(2)))
    assert(out.toSeq == Seq(
      ("g1", "x", 10.0), ("g1", "x", 20.0), ("g1", "x", 30.0), ("g1", "y", 20.0),
      ("g2", "a", null), ("g2", "a", null), ("g2", "b", null)))
  }

  test("snapshotDiff classifies added/removed/changed with null-safe compare") {
    import org.apache.spark.sql.Row
    val old = Seq((1L, "a"), (2L, "b"), (3L, null.asInstanceOf[String]), (4L, "d")).toDF("id", "v")
    val next = Seq((2L, "B"), (3L, null.asInstanceOf[String]), (4L, "d"), (5L, "e")).toDF("id", "v")
    val out = Relational.snapshotDiff(old, next, Seq("id"), Seq("v"))
      .orderBy("id").collect()
    assert(out.toSeq == Seq(
      Row(1L, "removed"), Row(2L, "changed"), Row(3L, "unchanged"),
      Row(4L, "unchanged"), Row(5L, "added")))
  }

  test("incrementalJoinDelta: stored view + delta equals the full recompute, row for row") {
    val aOld = Seq((1L, "a1"), (2L, "a2"), (2L, "a2b")).toDF("k", "av")
    val aDelta = Seq((2L, "a3"), (3L, "a4")).toDF("k", "av")       // old key + new key
    val bOld = Seq((1L, "b1"), (3L, "b2")).toDF("k2", "bv")
    val bDelta = Seq((2L, "b3"), (3L, "b4")).toDF("k2", "bv")      // join partner arrives late
    val vOld = aOld.join(bOld, aOld("k") === bOld("k2"))
    val delta = Relational.incrementalJoinDelta(aOld, aDelta, bOld, bDelta, Seq("k" -> "k2"))
    val incremental = vOld.unionByName(delta)
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val full = aOld.unionByName(aDelta).join(
      bOld.unionByName(bDelta),
      col("k") === col("k2"))
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(incremental == full)
  }

  test("skyline2d: strict dominance, same-x ties, duplicate points both survive") {
    val df = Seq(
      (1L, 5.0, 10.0), (2L, 5.0, 8.0),  // same x: only min-y survives
      (3L, 3.0, 5.0), (4L, 3.0, 5.0),   // duplicates: both survive
      (5L, 4.0, 9.0),                   // dominated by (5, 8)
      (6L, 2.0, 20.0),                  // dominated
      (7L, 1.0, 1.0))                   // frontier tail
      .toDF("id", "x", "y")
    val out = Relational.skyline2d(df, "x", "y")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(2L, 3L, 4L, 7L))
    // brute-force cross-check: no survivor is strictly dominated
    val pts = df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val brute = pts.filter { case (_, x, y) =>
      !pts.exists { case (_, px, py) =>
        px >= x && py <= y && (px > x || py < y) }
    }.map(_._1).sorted.toSeq
    assert(out == brute)
  }

  test("skyline2d matches brute force on 300 random points with clumped coordinates") {
    val rnd = new scala.util.Random(19)
    // small coordinate pool forces x-ties and exact duplicates
    val pts = Seq.tabulate(300)(i => (i.toLong, rnd.nextInt(20).toDouble, rnd.nextInt(20).toDouble))
    val out = Relational.skyline2d(pts.toDF("id", "x", "y"), "x", "y")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val brute = pts.filter { case (_, x, y) =>
      !pts.exists { case (_, px, py) => px >= x && py <= y && (px > x || py < y) }
    }.map(_._1).sorted.toSeq
    assert(out == brute)
  }

  test("goldenRecord: most-frequent non-null wins, ties lexicographic, nulls ignored") {
    import org.apache.spark.sql.Row
    val df = Seq(
      // cluster 1: "bob" x2 beats "robert" x1; null phone ignored, "555" wins
      (1L, "bob", "555"), (1L, "bob", null), (1L, "robert", "555"),
      // cluster 2: tie alice/anna 1-1 -> lexicographic "alice"; phone all null
      (2L, "alice", null), (2L, "anna", null))
      .toDF("cid", "name", "phone")
    val out = Relational.goldenRecord(df, Seq("cid"), Seq("name", "phone"))
      .orderBy("cid").collect()
    assert(out.toSeq == Seq(Row(1L, "bob", "555"), Row(2L, "alice", null)))
  }

  test("labelEncode: value-ordered dense codes, nulls encode as null") {
    val df = Seq(Some("cherry"), Some("apple"), Some("banana"), Some("apple"), None)
      .toDF("fruit").repartition(4)
    val out = Relational.labelEncode(df, "fruit")
      .collect().map(r => (Option(r.getString(0)), if (r.isNullAt(1)) -1L else r.getLong(1)))
    val m = out.toSet
    assert(m == Set(
      (Some("apple"), 0L), (Some("banana"), 1L), (Some("cherry"), 2L), (None, -1L)))
  }

  test("targetEncode: hand-computed m-estimate; m=0 reduces to the plain mean") {
    val df = Seq(("a", 10L), ("a", 20L), ("b", 40L)).toDF("cat", "y").repartition(3)
    val got = Relational.targetEncode(df, "cat", "y", smoothing = 2)
      .orderBy("cat").collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // S=70 N=3; a: (30*3 + 2*70)/(3*4) = 230/12; b: (40*3 + 140)/(3*3) = 260/9
    assert(got.toSeq == Seq(("a", 2L, 19.166667), ("b", 1L, 28.888889)))
    val plain = Relational.targetEncode(df, "cat", "y", smoothing = 0)
      .orderBy("cat").collect().map(r => (r.getString(0), r.getDouble(2)))
    assert(plain.toSeq == Seq(("a", 15.0), ("b", 40.0)))
  }

  test("targetEncodeOof: each (cat, fold) equals targetEncode on the corpus minus that fold") {
    import org.apache.spark.sql.functions.{conv, md5, substring}
    val df = (1 to 120).map(i => (i.toLong, if (i % 3 == 0) "a" else "b", (i % 11).toLong))
      .toDF("id", "cat", "y").repartition(4)
    val folds = 3
    val oof = Relational.targetEncodeOof(df, "cat", "y", "id", folds = folds, smoothing = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.get(3))).toMap
    // the complete map: every category × every fold
    assert(oof.size == 2 * folds)
    val withFold = df.withColumn("fold",
      conv(substring(md5(col("id").cast("string")), 1, 8), 16, 10).cast("long") % folds)
    for (f <- 0L until folds.toLong) {
      val expect = Relational.targetEncode(
        withFold.filter(col("fold") =!= f), "cat", "y", smoothing = 2)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      for (c <- Seq("a", "b")) {
        assert(oof((c, f))._1 == expect(c)._1, s"n_oof mismatch at ($c, $f)")
        assert(oof((c, f))._2 == expect(c)._2, s"encoding mismatch at ($c, $f)")
      }
    }
    // a category confined to one fold still gets the prior there (m > 0)
    val solo = Seq((1L, "only", 100L), (2L, "x", 1L), (3L, "x", 2L), (4L, "x", 3L))
      .toDF("id", "cat", "y")
    val m = Relational.targetEncodeOof(solo, "cat", "y", "id", folds = 2, smoothing = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.get(3))).toMap
    val onlyFold = m.keys.collect { case ("only", f) if m(("only", f))._1 == 0 => f }
    assert(onlyFold.nonEmpty, "the fold holding the solo category must show n_oof = 0")
  }

  test("apportion: allocations sum exactly to total, largest remainders win, ties ordered") {
    // equal weights, total 10 over 3 rows: q=3 each, deficit 1 -> first tie key +1
    val eq = Seq(("a", 5L), ("b", 5L), ("c", 5L)).toDF("k", "w")
    val out = Relational.apportion(eq.repartition(3), "w", 10L, Seq(col("k")))
      .orderBy("k").select("k", "alloc").as[(String, Long)].collect()
    assert(out.toSeq == Seq(("a", 4L), ("b", 3L), ("c", 3L)))
    // skewed weights: exact-sum invariant and proportionality
    val sk = Seq(("a", 1L), ("b", 2L), ("c", 7L), ("d", 90L)).toDF("k", "w")
    val alloc = Relational.apportion(sk, "w", 1000L, Seq(col("k")))
    assert(alloc.agg(sum(col("alloc"))).head().getLong(0) == 1000L)
    val d = alloc.filter(col("k") === "d").select("alloc").head().getLong(0)
    assert(d == 900L, s"proportional share must hold, got $d")
  }

  test("groupedRunningStats equals the plain keyed window on random data — sums and extrema") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(17)
    // 2 low-cardinality keys x 3000 rows with signed values, scattered
    // over 11 input partitions so the range exchange genuinely splits keys
    val rows = Seq.tabulate(6000)(i =>
      (s"k${i % 2}", i.toLong, (rnd.nextInt(201) - 100).toLong))
    val df = rows.toDF("k", "t", "v").repartition(11)
    val got = Relational.groupedRunningStats(df, Seq("k"), Seq(col("t")),
      Seq(
        Relational.RunningSpec("v", "rs", runMin = Some("rmin"), runMax = Some("rmax"))))
      .select("k", "t", "rs", "rmin", "rmax")
    val w = Window.partitionBy(col("k")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df
      .withColumn("rs0", sum(col("v")).over(w))
      .withColumn("rmin0", min(sum(col("v")).over(w)).over(w))
      .withColumn("rmax0", max(sum(col("v")).over(w)).over(w))
      .select("k", "t", "rs0", "rmin0", "rmax0")
    val joined = got.join(want, Seq("k", "t"))
    assert(joined.count() == 6000L)
    assert(joined.filter(
      col("rs") =!= col("rs0") || col("rmin") =!= col("rmin0") ||
        col("rmax") =!= col("rmax0")).count() == 0L,
      "two-pass splice must equal the keyed window exactly")
  }

  test("frequentTriples: hand threshold, pruning == brute force, frac validation") {
    // baskets {a,b,c}, {a,b,c}, {a,b,d}: at 50% (threshold 1.5) only
    // (a,b,c) with support 2 survives
    val b = Seq(
      (1L, "a"), (1L, "b"), (1L, "c"),
      (2L, "a"), (2L, "b"), (2L, "c"),
      (3L, "a"), (3L, "b"), (3L, "d")).toDF("b", "i")
    val got = Relational.frequentTriples(b.repartition(3), "b", "i", minSupportFrac = 0.5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq(("a", "b", "c", 2L)))
    // level-wise pruning must never change the result: compare with the
    // driver-side direct count on random baskets
    val rnd = new scala.util.Random(3)
    val baskets = Seq.tabulate(120)(k => (k.toLong, s"i${rnd.nextInt(12)}"))
    val frac = 0.05
    val df = baskets.toDF("b", "i")
    val want = {
      val byB = baskets.distinct.groupBy(_._1).values.map(_.map(_._2).sorted).toSeq
      val n = byB.size
      byB.flatMap(items =>
        items.combinations(3).map(c => (c(0), c(1), c(2))))
        .groupBy(identity).map { case (t, o) => (t, o.size.toLong) }
        .filter(_._2.toDouble >= n.toDouble * frac)
    }
    val g = Relational.frequentTriples(df, "b", "i", frac)
      .collect().map(r => ((r.getString(0), r.getString(1), r.getString(2)), r.getLong(3)))
      .toMap
    assert(g == want)
    intercept[IllegalArgumentException] {
      Relational.frequentTriples(df, "b", "i", minSupportFrac = 0.0)
    }
  }

  test("basketPairCounts: equals the basket self-join, incl. duplicate multiplicity") {
    // duplicates in a basket must count with self-join `<` multiplicity:
    // basket 1 holds a,a,b -> (a,b) contributes 2; equal-value pairs never
    val rnd = new scala.util.Random(7)
    val rows = Seq.tabulate(400)(k => ((k % 37).toLong, s"i${rnd.nextInt(9)}"))
    val df = rows.toDF("b", "i").repartition(5)
    val got = Relational.basketPairCounts(df, "b", "i")
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val want = rows.groupBy(_._1).values.flatMap { basket =>
      val items = basket.map(_._2)
      for (x <- items; y <- items if x < y) yield (x, y)
    }.groupBy(identity).map { case (p, o) => (p, o.size.toLong) }
    assert(got == want.toMap)
    // ordered-pair rows only: item1 < item2 everywhere
    assert(got.keys.forall { case (a, b) => a < b })
  }

  test("bloomSemiJoin/bloomAntiJoin: exact at any fpp, null keys, type dispatch") {
    val fact = (1L to 2000L).map(k => (k, s"v$k")).toDF("k", "v")
      .unionByName(Seq((null.asInstanceOf[java.lang.Long], "vnull"))
        .toDF("k", "v").select(col("k").cast("long").as("k"), col("v")))
    val dim = (1L to 2000L by 3L).map(Tuple1(_)).toDF("dk")
    val semi = Relational.bloomSemiJoin(fact, "k", dim, "dk", expectedKeys = 64, fpp = 0.5)
    val wantSemi = fact.join(dim.select(col("dk").as("k")), Seq("k"), "left_semi")
    // a deliberately undersized, half-blind sketch still yields the exact
    // result — the sketch only prunes, the join decides
    assert(semi.count() == wantSemi.count())
    assert(semi.exceptAll(wantSemi).isEmpty && wantSemi.exceptAll(semi).isEmpty)
    val anti = Relational.bloomAntiJoin(fact, "k", dim, "dk", expectedKeys = 64, fpp = 0.5)
    val wantAnti = fact.join(dim.select(col("dk").as("k")), Seq("k"), "left_anti")
    assert(anti.count() == wantAnti.count())
    assert(anti.exceptAll(wantAnti).isEmpty && wantAnti.exceptAll(anti).isEmpty)
    // the NULL fact key follows NOT-EXISTS semantics: absent from semi,
    // present in anti
    assert(semi.filter(col("k").isNull).count() == 0L)
    assert(anti.filter(col("k").isNull).count() == 1L)
    // semi + anti partition the fact exactly
    assert(semi.count() + anti.count() == fact.count())
    // string keys ride the UTF-8 path
    val sFact = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("k", "x")
    val sDim = Seq("b", "c").map(Tuple1(_)).toDF("dk")
    assert(Relational.bloomSemiJoin(sFact, "k", sDim, "dk")
      .orderBy("k").collect().map(_.getString(0)).toSeq == Seq("b", "c"))
    // unsupported key types fail loudly, not wrongly
    intercept[IllegalArgumentException] {
      Relational.bloomSemiJoin(Seq((1.5, 1)).toDF("k", "x"), "k", sDim, "dk")
    }
  }
}
