package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Skew}
import graft.sources.Tables

class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("saltedAggregate equals the direct aggregate on a skewed key") {
    // 90% of rows share one key — the shape that melts a single reducer
    val df = (1 to 1000).map(i => (if (i <= 900) "hot" else s"k$i", i.toDouble)).toDF("k", "v")
    val direct = df.groupBy("k")
      .agg(sum($"v").as("s"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val salted = Skew.saltedAggregate(
      df, Seq("k"),
      Seq(Skew.sumOf($"v", "s"), Skew.countRows("n")),
      numSalts = 8,
      saltCols = Seq($"v"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(salted == direct)
  }

  test("saltedJoin produces exactly the unsalted join result") {
    val left = (1 to 500).map(i => (if (i <= 450) 1L else i.toLong, s"l$i")).toDF("k", "lv")
    val right = Seq((1L, "r1"), (2L, "r2"), (460L, "r460")).toDF("k", "rv")
    val direct = left.join(right, Seq("k")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val salted = Skew.saltedJoin(left, right, Seq("k"), numSalts = 4).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(salted == direct)
    assert(salted.count(_._1 == 1L) == 450)
  }

  test("salted minHashLsh finds the same near-duplicate pairs") {
    val docs = Tables.documents(spark, sf)
    val plain = Dedup.minHashLsh(docs, "doc_id", "text", jaccardThreshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val salted = Dedup.minHashLsh(docs, "doc_id", "text", jaccardThreshold = 0.3, salts = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(salted == plain)
  }

  test("skewReport: exact stats on a planted hot key; interpolated exact p99") {
    import spark.implicits._
    // 90 rows on 'hot', 10 keys with 1 row each -> 100 rows, 11 keys
    val df = (Seq.fill(90)("hot") ++ (1 to 10).map(i => s"k$i")).toDF("k").repartition(5)
    val r = Skew.skewReport(df, Seq("k")).head
    assert(r.getAs[Long]("n_rows") == 100L)
    assert(r.getAs[Long]("n_keys") == 11L)
    assert(r.getAs[Long]("max_count") == 90L)
    assert(r.getAs[Double]("max_share") == 0.9)
    assert(r.getAs[Double]("p50_count") == 1.0)
    // cv = sqrt(k*ss - n^2)/n with ss = 90^2 + 10 = 8110
    assert(math.abs(r.getAs[Double]("count_cv") - math.sqrt(11.0 * 8110.0 - 10000.0) / 100.0) < 1e-12)
    // sorted counts (1 x10, 90): rank 0.99 * 10 = 9.9 interpolates to
    // 1 + 0.9 * 89 = 81.1; a quantile sketch returns an observed count (1 or 90)
    assert(math.abs(r.getAs[Double]("p99_count") - 81.1) < 1e-9)
  }
}
