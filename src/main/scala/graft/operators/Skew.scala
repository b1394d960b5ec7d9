package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation: salting for hot keys.
  *
  * AQE's skew-join handling covers sort-merge joins at runtime; salting is
  * the declarative fallback for the cases AQE can't split (hash aggregates
  * with a dominant key, self-joins on hot bucket keys — e.g. an LSH band
  * containing a near-duplicate cluster of millions of docs).
  */
object Skew {

  /** Deterministic salt in [0, numSalts) derived from the given columns —
    * same input row always lands on the same salt, so retries/speculative
    * tasks stay consistent. */
  def saltColumn(cols: Seq[Column], numSalts: Int): Column =
    pmod(xxhash64(cols: _*), lit(numSalts.toLong)).cast("int")

  /** One algebraic aggregate expressed as (partial over the salted groups,
    * merge over the partials). E.g. sum/sum, count/sum, min/min. */
  final case class TwoPhase(name: String, partial: Column, merge: String => Column)

  def sumOf(c: Column, name: String): TwoPhase = TwoPhase(name, sum(c), n => sum(col(n)))
  def countRows(name: String): TwoPhase = TwoPhase(name, count(lit(1)), n => sum(col(n)))

  /** Two-phase aggregation: group by (keys + salt) first so a hot key's rows
    * spread over `numSalts` reducers, then merge the partials per key. The
    * second shuffle moves only `keys x salts` rows — negligible. `saltCols`
    * defaults to the value columns being aggregated (never the group keys —
    * salting on the key alone would put the whole hot key on one salt).
    */
  def saltedAggregate(
      df: DataFrame,
      keyCols: Seq[String],
      aggs: Seq[TwoPhase],
      numSalts: Int,
      saltCols: Seq[Column]): DataFrame = {
    val salted = df.withColumn("__salt", saltColumn(saltCols, numSalts))
    val partial = salted
      .groupBy((keyCols.map(col) :+ col("__salt")): _*)
      .agg(aggs.head.partial.as(aggs.head.name), aggs.tail.map(a => a.partial.as(a.name)): _*)
    partial
      .groupBy(keyCols.map(col): _*)
      .agg(
        aggs.head.merge(aggs.head.name).as(aggs.head.name),
        aggs.tail.map(a => a.merge(a.name).as(a.name)): _*)
  }

  /** Key-distribution skew report — the diagnostic that tells you whether
    * [[saltedAggregate]]/[[saltedJoin]] (or AQE skew handling) is needed
    * BEFORE a job dies on one reducer: one partial-agg key histogram, then
    * one aggregate over the histogram. Every statistic is chosen to be
    * deterministic at any scale: max share, the exact p50/p99/max of
    * per-key counts, and the coefficient of variation from exact integer
    * sums (`sqrt(k·Σx² − (Σx)²) / Σx`, the order-free form). The exact
    * `percentile` state keeps one entry per distinct count value, which
    * stays small for a count histogram however many keys there are. No
    * global sort, no driver collect. */
  def skewReport(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    val hist = df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__n"))
    val pct = percentile(col("__n"), array(lit(0.5), lit(0.99)))
    hist.agg(
      sum(col("__n")).as("n_rows"),
      count(lit(1)).as("n_keys"),
      max(col("__n")).as("max_count"),
      pct.as("__p"),
      sum((col("__n") * col("__n")).cast("decimal(38,0)")).as("__ss"))
      .select(
        col("n_rows"), col("n_keys"), col("max_count"),
        (col("max_count").cast("double") / col("n_rows")).as("max_share"),
        element_at(col("__p"), 1).as("p50_count"),
        element_at(col("__p"), 2).as("p99_count"),
        (sqrt(col("n_keys").cast("double") * col("__ss").cast("double") -
          col("n_rows").cast("double") * col("n_rows")) /
          col("n_rows")).as("count_cv"))
  }

  /** Skew-safe equi-join: the skewed side gets a salt derived from its
    * non-key columns; the other side is replicated once per salt value
    * (explode of a literal range) so every (key, salt) pair still meets its
    * partners. Output equals the unsalted join; the hot key's work is spread
    * over `numSalts` tasks at the cost of replicating the right side
    * `numSalts` times — use for moderate-size right sides or self-joins.
    */
  def saltedJoin(
      skewed: DataFrame,
      other: DataFrame,
      keys: Seq[String],
      numSalts: Int,
      joinType: String = "inner"): DataFrame = {
    val nonKey = skewed.columns.filterNot(keys.contains).map(col).toSeq
    val l = skewed.withColumn("__salt", saltColumn(if (nonKey.nonEmpty) nonKey else keys.map(col), numSalts))
    val r = other.withColumn("__salt", explode(array((0 until numSalts).map(lit): _*)))
    l.join(r, keys :+ "__salt", joinType).drop("__salt")
  }
}
