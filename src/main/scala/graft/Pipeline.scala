package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions._
import graft.operators._
import graft.sources.Tables

/** End-to-end integration flow: the reference pipeline's whole shape
  * (pipeline.py: extract N sources -> normalize -> enrich -> reshape ->
  * validate -> consolidate) composed from graft operators over the synthetic
  * star schema. This is the "switch to graft" demonstration — every stage is
  * one of the library's operators, and the whole thing stays a single
  * declarative plan (one Catalyst optimization, AQE over the full DAG, no
  * materialization between stages).
  *
  * Stage map (reference counterpart):
  *  1. ingest two heterogeneous "sources" + diagonal union
  *     (extract_*_data.py; pipeline.py:326) — union-then-enrich, so the
  *     dimension joins run once over the combined stream
  *  2. dimension enrich via broadcast joins          (utils.py:349), with
  *     the tags computed on each joined side at its own grain: `region`
  *     and `nation` (`normalize_text`, utils.py:546) in the 5- and 25-row
  *     dimension selects, `period` in the orders select. A projection
  *     above the joins would run them once per fact row, and Catalyst
  *     never pushes a projection below a join.
  *  3. indicator key synthesis                       (extract_ist_data.py:95)
  *  4. conditional (null-preserving) aggregation     (extract_pec_data.py:141)
  *  5. pivot to the wide report                      (extract_pec_data.py:260)
  *  6. rule-matrix validation split                  (utils.py:133)
  */
object Pipeline {

  /** The consolidated "consistent" report: one row per (period, region,
    * nation), indicator columns pivoted wide, validated by the rule matrix.
    */
  def integrationReport(s: SparkSession, dir: String): DataFrame = {
    // 1. two heterogeneous "sources" (the second lacks the tax column),
    //    unified FIRST by the schema-tolerant union — union-then-enrich, so
    //    the dimension joins below run once over the combined stream instead
    //    of once per source (at N sources that's an N-fold join saving)
    val li = Tables.lineitem(s, dir)
    val srcA = li.filter(col("l_linenumber") <= 3)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_linestatus"), col("l_quantity"), col("l_tax"))
    val srcB = li.filter(col("l_linenumber") > 3)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_linestatus"), col("l_quantity"))
    val unioned = Relational.diagonalConcat(Seq(srcA, srcB))

    // 2. enrich: order context, then customer -> nation -> region (dims
    //    broadcast, facts never shuffle for the dim joins). Each side's
    //    select computes its tags at its own grain; the joins are inner and
    //    both functions deterministic and null-preserving, so every fact
    //    row gets the tags a projection above the joins would give it.
    val enriched = unioned
      .join(
        Tables.orders(s, dir).select(
          col("o_orderkey"),
          col("o_custkey"),
          date_format(col("o_orderdate"), "yyyyMM").as("period")),
        col("l_orderkey") === col("o_orderkey"))
      .join(
        Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(
        broadcast(Tables.nation(s, dir).select(
          col("n_nationkey"), col("n_regionkey"), normalize_text(col("n_name")).as("nation"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(
        broadcast(Tables.region(s, dir).select(
          col("r_regionkey"), normalize_text(col("r_name")).as("region"))),
        col("n_regionkey") === col("r_regionkey"))

    // 3. indicator synthesis (reference: indicator + "_" + coc)
    val tagged = enriched.select(
      col("period"),
      col("region"),
      col("nation"),
      concat(col("l_returnflag"), lit("_"), col("l_linestatus")).as("indicator"),
      col("l_quantity"),
      col("l_tax"))

    // 4+5. conditional aggregation + pivot, FUSED: one partial hash
    //    aggregate produces the four indicator columns AND the tax total
    //    (null-preserved for groups no tax-carrying source covered) — one
    //    shuffle where the two-phase agg->pivot->join-back formulation paid
    //    two aggregates and a join (measured ~25% of this query's runtime).
    //    Every sum is the exact long-accumulator decimal sum, so no
    //    decimal(28,s) buffer is updated per fact row. The output grain is
    //    period x region x nation: at most months x 25 nations (2000
    //    groups at sf0.1), bounded by the dimensions, not by the facts.
    val wide = Reshape.pivotConditionalWide(
      tagged,
      idCols = Seq("period", "region", "nation"),
      keyCol = "indicator",
      valueCol = col("l_quantity"),
      knownKeys = Seq("A_F", "N_F", "N_O", "R_F"),
      extraAggs = Seq(Relational.sumIfAnyNotNull(col("l_tax"), 4) -> "tax_total"),
      agg = Relational.sumIfAnyNotNull(_, 2))

    // 6. rule-matrix validation, keep the consistent rows
    val rules = Seq(
      Rules.Rule("af_exceeds_rf", col("A_F") > col("R_F") * 2, 2, "RED"),
      Rules.Rule("nf_missing", col("N_F").isNull && col("N_O").isNotNull, 1, "ORANGE"))
    val (consistent, _) = Rules.splitConsistent(wide, rules)

    consistent.select(
      col("period"),
      col("region"),
      col("nation"),
      col("A_F").cast("double").as("a_f"),
      col("N_F").cast("double").as("n_f"),
      col("N_O").cast("double").as("n_o"),
      col("R_F").cast("double").as("r_f"),
      col("tax_total").cast("double").as("tax_total"))
      // at most one row per period x nation (2000 at sf0.1), so one task
      // sorts it: no range-sampling job, no range shuffle. `coalesce` stops
      // at the aggregate's shuffle; the scan side keeps its parallelism.
      .coalesce(1)
      .sortWithinPartitions("period", "region", "nation")
  }
}
