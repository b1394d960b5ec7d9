package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Long<->wide reshaping, the backbone of the reference's report builder. */
object Reshape {

  /** Pivot long->wide: one column per `keyCol` value, aggregated with `agg`.
    *
    * Reference: extract_ist_data.py:95 / extract_pec_data.py:260 (Polars
    * `.pivot(index, columns, values, aggregate_function="sum")` after
    * synthesizing the key as `indicator + "_" + coc_name`).
    *
    * Scale note: ALWAYS pass `knownKeys` when the key universe is known —
    * it skips Spark's extra distinct-collect pass over the full fact table
    * (one whole job at 100 TB) and makes the output schema deterministic.
    * The pivot itself is a single hash aggregate on `idCols`.
    */
  def pivotWide(
      df: DataFrame,
      idCols: Seq[String],
      keyCol: String,
      valueCol: Column,
      knownKeys: Seq[String],
      agg: Column => Column = sum): DataFrame = {
    val g = df.groupBy(idCols.map(col): _*)
    val p = if (knownKeys.nonEmpty) g.pivot(keyCol, knownKeys) else g.pivot(keyCol)
    p.agg(agg(valueCol))
  }

  /** Pivot as ONE conditional aggregate — the fused form of
    * `groupBy(fine-grain).agg` -> [[pivotWide]] -> join-back-extra-totals:
    * each known key becomes `agg(when(key = k, value))`, and `extraAggs`
    * (e.g. a tax total) ride in the SAME aggregate, so the whole reshape is
    * a single partial hash aggregate with one shuffle — no intermediate
    * grain, no second aggregation, no join. This is also what Spark's
    * `pivot(knownKeys)` compiles to internally; the explicit form exists so
    * non-pivoted aggregates can share the pass. `agg` sums by default; to
    * sum a decimal(18, s) pass the exact long-accumulator
    * `Relational.sumIfAnyNotNull(_, s)`, which casts the value itself. */
  def pivotConditionalWide(
      df: DataFrame,
      idCols: Seq[String],
      keyCol: String,
      valueCol: Column,
      knownKeys: Seq[String],
      extraAggs: Seq[(Column, String)] = Seq.empty,
      agg: Column => Column = sum): DataFrame =
    df.groupBy(idCols.map(col): _*)
      .agg(
        agg(when(col(keyCol) === knownKeys.head, valueCol)).as(knownKeys.head),
        knownKeys.tail.map(k => agg(when(col(keyCol) === k, valueCol)).as(k)) ++
          extraAggs.map { case (c, n) => c.as(n) }: _*)

  /** Unpivot wide->long with a tag column — the reference's
    * `transform_for_pnls_reporting` (utils.py:214): for each indicator prefix,
    * melt its value columns into rows tagged with the indicator id, with the
    * melted column name standardized via `renameValue`.
    *
    * Uses native `unpivot` (a generate/expand node, zero shuffle), not a
    * union of N selects.
    */
  def unpivotLong(
      df: DataFrame,
      idCols: Seq[String],
      valueCols: Seq[String],
      varName: String = "variable",
      valName: String = "value"): DataFrame =
    df.unpivot(idCols.map(col).toArray, valueCols.map(col).toArray, varName, valName)

  /** Full melt-with-indicator-map. For each `(prefix -> indicatorId)` take the
    * columns starting with that prefix, unpivot them, tag rows with the
    * indicator id. Output is the diagonal concat of all indicator blocks —
    * mirrors utils.py:214-249 exactly but stays one declarative plan.
    */
  def meltIndicators(
      df: DataFrame,
      idCols: Seq[String],
      indicatorMap: Seq[(String, Int)],
      varName: String = "variable",
      valName: String = "value"): DataFrame = {
    val blocks = indicatorMap.map { case (prefix, ind) =>
      val cols = df.columns.filter(_.startsWith(prefix)).toSeq
      unpivotLong(df.select((idCols ++ cols).map(col): _*), idCols, cols, varName, valName)
        .withColumn("indicateur", lit(ind))
    }
    Relational.diagonalConcat(blocks)
  }

  /** One-hot encode a categorical column into 0/1 indicator columns named
    * `<catCol>_<sanitized value>` — the feature-matrix mate of
    * [[pivotWide]] (that one aggregates to id grain; this one stays at ROW
    * grain, so it is a pure zero-shuffle projection once the vocabulary is
    * known).
    *
    * Vocabulary discovery is the only non-map step: one DISTINCT over the
    * single category column — dim-bounded by definition of "categorical"
    * and guarded by `maxCategories` so a mistyped high-cardinality column
    * fails loudly instead of minting a million columns. Pass `knownValues`
    * to skip that job entirely (the [[pivotWide]] lesson: at 100 TB a
    * known vocabulary saves a full scan AND fixes the output schema).
    * NULL category → all indicators 0. */
  def oneHot(
      df: DataFrame,
      catCol: String,
      knownValues: Seq[String] = Seq.empty,
      maxCategories: Int = 64): DataFrame = {
    val values: Seq[String] =
      if (knownValues.nonEmpty) knownValues.sorted
      else {
        val distinct = df.select(col(catCol).cast("string")).na.drop()
          .distinct().limit(maxCategories + 1).collect().map(_.getString(0))
        require(distinct.length <= maxCategories,
          s"oneHot($catCol): more than $maxCategories distinct values — " +
            "not a categorical column, or raise maxCategories")
        distinct.toSeq.sorted
      }
    val names = values.map(v =>
      catCol + "_" + v.toLowerCase.replaceAll("[^a-z0-9]+", "_")
        .replaceAll("^_+|_+$", ""))
    require(names.distinct.length == names.length,
      s"oneHot($catCol): sanitized indicator names collide: " +
        names.diff(names.distinct).distinct.mkString(", "))
    val indicators = values.zip(names).map { case (v, n) =>
      when(col(catCol).cast("string") === v, 1L).otherwise(0L).as(n)
    }
    df.select(col("*") +: indicators: _*)
  }
}
