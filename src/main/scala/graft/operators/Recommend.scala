package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Collaborative-filtering predictors beyond the co-occurrence/cosine
  * readouts (q_copurchase / q_item_cosine live in SparkEntry).
  *
  * The reference's integration surface has no recommender, but a
  * training-data platform curates interaction logs; Slope One is the
  * canonical "predict the missing cell" baseline that stays EXACT-RATIONAL
  * end to end — which is what lets it hash-gate cross-engine where matrix
  * factorization never could.
  */
object Recommend {

  /** Weighted Slope One (Lemire & Maclachlan 2005): for items i, j the
    * deviation dev(j,i) = Σ_u (r_uj − r_ui) / c_ji over co-raters, and the
    * prediction for user u's unrated item j is
    * P(u,j) = Σ_{i∈S(u)} (D_ji + r_ui·c_ji) / Σ c_ji
    * — note the re-association: keeping the raw deviation SUM D_ji (exact
    * long) instead of the per-pair ratio makes the entire prediction ONE
    * division of exact integers, bit-identical on any engine.
    *
    * Shapes: one per-user self-join builds the deviation matrix (bounded
    * by the item domain² when items are categories; cap user baskets
    * upstream for open item domains), one join of each user's ratings
    * against the deviation matrix + a partial agg predicts every missing
    * cell, existing cells leave by anti-join.
    *
    * @param ratings (userCol, itemCol, valueCol) — one row per cell,
    *                valueCol integral (quantize upstream)
    * @return (user, item, n_pairs, prediction) for unrated cells with
    *         at least one co-rated neighbor item
    */
  def slopeOne(
      ratings: DataFrame,
      userCol: String,
      itemCol: String,
      valueCol: String): DataFrame = {
    val r = ratings.select(
      col(userCol).as("__u"), col(itemCol).as("__i"),
      col(valueCol).cast("long").as("__r"))
    val dev = r
      .join(r.select(col("__u"), col("__i").as("__j"), col("__r").as("__rj")),
        Seq("__u"))
      .filter(col("__i") =!= col("__j"))
      .groupBy(col("__j"), col("__i"))
      .agg(sum(col("__rj") - col("__r")).as("__D"), count(lit(1)).as("__c"))
    val pred = r
      .join(dev, Seq("__i"))
      .groupBy(col("__u"), col("__j"))
      .agg(
        sum(col("__c")).as("__den"),
        sum(col("__D") + col("__r") * col("__c")).as("__num"))
      .join(r.select(col("__u"), col("__i").as("__j")), Seq("__u", "__j"),
        "left_anti")
    pred.select(
      col("__u").as(userCol), col("__j").as(itemCol),
      col("__den").as("n_pairs"),
      round(col("__num").cast("double") / col("__den").cast("double"), 6)
        .as("prediction"))
  }

  /** Recommendation-audit metrics (Herlocker et al. 2004; Castells &
    * Vargas novelty) — the eval harness for ANY produced top-k table, the
    * recsys sibling of the retrieval family's rankingMetrics: catalog
    * coverage (what share of the catalog ever gets recommended — the
    * filter-bubble alarm), popularity novelty (mean self-information
    * −ln(pop_i / n_users) of recommended items — high = long-tail recs,
    * low = pure blockbusters), and the cold count (recommended items with
    * no interaction history at all, excluded from novelty).
    *
    * Shapes: interactions collapse to the distinct (user, item) grain in
    * one partial agg; item popularity is a second partial agg joined onto
    * the rec rows by item key (equi-join, broadcastable when the catalog
    * is dimension-scale); the two global counts ride a 1-row broadcast
    * cross join. Novelty terms are ln of a ratio of exact longs,
    * 1e-9-quantized into a decimal(38,0) sum before the mean — the
    * statistic is engine-reproducible at any corpus size. Returns ONE row
    * `(n_recs, n_rec_items, catalog_size, coverage, n_cold, novelty)`. */
  def recMetrics(
      recs: DataFrame,
      recUserCol: String,
      recItemCol: String,
      interactions: DataFrame,
      userCol: String,
      itemCol: String): DataFrame = {
    val inter = interactions
      .select(col(userCol).as("__u"), col(itemCol).as("__i")).distinct()
    val pop = inter.groupBy(col("__i")).agg(count(lit(1)).as("__pop"))
    val totals = inter.agg(
      count_distinct(col("__u")).as("__nu"),
      count_distinct(col("__i")).as("__cat"))
    val term = floor(
      log(col("__nu").cast("double") / col("__pop").cast("double")) * 1e9 + 0.5)
      .cast("decimal(38,0)")
    recs
      .select(col(recUserCol).as("__ru"), col(recItemCol).as("__ri"))
      .join(pop, col("__ri") === col("__i"), "left")
      .crossJoin(broadcast(totals))
      .agg(
        count(lit(1)).as("n_recs"),
        count_distinct(col("__ri")).as("n_rec_items"),
        // coverage counts WARM items only — a cold (no-history) rec can
        // never contribute catalog share, so coverage stays within [0,1]
        count_distinct(when(col("__pop").isNotNull, col("__ri"))).as("__warmItems"),
        max(col("__cat")).as("catalog_size"),
        sum(when(col("__pop").isNull, 1L).otherwise(0L)).as("n_cold"),
        sum(when(col("__pop").isNotNull, term)).as("__tsum"),
        sum(when(col("__pop").isNotNull, 1L).otherwise(0L)).as("__nwarm"))
      .select(
        col("n_recs"), col("n_rec_items"), col("catalog_size"),
        (col("__warmItems").cast("double") / col("catalog_size").cast("double"))
          .as("coverage"),
        col("n_cold"),
        when(col("__nwarm") > 0L,
          col("__tsum").cast("double") / 1e9 / col("__nwarm").cast("double"))
          .as("novelty"))
  }
}
