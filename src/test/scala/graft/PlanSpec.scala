package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.DateFormatClass
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{ExplainMode, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Physical-plan audits: the 100 TB posture claims in SURVEY.md §3/§4 as
  * executable assertions. A query that silently regresses to a shuffle join
  * or a full-column scan fails here long before it fails at scale.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** The physical plan as planned, inside AQE's wrapper. */
  private def physical(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  test("r9 additions keep their scale shapes: broadcasts, bounded heaps, no cartesians") {
    // G-test / chi-square windows run on the CELL table, not the corpus
    val g = plan(SparkEntry.queries("q_g_test")(spark, sf))
    assert(!g.contains("CartesianProduct"), g)
    assert("HashAggregate".r.findAllIn(g).size >= 2, s"no partial agg before cells:\n$g")
    // Fisher: the k-range explode sits ABOVE the per-stratum aggregate
    val f = plan(SparkEntry.queries("q_fisher")(spark, sf))
    assert(f.contains("Generate"), s"fisher lost its bounded explode:\n$f")
    assert(!f.contains("CartesianProduct"), f)
    // personalized PageRank: equi-joins only
    val pr = plan(SparkEntry.queries("q_ppr")(spark, sf))
    assert(!pr.contains("CartesianProduct") && !pr.contains("BroadcastNestedLoopJoin"), pr)
    // vocabulary truncation: vocab BROADCASTS into the token join and the
    // cut is a bounded TakeOrdered, never a global sort
    val tv = plan(SparkEntry.queries("q_truncate_vocab")(spark, sf))
    assert(tv.contains("BroadcastHashJoin"), s"vocab join must broadcast:\n$tv")
    assert(tv.contains("TakeOrderedAndProject"), s"vocab cut must be a bounded heap:\n$tv")
    // inverted index: the posting cap is the NATIVE top-k operator
    val ii = plan(SparkEntry.queries("q_inverted_index")(spark, sf))
    assert(ii.contains("TopKPerKey"), s"posting cap must be the native heap:\n$ii")
    // pipeline v4 ends in a bounded TakeOrdered selection
    val p4 = plan(SparkEntry.queries("q_llm_pipeline4")(spark, sf))
    assert(p4.contains("TakeOrderedAndProject"), s"v4 selection must be bounded:\n$p4")
    // SRM / noisy counts: pure partial-agg + tiny-domain shapes
    val srm = plan(SparkEntry.queries("q_srm_check")(spark, sf))
    assert(!srm.contains("CartesianProduct"), srm)
  }

  test("dimension joins broadcast the dimension side (zero shuffle on facts)") {
    val p = plan(SparkEntry.queries("q_dim_join")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dim join must not sort-merge:\n$p")
  }

  test("hierarchy flatten broadcasts every level join") {
    val p = plan(SparkEntry.queries("q_hierarchy_flatten")(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("filter+project pushes predicates and prunes columns at the parquet scan") {
    val p = plan(SparkEntry.queries("q_filter_project")(spark, sf))
    assert(p.contains("PushedFilters: ["), s"no pushed filters:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), s"shipdate filter not pushed:\n$p")
    // projection needs 5 of lineitem's 16 columns; the scan schema must not
    // contain untouched ones
    assert(!p.contains("l_comment"), s"column pruning failed (l_comment read):\n$p")
  }

  test("aggregations are partial (map-side combine before the shuffle)") {
    val p = plan(SparkEntry.queries("q1_agg")(spark, sf))
    assert(p.contains("HashAggregate"), p)
    // partial + final pair means a map-side combine exists
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial aggregate:\n$p")
  }

  test("fuzzy match broadcasts the canonical list — no cartesian shuffle") {
    val p = plan(SparkEntry.queries("q_fuzzy_match")(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), s"fuzzy match fell back to cartesian:\n$p")
  }

  test("similarity scoring broadcasts the query set — no cartesian shuffle") {
    val p = plan(SparkEntry.queries("q_cosine_topk")(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cosine topk fell back to cartesian:\n$p")
    assert(p.contains("Broadcast"), p)
  }

  test("LSH candidate generation is an equality join on band keys, never cartesian") {
    val minhash = plan(
      graft.operators.Dedup.minHashLsh(Tables.documents(spark, sf), "doc_id", "text"))
    assert(!minhash.contains("CartesianProduct") && !minhash.contains("BroadcastNestedLoopJoin"),
      s"minhash candidates must join on (band, band_key):\n$minhash")
  }

  test("diagonal union stays a narrow Union (no shuffle introduced)") {
    val p = plan(SparkEntry.queries("q_diagonal_union")(spark, sf))
    assert(p.contains("Union"), p)
    // the only exchange allowed is the final presentation sort
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"diagonal union introduced extra shuffles:\n$p")
  }

  test("rule matrix compiles to a single projection (no join, no shuffle)") {
    val p = plan(
      graft.operators.Rules.applyRules(
        Tables.lineitem(spark, sf),
        Seq(graft.operators.Rules.Rule("r", org.apache.spark.sql.functions.col("l_tax") > 0.05, 1, "T"))))
    assert(!p.contains("Exchange"), s"rule flagging must be map-side only:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("as-of join shuffles exactly once on the key (no pair materialization)") {
    import graft.operators.Temporal
    import org.apache.spark.sql.functions.col
    val ev = Tables.events(spark, sf)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"), col("ts").as("pts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val p = plan(Temporal.asofJoin(
      purchases, clicks, Seq("user_id"), "pts", "ts", "event_id", Seq("event_id" -> "cid")))
    assert(!p.contains("Join"), s"as-of must be join-free (union+window):\n$p")
    // formatted mode lists each node once in the details as "(n) Exchange"
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly 1 key shuffle, got $exchanges:\n$p")
  }

  test("pipeline e2e: source-branch filters push down to the lineitem scans") {
    val p = plan(Pipeline.integrationReport(spark, sf))
    assert(p.contains("LessThanOrEqual(l_linenumber,3)"), s"srcA filter not pushed:\n$p")
    assert(p.contains("GreaterThan(l_linenumber,3)"), s"srcB filter not pushed:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("pipeline e2e: pivot+totals stay ONE fused aggregate (no join-back)") {
    val p = plan(Pipeline.integrationReport(spark, sf))
    // exactly one logical aggregate = a partial+final HashAggregate pair;
    // a third node means the agg->pivot->join-back formulation crept back
    val aggs = "\\(\\d+\\) HashAggregate".r.findAllIn(p).size
    assert(aggs == 2, s"expected 1 fused aggregate (2 nodes), got $aggs:\n$p")
  }

  test("pipeline e2e: the partial aggregate sums on longs, with no decimal buffer") {
    val root = physical(Pipeline.integrationReport(spark, sf))
    val partials = root.collect {
      case a: HashAggregateExec
          if a.aggregateExpressions.nonEmpty && a.aggregateExpressions.forall(_.mode == Partial) => a
    }
    assert(partials.size == 1, root)
    val buffers = partials.head.aggregateExpressions.flatMap(_.aggregateFunction.aggBufferAttributes)
    assert(buffers.nonEmpty && !buffers.exists(_.dataType.isInstanceOf[DecimalType]), buffers)
  }

  test("pipeline e2e: the report-grain tail sorts in one task, with no range shuffle") {
    val root = physical(Pipeline.integrationReport(spark, sf))
    val ranges = root.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    assert(ranges.isEmpty, root)
  }

  test("pipeline e2e: tags are computed at dimension and order grain, never above the lineitem join") {
    val root = physical(Pipeline.integrationReport(spark, sf))
    def tags(p: SparkPlan): Seq[String] = p.expressions.flatMap(_.collect {
      case i: StaticInvoke if i.functionName == "normalize" => "normalize"
      case _: DateFormatClass => "date_format"
    })
    def scansLineitem(p: SparkPlan): Boolean = p.find {
      case scan: FileSourceScanExec =>
        scan.relation.location.rootPaths.exists(_.getName.startsWith("lineitem"))
      case _ => false
    }.isDefined
    val tagging = root.collect { case p if tags(p).nonEmpty => p }
    // one normalize per dimension (nation, region), one date_format on orders
    assert(tagging.flatMap(tags).sorted == Seq("date_format", "normalize", "normalize"), root)
    tagging.foreach(p => assert(!scansLineitem(p), s"tag computed above the lineitem join:\n$p"))
  }

  test("decontaminate: bloom prefilter map-side, broadcast verify join, no sort-merge") {
    val p = plan(SparkEntry.queries("q_decontaminate")(spark, sf))
    assert(p.contains("graft_bloom_might_contain"), s"bloom prefilter missing:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"verify join must broadcast the bench grams:\n$p")
    assert(!p.contains("SortMergeJoin"), s"train side must never shuffle for the join:\n$p")
  }

  test("dup-ngram stats reduce with partial aggregates at both grains") {
    val p = plan(SparkEntry.queries("q_dup_ngrams")(spark, sf))
    val partials = "partial_".r.findAllIn(p).size
    assert(partials >= 2, s"expected map-side combine at (doc,gram) and (doc) grains:\n$p")
  }

  test("sequence packing windows stay sharded — no single-partition exchange") {
    val p = plan(SparkEntry.queries("q_pack_sequences")(spark, sf))
    assert(!p.contains("SinglePartition"),
      s"packing cumsum must partition by shard, not serialize the corpus:\n$p")
  }

  test("scans read only referenced columns for narrow projections") {
    val p = plan(
      Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity"))
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("l_extendedprice"), s"scan reads unprojected columns:\n$p")
  }

  // ---- r3 regression guards: top-k shapes must stay on the native operator,
  // ---- never silently revert to a window row_number() (shuffle-all + sort).

  private def assertNativeTopK(name: String): Unit = {
    val p = plan(SparkEntry.queries(name)(spark, sf))
    assert(p.contains("TopKPerKey"), s"$name lost the native top-k operator:\n$p")
    assert(!p.contains("Window"), s"$name regressed to a window:\n$p")
  }

  test("cosine top-k runs on the native TopKPerKey operator, no Window") {
    assertNativeTopK("q_cosine_topk")
  }

  test("LSH ANN runs on the native TopKPerKey operator, no Window") {
    assertNativeTopK("q_ann_lsh")
  }

  test("IVF ANN runs on the native TopKPerKey operator, no Window") {
    assertNativeTopK("q_ann_ivf")
  }

  test("jaccard top-k runs on the native TopKPerKey operator, no Window") {
    assertNativeTopK("q_dedup_jaccard")
  }

  test("fuzzy match reduces with a keyed partial aggregate, no Window") {
    val p = plan(SparkEntry.queries("q_fuzzy_match")(spark, sf))
    assert(!p.contains("Window"), s"fuzzy match regressed to a window:\n$p")
    // min_by keyed on a struct compiles to SortAggregate; what matters is the
    // partial+final pair (map-side combine before the one key shuffle)
    assert("(Hash|Sort)Aggregate".r.findAllIn(p).size >= 2,
      s"fuzzy match must reduce via partial min_by aggregate:\n$p")
  }

  test("keep-first dedup runs on the native TopKPerKey operator (k=1), no Window") {
    assertNativeTopK("q_dedup_keep_first")
  }

  test("interval join stays keyed — no cartesian, time bounds inside the join") {
    val p = plan(SparkEntry.queries("q_interval_join")(spark, sf))
    assert(!p.contains("CartesianProduct"), s"interval join fell back to cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"interval join lost its equi-key:\n$p")
  }

  test("word repetition reduces with partial aggregates at both grains") {
    val p = plan(SparkEntry.queries("q_word_repetition")(spark, sf))
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"both aggregation levels must have map-side combines:\n$p")
    assert(!p.contains("Window"), p)
  }

  test("IVF KMeans fit input is bounded by maxFitRows, with no count() pre-pass") {
    import org.apache.spark.sql.functions.{col, lit, array}
    // plant a corpus larger than the cap; the sample must respect the bound
    val corpus = spark.range(5000)
      .select(col("id"), array(lit(1.0f), lit(0.0f)).as("vec"))
      .repartition(8)
    val sampled = graft.operators.Similarity.fitSample(corpus.toDF(), 1000L)
    assert(sampled.count() <= 1000L, "fit sample exceeded maxFitRows")
    // and a small corpus passes through un-truncated (cap, not a target)
    val small = spark.range(10).select(col("id"), array(lit(1.0f)).as("vec"))
    assert(graft.operators.Similarity.fitSample(small.toDF(), 1000L).count() == 10L)
  }

  test("tf-idf top terms run on the native TopKPerKey operator, no Window") {
    val p = plan(SparkEntry.queries("q_tfidf")(spark, sf))
    assert(p.contains("TopKPerKey"), s"expected native top-k:\n$p")
    assert(!p.contains("Window"), s"tf-idf cut must not use a window:\n$p")
  }

  test("lm score broadcasts the vocab-bounded count tables — corpus side never shuffles for the joins") {
    val p = plan(SparkEntry.queries("q_lm_score")(spark, sf))
    assert(!p.contains("SortMergeJoin"), s"bigram count join must broadcast:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("KN scoring builds its term stream in one codegen'd pass — no zip_with, no Union") {
    Seq("q_llm_pipeline5", "q_kn_perplexity").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, sf))
      // zip_with and its lambda variables run interpreted (CodegenFallback)
      assert(!p.contains("zip_with"), s"$q pairs tokens through zip_with:\n$p")
      assert(!p.contains("Union"), s"$q unions first-token and bigram streams:\n$p")
      assert(p.contains("posexplode"), s"$q expected the posexplode term stream:\n$p")
    }
  }

  test("boilerplate removal broadcasts the boilerplate-line set back onto the corpus") {
    val p = plan(SparkEntry.queries("q_boilerplate")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"boilerplate set must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle for the flag join:\n$p")
  }

  test("ecdf normalization broadcasts the histogram cdf map — the data side never sorts") {
    val p = plan(SparkEntry.queries("q_ecdf")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"cdf map must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("profiler unions single-column aggregates — no Expand row blow-up, no join") {
    val p = plan(SparkEntry.queries("q_profile")(spark, sf))
    assert(!p.contains("Join"), s"profile must not join:\n$p")
    assert(!p.contains("Window"), s"profile must not window:\n$p")
    // the multi-distinct-in-one-agg formulation would plan an Expand that
    // replicates every row once per profiled column
    assert(!p.contains("Expand"), s"profile must not Expand the data:\n$p")
    assert(p.contains("Union"), p)
  }

  test("funnel is a per-user aggregate + fold — no window, no self-join") {
    val p = plan(SparkEntry.queries("q_funnel")(spark, sf))
    assert(!p.contains("Window"), s"funnel must not use a window:\n$p")
    assert(!p.contains("Join"), s"funnel must not self-join:\n$p")
  }

  test("TPC-H Q3 shape broadcasts the filtered segment dim and pushes both date filters") {
    val p = plan(SparkEntry.queries("q_tpch_q3")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), s"top-10 must not globally sort:\n$p")
    assert(p.contains("PushedFilters: ["), s"date filters not pushed to scans:\n$p")
  }

  test("TPC-H Q5 snowflake broadcasts every dimension — at most the one fact-orders shuffle join") {
    val p = plan(SparkEntry.queries("q_tpch_q5")(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    val smj = "SortMergeJoin".r.findAllIn(p).size
    assert(smj <= 1, s"expected <= 1 shuffle join (fact-orders), got $smj:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, s"dims must broadcast:\n$p")
  }

  test("TPC-H Q18 shape: one lineitem shuffle, big-order and hot-order sets broadcast") {
    val p = plan(SparkEntry.queries("q_tpch_q18")(spark, sf))
    assert(!p.contains("SortMergeJoin"),
      s"orders/customer must never shuffle — both probe sides are HAVING-bounded:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, s"expected 2 broadcast joins:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-100 must not globally sort:\n$p")
    // the only Exchange is the lineitem partial-aggregate shuffle (plus its
    // broadcast exchanges, which are not data shuffles)
    val shuffles = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(shuffles <= 1, s"expected exactly 1 data shuffle (lineitem agg), got $shuffles:\n$p")
  }

  test("quality suite: all row-scalar checks share ONE aggregate pass over the table") {
    import graft.operators.Quality, graft.operators.Quality._
    val p = plan(Quality.report(Tables.orders(spark, sf), Seq(
      Complete("o_custkey"), MinAtLeast("o_totalprice", 0.0),
      MaxAtMost("o_totalprice", 1e9), InSet("o_orderstatus", Seq("O")),
      MatchesRegex("o_orderpriority", "^x"), RowCountBetween(1, 2))))
    val aggs = "\\(\\d+\\) HashAggregate".r.findAllIn(p).size
    assert(aggs == 2, s"expected 1 shared aggregate (partial+final), got $aggs:\n$p")
    assert(!p.contains("Join"), s"row-scalar checks must not join:\n$p")
    assert(!p.contains("Expand"), s"check suite must not Expand rows:\n$p")
  }

  test("z-order ranks via the native binary search — no interpreted HOF lambda in the hot path") {
    val p = plan(graft.operators.Sink.zOrderValue(
      Tables.lineitem(spark, sf).select("l_partkey", "l_suppkey"),
      Seq("l_partkey", "l_suppkey")))
    assert(p.contains("rankBelow"), s"expected native rank expression:\n$p")
    // a higher-order aggregate() fold here runs interpreted (40x slower at
    // sf0.1 — measured 59s -> 2.4s when replaced)
    assert(!p.contains("lambdafunction"), s"interpreted HOF crept back into z-ordering:\n$p")
  }

  test("TPC-H Q17 decorrelates: part keys and thresholds broadcast, lineitem never sort-merges") {
    val p = plan(SparkEntry.queries("q_tpch_q17")(spark, sf))
    assert(!p.contains("SortMergeJoin"), s"both joins must broadcast:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, s"expected 2 broadcast joins:\n$p")
    // one shuffle for the per-part partial agg + the single-row final agg
    val shuffles = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(shuffles <= 2, s"expected <= 2 exchanges, got $shuffles:\n$p")
  }

  test("MAD outliers broadcast both median tables back — the data side never sort-merges") {
    val p = plan(SparkEntry.queries("q_mad_outliers")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"medians must broadcast back:\n$p")
    assert(!p.contains("SortMergeJoin"), s"data side re-shuffled for a stats join:\n$p")
  }

  test("quantized ANN: shortlist and rerank run on the native top-k, no Window, no cartesian") {
    val p = plan(SparkEntry.queries("q_ann_quantized")(spark, sf))
    assert(p.contains("TopKPerKey"), s"expected native top-k:\n$p")
    assert(!p.contains("Window"), s"quantized ANN regressed to a window:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("rolling sketch distinct windows over the CUBE (two exchanges max), never re-reads raw data") {
    val p = plan(SparkEntry.queries("q_rolling_distinct")(spark, sf))
    // cube agg + window partition + the presentation ORDER BY — nothing else
    val shuffles = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(shuffles <= 3, s"expected cube agg + window + presentation sort, got $shuffles:\n$p")
    assert(!p.contains("Expand"), p)
  }

  test("incremental agg merge is union + partial aggregates — no join, no window") {
    val p = plan(SparkEntry.queries("q_incremental_agg")(spark, sf))
    assert(p.contains("Union"), p)
    assert(!p.contains("Join"), s"state merge must not join:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4, s"both levels need partial aggs:\n$p")
  }

  test("quantile cube: sketch aggregates are partial (ObjectHashAggregate both sides of one exchange)") {
    val p = plan(SparkEntry.queries("q_quantile_cube")(spark, sf))
    // fine-grain sketch agg + rollup merge agg, each partial+final: the
    // shuffle carries ~3KB sketches per group, never raw rows
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 4,
      s"expected partial+final object aggs at both grains:\n$p")
    assert(!p.contains("Join"), s"rollup must merge sketches, not join back:\n$p")
  }

  test("attribution shuffles once on the user key — no self-join, no per-conversion scan") {
    val p = plan(SparkEntry.queries("q_attribution")(spark, sf))
    assert(!p.contains("Join"), s"attribution must not self-join:\n$p")
    // chained Window nodes share the one user-key exchange; the only other
    // exchange is the presentation ORDER BY
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 2,
      s"expected window + presentation exchanges only:\n$p")
  }

  test("rolling z-score shuffles once on the key — no join, no second data pass") {
    val p = plan(SparkEntry.queries("q_rolling_zscore")(spark, sf))
    assert(!p.contains("Join"), s"z-score must not join:\n$p")
    // the slidingByKey fast path carries at most THREE exchanges — the
    // explicit (split, key) hash placement the frame window reuses, plus
    // the presentation sort — all POST-checkpoint on the narrow ranged
    // table (r11: split ids are deterministic arithmetic on exact
    // per-partition counts; the row numbering itself is exchange-free —
    // local sort + monotonically_increasing_id on the pinned checkpoint).
    // The load-bearing pins stay: no join, no second scan of the source.
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 3,
      s"expected tail + window + presentation exchanges only:\n$p")
    assert("Scan parquet".r.findAllIn(p).size <= 1,
      s"the source must be scanned once (checkpoint feeds the rest):\n$p")
  }

  test("winsorize broadcasts the 1-row threshold aggregate — data side never shuffles for the clamp") {
    val p = plan(SparkEntry.queries("q_winsorize")(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"), s"thresholds must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("pagerank iterations stay keyed equality joins — no cartesian anywhere") {
    val p = plan(SparkEntry.queries("q_pagerank")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pagerank must join on keys only:\n$p")
  }

  test("gap fill never falls back to a cartesian/calendar cross join") {
    val p = plan(SparkEntry.queries("q_gap_fill")(spark, sf))
    assert(p.contains("Generate"), s"expected a narrow sequence explode:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"gap fill must join on (key, period):\n$p")
  }

  test("CDC apply runs on the native TopKPerKey k=1 operator — no window, no data-sized sort") {
    val p = plan(SparkEntry.queries("q_cdc_apply")(spark, sf))
    assert(p.contains("TopKPerKey"), s"CDC winner-per-key must use the native operator:\n$p")
    assert(!p.contains("Window"), s"CDC must not window:\n$p")
  }

  test("TPC-H Q4 keeps the EXISTS as a semi join (no fan-out + distinct repair)") {
    val p = plan(SparkEntry.queries("q_tpch_q4")(spark, sf))
    assert(p.contains("LeftSemi"), s"expected a left-semi join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("TPC-H Q21/Q22 decorrelate to semi/anti joins, never cartesian") {
    Seq("q_tpch_q21", "q_tpch_q22").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(p.contains("LeftAnti"), s"$q expected an anti join:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q fell back to cartesian:\n$p")
    }
  }

  test("duplicate spans: frequency filter is a keyed equi-join after partial aggregation") {
    val p = plan(SparkEntry.queries("q_dup_spans")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"dup-span candidate generation must stay an equi-join:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial aggregate on grams:\n$p")
  }

  test("CMS cube readout broadcasts the 1-row merged sketch") {
    val p = plan(SparkEntry.queries("q_cms_counts")(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"), s"merged sketch must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("ObjectHashAggregate"), s"CMS must aggregate via ObjectHashAggregate:\n$p")
  }

  test("theta set-op readout: ObjectHashAggregate partials, 1-row broadcast, no cartesian") {
    val p = plan(SparkEntry.queries("q_theta_setops")(spark, sf))
    assert(p.contains("ObjectHashAggregate"), s"theta must aggregate via ObjectHashAggregate:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"), s"1-row sketch side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("TPC-H Q7/Q10 broadcast their dimension sides and never go cartesian") {
    Seq("q_tpch_q7", "q_tpch_q10").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(p.contains("BroadcastHashJoin"), s"$q expected broadcast dim joins:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q fell back to cartesian:\n$p")
    }
  }

  test("Q10's top-20 is a bounded TakeOrderedAndProject, not a global sort") {
    val p = plan(SparkEntry.queries("q_tpch_q10")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"expected bounded top-k:\n$p")
  }

  test("LLM pipeline v2 composes in one plan: partial aggregates, no cartesian, no pipeline-breaking collect") {
    val p = plan(SparkEntry.queries("q_llm_pipeline2")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pipeline v2 must stay keyed:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial aggregate:\n$p")
  }

  test("Gopher quality gate is one map-side projection: zero exchanges") {
    val p = plan(graft.sources.Tables.documents(spark, sf).select(
      org.apache.spark.sql.functions.col("doc_id") +:
        graft.operators.TextAnalysis.gopherQualityFlags(
          org.apache.spark.sql.functions.col("text")).map { case (n, c) => c.as(n) }: _*))
    assert(!p.contains("Exchange"), s"gopher gate must not shuffle:\n$p")
    assert(!p.contains("lambdafunction"), s"gopher gate must stay codegen-native:\n$p")
  }

  test("BM25 broadcasts df/stats/queries, top-k on the native operator, no window sort") {
    val p = plan(SparkEntry.queries("q_bm25_topk")(spark, sf))
    assert(p.contains("TopKPerKey"), s"expected native top-k:\n$p")
    assert(!p.contains("Window"), s"BM25 must not use a rank window:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"df/query joins must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("grouped winsorization broadcasts the bounds back — fact side never shuffles") {
    val p = plan(graft.operators.Sketches.winsorizeGrouped(
      Tables.events(spark, sf), "value", Seq("event_type")))
    assert(p.contains("BroadcastHashJoin"), s"bounds join-back must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact side must not sort-merge:\n$p")
  }

  test("top_rows leaderboard aggregates with a map-side partial (ObjectHashAggregate pair)") {
    val p = plan(SparkEntry.queries("q_top_events")(spark, sf))
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"top_rows must partial-aggregate before the shuffle:\n$p")
  }

  test("triangle counting stays on equi-joins — no cartesian, no nested-loop") {
    val p = plan(SparkEntry.queries("q_triangles")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"triangles must join on node keys only:\n$p")
  }

  test("golden record picks winners on the native top-k path, no rank window") {
    val p = plan(SparkEntry.queries("q_golden_record")(spark, sf))
    assert(p.contains("TopKPerKey"), s"expected native top-1:\n$p")
    assert(!p.contains("Window"), s"survivorship must not use a rank window:\n$p")
  }

  test("LLM pipeline v3 broadcasts the weight table and stays cartesian-free") {
    val p = plan(SparkEntry.queries("q_llm_pipeline3")(spark, sf))
    assert(!p.contains("CartesianProduct"), s"pipeline v3 must stay keyed:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"weights must broadcast back:\n$p")
    assert(p.contains("TopKPerKey"), s"line dedup must use the native top-1 path:\n$p")
  }

  test("spatial radius join is a grid equi-join — no cartesian, no nested loop") {
    val p = plan(SparkEntry.queries("q_spatial_join")(spark, sf))
    assert(!p.contains("CartesianProduct"), s"radius join fell back to cartesian:\n$p")
    // exactly ONE nested-loop join is expected: the r14 adaptive
    // hot-cell guard's 1-row total-count scalar combine (the
    // repo-standard broadcast-scalar idiom). A second one means the
    // DATA join lost its cell keys.
    // formatted plans print each node twice (tree + detail section):
    // count the "(N) BroadcastNestedLoopJoin" detail headers, one per node
    val bnlj = """\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).length
    assert(bnlj <= 1, s"radius join lost its cell keys:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"cell-key equi-join missing:\n$p")
  }

  test("item-item cosine broadcasts item counts, neighbors on native top-k") {
    val p = plan(SparkEntry.queries("q_item_cosine")(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TopKPerKey"), s"expected native top-k:\n$p")
    assert(!p.contains("Window"), s"neighbor pick must not use a rank window:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"item counts must broadcast:\n$p")
  }

  test("Theil-Sen runs as one aggregate kernel — no pair join, no rank window") {
    val p = plan(SparkEntry.queries("q_theil_sen")(spark, sf))
    assert(!p.contains("Window"), s"theil-sen regressed to the pair+rank window:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"theil-sen must not self-join the pairs:\n$p")
  }

  test("interpolation never uses an unbounded-FOLLOWING frame (per-row rescan)") {
    val p = plan(SparkEntry.queries("q_interpolate")(spark, sf)).toLowerCase
    // Spark recomputes (current -> unbounded following) frames from scratch
    // per row — O(n²) per partition, measured 173s vs 0.9s at sf0.1; the
    // next-neighbor lookup must stay on reversed RUNNING frames
    assert(!p.contains("unboundedfollowing"),
      s"interpolate regressed to an unbounded-following frame:\n$p")
  }

  test("survival curves: one aggregate to (segment, duration), dim broadcast") {
    val p = plan(SparkEntry.queries("q_survival")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"segment dim must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bootstrap CI: draws join the rank table with no cartesian") {
    val p = plan(SparkEntry.queries("q_bootstrap_ci")(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("RFM histograms broadcast back — the entity table never re-shuffles") {
    val p = plan(SparkEntry.queries("q_rfm")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"score histograms must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bbox join is an equi-join on grid cells — never cartesian or nested-loop") {
    val p = plan(SparkEntry.queries("q_bbox_join")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"bbox join must stay a cell equi-join:\n$p")
  }

  test("ABC classes ride the two-pass prefix sum — no single-partition data window") {
    val p = plan(SparkEntry.queries("q_pareto_abc")(spark, sf))
    // the only ordered window without partition keys runs on the
    // partition-count-sized offsets table; the item-scale window is keyed
    // by the physical partition id (r11: the placement-pinning checkpoint
    // hides the spark_partition_id projection behind a Scan ExistingRDD,
    // so the pin reads the __pid window key instead)
    assert(p.toLowerCase.contains("spark_partition_id") || p.contains("__pid"),
      s"expected the partition-id-keyed local cumsum:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("semdedup pairs by cluster equi-join; dsir broadcasts the bucket model") {
    val p1 = plan(SparkEntry.queries("q_semdedup")(spark, sf))
    assert(!p1.contains("CartesianProduct") && !p1.contains("BroadcastNestedLoopJoin"),
      s"semdedup must pair only within clusters:\n$p1")
    val p2 = plan(SparkEntry.queries("q_dsir")(spark, sf))
    assert(p2.contains("BroadcastExchange"),
      s"dsir must broadcast the bucket-bounded log-ratio table:\n$p2")
    assert(!p2.contains("CartesianProduct"), p2)
  }

  test("ECDF-discrepancy family rides the two-pass prefix sum — roc/cvm/wasserstein") {
    // rocAuc, cramerVonMises, wassersteinAssemble: the cumulative counts
    // over the data-derived value histogram must be keyed by the physical
    // partition id (globalRunningSums), never a lit(1) single-partition sort
    Seq("q_roc_auc", "q_cvm", "q_wasserstein").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, sf))
      // r11: the checkpoint pin hides the spark_partition_id projection —
      // assert on the __pid window key it feeds
      assert(p.toLowerCase.contains("spark_partition_id") || p.contains("__pid"),
        s"$q must use the partition-id-keyed local cumsum:\n$p")
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("one-hot is a pure projection — no shuffle beyond the verifying fold") {
    val hot = graft.operators.Reshape.oneHot(
      Tables.orders(spark, sf), "o_orderpriority",
      knownValues = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
    val p = plan(hot)
    assert(!p.contains("Exchange"),
      s"known-vocabulary one-hot must add zero shuffles:\n$p")
  }

  test("embedding audit broadcasts label-bounded centroids — no cartesian of vectors") {
    val p = plan(SparkEntry.queries("q_embed_quality")(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"centroids must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), s"vector side must not shuffle-join:\n$p")
  }

  test("PCA projection is scan + project — the Gram pass is the only aggregate") {
    val emb = Tables.embeddings(spark, sf)
    val model = graft.operators.Similarity.pcaFit(emb, "embedding", dim = 64, k = 4)
    val p = plan(graft.operators.Similarity.pcaProjectAll(emb, "embedding", model))
    assert(!p.contains("Exchange"), s"projection must be shuffle-free:\n$p")
    assert(p.contains("staticinvoke") || p.contains("StaticInvoke") ||
      p.toLowerCase.contains("pcaproject"), s"expected the native projection:\n$p")
  }

  test("log-odds keywords: one explode pass, totals broadcast back") {
    val p = plan(SparkEntry.queries("q_log_odds")(spark, sf))
    assert(!p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"), p)
    // one partial+final aggregate over terms
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial aggregate:\n$p")
  }

  // ---- r7 additions: the stats/series wave keeps its one-shuffle shapes.

  test("spearman: all four rank windows share ONE hash exchange on the key") {
    import org.apache.spark.sql.functions.col
    val df = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
    val p = plan(graft.operators.Sketches.spearmanCorr(
      df, Seq("l_returnflag"), "l_quantity", "l_extendedprice"))
    assert("hashpartitioning".r.findAllIn(p).size == 1,
      s"rank windows + final agg must reuse one key partitioning:\n$p")
  }

  test("changepoint: one window exchange, argmax on the native top-k operator") {
    import org.apache.spark.sql.functions.col
    val df = Tables.events(spark, sf)
      .select(col("event_type"), col("ts"), col("event_id").as("v"))
    val p = plan(graft.operators.Temporal.changepoint(
      df, Seq("event_type"), "ts", "v"))
    // the rank-filter argmax rewrites onto TopKPerKey: its exchange carries
    // <= 1 row per key, so only the window exchange moves data
    assert(p.contains("TopKPerKey"), s"argmax lost the native top-k rewrite:\n$p")
    assert("hashpartitioning".r.findAllIn(p).size == 2,
      s"changepoint must be window exchange + bounded top-k exchange:\n$p")
  }

  test("holt smoothing: one key shuffle, no Window operator at all") {
    import org.apache.spark.sql.functions.col
    val df = Tables.events(spark, sf)
      .select(col("event_type"), col("ts"), col("event_id").as("v"))
    val p = plan(graft.operators.Temporal.holtSmooth(
      df, Seq("event_type"), "ts", "v", 0.3, 0.1))
    assert(!p.contains("Window"), s"holt must be an in-row kernel, not a window:\n$p")
    assert("hashpartitioning".r.findAllIn(p).size == 1,
      s"holt must shuffle once on the key:\n$p")
  }

  test("collocations: the bigram-total join broadcasts, never a cartesian shuffle") {
    val p = plan(SparkEntry.queries("q_collocations")(spark, sf))
    assert(!p.contains("CartesianProduct"), s"collocations must not cartesian:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the 1-row total must broadcast:\n$p")
  }

  test("k-means summary: centroid coords broadcast onto the k-row rollup") {
    val p = plan(SparkEntry.queries("q_kmeans")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"coords must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"k-row join must not sort-merge:\n$p")
  }

  test("huber / geometric-median sweeps broadcast the tiny estimate, never sort-merge") {
    for (q <- Seq("q_huber", "q_geo_median")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(p.contains("BroadcastHashJoin"), s"$q estimate join must broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q must not sort-merge:\n$p")
    }
  }

  test("kendall pair join is a key equi-join, never a cartesian") {
    val p = plan(SparkEntry.queries("q_kendall")(spark, sf))
    assert(!p.contains("CartesianProduct"), s"kendall must join on the key:\n$p")
  }

  test("agreement/association one-row stats reduce with partial aggregates") {
    for (q <- Seq("q_mantel_haenszel", "q_cronbach", "q_cohen_kappa")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$q must map-side combine before its shuffle:\n$p")
      assert(!p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"),
        s"$q single-row combine must broadcast:\n$p")
    }
  }

  // ---- the models/causal/calibration wave keeps its scale shapes.

  test("chi2 keywords: native bounded-heap selection, candidate windows never the corpus") {
    val p = plan(SparkEntry.queries("q_chi2_keywords")(spark, sf))
    assert(p.contains("TopKPerKey"), s"selection must be the native heap:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("perplexity / naive bayes: vocabulary models broadcast into the token stream") {
    for (q <- Seq("q_perplexity", "q_naive_bayes")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(p.contains("BroadcastHashJoin"), s"$q model join must broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q must not cartesian:\n$p")
    }
  }

  test("conformal: the group-mean model broadcasts onto the test scan") {
    val p = plan(SparkEntry.queries("q_conformal")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"model join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"test scoring must not shuffle-join:\n$p")
  }

  test("logistic / ipw readouts are single partial-aggregate passes") {
    for (q <- Seq("q_logistic", "q_ipw_ate")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$q must map-side combine its moment pass:\n$p")
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("strat-ate / brier: cell-table windows, exact moment pass map-side combined") {
    for (q <- Seq("q_strat_ate", "q_brier")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$q must map-side combine before cells:\n$p")
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  // ---- the r9 fitting wave (quantile/SVM/AR/JL/stumps/soundex).

  test("subgradient fits (quantreg, svm) stay single partial-agg scans per step") {
    for (q <- Seq("q_quant_reg", "q_svm")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$q readout must map-side combine:\n$p")
      assert(!p.contains("CartesianProduct"), p)
      assert(!p.contains("Window"), s"$q must not grow a window:\n$p")
    }
  }

  test("AR forecast: one per-key window pass, one partial agg, no cartesian") {
    val p = plan(SparkEntry.queries("q_ar_forecast")(spark, sf))
    assert("""\(\d+\) Window""".r.findAllIn(p).size <= 2,
      s"lags + row numbers must share the key window pass:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("JL distortion: projection is pure scalar ops; only the bounded probe pairs loop") {
    val p = plan(SparkEntry.queries("q_jl_distortion")(spark, sf))
    assert(!p.contains("SortMergeJoin"), s"probe pairing must not shuffle-join:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"the projection must not shuffle:\n$p")
  }

  test("stump family: per-bin partial aggs, bounded-bin windows, bounded argmax") {
    for (q <- Seq("q_stump", "q_gb_stumps")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
    val p = plan(SparkEntry.queries("q_stump")(spark, sf))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"bin stats must map-side combine:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the argmax must be the bounded top-1, not a global sort:\n$p")
  }

  test("soundex blocks: codegen'd scalar chain into one combined aggregate") {
    val p = plan(SparkEntry.queries("q_soundex_blocks")(spark, sf))
    assert(!p.contains("BatchEvalPython") && !p.contains("Invoke"),
      s"the encoder must stay pure column ops:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg:\n$p")
    assert(p.contains("regexp_replace"),
      s"the chain must inline as scalar expressions, not a UDF:\n$p")
  }

  test("survey readouts (kish, jackknife): moment passes map-side combined, totals broadcast") {
    for (q <- Seq("q_kish", "q_jackknife")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$q must map-side combine:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
    val p = plan(SparkEntry.queries("q_jackknife")(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row totals must broadcast onto the group table:\n$p")
  }

  test("poisson / bagged stumps / competing risks keep their scale shapes") {
    // q_bagged_stumps' RESULT is a driver-built local table (the readout
    // rows) — its data passes are paced collects already pinned via the
    // stump kernel, so only the poisson readout plan is assertable here
    val p = plan(SparkEntry.queries("q_poisson")(spark, sf))
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"q_poisson no partial agg:\n$p")
    assert(!p.contains("CartesianProduct"), s"q_poisson:\n$p")
    // competing risks: windows run on the duration-collapsed table, under
    // a partial aggregate — never on raw subjects
    val cr = plan(SparkEntry.queries("q_competing_risks")(spark, sf))
    assert("HashAggregate".r.findAllIn(cr).size >= 2, s"no duration collapse:\n$cr")
    assert(!cr.contains("CartesianProduct"), cr)
  }

  test("time-series closed forms (var1, granger, mann-kendall, seasonal power) stay lean") {
    for (q <- Seq("q_granger", "q_mann_kendall", "q_seasonal_power")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert("HashAggregate".r.findAllIn(p).size >= 2, s"$q no partial agg:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
    // mann-kendall's pair join must key on the series id, never nest loops
    val mk = plan(SparkEntry.queries("q_mann_kendall")(spark, sf))
    assert(mk.contains("SortMergeJoin") || mk.contains("ShuffledHashJoin") ||
      mk.contains("BroadcastHashJoin"), s"pair join must be keyed:\n$mk")
  }

  test("KN perplexity: map-side bigrams, broadcast model tables, no per-doc window") {
    val p = plan(SparkEntry.queries("q_kn_perplexity")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"model joins must broadcast:\n$p")
    assert(!"""\(\d+\) Window""".r.findAllIn(p).hasNext,
      s"bigrams must come from slice+zip, not a per-doc window:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("PQ ANN: broadcast codebook/LUT joins, bounded-heap shortlist, no cartesian") {
    val p = plan(SparkEntry.queries("q_ann_pq")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"codebook must broadcast:\n$p")
    assert(p.contains("TopKPerKey"), s"shortlist must be the native heap:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("RD / capture-recapture / dispersion: single moment passes, semi-join counts") {
    for (q <- Seq("q_rdd", "q_poisson_dispersion")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert("HashAggregate".r.findAllIn(p).size >= 2, s"$q no partial agg:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
    val cr = plan(SparkEntry.queries("q_capture_recapture")(spark, sf))
    assert(cr.contains("LeftSemi"), s"the overlap must be a semi-join count:\n$cr")
    assert(!cr.contains("CartesianProduct"), cr)
  }

  test("pipeline v5 / bradley-terry: bounded heaps and keyed joins only") {
    val p5 = plan(SparkEntry.queries("q_llm_pipeline5")(spark, sf))
    assert(p5.contains("TopKPerKey"),
      s"the head-bucket selection must be the native bounded heap:\n$p5")
    assert(!p5.contains("CartesianProduct"), p5)
    val bt = plan(SparkEntry.queries("q_bradley_terry")(spark, sf))
    assert(!bt.contains("CartesianProduct") && !bt.contains("BroadcastNestedLoopJoin"),
      s"MM rounds must stay keyed equi-joins:\n$bt")
  }

  test("sequential patterns: session self-join is an equi-join, top-k bounded") {
    val p = plan(SparkEntry.queries("q_seq_patterns")(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    // the precedence pairing must be keyed on the session column (the
    // 1-row totals broadcast is the only nested-loop allowed)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"the precedence pairing must hash-join on the session key:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be the bounded operator, not a global sort:\n$p")
  }

  test("bloom prune: the sketch filter sits map-side below the semi-join") {
    val p = plan(SparkEntry.queries("q_bloom_prune")(spark, sf))
    // the membership test must appear as a scan-side Filter (inside
    // codegen, before any exchange), and the join must still be there to
    // remove false positives
    assert(p.contains("graft_bloom_might_contain"),
      s"bloom predicate missing from the plan:\n$p")
    val filterIdx = p.indexOf("graft_bloom_might_contain")
    val joinIdx = math.max(p.indexOf("SortMergeJoin"),
      math.max(p.indexOf("ShuffledHashJoin"), p.indexOf("BroadcastHashJoin")))
    assert(joinIdx >= 0, s"exact semi-join missing:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // anti path: the definite-non-member branch reaches the union with no
    // join operator of its own
    val fact = graft.sources.Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
    val dim = graft.sources.Tables.part(spark, sf)
      .filter(org.apache.spark.sql.functions.col("p_size") >= 40).select("p_partkey")
    val anti = graft.operators.Relational.bloomAntiJoin(fact, "l_partkey", dim, "p_partkey")
    val ap = plan(anti)
    assert(ap.contains("Union"), s"anti fast path must union around the join:\n$ap")
    assert(ap.contains("graft_bloom_might_contain_long"), ap)
  }
}
