package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling & splitting for training-data pipelines.
  *
  * Both operators key their randomness on a CONTENT hash instead of an RNG,
  * which buys three properties an LLM data pipeline needs: (1) reruns (and
  * re-shards, and other engines) produce byte-identical splits, (2) a
  * document lands in the same split even when the corpus around it changes —
  * no train/test leakage when the corpus is extended, (3) the assignment is
  * a pure map-side projection, zero shuffle at any scale.
  */
object Sampling {

  /** Hash-bucket of a key column in [0, buckets): the first 8 hex digits of
    * the md5 of the key, mod buckets. md5 so any engine (DuckDB:
    * `md5(key)`) reproduces the assignment bit-for-bit. */
  def hashBucket(key: Column, buckets: Int = 100): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
      .cast("long") % buckets

  /** Deterministic train/validation/test split: rows are assigned by
    * [[hashBucket]] of `key`, with cumulative fraction boundaries —
    * e.g. `fractions = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)`.
    * Appends a `split` column; a pure projection (no shuffle, no RNG
    * state), stable under corpus growth. */
  def deterministicSplit(
      df: DataFrame,
      key: String,
      fractions: Seq[(String, Double)],
      buckets: Int = 100): DataFrame = {
    require(math.abs(fractions.map(_._2).sum - 1.0) < 1e-9, "fractions must sum to 1")
    val bucket = hashBucket(col(key), buckets)
    val bounds = fractions.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
    val splitCol = fractions.zip(bounds).foldRight(lit(fractions.last._1)) {
      case (((name, _), hi), acc) =>
        when(bucket < math.round(hi * buckets), lit(name)).otherwise(acc)
    }
    df.withColumn("split", splitCol)
  }

  /** Deterministic data-mixture weighting: replicate/sample each source to
    * its target epoch weight — the corpus-assembly step that turns "2
    * epochs of books, half of web" into rows. A weight w for a source
    * means floor(w) full copies of every row plus one extra copy for the
    * rows whose content-hash fractional draw falls under w - floor(w); the
    * fractional draw is keyed on md5(key || "#mix") so it is independent of
    * the split/bucket draws, reproducible in any engine, and stable under
    * corpus growth. Sources absent from `weights` are dropped (weight 0).
    * Pure map-side projection + explode — zero shuffle at any scale.
    * Output appends `epoch` (1-based copy index). */
  def weightedMix(
      df: DataFrame,
      sourceCol: String,
      keyCol: String,
      weights: Map[String, Double],
      buckets: Int = 10000): DataFrame = {
    require(weights.values.forall(_ >= 0), "weights must be non-negative")
    val whole = weights.foldLeft(lit(-1L)) { case (acc, (s, w)) =>
      when(col(sourceCol) === s, lit(math.floor(w).toLong)).otherwise(acc)
    }
    val fracThreshold = weights.foldLeft(lit(0L)) { case (acc, (s, w)) =>
      when(col(sourceCol) === s, lit(math.round((w - math.floor(w)) * buckets))).otherwise(acc)
    }
    val draw = hashBucket(concat(col(keyCol).cast("string"), lit("#mix")), buckets)
    val copies = whole + when(draw < fracThreshold, lit(1L)).otherwise(lit(0L))
    df.withColumn("__n", copies)
      .filter(col("__n") >= 1) // also drops unknown sources (whole = -1)
      .withColumn("epoch", explode(sequence(lit(1L), col("__n"))))
      .drop("__n")
  }

  /** Sequence packing: assign documents to fixed-token-budget chunks — the
    * "pack documents into context windows" step in front of LLM training.
    * Documents are processed in deterministic `orderCol` order WITHIN each
    * shard (`shardCol`), a running token total assigns each doc to
    * `chunk_id` = floor((cumsum - tokens) / budget) — greedy first-fit in
    * order, with oversized docs spilling naturally into later chunks.
    *
    * Scale shape: the cumulative sum is a window per shard, so parallelism
    * = number of shards; a GLOBAL packing order would serialize the corpus
    * through one partition, which is exactly what this signature forbids
    * (derive `shardCol` from a hash bucket when no natural shard exists).
    * Output appends (chunk_id, chunk_pos) — chunk_pos is the doc's token
    * offset inside its chunk. Deterministic and engine-reproducible: the
    * same window formulation in ANSI SQL is the oracle. */
  def packSequences(
      df: DataFrame,
      shardCol: String,
      orderCol: String,
      tokensCol: String,
      budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(shardCol))
      .orderBy(col(orderCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = sum(col(tokensCol)).over(w)
    df.withColumn("chunk_id", floor((cum - col(tokensCol)) / budget))
      .withColumn("chunk_pos", cum - col(tokensCol) - floor((cum - col(tokensCol)) / budget) * budget)
  }

  /** Materialize the packed training rows from [[packSequences]] output:
    * one row per (shard, chunk), documents joined in pack order with a
    * separator, plus token totals. Ordered aggregation is expressed
    * deterministically as `sort_array(collect_list(struct(order, text)))` —
    * collect_list alone has NO ordering guarantee across retries/merges;
    * sorting the collected (bounded: one chunk's docs) array is the
    * engine-reproducible form of `string_agg(... ORDER BY ...)`. One partial
    * hash aggregate keyed by (shard, chunk_id). */
  def packText(
      packed: DataFrame,
      shardCol: String,
      orderCol: String,
      tokensCol: String,
      textCol: String,
      sep: String = "\n\n"): DataFrame =
    packed
      .groupBy(col(shardCol), col("chunk_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col(tokensCol)).as("n_tokens"),
        array_join(
          transform(
            sort_array(collect_list(struct(col(orderCol), col(textCol)))),
            s => s(textCol)),
          sep).as("text"))

  /** Weighted sample WITHOUT replacement, deterministic and distributed:
    * the exponential-clocks formulation of weighted reservoir sampling
    * (Efraimidis–Spirakis A-Res, log form) — each row draws
    * `key = −ln(u)/w` with `u` derived from an md5 content hash (no RNG
    * state, any engine reproduces it; seed changes the draw), and the
    * sample is the n SMALLEST keys: P(row first) ∝ its weight. The top-n
    * cut runs on the native [[graft.plans.TopKPerKeyPlan]] single-group
    * path — map-side bounded heaps shrink every partition to n rows before
    * the one shuffle, so it scales like a top-k, not a sort. The principled
    * "sample by quality weight" primitive for mixture construction. */
  def weightedSample(
      df: DataFrame,
      idCol: String,
      weightCol: String,
      n: Int,
      seed: String = "graft"): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    // 60 bits of md5 → uniform in (0,1); +0.5 keeps u strictly positive
    val u = (conv(substring(md5(concat_ws(":", col(idCol).cast("string"), lit(seed))), 1, 15), 16, 10)
      .cast("double") + 0.5) / math.pow(2.0, 60)
    val keyed = df
      .withColumn("__draw", -log(u) / col(weightCol).cast("double"))
      .withColumn("__g", lit(1))
    Relational.topKPerKey(
      keyed, Seq("__g"), sort = Seq("__draw" -> false), k = n)
      .drop("__g")
  }

  /** Temperature-based mixture weights (the multilingual/source-balancing
    * rule of Devlin et al. 2019 / Conneau & Lample 2019: sample source s
    * with probability ∝ p_s^alpha) — the principled way to derive the
    * `weights` map for [[weightedMix]] instead of hand-tuning: alpha = 1
    * keeps natural proportions, alpha → 0 approaches uniform over sources,
    * in between up-samples tail sources without drowning the head. One
    * partial-agg count per source plus two 1-row broadcasts; p_s^alpha
    * quantizes to exact 1e-12ths BEFORE the cross-source normalization
    * sum, so `q` and `weight` (= q/p, the epoch factor to feed
    * [[weightedMix]]) reproduce bit-for-bit on any engine/partitioning. */
  def temperatureWeights(df: DataFrame, sourceCol: String, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val counts = df.groupBy(col(sourceCol)).agg(count(lit(1)).as("n_rows"))
    val tot = counts.agg(sum(col("n_rows")).as("__N"))
    val withP = counts
      .crossJoin(broadcast(tot))
      .withColumn("__p", col("n_rows").cast("double") / col("__N").cast("double"))
      .withColumn("__paq", floor(pow(col("__p"), lit(alpha)) * lit(1e12) + lit(0.5)).cast("long"))
    val z = withP.agg(sum(col("__paq")).as("__Z"))
    withP
      .crossJoin(broadcast(z))
      .select(
        col(sourceCol),
        col("n_rows"),
        round(col("__p"), 6).as("p"),
        round(col("__paq").cast("double") / col("__Z").cast("double"), 6).as("q"),
        round(col("__paq").cast("double") / col("__Z").cast("double") / col("__p"), 6)
          .as("weight"))
  }

  /** Stratified deterministic sample: at most `perKey` rows per stratum,
    * chosen by md5 order of `idCol` (a stable pseudo-random order any engine
    * reproduces). Runs on the native [[graft.plans.TopKPerKeyPlan]] operator,
    * so every partition is shrunk to `perKey` rows per stratum BEFORE the
    * single shuffle — the scalable form of "give me N examples per class". */
  def stratifiedSample(
      df: DataFrame,
      strataCols: Seq[String],
      idCol: String,
      perKey: Int): DataFrame =
    Relational.topKPerKey(
      df.withColumn("__h", md5(col(idCol).cast("string"))),
      strataCols,
      sort = Seq("__h" -> false),
      k = perKey)
      .drop("__h")

  /** DSIR importance scores (Xie et al., NeurIPS 2023, arXiv:2302.03169) —
    * "which raw documents look like the target domain?", the
    * data-selection step between quality filtering and mixing: fit two
    * hashed unigram bag-of-words models (TARGET domain vs RAW corpus) over
    * `numBuckets` md5-mod feature buckets (the [[TextAnalysis.hashedFeatures]]
    * hash — no vocabulary fit, no dictionary broadcast, engine-portable),
    * then score every raw document by its log importance weight
    * log p_target(doc)/p_raw(doc) = Σ_f cnt_doc(f)·log(p_t(f)/p_r(f))
    * with add-one smoothing. Select by `score >= cutoff` or top-k
    * downstream.
    *
    * Scale shape: both model fits are one partial aggregate each to the
    * BUCKET domain (bounded by numBuckets, broadcastable); scoring is one
    * doc-grain aggregate joined against the broadcast bucket table — one
    * corpus shuffle total, nothing vocabulary-scale moves. Determinism:
    * each bucket's log-ratio is ONE ln of a ratio of exact integer
    * products (decimal(38,0) — corpus-scale counts cross-multiplied
    * overflow a long), quantized to 1e-6 longs BEFORE the per-doc sum
    * (the bm25 discipline), so scores reproduce bit-for-bit cross-engine.
    *
    * Returns (idCol, n_tokens, score) for every raw document. */
  def dsirScores(
      raw: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String,
      numBuckets: Int = 1024,
      minLen: Int = 1): DataFrame = {
    val lr = dsirModel(raw, target, textCol, numBuckets, minLen)
    val docFeat = dsirBuckets(raw.select(col(idCol), col(textCol)), textCol, numBuckets, minLen)
      .groupBy(col(idCol), col("__b")).agg(count(lit(1)).as("__c"))
    docFeat
      .join(broadcast(lr), "__b")
      .groupBy(col(idCol))
      .agg(
        sum(col("__c")).as("n_tokens"),
        (sum(col("__c") * col("__lrq")).cast("double") / lit(1e6)).as("score"))
  }

  /** The fitted model half of [[dsirScores]] — the (bucket, 1e-6-quantized
    * log-ratio) table, numBuckets rows, broadcastable anywhere. Fit once in
    * batch; the streaming twin scores a document stream STATELESSLY against
    * the broadcast model (per-token lrq sum ≡ Σ_f cnt·lrq). */
  def dsirModel(
      raw: DataFrame,
      target: DataFrame,
      textCol: String,
      numBuckets: Int = 1024,
      minLen: Int = 1): DataFrame = {
    require(numBuckets >= 2, s"numBuckets must be >= 2, got $numBuckets")
    def counts(df: DataFrame, cntName: String, totName: String) = {
      val c = dsirBuckets(df, textCol, numBuckets, minLen)
        .groupBy(col("__b")).agg(count(lit(1)).as(cntName))
      (c, c.agg(sum(col(cntName)).as(totName)))
    }
    val (tc, tt) = counts(target, "__tn", "__ttot")
    val (rc, rt) = counts(raw, "__rn", "__rtot")
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    // buckets that appear in EITHER corpus carry a ratio; add-one smoothing
    // keeps absent-side buckets finite
    rc.join(tc, Seq("__b"), "full_outer")
      .crossJoin(broadcast(tt)).crossJoin(broadcast(rt))
      .select(col("__b"),
        floor(log(
          (dec(coalesce(col("__tn"), lit(0L)) + 1) * dec(col("__rtot") + numBuckets)).cast("double") /
            (dec(coalesce(col("__rn"), lit(0L)) + 1) * dec(col("__ttot") + numBuckets)).cast("double"))
          * 1e6 + 0.5).cast("long").as("__lrq"))
  }

  /** Hashed-bucket tokenizer shared by the DSIR halves: keeps every input
    * column and appends `__b` (md5-mod bucket) per extracted token. */
  private[graft] def dsirBuckets(
      df: DataFrame, textCol: String, numBuckets: Int, minLen: Int): DataFrame = {
    require(numBuckets >= 2, s"numBuckets must be >= 2, got $numBuckets")
    df.select(df.columns.filter(_ != textCol).map(col) :+
        explode(regexp_extract_all(lower(col(textCol)),
          lit(s"[a-z0-9]{$minLen,}"), lit(0))).as("__term"): _*)
      .withColumn("__b",
        conv(substring(md5(col("__term")), 1, 8), 16, 10).cast("long") % numBuckets)
      .drop("__term")
  }

  /** Deterministic hash-based negative sampling — k pseudo-random items
    * per query for contrastive / ranking training pairs, with NO RNG state:
    * draw j ∈ 0..k−1 picks item rank md5(query:j) mod N, so the sample is
    * reproducible on any engine, partitioning and run (the
    * deterministicSplit discipline applied to sampling). The item universe
    * is ranked once by the two-pass range-partition numbering (id sort
    * order — stable), N comes from a 1-row broadcast cross join, and the
    * draw joins the rank table on its key — a co-partitioned equi-join,
    * never a collect. Accidental positives are kept (standard practice —
    * filter afterwards if the loss requires it).
    *
    * Returns (queryIdCol, draw, itemIdCol) — k rows per query. */
  def negativeSample(
      queries: DataFrame,
      queryIdCol: String,
      items: DataFrame,
      itemIdCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val ranked = graft.operators.Relational.globalRowNumbers(
      items.select(col(itemIdCol)).distinct(), Seq(col(itemIdCol)), rowNumCol = "__idx")
      .localCheckpoint(true)
    val n = ranked.agg(count(lit(1)).as("__n"))
    val draws = queries.select(col(queryIdCol))
      .crossJoin(broadcast(n))
      .select(col(queryIdCol), col("__n"), explode(array((0 until k).map(lit): _*)).as("draw"))
      .withColumn(
        "__idx",
        conv(substring(md5(concat(col(queryIdCol).cast("string"), lit(":"), col("draw").cast("string"))), 1, 8), 16, 10)
          .cast("long") % col("__n"))
    draws.join(ranked, "__idx")
      .select(col(queryIdCol), col("draw").cast("long").as("draw"), col(itemIdCol))
  }

  /** Deterministic corpus shuffle + source interleave — the REPRODUCIBLE
    * training-order primitive every run-to-run-comparable pipeline needs
    * (torch's shuffle seed does not survive a different worker count;
    * this one is a pure function of (id, seed)): global order = md5 of
    * (id, seed) — a new seed per epoch gives independent orders — and,
    * when `interleaveBy` is set, sources round-robin by (within-source
    * hash rank, source) so a 90/10 source mix stays interleaved instead
    * of clumping by whichever source sorts first.
    *
    * SCALE: both ranks ride two-pass range-partitioned machinery — the
    * within-source rank is [[Relational.groupedRunningSum]] over a
    * constant 1 (no low-cardinality source window), the global order is
    * [[Relational.globalRowNumbers]] — no single-partition sort at any
    * corpus size. Returns the input + `training_order` (0-based; plus
    * `within_source_rank` when interleaving). */
  def deterministicShuffle(
      df: DataFrame,
      idCols: Seq[String],
      seed: String,
      interleaveBy: Option[String] = None): DataFrame = {
    require(idCols.nonEmpty, "idCols must identify rows")
    val key = md5(concat_ws(":",
      idCols.map(col(_).cast("string")) :+ lit(seed): _*))
    val keyed = df.withColumn("__hk", key)
    interleaveBy match {
      case None =>
        Relational.globalRowNumbers(
          keyed, col("__hk") +: idCols.map(col), rowNumCol = "training_order")
          .drop("__hk")
      case Some(src) =>
        val ranked = Relational.groupedRunningSum(
          keyed.withColumn("__one", lit(1L)),
          Seq(src), col("__hk") +: idCols.map(col), "__one", "within_source_rank")
          .drop("__one")
        Relational.globalRowNumbers(
          ranked, Seq(col("within_source_rank"), col(src)) ++ idCols.map(col),
          rowNumCol = "training_order")
          .drop("__hk")
    }
  }

  /** Neyman optimal stratified allocation (Neyman 1934) — the survey-
    * design step BEFORE [[stratifiedSample]] draws anything: given a
    * total sample budget, allocate n_h ∝ N_h·S_h (big AND variable
    * strata deserve more samples; equal-proportion allocation wastes
    * budget on homogeneous strata — the variance-minimizing split for a
    * fixed cost). Completes the survey family with X238 raking and X262
    * Kish's post-hoc diagnosis of whatever allocation you DID use.
    *
    * One quantized moment pass per stratum (the welch discipline, |x| ≲
    * 1e3 pre-scaled) → sd as a fixed chain; the N_h·S_h weights quantize
    * to 1e-6 longs and the integer budget splits EXACTLY via
    * [[Relational.apportion]]'s largest-remainder rule (ties by the
    * stratum key) — allocations sum to the budget by construction.
    * Single-row strata carry no variance signal and weight 0 (documented:
    * they get allocation only through remainders, i.e. effectively
    * never). Degenerate inputs stay inside the contract (r10 ADVICE):
    * the quantized variance clamps at 0 so near-constant strata read
    * sd = 0.0 (never NaN), and when EVERY weight is 0 (all strata
    * constant or single-row) the allocation falls back to proportional-
    * to-n_pop instead of handing apportion a zero total (which would
    * NULL every n_alloc). Returns one row per stratum:
    * (strata…, n_pop, sd, n_alloc). */
  def neymanAllocation(
      df: DataFrame,
      strataCols: Seq[String],
      valueCol: String,
      totalSample: Long): DataFrame = {
    require(strataCols.nonEmpty, "at least one stratum column required")
    require(totalSample >= 0, s"totalSample must be >= 0, got $totalSample")
    val keys = strataCols.map(col)
    def q(c: Column) = sum(floor(c * 1000000.0 + 0.5).cast("long"))
    val v = col(valueCol).cast("double")
    val strata = df.groupBy(keys: _*)
      .agg(count(lit(1)).as("n_pop"), q(v).as("__sq"), q(v * v).as("__ssq"))
    val nn = col("n_pop").cast("double")
    val s = col("__sq").cast("double") / 1000000.0
    val ss = col("__ssq").cast("double") / 1000000.0
    // clamp the quantized variance at 0: catastrophic cancellation on a
    // near-constant stratum can leave -ulp, which would sqrt to NaN and
    // silently zero the weight
    val sd = sqrt(greatest((ss - s * s / nn) / (nn - 1.0), lit(0.0)))
    val weighted = strata
      .withColumn("__sd", when(col("n_pop") > 1, sd))
      .withColumn("__w0",
        coalesce(floor(nn * col("__sd") * 1000000.0 + 0.5).cast("long"), lit(0L)))
    // all-zero weights -> proportional-to-population fallback (1-row
    // broadcast total, the house pattern — stays one lazy plan)
    val wTot = weighted.agg(sum(col("__w0")).as("__w_sum"))
    val fallback = weighted.crossJoin(broadcast(wTot))
      .withColumn("__wq",
        when(col("__w_sum") > 0, col("__w0")).otherwise(col("n_pop")))
      .drop("__w0", "__w_sum")
    Relational.apportion(fallback, "__wq", totalSample, keys, outCol = "n_alloc")
      .select(keys ++ Seq(col("n_pop"),
        round(col("__sd"), 6).as("sd"), col("n_alloc")): _*)
  }
}
