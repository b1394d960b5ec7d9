package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._

import graft.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k with a broadcast query set — exact, one
  * pass over the corpus with no shuffle for scoring; the per-query top-k runs
  * through graft's native [[graft.plans.TopKPerKeyPlan]] operator, whose
  * map-side pass shrinks every partition to <= k rows per query BEFORE the
  * shuffle (bounded heaps, no sort) — so the only shuffle carries
  * k * |queries| * numPartitions rows at most, and reduce-side work is a
  * heap merge, never a full per-query sort.
  *
  * Scale path: random-hyperplane LSH — corpus is bucketed by sign-bit
  * signatures into L tables; a query only scores its own buckets. The
  * hyperplanes are derived deterministically from (table, plane, dim) hashes
  * so the signature is a pure column expression: no model object, no fit step,
  * nothing to broadcast but the queries.
  */
object Similarity {

  /** Mean-pool embeddings per group — the "chunk embeddings → document
    * embedding" reduction of an embedding pipeline: posexplode to
    * (group, dimension) pairs, one partial-aggregated average per
    * dimension, reassemble in dimension order via a sorted collect. Two
    * shuffles, both on compact keys; per-dimension state is one double per
    * (group, dim) so any corpus size fits. Output means are rounded to
    * `roundTo` dp — float partial-sum order differs across engines/
    * partitionings and rounding is what makes the result reproducible. */
  def meanPoolEmbeddings(
      df: DataFrame,
      groupCols: Seq[String],
      vecCol: String,
      roundTo: Int = 6): DataFrame =
    df.select(
      groupCols.map(col) :+ posexplode(col(vecCol)).as(Seq("__pos", "__v")): _*)
      .groupBy((groupCols :+ "__pos").map(col): _*)
      .agg(round(avg(col("__v").cast("double")), roundTo).as("__m"))
      .groupBy(groupCols.map(col): _*)
      .agg(
        transform(
          sort_array(collect_list(struct(col("__pos"), col("__m")))),
          s => s("__m")).as("mean_embedding"))

  /** Rocchio relevance-feedback rerank (Rocchio 1971, the SMART formula) —
    * the FEEDBACK member of the retrieval family beside BM25/QL (one-shot
    * ranking) and MMR (diversity): each query vector moves toward its
    * judged-relevant centroid and away from the non-relevant one,
    * q' = α·q + β·centroid(rel) − γ·centroid(nonrel), then the exact
    * cosine top-k reruns with q'.
    *
    * `feedback` is (queryIdCol, docIdCol, relevantCol) referencing corpus
    * vectors. Centroids come from [[meanPoolEmbeddings]] (per-dimension
    * partial-agg averages rounded 6 dp — the X28 reproducibility recipe);
    * the expansion is a pure per-dimension IEEE chain rounded 6 dp and
    * cast back to float, so any engine replays q' bit-for-bit. Queries
    * are small by contract (they broadcast into the scoring join); a
    * query with no judged docs of a class treats that centroid as zero. */
  def rocchioRerank(
      corpus: DataFrame,
      queries: DataFrame,
      feedback: DataFrame,
      idCol: String,
      vecCol: String,
      queryIdCol: String,
      docIdCol: String,
      relevantCol: String,
      k: Int = 10,
      alpha: Double = 1.0,
      beta: Double = 0.75,
      gamma: Double = 0.15): DataFrame = {
    val fb = feedback
      .select(col(queryIdCol).as("__q"), col(docIdCol).as("__d"),
        col(relevantCol).cast("boolean").as("__rel"))
      .join(corpus.select(col(idCol).as("__d"), col(vecCol).as("__fv")), Seq("__d"))
    val cents = meanPoolEmbeddings(fb, Seq("__q", "__rel"), "__fv")
    val rel = cents.filter(col("__rel"))
      .select(col("__q"), col("mean_embedding").as("__rc"))
    val non = cents.filter(!col("__rel"))
      .select(col("__q"), col("mean_embedding").as("__nc"))
    val expanded = queries
      .select(col(idCol).as("__q"), col(vecCol).as("__qv"))
      .join(rel, Seq("__q"), "left")
      .join(non, Seq("__q"), "left")
      .select(
        col("__q").as(idCol),
        transform(
          sequence(lit(1), size(col("__qv"))),
          i => round(
            lit(alpha) * element_at(col("__qv"), i).cast("double") +
              lit(beta) * coalesce(element_at(col("__rc"), i), lit(0.0)) -
              lit(gamma) * coalesce(element_at(col("__nc"), i), lit(0.0)), 6))
          .cast("array<float>").as(vecCol))
    bruteForceTopK(corpus, expanded, idCol, vecCol, k)
  }

  /** Per-query top-k of scored candidate rows via the native top-k operator:
    * partial heaps before the shuffle, rank emitted on the final pass. */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    Relational.topKPerKey(
      scored,
      keyCols = Seq("query_id"),
      sort = Seq("sim" -> true, "vec_id2" -> false),
      k = k,
      rankCol = Some("rnk"))
      .select(col("query_id"), col("vec_id2").as("vec_id"), col("sim"), col("rnk"))

  /** Exact cosine top-k of `corpus` rows for each row of (small) `queries`. */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv")))
    val scored = corpus
      .select(col(idCol).as("vec_id2"), col(vecCol).as("__v"))
      .join(q)
      .filter(col("vec_id2") =!= col("query_id"))
      .withColumn("sim", cosine_sim_float(col("__qv"), col("__v")))
      .select("query_id", "vec_id2", "sim")
    topKPerQuery(scored, k)
  }

  /** Sign-bit signature of a vector under `bits` implicit hyperplanes for LSH
    * table `table`: bit b = sign(dot(vec, plane_b)). Native one-pass
    * expression ([[graft.functions.VectorOps.lshSig]]) — the previous
    * higher-order formulation expanded to `bits` separate array traversals
    * with a per-element hash and dominated ANN runtime. */
  def lshSignature(vec: Column, table: Int, bits: Int): Column =
    lsh_sig(vec, table, bits)

  /** Embedding-cosine near-duplicate pairs: LSH self-join candidate
    * generation (rows sharing any table signature), exact cosine
    * verification at `threshold`. The self-join is a co-partitioned
    * equality join on (table, signature) — same scale shape as the MinHash
    * band join, with the same caveat: recall < 1 for borderline pairs; raise
    * `tables` (or lower `bits`) to trade cost for recall. */
  def embeddingNearDup(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      tables: Int = 8,
      bits: Int = 12): DataFrame = {
    def sigs(id: String, v: String): DataFrame =
      corpus.select(
        col(idCol).as(id),
        col(vecCol).as(v),
        explode(array((0 until tables).map(t =>
          struct(lit(t).as("tbl"), lshSignature(col(vecCol), t, bits).as("sig"))): _*)).as("__b"))
        .select(col(id), col(v), col("__b.tbl").as("tbl"), col("__b.sig").as("sig"))
    sigs("id1", "__v1")
      .join(sigs("id2", "__v2"), Seq("tbl", "sig"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2", "__v1", "__v2")
      .dropDuplicates("id1", "id2")
      .withColumn("sim", cosine_sim_float(col("__v1"), col("__v2")))
      .filter(col("sim") >= threshold)
      .select(col("id1"), col("id2"), col("sim"))
  }

  /** Cap the KMeans training input to <= `maxFitRows` rows WITHOUT any
    * pre-pass over the corpus: each partition contributes its first
    * `maxFitRows / numPartitions` rows (the iterator short-circuits, so a
    * task reads only that many rows), followed by a global `limit` guard.
    * Constant fit cost at any corpus size, no count() action, and the
    * sample still spans every partition — for a coarse quantizer whose
    * centroid quality saturates long before 1M samples, positional
    * uniformity-per-partition is plenty. */
  private[graft] def fitSample(corpus: DataFrame, maxFitRows: Long): DataFrame = {
    val cap = math.min(maxFitRows, Int.MaxValue.toLong).toInt
    val parts = math.max(1, corpus.rdd.getNumPartitions)
    val perPart = math.max(1, cap / parts)
    corpus
      .mapPartitions(it => it.take(perPart))(org.apache.spark.sql.Encoders.row(corpus.schema))
      .limit(cap)
  }

  /** IVF (inverted-file) ANN: a KMeans coarse quantizer assigns every corpus
    * vector to its nearest of `nCells` centroids; a query scores only the
    * vectors in its `nProbe` closest cells. The classic recall/cost dial for
    * billion-vector search: cost ~ nProbe/nCells of brute force.
    *
    * Unlike the LSH path this has a build phase: centroids are fit on a
    * bounded sample (<= `maxFitRows` rows regardless of corpus size) and
    * broadcast with the cell assignment join, so at 100 TB the fit is a
    * constant-cost step and the assignment stays a single map-side pass
    * (centroids broadcast, argmin per row).
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCells: Int = 16,
      nProbe: Int = 4,
      seed: Long = 42L,
      maxFitRows: Long = 1000000L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    val training = fitSample(corpus, maxFitRows)
      .select(array_to_vector(col(vecCol)).as("features"))
    val model = new KMeans().setK(nCells).setSeed(seed).setMaxIter(20).setFeaturesCol("features").fit(training)

    // centroid matrix as a literal: nCells x dim, broadcast inside the plan
    val cents = model.clusterCenters.map(_.toArray.map(_.toFloat))
    val centLit = array(cents.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("cell"), array(c.map(lit).toSeq: _*).as("cv"))
    }.toSeq: _*)

    // rank cells per vector by cosine to the centroid; corpus keeps 1 cell,
    // queries probe nProbe cells
    def cellRanked(df: DataFrame, id: String, v: String, keep: Int): DataFrame =
      df.select(col(idCol).as(id), col(vecCol).as(v))
        .withColumn("__cells",
          slice(
            array_sort(
              transform(centLit, c =>
                struct((-cosine_sim_float(col(v), c.getField("cv"))).as("negSim"), c.getField("cell").as("cell")))),
            1, keep))
        .select(col(id), col(v), explode(col("__cells.cell")).as("cell"))

    val cb = cellRanked(corpus, "vec_id2", "__v", 1)
    val qb = broadcast(cellRanked(queries, "query_id", "__qv", nProbe))
    val scored = cb.join(qb, Seq("cell"))
      .filter(col("vec_id2") =!= col("query_id"))
      .withColumn("sim", cosine_sim_float(col("__qv"), col("__v")))
      .select("query_id", "vec_id2", "sim")
    topKPerQuery(scored, k)
  }

  /** IVF serving path with PINNED centroids — the oracle-gateable twin of
    * [[ivfTopK]] (whose Spark-ML KMeans fit is float-reduction-order
    * nondeterministic), split exactly the way [[assignClusters]] splits
    * assignment from fit: with centroids given (a prior fit, another
    * system, config), cell ranking + probing + rerank are pure
    * deterministic plan. Cells rank by cosine ROUNDED at `roundTo` dp
    * with the lower cell id breaking ties (cross-engine-stable ordering,
    * the assignClusters discipline); centroids stay DOUBLE end to end
    * ([[graft.functions.cosine_sim_fd]]) so a SQL twin holding the same
    * doubles computes on identical values. Corpus rows keep their 1 best
    * cell; queries probe `nProbe` cells; candidates rerank by exact
    * cosine. Same shape and knobs as ivfTopK otherwise. */
  def ivfTopKPinned(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Seq[Seq[Double]],
      nProbe: Int = 4,
      roundTo: Int = 6): DataFrame = {
    require(centroids.nonEmpty, "at least one centroid required")
    require(nProbe >= 1 && nProbe <= centroids.size,
      s"nProbe must be in 1..${centroids.size}, got $nProbe")
    val centLit = array(centroids.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("cell"), array(c.map(lit): _*).as("cv"))
    }: _*)
    def cellRanked(df: DataFrame, id: String, v: String, keep: Int): DataFrame =
      df.select(col(idCol).as(id), col(vecCol).as(v))
        .withColumn("__cells",
          slice(
            array_sort(
              transform(centLit, c =>
                struct(
                  (-round(cosine_sim_fd(col(v), c.getField("cv")), roundTo))
                    .as("negSim"),
                  c.getField("cell").as("cell")))),
            1, keep))
        .select(col(id), col(v), explode(col("__cells.cell")).as("cell"))
    val cb = cellRanked(corpus, "vec_id2", "__v", 1)
    val qb = broadcast(cellRanked(queries, "query_id", "__qv", nProbe))
    val scored = cb.join(qb, Seq("cell"))
      .filter(col("vec_id2") =!= col("query_id"))
      .withColumn("sim", cosine_sim_float(col("__qv"), col("__v")))
      .select("query_id", "vec_id2", "sim")
    topKPerQuery(scored, k)
  }

  /** Scalar-quantized ANN (the SQ8 pattern from FAISS's public docs): corpus
    * vectors compress to one int8 per dimension — 4x smaller than float32
    * through memory and every shuffle — using per-dimension [min, max]
    * bounds fit on a bounded sample and baked into the plan as literals
    * (constant-cost build, nothing broadcast but the queries). Search
    * shortlists `rerank * k` candidates per query on the integer scores
    * (native top-k, bounded heaps), then re-scores ONLY the shortlist
    * exactly on the float vectors for the final k — so the full-precision
    * data is touched once per shortlisted row, not per corpus row.
    *
    * Exact-equality caveat: quantized scores order slightly differently
    * than float scores; `rerank` is the recall dial (shortlist misses are
    * the only error source — the final k are exactly ranked). */
  def quantizedTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rerank: Int = 4,
      maxFitRows: Long = 1000000L): DataFrame = {
    // per-dimension bounds from a bounded sample: dims are a fixed small
    // arity, so the collected bounds row is O(dim), not O(corpus)
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    val sample = fitSample(corpus.select(col(vecCol)), maxFitRows)
    val bounds = sample
      .select(posexplode(col(vecCol)).as(Seq("__d", "__v")))
      .groupBy(col("__d"))
      .agg(min(col("__v")).cast("double").as("__lo"), max(col("__v")).cast("double").as("__hi"))
      .collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    require(bounds.length == dim, s"expected $dim dims, sample covered ${bounds.length}")
    val lo = bounds.map(_._2).toSeq
    val hi = bounds.map(_._3).toSeq

    val q = broadcast(queries.select(
      col(idCol).as("query_id"),
      col(vecCol).as("__qv"),
      quantize_i8(col(vecCol), lo, hi).as("__qq")))
    // shortlist on int8 scores: the corpus side carries ONLY (id, bytes)
    val shortlist = Relational.topKPerKey(
      corpus
        .select(col(idCol).as("vec_id2"), quantize_i8(col(vecCol), lo, hi).as("__cq"))
        .join(q.select(col("query_id"), col("__qq")))
        .filter(col("vec_id2") =!= col("query_id"))
        .withColumn("qsim", cosine_sim_i8(col("__qq"), col("__cq")))
        .select("query_id", "vec_id2", "qsim"),
      keyCols = Seq("query_id"),
      sort = Seq("qsim" -> true, "vec_id2" -> false),
      k = rerank * k)
    // exact rerank of the shortlist only: the |queries| * rerank * k
    // shortlist broadcasts into the float-vector scan — the corpus never
    // shuffles for the rerank either
    val floats = corpus.select(col(idCol).as("vec_id2"), col(vecCol).as("__v"))
    val scored = floats
      .join(broadcast(shortlist.select("query_id", "vec_id2")), Seq("vec_id2"))
      .join(q.select(col("query_id"), col("__qv")), Seq("query_id"))
      .withColumn("sim", cosine_sim_float(col("__qv"), col("__v")))
      .select("query_id", "vec_id2", "sim")
    topKPerQuery(scored, k)
  }

  /** Product-quantization ANN (Jégou, Douze & Schmid 2011) — the
    * memory-compression member completing the ANN family (brute / LSH /
    * IVF / SQ8 / PCA): vectors split into `m` subspaces, each encoded as
    * the nearest of `codes` codewords, so an item is m small ints; query
    * scoring is ADC — a per-query (subspace, code) → partial-distance
    * LOOKUP TABLE (m·codes rows, broadcast) joined onto the exploded item
    * codes, one partial-aggregated sum per (query, item), a bounded-heap
    * shortlist, and the SQ8 exact-cosine rerank of shortlist-only rows.
    *
    * The codebook is FITTED: one k-means per subspace over a bounded
    * sample (the IVF fit discipline — constant cost at any corpus size,
    * deterministic seed), codewords then pinned to a lexicographic total
    * order so code ids are engine-independent. Codeword SPREAD is what
    * buys shortlist quality at a fixed rerank — a first-rows-by-id
    * codebook collapses when early ids cluster (the r11 verdict's
    * degenerate-quantizer defect). Every sub-distance is an exact
    * quantized-long sum and the per-subspace argmin breaks ties on the
    * lower code, so encode + ADC + shortlist replay deterministically
    * GIVEN the fitted codebook. The codebook itself is deterministic only
    * for a FIXED partitioning of `corpus`: fitSample takes each
    * partition's first rows (positional, layout-dependent) and Spark
    * KMeans reductions are float-order dependent — re-fitting under a
    * different parallelism may shift codewords and thus small-rerank
    * shortlists. Gate regime: rerank·k ≥ a large corpus fraction makes
    * the exact rerank equal brute force (the SQ8 gate precedent), immune
    * to codebook drift. */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      m: Int = 4,
      codes: Int = 16,
      rerank: Int = 8,
      seed: Long = 42L,
      maxFitRows: Long = 1000000L): DataFrame = {
    require(m >= 1 && codes >= 2, s"need m >= 1, codes >= 2; got m=$m codes=$codes")
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    // per-subspace k-means on ONE pinned bounded sample; m fits, each over
    // <= maxFitRows rows of sub doubles — a constant-cost build phase
    val sample = fitSample(corpus.select(col(vecCol)), maxFitRows).localCheckpoint(true)
    implicit val dOrd: Ordering[Double] = Ordering.Double.TotalOrdering
    import scala.math.Ordering.Implicits.seqOrdering
    // the m subspace fits are INDEPENDENT jobs over the same checkpointed
    // sample — submit them concurrently (guide §2.6: actions are only
    // sequential because driver code calls them sequentially; each fit's
    // tail otherwise leaves the cluster idle). Seeded KMeans on identical
    // data is deterministic, so concurrency cannot change a codeword.
    val cents: Array[Array[Array[Double]]] =
      Models.concurrentFits(corpus.sparkSession, "pqTopK", m) { s =>
        import org.apache.spark.ml.clustering.KMeans
        import org.apache.spark.ml.functions.array_to_vector
        val training = sample.select(
          array_to_vector(slice(col(vecCol), lit(s * sub + 1), lit(sub))).as("features"))
        // 10 iterations: the coarse codebook saturates in a handful of
        // sweeps, and each extra iteration is a scheduled Spark job per
        // subspace (m fits x iters jobs dominated q_ann_pq's 6.6 s bench).
        val model = new KMeans().setK(codes).setSeed(seed + s).setMaxIter(10)
          .setFeaturesCol("features").fit(training)
        require(model.clusterCenters.length == codes,
          s"subspace $s fit ${model.clusterCenters.length} codewords, need $codes " +
            "(corpus sample has too few distinct sub-vectors)")
        model.clusterCenters.map(_.toArray).sortBy(_.toSeq)
      }.toArray
    pqSearch(corpus, queries, idCol, vecCol, k, rerank, cents)
  }

  /** PQ encode + ADC + shortlist + exact rerank against an EXPLICIT
    * codebook `cents` (m × codes × sub) — the search half of [[pqTopK]],
    * exposed so a caller (or the recall spec) can inject externally
    * trained codewords FAISS-style. */
  private[graft] def pqSearch(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rerank: Int,
      cents: Array[Array[Array[Double]]]): DataFrame = {
    val m = cents.length
    val codes = cents.head.length
    val sub = cents.head.head.length
    // the codebook as a BROADCAST TABLE, not an inlined expression tree:
    // m·codes·sub element terms per row blow codegen up (measured 12.8 s
    // vs 1.4 s at sf0.1) — as rows, each (vector, subspace, codeword)
    // pair is ONE small zip_with fold
    val spark = corpus.sparkSession
    import spark.implicits._
    val cb = broadcast(
      (for (s <- 0 until m; c <- 0 until codes) yield (s, c, cents(s)(c).toSeq))
        .toDF("s", "c", "cv"))
    def subRows(d: DataFrame, id: String): DataFrame =
      d.select(col(id), explode(array((0 until m).map(s =>
        struct(lit(s).as("s"),
          slice(col(vecCol), lit(s * sub + 1), lit(sub)).as("sv"))): _*)).as("__e"))
        .select(col(id), col("__e.s").as("s"), col("__e.sv").as("sv"))
    val qdist = aggregate(
      zip_with(col("sv"), col("cv"), (a, b) =>
        floor((a.cast("double") - b) * (a.cast("double") - b) * 1e6 + 0.5).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val enc = subRows(corpus.select(col(idCol).as("vec_id2"), col(vecCol)), "vec_id2")
      .join(cb, "s")
      .withColumn("__d", qdist)
      .groupBy(col("vec_id2"), col("s"))
      .agg(min(struct(col("__d").as("d"), col("c").as("c"))).as("__m"))
      .select(col("vec_id2"), col("s"), col("__m.c").as("c"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val lut = subRows(queries.select(col(idCol).as("query_id"), col(vecCol)), "query_id")
      .join(cb, "s")
      .withColumn("dq", qdist)
      .select("query_id", "s", "c", "dq")
    val adc = enc.join(broadcast(lut), Seq("s", "c"))
      .filter(col("vec_id2") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id2"))
      .agg(sum(col("dq")).as("adc"))
    val shortlist = Relational.topKPerKey(adc, Seq("query_id"),
      sort = Seq("adc" -> false, "vec_id2" -> false), k = rerank * k)
    val floats = corpus.select(col(idCol).as("vec_id2"), col(vecCol).as("__v"))
    val scored = floats
      .join(broadcast(shortlist.select("query_id", "vec_id2")), Seq("vec_id2"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("sim", cosine_sim_float(col("__qv"), col("__v")))
      .select("query_id", "vec_id2", "sim")
    topKPerQuery(scored, k)
  }

  /** LSH-bucketed ANN: candidates = corpus rows sharing any of the L table
    * signatures with the query, scored exactly, top-k per query. */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      tables: Int = 4,
      bits: Int = 12): DataFrame = {
    def bucketed(df: DataFrame, id: String, v: String): DataFrame =
      df.select(
        col(idCol).as(id),
        col(vecCol).as(v),
        explode(array((0 until tables).map(t =>
          struct(lit(t).as("tbl"), lshSignature(col(vecCol), t, bits).as("sig"))): _*)).as("__b"))
        .select(col(id), col(v), col("__b.tbl").as("tbl"), col("__b.sig").as("sig"))

    val qb = broadcast(bucketed(queries, "query_id", "__qv"))
    val cb = bucketed(corpus, "vec_id2", "__v")
    val scored = cb
      .join(qb, Seq("tbl", "sig"))
      .filter(col("vec_id2") =!= col("query_id"))
      .select(col("query_id"), col("vec_id2"), col("__qv"), col("__v"))
      .dropDuplicates("query_id", "vec_id2")
      .withColumn("sim", cosine_sim_float(col("__qv"), col("__v")))
      .select("query_id", "vec_id2", "sim")
    topKPerQuery(scored, k)
  }

  /** K-means cluster ASSIGNMENT against FIXED centroids — the serving half
    * of clustering, split from the fit the way [[ivfTopK]] uses its
    * quantizer: with centroids pinned (from a prior fit, another system, or
    * config), assignment is a pure map-side projection — one native
    * squared-distance expression per centroid ([[graft.functions.l2_dist_sq]],
    * codegen'd single pass), argmin with lowest-index tie-break, zero
    * shuffle at any corpus size. Distances round at `roundTo` dp before the
    * argmin so the assignment reproduces bit-for-bit cross-engine.
    * Appends (cluster, dist_sq). */
  def assignClusters(
      df: DataFrame,
      vecCol: String,
      centroids: Seq[Seq[Double]],
      roundTo: Int = 6): DataFrame = {
    require(centroids.nonEmpty, "assignClusters needs at least one centroid")
    val k = centroids.size
    val dcols = centroids.zipWithIndex.map { case (c, i) =>
      round(l2_dist_sq(col(vecCol), typedlit(c)), roundTo).as(s"__d$i")
    }
    val withD = df.select(df.columns.map(col) ++ dcols: _*)
    val idx = (0 until k - 1).foldRight(lit(k - 1)) { (i, acc) =>
      when((i + 1 until k).map(j => col(s"__d$i") <= col(s"__d$j")).reduce(_ && _), lit(i))
        .otherwise(acc)
    }
    withD
      .withColumn("cluster", idx)
      .withColumn("dist_sq",
        (0 until k).map(i => col(s"__d$i")).reduce((a, b) => least(a, b)))
      .drop((0 until k).map(i => s"__d$i"): _*)
  }

  /** SemDeDup semantic deduplication (Abbas et al. 2023, arXiv:2303.09540)
    * — remove embedding-level near-duplicates that lexical dedup cannot
    * see (paraphrases, re-renders, translations of boilerplate): cluster
    * the embeddings, compare pairs ONLY within a cluster, and of every
    * duplicate pair keep the member FARTHER from its centroid (the
    * paper's keep-the-edge-example rule; ties break to the smaller id).
    *
    * This is the serving-style composition of [[assignClusters]] (fixed
    * centroids, the quantizer discipline of [[ivfTopK]]) + one
    * co-partitioned intra-cluster self-join — never a corpus×corpus pair
    * pass; cluster granularity bounds the join exactly as in the paper
    * (k scales with corpus size so clusters stay small). Pairwise
    * SUPPRESSION variant: a row is dropped when ANY higher-ranked row in
    * its cluster (rank = dist_sq DESC, id ASC) is within `threshold`
    * cosine — deterministic in one join, no sequential greedy scan, at
    * most over-dropping along duplicate chains (which the paper's
    * epsilon-ball variant also accepts). Cosines round at `roundTo` dp
    * before the threshold compare, so keep/drop decisions reproduce
    * bit-for-bit cross-engine and the whole pipeline SQL-oracle-gates.
    *
    * Returns the input plus (cluster, dist_sq, kept). */
  def semDeDup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[Seq[Double]],
      threshold: Double,
      roundTo: Int = 6): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0,1], got $threshold")
    val assigned = assignClusters(df, vecCol, centroids, roundTo)
    val a = assigned.select(col("cluster"), col(idCol).as("__ida"),
      col(vecCol).as("__va"), col("dist_sq").as("__dsa"))
    val b = assigned.select(col("cluster"), col(idCol).as("__idb"),
      col(vecCol).as("__vb"), col("dist_sq").as("__dsb"))
    val dropped = a.join(b, "cluster")
      .filter(col("__ida") =!= col("__idb"))
      // a outranks b: keep the example farther from the centroid
      .filter(col("__dsa") > col("__dsb") ||
        (col("__dsa") === col("__dsb") && col("__ida") < col("__idb")))
      .filter(round(cosine_sim_float(col("__va"), col("__vb")), roundTo) >= threshold)
      .select(col("__idb").as(idCol))
      .distinct()
    assigned
      .join(dropped.withColumn("__dup", lit(true)), Seq(idCol), "left")
      .withColumn("kept", col("__dup").isNull)
      .drop("__dup")
  }

  /** Integer-grid Lloyd k-means over pre-quantized scalar features — the
    * fully-EXACT clustering variant: squared distances are exact longs,
    * the argmin ties to the lowest cluster id through lexicographic
    * struct-`least`, and each centroid update re-quantizes the mean to the
    * integer grid (`floor(S/n + 0.5)` — one deterministic double op from
    * exact sums), so every iteration is bit-reproducible and a chained-CTE
    * SQL oracle replays the whole run. Float k-means can't be cross-engine
    * checked at all; on the integer grid the full algorithm hash-gates.
    *
    * Shape: `iters` driver-paced rounds (the kCenter discipline — k is
    * tiny, so each round broadcasts k centroid literals into ONE codegen'd
    * scan + partial agg; no shuffle beyond the k-row update), deterministic
    * init at the k smallest distinct feature tuples. Clusters that lose
    * all points drop out on both engines identically. Returns one row per
    * surviving cluster: (cluster, n_points, <featureCols> centroid coords,
    * inertia = exact Σ dist²). */
  def kMeansGrid(
      df: DataFrame,
      featureCols: Seq[String],
      k: Int,
      iters: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val dims = featureCols.indices
    val pts = df.select(featureCols.zipWithIndex.map { case (c, i) =>
      col(c).cast("long").as(s"__f$i")
    }: _*).localCheckpoint(true)
    val fcols = dims.map(i => col(s"__f$i"))
    var cents: Seq[(Int, Seq[Long])] = pts.distinct().orderBy(fcols: _*)
      .limit(k).collect().toSeq.zipWithIndex
      .map { case (r, i) => (i, dims.map(j => r.getLong(j))) }
    require(cents.size >= 2, s"need >= 2 distinct points, got ${cents.size}")
    def assigned: DataFrame = {
      val structs = cents.map { case (ci, cv) =>
        val d = dims.map { j =>
          (col(s"__f$j") - lit(cv(j))) * (col(s"__f$j") - lit(cv(j)))
        }.reduce(_ + _)
        struct(d.as("d"), lit(ci).as("c"))
      }
      pts.withColumn("__m", least(structs: _*))
    }
    for (_ <- 1 to iters) {
      val upd = assigned.groupBy(col("__m.c").as("cluster"))
        .agg(count(lit(1)).as("__n"),
          dims.map(j => floor(sum(col(s"__f$j")).cast("double") / count(lit(1)) + 0.5)
            .cast("long").as(s"__c$j")): _*)
        .orderBy(col("cluster"))
        .collect()
      cents = upd.toSeq.map(r =>
        (r.getInt(0), dims.map(j => r.getLong(r.fieldIndex(s"__c$j")))))
    }
    val coordRows = cents.map { case (ci, cv) => Row.fromSeq(ci +: cv) }
    val coordSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("cluster",
        org.apache.spark.sql.types.IntegerType, nullable = false) +:
        featureCols.map(c => org.apache.spark.sql.types.StructField(
          c, org.apache.spark.sql.types.LongType, nullable = false)))
    val coords = df.sparkSession.createDataFrame(
      new java.util.ArrayList[Row](coordRows.asJava), coordSchema)
    assigned
      .groupBy(col("__m.c").as("cluster"))
      .agg(count(lit(1)).as("n_points"), sum(col("__m.d")).as("inertia"))
      .join(broadcast(coords), Seq("cluster"))
      .select((Seq(col("cluster"), col("n_points")) ++
        featureCols.map(col) :+ col("inertia")): _*)
  }

  /** Retrieval-quality metrics — the eval harness that closes the ANN loop:
    * score a ranked result set (e.g. [[ivfTopK]] or [[lshTopK]] output)
    * against a relevance table and get per-query precision@k, recall@k, MRR
    * and binary NDCG@k. This is how an index build is monitored at corpus
    * scale: run the ANN path on a query sample, feed the pairs here with
    * brute-force (or labeled) truth, alert on the aggregate.
    *
    * `results` needs (queryCol, docCol, rankCol in 1..k); `truth` needs
    * (queryCol, docCol) relevant pairs. Shapes: one equi-join on
    * (query, doc), partial aggs on the query key, and a relevance-count
    * explode bounded by k for the ideal DCG — no window, no driver action,
    * every shuffle on the query key.
    *
    * Determinism: DCG terms quantize to micro-units (`floor(1e6/log2(r+1)
    * + 0.5)` as long) before summation, and NDCG divides the two exact long
    * sums — partition-order-independent and engine-portable; MRR and the
    * ratios divide exact longs. Queries with no relevant docs report
    * recall/ndcg 0. */
  def rankingMetrics(
      results: DataFrame,
      truth: DataFrame,
      queryCol: String,
      docCol: String,
      rankCol: String,
      k: Int): DataFrame = {
    val res = results
      .filter(col(rankCol) <= k)
      .select(col(queryCol).as("query_id"), col(docCol).as("__d"), col(rankCol).as("__r"))
    val rel = truth.select(col(queryCol).as("__tq"), col(docCol).as("__td"), lit(true).as("__rel"))
    val dcgTerm = floor(lit(1000000.0) / log2(col("__r").cast("double") + lit(1.0)) + lit(0.5))
      .cast("long")
    val perQuery = res
      .join(rel, col("query_id") === col("__tq") && col("__d") === col("__td"), "left")
      .groupBy(col("query_id"))
      .agg(
        sum(when(col("__rel"), 1L).otherwise(0L)).as("hits"),
        min(when(col("__rel"), col("__r"))).as("__minr"),
        sum(when(col("__rel"), dcgTerm).otherwise(0L)).as("__dcg"))
    val relCnt = rel.groupBy(col("__tq")).agg(count(lit(1)).as("n_rel"))
    val idcg = relCnt
      .select(
        col("__tq"),
        explode(sequence(lit(1), least(lit(k), col("n_rel")).cast("int"))).as("__i"))
      .groupBy(col("__tq"))
      .agg(sum(floor(lit(1000000.0) / log2(col("__i").cast("double") + lit(1.0)) + lit(0.5))
        .cast("long")).as("__idcg"))
    perQuery
      .join(relCnt, col("query_id") === relCnt("__tq"), "left")
      .join(idcg, col("query_id") === idcg("__tq"), "left")
      .select(
        col("query_id"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        col("hits"),
        round(col("hits").cast("double") / lit(k).cast("double"), 6).as("precision_at_k"),
        when(coalesce(col("n_rel"), lit(0L)) > 0L,
          round(col("hits").cast("double") / col("n_rel").cast("double"), 6))
          .otherwise(lit(0.0)).as("recall_at_k"),
        when(col("__minr").isNotNull, round(lit(1.0) / col("__minr").cast("double"), 6))
          .otherwise(lit(0.0)).as("mrr"),
        when(coalesce(col("__idcg"), lit(0L)) > 0L,
          round(col("__dcg").cast("double") / col("__idcg").cast("double"), 6))
          .otherwise(lit(0.0)).as("ndcg_at_k"))
  }

  /** k-center greedy coreset (farthest-first traversal, Gonzalez 1985) over
    * an embedding column — the diversity-sampling primitive for training-data
    * curation: pick the point farthest from everything selected so far, k
    * times; the result 2-approximates the optimal k-center cover.
    *
    * Starts from the minimum id (no RNG). Each round is ONE distributed pass
    * that updates the running min-distance against the newest centroid
    * (broadcast as an O(dim) literal — the classic incremental trick keeps
    * every round linear, not O(k·n)) and takes the argmax by an exact
    * (distance, −id) struct max. k driver-paced rounds over a cached working
    * set — the same bounded-iteration posture as the IVF fit; ties break to
    * the smaller id so the selection is deterministic under any
    * partitioning.
    *
    * Returns one row per selected center: selection order, id, and the
    * covering radius (max over points of the distance to the previously
    * selected set) at the moment of selection — radius_1 is null (nothing
    * selected yet), and the sequence is non-increasing. */
  def kCenterSample(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .persist()
    try {
      val first = base.orderBy(col("id")).limit(1)
        .collect()(0)
      var centerVec: Seq[Float] = first.getSeq[Float](1)
      val picked = scala.collection.mutable.ArrayBuffer[(Int, Long, Option[Double])](
        (1, first.getLong(0), None))
      var working = base.withColumn("d",
        l2_dist_sq(col("v"), array(centerVec.map(x => lit(x.toDouble)): _*)))
      var round = 2
      while (round <= k) {
        // argmax distance, ties to the smaller id: exact struct max
        val far = working
          .orderBy(col("d").desc, col("id").asc)
          .limit(1).collect()(0)
        picked += ((round, far.getLong(0), Some(far.getDouble(2))))
        centerVec = far.getSeq[Float](1)
        working = working.withColumn("d",
          least(col("d"),
            l2_dist_sq(col("v"), array(centerVec.map(x => lit(x.toDouble)): _*))))
        round += 1
      }
      picked.toSeq.toDF("selection_order", "id", "radius_sq")
    } finally base.unpersist()
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein, SIGIR'98)
    * of a BOUNDED candidate list: greedily pick argmax λ·rel − (1−λ)·max
    * cosine-to-selected — the diversity rerank stage after retrieval.
    *
    * MMR is inherently sequential in k, so it belongs AFTER a distributed
    * top-N cut (`maxCandidates` caps the list; the method refuses larger
    * inputs rather than silently collecting a corpus). The greedy loop runs
    * driver-side on the N candidates — the same k-bounded-fixture posture as
    * the IVF centroid fit; ties break (score, then smaller id) so the
    * selection is deterministic. */
  def mmrRerank(
      candidates: DataFrame,
      idCol: String,
      relCol: String,
      vecCol: String,
      k: Int,
      lambda: Double = 0.7,
      maxCandidates: Int = 1000): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(lambda >= 0 && lambda <= 1, s"lambda must be in [0,1], got $lambda")
    val spark = candidates.sparkSession
    import spark.implicits._
    val rows = candidates
      .select(col(idCol).cast("long").as("id"), col(relCol).cast("double").as("rel"),
        col(vecCol).as("v"))
      .limit(maxCandidates + 1).collect()
    require(rows.length <= maxCandidates,
      s"mmrRerank candidate list exceeds maxCandidates=$maxCandidates — cut top-N upstream")
    val ids = rows.map(_.getLong(0))
    val rel = rows.map(_.getDouble(1))
    val vecs = rows.map(_.getSeq[Float](2).toArray)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
    }
    val n = rows.length
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
    val chosen = new Array[Boolean](n)
    val maxSim = Array.fill(n)(0.0)
    var round = 1
    while (round <= math.min(k, n)) {
      var best = -1
      var bestScore = Double.NegativeInfinity
      var i = 0
      while (i < n) {
        if (!chosen(i)) {
          val s = if (round == 1) lambda * rel(i)
          else lambda * rel(i) - (1 - lambda) * maxSim(i)
          if (s > bestScore || (s == bestScore && (best < 0 || ids(i) < ids(best)))) {
            best = i; bestScore = s
          }
        }
        i += 1
      }
      chosen(best) = true
      selected += ((round, ids(best), bestScore))
      var j = 0
      while (j < n) {
        if (!chosen(j)) {
          val c = cos(vecs(j), vecs(best))
          if (c > maxSim(j)) maxSim(j) = c
        }
        j += 1
      }
      round += 1
    }
    selected.toSeq.toDF("selection_order", "id", "mmr_score")
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009): merge
    * N retrieval rankings into one by Σ_i 1/(k0 + rank_i), items absent from
    * a ranking contributing 0. The standard way to combine lexical (BM25)
    * and dense (cosine) retrieval without score calibration.
    *
    * Each input carries (idCol, rankCol). The fuse is a chain of full-outer
    * equi-joins on the id — rankings are top-k lists, so every join side is
    * k-bounded regardless of corpus size — and the score is one FIXED
    * left-to-right chain of IEEE double adds (an expression, not a double
    * SUM aggregate), so the fused score is bit-stable under any
    * partitioning. */
  def rrfFuse(
      rankings: Seq[DataFrame],
      idCol: String,
      rankCol: String,
      k0: Int = 60): DataFrame = {
    require(rankings.size >= 2, "rrfFuse needs at least two rankings")
    require(k0 >= 1, s"k0 must be >= 1, got $k0")
    val named = rankings.zipWithIndex.map { case (df, i) =>
      df.select(col(idCol), col(rankCol).cast("long").as(s"__rank_$i"))
    }
    val joined = named.reduce((a, b) => a.join(b, Seq(idCol), "full_outer"))
    val score = named.indices
      .map(i => coalesce(lit(1.0) / (lit(k0).cast("double") + col(s"__rank_$i").cast("double")),
        lit(0.0)))
      .reduce(_ + _)
    joined
      .withColumn("rrf_score", round(score, 9))
      .withColumn("n_lists",
        named.indices.map(i => when(col(s"__rank_$i").isNotNull, 1L).otherwise(0L)).reduce(_ + _))
      .drop(named.indices.map(i => s"__rank_$i"): _*)
  }

  /** Embedding-quality audit — simplified (centroid-based) silhouette per
    * label (Hruschka et al.'s medoid-free variant of Rousseeuw 1987): for
    * each vector, a = distance to its own label centroid, b = distance to
    * the nearest other centroid, s = (b−a)/max(a,b); reported per label
    * as the average silhouette plus the misassigned count (a > b — the
    * vectors a nearest-centroid classifier would relabel). The standard
    * "are these labels/clusters real, which classes bleed together" check
    * before training on labeled embeddings.
    *
    * Scale + determinism shape: centroids via [[meanPoolEmbeddings]]
    * (6dp-rounded, label-bounded), broadcast back in a label-bounded
    * cross join (|labels| fan-out per row, NOT d²); each distance² is an
    * exact-long fold — coordinates quantize to 1e-6 inside a zip_with so
    * the sum is order-free integer arithmetic any engine replays; a/b
    * comparisons and the min-selection happen on those exact longs; the
    * only doubles are one fixed sqrt/divide chain per vector, and the
    * per-label average re-quantizes (1e-9) before the exact integer sum. */
  def centroidSeparation(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String): DataFrame = {
    val cents = meanPoolEmbeddings(df, Seq(labelCol), vecCol)
      .select(col(labelCol).as("__clabel"), col("mean_embedding").as("__cent"))
    def q(c: Column): Column = floor(c.cast("double") * 1e6 + 0.5).cast("long")
    val d2 = aggregate(
      zip_with(col(vecCol), col("__cent"), (x, c) => {
        val t = q(x) - q(c)
        t * t
      }),
      lit(0L), (acc, t) => acc + t)
    val per = df.select(col(idCol), col(labelCol), col(vecCol))
      .crossJoin(broadcast(cents))
      .withColumn("__d2", d2)
      .groupBy(col(idCol), col(labelCol))
      .agg(
        min(when(col(labelCol) === col("__clabel"), col("__d2"))).as("__own2"),
        min(when(col(labelCol) =!= col("__clabel"), col("__d2"))).as("__oth2"))
    val a = sqrt(col("__own2").cast("double") / 1e12)
    val b = sqrt(col("__oth2").cast("double") / 1e12)
    val sil = when(greatest(a, b) > 0, (b - a) / greatest(a, b)).otherwise(lit(0.0))
    per
      .withColumn("__silq", floor(sil * 1e9 + 0.5).cast("long"))
      .withColumn("__mis", (col("__own2") > col("__oth2")).cast("long"))
      .groupBy(col(labelCol))
      .agg(
        count(lit(1)).as("n_vecs"),
        (sum(col("__silq")).cast("double") / count(lit(1)) / 1e9).as("avg_silhouette"),
        sum(col("__mis")).as("n_misassigned"))
  }

  /** PCA fit result: per-dimension means, top-k components (row-major),
    * and ALL d eigenvalues in descending order (so callers can report
    * explained-variance ratios without a second pass). */
  final case class PcaModel(
      means: Array[Double],
      components: Array[Array[Double]],
      eigenvalues: Array[Double]) {
    def explainedVariance(k: Int): Double =
      eigenvalues.take(k).sum / math.max(eigenvalues.sum, Double.MinPositiveValue)
  }

  /** Fit PCA over an `array<float>` embedding column — the dimensionality
    * reduction in front of ANN / clustering (project 64-d → 8-d, then
    * index the small vectors). ONE corpus pass through [[graft.functions.GramAgg]]
    * (count + sums + upper-tri second moments, d(d+3)/2+1 doubles total
    * crossing the shuffle), then the d×d covariance eigen-solve runs on
    * the driver via cyclic Jacobi rotations — exact for symmetric
    * matrices, microseconds at d ≤ 256. Component signs are normalized
    * (largest-|coordinate| positive) so the fit is reproducible up to
    * float-sum ordering of the Gram pass.
    *
    * This is the standard shape of every published distributed PCA
    * (covariance accumulation + small dense eigensolve); nothing
    * corpus-sized ever reaches the driver. */
  def pcaFit(df: DataFrame, vecCol: String, dim: Int, k: Int): PcaModel = {
    require(k >= 1 && k <= dim, s"need 1 <= k <= dim, got k=$k dim=$dim")
    val stats = df.agg(gram_agg(col(vecCol), dim).as("g"))
      .head().getSeq[Double](0).toArray
    val n = stats(0)
    require(n > 1, s"pcaFit needs > 1 vectors, saw ${n.toLong}")
    val mu = Array.tabulate(dim)(i => stats(1 + i) / n)
    // cov = E[xxT] − μμT (population form; the eigenvector basis is
    // identical under the n/(n−1) rescale)
    val cov = Array.ofDim[Double](dim, dim)
    var idx = 1 + dim
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val c = stats(idx) / n - mu(i) * mu(j)
        cov(i)(j) = c; cov(j)(i) = c
        idx += 1; j += 1
      }
      i += 1
    }
    val (evals, evecs) = jacobiEigen(cov)
    val order = evals.indices.sortBy(e => -evals(e))
    val comps = order.take(k).map { e =>
      val v = Array.tabulate(dim)(r => evecs(r)(e))
      // sign convention: the largest-|coordinate| entry is positive
      val pivot = v.indices.maxBy(r => (math.abs(v(r)), -r))
      if (v(pivot) < 0) v.map(-_) else v
    }.toArray
    PcaModel(mu, comps, order.map(evals).toArray)
  }

  /** Project every row onto a fitted [[PcaModel]]: scores carried as one
    * `array<double>` column `pcs`, rounded to `roundTo` dp (the fit's
    * float-sum ordering is the only nondeterminism; rounding at 6 dp
    * makes downstream results stable). The model rides in as broadcast
    * literals inside a pure scalar expression — zero shuffle. */
  def pcaProjectAll(
      df: DataFrame,
      vecCol: String,
      model: PcaModel,
      roundTo: Int = 6): DataFrame = {
    val means = lit(model.means)
    val comps = lit(model.components.flatten)
    df.withColumn("pcs",
      transform(pca_project(col(vecCol), means, comps), v => round(v, roundTo)))
  }

  /** ENGINE-REPLAYABLE PCA fit — the oracle-gateable variant of [[pcaFit]]
    * (which is bit-nondeterministic through its float-sum Gram pass):
    * every cross-engine hazard is removed so a SQL engine can replay the
    * whole fit bit-for-bit from the same parquet.
    *
    *  1. Inputs quantize to exact longs: qᵢ = floor(vᵢ·quant + 0.5) —
    *     sums and second moments are then order-invariant integer sums.
    *  2. The covariance is kept in its n²-scaled INTEGER form
    *     Cᵢⱼ = n·Σqᵢqⱼ − Σqᵢ·Σqⱼ (eigenVECTORS are invariant under the
    *     uniform n²·quant² scale; eigenvalues come back scaled and are
    *     reported as such). The long→double conversion is the single
    *     correctly-rounded op both engines share.
    *  3. The eigensolve is [[jacobiEigenReplay]]: FIXED sweep count,
    *     fixed cyclic order, rotations skipped only on exact zero —
    *     a finite, data-independent list of IEEE ops (÷, √, ×, −) that
    *     any engine replays identically from identical input doubles.
    *
    * Use [[pcaProjectReplay]] for the matching projection. `dim` counts
    * leading vector dimensions (callers truncate: a d×d Jacobi unroll is
    * O(d²·sweeps) SQL steps — keep d small when a SQL twin must replay
    * it; [[pcaFit]] remains the production path for large d). */
  def pcaFitReplay(
      df: DataFrame,
      vecCol: String,
      dim: Int,
      k: Int,
      quant: Double = 10000.0,
      sweeps: Int = 12): PcaModel = {
    require(k >= 1 && k <= dim, s"need 1 <= k <= dim, got k=$k dim=$dim")
    val qCols = (0 until dim).map(i =>
      floor(element_at(col(vecCol), i + 1).cast("double") * quant + 0.5)
        .cast("long").as(s"__q$i"))
    val aggs = Seq(count(lit(1)).as("__n")) ++
      (0 until dim).map(i => sum(col(s"__q$i")).as(s"__s$i")) ++
      (for { i <- 0 until dim; j <- i until dim }
        yield sum(col(s"__q$i") * col(s"__q$j")).as(s"__p${i}_$j"))
    val r = df.select(qCols: _*).agg(aggs.head, aggs.tail: _*).head()
    val n = r.getAs[Long]("__n")
    require(n > 1, s"pcaFitReplay needs > 1 vectors, saw $n")
    val s = Array.tabulate(dim)(i => r.getAs[Long](s"__s$i"))
    val cov = Array.ofDim[Double](dim, dim)
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val c = (n * r.getAs[Long](s"__p${i}_$j") - s(i) * s(j)).toDouble
        cov(i)(j) = c; cov(j)(i) = c
        j += 1
      }
      i += 1
    }
    val (evals, evecs) = jacobiEigenReplay(cov, sweeps)
    val order = evals.indices.sortBy(e => (-evals(e), e))
    val comps = order.take(k).map { e =>
      val v = Array.tabulate(dim)(rr => evecs(rr)(e))
      val pivot = v.indices.maxBy(rr => (math.abs(v(rr)), -rr))
      if (v(pivot) < 0.0) v.map(x => -x) else v
    }.toArray
    val means = Array.tabulate(dim)(d2 => s(d2).toDouble / n.toDouble / quant)
    PcaModel(means, comps, order.map(evals).toArray)
  }

  /** Projection matching [[pcaFitReplay]]'s portability contract: per-term
    * quantization floor((vᵢ−μᵢ)·eᵢⱼ·termQuant + 0.5) makes the dot product
    * an exact long SUM — order-free, so the score L/termQuant is identical
    * regardless of evaluation order or engine (and already exact at
    * log10(termQuant) dp, so a downstream round is the identity). Adds
    * `pcs` (array<double>, length k). Zero shuffle — the model rides as
    * literals in a codegen'd scalar projection. */
  def pcaProjectReplay(
      df: DataFrame,
      vecCol: String,
      model: PcaModel,
      termQuant: Double = 1e6): DataFrame = {
    val dim = model.means.length
    val scores = model.components.map { comp =>
      val terms = (0 until dim).map { i =>
        floor((element_at(col(vecCol), i + 1).cast("double") -
          lit(model.means(i))) * lit(comp(i)) * termQuant + 0.5).cast("long")
      }
      terms.reduce(_ + _).cast("double") / termQuant
    }
    df.withColumn("pcs", array(scores.toIndexedSeq: _*))
  }

  /** Fixed-schedule cyclic Jacobi (the replayable twin of [[jacobiEigen]]):
    * exactly `sweeps` sweeps over the cyclic (p,q) order p=0..d−2,
    * q=p+1..d−1; a rotation is skipped ONLY when a_pq == 0.0 exactly
    * (which also dodges the 0/0 θ NaN); no tolerance, no early exit.
    * Updates are functional two-phase — A₁ = A·R (columns p,q from OLD
    * A), A₂ = Rᵀ·A₁ (rows p,q from A₁) — so each new element is one
    * fixed `c·x − s·y` / `s·x + c·y` expression a SQL engine reproduces
    * term-for-term. All ops (÷, √, ×, +, −) are correctly-rounded IEEE:
    * identical input doubles ⇒ identical output bits on any conforming
    * engine. */
  private[graft] def jacobiEigenReplay(
      m: Array[Array[Double]],
      sweeps: Int): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    var a = Array.tabulate(d, d)((i, j) => m(i)(j))
    var v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sw = 0
    while (sw < sweeps) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (apq != 0.0) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val sgn = if (theta >= 0) 1.0 else -1.0
            val t = sgn / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val sn = t * c
            val a0 = a
            def a1(x: Int, y: Int): Double =
              if (y == p) c * a0(x)(p) - sn * a0(x)(q)
              else if (y == q) sn * a0(x)(p) + c * a0(x)(q)
              else a0(x)(y)
            a = Array.tabulate(d, d) { (x, y) =>
              if (x == p) c * a1(p, y) - sn * a1(q, y)
              else if (x == q) sn * a1(p, y) + c * a1(q, y)
              else a1(x, y)
            }
            val v0 = v
            v = Array.tabulate(d, d) { (x, y) =>
              if (y == p) c * v0(x)(p) - sn * v0(x)(q)
              else if (y == q) sn * v0(x)(p) + c * v0(x)(q)
              else v0(x)(y)
            }
          }
          q += 1
        }
        p += 1
      }
      sw += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Johnson–Lindenstrauss signed random projection — the DATA-OBLIVIOUS
    * dimensionality reducer beside [[pcaFit]]'s data-dependent one
    * (Achlioptas 2003: a ±1/√k matrix preserves pairwise distances within
    * 1±ε for k = O(log n / ε²), no fit pass at all): proj_j =
    * (1/√k)·Σ_i s_{ij}·v_i with signs derived from md5("i_j") top-bit —
    * an ENGINE-PORTABLE matrix (the Scala driver and any SQL engine
    * derive the identical ±1 grid), unlike the native lsh_sig path whose
    * hash is engine-specific. The k×dim sign grid rides in as broadcast
    * literals inside a pure scalar projection — zero shuffle, zero fit.
    * Per-term products quantize to floor(v_i·s·1e6+0.5) longs and sum
    * exactly, so the projection is bit-identical across engines and
    * partitionings; the final /1e6·(1/√k) is one fixed IEEE chain.
    *
    * Returns the input's id column + `proj array<double>` (length k —
    * gate queries posexplode it: arrays are not pandas-sortable). */
  def jlProject(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      k: Int): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    require(k >= 1 && k <= 64, s"k must be in 1..64, got $k")
    def sign(i: Int, j: Int): Double = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${i}_${j}".getBytes("UTF-8"))
      if ((h(0) & 0x80) == 0) 1.0 else -1.0
    }
    val scale = 1.0 / math.sqrt(k.toDouble)
    val projCols = (0 until k).map { j =>
      val signs = array((0 until dim).map(i => lit(sign(i, j))): _*)
      val qsum = aggregate(
        zip_with(col(vecCol), signs,
          (v, s) => floor(v.cast("double") * s * 1e6 + 0.5).cast("long")),
        lit(0L), (acc, x) => acc + x)
      qsum.cast("double") / 1e6 * scale
    }
    df.select(col(idCol), array(projCols: _*).as("proj"))
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix (Golub & Van
    * Loan §8.5): rotate away the largest off-diagonal elements until the
    * off-diagonal mass vanishes. Returns (eigenvalues, eigenvector
    * columns). O(d³) per sweep, a handful of sweeps — driver-side only,
    * for the d ≤ a-few-hundred covariance matrices [[pcaFit]] produces. */
  private[graft] def jacobiEigen(
      m: Array[Array[Double]],
      maxSweeps: Int = 50,
      tol: Double = 1e-12): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = Array.tabulate(d, d)((i, j) => m(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < maxSweeps && off > tol) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          off += a(p)(q) * a(p)(q)
          if (math.abs(a(p)(q)) > tol) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            // sign(0) must be +1 here or the θ=0 (45°) rotation vanishes
            val sgn = if (theta >= 0) 1.0 else -1.0
            val t = sgn / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var r = 0
            while (r < d) {
              val arp = a(r)(p); val arq = a(r)(q)
              a(r)(p) = c * arp - s * arq
              a(r)(q) = s * arp + c * arq
              r += 1
            }
            r = 0
            while (r < d) {
              val apr = a(p)(r); val aqr = a(q)(r)
              a(p)(r) = c * apr - s * aqr
              a(q)(r) = s * apr + c * aqr
              val vrp = v(r)(p); val vrq = v(r)(q)
              v(r)(p) = c * vrp - s * vrq
              v(r)(q) = s * vrp + c * vrq
              r += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Internal clustering-quality indices against FIXED integer-grid
    * centroids (the [[kMeansGrid]] fit): Calinski–Harabasz
    * (B/(k−1))/(W/(n−k)) — higher = tighter/better separated — and
    * Davies–Bouldin (1/k)Σ_c max_{c'≠c}(s_c+s_c')/d(c,c') — lower better.
    *
    * Determinism: assignment replays the exact-long struct-least argmin;
    * W and the n²·B numerator Σ n_c·Σ_j(n·c_j − S_j)² stay EXACT
    * (longs/DECIMAL(38,0)), so CH is ONE division of exact integers.
    * DB's per-point centroid distances are single IEEE sqrt's of exact
    * longs quantized to 1e-6 longs before the per-cluster mean; the
    * pairwise ratio is a fixed divide/add/sqrt chain over the k²-bounded
    * cluster table, maxima are selections, and the k maxima quantize to
    * 1e-9 longs before the final mean. Coincident centroids are excluded
    * from DB pairs (zero separation is the fit's bug, not the index's).
    *
    * Shape: one codegen'd assignment scan + partial agg; everything after
    * runs on k-row tables. Returns one row:
    * (n, k, w_ss, calinski_harabasz, davies_bouldin). */
  def clusterQuality(
      df: DataFrame,
      featureCols: Seq[String],
      centroids: Seq[(Int, Seq[Long])]): DataFrame = {
    require(centroids.size >= 2, s"need >= 2 centroids, got ${centroids.size}")
    val dims = featureCols.indices
    val pts = df.select(featureCols.zipWithIndex.map { case (c, i) =>
      col(c).cast("long").as(s"__f$i")
    }: _*)
    val structs = centroids.map { case (ci, cv) =>
      val d2 = dims.map { j =>
        (col(s"__f$j") - lit(cv(j))) * (col(s"__f$j") - lit(cv(j)))
      }.reduce(_ + _)
      struct(d2.as("d"), lit(ci).as("c"))
    }
    val assigned = pts
      .withColumn("__m", least(structs: _*))
      .select(dims.map(j => col(s"__f$j")) ++
        Seq(col("__m.c").as("__cl"), col("__m.d").as("__d")): _*)
    val per = assigned.groupBy(col("__cl"))
      .agg(
        count(lit(1)).as("__n"),
        sum(col("__d")).as("__w"),
        sum(floor(sqrt(col("__d").cast("double")) * 1e6 + 0.5).cast("long"))
          .as("__sq"))
    val glob = assigned.agg(
      count(lit(1)).as("__nt"),
      dims.map(j => sum(col(s"__f$j")).cast("decimal(38,0)").as(s"__S$j")): _*)
    def coord(j: Int): Column = centroids.tail.foldLeft(
      when(col("__cl") === centroids.head._1, lit(centroids.head._2(j)))) {
      case (acc, (ci, cv)) => acc.when(col("__cl") === ci, lit(cv(j)))
    }
    val perC = dims.foldLeft(per)((acc, j) => acc.withColumn(s"__c$j", coord(j)))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    // between-cluster scatter numerator, exact: Σ_c n_c·Σ_j(N·c_j − S_j)²
    val bTermPer = dims.map { j =>
      val t = dec(col("__nt")) * dec(col(s"__c$j")) - col(s"__S$j")
      t * t
    }.reduce(_ + _)
    val bagg = perC.crossJoin(broadcast(glob)).agg(
      max(col("__nt")).as("__ntot"),
      count(lit(1)).as("__k"),
      sum(col("__w")).as("__wss"),
      sum(dec(col("__n")) * bTermPer).as("__n2b"))
    // Davies–Bouldin over the k²-bounded pair table
    val right = perC.select(
      col("__cl").as("__cl2") +: col("__n").as("__n2") +:
        col("__sq").as("__sq2") +: dims.map(j => col(s"__c$j").as(s"__c${j}b")): _*)
    val pairs = perC.crossJoin(right).filter(col("__cl") =!= col("__cl2"))
    val dcc2 = dims.map { j =>
      (col(s"__c$j") - col(s"__c${j}b")) * (col(s"__c$j") - col(s"__c${j}b"))
    }.reduce(_ + _)
    val sA = col("__sq").cast("double") / col("__n").cast("double") / lit(1e6)
    val sB = col("__sq2").cast("double") / col("__n2").cast("double") / lit(1e6)
    val ratio = (sA + sB) / sqrt(dcc2.cast("double"))
    val dbv = pairs.filter(dcc2 > 0)
      .groupBy(col("__cl"))
      .agg(floor(max(ratio) * 1e9 + 0.5).cast("long").as("__mq"))
      .agg(sum(col("__mq")).as("__mqs"), count(lit(1)).as("__kk"))
    bagg.crossJoin(broadcast(dbv)).select(
      col("__ntot").as("n"),
      col("__k").as("k"),
      col("__wss").as("w_ss"),
      // one populated cluster (k−1 = 0) or perfect clustering (WSS = 0)
      // leaves CH undefined — report NULL, not an ANSI divide-by-zero
      round(when(col("__k") > 1 && col("__wss") > 0,
        (col("__n2b") * (dec(col("__ntot")) - dec(col("__k")))).cast("double") /
          (dec(col("__ntot")) * dec(col("__ntot")) * dec(col("__wss")) *
            (dec(col("__k")) - lit(1))).cast("double")), 6)
        .as("calinski_harabasz"),
      // all centroid pairs coincident → zero contributing clusters; report
      // NULL instead of an ANSI divide-by-zero that would kill the row
      round(when(col("__kk") > 0,
        col("__mqs").cast("double") / lit(1e9) / col("__kk").cast("double")),
        6).as("davies_bouldin"))
  }
}
