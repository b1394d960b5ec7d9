package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions._

/** Training-data deduplication operators.
  *
  * All of them follow the same scale discipline: candidate generation is a
  * key-equality join on a banded/bucketed key (one shuffle, co-partitioned),
  * never an O(n²) cartesian; verification runs only on candidate pairs.
  */
object Dedup {

  /** Exact dedup on a normalized content hash. One hash aggregate. Returns
    * one row per distinct key: the kept representative (min id) and the
    * duplicate count. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(to_binary(lower(trim(col(textCol))), lit("utf-8"))).as("content_key"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** MinHash signatures banded for LSH: explodes each doc into `bands` rows
    * keyed by (band index, hash of the band's signature slice).
    * Output: idCol, keepCols, band, band_key. Join this to itself on
    * (band, band_key) to get candidate pairs. Lazy, so a streaming frame
    * bands like a batch one.
    *
    * @param keepCols extra input columns carried through to the output —
    *                 lets a STREAMING caller keep the text next to its
    *                 band keys (a later stream-stream join-back would
    *                 need watermark state; a projection doesn't). */
  def minHashBands(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleK: Int = 3,
      keepCols: Seq[String] = Nil): DataFrame = {
    val rows = numHashes / bands
    df.select(col(idCol) +: keepCols.map(col) :+
        minhash_sig(col(textCol), numHashes, shingleK).as("__sig"): _*)
      .withColumn(
        "__band",
        explode(array((0 until bands).map(b =>
          struct(
            lit(b).as("band"),
            xxhash64(lit(b), slice(col("__sig"), b * rows + 1, rows)).as("band_key"))): _*)))
      .select(col(idCol) +: keepCols.map(col) :+
        col("__band.band").as("band") :+ col("__band.band_key").as("band_key"): _*)
  }

  /** Candidate near-duplicate pairs via MinHash LSH, verified with exact
    * n-gram Jaccard. Pairs are deduped across bands before the (expensive)
    * verification, and id1 < id2 canonical ordering halves the join output.
    * Each document is signed and banded once: the bands are pinned
    * (`localCheckpoint`, one job), and both sides of the band self-join
    * read that one result.
    *
    * @param salts >1 spreads each hot band bucket (a giant near-duplicate
    *              cluster all sharing one band_key) over `salts` reducers via
    *              [[Skew.saltedJoin]]; output is identical to salts=1. */
  def minHashLsh(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleK: Int = 3,
      jaccardThreshold: Double = 0.7,
      salts: Int = 1): DataFrame = {
    val banded = minHashBands(df, idCol, textCol, numHashes, bands, shingleK)
      .localCheckpoint(true)
    val l = banded.select(col(idCol).as("id1"), col("band"), col("band_key"))
    val r = banded.select(col(idCol).as("id2"), col("band"), col("band_key"))
    val joined =
      if (salts > 1) Skew.saltedJoin(l, r, Seq("band", "band_key"), salts)
      else l.join(r, Seq("band", "band_key"))
    val candidates = joined
      .filter(col("id1") < col("id2"))
      .select("id1", "id2")
      .distinct()
    val texts = df.select(col(idCol), col(textCol))
    candidates
      .join(texts.select(col(idCol).as("id1"), col(textCol).as("__t1")), "id1")
      .join(texts.select(col(idCol).as("id2"), col(textCol).as("__t2")), "id2")
      .withColumn("jaccard", ngram_jaccard(col("__t1"), col("__t2"), shingleK))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** End-to-end near-duplicate removal — the operator a corpus pipeline
    * actually calls: [[minHashLsh]] candidate pairs (banded, verified) →
    * [[clusters]] connected components → keep the min-id representative of
    * every cluster → anti-join the rest away. Returns `df` minus non-
    * representative near-duplicates; untouched documents pass through
    * without ever entering the (pair-sized, tiny relative to the corpus)
    * cluster computation. */
  def dropNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleK: Int = 3,
      jaccardThreshold: Double = 0.7,
      salts: Int = 1): DataFrame = {
    val pairs = minHashLsh(df, idCol, textCol, numHashes, bands, shingleK, jaccardThreshold, salts)
    val losers = clusters(pairs)
      .filter(col("id") =!= col("cluster")) // representative keeps its own label
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** SimHash per doc plus 16-bit band keys for near-dup candidate joins
    * (hamming distance <= 3 over 64 bits => at least one of 4 bands equal). */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), simhash64(col(textCol)).as("simhash"))

  def simHashCandidates(df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3): DataFrame = {
    val hashed = simHash(df, idCol, textCol)
    val banded = hashed
      .withColumn(
        "__band",
        explode(array((0 until 4).map(b =>
          struct(
            lit(b).as("band"),
            shiftright(col("simhash"), b * 16).bitwiseAND(lit(0xffffL)).as("band_key"))): _*)))
      .select(col("*"), col("__band.band").as("band"), col("__band.band_key").as("band_key"))
      .drop("__band")
    val l = banded.select(col(idCol).as("id1"), col("simhash").as("__h1"), col("band"), col("band_key"))
    val r = banded.select(col(idCol).as("id2"), col("simhash").as("__h2"), col("band"), col("band_key"))
    l.join(r, Seq("band", "band_key"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), hamming64(col("__h1"), col("__h2")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** EXACT set-similarity self-join via prefix filtering (the AllPairs /
    * PPJoin family, Bayardo et al. WWW'07) — the deterministic complement
    * of [[minHashLsh]]: zero false negatives, same join-don't-cartesian
    * scale shape. Each doc's shingle set is ordered by GLOBAL rarity
    * (document frequency ascending) and only its first
    * `|s| − ⌈t·|s|⌉ + 1` shingles — the prefix — generate candidates: two
    * sets with Jaccard ≥ t must share a prefix token under any common
    * total order, and rarest-first makes those collisions scarce on
    * Zipf-distributed corpora. Candidates then pass a length-ratio filter
    * and an exact verify that MERGES precomputed sorted shingle arrays
    * ([[graft.functions.sorted_jaccard]]) instead of re-tokenizing text
    * per pair. Every stage is a key-equality join or partial aggregate —
    * one worst-case degradation (uniform token frequencies widen the
    * candidate set toward the full token join), never a cartesian. */
  def allPairsJaccard(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleK: Int = 3): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0,1], got $threshold")
    val docs = df
      .select(col(idCol).as("id"), shingle_set(col(textCol), shingleK).as("__shs"))
      .withColumn("__len", size(col("__shs")))
      .filter(col("__len") > 0)
    val toks = docs.select(col("id"), explode(col("__shs")).as("__tok"))
    val freq = toks.groupBy(col("__tok")).agg(count(lit(1)).as("__df"))
    val prefix = toks
      .join(freq, "__tok")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("__df"), col("__tok")))).as("__o"))
      .select(
        col("id"),
        explode(slice(
          transform(col("__o"), s => s("__tok")),
          lit(1),
          (size(col("__o")) - ceil(size(col("__o")) * threshold) + 1).cast("int"))).as("__tok"))
    val cand = prefix.select(col("id").as("id1"), col("__tok"))
      .join(prefix.select(col("id").as("id2"), col("__tok")), "__tok")
      .filter(col("id1") < col("id2"))
      .select("id1", "id2")
      .distinct()
    cand
      .join(docs.select(col("id").as("id1"), col("__shs").as("__s1"), col("__len").as("__l1")), "id1")
      .join(docs.select(col("id").as("id2"), col("__shs").as("__s2"), col("__len").as("__l2")), "id2")
      .filter(least(col("__l1"), col("__l2")).cast("double") >=
        greatest(col("__l1"), col("__l2")) * threshold)
      .withColumn("jaccard", round(sorted_jaccard(col("__s1"), col("__s2")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** Exact DIRECTIONAL containment join — pairs where |S₁∩S₂|/|S₁| ≥ t,
    * i.e. document 1 is (mostly) embedded in document 2: quote detection,
    * subset-duplicate removal, the asymmetric case symmetric Jaccard
    * under-scores when sizes differ. Same prefix-filter discipline as
    * [[allPairsJaccard]] with the asymmetric pigeonhole: if the candidate
    * misses ALL of doc 1's (len − ⌈t·len⌉ + 1) rarest shingles, the
    * intersection is < t·len — zero false negatives. The probe side indexes
    * every token (containment has no symmetric prefix), so candidates are
    * prefix × full-index — df-ascending prefix ordering keeps that tight;
    * a size guard |S₂| ≥ ⌈t·|S₁|⌉ prunes before the exact merge-pass
    * verify on broadcast-free sorted-set columns.
    *
    * `maxTokenDf` (skew guard, off by default): a corpus-wide hot shingle —
    * boilerplate every document shares — would otherwise join against every
    * prefix occurrence (one candidate row per prefix×occurrence, the
    * classic hot-key fanout). With a cap, tokens whose document frequency
    * exceeds it are dropped from BOTH candidate sides via
    * [[Relational.capGroupSize]] (count + dropped rows logged). The exact
    * verify never admits false positives; the cap can only lose pairs whose
    * evidence lives entirely in capped ubiquitous shingles — which carry
    * ~zero containment signal. Leave None for the exact zero-false-negative
    * contract.
    *
    * Returns (id1, id2, containment) with id1 ≠ id2, containment at 6 dp. */
  def containmentJoin(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleK: Int = 3,
      maxTokenDf: Option[Long] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0,1], got $threshold")
    val docs = df
      .select(col(idCol).as("id"), shingle_set(col(textCol), shingleK).as("__shs"))
      .withColumn("__len", size(col("__shs")))
      .filter(col("__len") > 0)
    val toksAll = docs.select(col("id"), explode(col("__shs")).as("__tok"))
    val toks = maxTokenDf
      .map(cap => Relational.capGroupSize(toksAll, Seq("__tok"), cap))
      .getOrElse(toksAll)
    val freq = toks.groupBy(col("__tok")).agg(count(lit(1)).as("__df"))
    val prefix = toks
      .join(freq, "__tok")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("__df"), col("__tok")))).as("__o"))
      .select(
        col("id"),
        explode(slice(
          transform(col("__o"), s => s("__tok")),
          lit(1),
          (size(col("__o")) - ceil(size(col("__o")) * threshold) + 1).cast("int"))).as("__tok"))
    val cand = prefix.select(col("id").as("id1"), col("__tok"))
      .join(toks.select(col("id").as("id2"), col("__tok")), "__tok")
      .filter(col("id1") =!= col("id2"))
      .select("id1", "id2")
      .distinct()
    cand
      .join(docs.select(col("id").as("id1"), col("__shs").as("__s1"), col("__len").as("__l1")), "id1")
      .join(docs.select(col("id").as("id2"), col("__shs").as("__s2"), col("__len").as("__l2")), "id2")
      .filter(col("__l2") >= ceil(col("__l1") * threshold))
      .withColumn("containment", round(sorted_containment(col("__s1"), col("__s2")), 6))
      .filter(col("containment") >= threshold)
      .select(col("id1"), col("id2"), col("containment"))
  }

  /** Duplicate-cluster assignment: each node in the near-dup pair graph gets
    * the minimum id of its connected component — "keep doc = cluster label,
    * drop the rest", the final step of a dedup pipeline.
    *
    * Iterative min-label propagation: each round every node takes the min of
    * its own label and its neighbors' labels; path lengths halve-ish per
    * round, so chains of length L converge in <= L rounds (use maxIter >=
    * expected diameter; near-dup clusters are dense, diameters tiny). Each
    * round is one co-partitioned join + partial aggregate — the shape that
    * scales; at cluster scale insert localCheckpoint() every few rounds to
    * truncate lineage.
    *
    * CONVERGENCE CONTRACT (r10 verdict): the loop exits early once a round
    * changes nothing; if maxIter rounds pass while labels are STILL moving
    * (a long-chain graph beyond the expected diameter) this THROWS rather
    * than returning silently split clusters — the
    * [[graft.operators.Graph.connectedComponents]] precedent. Raise
    * maxIter (rounds needed ≈ diameter) or pre-contract long chains with
    * the star-contraction operator, which converges in log rounds.
    *
    * @param pairs near-duplicate edges (id1, id2)
    * @return (id, cluster) — one row per node appearing in any pair
    * @throws IllegalStateException if labels still changed in round maxIter
    */
  def clusters(pairs: DataFrame, maxIter: Int = 10): DataFrame = {
    val edges = pairs.select(col("id1"), col("id2"))
      .unionByName(pairs.select(col("id2").as("id1"), col("id1").as("id2")))
    var labels = edges
      .groupBy(col("id1").as("id"))
      .agg(min(col("id2")).as("cluster"))
      .select(col("id"), least(col("id"), col("cluster")).as("cluster"))
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val neighborLabels = edges
        .join(labels.select(col("id").as("id2"), col("cluster").as("__nl")), "id2")
        .groupBy(col("id1").as("id"))
        .agg(min(col("__nl")).as("__pl"))
      val next = labels
        .join(neighborLabels, Seq("id"), "left")
        .select(col("id"), least(col("cluster"), coalesce(col("__pl"), col("cluster"))).as("cluster"),
          (col("cluster") =!= least(col("cluster"), coalesce(col("__pl"), col("cluster")))).as("__chg"))
      // localCheckpoint truncates lineage each round — without it the plan
      // nests one level per iteration and optimization time grows
      // exponentially; on a cluster use checkpoint() to reliable storage
      val materialized = next.localCheckpoint(true)
      val changed = materialized.filter(col("__chg")).limit(1).count()
      labels = materialized.drop("__chg")
      converged = changed == 0L
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"Dedup.clusters did not converge in $maxIter rounds — labels were still " +
        "propagating (graph diameter exceeds maxIter). Raise maxIter or use " +
        "Graph.connectedComponents (star contraction, log-diameter rounds).")
    labels
  }

  /** Exact n-gram Jaccard top-k neighbors for a small broadcast query set —
    * the verification primitive, also useful standalone for "find docs most
    * similar to these". Top-k runs through the native
    * [[graft.plans.TopKPerKeyPlan]] operator: map-side bounded heaps cut
    * every partition to k rows per query before the shuffle; no sort, no
    * window. */
  def ngramJaccardTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      shingleK: Int = 3): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(textCol).as("__qt")))
    val scored = corpus
      .select(col(idCol).as("doc_id2"), col(textCol).as("__t"))
      .join(q)
      .filter(col("doc_id2") =!= col("query_id"))
      .withColumn("jaccard", ngram_jaccard(col("__qt"), col("__t"), shingleK))
      .select("query_id", "doc_id2", "jaccard")
    Relational.topKPerKey(
      scored,
      keyCols = Seq("query_id"),
      sort = Seq("jaccard" -> true, "doc_id2" -> false),
      k = k,
      rankCol = Some("rnk"))
      .select(col("query_id"), col("doc_id2").as("doc_id"), col("jaccard"), col("rnk"))
  }

  /** Cross-source duplicate FLOW matrix — the governance readout over the
    * near-dup pair set: per (source, source) pair, how many near-duplicate
    * document pairs cross that boundary and how similar they are ("which
    * crawl copies which", "is lang X flooding lang Y with re-renders").
    * Pairs come from the EXACT [[allPairsJaccard]] join (zero false
    * negatives), sources canonicalize so (a, b) and (b, a) land in one
    * cell (lexicographic order — diagonal cells are within-source
    * duplication); the mean Jaccard re-quantizes the already-6-dp pair
    * scores to exact 1e-6 longs before the cell sum (order-independent),
    * one division per cell. Output is bounded by the source domain². */
  def duplicateFlowMatrix(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      threshold: Double,
      shingleK: Int = 3): DataFrame = {
    val pairs = allPairsJaccard(df, idCol, textCol, threshold, shingleK)
    val src = df.select(col(idCol).as("__sid"), col(sourceCol).cast("string").as("__src"))
    pairs
      .join(src.select(col("__sid").as("id1"), col("__src").as("__s1")), Seq("id1"))
      .join(src.select(col("__sid").as("id2"), col("__src").as("__s2")), Seq("id2"))
      .select(
        least(col("__s1"), col("__s2")).as("source_a"),
        greatest(col("__s1"), col("__s2")).as("source_b"),
        floor(col("jaccard") * 1e6 + 0.5).cast("long").as("__jq"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(
        count(lit(1)).as("n_pairs"),
        round((sum(col("__jq")).cast("double") / 1e6) /
          count(lit(1)).cast("double"), 6).as("mean_jaccard"))
  }
}
