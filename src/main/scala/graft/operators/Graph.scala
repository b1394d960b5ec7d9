package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Iterative graph analytics as repeated co-partitioned joins — the
  * "iterate a join + partial agg to a fixed point" family
  * ([[Dedup.clusters]] is the min-label instance; this is the weighted
  * one).
  */
object Graph {

  /** Edge-count bound under which [[connectedComponents]] finishes the
    * star-contraction fixpoint with one driver-side union-find instead of
    * more distributed rounds (an absolute bound, so the escape can never
    * collect a data-sized set — graphs above it keep contracting
    * distributed until they fit). r15 (ADVICE): 2M → 500k — the
    * scheduling win saturates well below 2M, and 500k keeps the
    * primitive-encoded collect plus the union-find map comfortably under
    * ~50 MB of transient driver heap on memory-constrained drivers. */
  private val DriverFinishEdges = 500000L

  /** Fixed-iteration PageRank (Brin & Page 1998, the classic
    * `0.15 + 0.85 · Σ rank(u)/outdeg(u)` form) over a DIRECTED edge list —
    * symmetrize first for an undirected graph. Each iteration is one
    * edges⋈ranks co-partitioned join + one partial aggregate by
    * destination, with `localCheckpoint` truncating lineage per round —
    * the same scale shape as connected components, never a
    * matrix/cartesian.
    *
    * ENGINE-DETERMINISTIC by the quantized-long recipe: per-edge
    * contributions quantize to exact 1e-12ths (longs) before the
    * order-dependent sum, and each iteration's rank re-quantizes at 1e-9
    * through the identical floor(x·s + 0.5) primitive — so any engine
    * (and any partitioning) lands on bit-identical ranks, which is what
    * lets a SQL oracle replay the iteration exactly.
    *
    * @param edges    (srcCol, dstCol) rows; every node must appear as a
    *                 source at least once (no dangling-node redistribution
    *                 — symmetrized graphs satisfy this by construction)
    * @return (id, rank) — one row per node
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 5,
      damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    // one upstream evaluation: deg AND the edge fold both read e
    val e = edges.select(col(srcCol).as("__u"), col(dstCol).as("__v"))
      .localCheckpoint(true)
    val deg = e.groupBy(col("__u").as("id")).agg(count(lit(1)).as("__outdeg"))
      .localCheckpoint(true)
    // outdeg folded into the edge table ONCE — each iteration then costs a
    // single ranks join + partial agg instead of re-joining deg (and
    // re-scanning the edge source) every round
    val eDeg = e.join(deg.select(col("id").as("__u"), col("__outdeg")), "__u")
      .localCheckpoint(true)
    var ranks = deg.select(col("id"), lit(1.0).as("rank"))
    for (_ <- 1 to iterations) {
      val contribs = eDeg
        .join(ranks.withColumnRenamed("id", "__u"), "__u")
        .select(
          col("__v").as("id"),
          floor(col("rank") / col("__outdeg") * 1e12 + 0.5).cast("long").as("__cq"))
        .groupBy(col("id"))
        .agg(sum(col("__cq")).as("__s"))
      ranks = deg
        .join(contribs, Seq("id"), "left")
        .select(
          col("id"),
          (floor(
            (lit(1.0 - damping) + lit(damping) *
              (coalesce(col("__s"), lit(0L)).cast("double") / 1e12)) * 1e9 + 0.5) / 1e9)
            .as("rank"))
        .localCheckpoint(true)
    }
    ranks
  }

  /** Personalized PageRank — proximity to a SEED set instead of global
    * importance (the "related items from here" / ego-relevance ranking;
    * Jeh–Widom 2003): the teleport mass lands only on seed nodes, so rank
    * decays with graph distance from the seeds and unreachable regions
    * stay at 0. Same quantized-iteration discipline as [[pageRank]]
    * (1e-12 long contributions before the sum, 1e-9 re-quantized ranks,
    * localCheckpoint lineage truncation) with the unit-mass-per-node
    * convention: rank_i = (1−d)·[i ∈ seeds] + d·Σ contribs.
    *
    * Node universe is the SOURCE-node set (as in pageRank): pure sinks
    * accumulate no standing rank row. Seeds that are not source nodes
    * contribute nothing — document, don't crash. Every join is a
    * co-partitioned equi-join on the node key; the seed table joins once
    * into the standing node table, never per iteration. */
  def personalizedPageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      iterations: Int = 5,
      damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val e = edges.select(col(srcCol).as("__u"), col(dstCol).as("__v"))
      .localCheckpoint(true)
    val deg = e.groupBy(col("__u").as("id")).agg(count(lit(1)).as("__outdeg"))
    val eDeg = e.join(deg.select(col("id").as("__u"), col("__outdeg")), "__u")
      .localCheckpoint(true)
    val sd = seeds.select(col(seedCol).as("id")).distinct()
    val nodes = deg
      .join(sd.withColumn("__seed", lit(1)), Seq("id"), "left")
      .select(col("id"), coalesce(col("__seed"), lit(0)).as("__seed"))
      .localCheckpoint(true)
    var ranks = nodes.select(col("id"), col("__seed").cast("double").as("rank"))
    for (_ <- 1 to iterations) {
      val contribs = eDeg
        .join(ranks.withColumnRenamed("id", "__u"), "__u")
        .select(
          col("__v").as("id"),
          floor(col("rank") / col("__outdeg") * 1e12 + 0.5).cast("long").as("__cq"))
        .groupBy(col("id"))
        .agg(sum(col("__cq")).as("__s"))
      ranks = nodes
        .join(contribs, Seq("id"), "left")
        .select(
          col("id"),
          (floor(
            (lit(1.0 - damping) * col("__seed").cast("double") + lit(damping) *
              (coalesce(col("__s"), lit(0L)).cast("double") / 1e12)) * 1e9 + 0.5) / 1e9)
            .as("rank"))
        .localCheckpoint(true)
    }
    ranks
  }

  /** Per-node triangle counts over an UNDIRECTED edge list — the clustering
    * / community-density primitive (and the classic distributed-join
    * benchmark). Edges canonicalize to distinct (min, max) pairs with
    * self-loops dropped, then orient low→high by the DEGREE total order
    * ((deg, id) — the node-iterator++ / Schank–Wagner orientation): every
    * triangle {a≺b≺c} carries oriented edges a→b, a→c, b→c, so one
    * wedge join (e1.v = e2.u) plus one closing-edge join finds each
    * triangle EXACTLY once, and the wedge fan-out per node is bounded by
    * its oriented out-degree ≤ O(√m) on skewed graphs — hub nodes never
    * explode, which is what makes the shape survive a power-law graph at
    * scale. All joins are co-partitioned equi-joins on node keys.
    *
    * Returns (node, degree, n_triangles) for every node of the graph. */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val raw = edges
      .select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = raw
      .select(explode(array(col("a"), col("b"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val tri = orientedTriangles(orientEdges(raw))
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("__t"))
    deg
      .join(perNode, Seq("n"), "left")
      .select(
        col("n").as("node"),
        col("d").as("degree"),
        coalesce(col("__t"), lit(0L)).as("n_triangles"))
  }

  /** Orient a canonical distinct (a, b) edge list low→high by the
    * (degree, id) total order — the node-iterator++ / Schank–Wagner
    * orientation shared by [[triangleCounts]] and [[kTruss]]: degrees are
    * computed ON the edge list passed in (so a peeled subgraph re-orients
    * by its CURRENT degrees), and every returned edge points u→v with
    * (deg(u), u) < (deg(v), v). Oriented out-degree is ≤ O(√m), which is
    * what keeps wedge fan-out bounded on power-law graphs. */
  private[graft] def orientEdges(g: DataFrame): DataFrame = {
    val deg = g
      .select(explode(array(col("a"), col("b"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    g.join(deg.select(col("n").as("a"), col("d").as("__da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("__db")), "b")
      .select(
        when(col("__da") < col("__db") ||
          (col("__da") === col("__db") && col("a") < col("b")), col("a"))
          .otherwise(col("b")).as("u"),
        when(col("__da") < col("__db") ||
          (col("__da") === col("__db") && col("a") < col("b")), col("b"))
          .otherwise(col("a")).as("v"))
  }

  /** Enumerate every triangle of an [[orientEdges]]-oriented edge list
    * EXACTLY once as (x, y, z) with x ≺ y ≺ z in the orientation order:
    * one wedge join (x→y, y→z) whose fan-out per edge is the head's
    * oriented out-degree, plus one closing-edge join (x→z). Both are
    * co-partitioned equi-joins on node keys. */
  private[graft] def orientedTriangles(o: DataFrame): DataFrame = {
    val e1 = o.select(col("u").as("x"), col("v").as("y"))
    val e2 = o.select(col("u").as("__y"), col("v").as("z"))
    val e3 = o.select(col("u").as("__x"), col("v").as("__z"))
    e1.join(e2, col("y") === col("__y"))
      .join(e3, col("x") === col("__x") && col("z") === col("__z"))
      .select(col("x"), col("y"), col("z"))
  }

  /** One large-star round (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", MR-CC): for every node u, each STRICTLY LARGER
    * neighbor v re-links to m = min(Γ(u) ∪ {u}). One partial-agg min per
    * node + one co-partitioned join; `distinct` stops edge multiplication.
    * Emitted edges always point big→small (v > u ≥ m). */
  private def largeStar(e: DataFrame): DataFrame = {
    val nbrs = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
    val m = nbrs.groupBy("u").agg(min(col("v")).as("__mn"))
      .select(col("u"), least(col("u"), col("__mn")).as("__m"))
    nbrs.join(m, "u")
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("__m").as("v"))
      .distinct()
  }

  /** One small-star round: orient every edge big→small; for each node u its
    * smaller-or-equal neighbors N all re-link to m = min(N), and u itself
    * links to m. Together with [[largeStar]] this contracts any component
    * onto its minimum node in O(log n) alternating rounds — the property
    * that makes the loop safe on a 100 TB edge list where min-label
    * propagation's O(diameter) rounds would not be. */
  private def smallStar(e: DataFrame): DataFrame = {
    val o = e.select(
        greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .where(col("u") =!= col("v"))
    val m = o.groupBy("u").agg(min(col("v")).as("__m"))
    val fromNbrs = o.join(m, "u")
      .where(col("v") =!= col("__m"))
      .select(col("v").as("u"), col("__m").as("v"))
    fromNbrs.union(m.select(col("u"), col("__m").as("v"))).distinct()
  }

  /** Connected components over an UNDIRECTED edge list via alternating
    * large-star / small-star contraction — O(log n) rounds regardless of
    * graph diameter (a 10⁶-node chain converges in ~20 rounds where naive
    * min-label propagation needs 10⁶). Each round is two partial-agg mins +
    * two equi-joins + dedup; `localCheckpoint` truncates lineage so the
    * plan stays flat across rounds (use `checkpoint()` to reliable storage
    * on a real cluster). Convergence = the oriented edge set is stable
    * (count + order-independent hash checksum — no extra `except` shuffle).
    *
    * Returns (id, component) for EVERY node that appears in `edges`
    * (self-loop-only nodes label themselves); component = min node id of
    * the component, so labels are deterministic on any engine and any
    * partitioning.
    *
    * @throws IllegalStateException if not converged within maxIter — a
    *         correctness contract, not a best-effort return: a non-star
    *         residue would silently mislabel. */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 25,
      driverFinishEdges: Long = DriverFinishEdges): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    // checkpoint the projected input ONCE — nodes and the working edge set
    // both derive from it, and without this the caller's (possibly
    // expensive) upstream plan would evaluate twice
    val all = edges.select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .localCheckpoint(true)
    val nodes = all.select(explode(array(col("u"), col("v"))).as("id")).distinct()
    var e = all.where(col("u") =!= col("v")).distinct().localCheckpoint(true)
    // (count, xor checksum) fingerprints the edge SET cheaply; xxhash64 of
    // the pair folded with bit_xor — order-independent, ANSI-overflow-free
    // (a plain sum of full-range 64-bit hashes overflows under ANSI mode)
    def fingerprint(df: DataFrame): (Long, Long) = {
      val r = df.agg(
        count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    val diag = edges.sparkSession.conf.get("spark.graft.diag", "false").toBoolean
    var prev = fingerprint(e)
    var converged = e.isEmpty
    var iter = 0
    while (iter < maxIter && !converged) {
      // DRIVER FINISH (r14): once the contracted edge set fits a fixed
      // absolute bound (the count is free — the convergence fingerprint
      // already measures it), stop scheduling distributed star rounds and
      // close the fixpoint with one bounded union-find on the driver.
      // Star contraction shrinks most graphs to near component count in
      // 1–2 rounds, then spends the LONG TAIL of rounds (measured: 10
      // rounds of ~0.45 s pure scheduling on a 15k-edge residue at sf0.1)
      // relabeling toward the global min — exactly the regime where a
      // single task's worth of work is being paid for as cluster rounds.
      // The collect is ≤ DriverFinishEdges rows by construction (never
      // data-sized — larger graphs keep contracting distributed), and
      // min-root union-find yields the identical star forest the loop's
      // own fixpoint produces, so labels are bit-identical at any scale.
      if (prev._1 <= driverFinishEdges) {
        val t0 = System.nanoTime()
        val parent = new java.util.HashMap[Long, java.lang.Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.get(r).longValue != r) r = parent.get(r).longValue
          var c = x
          while (parent.get(c).longValue != r) {
            val n = parent.get(c).longValue; parent.put(c, r); c = n
          }
          r
        }
        // primitive tuple encoder: no GenericRow/boxed-schema overhead on
        // the bounded collect (r15 ADVICE)
        val tupleEnc = org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong)
        e.select(col("u"), col("v")).as[(Long, Long)](tupleEnc).collect().foreach { t =>
          val u = t._1; val v = t._2
          if (!parent.containsKey(u)) parent.put(u, u)
          if (!parent.containsKey(v)) parent.put(v, v)
          val ru = find(u); val rv = find(v)
          // link the larger root under the smaller: roots stay component minima
          if (ru < rv) parent.put(rv, ru)
          else if (rv < ru) parent.put(ru, rv)
        }
        val spark = edges.sparkSession
        val starRows = new scala.collection.mutable.ArrayBuffer[Row](parent.size())
        val it = parent.keySet().iterator()
        while (it.hasNext) {
          val x = it.next(); val r = find(x)
          if (r != x) starRows += Row(x, r)
        }
        val schema = StructType(Seq(
          StructField("u", LongType, nullable = false),
          StructField("v", LongType, nullable = false)))
        e = spark.createDataFrame(
          spark.sparkContext.parallelize(starRows.toSeq, 1), schema)
        converged = true
        if (diag) System.err.println(
          f"[connectedComponents] driver-finish edges=${prev._1} " +
            f"${(System.nanoTime() - t0) / 1e9}%.2f s")
      } else {
        val t0 = System.nanoTime()
        e = smallStar(largeStar(e)).localCheckpoint(true)
        val cur = fingerprint(e)
        converged = cur == prev
        prev = cur
        iter += 1
        if (diag) System.err.println(
          f"[connectedComponents] round=$iter edges=${cur._1} ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")
    // fixpoint is a star forest big→small: every non-root appears as u
    // exactly once with v = component min; roots label themselves
    nodes
      .join(e.select(col("u").as("id"), col("v").as("__c")), Seq("id"), "left")
      .select(col("id"), coalesce(col("__c"), col("id")).as("component"))
  }

  /** Multi-source BFS hop distance over an UNDIRECTED edge list, bounded at
    * `maxHops` — the k-hop ego-net / graph-proximity feature ("how far is
    * this node from the seed set"). One frontier-expansion round per hop:
    * frontier ⋈ edges → neighbors, anti-join the visited set, union into
    * the distance table — all co-partitioned equi-joins on node keys, with
    * lineage truncated per round. The hop bound is the scale contract: cost
    * is O(maxHops) rounds whatever the graph's diameter, and hop-k
    * neighborhoods are what proximity features actually consume.
    *
    * Returns (id, hops) for every node within maxHops of any seed (seeds at
    * hop 0, unreachable nodes absent). Hop distance is a well-defined
    * minimum, so the output is engine- and partitioning-deterministic. */
  def bfsHops(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val all = edges.select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
    val e = all.union(all.select(col("v").as("u"), col("u").as("v")))
      .where(col("u") =!= col("v")).distinct().localCheckpoint(true)
    var dist = seeds.select(col(seedCol).cast("long").as("id")).distinct()
      .withColumn("hops", lit(0L)).localCheckpoint(true)
    var frontier = dist.select("id")
    var h = 0L
    while (h < maxHops && !frontier.isEmpty) {
      h += 1
      val next = e.join(frontier.withColumnRenamed("id", "u"), "u")
        .select(col("v").as("id")).distinct()
        .join(dist, Seq("id"), "left_anti")
        .withColumn("hops", lit(h))
        .localCheckpoint(true)
      dist = dist.unionByName(next).localCheckpoint(true)
      frontier = next.select("id")
    }
    dist
  }

  /** Hill estimator of the degree-distribution tail exponent (Hill 1975;
    * the "is this graph power-law, how heavy is the hub tail" readout
    * that decides whether skew guards like [[graft.operators.Skew]] salting are
    * needed): α̂ = 1 + n / Σ ln(dᵢ/d_min) over nodes with degree ≥
    * d_min. Degrees are one union + partial agg over the canonicalized
    * edge list; the log sum uses the quantize-then-exact-sum discipline
    * (per-row ln rounded to 6dp, summed as DECIMAL — a double SUM would
    * be partition-order-dependent), one division at the end. Returns one
    * row: (d_min, n_tail, alpha). */
  def degreeTailAlpha(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      dMin: Long): DataFrame = {
    require(dMin >= 1, s"dMin must be >= 1, got $dMin")
    val e = edges
      .select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      .filter(col("degree") >= dMin)
    deg
      .select(
        round(log(col("degree").cast("double") / dMin), 6)
          .cast("decimal(28,6)").as("__t"))
      .agg(count(lit(1)).as("n_tail"), sum(col("__t")).as("__s"))
      .select(
        lit(dMin).as("d_min"),
        col("n_tail"),
        round(lit(1.0) + col("n_tail").cast("double") / col("__s").cast("double"), 6)
          .as("alpha"))
  }

  /** k-core peel (Seidman 1983, the Batagelj–Zaveršnik iterative form):
    * repeatedly drop nodes of degree < k until the subgraph stabilizes —
    * the standard densest-community / spam-farm screen. Runs a FIXED
    * number of peel rounds so a SQL oracle can replay the iteration
    * verbatim (the [[pageRank]] recipe); each round is one degree count
    * (union + partial agg) and two co-partitioned semi-joins, with
    * `localCheckpoint` truncating lineage. Rounds needed = the peel depth
    * of the graph, typically ≪ 10 in practice; pass a planted-converged
    * graph or raise `rounds` when exactness-at-fixpoint matters.
    *
    * Returns (node, degree) for the nodes surviving `rounds` peels, with
    * degrees measured in the surviving subgraph. Early-exits (and is then
    * exactly the k-core) when a round removes nothing. */
  def kCore(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      rounds: Int = 8): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var e = edges
      .select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(true)
    def degrees(g: DataFrame): DataFrame = g.select(col("a").as("node"))
      .unionAll(g.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    var done = false
    var r = 0
    while (r < rounds && !done) {
      r += 1
      val keep = degrees(e).filter(col("degree") >= k)
        .select(col("node")).localCheckpoint(true)
      val pruned = e
        .join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .localCheckpoint(true)
      // count() on checkpointed frames is cheap; equal counts = fixpoint
      done = pruned.count() == e.count()
      e = pruned
    }
    degrees(e)
  }

  /** Newman modularity of a community assignment over an undirected graph —
    * the "are these communities real structure" score closing the loop on
    * [[labelPropagation]]: Q = Σ_c [L_c/m − (D_c/2m)²] with L_c
    * intra-community edges, D_c community degree sum, m total edges. The
    * whole score is the EXACT rational Σ_c (4m·L_c − D_c²) / (4m²) —
    * integer counts promoted to DECIMAL(38,0) before products, one double
    * division at the end — so it hash-gates cross-engine. Shapes: edge
    * canonicalization + two label equi-joins on the node key + two partial
    * aggs on the community key; output is one row. */
  def modularity(
      edges: DataFrame,
      labels: DataFrame,
      srcCol: String,
      dstCol: String,
      nodeCol: String,
      commCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val e = edges.select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .where(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
      .distinct()
    val lab = labels.select(col(nodeCol).cast("long").as("id"), col(commCol).cast("long").as("c"))
    val withC = e
      .join(lab.select(col("id").as("a"), col("c").as("__ca")), Seq("a"))
      .join(lab.select(col("id").as("b"), col("c").as("__cb")), Seq("b"))
    val degC = withC.select(explode(array(col("__ca"), col("__cb"))).as("c"))
      .groupBy(col("c")).agg(count(lit(1)).as("__d"))
    val intra = withC.filter(col("__ca") === col("__cb"))
      .groupBy(col("__ca").as("c")).agg(count(lit(1)).as("__l"))
    val m = e.agg(count(lit(1)).as("__m"))
    degC.join(intra, Seq("c"), "left").na.fill(0L, Seq("__l"))
      .crossJoin(broadcast(m))
      .agg(
        max(col("__m")).as("m"),
        count(lit(1)).as("n_communities"),
        sum(lit(4L).cast(dec) * col("__m").cast(dec) * col("__l").cast(dec) -
          col("__d").cast(dec) * col("__d").cast(dec)).as("__num"))
      .select(
        col("m"), col("n_communities"),
        round(col("__num").cast("double") /
          (lit(4.0) * col("m").cast("double") * col("m").cast("double")), 6)
          .as("modularity"))
  }

  /** Synchronous label propagation (Raghavan–Albert–Kumara 2007) community
    * detection, made fully DETERMINISTIC: a fixed number of synchronous
    * sweeps, each node adopting its neighbors' most frequent label with
    * ties to the SMALLEST label (the paper's random visit order and random
    * tie-break are what make vanilla LPA irreproducible — pinning both
    * keeps the algorithm and makes every round replayable in plain SQL).
    * Each round is one co-partitioned edge⋈label join + a partial-agg
    * count + a per-node row_number argmax — all shuffles on the node key,
    * lineage truncated per round; rounds, not data volume, bound the
    * iteration count. Seeds are node ids; the graph is symmetrized and
    * self-loop-stripped on entry. Returns (node, community). */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      rounds: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = edges.select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .where(col("u") =!= col("v"))
    val und = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      .distinct().localCheckpoint(true)
    var labels = und.select(col("u").as("id")).distinct()
      .select(col("id"), col("id").as("label")).localCheckpoint(true)
    for (_ <- 1 to rounds) {
      // symmetrized+deduped graph ⇒ every node appears as u with >= 1
      // neighbor, so the argmax covers all nodes and no outer join is needed
      labels = und
        .join(labels.select(col("id").as("v"), col("label").as("__l")), Seq("v"))
        .groupBy(col("u"), col("__l")).agg(count(lit(1)).as("__c"))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("u")).orderBy(col("__c").desc, col("__l"))))
        .filter(col("__rn") === 1)
        .select(col("u").as("id"), col("__l").as("label"))
        .localCheckpoint(true)
    }
    labels.select(col("id").as("node"), col("label").as("community"))
  }

  /** k-truss (Cohen 2008) — the edge-grained cohesion family next to
    * [[kCore]]: the maximal subgraph in which EVERY edge closes at least
    * k−2 triangles. Peels by synchronous rounds: per round the surviving
    * subgraph is re-oriented by its current (degree, id) order, triangles
    * are enumerated once each from the bounded side
    * ([[orientedTriangles]]), and each triangle credits its three edges —
    * edges under k−2 leave, repeat. Runs a FIXED `rounds` unroll (the kCore oracle
    * discipline — replayable as chained CTEs; pick rounds ≥ the expected
    * peel depth) with an early count()-equality exit.
    *
    * All arithmetic is exact counts over canonical (min,max) edges —
    * engine-deterministic by construction. Each round is two
    * co-partitioned joins + a partial agg; localCheckpoint truncates the
    * iteration lineage.
    *
    * @return surviving edges with their final support (a, b, support) */
  def kTruss(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      rounds: Int = 4): DataFrame = {
    require(k >= 3, s"k must be >= 3, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var e = edges
      .select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(true)
    // Edge support = triangles through the edge, counted by ORIENTED
    // enumeration (r13 verdict task 2): the old unoriented wedge join
    // fanned out Σ deg per edge — a hot hub explodes quadratically on a
    // skewed graph — while enumerating each triangle once from the
    // (degree, id)-oriented side bounds wedge rows by oriented out-degree
    // ≤ O(√m). Each triangle then credits its three edges (back in
    // canonical (min, max) form); support values are identical, so the
    // SQL oracle's common-neighbor formulation is unchanged.
    def support(g: DataFrame): DataFrame =
      orientedTriangles(orientEdges(g))
        .select(explode(array(
          struct(least(col("x"), col("y")).as("a"),
            greatest(col("x"), col("y")).as("b")),
          struct(least(col("x"), col("z")).as("a"),
            greatest(col("x"), col("z")).as("b")),
          struct(least(col("y"), col("z")).as("a"),
            greatest(col("y"), col("z")).as("b")))).as("__e"))
        .select(col("__e.a").as("a"), col("__e.b").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
    var done = false
    var r = 0
    while (r < rounds && !done) {
      r += 1
      val pruned = support(e).filter(col("support") >= k - 2)
        .select(col("a"), col("b")).localCheckpoint(true)
      done = pruned.count() == e.count()
      e = pruned
    }
    // left-join the final recount back onto the surviving edge set: an edge
    // whose support fell to 0 on the pruned graph has no wedge row but IS a
    // survivor of the last completed peel round — reporting it with support
    // 0 keeps the contract "surviving edges with their final support"
    // (an inner join here would act as an extra uncontrolled peel round)
    e.join(support(e), Seq("a", "b"), "left")
      .select(col("a"), col("b"), coalesce(col("support"), lit(0L)).as("support"))
  }

  /** Degree assortativity (Newman 2002) over an UNDIRECTED edge list — do
    * hubs link to hubs (r > 0, social graphs) or to leaves (r < 0,
    * technological/star topologies)? Pearson correlation of the end-point
    * degree pairs over all directed stubs of the symmetrized graph:
    * r = (M·Σxy − Σx·Σy) / √((M·Σx² − (Σx)²)(M·Σy² − (Σy)²)).
    *
    * One degree count + one co-partitioned join back to the edges + one
    * partial aggregate. All five moments are exact integers accumulated
    * in decimal(38,0) (M·Σxy brushes 1e18 on big graphs); the statistic
    * is a fixed chain of two correctly-rounded casts, one multiply, one
    * sqrt and one division — bit-identical on any IEEE engine. Regular
    * graphs (zero degree variance) report NULL. */
  def assortativity(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val raw = edges
      .select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct().localCheckpoint(true)
    val und = raw.unionByName(raw.select(col("b").as("a"), col("a").as("b")))
    val deg = und.groupBy(col("a").as("n")).agg(count(lit(1)).as("d"))
    val stubs = und
      .join(deg.select(col("n").as("a"), col("d").as("__x")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("__y")), "b")
    def dd(c: Column): Column = c.cast("decimal(38,0)")
    val agg = stubs.agg(
      count(lit(1)).cast("decimal(38,0)").as("__m"),
      sum(dd(col("__x"))).as("__sx"),
      sum(dd(col("__y"))).as("__sy"),
      sum(dd(col("__x")) * dd(col("__x"))).as("__sxx"),
      sum(dd(col("__y")) * dd(col("__y"))).as("__syy"),
      sum(dd(col("__x")) * dd(col("__y"))).as("__sxy"))
    val num = col("__m") * col("__sxy") - col("__sx") * col("__sy")
    val d1 = col("__m") * col("__sxx") - col("__sx") * col("__sx")
    val d2 = col("__m") * col("__syy") - col("__sy") * col("__sy")
    agg.select(
      (col("__m") / 2).cast("long").as("m_edges"),
      when(d1 =!= 0 && d2 =!= 0,
        round(num.cast("double") /
          sqrt(d1.cast("double") * d2.cast("double")), 6))
        .as("assortativity"))
  }

  /** Link prediction over an UNDIRECTED edge list: for every NON-adjacent
    * node pair sharing ≥ `minCommon` neighbors, the three classic scores —
    * common-neighbor count, Jaccard cn/(deg_u + deg_v − cn), and
    * Adamic–Adar Σ_z 1/ln(deg_z) (Adamic & Adar 2003), which discounts
    * promiscuous intermediaries.
    *
    * Scale shape: one wedge self-join through the shared neighbor z — the
    * triangle-counting primitive — with z's intermediary role capped at
    * `maxDegree` (a super-hub's deg² wedge fan-out would dominate the
    * join on a power-law graph; dropping hubs as INTERMEDIARIES is the
    * standard practical bound and barely moves AA, which discounts them
    * by 1/ln(deg) anyway — end-point degrees stay exact). Existing edges
    * leave by an anti-join.
    *
    * Determinism: cn and degrees exact longs; Jaccard ONE division; each
    * AA wedge term 1/ln(deg_z) quantizes to a 1e-9 long BEFORE the
    * order-dependent sum (deg_z ≥ 2 whenever a wedge exists, so ln > 0).
    * NOTE adamic_adar is spec-pinned but NOT oracle-gated: libm vs JVM ln
    * differ by 1 ulp on real degrees, which can flip the quantization
    * floor (measured at sf0.001). resource_alloc (Zhou et al. 2009,
    * Σ 1/deg_z) carries the same discounting idea through an EXACT IEEE
    * integer division — bit-identical on any engine — and is the column
    * the cross-engine gate hashes. */
  def linkPrediction(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxDegree: Long = 1000L,
      minCommon: Long = 1L): DataFrame = {
    val raw = edges
      .select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct().localCheckpoint(true)
    val und = raw.unionByName(raw.select(col("b").as("a"), col("a").as("b")))
    val deg = und.groupBy(col("a").as("n")).agg(count(lit(1)).as("d"))
      .localCheckpoint(true)
    val mid = und
      .join(deg.select(col("n").as("a"), col("d").as("__dz")), "a")
      .filter(col("__dz") <= maxDegree)
      .select(col("a").as("z"), col("b").as("x"), col("__dz"))
    val wedges = mid
      .join(mid.select(col("z"), col("x").as("y")), "z")
      .filter(col("x") < col("y"))
    val pairs = wedges
      .groupBy(col("x"), col("y"))
      .agg(
        count(lit(1)).as("common_neighbors"),
        sum(floor(lit(1e9) / log(col("__dz").cast("double")) + 0.5)
          .cast("long")).as("__aaq"),
        sum(floor(lit(1e9) / col("__dz").cast("double") + 0.5)
          .cast("long")).as("__raq"))
      .filter(col("common_neighbors") >= minCommon)
      .join(raw, col("x") === col("a") && col("y") === col("b"), "left_anti")
    pairs
      .join(deg.select(col("n").as("x"), col("d").as("__dx")), "x")
      .join(deg.select(col("n").as("y"), col("d").as("__dy")), "y")
      .select(
        col("x").as("u"), col("y").as("v"), col("common_neighbors"),
        round(col("common_neighbors").cast("double") /
          (col("__dx") + col("__dy") - col("common_neighbors")).cast("double"),
          6).as("jaccard"),
        round(col("__aaq").cast("double") / lit(1e9), 6).as("adamic_adar"),
        round(col("__raq").cast("double") / lit(1e9), 6).as("resource_alloc"))
  }

  /** Fixed-iteration HITS hubs & authorities (Kleinberg 1999) over a
    * DIRECTED edge list: auth(v) = Σ_{u→v} hub(u), hub(u) = Σ_{u→v}
    * auth(v), each vector max-normalized per half-step. On a bipartite
    * edge list (e.g. customer→part) hubs rank the left side and
    * authorities the right.
    *
    * Same scale + determinism recipe as [[pageRank]]: each half-step is
    * one edges⋈scores co-partitioned join + partial agg with
    * localCheckpoint truncating lineage; per-edge contributions quantize
    * to exact 1e-12 longs BEFORE the order-dependent sum, and the
    * max-normalized score re-quantizes at 1e-9 through the identical
    * floor(x·s + 0.5) primitive — bit-identical on any engine/partitioning,
    * which is what lets the chained-CTE SQL oracle replay it exactly.
    *
    * @return (node, hub, authority); nodes with no outgoing (resp.
    *         incoming) edges report 0.0 for that role
    */
  def hits(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 3): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val e = edges.select(col(srcCol).as("__u"), col(dstCol).as("__v"))
      .distinct().localCheckpoint(true)
    var hubs = e.select(col("__u").as("id")).distinct()
      .select(col("id"), lit(1.0).as("hub"))
    var auths: DataFrame = null
    // the join+agg half-step (the expensive part) materializes ONCE; the
    // max then reads the node-bounded materialized table (a near-free
    // second job) and broadcasts back — no node-scale single-partition
    // window funnel, no double evaluation of the half-step chain.
    // r15 negative result: checkpointing once per ITERATION (hub half only,
    // the auth half lazy inside it with its dual consumption left to
    // runtime exchange reuse) measured +20% on every interleaved sample
    // (5.16–6.77 s vs 4.24–4.91 s at sf0.1) — the lazy half-step's subtree
    // recomputes instead of reusing, so the per-half-step checkpoint is
    // load-bearing. Kept as-is deliberately.
    def normalize(sRaw: DataFrame, out: String): DataFrame = {
      val s = sRaw.localCheckpoint(true)
      val m = s.agg(max(col("__s")).as("__m"))
      s.crossJoin(broadcast(m))
        .select(col("id"),
          (floor(col("__s").cast("double") / col("__m").cast("double")
            * 1e9 + 0.5) / 1e9).as(out))
    }
    for (_ <- 1 to iterations) {
      auths = normalize(
        e.join(hubs.withColumnRenamed("id", "__u"), "__u")
          .select(col("__v").as("id"),
            floor(col("hub") * 1e12 + 0.5).cast("long").as("__cq"))
          .groupBy(col("id")).agg(sum(col("__cq")).as("__s")),
        "authority")
      hubs = normalize(
        e.join(auths.withColumnRenamed("id", "__v"), "__v")
          .select(col("__u").as("id"),
            floor(col("authority") * 1e12 + 0.5).cast("long").as("__cq"))
          .groupBy(col("id")).agg(sum(col("__cq")).as("__s")),
        "hub")
    }
    hubs.join(auths, Seq("id"), "full_outer")
      .select(col("id").as("node"),
        coalesce(col("hub"), lit(0.0)).as("hub"),
        coalesce(col("authority"), lit(0.0)).as("authority"))
  }

  /** Pivot-sampled HARMONIC closeness centrality (Marchiori & Latora 2000
    * harmonic form; Eppstein & Wang 2001 pivot estimation; Boldi & Vigna
    * 2014 on why harmonic beats classic closeness on disconnected
    * graphs — unreached pairs contribute 0, not ∞): Ĥ(v) =
    * ((n−1)/k)·Σ_{pivots p} 1/d(p,v), hop-bounded at `maxHops` as the
    * scale contract — the "which nodes are CLOSE to everything" readout
    * completing the centrality family next to [[betweennessApprox]]'s
    * bridge detector (same pivot-BFS scaffolding, no dependency sweep).
    *
    * Determinism: levels are exact integers (each frontier is an anti-join
    * against all visited, so a node's level IS its hop distance); 1/d
    * terms quantize to 1e-9 longs before the per-node sum (≤64 pivots,
    * but partition order must not matter); top-k selection and order pin
    * on the EXACT quantized sum with node-id tiebreak. One co-partitioned
    * edges⋈frontier join + anti-join per round, lineage checkpointed. */
  def harmonicClosenessApprox(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      sources: Seq[Long],
      maxHops: Int = 3,
      topK: Int = 20): DataFrame = {
    require(sources.nonEmpty && sources.size <= 64,
      s"1..64 pivot sources required, got ${sources.size}")
    require(maxHops >= 1 && maxHops <= 6, s"maxHops must be in 1..6, got $maxHops")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val spark = edges.sparkSession
    import spark.implicits._
    val all = edges.select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
    val e = all.union(all.select(col("v").as("u"), col("u").as("v")))
      .where(col("u") =!= col("v")).distinct().localCheckpoint(true)
    val n = e.select(col("u")).distinct().count()
    var levels = sources.map(s => (s, s, 0)).toDF("src", "id", "level")
      .localCheckpoint(true)
    var frontier = levels
    for (l <- 1 to maxHops) {
      val next = frontier.join(e, col("id") === col("u"))
        .select(col("src"), col("v").as("id")).distinct()
        .join(levels.select("src", "id"), Seq("src", "id"), "left_anti")
        .withColumn("level", lit(l))
        .select("src", "id", "level")
        .localCheckpoint(true)
      levels = levels.unionByName(next).localCheckpoint(true)
      frontier = next
    }
    val scale = (n - 1).toDouble / sources.size.toDouble
    levels.filter(col("level") >= 1)
      .withColumn("__hq",
        floor(lit(1e9) / col("level").cast("double") + 0.5).cast("long"))
      .groupBy(col("id").as("node"))
      .agg(count(lit(1)).as("n_pivots_reached"), sum(col("__hq")).as("__h"))
      .orderBy(col("__h").desc, col("node"))
      .limit(topK)
      .select(col("node"), col("n_pivots_reached"),
        round(col("__h").cast("double") / 1e9, 6).as("h_raw"),
        round(col("__h").cast("double") / 1e9 * lit(scale), 6).as("h_est"))
  }

  /** k-source hop-bounded betweenness centrality (Brandes 2001 restricted
    * to a pivot set — the standard sampling estimator, Brandes & Pich
    * 2007): forward BFS from every source SIMULTANEOUSLY (frontier keyed
    * by (source, node)) accumulating exact integer shortest-path counts
    * σ, then the backward dependency sweep
    * δ(v) = Σ_{w ∈ succ(v)} σ(v)/σ(w)·(1+δ(w)) level by level, with each
    * (v,w) term quantized floor(·1e9+0.5) to a long before the per-node
    * sum — partition-invariant and replayable as level-unrolled SQL.
    * The result is the PIVOT-SET estimate truncated at `maxHops` (paths
    * longer than the bound contribute nothing — the documented
    * approximation); nodes whose dependency is identically zero only
    * surface if they sit on the deepest level.
    *
    * Scale: `maxHops` driver-paced rounds of co-partitioned equi-joins
    * (frontier × edges, anti-join visited), lineage checkpointed per
    * round; the backward sweep is the same join shape downward. Sources
    * are a bounded literal set (pivots: dozens). Top-`topK` rows by the
    * UNROUNDED exact accumulator, ties on node id. */
  def betweennessApprox(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      sources: Seq[Long],
      maxHops: Int = 3,
      topK: Int = 20): DataFrame = {
    require(sources.nonEmpty && sources.size <= 64,
      s"1..64 pivot sources required, got ${sources.size}")
    require(maxHops >= 1 && maxHops <= 6, s"maxHops must be in 1..6, got $maxHops")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val spark = edges.sparkSession
    import spark.implicits._
    val all = edges.select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
    val e = all.union(all.select(col("v").as("u"), col("u").as("v")))
      .where(col("u") =!= col("v")).distinct().localCheckpoint(true)
    var levels = sources.map(s => (s, s, 0, 1L)).toDF("src", "id", "level", "sigma")
      .localCheckpoint(true)
    var frontier = levels
    for (l <- 1 to maxHops) {
      val next = frontier.join(e, col("id") === col("u"))
        .select(col("src"), col("v").as("id"), col("sigma"))
        .join(levels.select("src", "id"), Seq("src", "id"), "left_anti")
        .groupBy(col("src"), col("id"))
        .agg(sum(col("sigma")).as("sigma"))
        .withColumn("level", lit(l))
        .select("src", "id", "level", "sigma")
        .localCheckpoint(true)
      levels = levels.unionByName(next).localCheckpoint(true)
      frontier = next
    }
    // backward dependency sweep: δ rides as 1e-9-unit longs
    var delta = levels.filter(col("level") === maxHops)
      .select(col("src"), col("id"), lit(0L).as("dq"))
      .localCheckpoint(true)
    var acc = delta
    for (lv <- (maxHops - 1) to 1 by -1) {
      val ws = levels.filter(col("level") === lv + 1)
        .select(col("src"), col("id").as("wid"), col("sigma").as("sw"))
        .join(delta.select(col("src"), col("id").as("wid"), col("dq")),
          Seq("src", "wid"), "left")
        .withColumn("dq", coalesce(col("dq"), lit(0L)))
      val vs = levels.filter(col("level") === lv)
        .select(col("src"), col("id"), col("sigma").as("sv"))
      val term = floor(
        col("sv").cast("double") / col("sw").cast("double") *
          (lit(1.0) + col("dq").cast("double") / 1e9) * 1e9 + 0.5).cast("long")
      val dl = vs.join(e, col("id") === col("u"))
        .join(ws, col("v") === col("wid") && vs("src") === ws("src"))
        .select(vs("src"), col("id"), term.as("__t"))
        .groupBy(col("src"), col("id"))
        .agg(sum(col("__t")).as("dq"))
        .localCheckpoint(true)
      acc = acc.unionByName(dl).localCheckpoint(true)
      delta = dl
    }
    acc.groupBy(col("id").as("node"))
      .agg(sum(col("dq")).as("__bq"))
      .orderBy(col("__bq").desc, col("node"))
      .limit(topK)
      .select(col("node"),
        round(col("__bq").cast("double") / 1e9, 6).as("betweenness"))
  }

  /** Borůvka minimum spanning forest (Borůvka 1926; the textbook
    * DISTRIBUTED MST — Kruskal and Prim are inherently sequential, Borůvka
    * halves the component count per round, so ⌈log₂V⌉ rounds of
    * co-partitioned joins span any graph): each round every component
    * selects its minimum outgoing edge under the TOTAL order
    * (w, a, b) — ties deterministic, and with distinct weights the MSF is
    * the unique one any algorithm finds — the selected edges join the
    * forest, and the touched components merge by running
    * [[connectedComponents]] on the COMPONENT-GRAPH of selected edges
    * (component-sized, not graph-sized).
    *
    * Scale shape per round: one edges⋈labels join pair (co-partitioned on
    * node keys), one native bounded top-k per component for the argmin,
    * CC on the contracted graph, lineage truncated by localCheckpoint.
    * Parallel edges collapse to their min weight up front. Throws (the
    * [[connectedComponents]] precedent) if cross-component edges survive
    * `maxIter` rounds — silent under-merging would return a non-spanning
    * forest. Returns the forest edge list (a, b, w), a < b. */
  def boruvkaMst(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      maxIter: Int = 20): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    val e0 = edges
      .select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"),
        col(weightCol).cast("long").as("w"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b"))
      .agg(min(col("w")).as("w"))
      .localCheckpoint(true)
    val spark = edges.sparkSession
    import spark.implicits._
    var comp = e0
      .select(explode(array(col("a"), col("b"))).as("id")).distinct()
      .withColumn("__comp", col("id"))
      .localCheckpoint(true)
    var mst = Seq.empty[(Long, Long, Long)].toDF("a", "b", "w")
    var iter = 0
    var done = false
    while (iter < maxIter && !done) {
      val ec = e0
        .join(comp.select(col("id").as("a"), col("__comp").as("__ca")), Seq("a"))
        .join(comp.select(col("id").as("b"), col("__comp").as("__cb")), Seq("b"))
        .filter(col("__ca") =!= col("__cb"))
        .localCheckpoint(false)
      if (ec.isEmpty) {
        done = true
      } else {
        val cand = ec.select(col("__ca").as("__c"), col("__ca"), col("__cb"),
            col("w"), col("a"), col("b"))
          .unionByName(ec.select(col("__cb").as("__c"), col("__ca"), col("__cb"),
            col("w"), col("a"), col("b")))
        val chosen = Relational.topKPerKey(
          cand,
          keyCols = Seq("__c"),
          sort = Seq("w" -> false, "a" -> false, "b" -> false),
          k = 1).localCheckpoint(true)
        mst = mst.unionByName(chosen.select(col("a"), col("b"), col("w")).distinct())
          .localCheckpoint(true)
        val merged = connectedComponents(
          chosen.select(col("__ca"), col("__cb")), "__ca", "__cb")
        comp = comp
          .join(merged.withColumnRenamed("id", "__comp"), Seq("__comp"), "left")
          .select(col("id"), coalesce(col("component"), col("__comp")).as("__comp"))
          .localCheckpoint(true)
        iter += 1
      }
    }
    if (!done && iter >= maxIter) {
      val remaining = e0
        .join(comp.select(col("id").as("a"), col("__comp").as("__ca")), Seq("a"))
        .join(comp.select(col("id").as("b"), col("__comp").as("__cb")), Seq("b"))
        .filter(col("__ca") =!= col("__cb"))
      if (!remaining.isEmpty)
        throw new IllegalStateException(
          s"boruvkaMst did not converge in $maxIter rounds")
    }
    mst
  }

  /** Eigenvector centrality by fixed-iteration power iteration (Bonacich
    * 1972) — the "important because your neighbors are important"
    * recursion PageRank dampens and HITS splits: x ← A·x, max-normalized
    * each round so the hub of the densest region pins to 1.0. The
    * PageRank iteration discipline exactly: per-edge contributions
    * quantize to exact 1e-12 longs before the order-dependent sum, the
    * max-norm divisor is an exact long MAX, and each round's score
    * re-quantizes at 1e-9 — partition-invariant and round-unrollable in
    * SQL. Node universe = source nodes (symmetrize for undirected, as
    * pageRank). Fixed iterations keep even the classic bipartite
    * period-2 oscillation deterministic — callers on possibly-bipartite
    * graphs should add self-loops (the standard regularization) if they
    * want the converged ranking rather than the k-step one.
    *
    * Returns (id, centrality) with max = 1.0. */
  def eigenvectorCentrality(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 5): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val e = edges.select(col(srcCol).as("__u"), col(dstCol).as("__v"))
      .localCheckpoint(true)
    val nodes = e.select(col("__u").as("id")).distinct().localCheckpoint(true)
    var x = nodes.withColumn("score", lit(1.0))
    for (_ <- 1 to iterations) {
      val contribs = e
        .join(x.withColumnRenamed("id", "__u"), "__u")
        .select(col("__v").as("id"),
          floor(col("score") * 1e12 + 0.5).cast("long").as("__cq"))
        .groupBy(col("id"))
        .agg(sum(col("__cq")).as("__s"))
      // Restrict to the node universe BEFORE taking the max-norm divisor:
      // contribs lands at the dst grain, which on a directed graph can
      // include sink-only nodes excluded from the output — a sink
      // collecting the largest contribution would otherwise absorb the
      // norm and no returned node would read 1.0, breaking the documented
      // contract (on symmetrized input every dst is a source, so this is
      // the identity there).
      val scored = nodes
        .join(contribs, Seq("id"), "left")
        .select(col("id"), coalesce(col("__s"), lit(0L)).as("__s"))
      val mx = scored.agg(max(col("__s")).as("__mx"))
      x = scored
        .crossJoin(broadcast(mx))
        .select(
          col("id"),
          when(col("__mx") > 0L,
            floor(col("__s").cast("double") /
              col("__mx").cast("double") * 1e9 + 0.5) / 1e9)
            .otherwise(lit(0.0)).as("score"))
        .localCheckpoint(true)
    }
    x.select(col("id"), col("score").as("centrality"))
  }
}