package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** JVM static helpers for the vector/similarity expressions — invoked from
  * whole-stage codegen via `StaticInvoke` (see [[graft.functions]]), so the
  * hot loops below run once per row with no boxing and no per-element
  * expression-tree evaluation.
  *
  * Replaces the previous higher-order-function formulation of the LSH
  * signature, which expanded to `bits × tables` separate array traversals
  * (each with a per-element hash expression) and dominated ANN runtime.
  */
object VectorOps {

  private[graft] def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  /** Cosine similarity of two float/double arrays, sequential left-to-right
    * accumulation (bit-compatible with the zip_with/aggregate formulation and
    * with engines that fold in index order). Arrays must be equal length. */
  def cosineSim(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Squared L2 distance between an `array<float>` vector and an
    * `array<double>` centroid — one pass, left-to-right double
    * accumulation (deterministic). */
  def l2DistSqFD(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = a.getFloat(i).toDouble - b.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  /** Cosine between an `array<float>` vector and an `array<double>`
    * centroid — the [[l2DistSqFD]] mixed-type discipline: the centroid
    * stays DOUBLE (no float-cast drift vs a SQL twin holding the same
    * doubles), left-to-right accumulation. */
  def cosineSimFD(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Rank of `v` in a SORTED double boundary array: the count of boundaries
    * strictly below `v`, by binary search — the quantile-bucket assignment
    * behind [[graft.operators.Sink.zOrderValue]]. A higher-order `aggregate`
    * fold here runs interpreted (HOFs don't codegen) and made the z-order
    * write 40x slower; this is one codegen'd O(log B) call per row. Null
    * boundaries (possible from all-null input) rank 0. */
  def rankBelow(bounds: ArrayData, v: Double): Long = {
    val n = bounds.numElements()
    var lo = 0
    var hi = n // first index with bounds(i) >= v
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (!bounds.isNullAt(mid) && bounds.getDouble(mid) < v) lo = mid + 1
      else hi = mid
    }
    lo.toLong
  }

  /** Scalar int8 quantization of a float vector: per-dimension affine map
    * of [lo_i, hi_i] onto [-128, 127], clamped. `lo`/`hi` are double arrays
    * (corpus-level bounds, passed as plan literals); a degenerate dimension
    * (hi == lo) quantizes to 0. Returns BinaryType — one byte per
    * dimension, 4x smaller than float32 through memory and shuffles. */
  def quantizeI8(vec: ArrayData, lo: ArrayData, hi: ArrayData): Array[Byte] = {
    val n = vec.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val l = lo.getDouble(i)
      val h = hi.getDouble(i)
      val x = vec.getFloat(i).toDouble
      val q =
        if (h <= l) 0.0
        else math.rint((x - l) / (h - l) * 255.0) - 128.0
      out(i) = math.max(-128.0, math.min(127.0, q)).toByte
      i += 1
    }
    out
  }

  /** Cosine similarity of two int8-quantized vectors — integer multiply-
    * accumulate (exact in Long), one traversal. The approximate score for
    * quantized shortlisting; rerank the shortlist with [[cosineSim]] on the
    * original floats. */
  def cosineSimI8(a: Array[Byte], b: Array[Byte]): Double = {
    val n = a.length
    var dot = 0L
    var na = 0L
    var nb = 0L
    var i = 0
    while (i < n) {
      val x = a(i).toLong
      val y = b(i).toLong
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0L || nb == 0L) 0.0
    else dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }

  /** Random-hyperplane LSH signature: bit b of the result is the sign of
    * dot(vec, plane_{table,b}), where plane component (table, b, dim) is a
    * deterministic ±1 derived from mix64 — the planes are implicit, so the
    * signature is a stateless one-pass function (no fit step, nothing to
    * broadcast). Single traversal of the vector for all `bits` planes. */
  def lshSig(vec: ArrayData, table: Int, bits: Int): Long = {
    val n = vec.numElements()
    val acc = new Array[Double](bits)
    var i = 0
    while (i < n) {
      val x = vec.getFloat(i).toDouble
      var b = 0
      while (b < bits) {
        val h = mix64(table.toLong * 131071L + b.toLong * 8191L + i.toLong)
        if ((h & 1L) == 0L) acc(b) += x else acc(b) -= x
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < bits) {
      if (acc(b) >= 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** Theil–Sen kernel over one CAP-BOUNDED group's collected (x, y) long
    * points: `[n_pairs, lower-median slope]`, empty when no distinct-x pair
    * exists. Replaces the pair-explosion formulation (an O(k²)-row join +
    * rank window shuffling every pair) with O(k²) arithmetic inside one
    * row — the slope multiset is order-independent, so the collected
    * array's order does not matter, and the selected element is the same
    * bit-exact division either way. */
  def theilSenMedian(pts: ArrayData): ArrayData = {
    val n = pts.numElements()
    val slopes = new Array[Double](n * (n - 1) / 2)
    var m = 0
    var i = 0
    while (i < n) {
      val pi = pts.getStruct(i, 2)
      val xi = pi.getLong(0); val yi = pi.getLong(1)
      var j = i + 1
      while (j < n) {
        val pj = pts.getStruct(j, 2)
        val dx = pj.getLong(0) - xi
        if (dx != 0) { slopes(m) = (pj.getLong(1) - yi).toDouble / dx; m += 1 }
        j += 1
      }
      i += 1
    }
    if (m == 0) new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Double])
    else {
      java.util.Arrays.sort(slopes, 0, m)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array(m.toDouble, slopes((m + 1) / 2 - 1)))
    }
  }

  /** Pool-adjacent-violators isotonic fit over one bounded group's
    * collected (x, y) long points (Ayer et al. 1955; the classifier-
    * calibration / monotone-trend primitive). Points sort by x with
    * duplicate x pooled first, then adjacent blocks merge while a left
    * block's mean exceeds the right's — ALL comparisons on exact
    * cross-multiplied longs; each distinct x emits exactly one
    * correctly-rounded sum/weight division, so the fit is bit-stable
    * under any partitioning or input order. Returns the flat
    * [x₀, fit₀, x₁, fit₁, …] doubles array over distinct x ascending. */
  def pavFit(pts: ArrayData): ArrayData = {
    val n = pts.numElements()
    val xs = new Array[Long](n); val ys = new Array[Long](n)
    var i = 0
    while (i < n) {
      val p = pts.getStruct(i, 2)
      xs(i) = p.getLong(0); ys(i) = p.getLong(1)
      i += 1
    }
    val idx = (0 until n).sortBy(k => (xs(k), ys(k)))
    // pool duplicate x into (x, ysum, weight) blocks
    val bx = new Array[Long](n); val bs = new Array[Long](n); val bw = new Array[Long](n)
    var m = -1
    idx.foreach { k =>
      if (m >= 0 && bx(m) == xs(k)) { bs(m) += ys(k); bw(m) += 1L }
      else { m += 1; bx(m) = xs(k); bs(m) = ys(k); bw(m) = 1L }
    }
    val nb = m + 1
    // PAV stack: (ysum, weight, span-end exclusive in block order)
    val ss = new Array[Long](nb); val sw = new Array[Long](nb); val se = new Array[Int](nb)
    var top = -1
    var b = 0
    while (b < nb) {
      top += 1; ss(top) = bs(b); sw(top) = bw(b); se(top) = b + 1
      // merge while mean(top-1) > mean(top): s1/w1 > s2/w2 ⟺ s1·w2 > s2·w1
      while (top > 0 && ss(top - 1) * sw(top) > ss(top) * sw(top - 1)) {
        ss(top - 1) += ss(top); sw(top - 1) += sw(top); se(top - 1) = se(top)
        top -= 1
      }
      b += 1
    }
    val out = new Array[Double](2 * nb)
    var s = 0
    var blk = 0
    while (blk <= top) {
      val fit = ss(blk).toDouble / sw(blk).toDouble
      while (s < se(blk)) { out(2 * s) = bx(s).toDouble; out(2 * s + 1) = fit; s += 1 }
      blk += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013) of
    * one bounded series' collected (x, y) long points to `threshold`
    * points: endpoints always kept, each interior bucket contributes the
    * point forming the largest triangle with the previously selected
    * point and the next bucket's centroid — the visually-lossless
    * downsampler dashboards standardize on (spikes survive where
    * avg/sample would erase them). Sequential by definition (each pick
    * depends on the previous), hence a per-series kernel, not SQL; input
    * sorts by (x, y) internally so collection order never matters.
    * Returns the flat [x₀, y₀, x₁, y₁, …] doubles of kept points. */
  def lttb(pts: ArrayData, threshold: Int): ArrayData = {
    val n = pts.numElements()
    val xs = new Array[Long](n); val ys = new Array[Long](n)
    var i = 0
    while (i < n) {
      val p = pts.getStruct(i, 2)
      xs(i) = p.getLong(0); ys(i) = p.getLong(1)
      i += 1
    }
    val idx = (0 until n).sortBy(k => (xs(k), ys(k))).toArray
    def out(sel: Seq[Int]): ArrayData = {
      val o = new Array[Double](2 * sel.length)
      sel.zipWithIndex.foreach { case (k, j) =>
        o(2 * j) = xs(idx(k)).toDouble; o(2 * j + 1) = ys(idx(k)).toDouble
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(o)
    }
    if (threshold >= n || threshold < 3) return out(0 until n)
    val every = (n - 2).toDouble / (threshold - 2)
    val sel = new Array[Int](threshold)
    sel(0) = 0
    var a = 0
    var b = 0
    while (b < threshold - 2) {
      val start = math.floor(b * every).toInt + 1
      val end = math.min(math.floor((b + 1) * every).toInt + 1, n - 1)
      val nStart = end
      val nEnd = math.min(math.floor((b + 2) * every).toInt + 1, n)
      var avgX = 0.0; var avgY = 0.0
      var j = nStart
      while (j < nEnd) { avgX += xs(idx(j)); avgY += ys(idx(j)); j += 1 }
      val cnt = math.max(nEnd - nStart, 1)
      avgX /= cnt; avgY /= cnt
      val ax = xs(idx(a)).toDouble; val ay = ys(idx(a)).toDouble
      var best = -1.0
      var bestJ = start
      j = start
      while (j < end) {
        val area = math.abs(
          (ax - avgX) * (ys(idx(j)) - ay) - (ax - xs(idx(j))) * (avgY - ay))
        if (area > best) { best = area; bestJ = j }
        j += 1
      }
      sel(b + 1) = bestJ
      a = bestJ
      b += 1
    }
    sel(threshold - 1) = n - 1
    out(sel.toSeq)
  }

  /** Project a float vector onto PCA components: y_c = Σ_i V[c][i]·(x_i −
    * μ_i), with `comps` the k×d component matrix flattened row-major.
    * One fused pass per output coordinate; the fit arrays ride in as
    * broadcast literals so this stays a pure scalar expression. */
  def pcaProject(vec: ArrayData, means: ArrayData, comps: ArrayData): ArrayData = {
    val d = means.numElements()
    val k = comps.numElements() / d
    val centered = new Array[Double](d)
    var i = 0
    while (i < d) { centered(i) = vec.getFloat(i).toDouble - means.getDouble(i); i += 1 }
    val out = new Array[Double](k)
    var c = 0
    while (c < k) {
      var acc = 0.0
      var j = 0
      while (j < d) { acc += comps.getDouble(c * d + j) * centered(j); j += 1 }
      out(c) = acc
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Durbin–Levinson partial autocorrelations from [ρ₁..ρₘ]: each step k
    * solves the order-k Yule–Walker system from the order-(k−1) solution;
    * pacf(k) = φ_{k,k}. Sequential over lags by definition (each order
    * reuses the previous coefficient vector), hence a per-series kernel —
    * but m is the CALLER-BOUNDED lag cap, so the in-row cost is O(m²)
    * regardless of series length. A degenerate denominator yields 0. */
  def pacf(rhos: ArrayData): ArrayData = {
    val m = rhos.numElements()
    val rho = Array.tabulate(m)(i => rhos.getDouble(i))
    val out = new Array[Double](m)
    if (m > 0) {
      var phi = Array(rho(0))
      out(0) = rho(0)
      var k = 2
      while (k <= m) {
        var num = rho(k - 1)
        var den = 1.0
        var j = 0
        while (j < k - 1) {
          num -= phi(j) * rho(k - 2 - j)
          den -= phi(j) * rho(j)
          j += 1
        }
        val pk = if (den == 0.0) 0.0 else num / den
        val next = new Array[Double](k)
        j = 0
        while (j < k - 1) { next(j) = phi(j) - pk * phi(k - 2 - j); j += 1 }
        next(k - 1) = pk
        out(k - 1) = pk
        phi = next
        k += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Dynamic-time-warping distance between two bounded INTEGER series
    * (Sakoe & Chiba 1978, unconstrained band, |·| local cost): the classic
    * O(n·m) two-row DP, entirely in exact long arithmetic — integer costs
    * and integer path sums make the distance EXACT, which is what lets a
    * statically-unrolled SQL oracle replay the recurrence. Returns −1 when
    * either series is empty. */
  def dtwDistance(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements(); val m = b.numElements()
    if (n == 0 || m == 0) return -1L
    val prev = new Array[Long](m)
    val cur = new Array[Long](m)
    var j = 0
    var acc = 0L
    while (j < m) { // first row: only left moves
      acc += math.abs(a.getLong(0) - b.getLong(j)); prev(j) = acc; j += 1
    }
    var i = 1
    while (i < n) {
      val ai = a.getLong(i)
      cur(0) = prev(0) + math.abs(ai - b.getLong(0))
      j = 1
      while (j < m) {
        val best = math.min(prev(j), math.min(cur(j - 1), prev(j - 1)))
        cur(j) = best + math.abs(ai - b.getLong(j))
        j += 1
      }
      System.arraycopy(cur, 0, prev, 0, m)
      i += 1
    }
    prev(m - 1)
  }

  /** Elo rating fold over one collected match list (Elo 1978; the kernel
    * is inherently sequential — every update reads the CURRENT ratings of
    * both players, so it runs as an in-row fold over the bounded match
    * list, the Theil–Sen collected-kernel discipline). Matches are
    * structs (ord long, winner string, loser string) sorted internally by
    * (ord, winner, loser) so collection order never matters; expected
    * score uses exp with ln10 as an EMBEDDED literal (the time-decay
    * precedent — pow(10, x) is libm-divergent across engines, exp is not)
    * and each updated rating re-quantizes to the 1e-6 grid, so a
    * recursive-CTE oracle replays every step bit-for-bit. Returns
    * array<struct<player, rating, games>> sorted by player. */
  def eloRatings(matches: ArrayData, kFactor: Double, initial: Double): ArrayData = {
    val n = matches.numElements()
    val arr = new Array[(Long, String, String)](n)
    var i = 0
    while (i < n) {
      val s = matches.getStruct(i, 3)
      arr(i) = (s.getLong(0), s.getUTF8String(1).toString, s.getUTF8String(2).toString)
      i += 1
    }
    val sorted = arr.sortBy(t => (t._1, t._2, t._3))
    val ratings = scala.collection.mutable.HashMap.empty[String, Double]
    val games = scala.collection.mutable.HashMap.empty[String, Int]
    val L10 = 2.302585092994046
    sorted.foreach { case (_, w, l) =>
      val ra = ratings.getOrElse(w, initial)
      val rb = ratings.getOrElse(l, initial)
      val ea = 1.0 / (1.0 + math.exp(L10 * ((rb - ra) / 400.0)))
      val delta = kFactor * (1.0 - ea)
      ratings(w) = math.floor((ra + delta) * 1e6 + 0.5) / 1e6
      ratings(l) = math.floor((rb - delta) * 1e6 + 0.5) / 1e6
      games(w) = games.getOrElse(w, 0) + 1
      games(l) = games.getOrElse(l, 0) + 1
    }
    val out: Array[Any] = ratings.keys.toArray.sorted.map { p =>
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](
          org.apache.spark.unsafe.types.UTF8String.fromString(p),
          ratings(p),
          games(p)))
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}
