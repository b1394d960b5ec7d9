package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** JVM static helpers behind graft's native Catalyst expressions.
  *
  * Every method is a pure function over `UTF8String`/primitives so it can be
  * invoked from whole-stage codegen via `StaticInvoke` (the generated code
  * calls the static forwarders on this object's class) — no UDF boxing, no
  * serialization, null handling done by the expression layer
  * (`propagateNull = true`).
  *
  * Behavioral reference (what, not how):
  *  - normalize: /root/reference/update_pnls_report/utils.py:546 `normalize_text`
  *  - tokenSetRatio: /root/reference/update_pnls_report/utils.py:434
  *    `find_best_match` (fuzzywuzzy token_set_ratio; re-implemented from the
  *    publicly documented rapidfuzz formulation: normalized InDel similarity
  *    over token-set combinations)
  *  - simhash/minhash/fingerprints: standard public algorithms (Charikar
  *    SimHash; Broder MinHash; Schleimer et al. winnowing) used for the
  *    training-data dedup operators.
  */
object TextOps {

  private val CleanPattern = "[^\\w\\s-]".r

  /** NFD-normalize, strip combining accents, drop non `[\w\s-]`, trim,
    * remove "public", '-' -> ' ', lowercase. Mirrors the reference's
    * `normalize_text` semantics exactly (including its quirky
    * replace-then-lower ordering). */
  def normalize(s: UTF8String): UTF8String = {
    val input = s.toString
    val nfd = Normalizer.normalize(input, Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(nfd.length)
    var i = 0
    while (i < nfd.length) {
      val c = nfd.charAt(i)
      if (Character.getType(c) != Character.NON_SPACING_MARK) sb.append(c)
      i += 1
    }
    val cleaned = CleanPattern.replaceAllIn(sb.toString, "")
    UTF8String.fromString(
      cleaned.trim.replace("public", "").replace("-", " ").toLowerCase)
  }

  // ---------------------------------------------------------------- uuid5

  /** RFC 4122 name-based (version 5, SHA-1) UUID — byte-compatible with
    * `uuid.uuid5(namespace, name)` (behavior of reference
    * utils.py:420-431 `generate_org_unit_uuid`): SHA-1 over the namespace
    * UUID's 16 big-endian bytes followed by the UTF-8 name, truncated to 16
    * bytes with the version nibble forced to 5 and the variant bits to 10.
    *
    * @param namespace the namespace UUID in canonical hex-dash form (e.g.
    *                  [[NamespaceDns]])
    */
  def uuid5(namespace: UTF8String, name: UTF8String): UTF8String = {
    val nsHex = namespace.toString.replace("-", "")
    require(nsHex.length == 32, s"namespace must be a UUID, got $namespace")
    val md = Sha1Local.get()
    md.reset()
    var i = 0
    while (i < 32) {
      md.update(((hexVal(nsHex.charAt(i)) << 4) | hexVal(nsHex.charAt(i + 1))).toByte)
      i += 2
    }
    md.update(name.getBytes)
    val d = md.digest()
    d(6) = ((d(6) & 0x0f) | 0x50).toByte // version 5
    d(8) = ((d(8) & 0x3f) | 0x80).toByte // RFC 4122 variant
    val sb = new java.lang.StringBuilder(36)
    i = 0
    while (i < 16) {
      if (i == 4 || i == 6 || i == 8 || i == 10) sb.append('-')
      sb.append(Character.forDigit((d(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(d(i) & 0xf, 16))
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** [[uuid5]] without hyphens — character-identical to the reference's
    * `str(uuid.uuid5(...)).replace('-','')` (utils.py:431
    * `generate_org_unit_uuid`), so ids from either engine join directly. */
  def uuid5Compact(namespace: UTF8String, name: UTF8String): UTF8String = {
    val canonical = uuid5(namespace, name).toString
    UTF8String.fromString(canonical.replace("-", ""))
  }

  /** RFC 4122 Appendix C DNS namespace — `uuid.NAMESPACE_DNS`. */
  val NamespaceDns = "6ba7b810-9dad-11d1-80b4-00c04fd430c8"

  private def hexVal(c: Char): Int = {
    val v = Character.digit(c, 16)
    require(v >= 0, s"namespace must be a hex UUID, got non-hex character '$c'")
    v
  }

  private object Sha1Local extends ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("SHA-1")
  }

  // ---------------------------------------------------------------- fuzzy

  /** Indel distance (Levenshtein with substitution cost 2) — the distance
    * underlying rapidfuzz's `ratio`. Equivalent to |a|+|b| - 2*LCS(a,b). */
  private def indelDistance(a: String, b: String): Int = {
    if (a.isEmpty) return b.length
    if (b.isEmpty) return a.length
    // LCS via single-row DP.
    val m = b.length
    val row = new Array[Int](m + 1)
    var i = 0
    while (i < a.length) {
      var prev = 0 // row(j) from previous i at j-1
      val ca = a.charAt(i)
      var j = 0
      while (j < m) {
        val cur = row(j + 1)
        row(j + 1) =
          if (ca == b.charAt(j)) prev + 1
          else math.max(row(j + 1), row(j))
        prev = cur
        j += 1
      }
      i += 1
    }
    a.length + b.length - 2 * row(m)
  }

  private def indelRatio(a: String, b: String): Double = {
    val total = a.length + b.length
    if (total == 0) 1.0
    else 1.0 - indelDistance(a, b).toDouble / total
  }

  /** token_set_ratio in [0, 100]: sort-unique tokens of both sides, compare
    * (intersection) vs (intersection + diffs) combinations, take the max
    * normalized InDel similarity. */
  def tokenSetRatio(left: UTF8String, right: UTF8String): Int = {
    import scala.collection.immutable.SortedSet
    val ta = SortedSet.from(left.toString.toLowerCase.split("\\s+").filter(_.nonEmpty))
    val tb = SortedSet.from(right.toString.toLowerCase.split("\\s+").filter(_.nonEmpty))
    val inter = ta.intersect(tb)
    val diffA = ta.diff(tb)
    val diffB = tb.diff(ta)
    val t0 = inter.mkString(" ")
    val t1 = (if (t0.isEmpty) "" else t0 + (if (diffA.nonEmpty) " " else "")) + diffA.mkString(" ")
    val t2 = (if (t0.isEmpty) "" else t0 + (if (diffB.nonEmpty) " " else "")) + diffB.mkString(" ")
    if (inter.isEmpty && (diffA.isEmpty || diffB.isEmpty)) {
      // one side empty after tokenization
      if (diffA.isEmpty && diffB.isEmpty) return 100
    }
    val best = math.max(indelRatio(t0, t1), math.max(indelRatio(t0, t2), indelRatio(t1, t2)))
    math.round(best * 100).toInt
  }

  // ------------------------------------------------------------- mojibake

  /** Inverse "sloppy windows-1252" map: the 27 printable cp1252 specials
    * back to their byte; chars <= 0xFF map to their own byte (latin-1
    * fallback for the undefined 0x80–0x9F slots) — the union decoding ftfy
    * documents as sloppy-windows-1252, covering text mangled through EITHER
    * charset. */
  private val Cp1252Inverse: Map[Char, Int] = Map(
    '€' -> 0x80, '‚' -> 0x82, 'ƒ' -> 0x83, '„' -> 0x84,
    '…' -> 0x85, '†' -> 0x86, '‡' -> 0x87, 'ˆ' -> 0x88,
    '‰' -> 0x89, 'Š' -> 0x8A, '‹' -> 0x8B, 'Œ' -> 0x8C,
    'Ž' -> 0x8E, '‘' -> 0x91, '’' -> 0x92, '“' -> 0x93,
    '”' -> 0x94, '•' -> 0x95, '–' -> 0x96, '—' -> 0x97,
    '˜' -> 0x98, '™' -> 0x99, 'š' -> 0x9A, '›' -> 0x9B,
    'œ' -> 0x9C, 'ž' -> 0x9E, 'Ÿ' -> 0x9F)

  /** Deflate compression ratio of a string's UTF-8 bytes (zlib level 6):
    * `compressed_size / raw_size`, the CCNet/Gopher-style redundancy
    * signal — templated/spammy text compresses far below ~0.4, natural
    * prose sits higher, random bytes near (or above) 1. Deterministic for
    * a fixed level and input on a given zlib build; engine-specific
    * (DuckDB has no zlib surface), so queries over it are rows-checked
    * and the spec pins ORDERING properties, not bytes. Empty input → 1.0. */
  def deflateRatio(s: UTF8String): Double = {
    val raw = s.getBytes
    if (raw.length == 0) return 1.0
    val d = new java.util.zip.Deflater(6, true)
    try {
      d.setInput(raw)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      total.toDouble / raw.length.toDouble
    } finally d.end()
  }

  /** Repair UTF-8-decoded-as-latin-1/cp1252 mojibake ("cafÃ©" -> "café"):
    * if EVERY char maps back to a single sloppy-cp1252 byte and the byte
    * string is valid multi-byte UTF-8, re-decode; otherwise return the
    * input untouched (the whole-string validity requirement is what makes
    * the repair conservative — genuine "café" re-encodes to invalid UTF-8
    * and passes through). Up to 3 rounds, so double-encoded text unwinds.
    * Re-derived from the publicly documented ftfy heuristic. */
  def fixMojibake(s: UTF8String): UTF8String = {
    var cur = s.toString
    var rounds = 0
    var changed = true
    while (changed && rounds < 3) {
      changed = false
      val fixed = repairOnce(cur)
      if (fixed != null && fixed != cur) { cur = fixed; changed = true }
      rounds += 1
    }
    if (cur == s.toString) s else UTF8String.fromString(cur)
  }

  /** One repair round; null = not mojibake (unmappable char, pure ASCII, or
    * invalid UTF-8 after re-encoding). */
  private def repairOnce(cur: String): String = {
    val n = cur.length
    var hasHigh = false
    val bytes = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val c = cur.charAt(i)
      val b =
        if (c <= 0xFF) c.toInt
        else Cp1252Inverse.getOrElse(c, -1)
      if (b < 0) return null
      if (b >= 0x80) hasHigh = true
      bytes(i) = b.toByte
      i += 1
    }
    if (!hasHigh) return null
    try {
      val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
    } catch {
      case _: java.nio.charset.CharacterCodingException => null
    }
  }

  /** Jaro similarity in [0,1] (match window `max(len)/2 - 1`, floored
    * half-transpositions). Either side empty -> 0.0, and lengths/positions
    * are UTF-8 BYTES, not codepoints — both the exact edge semantics of
    * DuckDB's `jaro_similarity` (rapidfuzz-cpp operates on the raw byte
    * string), so oracle results compare bit-for-bit. Operating on the
    * UTF8String's bytes also skips the String materialization. */
  def jaroSim(a: UTF8String, b: UTF8String): Double =
    jaroImpl(a.getBytes, b.getBytes)

  /** UNRESTRICTED Damerau–Levenshtein distance (Lowrance–Wagner): edit
    * distance whose transposition operation may act on substrings already
    * edited ("CA"→"ABC" = 2, where the restricted/OSA variant says 3) —
    * the semantics of DuckDB's `damerau_levenshtein`, so pair scores
    * reproduce across engines. O(|a|·|b|) time, O(|a|·|b|) table plus a
    * last-seen-row map over the alphabet; operates on Java chars (the
    * match/compare unit — identical to byte-wise for ASCII keys). */
  def damerauLevenshtein(ua: UTF8String, ub: UTF8String): Int = {
    val a = ua.toString
    val b = ub.toString
    val la = a.length; val lb = b.length
    if (la == 0) return lb
    if (lb == 0) return la
    val inf = la + lb
    val h = Array.ofDim[Int](la + 2, lb + 2)
    h(0)(0) = inf
    var i = 0
    while (i <= la) { h(i + 1)(1) = i; h(i + 1)(0) = inf; i += 1 }
    var j = 0
    while (j <= lb) { h(1)(j + 1) = j; h(0)(j + 1) = inf; j += 1 }
    val da = new java.util.HashMap[Character, Integer]()
    i = 1
    while (i <= la) {
      var db = 0
      j = 1
      while (j <= lb) {
        val k: Int = { val v = da.get(b.charAt(j - 1)); if (v == null) 0 else v.intValue() }
        val l = db
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) { db = j; 0 } else 1
        val subst = h(i)(j) + cost
        val insert = h(i + 1)(j) + 1
        val delete = h(i)(j + 1) + 1
        val transp = h(k)(l) + (i - k - 1) + 1 + (j - l - 1)
        h(i + 1)(j + 1) = math.min(math.min(subst, insert), math.min(delete, transp))
        j += 1
      }
      da.put(a.charAt(i - 1), i)
      i += 1
    }
    h(la + 1)(lb + 1)
  }

  /** Jaro–Winkler similarity: [[jaroSim]] plus the common-prefix bonus
    * `l * 0.1 * (1 - jaro)` (prefix capped at 4 bytes), applied only above
    * the classic 0.7 boost threshold — the textbook Winkler variant and the
    * exact behavior of DuckDB's `jaro_winkler_similarity`. */
  def jaroWinkler(a: UTF8String, b: UTF8String): Double = {
    val s1 = a.getBytes
    val s2 = b.getBytes
    val j = jaroImpl(s1, s2)
    if (j <= 0.7) return j
    var l = 0
    val maxPrefix = math.min(4, math.min(s1.length, s2.length))
    while (l < maxPrefix && s1(l) == s2(l)) l += 1
    j + l * 0.1 * (1.0 - j)
  }

  private def jaroImpl(s1: Array[Byte], s2: Array[Byte]): Double = {
    val n1 = s1.length
    val n2 = s2.length
    if (n1 == 0 || n2 == 0) return 0.0
    val window = math.max(math.max(n1, n2) / 2 - 1, 0)
    val m1 = new Array[Boolean](n1)
    val m2 = new Array[Boolean](n2)
    var matches = 0
    var i = 0
    while (i < n1) {
      val hi = math.min(i + window + 1, n2)
      var j = math.max(0, i - window)
      var found = false
      while (j < hi && !found) {
        if (!m2(j) && s1(i) == s2(j)) {
          m1(i) = true; m2(j) = true; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    // mismatched positions between the two matched-byte orderings, halved
    // with integer floor (the rapidfuzz/DuckDB convention)
    var mismatches = 0
    var k = 0
    i = 0
    while (i < n1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1(i) != s2(k)) mismatches += 1
        k += 1
      }
      i += 1
    }
    val t = mismatches / 2
    val m = matches.toDouble
    (m / n1 + m / n2 + (m - t) / m) / 3.0
  }

  /** Deletion neighborhood of a string (SymSpell, public algorithm by Wolf
    * Garbe): the input plus every variant reachable by deleting up to
    * `maxDist` characters, distinct, sorted. Two strings within Levenshtein
    * distance d ALWAYS share a member of their depth-d neighborhoods — the
    * completeness property that turns fuzzy matching into an equi-join
    * ([[graft.operators.FuzzyMatch.editDistanceJoin]]): no cartesian, no
    * broadcast scorer, candidates meet on variant keys. Neighborhood size
    * is O(L^maxDist) — cheap for name/word-length strings, capped by
    * truncating inputs beyond 64 chars (standard SymSpell practice). */
  def deletionNeighborhood(s: UTF8String, maxDist: Int): ArrayData = {
    val base0 = s.toString
    val base = if (base0.length > 64) base0.substring(0, 64) else base0
    val seen = new java.util.TreeSet[String]()
    seen.add(base)
    var frontier: List[String] = List(base)
    var d = 0
    while (d < maxDist) {
      var next: List[String] = Nil
      frontier.foreach { w =>
        var i = 0
        while (i < w.length) {
          val v = w.substring(0, i) + w.substring(i + 1)
          if (seen.add(v)) next = v :: next
          i += 1
        }
      }
      frontier = next
      d += 1
    }
    val arr = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { arr(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(arr)
  }

  // ------------------------------------------------------------- hashing

  /** FNV-1a 64-bit over a char range — deterministic, allocation-free. */
  private def fnv64(s: String, from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  private def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  private def splitTokens(s: String): Array[String] =
    s.toLowerCase.split("\\s+").filter(_.nonEmpty)

  /** Charikar SimHash (64-bit) over whitespace word unigrams. */
  def simhash64(s: UTF8String): Long = {
    val toks = splitTokens(s.toString)
    if (toks.isEmpty) return 0L
    val acc = new Array[Int](64)
    var t = 0
    while (t < toks.length) {
      val h = mix64(fnv64(toks(t), 0, toks(t).length))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
      t += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (acc(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Hash set of word k-shingles (k consecutive tokens). */
  private def shingleHashes(s: String, k: Int): Array[Long] = {
    val toks = splitTokens(s)
    if (toks.length < k) {
      if (toks.isEmpty) return Array.empty
      return Array(mix64(fnv64(toks.mkString(" "), 0, toks.mkString(" ").length)))
    }
    val out = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i + k <= toks.length) {
      val sh = toks.slice(i, i + k).mkString(" ")
      out.add(mix64(fnv64(sh, 0, sh.length)))
      i += 1
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var j = 0
    while (it.hasNext) { arr(j) = it.next(); j += 1 }
    arr
  }

  /** MinHash signature: n independent permutations h_i(x) = mix64(x ^ seed_i),
    * min over the doc's k-shingle hashes. Returns LongArray ArrayData for
    * direct use as an `ArrayType(LongType)` Catalyst value. */
  def minhashSig(s: UTF8String, numHashes: Int, shingleK: Int): ArrayData = {
    val shingles = shingleHashes(s.toString, shingleK)
    val sig = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) {
      val seed = mix64(0x9e3779b97f4a7c15L * (i + 1))
      var best = Long.MaxValue
      var j = 0
      while (j < shingles.length) {
        val h = mix64(shingles(j) ^ seed)
        if (h < best) best = h
        j += 1
      }
      sig(i) = if (shingles.isEmpty) 0L else best
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** Sorted distinct word-k-shingle hash set of a text — the reusable
    * shingle representation for set-similarity joins (compute once, join
    * many: [[sortedJaccard]] then merges arrays instead of re-tokenizing
    * the text per candidate pair). */
  def shingleSet(s: UTF8String, k: Int): ArrayData =
    new GenericArrayData(shingleHashes(s.toString, k))

  /** All positional word `n`-grams of `lower(s)`: split on single spaces
    * (empty tokens kept, exactly like SQL `split(lower(s), ' ')`), each
    * gram the space-join of `n` consecutive tokens. Byte-identical output
    * to the `transform(sequence(...), i -> array_join(slice(...)))` HOF
    * formulation, but one codegen'd static call per row instead of an
    * interpreted lambda per gram — the hot path of every corpus-grain
    * n-gram operator (duplicate spans, decontamination, dup-ngram stats).
    */
  def wordNgrams(s: UTF8String, n: Int): ArrayData = {
    val toks = s.toLowerCase.toString.split(" ", -1)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](toks.length - n + 1)
    var i = 0
    while (i < out.length) {
      var len = n - 1
      var j = 0
      while (j < n) { len += toks(i + j).length; j += 1 }
      val sb = new java.lang.StringBuilder(len)
      j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Winnowing gram keys: for each of `max(numChars - k + 1, 1)` char
    * `k`-grams of `s` (1-based positions; a doc shorter than `k` chars
    * contributes its whole text as one gram), the packed sort key
    * `md5_prefix36(gram) * 2^24 + pos` — bit-identical to the SQL chain
    * `conv(substring(md5(substring(s, p, k)), 1, 9), 16, 10) * 16777216 + p`
    * (so the DuckDB oracle replays it), but one codegen'd static call per
    * document instead of an interpreted lambda plus an md5/conv expression
    * pair per gram. Character semantics match SQL `substring`/`length`
    * (code points, via UTF8String). */
  def winnowGramKeys(s: UTF8String, k: Int): ArrayData = {
    val nGrams = math.max(s.numChars() - k + 1, 1)
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Any](nGrams)
    var i = 0
    while (i < nGrams) {
      md.reset()
      val digest = md.digest(s.substringSQL(i + 1, k).getBytes)
      // first 9 hex chars = bytes 0-3 plus the high nibble of byte 4
      var h = 0L
      var b = 0
      while (b < 4) { h = (h << 8) | (digest(b) & 0xffL); b += 1 }
      h = (h << 4) | ((digest(4) & 0xf0L) >> 4)
      out(i) = h * 16777216L + (i + 1)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Winnowing fingerprint SELECTION in one pass (r15, guide §2.4): the
    * distinct packed keys `md5_prefix36(gram) * 2^24 + pos` selected by the
    * Schleimer-et-al rule — every full window of `window` consecutive
    * grams contributes its minimum key; a doc with fewer than `window`
    * grams contributes its single partial-window minimum. Selection is
    * bit-identical to running a `min over (rows between 0 and window-1)`
    * window + distinct over [[winnowGramKeys]] (positions make every key
    * unique, so a key is the min of a CONTIGUOUS run of windows and
    * distinct == drop consecutive repeats), but the whole thing is one
    * codegen'd static call per document — no char-grain explode, no
    * doc-key Exchange, no WindowExec sort. Monotone deque, O(nGrams). */
  def winnowSelect(s: UTF8String, k: Int, window: Int): ArrayData = {
    val nGrams = math.max(s.numChars() - k + 1, 1)
    val md = java.security.MessageDigest.getInstance("MD5")
    val keys = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      md.reset()
      val digest = md.digest(s.substringSQL(i + 1, k).getBytes)
      var h = 0L
      var b = 0
      while (b < 4) { h = (h << 8) | (digest(b) & 0xffL); b += 1 }
      h = (h << 4) | ((digest(4) & 0xf0L) >> 4)
      keys(i) = h * 16777216L + (i + 1)
      i += 1
    }
    val dq = new Array[Int](nGrams)
    var head = 0
    var tail = 0
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var last = Long.MinValue
    i = 0
    while (i < nGrams) {
      while (tail > head && keys(dq(tail - 1)) >= keys(i)) tail -= 1
      dq(tail) = i; tail += 1
      if (dq(head) <= i - window) head += 1
      if (i >= window - 1) {
        val m = keys(dq(head))
        if (out.isEmpty || m != last) { out += m; last = m }
      }
      i += 1
    }
    // partial-window edge: a doc with fewer than `window` grams winnows
    // the minimum of everything it has (the deque min after the loop)
    if (out.isEmpty) out += keys(dq(head))
    new GenericArrayData(out.toArray)
  }

  /** 60-bit md5-prefix keys of ALL length-`len` code-point windows of
    * `s` (element i = window starting at code point i, so position is the
    * array index + 1) — the native hot path behind
    * [[graft.operators.TextAnalysis.repeatedSpans]]: bit-identical to
    * the SQL chain `('0x' || substr(md5(substr(s, p, len)), 1, 15))` (15
    * hex chars = bytes 0–6 plus the high nibble of byte 7), but ONE
    * codegen'd call per document with a reused digest instead of a
    * per-window md5/substr/conv expression pipeline (measured ~10×: the
    * hex-string round-trip dominated, not the hashing). Shorter-than-len
    * docs return an empty array. */
  def windowHashKeys(s: UTF8String, len: Int): ArrayData = {
    val n = s.numChars() - len + 1
    if (n <= 0) return new GenericArrayData(Array.empty[Any])
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      md.reset()
      val digest = md.digest(s.substringSQL(i + 1, len).getBytes)
      var h = 0L
      var b = 0
      while (b < 7) { h = (h << 8) | (digest(b) & 0xffL); b += 1 }
      h = (h << 4) | ((digest(7) & 0xf0L) >> 4)
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Jaccard of two SORTED long arrays (single merge pass). */
  def sortedJaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    if (na == 0 && nb == 0) return 1.0
    if (na == 0 || nb == 0) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter)
  }

  /** Containment |A∩B| / |A| of two SORTED long arrays (single merge pass)
    * — the asymmetric Jaccard for "is A (mostly) inside B": quote /
    * subset-duplicate detection, where symmetric Jaccard under-scores pairs
    * of very different sizes. Empty A is vacuously contained. */
  def sortedContainment(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    if (na == 0) return 1.0
    if (nb == 0) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / na
  }

  /** Exact n-gram (word k-shingle) Jaccard similarity. */
  def ngramJaccard(a: UTF8String, b: UTF8String, k: Int): Double = {
    val sa = shingleHashes(a.toString, k)
    val sb = shingleHashes(b.toString, k)
    if (sa.isEmpty && sb.isEmpty) return 1.0
    if (sa.isEmpty || sb.isEmpty) return 0.0
    // both sorted (TreeSet order) -> merge count
    var i = 0; var j = 0; var inter = 0
    while (i < sa.length && j < sb.length) {
      if (sa(i) == sb(j)) { inter += 1; i += 1; j += 1 }
      else if (sa(i) < sb(j)) i += 1
      else j += 1
    }
    inter.toDouble / (sa.length + sb.length - inter)
  }

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD'03): rolling
    * window of size w over k-shingle hashes, keep each window's min (rightmost
    * on ties), dedup. Sorted ascending for determinism. */
  def fingerprints(s: UTF8String, shingleK: Int, window: Int): ArrayData = {
    val toks = splitTokens(s.toString)
    val n = toks.length - shingleK + 1
    if (n <= 0) return new GenericArrayData(Array.empty[Long])
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      val sh = toks.slice(i, i + shingleK).mkString(" ")
      hs(i) = mix64(fnv64(sh, 0, sh.length))
      i += 1
    }
    val picked = new java.util.TreeSet[java.lang.Long]()
    if (n <= window) {
      var min = hs(0); i = 1
      while (i < n) { if (hs(i) <= min) min = hs(i); i += 1 }
      picked.add(min)
    } else {
      i = 0
      while (i + window <= n) {
        var min = hs(i); var j = i + 1
        while (j < i + window) { if (hs(j) <= min) min = hs(j); j += 1 }
        picked.add(min)
        i += 1
      }
    }
    val arr = new Array[Long](picked.size)
    val it = picked.iterator()
    var j2 = 0
    while (it.hasNext) { arr(j2) = it.next(); j2 += 1 }
    new GenericArrayData(arr)
  }

  // ------------------------------------------------------------------ BPE

  /** Per-thread memo of the merge-rank table. The merges argument is a
    * Catalyst array LITERAL, so the expression layer hands the SAME
    * `ArrayData` instance to every invocation in a task — an identity check
    * makes the table build once per task, not once per row. An identity
    * miss just rebuilds (correct, only slower). */
  private val bpeRankCache =
    new ThreadLocal[(AnyRef, java.util.HashMap[String, Integer])]

  private def ranksFor(merges: ArrayData): java.util.HashMap[String, Integer] = {
    val cached = bpeRankCache.get()
    if (cached != null && (cached._1 eq merges)) cached._2
    else {
      val m = new java.util.HashMap[String, Integer](merges.numElements() * 2)
      var i = 0
      while (i < merges.numElements()) {
        m.put(merges.getUTF8String(i).toString, Integer.valueOf(i))
        i += 1
      }
      bpeRankCache.set((merges, m))
      m
    }
  }

  /** Fuse every adjacent (l, r) occurrence in a symbol sequence, scanning
    * left to right (the single BPE merge step). */
  private[graft] def fusePair(syms: Array[String], l: String, r: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var j = 0
    while (j < syms.length) {
      if (j < syms.length - 1 && syms(j) == l && syms(j + 1) == r) {
        out += (l + r); j += 2
      } else { out += syms(j); j += 1 }
    }
    out.toArray
  }

  /** Word-level BPE encode (Sennrich et al. 2016; the GPT-2 per-word merge
    * loop minus the byte remap): within each whitespace word, repeatedly
    * fuse the adjacent symbol pair with the lowest merge rank until no
    * ranked pair remains. `merges` is the ranked merge table, each entry
    * "left right". Returns the concatenated token stream. */
  def bpeTokens(s: UTF8String, merges: ArrayData): ArrayData = {
    val ranks = ranksFor(merges)
    val words = s.toString.split("\\s+")
    val out = new scala.collection.mutable.ArrayBuffer[UTF8String]()
    var wi = 0
    while (wi < words.length) {
      val w = words(wi)
      if (w.nonEmpty) {
        var syms: Array[String] = new Array[String](w.length)
        var ci = 0
        while (ci < w.length) { syms(ci) = String.valueOf(w.charAt(ci)); ci += 1 }
        var continue = syms.length > 1
        while (continue) {
          var bestRank = Int.MaxValue
          var bestI = -1
          var i = 0
          while (i < syms.length - 1) {
            val r = ranks.get(syms(i) + " " + syms(i + 1))
            if (r != null && r < bestRank) { bestRank = r; bestI = i }
            i += 1
          }
          if (bestI < 0) continue = false
          else {
            syms = fusePair(syms, syms(bestI), syms(bestI + 1))
            continue = syms.length > 1
          }
        }
        var t = 0
        while (t < syms.length) { out += UTF8String.fromString(syms(t)); t += 1 }
      }
      wi += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  /** One merge step over a symbol array column — the trainer's apply-merge
    * primitive ([[graft.operators.TextAnalysis.trainBpeMerges]]). */
  def bpeMergeStep(syms: ArrayData, l: UTF8String, r: UTF8String): ArrayData = {
    val n = syms.numElements()
    val in = new Array[String](n)
    var i = 0
    while (i < n) { in(i) = syms.getUTF8String(i).toString; i += 1 }
    val fused = fusePair(in, l.toString, r.toString)
    new GenericArrayData(fused.map(x => UTF8String.fromString(x): Any))
  }

  // --------------------------------------- content-defined chunking (CDC)

  /** Gear table for the rolling hash: one deterministic 64-bit mix per byte
    * value (FastCDC's construction, Xia et al., USENIX ATC'16 — any fixed
    * pseudo-random table works; mix64 of the byte index keeps it
    * reproducible everywhere with no stored constants). */
  private val cdcGear: Array[Long] = Array.tabulate(256)(b => mix64(b.toLong + 1L))

  /** FNV-1a 64-bit over a byte range. */
  private def fnvBytes(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Content-defined chunk hashes: gear rolling hash over the UTF-8 bytes,
    * chunk boundary where `(h & mask) == 0` once `minLen` bytes have
    * accumulated, forced at `maxLen` — the storage-dedup splitter whose
    * boundaries RESYNCHRONIZE after an insertion (a fixed-width splitter
    * shifts every downstream chunk; a content-defined one realigns within
    * ~one chunk). Returns the FNV-64 of each chunk's bytes in document
    * order. `maskBits` sets the expected chunk length to ~2^maskBits bytes.
    * The hash resets at each cut, so a chunk's boundary decision depends
    * only on bytes since the previous cut — determinism needs no window
    * state across chunks. */
  def cdcChunks(s: UTF8String, maskBits: Int, minLen: Int, maxLen: Int): ArrayData = {
    val bytes = s.getBytes
    if (bytes.isEmpty) return new GenericArrayData(Array.empty[Long])
    val mask = (1L << maskBits) - 1L
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var start = 0
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = (h << 1) + cdcGear(bytes(i) & 0xff)
      val len = i - start + 1
      if ((len >= minLen && (h & mask) == 0L) || len >= maxLen) {
        out += fnvBytes(bytes, start, i + 1)
        start = i + 1
        h = 0L
      }
      i += 1
    }
    if (start < bytes.length) out += fnvBytes(bytes, start, bytes.length)
    new GenericArrayData(out.toArray)
  }

  /** Per-pair clipped n-gram overlap statistics for the reference-based
    * eval family (BLEU / chrF / ROUGE): for each gram order n in
    * [minN, maxN], the triple (clip_n, tot_n, ref_n) where
    * clip_n = Σ_g min(count_cand(g), count_ref(g)) (multiset intersection),
    * tot_n = number of candidate grams, ref_n = number of reference grams.
    * Returned as a flat long array [clip_minN, tot_minN, ref_minN, ...].
    *
    * `word = true`: grams are windows of `lower(s).split(" ", -1)` tokens
    * (exactly [[wordNgrams]]'s tokenization, empty tokens kept).
    * `word = false`: chrF convention — grams are CODE-POINT windows of
    * `lower(s)` with literal spaces removed (the `regexp_replace(lower(s),
    * ' ', '')` twin; offsets are precomputed so astral chars count as one).
    *
    * This kernel exists for plan shape, not arithmetic: candidate and
    * reference live in the SAME row, so clipping is row-local and the
    * corpus readout is ONE shuffle-free partial aggregate over exact longs
    * — replacing the (pair, gram)-grain explode → hash-agg → full-outer
    * join pipeline whose shuffle carries one near-unique skinny row per
    * gram occurrence (≈6× corpus bytes at maxN = 6). Bit-identical sums:
    * Σ_pairs Σ_g min(...) reassociates freely over longs. */
  def gramClipStats(
      cand: UTF8String,
      ref: UTF8String,
      minN: Int,
      maxN: Int,
      word: Boolean): ArrayData = {
    val out = new Array[Long](3 * (maxN - minN + 1))
    // Per-order gram extractors: grams(side)(n)(i) materializes gram i of
    // order n lazily as a String; counts per order are window counts.
    if (word) {
      val c = cand.toLowerCase.toString.split(" ", -1)
      val r = ref.toLowerCase.toString.split(" ", -1)
      var n = minN
      while (n <= maxN) {
        val base = 3 * (n - minN)
        out(base) = clipTokens(c, r, n)
        out(base + 1) = math.max(c.length - n + 1, 0).toLong
        out(base + 2) = math.max(r.length - n + 1, 0).toLong
        n += 1
      }
    } else {
      val c = cand.toLowerCase.toString.replace(" ", "")
      val r = ref.toLowerCase.toString.replace(" ", "")
      val co = codePointOffsets(c)
      val ro = codePointOffsets(r)
      var n = minN
      while (n <= maxN) {
        val base = 3 * (n - minN)
        out(base) = clipChars(c, co, r, ro, n)
        out(base + 1) = math.max(co.length - 1 - n + 1, 0).toLong
        out(base + 2) = math.max(ro.length - 1 - n + 1, 0).toLong
        n += 1
      }
    }
    new GenericArrayData(out)
  }

  /** UTF-16 offsets of each code-point boundary (length numCodePoints+1);
    * gram (i, n) = s.substring(off(i), off(i+n)). The common all-BMP case
    * is the identity array. */
  private def codePointOffsets(s: String): Array[Int] = {
    val off = new Array[Int](s.codePointCount(0, s.length) + 1)
    var i = 0
    var o = 0
    while (o < s.length) {
      off(i) = o
      o += Character.charCount(s.codePointAt(o))
      i += 1
    }
    off(i) = s.length
    off
  }

  private def clipChars(
      c: String, co: Array[Int], r: String, ro: Array[Int], n: Int): Long = {
    val nc = co.length - 1 - n + 1
    val nr = ro.length - 1 - n + 1
    if (nc <= 0 || nr <= 0) return 0L
    val m = new java.util.HashMap[String, Array[Int]](nc * 2)
    var i = 0
    while (i < nc) {
      val g = c.substring(co(i), co(i + n))
      val v = m.get(g)
      if (v == null) m.put(g, Array(1)) else v(0) += 1
      i += 1
    }
    var clip = 0L
    i = 0
    while (i < nr) {
      val v = m.get(r.substring(ro(i), ro(i + n)))
      if (v != null && v(0) > 0) { v(0) -= 1; clip += 1 }
      i += 1
    }
    clip
  }

  /** ROUGE-L sufficient statistics per pair: [lcs, n_cand, n_ref] over
    * WORD tokens (lowercase, split(" ", -1) — the [[wordNgrams]]
    * tokenization, empty tokens kept). Token-level longest common
    * subsequence by the classic two-row DP, O(m·n) ints per pair —
    * row-local like [[gramClipStats]], so the corpus readout is a
    * shuffle-free partial agg. */
  def rougeLStats(cand: UTF8String, ref: UTF8String): ArrayData = {
    val a = cand.toLowerCase.toString.split(" ", -1)
    val b = ref.toLowerCase.toString.split(" ", -1)
    val m = b.length
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    var i = 0
    while (i < a.length) {
      var j = 1
      while (j <= m) {
        cur(j) =
          if (a(i) == b(j - 1)) prev(j - 1) + 1
          else math.max(prev(j), cur(j - 1))
        j += 1
      }
      val t = prev; prev = cur; cur = t
      java.util.Arrays.fill(cur, 0)
      i += 1
    }
    new GenericArrayData(Array[Long](prev(m).toLong, a.length.toLong, b.length.toLong))
  }

  private def clipTokens(c: Array[String], r: Array[String], n: Int): Long = {
    val nc = c.length - n + 1
    val nr = r.length - n + 1
    if (nc <= 0 || nr <= 0) return 0L
    def gram(toks: Array[String], i: Int): String = {
      if (n == 1) return toks(i)
      var len = n - 1
      var j = 0
      while (j < n) { len += toks(i + j).length; j += 1 }
      val sb = new java.lang.StringBuilder(len)
      j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      sb.toString
    }
    val m = new java.util.HashMap[String, Array[Int]](nc * 2)
    var i = 0
    while (i < nc) {
      val g = gram(c, i)
      val v = m.get(g)
      if (v == null) m.put(g, Array(1)) else v(0) += 1
      i += 1
    }
    var clip = 0L
    i = 0
    while (i < nr) {
      val v = m.get(gram(r, i))
      if (v != null && v(0) > 0) { v(0) -= 1; clip += 1 }
      i += 1
    }
    clip
  }
}
