package graft

import org.apache.spark.sql.{Column, GraftSql}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** graft's scalar function surface.
  *
  * Everything here is either a composition of Spark built-ins (codegen'd for
  * free) or a native Catalyst `StaticInvoke` expression into [[functions.TextOps]]
  * (also codegen'd — the generated code calls a static JVM method directly,
  * no UDF encode/decode). No Scala/Python UDFs anywhere on the hot path.
  */
package object functions {

  // Note: StaticInvoke's `inputTypes` is skipped (AbstractDataType is
  // private[sql]); call sites pass correctly-typed columns.
  private def invokeOn(target: Class[_], name: String, dt: DataType, args: Seq[Column]): Column =
    GraftSql.column(
      StaticInvoke(
        target,
        dt,
        name,
        args.map(GraftSql.expression),
        propagateNull = true,
        returnNullable = false))

  private def invoke(name: String, dt: DataType, args: Seq[Column]): Column =
    invokeOn(TextOps.getClass, name, dt, args)

  private def invokeVec(name: String, dt: DataType, args: Seq[Column]): Column =
    invokeOn(VectorOps.getClass, name, dt, args)

  /** Header-level image introspection of a binary column WITHOUT decoding:
    * `struct(format string, width int, height int)` — format 'unknown' and
    * -1 dimensions when no signature matches. Real parsing of PNG/JPEG/
    * GIF/BMP headers per their public specs ([[MediaOps]]). */
  def image_meta(payload: Column): Column = {
    val raw = invokeOn(
      MediaOps.getClass, "imageMeta",
      ArrayType(IntegerType, containsNull = false), Seq(payload))
    val fmt = element_at(raw, 1)
    struct(
      when(fmt === MediaOps.FormatPng, "png")
        .when(fmt === MediaOps.FormatJpeg, "jpeg")
        .when(fmt === MediaOps.FormatGif, "gif")
        .when(fmt === MediaOps.FormatBmp, "bmp")
        .when(fmt === MediaOps.FormatWebp, "webp")
        .when(fmt === MediaOps.FormatTiff, "tiff")
        .otherwise("unknown").as("format"),
      element_at(raw, 2).as("width"),
      element_at(raw, 3).as("height"))
  }

  /** Elo rating fold over a collected match array — the in-row sequential
    * kernel ([[VectorOps.eloRatings]]); matches are structs
    * (ord, winner, loser). */
  def elo_ratings(matches: Column, kFactor: Column, initial: Column): Column =
    invokeVec("eloRatings",
      ArrayType(StructType(Seq(
        StructField("player", StringType, nullable = false),
        StructField("rating", DoubleType, nullable = false),
        StructField("games", IntegerType, nullable = false)))),
      Seq(matches, kFactor.cast("double"), initial.cast("double")))

  /** Build a real extended-WebP (VP8X) RIFF container header with the
    * given canvas dimensions — the in-plan construction side of
    * [[image_meta]]'s WebP parse. */
  def webp_bytes(width: Column, height: Column): Column =
    invokeOn(MediaOps.getClass, "webpBytes", BinaryType,
      Seq(width.cast("int"), height.cast("int")))

  /** Build a minimal valid TIFF (declared endianness, LONG width/length
    * IFD entries) — the in-plan construction side of [[image_meta]]'s
    * TIFF IFD walk. */
  def tiff_bytes(width: Column, height: Column, bigEndian: Column): Column =
    invokeOn(MediaOps.getClass, "tiffBytes", BinaryType,
      Seq(width.cast("int"), height.cast("int"), bigEndian.cast("boolean")))

  /** Wrap `data` in a canonical PCM RIFF/WAVE container (real bytes, per
    * the public RIFF spec) — the in-plan audio twin of [[image_meta]]'s
    * parse side. */
  def wav_bytes(channels: Column, sampleRate: Column, bitsPerSample: Column, data: Column): Column =
    invokeOn(MediaOps.getClass, "wavBytes", BinaryType,
      Seq(channels.cast("int"), sampleRate.cast("int"), bitsPerSample.cast("int"), data))

  /** Wrap `data` in a minimal ISO BMFF (MP4) ftyp/moov/mdat box sequence —
    * the video-container twin of [[wav_bytes]]. */
  def mp4_bytes(majorBrand: Column, data: Column): Column =
    invokeOn(MediaOps.getClass, "mp4Bytes", BinaryType,
      Seq(majorBrand.cast("string"), data))

  /** Header-only ISO BMFF box walk: struct(n_boxes, ftyp_ok, moov_bytes,
    * mdat_bytes), all -1 when the payload is not a box sequence. */
  def mp4_meta(payload: Column): Column = {
    val raw = invokeOn(
      MediaOps.getClass, "mp4Meta",
      ArrayType(IntegerType, containsNull = false), Seq(payload))
    struct(
      element_at(raw, 1).as("n_boxes"),
      element_at(raw, 2).as("ftyp_ok"),
      element_at(raw, 3).as("moov_bytes"),
      element_at(raw, 4).as("mdat_bytes"))
  }

  /** Theil–Sen `[n_pairs, lower-median slope]` over a collected array of
    * (x: long, y: long) structs — the bounded-group kernel form (empty
    * array when no distinct-x pair exists). */
  def theil_sen_median(points: Column): Column =
    invokeVec("theilSenMedian", ArrayType(DoubleType, containsNull = false), Seq(points))

  /** PAV isotonic fit of collected (x long, y long) structs: flat
    * [x, fit, …] doubles over distinct x ascending ([[VectorOps.pavFit]]). */
  def pav_fit(points: Column): Column =
    invokeVec("pavFit", ArrayType(DoubleType, containsNull = false), Seq(points))

  /** Durbin–Levinson PACF from an [ρ₁..ρₘ] autocorrelation array
    * ([[VectorOps.pacf]]). */
  def pacf_from_acf(rhos: Column): Column =
    invokeVec("pacf", ArrayType(DoubleType, containsNull = false), Seq(rhos))

  /** Exact integer DTW distance between two long-array series
    * ([[VectorOps.dtwDistance]]); −1 when either side is empty. */
  def dtw_distance(a: Column, b: Column): Column =
    invokeVec("dtwDistance", LongType, Seq(a, b))

  /** LTTB downsample of collected (x long, y long) structs to `threshold`
    * points: flat [x, y, …] doubles ([[VectorOps.lttb]]). */
  def lttb_downsample(points: Column, threshold: Column): Column =
    invokeVec("lttb", ArrayType(DoubleType, containsNull = false),
      Seq(points, threshold))

  /** Header-level WAV introspection: struct(channels, sample_rate,
    * bits_per_sample, data_bytes), all -1 when the payload is not a
    * parseable RIFF/WAVE container. */
  def audio_meta(payload: Column): Column = {
    val raw = invokeOn(
      MediaOps.getClass, "audioMeta",
      ArrayType(IntegerType, containsNull = false), Seq(payload))
    struct(
      element_at(raw, 1).as("channels"),
      element_at(raw, 2).as("sample_rate"),
      element_at(raw, 3).as("bits_per_sample"),
      element_at(raw, 4).as("data_bytes"))
  }

  /** Accent-strip + sanitize + casefold normalization.
    * Behavior of reference utils.py:546 `normalize_text`. */
  def normalize_text(c: Column): Column =
    invoke("normalize", StringType, Seq(c))

  /** fuzzywuzzy-style token_set_ratio in [0,100].
    * Behavior of reference utils.py:434 `find_best_match`'s scorer. */
  def token_set_ratio(a: Column, b: Column): Column =
    invoke("tokenSetRatio", IntegerType, Seq(a, b))

  /** SORTED-INTERSECTION token-set ratio in [0,100] — [[token_set_ratio]]
    * minus its one SQL-inexpressible leg: the full scorer takes the max
    * over three InDel comparisons (t0 = sorted intersection, t1 = t0 +
    * sorted left-only tokens, t2 = t0 + sorted right-only tokens), and
    * because t0 is a PREFIX of t1 and t2 their two InDel distances reduce
    * to pure length algebra (d = |len(tᵢ)| − |len(t0)|) — only the t1↔t2
    * leg needs a real LCS. This variant is max(ratio(t0,t1), ratio(t0,t2)):
    * set algebra + lengths end to end (array_intersect/except/sort, one
    * IEEE division), so it replays exactly in any SQL engine, and it
    * equals the full ratio whenever the intersection leg dominates (the
    * common regime for subset/superset matching). Codegen'd builtins
    * only — no JVM kernel. */
  def token_set_sorted_ratio(a: Column, b: Column): Column = {
    // LENGTHS ONLY, never the sorted strings: len(join(arr, " ")) =
    // Σ len(token) + (n − 1), which is order-free — so no array_sort
    // appears at all, and the Column tree stays small. (Column trees are
    // TREES, not DAGs: the first cut built t0/t1/t2 strings whose shared
    // subtrees re-evaluated ~dozens of times per row — measured 500 μs/row
    // and a 37 s single-row-group scan stage at sf1; this form is the same
    // score from ~5 evaluations of the tokenize chain.)
    def toks(c: Column): Column =
      array_distinct(filter(split(lower(c), "\\s+"), t => t =!= lit("")))
    def lenJoin(arr: Column): Column =
      when(size(arr) === 0, lit(0)).otherwise(
        aggregate(transform(arr, t => length(t)), lit(0), (acc, x) => acc + x)
          + size(arr) - 1)
    // LET-BINDING via transform over a singleton array: a lambda variable
    // evaluates once and its field references are free, where plain Column
    // reuse re-evaluates the whole subtree at every mention (the remaining
    // ~16 re-evaluations of the tokenize chain still cost 350 μs/row)
    val lens = transform(
      array(struct(toks(a).as("ta"), toks(b).as("tb"))),
      s => {
        val ta = s.getField("ta")
        val tb = s.getField("tb")
        struct(
          lenJoin(array_intersect(ta, tb)).as("l0"),
          lenJoin(array_except(ta, tb)).as("la"),
          lenJoin(array_except(tb, ta)).as("lb"))
      })
    val scored = transform(lens, s => {
      val l0 = s.getField("l0")
      // t0 is a prefix of tᵢ = t0 (+ " ") + diff, so len(tᵢ) is pure
      // length algebra and ratio = 2·len0/(len0+lenᵢ); all-empty → 1.0
      def side(ls: Column): Column =
        when(l0 === 0, ls).when(ls === 0, l0).otherwise(l0 + 1 + ls)
      def ratio(li: Column): Column =
        when(l0 + li === 0, lit(1.0))
          .otherwise(lit(2.0) * l0.cast("double") / (l0 + li).cast("double"))
      floor(greatest(ratio(side(s.getField("la"))),
        ratio(side(s.getField("lb")))) * 100.0 + 0.5).cast("int")
    })
    element_at(scored, 1)
  }

  /** SymSpell deletion neighborhood (depth `maxDist`, self included,
    * sorted distinct) — the equi-join key set for scalable edit-distance
    * joins. */
  def deletion_neighborhood(c: Column, maxDist: Int): Column =
    invoke(
      "deletionNeighborhood",
      ArrayType(StringType, containsNull = false),
      Seq(c, GraftSql.column(Literal(maxDist))))

  /** Repair UTF-8-as-latin-1/cp1252 mojibake ("cafÃ©" -> "café"), ftfy-style
    * conservative whole-string heuristic; clean text passes through
    * untouched. Unwinds double encoding. */
  def fix_mojibake(c: Column): Column =
    invoke("fixMojibake", StringType, Seq(c))

  /** Deflate compression ratio (zlib level 6) of a string's UTF-8 bytes —
    * the CCNet/Gopher redundancy quality signal: templated/spammy text
    * compresses far lower than natural prose. Engine-specific bytes, so
    * rows-checked only. */
  def compression_ratio(c: Column): Column =
    invoke("deflateRatio", DoubleType, Seq(c))

  /** Jaro similarity in [0,1] — DuckDB-compatible semantics (either side
    * empty -> 0.0, floored half-transpositions, UTF-8 byte positions). */
  def jaro_sim(a: Column, b: Column): Column =
    invoke("jaroSim", DoubleType, Seq(a, b))

  /** Jaro–Winkler similarity in [0,1]: prefix bonus capped at 4 chars,
    * applied above the classic 0.7 boost threshold — bit-compatible with
    * DuckDB's `jaro_winkler_similarity`, so fuzzy-match results reproduce
    * across engines. Plug into [[graft.operators.FuzzyMatch.bestMatch]] as
    * the scorer for prefix-weighted entity resolution. */
  def jaro_winkler(a: Column, b: Column): Column =
    invoke("jaroWinkler", DoubleType, Seq(a, b))

  /** UNRESTRICTED Damerau–Levenshtein distance (transpositions may touch
    * already-edited substrings) — matches DuckDB's `damerau_levenshtein`;
    * complements the built-in `levenshtein` for typo-tolerant matching
    * where adjacent-swap errors dominate (keyboards, OCR). */
  def damerau_levenshtein(a: Column, b: Column): Column =
    invoke("damerauLevenshtein", IntegerType, Seq(a, b))

  /** 64-bit Charikar SimHash of whitespace tokens. */
  def simhash64(c: Column): Column =
    invoke("simhash64", LongType, Seq(c))

  /** Hamming distance between two simhashes. */
  def hamming64(a: Column, b: Column): Column =
    invoke("hamming64", IntegerType, Seq(a, b))

  /** MinHash signature (array of `numHashes` longs) over word `shingleK`-shingles. */
  def minhash_sig(c: Column, numHashes: Int, shingleK: Int): Column =
    invoke(
      "minhashSig",
      ArrayType(LongType, containsNull = false),
      Seq(c, GraftSql.column(Literal(numHashes)), GraftSql.column(Literal(shingleK))))

  /** Exact word-k-shingle Jaccard similarity of two texts. */
  def ngram_jaccard(a: Column, b: Column, k: Int): Column =
    invoke(
      "ngramJaccard",
      DoubleType,
      Seq(a, b, GraftSql.column(Literal(k))))

  /** Positional word n-grams of `lower(text)` split on single spaces —
    * native [[TextOps.wordNgrams]], the codegen'd replacement for the
    * interpreted `transform(sequence…slice…array_join)` HOF chain. Null
    * text yields null (call sites explode, where null and empty coincide). */
  def word_ngrams(text: Column, n: Int): Column =
    invoke(
      "wordNgrams",
      ArrayType(StringType, containsNull = false),
      Seq(text, GraftSql.column(Literal(n))))

  /** Per-pair clipped n-gram overlap stats for BLEU/chrF/ROUGE — native
    * [[TextOps.gramClipStats]]: flat longs [clip_n, tot_n, ref_n | n in
    * minN..maxN]. Row-local multiset clipping (cand and ref share the row),
    * so the corpus metric is one shuffle-free partial agg instead of a
    * (pair, gram)-grain join. Null on either side skips the pair. */
  def gram_clip_stats(
      cand: Column, ref: Column, minN: Int, maxN: Int, word: Boolean): Column =
    invoke(
      "gramClipStats",
      ArrayType(LongType, containsNull = false),
      Seq(cand, ref, GraftSql.column(Literal(minN)),
        GraftSql.column(Literal(maxN)), GraftSql.column(Literal(word))))

  /** ROUGE-L per-pair stats — native [[TextOps.rougeLStats]]: flat longs
    * [lcs, n_cand, n_ref] over word tokens (two-row DP, row-local). */
  def rouge_l_stats(cand: Column, ref: Column): Column =
    invoke(
      "rougeLStats",
      ArrayType(LongType, containsNull = false),
      Seq(cand, ref))

  /** 60-bit md5-prefix keys of all length-`len` char windows (position =
    * index + 1) — native [[TextOps.windowHashKeys]]; the repeatedSpans
    * hot path, SQL twin `('0x' || substr(md5(substr(s,p,len)),1,15))`. */
  def window_hash_keys(text: Column, len: Int): Column =
    invoke(
      "windowHashKeys",
      ArrayType(LongType, containsNull = false),
      Seq(text, GraftSql.column(Literal(len))))

  /** Packed winnowing gram sort keys (`md5_prefix36(char k-gram) * 2^24 +
    * 1-based pos`) — native [[TextOps.winnowGramKeys]]; see
    * [[graft.operators.TextAnalysis.winnowFingerprints]]. */
  def winnow_gram_keys(text: Column, k: Int): Column =
    invoke(
      "winnowGramKeys",
      ArrayType(LongType, containsNull = false),
      Seq(text, GraftSql.column(Literal(k))))

  /** Distinct winnowing-selected packed prints per document — native
    * [[TextOps.winnowSelect]]: gram hashing + sliding-window min +
    * consecutive-dedup in ONE codegen'd call, selection bit-identical to
    * a windowed `min` + distinct over [[winnow_gram_keys]]; see
    * [[graft.operators.TextAnalysis.winnowFingerprints]]. */
  def winnow_prints(text: Column, k: Int, window: Int): Column =
    invoke(
      "winnowSelect",
      ArrayType(LongType, containsNull = false),
      Seq(text, GraftSql.column(Literal(k)), GraftSql.column(Literal(window))))

  /** Sorted distinct word-k-shingle hash set (compute once, compare many —
    * pair with [[sorted_jaccard]]). */
  def shingle_set(c: Column, k: Int): Column =
    invoke(
      "shingleSet",
      ArrayType(LongType, containsNull = false),
      Seq(c, GraftSql.column(Literal(k))))

  /** Jaccard of two sorted long-array columns (single merge pass, no
    * re-tokenization). */
  def sorted_jaccard(a: Column, b: Column): Column =
    invoke("sortedJaccard", DoubleType, Seq(a, b))

  /** Containment |A∩B|/|A| of two sorted long-array columns — the
    * asymmetric near-dup measure (A quoted/embedded inside B). */
  def sorted_containment(a: Column, b: Column): Column =
    invoke("sortedContainment", DoubleType, Seq(a, b))

  /** Content-defined chunk hashes (FastCDC-style gear hash): FNV-64 of each
    * chunk's bytes in document order; expected chunk size ~2^maskBits bytes,
    * bounded to [minLen, maxLen]. The storage-dedup splitter whose
    * boundaries resynchronize after insertions. */
  def cdc_chunks(c: Column, maskBits: Int, minLen: Int, maxLen: Int): Column =
    invoke(
      "cdcChunks",
      ArrayType(LongType, containsNull = false),
      Seq(c, GraftSql.column(Literal(maskBits)), GraftSql.column(Literal(minLen)),
        GraftSql.column(Literal(maxLen))))

  /** Winnowing fingerprints (sorted array of longs). */
  def fingerprint_set(c: Column, shingleK: Int, window: Int): Column =
    invoke(
      "fingerprints",
      ArrayType(LongType, containsNull = false),
      Seq(c, GraftSql.column(Literal(shingleK)), GraftSql.column(Literal(window))))

  /** Deterministic content id — hex digest of the (lowercased, trimmed) key.
    * Same role as reference utils.py:420 `generate_org_unit_uuid` (stable id
    * from a name); md5 so any engine can reproduce it. */
  def deterministic_id(c: Column): Column = md5(to_binary(lower(trim(c)), lit("utf-8")))

  /** RFC 4122 name-based UUID (version 5, SHA-1) in canonical hex-dash form.
    * NOTE: the reference strips the hyphens (utils.py:431 returns
    * `str(uuid.uuid5(...)).replace('-','')`) — use [[uuid5_compact]] when ids
    * must join against ids the reference produced. Defaults to the DNS
    * namespace like the reference. */
  def uuid5(c: Column, namespace: String = TextOps.NamespaceDns): Column =
    invoke("uuid5", StringType, Seq(lit(namespace), c))

  /** Hyphenless uuid5 — character-identical to the reference's
    * `generate_org_unit_uuid` output (utils.py:431), which drops the dashes
    * from the canonical form before storing the id. */
  def uuid5_compact(c: Column, namespace: String = TextOps.NamespaceDns): Column =
    invoke("uuid5Compact", StringType, Seq(lit(namespace), c))

  /** Ordered multi-substring replacement.
    * Behavior of reference utils.py:252 `multi_replace`. */
  def multi_replace(c: Column, replacements: Seq[(String, String)]): Column =
    replacements.foldLeft(c) { case (acc, (from, to)) => replace(acc, lit(from), lit(to)) }

  /** Compile a label-standardization mapping (e.g. raw sex/age-group labels to
    * canonical codes) into one codegen'd CASE WHEN chain — the declarative
    * twin of reference utils.py:318 `standardize_column` / utils.py:269
    * `process_column`, which loop over a dict per row in Python. First
    * matching (contains) key wins; `default` otherwise. */
  def standardize_label(c: Column, mapping: Seq[(String, String)], default: String): Column =
    mapping.foldRight(lit(default)) { case ((needle, canon), acc) =>
      when(c.contains(needle), lit(canon)).otherwise(acc)
    }

  /** Cosine similarity between two double/float array columns, computed with
    * codegen'd higher-order built-ins (zip_with + aggregate) — sequential
    * left-to-right fold, so results are bit-stable across engines. Works for
    * any numeric element type; for the float-array hot path prefer
    * [[cosine_sim_float]] (single traversal, no per-element expression tree). */
  def cosine_sim(a: Column, b: Column): Column = {
    val ad = transform(a, x => x.cast(DoubleType))
    val bd = transform(b, x => x.cast(DoubleType))
    val dot = aggregate(zip_with(ad, bd, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val na = aggregate(ad, lit(0.0), (acc, x) => acc + x * x)
    val nb = aggregate(bd, lit(0.0), (acc, x) => acc + x * x)
    dot / (sqrt(na) * sqrt(nb))
  }

  /** Native one-pass cosine similarity for `array<float>` columns — same
    * left-to-right double accumulation as [[cosine_sim]] (bit-identical
    * result), one array traversal instead of five. */
  def cosine_sim_float(a: Column, b: Column): Column =
    invokeVec("cosineSim", DoubleType, Seq(a, b))

  /** Native cosine between an `array<float>` vector and an `array<double>`
    * centroid — the l2_dist_sq mixed-type discipline (centroid doubles
    * never float-cast, so a SQL twin holding the same doubles agrees). */
  def cosine_sim_fd(vec: Column, centroid: Column): Column =
    invokeVec("cosineSimFD", DoubleType, Seq(vec, centroid))

  /** Native one-pass squared L2 distance between an `array<float>` vector
    * and an `array<double>` centroid — the k-means assignment primitive. */
  def l2_dist_sq(vec: Column, centroid: Column): Column =
    invokeVec("l2DistSqFD", DoubleType, Seq(vec, centroid))

  /** L2-normalize a numeric array column to a unit `array<double>` vector
    * (null-length/zero vectors pass through as all-zero). Per-row
    * left-to-right accumulation — deterministic and engine-reproducible;
    * pair with [[graft.operators.Similarity.meanPoolEmbeddings]] for the
    * chunk→doc→unit pipeline. */
  def l2_normalize(c: Column): Column = {
    val d = transform(c, x => x.cast("double"))
    val norm = sqrt(aggregate(d, lit(0.0), (acc, x) => acc + x * x))
    transform(d, x => when(norm === 0.0, lit(0.0)).otherwise(x / norm))
  }

  /** Misra–Gries heavy-hitters aggregate: top string items of a column as
    * `array<struct<item, count_lo>>` with a fixed `k`-counter mergeable
    * summary — see [[MisraGries]] for bounds. Exact when `k` >= the
    * column's distinct count. */
  def approx_heavy_hitters(c: Column, k: Int): Column =
    GraftSql.column(
      MisraGries(GraftSql.expression(c), k).toAggregateExpression())

  /** Bounded top-k-rows leaderboard aggregate ([[TopRowsAgg]]): the exact
    * top-k (score desc, id asc) of the group with O(k) mergeable state —
    * usable in streaming complete mode, rollups, anywhere an aggregate is
    * required. */
  def top_rows(score: Column, id: Column, k: Int): Column =
    GraftSql.column(
      TopRowsAgg(GraftSql.expression(score), GraftSql.expression(id), k).toAggregateExpression())

  /** Word-level BPE encode against a ranked merge table (entries
    * "left right") — a REAL subword tokenizer, not the regex
    * approximation in [[graft.operators.TextAnalysis.tokenCounts]]. Native
    * StaticInvoke (codegen'd); the rank table builds once per task off the
    * merges literal. Train merges with
    * [[graft.operators.TextAnalysis.trainBpeMerges]]. */
  def bpe_tokens(c: Column, merges: Seq[String]): Column =
    invoke(
      "bpeTokens",
      ArrayType(StringType, containsNull = false),
      Seq(c, lit(merges.toArray)))

  /** BPE token count — the "how many training tokens is this corpus"
    * estimator under a real merge table. */
  def bpe_token_count(c: Column, merges: Seq[String]): Column =
    size(bpe_tokens(c, merges)).cast("long")

  /** One BPE merge step over an `array<string>` symbol column (trainer
    * primitive). */
  private[graft] def bpe_merge_step(syms: Column, left: Column, right: Column): Column =
    invoke(
      "bpeMergeStep",
      ArrayType(StringType, containsNull = false),
      Seq(syms, left, right))

  /** KLL quantile sketch aggregate over a numeric column: a mergeable
    * BINARY sketch per group — the quantile twin of `hll_sketch_agg`. See
    * [[KllSketchAgg]] for bounds. */
  def kll_sketch(c: Column, k: Int = 200): Column =
    GraftSql.column(KllSketchAgg(GraftSql.expression(c.cast("double")), k).toAggregateExpression())

  /** Merge a binary KLL sketch column (rollup aggregate). */
  def kll_merge(c: Column, k: Int = 200): Column =
    GraftSql.column(KllMergeAgg(GraftSql.expression(c), k).toAggregateExpression())

  /** Quantile estimates (`array<double>`) of a binary KLL sketch at the
    * given ranks. */
  def kll_quantiles(sketch: Column, probs: Seq[Double]): Column =
    invokeOn(KllOps.getClass, "kllQuantiles", ArrayType(DoubleType),
      Seq(sketch, lit(probs.toArray)))

  /** Gram/second-moment aggregate over an `array<float>` embedding column:
    * one `array<double>` of [n, sums, upper-tri products] per group — the
    * one-pass sufficient statistics for covariance/PCA ([[GramAgg]]). */
  def gram_agg(vec: Column, dim: Int): Column =
    GraftSql.column(GramAgg(GraftSql.expression(vec), dim).toAggregateExpression())

  /** Project a float vector onto broadcast PCA fit arrays (means d-vector,
    * components k×d row-major): `array<double>` of k scores. */
  def pca_project(vec: Column, means: Column, comps: Column): Column =
    invokeVec("pcaProject", ArrayType(DoubleType), Seq(vec, means, comps))

  /** Count–Min frequency sketch aggregate over a string column: a mergeable
    * BINARY sketch per group — the point-frequency twin of `kll_sketch`.
    * Deterministic for fixed (depth, width, seed); see [[CmsSketchAgg]]. */
  def cms_sketch(c: Column, depth: Int = 5, width: Int = 8192, seed: Int = 42): Column =
    GraftSql.column(CmsSketchAgg(GraftSql.expression(c), depth, width, seed).toAggregateExpression())

  /** Merge a binary CMS column (rollup aggregate — counter-wise sums, no
    * degradation). */
  def cms_merge(c: Column, depth: Int = 5, width: Int = 8192, seed: Int = 42): Column =
    GraftSql.column(CmsMergeAgg(GraftSql.expression(c), depth, width, seed).toAggregateExpression())

  /** Estimated occurrence count of `item` in a binary CMS (>= truth, <=
    * truth + eps·N w.h.p.). */
  def cms_estimate(sketch: Column, item: Column): Column =
    invokeOn(CmsOps.getClass, "cmsEstimate", LongType, Seq(sketch, item))

  /** Join-size estimate from two same-shape CMS: min-row inner product —
    * upper bound on Σ_k f1(k)·f2(k), exact when some row is collision-free
    * ([[CmsOps.cmsInnerProduct]]). */
  def cms_inner_product(a: Column, b: Column): Column =
    invokeOn(CmsOps.getClass, "cmsInnerProduct", LongType, Seq(a, b))

  /** Theta sketch aggregate over a long/int/string column: a mergeable
    * BINARY sketch per group supporting direct set algebra — see
    * [[ThetaSketchAgg]]. */
  def theta_sketch(c: Column, lgK: Int = 12): Column =
    GraftSql.column(ThetaSketchAgg(GraftSql.expression(c), lgK).toAggregateExpression())

  /** Union-merge a binary theta sketch column (rollup aggregate). */
  def theta_merge(c: Column, lgK: Int = 12): Column =
    GraftSql.column(ThetaUnionAgg(GraftSql.expression(c), lgK).toAggregateExpression())

  /** Distinct estimate of a binary theta sketch (exact below nominal k). */
  def theta_estimate(sketch: Column): Column =
    invokeOn(ThetaOps.getClass, "thetaEstimate", DoubleType, Seq(sketch))

  /** A ∩ B of two binary theta sketches, as a sketch (composable). */
  def theta_intersect(a: Column, b: Column): Column =
    invokeOn(ThetaOps.getClass, "thetaIntersect", BinaryType, Seq(a, b))

  /** A \ B of two binary theta sketches, as a sketch (composable). */
  def theta_anotb(a: Column, b: Column): Column =
    invokeOn(ThetaOps.getClass, "thetaAnotb", BinaryType, Seq(a, b))

  /** A ∪ B of two binary theta sketches, as a sketch (composable). */
  def theta_union_pair(a: Column, b: Column): Column =
    invokeOn(ThetaOps.getClass, "thetaUnionPair", BinaryType, Seq(a, b))

  /** Count of sorted-array boundaries strictly below `v` (binary search,
    * codegen'd) — quantile-bucket assignment for Z-ordering. */
  def rank_below(bounds: Column, v: Column): Column =
    invokeVec("rankBelow", LongType, Seq(bounds, v.cast(DoubleType)))

  /** Scalar int8 quantization of an `array<float>` vector against
    * per-dimension [lo, hi] bounds (double-array literals): BinaryType, one
    * byte per dimension. */
  def quantize_i8(vec: Column, lo: Seq[Double], hi: Seq[Double]): Column =
    invokeVec(
      "quantizeI8",
      BinaryType,
      Seq(vec, lit(lo.toArray), lit(hi.toArray)))

  /** Approximate cosine similarity of two int8-quantized (binary) vectors —
    * the shortlist scorer for [[graft.operators.Similarity.quantizedTopK]]. */
  def cosine_sim_i8(a: Column, b: Column): Column =
    invokeVec("cosineSimI8", DoubleType, Seq(a, b))

  /** Random-hyperplane LSH signature (`bits` sign bits packed in a long) of
    * an `array<float>` vector for LSH table `table`. Planes are implicit
    * (derived from a fixed hash), so this is a stateless one-pass expression:
    * no fit step, nothing to broadcast. */
  def lsh_sig(vec: Column, table: Int, bits: Int): Column =
    invokeVec(
      "lshSig",
      LongType,
      Seq(vec, GraftSql.column(Literal(table)), GraftSql.column(Literal(bits))))
}
