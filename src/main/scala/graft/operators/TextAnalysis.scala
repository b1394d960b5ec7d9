package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions._

/** Text-analysis operators for training-data pipelines. All pure column
  * expressions (single projection, codegen'd, zero shuffle). */
object TextAnalysis {

  /** Per-language marker-word sets for the n-gram-heuristic language id.
    * Deliberately tiny and transparent: score(lang) = number of marker-word
    * occurrences; argmax wins, first-listed language on ties. */
  val DefaultMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "fr" -> Seq("le", "la", "et"),
    "de" -> Seq("der", "und", "die"),
    "es" -> Seq("el", "y", "que"))

  private def wordCount(text: Column, word: String): Column =
    size(regexp_extract_all(lower(text), lit("\\b" + word + "\\b"), lit(0))).cast("long")

  /** (score columns, predicted language). */
  def langScores(text: Column, markers: Seq[(String, Seq[String])] = DefaultMarkers): Seq[(String, Column)] =
    markers.map { case (lang, words) =>
      lang -> words.map(w => wordCount(text, w)).reduce(_ + _)
    }

  def langId(text: Column, markers: Seq[(String, Seq[String])] = DefaultMarkers): Column = {
    val scores = langScores(text, markers)
    // argmax with ties broken by marker list order; 'und' (undetermined) when
    // every score is zero.
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s > 0 && s === best, lit(lang)).otherwise(acc)
    }
  }

  /** Per-script character counts + dominant script — the script-detection
    * complement of [[langId]] (marker words only separate languages within
    * a script; a multilingual web corpus needs the script split first).
    * Counts use explicit BMP codepoint ranges so any engine reproduces them
    * (Unicode script property classes differ across regex dialects); counts
    * are `len(text) - len(text with the class removed)`, a codegen'd
    * projection, zero shuffle. Dominant ties break latin > cyrillic > cjk >
    * arabic; all-zero counts yield 'none'. */
  def scriptCounts(text: Column): Seq[(String, Column)] = {
    def countClass(pattern: String): Column =
      (length(text) - length(regexp_replace(text, lit(pattern), lit("")))).cast("long")
    def range(lo: Int, hi: Int): String = s"[${lo.toChar}-${hi.toChar}]"
    Seq(
      "n_latin" -> countClass("[A-Za-z]"),
      "n_cyrillic" -> countClass(range(0x0400, 0x04FF)),
      "n_cjk" -> countClass(range(0x4E00, 0x9FFF)),
      "n_arabic" -> countClass(range(0x0600, 0x06FF)))
  }

  def dominantScript(text: Column): Column = {
    val c = scriptCounts(text).toMap
    val (la, cy, cj, ar) = (c("n_latin"), c("n_cyrillic"), c("n_cjk"), c("n_arabic"))
    when(la + cy + cj + ar === 0, lit("none"))
      .when(la >= cy && la >= cj && la >= ar, lit("latin"))
      .when(cy >= cj && cy >= ar, lit("cyrillic"))
      .when(cj >= ar, lit("cjk"))
      .otherwise(lit("arabic"))
  }

  /** Quality-scoring feature columns: character/word counts, punctuation and
    * stopword ratios, mean word length. The standard cheap filters in front
    * of a training-data pipeline. */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val words = size(regexp_extract_all(text, lit("[A-Za-z0-9_]+"), lit(0))).cast("long")
    val punct = size(regexp_extract_all(text, lit("[^A-Za-z0-9_\\s]"), lit(0))).cast("long")
    val stops = size(regexp_extract_all(lower(text), lit("\\b(the|a|of|and|is|in|to)\\b"), lit(0))).cast("long")
    Seq(
      "n_chars" -> length(text).cast("long"),
      "n_words" -> words,
      "punct_ratio" -> round(punct.cast("double") / greatest(length(text), lit(1)).cast("double"), 6),
      "stopword_ratio" -> round(stops.cast("double") / greatest(words, lit(1)).cast("double"), 6))
  }

  /** Gopher document-quality rule gate (Rae et al. 2021, "Scaling Language
    * Models", table A1): the full composite filter used to drop low-quality
    * web documents before LLM training, as ONE map-side projection — no
    * shuffle, no UDF, every signal a codegen'd native regex/arithmetic
    * expression. Signals and thresholds:
    *
    *  - word count in [minWords, maxWords] (whitespace tokens)
    *  - mean word length in [3, 10] (non-whitespace chars / words)
    *  - symbol-to-word ratio ("#" or ellipsis) <= 0.1
    *  - fraction of lines starting with a bullet <= 0.9
    *  - fraction of lines ending with an ellipsis <= 0.3
    *  - fraction of words containing an alphabetic character >= 0.8
    *  - at least 2 of the 8 Gopher stop words present
    *    (the, be, to, of, and, that, have, with)
    *
    * Ratios divide exact long counts and round at 6 dp BEFORE the threshold
    * compare, so the keep decision reproduces bit-for-bit on any engine.
    * `keep` is the conjunction of all seven flags. */
  def gopherQualityFlags(
      text: Column,
      minWords: Long = 50L,
      maxWords: Long = 100000L,
      stopWords: Seq[String] =
        Seq("the", "be", "to", "of", "and", "that", "have", "with")): Seq[(String, Column)] = {
    require(stopWords.nonEmpty, "stopWords must not be empty")
    val words = size(regexp_extract_all(text, lit("\\S+"), lit(0))).cast("long")
    val meanWordLen = round(
      length(regexp_replace(text, "\\s", "")).cast("long").cast("double") /
        greatest(words, lit(1L)).cast("double"), 6)
    val symbolRatio = round(
      size(regexp_extract_all(text, lit("#|\\.\\.\\.|…"), lit(0))).cast("long").cast("double") /
        greatest(words, lit(1L)).cast("double"), 6)
    val nLines = size(split(text, "\n")).cast("long")
    val bulletRatio = round(
      size(regexp_extract_all(text, lit("(?m)^[-*•]"), lit(0))).cast("long").cast("double") /
        nLines.cast("double"), 6)
    val ellipsisRatio = round(
      size(regexp_extract_all(text, lit("(?m)(\\.\\.\\.|…)$"), lit(0))).cast("long").cast("double") /
        nLines.cast("double"), 6)
    val alphaRatio = round(
      size(regexp_extract_all(text, lit("\\S*[A-Za-z]\\S*"), lit(0))).cast("long").cast("double") /
        greatest(words, lit(1L)).cast("double"), 6)
    val stopHits = stopWords
      .map(w => when(lower(text).rlike("\\b" + w + "\\b"), 1L).otherwise(0L))
      .reduce(_ + _)
    val flags = Seq(
      "flag_word_count" -> (words >= minWords && words <= maxWords),
      "flag_word_length" -> (meanWordLen >= 3.0 && meanWordLen <= 10.0),
      "flag_symbol_ratio" -> (symbolRatio <= 0.1),
      "flag_bullet" -> (bulletRatio <= 0.9),
      "flag_ellipsis" -> (ellipsisRatio <= 0.3),
      "flag_alpha" -> (alphaRatio >= 0.8),
      "flag_stopwords" -> (stopHits >= 2L))
    Seq(
      "n_words" -> words,
      "mean_word_len" -> meanWordLen,
      "symbol_ratio" -> symbolRatio,
      "bullet_ratio" -> bulletRatio,
      "ellipsis_ratio" -> ellipsisRatio,
      "alpha_ratio" -> alphaRatio,
      "stop_hits" -> stopHits) ++ flags ++
      Seq("keep" -> flags.map(_._2).reduce(_ && _))
  }

  /** C4 cleaning filter (Raffel et al. 2020 §2.2) — the line-grain
    * companion to [[gopherQualityFlags]]'s doc-grain flags, and the other
    * canonical web-corpus recipe: LINE rules rewrite the document (keep
    * only lines ending in terminal punctuation `.!?"`, with at least
    * `minLineWords` words, and not mentioning "javascript"), then DOC
    * rules flag the CLEANED text (≥ `minSentences` sentences counted as
    * terminal-punctuation runs, no "lorem ipsum", no `{`, no blocklist
    * word). Returns every input column plus `clean_text`, line/sentence
    * counts, the individual flags and the composite `keep`.
    *
    * Scale: a pure per-row projection — zero shuffle, embarrassingly
    * parallel. The line pass uses array lambdas (interpreted, not
    * codegen) deliberately: the alternative is posexplode → filter →
    * re-aggregate, which buys codegen at the price of a full corpus
    * shuffle — the wrong trade at any scale. */
  def c4Filter(
      df: DataFrame,
      textCol: String,
      minLineWords: Int = 3,
      minSentences: Int = 5,
      blocklist: Seq[String] = Seq("verboten")): DataFrame = {
    require(blocklist.nonEmpty, "blocklist must not be empty")
    val lines = split(col(textCol), "\n")
    val keepLine = (l: Column) =>
      rtrim(l).rlike("[.!?\"]$") &&
        size(regexp_extract_all(l, lit("\\S+"), lit(0))) >= minLineWords &&
        !contains(lower(l), lit("javascript"))
    val kept = filter(lines, keepLine)
    val clean = array_join(kept, "\n")
    val blockHit = blocklist
      .map(w => lower(col("clean_text"))
        .rlike("\\b" + java.util.regex.Pattern.quote(w.toLowerCase) + "\\b"))
      .reduce(_ || _)
    df
      .withColumn("clean_text", clean)
      .withColumn("n_lines_kept", size(kept).cast("long"))
      .withColumn("n_lines_dropped", (size(lines) - size(kept)).cast("long"))
      .withColumn("n_sentences",
        size(regexp_extract_all(col("clean_text"), lit("[.!?]+"), lit(0))).cast("long"))
      .withColumn("flag_sentences", col("n_sentences") >= minSentences.toLong)
      .withColumn("flag_lorem", !contains(lower(col("clean_text")), lit("lorem ipsum")))
      .withColumn("flag_brace", !contains(col("clean_text"), lit("{")))
      .withColumn("flag_blocklist", !blockHit)
      .withColumn("keep",
        col("flag_sentences") && col("flag_lorem") && col("flag_brace") && col("flag_blocklist"))
  }

  /** Token counts: whitespace tokens and BPE-ish regex tokens (word pieces +
    * standalone punctuation), the usual "how many tokens is this corpus"
    * estimator. */
  def tokenCounts(text: Column): Seq[(String, Column)] = Seq(
    "ws_tokens" -> size(regexp_extract_all(text, lit("\\S+"), lit(0))).cast("long"),
    "bpe_tokens" -> size(regexp_extract_all(text, lit("[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]"), lit(0))).cast("long"))

  /** Corpus word-frequency table: explode word tokens, count, top-N with a
    * deterministic (count desc, word asc) order. Partial aggregation makes
    * the shuffle carry one row per distinct word per partition — the
    * standard scalable term-frequency job. */
  def wordFreq(df: DataFrame, textCol: String, topN: Int): DataFrame =
    df.select(explode(regexp_extract_all(lower(col(textCol)), lit("[a-z0-9_]+"), lit(0))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word").asc)
      .limit(topN)

  /** Top-k TERM DRIFT between two corpus snapshots — the term-grain "what
    * changed between these dumps" readout the corpus-level gates (T18
    * snapshot n-gram Jaccard, X38 snapshot diff) cannot give: rank both
    * snapshots' top-`topK` vocabularies on the identical deterministic
    * (count desc, word) order, full-outer join the two lists, and label
    * each term `entered` / `dropped` / `up` / `down` / `stable` with its
    * rank delta — new boilerplate flooding in or a domain draining out
    * shows up as a readable table, not a similarity scalar.
    *
    * Everything is exact integers + ROW_NUMBER over a pinned total order,
    * so the whole report hash-gates; both top-k cuts are bounded, the
    * join is k-row. One tokenize-count pass per snapshot ([[wordFreq]]'s
    * tokenization). */
  def termDrift(
      oldDf: DataFrame,
      newDf: DataFrame,
      textCol: String,
      topK: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topK >= 1, s"topK must be >= 1, got $topK")
    // top-k cut FIRST via orderBy+limit (TakeOrdered: per-partition heaps,
    // k-row merge — the wordFreq pattern), so the rank window only ever
    // sees k rows; ranking the full vocabulary through an unpartitioned
    // row_number would funnel every distinct word into one partition.
    def ranked(df: DataFrame, nCol: String, rCol: String): DataFrame =
      df.select(explode(regexp_extract_all(lower(col(textCol)),
          lit("[a-z0-9_]+"), lit(0))).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as(nCol))
        .orderBy(col(nCol).desc, col("word"))
        .limit(topK)
        .withColumn(rCol,
          row_number().over(Window.orderBy(col(nCol).desc, col("word"))))
    val o = ranked(oldDf, "n_old", "rank_old")
    val n = ranked(newDf, "n_new", "rank_new")
    o.join(n, Seq("word"), "full_outer")
      .select(
        col("word"), col("rank_old"), col("rank_new"),
        col("n_old"), col("n_new"),
        (col("rank_old") - col("rank_new")).as("rank_delta"),
        when(col("rank_old").isNull, "entered")
          .when(col("rank_new").isNull, "dropped")
          .when(col("rank_old") > col("rank_new"), "up")
          .when(col("rank_old") < col("rank_new"), "down")
          .otherwise("stable").as("status"))
      .orderBy(col("word"))
  }

  /** Zipf slope fit over the corpus word-frequency curve — OLS of
    * ln(freq) on ln(rank) across the top-`topN` words (deterministic
    * (freq desc, word) ranking). Healthy natural-language corpora sit
    * near slope −1 (Zipf 1949); a flat slope flags templated/boilerplate
    * corpora, a cliff flags narrow vocabulary — a one-row corpus health
    * gate next to [[wordFreq]]. The fit runs over ≤ topN points, so the
    * only float sums span a bounded, tiny set. */
  def zipfFit(df: DataFrame, textCol: String, topN: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = wordFreq(df, textCol, topN)
      .withColumn("__r",
        row_number().over(Window.orderBy(col("n").desc, col("word"))))
      .select(
        log(col("__r").cast("double")).as("x"),
        log(col("n").cast("double")).as("y"))
    val k = count(lit(1)).cast("double")
    val slope = (k * sum(col("x") * col("y")) - sum(col("x")) * sum(col("y"))) /
      (k * sum(col("x") * col("x")) - sum(col("x")) * sum(col("x")))
    pts.agg(
      count(lit(1)).as("n_points"),
      round(slope, 6).as("slope"),
      round((sum(col("y")) - slope * sum(col("x"))) / k, 6).as("intercept"))
  }

  /** Heaps' law vocabulary-growth fit — V(N) = K·N^β over the corpus read
    * in `idCol` order (Heaps 1978; healthy natural language sits at
    * β ≈ 0.4–0.6; β near 0 flags a closed template vocabulary, β near 1
    * flags gibberish/id-like token soup). The growth curve is built
    * WITHOUT any sequential scan: each word's FIRST document is one
    * aggregate (min id per word), so per-document new-word counts and
    * token counts reduce to doc-grain partial aggs, and both cumulative
    * axes ride the two-pass range-partitioned prefix pass
    * ([[graft.operators.Relational.globalRunningSums]]) — no
    * single-partition window at any corpus size.
    *
    * Determinism: ln of exact cumulative longs quantizes to 1e-9 longs
    * per point BEFORE the OLS moment sums (decimal(38,0) — point count ×
    * 4e20-scale products), so slope/intercept are fixed chains of exact
    * integer moments any engine replays. Returns one row
    * (n_points, beta, ln_k). */
  def heapsFit(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int = 1): DataFrame = {
    val toks = df.select(
      col(idCol).as("__id"),
      explode(regexp_extract_all(lower(col(textCol)),
        lit(s"[a-z0-9]{$minLen,}"), lit(0))).as("__w"))
    val perDocTokens = toks.groupBy(col("__id")).agg(count(lit(1)).as("__nt"))
    val perDocNew = toks.groupBy(col("__w")).agg(min(col("__id")).as("__id"))
      .groupBy(col("__id")).agg(count(lit(1)).as("__nw"))
    val perDoc = perDocTokens
      .join(perDocNew, Seq("__id"), "left")
      .select(col("__id"), col("__nt"), coalesce(col("__nw"), lit(0L)).as("__nw"))
    val cum = Relational.globalRunningSums(perDoc, Seq(col("__id")),
      Seq("__nt" -> "__ct", "__nw" -> "__cv"))
    def q(c: Column): Column = floor(log(c.cast("double")) * 1e9 + 0.5).cast("long")
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val pts = cum.filter(col("__ct") > 0 && col("__cv") > 0)
      .select(q(col("__ct")).as("__x"), q(col("__cv")).as("__y"))
    val agg = pts.agg(
      count(lit(1)).as("__n"),
      sum(dec(col("__x"))).as("__sx"),
      sum(dec(col("__y"))).as("__sy"),
      sum(dec(col("__x")) * dec(col("__x"))).as("__sxx"),
      sum(dec(col("__x")) * dec(col("__y"))).as("__sxy"))
    val n = dec(col("__n"))
    val slopeNum = n * col("__sxy") - col("__sx") * col("__sy")
    val slopeDen = n * col("__sxx") - col("__sx") * col("__sx")
    agg.select(
      col("__n").as("n_points"),
      round(slopeNum.cast("double") / slopeDen.cast("double"), 6).as("beta"),
      round((col("__sy").cast("double") -
          (slopeNum.cast("double") / slopeDen.cast("double")) * col("__sx").cast("double")) /
        col("__n").cast("double") / 1e9, 6).as("ln_k"))
  }

  /** Corpus vocabulary statistics — type-token ratio and hapax-legomena
    * fraction (the Zipf-tail mass): one word-count partial agg, then one
    * row of exact-integer-backed ratios. A shrinking TTR across snapshots
    * flags template flooding; a collapsing hapax fraction flags dedup
    * over-aggressiveness. */
  def vocabStats(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(
        regexp_extract_all(lower(col(textCol)), lit("[a-z0-9_]+"), lit(0))).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__c"))
      .agg(
        sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("__c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(
        col("n_tokens"), col("n_types"), col("n_hapax"),
        round(col("n_types").cast("double") / col("n_tokens").cast("double"), 6)
          .as("ttr"),
        round(col("n_hapax").cast("double") / col("n_types").cast("double"), 6)
          .as("hapax_frac"))

  /** Vocabulary richness estimators — Chao1 lower bound on the TRUE
    * vocabulary size `S_obs + f₁²/(2f₂)` and the Good–Turing unseen-
    * probability mass `f₁/N`, from the singleton/doubleton counts of the
    * word histogram: "how much vocabulary has this corpus NOT seen yet",
    * the coverage question behind corpus-growth curves. One word-count
    * partial agg + one frequency-of-frequency rollup; the estimators are
    * single IEEE ops from exact integer counts. f₂ = 0 falls back to the
    * bias-corrected f₁(f₁−1)/2 form (Chao 1984). */
  def vocabRichness(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(
        regexp_extract_all(lower(col(textCol)), lit("[a-z0-9_]+"), lit(0))).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__c"))
      .agg(
        sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("__c") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("__c") === 2L, 1L).otherwise(0L)).as("f2"))
      .select(
        col("n_tokens"), col("n_types"), col("f1"), col("f2"),
        round(col("n_types").cast("double") +
          when(col("f2") > 0,
            col("f1").cast("double") * col("f1").cast("double") /
              (lit(2.0) * col("f2").cast("double")))
            .otherwise(col("f1").cast("double") * (col("f1") - lit(1L)).cast("double") /
              lit(2.0)), 6).as("chao1"),
        round(col("f1").cast("double") / col("n_tokens").cast("double"), 6)
          .as("gt_unseen_mass"))

  /** PMI collocations — adjacent word pairs whose co-occurrence beats
    * independence: pmi = ln(c₁₂·N / (c₁·c₂)) over bigram count c₁₂,
    * unigram counts c, bigram total N. The top-`topN` ranking orders by
    * the exact-integer-backed RATIO double (deterministic bits — ln is
    * the one engine-wobbly op, so it prices the output but never the
    * order) with (w1, w2) ties, and the `minCount` support filter runs
    * BEFORE the unigram joins so the pair table shrinks first. Shapes:
    * the corpus is tokenized once, into one (w1, w2) count table pinned by
    * a local checkpoint (`w1` NULL for a document's first token), and the
    * bigram, unigram and total counts are all read from it; then two
    * equi-joins on the word key + one bounded top-N. */
  def collocations(
      df: DataFrame, textCol: String, minCount: Long = 5L, topN: Int = 50): DataFrame = {
    val pairs = bigramTerms(df.select(col(textCol)), Nil, textCol, "[a-z0-9_]+")
      .groupBy(col("__w1").as("w1"), col("__w2").as("w2")).agg(count(lit(1)).as("c12"))
      .localCheckpoint(true)
    val big = pairs.filter(col("w1").isNotNull)
    val uni = pairs.groupBy(col("w2").as("__w")).agg(sum(col("c12")).as("__c"))
    val nn = big.agg(sum(col("c12")).as("__n"))
    big.filter(col("c12") >= minCount)
      .crossJoin(broadcast(nn))
      .join(uni.select(col("__w").as("w1"), col("__c").as("__c1")), Seq("w1"))
      .join(uni.select(col("__w").as("w2"), col("__c").as("__c2")), Seq("w2"))
      .withColumn("__ratio",
        col("c12").cast("double") * col("__n").cast("double") /
          (col("__c1").cast("double") * col("__c2").cast("double")))
      .orderBy(col("__ratio").desc, col("w1"), col("w2"))
      .limit(topN)
      .select(col("w1"), col("w2"), col("c12"), round(log(col("__ratio")), 6).as("pmi"))
  }

  /** Word-repetition quality signal per document — the Gopher-style "most
    * frequent word fraction" filter used to drop boilerplate/spam from LLM
    * training corpora: `top_word_ratio` = occurrences of the most common
    * word / total words. Two partial hash aggregates (doc+word, then doc),
    * both map-side combined, so the shuffles carry distinct keys only —
    * the scalable shape at any corpus size. Tokenization is a plain
    * lowercase whitespace split so any engine reproduces it bit-for-bit. */
  def wordRepetition(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      explode(split(lower(col(textCol)), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col(idCol), col("word"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col(idCol))
      .agg(
        sum(col("__n")).as("n_words"),
        round(max(col("__n")).cast("double") / sum(col("__n")), 6).as("top_word_ratio"))

  /** Character-entropy quality score — the gibberish / encoded-blob filter:
    * Shannon entropy (nats) of the per-document character distribution.
    * Natural text sits in a narrow entropy band; base64 blobs and
    * single-char spam fall outside it. Uses the identity
    * H = ln n − (Σ c·ln c)/n so only per-char counts aggregate (two partial
    * hash aggregates, like [[wordRepetition]]); the Σ c·ln c terms round to
    * 6 dp and sum as DECIMAL so the result is partition-order-independent
    * and engine-reproducible. */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(split(col(textCol), "")).as("__ch"))
      .filter(col("__ch") =!= "")
      .groupBy(col(idCol), col("__ch"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(
        sum(col("__c")).as("n_chars"),
        round(
          log(sum(col("__c")).cast("double")) -
            (sum(round(col("__c") * log(col("__c").cast("double")), 6).cast("decimal(28,6)"))
              .cast("double") / sum(col("__c"))), 6)
          .as("char_entropy"))

  /** Statistical language-model quality score (CCNet-style LM filter,
    * self-trained): a word-bigram model estimated from the corpus itself,
    * each document scored by its average bigram log-probability
    * ln(c(w1 w2) / c(w1 ·)) — low scores flag text the corpus's own
    * statistics find improbable (gibberish, boilerplate soup). Two count
    * aggregates (bigram, then its w1 marginal), one co-partitioned join
    * back on the bigram, the vocabulary-sized marginal broadcast.
    * Per-bigram log-probs are rounded to 6 dp and summed as DECIMAL so the
    * per-doc mean is exact and partition-order-independent — float
    * summation order would otherwise make the last bits engine-dependent.
    * A document with no non-whitespace character is dropped, as
    * [[tfIdfTopTerms]] and the `lmTokens` scorers drop it: split on single
    * spaces it would yield bigrams of empty words. */
  def lmBigramScore(
      df: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val bi = df.filter(col(textCol).rlike("\\S")).select(
      col(idCol),
      explode(Decontaminate.wordNgrams(col(textCol), 2)).as("bigram"))
    val cBi = bi.groupBy(col("bigram")).agg(count(lit(1)).as("__cb"))
    val cUni = cBi
      .withColumn("__w1", substring_index(col("bigram"), " ", 1))
      .groupBy(col("__w1")).agg(sum(col("__cb")).as("__cu"))
    bi
      .join(broadcast(cBi), "bigram")
      .withColumn("__w1", substring_index(col("bigram"), " ", 1))
      .join(broadcast(cUni), "__w1")
      .withColumn(
        "__lp",
        round(log(col("__cb").cast("double") / col("__cu")), 6).cast("decimal(28,6)"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        // divide in DOUBLE from the exact decimal sum: decimal/long division
        // scale rules differ across engines and can round apart at the 6dp
        // boundary (caught by the sf0.001 cross-scale gate)
        round(sum(col("__lp")).cast("double") / count(lit(1)).cast("double"), 6)
          .as("avg_logprob"))
  }

  /** Overlapping character-window chunking — the RAG / long-document
    * ingestion step: windows of `size` chars starting every `size -
    * overlap` chars, the final window shortened to the remainder. A pure
    * codegen'd projection + explode (zero shuffle); start offsets and
    * substring semantics are plain SQL so any engine reproduces the chunk
    * boundaries bit-for-bit. Output: (idCol, chunk_idx 0-based,
    * chunk_text). */
  def chunkText(
      df: DataFrame,
      idCol: String,
      textCol: String,
      size: Int,
      overlap: Int): DataFrame = {
    require(size > overlap && overlap >= 0, s"need size > overlap >= 0, got ($size, $overlap)")
    val stride = size - overlap
    val starts = sequence(
      lit(1),
      greatest(length(col(textCol)) - overlap, lit(1)),
      lit(stride))
    df.select(
      col(idCol),
      col(textCol),
      posexplode(starts).as(Seq("chunk_idx", "__start")))
      .select(
        col(idCol),
        col("chunk_idx").cast("long").as("chunk_idx"),
        expr(s"substring(`$textCol`, __start, $size)").as("chunk_text"))
  }

  /** Top TF-IDF terms per document: tf from a (doc, term) partial aggregate,
    * document frequency from a second partial aggregate over the distinct
    * (doc, term) pairs, idf = ln(N / df) with the corpus size N joined in as
    * a broadcast one-row aggregate (never a driver action), and the per-doc
    * top-k selected by the native [[Relational.topKPerKey]] operator —
    * bounded heaps, no Window/Sort. Ranking uses the 6-dp ROUNDED score
    * (ties then broken by term) so any engine reproduces the cut
    * deterministically — raw float ranking can flip on 1-ulp libm
    * differences. The vocabulary aggregate is broadcast, which suits word
    * vocabularies. */
  def tfIdfTopTerms(
      df: DataFrame,
      idCol: String,
      textCol: String,
      topPerDoc: Int): DataFrame = {
    val terms = df
      .select(col(idCol), explode(split(lower(col(textCol)), " ")).as("term"))
      .filter(col("term") =!= "")
    val tf = terms.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("__n"))
    val scored = tf
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(n))
      .withColumn(
        "tfidf",
        round(col("tf") * log(col("__n").cast("double") / col("df")), 6))
      .select(col(idCol), col("term"), col("tfidf"))
    Relational.topKPerKey(
      scored,
      keyCols = Seq(idCol),
      sort = Seq("tfidf" -> true, "term" -> false),
      k = topPerDoc)
  }

  /** Inverted-index build — the materialized retrieval artifact BEHIND
    * [[bm25TopK]]'s scoring (ship the index, not the corpus): one row per
    * term carrying document frequency and the top-`maxPostings` postings
    * under the (tf desc, doc asc) TOTAL order as an array of
    * (doc_id, tf) structs. doc_freq counts ALL postings; only the stored
    * list caps — via the native TopKPerKey bounded heap, so a corpus-wide
    * hot term never materializes an unbounded list (the posting-list cap
    * every real engine applies). One (term, doc) partial agg; the cap and
    * the final per-term fold reuse its shuffle key. */
  def invertedIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxPostings: Int): DataFrame = {
    require(maxPostings >= 1, s"maxPostings must be >= 1, got $maxPostings")
    val postings = df
      .select(col(idCol).as("__doc"),
        explode(regexp_extract_all(lower(col(textCol)), lit("[a-z0-9]+"), lit(0))).as("term"))
      .groupBy(col("term"), col("__doc"))
      .agg(count(lit(1)).as("tf"))
    val docFreq = postings.groupBy(col("term")).agg(count(lit(1)).as("doc_freq"))
    val capped = Relational.topKPerKey(
      postings, Seq("term"), Seq(("tf", true), ("__doc", false)), maxPostings)
    capped
      .groupBy(col("term"))
      .agg(array_sort(collect_list(struct((-col("tf")).as("__negTf"),
        col("__doc").as("doc_id"), col("tf")))).as("__p"))
      .join(docFreq, "term")
      .select(
        col("term"), col("doc_freq"),
        transform(col("__p"),
          e => struct(e.getField("doc_id").as("doc_id"), e.getField("tf").as("tf")))
          .as("postings"))
  }

  /** BM25 ranked retrieval (Robertson–Spärck Jones; the Lucene/Elasticsearch
    * scoring function) as a pure relational pipeline — full-text top-k
    * search over the corpus without an external index. For each (query,
    * document) pair, `score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))`
    * with the Lucene idf `ln((N - df + 0.5)/(df + 0.5) + 1)`.
    *
    * Scale shape: the corpus side explodes to tokens but filters to the
    * QUERY vocabulary before the only corpus shuffle, so the aggregate
    * carries (doc, term) pairs for matched terms only; document frequency
    * and corpus stats are vocabulary-bounded broadcasts; the final top-k
    * runs on the native [[graft.plans.TopKPerKeyPlan]] bounded heaps — no
    * Window, no full sort, no driver action.
    *
    * Determinism: each term's contribution quantizes to micro-units
    * (`floor(x·1e6 + 0.5)` as long) BEFORE the per-(query,doc) sum, so the
    * aggregation is exact long arithmetic — partition-order-independent and
    * engine-portable; ranking ties break by document id. Tokenization is
    * the portable lowercase space-split used corpus-wide. */
  def bm25TopK(
      df: DataFrame,
      idCol: String,
      textCol: String,
      queries: Seq[(String, String)],
      topK: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val qTerms = queries.flatMap { case (qid, qtext) =>
      qtext.toLowerCase.split(" ").filter(_.nonEmpty).distinct.map(qid -> _)
    }
    require(qTerms.nonEmpty, "queries must contain at least one term")
    val qdf = broadcast(qTerms.toDF("query_id", "__qterm"))
    val termSet = qTerms.map(_._2).distinct
    val tokens = regexp_extract_all(lower(col(textCol)), lit("[^ ]+"), lit(0))
    val toks = df.select(
      col(idCol),
      size(tokens).cast("long").as("__dl"),
      explode(tokens).as("__term"))
    val tf = toks
      .filter(col("__term").isin(termSet: _*))
      .groupBy(col(idCol), col("__term"))
      .agg(count(lit(1)).as("__tf"), max(col("__dl")).as("__dl"))
    val dfreq = tf.groupBy(col("__term")).agg(count(lit(1)).as("__df"))
    val stats = df.agg(
      count(lit(1)).as("__n"),
      sum(size(tokens).cast("long")).as("__tot"))
    val avgdl = col("__tot").cast("double") / col("__n").cast("double")
    val idf = log((col("__n") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5)) + lit(1.0))
    val termScore = idf * (col("__tf") * (lit(k1) + lit(1.0))) /
      (col("__tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("__dl") / avgdl))
    val scored = tf
      .join(broadcast(dfreq), "__term")
      .join(qdf, col("__term") === col("__qterm"))
      .crossJoin(broadcast(stats))
      .select(
        col("query_id"), col(idCol),
        floor(termScore * lit(1000000.0) + lit(0.5)).cast("long").as("__sc"))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("__sc")).as("__s"))
    Relational
      .topKPerKey(scored, Seq("query_id"), Seq("__s" -> true, idCol -> false), topK,
        rankCol = Some("rnk"))
      .select(
        col("query_id"), col(idCol),
        (col("__s") / lit(1000000.0)).as("score"), col("rnk"))
  }

  /** Burrows' Delta (2002) — the stylometry/authorship distance between
    * sources: over the corpus's `m` most frequent words, each source's
    * relative frequency z-scores against the across-source distribution,
    * and Delta(a,b) = mean |z_a − z_b|. Low Delta = same "stylistic hand"
    * (near-duplicate source detection at the distribution level).
    *
    * Determinism: relative frequencies QUANTIZE to 1e-9 longs immediately
    * (one division each), so the per-word across-source moments are exact
    * integer sums and each z is a fixed IEEE chain; zero-variance words
    * drop on both engines; |z_a − z_b| re-quantizes to 1e-9 longs before
    * the per-pair sum, and Delta is one final division. The grid is
    * densified (source × top-word, absent = 0) so sparse sources z-score
    * correctly. Everything after the token count runs on the
    * (sources × m)-bounded table. */
  def burrowsDelta(
      df: DataFrame,
      sourceCol: String,
      textCol: String,
      topWords: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(
      col(sourceCol).as("__s"),
      explode(regexp_extract_all(lower(col(textCol)), lit("[a-z0-9]+"),
        lit(0))).as("__w"))
    val cnt = toks.groupBy(col("__s"), col("__w")).agg(count(lit(1)).as("__c"))
    val tot = cnt.groupBy(col("__s")).agg(sum(col("__c")).as("__t"))
    // top-m by (count desc, word asc) through TakeOrdered's bounded heaps —
    // the vocabulary table is data-derived (can be 1e8 words), so a
    // single-partition row_number window here would be the X145 stall
    val top = cnt.groupBy(col("__w"))
      .agg(sum(col("__c")).as("__g"))
      .orderBy(col("__g").desc, col("__w").asc)
      .limit(topWords)
      .select(col("__w"))
    val grid = tot.crossJoin(broadcast(top))
      .join(cnt, Seq("__s", "__w"), "left")
      .select(col("__s"), col("__w"),
        floor(coalesce(col("__c"), lit(0L)).cast("double") /
          col("__t").cast("double") * 1e9 + 0.5).cast("long").as("__fq"))
    val wAllW = Window.partitionBy(col("__w"))
    val kSrc = count(lit(1)).over(wAllW).cast("double")
    val m1 = sum(col("__fq")).over(wAllW).cast("double") / kSrc
    val vr = sum(col("__fq").cast("decimal(38,0)") * col("__fq")).over(wAllW)
      .cast("double") / kSrc - m1 * m1
    val z = grid
      .withColumn("__var", vr)
      .withColumn("__z", (col("__fq").cast("double") - m1) / sqrt(vr))
      .filter(col("__var") > 0)
    val right = z.select(col("__s").as("__s2"), col("__w"),
      col("__z").as("__z2"))
    z.join(right, Seq("__w"))
      .filter(col("__s") < col("__s2"))
      .groupBy(col("__s"), col("__s2"))
      .agg(
        count(lit(1)).as("m_words"),
        round(sum(floor(abs(col("__z") - col("__z2")) * 1e9 + 0.5)
          .cast("long")).cast("double") / lit(1e9) /
          count(lit(1)).cast("double"), 6).as("delta"))
      .select(col("__s").as("source_a"), col("__s2").as("source_b"),
        col("m_words"), col("delta"))
  }

  /** TextRank keywords (Mihalcea & Tarau 2004) — corpus-level keyword
    * ranking as PageRank over the word co-occurrence graph: words are
    * nodes, an undirected edge joins words appearing within a `window`-
    * token sliding window (adjacent tokens at window=2), and the
    * stationary score ranks keywords globally.
    *
    * Tokenization is the corpus-standard lowercase [a-z0-9]+ extraction
    * with words under `minLen` dropped (the cheap stopword proxy the
    * original paper's POS filter approximates). Adjacent-pair edges are a
    * pure MAP-SIDE zip of each doc's token list (no position join, no
    * doc ids), canonicalized distinct and symmetrized; the rank loop IS
    * [[Graph.pageRank]] — 1e-12-quantized contributions,
    * 1e-9-re-quantized ranks — so the whole pipeline replays in the same
    * chained-CTE oracle shape. */
  def textRank(
      df: DataFrame,
      textCol: String,
      topK: Int = 50,
      minLen: Int = 4,
      iterations: Int = 5): DataFrame = {
    val lst = filter(
      regexp_extract_all(lower(col(textCol)), lit("[a-z0-9]+"), lit(0)),
      t => length(t) >= minLen)
    val pairs = df
      .select(lst.as("__l"))
      .filter(size(col("__l")) >= 2)
      .select(explode(zip_with(
        slice(col("__l"), lit(1), size(col("__l")) - 1),
        slice(col("__l"), lit(2), size(col("__l")) - 1),
        (x, y) => struct(x.as("w1"), y.as("w2")))).as("__p"))
      .select(col("__p.w1").as("__w1"), col("__p.w2").as("__w2"))
    val edges = pairs
      .filter(col("__w1") =!= col("__w2"))
      .select(
        least(col("__w1"), col("__w2")).as("a"),
        greatest(col("__w1"), col("__w2")).as("b"))
      .distinct()
    val und = edges.unionByName(edges.select(col("b").as("a"), col("a").as("b")))
    val ranked = Graph.pageRank(und, "a", "b", iterations)
    Relational.topKPerKey(
      ranked.withColumn("__g", lit(1)), Seq("__g"),
      Seq("rank" -> true, "id" -> false), topK, rankCol = Some("rnk"))
      .select(col("id").as("word"), col("rank"), col("rnk"))
  }

  /** RAKE keyword extraction (Rose et al. 2010) — top multi-word key
    * phrases per document without any corpus model: text splits into
    * candidate phrases at stopword/punctuation boundaries; each word's
    * score is degree/freq (degree = Σ length of phrases it appears in),
    * a phrase scores the sum of its words' scores.
    *
    * Determinism: freq/degree exact longs over ALL phrase occurrences;
    * each word score is ONE division quantized to a 1e-9 long before the
    * per-phrase sum; the top-k ties break on (score, phrase). The
    * stopword pass runs TWICE (adjacent stopwords share a delimiting
    * space — one pass leaves every other one standing), identically on
    * both engines. All phrase work is per-document map-side; the only
    * shuffles carry (doc, word) and (doc, phrase) keys. */
  def rakeKeywords(
      df: DataFrame,
      idCol: String,
      textCol: String,
      topK: Int = 3): DataFrame = {
    val stopWords = Seq("a", "an", "the", "and", "or", "but", "of", "to",
      "in", "on", "for", "with", "is", "are", "was", "be", "that", "this",
      "it", "as", "at", "by", "from", "not", "have")
    val norm = trim(regexp_replace(lower(col(textCol)), "[^a-z]+", " "))
    // token-list stopword marking: every stopword becomes its own phrase
    // delimiter regardless of how many stand adjacent (the iterated-regex
    // form only removed alternate stopwords in long runs, because each
    // match consumed both delimiting spaces)
    val marked = array_join(
      transform(split(norm, " "),
        w => when(w.isin(stopWords: _*), lit("|")).otherwise(w)),
      " ")
    val ph = df
      .select(col(idCol), explode(split(marked, "[|]")).as("__p0"))
      .select(col(idCol),
        trim(regexp_replace(col("__p0"), " +", " ")).as("phrase"))
      .filter(col("phrase") =!= "")
    val phw = ph.select(
      col(idCol),
      explode(split(col("phrase"), " ")).as("__w"),
      size(split(col("phrase"), " ")).cast("long").as("__plen"))
    val ws = phw.groupBy(col(idCol), col("__w"))
      .agg(count(lit(1)).as("__freq"), sum(col("__plen")).as("__deg"))
    val pdw = ph.dropDuplicates(idCol, "phrase")
      .select(col(idCol), col("phrase"),
        explode(split(col("phrase"), " ")).as("__w"))
    val scored = pdw
      .join(ws, Seq(idCol, "__w"))
      .groupBy(col(idCol), col("phrase"))
      .agg(sum(floor(col("__deg").cast("double") / col("__freq").cast("double")
        * 1e9 + 0.5).cast("long")).as("__sq"))
    Relational
      .topKPerKey(scored, Seq(idCol), Seq("__sq" -> true, "phrase" -> false),
        topK, rankCol = Some("rnk"))
      .select(col(idCol), col("phrase"),
        round(col("__sq").cast("double") / lit(1e9), 6).as("score"), col("rnk"))
  }

  /** Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty 2001)
    * — the language-model ranking next to [[bm25TopK]], sharing its
    * tokenization and plan shape:
    * score(q,d) = Σ_{t∈q∩d} ln(1 + tf·T/(μ·cf_t)) + |q|·ln(μ/(dl+μ)),
    * with cf_t the collection frequency and T total corpus tokens. Docs
    * matching no query term are absent (they'd rank purely by length).
    *
    * Counts stay exact longs; each matched-term score and the per-doc
    * length normalizer are fixed log chains QUANTIZED to 1e-6 longs
    * before summation (the bm25 discipline), so the ranking replays in
    * SQL. Top-k per query through the native bounded-heap operator. */
  def queryLikelihoodTopK(
      df: DataFrame,
      idCol: String,
      textCol: String,
      queries: Seq[(String, String)],
      topK: Int,
      mu: Double = 2000.0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // per-term query counts: a repeated query term weights its matched-term
    // score by its query term frequency and |q| counts multiplicity — the
    // full Dirichlet query-likelihood decomposition (a distinct-term |q|
    // would under-weight repeated terms)
    val qTerms = queries.flatMap { case (qid, qtext) =>
      val ts = qtext.toLowerCase.split(" ").filter(_.nonEmpty)
      ts.groupBy(identity).toSeq.sortBy(_._1).map { case (t, occ) =>
        (qid, t, occ.length.toLong, ts.length.toLong)
      }
    }
    require(qTerms.nonEmpty, "queries must contain at least one term")
    val qdf = broadcast(qTerms.toDF("query_id", "__qterm", "__qtf", "__nq"))
    val termSet = qTerms.map(_._2).distinct
    val tokens = regexp_extract_all(lower(col(textCol)), lit("[^ ]+"), lit(0))
    val toks = df.select(
      col(idCol),
      size(tokens).cast("long").as("__dl"),
      explode(tokens).as("__term"))
    val tf = toks
      .filter(col("__term").isin(termSet: _*))
      .groupBy(col(idCol), col("__term"))
      .agg(count(lit(1)).as("__tf"), max(col("__dl")).as("__dl"))
    val cf = tf.groupBy(col("__term")).agg(sum(col("__tf")).as("__cf"))
    val stats = df.agg(sum(size(tokens).cast("long")).as("__tot"))
    val termScore = log(lit(1.0) + col("__tf").cast("double") *
      col("__tot").cast("double") / (lit(mu) * col("__cf").cast("double")))
    val scored = tf
      .join(broadcast(cf), "__term")
      .join(qdf, col("__term") === col("__qterm"))
      .crossJoin(broadcast(stats))
      .select(
        col("query_id"), col(idCol), col("__dl"), col("__nq"),
        (col("__qtf") *
          floor(termScore * lit(1000000.0) + lit(0.5)).cast("long")).as("__sc"))
      .groupBy(col("query_id"), col(idCol))
      .agg((sum(col("__sc")) +
        floor(max(col("__nq")).cast("double") *
          log(lit(mu) / (max(col("__dl")).cast("double") + lit(mu))) *
          lit(1000000.0) + lit(0.5)).cast("long")).as("__s"))
    Relational
      .topKPerKey(scored, Seq("query_id"), Seq("__s" -> true, idCol -> false),
        topK, rankCol = Some("rnk"))
      .select(
        col("query_id"), col(idCol),
        (col("__s") / lit(1000000.0)).as("score"), col("rnk"))
  }

  /** Within-document duplicate n-gram fractions — the Gopher repetition
    * filters (Rae et al. 2021 §A1.1) used to drop templated/spammy docs:
    * `dup_ngram_fraction` = fraction of the doc's word n-grams that are
    * repeats of an earlier one; `dup_char_fraction` = fraction of n-gram
    * characters covered by grams occurring more than once. Docs with fewer
    * than `n` tokens have no grams and are absent. Two partial hash
    * aggregates (doc+gram, then doc), both map-side combined — the shuffles
    * carry distinct keys only, the scalable shape at any corpus size.
    * Tokenization matches [[Decontaminate.wordNgrams]] (plain lowercase
    * single-space split) so any engine reproduces it bit-for-bit. */
  def duplicateNgramStats(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol), explode(Decontaminate.wordNgrams(col(textCol), n)).as("__g"))
      .groupBy(col(idCol), col("__g"))
      .agg(count(lit(1)).as("__c"), length(col("__g")).as("__len"))
      .groupBy(col(idCol))
      .agg(
        sum(col("__c")).as("n_grams"),
        round((sum(col("__c")) - count(lit(1))).cast("double") / sum(col("__c")), 6)
          .as("dup_ngram_fraction"),
        round(
          coalesce(sum(when(col("__c") > 1, col("__c") * col("__len"))), lit(0L)).cast("double") /
            sum(col("__c") * col("__len")), 6)
          .as("dup_char_fraction"))

  /** PII redaction for training corpora: replace emails, IPv4 addresses and
    * phone-shaped digit runs with typed placeholder tokens, and count the
    * redactions per document (the usual "how dirty is this source" audit
    * column). Pure codegen'd regexp projections — zero shuffle; the
    * patterns are RE2-compatible so DuckDB reproduces them verbatim (the
    * oracle), and deliberately conservative: a missed match is recoverable
    * downstream, an over-eager one destroys training text. Order matters:
    * emails first (their digits would otherwise match the phone pattern). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhoneRe = "\\+[0-9][0-9 ()-]{6,}[0-9]"

  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t0 = col(textCol)
    val nRedactions =
      (size(regexp_extract_all(t0, lit(EmailRe), lit(0))) +
        size(regexp_extract_all(t0, lit(Ipv4Re), lit(0))) +
        size(regexp_extract_all(t0, lit(PhoneRe), lit(0)))).cast("long")
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(t0, EmailRe, "<EMAIL>"),
          Ipv4Re, "<IP>"),
        PhoneRe, "<PHONE>")
    df.select(
      col(idCol),
      redacted.as("text_redacted"),
      nRedactions.as("n_redactions"))
  }

  /** URL canonicalization + domain extraction — the key-hygiene step
    * before URL-grain dedup or domain-level corpus accounting (the same
    * page arrives as HTTPS://Host:443/x?utm_source=a#frag and
    * https://host/x — naive distinct counts it twice, and domain quotas
    * need the registered domain, not the full host): lowercases
    * scheme+host (path/query stay case-sensitive per RFC 3986), drops
    * the fragment, the scheme-default port (:80/:443), tracking params
    * (utm_*, gclid, fbclid) with separator repair, and a trailing ?/&.
    * `domain` is the last-two-labels approximation (a public-suffix list
    * is a lookup-table upgrade, documented).
    *
    * Pure codegen'd regexp chain, zero shuffle, RE2-portable patterns
    * (capture-group replacement spelled $1 here and \1 in the oracle —
    * engine syntax, same semantics). */
  def canonicalizeUrls(df: DataFrame, idCol: String, urlCol: String): DataFrame = {
    val u = col(urlCol)
    val noFrag = regexp_replace(u, "#[^#]*$", "")
    df.select(col(idCol), noFrag.as("__nf"))
      .withColumn("__pfx", regexp_extract(col("__nf"), "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", 0))
      .withColumn("__low",
        concat(lower(col("__pfx")), expr("substr(__nf, length(__pfx) + 1)")))
      .withColumn("__np", regexp_replace(
        regexp_replace(col("__low"), "^(http://[^/:?#]+):80([/?#]|$)", "$1$2"),
        "^(https://[^/:?#]+):443([/?#]|$)", "$1$2"))
      // anchored to a separator (r10 ADVICE): an unanchored pattern matched
      // INSIDE longer param names ('?xgclid=5&keep=1' lost 'keep'); the
      // leading [?&] re-emits as $1, and the repair passes collapse the
      // separator runs consecutive tracking params leave behind
      .withColumn("__nt", regexp_replace(col("__np"),
        "([?&])(utm_[A-Za-z]+|gclid|fbclid)=[^&#]*", "$1"))
      .withColumn("url_canonical", regexp_replace(
        regexp_replace(regexp_replace(col("__nt"), "&&+", "&"),
          "\\?&+", "?"), "[?&]+$", ""))
      .withColumn("host",
        regexp_extract(col("url_canonical"), "^[a-z][a-z0-9+.-]*://([^/:?#]+)", 1))
      .withColumn("domain",
        regexp_extract(col("host"), "([^.]+\\.[^.]+)$", 1))
      .drop("__nf", "__pfx", "__low", "__np", "__nt")
  }

  /** HTML/markup stripper — the crawled-corpus ingestion step BEFORE any
    * text-quality gate makes sense (tag soup inflates length counts,
    * poisons n-gram stats, and script/style payloads are not language):
    * removes script/style blocks WITH their contents, comments, then all
    * tags (replaced by a space so words never fuse), decodes the basic
    * entities (&amp; LAST, the single-decode order), and squeezes
    * whitespace. Reports the markup ratio so a "mostly tags" page can be
    * gated out.
    *
    * Pure codegen'd regexp chain, zero shuffle; patterns use (?is) +
    * non-greedy + \x{..} classes only — RE2-portable (no lookaround, no
    * backreferences), whitespace spelled as an explicit class because
    * Java's \s and RE2's \s disagree on vertical tab. */
  def stripMarkup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val noScript = regexp_replace(t, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]+>", " ")
    val decoded = regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(noTags, "&lt;", "<"),
            "&gt;", ">"),
          "&quot;", "\""),
        "&#39;", "'"),
      "&amp;", "&")
    val clean = trim(regexp_replace(decoded, "[ \\x{09}\\x{0A}\\x{0D}\\x{0C}]+", " "))
    df.select(
      col(idCol),
      clean.as("text_clean"),
      length(t).cast("long").as("n_chars_raw"),
      length(clean).cast("long").as("n_chars_clean"))
      .withColumn("markup_ratio",
        when(col("n_chars_raw") > 0,
          (col("n_chars_raw") - col("n_chars_clean")).cast("double") /
            col("n_chars_raw").cast("double")).otherwise(lit(0.0)))
  }

  /** Luhn-validated card-number (PAN) detection — the HIGH-PRECISION
    * upgrade over [[redactPii]]'s pattern-only screens for the one PII
    * class with a built-in checksum: 13–19-digit candidates (spaces or
    * dashes allowed) are checked with the Luhn mod-10 sum, so a random
    * digit run only false-positives at ~10% while every real PAN is
    * caught — the audit that decides whether a corpus needs the
    * expensive redaction pass at all.
    *
    * Pure codegen'd Catalyst higher-order functions (transform/filter/
    * aggregate over the candidate's digit positions — integer exact, no
    * UDF), zero shuffle; the candidate regex avoids lookaround so the
    * identical pattern runs on RE2. Returns (idCol, n_candidates,
    * n_luhn_valid, has_pan). */
  def detectPan(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val cand = "[0-9](?:[ -]?[0-9]){12,18}"
    df.select(col(idCol),
      regexp_extract_all(col(textCol), lit(cand), lit(0)).as("__cands"))
      .withColumn("__ds",
        expr("transform(__cands, c -> regexp_replace(c, '[ -]', ''))"))
      .withColumn("n_candidates", size(col("__cands")).cast("long"))
      .withColumn("n_luhn_valid", expr(
        """size(filter(__ds, s ->
             aggregate(
               transform(sequence(1, length(s)),
                 i -> CASE WHEN i % 2 = 0 THEN
                        CASE WHEN ascii(substr(s, length(s) - i + 1, 1)) - 48 >= 5
                             THEN 2 * (ascii(substr(s, length(s) - i + 1, 1)) - 48) - 9
                             ELSE 2 * (ascii(substr(s, length(s) - i + 1, 1)) - 48) END
                      ELSE ascii(substr(s, length(s) - i + 1, 1)) - 48 END),
               0, (acc, x) -> acc + x) % 10 = 0))""").cast("long"))
      .withColumn("has_pan", col("n_luhn_valid") > 0)
      .drop("__cands", "__ds")
  }

  /** Train a BPE merge table from the corpus (Sennrich et al. 2016).
    *
    * The classic trainer runs on the WORD-FREQUENCY dictionary, not the
    * corpus: ONE corpus-scale aggregate compresses 100 TB of text to
    * vocabulary scale (distinct words × counts), the dictionary collects to
    * the driver once, and the merge loop runs in driver memory — the
    * standard Sennrich formulation. Driver footprint is O(distinct words),
    * the same thing every published BPE trainer holds; the cluster's part
    * is the one job that can't be local, the corpus word count. (The
    * previous formulation ran two vocabulary-scale Spark jobs per merge —
    * correct, but at 32k merges the job-scheduling overhead dominates the
    * actual vocabulary-scale work by orders of magnitude.)
    *
    * Ties in pair counts break on the pair string ascending, so the learned
    * table is deterministic for any partitioning. The merge-apply primitive
    * is the same [[graft.functions.TextOps.fusePair]] the codegen'd encoder
    * uses — trainer and encoder cannot drift.
    *
    * Driver-memory contract: the collect is BOUNDED at `maxVocab` dictionary
    * entries (top words by count, ties on the word ascending — a bounded-heap
    * TakeOrdered job, never a full sort) after dropping words rarer than
    * `minWordCount`. At 100 TB the distinct-word table is easily 10^8 rows;
    * truncating the frequency tail barely perturbs learned merges (pair
    * counts are dominated by frequent words). MEASURED heap (r11, JDK 17,
    * avg ~8-char words): naive per-char String arrays cost ~486 B/word —
    * 463 MB at the 1M default — so the initial symbols are INTERNED
    * (single-char alphabet, shared across every word), measured ~102
    * B/word = ~100 MB at 1M words; per-merge fusing allocates fresh
    * multi-char symbols bounded by numMerges distinct strings. Raise
    * `maxVocab` only with driver heap to back ~102 B/word plus the fused
    * copies.
    *
    * @return ranked merges, each "left right" — feed to
    *         [[graft.functions.bpe_tokens]] */
  def trainBpeMerges(
      df: DataFrame,
      textCol: String,
      numMerges: Int,
      minPairCount: Long = 2,
      maxVocab: Int = 1 << 20,
      minWordCount: Long = 1): Seq[String] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(maxVocab >= 1, s"maxVocab must be >= 1, got $maxVocab")
    // the one corpus-scale job: word -> count, partial-aggregated, then
    // capped to the maxVocab head before anything reaches the driver
    var vocab: Array[(Array[String], Long)] = df
      .select(explode(split(col(textCol), "\\s+")).as("__w"))
      .filter(col("__w") =!= "")
      .groupBy(col("__w"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minWordCount)
      .orderBy(col("__n").desc, col("__w").asc)
      .limit(maxVocab)
      .collect()
      // intern the single-char symbols: the alphabet is tiny and shared, so
      // the 1M-word dictionary holds references, not 1M copies per char —
      // measured 463 MB -> ~100 MB at the default cap (see doc)
      .map(r => (r.getString(0).split("").filter(_.nonEmpty).map(_.intern), r.getLong(1)))
    val merges = scala.collection.mutable.ArrayBuffer.empty[String]
    var exhausted = false
    while (merges.length < numMerges && !exhausted) {
      val counts = new java.util.HashMap[String, Long]()
      vocab.foreach { case (syms, n) =>
        var i = 0
        while (i < syms.length - 1) {
          counts.merge(syms(i) + " " + syms(i + 1), n, (a, b) => a + b)
          i += 1
        }
      }
      // max by (count desc, pair asc) — the determinism contract
      var bestPair: String = null
      var bestCnt = Long.MinValue
      counts.forEach { (p, c) =>
        if (c > bestCnt || (c == bestCnt && p < bestPair)) { bestPair = p; bestCnt = c }
      }
      if (bestPair == null || bestCnt < minPairCount) exhausted = true
      else {
        merges += bestPair
        val Array(l, r) = bestPair.split(" ", 2)
        vocab = vocab.map { case (syms, n) =>
          var i = 0
          var touches = false
          while (!touches && i < syms.length - 1) {
            touches = syms(i) == l && syms(i + 1) == r
            i += 1
          }
          if (touches) (graft.functions.TextOps.fusePair(syms, l, r), n) else (syms, n)
        }
      }
    }
    merges.toSeq
  }

  /** Unigram-LM subword tokenizer model — `pieces` rows are
    * (piece, raw count, quantized log-prob floor(ln(max(c,1)/T)·1e6+0.5)),
    * sorted by piece. */
  final case class UnigramModel(pieces: Seq[(String, Long, Long)]) {
    lazy val logProb: Map[String, Long] =
      pieces.map { case (p, _, q) => p -> q }.toMap
    def maxPieceLen: Int = pieces.iterator.map(_._1.length).max
  }

  /** REAL unigram-LM subword tokenizer trainer — the probabilistic
    * alternative to [[trainBpeMerges]]'s greedy merges (Kudo 2018,
    * SentencePiece's unigram mode), in its deterministic VITERBI hard-EM
    * variant (documented divergence from the paper's forward–backward
    * soft EM; hard EM keeps every quantity an exact long, which is what
    * makes the trainer engine-replayable): seed the vocabulary with the
    * corpus's most frequent substrings (length ≤ `maxPieceLen`, top
    * `seedSize` by (occurrence-weight desc, piece asc), every single
    * character always kept for coverage), then for a FIXED `rounds`
    * schedule (the fixed-schedule-Jacobi discipline) re-segment every
    * dictionary word by Viterbi under quantized piece log-probs
    * L = floor(ln(max(c,1)/T)·1e6+0.5) (the X240/DSIR quantization — one
    * exact-long division feeds ln, so both engines see identical
    * doubles), re-count pieces on the best paths, and prune to the top
    * `vocabSize` (chars always kept). Viterbi ties break to the LONGER
    * last piece, then recursively — a total order both engines replay.
    *
    * Scale shape = the BPE contract: ONE corpus-scale job (the word
    * count, partial-aggregated and capped to `maxVocab` BEFORE
    * collection); the EM loop runs driver-side over the word DICTIONARY
    * (vocabulary-scale — Heaps' law, not corpus-scale) and the model
    * broadcasts back for encoding. */
  def trainUnigramLm(
      df: DataFrame,
      textCol: String,
      vocabSize: Int = 40,
      seedSize: Int = 120,
      maxPieceLen: Int = 6,
      rounds: Int = 3,
      maxVocab: Int = 1 << 20,
      minWordCount: Long = 1): UnigramModel = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    require(seedSize >= vocabSize, s"need seedSize >= vocabSize, got ($seedSize, $vocabSize)")
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val words = collectWordDict(df, textCol, maxVocab, minWordCount)
    val chars: Seq[String] =
      words.flatMap(_._1.split("")).filter(_.nonEmpty).distinct.sorted
    val seedCounts = new java.util.HashMap[String, Long]()
    words.foreach { case (w, n) =>
      var i = 0
      while (i < w.length) {
        var l = 1
        while (l <= maxPieceLen && i + l <= w.length) {
          seedCounts.merge(w.substring(i, i + l), n, (a, b) => a + b)
          l += 1
        }
        i += 1
      }
    }
    // top `keep` by (count desc, piece asc); single chars always kept
    def prune(counts: java.util.HashMap[String, Long], keep: Int): Seq[(String, Long)] = {
      import scala.jdk.CollectionConverters._
      val top = counts.asScala.toSeq.sortBy { case (p, c) => (-c, p) }.take(keep)
      val topSet = top.map(_._1).toSet
      val extra = chars.filterNot(topSet)
        .map(c => (c, counts.getOrDefault(c, 0L)))
      (top ++ extra).sortBy(_._1)
    }
    def quantize(vocab: Seq[(String, Long)]): Seq[(String, Long, Long)] = {
      val t = vocab.iterator.map { case (_, c) => math.max(c, 1L) }.sum
      vocab.map { case (p, c) =>
        val eff = math.max(c, 1L)
        (p, c,
          math.floor(math.log(eff.toDouble / t.toDouble) * 1e6 + 0.5).toLong)
      }
    }
    var vocab = prune(seedCounts, seedSize)
    var r = 0
    while (r < rounds) {
      val lp = quantize(vocab).map { case (p, _, q) => p -> q }.toMap
      val newCounts = new java.util.HashMap[String, Long]()
      words.foreach { case (w, n) =>
        unigramViterbi(w, lp, maxPieceLen)
          .foreach(p => newCounts.merge(p, n, (a, b) => a + b))
      }
      vocab = prune(newCounts, vocabSize)
      r += 1
    }
    UnigramModel(quantize(vocab))
  }

  /** The one corpus-scale job shared by the BPE and unigram trainers:
    * word → count, partial-aggregated, capped to the `maxVocab` head
    * under the (count desc, word asc) total order BEFORE anything
    * reaches the driver. */
  private def collectWordDict(
      df: DataFrame,
      textCol: String,
      maxVocab: Int,
      minWordCount: Long): Array[(String, Long)] =
    df.select(explode(split(col(textCol), "\\s+")).as("__w"))
      .filter(col("__w") =!= "")
      .groupBy(col("__w"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minWordCount)
      .orderBy(col("__n").desc, col("__w").asc)
      .limit(maxVocab)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))

  /** Viterbi segmentation of one word under quantized piece log-probs:
    * best[j] = max over piece lengths l of best[j−l] + L(w[j−l..j]);
    * ties prefer the LONGER last piece. Single characters are always in
    * the vocabulary, so a path always exists. */
  private def unigramViterbi(
      w: String, lp: Map[String, Long], maxPieceLen: Int): List[String] = {
    val n = w.length
    val best = Array.fill(n + 1)(Long.MinValue / 4)
    best(0) = 0L
    val ptr = new Array[Int](n + 1)
    var j = 1
    while (j <= n) {
      var l = 1
      while (l <= maxPieceLen && l <= j) {
        lp.get(w.substring(j - l, j)) match {
          case Some(q) =>
            val s = best(j - l) + q
            if (s > best(j) || (s == best(j) && l > ptr(j))) {
              best(j) = s; ptr(j) = l
            }
          case None => ()
        }
        l += 1
      }
      j += 1
    }
    var out = List.empty[String]
    var k = n
    while (k > 0) { out = w.substring(k - ptr(k), k) :: out; k -= ptr(k) }
    out
  }

  /** Encode a corpus with a trained [[UnigramModel]]: the df's DISTINCT
    * words segment driver-side (vocabulary-scale, the BPE bound
    * contract — cap upstream if the corpus vocabulary outgrows the
    * driver) and the word → pieces map broadcasts back into the
    * position-tagged token stream; documents reassemble with ONE
    * groupBy(id) via the deterministic sort_array(collect_list(struct))
    * form. Words containing characters the model never saw fall back to
    * per-character pieces (unknown chars score as themselves — coverage
    * never throws). Returns (idCol, n_pieces, pieces_head — first 8
    * pieces space-joined); docs with no words report (0, ''). */
  def unigramEncode(
      df: DataFrame,
      idCol: String,
      textCol: String,
      model: UnigramModel): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val lp = model.logProb
    val maxL = model.maxPieceLen
    val toks = df.select(
      col(idCol),
      posexplode(split(col(textCol), "\\s+")).as(Seq("__pos", "__w")))
      .filter(col("__w") =!= "")
    val distinctWords = toks.select(col("__w")).distinct()
      .collect().map(_.getString(0))
    val seg = distinctWords.toSeq.map { w =>
      // unseen chars: extend the map so the char scores as itself —
      // deterministic full coverage without smoothing gymnastics
      val lpw =
        if (w.forall(c => lp.contains(c.toString))) lp
        else lp ++ w.map(_.toString).filterNot(lp.contains).map(_ -> -30000000L)
      (w, unigramViterbi(w, lpw, maxL))
    }
    val segDf = broadcast(seg.toDF("__w", "__pieces"))
    val joined = toks.join(segDf, Seq("__w"))
      .groupBy(col(idCol))
      .agg(
        sum(size(col("__pieces"))).cast("long").as("n_pieces"),
        array_join(
          slice(flatten(transform(
            sort_array(collect_list(struct(col("__pos"), col("__pieces")))),
            x => x.getField("__pieces"))), 1, 8), " ").as("pieces_head"))
    df.select(col(idCol))
      .join(joined, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"),
        coalesce(col("pieces_head"), lit("")).as("pieces_head"))
      .orderBy(idCol)
  }

  /** Vocabulary truncation / UNK rewrite — the preprocessing step in front
    * of any fixed-vocabulary tokenizer or count featurizer (and the
    * classic neural-LM input prep): whitespace tokens outside the kept
    * vocabulary — top `maxVocab` by corpus count under the (count desc,
    * token asc) TOTAL order, with an optional `minCount` floor — rewrite
    * to `unkToken`, and each document reports its OOV exposure.
    *
    * Shapes: word counts are ONE partial agg; the kept vocabulary is
    * bounded by `maxVocab` (global TakeOrdered heap, never a full sort)
    * and BROADCASTS into the token-grain left join; documents reassemble
    * by position (the [[removeBoilerplate]] recipe) — one corpus shuffle
    * total. Returns (id, text_unk, n_tokens, n_oov). */
  def truncateVocabulary(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxVocab: Int,
      minCount: Long = 1L,
      unkToken: String = "<unk>"): DataFrame = {
    require(maxVocab >= 1, s"maxVocab must be >= 1, got $maxVocab")
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    val toks = df.select(
      col(idCol),
      posexplode(split(col(textCol), " ")).as(Seq("__pos", "__w")))
    val vocab = toks
      .groupBy(col("__w")).agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount)
      .orderBy(col("__c").desc, col("__w").asc)
      .limit(maxVocab)
      .select(col("__w"), lit(true).as("__in"))
    toks
      .join(broadcast(vocab), Seq("__w"), "left")
      .groupBy(col(idCol))
      .agg(
        array_join(
          map_values(map_from_entries(sort_array(collect_list(
            struct(col("__pos"),
              when(col("__in"), col("__w")).otherwise(lit(unkToken))))))),
          " ").as("text_unk"),
        count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
  }

  /** Corpus-level boilerplate-line removal (the CCNet/C4 "common line"
    * filter): a line occurring in at least `minDocs` DISTINCT documents is
    * boilerplate (headers, footers, cookie banners, nav chrome) and is
    * stripped from every document it appears in. Three scalable pieces:
    * (1) the line→document frequency is two partial hash aggregates —
    * (line, doc) dedup then a line count — so shuffles carry distinct keys
    * only; (2) the boilerplate set (lines crossing the threshold) is small
    * by construction and joins back as a broadcast left-anti; (3) documents
    * reassemble with ONE groupBy(id) using the deterministic
    * `sort_array(collect_list(struct(pos, line)))` ordered-agg form (see
    * [[graft.operators.Sampling.packText]]). Documents whose every line was
    * boilerplate survive with empty text via the final right-semi-style
    * join against the original ids.
    *
    * Returns (id, text_clean, n_lines_kept, n_lines_removed).
    */
  def removeBoilerplate(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minDocs: Int): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val lines = df.select(
      col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
    // distinct docs per line without count_distinct's expand: dedup on
    // (line, doc) first (partial agg), then count rows per line
    val boiler = lines
      .select(col("__line"), col(idCol)).distinct()
      .groupBy(col("__line"))
      .agg(count(lit(1)).as("__docs"))
      .filter(col("__docs") >= minDocs)
      .select(col("__line"))
    val flagged = lines
      .join(broadcast(boiler).withColumn("__boiler", lit(true)), Seq("__line"), "left")
      .select(
        col(idCol), col("__pos"), col("__line"),
        coalesce(col("__boiler"), lit(false)).as("__boiler"))
    val rebuilt = flagged
      .groupBy(col(idCol))
      .agg(
        array_join(
          map_values(map_from_entries(
            sort_array(collect_list(when(!col("__boiler"), struct(col("__pos"), col("__line"))))))),
          "\n").as("text_clean"),
        sum(when(!col("__boiler"), 1L).otherwise(0L)).as("n_lines_kept"),
        sum(when(col("__boiler"), 1L).otherwise(0L)).as("n_lines_removed"))
    rebuilt
  }

  /** Cross-document line dedup, keep-first (the C4 "three-sentence span"
    * rule at line grain): every line occurrence EXCEPT the first in global
    * (id, position) order is dropped, and documents reassemble from their
    * surviving lines. Differs from [[removeBoilerplate]], which drops ALL
    * copies of frequent lines — here one canonical copy survives. The
    * keep-first decision runs per line hash on the native
    * [[graft.plans.TopKPerKeyPlan]] k=1 path via
    * [[Relational.dropDuplicatesOrdered]] (bounded one-slot heaps before
    * the single shuffle), then a broadcast-free semi-join marks winners and
    * one groupBy(id) rebuilds the texts with the deterministic sorted-
    * struct ordered agg. Returns (id, text_clean, n_lines_kept,
    * n_lines_removed). */
  def dedupLinesKeepFirst(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = df.select(
      col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
    val winners = Relational
      .dropDuplicatesOrdered(
        lines.filter(col("__line") =!= ""),
        Seq("__line"),
        Seq(col(idCol), col("__pos")))
      .select(
        col("__line").as("__wline"),
        col(idCol).as("__wid"),
        col("__pos").as("__wpos"),
        lit(true).as("__keep"))
    lines
      .join(winners,
        lines("__line") === winners("__wline") &&
          lines(idCol) === winners("__wid") && lines("__pos") === winners("__wpos"),
        "left")
      .select(
        lines(idCol), lines("__pos"), lines("__line"),
        coalesce(col("__keep"), lit(false)).as("__keep"))
      .groupBy(col(idCol))
      .agg(
        array_join(
          map_values(map_from_entries(
            sort_array(collect_list(when(col("__keep"), struct(col("__pos"), col("__line"))))))),
          "\n").as("text_clean"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_lines_kept"),
        sum(when(!col("__keep"), 1L).otherwise(0L)).as("n_lines_removed"))
  }

  /** Corpus-wide duplicate-SPAN detection — the word-level rendering of
    * exact-substring training-data dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022): find, per
    * document, the maximal token ranges covered by word `n`-grams that
    * occur at least twice anywhere in the corpus (including again in the
    * same document). Positional n-grams → corpus-frequency filter →
    * per-document island merge (two duplicated gram starts closer than
    * `n+1` tokens overlap or touch, so they fuse into one span). Returns
    * one row per span: (idCol, span_start, span_end, span_tokens,
    * n_dup_grams), token positions 0-based inclusive.
    *
    * Shape at scale: grams collapse to a 60-bit md5-prefix key BEFORE the
    * shuffle, so the frequency filter — a whole-partition window count over
    * the gram key, ONE shuffle of fixed-width longs, never all-pairs and
    * never a second scan of the corpus (the groupBy-then-join-back
    * formulation reads and re-hashes every document twice) — carries
    * fixed-width longs instead of n-word strings; the island merge
    * windows partition by document, so frames are bounded by document
    * length regardless of corpus size. The hash is the engine-portable
    * md5-prefix (DuckDB: `('0x'||substr(md5(g),1,15))::BIGINT`), so even
    * its collisions reproduce identically cross-engine and the whole
    * pipeline replays in portable SQL — oracle-hash-gated end to end,
    * not sampled. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = df.select(
      col(idCol),
      posexplode(Decontaminate.wordNgrams(col(textCol), n)).as(Seq("__pos", "__g")))
      .select(col(idCol), col("__pos"),
        conv(substring(md5(col("__g")), 1, 15), 16, 10).cast("long").as("__gh"))
    val hits = grams
      .withColumn("__c", count(lit(1)).over(Window.partitionBy("__gh")))
      .filter(col("__c") >= 2)
      .select(col(idCol), col("__pos").cast("long").as("__pos"))
    val w = Window.partitionBy(idCol).orderBy("__pos")
    val lagPos = lag(col("__pos"), 1).over(w)
    val flagged = hits.withColumn(
      "__new", when(lagPos.isNull || col("__pos") > lagPos + n, 1L).otherwise(0L))
    val island = sum(col("__new"))
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    flagged.withColumn("__island", island)
      .groupBy(col(idCol), col("__island"))
      .agg(
        min(col("__pos")).as("span_start"),
        (max(col("__pos")) + (n - 1)).as("span_end"),
        count(lit(1)).as("n_dup_grams"))
      .withColumn("span_tokens", col("span_end") - col("span_start") + 1)
      .select(col(idCol), col("span_start"), col("span_end"),
        col("span_tokens"), col("n_dup_grams"))
  }

  /** Duplicate-span REMOVAL — the rewrite stage over [[duplicateSpans]]:
    * drop every token covered by a corpus-duplicated n-gram span and
    * reassemble the surviving tokens (original case, original order). This
    * is the remove-ALL-copies policy, the span-grain sibling of
    * [[removeBoilerplate]] (vs [[dedupLinesKeepFirst]]'s keep-one policy at
    * line grain): for training corpora the duplicated boilerplate itself is
    * the noise, and dropping every copy is the conservative default when a
    * canonical-occurrence choice would be arbitrary. Returns (idCol,
    * text_clean, n_tokens_kept, n_tokens_removed); docs with nothing
    * removed pass through intact, fully-covered docs come back with empty
    * text_clean (the row survives so accounting stays total).
    *
    * Scale shape: covered positions explode from spans (bounded by document
    * length, already doc-partitioned), anti-joined against the token table
    * on (id, pos) — co-partitioned equi-join, no range join, no window
    * beyond [[duplicateSpans]]'s own; the rebuild is one groupBy(id) with
    * the deterministic sorted-struct ordered aggregation. */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val spans = duplicateSpans(df, idCol, textCol, n)
    val covered = spans.select(
      col(idCol),
      explode(sequence(col("span_start"), col("span_end"))).as("__pos"),
      lit(true).as("__cut"))
    val toks = df.select(
      col(idCol),
      posexplode(split(col(textCol), " ")).as(Seq("__pos", "__w")))
      .withColumn("__pos", col("__pos").cast("long"))
    toks.join(covered, Seq(idCol, "__pos"), "left")
      .groupBy(col(idCol))
      .agg(
        array_join(
          map_values(map_from_entries(
            sort_array(collect_list(when(col("__cut").isNull, struct(col("__pos"), col("__w"))))))),
          " ").as("text_clean"),
        sum(when(col("__cut").isNull, 1L).otherwise(0L)).as("n_tokens_kept"),
        sum(when(col("__cut").isNotNull, 1L).otherwise(0L)).as("n_tokens_removed"))
  }

  /** Duplicate-span removal, KEEP-FIRST policy — the Lee-et-al-faithful
    * sibling of [[removeDuplicateSpans]]: one canonical copy of every
    * duplicated n-gram survives (its globally FIRST occurrence in
    * (id, pos) order), and only tokens covered by NON-canonical
    * occurrences are cut. Completes the span-grain policy pair the line
    * grain already has ([[removeBoilerplate]] remove-all vs
    * [[dedupLinesKeepFirst]] keep-one). The duplicate filter AND the
    * canonical pick share ONE shuffle on the 60-bit gram key: a
    * whole-partition count plus a row_number over (id, pos) — one sort,
    * two window functions, versus the groupBy+join+top-1+anti-join
    * formulation's four shuffles and double corpus scan; everything
    * downstream shares the remove-all shape. */
  def removeDuplicateSpansKeepFirst(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = df.select(
      col(idCol),
      posexplode(Decontaminate.wordNgrams(col(textCol), n)).as(Seq("__pos", "__g")))
      .select(col(idCol), col("__pos").cast("long").as("__pos"),
        conv(substring(md5(col("__g")), 1, 15), 16, 10).cast("long").as("__gh"))
    // rn > 1 already implies the gram occurs >= 2 times, so no separate
    // count window: one ordered window, one sort of the gram table.
    val byGram = Window.partitionBy("__gh")
    val nonFirst = grams
      .withColumn("__rn", row_number().over(byGram.orderBy(col(idCol), col("__pos"))))
      .filter(col("__rn") > 1)
      .select(col(idCol), col("__pos"))
    val w = Window.partitionBy(idCol).orderBy("__pos")
    val lagPos = lag(col("__pos"), 1).over(w)
    val flagged = nonFirst.withColumn(
      "__new", when(lagPos.isNull || col("__pos") > lagPos + n, 1L).otherwise(0L))
    val island = sum(col("__new"))
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val covered = flagged.withColumn("__island", island)
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("__pos")).as("__s"), (max(col("__pos")) + (n - 1)).as("__e"))
      .select(col(idCol), explode(sequence(col("__s"), col("__e"))).as("__pos"),
        lit(true).as("__cut"))
    val toks = df.select(
      col(idCol),
      posexplode(split(col(textCol), " ")).as(Seq("__pos", "__w")))
      .withColumn("__pos", col("__pos").cast("long"))
    toks.join(covered, Seq(idCol, "__pos"), "left")
      .groupBy(col(idCol))
      .agg(
        array_join(
          map_values(map_from_entries(
            sort_array(collect_list(when(col("__cut").isNull, struct(col("__pos"), col("__w"))))))),
          " ").as("text_clean"),
        sum(when(col("__cut").isNull, 1L).otherwise(0L)).as("n_tokens_kept"),
        sum(when(col("__cut").isNotNull, 1L).otherwise(0L)).as("n_tokens_removed"))
  }

  /** Winnowing fingerprint summary per document: number of fingerprints and
    * an order-independent checksum (useful as a cheap doc signature for
    * containment/overlap detection). */
  def fingerprintSummary(df: DataFrame, idCol: String, textCol: String, k: Int = 3, window: Int = 4): DataFrame =
    df.select(
      col(idCol),
      fingerprint_set(col(textCol), k, window).as("__fps"))
      .select(
        col(idCol),
        size(col("__fps")).as("n_fingerprints"),
        aggregate(col("__fps"), lit(0L), (acc, x) => acc.bitwiseXOR(x)).as("fp_checksum"),
        element_at(col("__fps"), 1).as("min_fingerprint"))

  /** Declarative winnowing fingerprint selection (Schleimer et al.
    * SIGMOD'03) with an ENGINE-PORTABLE hash: char k-grams hashed by md5
    * prefix, each window of `window` consecutive grams contributing its
    * minimum — tie-broken leftmost by packing (hash, position) into one
    * sort key — then distinct selections per document. The
    * cross-engine-checkable twin of the native [[fingerprintSummary]]
    * (whose rolling hash is engine-specific and therefore rows-only):
    * every piece here (substring explode, md5, windowed min, distinct) has
    * an exact DuckDB equivalent, so the full selection logic hash-gates.
    * Shape: one explode + one per-doc window pass + one distinct — a
    * doc-key shuffle and a window sort, no joins.
    *
    * Returns (idCol, print) — one row per selected fingerprint; `print`
    * packs the 36-bit md5-prefix hash above a 24-bit position
    * (`hash * 2^24 + pos` — numeric, so the windowed min compares longs,
    * not strings; max 1.15e18, no overflow; position caps at 16.7M chars
    * per document). */
  def winnowFingerprints(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      window: Int = 4): DataFrame = {
    require(k >= 1 && window >= 1, s"k and window must be >= 1, got $k/$window")
    // r15 (guide §2.4 remove shuffles outright): the gram keys are already
    // doc-local, so selection runs INSIDE the native kernel — gram hash,
    // sliding-window min and the per-doc distinct in one codegen'd call
    // per document, then a plain explode. The previous shape exploded one
    // row per CHARACTER and paid a doc-key Exchange + WindowExec sort on
    // the char-grain rows, plus a distinct exchange, before any consumer
    // aggregated. Selection is bit-identical (positions make keys unique,
    // so a key wins a CONTIGUOUS window run and distinct == consecutive
    // dedup; a doc with fewer than `window` grams winnows its single
    // partial window — the `__wn === window || __pos === 1` rule).
    df.select(
      col(idCol),
      explode(winnow_prints(col(textCol), k, window)).as("print"))
  }

  /** Cross-document overlap via shared winnowing fingerprints (the MOSS
    * containment detector, Schleimer et al. SIGMOD'03): explode each doc's
    * fingerprint set, self-join on the print value — a co-partitioned
    * equality join on a high-cardinality key, ONE shuffle, no pair
    * explosion outside genuinely shared prints — then score each pair by
    * shared prints normalized per side (containment, not just Jaccard:
    * catches a small doc embedded in a big one).
    *
    * @param minShared drop pairs sharing fewer prints (noise floor)
    */
  def fingerprintOverlap(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      window: Int = 4,
      minShared: Int = 2): DataFrame =
    fingerprintOverlapFrom(
      df.select(col(idCol), explode(fingerprint_set(col(textCol), k, window)).as("fp")),
      idCol, "fp", minShared)

  /** The pair half of [[fingerprintOverlap]] over an arbitrary
    * (id, print) table — lets the SAME containment scoring run on any
    * fingerprint source: the native rolling-hash set (above) or the
    * engine-portable md5 winnowing ([[winnowFingerprints]] with the
    * position bits stripped), which is what makes the full overlap
    * pipeline SQL-oracle-checkable. Input prints are deduped per id. */
  def fingerprintOverlapFrom(
      prints0: DataFrame,
      idCol: String,
      printCol: String,
      minShared: Int = 2): DataFrame = {
    val prints = prints0.select(col(idCol), col(printCol).as("fp")).distinct()
    val counts = prints.groupBy(col(idCol)).agg(count(lit(1)).as("n_fp"))
    val pairs = prints.select(col(idCol).as("id1"), col("fp"))
      .join(prints.select(col(idCol).as("id2"), col("fp")), "fp")
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    pairs
      .join(counts.select(col(idCol).as("id1"), col("n_fp").as("n_fp1")), "id1")
      .join(counts.select(col(idCol).as("id2"), col("n_fp").as("n_fp2")), "id2")
      .select(
        col("id1"), col("id2"), col("shared"),
        round(col("shared") / col("n_fp1"), 6).as("containment1"),
        round(col("shared") / col("n_fp2"), 6).as("containment2"))
  }

  /** Storage-level dedup readout over content-defined chunks: split every
    * document with [[cdc_chunks]] (gear rolling hash, boundaries that
    * resynchronize across insertions), then per group report how much of the
    * byte stream is redundant — chunk totals, distinct chunks, chunks seen
    * in more than one document, and the dup ratio. The chunk explode is
    * map-side (fan-out ~len/2^maskBits per doc); the readout is one partial
    * agg over (group, hash) then group — two shuffles on bounded-width keys,
    * the deduplicating shape that holds at corpus scale. */
  def cdcDedupStats(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      textCol: String,
      maskBits: Int = 6,
      minLen: Int = 16,
      maxLen: Int = 256): DataFrame = {
    val chunks = df.select(
      col(groupCol), col(idCol),
      explode(cdc_chunks(col(textCol), maskBits, minLen, maxLen)).as("chunk"))
    val perChunk = chunks
      .groupBy(col(groupCol), col("chunk"))
      .agg(count(lit(1)).as("occ"), countDistinct(col(idCol)).as("n_docs"))
    perChunk
      .groupBy(col(groupCol))
      .agg(
        sum(col("occ")).as("n_chunks"),
        count(lit(1)).as("n_distinct_chunks"),
        sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_crossdoc_chunks"))
      .withColumn("dup_ratio",
        round(lit(1.0) - col("n_distinct_chunks").cast("double") /
          col("n_chunks").cast("double"), 6))
  }

  /** Flesch reading-ease per document from three regex counts — words
    * `[A-Za-z]+`, sentence terminators `[.!?]+`, and vowel-group syllables
    * `[aeiouy]+` (the standard heuristic; exact syllabification needs a
    * dictionary). Pure map-side projection: three codegen'd
    * regexp_extract_all sizes and one fixed chain of IEEE double ops —
    * `206.835 − 1.015·(w/s) − 84.6·(syl/w)` — so the score is bit-identical
    * on any engine evaluating the same chain. Zero-word docs yield null.
    * Readability is a standard pretraining quality-gate signal alongside
    * [[TextAnalysis]] entropy/repetition scores. */
  def readability(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(
      col(idCol),
      size(regexp_extract_all(t, lit("[A-Za-z]+"), lit(0))).cast("long").as("n_words"),
      greatest(size(regexp_extract_all(t, lit("[.!?]+"), lit(0))), lit(1))
        .cast("long").as("n_sentences"),
      size(regexp_extract_all(lower(t), lit("[aeiouy]+"), lit(0)))
        .cast("long").as("n_syllables"))
      .withColumn("flesch",
        when(col("n_words") > 0,
          round(lit(206.835) -
            lit(1.015) * (col("n_words").cast("double") / col("n_sentences").cast("double")) -
            lit(84.6) * (col("n_syllables").cast("double") / col("n_words").cast("double")), 6)))
  }

  /** Encoding-anomaly / mojibake scorer — the "is this document even
    * valid text" quality gate beside the length/entropy/repetition
    * filters (a corpus crawled at scale always carries transcoding
    * wreckage, and a few thousand broken docs poison a tokenizer
    * vocabulary):
    * counts per document of (a) U+FFFD replacement characters (upstream
    * decoder already gave up), (b) C0 control characters other than
    * tab/newline/CR (binary-in-text), (c) C1 block U+0080–U+009F (the
    * classic cp1252→latin-1→utf-8 double-decode artifact), and (d) 'Ã'
    * followed by a Latin-1-supplement char (the visible utf-8-read-as-
    * latin-1 signature, e.g. "Ã©" for "é"). Score = anomalies/chars,
    * flagged above `flagThreshold`.
    *
    * Four codegen'd regexp counts, zero shuffle; every pattern is written
    * with ASCII \x{..} escapes so the identical pattern text runs on any
    * regex engine (Java here, RE2 in the oracle) — all classes are BMP,
    * where Java's UTF-16 units and RE2's codepoints agree. */
  def encodingAnomalies(
      df: DataFrame,
      idCol: String,
      textCol: String,
      flagThreshold: Double = 0.001): DataFrame = {
    val t = col(textCol)
    def cnt(pattern: String) =
      size(regexp_extract_all(t, lit(pattern), lit(0))).cast("long")
    df.select(
      col(idCol),
      length(t).cast("long").as("n_chars"),
      cnt("\\x{FFFD}").as("n_replacement"),
      cnt("[\\x{00}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}]").as("n_control"),
      cnt("[\\x{80}-\\x{9F}]").as("n_c1"),
      cnt("\\x{C3}[\\x{80}-\\x{FF}]").as("n_mojibake"))
      .withColumn("anomaly_score",
        when(col("n_chars") > 0,
          round((col("n_replacement") + col("n_control") + col("n_c1") +
            col("n_mojibake")).cast("double") / col("n_chars").cast("double"), 9))
          .otherwise(lit(0.0)))
      .withColumn("flagged", col("anomaly_score") > flagThreshold)
  }

  /** Weighted log-odds-ratio keywords with an informative Dirichlet prior
    * (Monroe, Colaresi & Quinn, "Fightin' Words", Political Analysis 2008)
    * — which terms distinguish document group A from group B, corrected
    * for overall term frequency so rare words don't dominate the way raw
    * log-odds or TF-IDF deltas do. Per term w:
    * δ_w = ln((y_Aw+α_w)/(n_A+α_0−y_Aw−α_w)) − ln((y_Bw+α_w)/(n_B+α_0−y_Bw−α_w)),
    * σ²_w ≈ 1/(y_Aw+α_w) + 1/(y_Bw+α_w), z_w = δ_w/σ_w, with the prior
    * α_w = α_0·(y_Aw+y_Bw)/(n_A+n_B) taken from the pooled corpus.
    *
    * Shape: one tokenize-explode pass → one partial-agg groupBy(term)
    * carrying both groups' counts as conditional sums (the corpus is
    * scanned ONCE, not per group), then the z arithmetic runs on the
    * vocabulary table — bounded by distinct-term count, never row-scale.
    * The z screen rounds to 6dp (small magnitude, engine-stable) and ties
    * break on the term so the top-k selection is total. */
  def logOddsKeywords(
      docs: DataFrame,
      textCol: String,
      groupACond: Column,
      alpha0: Double = 100.0,
      minLen: Int = 3,
      topK: Int = 50): DataFrame = {
    val terms = docs
      .select(groupACond.cast("int").as("__a"),
        explode(regexp_extract_all(lower(col(textCol)),
          lit("[a-z]{" + minLen + ",}"), lit(0))).as("term"))
      .groupBy(col("term"))
      .agg(
        sum(col("__a")).cast("long").as("y_a"),
        sum(lit(1) - col("__a")).cast("long").as("y_b"))
    val totals = terms.agg(
      sum(col("y_a")).as("__n_a"), sum(col("y_b")).as("__n_b"))
    val scored = terms.crossJoin(broadcast(totals))
      .withColumn("__alpha",
        lit(alpha0) * (col("y_a") + col("y_b")).cast("double") /
          (col("__n_a") + col("__n_b")).cast("double"))
      .withColumn("__delta",
        log((col("y_a") + col("__alpha")) /
          (col("__n_a") + lit(alpha0) - col("y_a") - col("__alpha"))) -
          log((col("y_b") + col("__alpha")) /
            (col("__n_b") + lit(alpha0) - col("y_b") - col("__alpha"))))
      .withColumn("__var",
        lit(1.0) / (col("y_a") + col("__alpha")) +
          lit(1.0) / (col("y_b") + col("__alpha")))
      .withColumn("z", round(col("__delta") / sqrt(col("__var")), 6))
    scored
      .select(col("term"), col("y_a"), col("y_b"), col("z"))
      .orderBy(col("z").desc, col("term"))
      .limit(topK)
  }

  /** Hashing-trick featurizer (Weinberger et al., ICML 2009): tokens hash
    * straight into `numBuckets` feature slots — no vocabulary fit, no
    * dictionary broadcast, the property that makes it THE featurizer that
    * needs zero coordination at any corpus size. Output is the sparse
    * form (id, bucket, cnt), one row per document × occupied slot.
    *
    * The hash is the engine-portable md5 idiom (first 8 hex chars → long,
    * mod buckets) rather than murmur: any engine with md5 reproduces the
    * exact feature matrix, which is what lets the oracle gate it. One
    * tokenize-explode + one partial-agg groupBy — the same shape as word
    * counting; signed variants (the ±1 second hash) layer on trivially. */
  def hashedFeatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numBuckets: Int = 1024,
      minLen: Int = 1): DataFrame = {
    require(numBuckets >= 2, s"numBuckets must be >= 2, got $numBuckets")
    df.select(col(idCol),
      explode(regexp_extract_all(lower(col(textCol)),
        lit(s"[a-z0-9]{$minLen,}"), lit(0))).as("__term"))
      .withColumn("bucket",
        conv(substring(md5(col("__term")), 1, 8), 16, 10).cast("long") % numBuckets)
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** χ² discriminative-token selection (the feature-selection classic;
    * Manning/Schütze ch. 5) — per class, the top-k tokens by the
    * document-PRESENCE 2×2 chi-square: a = class docs containing the
    * token, b = other docs containing it, c/d their complements;
    * χ² = n(ad−bc)²/((a+b)(c+d)(a+c)(b+d)), computed as ONE division of
    * exact DECIMAL integers then rounded — bit-identical anywhere. Only
    * observed (token, class) pairs score (a ≥ 1); `positive` flags
    * over-representation (ad > bc) vs anti-association. Selection runs
    * through the native bounded-heap [[Relational.topKPerKey]] on the
    * ROUNDED χ² with token-ascending ties — no per-class sort, and the
    * candidate table is (vocab × classes)-bounded, never the corpus.
    *
    * Output: (classCol, token, n_docs, chi2, positive, rank). */
  def chi2Keywords(
      df: DataFrame,
      idCol: String,
      textCol: String,
      classCol: String,
      k: Int = 10,
      minLen: Int = 1): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val docTok = lmTokens(df.select(col(idCol), col(classCol), col(textCol)), textCol, minLen)
      .select(col(classCol), col(idCol), col("__tok")).distinct()
    val a = docTok.groupBy(col(classCol), col("__tok")).agg(count(lit(1)).as("__a"))
    val wTok = org.apache.spark.sql.expressions.Window.partitionBy(col("__tok"))
    val classDocs = df.groupBy(col(classCol)).agg(count(lit(1)).as("__cd"))
    val nTot = df.agg(count(lit(1)).as("__n"))
    def dec(c: Column) = c.cast("decimal(19,0)")
    val x = a
      .withColumn("__tt", sum(col("__a")).over(wTok))
      .join(broadcast(classDocs), Seq(classCol))
      .crossJoin(broadcast(nTot))
      .withColumn("__b", col("__tt") - col("__a"))
      .withColumn("__c", col("__cd") - col("__a"))
      .withColumn("__d", col("__n") - col("__cd") - col("__b"))
    val diff = dec(col("__a")) * dec(col("__d")) - dec(col("__b")) * dec(col("__c"))
    // diff itself fits decimal(38,0) exactly (|ad|,|bc| <= n^2), but
    // n·diff² would need ~5 n-digits and overflows decimal(38,0) near
    // n=1e9 docs — convert diff to double (nearest) ONCE before squaring,
    // the same convert-before-overflow discipline as cochranArmitage; the
    // denominator products provably fit 38 digits (<= n^4) and stay exact.
    val scored = x
      .withColumn("__diff", diff)
      .withColumn("__diffd", diff.cast("double"))
      .select(col(classCol), col("__tok").as("token"), col("__a").as("n_docs"),
        round(
          ((col("__a") + col("__b") + col("__c") + col("__d")).cast("double")
            * col("__diffd") * col("__diffd")) /
            (dec(col("__a") + col("__b")) * dec(col("__c") + col("__d")) *
              dec(col("__a") + col("__c")) * dec(col("__b") + col("__d"))).cast("double"),
          6).as("chi2"),
        (col("__diff") > lit(0).cast("decimal(19,0)")).as("positive"))
    Relational.topKPerKey(scored, Seq(classCol),
      Seq(("chi2", true), ("token", false)), k, rankCol = Some("rank"))
  }

  /** Shared tokenizer of the unigram-LM halves: keeps every non-text column
    * and appends one `__tok` row per `[a-z0-9]{minLen,}` match — a plain
    * codegen'd projection + explode, replayable bit-for-bit in SQL. */
  private[graft] def lmTokens(df: DataFrame, textCol: String, minLen: Int): DataFrame = {
    require(minLen >= 1, s"minLen must be >= 1, got $minLen")
    df.select(df.columns.filter(_ != textCol).map(col) :+
      explode(regexp_extract_all(lower(col(textCol)),
        lit(s"[a-z0-9]{$minLen,}"), lit(0))).as("__tok"): _*)
  }

  /** Add-k-smoothed unigram language model fit on a REFERENCE corpus — the
    * held-out half the self-trained [[lmBigramScore]] lacks: p(w) =
    * (c(w) + k) / (N + k·(V+1)), the +1 reserving one pseudo-type for any
    * out-of-vocabulary token, so unseen words score finite (the CCNet
    * filter's fit-on-reference / score-everything shape, with the in-engine
    * unigram model standing in for its external KenLM).
    *
    * Returns (model, oov): the vocabulary-sized (token, `__lpq`) table of
    * 1e-6-quantized log-probs (the DSIR quantization discipline — ln runs
    * on identical integer-derived doubles in any engine, the long sum is
    * partition-order-invariant), and a ONE-ROW (`__oovq`) table carrying
    * the OOV log-prob. Fit cost: one shuffle to count the reference's
    * tokens; the N/V totals ride a broadcast cross join, never the driver. */
  def unigramLm(
      ref: DataFrame,
      textCol: String,
      addK: Double = 1.0,
      minLen: Int = 1): (DataFrame, DataFrame) = {
    require(addK > 0, s"addK must be > 0, got $addK")
    val tc = lmTokens(ref, textCol, minLen)
      .groupBy(col("__tok")).agg(count(lit(1)).as("__c"))
    val tot = tc.agg(sum(col("__c")).as("__n"), count(lit(1)).as("__v"))
    def lpq(num: Column): Column =
      floor(log(num / (col("__n").cast("double") + lit(addK) * (col("__v").cast("double") + 1.0)))
        * 1e6 + 0.5).cast("long")
    val model = tc.crossJoin(broadcast(tot))
      .select(col("__tok"), lpq(col("__c").cast("double") + lit(addK)).as("__lpq"))
    val oov = tot.select(lpq(lit(addK)).as("__oovq"))
    (model, oov)
  }

  /** Held-out perplexity quality scoring (Wenzek et al. 2020, CCNet): every
    * document scored by the cross-entropy of its tokens under a unigram LM
    * fit on `ref` via [[unigramLm]] — improbable-under-the-reference text
    * (wrong language, gibberish, boilerplate soup) scores high and gets
    * filtered. One reference-count shuffle + one per-doc aggregate; the
    * vocabulary-sized model broadcasts into the token stream, so at 100 TB
    * the scored corpus never shuffles except per-doc.
    *
    * Output: (idCol, n_tokens, cross_entropy nats, perplexity =
    * exp(cross_entropy)); zero-token documents are absent. Quantized
    * per-token log-probs sum as longs, so the result is bit-identical
    * across partitionings and engines. */
  def perplexityScore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      ref: DataFrame,
      addK: Double = 1.0,
      minLen: Int = 1): DataFrame = {
    val (model, oov) = unigramLm(ref, textCol, addK, minLen)
    perplexityFromSums(unigramLogProbSums(df, idCol, textCol, model, oov, minLen), idCol)
  }

  /** Per document, the token count `n_tokens` and the quantized log-prob
    * sum `__sq` under a [[unigramLm]] model — one aggregate, so a
    * streaming twin keeps it as state. */
  def unigramLogProbSums(
      df: DataFrame,
      idCol: String,
      textCol: String,
      model: DataFrame,
      oov: DataFrame,
      minLen: Int = 1): DataFrame =
    lmTokens(df.select(col(idCol), col(textCol)), textCol, minLen)
      .join(broadcast(model), Seq("__tok"), "left")
      .crossJoin(broadcast(oov))
      .select(col(idCol), coalesce(col("__lpq"), col("__oovq")).as("__q"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__q")).as("__sq"))

  /** The readout half of [[perplexityScore]] over [[unigramLogProbSums]]. */
  def perplexityFromSums(sums: DataFrame, idCol: String): DataFrame = {
    val ce = round(-col("__sq").cast("double") / lit(1e6) / col("n_tokens").cast("double"), 6)
    sums.select(col(idCol), col("n_tokens"),
      ce.as("cross_entropy"),
      round(exp(ce), 6).as("perplexity"))
  }

  /** Interpolated Kneser–Ney BIGRAM perplexity (Kneser & Ney 1995; Chen &
    * Goodman 1999) — the canonical n-gram smoothing, one order up from
    * [[perplexityScore]]'s add-k unigram (the CCNet-style filter most
    * pipelines actually run): P(w₂|w₁) = max(c(w₁w₂)−D, 0)/c(w₁) +
    * D·N₁₊(w₁•)/c(w₁)·P_cont(w₂), with the continuation probability
    * P_cont(w) = N₁₊(•w)/(B+1) counting DISTINCT left contexts, not raw
    * frequency (the "San Francisco" insight), and one continuation
    * pseudo-type reserved so unseen words score finite. Unseen context
    * w₁ backs off to P_cont alone; a document's first token scores
    * P_cont.
    *
    * Scale shape: both sides tokenize once into [[bigramTerms]], one
    * codegen'd posexplode of the per-doc token ARRAY — a pure map-side
    * projection, no per-doc window, no union, no shuffle before the model
    * aggregates. The reference is scanned and tokenized once: its bigram
    * count table is built once and pinned (`localCheckpoint`, one job),
    * and the context and continuation tables and the bigram-type total
    * are small aggregates of that pinned table. All model tables
    * broadcast into the scoring stream; per-token log terms quantize to
    * 1e6 longs (the shared perplexity discipline), so the whole readout
    * replays in SQL. */
  def knBigramPerplexity(
      df: DataFrame,
      idCol: String,
      textCol: String,
      ref: DataFrame,
      discount: Double = 0.75,
      minLen: Int = 1): DataFrame = {
    require(discount > 0 && discount < 1, s"discount must be in (0,1), got $discount")
    require(minLen >= 1, s"minLen must be >= 1, got $minLen")
    val token = s"[a-z0-9]{$minLen,}"
    val big = bigramTerms(ref.select(col(textCol)), Nil, textCol, token)
      .filter(col("__w1").isNotNull)
      .groupBy(col("__w1"), col("__w2")).agg(count(lit(1)).as("__c12"))
      .localCheckpoint(true)
    val ctx = big.groupBy(col("__w1"))
      .agg(sum(col("__c12")).as("__c1"), count(lit(1)).as("__n1l"))
    val cont = big.groupBy(col("__w2")).agg(count(lit(1)).as("__n1r"))
    val btot = big.agg(count(lit(1)).as("__b"))
    val joined = bigramTerms(df.select(col(idCol), col(textCol)), Seq(col(idCol)), textCol, token)
      .join(broadcast(big), Seq("__w1", "__w2"), "left")
      .join(broadcast(ctx), Seq("__w1"), "left")
      .join(broadcast(cont), Seq("__w2"), "left")
      .crossJoin(broadcast(btot))
    val pcont = coalesce(col("__n1r"), lit(1L)).cast("double") /
      (col("__b") + 1).cast("double")
    val c1d = col("__c1").cast("double")
    val p = when(col("__w1").isNull || col("__c1").isNull, pcont)
      .otherwise(
        greatest(coalesce(col("__c12"), lit(0L)).cast("double") - lit(discount),
          lit(0.0)) / c1d +
          lit(discount) * col("__n1l").cast("double") / c1d * pcont)
    meanNegLog(joined, idCol, p)
      .select(col(idCol), col("n_tokens"),
        col("__ce").as("cross_entropy"),
        round(exp(col("__ce")), 6).as("perplexity"))
  }

  /** The bigram term stream: one row per `token` regex match in lower-cased
    * `textCol`, carrying `cols`, with `__w2` the token and
    * `__w1` the token before it (NULL for a document's first token). One
    * posexplode of the token array, so the whole stream is one codegen'd
    * map-side pass; the reference's bigrams are its rows with `__w1` set.
    * Docs with no token (empty, whitespace-only, NULL text) yield no rows:
    * the outer explode's NULL row is dropped by `__w2 IS NOT NULL`. (A
    * plain posexplode makes Spark infer `size(__toks) > 0` and push it
    * below the projection, running the regex three times per document.) */
  private def bigramTerms(d: DataFrame, cols: Seq[Column], textCol: String,
      token: String): DataFrame =
    d.select(cols :+ regexp_extract_all(lower(col(textCol)),
        lit(token), lit(0)).as("__toks"): _*)
      .select(cols :+ col("__toks") :+ posexplode_outer(col("__toks")).as(Seq("__p", "__w2")): _*)
      .filter(col("__w2").isNotNull)
      .select(cols :+ when(col("__p") > 0, element_at(col("__toks"), col("__p"))).as("__w1")
        :+ col("__w2"): _*)

  /** Per-doc (idCol, n_tokens, __ce): `__ce` is the mean negative log of
    * the per-term probability `p`, each log term quantized to a 1e6 long
    * first, so the sum is exact and partition-independent. */
  private def meanNegLog(terms: DataFrame, idCol: String, p: Column): DataFrame =
    terms.select(col(idCol), floor(log(p) * 1e6 + 0.5).cast("long").as("__q"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__q")).as("__sq"))
      .select(col(idCol), col("n_tokens"),
        round(-col("__sq").cast("double") / lit(1e6) /
          col("n_tokens").cast("double"), 6).as("__ce"))


  /** ROUGE-N (Lin 2004) per candidate/reference pair — the recall-oriented
    * summarization/generation quality metric, the reference-based member of
    * the text-eval family next to the reference-free quality gates (T8,
    * T38): how much of the reference's word-`n`-gram multiset does the
    * candidate recover? Everything is exact rational until one 6-dp round:
    * each input ROW is one candidate/reference pair, the row-local
    * [[graft.functions.gram_clip_stats]] kernel computes its clipped
    * overlap Σ_g min(c_cand, c_ref) plus both totals inside the scan, and
    * recall = overlap/n_ref, precision = overlap/n_cand, F1 the EXACT
    * micro identity 2·overlap/(n_cand + n_ref) (algebraically 2PR/(P+R),
    * but a single division both engines replay bit-for-bit).
    *
    * GRAIN CONTRACT (changed r13, documented r14): CLIPPING IS PER INPUT
    * ROW. When several rows share an id, their per-row (clip, cand, ref)
    * stats SUM before the ratios — the micro-average of the rows as
    * independent pairs. That is a sum of mins, always ≤ the pre-r13
    * behavior (pool each id's gram counts across rows, then clip — a min
    * of sums); split a candidate across rows and matches cannot cross the
    * row boundary. Feed one row per pair when the pair is the unit.
    * Pairs with an empty side surface as zero counts with NULL scores,
    * not dropped rows; no data-grain shuffle survives — the only shuffle
    * is the id-grain stat aggregate. */
  def rougeN(
      pairs: DataFrame,
      idCol: String,
      candCol: String,
      refCol: String,
      n: Int = 2): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    // Row-local clipping via the native kernel (see chrF's plan-shape
    // note); the only remaining shuffle is the id-grain aggregate summing
    // the per-row CLIPPED stats (the documented grain contract: clip per
    // row, then micro-average rows sharing an id — NOT pool-then-clip).
    val joined = pairs
      .select(col(idCol),
        gram_clip_stats(col(candCol), col(refCol), n, n, word = true)
          .as("__s"))
      .groupBy(col(idCol))
      .agg(
        sum(element_at(col("__s"), 1)).as("n_clip"),
        sum(element_at(col("__s"), 2)).as("n_cand"),
        sum(element_at(col("__s"), 3)).as("n_ref"))
    pairs
      .select(col(idCol))
      .join(joined, Seq(idCol), "left")
      .na.fill(0L, Seq("n_clip", "n_cand", "n_ref"))
      .select(
        col(idCol),
        col("n_clip"), col("n_cand"), col("n_ref"),
        when(col("n_cand") > 0,
          round(col("n_clip").cast("double") / col("n_cand").cast("double"), 6))
          .as("precision"),
        when(col("n_ref") > 0,
          round(col("n_clip").cast("double") / col("n_ref").cast("double"), 6))
          .as("recall"),
        when(col("n_cand") + col("n_ref") > 0,
          round(col("n_clip").cast("double") * 2.0 /
            (col("n_cand") + col("n_ref")).cast("double"), 6))
          .as("f1"))
  }

  /** ROUGE-L (Lin 2004 §3.2) per candidate/reference pair — the
    * SEQUENCE-grain member of the reference-based eval family beside
    * [[rougeN]] (n-gram overlap) and [[chrF]] (character grain): the
    * word-token longest common subsequence rewards in-order coverage
    * without requiring contiguity. F uses the β = 1 micro identity
    * 2·lcs/(m+n) — one division from exact longs, both engines
    * bit-replay it (the published ROUGE-L F_β defaults to β → recall
    * emphasis; β = 1 is the symmetric convention, documented).
    *
    * Row-local like the X360 clip kernel: the LCS DP runs per pair
    * inside the scan (native two-row int DP), zero data-grain shuffle;
    * the only shuffle is the id-grain grouping under [[rougeN]]'s grain
    * contract (per-row stats SUM across rows sharing an id before the
    * ratios — the LCS itself never crosses a row boundary).
    * Returns (idCol, lcs_len, n_cand, n_ref, precision, recall, f1). */
  def rougeL(
      pairs: DataFrame,
      idCol: String,
      candCol: String,
      refCol: String): DataFrame = {
    val joined = pairs
      .select(col(idCol), rouge_l_stats(col(candCol), col(refCol)).as("__s"))
      .groupBy(col(idCol))
      .agg(
        sum(element_at(col("__s"), 1)).as("lcs_len"),
        sum(element_at(col("__s"), 2)).as("n_cand"),
        sum(element_at(col("__s"), 3)).as("n_ref"))
    pairs
      .select(col(idCol))
      .join(joined, Seq(idCol), "left")
      .na.fill(0L, Seq("lcs_len", "n_cand", "n_ref"))
      .select(
        col(idCol),
        col("lcs_len"), col("n_cand"), col("n_ref"),
        // UNROUNDED ratios: all three are single divisions of exact
        // longs, identical bits on both engines — and 1/128-style values
        // ARE decimal-half-way at 6 dp, where Spark HALF_UP and DuckDB
        // half-even would split (the X294 lesson, hit preemptively here)
        when(col("n_cand") > 0,
          col("lcs_len").cast("double") / col("n_cand").cast("double"))
          .as("precision"),
        when(col("n_ref") > 0,
          col("lcs_len").cast("double") / col("n_ref").cast("double"))
          .as("recall"),
        when(col("n_cand") + col("n_ref") > 0,
          col("lcs_len").cast("double") * 2.0 /
            (col("n_cand") + col("n_ref")).cast("double"))
          .as("f1"))
  }

  /** Distinct-n diversity ratios (Li et al. 2016 "distinct" metrics; the
    * Texygen generation-diversity readout): per gram order n = 1..maxN,
    * distinct word n-grams / total word n-grams over the WHOLE corpus —
    * the degenerate-generation detector (mode collapse drives d_n → 0)
    * and the corpus-diversity twin of the per-doc repetition gates
    * (T12/T17 measure within-doc repetition; this measures across).
    *
    * One tagged explode (a gram's token-array SIZE is its order — the
    * corpusBleu trick), one (n, gram)-grain partial-agg distinct, one
    * 2-level rollup; ratios are single divisions of exact longs.
    * Returns one row per gram order with any grams (orders the whole
    * corpus is too short for are absent):
    * (n, n_total, n_distinct, distinct_ratio). */
  def distinctNgrams(
      df: DataFrame,
      textCol: String,
      maxN: Int = 4): DataFrame = {
    require(maxN >= 1, s"maxN must be >= 1, got $maxN")
    val grams = df
      .select(split(lower(col(textCol)), " ", -1).as("__toks"))
      .select(
        explode(flatten(transform(sequence(lit(1), lit(maxN)), n =>
          when(size(col("__toks")) >= n,
            transform(
              sequence(lit(1), size(col("__toks")) - n + 1),
              i => slice(col("__toks"), i, n)))
            .otherwise(array().cast("array<array<string>>")))))
          .as("__g"))
    grams
      .groupBy(size(col("__g")).as("n"), col("__g"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("n"))
      .agg(
        sum(col("__c")).as("n_total"),
        count(lit(1)).as("n_distinct"))
      .select(col("n"), col("n_total"), col("n_distinct"),
        // UNROUNDED: both engines divide the same exact longs (the X294
        // decimal-half-way lesson — identical bits need no round)
        (col("n_distinct").cast("double") / col("n_total").cast("double"))
          .as("distinct_ratio"))
      .orderBy("n")
  }

  /** Corpus chrF score (Popović 2015) — the CHARACTER-grain member of the
    * reference-based eval family beside [[rougeN]]/[[corpusBleu]] (robust
    * to tokenization and morphology — the standard MT metric alongside
    * BLEU): clipped character-n-gram F_β per gram size n = 1..maxN,
    * averaged. Whitespace is stripped and text lowercased (the published
    * convention), grams are substring windows (code points — identical in
    * Spark and DuckDB).
    *
    * EXACT except the final mean: F_β reassociates to the single division
    * (1+β²)·clip/(β²·n_ref + n_cand) — one IEEE op per n from exact longs
    * — and the macro average over maxN gram sizes is a fixed left-to-right
    * chain of maxN-1 additions and one division. Empty gram sizes (corpus
    * shorter than n) contribute F = 0, the published degenerate case.
    *
    * Plan shape: candidate and reference live in the SAME ROW, so clipping
    * is row-local — the native [[graft.functions.gram_clip_stats]] kernel
    * computes (clip, tot, ref) for every gram order in one pass per pair,
    * and the corpus readout is ONE shuffle-free partial aggregate of exact
    * longs. This replaces the r12 (pair, gram)-grain explode → hash-agg →
    * full-outer-join pipeline, whose shuffle carried a near-unique skinny
    * row per gram OCCURRENCE (≈2·maxN× the corpus bytes); clipping is per
    * input ROW ([[rougeN]]'s grain contract — the published corpus metric
    * when each row is one pair; a pair split across rows clips per row,
    * ≤ the r12 pool-then-clip value for duplicate ids). Pairs with a
    * NULL side contribute zero counts (and still count in n_pairs).
    * Returns one row: (n_pairs, f1..fmaxN, chrf). */
  def chrF(
      pairs: DataFrame,
      idCol: String,
      candCol: String,
      refCol: String,
      maxN: Int = 6,
      beta: Double = 2.0): DataFrame = {
    require(maxN >= 1, s"maxN must be >= 1, got $maxN")
    val b2 = beta * beta
    val stats = pairs.select(
      gram_clip_stats(col(candCol), col(refCol), 1, maxN, word = false)
        .as("__s"))
    val aggs = Seq(count(lit(1)).as("n_pairs")) ++ (1 to maxN).flatMap { n =>
      val base = (n - 1) * 3
      Seq(
        sum(element_at(col("__s"), base + 1)).as(s"__clip$n"),
        sum(element_at(col("__s"), base + 2)).as(s"__tot$n"),
        sum(element_at(col("__s"), base + 3)).as(s"__ref$n"))
    }
    val joined = stats.agg(aggs.head, aggs.tail: _*)
    def f(n: Int): Column = {
      val den = lit(b2) * coalesce(col(s"__ref$n"), lit(0L)).cast("double") +
        coalesce(col(s"__tot$n"), lit(0L)).cast("double")
      when(den > 0.0,
        lit(1.0 + b2) * coalesce(col(s"__clip$n"), lit(0L)).cast("double") / den)
        .otherwise(lit(0.0))
    }
    val mean = (2 to maxN).foldLeft(f(1))((acc, n) => acc + f(n)) / maxN.toDouble
    joined.select(
      Seq(col("n_pairs")) ++
        (1 to maxN).map(n => round(f(n), 6).as(s"f$n")) ++
        Seq(round(mean, 6).as("chrf")): _*)
  }

  /** Corpus-level BLEU readout (Papineni et al. 2002) — the
    * precision-oriented sibling of [[rougeN]]: modified (clipped) n-gram
    * precisions p_1..p_maxN summed over the WHOLE corpus before dividing
    * (corpus BLEU, not a sentence-BLEU average), candidate/reference token
    * totals, and the geometric mean (Πp_n)^(1/maxN) for maxN ∈ {1,2,4} as
    * nested sqrt — correctly-rounded IEEE, so any engine replays it.
    *
    * The brevity penalty is published as its EXPONENT min(0, 1 − r/c) —
    * an exact rational — rather than folded in: e^x is the one
    * transcendental in BLEU's definition, and the standing libm lesson
    * (§5) is that ln/exp differ by 1 ulp across engines right at
    * quantization boundaries. Full BLEU = bleu_nobp·e^{bp_exponent}, one
    * driver-side multiply away; the GATE checks everything that can be
    * checked exactly.
    *
    * Plan shape (shared with [[chrF]]): clipping is row-local — the native
    * [[graft.functions.gram_clip_stats]] kernel emits (clip, tot, ref) for
    * every gram order per pair (tokenization identical to
    * `TextOps.wordNgrams`: lowercase, split(" ", -1)), and the corpus
    * readout is ONE shuffle-free partial aggregate of exact longs. The
    * token totals c_len/r_len ARE the order-1 gram counts, so no separate
    * length pass either. Clipping is per input ROW ([[rougeN]]'s grain
    * contract — exactly sacrebleu's corpus_bleu when each row is one
    * segment pair). A gram order with zero candidate grams
    * corpus-wide reads p_n = NULL (the prior per-n empty-aggregate
    * behavior), keeping the degenerate-corpus readout unchanged. */
  def corpusBleu(
      pairs: DataFrame,
      idCol: String,
      candCol: String,
      refCol: String,
      maxN: Int = 4): DataFrame = {
    require(Set(1, 2, 4).contains(maxN),
      s"maxN must be 1, 2 or 4 (geometric mean as exact nested sqrt), got $maxN")
    val stats = pairs.select(
      gram_clip_stats(col(candCol), col(refCol), 1, maxN, word = true)
        .as("__s"))
    val aggs = Seq(
      count(lit(1)).as("n_pairs"),
      sum(element_at(col("__s"), 2)).as("c_len"),
      sum(element_at(col("__s"), 3)).as("r_len")) ++
      (1 to maxN).flatMap { n =>
        val base = (n - 1) * 3
        Seq(
          sum(element_at(col("__s"), base + 1)).as(s"__clip$n"),
          sum(element_at(col("__s"), base + 2)).as(s"__tot$n"))
      }
    val joined = stats.agg(aggs.head, aggs.tail: _*)
    def p(n: Int): Column =
      col(s"__clip$n").cast("double") /
        nullif(col(s"__tot$n"), lit(0L)).cast("double")
    val geo = maxN match {
      case 1 => p(1)
      case 2 => sqrt(p(1) * p(2))
      case 4 => sqrt(sqrt(p(1) * p(2) * p(3) * p(4)))
      case _ => throw new IllegalArgumentException(
        s"geometric mean as exact nested sqrt needs maxN in {1,2,4}, got $maxN")
    }
    val c = col("c_len").cast("double")
    val r = col("r_len").cast("double")
    joined.select(
      Seq(
        col("n_pairs"), col("c_len"), col("r_len"),
        round(least(lit(0.0), lit(1.0) - r / c), 6).as("bp_exponent"),
        round(geo, 6).as("bleu_nobp")) ++
        (1 to maxN).map(n => round(p(n), 6).as(s"p$n")): _*)
  }
  /** Stupid-backoff bigram scorer (Brants, Popat, Xu, Och & Dean, EMNLP
    * 2007 — "Large Language Models in Machine Translation") — THE smoothing
    * built FOR distributed n-gram models: no discounting, no normalization,
    * just S(w₂|w₁) = c(w₁w₂)/c(w₁) when the bigram was seen, else
    * α·c(w₂)/N (α = 0.4, the paper's constant) — every model statistic is
    * a raw count, so the model builds in ONE partial-agg pass and merges
    * trivially, which is exactly why it beat Kneser–Ney at web scale
    * (quality converges with corpus size while costing a fraction). The
    * inexpensive sibling of [[knBigramPerplexity]] on the same term
    * stream ([[bigramTerms]]: one codegen'd posexplode per side). The
    * reference is tokenized once into one (w₁, w₂) count table, first
    * tokens included with w₁ NULL, built once and pinned
    * (`localCheckpoint`, one job); the bigram, unigram and total counts
    * are read off it and broadcast, with 1e6-quantized log terms. Scores
    * are NOT probabilities (the paper uses S, not P) — the readout is the
    * mean negative log score, lower = more in-model. Out-of-vocabulary w₂
    * scores α/N (one pseudo-count, pinned — the paper's web-scale setting
    * never meets an unseen unigram); first tokens score the unigram path.
    *
    * Returns one row per doc: (idCol, n_tokens, mean_neg_log_score). */
  def stupidBackoffScore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      ref: DataFrame,
      alpha: Double = 0.4,
      minLen: Int = 1): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    val token = s"[a-z0-9]{$minLen,}"
    val pairs = bigramTerms(ref.select(col(textCol)), Nil, textCol, token)
      .groupBy(col("__w1"), col("__w2")).agg(count(lit(1)).as("__c12"))
      .localCheckpoint(true)
    val big = pairs.filter(col("__w1").isNotNull)
    val uni = pairs.groupBy(col("__w2")).agg(sum(col("__c12")).as("__c2"))
    val ntot = pairs.agg(sum(col("__c12")).as("__nt"))
    val joined = bigramTerms(df.select(col(idCol), col(textCol)), Seq(col(idCol)), textCol, token)
      .join(broadcast(big), Seq("__w1", "__w2"), "left")
      .join(broadcast(uni), Seq("__w2"), "left")
      .join(broadcast(uni.select(col("__w2").as("__w1"), col("__c2").as("__c1"))),
        Seq("__w1"), "left")
      .crossJoin(broadcast(ntot))
    val sUni = lit(alpha) * coalesce(col("__c2"), lit(1L)).cast("double") /
      col("__nt").cast("double")
    val sc = when(col("__w1").isNotNull && col("__c12").isNotNull,
        col("__c12").cast("double") / col("__c1").cast("double"))
      .otherwise(sUni)
    meanNegLog(joined, idCol, sc).withColumnRenamed("__ce", "mean_neg_log_score")
  }

  /** Per-term BURSTINESS (Church & Gale 1995) — "does this word arrive in
    * bursts or sprinkle uniformly?": the Fano factor var(c)/mean(c) of a
    * term's per-document count ACROSS ALL DOCS (zeros included — computed
    * from (Σc, Σc², N) without a spine join, the Cronbach trick). Function
    * words sit near 1 (Poisson); topical/templated terms run far above —
    * the signal behind burst-aware term weighting and boilerplate
    * detection, at the TERM grain where T12's word-repetition score is
    * doc-grain. Top-`topK` terms by total count via orderBy+limit (the
    * termDrift TakeOrdered discipline — never an unpartitioned full-vocab
    * window); all moments exact longs, two divisions at readout.
    *
    * Returns topK rows: (word, n_total, df_docs, mean_count, variance,
    * burstiness). */
  def termBurstiness(df: DataFrame, textCol: String, topK: Int = 50): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val nDocs = df.select(count(lit(1)).as("__nd"))
    val perDoc = df
      .select(monotonically_increasing_id().as("__doc"),
        regexp_extract_all(lower(col(textCol)), lit("[a-z0-9_]+"), lit(0)).as("__toks"))
      .select(col("__doc"), explode(col("__toks")).as("word"))
      .groupBy(col("__doc"), col("word"))
      .agg(count(lit(1)).as("__c"))
    val perTerm = perDoc.groupBy(col("word"))
      .agg(
        sum(col("__c")).as("n_total"),
        count(lit(1)).as("df_docs"),
        sum(col("__c") * col("__c")).as("__cc"))
      .orderBy(col("n_total").desc, col("word"))
      .limit(topK)
    val nd = col("__nd").cast("double")
    val mean = col("n_total").cast("double") / nd
    val vr = col("__cc").cast("double") / nd - mean * mean
    perTerm.crossJoin(broadcast(nDocs))
      .select(
        col("word"), col("n_total"), col("df_docs"),
        round(mean, 6).as("mean_count"),
        round(vr, 6).as("variance"),
        when(col("n_total") > 0, round(vr / mean, 6)).as("burstiness"))
  }

  /** Good–Turing frequency spectrum (Good 1953) — the r → r* table behind
    * every count-smoothing scheme and the corpus-coverage readout one
    * level deeper than X187's unseen-mass scalar: N_r = how many distinct
    * words occur exactly r times, r* = (r+1)·N_{r+1}/N_r the adjusted
    * count, p_gt = r* / N the smoothed probability of any one such word.
    * Two bounded aggregates (word counts → count-of-counts) and the
    * spectrum table is r-domain-bounded (`maxR` rows), so the lead join
    * costs nothing; N_{r+1} = 0 (spectrum holes) → NULL r* rather than a
    * fabricated zero (the estimator is undefined there — Gale & Sampson's
    * SGT smoothing exists precisely because of these holes; documented,
    * out of scope). */
  def goodTuringSpectrum(
      df: DataFrame,
      textCol: String,
      maxR: Int = 10,
      gramN: Int = 1): DataFrame = {
    require(maxR >= 1, s"maxR must be >= 1, got $maxR")
    require(gramN >= 1, s"gramN must be >= 1, got $gramN")
    // gramN > 1 reads the spectrum over word n-grams — the useful grain
    // when the unigram vocabulary is so small every word is high-frequency
    // (N_r empty below maxR says nothing about coverage)
    require(gramN <= 2, s"gramN must be 1 or 2, got $gramN")
    val toks = regexp_extract_all(lower(col(textCol)), lit("[a-z0-9_]+"), lit(0))
    val unit =
      if (gramN == 1) explode(toks)
      else explode(zip_with(
        slice(toks, lit(1), greatest(size(toks) - (gramN - 1), lit(0))),
        slice(toks, lit(gramN), greatest(size(toks) - (gramN - 1), lit(0))),
        (a, b) => concat(a, lit(" "), b)))
    val wc = df
      .select(unit.as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("__r"))
      .localCheckpoint(true)
    val nTok = wc.agg(sum(col("__r")).as("__n"))
    val spectrum = wc.groupBy(col("__r").as("r"))
      .agg(count(lit(1)).as("n_r"))
    val next = spectrum.select((col("r") - 1).as("r"), col("n_r").as("__nr1"))
    spectrum.filter(col("r") <= maxR)
      .join(next, Seq("r"), "left")
      .crossJoin(broadcast(nTok))
      .select(
        col("r"), col("n_r"),
        when(col("__nr1").isNotNull,
          round((col("r") + 1).cast("double") * col("__nr1").cast("double") /
            col("n_r").cast("double"), 6)).as("r_star"),
        when(col("__nr1").isNotNull,
          round((col("r") + 1).cast("double") * col("__nr1").cast("double") /
            col("n_r").cast("double") / col("__n").cast("double"), 9)).as("p_gt"))
      .orderBy("r")
  }

  /** All length-`minLen` character windows of every doc, keyed by the
    * 60-bit md5-prefix of the window text (the engine-portable winnowing
    * hash idiom, widened 36 → 60 bits because stride-1 windows are ~25×
    * denser than winnowed prints; collision odds at 10⁹ windows are
    * ~4e-4 and each collision can only ADD a span edge, never corrupt
    * counts structurally — documented, not verified per key). One native
    * codegen'd kernel call per document (r13 follow-up: the original
    * per-window md5/substr/conv EXPRESSION pipeline spent ~10× the md5
    * cost in hex-string round-trips — the winnowGramKeys lesson re-hit);
    * bit-identical to the SQL twin, so the oracle is unchanged. */
  private def substringWindows(
      df: DataFrame, idCol: String, textCol: String, minLen: Int): DataFrame =
    df.select(col(idCol).as("__id"),
        posexplode(window_hash_keys(col(textCol), minLen))
          .as(Seq("__i", "__key")))
      .select(col("__id"), (col("__i") + 1).as("__pos"), col("__key"))

  /** Merge a doc's SORTED repeated-window start positions into maximal
    * spans: two windows at p < q belong to one contiguous repeated region
    * iff q ≤ p + minLen (overlap or exact adjacency). O(n) per doc — each
    * boundary test compares one neighbor, no quadratic membership scans.
    * Returns (starts array, ends array) of window START positions; a
    * span's last covered char is end + minLen − 1. */
  private def spanBounds(ps: Column, minLen: Int): (Column, Column) = {
    val n = size(ps)
    // boundary indices are CLAMPED into [1, n] (greatest/least) rather
    // than dodged via Or short-circuit: the clamped reads are discarded
    // by the boundary disjunct, but no out-of-range index is ever
    // CONSTRUCTED, so the expressions stay safe under any evaluation
    // order / operand-reordering refactor (ANSI element_at raises on
    // invalid indices)
    val starts = filter(
      transform(sequence(lit(0), n - 1), i =>
        when(i === 0 ||
          element_at(ps, i + 1) - element_at(ps, greatest(i, lit(1))) > minLen,
          element_at(ps, i + 1))),
      x => x.isNotNull)
    val ends = filter(
      transform(sequence(lit(0), n - 1), i =>
        when(i === n - 1 ||
          element_at(ps, least(i + 2, n)) - element_at(ps, i + 1) > minLen,
          element_at(ps, i + 1))),
      x => x.isNotNull)
    (starts, ends)
  }

  /** Exact cross-document repeated-substring spans — the substring-grain
    * dedup detector of Lee, Ippolito et al. (ACL 2022, "Deduplicating
    * Training Data Makes Language Models Better"), re-expressed Spark-
    * first: every repeated substring of length ≥ `minLen` contains a
    * repeated window of length EXACTLY minLen, so stride-1 window keys +
    * a corpus count + per-doc interval union find every maximal repeated
    * region without a suffix array. Occurrences are counted CORPUS-WIDE
    * (a doc repeating itself is a repeat).
    *
    * Scale shape: one tagged explode (window keys are 8-byte longs, not
    * minLen-char strings — the shuffle carries ~8 bytes/char), one
    * partial-agg count on the key, one co-partitioned semi-join back,
    * and an O(positions) per-doc merge with no data-grain windows.
    * Returns (idCol, span_start, span_end, span_len), 1-based inclusive
    * character positions, ordered by (id, span_start). */
  def repeatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int = 40,
      minCount: Long = 2L): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    val wins = substringWindows(df, idCol, textCol, minLen)
    val hot = wins.groupBy(col("__key"))
      .agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") >= minCount)
      .select(col("__key"))
    repeatedSpansFrom(df, idCol, textCol, hot, minLen)
  }

  /** Span assembly against an externally supplied hot-key table (first
    * column = the minLen-window hash keys of [[repeatedSpans]]; any other
    * columns ignored) — the serving half of [[repeatedSpans]], split out
    * (r14) so the corpus-wide key count, the ONLY stateful part of the
    * Lee-et-al shape, can also arrive from a streaming complete-mode
    * aggregate (the S-family sketch-cube discipline) or a precomputed
    * corpus index, while the per-doc interval union stays one shared
    * batch tail. */
  def repeatedSpansFrom(
      df: DataFrame,
      idCol: String,
      textCol: String,
      hotKeys: DataFrame,
      minLen: Int = 40): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    val wins = substringWindows(df, idCol, textCol, minLen)
    val hot = hotKeys.select(col(hotKeys.columns.head).as("__key"))
    // plain left_semi, deliberately: hot is small by construction (only
    // repeated content), so AQE broadcasts it and the probe side never
    // re-shuffles — a measured A/B showed the X306 bloom prefilter is a
    // NET LOSS here (its build is an eager action that re-derives the
    // hot aggregation: sf1 16.0 s plain vs 23.2 s bloomed, 18.5 s
    // bloomed+pinned)
    val perDoc = wins.join(hot, Seq("__key"), "left_semi")
      .groupBy(col("__id"))
      .agg(sort_array(collect_set(col("__pos"))).as("__ps"))
    val (starts, ends) = spanBounds(col("__ps"), minLen)
    perDoc
      .select(col("__id"), explode(arrays_zip(starts.as("s"), ends.as("e"))).as("__z"))
      .select(col("__id").as(idCol),
        col("__z.s").as("span_start"),
        (col("__z.e") + minLen - 1).as("span_end"),
        (col("__z.e") + minLen - col("__z.s")).as("span_len"))
      .orderBy(idCol, "span_start")
  }

  /** Substring-grain dedup REMOVAL (the action to [[repeatedSpans]]'s
    * audit): every window keeps its globally FIRST occurrence — the
    * (id, pos) struct-min over each repeated key, the deterministic
    * keep-first convention of the C4 line rule at substring grain — and
    * every other occurrence is excised, with overlapping removable
    * windows merged into maximal spans first. Rewriting is a pure
    * per-row segment concat (no second corpus pass).
    *
    * Returns (idCol, text_clean, n_spans_removed, n_chars_removed) for
    * EVERY input row (clean docs pass through). */
  def removeRepeatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int = 40,
      minCount: Long = 2L): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    val wins = substringWindows(df, idCol, textCol, minLen)
    val hot = wins.groupBy(col("__key"))
      .agg(count(lit(1)).as("__cnt"),
        min(struct(col("__id"), col("__pos"))).as("__keep"))
      .filter(col("__cnt") >= minCount)
      .select(col("__key"), col("__keep"))
    // plain broadcast-able inner join (see the repeatedSpans A/B note)
    val removable = wins.join(hot, Seq("__key"))
      .filter(!(col("__id") === col("__keep.__id") &&
        col("__pos") === col("__keep.__pos")))
      .groupBy(col("__id"))
      .agg(sort_array(collect_set(col("__pos"))).as("__ps"))
    val (starts, ends) = spanBounds(col("__ps"), minLen)
    val spans = removable.select(col("__id"),
      starts.as("__ss"), transform(ends, e => e + minLen - 1).as("__es"))
    // kept text = concat of the size(__ss)+1 gaps between consecutive
    // spans (gap i runs from __es[i]+1 to __ss[i+1]−1, with sentinels 0
    // and len+1); substr len is clamped at 0 so touching spans contribute
    // empty segments
    val base = df.select(col(idCol), col(textCol))
    base
      .join(spans, base(idCol) === spans("__id"), "left")
      .select(col(idCol),
        when(col("__ss").isNull, col(textCol)).otherwise(
          concat_ws("",
            transform(sequence(lit(0), size(col("__ss"))), i => {
              val from = when(i === 0, lit(1))
                .otherwise(element_at(col("__es"), i) + 1)
              val until = when(i === size(col("__ss")),
                length(col(textCol)) + 1)
                .otherwise(element_at(col("__ss"), i + 1))
              col(textCol).substr(from, greatest(until - from, lit(0)))
            }))).as("text_clean"),
        coalesce(size(col("__ss")), lit(0)).as("n_spans_removed"),
        coalesce(
          aggregate(
            transform(sequence(lit(1), size(col("__ss"))), i =>
              element_at(col("__es"), i) - element_at(col("__ss"), i) + 1),
            lit(0), (acc, x) => acc + x),
          lit(0)).as("n_chars_removed"))
  }
}
