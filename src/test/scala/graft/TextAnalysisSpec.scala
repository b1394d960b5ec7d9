package graft

import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("invertedIndex: full doc_freq, capped postings under the (tf desc, doc asc) order") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "hot hot hot cold"),
      (2L, "hot hot cold"),
      (3L, "hot cold rare"),
      (4L, "hot")).toDF("doc_id", "text")
    val idx = TextAnalysis.invertedIndex(docs, "doc_id", "text", maxPostings = 2)
      .collect().map(r => r.getString(0) -> r).toMap
    // doc_freq is UNCAPPED even when the stored list truncates
    assert(idx("hot").getAs[Long]("doc_freq") == 4L)
    val hot = idx("hot").getSeq[org.apache.spark.sql.Row](2)
    assert(hot.size == 2)
    assert(hot.map(r => (r.getLong(0), r.getLong(1))) == Seq((1L, 3L), (2L, 2L)))
    // tf tie between docs 1,2,3 for "cold" breaks by doc_id asc
    val cold = idx("cold").getSeq[org.apache.spark.sql.Row](2)
    assert(cold.map(_.getLong(0)) == Seq(1L, 2L))
    assert(idx("rare").getAs[Long]("doc_freq") == 1L)
  }

  test("truncateVocabulary keeps the top vocabulary and UNKs the tail deterministically") {
    import graft.operators.TextAnalysis
    // counts: a=4, b=3, c=2, d=1, e=1 -> maxVocab=3, minCount=2 keeps {a,b,c}
    val docs = Seq(
      (1L, "a a b c d"),
      (2L, "a b e"),
      (3L, "a b c")).toDF("doc_id", "text")
    val out = TextAnalysis.truncateVocabulary(docs, "doc_id", "text", maxVocab = 3, minCount = 2L)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[String]("text_unk") == "a a b c <unk>")
    assert(out(1L).getAs[Long]("n_tokens") == 5L && out(1L).getAs[Long]("n_oov") == 1L)
    assert(out(2L).getAs[String]("text_unk") == "a b <unk>")
    assert(out(3L).getAs[Long]("n_oov") == 0L)
    // the cut is a TOTAL order: maxVocab=2 with the c-vs-b tie broken by
    // count first, then token asc -> keeps {a, b}
    val cut = TextAnalysis.truncateVocabulary(docs, "doc_id", "text", maxVocab = 2, minCount = 1L)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text_unk")).toMap
    assert(cut(3L) == "a b <unk>")
    // custom unk token flows through
    val custom = TextAnalysis.truncateVocabulary(
      docs, "doc_id", "text", maxVocab = 1, minCount = 1L, unkToken = "__RARE__").head
    assert(custom.getAs[String]("text_unk").contains("__RARE__"))
  }

  test("c4Filter applies every line rule and doc rule independently") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      // 5 good sentences on own lines + 3 droppable lines
      (1L, "one two three.\nfour five six!\nseven eight nine?\nten eleven twelve.\nand a last one.\n" +
        "no terminal punct line\ntoo short.\nuses javascript here."),
      // clean but only 1 sentence -> flag_sentences false
      (2L, "just one good line."),
      // lorem ipsum in a KEPT line -> flag_lorem false
      (3L, "first good line one.\nsecond good line two.\nthird good line three.\n" +
        "fourth good line four.\nthe lorem ipsum line five."),
      // curly brace in kept text -> flag_brace false
      (4L, "alpha beta gamma {x}.\nd e f.\ng h i.\nj k l.\nm n o."),
      // blocklist word -> flag_blocklist false
      (5L, "this is verboten stuff.\na b c.\nd e f.\ng h i.\nj k l.")).toDF("doc_id", "text")
    val out = TextAnalysis.c4Filter(docs, "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // doc 1: 5 kept, 3 dropped (no punct / 2 words / javascript), keep = true
    assert(out(1L).getAs[Long]("n_lines_kept") == 5L)
    assert(out(1L).getAs[Long]("n_lines_dropped") == 3L)
    assert(out(1L).getAs[Long]("n_sentences") == 5L)
    assert(out(1L).getAs[Boolean]("keep"))
    assert(!out(1L).getAs[String]("clean_text").contains("javascript"))
    assert(!out(2L).getAs[Boolean]("flag_sentences") && !out(2L).getAs[Boolean]("keep"))
    assert(!out(3L).getAs[Boolean]("flag_lorem") && out(3L).getAs[Boolean]("flag_brace"))
    assert(!out(4L).getAs[Boolean]("flag_brace") && out(4L).getAs[Boolean]("flag_lorem"))
    assert(!out(5L).getAs[Boolean]("flag_blocklist"))
    // ".!?\"" all count as terminal; a quote-ended line survives
    val q = TextAnalysis.c4Filter(
      Seq((9L, "he said \"three word quote\"")).toDF("doc_id", "text"), "text").head
    assert(q.getAs[Long]("n_lines_kept") == 1L)
  }

  test("duplicateSpans merges overlapping corpus-repeated grams into maximal spans") {
    val df = Seq(
      (1L, "x1 x2 a b c d e f x3"),          // shares a 6-token run with doc 2
      (2L, "y1 a b c d e f y2 y3"),
      (3L, "p q r s t p q r s t"),           // internal repetition, adjacent ranges fuse
      (4L, "u1 u2 u3 u4 u5 u6 u7 u8"),       // all unique -> absent
      (5L, "a b c d z1 z2 z3 z4 z5 a b c d")) // gap > n: two separate islands
      .toDF("doc_id", "text")
    val out = TextAnalysis.duplicateSpans(df, "doc_id", "text", n = 4)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      (1L, 2L, 7L, 6L, 3L),   // "a b c d e f": gram starts 2,3,4 fuse
      (2L, 1L, 6L, 6L, 3L),
      (3L, 0L, 9L, 10L, 4L),  // starts 0,1 cover 0-4; starts 5,6 cover 5-9: adjacent -> one span
      (5L, 0L, 3L, 4L, 1L),   // "a b c d" twice, 9 tokens apart: stays two spans
      (5L, 9L, 12L, 4L, 1L)))
  }

  test("removeDuplicateSpansKeepFirst preserves the canonical first occurrence") {
    val df = Seq(
      (1L, "x1 x2 a b c d e f x3"),  // first occurrence of the run lives here -> untouched
      (2L, "y1 a b c d e f y2 y3"),  // later copy -> cut
      (3L, "p q r s t p q r s t"),   // internal: first window kept, repeat cut
      (4L, "u1 u2 u3 u4 u5 u6 u7 u8"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.removeDuplicateSpansKeepFirst(df, "doc_id", "text", n = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, "x1 x2 a b c d e f x3", 9L, 0L), // canonical copies survive
      (2L, "y1 y2 y3", 3L, 6L),
      (3L, "p q r s t", 5L, 5L),            // non-first starts 5,6 cover tokens 5-9
      (4L, "u1 u2 u3 u4 u5 u6 u7 u8", 8L, 0L)))
  }

  test("duplicateSpans matches a brute-force reference model on random corpora") {
    val r = new scala.util.Random(11)
    val vocab = Vector("a", "b", "c", "d", "e")
    val n = 3
    (1 to 2).foreach { _ =>
      val docs = (0L until 12L).map(id =>
        id -> Seq.fill(5 + r.nextInt(20))(vocab(r.nextInt(vocab.size))).mkString(" "))
      val grams = docs.flatMap { case (id, t) =>
        t.split(" ").toSeq.sliding(n).zipWithIndex.collect {
          case (g, p) if g.size == n => (id, p.toLong, g.mkString(" "))
        }
      }
      val counts = grams.groupBy(_._3).map { case (g, occ) => g -> occ.size }
      val expected = grams.filter(g => counts(g._3) >= 2)
        .groupBy(_._1).toSeq.flatMap { case (id, hs) =>
          val ps = hs.map(_._2).sorted
          val islands = ps.tail.foldLeft(List(List(ps.head))) { (acc, p) =>
            if (p > acc.head.head + n) List(p) :: acc // acc.head.head is the island's LAST pos
            else (p :: acc.head) :: acc.tail
          }.map(_.reverse).reverse
          islands.map(ps2 =>
            (id, ps2.head, ps2.last + n - 1, ps2.last + n - ps2.head, ps2.size.toLong))
        }.sortBy(x => (x._1, x._2))
      val out = TextAnalysis.duplicateSpans(docs.toDF("doc_id", "text"), "doc_id", "text", n)
        .orderBy("doc_id", "span_start").collect()
        .map(row => (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4)))
      assert(out.toSeq == expected, s"mismatch on corpus ${docs.take(3)}...")
    }
  }

  test("removeDuplicateSpans cuts covered tokens, keeps case/order, accounts totals") {
    val df = Seq(
      (1L, "X1 x2 A b c d e f x3"),  // original case must survive outside spans
      (2L, "y1 a b c d e f y2 y3"),
      (3L, "p q r s t p q r s t"),   // fully covered -> empty text_clean, row kept
      (4L, "u1 u2 u3 u4 u5 u6 u7 u8"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.removeDuplicateSpans(df, "doc_id", "text", n = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, "X1 x2 x3", 3L, 6L),
      (2L, "y1 y2 y3", 3L, 6L),
      (3L, "", 0L, 10L),
      (4L, "u1 u2 u3 u4 u5 u6 u7 u8", 8L, 0L)))
  }

  test("langId picks the language with the most marker hits, 'und' when none") {
    val df = Seq(
      "the cat sat on a mat of straw",
      "le chat et la souris",
      "der hund und die katze",
      "el perro y que gato",
      "xyzzy plugh").toDF("text")
    val out = df.select(TextAnalysis.langId(col("text"))).collect().map(_.getString(0))
    assert(out.toSeq == Seq("en", "fr", "de", "es", "und"))
  }

  test("scriptCounts/dominantScript: exact per-range counts, ties and 'none'") {
    val cyr = "Да" // "Да" — 2 cyrillic chars
    val cjk = "你好吗" // "你好吗" — 3 cjk chars
    val ara = "مرحبا" // "مرحبا" — 5 arabic chars
    val df = Seq(
      (1, s"hello $cyr"), // 5 latin, 2 cyrillic -> latin
      (2, s"$cjk $ara"), // 3 cjk, 5 arabic -> arabic
      (3, "12345 !!"), // nothing -> none
      (4, s"ab $cyr") // 2 vs 2 tie -> latin (fixed priority)
    ).toDF("id", "text")
    val out = df.select(
      Seq(col("id")) ++
        TextAnalysis.scriptCounts(col("text")).map { case (n, c) => c.as(n) } :+
        TextAnalysis.dominantScript(col("text")).as("dom"): _*)
      .orderBy("id").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))
    assert(out.toSeq == Seq(
      (1, 5L, 2L, 0L, 0L, "latin"),
      (2, 0L, 0L, 3L, 5L, "arabic"),
      (3, 0L, 0L, 0L, 0L, "none"),
      (4, 2L, 2L, 0L, 0L, "latin")))
  }

  test("qualityFeatures computes exact counts on a known string") {
    val text = "Hello, world! The answer is 42."
    val row = Seq(text).toDF("text")
      .select(TextAnalysis.qualityFeatures(col("text")).map { case (n, c) => c.as(n) }: _*)
      .head
    assert(row.getLong(0) == text.length.toLong)
    assert(row.getLong(1) == 6L) // Hello world The answer is 42
    // punctuation: , ! . -> 3 chars
    assert(math.abs(row.getDouble(2) - 3.0 / text.length) < 1e-6)
  }

  test("tokenCounts: whitespace vs BPE-ish tokenization") {
    val row = Seq("don't stop-me now!").toDF("text")
      .select(TextAnalysis.tokenCounts(col("text")).map { case (n, c) => c.as(n) }: _*)
      .head
    assert(row.getLong(0) == 3L) // ws tokens
    assert(row.getLong(1) == 8L) // don ' t stop - me now !
  }

  test("wordFreq counts tokens with deterministic tie-breaking") {
    val docs = Seq("b a a", "b c a").toDF("text")
    val out = TextAnalysis.wordFreq(docs, "text", topN = 2).collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("a", 3L), ("b", 2L)))
  }

  test("zipfFit: exact 1/r frequencies fit slope -1, intercept ln C") {
    // freq = 12/r for ranks 1..4: ln y = ln 12 - 1 · ln r exactly
    val text = Seq.fill(12)("w1") ++ Seq.fill(6)("w2") ++ Seq.fill(4)("w3") ++ Seq.fill(3)("w4")
    val docs = Seq(text.mkString(" ")).toDF("text")
    val r = TextAnalysis.zipfFit(docs, "text", topN = 4).head
    assert(r.getAs[Long]("n_points") == 4L)
    assert(math.abs(r.getAs[Double]("slope") + 1.0) < 1e-6,
      s"pure 1/r curve must fit slope -1, got ${r.getAs[Double]("slope")}")
    assert(math.abs(r.getAs[Double]("intercept") - math.log(12.0)) < 1e-6)
  }

  test("vocabStats: exact token/type/hapax counts on a hand corpus") {
    val docs = Seq("a a b c", "b d").toDF("text")
    // tokens 6; types a,b,c,d = 4; hapax c,d = 2
    val r = TextAnalysis.vocabStats(docs, "text").head
    assert(r.getAs[Long]("n_tokens") == 6L && r.getAs[Long]("n_types") == 4L &&
      r.getAs[Long]("n_hapax") == 2L)
    assert(r.getAs[Double]("ttr") == math.rint(4.0 / 6.0 * 1e6) / 1e6)
    assert(r.getAs[Double]("hapax_frac") == 0.5)
  }

  test("vocabRichness: textbook Chao1 and Good-Turing on a planted histogram") {
    // counts: a=1, b=1, c=2, d=3 -> f1=2, f2=1, S=4, N=7
    val docs = Seq("a b c c d d d").toDF("text")
    val r = TextAnalysis.vocabRichness(docs, "text").head
    assert(r.getAs[Long]("n_tokens") == 7L && r.getAs[Long]("n_types") == 4L)
    assert(r.getAs[Long]("f1") == 2L && r.getAs[Long]("f2") == 1L)
    assert(r.getAs[Double]("chao1") == 6.0, "chao1 = 4 + 4/(2·1) = 6")
    assert(r.getAs[Double]("gt_unseen_mass") == math.rint(2.0 / 7.0 * 1e6) / 1e6)
    // no doubletons: bias-corrected fallback f1(f1-1)/2
    val nd = Seq("x y z z z").toDF("text")
    val r2 = TextAnalysis.vocabRichness(nd, "text").head
    assert(r2.getAs[Double]("chao1") == 3.0 + 2.0 * 1.0 / 2.0)
  }

  test("collocations: planted pair gets pmi = ln 3, support filter drops the rest") {
    val docs = Seq("new york is big", "new york wins", "big apple").toDF("text")
    // bigrams: (new,york)x2 of N=6; unigrams new=2, york=2
    val out = TextAnalysis.collocations(docs, "text", minCount = 2L, topN = 10).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getString(0) == "new" && r.getString(1) == "york" && r.getLong(2) == 2L)
    assert(math.abs(r.getDouble(3) - math.log(3.0)) < 1e-6,
      s"pmi must be ln(2·6/(2·2)) = ln 3, got ${r.getDouble(3)}")
    // single-word docs contribute no bigrams and must not crash
    val tiny = Seq("solo", "").toDF("text")
    assert(TextAnalysis.collocations(tiny, "text", minCount = 1L, topN = 5).count() == 0L)
  }

  test("fingerprintOverlap detects a small doc embedded in a large one") {
    val small = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val large = "intro words before the borrowed passage " + small +
      " and completely unrelated trailing content about spark physical plans"
    val other = "nothing in common with either document at all whatsoever today"
    val docs = Seq((1L, small), (2L, large), (3L, other)).toDF("doc_id", "text")
    val out = TextAnalysis.fingerprintOverlap(docs, "doc_id", "text", minShared = 1).collect()
    val pair = out.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(pair.isDefined, s"embedded doc not detected: ${out.mkString(",")}")
    // containment of the small doc in the large one should be high
    assert(pair.get.getAs[Double]("containment1") > 0.5)
    assert(!out.exists(r => r.getLong(0) == 3L || r.getLong(1) == 3L))
  }

  test("wordRepetition flags boilerplate by most-frequent-word fraction") {
    val docs = Seq(
      (1L, "buy now buy now buy now buy now"), // "buy"/"now" 4 of 8 -> 0.5
      (2L, "a perfectly ordinary sentence with unique words")) // 1/7
      .toDF("doc_id", "text")
    val out = TextAnalysis.wordRepetition(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_words") == 8L)
    assert(out(0).getAs[Double]("top_word_ratio") == 0.5)
    assert(out(1).getAs[Long]("n_words") == 7L)
    assert(out(1).getAs[Double]("top_word_ratio") < 0.2)
  }

  test("redactPii replaces emails, IPs and phones with typed tokens and counts them") {
    val docs = Seq(
      (1L, "contact jo.doe+x@example.org or +33 1 23 45 67 89 from 10.0.0.1 thanks"),
      (2L, "no pii here at all"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(docs, "doc_id", "text").orderBy("doc_id").collect()
    assert(out(0).getString(1) == "contact <EMAIL> or <PHONE> from <IP> thanks")
    assert(out(0).getLong(2) == 3L)
    assert(out(1).getString(1) == "no pii here at all")
    assert(out(1).getLong(2) == 0L)
  }

  test("fingerprintSummary is deterministic with stable checksum") {
    val docs = Seq((1L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val a = TextAnalysis.fingerprintSummary(docs, "doc_id", "text").head
    val b = TextAnalysis.fingerprintSummary(docs, "doc_id", "text").head
    assert(a == b)
    assert(a.getInt(1) > 0)
  }

  test("winnowFingerprints: coverage guarantee, determinism, short-doc edge") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq((1L, text), (2L, text), (3L, "ab")).toDF("doc_id", "text")
    val out = TextAnalysis.winnowFingerprints(docs, "doc_id", "text", k = 3, window = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byDoc = out.groupBy(_._1).map { case (d, ps) => d -> ps.map(_._2).sorted.toSeq }
    // identical docs -> identical print sets (content-only determinism)
    assert(byDoc(1L) == byDoc(2L))
    // the winnowing guarantee: selected positions are at most `window` apart
    // (every window of w consecutive grams contributes its min)
    val positions = byDoc(1L).map(p => (p % 16777216L).toInt).sorted
    assert(positions.head <= 4)
    positions.sliding(2).foreach {
      case Seq(a, b) => assert(b - a <= 4, s"coverage gap $a -> $b")
      case _ =>
    }
    assert(positions.last >= text.length - 2 - 3)
    // a doc shorter than one window still winnows its single partial window
    assert(byDoc(3L).size == 1)
  }

  test("winnowFingerprints: native kernel == windowed-min formulation (r15)") {
    // pin the one-pass winnowSelect kernel against the reference shape it
    // replaced: min over (rows between 0 and window-1) on winnow_gram_keys,
    // full windows plus the pos==1 partial-window edge, then distinct
    import graft.functions.winnow_gram_keys
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "aaaaaaaaaaaaaaaa"), // degenerate repeats: identical gram hashes
      (3L, "ab"), // shorter than k: single whole-text gram
      (4L, "abcd"), // fewer grams (2) than window
      (5L, ""), // empty text still yields one empty gram
      (6L, "xyzzy plugh")).toDF("doc_id", "text")
    val fast = TextAnalysis.winnowFingerprints(docs, "doc_id", "text", k = 3, window = 4)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("__pos")).rowsBetween(0, 3)
    val ref = docs.select(
        col("doc_id"),
        posexplode(winnow_gram_keys(col("text"), 3)).as(Seq("__i", "__key")))
      .select(col("doc_id"), (col("__i") + 1).as("__pos"), col("__key"))
      .withColumn("__sel", min(col("__key")).over(w))
      .withColumn("__wn", count(lit(1)).over(w))
      .filter(col("__wn") === 4 || col("__pos") === 1)
      .select(col("doc_id"), col("__sel").as("print"))
      .distinct()
    assert(fast.exceptAll(ref).count() == 0 && ref.exceptAll(fast).count() == 0)
  }

  test("tfIdfTopTerms: hand-computed scores, ubiquitous terms rank last") {
    import org.apache.spark.sql.Row
    val df = Seq(
      (1L, "the apple banana apple"),
      (2L, "the banana cherry"),
      (3L, "the cherry cherry apple")).toDF("id", "text")
    val out = TextAnalysis.tfIdfTopTerms(df, "id", "text", topPerDoc = 2)
      .orderBy(col("id"), col("tfidf").desc, col("term")).collect()
    def s(tf: Int, df0: Int) =
      BigDecimal(tf * math.log(3.0 / df0)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // "the" appears in all docs -> idf 0 -> never in top 2 (beaten by any positive score)
    assert(out.toSeq == Seq(
      Row(1L, "apple", s(2, 2)), Row(1L, "banana", s(1, 2)),
      Row(2L, "banana", s(1, 2)), Row(2L, "cherry", s(1, 2)),
      Row(3L, "cherry", s(2, 2)), Row(3L, "apple", s(1, 2))))
  }

  test("chunkText: window boundaries, overlap, and short-doc handling") {
    import org.apache.spark.sql.Row
    val df = Seq((1L, "abcdefghij"), (2L, "xy")).toDF("id", "text")
    val out = TextAnalysis.chunkText(df, "id", "text", size = 6, overlap = 2)
      .orderBy("id", "chunk_idx").collect()
    // doc 1 (len 10): starts 1, 5 (stride 4, last start <= len-overlap=8) -> "abcdef", "efghij"
    // doc 2 (len 2 < size): single chunk, whole text
    assert(out.toSeq == Seq(
      Row(1L, 0L, "abcdef"), Row(1L, 1L, "efghij"),
      Row(2L, 0L, "xy")))
  }

  test("lmBigramScore: hand-computed bigram log-probs") {
    import org.apache.spark.sql.Row
    // corpus bigrams: "a b" x2 (docs 1, 2), "b a" x1, "a c" x1
    //   c(a .) = c(ab)+c(ac) = 3, c(b .) = 1
    // doc 1 "a b a c": ln(2/3), ln(1/1), ln(1/3)
    // doc 2 "a b":     ln(2/3)
    val df = Seq((1L, "a b a c"), (2L, "a b")).toDF("id", "text")
    val out = TextAnalysis.lmBigramScore(df, "id", "text")
      .orderBy("id").collect()
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val d1 = r6((r6(math.log(2.0/3)) + r6(math.log(1.0)) + r6(math.log(1.0/3))) / 3)
    val d2 = r6(math.log(2.0/3))
    assert(out.toSeq == Seq(Row(1L, 3L, d1), Row(2L, 1L, d2)))
  }

  test("chi2Keywords: hand 2×2 chi-square; shared token scores zero; top-k ranks") {
    val docs = Seq(
      (1L, "en", "apple apple banana"), (2L, "en", "apple"),
      (3L, "fr", "chat"), (4L, "fr", "chat banana"))
      .toDF("id", "cls", "text").repartition(3)
    val out = TextAnalysis.chi2Keywords(docs, "id", "text", "cls", k = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getBoolean(4), r.getInt(5)))).toMap
    // apple: a=2 b=0 c=0 d=2 -> χ² = 4·16/16 = 4, exclusive to en
    assert(out(("en", "apple")) == ((2L, 4.0, true, 1)))
    assert(out(("fr", "chat")) == ((2L, 4.0, true, 1)))
    // banana appears once per class: diff = ad − bc = 0 -> χ² = 0
    assert(out(("en", "banana")) == ((1L, 0.0, false, 2)))
    assert(out(("fr", "banana")) == ((1L, 0.0, false, 2)))
    // tokens never seen in a class are not scored for it
    assert(!out.contains(("en", "chat")))
  }

  test("perplexityScore: hand-solved add-one unigram LM with OOV") {
    import org.apache.spark.sql.Row
    // ref "a a b": N=3, V=2; p(a)=3/6, p(b)=2/6, p(OOV)=1/6
    val ref = Seq((10L, "a a b")).toDF("id", "text")
    // doc 1 "a b c": ce = -(ln 1/2 + ln 1/3 + ln 1/6)/3 = ln(36^(1/3))
    // doc 2 "c c": all-OOV, ce = ln 6 — strictly worse than doc 1
    val df = Seq((1L, "a b c"), (2L, "c c")).toDF("id", "text").repartition(3)
    val out = TextAnalysis.perplexityScore(df, "id", "text", ref)
      .orderBy("id").collect()
    // mirror the operator's exact FP order: long 1e-6-unit sum, /1e6, /n
    def lq(p: Double) = math.floor(math.log(p) * 1e6 + 0.5)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ce1 = r6(-(lq(0.5) + lq(1.0 / 3) + lq(1.0 / 6)) / 1e6 / 3.0)
    val ce2 = r6(-(2 * lq(1.0 / 6)) / 1e6 / 2.0)
    assert(out.toSeq == Seq(
      Row(1L, 3L, ce1, r6(math.exp(ce1))),
      Row(2L, 2L, ce2, r6(math.exp(ce2)))))
    assert(ce2 > ce1, "all-OOV text must score strictly worse")
    assert(math.abs(math.exp(ce1) - math.pow(36.0, 1.0 / 3)) < 1e-4)
  }

  test("knBigramPerplexity: hand-solved KN terms, unseen-context backoff, invariance") {
    // ref "a b a b a c": bigrams (a,b)=2 (b,a)=2 (a,c)=1; ctx a:(c1=3,n1l=2)
    // b:(c1=2,n1l=1); cont n1r(a)=n1r(b)=n1r(c)=1; B=3 → P_cont(any)=1/4
    val ref = Seq((10L, "a b a b a c")).toDF("id", "text")
    val df = Seq((1L, "a b"), (2L, "z q")).toDF("id", "text").repartition(3)
    val out = TextAnalysis.knBigramPerplexity(df, "id", "text", ref, discount = 0.75)
      .orderBy("id").collect()
    def lq(p: Double) = math.floor(math.log(p) * 1e6 + 0.5)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 1: first token a → 1/4; (a,b) → (2−.75)/3 + .75·2/3·(1/4)
    val pab = (2.0 - 0.75) / 3.0 + 0.75 * 2.0 / 3.0 * 0.25
    val ce1 = r6(-(lq(0.25) + lq(pab)) / 1e6 / 2.0)
    assert(out(0).getAs[Double]("cross_entropy") == ce1)
    // doc 2: both tokens unseen → every term is the unk continuation 1/4
    val ce2 = r6(-(2 * lq(0.25)) / 1e6 / 2.0)
    assert(out(1).getAs[Double]("cross_entropy") == ce2)
    assert(math.abs(out(1).getAs[Double]("perplexity") - 4.0) < 1e-4)
    assert(ce2 > ce1, "unseen text must score worse than in-model text")
    val o7 = TextAnalysis.knBigramPerplexity(df.repartition(7), "id", "text", ref)
      .orderBy("id").collect()
    assert(o7.map(_.getAs[Double]("cross_entropy")).toSeq ==
      out.map(_.getAs[Double]("cross_entropy")).toSeq)
  }

  test("bigram scorers on degenerate input: one token, no token, bigram-free reference") {
    def lq(p: Double) = math.floor(math.log(p) * 1e6 + 0.5)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // ref "a b a c b c": five distinct bigrams (B = 5), left contexts
    // N1+(•a) = 1, N1+(•b) = N1+(•c) = 2; unigrams a = b = c = 2, N = 6
    val ref = Seq((10L, "a b a c b c")).toDF("id", "text")
    // doc 1 is one token; docs 2..5 (empty, whitespace, NULL, no
    // [a-z0-9] token) carry no term and are absent from the output
    val df = Seq[(Long, Option[String])]((1L, Some("B!")), (2L, Some("")),
      (3L, Some(" \t\n ")), (4L, None), (5L, Some("?! -- ..."))).toDF("id", "text")
      .repartition(3)
    val kn = TextAnalysis.knBigramPerplexity(df, "id", "text", ref).collect()
    // the lone first token scores only its continuation P_cont(b) = 2/(B+1)
    val ceKn = r6(-lq(2.0 / 6.0) / 1e6)
    assert(kn.map(r => (r.getAs[Long]("id"), r.getAs[Long]("n_tokens"),
      r.getAs[Double]("cross_entropy"))).toSeq == Seq((1L, 1L, ceKn)))
    val sb = TextAnalysis.stupidBackoffScore(df, "id", "text", ref).collect()
    // ... and under stupid backoff its unigram score alpha * c(b) / N
    assert(sb.map(r => (r.getAs[Long]("id"), r.getAs[Long]("n_tokens"),
      r.getAs[Double]("mean_neg_log_score"))).toSeq ==
      Seq((1L, 1L, r6(-lq(0.4 * 2.0 / 6.0) / 1e6))))

    // a reference of one-token docs has no bigram (B = 0): KN's P_cont is
    // 1/(0+1) = 1 for every term, so any doc scores ce 0 and perplexity 1;
    // stupid backoff scores every term by its unigram, 0.4 * 1/2 here
    val flat = Seq((10L, "a"), (11L, "b")).toDF("id", "text")
    val doc = Seq((1L, "a b z")).toDF("id", "text")
    val k0 = TextAnalysis.knBigramPerplexity(doc, "id", "text", flat).head
    assert(k0.getAs[Long]("n_tokens") == 3L)
    assert(k0.getAs[Double]("cross_entropy") == 0.0)
    assert(k0.getAs[Double]("perplexity") == 1.0)
    val s0 = TextAnalysis.stupidBackoffScore(doc, "id", "text", flat).head
    // a, b: 0.4 * 1/2; z is OOV: the pinned pseudo-count 0.4 * 1/2 too
    assert(s0.getAs[Long]("n_tokens") == 3L)
    assert(s0.getAs[Double]("mean_neg_log_score") == r6(-3 * lq(0.2) / 1e6 / 3.0))
  }

  test("charEntropy: hand-computed entropy, uniform and single-char extremes") {
    import org.apache.spark.sql.Row
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val df = Seq((1L, "abcd"), (2L, "aaaa")).toDF("id", "text")
    val out = TextAnalysis.charEntropy(df, "id", "text").orderBy("id").collect()
    // uniform over 4 chars: H = ln 4; single char: H = 0
    assert(out.toSeq == Seq(Row(1L, 4L, r6(math.log(4.0))), Row(2L, 4L, 0.0)))
  }

  test("bm25TopK: hand-computed scores, absent query terms contribute nothing") {
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "apple cherry"),
      (3L, "cherry cherry cherry")).toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopK(
      docs, "doc_id", "text", Seq("qa" -> "apple zzz"), topK = 3)
      .orderBy("rnk").collect()
    // N=3, avgdl=8/3; apple: df=2, idf=ln((3-2+0.5)/2.5+1)=ln(1.6)
    val avgdl = 8.0 / 3.0
    def bm25(tf: Long, dl: Long, df: Long): Long = {
      val idf = math.log((3.0 - df + 0.5) / (df + 0.5) + 1.0)
      val x = idf * (tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
      math.floor(x * 1000000.0 + 0.5).toLong
    }
    val expect = Seq(
      (1L, bm25(2, 3, 2)), // doc 1: tf(apple)=2, dl=3
      (2L, bm25(1, 2, 2))) // doc 2: tf=1, dl=2; doc 3 has no query term
      .sortBy(-_._2)
    assert(out.map(r => (r.getLong(1), math.round(r.getDouble(2) * 1e6))).toSeq == expect)
    assert(out.map(_.getInt(3)).toSeq == Seq(1, 2))
  }

  test("burrowsDelta: identical styles score 0, divergent style stands out") {
    val docs = Seq(
      ("s1", "alpha alpha beta gamma"), ("s1", "alpha beta beta gamma"),
      ("s2", "alpha alpha beta gamma alpha beta beta gamma"),
      ("s3", "gamma gamma gamma gamma gamma gamma alpha beta"))
      .zipWithIndex.map { case ((s, t), i) => (i.toLong, s, t) }
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.burrowsDelta(docs, "source", "text", topWords = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Double]("delta")).toMap
    // s1 and s2 have IDENTICAL relative frequencies ⇒ delta exactly 0
    assert(out(("s1", "s2")) == 0.0, out.toString)
    assert(out(("s1", "s3")) > 1.0 && out(("s2", "s3")) > 1.0)
  }

  test("textRank: the connective hub word outranks the leaves") {
    // star-ish co-occurrence: 'spark' adjacent to many distinct words,
    // leaves only ever touch 'spark'
    val docs = Seq("spark joins", "spark windows", "spark shuffle",
      "spark catalyst", "joins windows").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val out = TextAnalysis.textRank(docs, "text", topK = 10)
      .collect().map(r => r.getString(0) -> r.getInt(2)).toMap
    assert(out("spark") == 1, s"hub must rank first: $out")
    assert(out.size == 5)
    // short tokens are dropped entirely
    val tiny = Seq((1L, "a b c d")).toDF("doc_id", "text")
    assert(TextAnalysis.textRank(tiny, "text").count() == 0L)
  }

  test("rakeKeywords: multi-word phrases outscore singles, stopwords split") {
    val docs = Seq((1L,
      "deep learning of deep networks is the best deep learning")).toDF("doc_id", "text")
    // phrases: "deep learning", "deep networks", "best deep learning"
    // freq: deep=4 learning=3? occurrences: [deep learning][deep networks]
    // [best deep learning] → deep 3, learning 2, networks 1, best 1
    // deg:  deep 2+2+3=7, learning 2+3=5, networks 2, best 3
    val out = TextAnalysis.rakeKeywords(docs, "doc_id", "text", topK = 3)
      .orderBy("rnk").collect()
    assert(out.head.getString(1) == "best deep learning")
    // score = 3/1 + 7/3 + 5/2 = 7.833333
    assert(math.abs(out.head.getAs[Double]("score") - 7.833333) < 1e-5)
    assert(out.map(_.getString(1)).toSet ==
      Set("best deep learning", "deep learning", "deep networks"))
  }

  test("queryLikelihoodTopK: hand-computed Dirichlet scores and ranking") {
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "apple cherry"),
      (3L, "cherry cherry cherry")).toDF("doc_id", "text")
    val out = TextAnalysis.queryLikelihoodTopK(
      docs, "doc_id", "text", Seq("qa" -> "apple zzz"), topK = 3, mu = 10.0)
      .orderBy("rnk").collect()
    // T=8 tokens, cf(apple)=3; nq=2 (zzz matches nothing but counts in |q|)
    def ql(tf: Long, dl: Long): Long = {
      val t1 = math.floor(math.log(1.0 + tf * 8.0 / (10.0 * 3.0)) * 1e6 + 0.5).toLong
      val nrm = math.floor(2.0 * math.log(10.0 / (dl + 10.0)) * 1e6 + 0.5).toLong
      t1 + nrm
    }
    val expect = Seq((1L, ql(2, 3)), (2L, ql(1, 2))).sortBy(-_._2)
    assert(out.map(r => (r.getLong(1), math.round(r.getDouble(2) * 1e6))).toSeq
      == expect)
    assert(out.map(_.getInt(3)).toSeq == Seq(1, 2)) // doc 3: no match, absent
  }

  test("queryLikelihoodTopK: repeated query term weights by qtf, |q| counts multiplicity") {
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "apple cherry")).toDF("doc_id", "text")
    val out = TextAnalysis.queryLikelihoodTopK(
      docs, "doc_id", "text", Seq("qa" -> "apple apple zzz"), topK = 3, mu = 10.0)
      .orderBy("rnk").collect()
    // T=5 tokens, cf(apple)=3; qtf(apple)=2, |q|=3 (zzz counts)
    def ql(tf: Long, dl: Long): Long = {
      val t1 = 2L * math.floor(math.log(1.0 + tf * 5.0 / (10.0 * 3.0)) * 1e6 + 0.5).toLong
      val nrm = math.floor(3.0 * math.log(10.0 / (dl + 10.0)) * 1e6 + 0.5).toLong
      t1 + nrm
    }
    val expect = Seq((1L, ql(2, 3)), (2L, ql(1, 2))).sortBy(-_._2)
    assert(out.map(r => (r.getLong(1), math.round(r.getDouble(2) * 1e6))).toSeq
      == expect)
  }

  test("heapsFit: all-unique tokens give beta=1 exactly; closed vocabulary flatlines") {
    // every token is globally unique -> V(N) = N -> ln V = ln N: beta == 1,
    // ln_k == 0, bit-exactly (the points lie on y = x)
    val uniq = Seq.tabulate(40)(i =>
      (i.toLong, (0 until 5).map(j => s"w${i}x$j").mkString(" "))).toDF("id", "text")
    val u = TextAnalysis.heapsFit(uniq, "id", "text").head()
    assert(u.getAs[Long]("n_points") == 40L)
    assert(u.getAs[Double]("beta") == 1.0 && u.getAs[Double]("ln_k") == 0.0)
    // a 6-word closed pool: vocabulary saturates in doc 0 -> near-zero slope
    val closed = Seq.tabulate(40)(i =>
      (i.toLong, "alpha beta gamma delta epsilon zeta")).toDF("id", "text")
    val c = TextAnalysis.heapsFit(closed, "id", "text").head()
    assert(math.abs(c.getAs[Double]("beta")) < 0.05, c.toString)
    // partition-invariant (quantized points, exact moments)
    val rep = TextAnalysis.heapsFit(uniq.repartition(7), "id", "text").head()
    assert(rep.getAs[Double]("beta") == 1.0 && rep.getAs[Double]("ln_k") == 0.0)
  }

  test("compression_ratio: repetition compresses below prose, random above, empty = 1") {
    import graft.functions.compression_ratio
    val rnd = new scala.util.Random(5)
    val repetitive = "spam spam spam spam " * 100
    val prose = "the quick brown fox jumps over the lazy dog and then wanders " +
      "through seventeen distinct meadows describing each in novel vocabulary " * 5
    val random = Seq.fill(2000)((rnd.nextInt(0x4000) + 0x100).toChar).mkString
    val out = Seq((1L, repetitive), (2L, prose), (3L, random), (4L, ""))
      .toDF("id", "t")
      .select(col("id"), compression_ratio(col("t")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) < 0.1, s"repetition must compress hard: ${out(1L)}")
    assert(out(1L) < out(2L) && out(2L) < out(3L), out.toString)
    assert(out(3L) > 0.5 && out(4L) == 1.0)
  }

  test("gopherQualityFlags: each rule trips on its planted document") {
    val good = "the cat and the dog have that with food to be of note every day"
    val docs = Seq(
      (1L, good),                                             // passes all
      (2L, "the of and"),                                     // too few words (min 5)
      (3L, "the be to of and a b c d e f g h i j k l m n o"), // mean word len < 3
      (4L, "the # be # to # of # and # extra # words # here"),// symbol ratio > 0.1
      (5L, "- the cat\n- be dog\n- to bird\n- of fish\n- and cow"), // all bullets
      (6L, "the cat...\nbe dog...\nto bird...\nof fish..."),  // ellipsis lines > 0.3
      (7L, "the 111 222 333 444 555 666 777 888 999 000 be"), // alpha ratio < 0.8
      (8L, "purple monkey dishwasher banana quantum pickle"))  // < 2 stop words
      .toDF("doc_id", "text")
    val out = docs.select(
      col("doc_id") +:
        TextAnalysis.gopherQualityFlags(col("text"), minWords = 5L).map { case (n, c) => c.as(n) }: _*)
      .orderBy("doc_id").collect()
    val byId = out.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getAs[Boolean]("keep"))
    assert(!byId(2L).getAs[Boolean]("flag_word_count") && !byId(2L).getAs[Boolean]("keep"))
    assert(!byId(3L).getAs[Boolean]("flag_word_length"))
    assert(!byId(4L).getAs[Boolean]("flag_symbol_ratio"))
    assert(!byId(5L).getAs[Boolean]("flag_bullet"))
    assert(!byId(6L).getAs[Boolean]("flag_ellipsis"))
    assert(!byId(7L).getAs[Boolean]("flag_alpha"))
    assert(!byId(8L).getAs[Boolean]("flag_stopwords") && !byId(8L).getAs[Boolean]("keep"))
  }

  test("readability counts words/sentences/vowel-group syllables and scores Flesch") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, "The cat sat. The dog ran!"),
      (2L, "???"),
      (3L, "Extraordinary vocabulary demonstrates complexity.")).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.readability(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    // doc 1: 6 words, 2 sentences, 6 vowel groups (e, a, a, e, o, a)
    assert(out(0).getAs[Long]("n_words") == 6L)
    assert(out(0).getAs[Long]("n_sentences") == 2L)
    assert(out(0).getAs[Long]("n_syllables") == 6L)
    val f1 = out(0).getAs[Double]("flesch")
    assert(math.abs(f1 - (206.835 - 1.015 * 3.0 - 84.6 * 1.0)) < 1e-6)
    // doc 2: zero words -> null score, sentence floor at 1
    assert(out(1).getAs[Long]("n_words") == 0L && out(1).isNullAt(out(1).fieldIndex("flesch")))
    assert(out(1).getAs[Long]("n_sentences") == 1L)
    // doc 3: polysyllabic words push the score deeply negative
    assert(out(2).getAs[Double]("flesch") < 0.0)
  }

  test("cdc_chunks boundaries resynchronize after a prefix insertion") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(7)
    val body = Seq.fill(2000)(('a' + rnd.nextInt(26)).toChar).mkString
    val df = Seq((1L, body), (2L, "PREFIX-INSERTED " + body)).toDF("id", "text")
    val got = df.select(col("id"), graft.functions.cdc_chunks(col("text"), 6, 16, 256).as("c"))
      .orderBy("id").collect()
    val c1 = got(0).getSeq[Long](1)
    val c2 = got(1).getSeq[Long](1)
    assert(c1.nonEmpty && c2.nonEmpty)
    // content-defined boundaries realign: the shifted doc still shares the
    // vast majority of chunk hashes with the original
    val shared = c1.toSet.intersect(c2.toSet).size
    assert(shared >= c1.toSet.size - 3, s"shared=$shared of ${c1.toSet.size}")
    // determinism + empty-string behavior
    val again = df.select(graft.functions.cdc_chunks(col("text"), 6, 16, 256)).collect()
    assert(again(0).getSeq[Long](0) == c1)
    val empty = Seq((1L, "")).toDF("id", "text")
      .select(graft.functions.cdc_chunks(col("text"), 6, 16, 256)).collect()
    assert(empty(0).getSeq[Long](0).isEmpty)
  }

  test("cdcDedupStats reports exact redundancy on planted duplicate docs") {
    // seeded RANDOM bodies: chunks are unique WITHIN a doc (periodic text
    // would self-collide and break the 2x arithmetic)
    val rnd = new scala.util.Random(11)
    def body(n: Int) = Seq.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    val shared = body(1800)
    val df = Seq(
      (1L, "s1", shared), (2L, "s1", shared),        // full duplicate pair
      (3L, "s2", body(1800))).toDF("doc_id", "source", "text")
    val out = TextAnalysis.cdcDedupStats(df, "source", "doc_id", "text")
      .orderBy("source").collect()
    val s1 = out(0)
    // duplicate docs chunk identically -> every distinct chunk is cross-doc
    assert(s1.getAs[Long]("n_chunks") == 2 * s1.getAs[Long]("n_distinct_chunks"))
    assert(s1.getAs[Long]("n_crossdoc_chunks") == s1.getAs[Long]("n_distinct_chunks"))
    assert(s1.getAs[Double]("dup_ratio") == 0.5)
  }

  test("logOddsKeywords: counts exact, z matches the Monroe formula, order total") {
    val docs = Seq(
      ("en", "apple apple apple banana"),
      ("en", "apple banana"),
      ("fr", "banana cherry cherry"),
      ("fr", "cherry banana")).toDF("lang", "text")
    val out = TextAnalysis.logOddsKeywords(docs, "text", col("lang") === "en",
        alpha0 = 10.0, minLen = 3, topK = 10)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.map(t => (t._1, t._2, t._3)).toSet ==
      Set(("apple", 4L, 0L), ("banana", 2L, 2L), ("cherry", 0L, 3L)))
    // z recomputed from the published formula for 'apple':
    // yA=4 yB=0 nA=6 nB=5 alpha0=10 alpha=10*4/11
    val alpha = 10.0 * 4 / 11
    val delta = math.log((4 + alpha) / (6 + 10.0 - 4 - alpha)) -
      math.log((0 + alpha) / (5 + 10.0 - 0 - alpha))
    val z = delta / math.sqrt(1.0 / (4 + alpha) + 1.0 / alpha)
    val zApple = out.find(_._1 == "apple").get._4
    assert(math.abs(zApple - z) < 1e-5, s"zApple=$zApple expected~$z")
    // group-A-leaning first, group-B-leaning last
    assert(out.head._1 == "apple" && out.last._1 == "cherry")
  }

  test("hashedFeatures: md5-mod buckets match a reference hash, counts exact") {
    def bucket(t: String, d: Int): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % d
    }
    val df = Seq((1L, "Spark spark HASH trick"), (2L, "spark")).toDF("id", "text")
    val out = TextAnalysis.hashedFeatures(df, "id", "text", numBuckets = 64)
      .orderBy("id", "bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // aggregate through the same hash so a chance bucket collision among
    // the planted tokens cannot break the expectation
    val expected = Seq(
      (1L, Seq("spark", "spark", "hash", "trick")), (2L, Seq("spark")))
      .flatMap { case (id, ts) => ts.map(t => (id, bucket(t, 64))) }
      .groupBy(identity).map { case ((id, b), g) => (id, b, g.size.toLong) }
      .toSeq.sortBy(t => (t._1, t._2))
    assert(out.toSeq == expected)
  }

  test("canonicalizeUrls: case/port/fragment/tracking normalize; domain extracts") {
    import spark.implicits._
    val urls = Seq(
      (1L, "HTTPS://Sub.Example.COM:443/Path/X?utm_source=a&id=7&utm_campaign=b#frag"),
      (2L, "http://example.com:80/"),
      (3L, "https://example.com/x?gclid=123"),
      (4L, "https://example.com/x?fbclid=1&keep=2"),
      (5L, "http://a.b.co.uk:8080/y?id=1"),
      (6L, "https://example.com/CaseSensitive/Path"),
      // r10 ADVICE regression: a param whose NAME merely contains a
      // tracking name must survive untouched (the unanchored pattern ate
      // '...clid=5&' out of 'xgclid=5&keep=1')
      (7L, "https://example.com/x?xgclid=5&keep=1"),
      // consecutive tracking params leave a separator run the repair
      // passes must collapse
      (8L, "https://example.com/x?utm_a=1&utm_b=2&k=1&utm_c=3")).toDF("id", "url")
    val got = TextAnalysis.canonicalizeUrls(urls, "id", "url")
      .orderBy("id").collect()
      .map(r => (r.getAs[String]("url_canonical"), r.getAs[String]("host"),
        r.getAs[String]("domain")))
    assert(got(0)._1 == "https://sub.example.com/Path/X?id=7", s"got ${got(0)._1}")
    assert(got(0)._2 == "sub.example.com" && got(0)._3 == "example.com")
    assert(got(1)._1 == "http://example.com/")
    assert(got(2)._1 == "https://example.com/x")
    assert(got(3)._1 == "https://example.com/x?keep=2")
    // non-default port survives; last-two-label domain is the documented approx
    assert(got(4)._1 == "http://a.b.co.uk:8080/y?id=1" && got(4)._3 == "co.uk")
    assert(got(5)._1 == "https://example.com/CaseSensitive/Path",
      "path case must be preserved")
    assert(got(6)._1 == "https://example.com/x?xgclid=5&keep=1", s"got ${got(6)._1}")
    assert(got(7)._1 == "https://example.com/x?k=1", s"got ${got(7)._1}")
  }

  test("stripMarkup: script payloads vanish, tags space-separate, entities decode once") {
    import spark.implicits._
    val docs = Seq(
      (1L, "<div class=\"x\">hello<b>world</b></div>"),
      (2L, "keep <SCRIPT type='js'>var a = 1; if (a<2) alert();</SCRIPT>this"),
      (3L, "a<style>.c{color:red}</style>b <!-- note --> c"),
      (4L, "5 &lt; 7 &amp; 8 &gt; 2, &quot;q&quot; &#39;s&#39;"),
      (5L, "&amp;lt; decodes to &lt; not to <"),
      (6L, "plain text stays untouched")).toDF("doc_id", "text")
    val got = TextAnalysis.stripMarkup(docs, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.getAs[String]("text_clean"))
    assert(got(0) == "hello world")
    assert(got(1) == "keep this", s"got '${got(1)}'")
    assert(got(2) == "a b c")
    assert(got(3) == "5 < 7 & 8 > 2, \"q\" 's'")
    assert(got(4) == "&lt; decodes to < not to <")
    assert(got(5) == "plain text stays untouched")
    val r = TextAnalysis.stripMarkup(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(r(1).getAs[Double]("markup_ratio") > 0.5)
    assert(r(5).getAs[Double]("markup_ratio") == 0.0)
  }

  test("detectPan: Luhn separates real PANs from random digit runs; formats; lengths") {
    import spark.implicits._
    val docs = Seq(
      (1L, "pay with 4539 1488 0343 6467 thanks"),        // valid visa test PAN
      (2L, "fake 1234 5678 9012 3456 number"),            // candidate, Luhn-invalid
      (3L, "dashes 4539-1488-0343-6467 work too"),
      (4L, "short 1234 5678 and no candidates here"),
      (5L, "two: 4539 1488 0343 6467 and 1234 5678 9012 3456"),
      (6L, "amex 378282246310005 compact form")).toDF("doc_id", "text")
    val got = TextAnalysis.detectPan(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("n_candidates"), r.getAs[Long]("n_luhn_valid"),
        r.getAs[Boolean]("has_pan")))
    assert(got(0) == ((1L, 1L, true)))
    assert(got(1) == ((1L, 0L, false)))
    assert(got(2) == ((1L, 1L, true)))
    assert(got(3) == ((0L, 0L, false)))
    assert(got(4) == ((2L, 1L, true)))
    assert(got(5) == ((1L, 1L, true))) // 15-digit amex passes Luhn
  }

  test("encodingAnomalies: each detector fires on its artifact; clean text reads zero") {
    import spark.implicits._
    val docs = Seq(
      (1L, "perfectly clean ascii text, tabs\tand\nnewlines are fine"),
      (2L, "replacement here \uFFFD and \uFFFD again"),
      (3L, "bell\u0007 and escape\u001B bytes"),
      (4L, "c1 block\u0085artifact\u0092here"),
      (5L, "double decoded cafÃ© and naÃ¯ve"),
      (6L, "")).toDF("doc_id", "text").repartition(3)
    val got = TextAnalysis.encodingAnomalies(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(got(0).getAs[Long]("n_replacement") == 0L &&
      got(0).getAs[Long]("n_control") == 0L &&
      got(0).getAs[Long]("n_c1") == 0L &&
      got(0).getAs[Long]("n_mojibake") == 0L &&
      got(0).getAs[Double]("anomaly_score") == 0.0 &&
      !got(0).getAs[Boolean]("flagged"))
    assert(got(1).getAs[Long]("n_replacement") == 2L && got(1).getAs[Boolean]("flagged"))
    assert(got(2).getAs[Long]("n_control") == 2L)
    assert(got(3).getAs[Long]("n_c1") == 2L)
    // each mojibake pair ALSO lands in the C1/latin-1 counters by design
    // (double counting is fine: the score is a screen, not a measure)
    assert(got(4).getAs[Long]("n_mojibake") == 2L)
    assert(got(5).getAs[Long]("n_chars") == 0L &&
      got(5).getAs[Double]("anomaly_score") == 0.0)
  }

  test("rougeN: hand bigram overlap, multiplicity clipping, empty-side edges") {
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pairs = Seq(
      (1L, "the cat sat on the mat", "the cat lay on the mat"),
      (2L, "a a a", "a a"),
      (3L, "x y", "z")).toDF("pid", "cand", "ref")
    val out = TextAnalysis.rougeN(pairs.repartition(3), "pid", "cand", "ref", n = 2)
      .orderBy("pid").collect()
    // shared bigrams: {the cat, on the, the mat} of 5 each side
    assert(out(0).getAs[Long]("n_clip") == 3L && out(0).getAs[Long]("n_cand") == 5L)
    assert(out(0).getAs[Double]("precision") == 0.6 && out(0).getAs[Double]("f1") == 0.6)
    // unigram multiset clipping: a×3 vs a×2 clips at 2
    val uni = TextAnalysis.rougeN(pairs, "pid", "cand", "ref", n = 1)
      .orderBy("pid").collect()
    assert(uni(1).getAs[Long]("n_clip") == 2L)
    assert(uni(1).getAs[Double]("precision") == r6(2.0 / 3.0))
    assert(uni(1).getAs[Double]("recall") == 1.0)
    assert(uni(1).getAs[Double]("f1") == 0.8)
    // a reference too short for bigrams: recall undefined, precision 0
    assert(out(2).getAs[Long]("n_ref") == 0L)
    assert(out(2).isNullAt(out(2).fieldIndex("recall")))
    assert(out(2).getAs[Double]("precision") == 0.0 && out(2).getAs[Double]("f1") == 0.0)
  }

  test("chrF: whitespace-stripped char grams, hand F2 values, short-text zeros") {
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // identical after space strip: F = 1 for n <= 4, 0 for n = 5,6 (no grams)
    val same = Seq((1L, "ab ab", "abab")).toDF("pid", "cand", "ref")
    val s = TextAnalysis.chrF(same, "pid", "cand", "ref").head
    assert(s.getAs[Double]("f1") == 1.0 && s.getAs[Double]("f4") == 1.0)
    assert(s.getAs[Double]("f5") == 0.0 && s.getAs[Double]("f6") == 0.0)
    assert(s.getAs[Double]("chrf") == r6(4.0 / 6.0))
    // abc vs abd: F1 = 5*2/(4*3+3), F2 = 5*1/(4*2+2), F3+ = 0
    val p = TextAnalysis.chrF(
      Seq((1L, "abc", "abd")).toDF("pid", "cand", "ref"), "pid", "cand", "ref").head
    assert(p.getAs[Double]("f1") == r6(10.0 / 15.0))
    assert(p.getAs[Double]("f2") == 0.5)
    assert(p.getAs[Double]("f3") == 0.0)
    assert(p.getAs[Double]("chrf") == r6((10.0 / 15.0 + 0.5) / 6.0))
  }

  test("corpusBleu: clipped corpus precisions, degenerate-candidate clip, bp exponent") {
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // pair 1 is Papineni's degenerate candidate (p1 clips at ref's 2 'the');
    // pair 2 is a clean near-copy with a longer reference
    val pairs = Seq(
      (1L, "the the the the the the the", "the cat is on the mat"),
      (2L, "a b c d e", "a b c d e f g")).toDF("pid", "cand", "ref")
    val r = TextAnalysis.corpusBleu(pairs.repartition(2), "pid", "cand", "ref").head
    assert(r.getAs[Long]("n_pairs") == 2L)
    assert(r.getAs[Long]("c_len") == 12L && r.getAs[Long]("r_len") == 13L)
    val (p1, p2, p3, p4) = (7.0 / 12.0, 4.0 / 10.0, 3.0 / 8.0, 2.0 / 6.0)
    assert(r.getAs[Double]("p1") == r6(p1), r.toString)
    assert(r.getAs[Double]("p2") == r6(p2))
    assert(r.getAs[Double]("p3") == r6(p3))
    assert(r.getAs[Double]("p4") == r6(p4))
    assert(r.getAs[Double]("bleu_nobp") == r6(math.sqrt(math.sqrt(p1 * p2 * p3 * p4))))
    // candidate corpus is 1 token short of the reference corpus
    assert(r.getAs[Double]("bp_exponent") == r6(1.0 - 13.0 / 12.0))
    // identical corpora: every precision 1, geometric mean 1, bp 0
    val same = Seq((1L, "u v w x", "u v w x")).toDF("pid", "cand", "ref")
    val s = TextAnalysis.corpusBleu(same, "pid", "cand", "ref").head
    assert(s.getAs[Double]("bleu_nobp") == 1.0 && s.getAs[Double]("bp_exponent") == 0.0)
    intercept[IllegalArgumentException] {
      TextAnalysis.corpusBleu(pairs, "pid", "cand", "ref", maxN = 3)
    }
  }

  test("termDrift: entered/dropped/moved/stable labels on planted snapshots") {
    import spark.implicits._
    // old: alpha(3) beta(2) gamma(1); new: alpha(1) gamma(3) delta(2)
    val oldDf = Seq("alpha alpha alpha beta beta gamma").toDF("text")
    val newDf = Seq("gamma gamma gamma delta delta alpha").toDF("text")
    val out = TextAnalysis.termDrift(oldDf.repartition(2), newDf, "text", topK = 3)
      .collect().map(r => r.getString(0) ->
        (Option(r.get(1)), Option(r.get(2)), r.getString(6))).toMap
    assert(out("alpha") == ((Some(1), Some(3), "down")), out.toString)
    assert(out("gamma") == ((Some(3), Some(1), "up")))
    assert(out("beta") == ((Some(2), None, "dropped")))
    assert(out("delta") == ((None, Some(2), "entered")))
    // unchanged ranks label stable
    val same = TextAnalysis.termDrift(oldDf, oldDf, "text", topK = 3)
      .collect().map(_.getString(6)).toSet
    assert(same == Set("stable"))
    // topK cuts both sides: beyond-k terms never appear
    val cut = TextAnalysis.termDrift(oldDf, newDf, "text", topK = 1)
      .collect().map(_.getString(0)).toSet
    assert(cut == Set("alpha", "gamma"))
  }

  test("stupidBackoffScore: hand-built model, bigram/backoff/OOV paths") {
    import spark.implicits._
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ref = Seq(("r1", "a b a b c")).toDF("doc_id", "text")
    val doc = Seq(("d1", "a b z")).toDF("doc_id", "text")
    // model: c(a b)=2, c(b a)=1, c(b c)=1; unigrams a=2 b=2 c=1, N=5
    // doc terms: first token 'a' -> unigram 0.4*2/5; (a,b) seen -> 2/2;
    // (b,z) unseen bigram, z OOV -> 0.4*1/5 (the pinned pseudo-count)
    val ps = Seq(0.4 * 2.0 / 5.0, 2.0 / 2.0, 0.4 * 1.0 / 5.0)
    val exp = r6(-ps.map(p => math.floor(math.log(p) * 1e6 + 0.5)).sum / 1e6 / 3.0)
    val out = TextAnalysis.stupidBackoffScore(doc, "doc_id", "text", ref).head
    assert(out.getAs[Long]("n_tokens") == 3L)
    assert(out.getAs[Double]("mean_neg_log_score") == exp)
  }

  test("termBurstiness: hand Fano factors with implicit zeros") {
    import spark.implicits._
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = Seq("x x x", "y", "y").toDF("text")
    val out = TextAnalysis.termBurstiness(docs.repartition(2), "text", topK = 10)
      .orderBy("word").collect()
    val x = out(0)
    assert(x.getAs[String]("word") == "x" && x.getAs[Long]("df_docs") == 1L)
    assert(x.getAs[Double]("mean_count") == 1.0)
    assert(x.getAs[Double]("variance") == 2.0)      // 9/3 - 1
    assert(x.getAs[Double]("burstiness") == 2.0)    // bursty: all in one doc
    val y = out(1)
    assert(y.getAs[Double]("burstiness") == r6((2.0 / 3 - 4.0 / 9) / (2.0 / 3)))
    assert(y.getAs[Double]("burstiness") < 1.0)     // sprinkled: sub-Poisson
  }

  test("goodTuringSpectrum: hand r-star table, spectrum hole yields NULL") {
    import spark.implicits._
    val docs = Seq("a a a b b c").toDF("text")
    val out = TextAnalysis.goodTuringSpectrum(docs, "text", maxR = 5).collect()
    assert(out.map(_.getAs[Long]("r")).toSeq == Seq(1L, 2L, 3L))
    assert(out(0).getAs[Double]("r_star") == 2.0)          // 2*N2/N1
    assert(out(0).getAs[Double]("p_gt") == BigDecimal(2.0 / 6.0)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out(1).getAs[Double]("r_star") == 3.0)          // 3*N3/N2
    assert(out(2).isNullAt(out(2).fieldIndex("r_star")))   // N4 hole
  }

  test("rougeL: hand LCS values, order sensitivity, empty sides, exact F1 identity") {
    import spark.implicits._
    // "the cat sat" vs "the sat cat": LCS = 2 (the+cat or the+sat)
    val pairs = Seq(
      (1L, "the cat sat", "the sat cat"),
      (2L, "a b c d", "a b c d"),
      (3L, "x y", "p q r")).toDF("id", "cand", "ref")
    val out = TextAnalysis.rougeL(pairs, "id", "cand", "ref")
      .orderBy("id").collect()
    assert(out(0).getAs[Long]("lcs_len") == 2L)
    assert(out(0).getAs[Double]("f1") == 4.0 / 6.0)
    assert(out(1).getAs[Long]("lcs_len") == 4L &&
      out(1).getAs[Double]("f1") == 1.0)
    assert(out(2).getAs[Long]("lcs_len") == 0L &&
      out(2).getAs[Double]("f1") == 0.0)
    // ROUGE-L rewards ORDER, unlike set overlap: permuted tokens score < 1
    assert(out(0).getAs[Double]("f1") < 1.0)
  }

  test("distinctNgrams: hand ratios on a tiny corpus, short orders absent") {
    import spark.implicits._
    val docs = Seq("a b a b", "a b").toDF("text")
    val out = TextAnalysis.distinctNgrams(docs, "text", maxN = 4).collect()
    // unigrams: 6 total {a,b} distinct -> 2/6; bigrams: 4 total ("a b"x2,
    // "b a", "a b") -> wait: doc1 bigrams: ab, ba, ab; doc2: ab -> total 4,
    // distinct {ab, ba} = 2; trigrams: doc1 only: aba, bab -> 2 total 2 distinct
    assert(out.map(_.getAs[Int]("n")).toSeq == Seq(1, 2, 3, 4))
    assert(out(0).getAs[Long]("n_total") == 6L && out(0).getAs[Long]("n_distinct") == 2L)
    assert(out(1).getAs[Long]("n_total") == 4L && out(1).getAs[Long]("n_distinct") == 2L)
    assert(out(2).getAs[Long]("n_total") == 2L && out(2).getAs[Long]("n_distinct") == 2L)
    assert(out(3).getAs[Long]("n_total") == 1L) // one 4-gram from doc1
    assert(out(0).getAs[Double]("distinct_ratio") == 2.0 / 6.0)
    // corpus of one short doc: high orders absent entirely
    val short = TextAnalysis.distinctNgrams(Seq("a b").toDF("text"), "text", maxN = 4)
      .collect()
    assert(short.map(_.getAs[Int]("n")).toSeq == Seq(1, 2))
  }

  test("repeatedSpans: planted cross-doc duplicate found as one maximal span, clean docs silent") {
    import spark.implicits._
    val boiler = "0123456789ABCDEF" // 16 chars, minLen 8 -> 9 windows
    val docs = Seq(
      (1L, s"xxx${boiler}yyy"),
      (2L, s"zz${boiler}qqqq"),
      (3L, "completely unique text with no repeats at all here")).toDF("id", "text")
    val out = TextAnalysis.repeatedSpans(docs, "id", "text", minLen = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    // doc 1: boiler at chars 4..19; doc 2: at 3..18; doc 3: nothing
    assert(out.toSeq == Seq((1L, 4, 19, 16), (2L, 3, 18, 16)), out.toSeq.toString)
  }

  test("repeatedSpans: within-doc self-repeat counts; overlapping windows merge to one span") {
    import spark.implicits._
    val docs = Seq((1L, "abcdefgh--abcdefgh")).toDF("id", "text")
    val out = TextAnalysis.repeatedSpans(docs, "id", "text", minLen = 8)
      .collect().map(r => (r.getInt(1), r.getInt(2)))
    assert(out.toSeq == Seq((1, 8), (11, 18)), out.toSeq.toString)
  }

  test("removeRepeatedSpans: keep-first excises later occurrences only; counts audit") {
    import spark.implicits._
    val boiler = "0123456789ABCDEF"
    val docs = Seq(
      (1L, s"xxx${boiler}yyy"),
      (2L, s"zz${boiler}qqqq"),
      (3L, "short")).toDF("id", "text")
    val out = TextAnalysis.removeRepeatedSpans(docs, "id", "text", minLen = 8)
      .orderBy("id").collect()
    // doc 1 holds the global first occurrence of every boiler window -> intact
    assert(out(0).getString(1) == s"xxx${boiler}yyy")
    assert(out(0).getAs[Int]("n_spans_removed") == 0)
    // doc 2's copy is excised whole
    assert(out(1).getString(1) == "zzqqqq", out(1).getString(1))
    assert(out(1).getAs[Int]("n_spans_removed") == 1)
    assert(out(1).getAs[Int]("n_chars_removed") == 16)
    // sub-minLen docs pass through untouched
    assert(out(2).getString(1) == "short" && out(2).getAs[Int]("n_spans_removed") == 0)
  }
}
