package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, lit}

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox the fox"),
    (2L, "der hund und die katze und der vogel"),
    (3L, "xyzzy plugh"))
    .toDF("doc_id", "text")

  test("token counts and type-token ratio") {
    val p = TextAnalysis.profile(docs, "text").where("doc_id = 1").head()
    p.getAs[Long]("n_tokens") shouldBe 6L
    p.getAs[Long]("n_unique_tokens") shouldBe 4L
    p.getAs[Long]("ttr_e6") shouldBe 666667L // round(4/6 * 1e6)
  }

  test("BPE-style pre-tokenization splits contractions, digits, punctuation") {
    val d = Seq((1L, "I can't stop, it's 42 miles!")).toDF("doc_id", "text")
    val r = d.select(
      TextAnalysisTwins.bpeTokens(col("text")).as("toks"),
      TextAnalysis.bpeTokenCount(col("text")).as("n"),
      TextAnalysis.tokenCount(col("text")).as("ws")).head()
    // I | " can" | 't | " stop" | , | " it" | 's | " 42" | " miles" | !
    r.getAs[Seq[String]]("toks") shouldBe
      Seq("I", " can", "'t", " stop", ",", " it", "'s", " 42", " miles", "!")
    r.getAs[Int]("n") shouldBe 10
    r.getAs[Int]("ws") shouldBe 6 // whitespace undershoots on punctuated text
  }

  test("repetitionProfile scores duplicate n-gram fractions, 0 for short docs") {
    val corpus = Seq(
      (1L, "a b a b a b"), // bigrams: [a b, b a, a b, b a, a b] → 2 distinct of 5
      (2L, "w x y z"), // all bigrams distinct → 0
      (3L, "solo")) // 1 token → too short for any n-gram → 0
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionProfile(corpus, "text")
      .orderBy("doc_id").collect()
    out.map(_.getAs[Long]("dup_2gram_frac_e6")).toSeq shouldBe
      Seq(600000L, 0L, 0L) // 1 - 2/5
    // trigrams of doc 1: [a b a, b a b, a b a, b a b] → 2 distinct of 4
    out.map(_.getAs[Long]("dup_3gram_frac_e6")).toSeq shouldBe
      Seq(500000L, 0L, 0L)
  }

  test("contaminationScore fractions doc n-grams found in a benchmark") {
    val corpus = Seq(
      (1L, "a b c d"), // trigrams: [a b c, b c d] — first is in the bench
      (2L, "x y z w"), // no overlap
      (3L, "hi")) // too short for a trigram → 0
      .toDF("doc_id", "text")
    val bench = Seq(Tuple1("a b c e f")).toDF("text")
    val out = TextAnalysis.contaminationScore(corpus, "doc_id", "text",
      bench, "text").orderBy("doc_id").collect()
    out.map(r => (r.getAs[Long]("total_grams"), r.getAs[Long]("matched_grams"),
      r.getAs[Long]("contamination_e6"))).toSeq shouldBe
      Seq((2L, 1L, 500000L), (2L, 0L, 0L), (0L, 0L, 0L))
  }

  test("tfidf ranks rare high-frequency terms first with integer scores") {
    val corpus = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry"),
      (3L, "cherry cherry cherry")).toDF("doc_id", "text")
    val plan = TextAnalysis.tfidfTopTerms(corpus, "doc_id", "text", k = 2)
    val out = plan
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rank")) ->
        (r.getAs[String]("term"), r.getAs[Long]("score"))).toMap
    // doc 1: apple tf=2 df=1 → 2·10⁹; banana tf=1 df=2 → 0.5·10⁹
    out((1L, 1L)) shouldBe (("apple", 2000000000L))
    out((1L, 2L)) shouldBe (("banana", 500000000L))
    // doc 3: cherry tf=3 df=2 → floor(3·10⁹/2)
    out((3L, 1L)) shouldBe (("cherry", 1500000000L))
    // with auto-broadcast off, only the EXPLICIT hint can produce a
    // broadcast join — proves the vocabulary side is hint-broadcast by
    // default and genuinely shuffles when the caller opts out
    val thresholdKeys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = thresholdKeys.map(k => k -> spark.conf.getOption(k))
    thresholdKeys.foreach(spark.conf.set(_, "-1"))
    try {
      TextAnalysis.tfidfTopTerms(corpus, "doc_id", "text", k = 2)
        .queryExecution.executedPlan.toString should include("BroadcastHashJoin")
      TextAnalysis.tfidfTopTerms(corpus, "doc_id", "text", k = 2,
          broadcastVocab = false)
        .queryExecution.executedPlan.toString should not include "BroadcastHashJoin"
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("langId picks the max-scoring language with fixed precedence") {
    val out = docs.select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out(1L) shouldBe "en" // "the" ×2
    out(2L) shouldBe "de" // der/und/die
    out(3L) shouldBe "und" // no markers at all
  }

  test("fingerprint is normalization-stable, rolling hash is order-sensitive") {
    val fp = Seq(("A b C", 1), ("  a b c ", 2)).toDF("t", "i")
      .select(TextAnalysis.fingerprint(col("t"))).distinct()
    fp.count() shouldBe 1 // same normalized content

    val rh = Seq(("a b", 1), ("b a", 2)).toDF("t", "i")
      .select(TextAnalysis.rollingHash(col("t"))).distinct()
    rh.count() shouldBe 2 // rolling hash sees order
  }

  test("native dup_gram_frac_e6 is identical to the builtin-HOF form") {
    // edge cases: empty text, spaces only (trim -> one empty token), double
    // spaces (empty tokens kept), shorter than n, heavy repetition, unicode,
    // and tokens that collide when joined carelessly ("a b"+"c" vs "a"+"b c"
    // cannot happen — tokens are space-free — but empty tokens can)
    val corpus = Seq(
      (1L, ""), (2L, "   "), (3L, "a"), (4L, "a  b"), (5L, " a b a b "),
      (6L, "a b a b a b a b"), (7L, "x"), (8L, "\u00fcber \u00fcber caf\u00e9"),
      (9L, "one two three four five six seven"),
      (10L, (1 to 500).map(i => s"tok${i % 37}").mkString(" ")))
      .toDF("doc_id", "text")
    val ns = Seq(1, 2, 3, 5)
    val native = TextAnalysis.repetitionProfile(corpus, "text", ns)
      .orderBy("doc_id").collect()
    val builtin = TextAnalysisTwins.repetitionProfileBuiltin(corpus, "text", ns)
      .orderBy("doc_id").collect()
    native.map(_.toSeq) shouldBe builtin.map(_.toSeq)
  }

  test("unigramSurprisal: integer bits of corpus frequency, hand-checked") {
    // corpus: N=5 tokens, counts a:3 b:1 c:1 → bits(a)=len(bin(5 div 3))-1=0,
    // bits(b)=bits(c)=len(bin(5))-1=2
    val docs = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramSurprisal(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("surprisal_bits"),
          r.getAs[Long]("mean_surprisal_e6"))).toMap
    out(1L) shouldBe ((3L, 2L, 666666L)) // a+a+b = 0+0+2; 2e6 div 3
    out(2L) shouldBe ((2L, 2L, 1000000L)) // a+c = 0+2
  }

  test("scriptProfile: exact per-script counts and routing label") {
    val docs = Seq(
      (1L, "hello world 123"),
      (2L, "привет мир"),
      (3L, "你好 hello"),
      (4L, "!!! ???"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.scriptProfile(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_chars"), r.getAs[Long]("latin"),
          r.getAs[Long]("cyrillic"), r.getAs[Long]("han"),
          r.getAs[Long]("digits"), r.getAs[Long]("spaces"),
          r.getAs[Long]("other")), r.getAs[String]("main_script"))).toMap
    out(1L) shouldBe (((15L, 10L, 0L, 0L, 3L, 2L, 0L), "latin"))
    out(2L) shouldBe (((10L, 0L, 9L, 0L, 0L, 1L, 0L), "cyrillic"))
    out(3L) shouldBe (((8L, 5L, 0L, 2L, 0L, 1L, 0L), "latin"))
    out(4L) shouldBe (((7L, 0L, 0L, 0L, 0L, 1L, 6L), "other"))
  }

  test("referenceSurprisal: hand-traced bits, OOV cost and count, self ≡ unigram") {
    // reference: "x x x y" → N=4, cnt(x)=3 cnt(y)=1
    //   bits(x) = len(bin(4 div 3))-1 = 0; bits(y) = len(bin(4))-1 = 2
    //   OOV cost = len(bin(4)) = 3 — one more than the rarest seen token
    val ref = Seq((0L, "x x x y")).toDF("rid", "rtext")
    val docs = Seq((1L, "x y z"), (2L, "x x")).toDF("doc_id", "text")
    val out = TextAnalysis.referenceSurprisal(docs, "doc_id", "text",
        ref, "rtext")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"),
          r.getAs[Long]("ref_bits"), r.getAs[Long]("mean_ref_bits_e6")))
      .toMap
    out(1L) shouldBe ((3L, 1L, 5L, 1666666L)) // 0 + 2 + 3; 5e6 div 3
    out(2L) shouldBe ((2L, 0L, 0L, 0L))
    // scoring a corpus against ITSELF degenerates to unigramSurprisal
    // (zero OOV, same per-token bits)
    val corpus = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val self = TextAnalysis.referenceSurprisal(corpus, "doc_id", "text",
        corpus, "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_oov"), r.getAs[Long]("ref_bits")))
    val uni = TextAnalysis.unigramSurprisal(corpus, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"), 0L,
        r.getAs[Long]("surprisal_bits")))
    self.toSeq shouldBe uni.toSeq
  }

  test("interDocRepetition: shared shingles counted corpus-wide, short docs 0") {
    val docs = Seq(
      // docs 1 and 2 share "a b c" (their only common trigram);
      // doc 3 shares nothing; doc 4 too short to shingle
      (1L, "a b c d e"), // trigrams: abc bcd cde
      (2L, "a b c x y"), // trigrams: abc bcx cxy
      (3L, "p q r s"),   // trigrams: pqr qrs
      (4L, "t u"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.interDocRepetition(docs, "doc_id", "text", n = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_shared"),
          r.getAs[Long]("shared_frac_e6"))).toMap
    out(1L) shouldBe ((3L, 1L, 333333L)) // 1 of 3 shared, floor(1e6/3)
    out(2L) shouldBe ((3L, 1L, 333333L))
    out(3L) shouldBe ((2L, 0L, 0L))
    out(4L) shouldBe ((0L, 0L, 0L)) // no shingles → present with zeros
    // null text behaves like the too-short doc: present with zeros
    val withNull = TextAnalysis.interDocRepetition(
      docs.union(Seq((9L, null.asInstanceOf[String])).toDF("doc_id", "text")),
      "doc_id", "text", n = 3)
      .where("doc_id = 9").collect().head
    (withNull.getAs[Long]("n_shingles"), withNull.getAs[Long]("n_shared"),
      withNull.getAs[Long]("shared_frac_e6")) shouldBe ((0L, 0L, 0L))
    // a doc duplicated verbatim shares EVERY shingle
    val dup = docs.union(Seq((5L, "a b c d e")).toDF("doc_id", "text"))
    val d1 = TextAnalysis.interDocRepetition(dup, "doc_id", "text", n = 3)
      .where("doc_id = 1").collect().head
    d1.getAs[Long]("shared_frac_e6") shouldBe 1000000L
  }

  test("bigramSurprisal: predictable bigrams cost 0 bits, branches cost more") {
    // corpus bigrams: "a b" ×3, "a c" ×1 → c(a·)=4; "b a" ×2 → c(b·)=2
    val docs = Seq(
      (1L, "a b a b"),   // bigrams: ab, ba, ab
      (2L, "a b a c"),   // bigrams: ab, ba, ac
      (3L, "x"))         // too short → zeros
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramSurprisal(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Long]("surprisal_bits"))).toMap
    // bits(ab) = len(bin(4 div 3))-1 = 0; bits(ba) = len(bin(2 div 2))-1 = 0
    // bits(ac) = len(bin(4 div 1))-1 = 2
    out(1L) shouldBe ((3L, 0L))
    out(2L) shouldBe ((3L, 2L))
    out(3L) shouldBe ((0L, 0L))
  }

  test("noveltyScore: unseen shingle fraction vs corpus, zeros for short docs") {
    val corpus = Seq((100L, "a b c d e")).toDF("doc_id", "text") // abc bcd cde
    val arriving = Seq(
      (1L, "a b c d e"),     // all 3 trigrams seen → novelty 0
      (2L, "a b c x y z"),   // abc seen; bcx cxy xyz novel → 3/4
      (3L, "p q r s"),       // all novel → 1.0
      (4L, "t u"))           // no trigram → zeros
      .toDF("doc_id", "text")
    val out = TextAnalysis.noveltyScore(arriving, corpus, "doc_id", "text", 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_novel"),
          r.getAs[Long]("novelty_e6"))).toMap
    out(1L) shouldBe ((3L, 0L, 0L))
    out(2L) shouldBe ((4L, 3L, 750000L))
    out(3L) shouldBe ((2L, 2L, 1000000L))
    out(4L) shouldBe ((0L, 0L, 0L))
  }

  test("noveltyCurve attributes each shingle to its first batch exactly once") {
    // batch 0: "a b c d" → shingles {abc, bcd}; batch 1 doc repeats "a b c"
    // (seen) and adds "x y z" (new); batch 2 is all repeats → novelty 0
    val docs = Seq(
      (0L, "a b c d"),
      (1L, "a b c"), (1L, "x y z"),
      (2L, "a b c d x y z"))
      .toDF("batch", "text")
    val curve = TextAnalysis.noveltyCurve(docs, "text", "batch", n = 3)
      .orderBy("batch").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    curve(0) shouldBe ((0L, 2L, 2L, 1000000L)) // abc, bcd — all new
    curve(1) shouldBe ((1L, 2L, 1L, 500000L))  // abc seen, xyz new
    // batch 2's 5 shingles: abc,bcd + cdx,dxy,xyz... cdx/dxy ARE new here
    curve(2)._1 shouldBe 2L
    curve(2)._2 shouldBe 5L
    curve(2)._3 shouldBe 2L // cdx, dxy first appear in batch 2
    // every shingle is new in exactly one batch
    curve.map(_._3).sum shouldBe
      TextAnalysis.noveltyCurve(docs.withColumn("batch", lit(0L)),
        "text", "batch", 3).head().getLong(1)
  }

  test("native bpeTokenCount ≡ the regex forms on edge inputs and the corpus") {
    // adversarial inputs for the hand scan: every contraction suffix, an
    // apostrophe that starts NO contraction (absorbed by the punct run),
    // uppercase pseudo-contractions, multi-space gaps, trailing/leading
    // spaces, punct runs with and without a space prefix, digit/letter
    // boundaries, and empty text
    val corpus = Seq(
      (1L, "I can't stop, it's 42 miles!"), (2L, ""),
      (3L, "  spaced   out  "), (4L, "digits123mixed456end."),
      (5L, "we're you've I'm they'll he'd 'x ''s y'S"),
      (6L, "'re alone 'l half ' lone-quote"),
      (7L, "a b' c'' d''' ,.;: ,.;:x"),
      (8L, "tab\tand\nnewline chars"))
      .toDF("doc_id", "text")
    val both = corpus.select(
      TextAnalysis.bpeTokenCount(col("text")).as("fast"),
      TextAnalysisTwins.bpeTokenCountBuiltin(col("text")).as("regex"),
      org.apache.spark.sql.functions.size(
        TextAnalysisTwins.bpeTokens(col("text"))).as("ref")).collect()
    both.foreach { r =>
      r.getAs[Int]("fast") shouldBe r.getAs[Int]("regex")
      r.getAs[Int]("fast") shouldBe r.getAs[Int]("ref")
    }
    // and over the real documents table — the corpus the operator budgets
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val diff = docs.select(
        TextAnalysis.bpeTokenCount(col("text")).as("fast"),
        TextAnalysisTwins.bpeTokenCountBuiltin(col("text")).as("regex"))
      .filter(col("fast") =!= col("regex")).count()
    diff shouldBe 0L
  }

  test("native ws_token_count ≡ size(split(trim(text), ' ')) on edges and corpus") {
    import org.apache.spark.sql.functions.{call_function, split, trim, size => fsize}
    // edges for the byte scan: multi-space runs open empty segments,
    // all-spaces trims to the one-empty-segment count (1, never 0),
    // ONLY ASCII 0x20 trims/splits (tabs/newlines pass through — both
    // engines' default trim/literal-space contract), multi-byte UTF-8
    // never contains a 0x20 byte mid-sequence, null stays null
    val corpus = Seq(
      (1L, Some("a b  c")), (2L, Some("")), (3L, Some("   ")),
      (4L, Some("  x  ")), (5L, Some("tab\tand\nnewline only")),
      (6L, Some("héllo wörld ünïcode")), (7L, Some("日本 語 テスト")),
      (8L, Some("one")), (9L, None)).toDF("doc_id", "text")
    val rows = corpus.select(
      call_function("ws_token_count", col("text")).as("fast"),
      fsize(split(trim(col("text")), " ")).cast("long").as("hof"))
      .collect()
    rows.foreach { r =>
      r.isNullAt(0) shouldBe r.isNullAt(1)
      if (!r.isNullAt(0)) r.getLong(0) shouldBe r.getLong(1)
    }
    // hand-derived anchors (not just form-vs-form agreement)
    val byId = corpus.select(col("doc_id"),
      call_function("ws_token_count", col("text")).as("n")).collect()
      .filter(!_.isNullAt(1)).map(r => r.getLong(0) -> r.getLong(1)).toMap
    byId(1L) shouldBe 4L // a, b, "", c
    byId(2L) shouldBe 1L // [""] — one empty segment, never zero
    byId(3L) shouldBe 1L
    byId(5L) shouldBe 2L // only the one real space splits
    byId(7L) shouldBe 3L
    // and the real documents corpus (the q280/q281 mass source)
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(call_function("ws_token_count", col("text")).as("fast"),
        fsize(split(trim(col("text")), " ")).cast("long").as("hof"))
      .filter(col("fast") =!= col("hof")).count() shouldBe 0L
  }

  test("keywordSearchTopK: integer tf-idf ranking, self-exclusion, df cap") {
    val corpus = Seq(
      (1L, "apple banana apple"), (2L, "apple cherry"),
      (3L, "banana cherry cherry"), (4L, "the the the"))
      .toDF("doc_id", "text")
    val qs = Seq((1L, "apple banana")).toDF("qid", "qtext")
    // tf·1e9 div df: d1 = 2e9/2 + 1e9/2 = 1.5e9 over both terms; d2 and
    // d3 tie at 5e8 on one term each → doc-id order breaks the tie
    val out = TextAnalysis.keywordSearchTopK(corpus, qs, "doc_id", "text",
      "qid", "qtext", k = 5)
      .orderBy("rank").collect()
    out.map(_.getAs[Long]("neighbor_id")).toSeq shouldBe Seq(1L, 2L, 3L)
    out(0).getAs[Long]("score") shouldBe 1500000000L
    out(0).getAs[Long]("n_terms_hit") shouldBe 2L
    out(1).getAs[Long]("score") shouldBe 500000000L
    // excludeSelf drops the query document itself
    val self = TextAnalysis.keywordSearchTopK(corpus, qs, "doc_id", "text",
      "qid", "qtext", k = 5, excludeSelf = true)
      .orderBy("rank").collect()
    self.map(_.getAs[Long]("neighbor_id")).toSeq shouldBe Seq(2L, 3L)
    // maxDf = 1 drops every df-2 term from scoring; only "the" survives
    val capped = TextAnalysis.keywordSearchTopK(corpus,
      Seq((9L, "the apple")).toDF("qid", "qtext"), "doc_id", "text",
      "qid", "qtext", k = 5, maxDf = 1L).collect()
    capped.map(_.getAs[Long]("neighbor_id")).toSeq shouldBe Seq(4L)
    capped(0).getAs[Long]("score") shouldBe 3000000000L
    // the corpus-proportional form: 25% of 4 docs = df <= 1 — same cut
    val frac = TextAnalysis.keywordSearchTopK(corpus,
      Seq((9L, "the apple")).toDF("qid", "qtext"), "doc_id", "text",
      "qid", "qtext", k = 5, maxDfFracE6 = 250000L).collect()
    frac.map(_.getAs[Long]("neighbor_id")).toSeq shouldBe Seq(4L)
    an[IllegalArgumentException] should be thrownBy
      TextAnalysis.keywordSearchTopK(corpus, qs, "doc_id", "text",
        "qid", "qtext", k = 5, maxDf = 10L, maxDfFracE6 = 250000L)
    // k truncates the ranking
    TextAnalysis.keywordSearchTopK(corpus, qs, "doc_id", "text",
      "qid", "qtext", k = 1).count() shouldBe 1L
  }

  test("bm25TopK: saturation, length normalization, idf bits — hand-traced") {
    // D=4, L=10, avgdl A = 10 div 4 = 2; df: cat=2 dog=2 mouse=1 bird=1;
    // bits = floor(log2(2D/df)): df=2 → 2, df=1 → 3.
    // part_e6(tf, dl) at defaults, A=2:
    //   tf·44000·10⁶ div (20000·tf + 6000 + 9000·dl)
    val corpus = Seq(
      (1L, "cat dog"), (2L, "cat cat cat cat"),
      (3L, "dog mouse mouse"), (4L, "bird"))
      .toDF("doc_id", "text")
    def search(q: String, bE2: Long = 75L, frac: Long = 0L) =
      TextAnalysis.bm25TopK(corpus, Seq((9L, q)).toDF("qid", "qtext"),
        "doc_id", "text", "qid", "qtext", k = 5, bE2 = bE2,
        maxDfFracE6 = frac)
        .orderBy("rank").collect()
    // tf saturation: d2 has 4× d1's tf of "cat" but scores only 1.44×
    //   d1: part = 4.4e10 div 44000 = 1000000, ×2 bits = 2000000
    //   d2: part = 1.76e11 div 122000 = 1442622, ×2 bits = 2885244
    val cat = search("cat")
    cat.map(_.getAs[Long]("neighbor_id")).toSeq shouldBe Seq(2L, 1L)
    cat(0).getAs[Long]("score_e6") shouldBe 2885244L
    cat(1).getAs[Long]("score_e6") shouldBe 2000000L
    // length normalization: same tf=1 of "dog", but d3 is longer → less
    //   d1: 2000000; d3: 4.4e10 div 53000 = 830188, ×2 = 1660376
    val dog = search("dog")
    dog.map(_.getAs[Long]("neighbor_id")).toSeq shouldBe Seq(1L, 3L)
    dog(1).getAs[Long]("score_e6") shouldBe 1660376L
    // b = 0 switches length normalization off: d1 and d3 tie exactly,
    // doc id breaks the tie
    val flat = search("dog", bE2 = 0L)
    flat.map(_.getAs[Long]("neighbor_id")).toSeq shouldBe Seq(1L, 3L)
    flat(0).getAs[Long]("score_e6") shouldBe flat(1).getAs[Long]("score_e6")
    // rare terms carry 3 bits; the df-frac cap drops df-2 terms entirely
    // (25% of 4 docs = df ≤ 1): "cat dog" finds nothing under it
    search("cat dog", frac = 250000L) shouldBe empty
    val rare = search("mouse bird", frac = 250000L)
    rare.map(_.getAs[Long]("neighbor_id")).toSeq shouldBe Seq(4L, 3L)
    rare(0).getAs[Long]("score_e6") shouldBe 3771426L // 3 · (4.4e10 div 35000)
    rare(1).getAs[Long]("score_e6") shouldBe 3616437L // 3 · (8.8e10 div 73000)
    // partition-order independence: exact longs survive any layout
    val repart = TextAnalysis.bm25TopK(corpus.repartition(7),
      Seq((9L, "cat dog mouse bird")).toDF("qid", "qtext"),
      "doc_id", "text", "qid", "qtext", k = 5)
      .orderBy("rank").collect().map(r =>
        (r.getAs[Long]("neighbor_id"), r.getAs[Long]("score_e6"))).toSeq
    val one = TextAnalysis.bm25TopK(corpus.coalesce(1),
      Seq((9L, "cat dog mouse bird")).toDF("qid", "qtext"),
      "doc_id", "text", "qid", "qtext", k = 5)
      .orderBy("rank").collect().map(r =>
        (r.getAs[Long]("neighbor_id"), r.getAs[Long]("score_e6"))).toSeq
    repart shouldBe one
  }

  test("bm25TopK plans broadcast probes, never a cartesian") {
    val corpus = (1L to 200L).map(i => (i, s"w$i common a b c")).toDF("doc_id", "text")
    val qs = Seq((1L, "w5 a")).toDF("qid", "qtext")
    val plan = TextAnalysis.bm25TopK(corpus, qs, "doc_id", "text",
      "qid", "qtext", k = 3).queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
    // the only nested-loop nodes are the broadcast 1-row (D, avgdl) stat
    // frame crossJoins — the repo's summary-stat convention; every
    // row-data join above must be hash-based
    plan.split('\n').filter(_.contains("BroadcastNestedLoopJoin"))
      .foreach(_ should include("BuildRight, Cross"))
  }

  test("collocationLift: exact rational lift, min-count floor, tie order") {
    // bigrams: (a,b) x2, (a,c) x1, N = 3; c_a = 3, c_b = 2, c_c = 1
    // lift(a,b) = 2*3/(3*2) = 1.0; lift(a,c) = 1*3/(3*1) = 1.0 — a tie,
    // broken by (x, y)
    val corpus = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.collocationLift(corpus, "text",
      minCount = 1L, topK = 10).collect()
    out.map(r => (r.getAs[Long]("rnk"), r.getAs[String]("x"),
      r.getAs[String]("y"), r.getAs[Long]("c_xy"), r.getAs[Long]("lift_num"),
      r.getAs[Long]("lift_den"))).toSeq shouldBe Seq(
      (1L, "a", "b", 2L, 6L, 6L), (2L, "a", "c", 1L, 3L, 3L))
    out(0).getAs[Double]("lift") shouldBe 1.0
    // the hapax pair vanishes under the count floor
    TextAnalysis.collocationLift(corpus, "text", minCount = 2L, topK = 10)
      .collect().map(_.getAs[String]("y")).toSeq shouldBe Seq("b")
    // single-token docs contribute nothing (no partial bigrams)
    TextAnalysis.collocationLift(
      Seq((1L, "solo")).toDF("doc_id", "text"), "text",
      minCount = 1L).count() shouldBe 0L
    an[IllegalArgumentException] should be thrownBy
      TextAnalysis.collocationLift(corpus, "text", minCount = 0L)
  }

  test("tokenizerFertility: exact sums, floor ratios, zero-token group yields null") {
    // "don't stop" pre-tokenizes as don | 't |  stop = 3 BPE tokens
    val df = Seq(("en", "don't stop"), ("en", "ab cd"), ("de", "x"),
      ("zz", "")).toDF("lang", "text")
    val out = TextAnalysis.tokenizerFertility(df, "text", Seq("lang"))
      .orderBy("lang").collect()
    out.map(r => (r.getString(0), r.getAs[Long]("n_docs"),
      r.getAs[Long]("n_chars"), r.getAs[Long]("n_bpe_tokens"),
      r.getAs[Long]("n_ws_tokens"))).toSeq shouldBe Seq(
      ("de", 1L, 1L, 1L, 1L), ("en", 2L, 15L, 5L, 4L), ("zz", 1L, 0L, 0L, 1L))
    out(1).getAs[Long]("chars_per_bpe_e6") shouldBe 3000000L
    out(1).getAs[Long]("bpe_per_ws_e6") shouldBe 1250000L
    // zero BPE tokens → null ratio (div-by-zero contract), not an error
    out(2).isNullAt(out(2).fieldIndex("chars_per_bpe_e6")) shouldBe true
  }

  test("skipgramPairs: symmetric window pairs, self excluded, count floor") {
    val one = Seq((1L, "a b c")).toDF("doc_id", "text")
    val w1 = TextAnalysis.skipgramPairs(one, "text", window = 1)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        r.getAs[Long]("cnt"))).toMap
    w1 shouldBe Map(("a", "b") -> 1L, ("b", "a") -> 1L,
      ("b", "c") -> 1L, ("c", "b") -> 1L)
    val w2 = TextAnalysis.skipgramPairs(one, "text", window = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    w2 should contain allOf(("a", "c"), ("c", "a"))
    w2 should have size 6
    // repeated tokens accumulate counts; minCount floors them
    val rep = Seq((1L, "x y x y x")).toDF("doc_id", "text")
    TextAnalysis.skipgramPairs(rep, "text", window = 1, minCount = 3L)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet shouldBe
      Set(("x", "y"), ("y", "x")) // 4 each; (x,x)/(y,y) never at w=1
  }

  test("vocabSpectrum: frequency of frequencies and Good-Turing hapax mass") {
    // tokens: a a a b b c → counts {a:3, b:2, c:1}; spectrum 1→1, 2→1,
    // 3→1; N=6, V=3, hapax=1, missing mass = 166666 e6-units
    val df = Seq((1L, "a a a b b"), (2L, "c")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabSpectrum(df, "text").orderBy("cnt").collect()
    out.map(r => (r.getAs[Long]("cnt"), r.getAs[Long]("n_terms"))).toSeq shouldBe
      Seq((1L, 1L), (2L, 1L), (3L, 1L))
    val r0 = out(0)
    r0.getAs[Long]("n_tokens") shouldBe 6L
    r0.getAs[Long]("v_size") shouldBe 3L
    r0.getAs[Long]("n_hapax") shouldBe 1L
    r0.getAs[Long]("missing_mass_e6") shouldBe 166666L
    r0.getAs[Long]("vocab_share_e6") shouldBe 333333L
    // token_share: the cnt=3 row carries 3·1/6 of all tokens
    out(2).getAs[Long]("token_share_e6") shouldBe 500000L
  }

  test("keywordSearchTopK plans a broadcast probe, never a cartesian") {
    val corpus = (1L to 200L).map(i => (i, s"w$i common a b c")).toDF("doc_id", "text")
    val qs = Seq((1L, "w5 a")).toDF("qid", "qtext")
    val plan = TextAnalysis.keywordSearchTopK(corpus, qs, "doc_id", "text",
      "qid", "qtext", k = 3).queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("vocabCounts merge reproduces the one-shot spectrum bit-for-bit") {
    val docs = Seq((1L, "a a b"), (2L, "b c"), (3L, "a c d"))
      .toDF("doc_id", "text")
    val merged = TextAnalysis.mergeVocabCounts(Seq(
      TextAnalysis.vocabCounts(docs.filter("doc_id <= 1"), "text"),
      TextAnalysis.vocabCounts(docs.filter("doc_id = 2"), "text"),
      TextAnalysis.vocabCounts(docs.filter("doc_id >= 3"), "text")))
    TextAnalysis.spectrumFromCounts(merged).orderBy("cnt").collect().toSeq shouldBe
      TextAnalysis.vocabSpectrum(docs, "text").orderBy("cnt").collect().toSeq
    // a cross-batch term's count is the SUM (a: 2+0+1=3), not two entries
    merged.filter("term = 'a'").head().getAs[Long]("cnt") shouldBe 3L
    an[IllegalArgumentException] should be thrownBy
      TextAnalysis.mergeVocabCounts(Seq.empty)
  }

  test("domainTopNgrams: exact per-domain counts, deterministic tiebreak, short docs skip") {
    val corpus = Seq(
      (1L, "a b a b a b", "web"),   // web: "a b" x3, "b a" x2
      (2L, "a b c", "web"),         // web: +1 "a b", "b c" x1
      (3L, "x y", "books"),         // books: "x y" x1
      (4L, "z", "books"))           // 1 token → no bigrams
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.domainTopNgrams(corpus, "source", "text", n = 2, k = 2)
      .orderBy("domain", "rank")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    out shouldBe Array(
      ("books", "x y", 1L, 1L),
      ("web", "a b", 4L, 1L),
      ("web", "b a", 2L, 2L))
    // tie at equal count breaks lexicographically by gram
    val tied = Seq((1L, "p q r s", "d")).toDF("doc_id", "text", "source")
    TextAnalysis.domainTopNgrams(tied, "source", "text", 2, 3)
      .orderBy("rank").collect().map(_.getString(1)) shouldBe
      Array("p q", "q r", "r s")
  }

  test("textRankKeywords: the hub word of a star corpus ranks first") {
    import spark.implicits._
    // 'core' co-occurs with every satellite; satellites only see 'core'
    // and their neighbors — the hub must absorb the most rank
    val docs = (1 to 8).map(i => s"core sat$i core sat$i core sat$i")
      .toDF("text")
    val out = TextAnalysis.textRankKeywords(docs, "text",
        window = 2, minCount = 2L, iters = 4, k = 5)
      .orderBy("rank").collect()
    out(0).getString(1) shouldBe "core"
    // deterministic across partitionings (the PR + hash-id path)
    val rep = TextAnalysis.textRankKeywords(docs.repartition(5), "text",
        window = 2, minCount = 2L, iters = 4, k = 5)
      .orderBy("rank").collect()
    rep.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq shouldBe
      out.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
  }

  test("bm25TopK: k1E2 above the Long-headroom bound raises loudly") {
    // the cleared-denominator numerator is tf·A·(100+k1E2)·10⁸; past
    // k1E2 = 500 the documented tf·avgdl budget no longer keeps it under
    // Long.MAX — the knob must refuse, not silently wrap scores
    val corpus = Seq((1L, "cat dog")).toDF("doc_id", "text")
    val qs = Seq((9L, "cat")).toDF("qid", "qtext")
    an[IllegalArgumentException] should be thrownBy
      TextAnalysis.bm25TopK(corpus, qs, "doc_id", "text", "qid", "qtext",
        k = 1, k1E2 = 501L)
    // the bound itself is fine
    TextAnalysis.bm25TopK(corpus, qs, "doc_id", "text", "qid", "qtext",
      k = 1, k1E2 = 500L).collect().length shouldBe 1
  }
}
