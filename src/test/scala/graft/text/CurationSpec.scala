package graft.text

import graft.SparkSpec
import graft.obs.Probe.measure
import graft.gold.AggregationEngine
import graft.config.PiiRule

class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("domainMixingReport computes token mass and corpus share per domain") {
    val docs = Seq(
      (1L, "a b c d", "web"), (2L, "e f", "web"),
      (3L, "g h i j k l", "books"))
      .toDF("doc_id", "text", "source")
    val out = Curation.domainMixingReport(docs, "source", "text")
      .orderBy("domain").collect()
    out.map(r => (r.getAs[String]("domain"), r.getAs[Long]("docs"),
      r.getAs[Long]("total_tokens"), r.getAs[Long]("tokens_per_doc_e6"),
      r.getAs[Long]("share_e6"))).toSeq shouldBe Seq(
      ("books", 1L, 6L, 6000000L, 500000L), // 6 of 12 tokens
      ("web", 2L, 6L, 3000000L, 500000L))
  }

  test("redactPii: rules chain in order, counts audit per row, nulls safe") {
    val rows = Seq(
      (1L, Some("mail me at jo.doe+x@test.org or x@y.io"), "call 555-123-4567"),
      (2L, Some("ip 10.0.0.1 visited"), "clean text"),
      (3L, None, "192.168.0.1 and 555 7654321"))
      .toDF("id", "a", "b")
    val out = Curation.redactPii(rows, Seq(
      PiiRule("a", Curation.PiiPatterns.Email, "[EMAIL]"),
      PiiRule("a", Curation.PiiPatterns.Ipv4, "[IP]"),
      PiiRule("b", Curation.PiiPatterns.NumericId, "[NUM]"),
      PiiRule("b", Curation.PiiPatterns.Ipv4, "[IP]")))
      .orderBy("id").collect()
    out.map(r => (r.getAs[String]("a"), r.getAs[String]("b"),
      r.getAs[Long]("n_redactions"))).toSeq shouldBe Seq(
      ("mail me at [EMAIL] or [EMAIL]", "call [NUM]", 3L),
      ("ip [IP] visited", "clean text", 1L),
      // null column: redacts to null, counts 0; the IP rule on b runs on
      // the NumericId rule's output (chained), "555 7654321" matched first
      (null, "[IP] and [NUM]", 2L))
  }

  test("redactPii: replacement is literal — $ and \\ are not group refs") {
    val rows = Seq((1L, "id 123456789 here")).toDF("id", "t")
    val out = Curation.redactPii(rows,
        Seq(PiiRule("t", Curation.PiiPatterns.NumericId, "<$0\\REDACTED>")))
      .collect().head
    out.getAs[String]("t") shouldBe "id <$0\\REDACTED> here"
    out.getAs[Long]("n_redactions") shouldBe 1L
  }

  test("selectUnderTokenBudget: NULL scores survive at lowest priority") {
    val docs = Seq(
      (1L, Some(10L), 30L), (2L, None, 20L), (3L, Some(5L), 40L))
      .toDF("doc_id", "score", "n_tokens")
    def ids(budget: Long) =
      Curation.selectUnderTokenBudget(docs, "doc_id", "score", "n_tokens",
        budget).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    ids(100L) shouldBe Seq(1L, 2L, 3L) // null row NOT silently dropped
    ids(70L) shouldBe Seq(1L, 3L)      // null sorts last (lowest priority)
    ids(30L) shouldBe Seq(1L)
  }

  test("selectUnderTokenBudget ≡ global greedy prefix, ties by id") {
    // scores force the order (30,2) (10,5) (10,9) (10,4) (5,...) — note ids
    // 5 and 9 share score 10, so the within-score prefix must go id-first
    val docs = Seq(
      (2L, 30L, 40L), (5L, 10L, 30L), (9L, 10L, 25L), (4L, 10L, 50L),
      (7L, 5L, 10L))
      .toDF("doc_id", "score", "n_tokens")
    def run(budget: Long) =
      Curation.selectUnderTokenBudget(docs, "doc_id", "score", "n_tokens",
          budget)
        .select("doc_id", "cum_tokens").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // order by (score desc, id): 2(40) 4(90) 5(120) 9(145) 7(155)
    run(200L).toSeq shouldBe Seq((2L, 40L), (4L, 90L), (5L, 120L),
      (7L, 155L), (9L, 145L))
    run(120L).toSeq shouldBe Seq((2L, 40L), (4L, 90L), (5L, 120L))
    run(119L).toSeq shouldBe Seq((2L, 40L), (4L, 90L)) // greedy, not knapsack
    run(10L).toSeq shouldBe Seq.empty
  }

  test("selectUnderTokenBudgetPerDomain: per-domain prefixes, zero budget") {
    val docs = Seq(
      (1L, "web", 10L, 30L), (2L, "web", 5L, 30L), (3L, "web", 1L, 30L),
      (4L, "books", 9L, 50L), (5L, "books", 8L, 50L),
      (6L, "banned", 99L, 10L))
      .toDF("doc_id", "src", "score", "n_tokens")
    val out = Curation.selectUnderTokenBudgetPerDomain(docs, "doc_id", "src",
        "score", "n_tokens",
        budgets = Map("web" -> 60L, "banned" -> 0L), defaultBudget = 50L)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // web: top-2 by score fit 60; books(default 50): only doc 4; banned: none
    out shouldBe Seq(1L, 2L, 4L)
  }

  test("applyLanguageFilter keeps listed languages; und only when listed") {
    import graft.config.LanguageFilterSpec
    val docs = Seq(
      (1L, "the cat and the dog in the house"),   // en
      (2L, "el gato y la casa de la que es"),     // es
      (3L, "zxq wvv qqq"))                        // und
      .toDF("doc_id", "text")
    Curation.applyLanguageFilter(docs, LanguageFilterSpec("text", Seq("en")))
      .select("doc_id").collect().map(_.getLong(0)).toSeq shouldBe Seq(1L)
    Curation.applyLanguageFilter(docs,
        LanguageFilterSpec("text", Seq("en", "und")))
      .select("doc_id").collect().map(_.getLong(0)).sorted
      .toSeq shouldBe Seq(1L, 3L)
  }

  test("percentileRank: cume_dist in micro-units, ties share, nulls last") {
    val rows = Seq(
      (1L, Some(10L)), (2L, Some(20L)), (3L, Some(20L)), (4L, Some(30L)),
      (5L, None))
      .toDF("id", "v")
    val out = Curation.percentileRank(rows, "v")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("pct_rank_e6"))
      .toMap
    out(1L) shouldBe 200000L  // 1 of 5 ≤ 10
    out(2L) shouldBe 600000L  // ties share the through-rank (3 of 5)
    out(3L) shouldBe 600000L
    out(4L) shouldBe 800000L
    out(5L) shouldBe 1000000L // null ranks last, never dropped
  }

  test("corpusReport: per-domain mass, pass rate, score quantiles") {
    val good = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, good, "web"), (2L, "too short", "web"),
      (3L, good, "books"))
      .toDF("doc_id", "text", "source")
    val out = Curation.corpusReport(docs, "source", "text")
      .orderBy("domain").collect()
      .map(r => r.getAs[String]("domain") ->
        (r.getAs[Long]("docs"), r.getAs[Long]("passed_docs"),
          r.getAs[Long]("pass_rate_e6"))).toMap
    out("web") shouldBe ((2L, 1L, 500000L))  // the short doc fails the gate
    out("books") shouldBe ((1L, 1L, 1000000L))
  }

  test("curriculumBuckets ≡ global (rank-1)*n div total, nulls last") {
    // 6 rows, 4 buckets: sizes 2,1,2,1 by the floor formula; ties (10,10)
    // break by id; the null orders last
    val docs = Seq(
      (1L, Some(10L)), (2L, Some(5L)), (3L, Some(10L)),
      (4L, Some(1L)), (5L, None), (6L, Some(7L)))
      .toDF("doc_id", "len")
    val out = Curation.curriculumBuckets(docs, "doc_id", "len", nBuckets = 4)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("rank"), r.getAs[Long]("bucket"))).toMap
    out(4L) shouldBe ((1L, 0L)) // len 1
    out(2L) shouldBe ((2L, 0L)) // len 5
    out(6L) shouldBe ((3L, 1L)) // len 7
    out(1L) shouldBe ((4L, 2L)) // len 10, id tiebreak
    out(3L) shouldBe ((5L, 2L))
    out(5L) shouldBe ((6L, 3L)) // null last, not dropped
  }

  test("temperatureSampleRates: min domain keeps all; alpha bounds hold") {
    // 100 web docs vs 25 niche docs
    val docs = ((1 to 100).map(i => (i.toLong, "web")) ++
      (101 to 125).map(i => (i.toLong, "niche")))
      .toDF("doc_id", "source")
    val r05 = Curation.temperatureSampleRates(docs, "source", alpha = 0.5)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    r05("niche") shouldBe 1000000L          // smallest domain: keep all
    r05("web") shouldBe 500000L             // sqrt(25/100) = 0.5
    // alpha=1: untouched corpus — every rate 1e6
    Curation.temperatureSampleRates(docs, "source", alpha = 1.0)
      .collect().map(_.getLong(2)).toSet shouldBe Set(1000000L)
    // alpha=0: full flattening — web rate = 25/100
    Curation.temperatureSampleRates(docs, "source", alpha = 0.0)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      .apply("web") shouldBe 250000L
  }

  test("temperatureSample keeps the whole min domain, downsamples the big one") {
    val docs = ((1 to 100).map(i => (i.toLong, "web")) ++
      (101 to 125).map(i => (i.toLong, "niche")))
      .toDF("doc_id", "source")
    val kept = Curation.temperatureSample(docs, "doc_id", "source", alpha = 0.5)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    kept("niche") shouldBe 25L // rate 1e6 → every row survives the gate
    // web keeps roughly half (md5 buckets ≈ uniform); exact count is
    // deterministic — pin it so any hash/gate change is loud
    kept("web") should (be >= 35L and be <= 65L)
    val again = Curation.temperatureSample(docs, "doc_id", "source", alpha = 0.5)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    again shouldBe kept // same keys + rates → same rows, always
  }

  test("temperatureSample keeps null-domain rows (null-safe rate join)") {
    // the null stratum is its own group: it must keep its own rate, not
    // silently vanish through a plain equi-join
    val docs = ((1 to 100).map(i => (i.toLong, Some("web"))) ++
      (101 to 110).map(i => (i.toLong, Option.empty[String])))
      .toDF("doc_id", "source")
    val kept = Curation.temperatureSample(docs, "doc_id", "source", alpha = 0.5)
      .groupBy("source").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    kept(None) shouldBe 10L // smallest domain → rate 1e6 → all survive
    // web rate = sqrt(10/100) ≈ 0.316 — roughly a third survives the gate
    kept(Some("web")) should (be >= 15L and be <= 45L)
  }

  test("temperatureSample plans a broadcast join of the domains-sized rates") {
    val docs = ((1 to 50).map(i => (i.toLong, "web")) ++
      (51 to 60).map(i => (i.toLong, "niche")))
      .toDF("doc_id", "source")
    val plan = Curation.temperatureSample(docs, "doc_id", "source", 0.5)
      .queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin") // rates never shuffle the corpus
    plan should not include "SortMergeJoin"
  }

  test("applyMixing with temperature derives rates instead of reading them") {
    import graft.config.MixingSpec
    val docs = ((1 to 100).map(i => (i.toLong, "web")) ++
      (101 to 125).map(i => (i.toLong, "niche")))
      .toDF("doc_id", "source")
    val mixed = Curation.applyMixing(docs,
      MixingSpec("doc_id", "source", temperature = Some(0.5)))
    mixed.columns should contain("rate_e6") // audit column rides through
    val kept = mixed.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    kept("niche") shouldBe 25L
    kept("web") should be < 100L
    // config validation: temperature and explicit rates are exclusive
    val bad =
      """version: "1.0"
        |pipeline:
        |  name: t
        |silver: {}
        |curation:
        |  mixing:
        |    key_column: doc_id
        |    domain_column: source
        |    temperature: 0.5
        |    rates:
        |      web: 50
        |""".stripMargin
    val e = the[graft.config.ConfigLoader.ConfigError] thrownBy
      graft.config.ConfigLoader.parse(bad)
    e.getMessage should include("exclusive")
    val bad2 = bad.replace("    rates:\n      web: 50\n", "")
      .replace("temperature: 0.5", "temperature: 1.5")
    val e2 = the[graft.config.ConfigLoader.ConfigError] thrownBy
      graft.config.ConfigLoader.parse(bad2)
    e2.getMessage should include("[0,1]")
  }

  test("qualityFilter gates on token count, word length, ttr, repetition") {
    val docs = Seq(
      (1L, (1 to 30).map(i => s"tok$i").mkString(" ")), // passes every rule
      (2L, "too short"), // token_count
      (3L, (1 to 30).map(_ => "x").mkString(" ")), // len ok=1? no: awl=1 -> avg_token_len
      (4L, ("a b " * 20).trim)) // 40 tokens, ttr 2/40 -> ttr fires first? awl=1 fires first
      .toDF("doc_id", "text")
    val out = Curation.qualityFilter(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    out.map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("passed"),
      r.getAs[String]("fail_reason"))).toSeq shouldBe Seq(
      (1L, true, ""),
      (2L, false, "token_count"),
      (3L, false, "avg_token_len"), // 1-char tokens: awl 1.0 < 3.0, checked before ttr
      (4L, false, "avg_token_len"))
    // signal columns ride along for filter-rate audits
    out.head.getAs[Long]("n_tokens") shouldBe 30L
    out.head.getAs[Long]("ttr_e6") shouldBe 1000000L
  }

  test("stripBoilerplateSegments drops shared segments, keeps order") {
    val docs = Seq(
      (1L, "nav bar hello world"),
      (2L, "nav bar other text"),
      (3L, "solo words only here"))
      .toDF("doc_id", "text")
    val out = Curation.stripBoilerplateSegments(docs, "doc_id", "text",
      segTokens = 2, maxDf = 2).orderBy("doc_id").collect()
    out.map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("clean_text"),
      r.getAs[Long]("n_segments"), r.getAs[Long]("n_kept"),
      r.getAs[Long]("boiler_frac_e6"))).toSeq shouldBe Seq(
      // "nav bar" appears in 2 docs >= maxDf -> dropped from both
      (1L, "hello world", 2L, 1L, 500000L),
      (2L, "other text", 2L, 1L, 500000L),
      (3L, "solo words only here", 2L, 2L, 0L))
  }

  test("stripBoilerplateSegments: df is DOC frequency, not occurrences") {
    // "nav bar" occurs 3 times total but in only 2 docs; maxDf=3 keeps it —
    // occurrence counting would have dropped it
    val docs = Seq(
      (1L, "nav bar nav bar xx yy"),
      (2L, "nav bar zz ww"))
      .toDF("doc_id", "text")
    val out = Curation.stripBoilerplateSegments(docs, "doc_id", "text",
      segTokens = 2, maxDf = 3).orderBy("doc_id").collect()
    out.map(r => (r.getAs[String]("clean_text"),
      r.getAs[Long]("n_kept"))).toSeq shouldBe Seq(
      ("nav bar nav bar xx yy", 3L), ("nav bar zz ww", 2L))
  }

  test("stripBoilerplateSegments: empty, null, all-boilerplate, odd tail") {
    val docs = Seq(
      (1L, "shared pair shared pair"), // every segment boilerplate
      (2L, "shared pair"),
      (3L, "shared pair tail"),        // odd count: 1-token tail segment kept
      (4L, ""),
      (5L, null))
      .toDF("doc_id", "text")
    val out = Curation.stripBoilerplateSegments(docs, "doc_id", "text",
      segTokens = 2, maxDf = 2).orderBy("doc_id").collect()
    out.map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("clean_text"),
      r.getAs[Long]("n_segments"), r.getAs[Long]("n_kept"),
      r.getAs[Long]("boiler_frac_e6"))).toSeq shouldBe Seq(
      // doc dropped to EMPTY stays a visible row, not a lost one
      (1L, "", 2L, 0L, 1000000L),
      (2L, "", 1L, 0L, 1000000L),
      (3L, "tail", 2L, 1L, 500000L),
      (4L, "", 0L, 0L, 0L),
      (5L, "", 0L, 0L, 0L))
  }

  test("qualityFilter dup_2gram rule fires on repetitive long-word docs") {
    val docs = Seq((1L, ("alpha beta " * 15).trim)).toDF("doc_id", "text")
    val r = Curation.qualityFilter(docs, "doc_id", "text").head()
    // 30 tokens, awl 4.5 ok, but ttr 2/30 fails before dup_2gram
    r.getAs[String]("fail_reason") shouldBe "ttr"
    // relax ttr -> dup_2gram (29 bigrams, 2 distinct) is the verdict
    val r2 = Curation.qualityFilter(docs, "doc_id", "text", minTtrE6 = 0L).head()
    r2.getAs[Boolean]("passed") shouldBe false
    r2.getAs[String]("fail_reason") shouldBe "dup_2gram"
  }

  test("splitLeakageAudit: counts cross-split pairs; zero under leakageSafeSplit") {
    import org.apache.spark.sql.functions.col
    val docs = (0L until 100L).toDF("doc_id")
    // 50 near-dup pairs (2k, 2k+1); assign splits so some pairs straddle
    val pairs = (0L until 100L by 2L).map(k => (k, k + 1)).toDF("id_a", "id_b")
    val naive = docs.withColumn("split",
      Chunking.hashSplit(col("doc_id"), Seq("train" -> 50, "test" -> 50)))
    val audit = Curation.splitLeakageAudit(naive, "doc_id", "split", pairs)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    audit.values.sum shouldBe 50L // every pair lands in exactly one cell
    audit.getOrElse(("test", "train"), 0L) should be > 0L // naive split leaks
    // cluster-aware assignment: same pairs as clusters → zero off-diagonal
    val clusters = pairs.select(col("id_a").as("id"), col("id_a").as("label"))
      .unionByName(pairs.select(col("id_b").as("id"), col("id_a").as("label")))
    val safe = Chunking.leakageSafeSplit(docs, "doc_id", clusters,
      Seq("train" -> 50, "test" -> 50))
    val audit2 = Curation.splitLeakageAudit(safe, "doc_id", "split", pairs)
      .filter(col("split_lo") =!= col("split_hi")).count()
    audit2 shouldBe 0L
  }

  test("dataCard: sections agree with their source reports, exact values") {
    import org.apache.spark.sql.functions.col
    val mk = (id: Long, dom: String, words: Int) =>
      (id, dom, (1 to words).map(i => s"word$i").mkString(" "))
    val docs = (Seq(mk(1, "web", 30), mk(2, "web", 5), mk(3, "books", 40)) :+
      ((4L, "web", (1 to 30).map(i => s"word$i").mkString(" ")))) // dup of 1
      .toDF("doc_id", "source", "text")
    val card = Curation.dataCard(docs, "doc_id", "source", "text")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))
        -> r.getLong(3)).toMap
    card(("corpus", "*", "docs")) shouldBe 4L
    card(("corpus", "*", "total_tokens")) shouldBe 105L
    card(("corpus", "*", "n_domains")) shouldBe 2L
    card(("domains", "web", "docs")) shouldBe 3L
    card(("domains", "books", "total_tokens")) shouldBe 40L
    // share: 65/105 ≈ 619048
    card(("domains", "web", "share_e6")) shouldBe 619048L
    // quality: 30-token docs pass the 20..90 gate, 5-token fails
    card(("quality", "web", "passed_docs")) shouldBe 2L
    card(("quality", "books", "pass_rate_e6")) shouldBe 1000000L
    // dedup: docs 1 and 4 are one exact-dup group, one redundant doc
    card(("dedup", "*", "exact_dup_groups")) shouldBe 1L
    card(("dedup", "*", "exact_dup_docs")) shouldBe 1L
    // length p50 (bin 10): counts {5,30,30,40} → cum at bin 3 is 3 ≥ 2
    card(("length", "*", "p50_tokens_bin_lo")) shouldBe 30L
    card(("length", "*", "p90_tokens_bin_lo")) shouldBe 40L
    card.size shouldBe (3 + 6 + 4 + 2 + 2)
  }

  test("piiDensityReport: hand-traced rates, original-token denominator") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "web", "write to a@b.com or c@d.org today"), // 2 emails, 6 tokens
      (2L, "web", "clean text with no pii at all"),     // 0, 7 tokens
      (3L, "mail", "id 123456789 here"))                // 1 numeric, 3 tokens
      .toDF("doc_id", "source", "text")
    val out = Curation.piiDensityReport(docs, "source", "text", Seq(
        graft.config.PiiRule("text", Curation.PiiPatterns.Email, "[EMAIL]"),
        graft.config.PiiRule("text", Curation.PiiPatterns.NumericId,
          "[ID]")))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6))).toMap
    // web: 2 docs, 1 with pii, 13 tokens, 2 redactions
    out("web") shouldBe ((2L, 1L, 13L, 2L, 500000L, 153846L))
    // mail: 1 doc, 1 with pii, 3 tokens, 1 redaction
    out("mail") shouldBe ((1L, 1L, 3L, 1L, 1000000L, 333333L))
  }

  test("corpusReportIncremental: delta fold ≡ full rebuild, new domains") {
    import org.apache.spark.sql.functions.col
    // word1..wordN: all distinct (ttr 1), avg length ≈ 5.7 (inside the
    // 3..8 gate), so pass/fail is decided by the 20..90 token count
    val mk = (id: Long, dom: String, words: Int) =>
      (id, dom, (1 to words).map(i => s"word$i").mkString(" "))
    val hist = Seq(mk(1, "web", 30), mk(2, "web", 5), mk(3, "books", 40))
      .toDF("doc_id", "source", "text")
    val delta = Seq(mk(10, "web", 25), mk(11, "misc", 50))
      .toDF("doc_id", "source", "text")
    val state = Curation.corpusReportState(hist, "source", "text")
    state.columns.toSeq shouldBe
      Seq("domain", "docs", "total_tokens", "passed_docs")
    val folded = Curation
      .corpusReportIncremental(state, delta, "source", "text")
      .orderBy("domain").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // the invariant: fold ≡ rebuilding the state from the FULL corpus
    val rebuilt = Curation
      .corpusReportState(hist.unionByName(delta), "source", "text")
      .withColumn("pass_rate_e6",
        org.apache.spark.sql.functions.expr(
          "passed_docs * 1000000L div docs"))
      .withColumn("tokens_per_doc_e6",
        org.apache.spark.sql.functions.expr(
          "total_tokens * 1000000L div docs"))
      .orderBy("domain").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    folded.toSeq shouldBe rebuilt.toSeq
    // delta-only domain "misc" appears; untouched "books" persists
    folded.map(_._1).toSeq shouldBe Seq("books", "misc", "web")
    folded.find(_._1 == "web").get._2 shouldBe 3L // 2 hist + 1 delta docs
    // distinct unique-token docs: w1..wN all distinct, ttr 1e6; 30-token
    // doc passes the 20..90 gate, 5-token doc fails it
    folded.find(_._1 == "web").get._4 shouldBe 2L
  }

  test("scoreLinearModel: hand-traced sparse dot, sigmoid, null/empty text") {
    import org.apache.spark.sql.functions.col
    // md5-first-8-hex mod 16 buckets (replayed locally): aa→10, bb→8,
    // cc→0, zz→11 — all distinct at this size
    def bucket(tok: String, m: Int): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      (java.lang.Long.parseLong(
        d.take(4).map("%02x".format(_)).mkString, 16) % m).toInt
    }
    bucket("aa", 16) shouldBe 10
    val w = Map(bucket("aa", 16) -> 100000L, bucket("bb", 16) -> -50000L,
      bucket("cc", 16) -> -300000L)
    val docs = Seq(
      (1L, Some("aa bb aa")),  // 25000 + 2·100000 − 50000 = 175000
      (2L, Some("cc")),        // 25000 − 300000 = −275000
      (3L, Some("")),          // empty → bias alone
      (4L, None: Option[String]), // null → bias alone
      (5L, Some("zz zz")))     // unseen bucket → weight 0 → bias alone
      .toDF("doc_id", "text")
    val out = Curation.scoreLinearModel(docs, "doc_id", "text",
        w, biasE6 = 25000L, nBuckets = 16)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("score_e6"),
        r.getAs[Long]("prob_e6")))
    // prob = 5e5 + s·5e5 div (1e6+|s|), exact integer floors
    out.toSeq shouldBe Seq(
      (1L, 175000L, 574468L),   // 5e5 + 87500000000 div 1175000
      (2L, -275000L, 392157L),  // 5e5 − 137500000000 div 1275000
      (3L, 25000L, 512195L),
      (4L, 25000L, 512195L),
      (5L, 25000L, 512195L))
    // all original columns ride through
    Curation.scoreLinearModel(docs, "doc_id", "text", w, 0L, 16)
      .columns.toSeq shouldBe Seq("doc_id", "text", "score_e6", "prob_e6")
    // driver-side contract checks
    an[IllegalArgumentException] should be thrownBy
      Curation.scoreLinearModel(docs, "doc_id", "text", Map.empty, 0L, 16)
    an[IllegalArgumentException] should be thrownBy
      Curation.scoreLinearModel(docs, "doc_id", "text", Map(16 -> 1L), 0L, 16)
    an[IllegalArgumentException] should be thrownBy
      Curation.scoreLinearModel(docs, "doc_id", "text",
        Map(0 -> 1000000001L), 0L, 16)
    an[IllegalArgumentException] should be thrownBy
      Curation.scoreLinearModel(docs, "doc_id", "text",
        Map(0 -> 1L), 1000000000001L, 16)
    // in-plan score guard: 1001 copies of one max-weight token passes 1e12
    val hot = Seq((1L, Seq.fill(1001)("aa").mkString(" "))).toDF("doc_id", "text")
    val ex = intercept[Exception] {
      Curation.scoreLinearModel(hot, "doc_id", "text",
        Map(bucket("aa", 16) -> 1000000000L), 0L, 16).collect()
    }
    ex.getMessage should include("coarsen the weight unit")
  }

  test("applyQualityModel filters on score_e6; curate runs it after the gate") {
    import org.apache.spark.sql.functions.col
    def bucket(tok: String, m: Int): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      (java.lang.Long.parseLong(
        d.take(4).map("%02x".format(_)).mkString, 16) % m).toInt
    }
    val w = Map(bucket("good", 32) -> 200000L, bucket("bad", 32) -> -200000L)
    val docs = Seq(
      (1L, "good good"),  // 400000 ≥ 100000: keep
      (2L, "good bad"),   // 0 < 100000: drop
      (3L, "bad"))        // −200000: drop
      .toDF("doc_id", "text")
    val m = graft.config.QualityModelSpec("doc_id", "text", nBuckets = 32,
      weightsE6 = w, biasE6 = 0L, minScoreE6 = 100000L)
    val kept = Curation.applyQualityModel(docs, m)
    kept.collect().map(_.getLong(0)).toSeq shouldBe Seq(1L)
    kept.columns should contain allOf ("score_e6", "prob_e6")
    // curate: the model stage composes after the rule gate — a doc the
    // GATE rejects never reaches the model (too few tokens), and a doc
    // the model rejects doesn't survive just by passing the gate
    val corpus = Seq(
      (1L, ("good " * 25).trim),              // passes gate AND model
      (2L, ("bad " * 25).trim),               // passes gate, model rejects
      (3L, "good"))                           // gate rejects (1 token < 20)
      .toDF("doc_id", "text")
    val spec = graft.config.CurationSpec(
      gate = Some(graft.config.QualityGateSpec("doc_id", "text",
        minTokens = 20L, maxTokens = 90L,
        // one-word-vocabulary docs: ttr and dup-2gram gates off
        minTtrE6 = 0L, maxDup2E6 = 1000000L,
        minAvgTokenLenE6 = 3000000L, maxAvgTokenLenE6 = 8000000L)),
      model = Some(m))
    Curation.curate(corpus, spec).collect().map(_.getLong(0)).toSeq shouldBe
      Seq(1L)
  }

  // Every dedup strategy acts on this corpus: an exact copy (2 of 1), a
  // case/punctuation copy (3), a truncated copy (4 strictly prefixes 1),
  // two docs equal only once their emails are redacted (5, 6), and
  // same-direction embedding twins (1/2, 3/4, 5/6).
  private val lang = graft.config.LanguageFilterSpec("text", Seq("en", "und"))
  private val rules = Seq(PiiRule("text", Curation.PiiPatterns.Email, "[EMAIL]"))
  private def nearDupCorpus = {
    val fox = "the quick brown fox jumps over the lazy dog near the river bank today"
    val (a, b, c) = (Array(1f, 0f, 0f, 2f), Array(-1f, 3f, 0.5f, 0f),
      Array(0f, 0f, 1f, 0f))
    Seq(
      (1L, fox, a, 5L, "web"),
      (2L, fox, a.map(_ * 2f), 9L, "web"),
      (3L, "The Quick Brown Fox jumps over the lazy dog, near the river " +
        "bank today!", b, 7L, "wiki"),
      (4L, fox.stripSuffix(" today"), b.map(_ * 3f), 1L, "web"),
      (5L, s"$fox mail ann@example.org", c, 2L, "books"),
      (6L, s"$fox mail bob@example.net", c.map(_ * 2f), 3L, "books"),
      (7L, "an unrelated sentence about spark clusters reading parquet " +
        "files in parallel", Array(0f, 1f, 0f, 0f), 4L, "wiki"),
      (8L, "medallion lakehouse layers move raw bronze rows into curated " +
        "silver tables", Array(0f, 0f, 0f, 1f), 6L, "web"))
      .toDF("doc_id", "text", "emb", "score", "source")
  }
  private def nearDupSpec(strategy: String) = graft.config.NearDedupSpec(
    strategy, "doc_id",
    if (Set("embedding_lsh", "semantic")(strategy)) "emb" else "text",
    dim = 4, kmeansK = 2, kmeansIters = 1, scoreColumn = Some("score"))

  test("curate ≡ applyDedup over the lazy prefix, for every dedup strategy") {
    import org.apache.spark.sql.DataFrame
    val corpus = nearDupCorpus
    val prefix = Curation.redactPii(Curation.applyLanguageFilter(corpus, lang),
      rules)
    def rows(df: DataFrame) = df.collect().sortBy(_.getAs[Long]("doc_id")).toSeq
    val before = rows(prefix)
    before.size shouldBe 8
    for (s <- graft.config.NearDedupSpec.Strategies.toSeq.sorted) withClue(s"$s: ") {
      val d = nearDupSpec(s)
      val lazyOut = Curation.applyDedup(prefix, d)
      val expected = rows(lazyOut)
      expected should not equal before // the strategy removed or masked a dup
      val curated = Curation.curate(corpus, graft.config.CurationSpec(
        language = Some(lang), pii = rules, dedup = Some(d)))
      curated.columns.toSeq shouldBe lazyOut.columns.toSeq
      rows(curated) shouldBe expected
    }
  }

  test("curate scans its dedup input once, in the checkpoint job") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import graft.config.{GoldModel, Measure}
    val dir = java.nio.file.Files.createTempDirectory("graft_curate_scan")
      .resolve("docs").toString
    nearDupCorpus.drop("emb").coalesce(1).write.parquet(dir)
    val corpus = spark.read.parquet(dir)
    object Plans extends AdaptiveSparkPlanHelper {
      def fileScans(df: DataFrame): Int = {
        df.collect()
        collectWithSubqueries(df.queryExecution.executedPlan) {
          case s: FileSourceScanExec => s
        }.size
      }
    }
    def withJobs[T](body: => T): (T, Int) = {
      val (result, sample) = measure(spark)(body)
      (result.get, sample.jobs.size)
    }
    val gold = GoldModel("by_source", Seq("source"),
      Seq(Measure("docs", "count(1)")))
    // the checkpoint is the one added job and the only file scan: neither
    // the curated frame nor a gold mart over it scans the corpus again
    for (strategy <- Seq("minhash_lsh", "exact")) withClue(s"$strategy: ") {
      val d = nearDupSpec(strategy)
      val spec = graft.config.CurationSpec(language = Some(lang), pii = rules,
        dedup = Some(d))
      val prefix = Curation.redactPii(
        Curation.applyLanguageFilter(corpus, lang), rules)
      val (_, parentJobs) = withJobs(Curation.applyDedup(prefix, d).count())
      val (curated, curateJobs) = withJobs {
        val c = Curation.curate(corpus, spec)
        c.count()
        c
      }
      curateJobs shouldBe parentJobs + 1
      Plans.fileScans(curated) shouldBe 0
      Plans.fileScans(AggregationEngine.build(curated, gold)) shouldBe 0
    }
  }
}
