package graft.dedup

import graft.SparkSpec
import graft.text.TextAnalysis
import org.apache.spark.sql.functions.{col, md5}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  // the content keys of the exact, canonical and canonical_unicode strategies
  private val exactKey = TextAnalysis.fingerprint(col("text"))
  private val canonicalKey = md5(Dedup.canonicalForm(col("text")))
  private val unicodeKey = md5(Dedup.canonicalFormUnicode(col("text")))

  private def docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta"),
    (2L, "alpha beta gamma delta epsilon eta"), // near-dup of 1
    (3L, "one two three four five six seven"),
    (4L, "alpha beta gamma delta epsilon zeta"), // exact dup of 1
    (5L, "xy"))
    .toDF("doc_id", "text")

  test("shingles: n-grams, distinct, empty for too-short docs") {
    val sh = docs.select(col("doc_id"), DedupTwins.shingles(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    sh(1L) should contain("alpha beta gamma")
    sh(1L).length shouldBe 4 // 6 tokens → 4 trigrams
    sh(5L) shouldBe empty // 1 token, no trigram
  }

  test("exact dedup keeps min-id row per content") {
    val out = Dedup.dedupeByKey(docs, "doc_id", exactKey)
    out.count() shouldBe 4
    out.select("doc_id").as[Long].collect() should not contain 4L
  }

  test("exactDupGroups finds the duplicated content") {
    val g = Dedup.dupGroups(docs, "doc_id", exactKey).collect()
    g.length shouldBe 1
    g.head.getAs[Long]("copies") shouldBe 2L
  }

  test("canonical dedup collapses case/whitespace/punctuation variants") {
    val variants = docs.unionByName(Seq(
      (6L, "  ALPHA beta,   gamma. Delta epsilon zeta!"), // canon dup of 1
      (7L, "one-two three  FOUR five six seven"),          // canon dup of 3
      (8L, "genuinely new content here")).toDF("doc_id", "text"))
    // canonicalForm semantics
    variants.filter(col("doc_id") === 6L)
      .select(Dedup.canonicalForm(col("text"))).as[String].head() shouldBe
      "alpha beta gamma delta epsilon zeta"
    val kept = Dedup.dedupeByKey(variants, "doc_id", canonicalKey)
      .select("doc_id").as[Long].collect().sorted
    kept shouldBe Array(1L, 2L, 3L, 5L, 8L) // 4,6 fold into 1; 7 into 3
    val groups = Dedup.dupGroups(variants, "doc_id", canonicalKey)
      .orderBy("keep_id")
      .select("keep_id", "copies").as[(Long, Long)].collect()
    groups shouldBe Array((1L, 3L), (3L, 2L))
  }

  test("unicode canonical dedup folds NFC variants the ASCII form mangles") {
    // same content four ways: composed accents, decomposed combining
    // marks, case/space/punct noise on each — all one canonical identity
    val rows = Seq(
      (1L, "Caf\u00e9 con cr\u00e8me \u00e0 Z\u00fcrich"), // composed
      (2L, "Cafe\u0301 con cre\u0300me a\u0300 Zu\u0308rich"), // decomposed
      (3L, "  CAF\u00c9   con  CR\u00c8ME \u00c0 Z\u00dcRICH!!"), // shouting
      (4L, "caf\u00e9 con, cr\u00e8me... \u00e0 z\u00fcrich"), // punct
      (5L, "cafe con creme a zurich")) // accent-STRIPPED: a DIFFERENT text
      .toDF("doc_id", "text")
    rows.filter(col("doc_id") === 2L)
      .select(Dedup.canonicalFormUnicode(col("text"))).as[String]
      .head() shouldBe "caf\u00e9 con cr\u00e8me \u00e0 z\u00fcrich"
    val kept = Dedup.dedupeByKey(rows, "doc_id", unicodeKey)
      .select("doc_id").as[Long].collect().sorted
    kept shouldBe Array(1L, 5L) // 2,3,4 fold into 1; bare-ASCII 5 distinct
    val groups = Dedup.dupGroups(rows, "doc_id", unicodeKey)
      .select("keep_id", "copies").as[(Long, Long)].collect()
    groups shouldBe Array((1L, 4L))
    // the ASCII canonicalForm would have shredded every accented word to
    // fragments ("caf con cr me") AND merged doc 5 into them — exactly
    // the mangling the unicode form exists to avoid
    rows.filter(col("doc_id") === 1L)
      .select(Dedup.canonicalForm(col("text"))).as[String]
      .head() shouldBe "caf con cr me z rich"
    // null and pure-ASCII texts pass through the NFC fast path unchanged
    val ascii = Seq((1L, Some("plain text")), (2L, None: Option[String]))
      .toDF("doc_id", "text")
    ascii.select(Dedup.canonicalFormUnicode(col("text"))).as[Option[String]]
      .collect().toSet shouldBe Set(Some("plain text"), None)
  }

  test("jaccardPairs computes exact n-gram jaccard") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Double]("jaccard")).toMap
    pairs((1L, 4L)) shouldBe 1.0 // identical docs
    // docs 1,2 share trigrams "alpha beta gamma","beta gamma delta",
    // "gamma delta epsilon": inter=3, union=4+4-3=5
    pairs((1L, 2L)) shouldBe 0.6 +- 1e-12
    pairs.keySet should not contain ((1L, 3L)) // no shared shingle
  }

  test("containmentPairs flags near-supersets that jaccard dilutes away") {
    val corpus = Seq(
      // doc 2 contains ALL of doc 1's trigrams plus 12 more of its own:
      // containment(1 in 2) = 1.0 while jaccard = 4/16 = 0.25
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta one two three four five " +
        "six seven eight nine ten eleven twelve"),
      (3L, "unrelated text goes here entirely"))
      .toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(corpus, "doc_id", "text", n = 3,
        thresholdE6 = 900000L)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        (r.getAs[Long]("containment_a_e6"), r.getAs[Long]("containment_b_e6")))
      .toMap
    pairs.keySet shouldBe Set((1L, 2L))
    pairs((1L, 2L))._1 shouldBe 1000000L // 1 fully inside 2
    pairs((1L, 2L))._2 shouldBe (4L * 1000000L / 16L) // 250000
    // the symmetric jaccard path would NOT flag this pair at 0.5
    Dedup.jaccardPairs(corpus, "doc_id", "text", 3)
      .filter(col("jaccard") > 0.5).count() shouldBe 0L
  }

  test("minhash: identical docs → identical signatures; lsh finds dups") {
    val sig = Dedup.withMinHash(
      docs.select(col("doc_id"), col("text")), "text", 8, 3)
    val s1 = sig.where("doc_id = 1").drop("text").collect().head
    val s4 = sig.where("doc_id = 4").drop("text").collect().head
    (1 to 8).foreach(i => s1.getLong(i) shouldBe s4.getLong(i))

    val cands = Dedup.lshCandidates(docs, "doc_id", "text",
      numHashes = 8, numBands = 4, shingleN = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    cands should contain((1L, 4L)) // exact dups always collide
  }

  test("native minhash_sigs/simhash32 equal the builtin HOF forms") {
    import org.apache.spark.sql.functions.{call_function, lit}
    val hs = docs.select(col("doc_id"),
        DedupTwins.shingleBaseHashes(DedupTwins.shingles(col("text"), 3)).as("hs"))
      .filter(org.apache.spark.sql.functions.size(col("hs")) > 0)
    val cmp = hs.select(col("doc_id"),
      call_function("minhash_sigs", col("hs"), lit(4)).as("sigs"),
      DedupTwins.minHashValue(col("hs"), 0).as("m0"),
      DedupTwins.minHashValue(col("hs"), 3).as("m3"))
    cmp.collect().foreach { r =>
      val sigs = r.getSeq[Long](1)
      sigs(0) shouldBe r.getLong(2)
      sigs(3) shouldBe r.getLong(3)
    }
    val th = docs.select(col("doc_id"), Dedup.tokenHashes(col("text")).as("th"))
    th.select(call_function("simhash32", col("th")).as("a"),
        DedupTwins.simHashFromHashes(col("th")).as("b"))
      .collect().foreach(r => r.getLong(0) shouldBe r.getLong(1))

    // shingle_hashes ≡ builtin shingles→md5 pipeline, element for element
    docs.select(
        call_function("shingle_hashes", col("text"), lit(3)).as("a"),
        DedupTwins.shingleBaseHashes(DedupTwins.shingles(col("text"), 3)).as("b"))
      .collect().foreach(r => r.getSeq[Long](0) shouldBe r.getSeq[Long](1))
  }

  test("winnow_fps ≡ the builtin windowed-min composition, value for value") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // repeated tokens make duplicate hashes in the raw stream (the tie
    // case a set-semantics shingle pass would corrupt); short docs must
    // return empty, trailing spaces must trim like the builtin
    val docs = Seq(
      (1L, "the cat sat on the mat while the cat sat again"),
      (2L, "a a a a a a a a"),
      (3L, "one two three four five six seven eight nine ten"),
      (4L, "too short here"),
      (5L, "  padded text with spaces on both ends  "),
      (6L, ""))
      .toDF("doc_id", "text")
      .withColumn("_toks", split(trim(col("text")), " "))
      // guard: sequence(1, n) DESCENDS for n < 1, feeding slice a 0 start
      .withColumn("_sh", when(
        org.apache.spark.sql.functions.size(col("_toks")) >= 3, transform(
          sequence(lit(1),
            org.apache.spark.sql.functions.size(col("_toks")) - lit(2)),
          i => conv(substring(md5(concat_ws(" ",
            slice(col("_toks"), i, lit(3)))), 1, 8), 16, 10).cast("long")))
        .otherwise(expr("cast(array() as array<bigint>)")))
    docs.select(col("doc_id"),
        call_function("winnow_fps", col("text"), lit(3), lit(4)).as("a"),
        when(org.apache.spark.sql.functions.size(col("_toks")) >= 6, array_distinct(expr(
          "transform(sequence(1, size(_sh) - 4 + 1), " +
            "i -> array_min(slice(_sh, i, 4)))")))
          .otherwise(expr("cast(array() as array<bigint>)")).as("b"))
      .collect().foreach(r =>
        withClue(s"doc ${r.getLong(0)}")(
          r.getSeq[Long](1) shouldBe r.getSeq[Long](2)))
  }

  test("natives declare nullable outputs: empty NON-NULL input still yields null") {
    import org.apache.spark.sql.functions.expr
    // children here are non-null literals — without the explicit
    // `nullable = true` overrides the expressions would inherit
    // nullable=false and the optimizer could fold downstream null guards
    // away while eval still returns null
    val out = spark.range(1).select(
      expr("simhash64(' ')").as("h64"),
      expr("simhash32(cast(array() as array<bigint>))").as("h32"),
      expr("minhash_sigs(cast(array() as array<bigint>), 4)").as("sigs"),
      expr("quantize_stats(cast(array() as array<float>))").as("qs"))
    out.schema.fields.foreach(f => withClue(f.name)(f.nullable shouldBe true))
    val r = out.head()
    (0 to 3).foreach(i => withClue(s"col $i")(r.isNullAt(i) shouldBe true))
  }

  test("dup clusters: transitive chains collapse to the min id; dedup drops losers") {
    // chain 1-2, 2-6; separate pair 3-5; singleton 4 untouched
    val pairs = Seq((1L, 2L), (2L, 6L), (3L, 5L)).toDF("id_a", "id_b")
    val clusters = Dedup.dupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    clusters(1L) shouldBe 1L
    clusters(2L) shouldBe 1L
    clusters(6L) shouldBe 1L // transitive via 2
    clusters(3L) shouldBe 3L
    clusters(5L) shouldBe 3L

    val corpus = (1L to 6L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val kept = Dedup.removeNearDupes(corpus, "doc_id",
        Dedup.dupClusters(pairs))
      .select("doc_id").as[Long].collect().sorted
    kept shouldBe Array(1L, 3L, 4L) // canonical members + untouched singleton
  }

  test("mergeClusters: new pairs fold in and bridge old clusters exactly") {
    val oldPairs = Seq((1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val oldLabels = Dedup.dupClusters(oldPairs)
    // 2-5 bridges the two old clusters; 8-9 is an entirely new one
    val newPairs = Seq((2L, 5L), (8L, 9L)).toDF("id_a", "id_b")
    val merged = Dedup.mergeClusters(oldLabels, newPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.dupClusters(
        oldPairs.unionByName(newPairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    merged shouldBe full
    merged(6L) shouldBe 1L // bridged transitively: 6-5-2-1
    merged(8L) shouldBe 8L
  }

  test("removeNearDupesKeepBest keeps the argmax-score member, ties to min id") {
    // cluster {1,2,6}: best score is 6's; cluster {3,5}: tie → min id 3;
    // singleton 4 untouched
    val pairs = Seq((1L, 2L), (2L, 6L), (3L, 5L)).toDF("id_a", "id_b")
    val corpus = Seq(
      (1L, 10L), (2L, 30L), (6L, 90L),
      (3L, 40L), (5L, 40L),
      (4L, 1L))
      .toDF("doc_id", "score")
    val kept = Dedup.removeNearDupesKeepBest(corpus, "doc_id",
        Dedup.dupClusters(pairs), "score")
      .select("doc_id").as[Long].collect().sorted
    kept shouldBe Array(3L, 4L, 6L) // NOT the min-id members 1 and 3-only
    // and the min-id form keeps a different set — the operators disagree
    // exactly on clusters whose best member isn't the min id
    Dedup.removeNearDupes(corpus, "doc_id", Dedup.dupClusters(pairs))
      .select("doc_id").as[Long].collect().sorted shouldBe Array(1L, 3L, 4L)
  }

  test("removeNearDupesKeepBest plans an anti-join — losers never materialize wide") {
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val corpus = Seq((1L, 10L), (2L, 30L)).toDF("doc_id", "score")
    val plan = Dedup.removeNearDupesKeepBest(corpus, "doc_id",
        Dedup.dupClusters(pairs), "score")
      .queryExecution.executedPlan.toString
    plan should include("LeftAnti")
  }

  test("dup clusters: pointer jumping converges on chains deeper than maxIter") {
    // a 40-node path: linear propagation needs 39 rounds; doubling ~6
    val chain = (0L until 39L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.dupClusters(chain, maxIter = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    labels.size shouldBe 40
    all(labels.values) shouldBe 0L // one component, min id 0
  }

  test("lshJaccardPairs: exact jaccard on LSH candidates, subset of full scan") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3)
      .filter(col("jaccard") > 0.4)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        (r.getAs[Long]("inter"), r.getAs[Double]("jaccard"))).toMap
    val lsh = Dedup.lshJaccardPairs(docs, "doc_id", "text", n = 3,
      threshold = 0.4, numHashes = 8, numBands = 4)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        (r.getAs[Long]("inter"), r.getAs[Double]("jaccard"))).toMap
    // every verified pair exists in the exact scan with the SAME jaccard
    lsh.foreach { case (k, v) => exact(k) shouldBe v }
    lsh.keySet should contain((1L, 4L)) // exact dups always survive
  }

  test("banded simHashPairs ≡ all-pairs scan (pigeonhole exactness)") {
    // a corpus wide enough to exercise multi-band agreement and misses:
    // 60 docs drawn from 3 word pools with per-doc mutations
    val pools = Seq(
      "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      "one two three four five six seven eight nine ten",
      "red orange yellow green blue indigo violet black white gray")
    val corpus = (0L until 60L).map { i =>
      val base = pools((i % 3).toInt).split(" ")
      val mutated = base.updated((i % 10).toInt, s"m$i")
      (i, mutated.mkString(" "))
    }.toDF("doc_id", "text")
    for (maxH <- Seq(0, 3, 6, 12)) {
      val banded = Dedup.simHashPairs(corpus, "doc_id", "text", maxH)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      val brute = DedupTwins.simHashPairsBrute(corpus, "doc_id", "text", maxH)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      banded shouldBe brute
    }
    // 64-bit path: banded ≡ brute at the wider radii it exists for
    for (maxH <- Seq(3, 6, 10)) {
      val banded64 = Dedup.simHashPairs64(corpus, "doc_id", "text", maxH)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      val brute64 = DedupTwins.simHashPairsBrute(corpus, "doc_id", "text", maxH, bits = 64)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      banded64 shouldBe brute64
    }
    // identical docs agree on the full 64-bit signature
    val twins = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"))
      .toDF("doc_id", "text")
    Dedup.simHashPairs64(twins, "doc_id", "text", 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq shouldBe Seq((1L, 2L, 0L))
    // and the banded plans contain no cartesian/BNL join
    for (p <- Seq(Dedup.simHashPairs(corpus, "doc_id", "text", 6),
        Dedup.simHashPairs64(corpus, "doc_id", "text", 6))) {
      val plan = p.queryExecution.executedPlan.toString
      plan should not include "Cartesian"
      plan should not include "BroadcastNestedLoop"
    }
  }

  test("simhash: identical → hamming 0, disjoint → large distance") {
    val h = docs.select(col("doc_id"), DedupTwins.simHash(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    h(1L) shouldBe h(4L)
    val d = java.lang.Long.bitCount(h(1L) ^ h(3L))
    d should be > 4 // unrelated docs differ in many bits
  }

  test("dedupeAgainstCorpus ≡ exact fingerprint set difference, even at fpp 0.5") {
    val corpus = Seq(
      (100L, "alpha beta gamma"), (101L, "one two three"), (102L, "unique old"))
      .toDF("doc_id", "text")
    val arriving = Seq(
      (1L, "alpha beta gamma"),   // exact dup of 100 → dropped
      (2L, "ALPHA  beta gamma"),  // different fingerprint (inner spaces) → kept
      (3L, "one two three"),      // dup of 101 → dropped
      (4L, "fresh content here"), (5L, "more fresh content"))
      .toDF("doc_id", "text")
    val exact = arriving
      .withColumn("_fp", graft.text.TextAnalysis.fingerprint(col("text")))
      .join(corpus.select(graft.text.TextAnalysis.fingerprint(col("text"))
        .as("_fp")), Seq("_fp"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    // a deliberately terrible fpp floods the verify path with false
    // positives — the RESULT must not move (bloom is cost-only)
    Seq(0.01, 0.5).foreach { fpp =>
      val out = Dedup.dedupeAgainstCorpus(arriving, corpus, "doc_id", "text",
          expectedItems = 10L, fpp = fpp)
        .select("doc_id").collect().map(_.getLong(0)).sorted
      withClue(s"fpp=$fpp: ") { out shouldBe exact }
    }
    exact shouldBe Array(2L, 4L, 5L)
  }

  test("crossSourceDupReport keeps only clusters spanning several sources") {
    val corpus = Seq(
      // cluster {1,2}: same-source near-dups → excluded from the report
      (1L, "alpha beta gamma delta epsilon zeta", "web"),
      (2L, "alpha beta gamma delta epsilon eta", "web"),
      // cluster {3,4,5}: spans web+books → reported with label 3
      (3L, "one two three four five six seven", "web"),
      (4L, "one two three four five six eight", "books"),
      (5L, "one two three four five six nine", "books"),
      (6L, "entirely unrelated content here now", "web"))
      .toDF("doc_id", "text", "source")
    val out = Dedup.crossSourceDupReport(corpus, "doc_id", "text", "source",
        n = 3, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("label"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_sources")))
    out.toSeq shouldBe Seq((3L, 3L, 2L))
  }

  test("fuzzyDedupeAgainstCorpus drops near-dups, keeps fresh and short docs") {
    val corpus = Seq(
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "one two three four five six seven"),
      (102L, "unique old content nothing shares this"))
      .toDF("doc_id", "text")
    val arriving = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),  // exact dup of 100 → drop
      (2L, "alpha beta gamma delta epsilon eta"),   // near-dup of 100 (j=0.6) → drop
      (3L, "totally fresh arriving document text"), // no overlap → keep
      (4L, "one two three nine ten eleven twelve"), // j vs 101 = 1/9 → keep
      (5L, "xy"))                                   // too short to shingle → keep
      .toDF("doc_id", "text")
    val out = Dedup.fuzzyDedupeAgainstCorpus(arriving, corpus, "doc_id", "text",
        shingleN = 3, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    out shouldBe Array(3L, 4L, 5L)
  }

  test("fuzzyDedupeAgainstCorpus ≡ brute-force cross jaccard when recall-complete") {
    // exact dups and heavy-overlap near-dups always share every/most bands;
    // with single-token shingles the signature IS the token-set signature,
    // and these constructed pairs agree on at least one of 4 bands, so the
    // LSH path must reproduce the brute-force cross-join result exactly.
    val corpus = Seq(
      (100L, "a b c d e f g h"), (101L, "p q r s t u v w"))
      .toDF("doc_id", "text")
    val arriving = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g x"),
      (3L, "p q r s t u v w x y z zz"), (4L, "fresh new words only here now"))
      .toDF("doc_id", "text")
    val thr = 0.5
    val brute = arriving.as("n").join(corpus.as("c"),
        org.apache.spark.sql.functions.expr(
          """size(array_intersect(split(n.text, ' '), split(c.text, ' '))) /
            |CAST(size(array_union(split(n.text, ' '), split(c.text, ' ')))
            |  AS DOUBLE) > 0.5""".stripMargin))
      .select(col("n.doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val expected = arriving.select("doc_id").collect().map(_.getLong(0))
      .filterNot(brute).sorted
    val out = Dedup.fuzzyDedupeAgainstCorpus(arriving, corpus, "doc_id", "text",
        shingleN = 1, threshold = thr)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    out shouldBe expected
    // 1: j=1; 2: j=7/9; 3: j=8/12 — all > 0.5, dropped; only 4 is fresh
    expected shouldBe Array(4L)
  }

  test("fuzzyDedupeAgainstCorpus plans band-keyed joins — no pair scan") {
    val corpus = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val arriving = Seq((1L, "alpha beta gamma echo")).toDF("doc_id", "text")
    val plan = Dedup.fuzzyDedupeAgainstCorpus(arriving, corpus, "doc_id",
        "text", shingleN = 3, threshold = 0.5)
      .queryExecution.executedPlan.toString
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
  }

  test("removeNearDupesLsh ≡ exact composition at a recall-complete setting") {
    // three tight same-direction clusters + singletons: within-cluster
    // cosine ≈ 1 (every pair above threshold), clusters mutually below it.
    // Near-identical vectors produce identical hyperplane sign patterns, so
    // the 4-plane LSH is recall-complete here BY CONSTRUCTION and the scale
    // path must reproduce the exact composition bit-for-bit.
    def jitter(base: Array[Float], eps: Float): Array[Float] =
      base.zipWithIndex.map { case (x, i) => x + eps * (i + 1) }
    val a = Array(1f, 0f, 0f, 2f)
    val b = Array(-1f, 3f, 0.5f, 0f)
    val vecs = Seq(
      0L -> a, 1L -> jitter(a, 1e-3f), 2L -> jitter(a, -1e-3f),
      3L -> b, 4L -> jitter(b, 1e-3f),
      5L -> Array(0f, 0f, 1f, 0f), 6L -> Array(2f, -1f, 1f, -1f))
      .toDF("id", "vec")

    val exactPairs = graft.similarity.Similarity
      .cosineDupes(vecs, "id", "vec", 0.9).select("id_a", "id_b")
    val exact = Dedup.removeNearDupes(vecs, "id", Dedup.dupClusters(exactPairs))
      .select("id").collect().map(_.getLong(0)).sorted
    exact shouldBe Array(0L, 3L, 5L, 6L) // min-id survivor per cluster

    val lsh = Dedup.removeNearDupesLsh(vecs, "id", "vec",
        threshold = 0.9, numPlanes = 4, dim = 4)
      .select("id").collect().map(_.getLong(0)).sorted
    lsh shouldBe exact
  }

  test("semanticDedup prunes within k-means cells; cross-cell pairs survive") {
    def jitter(base: Array[Float], eps: Float): Array[Float] =
      base.zipWithIndex.map { case (x, i) => x + eps * (i + 1) }
    val a = Array(1f, 0f, 0f, 2f)
    val b = Array(-1f, 3f, 0.5f, 0f)
    // seeds are the k lowest ids — put one representative of each tight
    // cluster first so the 3 cells span the 3 directions, then the
    // near-dups (higher ids) assign into their representative's cell
    val c = Array(0f, 0f, 1f, 0f)
    val vecs = Seq(
      0L -> a, 1L -> b, 2L -> c,
      3L -> jitter(a, 1e-3f), 4L -> jitter(a, -1e-3f),
      5L -> jitter(b, 1e-3f))
      .toDF("id", "vec")
    val out = Dedup.semanticDedup(vecs, "id", "vec",
        k = 3, iters = 1, threshold = 0.9)
      .select("id").collect().map(_.getLong(0)).sorted
    out shouldBe Array(0L, 1L, 2L) // min-id survivor per tight cluster
    // cells also BOUND the pair search: with every vector in its own cell
    // (k large, well-separated seeds) nothing pairs, nothing drops
    val solo = Seq(0L -> a, 1L -> b, 2L -> c).toDF("id", "vec")
    Dedup.semanticDedup(solo, "id", "vec", k = 3, iters = 1,
        threshold = 0.1)
      .count() shouldBe 3
  }

  test("semanticDedup: zero-norm vectors never pair and always survive") {
    // cosine is undefined at norm 0 — the documented contract excludes
    // zero vectors from pairing EXPLICITLY (not via the engine's
    // divide-by-zero behavior), so they survive even among themselves and
    // never suppress (or get suppressed by) a real vector
    val z = Array(0f, 0f, 0f, 0f)
    val a = Array(1f, 0f, 0f, 2f)
    val vecs = Seq(0L -> a, 1L -> z, 2L -> z,
      3L -> a.map(_ * 2f)) // exact-direction dup of 0, pairs and drops
      .toDF("id", "vec")
    val out = Dedup.semanticDedup(vecs, "id", "vec",
        k = 2, iters = 1, threshold = 0.9)
      .select("id").collect().map(_.getLong(0)).sorted
    out shouldBe Array(0L, 1L, 2L)
  }

  test("LSH pair stage plans a bucket equi-join — never an all-pairs scan") {
    val vecs = Seq(0L -> Array(1f, 0f), 1L -> Array(0f, 1f)).toDF("id", "vec")
    val pairPlan = graft.similarity.Similarity
      .lshCosineDupes(vecs, "id", "vec", 0.5, numPlanes = 4, dim = 2)
      .queryExecution.executedPlan.toString
    pairPlan should not include "BroadcastNestedLoopJoin"
    pairPlan should not include "CartesianProduct"
    // the exact baseline DOES plan the quadratic scan — the contrast the
    // scale path exists to remove
    val exactPlan = graft.similarity.Similarity
      .cosineDupes(vecs, "id", "vec", 0.5)
      .queryExecution.executedPlan.toString
    (exactPlan.contains("BroadcastNestedLoopJoin") ||
      exactPlan.contains("CartesianProduct")) shouldBe true
  }

  test("prefixDupes: strict prefixes only, chains drop to the longest, bucket cap") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "aaaa bbbb cccc dddd"), // full doc
      (2L, "aaaa bbbb cc"),        // strict prefix of 1
      (3L, "aaaa bbbb"),           // strict prefix of 1 and 2
      (4L, "aaaa bxxx cccc"),      // shares 6-char prefix, diverges → no pair
      (5L, "aa"),                  // shorter than prefixLen → excluded
      (6L, "aaaa bbbb cccc dddd")) // equal text to 1 → exact dedup's job
      .toDF("doc_id", "text")
    val pairs = Dedup.prefixDupes(docs, "doc_id", "text", prefixLen = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs shouldBe Set((2L, 1L), (3L, 1L), (3L, 2L), (2L, 6L), (3L, 6L))
    // removal keeps the longest of each chain (and both exact twins)
    Dedup.removePrefixDupes(docs, "doc_id", "text", prefixLen = 6)
      .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe
      Set(1L, 4L, 5L, 6L)
    // a capped-out bucket produces no pairs from that bucket
    Dedup.prefixDupes(docs, "doc_id", "text", prefixLen = 6,
      maxBucketSize = 2).collect() shouldBe empty
    an[IllegalArgumentException] should be thrownBy
      Dedup.prefixDupes(docs, "doc_id", "text", prefixLen = 0)
  }

  test("dedupImpactReport: cross-group dupes attribute loss to the non-canonical holder") {
    import org.apache.spark.sql.functions.col
    // "same" exists in web (id 1, canonical) and mirror (ids 5, 6):
    // mirror loses 2 docs, web loses 0 — rates must sum with the global
    val docs = Seq(
      (1L, "same", "web"), (2L, "unique a", "web"),
      (5L, "same", "mirror"), (6L, "same", "mirror"), (7L, "unique b", "mirror"))
      .toDF("doc_id", "text", "source")
    val rep = Dedup.dedupImpactReport(docs, "doc_id", "text", Seq("source"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_removed"),
         r.getAs[Long]("n_distinct_texts"), r.getAs[Long]("dup_rate_e6"))).toMap
    rep("web") shouldBe ((2L, 0L, 2L, 0L))
    rep("mirror") shouldBe ((3L, 2L, 2L, 666666L))
    // total removed matches the global exact dedup
    val globalRemoved = docs.count() -
      Dedup.dedupeByKey(docs, "doc_id", exactKey).count()
    rep.values.map(_._2).sum shouldBe globalRemoved
    an[IllegalArgumentException] should be thrownBy
      Dedup.dedupImpactReport(docs, "doc_id", "text", Seq.empty)
  }

  test("maskDuplicateSpans: keep-first survivor, run collapse, within-doc repeats, hot cap") {
    val docs = Seq(
      (1L, "a b c d e f g h"),            // survivor copy of the shared span
      (2L, "x y a b c d e f q"),          // non-survivor: span masked
      (3L, "unique words only here now"), // untouched
      (4L, "p q r z z p q r"),            // within-doc repeat: 2nd copy masked
      (5L, "hot hot1 hot2 one"), (6L, "hot hot1 hot2 two"),
      (7L, "hot hot1 hot2 three")         // 3 copies > maxSpanFreq=2: exempt
    ).toDF("doc_id", "text")
    val out = Dedup.maskDuplicateSpans(docs, "doc_id", "text",
        k = 3, minCopies = 2, maxSpanFreq = 2)
      .select("doc_id", "n_tokens", "n_masked", "n_spans", "masked_text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    // doc1 is the (min doc, pos) survivor of every shared gram: untouched
    out(1L) shouldBe ((8L, 0L, 0L, "a b c d e f g h"))
    // doc2 shares "a b c d e f": grams at pos 3..6 all flagged, covered
    // positions 3..8 merge to ONE run replaced by ONE sentinel
    out(2L) shouldBe ((9L, 6L, 1L, "x y [DUP] q"))
    out(3L) shouldBe ((5L, 0L, 0L, "unique words only here now"))
    // within-doc repeat of "p q r": pos-1 occurrence survives, pos-6
    // occurrence masks positions 6..8
    out(4L) shouldBe ((8L, 3L, 1L, "p q r z z [DUP]"))
    // "hot hot1 hot2" has 3 copies > maxSpanFreq: stop-phrase exempt
    out(5L) shouldBe ((4L, 0L, 0L, "hot hot1 hot2 one"))
    out(6L) shouldBe ((4L, 0L, 0L, "hot hot1 hot2 two"))
    out(7L) shouldBe ((4L, 0L, 0L, "hot hot1 hot2 three"))
  }

  test("maskDuplicateSpans: disjoint repeated spans mask as separate runs") {
    val docs = Seq(
      (1L, "one two three mid four five six"),
      (2L, "one two three g1 g2 g3 g4 four five six")
    ).toDF("doc_id", "text")
    val out = Dedup.maskDuplicateSpans(docs, "doc_id", "text", k = 3)
      .select("doc_id", "n_masked", "n_spans", "masked_text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    out(1L)._3 shouldBe "one two three mid four five six"
    // doc2 repeats two disjoint 3-gram spans of doc1 → two masked runs
    out(2L) shouldBe ((6L, 2L, "[DUP] g1 g2 g3 g4 [DUP]"))
  }

  test("duplicateSpans detection is linear-shaped: no pair join, no window") {
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e")).toDF("doc_id", "text")
    val plan = Dedup.duplicateSpans(docs, "doc_id", "text", k = 3)
      .queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // survivor election is a grouped min, never a per-gram window sort
    plan should not include "WindowExec"
  }

  test("winnowPairs: shared-run guarantee, boilerplate cap, short docs out") {
    import spark.implicits._
    // k=3, w=4: any shared run of >= 6 tokens guarantees a shared
    // fingerprint. Docs 1 and 2 share exactly such a run; doc 3 is
    // unrelated; doc 4 is too short for one full window.
    val run = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, s"one two $run three"),
      (2L, s"$run different tail entirely here"),
      (3L, "completely unrelated words occupy this document body now"),
      (4L, "tiny doc here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(docs, "doc_id", "text", k = 3, w = 4,
        maxFingerprintFreq = 100, minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs shouldBe Set((1L, 2L))
    // a fingerprint shared by every doc is boilerplate - the cap drops it
    val boiler = (1L to 5L).map(i => (i, s"$run unique$i tail$i"))
      .toDF("doc_id", "text")
    Dedup.winnowPairs(boiler, "doc_id", "text", 3, 4,
      maxFingerprintFreq = 4, minShared = 1L).count() shouldBe 0L
  }

  test("winnowContamination: shared eval runs flagged, unrelated and short kept") {
    import spark.implicits._
    val evalRun = "alpha beta gamma delta epsilon zeta" // 6 = w+n-1 tokens
    val evalDf = Seq((100L, s"question text $evalRun answer text here"))
      .toDF("eid", "etext")
    val docs = Seq(
      (1L, s"leading words $evalRun trailing content words"), // leaked quote
      (2L, "completely unrelated training document body text here now"),
      (3L, "tiny doc")) // too short to fingerprint → kept
      .toDF("doc_id", "text")
    val flagged = Dedup.winnowContamination(docs, "doc_id", "text",
        evalDf, "etext", n = 3, w = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    flagged.keySet shouldBe Set(1L)
    flagged(1L)._1 should be >= 1L // at least the guaranteed shared fp
    flagged(1L)._2 should be > flagged(1L)._1 // doc has non-shared fps too
    an[IllegalArgumentException] should be thrownBy
      Dedup.winnowContamination(docs, "doc_id", "text", evalDf, "etext",
        3, 4, minShared = 0L)
  }

  test("winnowJaccardPairs: subset of the full index, equal at the guarantee") {
    import spark.implicits._
    // Near-dup pairs share LONG runs (prefix + suffix of a 12-token base
    // differing in one middle token -> every pair run >= 6 = w+n-1), so
    // the winnow candidates must find every qualifying pair - output
    // EQUALS the full-index path, jaccard values included.
    val base = (1 to 12).map(i => s"tok$i")
    val docs = (0L until 30L).map { i =>
      if (i % 3 == 0) // a 10-doc near-dup family: one substituted token
        (i, (base.take(7) ++ Seq(s"mid$i") ++ base.drop(8)).mkString(" "))
      else // singletons: unrelated vocab, no shared shingles at all
        (i, (1 to 12).map(j => s"only${i}w$j").mkString(" "))
    }.toDF("doc_id", "text")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val full = Dedup.jaccardPairs(docs, "doc_id", "text", 3,
        maxShingleFreq = 100)
      .filter(col("jaccard") > 0.5)
      .select("id_a", "id_b", "inter", "size_a", "size_b")
      .collect().map(key).toSet
    val win = Dedup.winnowJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.5, w = 4, maxFingerprintFreq = 100)
      .select("id_a", "id_b", "inter", "size_a", "size_b")
      .collect().map(key).toSet
    win shouldBe full
    full should not be empty
    // Subset always holds - even when a qualifying pair shares only
    // SCATTERED shingles (interleaved, no run >= 6): the winnow path may
    // miss it (documented recall trade) but must never invent a pair.
    val scattered = Seq(
      (100L, "a1 c1 a2 c2 a3 c3 a4 c4 a5 c5 a6 c6 a7 c7 a8 c8"),
      (101L, "a1 d1 a2 d2 a3 d3 a4 d4 a5 d5 a6 d6 a7 d7 a8 d8"))
      .toDF("doc_id", "text")
    val winScattered = Dedup.winnowJaccardPairs(scattered, "doc_id",
        "text", n = 3, threshold = 0.0, w = 4, maxFingerprintFreq = 100)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val fullScattered = Dedup.jaccardPairs(scattered, "doc_id", "text", 3)
      .filter(col("jaccard") > 0.0)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    winScattered.toSet.subsetOf(fullScattered.toSet) shouldBe true
  }
}
