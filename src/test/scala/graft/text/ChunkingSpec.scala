package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions.col

class ChunkingSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
    (2L, "a b c")) // shorter than one chunk
    .toDF("doc_id", "text")

  test("chunking windows with overlap, keeps the partial tail") {
    val out = Chunking.chunk(docs, "doc_id", "text", chunkSize = 4, overlap = 1)
      .orderBy("doc_id", "chunk_idx").collect()
    // doc 1: starts 1,4,7,10 → 4 chunks; doc 2: one partial chunk
    out.count(_.getLong(0) == 1L) shouldBe 4
    out.filter(_.getLong(0) == 1L).map(_.getAs[String]("chunk_text")).head shouldBe
      "w1 w2 w3 w4"
    out.filter(_.getLong(0) == 1L).map(_.getAs[String]("chunk_text"))
      .apply(1) shouldBe "w4 w5 w6 w7" // overlap of 1 token
    val tail = out.filter(r => r.getLong(0) == 1L && r.getAs[Long]("chunk_idx") == 3L).head
    tail.getAs[String]("chunk_text") shouldBe "w10"
    tail.getAs[Long]("n_chunk_tokens") shouldBe 1L
    out.filter(_.getLong(0) == 2L).map(_.getAs[String]("chunk_text")).toSeq shouldBe
      Seq("a b c")
    an[IllegalArgumentException] should be thrownBy
      Chunking.chunk(docs, "doc_id", "text", chunkSize = 4, overlap = 4)
  }

  test("hash sampling is deterministic and roughly calibrated") {
    val ids = (0L until 1000L).toDF("id")
    val a = ids.filter(Chunking.hashSample(col("id"), 30)).count()
    val b = ids.filter(Chunking.hashSample(col("id"), 30)).count()
    a shouldBe b // reproducible
    a.toDouble should (be > 200.0 and be < 400.0) // ~30%
    ids.filter(Chunking.hashSample(col("id"), 0)).count() shouldBe 0
    ids.filter(Chunking.hashSample(col("id"), 100)).count() shouldBe 1000
  }

  test("stratifiedResample: upsampling replicates, 0 drops, copy indexes") {
    val docs = (1L to 100L).map(i =>
      (i, if (i <= 40) "up" else if (i <= 60) "drop" else "keep"))
      .toDF("id", "src")
    def run() = Chunking.stratifiedResample(docs, col("id"), col("src"),
      ratesPct = Map("up" -> 250, "drop" -> 0), defaultPct = 100)
    val out = run()
    val bySrc = out.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    bySrc.get("drop") shouldBe None            // rate 0 empties the stratum
    bySrc("keep") shouldBe 40L                 // 1 copy each
    bySrc("up") should (be >= 80L and be <= 120L) // 2-3 copies of 40 docs
    // replicas are distinct rows with contiguous copy indexes
    val copies = out.where("src = 'up'").groupBy("id")
      .agg(org.apache.spark.sql.functions.collect_list(col("copy")).as("cs"))
      .collect().map(_.getSeq[Long](1).sorted)
    copies.foreach(cs => cs shouldBe (0L until cs.length.toLong))
    // deterministic: a second run reproduces exactly
    run().select("id", "copy").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted shouldBe
      out.select("id", "copy").collect().map(r => (r.getLong(0), r.getLong(1)))
        .sorted
  }

  test("stratified sampling applies per-stratum rates and stays a subset") {
    val rows = (0L until 1000L).map(i =>
      (i, Seq("en", "de", "zh", "fr")(i.toInt % 4))).toDF("id", "lang")
    val rates = Map("en" -> 100, "de" -> 50, "zh" -> 0)
    val kept = rows.filter(
      Chunking.stratifiedHashSample(col("id"), col("lang"), rates, defaultPct = 10))
    val byLang = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    byLang("en") shouldBe 250 // rate 100 keeps every en row
    byLang.getOrElse("zh", 0L) shouldBe 0 // rate 0 drops the stratum
    byLang("de").toDouble should (be > 75.0 and be < 175.0) // ~50% of 250
    byLang("fr").toDouble should (be > 5.0 and be < 60.0) // default 10%
    // a stratum's kept rows are exactly the plain hashSample at its rate —
    // re-mixing rates never flips the fate of an untouched stratum
    kept.filter("lang = 'de'").select("id").collect().map(_.getLong(0)).toSet shouldBe
      rows.filter("lang = 'de'").filter(Chunking.hashSample(col("id"), 50))
        .select("id").collect().map(_.getLong(0)).toSet
    an[IllegalArgumentException] should be thrownBy
      Chunking.stratifiedHashSample(col("id"), col("lang"), Map("en" -> 101))
  }

  test("sequence packing fills bins in order with exact integer math") {
    val d = Seq(
      (1L, Seq.fill(6)("x").mkString(" ")), // 6 tokens
      (2L, Seq.fill(5)("x").mkString(" ")), // cum 11 → starts at 6 → bin 0
      (3L, Seq.fill(3)("x").mkString(" "))) // starts at 11 → bin 1
      .toDF("doc_id", "text")
    // ids < 4096 land in one shard under the default: single-stream here,
    // but the default is finite — see the default-plan test below
    val packed = Chunking.packSequences(d, "doc_id", "text", binSize = 10)
      .orderBy("doc_id").collect()
    packed.map(_.getAs[Long]("shard")).toSeq shouldBe Seq(0L, 0L, 0L)
    packed.map(_.getAs[Long]("bin")).toSeq shouldBe Seq(0L, 0L, 1L)
    val summary = Chunking.packingSummary(
      Chunking.packSequences(d, "doc_id", "text", 10), 10)
      .orderBy("bin").collect()
    summary.map(r => (r.getAs[Long]("bin"), r.getAs[Long]("docs"))).toSeq shouldBe
      Seq((0L, 2L), (1L, 1L))
    summary.head.getAs[Long]("fill_e6") shouldBe 1100000L // 11 tokens / 10
  }

  test("packing shards pack independently and the window is partitioned") {
    val d = (0L until 10L).map(i => (i, Seq.fill(4)("x").mkString(" ")))
      .toDF("doc_id", "text")
    val packed = Chunking.packSequences(d, "doc_id", "text",
      binSize = 8, docsPerShard = 5)
    // ids 0-4 → shard 0, ids 5-9 → shard 1; each shard restarts cum at 0:
    // 4-token docs pack pairwise → bins 0,0,1,1,2 per shard
    val rows = packed.orderBy("doc_id").collect()
    rows.map(_.getAs[Long]("shard")).toSeq shouldBe
      Seq(0L, 0L, 0L, 0L, 0L, 1L, 1L, 1L, 1L, 1L)
    rows.map(_.getAs[Long]("bin")).toSeq shouldBe
      Seq(0L, 0L, 1L, 1L, 2L, 0L, 0L, 1L, 1L, 2L)
    // the scale guarantee: no unpartitioned (single-task) window anywhere
    val windows = packed.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    windows should not be empty
    all(windows.map(_.partitionSpec)) should not be empty
  }

  test("DEFAULT packing plan is shard-partitioned — never a global sort") {
    // the old default (docsPerShard = 2^62) put the entire corpus in shard
    // 0: a syntactically-partitioned window that degenerates to one task at
    // scale. The finite default must (a) produce multiple shards when ids
    // span it and (b) carry a non-empty window partition spec.
    val d = Seq(100L, 4100L, 8300L).map(i => (i, "x y z"))
      .toDF("doc_id", "text")
    val packed = Chunking.packSequences(d, "doc_id", "text", binSize = 8)
    packed.select("shard").distinct().count() shouldBe 3 // 4096-id shards
    val windows = packed.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    windows should not be empty
    all(windows.map(_.partitionSpec)) should not be empty
  }

  test("hashSplit: disjoint-exhaustive, deterministic, weight-calibrated") {
    import spark.implicits._
    val keys = (0L until 1000L).toDF("id")
    val weights = Seq("train" -> 80, "val" -> 10, "test" -> 10)
    val split = keys.withColumn("split",
      Chunking.hashSplit(org.apache.spark.sql.functions.col("id"), weights))
    val counts = split.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    counts.values.sum shouldBe 1000L // exhaustive: every row gets a split
    counts("train").toDouble should be(800.0 +- 60.0) // md5 is well-mixed
    counts("val").toDouble should be(100.0 +- 40.0)
    // deterministic: a second evaluation is bit-identical
    val again = keys.withColumn("split",
      Chunking.hashSplit(org.apache.spark.sql.functions.col("id"), weights))
    split.except(again).count() shouldBe 0L
    // growing the corpus never moves an existing key between splits
    val grown = (0L until 2000L).toDF("id").withColumn("split",
      Chunking.hashSplit(org.apache.spark.sql.functions.col("id"), weights))
    grown.filter("id < 1000").except(split).count() shouldBe 0L
    an[IllegalArgumentException] should be thrownBy
      Chunking.hashSplit(org.apache.spark.sql.functions.col("id"),
        Seq("train" -> 50, "test" -> 40)) // weights must sum to 100
    // NULL key → NULL split, never the fall-through last bucket (silent
    // eval-split contamination)
    val withNull = Seq(Some(1L), None).toDF("id").withColumn("split",
      Chunking.hashSplit(org.apache.spark.sql.functions.col("id"), weights))
    withNull.filter("id IS NULL").head().isNullAt(1) shouldBe true
  }

  test("packingEfficiency: per-shard bins, overflow visibility, exact fill") {
    import spark.implicits._
    // one shard; binSize 4; token counts 3,4,2 → cum 3,7,9 → bins 0,0,1:
    // doc 1 straddles bin 0's boundary and overflows it to 7 tokens
    val docs = Seq((0L, "a b c"), (1L, "d e f g"), (2L, "h i"))
      .toDF("doc_id", "text")
    val packed = Chunking.packSequences(docs, "doc_id", "text",
      binSize = 4, docsPerShard = 100L)
    val eff = Chunking.packingEfficiency(packed, binSize = 4).head()
    eff.getAs[Long]("n_bins") shouldBe 2L
    eff.getAs[Long]("docs") shouldBe 3L
    eff.getAs[Long]("total_tokens") shouldBe 9L
    eff.getAs[Long]("max_bin_tokens") shouldBe 7L // the overflowed bin
    eff.getAs[Long]("fill_e6") shouldBe 1125000L  // 9e6 div (2*4)
  }

  test("weightedPrioritySample: deterministic, weight-monotone, plan is top-k") {
    import spark.implicits._
    // two weight tiers over the same key population: heavy rows (w=1000)
    // should dominate the sample over light rows (w=1)
    val rows = (0L until 500L).map(i => (i, if (i < 250L) 1000L else 1L))
      .toDF("id", "w")
    val out = Chunking.weightedPrioritySample(rows, col("id"), col("w"), 50)
    out.count() shouldBe 50L
    val heavy = out.filter("w = 1000").count()
    heavy.toDouble should be > 40.0 // 1000:1 weights → sample almost all heavy
    // bit-identical re-draw
    Chunking.weightedPrioritySample(rows, col("id"), col("w"), 50)
      .except(out).count() shouldBe 0L
    // growing the corpus only displaces tail rows, never reorders survivors
    val grown = (0L until 1000L).map(i => (i, if (i < 250L) 1000L else 1L))
      .toDF("id", "w")
    val out2 = Chunking.weightedPrioritySample(grown, col("id"), col("w"), 50)
      .select("id", "sample_rank").as[(Long, Long)].collect().toMap
    val ranks1 = out.select("id", "sample_rank").as[(Long, Long)].collect()
    val surviving = ranks1.filter { case (id, _) => out2.contains(id) }
    surviving.sortBy(_._2).map(_._1) shouldBe
      surviving.map(x => (x._1, out2(x._1))).sortBy(_._2).map(_._1)
    // top-k is TakeOrderedAndProject — no global Sort over the corpus
    val plan = Chunking.weightedPrioritySample(rows, col("id"), col("w"), 50)
      .queryExecution.executedPlan.toString
    plan should include("TakeOrderedAndProject")
    // non-positive weight fails loudly, not silently over-samples
    val bad = rows.withColumn("w",
      org.apache.spark.sql.functions.when(col("id") === 7L, 0L)
        .otherwise(col("w")))
    an[Exception] should be thrownBy
      Chunking.weightedPrioritySample(bad, col("id"), col("w"), 50).collect()
  }

  test("leakageSafeSplit: a near-dup cluster never straddles splits") {
    import spark.implicits._
    val docs = (0L until 200L).toDF("doc_id")
    // clusters of 3 over every 10th id: {k, k+1, k+2} labeled k
    val clusters = (0L until 200L by 10L)
      .flatMap(k => Seq((k, k), (k + 1, k), (k + 2, k)))
      .toDF("id", "label")
    val weights = Seq("train" -> 80, "val" -> 10, "test" -> 10)
    val out = Chunking.leakageSafeSplit(docs, "doc_id", clusters, weights)
    out.count() shouldBe 200L // left join: unclustered docs all kept
    // every cluster maps to exactly one split
    val perCluster = out.join(clusters, out("doc_id") === clusters("id"))
      .groupBy("label")
      .agg(org.apache.spark.sql.functions.countDistinct("split").as("n"))
      .select("n").as[Long].collect()
    all(perCluster) shouldBe 1L
    // unclustered docs split exactly as plain hashSplit would
    val plain = docs.withColumn("split",
      Chunking.hashSplit(col("doc_id"), weights))
    val clustered = clusters.select("id").as[Long].collect().toSet
    out.filter(!col("doc_id").isin(clustered.toSeq: _*))
      .except(plain.filter(!col("doc_id").isin(clustered.toSeq: _*)))
      .count() shouldBe 0L
  }

  test("stratifiedFixedSample: exact n per stratum, small strata whole, deterministic") {
    val df = ((1L to 5L).map(i => (i, "a")) :+ (6L, "b")).toDF("id", "s")
    val out = Chunking.stratifiedFixedSample(df, col("s"), col("id"), n = 2)
    val byStratum = out.collect().groupBy(_.getString(1))
    byStratum("a") should have length 2
    byStratum("b") should have length 1 // smaller than n survives whole
    byStratum("a").map(_.getAs[Long]("sample_rank")).sorted shouldBe
      Array(1L, 2L)
    // re-draw with the same salt is bit-identical
    val again = Chunking.stratifiedFixedSample(df, col("s"), col("id"), n = 2)
    out.except(again).count() shouldBe 0L
    an[IllegalArgumentException] should be thrownBy
      Chunking.stratifiedFixedSample(df, col("s"), col("id"), n = 0)
  }

  test("epochShuffle: reproducible per-epoch permutation, contiguous in-shard positions") {
    val df = (1L to 100L).toDF("id")
    val a = Chunking.epochShuffle(df, col("id"), epoch = 1, numShards = 4)
    // bit-identical re-run
    a.except(Chunking.epochShuffle(df, col("id"), 1, 4)).count() shouldBe 0L
    // a different epoch is an independent permutation
    a.except(Chunking.epochShuffle(df, col("id"), 2, 4))
      .count() should be > 0L
    val rows = a.collect()
    all(rows.map(_.getAs[Long]("shard"))) should (be >= 0L and be < 4L)
    // positions are contiguous 1..n within every shard — a gap would
    // starve a worker mid-epoch
    rows.groupBy(_.getAs[Long]("shard")).values.foreach { g =>
      g.map(_.getAs[Long]("position")).sorted.toSeq shouldBe
        (1L to g.length).toSeq
    }
    an[IllegalArgumentException] should be thrownBy
      Chunking.epochShuffle(df, col("id"), epoch = -1, numShards = 4)
  }

  test("epochShuffle windows per shard — no global single-task sort") {
    val df = (1L to 50L).toDF("id")
    val out = Chunking.epochShuffle(df, col("id"), epoch = 0, numShards = 4)
    val windows = out.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    windows should not be empty
    all(windows.map(_.partitionSpec)) should not be empty
  }

  test("sentenceSplit: boundaries consumed, empties dropped, 1-based index") {
    val docs = Seq(
      (1L, "first sentence here. second one! third?and fourth"),
      (2L, "no punctuation at all"),
      (3L, ""),
      (4L, "ends with punct. ")) // trailing split residue is whitespace-only
      .toDF("doc_id", "text")
    val out = Chunking.sentenceSplit(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getString(2), r.getLong(3))).toMap
    // "third?and fourth" does NOT split: ? lacks following whitespace
    out((1L, 1L)) shouldBe (("first sentence here", 3L))
    out((1L, 2L)) shouldBe (("second one", 2L))
    out((1L, 3L)) shouldBe (("third?and fourth", 2L))
    out((2L, 1L)) shouldBe (("no punctuation at all", 4L))
    out((4L, 1L)) shouldBe (("ends with punct", 3L))
    // empty doc contributes no sentences at all
    out.keys.map(_._1).toSet shouldBe Set(1L, 2L, 4L)
  }

  test("packBySentences: greedy fill, boundary respected, overlong own chunk") {
    val docs = Seq(
      (1L, "a b c. d e f g. h i. j"),
      (2L, "single sentence no punctuation"),
      (3L, "")).toDF("doc_id", "text")
    val out = Chunking.packBySentences(docs, "doc_id", "text", maxTokens = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getString(2), r.getLong(3), r.getLong(4))).toMap
    // 3 + 4 = 7 fits chunk 1; "h i" overflows -> chunk 2; "j" joins it
    out((1L, 1L)) shouldBe (("a b c", 3L, 1L))
    out((1L, 2L)) shouldBe (("d e f g", 4L, 1L))
    out((1L, 3L)) shouldBe (("h i", 2L, 2L))
    out((1L, 4L)) shouldBe (("j", 1L, 2L))
    out((2L, 1L)) shouldBe (("single sentence no punctuation", 4L, 1L))
    out.keys.map(_._1).toSet shouldBe Set(1L, 2L) // empty doc absent
    // a sentence longer than the budget still opens chunk 1 (its own)
    val overlong = Chunking.packBySentences(
      Seq((9L, "one two three. four")).toDF("doc_id", "text"),
      "doc_id", "text", maxTokens = 2)
      .collect().map(r => r.getLong(1) -> r.getLong(4)).toMap
    overlong shouldBe Map(1L -> 1L, 2L -> 2L)
    an[IllegalArgumentException] should be thrownBy
      Chunking.packBySentences(docs, "doc_id", "text", 0)
  }

  test("seqLenUtilization: ceil-division layout arithmetic, hand-checked") {
    // docs of 3, 10, 64 tokens at L = 8:
    //   seqs 1+2+8 = 11, slots 88, padding 88-77 = 11, util 875000
    val docs = Seq(
      (1 to 3).map(i => s"t$i").mkString(" "),
      (1 to 10).map(i => s"t$i").mkString(" "),
      (1 to 64).map(i => s"t$i").mkString(" "))
      .toDF("text")
    val out = Chunking.seqLenUtilization(docs, "text", Seq(8, 64))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    out(8L) shouldBe ((3L, 77L, 11L, 11L, 875000L))
    // L=64: seqs 1+1+1 = 3, slots 192, padding 115, util 77*1e6 div 192
    out(64L) shouldBe ((3L, 77L, 3L, 115L, 401041L))
    an[IllegalArgumentException] should be thrownBy
      Chunking.seqLenUtilization(docs, "text", Seq.empty)
    an[IllegalArgumentException] should be thrownBy
      Chunking.seqLenUtilization(docs, "text", Seq(0))
  }

  test("exactKSample: exact k, partition-invariant, salt re-draws, null keys") {
    val docs = (0L until 200L).toDF("id")
    val s1 = Chunking.exactKSample(docs, col("id"), 25, "s1")
      .select("id", "sample_rank").as[(Long, Long)].collect().sortBy(_._2)
    s1.length shouldBe 25
    s1.map(_._2).toSeq shouldBe (1L to 25L)
    // bit-identical under any partitioning — the property a reservoir lacks
    Chunking.exactKSample(docs.repartition(13), col("id"), 25, "s1")
      .select("id", "sample_rank").as[(Long, Long)].collect()
      .sortBy(_._2).toSeq shouldBe s1.toSeq
    // a different salt is an INDEPENDENT draw
    val s2 = Chunking.exactKSample(docs, col("id"), 25, "s2")
      .select("id").as[Long].collect().toSet
    s2 should not equal s1.map(_._1).toSet
    // k beyond the corpus returns everything, ranked
    Chunking.exactKSample(docs, col("id"), 500, "s1").count() shouldBe 200L
    // null keys are excluded by contract
    Chunking.exactKSample(
      Seq(Some(1L), None, Some(2L)).toDF("id"), col("id"), 10, "s1")
      .count() shouldBe 2L
    an[IllegalArgumentException] should be thrownBy
      Chunking.exactKSample(docs, col("id"), 0)
    an[IllegalArgumentException] should be thrownBy
      Chunking.exactKSample(docs, col("id"), 5, "bad|salt")
  }
}
