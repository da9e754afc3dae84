package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.functions.col

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  // planted geometry: 0∥1 (identical direction), 2 orthogonal, 3 opposite
  private def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(2.0f, 0.0f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(-1.0f, 0.0f, 0.0f)),
    (4L, Array(1.0f, 1.0f, 0.0f)))
    .toDF("vec_id", "embedding")

  test("bruteForceTopK ranks by similarity, excludes self") {
    val top = Similarity.bruteForceTopK(vecs, vecs.where("vec_id = 0"),
      "vec_id", "embedding", k = 2).collect()
    top.map(_.getAs[Long]("neighbor_id")).toSeq shouldBe Seq(1L, 4L)
    top.head.getAs[Long]("sim_e6") shouldBe 1000000L
  }

  test("cosineDupes returns pairs above threshold") {
    val dupes = Similarity.cosineDupes(vecs, "vec_id", "embedding", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    dupes.toSeq shouldBe Seq((0L, 1L))
  }

  test("ivf: full probe equals brute force; partial probe is a subset") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where("vec_id < 5")
    val cents = Similarity.sampleCentroids(emb, "vec_id", "embedding", 8)
    cents should have length 8

    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // probing ALL buckets degenerates to exact brute force
    val full = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 3,
      cents, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    full shouldBe exact
    // probing 2 of 8 buckets returns valid (possibly fewer) neighbors drawn
    // from the probed subset
    val partial = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 3,
      cents, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    partial.length should be <= 15
    partial.map(_._1).distinct.length shouldBe 5 // every query answered
  }

  test("kMeansCentroidsExact is partition-order-independent, near the double form") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = Similarity.kMeansCentroidsExact(emb, "vec_id", "embedding",
      k = 8, iters = 2)
    // integer micro-unit sums commute: a different partitioning must land
    // on the SAME BITS — the property the double-sum variant can't offer,
    // and what makes q40's oracle replay possible
    val b = Similarity.kMeansCentroidsExact(emb.repartition(7), "vec_id",
      "embedding", k = 8, iters = 2)
    a.zip(b).foreach { case (ca, cb) => ca.toSeq shouldBe cb.toSeq }
    // quantization noise stays < 1e-6 per mean component: the trained
    // centroids track the double variant closely
    val dbl = SimilarityTwins.kMeansCentroids(emb, "vec_id", "embedding",
      k = 8, iters = 2)
    a.zip(dbl).foreach { case (ca, cd) =>
      ca.zip(cd).foreach { case (x, y) =>
        x.toDouble shouldBe y.toDouble +- 1e-4 }
    }
    all(a.map(c =>
      math.sqrt(c.map(x => x.toDouble * x.toDouble).sum))) shouldBe 1.0 +- 1e-4
  }

  test("kMeans centroids: unit-norm, objective non-decreasing, full probe still exact") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val seed = Similarity.sampleCentroids(emb, "vec_id", "embedding", 8)
    val refined = SimilarityTwins.kMeansCentroids(emb, "vec_id", "embedding",
      k = 8, iters = 2)
    refined should have length 8
    all(refined.map(c =>
      math.sqrt(c.map(x => x.toDouble * x.toDouble).sum))) shouldBe 1.0 +- 1e-4
    // spherical k-means objective: mean best-dot against the centroid set
    def objective(cents: Seq[Array[Float]]): Double = {
      import org.apache.spark.sql.functions.{avg, greatest, typedlit}
      emb.select(greatest(cents.map(c =>
          Similarity.dot(col("embedding"), typedlit(c.toSeq))): _*).as("d"))
        .agg(avg(col("d"))).head().getDouble(0)
    }
    objective(refined) should be >= objective(seed) - 1e-9
    // probe-all exactness is centroid-independent — still holds refined
    val queries = emb.where("vec_id < 3")
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 3, refined, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet shouldBe exact
  }

  test("int8 quantization: codes bounded, reconstruction within half a step") {
    val withZero = vecs.union(Seq((9L, Array(0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding"))
    val out = withZero
      .withColumn("q", SimilarityTwins.quantizeInt8(col("embedding")))
      .select(col("vec_id"), col("q.scale").as("scale"), col("q.codes").as("codes"),
        org.apache.spark.sql.functions.array_max(
          org.apache.spark.sql.functions.zip_with(
            org.apache.spark.sql.functions.transform(col("embedding"),
              x => x.cast("double")),
            SimilarityTwins.dequantizeInt8(col("q")),
            (x, d) => org.apache.spark.sql.functions.abs(x - d))).as("max_err"))
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Double]("scale"), r.getSeq[Int](2).toList,
          r.getAs[Double]("max_err"))).toMap
    // max-magnitude component always quantizes to ±127
    out(0L)._2.max shouldBe 127
    all(out.values.flatMap(_._2)) should (be >= -127 and be <= 127)
    // reconstruction error is at most half a quantization step
    out.filter(_._1 != 9L).foreach { case (_, (scale, _, err)) =>
      err should be <= scale / 2 + 1e-12
    }
    out(9L) shouldBe ((0.0, Seq(0, 0, 0), 0.0)) // zero vector is safe

    // native one-pass quantize_stats ≡ the composable HOF form
    import org.apache.spark.sql.functions.{abs, aggregate, array_max, array_min,
      call_function, lit, transform, zip_with}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cmp = emb
      .withColumn("q", SimilarityTwins.quantizeInt8(col("embedding")))
      .withColumn("nq", call_function("quantize_stats", col("embedding")))
      .select(
        col("q.scale"), col("nq.scale"),
        aggregate(col("q.codes"), lit(0L), (a, c) => a + c), col("nq.code_sum"),
        array_min(col("q.codes")).cast("long"), col("nq.code_min"),
        array_max(col("q.codes")).cast("long"), col("nq.code_max"),
        array_max(zip_with(
          transform(col("embedding"), x => x.cast("double")),
          SimilarityTwins.dequantizeInt8(col("q")),
          (x, d) => abs(x - d))), col("nq.max_err"))
      .collect()
    cmp.foreach { r =>
      r.getDouble(0) shouldBe r.getDouble(1)
      r.getLong(2) shouldBe r.getLong(3)
      r.getLong(4) shouldBe r.getLong(5)
      r.getLong(6) shouldBe r.getLong(7)
      r.getDouble(8) shouldBe r.getDouble(9)
    }
  }

  test("native lsh/centroid expressions are bit-identical to builtin forms (dim 64)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.sampleCentroids(emb, "vec_id", "embedding", 8)
    val cmp = emb.select(
      Similarity.lshBucket(col("embedding"), 4, 64).as("n_lsh"),
      SimilarityTwins.lshBucketBuiltin(col("embedding"), 4, 64).as("b_lsh"),
      Similarity.ivfBucket(col("embedding"), cents).as("n_ivf"),
      SimilarityTwins.ivfBucketBuiltin(col("embedding"), cents).as("b_ivf"),
      Similarity.topCentroids(col("embedding"), cents, 3).as("n_top"),
      SimilarityTwins.topCentroidsBuiltin(col("embedding"), cents, 3).as("b_top"))
      .collect()
    cmp should not be empty
    cmp.foreach { r =>
      r.getLong(0) shouldBe r.getLong(1)
      r.getInt(2) shouldBe r.getInt(3)
      r.getSeq[Int](4) shouldBe r.getSeq[Int](5)
    }
  }

  test("native ≡ builtin on NaN/±0.0/Inf edge vectors; equal expressions canonicalize") {
    // non-finite dots exercise the orderings the fast paths could get wrong:
    // Spark's `>=`/array_min/array_sort treat NaN as greater than everything
    // and -0.0 < 0.0 — the natives must bucket identically
    val dim = 4
    val edge = Seq(
      (0L, Array.fill(dim)(Float.NaN)),
      (1L, Array(Float.NaN, 1f, -2f, 3f)),
      (2L, Array(-0.0f, 0.0f, -0.0f, 0.0f)),
      (3L, Array(Float.PositiveInfinity, -1f, Float.NegativeInfinity, 2f)))
      .toDF("vec_id", "embedding")
    val cents = Seq(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f),
      Array(0f, 0f, -1f, 0f))
    val cmp = edge.select(
      Similarity.lshBucket(col("embedding"), 4, dim).as("n_lsh"),
      SimilarityTwins.lshBucketBuiltin(col("embedding"), 4, dim).as("b_lsh"),
      Similarity.ivfBucket(col("embedding"), cents).as("n_ivf"),
      SimilarityTwins.ivfBucketBuiltin(col("embedding"), cents).as("b_ivf"),
      Similarity.topCentroids(col("embedding"), cents, 3).as("n_top"),
      SimilarityTwins.topCentroidsBuiltin(col("embedding"), cents, 3).as("b_top"))
      .collect()
    cmp.foreach { r =>
      r.getLong(0) shouldBe r.getLong(1)
      r.getInt(2) shouldBe r.getInt(3)
      r.getSeq[Int](4) shouldBe r.getSeq[Int](5)
    }
    // value-based equals/hashCode over the centroid array: two instances
    // built from DISTINCT but equal arrays must canonicalize (enables CSE
    // when a bucketing expression is reused across plan branches)
    import graft.catalyst.{VecNearestCentroid, VecTopCentroids}
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val child = AttributeReference("embedding", ArrayType(FloatType))()
    VecNearestCentroid(child, Array(1f, 2f), 1, 2) shouldBe
      VecNearestCentroid(child, Array(1f, 2f), 1, 2)
    VecNearestCentroid(child, Array(1f, 2f), 1, 2).hashCode shouldBe
      VecNearestCentroid(child, Array(1f, 2f), 1, 2).hashCode
    VecNearestCentroid(child, Array(1f, 2f), 1, 2) should not be
      VecNearestCentroid(child, Array(1f, 3f), 1, 2)
    VecTopCentroids(child, Array(1f, 2f), 1, 2, 1) shouldBe
      VecTopCentroids(child, Array(1f, 2f), 1, 2, 1)
    VecTopCentroids(child, Array(1f, 2f), 1, 2, 1) should not be
      VecTopCentroids(child, Array(1f, 2f), 1, 2, 2)
  }

  test("native expressions codegen at production dims (1024×16 planes, k=256)") {
    // The Column-composed forms would put numPlanes×dim (16,384) element_at
    // nodes / k×dim (262,144) literal nodes into this plan; the natives are
    // O(1) nodes. CODEGEN_ONLY + fallback=false make any codegen failure
    // (e.g. the 64KB method limit) throw instead of silently interpreting.
    val dim = 1024
    val big = Seq(
      (0L, Array.tabulate(dim)(i => ((i % 7) - 3).toFloat)),
      (1L, Array.tabulate(dim)(i => ((i % 5) - 2).toFloat)))
      .toDF("vec_id", "embedding")
    val cents = (0 until 256).map(c =>
      Array.tabulate(dim)(i => (((c + i) % 11) - 5).toFloat / 10f))
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val out = big.select(
        col("vec_id"),
        Similarity.lshBucket(col("embedding"), 16, dim).as("lsh"),
        Similarity.ivfBucket(col("embedding"), cents).as("ivf"),
        Similarity.topCentroids(col("embedding"), cents, 8).as("top"))
        .collect()
      out.length shouldBe 2
      out.foreach { r =>
        r.getSeq[Int](3).length shouldBe 8
        r.getSeq[Int](3).head shouldBe r.getInt(2) // top-1 probe == assignment
      }
    } finally {
      spark.conf.unset("spark.sql.codegen.factoryMode")
      spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("centroidCosines: a centroid's own vector scores 1e6; buckets match ivfBucket") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.sampleCentroids(emb, "vec_id", "embedding", 8)
    val out = Similarity.centroidCosines(emb, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // the 8 seed vectors ARE (normalized) centroids: each must land in its
    // own bucket with cosine exactly 1 (up to e6 rounding)
    (0L until 8L).foreach { id =>
      out(id)._1 shouldBe id
      out(id)._2 shouldBe 1000000L
    }
    // every vector is bucketed and cosine is a valid cosine
    out.values.foreach { case (b, c) =>
      b should (be >= 0L and be < 8L)
      c should (be >= -1000000L and be <= 1000000L)
    }
  }

  test("pq: seed vectors encode to their own codes with zero error") {
    // dim 4, m 2, k 2: codebook = slices of vectors 0 and 1
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 2f)),
      (1L, Array(0f, 3f, 1f, 0f)),
      (2L, Array(1f, 0f, 1f, 0f)), // sub0 = seed0's, sub1 = seed1's
      (3L, Array(10f, 10f, 10f, 10f)))
      .toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebook(emb, "vec_id", "embedding", m = 2, k = 2)
    cb.length shouldBe 2
    cb(0).map(_.toSeq) shouldBe Seq(Seq(1f, 0f), Seq(0f, 3f))
    val out = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
      .orderBy("vec_id")
      .select("vec_id", "code0", "code1", "err_e6").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    out(0) shouldBe ((0L, 0L, 0L, 0L)) // seed 0: exact reconstruction
    out(1) shouldBe ((1L, 1L, 1L, 0L)) // seed 1: exact reconstruction
    // vec 2: sub0 (1,0) = seed0 sub0; sub1 (1,0) nearer seed1's (1,0) than
    // seed0's (0,2): d((1,0),(1,0))=0 vs d((1,0),(0,2))=5
    out(2) shouldBe ((2L, 0L, 1L, 0L))
    // vec 3 reconstructs imperfectly: every err strictly positive
    out(3)._4 should be > 0L
  }

  test("pq ADC: with every corpus vector a centroid, ADC ≡ exact squared L2") {
    // k = |corpus| makes each vector its own codeword → code distances ARE
    // the true subspace distances and ADC reduces to exact L2² ranking
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 1f)),
      (2L, Array(1f, 1f, 0f, 0f)),
      (3L, Array(5f, 0f, 0f, 1f)))
      .toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebook(emb, "vec_id", "embedding", m = 2, k = 4)
    val adc = Similarity.pqAdcTopK(emb, emb.where("vec_id = 0"),
      "vec_id", "embedding", k = 3, cb)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("adc_e6")))
    // exact L2² from 0: →2 is 1, →1 is 3, →3 is 17
    adc shouldBe Array((2L, 1000000L), (1L, 3000000L), (3L, 17000000L))
  }

  test("mmr: redundant near-duplicate hit is displaced by a diverse one") {
    // corpus: 1 and 2 nearly parallel (cos ≈ 1), 3 orthogonal to both.
    // plain top-3 relevance order is 1, 2, 3; MMR at λ=0.5 must demote the
    // duplicate 2 below the diverse 3.
    val corpus = Seq(
      (1L, Array(1f, 0f, 0f)),
      (2L, Array(0.999f, 0.04f, 0f)),
      (3L, Array(0f, 0f, 1f)))
      .toDF("vec_id", "embedding")
    val cands = Seq(
      (0L, 1L, 990000L), (0L, 2L, 980000L), (0L, 3L, 500000L))
      .toDF("query_id", "neighbor_id", "sim_e6")
    val out = Similarity.mmrRerank(cands, corpus, "vec_id", "embedding",
        k = 3, lambdaE6 = 500000L)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id")))
    out.map(_._2).toSeq shouldBe Seq(1L, 3L, 2L)
    // λ=1 degenerates to pure relevance order
    val rel = Similarity.mmrRerank(cands, corpus, "vec_id", "embedding",
        k = 3, lambdaE6 = 1000000L)
      .orderBy("rank").collect().map(_.getAs[Long]("neighbor_id"))
    rel.toSeq shouldBe Seq(1L, 2L, 3L)
    // k truncates the selection, per query
    Similarity.mmrRerank(cands, corpus, "vec_id", "embedding", k = 1)
      .count() shouldBe 1L
    // a candidate with no vector in the corpus snapshot keeps its
    // relevance (diversity 0) instead of silently vanishing below k
    val stale = cands.union(Seq((0L, 99L, 995000L))
      .toDF("query_id", "neighbor_id", "sim_e6"))
    val kept = Similarity.mmrRerank(stale, corpus, "vec_id", "embedding",
        k = 4).collect().map(_.getAs[Long]("neighbor_id"))
    kept should contain(99L)
    kept should have length 4
  }

  test("ivfpq: full probe ≡ plain ADC; partial probe candidates ⊆ full") {
    val emb = (0L until 12L).map { i =>
      (i, Array.tabulate(4)(d => ((i * 7 + d * 3) % 11).toFloat - 5f))
    }.toDF("vec_id", "embedding")
    val cents = Similarity.sampleCentroids(emb, "vec_id", "embedding", 4)
    val cb = Similarity.pqCodebook(emb, "vec_id", "embedding", m = 2, k = 4)
    val queries = emb.where("vec_id < 3")
    val adc = Similarity.pqAdcTopK(emb, queries, "vec_id", "embedding",
        k = 4, cb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(t => (t._1, t._3))
    val full = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
        k = 4, cents, nProbe = 4, cb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(t => (t._1, t._3))
    full shouldBe adc // nProbe = numCentroids degenerates to the ADC scan
    // partial probe returns fewer (never more) candidates, with contiguous
    // ranks from 1 per query
    val partial = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
        k = 4, cents, nProbe = 1, cb)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    partial.length should be <= adc.length
    partial.groupBy(_._1).values.foreach { rs =>
      rs.map(_._2).sorted shouldBe (1L to rs.length).toArray
    }
  }

  test("pq ADC plans a broadcast hash join on (subspace, code) — no BNLJ") {
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0f, 1f, 0f, 1f)))
      .toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebook(emb, "vec_id", "embedding", m = 2, k = 2)
    val plan = Similarity.pqAdcTopK(emb, emb, "vec_id", "embedding", k = 1, cb)
      .queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
  }

  test("bruteForceTopKDot ranks by inner product: long vector outranks closer angle") {
    // query (1,0,0): cosine prefers id 0-direction; dot prefers the LONG
    // vector along the same axis (id 1, dot=2) over diverse ones
    val top = Similarity.bruteForceTopKDot(vecs, vecs.where("vec_id = 0"),
      "vec_id", "embedding", k = 2)
      .orderBy("rank").collect()
    top.map(_.getLong(1)).toSeq shouldBe Seq(1L, 4L) // dot 2.0, then 1.0
    top.map(_.getLong(3)).toSeq shouldBe Seq(2000000L, 1000000L)
  }

  test("rrfFuse sums 1e6/(60+rank) per list and re-ranks; n_lists counts sources") {
    val listA = Seq((0L, 10L, 1L), (0L, 11L, 2L), (0L, 12L, 3L))
      .toDF("query_id", "neighbor_id", "rank")
    val listB = Seq((0L, 11L, 1L), (0L, 12L, 2L), (0L, 13L, 3L))
      .toDF("query_id", "neighbor_id", "rank")
    val fused = Similarity.rrfFuse(Seq(listA, listB), k = 4)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // 11: 1e6/62 + 1e6/61 = 16129+16393 = 32522 — consensus wins over
    // either list's top hit; 12: 1e6/63+1e6/62 = 15873+16129 = 32002
    fused.map(_._1).toSeq shouldBe Seq(11L, 12L, 10L, 13L)
    fused.head shouldBe ((11L, 1L, 32522L, 2L))
    fused(2) shouldBe ((10L, 3L, 16393L, 1L)) // single-list, rank 1 → 1e6/61
  }

  test("hardNegatives excludes same-label neighbors before ranking") {
    // labels: 0,1 share label A; 2,3,4 label B. Query 0's nearest overall
    // is 1 (identical direction) but it's a positive — the top hard
    // negative must be 4 (cos 0.707), then 2 (0.0), then 3 (-1).
    val labeled = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(2.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 1),
      (3L, Array(-1.0f, 0.0f, 0.0f), 1),
      (4L, Array(1.0f, 1.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val negs = Similarity.hardNegatives(labeled, labeled.where("vec_id = 0"),
      "vec_id", "embedding", "label", k = 3)
      .orderBy("rank").collect()
    negs.map(_.getLong(1)).toSeq shouldBe Seq(4L, 2L, 3L)
    negs.map(_.getLong(3)).toSeq shouldBe Seq(1L, 1L, 1L) // all label B
  }

  test("knnLabelAgreement votes the majority neighbor label, ties to smaller") {
    // 0 queries: neighbors 1 (label 0), 2,4 (label 1), 3 (label 1, opposite
    // direction, rank 4 — outside k=3). k=3 pool = {1:label0, 4:label1,
    // 2:label1} → majority label 1, 2 votes; true label 0 → incorrect.
    val labeled = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(2.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 1),
      (3L, Array(-1.0f, 0.0f, 0.0f), 1),
      (4L, Array(1.0f, 1.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.knnLabelAgreement(labeled, labeled.where("vec_id = 0"),
      "vec_id", "embedding", "label", k = 3).head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getBoolean(4)) shouldBe ((0L, 0L, 1L, 2L, false))
  }

  test("rrfFuse with one list degenerates to that list's order") {
    val listA = Seq((0L, 10L, 1L), (0L, 11L, 2L), (1L, 20L, 1L))
      .toDF("query_id", "neighbor_id", "rank")
    val fused = Similarity.rrfFuse(Seq(listA), k = 5)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    fused.toSeq shouldBe Seq((0L, 10L, 1L), (0L, 11L, 2L), (1L, 20L, 1L))
  }

  test("pairRecall: full overlap → 1e6, half → 500000, empty exact → -1") {
    import spark.implicits._
    val exact = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L))
      .toDF("id_a", "id_b")
    val approx = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val full = Similarity.pairRecall(exact, exact).head()
    (full.getLong(0), full.getLong(1), full.getLong(2)) shouldBe (4L, 4L, 1000000L)
    val half = Similarity.pairRecall(exact, approx).head()
    (half.getLong(0), half.getLong(1), half.getLong(2)) shouldBe (4L, 2L, 500000L)
    val none = Similarity.pairRecall(exact.limit(0), approx).head()
    none.getLong(2) shouldBe -1L // 0/0 is "nothing to recall", not 0 recall
  }

  test("topKRecall: IVF full probe recalls 1.0 per query; partial probe ≤ 1.0") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where("vec_id < 5")
    val cents = Similarity.sampleCentroids(emb, "vec_id", "embedding", 8)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 3)
    val full = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 3,
      cents, nProbe = 8)
    Similarity.topKRecall(exact, full).collect()
      .foreach(_.getAs[Long]("recall_e6") shouldBe 1000000L)
    val partial = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 3,
      cents, nProbe = 2)
    val rows = Similarity.topKRecall(exact, partial).collect()
    rows should have length 5
    rows.foreach { r =>
      r.getAs[Long]("recall_e6") should be <= 1000000L
      r.getAs[Long]("n_exact") shouldBe 3L
    }
  }

  test("rankingMetrics: hand-traced MRR/AP/hit, zero-hit and no-qrels rows") {
    // q0: rel at ranks 2 and 4 of 5, 3 relevant corpus-wide
    //   rr = 1e6 div 2 = 500000
    //   ap terms: 1·1e6 div 2 = 500000; 2·1e6 div 4 = 500000
    //   ap = 1000000 div min(3,5) = 333333
    // q1: rel set nonempty but never retrieved → ap 0, rr 0, hit 0
    // q2: no qrels at all → ap null (0/0), rr 0, hit 0
    val ranked = Seq(
      (0L, 10L, 1L), (0L, 11L, 2L), (0L, 12L, 3L), (0L, 13L, 4L),
      (0L, 14L, 5L),
      (1L, 20L, 1L), (1L, 21L, 2L),
      (2L, 30L, 1L)).toDF("query_id", "neighbor_id", "rank")
    val qrels = Seq((0L, 11L), (0L, 13L), (0L, 99L), (1L, 98L))
      .toDF("query_id", "neighbor_id")
    val rows = Similarity.rankingMetrics(ranked, qrels, k = 5)
      .orderBy("query_id").collect()
    rows.map(_.getLong(0)).toSeq shouldBe Seq(0L, 1L, 2L)
    val q0 = rows(0)
    (q0.getAs[Long]("n_rel"), q0.getAs[Long]("n_rel_found"),
      q0.getAs[Long]("first_rank"), q0.getAs[Long]("hit_at_k"),
      q0.getAs[Long]("rr_e6"), q0.getAs[Long]("ap_e6")) shouldBe
      ((3L, 2L, 2L, 1L, 500000L, 333333L))
    val q1 = rows(1)
    (q1.getAs[Long]("n_rel"), q1.getAs[Long]("n_rel_found"),
      q1.getAs[Long]("hit_at_k"), q1.getAs[Long]("rr_e6"),
      q1.getAs[Long]("ap_e6")) shouldBe ((1L, 0L, 0L, 0L, 0L))
    q1.isNullAt(q1.fieldIndex("first_rank")) shouldBe true
    val q2 = rows(2)
    q2.getAs[Long]("n_rel") shouldBe 0L
    q2.isNullAt(q2.fieldIndex("ap_e6")) shouldBe true // 0/0 undefined
  }

  test("rankingMetrics: a perfect ranking scores rr=ap=1e6 at every k") {
    val ranked = Seq((0L, 1L, 1L), (0L, 2L, 2L), (0L, 3L, 3L))
      .toDF("query_id", "neighbor_id", "rank")
    val qrels = Seq((0L, 1L), (0L, 2L), (0L, 3L))
      .toDF("query_id", "neighbor_id")
    for (k <- Seq(1, 2, 3)) {
      val r = Similarity.rankingMetrics(ranked, qrels, k).head()
      r.getAs[Long]("rr_e6") shouldBe 1000000L
      r.getAs[Long]("ap_e6") shouldBe 1000000L
      r.getAs[Long]("hit_at_k") shouldBe 1L
      r.getAs[Long]("n_rel_found") shouldBe k.toLong
    }
  }

  test("centroidDrift: identical, scaled, opposite, and one-sided groups") {
    val a = Seq(
      (1L, "same", Seq(1f, 0f, 0f)), (2L, "same", Seq(0f, 1f, 0f)),
      (3L, "scaled", Seq(1f, 2f, 0f)),
      (4L, "flip", Seq(1f, 1f, 1f)),
      (5L, "only_a", Seq(1f, 0f, 1f)))
      .toDF("id", "g", "v")
    val b = Seq(
      (6L, "same", Seq(1f, 0f, 0f)), (7L, "same", Seq(0f, 1f, 0f)),
      // same direction, 2x magnitude -> cos 1.0, mean-norm ratio a/b = 0.5
      (8L, "scaled", Seq(2f, 4f, 0f)),
      (9L, "flip", Seq(-1f, -1f, -1f)))
      .toDF("id", "g", "v")
    val out = Similarity.centroidDrift(a, b, "g", "v").collect()
      .map(r => r.getAs[String]("g") -> r).toMap
    out("same").getAs[Long]("cos_e6") shouldBe 1000000L
    out("same").getAs[Long]("norm_ratio_e6") shouldBe 1000000L
    out("same").getAs[Long]("n_a") shouldBe 2L
    out("scaled").getAs[Long]("cos_e6") shouldBe 1000000L
    out("scaled").getAs[Long]("norm_ratio_e6") shouldBe 500000L
    out("flip").getAs[Long]("cos_e6") shouldBe -1000000L
    // group absent on one side: n_b = 0, null metrics (never NaN)
    out("only_a").getAs[Long]("n_a") shouldBe 1L
    out("only_a").getAs[Long]("n_b") shouldBe 0L
    out("only_a").isNullAt(out("only_a").fieldIndex("cos_e6")) shouldBe true
  }

  test("centroidDrift: cosine compares MEANS — count imbalance is invisible") {
    // B holds the same direction twice; cos(mean, mean) must still be 1.0
    val a = Seq((1L, "g", Seq(3f, 4f))).toDF("id", "g", "v")
    val b = Seq((2L, "g", Seq(3f, 4f)), (3L, "g", Seq(3f, 4f)))
      .toDF("id", "g", "v")
    val r = Similarity.centroidDrift(a, b, "g", "v").collect().head
    r.getAs[Long]("cos_e6") shouldBe 1000000L
    r.getAs[Long]("norm_ratio_e6") shouldBe 1000000L // mean norms equal
    r.getAs[Long]("n_b") shouldBe 2L
  }

  test("lsh: identical-direction vectors share a bucket; dupes ⊆ exact") {
    val exact = Similarity.cosineDupes(vecs, "vec_id", "embedding", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshCosineDupes(vecs, "vec_id", "embedding",
      0.99, numPlanes = 4, dim = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    approx subsetOf exact shouldBe true
    approx should contain((0L, 1L)) // same direction → same sign pattern
  }

  test("rankingOverlap: exact jaccard per query, zero-overlap reported, one-sided queries dropped") {
    import spark.implicits._
    val a = Seq((1L, 10L), (1L, 11L), (2L, 20L), (3L, 30L))
      .toDF("query_id", "neighbor_id")
    val b = Seq((1L, 11L), (1L, 12L), (2L, 99L))
      .toDF("query_id", "neighbor_id") // q3 absent from b
    val out = Similarity.rankingOverlap(a, b).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_overlap"),
        r.getAs[Long]("jaccard_e6"))).toMap
    out(1L) shouldBe ((1L, 333333L)) // |{11}| / |{10,11,12}|
    out(2L) shouldBe ((0L, 0L))      // disjoint → 0 row, not a drop
    out.contains(3L) shouldBe false  // inner-join contract
  }

  test("randomProject: deterministic ±1 matrix, hand-traced fold, angle sanity") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val m = Similarity.signProjectionMatrix(4, 2, "t")
    m shouldBe Similarity.signProjectionMatrix(4, 2, "t") // pure function
    m.flatten.foreach(s => math.abs(s) shouldBe 1.0)
    m should not be Similarity.signProjectionMatrix(4, 2, "other-seed")
    // hand-trace: out_j = sequential fold of v_i * s(i,j)
    val v = Array(1.0f, 2.0f, 3.0f, 4.0f)
    val out = Seq(Tuple1(v)).toDF("vec")
      .select(Similarity.randomProject(col("vec"), m).as("p"))
      .as[Array[Float]].head()
    out.length shouldBe 2
    (0 until 2).foreach { j =>
      val expected = (0 until 4).map(i => v(i).toDouble * m(j)(i)).sum
      out(j) shouldBe expected.toFloat
    }
    // identical vectors stay identical after projection (exact-dup
    // detection survives the reduction)
    val pair = Seq((1L, v), (2L, v)).toDF("id", "vec")
      .select(col("id"), Similarity.randomProject(col("vec"), m).as("p"))
      .as[(Long, Array[Float])].collect().toMap
    pair(1L).toSeq shouldBe pair(2L).toSeq
    an[IllegalArgumentException] should be thrownBy
      Similarity.signProjectionMatrix(4, 5, "t") // outDim > dim
  }
}
