package graft.similarity

import graft.ops.Scale.fanOut
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float]): brute-force
  * cosine top-k as the exact baseline, plus a random-hyperplane LSH-bucketed
  * variant as the 100 TB scale path.
  *
  * Scale notes:
  *  - Dot products use the native `vec_dot` expression
  *    (graft.catalyst.FloatVecDot, registered by GraftExtensions): one
  *    codegen'd loop per pair. Sessions must set
  *    `spark.sql.extensions=graft.catalyst.GraftExtensions`.
  *  - Norms are computed once per ROW and carried through the pair join —
  *    never recomputed per pair (3× fewer dots on a pair scan).
  *  - Brute-force: queries broadcast, corpus scanned once; the only shuffle
  *    carries (query, candidate, sim) for per-query top-k ranking. Exact,
  *    O(|Q|·|corpus|·dim) — the recall baseline.
  *  - LSH path: sign-hash against md5-derived deterministic hyperplanes
  *    (every engine/executor derives identical planes without shipping
  *    state); candidate pairs only within buckets. An IVF variant would
  *    replace the sign hash with nearest-centroid assignment; the bucket →
  *    join → rank plumbing is identical.
  *  - Determinism: sequential accumulation in double precision — results are
  *    bit-identical across engines (matches DuckDB list_dot_product), so
  *    ranks never flip between runs.
  */
object Similarity {

  /** Native codegen'd dot product (FloatVecDot). */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** Pure-builtin fold fallback — same math and accumulation order as
    * vec_dot, usable on sessions without GraftExtensions; interpreted
    * (CodegenFallback), so keep it off hot pair scans. */
  def dotFold(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Exact top-k cosine neighbors for each query vector.
    * Output: (query_id, neighbor_id, rank, sim_e6) — similarity in
    * micro-units (integer) for cross-engine-stable comparison; ranking on
    * the raw double. Self-matches excluded. */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", norm(col("q_vec")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .withColumn("c_norm", norm(col("c_vec")))
    val sims = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("sim",
        dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"),
        round(col("sim") * 1e6).cast("long").as("sim_e6"))
  }

  /** Deterministic ±1 sign matrix for [[randomProject]] — row j, entry i
    * is +1 iff the first md5 hex digit of "seed|i|j" is odd. Driver-side
    * (pure MessageDigest — no RNG state), so any engine regenerates the
    * identical matrix from the seed alone; a different seed is an
    * independent projection. */
  def signProjectionMatrix(dim: Int, outDim: Int,
      seed: String): Seq[Seq[Double]] = {
    require(dim >= 1 && outDim >= 1 && outDim <= dim,
      s"need 1 <= outDim <= dim, got dim=$dim outDim=$outDim")
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until outDim).map(j => (0 until dim).map { i =>
      md.reset()
      val d = md.digest(s"$seed|$i|$j"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if (((d(0) >> 4) & 0xf) % 2 == 1) 1.0 else -1.0
    })
  }

  /** Johnson–Lindenstrauss SIGN random projection: out_j = Σᵢ vᵢ·s(i,j)
    * with s ∈ {±1} from [[signProjectionMatrix]] — the cheap
    * dimensionality reduction that preserves pairwise angles within
    * JL distortion, run BEFORE brute-force/IVF/PQ search to cut the
    * per-comparison cost dim/outDim× (the complement of matryoshka
    * truncation q106, which needs MRL-trained embeddings; this works on
    * ANY embedding). Row-local — outDim sequential zip-folds per row,
    * zero shuffle; each sum casts to float so downstream search runs the
    * same native vec_dot path as raw embeddings. Scaling by 1/√outDim is
    * deliberately omitted: cosine is scale-invariant and the raw integer
    * ±1 sums replay exactly in the oracle. */
  def randomProject(vec: Column, matrix: Seq[Seq[Double]]): Column =
    array(matrix.map(row =>
      dotFold(vec, array(row.map(lit): _*)).cast("float")): _*)

  /** Exact top-k MAXIMUM-INNER-PRODUCT neighbors (MIPS) for each query
    * vector — the ranking retrieval systems use when embeddings are
    * trained with dot-product scoring (unnormalized: a long vector can
    * outrank a closer-angled short one, which is the point). Same
    * broadcast + per-query window shape as [[bruteForceTopK]]; score in
    * micro-units. Self-matches excluded. */
  def bruteForceTopKDot(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val sims = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("score", dot(col("q_vec"), col("c_vec")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"),
        round(col("score") * 1e6).cast("long").as("dot_e6"))
  }

  /** Hard-negative mining for contrastive training: each query's top-k
    * most-similar corpus vectors whose label DIFFERS — the near-boundary
    * negatives that make embedding models learn (random negatives are too
    * easy; same-label hits are positives, not negatives). Same broadcast +
    * per-query window shape as [[bruteForceTopK]] with the label predicate
    * pushed into the join, so disqualified pairs never reach the window. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        col(labelCol).as("query_label"))
      .withColumn("q_norm", norm(col("q_vec")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
        col(labelCol).as("neighbor_label"))
      .withColumn("c_norm", norm(col("c_vec")))
    val sims = c.join(broadcast(q),
        col("query_id") =!= col("neighbor_id") &&
          col("query_label") =!= col("neighbor_label"))
      .withColumn("sim",
        dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("query_label").cast("long").as("query_label"),
        col("neighbor_label").cast("long").as("neighbor_label"),
        col("rank").cast("long").as("rank"),
        round(col("sim") * 1e6).cast("long").as("sim_e6"))
  }

  /** kNN label-agreement probe — the standard embedding-space coherence
    * eval: predict each query's label by majority vote of its k nearest
    * corpus neighbors and report the vote. High agreement = labels cluster
    * in the space; a drop after a pipeline change (new encoder, quantizer,
    * dedup pass) is the canary. Ties break to (more votes, smaller label)
    * deterministically. Output: (vec_id, label, pred_label, n_votes,
    * correct).
    *
    * Scale shape: the neighbor search is [[bruteForceTopK]]'s exact
    * baseline (swap in the IVF/PQ paths for production corpora); the vote
    * itself is one k-bounded grouped count + a per-query window over ≤
    * `|labels|` rows — nothing beyond the candidate generator depends on
    * corpus size. */
  def knnLabelAgreement(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        col(labelCol).cast("long").as("label"))
      .withColumn("q_norm", norm(col("q_vec")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
        col(labelCol).cast("long").as("neighbor_label"))
      .withColumn("c_norm", norm(col("c_vec")))
    val sims = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("sim",
        dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
    val wSim = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    val topk = sims.withColumn("rank", row_number().over(wSim))
      .filter(col("rank") <= k)
    val votes = topk.groupBy("query_id", "label", "neighbor_label")
      .agg(count(lit(1)).as("n_votes"))
    val wVote = Window.partitionBy("query_id")
      .orderBy(col("n_votes").desc, col("neighbor_label"))
    votes.withColumn("_vr", row_number().over(wVote))
      .filter(col("_vr") === 1)
      .select(col("query_id").as("vec_id"), col("label"),
        col("neighbor_label").as("pred_label"), col("n_votes"),
        (col("label") === col("neighbor_label")).as("correct"))
  }

  /** Reciprocal-rank fusion of multiple ranked candidate lists — the
    * standard zero-tuning way to combine heterogeneous retrievers (cosine +
    * MIPS, dense + LSH, ANN + keyword): each list contributes
    * floor(10⁶ / (rrfK + rank)) points per (query, neighbor), summed across
    * lists, re-ranked per query. Integer points, so scores hash-compare
    * across engines (the classic 1/(60+r) with k=60 default, Cormack &
    * Clarke SIGIR'09). Each input needs (query_id, neighbor_id, rank)
    * columns; `n_lists` reports how many lists surfaced the neighbor.
    * Each list must hold one row per (query, neighbor) — the standard
    * ranked-retrieval contract; a list with duplicates would contribute
    * points once per occurrence (garbage in, weighted garbage out).
    *
    * Scale shape: a narrow union of k-bounded lists, ONE keyed aggregate
    * on (query, neighbor), and a per-query window whose partitions are
    * bounded by Σ list sizes (≤ lists × k rows), never corpus-sized —
    * fusion cost is independent of corpus scale by construction. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, rrfK: Long = 60L): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(k >= 1, s"k must be >= 1, got $k")
    require(rrfK >= 1L, s"rrfK must be >= 1, got $rrfK")
    val contrib = rankings.map(r => r.select(
        col("query_id").cast("long").as("query_id"),
        col("neighbor_id").cast("long").as("neighbor_id"),
        col("rank").cast("long").as("rank")))
      .reduce(_.unionByName(_))
      .withColumn("_pts", expr(s"1000000L div (${rrfK}L + rank)"))
    val fused = contrib.groupBy("query_id", "neighbor_id")
      .agg(sum(col("_pts")).as("rrf_e6"), count(lit(1)).as("n_lists"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_e6").desc, col("neighbor_id"))
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("rrf_e6"), col("n_lists"))
  }

  /** Embedding-cosine near-duplicate pairs: all (a < b) pairs with cosine
    * above `threshold`. Exact full pair scan — the LSH variant below prunes
    * the same search. */
  def cosineDupes(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double): DataFrame = {
    // fanOut (r21): the STREAM side of the nested-loop pair scan runs the
    // |N|²/2 dot sweep — one task on a single-file scan otherwise. Only
    // the stream side is fanned: the broadcast build stays a bare scan.
    val a = fanOut(df.select(col(idCol).as("id_a"), col(vecCol).as("vec_a")))
      .withColumn("norm_a", norm(col("vec_a")))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"))
      .withColumn("norm_b", norm(col("vec_b")))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim",
        dot(col("vec_a"), col("vec_b")) / (col("norm_a") * col("norm_b")))
      .filter(col("sim") > lit(threshold))
      .select(col("id_a"), col("id_b"),
        round(col("sim") * 1e6).cast("long").as("sim_e6"))
  }

  /** Sign-hash bucket key: one bit per hyperplane (sign of vec·plane).
    * Native `vec_lsh_bucket` (graft.catalyst.VecLshBucket): ONE codegen'd
    * double loop per row with the plane matrix held as expression state.
    * The Column-composed form (the spec's `lshBucketBuiltin`) is a
    * numPlanes×dim `element_at` tree — at production dims (768–1536 × 16 planes) that
    * plan is tens of thousands of nodes and trips codegen's 64KB method
    * limit into interpreted fallback; the native form is O(1) plan nodes at
    * any dim (spec-asserted bit-identical at dim 64, constructible and
    * codegen'd at dim 1024 × 16 planes). */
  def lshBucket(vecCol: Column, numPlanes: Int, dim: Int): Column =
    call_function("vec_lsh_bucket", vecCol, lit(numPlanes), lit(dim))

  // ---- IVF (inverted-file) coarse quantization --------------------------

  /** Deterministic centroid sample: the k lowest-id vectors, L2-normalized
    * driver-side (normalized centroids make argmax(dot) ≡ argmax(cosine),
    * since the query's own norm is constant across centroids). This is the
    * SEED for `kMeansCentroidsExact`, and usable alone when training cost
    * matters more than bucket balance. */
  def sampleCentroids(df: DataFrame, idCol: String, vecCol: String,
      k: Int): Seq[Array[Float]] =
    df.orderBy(col(idCol)).limit(k).select(col(vecCol)).collect().map { r =>
      val v = r.getSeq[Float](0).toArray
      val n = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum).toFloat
      if (n == 0f) v else v.map(_ / n)
    }.toSeq

  /** Spherical k-means (Lloyd) refinement of the seed centroids: assign
    * every vector to its nearest centroid (row-local codegen'd `vec_dot`
    * against broadcast-literal centroids), component-wise mean per bucket
    * ENGINE-side (posexplode → one groupBy per round), renormalize the k×dim
    * result driver-side. Only k×dim aggregate scalars ever reach the driver —
    * never row data — so each round is one scan + one keyed shuffle at any
    * corpus size. Empty buckets keep their previous centroid.
    *
    * FIXED-POINT: per-bucket component sums
    * accumulate as e6 micro-unit BIGINTs (each Float component rounds once
    * to round(x·1e6)), means are truncating integer divisions (≡ Spark
    * `div` ≡ DuckDB `//` — all toward zero; floorDiv would sit 1 below
    * the SQL replay on negative non-divisible sums), and only the final
    * normalize runs in floating point — so the trained centroids are
    * ORDER-INDEPENDENT (integer addition commutes; a repartition, a
    * speculative retry, or a different engine sums the same bucket to the
    * same bits, where the double-sum variant drifts with reduction order).
    * The micro-unit quantization perturbs each mean by < 1e-6 per
    * component — noise far below Lloyd's own seed sensitivity — and buys
    * an end-to-end replayable training loop: q40's oracle unrolls these
    * exact iterations in SQL. */
  def kMeansCentroidsExact(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): Seq[Array[Float]] =
    lloyd(df, idCol, vecCol, k, iters,
      sumExpr = sum(round(col("x").cast("double") * 1e6).cast("long")).as("s_e6"),
      meanOf = r => (r.getLong(2) / r.getLong(3)).toDouble / 1e6)

  /** The Lloyd driver: one scan + one keyed shuffle per round,
    * parameterized by the bucket-sum aggregate and the mean extraction —
    * the ONLY two points where the fixed-point form and the spec's
    * double-sum twin differ. */
  private[similarity] def lloyd(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, sumExpr: Column,
      meanOf: org.apache.spark.sql.Row => Double): Seq[Array[Float]] = {
    var cents = sampleCentroids(df, idCol, vecCol, k)
    val dim = cents.headOption.map(_.length).getOrElse(return cents)
    for (_ <- 0 until iters) {
      val sums = df.select(col(vecCol).as("v"))
        .withColumn("bucket", ivfBucket(col("v"), cents))
        .select(col("bucket"), posexplode(col("v")))
        .toDF("bucket", "pos", "x")
        .groupBy("bucket", "pos")
        .agg(sumExpr, count(lit(1)).as("n"))
        .collect()
      val next = Array.fill(k)(new Array[Double](dim))
      val filled = new Array[Boolean](k)
      sums.foreach { r =>
        val b = r.getInt(0)
        next(b)(r.getInt(1)) = meanOf(r)
        filled(b) = true
      }
      cents = cents.zipWithIndex.map { case (old, i) =>
        if (!filled(i)) old
        else {
          val m = next(i)
          val n = math.sqrt(m.map(x => x * x).sum)
          if (n == 0.0) old else m.map(x => (x / n).toFloat)
        }
      }
    }
    cents
  }

  /** The centroid matrix as ONE nested-array literal plan node (the
    * registered builders in GraftExtensions extract it to a flat float[]
    * at plan construction) — versus k×dim literal expression nodes for the
    * struct-composed form, whose plan alone crawls the analyzer at k=1024. */
  private def centroidLit(centroids: Seq[Array[Float]]): Column =
    typedlit(centroids.map(_.toSeq))

  /** IVF assignment: each vector's nearest centroid id. Native
    * `vec_nearest_centroid` (graft.catalyst.VecNearestCentroid): one
    * codegen'd k×dim loop against a flat float[] reference object — O(1)
    * plan nodes at any k (spec-asserted equal to the struct-composed form,
    * constructible and codegen'd at k=256). */
  def ivfBucket(vecCol: Column, centroids: Seq[Array[Float]]): Column =
    call_function("vec_nearest_centroid", vecCol, centroidLit(centroids))

  /** The nProbe nearest centroid indices for a query vector (descending
    * dot, ties → lower index). Native `vec_top_centroids` — one codegen'd
    * loop + a k-length sort per row, O(1) plan nodes. */
  def topCentroids(vecCol: Column, centroids: Seq[Array[Float]],
      nProbe: Int): Column =
    call_function("vec_top_centroids", vecCol, centroidLit(centroids),
      lit(nProbe))

  /** Cosine of every vector to its assigned (nearest) centroid — the
    * embedding-space QUALITY signal: vectors far from every cluster are
    * candidate noise/garbage embeddings to drop before training, and
    * per-bucket cosine distributions expose dead or overloaded centroids.
    * Row-local assignment (native `vec_nearest_centroid`) + a broadcast
    * join against the k-row centroid table — one corpus scan, no shuffle
    * beyond the join's broadcast. Output: (id, bucket, centroid_cos_e6). */
  def centroidCosines(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Array[Float]]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val centDf = centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toDF("bucket", "cent")
    // null vectors are dropped EXPLICITLY (they have no bucket — the inner
    // join would drop them anyway, silently); a zero-norm vector reports a
    // null cosine instead of NaN (0/0), which round+cast would otherwise
    // turn into engine-divergent garbage
    val vNorm = norm(col("_v"))
    val cNorm = norm(col("cent"))
    df.select(col(idCol), col(vecCol).as("_v"))
      .filter(col("_v").isNotNull)
      .withColumn("bucket", ivfBucket(col("_v"), centroids))
      .join(broadcast(centDf), "bucket")
      .select(col(idCol), col("bucket").cast("long").as("bucket"),
        when(vNorm === 0 || cNorm === 0, lit(null))
          .otherwise(round(dot(col("_v"), col("cent")) / (vNorm * cNorm) * 1e6))
          .cast("long").as("centroid_cos_e6"))
  }

  /** Embedding centroid DRIFT between two corpus snapshots — the canary
    * that fires when an encoder upgrade, a quantizer change, or a data-mix
    * shift moves a stratum's embedding mass: per group (label, domain,
    * language …), the cosine between snapshot A's and snapshot B's mean
    * vectors, plus the mean-norm ratio (direction drift and magnitude
    * drift separate — a re-scaled encoder keeps cosine 1.0 but moves the
    * ratio). Downstream ANN indexes (IVF centroids, PQ codebooks, LSH
    * planes) are trained on the OLD geometry; a low group cosine says
    * retrain before recall quietly rots.
    *
    * Determinism: per-(group, dim) sums accumulate as e6 micro-unit
    * BIGINTs (exact, order-free — the kMeansCentroidsExact contract), and
    * cosine is scale-invariant, so cos(mean_a, mean_b) IS cos(sum_a,
    * sum_b) — counts never divide anything. The final cosine folds the
    * exact integer sums in index order as doubles (the vec_dot ≡
    * list_dot_product sequential-fold contract), so the output
    * hash-compares. BIGINT bound: |sum_e6| < n·1e6·max|x| and the fold's
    * integer→double squares stay exact below 2^53 — at larger scales,
    * shift the micro-unit down (e3) per the linearTrend overflow contract.
    *
    * Scale shape: one grouped sum per side in (group × dim) space —
    * map-side partials, dim is fixed and small; the dim-space full-outer
    * join + per-group array rebuild touch |groups|·dim rows, never corpus
    * rows. Groups present on one side only report a null cosine with the
    * other side's n = 0 (zero-norm guard — never NaN), the
    * centroidCosines posture.
    *
    * Output: (group, n_a, n_b, cos_e6, norm_ratio_e6). */
  def centroidDrift(dfA: DataFrame, dfB: DataFrame, groupCol: String,
      vecCol: String): DataFrame = {
    def sums(df: DataFrame, side: String) =
      df.filter(col(vecCol).isNotNull)
        .select(col(groupCol).as("g"), posexplode(col(vecCol)).as(Seq("pos", "x")))
        .groupBy("g", "pos")
        .agg(sum(round(col("x").cast("double") * 1e6).cast("long")).as(s"s_$side"),
          count(lit(1)).as(s"n_$side"))
    val joined = sums(dfA, "a").join(sums(dfB, "b"), Seq("g", "pos"), "full_outer")
    val perGroup = joined.groupBy("g")
      .agg(
        max(coalesce(col("n_a"), lit(0L))).as("n_a"),
        max(coalesce(col("n_b"), lit(0L))).as("n_b"),
        transform(array_sort(collect_list(struct(col("pos"),
          coalesce(col("s_a"), lit(0L)).as("s")))),
          s => s.getField("s").cast("double")).as("va"),
        transform(array_sort(collect_list(struct(col("pos"),
          coalesce(col("s_b"), lit(0L)).as("s")))),
          s => s.getField("s").cast("double")).as("vb"))
    val normA = sqrt(dotFold(col("va"), col("va")))
    val normB = sqrt(dotFold(col("vb"), col("vb")))
    perGroup.select(
      col("g").as(groupCol), col("n_a"), col("n_b"),
      when(normA === 0 || normB === 0, lit(null))
        .otherwise(round(dotFold(col("va"), col("vb")) / (normA * normB) * 1e6))
        .cast("long").as("cos_e6"),
      // mean-norm ratio: (||sum_a||/n_a) / (||sum_b||/n_b)
      when(normA === 0 || normB === 0, lit(null))
        .otherwise(round(normA * col("n_b").cast("double")
          / (normB * col("n_a").cast("double")) * 1e6))
        .cast("long").as("norm_ratio_e6"))
  }

  /** IVF top-k: corpus is bucketed by nearest centroid ONCE; each query
    * probes its `nProbe` nearest centroid buckets. nProbe = numCentroids
    * degenerates to exact brute force (the recall-1.0 bound the spec
    * asserts); small nProbe trades recall for a corpus/numCentroids-sized
    * candidate set — the 100 TB path, since the bucket join shuffles only
    * bucket ids and the probed fraction of the corpus. */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Seq[Array[Float]],
      nProbe: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .withColumn("bucket", ivfBucket(col("c_vec"), centroids))
      .withColumn("c_norm", norm(col("c_vec")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("bucket",
        explode(topCentroids(col("q_vec"), centroids, nProbe)))
      .withColumn("q_norm", norm(col("q_vec")))
    val sims = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim",
        dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"),
        round(col("sim") * 1e6).cast("long").as("sim_e6"))
  }

  // ---- Product quantization (PQ) ----------------------------------------

  /** PQ codebook: `m` subspaces × `k` centroids per subspace, seeded
    * deterministically from the k lowest-id vectors' subvectors — the PQ
    * analogue of `sampleCentroids` (refine per-subspace with Lloyd when
    * bucket balance matters more than SQL replayability; the encode/ADC
    * plumbing below is codebook-agnostic). Shape: codebook(s)(j) = centroid
    * j of subspace s.
    *
    * Behavior change (round 9): a frame with FEWER than `k` rows now
    * throws instead of silently proceeding with a smaller codebook —
    * callers that relied on degraded-k operation must pass a smaller `k`
    * (codes would otherwise occupy a narrower range than the caller sized
    * downstream structures for, with no signal). */
  def pqCodebook(df: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int): Seq[Seq[Array[Float]]] = {
    val seeds = df.orderBy(col(idCol)).limit(k).select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray)
    require(seeds.length == k,
      s"pqCodebook needs >= k rows to seed k=$k centroids per subspace, " +
        s"got ${seeds.length} — codes would occupy a smaller range than " +
        "requested with no signal to the caller")
    val dim = seeds.head.length
    require(m >= 1 && dim % m == 0, s"dim $dim must split into $m subspaces")
    val sub = dim / m
    (0 until m).map(s => seeds.toSeq.map(_.slice(s * sub, (s + 1) * sub)))
  }

  /** PQ encode — the m-byte-per-vector compression that makes a 100 TB
    * embedding corpus ADC-scannable: per subspace, the L2-nearest centroid
    * index (ties to the lowest index) plus the squared reconstruction error
    * in micro-units. Distances use ‖x−c‖² = x·x − 2·x·c + c·c with c·c a
    * driver-side double constant per centroid — x·x is computed once per
    * subspace instead of once per (subspace, centroid), and every arithmetic
    * step replays exactly in SQL (same left-assoc double ops). Row-local,
    * zero shuffle. Output: (id…, code0..code{m-1}, err_e6) with err_e6 the
    * INTEGER sum of per-subspace micro-unit errors (order-free, so the total
    * hash-compares across engines). */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      codebook: Seq[Seq[Array[Float]]]): DataFrame = {
    val m = codebook.length
    val sub = codebook.head.head.length
    // all input columns ride through (bucket ids, metadata…): only the
    // temp columns are dropped at the end
    val base = (0 until m).foldLeft(df.withColumn("_v", col(vecCol))) {
      case (d, s) =>
        d.withColumn(s"_x$s", slice(col("_v"), s * sub + 1, sub))
          .withColumn(s"_xx$s", dot(col(s"_x$s"), col(s"_x$s")))
    }
    val scored = (0 until m).foldLeft(base) { case (d, s) =>
      val cands = codebook(s).zipWithIndex.map { case (c, j) =>
        val cc = c.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble)
        struct(
          (col(s"_xx$s") - lit(2.0) * dot(col(s"_x$s"), typedlit(c.toSeq))
            + lit(cc)).as("d"),
          lit(j).as("c"))
      }
      d.withColumn(s"_best$s", array_min(array(cands: _*)))
    }
    val out = (0 until m).foldLeft(scored) { case (d, s) =>
      d.withColumn(s"code$s", col(s"_best$s").getField("c").cast("long"))
        .withColumn(s"_err$s",
          round(col(s"_best$s").getField("d") * lit(1e6)).cast("long"))
    }
    out
      .withColumn("err_e6",
        (0 until m).map(s => col(s"_err$s")).reduce(_ + _))
      .drop("_v")
      .drop((0 until m).flatMap(s =>
        Seq(s"_x$s", s"_xx$s", s"_best$s", s"_err$s")): _*)
  }

  /** Per-query PQ distance table, long format (query_id, s, code, d_e6):
    * exact query-subvector ↔ centroid squared distances as micro-unit
    * ints — |Q|·m·k rows, the broadcast side of every ADC scan. */
  private def pqQueryTable(queries: DataFrame, idCol: String, vecCol: String,
      codebook: Seq[Seq[Array[Float]]]): DataFrame = {
    val m = codebook.length
    val sub = codebook.head.head.length
    val qBase = (0 until m).foldLeft(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("_v"))) {
      case (d, s) =>
        d.withColumn(s"_x$s", slice(col("_v"), s * sub + 1, sub))
          .withColumn(s"_xx$s", dot(col(s"_x$s"), col(s"_x$s")))
    }
    val tableCols = (0 until m).flatMap { s =>
      codebook(s).zipWithIndex.map { case (c, j) =>
        val cc = c.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble)
        struct(lit(s).as("s"), lit(j).cast("long").as("code"),
          round((col(s"_xx$s") - lit(2.0) * dot(col(s"_x$s"), typedlit(c.toSeq))
            + lit(cc)) * lit(1e6)).cast("long").as("d_e6"))
      }
    }
    qBase
      .select(col("query_id"), explode(array(tableCols: _*)).as("t"))
      .select(col("query_id"), col("t.s").as("s"), col("t.code").as("code"),
        col("t.d_e6").as("d_e6"))
  }

  /** PQ codes in long format (…, s, code), one row per subspace. */
  private def pqCodesLong(corpus: DataFrame, idCol: String, vecCol: String,
      codebook: Seq[Seq[Array[Float]]], extraCols: Seq[String] = Nil): DataFrame = {
    val m = codebook.length
    pqEncode(corpus, idCol, vecCol, codebook)
      .select(col(idCol).as("neighbor_id") +: extraCols.map(col) :+ posexplode(
        array((0 until m).map(s => col(s"code$s")): _*)): _*)
      .toDF(Seq("neighbor_id") ++ extraCols ++ Seq("s", "code"): _*)
  }

  /** The rank-and-trim tail shared by the ADC scans. */
  private def adcRank(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_e6"), col("neighbor_id"))
    scored
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum(col("d_e6")).as("adc_e6"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), col("adc_e6"))
  }

  /** PQ asymmetric-distance (ADC) top-k: queries stay exact, the corpus is
    * its PQ codes — the memory shape that lets one executor scan millions of
    * candidates. Each query precomputes an m×k table of exact
    * query-subvector ↔ centroid distances (micro-unit ints); a candidate's
    * approximate distance is the INTEGER sum of its codes' table entries, so
    * ranking is deterministic across engines (ties to the lower neighbor
    * id). Shuffle shape: codes explode to m rows per corpus vector, join a
    * BROADCAST |Q|·m·k table on (subspace, code), then one grouped sum —
    * linear in the corpus, no pairwise vector math anywhere. */
  def pqAdcTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, codebook: Seq[Seq[Array[Float]]]): DataFrame = {
    val codes = pqCodesLong(corpus, idCol, vecCol, codebook)
    val qTable = pqQueryTable(queries, idCol, vecCol, codebook)
    adcRank(codes.join(broadcast(qTable), Seq("s", "code")), k)
  }

  /** IVFPQ top-k — the production ANN composition: IVF coarse quantization
    * prunes the corpus to each query's nProbe nearest centroid buckets,
    * then PQ ADC scores ONLY those candidates from their codes — no exact
    * vector math ever touches the corpus at query time. nProbe =
    * numCentroids degenerates to `pqAdcTopK` exactly (spec-asserted), the
    * recall ceiling of the PQ approximation; both prune levers (nProbe for
    * candidates, m×k for code resolution) compose independently.
    *
    * Scale shape: codes + bucket id per corpus row (row-local), candidates
    * from a bucket equi-join against the broadcast |Q|·nProbe probe set,
    * ADC from the broadcast |Q|·m·k table, one grouped integer sum — the
    * corpus never shuffles on anything wider than its bucket id. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, centroids: Seq[Array[Float]], nProbe: Int,
      codebook: Seq[Seq[Array[Float]]]): DataFrame = {
    val codes = pqCodesLong(
      corpus.select(col(idCol), col(vecCol))
        .withColumn("bucket", ivfBucket(col(vecCol), centroids)),
      idCol, vecCol, codebook, extraCols = Seq("bucket"))
    val qProbes = queries
      .select(col(idCol).as("query_id"),
        explode(topCentroids(col(vecCol), centroids, nProbe)).as("bucket"))
    val qTable = pqQueryTable(queries, idCol, vecCol, codebook)
    adcRank(
      codes.join(broadcast(qProbes), Seq("bucket"))
        .join(broadcast(qTable), Seq("query_id", "s", "code")),
      k)
  }

  /** One MMR-selected row: rank is the greedy selection order. */
  final case class MmrResult(query_id: Long, neighbor_id: Long, rank: Long,
      mmr_e6: Long)

  /** Maximal-marginal-relevance re-rank of a top-k candidate set: greedily
    * pick the candidate maximizing λ·relevance − (1−λ)·max-cosine-to-an-
    * already-picked candidate — the standard redundancy-pruning step between
    * ANN retrieval and a RAG/context window, so near-duplicate hits don't
    * crowd out coverage. Relevance is the candidate frame's own `sim_e6`
    * (bruteForceTopK / ivfTopK / pqAdcTopK shape, long ids); diversity
    * cosines come from `corpus` vectors.
    *
    * The greedy loop is inherently sequential PER QUERY, so it runs inside
    * `mapGroups` over the query key — never on the driver: each group is one
    * candidate pool (≤ the generator's k, typically ≤ a few hundred rows),
    * the k·|pool| dot products are plain JVM float math, and queries
    * parallelize across the cluster. All scoring is integer micro-units
    * (λ in e6, integral-divided — truncation, ≡ Spark `div`/DuckDB `//`),
    * ties to the lower neighbor id —
    * deterministic at any parallelism. */
  def mmrRerank(candidates: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, lambdaE6: Long = 500000L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(lambdaE6 >= 0L && lambdaE6 <= 1000000L,
      s"lambdaE6 must be in [0, 1e6], got $lambdaE6")
    val spark = candidates.sparkSession
    import spark.implicits._
    // LEFT join: a candidate whose id has no vector in `corpus` (re-rank
    // against a newer/filtered snapshot) keeps its relevance and simply
    // contributes no diversity signal (empty vector → cosine 0) — an inner
    // join would silently shrink a query's results below k, or drop the
    // query entirely
    val withVecs = candidates
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        col("sim_e6").cast("long"))
      .join(corpus.select(col(idCol).cast("long").as("neighbor_id"),
        col(vecCol).as("_vec")), Seq("neighbor_id"), "left")
      .as[(Long, Long, Long, Option[Seq[Float]])]
    // the join moved its key first: tuples are (neighbor_id, query_id,
    // sim_e6, vec) — group by the QUERY id and run the greedy loop per pool
    val pools = withVecs.groupByKey(_._2)
    pools.flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Long, Option[Seq[Float]])]) =>
      // bounded by the candidate generator's k — materializing the pool is
      // the operator's contract
      val pool = it.map { case (nid, _, rel, vec) =>
        (nid, rel, vec.fold(Array.empty[Float])(_.toArray))
      }.toArray.sortBy(p => (-p._2, p._1)) // deterministic scan order
      def cosE6(a: Array[Float], b: Array[Float]): Long = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        val n = math.min(a.length, b.length)
        while (i < n) {
          dot += a(i).toDouble * b(i).toDouble
          na += a(i).toDouble * a(i).toDouble
          nb += b(i).toDouble * b(i).toDouble
          i += 1
        }
        if (na == 0.0 || nb == 0.0) 0L
        else {
          // HALF-AWAY-FROM-ZERO, not math.round (which is half-UP): a
          // negative cosine landing exactly on a .5 micro-unit must round
          // the same way as Spark SQL round() and DuckDB round() — the
          // q82 oracle replays this exact value, and a one-unit divergence
          // could flip a greedy argmax tie
          val v = dot / (math.sqrt(na) * math.sqrt(nb)) * 1e6
          if (v >= 0) math.round(v) else -math.round(-v)
        }
      }
      val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
      val out = scala.collection.mutable.ArrayBuffer.empty[MmrResult]
      val taken = new Array[Boolean](pool.length)
      while (selected.length < math.min(k, pool.length)) {
        var bestIdx = -1
        var bestScore = Long.MinValue
        var i = 0
        while (i < pool.length) {
          if (!taken(i)) {
            val maxDiv =
              if (selected.isEmpty) 0L
              else selected.map(s => cosE6(pool(i)._3, pool(s)._3)).max
            // TRUNCATING Long `/`, deliberately: "integer division" in
            // this library means truncation toward zero — what Spark SQL
            // `div` and DuckDB `//` (which replays this score in the q82
            // oracle) both do. floorDiv would sit 1 below the replay on
            // every negative non-divisible score (negative sim_e6 or
            // diversity-dominated picks) and could flip a tie one
            // engine's way only.
            val score =
              (lambdaE6 * pool(i)._2 - (1000000L - lambdaE6) * maxDiv) /
                1000000L
            // strict > plus ascending (-rel, id) scan order = ties to the
            // higher-relevance then lower-id candidate
            if (score > bestScore) { bestScore = score; bestIdx = i }
          }
          i += 1
        }
        taken(bestIdx) = true
        selected += bestIdx
        out += MmrResult(qid, pool(bestIdx)._1, selected.length.toLong,
          bestScore)
      }
      out.iterator
    }.toDF()
  }

  /** Pair-recall report of an approximate near-dup pair set against the
    * exact baseline: (n_exact, n_found, recall_e6) as one row. For
    * verified-candidate generators (every emitted pair carries its exact
    * similarity — lshCosineDupes, lshJaccardPairs) precision is 1 by
    * construction, so recall is THE quality knob — the number a curation
    * pipeline reads to size numPlanes/bands before a full-corpus run.
    * Evaluation-time operator: the exact side is inherently quadratic, so
    * at scale run it on a hash-sampled slice (recall estimation does not
    * need the full corpus). recall_e6 is -1 when there are no exact pairs
    * to recall (0/0 — distinguishable from genuine 0 recall). */
  def pairRecall(exact: DataFrame, approx: DataFrame): DataFrame = {
    val e = exact.select("id_a", "id_b")
    val a = approx.select("id_a", "id_b").withColumn("_found", lit(1))
    e.join(a, Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_exact"), count(col("_found")).as("n_found"))
      .withColumn("recall_e6",
        when(col("n_exact") === 0, lit(-1L))
          .otherwise(round(col("n_found").cast("double") /
            col("n_exact").cast("double") * 1e6).cast("long")))
  }

  /** Recall@k of an approximate top-k result against the exact baseline:
    * one row PER QUERY with |approx ∩ exact| / |exact| — the IVF/ANN twin
    * of `pairRecall`, sizing nProbe/numCentroids before a full-corpus run
    * (aggregate the rows for a corpus mean; the per-query distribution is
    * what exposes pathological buckets a mean would hide). Both inputs are
    * (query_id, neighbor_id, rank, …) frames (bruteForceTopK / ivfTopK
    * shapes). Rank agreement is NOT required — recall counts membership,
    * the metric ANN evaluation actually uses. */
  def topKRecall(exact: DataFrame, approx: DataFrame): DataFrame = {
    val e = exact.select(col("query_id"), col("neighbor_id"))
    val a = approx.select(col("query_id"), col("neighbor_id"))
      .withColumn("_found", lit(1))
    e.join(a, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"), count(col("_found")).as("n_found"))
      .withColumn("recall_e6",
        round(col("n_found").cast("double") /
          col("n_exact").cast("double") * 1e6).cast("long"))
  }

  /** Per-query overlap between two (query_id, neighbor_id) rankings —
    * the modality-agreement diagnostic behind hybrid retrieval: near-1
    * Jaccard means the second ranker is redundant, near-0 means the two
    * see different corpora slices and fusion (rrfFuse) has something to
    * fuse. Only queries present in BOTH rankings report (an id absent
    * from one modality has no agreement to measure — the inner-join
    * contract, deliberate); overlap of 0 reports as a 0-row, not a drop.
    * Counts and the floor-division Jaccard are exact integers.
    *
    * Scale shape: two |queries·k|-sized grouped counts + one keyed join —
    * everything downstream of the rankers is candidate-sized. */
  def rankingOverlap(a: DataFrame, b: DataFrame): DataFrame = {
    val ja = a.select(col("query_id"), col("neighbor_id"))
    val jb = b.select(col("query_id"), col("neighbor_id"))
    val na = ja.groupBy("query_id").agg(count(lit(1)).as("n_a"))
    val nb = jb.groupBy("query_id").agg(count(lit(1)).as("n_b"))
    val inter = ja.join(jb, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_overlap"))
    na.join(nb, "query_id")
      .join(inter, Seq("query_id"), "left")
      .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
      .withColumn("jaccard_e6",
        expr("n_overlap * 1000000L div (n_a + n_b - n_overlap)"))
  }

  /** Per-query ranking-quality metrics — MRR, AP@k, hit@k — of a top-k
    * retrieval result against a relevance set: the evaluation report a
    * retrieval pipeline reads after [[topKRecall]] says WHAT was found, to
    * learn WHERE in the ranking it was found (recall is rank-blind; a
    * system that buries every relevant hit at rank k has perfect recall
    * and useless MRR).
    *
    * Inputs: `ranked` is a (query_id, neighbor_id, rank) frame
    * (bruteForceTopK / ivfTopK shapes — rank must be a total order per
    * query, 1-based); `qrels` is the (query_id, neighbor_id) relevance
    * label set. Rows of `ranked` past rank k are ignored, so one ranking
    * can be evaluated at several cutoffs.
    *
    * Exact-integer contract: rr_e6 = 1e6 div first_rank;
    * ap_e6 = (Σ over hits of (hits_so_far·1e6 div rank)) div min(n_rel, k)
    * — each precision term floors to e6 BEFORE the sum (part of the
    * metric's definition here, mirrored exactly by the oracle), so the
    * report hash-compares across engines. A query with no relevant
    * neighbors anywhere reports ap_e6 null (0/0 is undefined, not 0 — the
    * shareOfParent convention); a query whose relevant set simply never
    * made top-k reports ap_e6 0 and hit_at_k 0.
    *
    * Scale shape: one |queries·k|-sized keyed join against the relevance
    * set, one per-query window over ≤ k rows, one grouped reduce — every
    * frame downstream of the ranker is candidate-sized, and n_rel is a
    * grouped count on qrels (never a corpus scan). */
  def rankingMetrics(ranked: DataFrame, qrels: DataFrame, k: Int): DataFrame = {
    val r = ranked.select(col("query_id"), col("neighbor_id"),
      col("rank").cast("long").as("rank"))
      .filter(col("rank") <= k)
    val rel = qrels.select(col("query_id"), col("neighbor_id")).distinct()
    val nRel = rel.groupBy("query_id").agg(count(lit(1)).as("n_rel"))
    val wOrd = Window.partitionBy("query_id").orderBy(col("rank"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perQuery = r.join(rel, Seq("query_id", "neighbor_id"))
      .withColumn("hits_so_far", count(lit(1)).over(wOrd))
      .withColumn("term_e6", expr("hits_so_far * 1000000L div rank"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_rel_found"),
        min(col("rank")).as("first_rank"),
        sum(col("term_e6")).as("_terms"))
    r.select("query_id").distinct()
      .join(nRel, Seq("query_id"), "left")
      .join(perQuery, Seq("query_id"), "left")
      .withColumn("n_rel", coalesce(col("n_rel"), lit(0L)))
      .withColumn("n_rel_found", coalesce(col("n_rel_found"), lit(0L)))
      .withColumn("hit_at_k", (col("n_rel_found") > 0).cast("long"))
      .withColumn("rr_e6", when(col("first_rank").isNull, lit(0L))
        .otherwise(expr("1000000L div first_rank")))
      .withColumn("ap_e6", when(col("n_rel") === 0, lit(null).cast("long"))
        .otherwise(expr(
          s"coalesce(_terms, 0L) div least(n_rel, ${k.toLong}L)")))
      .select(col("query_id"), col("n_rel"), col("n_rel_found"),
        col("first_rank"), col("hit_at_k"), col("rr_e6"), col("ap_e6"))
  }

  /** LSH-bucketed approximate near-dup pairs: sign-hash each vector into a
    * bucket, then run the exact pair scan only within buckets. Recall is
    * tunable via numPlanes (fewer planes → bigger buckets → higher recall,
    * more compute): the within-bucket scan (`Blocking.cosinePairs`) is
    * quadratic in bucket size. */
  def lshCosineDupes(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      numPlanes: Int,
      dim: Int): DataFrame = {
    val bucketed = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("bucket", lshBucket(col("vec"), numPlanes, dim))
      .withColumn("nrm", norm(col("vec")))
    graft.ops.Blocking.cosinePairs(bucketed, "bucket", threshold)
      .select(col("id_a"), col("id_b"),
        round(col("sim") * 1e6).cast("long").as("sim_e6"))
  }
}
