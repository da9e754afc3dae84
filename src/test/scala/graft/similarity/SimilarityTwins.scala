package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pure-builtin reference forms of [[Similarity]]'s native expressions and
  * of its fixed-point k-means: the specs pin `quantize_stats`,
  * `vec_lsh_bucket`, `vec_nearest_centroid`, `vec_top_centroids` and
  * [[Similarity.kMeansCentroidsExact]] against these. */
object SimilarityTwins {

  /** Symmetric int8 quantization of an embedding column: per-vector
    * scale = max|x|/127, code_i = round-half-up(x_i/scale). Rounding is
    * `floor(x + 0.5)` explicitly (identical in every engine; `round()`
    * half-way semantics differ between engines on doubles). Zero vectors
    * quantize to all-zero codes with scale 0. Returns
    * struct(scale double, codes array<int>). */
  def quantizeInt8(vecCol: Column): Column = {
    val v = transform(vecCol, x => x.cast("double"))
    val rawScale = array_max(transform(v, x => abs(x))) / lit(127.0)
    val safe = when(rawScale === 0.0, lit(1.0)).otherwise(rawScale)
    struct(
      rawScale.as("scale"),
      transform(v, x => floor(x / safe + lit(0.5)).cast("int")).as("codes"))
  }

  /** Reconstruction of a quantized vector: code_i × scale. */
  def dequantizeInt8(quantCol: Column): Column =
    transform(quantCol.getField("codes"),
      c => c.cast("double") * quantCol.getField("scale"))

  /** Deterministic pseudo-random hyperplane coefficient for (plane, dim):
    * first 4 md5 hex digits of "plane:dim" mapped to [-0.5, 0.5). Constant-
    * folded by Catalyst. */
  private def planeCoef(plane: Int, dim: Int): Column =
    (conv(substring(md5(lit(s"$plane:$dim")), 1, 4), 16, 10).cast("double")
      / lit(65536.0)) - lit(0.5)

  /** Pure-builtin fold form of [[Similarity.lshBucket]] — same planes, same
    * bit order; only at toy dims (plan size ∝ numPlanes×dim). */
  def lshBucketBuiltin(vecCol: Column, numPlanes: Int, dim: Int): Column = {
    val bits = (0 until numPlanes).map { p =>
      val d = (0 until dim).map(i =>
        element_at(vecCol, i + 1).cast("double") * planeCoef(p, i))
        .reduce(_ + _)
      when(d >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Spherical k-means with DOUBLE bucket sums: the reduction order (and so
    * the last ulp of every centroid) depends on partitioning, which
    * [[Similarity.kMeansCentroidsExact]]'s fixed-point sums avoid. */
  def kMeansCentroids(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): Seq[Array[Float]] =
    Similarity.lloyd(df, idCol, vecCol, k, iters,
      sumExpr = sum(col("x").cast("double")).as("s"),
      meanOf = r => r.getDouble(2) / r.getLong(3))

  /** Scores against every centroid as (score, centroidIdx) structs.
    * array_min over structs compares fields in order → min(-dot) = argmax
    * dot, ties to the lowest centroid index. */
  private def centroidStructs(vecCol: Column, centroids: Seq[Array[Float]]): Column =
    array(centroids.zipWithIndex.map { case (c, i) =>
      struct((-Similarity.dot(vecCol, typedlit(c.toSeq))).as("d"), lit(i).as("c"))
    }: _*)

  /** Struct-composed form of [[Similarity.ivfBucket]] — same argmax(dot)
    * with ties to the lowest index; plan size ∝ k×dim, so toy k only. */
  def ivfBucketBuiltin(vecCol: Column, centroids: Seq[Array[Float]]): Column =
    array_min(centroidStructs(vecCol, centroids)).getField("c")

  /** Struct-composed form of [[Similarity.topCentroids]]. */
  def topCentroidsBuiltin(vecCol: Column, centroids: Seq[Array[Float]],
      nProbe: Int): Column =
    transform(slice(array_sort(centroidStructs(vecCol, centroids)), 1, nProbe),
      s => s.getField("c"))
}
