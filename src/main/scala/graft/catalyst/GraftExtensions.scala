package graft.catalyst

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extensions registering graft's native expressions — the
  * documented plug-in path (`spark.sql.extensions=graft.catalyst.
  * GraftExtensions`), so `vec_dot` is callable from SQL text and
  * `call_function` alike on any session of the cluster. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Evaluate a foldable int argument at plan-construction time. */
  private def litInt(e: Expression, name: String): Int =
    if (e.foldable) e.eval(null).toString.toInt
    else throw new IllegalArgumentException(s"$name must be a literal")

  /** Evaluate a foldable array<array<float>> centroid literal into a flat
    * row-major float matrix — ONE reference object in the plan instead of
    * k×dim literal nodes. */
  private def litCentroids(e: Expression): (Array[Float], Int, Int) = {
    require(e.foldable, "centroids must be a literal array<array<float>>")
    val ad = e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val k = ad.numElements()
    require(k >= 1, "centroids must be non-empty")
    val rows = (0 until k).map(i => ad.getArray(i).toFloatArray())
    val dim = rows.head.length
    require(rows.forall(_.length == dim), "centroids must share one dim")
    val flat = new Array[Float](k * dim)
    rows.zipWithIndex.foreach { case (r, i) =>
      System.arraycopy(r, 0, flat, i * dim, dim)
    }
    (flat, k, dim)
  }

  override def apply(extensions: SparkSessionExtensions): Unit = {
    /** Register SQL function `name`, built by `build` from exactly `arity`
      * arguments; `usage` completes the arity error "<name> takes …". */
    def register(name: String, cls: Class[_ <: Expression], arity: Int,
        usage: String)(build: Seq[Expression] => Expression): Unit =
      extensions.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        (children: Seq[Expression]) => {
          require(children.length == arity, s"$name takes $usage")
          build(children)
        }))

    register("vec_dot", classOf[FloatVecDot], 2, "exactly 2 arguments")(c =>
      FloatVecDot(c(0), c(1)))
    register("minhash_sigs", classOf[MinHashSigs], 2,
      "(array<bigint>, numHashes literal)")(c =>
      MinHashSigs(c(0), litInt(c(1), "minhash_sigs numHashes")))
    register("simhash32", classOf[SimHash32], 1, "1 argument")(c =>
      SimHash32(c(0)))
    register("quantize_stats", classOf[Int8QuantStats], 1, "1 argument")(c =>
      Int8QuantStats(c(0)))
    register("simhash64", classOf[SimHash64Text], 1, "1 argument")(c =>
      SimHash64Text(c(0)))
    register("bpe_token_count", classOf[BpeTokenCount], 1, "1 argument")(c =>
      BpeTokenCount(c(0)))
    register("weighted_ks", classOf[WeightedKs], 2, "2 arguments")(c =>
      WeightedKs(c(0), c(1)))
    register("ws_token_count", classOf[WsTokenCount], 1, "1 argument")(c =>
      WsTokenCount(c(0)))
    register("bloom_might_contain", classOf[BloomContains], 2,
      "(str, filter-bytes literal)") { c =>
      val bytes = c(1) match {
        case e if e.foldable && e.dataType ==
            org.apache.spark.sql.types.BinaryType =>
          e.eval(null).asInstanceOf[Array[Byte]]
        case _ => throw new IllegalArgumentException(
          "bloom_might_contain filter must be a binary literal")
      }
      BloomContains(c(0), bytes)
    }
    register("vec_lsh_bucket", classOf[VecLshBucket], 3,
      "(vec, numPlanes literal, dim literal)")(c =>
      VecLshBucket(c(0), litInt(c(1), "numPlanes"), litInt(c(2), "dim")))
    register("vec_nearest_centroid", classOf[VecNearestCentroid], 2,
      "(vec, centroids literal)") { c =>
      val (flat, k, dim) = litCentroids(c(1))
      VecNearestCentroid(c(0), flat, k, dim)
    }
    register("vec_top_centroids", classOf[VecTopCentroids], 3,
      "(vec, centroids literal, nProbe literal)") { c =>
      val (flat, k, dim) = litCentroids(c(1))
      VecTopCentroids(c(0), flat, k, dim, litInt(c(2), "nProbe"))
    }
    register("dup_gram_frac_e6", classOf[DupGramFracE6], 2,
      "(text, n literal)")(c => DupGramFracE6(c(0), litInt(c(1), "n")))
    register("topk_longs", classOf[TopKLongs], 2,
      "(integral column, k literal)")(c => TopKLongs(c(0), litInt(c(1), "k")))
    register("bounded_collect", classOf[BoundedCollect], 2,
      "(member column, cap literal)")(c =>
      BoundedCollect(c(0), litInt(c(1), "cap"), distinct = false))
    register("bounded_collect_distinct", classOf[BoundedCollect], 2,
      "(member column, cap literal)")(c =>
      BoundedCollect(c(0), litInt(c(1), "cap"), distinct = true))
    register("kmv_sketch", classOf[KmvSketch], 2,
      "(integral column, k literal)")(c => KmvSketch(c(0), litInt(c(1), "k")))
    register("kmv_values", classOf[KmvValues], 3,
      "(integral hash column, integral value column, k literal)")(c =>
      KmvValues(c(0), c(1), litInt(c(2), "k")))
    register("nfc_normalize", classOf[NfcNormalize], 1, "1 argument")(c =>
      NfcNormalize(c(0)))
    register("winnow_fps", classOf[WinnowFingerprints], 3,
      "(text, shingleSize literal, window literal)")(c =>
      WinnowFingerprints(c(0), litInt(c(1), "shingleSize"),
        litInt(c(2), "window")))
    register("sorted_intersect_count", classOf[SortedIntersectCount], 2,
      "exactly 2 arguments")(c => SortedIntersectCount(c(0), c(1)))
    register("shingle_hashes", classOf[ShingleHashes], 2,
      "(text, shingleSize literal)")(c =>
      ShingleHashes(c(0), litInt(c(1), "shingle_hashes shingleSize")))
  }
}
