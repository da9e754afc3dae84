package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The blocking kernel of the candidate-pair family (block key → members
  * → unordered pairs, the filter half of filter-and-verify) under the
  * near-duplicate, co-occurrence and edit-distance operators.
  *
  *  - [[postings]]: ONE exchange groups (key, member) rows into a sorted
  *    `members` array per key, dropping every key with more than `cap`
  *    members (`Int.MaxValue` keeps all, `< 0` none) inside the aggregate
  *    (`bounded_collect`): no hot list materializes, no second counting
  *    pass or join back.
  *  - [[pairs]]: (id_a, id_b), id_a < id_b strictly, within each array —
  *    position i pairs with every later position, so a repeated member
  *    pairs as a self-join on `a < b` would. posexplode + slice + explode
  *    whole-stage-codegen (a higher-order lambda would not), and with no
  *    self-join the members' producer runs once, not once per side.
  *  - [[cosinePairs]]: the dense-vector verify, a within-block self-join
  *    (the block key is an LSH bucket or a k-means cell).
  */
private[graft] object Blocking {

  def postings(rows: DataFrame, keys: Seq[String], member: Column, cap: Int,
      distinct: Boolean = false): DataFrame = {
    val collect = if (distinct) "bounded_collect_distinct" else "bounded_collect"
    rows.groupBy(keys.map(col): _*)
      .agg(sort_array(call_function(collect, member, lit(cap)))
        .as("members"))
      .filter(col("members").isNotNull)
  }

  def pairs(postings: DataFrame): DataFrame =
    postings.select(col("members"), posexplode(col("members")))
      .toDF("_m", "_i", "id_a")
      // 0-based pos _i pairs with 1-based positions _i+2 .. end
      .select(col("id_a"),
        explode(slice(col("_m"), col("_i") + lit(2), size(col("_m")))).as("id_b"))
      .filter(col("id_a") < col("id_b"))

  /** (id_a, id_b, sim), id_a < id_b, cosine `sim` > `threshold`, over
    * `blocked`'s (key, id, vec, nrm) rows sharing a `key`: an a/b self-join
    * on the key, then the cosine filter. Quadratic in block size — a block
    * of n members yields n(n-1)/2 candidates, and nothing caps it (a cap
    * would drop true pairs): the blocking knob (LSH planes, k-means k) is
    * what holds blocks small. */
  def cosinePairs(blocked: DataFrame, key: String, threshold: Double): DataFrame = {
    def side(s: String) = blocked.select(col(key), col("id").as(s"id_$s"),
      col("vec").as(s"vec_$s"), col("nrm").as(s"norm_$s"))
    side("a").join(side("b"), Seq(key))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", graft.similarity.Similarity.dot(col("vec_a"),
        col("vec_b")) / (col("norm_a") * col("norm_b")))
      .filter(col("sim") > lit(threshold))
  }
}
