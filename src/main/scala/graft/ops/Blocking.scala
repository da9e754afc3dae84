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
}
