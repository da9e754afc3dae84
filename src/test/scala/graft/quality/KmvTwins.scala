package graft.quality

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Builtin-HOF reference forms of [[Kmv]]'s compiled `weighted_ks` KS
  * sweeps. */
object KmvTwins {

  /** The unweighted two-sample KS over (type_a, ska, type_b, skb) sample
    * pairs in pure builtin HOFs — the twin [[Kmv.sampleKsReport]]'s
    * compiled sweep is pinned against (and the same math the DuckDB
    * oracles replay for q275/q276). */
  def ksFromSamplePairsBuiltin(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("__va", expr("transform(ska, x -> x.v)"))
      .withColumn("__vb", expr("transform(skb, x -> x.v)"))
      .withColumn("k_a", size(col("__va")).cast("long"))
      .withColumn("k_b", size(col("__vb")).cast("long"))
      .withColumn("ks_e6", expr(
        "array_max(transform(array_distinct(concat(__va, __vb)), x -> " +
          "abs(CAST(size(filter(__va, v -> v <= x)) AS BIGINT)" +
          " * 1000000 div k_a - " +
          "CAST(size(filter(__vb, v -> v <= x)) AS BIGINT)" +
          " * 1000000 div k_b)))"))
      .select(col("type_a"), col("type_b"), col("k_a"), col("k_b"),
        col("ks_e6"))

  /** [[Kmv.weightedKsFromSamplePairs]] in pure builtin HOFs — the
    * independently-derived twin the spec pins `weighted_ks` against
    * cell-for-cell, and the executable statement of the math the
    * compiled sweep implements. */
  def weightedKsFromSamplePairsBuiltin(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("k_a", size(col("ska")).cast("long"))
      .withColumn("k_b", size(col("skb")).cast("long"))
      .withColumn("mass_a", expr(
        "aggregate(ska, CAST(0 AS BIGINT), (acc, x) -> acc + x.m)"))
      .withColumn("mass_b", expr(
        "aggregate(skb, CAST(0 AS BIGINT), (acc, x) -> acc + x.m)"))
      .withColumn("__jumps", expr(
        "array_distinct(concat(transform(ska, x -> x.v), " +
          "transform(skb, x -> x.v)))"))
      .withColumn("wks_e6", expr(
        "array_max(transform(__jumps, t -> abs(" +
          "aggregate(filter(ska, x -> x.v <= t), CAST(0 AS BIGINT), " +
          "(acc, x) -> acc + x.m) * 1000000 div greatest(mass_a, 1) - " +
          "aggregate(filter(skb, x -> x.v <= t), CAST(0 AS BIGINT), " +
          "(acc, x) -> acc + x.m) * 1000000 div greatest(mass_b, 1))))"))
      .withColumn("ks_e6", expr(
        "array_max(transform(__jumps, t -> abs(" +
          "CAST(size(filter(ska, x -> x.v <= t)) AS BIGINT)" +
          " * 1000000 div k_a - " +
          "CAST(size(filter(skb, x -> x.v <= t)) AS BIGINT)" +
          " * 1000000 div k_b)))"))
      .select(col("type_a"), col("type_b"), col("k_a"), col("k_b"),
        col("mass_a"), col("mass_b"), col("wks_e6"), col("ks_e6"))
}
