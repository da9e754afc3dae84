package graft.quality

import graft.SparkSpec

class EquiDepthSpec extends SparkSpec {
  import spark.implicits._

  test("equiDepthProfile: ntile buckets, earlier buckets carry the remainder") {
    // 7 rows, 3 buckets → sizes 3, 2, 2 on the (value, id) total order.
    val df = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0),
      (5L, 5.0), (6L, 6.0), (7L, 7.0)).toDF("id", "v")
    val out = Anomaly.equiDepthProfile(df, "v", "id", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    out shouldBe Array(
      (1L, 3L, 1000000L, 3000000L),
      (2L, 2L, 4000000L, 5000000L),
      (3L, 2L, 6000000L, 7000000L))
  }

  test("boundary twin agrees with ntile on a tie-free frame") {
    val df = (1L to 40L).map(i => (i, i * 1.5)).toDF("id", "v")
    val byNtile = Anomaly.equiDepthProfile(df, "v", "id", 4)
      .select("bucket", "n_rows", "min_e6", "max_e6", "sum_e6")
    val byBounds = AnomalyTwins.equiDepthProfileByBounds(df, "v", 4)
      .select("bucket", "n_rows", "min_e6", "max_e6", "sum_e6")
    byNtile.collect() shouldBe byBounds.collect()
  }

  test("boundary twin works at n=3 (the truncate-vs-round column trap)") {
    val df = (1L to 30L).map(i => (i, i * 1.0)).toDF("id", "v")
    // 2/3 -> p66 by truncation; a .round-based lookup would ask for p67
    // and crash. Bucket masses must still be exactly equal on this
    // tie-free frame.
    val out = AnomalyTwins.equiDepthProfileByBounds(df, "v", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out shouldBe Map(1L -> 10L, 2L -> 10L, 3L -> 10L)
  }

  test("null values carry no rank in either form (the cross-engine trap)") {
    // Spark ntiles nulls FIRST, DuckDB ranks them LAST — so nulls must be
    // out of the frame entirely, in both the ntile and the bounds form
    val clean = (1L to 12L).map(i => (i, i * 2.0)).toDF("id", "v")
    val dirty = clean.unionByName(
      Seq((100L, Option.empty[Double]), (101L, Option.empty[Double]))
        .toDF("id", "v"))
    Anomaly.equiDepthProfile(dirty, "v", "id", 4).collect() shouldBe
      Anomaly.equiDepthProfile(clean, "v", "id", 4).collect()
    AnomalyTwins.equiDepthProfileByBounds(dirty, "v", 4).collect() shouldBe
      AnomalyTwins.equiDepthProfileByBounds(clean, "v", 4).collect()
  }
}
