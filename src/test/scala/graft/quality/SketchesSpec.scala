package graft.quality

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SketchesSpec extends SparkSpec {
  import spark.implicits._

  private def users(n: Int) =
    (0 until n).map(i => (i.toLong % 7, s"user${i % 97}")).toDF("grp", "uid")

  test("merged per-part sketches estimate IDENTICALLY to a one-shot sketch") {
    // union is register-wise max — lossless for one lgK, so the
    // incremental path must give exactly the one-shot answer, not "close"
    val df = users(500).withColumn("part", col("grp") % 3)
    val perPart = Sketches.distinctSketches(df, Seq("grp", "part"), "uid")
    val merged = Sketches.mergeSketches(perPart, Seq("grp"))
      .select(col("grp"), Sketches.estimate(col("sketch")).as("est"))
    val oneShot = Sketches.distinctSketches(df, Seq("grp"), "uid")
      .select(col("grp"), Sketches.estimate(col("sketch")).as("est"))
    merged.orderBy("grp").collect().toSeq shouldBe
      oneShot.orderBy("grp").collect().toSeq
  }

  test("sketch state survives a parquet round-trip (the persisted-batch loop)") {
    val df = users(300)
    val dir = java.nio.file.Files.createTempDirectory("sketches").toString
    Sketches.distinctSketches(df, Seq("grp"), "uid")
      .write.mode("overwrite").parquet(dir)
    val reloaded = Sketches.mergeSketches(spark.read.parquet(dir), Seq("grp"))
      .select(col("grp"), Sketches.estimate(col("sketch")).as("est"))
    val direct = Sketches.distinctSketches(df, Seq("grp"), "uid")
      .select(col("grp"), Sketches.estimate(col("sketch")).as("est"))
    reloaded.orderBy("grp").collect().toSeq shouldBe
      direct.orderBy("grp").collect().toSeq
  }

  test("cardinalityAudit: estimate within tolerance of the exact count") {
    val out = Sketches.cardinalityAudit(users(1000), Seq("grp"), "uid")
      .collect()
    out should have length 7
    out.foreach { r =>
      r.getAs[Boolean]("within_tol") shouldBe true
      // at this cardinality (≤97) HLL runs in its exact sparse mode
      r.getAs[Long]("n_est") shouldBe r.getAs[Long]("n_exact")
    }
  }

  test("mergeSketches with mismatched lgK fails loudly, never degrades silently") {
    val df = users(200)
    val fine = Sketches.distinctSketches(df, Seq("grp"), "uid", lgK = 12)
    val coarse = Sketches.distinctSketches(df, Seq("grp"), "uid", lgK = 10)
    val err = intercept[Exception] {
      Sketches.mergeSketches(fine.union(coarse), Seq("grp")).collect()
    }
    err.getMessage.toLowerCase should include("lgconfigk")
  }

  test("frequencyAudit exact in no-purge mode incl. boundary ties") {
    // 4 items with counts 5,5,3,1 in group g0 — a tie ACROSS the k=1
    // boundary, the case where the sketch's own top-1 pick is
    // engine-local but the audit's deep probe stays deterministic
    val rows = Seq.fill(5)(("g0", 10L)) ++ Seq.fill(5)(("g0", 11L)) ++
      Seq.fill(3)(("g0", 12L)) ++ Seq(("g0", 13L)) ++
      Seq.fill(4)(("g1", 20L))
    val df = rows.toDF("grp", "item")
    val audit = Sketches.frequencyAudit(df, Seq("grp"), "item", k = 2)
      .orderBy("grp", "rnk").collect()
    // exact ranking is total: (cnt DESC, item) → 10 then 11 in g0
    audit.map(r => (r.getString(0), r.getAs[Long]("rnk"),
      r.getAs[Long]("item"), r.getAs[Long]("cnt"))).toSeq shouldBe Seq(
      ("g0", 1L, 10L, 5L), ("g0", 2L, 11L, 5L),
      ("g1", 1L, 20L, 4L))
    all(audit.map(_.getAs[Boolean]("est_exact"))) shouldBe true
  }

  test("audienceOverlap: exact pair counts/Jaccard, estimates inside the gate") {
    import spark.implicits._
    // A = {1..100}, B = {51..150} (overlap 50), C = {200..219} (disjoint)
    val rows = (1L to 100L).map(u => ("A", u)) ++
      (51L to 150L).map(u => ("B", u)) ++
      (200L to 219L).map(u => ("C", u)) ++
      Seq(("A", 7L), ("A", 7L)) // duplicates collapse in the distinct pass
    val out = Sketches.audienceOverlap(rows.toDF("t", "u"), "t", "u")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getBoolean(6))).toMap
    out(("A", "B")) shouldBe (100L, 100L, 50L, 333333L, true)
    // disjoint pairs are absent — the inner-join contract
    out.keySet shouldBe Set(("A", "B"))
  }

  test("histogram state: fold ≡ rebuild, negative floor bins, null excluded") {
    val hist = Seq(("a", 7L), ("a", 49L), ("a", 151L), ("b", -1L))
      .toDF("grp", "v")
    val delta = Seq(("a", 50L), ("b", -100L), ("c", 0L))
      .toDF("grp", "v")
    val state = Sketches.histogramState(hist, Seq("grp"), "v", 50L)
    // floor bins: 7→0, 49→0, 151→3, -1→-1 (floor, NOT truncate-toward-0)
    state.orderBy("grp", "bin").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq shouldBe
      Seq(("a", 0L, 2L), ("a", 3L, 1L), ("b", -1L, 1L))
    val folded = Sketches.histogramIncremental(state, delta,
      Seq("grp"), "v", 50L)
    val rebuilt = Sketches.histogramState(hist.unionByName(delta),
      Seq("grp"), "v", 50L)
    folded.orderBy("grp", "bin").collect().toSeq shouldBe
      rebuilt.orderBy("grp", "bin").collect().toSeq
    // null values are excluded by contract
    Sketches.histogramState(
      Seq(("a", Some(1L)), ("a", None)).toDF("grp", "v"),
      Seq("grp"), "v", 50L)
      .agg(sum("cnt")).head().getLong(0) shouldBe 1L
    an[IllegalArgumentException] should be thrownBy
      Sketches.histogramState(hist, Seq("grp"), "v", 0L)
  }

  test("winsorizeByHistogram: bin-edge clamps on outliers, nulls pass through") {
    // group a: 0..99 uniform plus outliers -50 and 200 (102 values,
    // width 10). p05 rule: first bin with cum ≥ 5.1 ⇒ bin 0 ⇒ lo = 0;
    // p95: first cum ≥ 96.9 ⇒ bin 9 ⇒ hi = 99. Outliers clamp, the
    // uniform body is untouched.
    val df = ((0L until 100L) ++ Seq(-50L, 200L)).map(v => ("a", v))
      .toDF("grp", "v")
    val out = Sketches.winsorizeByHistogram(df, Seq("grp"), "v", 10L)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    out(-50L) shouldBe 0L
    out(200L) shouldBe 99L
    out(0L) shouldBe 0L
    out(99L) shouldBe 99L
    out(55L) shouldBe 55L
    // null values pass through unclamped
    Sketches.winsorizeByHistogram(
      Seq(("a", Some(5L)), ("a", None)).toDF("grp", "v"), Seq("grp"), "v",
      10L).collect().map(r => Option(r.get(2)).map(_.asInstanceOf[Long]))
      .toSet shouldBe Set(Some(5L), None)
    an[IllegalArgumentException] should be thrownBy
      Sketches.winsorizeByHistogram(df, Seq("grp"), "v", 10L,
        loE6 = 900000L, hiE6 = 100000L)
  }

  test("histogramQuantiles: first bin at cum·1e6 ≥ q·total, exact to binWidth") {
    // group a: values 0..99 uniform, width 10 → bins 0..9 with 10 each.
    // p50: cum at bin 4 is 50, 50·1e6 ≥ 500000·100 → bin 4 ([40,50)).
    // p90: cum at bin 8 is 90 → bin 8 ([80,90)). p100 → last bin.
    val df = (0L until 100L).map(v => ("a", v)).toDF("grp", "v")
    val state = Sketches.histogramState(df, Seq("grp"), "v", 10L)
    val qs = Sketches.histogramQuantiles(state, Seq("grp"), 10L,
        Seq(500000L, 900000L, 1000000L))
      .orderBy("q_e6").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    qs shouldBe Seq((500000L, 40L, 50L), (900000L, 80L, 90L),
      (1000000L, 90L, 100L))
    an[IllegalArgumentException] should be thrownBy
      Sketches.histogramQuantiles(state, Seq("grp"), 10L, Seq.empty)
    an[IllegalArgumentException] should be thrownBy
      Sketches.histogramQuantiles(state, Seq("grp"), 10L, Seq(0L))
  }
}
