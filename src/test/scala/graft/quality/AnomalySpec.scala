package graft.quality

import graft.SparkSpec

class AnomalySpec extends SparkSpec {
  import spark.implicits._

  test("zScoreReport flags a planted outlier with exact stats") {
    val vals = (Seq.fill(99)(10.0) :+ 1000.0).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "value")
    val r = Anomaly.zScoreReport(vals, "value", 3.0).head()
    r.getAs[Long]("n") shouldBe 100L
    r.getAs[Double]("mean") shouldBe 19.9 +- 1e-9
    r.getAs[Long]("anomaly_count") shouldBe 1L
  }

  test("movingAnomaly: first row has null std and is never anomalous") {
    val df = Seq((1L, 1L, 10.0), (1L, 2L, 10.5), (1L, 3L, 11.0), (1L, 4L, 500.0))
      .toDF("user_id", "seq", "value")
    // k=1: the outlier inflates its own window's std (mean≈174, σ≈282), so
    // |500−mean| exceeds 1σ but not 2σ — the classic inclusive-window effect.
    val out = Anomaly.movingAnomaly(df, Seq("user_id"), Seq("seq"), "value",
      window = 3, k = 1.0)
      .orderBy("seq").collect()
    out(0).isNullAt(out(0).fieldIndex("roll_std")) shouldBe true
    out(0).getAs[Boolean]("is_anomaly") shouldBe false
    out(3).getAs[Boolean]("is_anomaly") shouldBe true // 500 vs ~10
  }

  test("categoryFrequencies marks rare categories") {
    val df = (Seq.fill(98)("common") ++ Seq("rare1", "rare2")).toDF("cat")
    val out = Anomaly.categoryFrequencies(df, "cat", 0.05)
      .collect().map(r => r.getString(0) -> r.getAs[Boolean]("is_rare")).toMap
    out("common") shouldBe false
    out("rare1") shouldBe true
  }

  test("exactQuantiles interpolates like the SQL percentile contract") {
    val df = (1 to 5).map(_.toDouble).toDF("v")
    val r = Anomaly.exactQuantiles(df, "v", Seq(0.25, 0.5)).head()
    r.getAs[Double]("p25") shouldBe 2.0
    r.getAs[Double]("p50") shouldBe 3.0
  }

  test("madAnomaliesExact: median/MAD survive the outlier") {
    // 1..99 + one huge outlier (100 values): interpolated median 50.5,
    // MAD 25 (both essentially UNMOVED by the outlier — the point of
    // robust stats), robust z of 10000 ≈ 268
    val df = ((1 to 99).map(_.toDouble) :+ 10000.0).toDF("v")
    val exact = Anomaly.madAnomaliesExact(df, "v", tau = 3.5).head()
    exact.getAs[Double]("v") shouldBe 10000.0
    // 0.6745 * |10000-50.5| / 25 * 1e6, rounded
    exact.getAs[Long]("robust_z_e6") shouldBe
      math.round(0.6745 * 9949.5 / 25.0 * 1e6)
  }

  test("madAnomaliesByGroup scores each stratum against its own scale") {
    // group a: tight around 10 (MAD 1) with one 100 → anomalous IN a;
    // group b: wide scale — the same 100 is an ordinary b value;
    // null group: gets its own median, not dropped
    val df = ((1 to 20).map(i => (Some("a"), 10.0 + (i % 3) - 1)) :+
      ((Some("a"), 100.0)) :+
      ((Some("b"), 100.0)) :+ ((Some("b"), 200.0)) :+
      ((Some("b"), 300.0)) :+ ((Some("b"), 400.0)) :+
      ((None: Option[String], 5.0)) :+ ((None: Option[String], 5.5)))
      .toDF("g", "v")
    val out = Anomaly.madAnomaliesByGroup(df, "v", "g", tau = 3.5)
      .collect().map(r => (r.getAs[String]("g"), r.getAs[Double]("v")))
    out.toSeq shouldBe Seq(("a", 100.0)) // only vs a's own tight scale
  }

  test("madAnomaliesExact: MAD=0 (constant majority) flags nothing, not everything") {
    val df = (Seq.fill(10)(5.0) :+ 9999.0).toDF("v")
    Anomaly.madAnomaliesExact(df, "v").count() shouldBe 0
  }

  test("zScoreAnomalies tiers severity CRITICAL>5σ / HIGH>4σ / MEDIUM>3σ") {
    // 1000 background values at ±1 keep σ ≈ 1, so planted outliers land in
    // predictable z bands (reference tiers, anomaly_detection.py:108-116)
    val background = (0 until 1000).map(i => if (i % 2 == 0) 1.0 else -1.0)
    val planted = Seq(3.5, 4.5, 6.0) // z ≈ 3.49, 4.49, 5.99
    val df = (background ++ planted).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val out = Anomaly.zScoreAnomalies(df, "v", 3.0, scale = 2)
      .collect().map(r => r.getAs[Double]("v") -> r.getAs[String]("severity")).toMap
    out(3.5) shouldBe "MEDIUM"
    out(4.5) shouldBe "HIGH"
    out(6.0) shouldBe "CRITICAL"
    out.keySet should not contain 1.0
  }

  test("winsorize clamps tails to per-group exact quantiles, keeps the body") {
    import spark.implicits._
    // group a: 1..10 → p10=1.9, p90=9.1 (interpolated); group b constant
    val df = ((1 to 10).map(i => ("a", i.toDouble)) :+ ("b" -> 5.0))
      .toDF("grp", "v")
    val w = Anomaly.winsorize(df, "v", "grp", 0.10, 0.90)
      .collect().map(r => (r.getAs[String]("grp"), r.getAs[Double]("v")) ->
        r.getAs[Double]("v_wins")).toMap
    w(("a", 1.0)) shouldBe 1.9 +- 1e-9  // low tail raised
    w(("a", 10.0)) shouldBe 9.1 +- 1e-9 // high tail lowered
    w(("a", 5.0)) shouldBe 5.0          // body untouched
    w(("b", 5.0)) shouldBe 5.0          // constant group is a fixed point
  }

  test("histogramDrift: shared bins, under/overflow, integer shares") {
    import spark.implicits._
    val base = Seq(-5.0, 1.0, 1.5, 25.0, 99.9).toDF("v")  // buckets 0,1,1,3,10
    val cur = Seq(1.0, 105.0, 105.0, 55.0).toDF("v")      // buckets 1,11,11,6
    val out = Anomaly.histogramDrift(base, cur, "v", 0.0, 100.0, nBins = 10)
      .orderBy("bucket").collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("n_base"),
        r.getAs[Long]("n_cur"), r.getAs[Long]("share_base_e6"),
        r.getAs[Long]("share_cur_e6"), r.getAs[Long]("delta_e6")))
    out.toSeq shouldBe Seq(
      (0L, 1L, 0L, 200000L, 0L, -200000L),
      (1L, 2L, 1L, 400000L, 250000L, -150000L),
      (3L, 1L, 0L, 200000L, 0L, -200000L),
      (6L, 0L, 1L, 0L, 250000L, 250000L),
      (10L, 1L, 0L, 200000L, 0L, -200000L),
      (11L, 0L, 2L, 0L, 500000L, 500000L))
  }

  test("ksDrift: exact D on a hand-computed case; 0 for identical, 1 for disjoint") {
    import spark.implicits._
    // A = {1,2,3}, B = {2,4}: ECDFs diverge most at x=3 (A 3/3, B 1/2)
    // → D = 1/2, ks_num = |n_b·cum_a − n_a·cum_b| = |2·3 − 3·1| = 3
    val a = Seq(1.0, 2.0, 3.0).toDF("v")
    val b = Seq(2.0, 4.0).toDF("v")
    val r = Anomaly.ksDrift(a, b, "v").head()
    (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
      r.getAs[Long]("ks_num"), r.getAs[Long]("ks_e6")) shouldBe
      (3L, 2L, 3L, 500000L)
    // same sample → D = 0
    Anomaly.ksDrift(a, a, "v").head().getAs[Long]("ks_e6") shouldBe 0L
    // disjoint supports → D = 1
    val hi = Seq(100.0, 101.0).toDF("v")
    Anomaly.ksDrift(a, hi, "v").head().getAs[Long]("ks_e6") shouldBe 1000000L
  }

  test("linearTrend: exact rational slope; single-x group yields null, not an error") {
    import spark.implicits._
    // perfect line y = 7x + 3 over x ∈ {0,1,2} → slope exactly 7
    val line = Seq(("a", 0L, 3L), ("a", 1L, 10L), ("a", 2L, 17L),
      ("b", 5L, 100L)) // one point: den = 0
      .toDF("grp", "x", "y")
    val out = Anomaly.linearTrend(line, Seq("grp"), "x", "y")
      .orderBy("grp").collect()
    out(0).getAs[Double]("slope") shouldBe 7.0
    // the exact rational is exposed too: num/den = 42/6
    out(0).getAs[Long]("slope_num") shouldBe 42L
    out(0).getAs[Long]("slope_den") shouldBe 6L
    out(1).isNullAt(out(1).fieldIndex("slope")) shouldBe true
    out(1).getAs[Long]("slope_den") shouldBe 0L
  }

  test("linearFit: slope/intercept/r2, recentered x, degenerate groups null") {
    import spark.implicits._
    val pts = Seq(
      // perfect line y = 7x + 3 over raw x ∈ {100,101,102}; recentering
      // puts the intercept at the group's FIRST x: y(100) = 703
      ("a", 100L, 703L), ("a", 101L, 710L), ("a", 102L, 717L),
      // imperfect: y = {0, 2, 1} on x = {0,1,2} → slope 0.5, r2 = 0.25
      ("b", 0L, 0L), ("b", 1L, 2L), ("b", 2L, 1L),
      // flat y: slope 0, r2 undefined (varY = 0)
      ("c", 0L, 5L), ("c", 1L, 5L),
      // flat x: no fit at all
      ("d", 3L, 1L), ("d", 3L, 9L))
      .toDF("grp", "x", "y")
    val out = Anomaly.linearFit(pts, Seq("grp"), "x", "y")
      .orderBy("grp").collect()
    out(0).getAs[Double]("slope") shouldBe 7.0
    out(0).getAs[Double]("intercept") shouldBe 703.0
    out(0).getAs[Double]("r2") shouldBe 1.0
    out(1).getAs[Double]("slope") shouldBe 0.5
    out(1).getAs[Double]("r2") shouldBe 0.25
    out(2).getAs[Double]("slope") shouldBe 0.0
    out(2).isNullAt(out(2).fieldIndex("r2")) shouldBe true
    out(3).isNullAt(out(3).fieldIndex("slope")) shouldBe true
    out(3).isNullAt(out(3).fieldIndex("r2")) shouldBe true
  }

  test("winsorize keeps and clamps the NULL group instead of dropping it") {
    import spark.implicits._
    val df = Seq(Some("a") -> 1.0, Some("a") -> 10.0,
      None -> 1.0, None -> 5.0, None -> 100.0)
      .map { case (g, v) => (g, v) }.toDF("grp", "v")
    val out = Anomaly.winsorize(df, "v", "grp", 0.25, 0.75).collect()
    out should have length 5 // no silent row loss on NULL keys
    val nulls = out.filter(_.isNullAt(0)).map(r =>
      r.getAs[Double]("v") -> r.getAs[Double]("v_wins")).toMap
    nulls(100.0) should be < 100.0 // clamped to the NULL group's own p75
    nulls(5.0) shouldBe 5.0
  }

  test("changepoints: CUSUM argmax marks the last pre-shift point; flat series reports first point with d 0") {
    // group a: 10,10 then 50,50 — shift after day 1; D_t = |4·cum − t·120|
    // is 80,160,80,0, so the argmax lands on day 1 with d_stat 160
    val df = Seq(
      ("a", 0L, 10L), ("a", 1L, 10L), ("a", 2L, 50L), ("a", 3L, 50L),
      ("b", 7L, 5L), ("b", 8L, 5L), ("b", 9L, 5L))
      .toDF("grp", "day", "y")
    val out = Anomaly.changepoints(df, Seq("grp"), "day", "y")
      .orderBy("grp").collect()
    out(0).getAs[Long]("change_point") shouldBe 1L
    out(0).getAs[Long]("d_stat") shouldBe 160L
    out(0).getAs[Long]("cum_before") shouldBe 20L
    out(0).getAs[Long]("total") shouldBe 120L
    out(0).getAs[Long]("n_points") shouldBe 4L
    out(1).getAs[Long]("change_point") shouldBe 7L
    out(1).getAs[Long]("d_stat") shouldBe 0L
  }

  test("benfordReport: integer-string digit, shares and chi2 exact") {
    import spark.implicits._
    // values in e2-exact form: 1.00 -> digit 1, 25.50 -> 2, 0.07 -> 7,
    // -3.00 -> 3 (abs), 0.0 excluded, null excluded
    val df = Seq(Some(1.0), Some(25.50), Some(0.07), Some(-3.0),
      Some(0.0), None).toDF("v")
    val out = Anomaly.benfordReport(df, "v")
      .orderBy("digit").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    out.toSeq shouldBe Seq(
      (1L, 1L, 250000L), (2L, 1L, 250000L), (3L, 1L, 250000L),
      (7L, 1L, 250000L))
    // benford share literal for digit 1 is log10(2) in e6
    Anomaly.benfordReport(df, "v").filter("digit = 1")
      .head().getAs[Long]("benford_share_e6") shouldBe 301030L
  }

  test("seasonalResiduals: slot baselines, exact z, degenerate slots null") {
    import spark.implicits._
    // slot 0 (days 0, 7, 14): y = 100, 100, 130 - day 14 is the spike;
    // slot 1 (day 1): single observation - no z
    val daily = Seq(
      ("a", 0L, 100L), ("a", 7L, 100L), ("a", 14L, 130L),
      ("a", 1L, 999L))
      .toDF("g", "day", "y")
    val out = Anomaly.seasonalResiduals(daily, Seq("g"), "day", "y", 7)
      .orderBy("day").collect()
    val byDay = out.map(r => r.getAs[Long]("day") -> r).toMap
    // slot-0 stats: n=3, mean=110, sample sigma = sqrt(300) ~ 17.3205
    byDay(14L).getAs[Long]("z_e6") shouldBe
      math.round(1e6 * (130.0 - 110.0) / math.sqrt(300.0))
    byDay(0L).getAs[Long]("z_e6") shouldBe
      math.round(1e6 * (100.0 - 110.0) / math.sqrt(300.0))
    byDay(1L).isNullAt(byDay(1L).fieldIndex("z_e6")) shouldBe true
    byDay(14L).getAs[Long]("slot") shouldBe 0L
  }

  test("metricCorrelations: +1/-1/uncorrelated exact, flat series null") {
    import spark.implicits._
    val series = Seq(
      ("a", 1L, 10L), ("a", 2L, 20L), ("a", 3L, 30L),
      ("b", 1L, 1L), ("b", 2L, 2L), ("b", 3L, 3L),    // b = a/10: corr +1
      ("c", 1L, 30L), ("c", 2L, 20L), ("c", 3L, 10L), // c = -a: corr -1
      ("d", 1L, 7L), ("d", 2L, 7L), ("d", 3L, 7L))    // flat: undefined
      .toDF("typ", "t", "y")
    val out = Anomaly.metricCorrelations(series, "typ", "t", "y")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    out(("a", "b")) shouldBe Some(1000000L)
    out(("a", "c")) shouldBe Some(-1000000L)
    out(("b", "c")) shouldBe Some(-1000000L)
    out(("a", "d")) shouldBe None
    out.size shouldBe 6
  }

  test("concentrationReport: gini 0 when equal, 1-1/n at full concentration") {
    import spark.implicits._
    val rows =
      (1 to 10).map(_ => ("equal", 5L)) ++                // gini 0
      (("whale", 1000L) +: (1 to 9).map(_ => ("whale", 0L))) ++ // gini 0.9
      Seq(("neg", -1L), ("neg", 3L)) // negatives filtered, n drops to 1
    val out = Anomaly.concentrationReport(rows.toDF("g", "v"), Seq("g"), "v")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2),
          Option(r.getAs[Any]("gini_e6")).map(_.asInstanceOf[Long]),
          Option(r.getAs[Any]("top10_share_e6")).map(_.asInstanceOf[Long])))
      .toMap
    out("equal") shouldBe (10L, 50L, Some(0L), Some(100000L))
    out("whale") shouldBe (10L, 1000L, Some(900000L), Some(1000000L))
    // n < 10 -> top-decile undefined (k = 0), gini still reported
    out("neg")._1 shouldBe 1L
    out("neg")._4 shouldBe None
  }

  test("hhiReportByMass: whale visible to mass, invisible to counts") {
    import spark.implicits._
    // 1 whale order of 97, 3 minnow orders of 1: count-HHI reads 4 equal
    // categories (250000); mass-HHI reads near-monopoly
    val rows = Seq(("g", "whale", 97L), ("g", "m1", 1L), ("g", "m2", 1L),
      ("g", "m3", 1L))
    val mass = Anomaly.hhiReportByMass(rows.toDF("g", "c", "m"),
      Seq("g"), "c", "m").collect()(0)
    mass.getAs[Long]("n_cats") shouldBe 4L
    mass.getAs[Long]("total_mass") shouldBe 100L
    // shares e6: 970000² + 3·10000² = 940900000000 + 300000000
    mass.getAs[Long]("hhi_e6") shouldBe 941200L
    Anomaly.hhiReport(rows.toDF("g", "c", "m"), Seq("g"), "c")
      .collect()(0).getAs[Long]("hhi_e6") shouldBe 250000L
    // negative masses are filtered; zero-total groups null out
    val dirty = Seq(("z", "a", 0L), ("z", "b", -5L)).toDF("g", "c", "m")
    val z = Anomaly.hhiReportByMass(dirty, Seq("g"), "c", "m").collect()(0)
    z.getAs[Long]("n_cats") shouldBe 1L // the negative row dropped
    z.isNullAt(z.fieldIndex("hhi_e6")) shouldBe true
  }

  test("hhiReport: uniform floor, monopoly ceiling, nulls are a category") {
    import spark.implicits._
    val rows =
      Seq("u1", "u2", "u3", "u4").map(("flat", _)) ++      // 4 × 1
      Seq(("mono", "u1"), ("mono", "u1"), ("mono", "u1")) ++ // 1 user
      Seq(("mix", "u1"), ("mix", "u1"), ("mix", "u1"), ("mix", "u2"))
    val out = Anomaly.hhiReport(rows.toDF("g", "u"), Seq("g"), "u")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    out("flat") shouldBe ((4L, 4L, 250000L, 4000000L)) // 1/4, eff 4.0
    out("mono") shouldBe ((1L, 3L, 1000000L, 1000000L)) // monopoly
    // counts 3,1: hhi = 10/16 = 0.625, eff = 16/10 = 1.6
    out("mix") shouldBe ((2L, 4L, 625000L, 1600000L))
    // a null category holds rows and must show as concentration
    val withNull = Seq(("g", Some("u1")), ("g", None), ("g", None))
      .toDF("g", "u")
    Anomaly.hhiReport(withNull, Seq("g"), "u")
      .collect()(0).getLong(1) shouldBe 2L // n_cats counts the null bucket
  }

  test("ewmaChart: hand-traced per-step floors, first-point null deviation, breach vs pre-update level") {
    import spark.implicits._
    // α = 0.5: s₀ = 100e6; s₁ = (0.5·104 + 0.5·100)e6 = 102e6;
    // s₂ = (0.5·90e6 + 0.5·102e6) = 96e6. Deviations vs PREV level:
    // day2: 104e6 − 100e6 = 4e6 (no breach at band 5e6);
    // day3: 90e6 − 102e6 = −12e6 → breach.
    val daily = Seq(("a", 1L, 100L), ("a", 2L, 104L), ("a", 3L, 90L),
      ("b", 7L, 50L)) // single-point group: null deviation, no breach
      .toDF("g", "day", "n")
    val out = Anomaly.ewmaChart(daily, Seq("g"), "day", "n",
        alphaE6 = 500000L, bandE6 = 5000000L)
      .orderBy("g", "day").collect()
    out.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).toSeq shouldBe Seq(
      ("a", 1L, 100L, 100000000L), ("a", 2L, 104L, 102000000L),
      ("a", 3L, 90L, 96000000L), ("b", 7L, 50L, 50000000L))
    out.map(r => (Option(r.getAs[Any]("deviation_e6")),
      r.getAs[Boolean]("breach"))).toSeq shouldBe Seq(
      (None, false), (Some(4000000L), false), (Some(-12000000L), true),
      (None, false))
    // the floor applies per step, not once at the end: α=0.3 on 1,2 →
    // s₁ = (300000·2e6 + 700000·1e6) div 1e6 = 1300000 exactly
    Anomaly.ewmaChart(Seq(("a", 1L, 1L), ("a", 2L, 2L)).toDF("g", "day", "n"),
        Seq("g"), "day", "n", 300000L, 1000000L)
      .orderBy("day").collect().map(_.getLong(3)).toSeq shouldBe
      Seq(1000000L, 1300000L)
    // overflow guard raises in-plan
    an[Exception] should be thrownBy
      Anomaly.ewmaChart(Seq(("a", 1L, 10000000L)).toDF("g", "day", "n"),
        Seq("g"), "day", "n", 300000L, 1000000L).collect()
  }
}
