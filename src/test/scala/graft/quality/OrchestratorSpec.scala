package graft.quality

import graft.SparkSpec
import graft.obs.Probe.measure
import graft.config._
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** Mirrors the reference's integration contract
  * (tests/integration/test_data_quality_integration.py:28-66): dirty data →
  * score in [0,100], problems detected, level set; and the e2e monotonicity
  * claim — cleaner data scores at least as high. */
class OrchestratorSpec extends SparkSpec {
  import spark.implicits._

  private val spec = QualitySpec(
    nullCheckColumns = Seq("fare"),
    positiveColumns = Seq("distance"),
    rangeChecks = Seq(RangeCheck("fare", Some(0.0), Some(500.0))))

  private def dirty = Seq(
    (Some(10.0), 1.0), (None, 2.0), (Some(9999.0), -1.0),
    (Some(20.0), 3.0), (Some(30.0), 0.0))
    .toDF("fare", "distance")

  private def clean = Seq(
    (Some(10.0), 1.0), (Some(20.0), 2.0), (Some(30.0), 3.0))
    .toDF("fare", "distance")

  test("dirty data: problems detected, score bounded, level assigned") {
    val r = Orchestrator.run(dirty, spec, anomalyColumns = Seq("fare"))
    r.rows shouldBe 5
    r.passed shouldBe false
    r.checkResults.find(_.check == "null_check").get.failedCount shouldBe 1
    r.checkResults.find(_.check == "positive_values").get.failedCount shouldBe 2
    r.checkResults.find(_.check == "range_check").get.failedCount shouldBe 1
    r.overall should (be >= 0.0 and be <= 100.0)
    Seq("EXCELLENT", "GOOD", "FAIR", "POOR", "CRITICAL") should contain(r.level)
    // 5 rows: the outlier dominates its own stddev, so no 3σ anomaly fires
    // and the sample list stays empty
    r.anomalySamples shouldBe empty
  }

  test("anomalous rows are captured as tiered samples, most extreme first") {
    val wide = ((Seq.fill(200)(10.0) ++ Seq(100000.0, 90000.0))
      .map(v => (Some(v), 1.0))).toDF("fare", "distance")
    val r = Orchestrator.run(wide, spec, anomalyColumns = Seq("fare"))
    r.anomalyCounts("fare") shouldBe 2L
    r.anomalySamples.map(_.value) shouldBe Seq(100000.0, 90000.0) // z-desc
    r.anomalySamples.head.column shouldBe "fare"
    r.anomalySamples.head.severity shouldBe "CRITICAL" // z ≈ 10+
  }

  test("configured expectations run in the same pass and gate passed") {
    val withExp = spec.copy(expectations = Seq(
      ExpectationSpec("mean_between", "fare", 0.0, 100.0),
      ExpectationSpec("row_count_between", lo = 1, hi = 1000)))
    val r = Orchestrator.run(clean, withExp)
    r.expectationResults.map(_.expectation) shouldBe
      Seq("mean_between", "row_count_between")
    r.passed shouldBe true

    // a failing expectation fails the report even when all checks pass
    val strict = spec.copy(expectations = Seq(
      ExpectationSpec("row_count_between", lo = 1000, hi = 2000)))
    val r2 = Orchestrator.run(clean, strict)
    r2.checkResults.forall(_.passed) shouldBe true
    r2.passed shouldBe false
    // the failing expectation drags the consistency dimension (and the
    // overall score) down — the report can't read EXCELLENT while failing
    r2.scores.consistency should be < 100.0
    r2.overall should be < Orchestrator.run(clean, spec).overall
  }

  test("cleaner data scores at least as high (e2e monotonicity)") {
    val d = Orchestrator.run(dirty, spec)
    val c = Orchestrator.run(clean, spec)
    c.passed shouldBe true
    c.overall should be >= d.overall
    c.level shouldBe "EXCELLENT"
  }

  // grouped families on top of the rule checks: the pass caches its input
  // and runs these on its thread pool
  private val grouped = spec.copy(
    fdChecks = Seq(FdCheck(Seq("fare"), "distance")),
    hhiChecks = Seq(HhiCheck(Nil, "distance", 1000000L)))

  test("rule checks, expectations and the row count share one aggregate") {
    val rules = spec.copy(expectations =
      Seq(ExpectationSpec("row_count_between", lo = 1, hi = 10)))
    val (_, profile) = measure(spark)(
      Checks.aggregate(dirty, Checks.profilePlan(dirty, rules).aggs).head())
    val (r, pass) = measure(spark)(Orchestrator.run(dirty, rules))
    val (profileJobs, passJobs) = (profile.jobs, pass.jobs)
    r.get.rows shouldBe 5
    r.get.expectationResults.map(_.observed) shouldBe Seq(5.0)
    passJobs.size shouldBe profileJobs.size
  }

  test("a malformed block fails before any job runs") {
    val malformed = Seq(
      grouped.copy(fdChecks = grouped.fdChecks :+ FdCheck(Seq("fare"), "zone"))
        -> "requirement failed: fd_check fare->zone: missing columns zone",
      grouped.copy(quantileChecks = Seq(QuantileCheck(Nil, "fare", 10L)))
        -> ("requirement failed: quantile_check fare@q500000: needs " +
          "min_value and/or max_value"),
      grouped.copy(distinctChecks = Seq(DistinctCheck(Nil, "distance")))
        -> ("requirement failed: distinct_check distinct(distance)@k256: " +
          "needs min_count and/or max_count"),
      grouped.copy(growthChecks = Seq(GrowthCheck("fare", "distance")))
        -> ("growth_check growth(distance)@k64 by fare: day_column must be " +
          "integral (epoch-day), got double - silent-day synthesis needs " +
          "day arithmetic"),
      grouped.copy(expectations =
        Seq(ExpectationSpec("median_between", "fare", 0.0, 1.0)))
        -> ("unknown expectation kind 'median_between' (supported: " +
          ExpectationSpec.Kinds.toSeq.sorted.mkString(", ") + ")"))
    malformed.foreach { case (bad, message) =>
      val df = dirty
      val (r, sample) = measure(spark)(
        Orchestrator.run(df, bad, anomalyColumns = Seq("fare")))
      val jobs = sample.jobs
      r.failed.get shouldBe an[IllegalArgumentException]
      r.failed.get.getMessage shouldBe message
      jobs.size shouldBe 0
      df.storageLevel shouldBe StorageLevel.NONE
    }
  }

  test("a family failing mid-flight stops the pass and rethrows its error") {
    // a day span past 1e6 passes the driver-side checks and is only
    // caught after growth_check's first job, while its siblings run
    val df = ((1 to 50).map(i => (0L, s"u$i", i.toDouble)) ++
      (1 to 50).map(i => (2000000L, s"v$i", i.toDouble)))
      .toDF("day", "user", "amount")
    val failing = QualitySpec(
      nullCheckColumns = Seq("user"),
      fdChecks = Seq(FdCheck(Seq("user"), "day")),
      benfordChecks = Seq(BenfordCheck("amount")),
      hhiChecks = Seq(HhiCheck(Seq("day"), "user")),
      growthChecks = Seq(GrowthCheck("day", "user")),
      overlapChecks = Seq(OverlapCheck("day", "user", 64, 500000L)))
    val e = the[IllegalArgumentException] thrownBy
      Orchestrator.run(df, failing)
    e.getMessage shouldBe "growth_check growth(user)@k64 by day: day span " +
      "0..2000000 exceeds 1e6 days - day_column must be integral " +
      "EPOCH-DAYS (datediff-style), not epoch seconds/millis"
    Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith(Orchestrator.ThreadPrefix) &&
        t.isAlive) shouldBe empty
    spark.sparkContext.getJobTags()
      .filter(_.startsWith(Orchestrator.ThreadPrefix)) shouldBe empty
    df.storageLevel shouldBe StorageLevel.NONE
  }

  test("every job of the pass carries the caller's local properties") {
    val sc = spark.sparkContext
    sc.setJobGroup("quality-caller", "caller's job group")
    sc.setLocalProperty("graft.test.caller", "c1")
    val (r, sample) =
      try measure(spark)(
        Orchestrator.run(dirty, grouped, anomalyColumns = Seq("fare")))
      finally {
        sc.clearJobGroup()
        sc.setLocalProperty("graft.test.caller", null)
      }
    val jobs = sample.jobs.map(_.properties)
    r.get.checkResults.map(_.check) should contain allOf (
      "fd_check", "hhi_check")
    jobs should not be empty
    jobs.map(_.getProperty("spark.jobGroup.id")).distinct shouldBe
      Seq("quality-caller")
    jobs.map(_.getProperty("graft.test.caller")).distinct shouldBe Seq("c1")
  }

  test("the pass leaves its input's storage level as it found it") {
    val df = dirty
    Orchestrator.run(df, grouped, anomalyColumns = Seq("fare")).rows shouldBe 5
    df.storageLevel shouldBe StorageLevel.NONE
    val cached = dirty.persist(StorageLevel.MEMORY_ONLY)
    try {
      cached.count()
      Orchestrator.run(cached, grouped, anomalyColumns = Seq("fare"))
        .rows shouldBe 5
      cached.storageLevel shouldBe StorageLevel.MEMORY_ONLY
    } finally cached.unpersist()
  }

  test("sketch-space gate families over one frame: hand-derived counts") {
    // six sketch families from one YAML block, every sketch sized to hold
    // its set whole so each count is derivable by hand
    val cfg = ConfigLoader.parse(
      """version: "1.0"
        |pipeline:
        |  name: sketch_gates
        |quality:
        |  ks_checks:
        |    - {type_column: g, id_column: id, value_column: v,
        |       k: 32, max_ks_e6: 400000}
        |  growth_checks:
        |    - {day_column: day, item_column: id, k: 64,
        |       min_new_per_day: 3, warmup_days: 1}
        |  containment_checks:
        |    - {a_type_column: g, b_type_column: g, item_column: id,
        |       k: 64, max_containment_e6: 500000}
        |  quantile_checks:
        |    - {group_by: [g], value_column: v, bin_width: 100,
        |       q_e6: 500000, max_value: 500}
        |  distinct_checks:
        |    - {group_by: [g], item_column: id, k: 64, min_count: 12}
        |  overlap_checks:
        |    - {type_column: g, item_column: id, k: 64,
        |       max_jaccard_e6: 300000}
        |""".stripMargin)
    // a and b share a value multiset (D = 0); c's values are disjoint
    // (D = 1.0 vs both). In id space a is 8/10 inside c (containment
    // 800000 fails the 500000 cap); every other ordered pair is low.
    // Day curve: d10 bootstrap, d11 +10 new, d12 +1, d13 silent, d14 +2
    // → 3 growth failures past the 1-day warmup at floor 3. Group z has
    // only null ids: its empty sketch estimates 0.
    val df = ((1 to 8).map(i => ("a", s"u$i", (i % 5).toLong, 10L)) ++
      Seq(("a", "ax1", 3L, 10L), ("a", "ax2", 4L, 10L)) ++
      (1 to 8).map(i => ("b", s"b$i", (i % 5).toLong, 10L)) ++
      Seq(("b", "bx1", 3L, 10L), ("b", "bx2", 4L, 10L)) ++
      (1 to 8).map(i => ("c", s"u$i", 1000L + i, 10L)) ++
      (1 to 2).map(j => ("c", s"c$j", 1008L + j, 10L)) ++
      (3 to 12).map(j => ("c", s"c$j", 1008L + j, 11L)) ++
      Seq(("c", "c13", 1021L, 12L), ("a", "u1", 1L, 12L),
        ("c", "c14", 1022L, 14L), ("c", "c15", 1023L, 14L),
        ("z", null.asInstanceOf[String], 5L, 14L)))
      .toDF("g", "id", "v", "day")
    val counts = Orchestrator.run(df, cfg.quality).checkResults
      .filter(_.check.matches("(ks|growth|containment|quantile|distinct|overlap)_check"))
      .map(r => r.check -> r.failedCount)
    counts.toMap shouldBe Map(
      "ks_check" -> 2L,          // (a, c) and (b, c)
      "growth_check" -> 3L,      // d12 +1, silent d13, d14 +2
      "containment_check" -> 1L, // a inside c
      "quantile_check" -> 1L,    // c's median bin starts at 1000 > 500
      "distinct_check" -> 3L,    // a 10, b 10, z 0 under 12; c 23 passes
      "overlap_check" -> 1L)     // (a, c) jaccard 8/25 = 320000
    counts should have size 6
  }
}
