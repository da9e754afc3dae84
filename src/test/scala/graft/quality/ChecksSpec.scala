package graft.quality

import graft.SparkSpec
import graft.config._
import org.apache.spark.sql.DataFrame

class ChecksSpec extends SparkSpec {
  import spark.implicits._

  /** The spec's checks and expectations as `Orchestrator.run` computes
    * them: its [[Checks.profilePlan]] read off one fused aggregate row. */
  private def profile(df: DataFrame, spec: QualitySpec)
      : (Seq[Checks.CheckResult], Seq[Checks.ExpectationResult]) = {
    val p = Checks.profilePlan(df, spec)
    p.read(Checks.aggregate(df, p.aggs).head())
  }

  private def dirty = Seq(
    (Some(1.0), Some("click"), 5),
    (None, Some("view"), -2),
    (Some(-3.0), None, 0),
    (Some(200.0), Some("bogus"), 7))
    .toDF("value", "etype", "qty")

  test("profilePlan fuses all checks into one pass and reports per-check counts") {
    val (results, _) = profile(dirty, QualitySpec(
      nullCheckColumns = Seq("value", "etype", "ghost"),
      positiveColumns = Seq("qty"),
      rangeChecks = Seq(RangeCheck("value", Some(0.0), Some(100.0))),
      inSetChecks = Seq(InSetCheck("etype", Seq("click", "view")))))
    results.map(r => (r.check, r.column) -> r.failedCount).toMap shouldBe Map(
      ("null_check", "value") -> 1L,
      ("null_check", "etype") -> 1L,
      ("positive_values", "qty") -> 2L,
      ("range_check", "value") -> 2L,
      ("in_set", "etype") -> 1L)
  }

  test("completenessByGroup: long-form rates per stratum, null group kept") {
    val df = Seq(
      (Some("a"), Some(1.0), Some(10L)),
      (Some("a"), None, Some(11L)),
      (Some("b"), None, None),
      (None: Option[String], Some(3.0), None: Option[Long]))
      .toDF("g", "v", "k")
    val out = Checks.completenessByGroup(df, Seq("v", "k", "missing"), "g")
      .collect()
      .map(r => (Option(r.getString(0)).getOrElse("<null>"), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    out(("a", "v")) shouldBe ((2L, 1L, 500000L))
    out(("a", "k")) shouldBe ((2L, 0L, 0L))
    out(("b", "v")) shouldBe ((1L, 1L, 1000000L)) // 100% null IN b only
    out(("<null>", "k")) shouldBe ((1L, 1L, 1000000L)) // null group kept
    out.keySet.map(_._2) shouldBe Set("v", "k") // absent column skipped
  }

  test("completenessByGroup survives hostile column names (escaping)") {
    // a hyphen/space/quote in a column name must not break or misparse the
    // generated stack() SQL
    val df = Seq((Some("a"), Some(1.0), Option.empty[Long]),
      (Some("a"), None, Some(2L)))
      .toDF("g", "my-col", "it's a col")
    val out = Checks.completenessByGroup(
      df, Seq("my-col", "it's a col"), "g").collect()
      .map(r => r.getString(1) -> (r.getLong(3), r.getLong(4))).toMap
    out("my-col") shouldBe ((1L, 500000L))
    out("it's a col") shouldBe ((1L, 500000L))
  }

  test("zero-row input reports 0 failures, not NPE") {
    val empty = dirty.where("qty > 1000")
    val (results, _) = profile(empty, QualitySpec(nullCheckColumns = Seq("value")))
    results.head.failedCount shouldBe 0L
    results.head.passed shouldBe true
  }

  test("all requested columns missing → clear error, not NoSuchElement") {
    val e = the[IllegalArgumentException] thrownBy
      Checks.nullCounts(dirty, Seq("ghost1", "ghost2"))
    e.getMessage should include("none of the requested columns")
  }

  test("helpers report per-column counts in one row") {
    val row = Checks.rangeViolations(dirty,
      Seq(RangeCheck("value", Some(0.0), Some(100.0)))).head()
    row.getLong(0) shouldBe 1L // below min: -3
    row.getLong(1) shouldBe 1L // above max: 200
  }

  test("aggregate expectations: mean/row-count/unique-count between bounds") {
    ChecksTwins.meanBetween(dirty, "qty", 0.0, 10.0).passed shouldBe true
    ChecksTwins.meanBetween(dirty, "qty", 100.0, 200.0).passed shouldBe false
    ChecksTwins.rowCountBetween(dirty, 1, 10).passed shouldBe true
    ChecksTwins.rowCountBetween(dirty, 100, 200).passed shouldBe false
    val u = ChecksTwins.uniqueCountBetween(dirty, "etype", 1, 2)
    u.observed shouldBe 3.0 // click, view, bogus (null not counted)
    u.passed shouldBe false
  }

  test("profile fuses checks AND expectations into one aggregate row") {
    val spec = QualitySpec(
      nullCheckColumns = Seq("value"),
      positiveColumns = Seq("qty"),
      expectations = Seq(
        ExpectationSpec("mean_between", "qty", 0.0, 10.0),
        ExpectationSpec("row_count_between", lo = 1, hi = 10),
        ExpectationSpec("unique_count_between", "etype", 1, 2),
        ExpectationSpec("mean_between", "ghost", 0, 1))) // missing col: skipped
    val (checks, exps) = profile(dirty, spec)

    checks.map(c => (c.check, c.column, c.failedCount)) shouldBe
      Seq(("null_check", "value", 1L), ("positive_values", "qty", 2L))
    // expectation results identical to the standalone Q5-Q7 functions
    exps should have length 3
    exps(0) shouldBe ChecksTwins.meanBetween(dirty, "qty", 0.0, 10.0)
    exps(1) shouldBe ChecksTwins.rowCountBetween(dirty, 1, 10)
    exps(2) shouldBe ChecksTwins.uniqueCountBetween(dirty, "etype", 1, 2)
  }

  test("profile throws on an unknown expectation kind instead of skipping it") {
    val e = the[IllegalArgumentException] thrownBy Checks.profilePlan(dirty,
      QualitySpec(expectations = Seq(ExpectationSpec("mean_betwen", "qty", 0, 1))))
    e.getMessage should include("unknown expectation kind")
  }

  test("profile on empty input: counts are 0 and mean fails closed (NaN)") {
    val empty = dirty.where("qty > 1000")
    val (checks, exps) = profile(empty, QualitySpec(
      nullCheckColumns = Seq("value"),
      expectations = Seq(
        ExpectationSpec("mean_between", "qty", 0.0, 10.0),
        ExpectationSpec("row_count_between", lo = 0, hi = 10))))
    checks.head.failedCount shouldBe 0L
    exps(0).observed.isNaN shouldBe true
    exps(0).passed shouldBe false // NaN never passes bounds
    exps(1).observed shouldBe 0.0
    exps(1).passed shouldBe true
  }

  test("regex check counts non-matching non-null values; nulls are not failures") {
    val df = Seq(Some("ab-1"), Some("zz-9"), None).toDF("code")
    Checks.regexMatchCounts(df, Seq(RegexCheck("code", "^[a-y]{2}-[0-9]$")))
      .head().getLong(0) shouldBe 1L // zz-9 fails; the null is not counted
    // the spec path fuses regex checks into the same single-pass aggregate
    val (res, _) = profile(df, QualitySpec(
      regexChecks = Seq(RegexCheck("code", "^[a-y]{2}-[0-9]$"),
        RegexCheck("missing_col", ".*"))))
    res.map(c => (c.check, c.column, c.failedCount)) shouldBe
      Seq(("regex_match", "code", 1L)) // missing column skipped gracefully
    // unanchored search semantics: substring match passes
    Checks.regexMatchCounts(df, Seq(RegexCheck("code", "-")))
      .head().getLong(0) shouldBe 0L
  }

  test("fdViolations: null-aware contradictions; holding FD is empty") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("x")), (1L, Some("x")),          // consistent
      (2L, Some("x")), (2L, Some("y")),          // 2 values
      (3L, Some("x")), (3L, None),               // value + null = 2 facts
      (4L, None), (4L, None))                    // consistently null - holds
      .toDF("k", "v")
    val out = graft.quality.Checks.fdViolations(df, Seq("k"), "v")
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    out.toSeq shouldBe Seq((2L, 2L, 2L), (3L, 2L, 2L))
    graft.quality.Checks.fdViolations(
      df.filter("k = 1 or k = 4"), Seq("k"), "v").count() shouldBe 0L
  }
}
