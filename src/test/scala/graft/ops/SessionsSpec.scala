package graft.ops

import graft.SparkSpec
import graft.obs.Probe.measure
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

class SessionsSpec extends SparkSpec {
  import spark.implicits._

  // (user, event_id, ts_us, value): user 1 has two sessions split by a
  // >30 min gap; user 2 has one single-event session.
  private def events = Seq(
    (1L, 10L, 1000000000L, 1.5),
    (1L, 11L, 1060000000L, 2.0), // +60s, same session
    (1L, 12L, 4000000000L, 0.25), // +49 min, new session
    (2L, 20L, 500000000L, 3.0))
    .toDF("user_id", "event_id", "ts_us", "value")

  test("sessionize splits on gap and numbers sessions per key in time order") {
    val out = Sessions.sessionize(events, "user_id", "ts_us", "event_id", 1800L)
      .orderBy("user_id", "ts_us")
      .select("user_id", "event_id", "session_seq").collect()
    out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq shouldBe
      Seq((1L, 10L, 1L), (1L, 11L, 1L), (1L, 12L, 2L), (2L, 20L, 1L))
  }

  test("sessionStats rolls up count, span, exact micro-unit value sum") {
    val out = Sessions.sessionStats(events, "user_id", "ts_us", "event_id",
      "value", 1800L).orderBy("user_id", "session_seq").collect()
    out.map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_seq"),
      r.getAs[Long]("n_events"), r.getAs[Long]("duration_sec"),
      r.getAs[Long]("value_sum_e6"))).toSeq shouldBe Seq(
      (1L, 1L, 2L, 60L, 3500000L),
      (1L, 2L, 1L, 0L, 250000L),
      (2L, 1L, 1L, 0L, 3000000L))
  }

  test("funnel: conversion at/after first entry, sentinels otherwise") {
    val ev = Seq(
      // session A: click@100 → purchase@300: converted, ttc 200
      (1L, 1L, 100L, "click"), (1L, 2L, 200L, "view"),
      (1L, 3L, 300L, "purchase"),
      // session B (same user, after gap): purchase BEFORE the click — the
      // at-or-after rule must NOT count it
      (1L, 4L, 10000000000L, "purchase"), (1L, 5L, 10000000100L, "click"),
      // user 2: clicks only → unconverted
      (2L, 6L, 100L, "click"),
      // user 3: purchase only, no entry → unconverted
      (3L, 7L, 100L, "purchase"))
      .toDF("user_id", "event_id", "ts_us", "event_type")
    val out = Sessions.funnel(ev, "user_id", "ts_us", "event_id",
        "event_type", "click", "purchase", gapSec = 1800L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Boolean]("converted"), r.getAs[Long]("time_to_convert_us")))
      .toMap
    out((1L, 1L)) shouldBe ((true, 200L))
    out((1L, 2L)) shouldBe ((false, -1L)) // purchase precedes the click
    out((2L, 1L)) shouldBe ((false, -1L))
    out((3L, 1L)) shouldBe ((false, -1L)) // no entry at all
  }

  test("boundary gap exactly equal to gapSec does NOT split") {
    val ev = Seq((1L, 1L, 0L, 1.0), (1L, 2L, 1800000000L, 1.0))
      .toDF("user_id", "event_id", "ts_us", "value")
    val out = Sessions.sessionize(ev, "user_id", "ts_us", "event_id", 1800L)
      .agg(org.apache.spark.sql.functions.max(col("session_seq"))).head().getLong(0)
    out shouldBe 1L
  }

  test("transitionMatrix: lagged pair counts with start pseudo-state and exact row probabilities") {
    // u1: a,b,a → ^→a, a→b, b→a; u2: a,a → ^→a, a→a
    val ev = Seq(
      (1L, 10L, 1L, "a"), (1L, 20L, 2L, "b"), (1L, 30L, 3L, "a"),
      (2L, 10L, 4L, "a"), (2L, 20L, 5L, "a"))
      .toDF("user_id", "ts_us", "event_id", "event_type")
    val m = Sessions.transitionMatrix(ev, "user_id", "ts_us", "event_id",
      "event_type").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n"), r.getAs[Long]("p_e6"))).toMap
    m(("^", "a")) shouldBe ((2L, 1000000L))
    m(("a", "b")) shouldBe ((1L, 500000L))
    m(("a", "a")) shouldBe ((1L, 500000L))
    m(("b", "a")) shouldBe ((1L, 1000000L))
    m should have size 4
  }

  test("intervalUnion merges overlapping/touching/nested intervals per key") {
    val iv = Seq(
      (1L, 0L, 10L),    // island 1: [0,10]
      (1L, 5L, 20L),    //   overlaps → extends to 20
      (1L, 20L, 25L),   //   touches (start == prev end) → merges to 25
      (1L, 21L, 23L),   //   nested → no extension
      (1L, 40L, 50L),   // island 2
      (2L, 0L, 5L))     // other key untouched
      .toDF("k", "s", "e")
    val out = Sessions.intervalUnion(iv, "k", "s", "e")
      .orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    out shouldBe Array((1L, 2L, 35L), (2L, 1L, 5L)) // 25 + 10, 5
    // invalid interval raises in-plan instead of shrinking coverage
    an[Exception] should be thrownBy
      Sessions.intervalUnion(Seq((1L, 10L, 5L)).toDF("k", "s", "e"),
        "k", "s", "e").collect()
  }

  test("funnelSteps: strictly-after earliest-completion frontier semantics") {
    import spark.implicits._
    val ev = Seq(
      // user 1: full ordered funnel
      (1L, 10L, 1L, "view"), (1L, 20L, 2L, "click"), (1L, 30L, 3L, "purchase"),
      // user 2: purchase BEFORE click - stage 3 not reached
      (2L, 10L, 4L, "view"), (2L, 30L, 5L, "click"), (2L, 20L, 6L, "purchase"),
      // user 3: click precedes the first view - stage 2 not reached
      (3L, 20L, 7L, "view"), (3L, 10L, 8L, "click"),
      // user 4: same-ts view/click resolved by the event-id tiebreak
      (4L, 10L, 9L, "view"), (4L, 10L, 10L, "click"), (4L, 11L, 11L, "purchase"))
      .toDF("user_id", "ts_us", "event_id", "event_type")
    val out = graft.ops.Sessions.funnelSteps(ev, "user_id", "ts_us",
        "event_id", "event_type", Seq("view", "click", "purchase"))
      .orderBy("stage").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    out.toSeq shouldBe Seq(
      (1L, "view", 4L, 1000000L),
      (2L, "click", 3L, 750000L),     // users 1, 2, 4
      (3L, "purchase", 2L, 666666L))  // users 1, 4
  }

  test("funnelStepsBy: per-segment funnels, dead segments report zeros") {
    import spark.implicits._
    val ev = Seq(
      // segment 0: u1 full funnel, u2 stops at click
      (1L, 0L, 10L, 1L, "view"), (1L, 0L, 20L, 2L, "click"),
      (1L, 0L, 30L, 3L, "purchase"),
      (2L, 0L, 10L, 4L, "view"), (2L, 0L, 20L, 5L, "click"),
      // segment 1: u3 only views — the funnel dies at stage 2
      (3L, 1L, 10L, 6L, "view"))
      .toDF("user_id", "seg", "ts_us", "event_id", "event_type")
    val out = graft.ops.Sessions.funnelStepsBy(ev, "user_id", "ts_us",
        "event_id", "event_type", Seq("view", "click", "purchase"), "seg")
      .orderBy("segment", "stage").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4)))
    out.toSeq shouldBe Seq(
      (0L, 1L, "view", 2L, 1000000L),
      (0L, 2L, "click", 2L, 1000000L),
      (0L, 3L, "purchase", 1L, 500000L),
      (1L, 1L, "view", 1L, 1000000L),
      (1L, 2L, "click", 0L, 0L), // a zero ROW, not a missing one
      (1L, 3L, "purchase", 0L, 0L))
    // per-segment results agree with running funnelSteps on the slice
    val seg0 = graft.ops.Sessions.funnelSteps(ev.filter($"seg" === 0L),
      "user_id", "ts_us", "event_id", "event_type",
      Seq("view", "click", "purchase"))
      .orderBy("stage").collect()
      .map(r => (r.getLong(2), r.getLong(3))).toSeq
    out.filter(_._1 == 0L).map(t => (t._4, t._5)).toSeq shouldBe seg0
  }

  test("funnelStepsWindowed: a LATER stage-1 occurrence converts where the earliest-frontier greedy fails") {
    import spark.implicits._
    val ev = Seq(
      // u1: view@0 too old for click@105s under a 10s gap, but view@100s
      // is in window; purchase@112s is within 10s of the click → full
      // chain. funnelSteps' earliest frontier would also pass here, so
      // u1 alone doesn't separate — u2 does:
      (1L, 0L, 1L, "view"), (1L, 100000000L, 2L, "view"),
      (1L, 105000000L, 3L, "click"), (1L, 112000000L, 4L, "purchase"),
      // u2: ONLY view@0, click@105s → no chain under the 10s gap though
      // the unwindowed funnel converts it at stage 2
      (2L, 0L, 5L, "view"), (2L, 105000000L, 6L, "click"))
      .toDF("user_id", "ts_us", "event_id", "event_type")
    val out = Sessions.funnelStepsWindowed(ev, "user_id", "ts_us",
        "event_id", "event_type", Seq("view", "click", "purchase"),
        maxGapUs = 10000000L)
      .orderBy("stage").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    out.toSeq shouldBe Seq(
      (1L, "view", 2L, 1000000L),
      (2L, "click", 1L, 500000L),      // u1 via the LATER view only
      (3L, "purchase", 1L, 1000000L))
    // the unwindowed funnel counts u2 at stage 2 — the gap cap is what
    // removed it
    Sessions.funnelSteps(ev, "user_id", "ts_us", "event_id",
        "event_type", Seq("view", "click", "purchase"))
      .orderBy("stage").collect().map(_.getLong(2)).toSeq shouldBe
      Seq(2L, 2L, 1L)
  }

  test("funnelStepsWindowed: huge gap ≡ funnelSteps; same-ts tie order chains") {
    import spark.implicits._
    val ev = Seq(
      (1L, 10L, 1L, "view"), (1L, 20L, 2L, "click"), (1L, 30L, 3L, "purchase"),
      (2L, 10L, 4L, "view"), (2L, 30L, 5L, "click"), (2L, 20L, 6L, "purchase"),
      (3L, 20L, 7L, "view"), (3L, 10L, 8L, "click"),
      // same-ts view/click chains by the event-id tiebreak (gap 0 is
      // still within any positive window)
      (4L, 10L, 9L, "view"), (4L, 10L, 10L, "click"), (4L, 11L, 11L, "purchase"))
      .toDF("user_id", "ts_us", "event_id", "event_type")
    val steps = Seq("view", "click", "purchase")
    val wide = Sessions.funnelStepsWindowed(ev, "user_id", "ts_us",
        "event_id", "event_type", steps, maxGapUs = Long.MaxValue / 4)
      .orderBy("stage").collect().map(r => (r.getLong(2), r.getLong(3)))
    val plain = Sessions.funnelSteps(ev, "user_id", "ts_us", "event_id",
        "event_type", steps)
      .orderBy("stage").collect().map(r => (r.getLong(2), r.getLong(3)))
    wide.toSeq shouldBe plain.toSeq
    wide.map(_._1).toSeq shouldBe Seq(4L, 3L, 2L) // u4's tie-order chain counted
  }

  test("timeDecayAttribution: hand-traced power-of-two weights and floor shares") {
    import spark.implicits._
    // conversion at 100 min; touches 5 min old (periods 0) and 65 min
    // old (periods 2) under a 30 min half-life, 120 min window → maxP=4,
    // raw 2^4=16 and 2^2=4, shares 16e6/20 and 4e6/20.
    val m = 60000000L // one minute in µs
    val ev = Seq(
      (1L, 1L, 35 * m, "view"), (1L, 2L, 95 * m, "click"),
      (1L, 3L, 100 * m, "purchase"),
      // u2: single touch at the window boundary: Δ = window → periods =
      // maxP, raw = 1, weight still 1e6
      (2L, 4L, 0L, "view"), (2L, 5L, 120 * m, "purchase"))
      .toDF("user_id", "event_id", "ts_us", "event_type")
    val out = Sessions.timeDecayAttribution(ev, "user_id", "ts_us",
        "event_id", "event_type", "purchase", Seq("view", "click"),
        windowUs = 120 * m, halfLifeUs = 30 * m)
      .orderBy("user_id", "position").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("position"),
        r.getAs[String]("touch_type"), r.getAs[Long]("decay_periods"),
        r.getAs[Long]("weight_e6")))
    out.toSeq shouldBe Seq(
      (1L, 1L, "view", 2L, 200000L),
      (1L, 2L, "click", 0L, 800000L),
      (2L, 1L, "view", 4L, 1000000L))
    // shift-overflow guard is loud
    an[IllegalArgumentException] should be thrownBy
      Sessions.timeDecayAttribution(ev, "user_id", "ts_us", "event_id",
        "event_type", "purchase", Seq("view"),
        windowUs = 41 * m, halfLifeUs = m)
  }

  test("topPaths: per-key ordered n-grams, deterministic rank tiebreak") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, 1L, "a"), (1L, 2L, 2L, "b"), (1L, 3L, 3L, "c"),
      (1L, 4L, 4L, "b"), (1L, 5L, 5L, "c"),
      (2L, 1L, 6L, "a"), (2L, 2L, 7L, "b"), (2L, 3L, 8L, "c"),
      (3L, 1L, 9L, "z")) // too short for any 3-path
      .toDF("user_id", "ts_us", "event_id", "event_type")
    val out = graft.ops.Sessions.topPaths(ev, "user_id", "ts_us",
        "event_id", "event_type", n = 3, k = 10)
      .orderBy("rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    out.toSeq shouldBe Seq(
      ("a>b>c", 2L, 1L),   // users 1 and 2
      ("b>c>b", 1L, 2L),   // lexicographic tiebreak among the 1-counts
      ("c>b>c", 1L, 3L))
  }

  test("lastTouchAttribution: latest in-window touch wins, else direct") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, 1L, "view"),      // touch
      (1L, 5L, 2L, "purchase"),  // -> view@1
      (1L, 7L, 3L, "click"),     // newer touch
      (1L, 9L, 4L, "purchase"),  // -> click@7 (latest wins over view@1)
      (1L, 11L, 5L, "error"),    // not a touch type — never credited
      (1L, 30L, 6L, "purchase"), // click@7 outside the 10-unit window
      (2L, 4L, 7L, "purchase"))  // no touch ever -> direct
      .toDF("user_id", "ts_us", "event_id", "event_type")
    val out = graft.ops.Sessions.lastTouchAttribution(ev, "user_id",
        "ts_us", "event_id", "event_type",
        conversionType = "purchase", touchTypes = Seq("view", "click"),
        windowUs = 10L)
      .collect().map(r => r.getAs[Long]("event_id") ->
        (r.getAs[String]("attributed_type"),
          Option(r.getAs[Any]("touch_ts_us")))).toMap
    out(2L) shouldBe ("view", Some(1L))
    out(4L) shouldBe ("click", Some(7L))
    out(6L) shouldBe ("direct", None)
    out(7L) shouldBe ("direct", None)
    out.size shouldBe 4
  }

  test("multiTouchAttribution: all in-window touches, positions, weights") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, 1L, "view"),
      (1L, 3L, 2L, "click"),
      (1L, 5L, 3L, "purchase"),  // touches: view@1, click@3 — weight 1/2
      (1L, 20L, 4L, "purchase"), // both touches outside the 10-window
      (2L, 4L, 5L, "purchase"))  // never touched
      .toDF("user_id", "ts_us", "event_id", "event_type")
    val out = graft.ops.Sessions.multiTouchAttribution(ev, "user_id",
        "ts_us", "event_id", "event_type",
        conversionType = "purchase", touchTypes = Seq("view", "click"),
        windowUs = 10L)
      .orderBy("conv_tie", "position").collect()
      .map(r => (r.getAs[Long]("conv_tie"), r.getAs[Long]("position"),
        r.getAs[String]("touch_type"), r.getAs[Long]("n_touches"),
        r.getAs[Long]("weight_e6")))
    out.toSeq shouldBe Seq(
      (3L, 1L, "view", 2L, 500000L),
      (3L, 2L, "click", 2L, 500000L))
    // the last-touch view: same data, the single-credit form agrees with
    // the highest-position multi-touch row
    val last = graft.ops.Sessions.lastTouchAttribution(ev, "user_id",
        "ts_us", "event_id", "event_type", "purchase",
        Seq("view", "click"), 10L)
      .filter(col("attributed_type") =!= "direct").collect()
    last.length shouldBe 1
    last(0).getAs[String]("attributed_type") shouldBe "click"
  }

  test("funnelLatency: hand-computed stage transition stats") {
    import spark.implicits._
    val ev = Seq(
      // u1: view@10, click@15 (lat 5), purchase@40 (lat 25)
      (1L, 10L, 1L, "view"), (1L, 15L, 2L, "click"), (1L, 40L, 3L, "purchase"),
      // u2: view@20, click@21 (lat 1) — never purchases
      (2L, 20L, 4L, "view"), (2L, 21L, 5L, "click"),
      // u3: click@5 only — no view, never enters the funnel
      (3L, 5L, 6L, "click"))
      .toDF("user_id", "ts_us", "event_id", "event_type")
    val out = graft.ops.Sessions.funnelLatency(ev, "user_id", "ts_us",
        "event_id", "event_type", Seq("view", "click", "purchase"))
      .orderBy("stage").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), Option(r.getAs[Any]("mean_latency_us"))
          .map(_.asInstanceOf[Long])))
    out(0) shouldBe (2L, "click", 2L, 6L, 5L, Some(3L))
    out(1) shouldBe (3L, "purchase", 1L, 25L, 25L, Some(25L))
    // a step nobody reaches reports zeros and a null mean
    val none = graft.ops.Sessions.funnelLatency(ev, "user_id", "ts_us",
        "event_id", "event_type", Seq("view", "signup"))
      .collect()(0)
    none.getLong(2) shouldBe 0L
    none.isNullAt(5) shouldBe true
  }

  test("entryExitMatrix: first/last per gap-session, tie-broken by id") {
    import spark.implicits._
    val ev = Seq(
      // user 1, session 1: view ... purchase; session 2 (after gap): error only
      (1L, 0L, 1L, "view"), (1L, 1000000L, 2L, "purchase"),
      (1L, 99999000000L, 3L, "error"),
      // user 2: one session, same-ts entry tie -> event_id 4 wins entry
      (2L, 0L, 4L, "click"), (2L, 0L, 5L, "view"), (2L, 1000000L, 6L, "view"))
      .toDF("user_id", "ts_us", "event_id", "event_type")
    val out = graft.ops.Sessions.entryExitMatrix(ev, "user_id", "ts_us",
        "event_id", "event_type", gapSec = 3600L)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    out shouldBe Map(
      ("view", "purchase") -> 1L,
      ("error", "error") -> 1L, // single-event session enters and exits itself
      ("click", "view") -> 1L)
  }

  test("funnelStepsBy: null segment raises a descriptive in-plan error") {
    import spark.implicits._
    // a null byCol used to flow into the driver tally as a null group key
    // and die in an opaque NPE — now it raises with the column named
    val ev = Seq(
      (1L, Some(0L), 10L, 1L, "view"),
      (2L, None: Option[Long], 10L, 2L, "view"))
      .toDF("user_id", "seg", "ts_us", "event_id", "event_type")
    val e = intercept[Exception] {
      graft.ops.Sessions.funnelStepsBy(ev, "user_id", "ts_us",
        "event_id", "event_type", Seq("view"), "seg")
    }
    Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" ") should
      include("funnelStepsBy")
    // an uncastable string segment is the same contract violation
    val bad = Seq((1L, "not-a-long", 10L, 1L, "view"))
      .toDF("user_id", "seg", "ts_us", "event_id", "event_type")
    an[Exception] should be thrownBy
      graft.ops.Sessions.funnelStepsBy(bad, "user_id", "ts_us",
        "event_id", "event_type", Seq("view"), "seg")
  }

  // the funnelSteps case's events plus a return view for user 1 (so a
  // 4-step view → click → purchase → view funnel never empties) and a
  // per-user segment
  private def funnelEvents = Seq(
    (1L, 10L, 1L, "view"), (1L, 20L, 2L, "click"), (1L, 30L, 3L, "purchase"),
    (1L, 40L, 12L, "view"),
    (2L, 10L, 4L, "view"), (2L, 30L, 5L, "click"), (2L, 20L, 6L, "purchase"),
    (3L, 20L, 7L, "view"), (3L, 10L, 8L, "click"),
    (4L, 10L, 9L, "view"), (4L, 10L, 10L, "click"), (4L, 11L, 11L, "purchase"))
    .toDF("user_id", "ts_us", "event_id", "event_type")
    .withColumn("seg", col("user_id") % 2L)

  private val funnelPath = Seq("view", "click", "purchase", "view")

  test("funnelSteps / funnelStepsBy: each extra step adds the same number of jobs") {
    val ev = funnelEvents
    val funnels = Seq[(String, Seq[String] => DataFrame)](
      "funnelSteps" -> (Sessions.funnelSteps(ev, "user_id", "ts_us",
        "event_id", "event_type", _)),
      "funnelStepsBy" -> (Sessions.funnelStepsBy(ev, "user_id", "ts_us",
        "event_id", "event_type", _, "seg")))
    funnels.foreach { case (name, run) =>
      val jobs = (2 to 4).map { n =>
        val (out, sample) = measure(spark)(run(funnelPath.take(n)))
        out.get
        sample.jobs.size
      }
      info(s"$name jobs at 2, 3, 4 steps: $jobs")
      // a stage that re-ran the joins of the stages before it would add
      // more jobs than the stage before it did
      withClue(s"$name jobs at 2, 3, 4 steps: $jobs") {
        jobs(2) - jobs(1) shouldBe jobs(1) - jobs(0)
      }
    }
  }

  test("funnelLatency's n_converted is funnelSteps' n_keys at every stage >= 2") {
    val ev = funnelEvents
    val converted = Sessions.funnelLatency(ev, "user_id", "ts_us",
        "event_id", "event_type", funnelPath)
      .orderBy("stage").collect()
      .map(r => r.getAs[Long]("stage") -> r.getAs[Long]("n_converted")).toSeq
    val reached = Sessions.funnelSteps(ev, "user_id", "ts_us", "event_id",
        "event_type", funnelPath)
      .filter(col("stage") >= 2L).orderBy("stage").collect()
      .map(r => r.getAs[Long]("stage") -> r.getAs[Long]("n_keys")).toSeq
    converted shouldBe reached
    converted.map(_._2) shouldBe Seq(3L, 2L, 1L)
  }
}
