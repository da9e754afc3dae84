package graft.quality

import graft.SparkSpec

class ReconciliationSpec extends SparkSpec {
  import spark.implicits._

  test("snapshotDiff classifies added/removed/changed with null-safe compare") {
    val prev = Seq(
      (1L, Some(10.0), "A"),  // unchanged
      (2L, Some(20.0), "B"),  // price changes
      (3L, None: Option[Double], "C"), // null -> value: changed
      (4L, Some(40.0), "D")   // removed
    ).toDF("k", "price", "st")
    val next = Seq(
      (1L, Some(10.0), "A"),
      (2L, Some(21.0), "B"),
      (3L, Some(3.0), "C"),
      (5L, Some(50.0), "E")   // added
    ).toDF("k", "price", "st")
    val d = Reconciliation.snapshotDiff(prev, next, Seq("k"), Seq("price", "st"))
      .orderBy("k")
      .as[(Long, String, Long, String)].collect()
    d shouldBe Array(
      (2L, "changed", 1L, "price"),
      (3L, "changed", 1L, "price"),
      (4L, "removed", 0L, ""),
      (5L, "added", 0L, ""))
    // emitUnchanged keeps the full key universe
    Reconciliation.snapshotDiff(prev, next, Seq("k"), Seq("price", "st"),
      emitUnchanged = true).count() shouldBe 5L
    // multi-column change lists names in compareCols order
    val both = Reconciliation.snapshotDiff(
      Seq((9L, 1.0, "x")).toDF("k", "price", "st"),
      Seq((9L, 2.0, "y")).toDF("k", "price", "st"),
      Seq("k"), Seq("price", "st"))
      .as[(Long, String, Long, String)].collect()
    both shouldBe Array((9L, "changed", 2L, "price,st"))
  }

  test("applyChangeSet replays a value-carrying diff: apply(prev, diff) == next") {
    val prev = Seq((1L, 10.0, "A"), (2L, 20.0, "B"), (4L, 40.0, "D"))
      .toDF("k", "price", "st")
    val next = Seq((1L, 10.0, "A"), (2L, 21.0, "B"), (5L, 50.0, "E"))
      .toDF("k", "price", "st")
    val diff = Reconciliation.snapshotDiff(prev, next, Seq("k"),
      Seq("price", "st"), emitValues = true)
    // next-side values ride along; removed rows carry nulls
    diff.filter("k = 2").head().getAs[Double]("price") shouldBe 21.0
    diff.filter("k = 4").head().isNullAt(diff.columns.indexOf("price")) shouldBe true
    val applied = Reconciliation.applyChangeSet(prev, diff,
      Seq("k"), Seq("price", "st"))
    applied.exceptAll(next).count() shouldBe 0L
    next.exceptAll(applied).count() shouldBe 0L
  }

  test("snapshotDiff joins co-partitioned: one exchange per side, no broadcast NLJ") {
    val prev = Seq((1L, 1.0)).toDF("k", "v")
    val next = Seq((1L, 2.0)).toDF("k", "v")
    val plan = Reconciliation.snapshotDiff(prev, next, Seq("k"), Seq("v"))
      .queryExecution.executedPlan.toString
    plan should include("FullOuter")
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("scd2History: versioned validity chain, ties kept as zero-length") {
    import spark.implicits._
    val changes = Seq(
      (1L, 100L, 10L, "a"),
      (1L, 101L, 20L, "b"),
      (1L, 102L, 20L, "c"), // same ts as 101 - tie on event_id
      (2L, 200L, 5L, "x"))
      .toDF("user", "eid", "ts_us", "v")
    val out = graft.quality.Reconciliation.scd2History(
        changes, Seq("user"), "ts_us", "eid")
      .orderBy("user", "version")
      .collect().map(r => (r.getAs[Long]("user"), r.getAs[Long]("version"),
        r.getAs[Long]("valid_from_us"),
        Option(r.getAs[Any]("valid_to_us")).map(_.asInstanceOf[Long]),
        r.getAs[Boolean]("is_current"), r.getAs[String]("v")))
    out.toSeq shouldBe Seq(
      (1L, 1L, 10L, Some(20L), false, "a"),
      (1L, 2L, 20L, Some(20L), false, "b"), // zero-length, superseded by tie
      (1L, 3L, 20L, None, true, "c"),
      (2L, 1L, 5L, None, true, "x"))
  }

  test("snapshotAsOf: half-open visibility, zero-length ties invisible") {
    import spark.implicits._
    val changes = Seq(
      (1L, 100L, 10L, "a"), (1L, 101L, 20L, "b"),
      (2L, 200L, 15L, "x"), (2L, 201L, 15L, "y")) // tie at ts 15
      .toDF("user", "eid", "ts_us", "v")
    val hist = graft.quality.Reconciliation.scd2History(
      changes, Seq("user"), "ts_us", "eid")
    def at(t: Long) = graft.quality.Reconciliation.snapshotAsOf(hist, t)
      .collect().map(r => r.getAs[Long]("user") -> r.getAs[String]("v")).toMap
    at(10L) shouldBe Map(1L -> "a")                 // exactly at valid_from
    at(15L) shouldBe Map(1L -> "a", 2L -> "y")      // tie: later eid wins
    at(25L) shouldBe Map(1L -> "b", 2L -> "y")
    at(5L) shouldBe Map.empty
  }

  test("pointInTimeJoin: exactly one version per fact, nulls before history") {
    import spark.implicits._
    // key 1 changes at t=10 (a), 20 (b); tie pair at t=20 keeps the
    // zero-length audit row invisible. key 2 has one version at t=15.
    val changes = Seq(
      (1L, 10L, 1L, "a"), (1L, 20L, 2L, "zz"), (1L, 20L, 3L, "b"),
      (2L, 15L, 4L, "x"))
      .toDF("k", "ts_us", "tie", "state")
    val history = Reconciliation.scd2History(changes, Seq("k"), "ts_us", "tie")
      .select("k", "state", "valid_from_us", "valid_to_us", "version")
    val facts = Seq(
      (1L, 100L, 5L),   // before any version -> nulls
      (1L, 101L, 12L),  // inside [10, 20) -> a / v1
      (1L, 102L, 20L),  // at the change instant -> b / v3 (tie invisible)
      (1L, 103L, 99L),  // open tail -> b
      (2L, 104L, 15L),  // own start instant is visible
      (3L, 105L, 50L))  // no history at all -> nulls, row kept
      .toDF("k", "fact_id", "at_us")
    val out = Reconciliation.pointInTimeJoin(facts, history, Seq("k"), "at_us")
    out.count() shouldBe 6L // one row per fact — never duplicated or lost
    val byFact = out.collect().map(r =>
      r.getAs[Long]("fact_id") ->
        (Option(r.getAs[String]("dim_state")),
          Option(r.getAs[Any]("dim_version")))).toMap
    byFact(100L)._1 shouldBe None
    byFact(101L)._1 shouldBe Some("a")
    byFact(102L)._1 shouldBe Some("b")
    byFact(103L)._1 shouldBe Some("b")
    byFact(104L)._1 shouldBe Some("x")
    byFact(105L) shouldBe (None, None)
  }

  test("distinctSketchReport: matched layers pass, a drained layer fails") {
    import spark.implicits._
    val src = (1 to 50).map(i => s"u$i").toDF("u")
    // same distinct set, duplicated rows → identical sketches, diff 0
    val same = Reconciliation.distinctSketchReport(
      src, src.union(src), "u", k = 64, toleranceE6 = 100000L).head()
    same.getAs[String]("check_name") shouldBe "kmv_distinct(u)"
    same.getAs[Long]("est_src") shouldBe 50L
    same.getAs[Long]("est_tgt") shouldBe 50L
    same.getAs[Long]("diff_e6") shouldBe 0L
    same.getAs[Boolean]("within_tolerance") shouldBe true
    // target lost 60% of its distinct mass → 600000 e6, outside 10%
    val drained = Reconciliation.distinctSketchReport(
      src, src.limit(20), "u", k = 64, toleranceE6 = 100000L).head()
    drained.getAs[Long]("est_tgt") shouldBe 20L
    drained.getAs[Long]("diff_e6") shouldBe 600000L
    drained.getAs[Boolean]("within_tolerance") shouldBe false
    // EMPTY target (all rows vanished): est 0, gap reads as 100%, fails
    val empty = Reconciliation.distinctSketchReport(
      src, src.filter("false"), "u", k = 64, toleranceE6 = 500000L).head()
    empty.getAs[Long]("est_tgt") shouldBe 0L
    empty.getAs[Long]("diff_e6") shouldBe 1000000L
    empty.getAs[Boolean]("within_tolerance") shouldBe false
  }
}
