package graft.ops

import graft.SparkSpec

class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("keySkewProfile: counts, shares, ratio, salt factor, tie order") {
    val rows = (
      (1 to 6).map(_ => Some(7L)) ++   // hot key: 6 rows
      (1 to 3).map(_ => Some(2L)) ++   // warm: 3
      (1 to 3).map(_ => Some(9L)) ++   // warm tie: 3
      Seq(Some(5L), None)              // cold + null key
    ).zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "v")
    val out = Scale.keySkewProfile(rows, Seq("k"), topK = 3,
      targetPartitionRows = 2L).orderBy("rnk").collect()
    // n_rows=14, n_keys=5, max_cnt=6
    out.map(r => (Option(r.getAs[java.lang.Long]("k")).map(_.toLong),
      r.getAs[Long]("rnk"), r.getAs[Long]("cnt"),
      r.getAs[Long]("share_e6"))).toSeq shouldBe Seq(
      (Some(7L), 1L, 6L, 428571L),
      // tie at cnt=3 breaks by key asc: 2 before 9
      (Some(2L), 2L, 3L, 214285L),
      (Some(9L), 3L, 3L, 214285L))
    val r0 = out.head
    r0.getAs[Long]("n_rows") shouldBe 14L
    r0.getAs[Long]("n_keys") shouldBe 5L
    // max/avg = 6 / (14/5): 6*5*1e6 div 14
    r0.getAs[Long]("skew_ratio_e6") shouldBe 2142857L
    // cap the hot key at 2 rows/task: ceil(6/2) = 3
    r0.getAs[Long]("salt_factor") shouldBe 3L
  }

  test("keySkewProfile: null key counts like any key and ranks first on ties") {
    val rows = (Seq(None, None, Some(1L), Some(1L))).zipWithIndex
      .map { case (k, i) => (k, i.toLong) }.toDF("k", "v")
    val out = Scale.keySkewProfile(rows, Seq("k"), topK = 2).collect()
    // both keys have cnt=2; Spark asc puts null first — rnk 1 is the null key
    out.find(_.getAs[Long]("rnk") == 1L).get.isNullAt(0) shouldBe true
    out.find(_.getAs[Long]("rnk") == 2L).get.getAs[Long]("k") shouldBe 1L
    out.foreach(_.getAs[Long]("cnt") shouldBe 2L)
  }

  test("zorderKey2: hand-computed interleave, quadrant cells, range guard") {
    import org.apache.spark.sql.functions.col
    // x=3 (bits 0,1 → even slots 0,2) = 5; y=5 (bits 0,2 → odd slots
    // 1,5) = 34; z = 39. The unit square orders 0,1,2,3.
    val df = Seq((3L, 5L), (0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L))
      .toDF("x", "y")
    val z = df.select(Scale.zorderKey2(col("x"), col("y"), 3).as("z"))
      .collect().map(_.getLong(0)).toSeq
    z shouldBe Seq(39L, 0L, 1L, 2L, 3L)
    // level-1 cells are the four quadrants
    val quads = Seq((0L, 0L), (7L, 0L), (0L, 7L), (7L, 7L)).toDF("x", "y")
      .select(Scale.zorderCell(
        Scale.zorderKey2(col("x"), col("y"), 3), 3, 1).as("c"))
      .collect().map(_.getLong(0)).toSeq
    quads shouldBe Seq(0L, 1L, 2L, 3L)
    // out-of-range input raises instead of interleaving garbage
    an[Exception] should be thrownBy
      Seq((8L, 0L)).toDF("x", "y")
        .select(Scale.zorderKey2(col("x"), col("y"), 3)).collect()
    an[IllegalArgumentException] should be thrownBy
      Scale.zorderKey2(col("x"), col("y"), 40)
  }

  test("zorderLayoutReport: every tile bounds BOTH dimensions within its square") {
    import org.apache.spark.sql.functions.col
    val pts = (for (x <- 0L until 64L; y <- 0L until 64L if (x + y) % 7 == 0)
      yield (x, y)).toDF("x", "y")
    val rep = Scale.zorderLayoutReport(pts, "x", "y", bits = 6, level = 2)
      .collect()
    rep.length should be <= 16 // 4^2 tiles
    val side = 1L << (6 - 2) // 16-wide squares
    all(rep.map(r => r.getAs[Long]("x_max") - r.getAs[Long]("x_min"))) should
      be < side
    all(rep.map(r => r.getAs[Long]("y_max") - r.getAs[Long]("y_min"))) should
      be < side
  }

  test("skippingReport: disjoint-stats units skip, boundary overlap and null stats do not") {
    import org.apache.spark.sql.functions.{col, expr}
    // units 0..3 hold values [u*10, u*10+9]; predicate [15, 24] overlaps
    // units 1 and 2 only (unit 1 via 15..19, unit 2 via 20..24)
    val rows = (0L until 40L).map(v => (v / 10L, v)).toDF("unit", "v")
    val r = Scale.skippingReport(rows, col("unit"), col("v"), 15L, 24L).head()
    r.getAs[Long]("n_units") shouldBe 4L
    r.getAs[Long]("skipped_units") shouldBe 2L // units 0 and 3
    r.getAs[Long]("total_rows") shouldBe 40L
    r.getAs[Long]("skipped_rows") shouldBe 20L
    r.getAs[Long]("skip_e6") shouldBe 500000L
    // boundary touch is NOT skippable: unit max == lo
    val touch = Seq((0L, 14L), (0L, 15L)).toDF("unit", "v")
    Scale.skippingReport(touch, col("unit"), col("v"), 15L, 24L)
      .head().getAs[Long]("skipped_units") shouldBe 0L
    // an all-null-stats unit must still be scanned
    val withNull = Seq((0L, Some(1L)), (1L, None)).toDF("unit", "v")
    val rn = Scale.skippingReport(withNull, col("unit"),
      expr("v"), 15L, 24L).head()
    rn.getAs[Long]("skipped_units") shouldBe 1L // unit 0 (max 1 < 15) only
  }

  test("fanOut: widens a low-parallelism input, identity when already parallel") {
    val par = spark.sparkContext.defaultParallelism
    // a 1-partition input (the single-file/single-row-group scan shape)
    // must widen to the session parallelism, preserving rows exactly
    val narrow = spark.range(0, 100, 1, numPartitions = 1).toDF("id")
    val fanned = Scale.fanOut(narrow)
    fanned.rdd.getNumPartitions shouldBe par
    fanned.select(org.apache.spark.sql.functions.sum("id")).head().getLong(0) shouldBe 4950L
    // an input already at (or past) core parallelism is returned AS IS —
    // no repartition node, no exchange added
    val wide = spark.range(0, 100, 1, numPartitions = par).toDF("id")
    val same = Scale.fanOut(wide)
    (same eq wide) shouldBe true
    // a filter written ABOVE fanOut is planned BELOW its exchange (Catalyst
    // pushes deterministic filters through Repartition): it runs in the
    // narrow scan stage, not wide
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val filtered = fanned.filter(org.apache.spark.sql.functions.col("id") % 3 === 0)
    val exchange = filtered.queryExecution.sparkPlan
      .collectFirst { case e: ShuffleExchangeExec => e }
    exchange shouldBe defined
    exchange.get.child.collectFirst { case f: FilterExec => f } shouldBe defined
    filtered.count() shouldBe 34L
  }
}
