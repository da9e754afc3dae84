package graft.maintenance

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("zValue: hand-traced interleave, zero identities, input guard") {
    // x=3 (bits 0,1 -> z bits 0,2), y=5 (bits 0,2 -> z bits 1,5):
    // z = 1 + 4 + 2 + 32 = 39
    val out = Seq((3L, 5L)).toDF("x", "y")
      .select(Layout.zValue(col("x"), col("y")).as("z"))
      .collect()(0).getLong(0)
    out shouldBe 39L
    // one-sided interleaves: x alone on even bits, y alone on odd
    Seq((7L, 0L)).toDF("x", "y")
      .select(Layout.zValue(col("x"), col("y"))).collect()(0)
      .getLong(0) shouldBe 21L // 0b10101
    Seq((0L, 7L)).toDF("x", "y")
      .select(Layout.zValue(col("x"), col("y"))).collect()(0)
      .getLong(0) shouldBe 42L // 0b101010
    // the top valid bit survives exactly: x = 2^30
    Seq(((1L << 30), 0L)).toDF("x", "y")
      .select(Layout.zValue(col("x"), col("y"))).collect()(0)
      .getLong(0) shouldBe (1L << 60)
    // out-of-domain inputs raise rather than silently colliding
    an[Exception] should be thrownBy
      Seq((-1L, 0L)).toDF("x", "y")
        .select(Layout.zValue(col("x"), col("y"))).collect()
    an[Exception] should be thrownBy
      Seq(((1L << 31), 0L)).toDF("x", "y")
        .select(Layout.zValue(col("x"), col("y"))).collect()
  }

  test("zCellStats: a full grid tiles into exact quadtree cells") {
    // 64x64 grid, cellShift 6 -> cells of side 8 in each dimension:
    // exactly 64 cells, each holding 64 rows with span 7 in BOTH dims —
    // the bounded-both-dimensions property a 1-D sort cannot give
    val grid = (for { x <- 0 until 64; y <- 0 until 64 }
      yield (x.toLong, y.toLong)).toDF("x", "y")
    val cells = Layout.zCellStats(grid, "x", "y", cellShift = 6).collect()
    cells.length shouldBe 64
    all(cells.map(_.getAs[Long]("n"))) shouldBe 64L
    all(cells.map(_.getAs[Long]("span_x"))) shouldBe 7L
    all(cells.map(_.getAs[Long]("span_y"))) shouldBe 7L
    // null coordinates are dropped, not crashed on or binned
    val withNull = Seq((Some(1L), Some(2L)), (None, Some(3L)))
      .toDF("x", "y")
    Layout.zCellStats(withNull, "x", "y", 0)
      .agg(sum("n")).collect()(0).getLong(0) shouldBe 1L
  }

  test("rendezvousShard: in range, deterministic, n=1 degenerate") {
    val keys = (0L until 200L).toDF("k")
    val a = keys.select(Layout.rendezvousShard(col("k"), 8).as("s"))
      .collect().map(_.getLong(0))
    a.forall(s => s >= 0 && s < 8) shouldBe true
    a.distinct.sorted shouldBe (0L until 8L).toArray // every shard used
    val b = keys.repartition(5)
      .select(Layout.rendezvousShard(col("k"), 8).as("s"))
      .collect().map(_.getLong(0))
    a.sorted shouldBe b.sorted // pure function of the key
    keys.select(Layout.rendezvousShard(col("k"), 1).as("s"))
      .distinct().collect().map(_.getLong(0)) shouldBe Array(0L)
  }

  test("reshardReport: growing shards moves keys ONLY to the new ones") {
    val keys = (0L until 500L).toDF("k")
    val rep = Layout.reshardReport(keys, "k", nFrom = 8, nTo = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    rep.values.sum shouldBe 500L
    val moved = rep.filter { case ((f, t), _) => f != t }
    moved.keys.forall { case (_, t) => t == 8L || t == 9L } shouldBe true
    // expected movement 2/10 = 20%; allow a wide deterministic band
    val movedN = moved.values.sum.toDouble
    movedN should be > 50.0
    movedN should be < 150.0
    // shrinking back: movers are exactly the keys ON the dropped shards
    val back = Layout.reshardReport(keys, "k", nFrom = 10, nTo = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    back.filter { case ((f, t), _) => f != t }
      .keys.forall { case (f, _) => f == 8L || f == 9L } shouldBe true
  }

  test("rendezvousShard: null key raises, nShards >= 1 enforced") {
    an[Exception] should be thrownBy
      Seq[Option[Long]](Some(1L), None).toDF("k")
        .select(Layout.rendezvousShard(col("k"), 4)).collect()
    an[IllegalArgumentException] should be thrownBy
      Layout.rendezvousShard(col("k"), 0)
  }
}
