package graft.catalyst

import graft.SparkSpec
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

class BoundedCollectSpec extends SparkSpec {
  import spark.implicits._

  private def collect(cap: Int, distinct: Boolean = false) =
    BoundedCollect(BoundReference(0, LongType, nullable = true), cap, distinct)

  private def fed(f: BoundedCollect, vs: Seq[Long]): BoundedCollect.Buffer = {
    val buf = f.createAggregationBuffer()
    vs.foreach(v => f.update(buf, InternalRow(v)))
    buf
  }

  private def members(f: BoundedCollect, buf: BoundedCollect.Buffer): Option[Seq[Long]] =
    Option(f.eval(buf)).map(_.asInstanceOf[ArrayData].toLongArray().toSeq.sorted)

  test("bounded_collect: 200k members of one key under cap 50 never buffer more than 51") {
    val f = collect(50)
    val buf = f.createAggregationBuffer()
    var peak = 0
    (1L to 200000L).foreach { v =>
      f.update(buf, InternalRow(v))
      peak = peak.max(buf.size)
    }
    peak shouldBe 51
    members(f, buf) shouldBe None
    // the same key through the SQL aggregate: dropped, not truncated
    spark.range(200000).groupBy(lit(1)).agg(expr("bounded_collect(id, 50)"))
      .head().isNullAt(1) shouldBe true
  }

  test("bounded_collect: a key is kept at exactly cap members and dropped at cap + 1") {
    members(collect(3), fed(collect(3), Seq(7L, 7L, 9L))) shouldBe Some(Seq(7L, 7L, 9L))
    members(collect(3), fed(collect(3), Seq(7L, 7L, 9L, 1L))) shouldBe None
    val out = (Seq.fill(3)("a") ++ Seq.fill(4)("b")).zipWithIndex.toDF("k", "v")
      .groupBy("k").agg(expr("sort_array(bounded_collect(v, 3))"))
      .collect().map(r => r.getString(0) -> Option(r.getSeq[Int](1))).toMap
    out shouldBe Map("a" -> Some(Seq(0, 1, 2)), "b" -> None)
  }

  test("bounded_collect_distinct: the cap counts distinct members") {
    val df = Seq(1L, 1L, 2L, 3L, 3L).map(("a", _)).toDF("k", "v")
    val r = df.groupBy("k").agg(
      expr("sort_array(bounded_collect_distinct(v, 3))"),
      expr("bounded_collect(v, 3)"),
      expr("bounded_collect_distinct(v, 2)")).head()
    r.getSeq[Long](1) shouldBe Seq(1L, 2L, 3L) // 5 rows, 3 distinct: kept
    r.isNullAt(2) shouldBe true                // the list form counts 5
    r.isNullAt(3) shouldBe true                // 3 distinct > 2
    // nulls are never members (collect_list / collect_set semantics)
    Seq(("a", Some(1L)), ("a", None), ("a", None)).toDF("k", "v").groupBy("k")
      .agg(expr("bounded_collect(v, 1)")).head().getSeq[Long](1) shouldBe Seq(1L)
  }

  test("bounded_collect: partial/final merge over 8 partitions ≡ one partition") {
    // key k holds k rows over k/2+1 values: under cap 10 keys 1..10 keep as
    // lists; under distinct cap 5 keys 1..9 keep — spread over 8 partitions
    // no partial buffer sees a whole key, so the cap is decided in the merge
    val rows = for (k <- 0 until 30; i <- 0 until k) yield (k, (i % (k / 2 + 1)).toLong)
    def run(parts: Int) = rows.toDF("k", "v").repartition(parts)
      .groupBy("k").agg(
        expr("sort_array(bounded_collect(v, 10))").as("l"),
        expr("sort_array(bounded_collect_distinct(v, 5))").as("d"))
      .collect().map(r => r.getInt(0) ->
        (Option(r.getSeq[Long](1)), Option(r.getSeq[Long](2)))).toMap
    val one = run(1)
    run(8) shouldBe one
    one.collect { case (k, (Some(_), _)) => k }.toSet shouldBe (1 to 10).toSet
    one.collect { case (k, (_, Some(_))) => k }.toSet shouldBe (1 to 9).toSet
    // the same split at the expression level: two under-cap halves overflow
    val f = collect(5)
    members(f, f.merge(fed(f, Seq(1L, 2L, 3L)), fed(f, Seq(4L, 5L, 6L)))) shouldBe None
    members(f, f.merge(fed(f, Seq(1L, 2L)), fed(f, Seq(3L)))) shouldBe Some(Seq(1L, 2L, 3L))
  }

  test("bounded_collect: a serialize round trip preserves the overflow state") {
    for (distinct <- Seq(false, true)) withClue(s"distinct=$distinct: ") {
      val f = collect(5, distinct)
      val over = f.deserialize(f.serialize(fed(f, (1L to 9L))))
      over.size shouldBe 6
      members(f, over) shouldBe None
      members(f, f.merge(f.createAggregationBuffer(), over)) shouldBe None
      members(f, f.deserialize(f.serialize(fed(f, Seq(3L, 1L, 2L))))) shouldBe
        Some(Seq(1L, 2L, 3L))
    }
  }

  test("bounded_collect plans as an object hash aggregate") {
    val plan = Seq(("a", 1L)).toDF("k", "v").groupBy("k")
      .agg(expr("bounded_collect(v, 3)")).queryExecution.executedPlan.toString
    plan should include("ObjectHashAggregate")
  }
}
