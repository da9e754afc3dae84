package graft.ops

import graft.SparkSpec

class FeaturesSpec extends SparkSpec {
  import spark.implicits._

  test("targetEncodeLoo: hand-computed m-estimate, singleton lands on prior") {
    // A: y_e2 {100, 200}; B: {300}. Global prior = 600/3 = 200.
    val df = Seq((1L, "A", 100L), (2L, "A", 200L), (3L, "B", 300L))
      .toDF("id", "cat", "y_e2")
    val out = Features.targetEncodeLoo(df, "id", "cat", "y_e2", m = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // row 1: (300-100 + 10*200) / (2-1+10) = 2200/11 = 200 exactly
    out(1L) shouldBe 200000000L
    // row 2: (300-200 + 2000) / 11 = 190.909090…
    out(2L) shouldBe 190909091L
    // singleton: numerator and denominator reduce to m*prior / m = prior
    out(3L) shouldBe 200000000L
    // null category/target rows are dropped, not null-encoded
    val dirty = df.unionByName(Seq((4L, null.asInstanceOf[String], 5L))
      .toDF("id", "cat", "y_e2"))
    Features.targetEncodeLoo(dirty, "id", "cat", "y_e2").count() shouldBe 3L
    an[IllegalArgumentException] should be thrownBy
      Features.targetEncodeLoo(df, "id", "cat", "y_e2", m = 0)
  }

  test("groupAuc: rank-sum identity == brute-force pair counting") {
    // perfect separation, perfect inversion, coin-flip tie, one-class
    val rows = Seq(
      ("sep", 10L, 1L), ("sep", 9L, 1L), ("sep", 2L, 0L), ("sep", 1L, 0L),
      ("inv", 1L, 1L), ("inv", 9L, 0L),
      ("tie", 5L, 1L), ("tie", 5L, 0L),
      ("onec", 5L, 1L), ("onec", 6L, 1L))
    val out = Features.groupAuc(rows.toDF("g", "s", "y"), Seq("g"), "s", "y")
      .collect().map(r => r.getString(0) ->
        Option(r.getAs[Any]("auc_e6")).map(_.asInstanceOf[Long])).toMap
    out("sep") shouldBe Some(1000000L)
    out("inv") shouldBe Some(0L)
    out("tie") shouldBe Some(500000L)
    out("onec") shouldBe None // AUC undefined without both classes
    // randomized cross-check against the O(n+ * n-) definition
    val rnd = new scala.util.Random(42)
    val data = (1 to 120).map(i =>
      ("r", (rnd.nextInt(15) + 1).toLong, (if (rnd.nextBoolean()) 1L else 0L)))
    val pos = data.filter(_._3 == 1L).map(_._2)
    val neg = data.filter(_._3 == 0L).map(_._2)
    val brute = (for (p <- pos; n <- neg)
      yield if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum /
      (pos.size.toLong * neg.size)
    val got = Features.groupAuc(data.toDF("g", "s", "y"), Seq("g"), "s", "y")
      .collect()(0).getAs[Long]("auc_e6")
    got shouldBe math.round(brute * 1e6)
  }

  test("gainsTable: hand-computed capture and lift, all-integer") {
    // 10 rows, scores 10..1, positives at scores 10, 9, 8, 2 (mostly
    // concentrated at the top). 5 buckets of 2.
    val rows = (1L to 10L).map(i =>
      (i, 11L - i, if (i <= 3 || i == 9) 1L else 0L))
    val out = Features.gainsTable(rows.toDF("id", "s", "y"),
        "s", "id", "y", buckets = 5)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4),
        r.getLong(5), r.getLong(6)))
    // bucket 1 holds scores {10, 9} = ids {1, 2}, both positive:
    // capture 2/4 = 50%, lift = (2/2)/(4/10) = 2.5
    out(0) shouldBe (1L, 2L, 2L, 2L, 500000L, 2500000L)
    // bucket 2 holds ids {3, 4}: one positive → cum 3/4, lift 1.875
    out(1) shouldBe (2L, 2L, 1L, 3L, 750000L, 1875000L)
    // final bucket: full capture, lift exactly 1
    out(4) shouldBe (5L, 2L, 1L, 4L, 1000000L, 1000000L)
  }

  test("experimentReport: independent md5 replay of assignment, lift, z") {
    // conversions decided by the id, assignment by md5 — replicate BOTH
    // independently in local Scala and demand the exact same report
    val ids = (1L to 40L)
    val rows = ids.flatMap(i => Seq((i, 0L), (i, if (i % 3 == 0) 1L else 0L)))
      .toDF("id", "y")
    val out = Features.experimentReport(rows, "id", "y", nVariants = 2)
      .orderBy("variant").collect()
    def bucket(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16) % 2
    }
    val byV = ids.groupBy(bucket)
    val n0 = byV(0L).size.toLong
    val c0 = byV(0L).count(_ % 3 == 0).toLong
    val n1 = byV(1L).size.toLong
    val c1 = byV(1L).count(_ % 3 == 0).toLong
    out(0).getAs[Long]("n") shouldBe n0
    out(0).getAs[Long]("n_conv") shouldBe c0
    out(0).isNullAt(out(0).fieldIndex("lift_e6")) shouldBe true // control
    out(0).isNullAt(out(0).fieldIndex("z_e6")) shouldBe true
    out(1).getAs[Long]("n") shouldBe n1
    out(1).getAs[Long]("n_conv") shouldBe c1
    out(1).getAs[Long]("conv_rate_e6") shouldBe c1 * 1000000L / n1
    // integer lift from cross-multiplied counts
    val num = c1 * n0 - c0 * n1
    out(1).getAs[Long]("lift_e6") shouldBe
      (math.signum(num) * (math.abs(num) * 1000000L / (c0 * n1)))
    // the pooled-z IEEE dag, identical operand order
    val p = (c1 + c0).toDouble / (n1 + n0).toDouble
    val z = (c1.toDouble / n1.toDouble - c0.toDouble / n0.toDouble) /
      math.sqrt(p * (1.0 - p) * (1.0 / n1 + 1.0 / n0)) * 1e6
    out(1).getAs[Long]("z_e6") shouldBe math.round(z)
  }

  test("calibrationReport: hand-traced bins, clamping, empty bins absent") {
    // 4 bins over [0, 399]: width 400, bin = s * 4 div 400 = s div 100
    val rows = Seq(
      (50L, 0L), (150L, 1L), (160L, 1L), (170L, 0L),
      (9999L, 1L), // clamps to 399 -> bin 3
      (-20L, 0L)) // clamps to 0 -> bin 0
      .toDF("s_e2", "y")
    val out = Features.calibrationReport(rows, "s_e2", "y",
      bins = 4, loE2 = 0L, hiE2 = 399L)
      .orderBy("bin").collect()
    out.map(_.getAs[Long]("bin")).toSeq shouldBe Seq(0L, 1L, 3L) // bin 2 empty
    val b0 = out(0)
    b0.getAs[Long]("n") shouldBe 2L // 50 and the clamped -20
    b0.getAs[Long]("n_pos") shouldBe 0L
    b0.getAs[Long]("mean_score_e6") shouldBe 250000L // (50+0)*1e4/2
    b0.getAs[Long]("bin_lo_e2") shouldBe 0L
    val b1 = out(1)
    b1.getAs[Long]("n") shouldBe 3L
    b1.getAs[Long]("pos_rate_e6") shouldBe 666666L // 2e6 div 3
    b1.getAs[Long]("mean_score_e6") shouldBe 1600000L // 480*1e4/3
    b1.getAs[Long]("bin_lo_e2") shouldBe 100L
    val b3 = out(2)
    b3.getAs[Long]("n") shouldBe 1L
    b3.getAs[Long]("mean_score_e6") shouldBe 3990000L // clamped to 399
    b3.getAs[Long]("pos_rate_e6") shouldBe 1000000L
    // null score or label rows are dropped, not binned
    val withNulls = Seq((Some(10L), Some(1L)), (None, Some(1L)),
      (Some(10L), None)).toDF("s_e2", "y")
    Features.calibrationReport(withNulls, "s_e2", "y",
      bins = 2, loE2 = 0L, hiE2 = 99L)
      .agg(org.apache.spark.sql.functions.sum("n")).collect()(0)
      .getLong(0) shouldBe 1L
    an[IllegalArgumentException] should be thrownBy
      Features.calibrationReport(rows, "s_e2", "y", 1, 0L, 399L)
    an[IllegalArgumentException] should be thrownBy
      Features.calibrationReport(rows, "s_e2", "y", 4, 10L, 10L)
  }

  test("hashFeatures: stable buckets, counts sum to token count") {
    val df = Seq((1L, "a b a c"), (2L, "a"), (3L, "  ")).toDF("id", "text")
    val out = Features.hashFeatures(df, "id", "text", nBuckets = 8)
    // total feature mass = total tokens (4 + 1 + 0)
    out.agg(org.apache.spark.sql.functions.sum("n")).collect()(0)
      .getLong(0) shouldBe 5L
    // the same token maps to the same bucket in every doc
    val b = out.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
    val doc1 = b.filter(_._1._1 == 1L).toMap
    doc1.values.sum shouldBe 4L
    doc1.values.max shouldBe 2L // 'a' twice in one bucket
    val aBucket1 = doc1.find(_._2 == 2L).get._1._2
    b.filter(_._1._1 == 2L).head._1._2 shouldBe aBucket1
  }

  test("experimentReport: missing control keeps variant rows with null lift/z") {
    // every id below hashes to variant 1 (md5-first-8 mod 2) — a corpus
    // so small NO entity lands in control. A crossJoin against the empty
    // control frame would return an EMPTY report; the left join must keep
    // the variant-1 row and report null lift/z instead.
    val rows = Seq("a", "d", "e", "f", "g").map(s => (s, 1L)).toDF("id", "y")
    val out = Features.experimentReport(rows, "id", "y", nVariants = 2)
      .collect()
    out.length shouldBe 1
    out(0).getAs[Long]("variant") shouldBe 1L
    out(0).getAs[Long]("n") shouldBe 5L
    out(0).getAs[Long]("n_conv") shouldBe 5L
    out(0).isNullAt(out(0).fieldIndex("lift_e6")) shouldBe true
    out(0).isNullAt(out(0).fieldIndex("z_e6")) shouldBe true
  }
}
