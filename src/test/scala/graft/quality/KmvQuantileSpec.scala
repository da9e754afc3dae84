package graft.quality

import graft.SparkSpec
import org.apache.spark.sql.functions._

class KmvQuantileSpec extends SparkSpec {
  import spark.implicits._

  private val qs = Seq(250000L, 500000L, 900000L, 1000000L)

  test("quantileReport: exact order statistics while the sample holds all rows") {
    // n = 10 < k → the sample IS the group, so each q is the exact
    // ceil(q·n)-th smallest value
    val df = (1L to 10L).map(i => ("g", s"id$i", i * 100L))
      .toDF("g", "id", "v")
    val row = Kmv.quantileReport(df, Seq("g"), "id", "v", k = 64, qs)
      .head()
    row.getLong(1) shouldBe 10L // k_used
    row.getLong(2) shouldBe 300L  // q25 → ceil(2.5)=3rd
    row.getLong(3) shouldBe 500L  // q50 → 5th
    row.getLong(4) shouldBe 900L  // q90 → 9th
    row.getLong(5) shouldBe 1000L // q100 → max
  }

  test("quantileReport: saturated sample estimates within sampling error") {
    // 5000 uniform values 1..5000; k=256 → rank error ~1/sqrt(k) ≈ 6%,
    // assert within 4 sigma (deterministic md5 sample, not flaky)
    val df = (1L to 5000L).map(i => ("g", s"row$i", i)).toDF("g", "id", "v")
    val row = Kmv.quantileReport(df, Seq("g"), "id", "v", k = 256,
      Seq(500000L)).head()
    row.getLong(1) shouldBe 256L
    val p50 = row.getLong(2)
    p50 shouldBe 2500L +- 650L
  }

  test("fold of half-sketches == one-shot sketch over the union") {
    val rows = (1L to 3000L).map(i => (s"t${i % 3}", s"id$i", i * 7 % 997))
    val df = rows.toDF("g", "id", "v")
    val a = Kmv.valueSketches(df.filter(expr("id like '%0' or id like '%2'")),
      Seq("g"), "id", "v", k = 64)
    val b = Kmv.valueSketches(
      df.filter(expr("not (id like '%0' or id like '%2')")),
      Seq("g"), "id", "v", k = 64)
    val folded = Kmv.quantilesFromValueSketches(
      Kmv.foldValueSketches(a, b, Seq("g"), k = 64),
      Seq("g"), Seq(500000L, 900000L)).orderBy("g").collect()
    val oneShot = Kmv.quantileReport(df, Seq("g"), "id", "v", k = 64,
      Seq(500000L, 900000L)).orderBy("g").collect()
    folded.map(_.toSeq) shouldBe oneShot.map(_.toSeq)
  }

  test("weightedQuantileReport: mass moves the crossing; unit mass ≡ unweighted") {
    // one heavy item carries 91% of the mass: every quantile ≥ 10% of
    // the mass sits AT the heavy value, while the doc-count quantiles
    // sit in the light tail
    val df = ((1L to 9L).map(i => ("g", s"id$i", i, 1L)) :+
      ("g", "id10", 10L, 91L)).toDF("g", "id", "v", "m")
    val w = Kmv.weightedQuantileReport(df, Seq("g"), "id", "v", "m",
      k = 64, Seq(250000L, 500000L)).head()
    w.getLong(1) shouldBe 10L    // k_used
    w.getLong(2) shouldBe 100L   // mass_total
    w.getLong(3) shouldBe 10L    // q25 by mass → the heavy value
    w.getLong(4) shouldBe 10L    // q50 by mass → the heavy value
    // unit masses: the weighted crossing degenerates to the ceil(q·n)
    // order statistic — must equal the unweighted report cell-for-cell,
    // SATURATED too (k < n exercises the two-aggregate zip alignment
    // against the independently-coded unweighted path)
    val big = (1L to 1000L).map(i => ("t", s"row$i", i * 13 % 997, 1L))
      .toDF("g", "id", "v", "m")
    val wq = Kmv.weightedQuantileReport(big, Seq("g"), "id", "v", "m",
      k = 32, Seq(250000L, 500000L, 900000L)).head()
    val uq = Kmv.quantileReport(big, Seq("g"), "id", "v", k = 32,
      Seq(250000L, 500000L, 900000L)).head()
    wq.getLong(1) shouldBe uq.getLong(1)          // k_used
    wq.getLong(2) shouldBe wq.getLong(1)          // Σ unit masses = k
    (3 to 5).foreach(i => wq.getLong(i) shouldBe uq.getLong(i - 1))
  }

  test("weightedSampleKsReport: token mass re-ranks drift vs doc count") {
    // p vs q: the value shift lives in the nine LIGHT docs → doc-count
    // KS screams (0.9), mass-weighted KS whispers (0.09).
    // p vs r: the shift lives in the one HEAVY doc → ks 0.1, wks 0.91.
    val df = (
      ((1L to 9L).map(i => ("p", s"p$i", 1L, 1L)) :+ ("p", "p10", 100L, 91L)) ++
      ((1L to 9L).map(i => ("q", s"q$i", 2L, 1L)) :+ ("q", "q10", 100L, 91L)) ++
      ((1L to 9L).map(i => ("r", s"r$i", 1L, 1L)) :+ ("r", "r10", 200L, 91L)))
      .toDF("g", "id", "v", "m")
    val rep = Kmv.weightedSampleKsReport(df, "g", "id", "v", "m", k = 64)
      .collect().map(x => (x.getString(0), x.getString(1)) ->
        (x.getAs[Long]("wks_e6"), x.getAs[Long]("ks_e6"))).toMap
    rep(("p", "q")) shouldBe ((90000L, 900000L))
    rep(("p", "r")) shouldBe ((910000L, 100000L))
    // sample masses ride along for audit
    val row = Kmv.weightedSampleKsReport(df, "g", "id", "v", "m", k = 64)
      .filter(col("type_a") === "p" && col("type_b") === "q").head()
    row.getAs[Long]("mass_a") shouldBe 100L
    row.getAs[Long]("mass_b") shouldBe 100L
    // unit masses: wks degenerates to ks on every pair
    val unit = Kmv.weightedSampleKsReport(
      df.withColumn("m", lit(1L)), "g", "id", "v", "m", k = 64).collect()
    unit.foreach(x =>
      x.getAs[Long]("wks_e6") shouldBe x.getAs[Long]("ks_e6"))
  }

  test("sample and weighted KS reports: disjoint value ranges read D = 1") {
    // every lo value sits below every hi value, so both ECDF gaps reach
    // 1 at lo's maximum, in either weighting
    val df = ((1 to 40).map(i => ("lo", s"a$i", (i % 20).toLong, 10L)) ++
      (1 to 30).map(i => ("hi", s"b$i", 1000L + i % 20, 10L)))
      .toDF("g", "id", "v", "m")
    Kmv.sampleKsReport(df, "g", "id", "v", k = 64).head()
      .getAs[Long]("ks_e6") shouldBe 1000000L
    val w = Kmv.weightedSampleKsReport(df, "g", "id", "v", "m", k = 64).head()
    w.getAs[Long]("wks_e6") shouldBe 1000000L
    w.getAs[Long]("ks_e6") shouldBe 1000000L
  }

  test("native weighted_ks ≡ the builtin-HOF twin on corpus pairs and edges") {
    import org.apache.spark.sql.functions.call_function
    // corpus pairs, SATURATED (k=16 < per-source docs) so the sweep
    // crosses duplicate values and real mass spread
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("source"), col("doc_id"), col("n_chars"),
        call_function("ws_token_count", col("text")).as("m"))
    val sk = Kmv.weightedValueSketches(
      docs, Seq("source"), "doc_id", "n_chars", "m", k = 16)
    val pairs = sk.select(col("source").as("type_a"), col("kmvv").as("ska"))
      .join(sk.select(col("source").as("type_b"), col("kmvv").as("skb")),
        col("type_a") < col("type_b"))
    val native = Kmv.weightedSampleKsReport(
        docs, "source", "doc_id", "n_chars", "m", k = 16)
      .orderBy("type_a", "type_b").collect().map(_.toSeq)
    val builtin = KmvTwins.weightedKsFromSamplePairsBuiltin(pairs)
      .orderBy("type_a", "type_b").collect().map(_.toSeq)
    native.nonEmpty shouldBe true
    native shouldBe builtin
    // edges the corpus can't produce: a zero-total-mass side and
    // equal-value blocks carrying distinct masses
    val edge = spark.sql(
      """SELECT * FROM VALUES
        | ('e2', 'f2',
        |  array(named_struct('h', 1L, 'v', 5L, 'm', 0L),
        |        named_struct('h', 2L, 'v', 7L, 'm', 0L)),
        |  array(named_struct('h', 3L, 'v', 5L, 'm', 4L))),
        | ('e3', 'f3',
        |  array(named_struct('h', 1L, 'v', 5L, 'm', 1L),
        |        named_struct('h', 2L, 'v', 5L, 'm', 9L),
        |        named_struct('h', 3L, 'v', 8L, 'm', 1L)),
        |  array(named_struct('h', 4L, 'v', 5L, 'm', 3L),
        |        named_struct('h', 5L, 'v', 6L, 'm', 3L)))
        | AS t(type_a, type_b, ska, skb)""".stripMargin)
    val ne = Kmv.weightedKsFromSamplePairs(edge)
      .orderBy("type_a").collect().map(_.toSeq)
    val be = KmvTwins.weightedKsFromSamplePairsBuiltin(edge)
      .orderBy("type_a").collect().map(_.toSeq)
    ne shouldBe be
    ne(0)(6) shouldBe 1000000L // e2: 0-mass a ecdf flat 0 vs b at 1.0
    // the EMPTY side is unreachable via the report path (every group
    // keeps ≥ 1 row); the native form answers it with null statistics
    // and populated sizes/masses rather than the HOF twin's ANSI
    // division error — asserted on the native alone
    val empty = spark.sql(
      """SELECT 'e1' AS type_a, 'f1' AS type_b,
        | CAST(array() AS ARRAY<STRUCT<h: BIGINT, v: BIGINT, m: BIGINT>>)
        |  AS ska,
        | array(named_struct('h', 1L, 'v', 5L, 'm', 2L)) AS skb""".stripMargin)
    val er = Kmv.weightedKsFromSamplePairs(empty).head()
    // the UNWEIGHTED report routes through the same compiled sweep
    // under unit masses — pin it against ITS builtin twin on the real
    // per-day event samples (the q275/q276 shape)
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .selectExpr("event_type AS g", "CAST(event_id AS STRING) AS id",
        "CAST(round(value * 100) AS BIGINT) AS v")
    val vsk = Kmv.valueSketches(ev, Seq("g"), "id", "v", k = 32)
    val kp = vsk.select(col("g").as("type_a"), col("kmvv").as("ska"))
      .join(vsk.select(col("g").as("type_b"), col("kmvv").as("skb")),
        col("type_a") < col("type_b"))
    Kmv.sampleKsReport(ev, "g", "id", "v", k = 32)
      .orderBy("type_a", "type_b").collect().map(_.toSeq) shouldBe
      KmvTwins.ksFromSamplePairsBuiltin(kp)
        .orderBy("type_a", "type_b").collect().map(_.toSeq)
    er.getLong(2) shouldBe 0L // k_a
    er.getLong(4) shouldBe 0L // mass_a
    assert(er.isNullAt(6) && er.isNullAt(7))
  }

  test("weightedValueSketches: non-integral mass or value raises loudly") {
    val bad = Seq(("g", "id1", 1L, 1.5)).toDF("g", "id", "v", "m")
    an[IllegalArgumentException] should be thrownBy
      Kmv.weightedValueSketches(bad, Seq("g"), "id", "v", "m", k = 8)
    val bad2 = Seq(("g", "id1", 1.5, 2L)).toDF("g", "id", "v", "m")
    an[IllegalArgumentException] should be thrownBy
      Kmv.weightedValueSketches(bad2, Seq("g"), "id", "v", "m", k = 8)
    // null mass rows are excluded like the oracle's WHERE
    val withNull = Seq(("g", "id1", 1L, Some(5L)),
      ("g", "id2", 2L, None)).toDF("g", "id", "v", "m")
    Kmv.weightedQuantileReport(withNull, Seq("g"), "id", "v", "m",
      k = 8, Seq(500000L)).head().getLong(1) shouldBe 1L
  }

  test("valueSketches: non-integral value column and bad quantiles raise") {
    val df = Seq(("g", "id1", 1.5)).toDF("g", "id", "v")
    an[IllegalArgumentException] should be thrownBy
      Kmv.valueSketches(df, Seq("g"), "id", "v", k = 8)
    val ok = Seq(("g", "id1", 1L)).toDF("g", "id", "v")
    an[IllegalArgumentException] should be thrownBy
      Kmv.quantileReport(ok, Seq("g"), "id", "v", k = 8, Seq(0L))
    an[IllegalArgumentException] should be thrownBy
      Kmv.quantileReport(ok, Seq("g"), "id", "v", k = 8, Seq(1000001L))
  }

  test("null ids and null values are excluded like the oracle's WHERE") {
    val df = Seq[(String, String, java.lang.Long)](
      ("g", null, 5L), ("g", "id1", null), ("g", "id2", 42L))
      .toDF("g", "id", "v")
    val row = Kmv.quantileReport(df, Seq("g"), "id", "v", k = 8,
      Seq(500000L)).head()
    row.getLong(1) shouldBe 1L
    row.getLong(2) shouldBe 42L
  }
}
