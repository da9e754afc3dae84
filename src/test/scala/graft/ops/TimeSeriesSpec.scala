package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TimeSeriesSpec extends SparkSpec {
  import spark.implicits._

  private val D = java.sql.Date.valueOf(_: String)

  // key a: observed 01, 04 (value null!), 06 — gaps 02,03,05
  // key b: single day — no gaps, no explode beyond itself
  // key c: FIRST value null, then 10 on day 03 — leading nulls stay null
  private def sparse = Seq(
    ("a", "2024-01-01", Some(1L)),
    ("a", "2024-01-04", None: Option[Long]),
    ("a", "2024-01-06", Some(6L)),
    ("b", "2024-02-10", Some(9L)),
    ("c", "2024-03-01", None: Option[Long]),
    ("c", "2024-03-03", Some(10L))
  ).toDF("key", "day", "v").withColumn("day", to_date($"day"))

  private lazy val filled =
    TimeSeries.gapFillDaily(sparse, "key", "day", "v")
      .orderBy("key", "day")
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString,
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getBoolean(3)))

  test("densifies each key over its own [min, max] span, no extrapolation") {
    filled.count(_._1 == "a") shouldBe 6 // 01..06 inclusive
    filled.count(_._1 == "b") shouldBe 1 // single-day span stays single
    filled.count(_._1 == "c") shouldBe 3 // 01..03
    // no rows before a key's first or after its last observed day
    filled.filter(_._1 == "a").map(_._2).min shouldBe "2024-01-01"
    filled.filter(_._1 == "a").map(_._2).max shouldBe "2024-01-06"
  }

  test("is_gap reflects join presence, not value nullness") {
    val a = filled.filter(_._1 == "a").map(r => r._2 -> r._4).toMap
    a("2024-01-01") shouldBe false
    a("2024-01-02") shouldBe true  // introduced
    a("2024-01-03") shouldBe true  // introduced
    a("2024-01-04") shouldBe false // observed even though its value is null
    a("2024-01-05") shouldBe true  // introduced
    a("2024-01-06") shouldBe false
  }

  test("forward fill carries last non-null across gaps and observed nulls") {
    val a = filled.filter(_._1 == "a").map(r => r._2 -> r._3).toMap
    a("2024-01-01") shouldBe Some(1L)
    a("2024-01-02") shouldBe Some(1L) // gap carried
    a("2024-01-04") shouldBe Some(1L) // observed null carried (LOCF)
    a("2024-01-05") shouldBe Some(1L)
    a("2024-01-06") shouldBe Some(6L) // fresh observation replaces carry
  }

  test("rejects a TIMESTAMP day column loudly (sub-day rows would all become gaps)") {
    val ts = Seq(("a", java.sql.Timestamp.valueOf("2024-01-01 10:30:00"), 1L))
      .toDF("key", "day", "v")
    val e = the[IllegalArgumentException] thrownBy
      TimeSeries.gapFillDaily(ts, "key", "day", "v")
    e.getMessage should include("DATE")
  }

  test("null-day rows are excluded by contract, not by join accident") {
    // a null day has no calendar position; it must not widen the span,
    // become an observation, or leak its value into the fill
    val withNullDay = sparse.unionByName(
      Seq(("a", Option.empty[String], Some(99L)))
        .toDF("key", "day", "v").withColumn("day", to_date($"day")))
    val out = TimeSeries.gapFillDaily(withNullDay, "key", "day", "v")
      .filter($"key" === "a").orderBy("day").collect()
      .map(r => (r.getDate(1).toString,
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    out.length shouldBe 6 // same span as without the null-day row
    out.map(_._2) should not contain Some(99L)
  }

  test("leading null values stay null until the first non-null observation") {
    val c = filled.filter(_._1 == "c").map(r => r._2 -> (r._3, r._4)).toMap
    c("2024-03-01") shouldBe (None, false)     // observed, value unknown
    c("2024-03-02") shouldBe (None, true)      // gap before any known value
    c("2024-03-03") shouldBe (Some(10L), false)
  }

  test("hoppingAgg: each event lands in size/slide epoch-aligned windows") {
    // size 10s, slide 5s. t=12s → windows starting 5s and 10s;
    // t=5s → windows 0s and 5s; t=0 → windows -5s and 0s.
    val ev = Seq(("k", 0L, 1.0), ("k", 5000000L, 2.0), ("k", 12000000L, 4.0))
      .toDF("key", "ts_us", "v")
    val out = TimeSeries.hoppingAgg(ev, "ts_us", "key", "v",
        sizeUs = 10000000L, slideUs = 5000000L)
      .orderBy("window_start_us")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    out shouldBe Array(
      (-5000000L, 1L, 1000000L),            // covers t=0 only
      (0L, 2L, 3000000L),                   // t=0 and t=5s
      (5000000L, 2L, 6000000L),             // t=5s and t=12s
      (10000000L, 1L, 4000000L))            // t=12s
  }

  test("hoppingAgg rejects a size that is not a multiple of slide") {
    val ev = Seq(("k", 0L, 1.0)).toDF("key", "ts_us", "v")
    an[IllegalArgumentException] should be thrownBy
      TimeSeries.hoppingAgg(ev, "ts_us", "key", "v", 7L, 3L)
  }

  test("twap: holding-interval weights, final point weightless, 1-obs null") {
    import spark.implicits._
    val ev = Seq(
      // value 10 holds 3000ms, value 20 holds 1000ms, final 99 holds 0
      (1L, 0L, 1L, 10.0), (1L, 3000000L, 2L, 20.0),
      (1L, 4000000L, 3L, 99.0),
      (2L, 0L, 4L, 5.0)) // single observation - zero span
      .toDF("user_id", "ts_us", "event_id", "value")
    val out = graft.ops.TimeSeries.twap(ev, "user_id", "ts_us", "event_id", "value")
      .orderBy("user_id").collect()
    val u1 = out(0)
    u1.getAs[Long]("span_ms") shouldBe 4000L
    u1.getAs[Long]("twap_num") shouldBe 1000L * 3000 + 2000L * 1000
    // (10*3 + 20*1)/4 = 12.5
    u1.getAs[Long]("twap_e6") shouldBe 12500000L
    out(1).isNullAt(out(1).fieldIndex("twap_e6")) shouldBe true
  }

  test("periodOverPeriod: calendar-adjacent deltas, gap break, sign-exact pct") {
    val rows = Seq(
      ("a", 10L, 100L), ("a", 11L, 40L), // -60%
      ("a", 13L, 80L), // day 12 silent: no prev for 13
      ("b", 10L, 30L), ("b", 11L, 31L)) // +1/30 = 33333 e6-floor
      .toDF("k", "day", "v")
    val out = TimeSeries.periodOverPeriod(rows, "k", "day", "v")
      .orderBy("key", "period").collect()
    def pct(i: Int): Option[Long] =
      if (out(i).isNullAt(out(i).fieldIndex("pct_change_e6"))) None
      else Some(out(i).getAs[Long]("pct_change_e6"))
    pct(0) shouldBe None // first period has no previous
    // shrink: floor(|−60|·1e6/100)·sign = exactly −600000 (the negative
    // branch that a raw `div` would truncate differently than DuckDB)
    pct(1) shouldBe Some(-600000L)
    out(1).getAs[Long]("delta_e2") shouldBe -60L
    pct(2) shouldBe None // the silent day broke the chain
    pct(4) shouldBe Some(33333L) // floor(1e6/30)
    // weekly bucketing: days 10,11 -> period 1 at periodDays = 7
    TimeSeries.periodOverPeriod(rows, "k", "day", "v", periodDays = 7L)
      .filter(col("key") === "a").collect()
      .map(_.getAs[Long]("period")).toSeq shouldBe Seq(1L)
    an[IllegalArgumentException] should be thrownBy
      TimeSeries.periodOverPeriod(rows, "k", "day", "v", 0L)
  }

  test("acfReport: ALL THREE overflow gates raise in-plan") {
    // static gate 1: n·max|x| > 3e6 (centered products would overflow)
    val big = Seq(("k", 1L, 2000000L), ("k", 2L, 1L), ("k", 3L, 1L))
      .toDF("key", "day", "v")
    an[Exception] should be thrownBy
      TimeSeries.acfReport(big, Seq("key"), "day", "v", 2).collect()
    // static gate 2: n > 250000 with tiny values — den/num SUMS could
    // exceed 2^63 mid-aggregate past n·3.6e13 ≈ 9e18
    val long = spark.range(250001).select(lit("k").as("key"),
      col("id").as("day"), lit(1L).as("v"))
    an[Exception] should be thrownBy
      TimeSeries.acfReport(long, Seq("key"), "day", "v", 1).collect()
    // DATA-DEPENDENT gate: alternating ±12 over 5e4 days passes BOTH
    // static gates (n·max|x| = 6e5 ≤ 3e6, n ≤ 2.5e5) yet den =
    // Σ(n·x)² = 5e4·(6e5)² = 1.8e16 > 2^63/1000, so the strongly
    // anticorrelated lag-1 numerator (≈ −den) would overflow the ×1000
    // scaling — the exact class the old static gates missed; now raised
    val anti = spark.range(50000).select(lit("k").as("key"),
      col("id").as("day"),
      when(col("id") % 2 === 0, lit(12L)).otherwise(lit(-12L)).as("v"))
    an[Exception] should be thrownBy
      TimeSeries.acfReport(anti, Seq("key"), "day", "v", 1).collect()
    // ...while the same shape at amplitude 2 (den = 5e4·1e10 = 5e14 ≤
    // 9.2e15) sails through the den gate and reports r(1) ≈ −1
    val benign = spark.range(50000).select(lit("k").as("key"),
      col("id").as("day"),
      when(col("id") % 2 === 0, lit(2L)).otherwise(lit(-2L)).as("v"))
    val r1 = TimeSeries.acfReport(benign, Seq("key"), "day", "v", 1)
      .collect()(0).getAs[Long]("r_e6")
    r1 should be < -999900L
    r1 should be >= -1000000L
    // a FLAT series takes the documented null path (den = 0) instead of
    // an ANSI DIVIDE_BY_ZERO from the intermediate chained divisions
    val ok = Seq(("k", 1L, 5L), ("k", 2L, 5L)).toDF("key", "day", "v")
    val flat = TimeSeries.acfReport(ok, Seq("key"), "day", "v", 1).collect()
    flat.length shouldBe 1
    flat(0).isNullAt(flat(0).fieldIndex("r_e6")) shouldBe true
  }
}
