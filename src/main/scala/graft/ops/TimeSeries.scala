package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series densification: calendar gap-fill + forward fill — the
  * operator that turns a sparse per-(key, day) metric table into the dense
  * series a dashboard, anomaly monitor, or training-curriculum scheduler
  * reads ("what was the last known value on every calendar day"). The
  * reference's daily marts (daily_trip_stats) leave silent holes on days
  * with no rows; this makes the holes explicit and carries the last
  * observation forward.
  */
object TimeSeries {

  /** Densify `df` to one row per (key, calendar day) over each key's own
    * [min(day), max(day)] span, forward-filling `valueCol` across the
    * introduced gap days. `is_gap` marks introduced rows — rows with NO
    * observation in `df` for that (key, day) — decided by join presence,
    * never by value nullness, so an observed row whose value is genuinely
    * null keeps `is_gap = false`. Forward fill carries the last non-null
    * value over BOTH introduced days and observed-null days (standard
    * last-observation-carried-forward); a key whose earliest observations
    * are all null stays null until its first non-null value appears.
    *
    * No extrapolation outside a key's own span: a key absent for the last
    * month simply ends early — trailing fills against a global calendar are
    * a reporting choice, done by joining a global day dimension instead.
    *
    * Scale shape: the span aggregate reads only (key, day) — column-pruned
    * scan — and its output is \|keys\|-sized; the calendar explode is
    * row-local on that small frame; then ONE keyed join and ONE keyed
    * window (same key partitioning). Day spans explode at most
    * span-per-key rows per key — calendar-bounded, never corpus-bounded.
    * `dayCol` must be a DATE column; rows with a NULL day are excluded
    * (no calendar position) — see the in-body contract comment. */
  def gapFillDaily(df: DataFrame, keyCol: String, dayCol: String,
      valueCol: String): DataFrame = {
    // a TIMESTAMP dayCol would silently break the semantics (the calendar
    // explode emits midnights that never equi-join sub-day observations,
    // so every real row would be resurrected as a gap) — reject loudly
    val dayType = df.schema(dayCol).dataType
    require(dayType == org.apache.spark.sql.types.DateType,
      s"gapFillDaily needs a DATE day column; '$dayCol' is $dayType " +
        "(to_date() it first — sub-day timestamps would never match the " +
        "generated calendar days)")
    // null-day rows have no calendar position: min/max would skip them and
    // the calendar equi-join could never match them, so they'd vanish as
    // an accident of join semantics. Exclude them EXPLICITLY here instead
    // — documented contract: a row with a null day is not an observation
    // on any day (filter or repair nulls upstream if they carry meaning).
    val obs = df.filter(col(dayCol).isNotNull)
    val span = obs.groupBy(col(keyCol))
      .agg(min(col(dayCol)).as("_lo"), max(col(dayCol)).as("_hi"))
    val cal = span.select(col(keyCol),
      explode(expr("sequence(_lo, _hi, interval 1 day)")).as(dayCol))
    val w = Window.partitionBy(col(keyCol)).orderBy(col(dayCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // presence marker: non-null on every observed row regardless of the
    // observed value, so is_gap never conflates "no row" with "null value"
    cal.join(obs.withColumn("_observed", lit(1)), Seq(keyCol, dayCol), "left")
      .withColumn("is_gap", col("_observed").isNull)
      .drop("_observed")
      .withColumn(valueCol, last(col(valueCol), ignoreNulls = true).over(w))
  }

  /** Per-key TIME-WEIGHTED average: each observation weighted by how long
    * it held (until the next observation), over the key's own observed
    * span — the metric for irregularly-sampled series (sensor values,
    * session quality, prices) where a plain mean over-counts burst
    * periods. Step-function (last-observation-holds) semantics; the final
    * observation has no holding interval and contributes weight 0; keys
    * with < 2 observations have zero span → null twap.
    *
    * Determinism contract: holding times are floor((t_next − t)/1000) ms
    * (exact integer division both engines share — and the ms unit keeps
    * Σ value_e2·dt well inside int64 where µs would flirt with overflow);
    * numerator and denominator are exact BIGINT sums, the ratio one IEEE
    * division. One keyed window (lead) + one grouped sum. */
  def twap(df: DataFrame, keyCol: String, tsUsCol: String, tieCol: String,
      valueCol: String): DataFrame = {
    df.filter(col(valueCol).isNotNull)
      .select(col(keyCol),
        col(tsUsCol).cast("long").as("__t"),
        col(tieCol).cast("long").as("__tie"),
        round(col(valueCol) * lit(100)).cast("long").as("__v"))
      .withColumn("__next",
        lead(col("__t"), 1).over(
          Window.partitionBy(col(keyCol)).orderBy(col("__t"), col("__tie"))))
      .withColumn("__dt_ms", expr("(__next - __t) div 1000L"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_obs"),
        sum(coalesce(col("__dt_ms"), lit(0L))).as("span_ms"),
        sum(col("__v") * coalesce(col("__dt_ms"), lit(0L))).as("twap_num"))
      .withColumn("twap_e6",
        when(col("span_ms") > 0,
          round(lit(1e6) * col("twap_num").cast("double")
            / col("span_ms").cast("double") / lit(100.0)).cast("long")))
  }

  /** Hopping (sliding) event-time windows in BATCH: every event lands in
    * the size/slide overlapping windows covering it, aggregated per
    * (window, key) — the smoothing view behind rate monitors and rolling
    * engagement metrics, where a tumbling grid under-counts activity that
    * straddles a boundary. Windows sit on the builtin `window()`'s
    * epoch-aligned grid.
    *
    * Built on the builtin `window()` generator (codegen'd expand by
    * size/slide windows per row — ×(size/slide) row growth BEFORE the
    * grouped aggregate, where map-side partials immediately re-compress to
    * |windows × keys|; one keyed shuffle total). sizeUs must be a multiple
    * of slideUs — with ragged ratios the last window is partial and
    * Spark's and the grid oracle's conventions diverge.
    *
    * Output: window_start_us (epoch-aligned: start ≡ 0 mod slideUs),
    * key, n_events, sum_e6 (exact micro-unit value mass). */
  def hoppingAgg(df: DataFrame, tsUsCol: String, keyCol: String,
      valueCol: String, sizeUs: Long, slideUs: Long): DataFrame = {
    require(sizeUs > 0 && slideUs > 0 && sizeUs % slideUs == 0,
      s"need sizeUs a positive multiple of slideUs, got $sizeUs/$slideUs")
    df.groupBy(
        window(timestamp_micros(col(tsUsCol)),
          s"$sizeUs microseconds", s"$slideUs microseconds"),
        col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col(valueCol) * lit(1e6)).cast("long")).as("sum_e6"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col(keyCol), col("n_events"), col("sum_e6"))
  }

  /** Period-over-period deltas — the dashboard staple (DoD/WoW/MoM):
    * for each (key, period) the metric value next to the PREVIOUS
    * period's, the absolute delta, and the exact integer-e6 percent
    * change. `periodDays` buckets the day column (1 = DoD, 7 = WoW on
    * epoch-day-aligned weeks); the previous period is the previous
    * CALENDAR period, not the previous observed row — a key silent for
    * a period compares against null, not against its last value two
    * periods back (lag-over-observed would silently hide the gap, the
    * exact signal a drop detector exists for). Zero-valued previous
    * periods report null pct (0-division is undefined, not 0 — the
    * shareOfParent contract).
    *
    * Scale shape: one grouped aggregate in (key × period) space + one
    * lag window over that SUMMARY frame; row data touched once. */
  def periodOverPeriod(df: DataFrame, keyCol: String, dayCol: String,
      valueE2Col: String, periodDays: Long = 1L): DataFrame = {
    require(periodDays >= 1, s"periodDays must be >= 1, got $periodDays")
    val per = df
      .groupBy(col(keyCol).as("key"),
        expr(s"$dayCol div ${periodDays}L").as("period"))
      .agg(count(lit(1)).as("n_events"),
        sum(col(valueE2Col).cast("long")).as("value_e2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy("period")
    per
      .withColumn("__prev_p", lag(col("period"), 1).over(w))
      .withColumn("__prev_v", lag(col("value_e2"), 1).over(w))
      // calendar-adjacent only: a skipped period breaks the chain
      .withColumn("prev_value_e2",
        when(col("__prev_p") === col("period") - 1L, col("__prev_v")))
      .select(col("key"), col("period"), col("n_events"), col("value_e2"),
        col("prev_value_e2"),
        (col("value_e2") - col("prev_value_e2")).as("delta_e2"),
        // sign-factored so the floor division sees non-negative
        // operands only: Spark's `div` truncates toward zero while
        // DuckDB's `//` floors — they disagree on negative quotients,
        // and a shrinking metric is the common case here
        when(col("prev_value_e2") =!= 0L,
          (signum(col("value_e2") - col("prev_value_e2")) *
            signum(col("prev_value_e2"))).cast("long") *
            expr("abs(value_e2 - prev_value_e2) * 1000000L " +
              "div abs(prev_value_e2)"))
          .as("pct_change_e6"))
  }

  /** Per-key autocorrelation function at calendar lags 1..maxLag over an
    * integer (key, day, value) series — the seasonality detector that
    * reads a number instead of eyeballing a chart: a weekly-cycled
    * metric shows r(7) ≫ r(1..6), a trending one decays slowly, noise
    * sits near 0 everywhere. Complements [[graft.quality.Anomaly.seasonalResiduals]]
    * (which REMOVES a known period; this FINDS the period).
    *
    * Exact-integer contract: with n = day count and S = Σx per key,
    * aₜ = n·xₜ − S (the mean-centered value cross-multiplied by n), and
    * r(l)_e6 = sign · (|Σₜ aₜ·aₜ₊ₗ| · 1e6 div Σₜ aₜ²) — numerator over
    * calendar-lag pairs (a missing day simply contributes no pair;
    * gap-fill upstream via [[gapFillDaily]] if LOCF semantics are
    * wanted), denominator over the full series, |r| ≤ 1 by
    * Cauchy–Schwarz. The e6 scaling runs as two chained exact Long
    * divisions (×1000 twice), so nothing needs 128-bit arithmetic;
    * sign-factored so floor ≡ truncate cross-engine. Three gates hold
    * everything under 2⁶³, violating keys raise in-plan: n·max|x| ≤
    * 3·10⁶ (each centered value |a| ≤ 2·n·max|x| ≤ 6·10⁶, so every
    * product a·b ≤ 3.6·10¹³) and n ≤ 2.5·10⁵ (den and num are sums of
    * ≤ n such products, ≤ 9·10¹⁸ < 2⁶³ — the SUMS themselves stay
    * exact) are static; the ×1000 steps additionally need den ≤
    * 2⁶³/1000 ≈ 9.2·10¹⁵ (both scaled values are ≤ den·1000 since
    * |num| ≤ den by Cauchy–Schwarz), which the static gates do NOT
    * imply — a strongly anticorrelated series can land den anywhere up
    * to 9·10¹⁸ — so that one is gated DATA-DEPENDENTLY on the computed
    * denominator itself, letting every benign series through and
    * raising only when the scaling would actually overflow. Flat series (denominator 0) report r_e6 null; lags with
    * no pairs report 0 (an empty sum IS zero correlation evidence, not
    * an undefined ratio).
    *
    * Scale shape: everything runs in (key, day) summary space — one
    * grouped stat pass, one maxLag-way row-local explode, one keyed
    * equi-join on (key, day+lag), one grouped reduce. The corpus-sized
    * scan is whatever built the daily frame upstream. */
  def acfReport(daily: DataFrame, keyCols: Seq[String], dayCol: String,
      valueCol: String, maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val k = keyCols.map(col)
    val base = daily.filter(col(valueCol).isNotNull)
      .select(k :+ col(dayCol).cast("long").as("__d") :+
        col(valueCol).cast("long").as("__x"): _*)
    val stats = base.groupBy(k: _*)
      .agg(count(lit(1)).as("__n"), sum("__x").as("__s"),
        max(abs(col("__x"))).as("__mx"))
      // Two STATIC overflow gates, both raised in-plan: n·max|x| ≤ 3e6
      // bounds every centered product a·b ≤ (2·n·max|x|)² ≤ 3.6e13, and
      // n ≤ 2.5e5 bounds the SUMS of those products — den, num ≤
      // n·3.6e13 ≤ 9e18 < 2⁶³ — so the aggregates themselves are exact
      // (a 684-year daily series fits). Neither bounds the ×1000
      // scaling: that needs den ≤ 2⁶³/1000, which depends on the DATA
      // (den can legitimately reach 9e18 under both static gates), so
      // it is gated below on the computed denominator.
      .withColumn("__n", when(
        col("__mx") * col("__n") <= 3000000L && col("__n") <= 250000L,
        col("__n"))
        .otherwise(raise_error(lit(
          "acfReport: needs n*max|x| <= 3e6 AND n <= 250000 to keep exact " +
            "Long products and sums inside 2^63; coarsen the " +
            "value unit or the period grain"))))
    val a = base.join(stats, keyCols)
      .select(k :+ col("__d") :+
        (col("__n") * col("__x") - col("__s")).as("__a"): _*)
    // DATA-DEPENDENT gate for the chained e6 scaling: both ×1000 products
    // below are ≤ den·1000 (|num| ≤ den by Cauchy–Schwarz; the remainder
    // in the second step is < den), so den ≤ Long.MAX/1000 is exactly
    // what keeps them inside 2⁶³. The static gates make den itself exact
    // but permit den up to 9e18 — e.g. an alternating ±12 series over
    // 5·10⁴ days lands den ≈ 1.8e16, which would overflow the scaling
    // (ANSI throw at best, silent wrap at worst) yet passes both static
    // gates. Gating on the computed den is exact and lets every series
    // whose scaling genuinely fits through.
    val den = a.groupBy(k: _*).agg(sum(col("__a") * col("__a")).as("__den"))
      .withColumn("__den",
        when(col("__den") <= Long.MaxValue / 1000L, col("__den"))
          .otherwise(raise_error(lit(
            "acfReport: sum of squared centered values exceeds 2^63/1000 " +
              "so the exact e6 scaling would overflow; coarsen the value " +
              "unit"))))
    val lagged = a
      .withColumn("__l", explode(sequence(lit(1L), lit(maxLag.toLong))))
      .withColumn("__d", col("__d") + col("__l"))
      .withColumnRenamed("__a", "__b")
    val num = a.join(lagged, keyCols :+ "__d")
      .groupBy(k :+ col("__l"): _*)
      .agg(count(lit(1)).as("n_pairs"), sum(col("__a") * col("__b")).as("__num"))
    val grid = stats
      .withColumn("__l", explode(sequence(lit(1L), lit(maxLag.toLong))))
    grid.join(num, keyCols :+ "__l", "left")
      .join(den, keyCols)
      .withColumn("__num", coalesce(col("__num"), lit(0L)))
      .withColumn("__an", abs(col("__num")))
      // exact floor(|num|·1e6 / den) in two ×1000 Long steps; nullif keeps
      // a FLAT series (den = 0) on the documented null path — without it
      // ANSI `div` throws DIVIDE_BY_ZERO before the output `when` can mask
      .withColumn("__q1", expr("__an * 1000L div nullif(__den, 0L)"))
      .withColumn("__q2",
        expr("(__an * 1000L - __q1 * __den) * 1000L div nullif(__den, 0L)"))
      .select(k ++ Seq(col("__l").as("lag"), col("__n").as("n_days"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        when(col("__den") === 0L, lit(null).cast("long"))
          .otherwise(signum(col("__num")).cast("long") *
            (col("__q1") * lit(1000L) + col("__q2"))).as("r_e6")): _*)
  }
}
