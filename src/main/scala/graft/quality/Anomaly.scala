package graft.quality

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Q8-Q12 — statistical anomaly detection
  * (reference: src/data_quality/anomaly_detection.py).
  *
  * Determinism note: the reference computes mean/stddev with floating-point
  * aggregation, whose result depends on partition merge order — on a cluster
  * two runs can disagree in the last bits. Here the sufficient statistics
  * (Σx, Σx²) are EXACT integer sums of fixed-point values (`scale` decimal
  * digits), so bounds are bit-reproducible across runs, partitionings, and
  * engines. One scan for the stats, one for the flags.
  *
  * Scale notes: stats aggregate to a single row (broadcast back for the
  * filter pass — no shuffle of the fact table); the moving-average variant
  * shuffles once on the partition key, same as any window.
  */
object Anomaly {

  /** value → exact fixed-point long (10^scale units). The input must have at
    * most `scale` decimal digits (true of money-like columns). */
  private def fixed(c: Column, scale: Int): Column =
    round(c * pow(lit(10.0), lit(scale))).cast("long")

  /** Exact sufficient statistics for one column: n, Σx, Σx² in fixed-point.
    * Sample variance via (Σx² − (Σx)²/n)/(n−1), evaluated in double AFTER
    * the exact integer sums. */
  def exactStats(df: DataFrame, column: String, scale: Int = 2): DataFrame = {
    val v = fixed(col(column), scale)
    val denom = pow(lit(10.0), lit(scale))
    df.agg(
      count(col(column)).as("n"),
      sum(v).as("s1"),
      sum(v * v).as("s2"))
      .select(
        col("n"),
        (col("s1").cast("double") / col("n").cast("double") / denom).as("mean"),
        when(col("n") > 1,
          sqrt(
            (col("s2").cast("double") -
              col("s1").cast("double") * col("s1").cast("double") / col("n").cast("double"))
              / (col("n").cast("double") - lit(1.0))) / denom)
          .as("stddev"))
  }

  /** Q8 — z-score bounds mean±k·σ and the anomaly count, one row.
    * Severity tiers (>3/4/5σ) are driver-side on the returned bounds. */
  def zScoreReport(df: DataFrame, column: String, k: Double, scale: Int = 2): DataFrame = {
    val stats = exactStats(df, column, scale)
      .withColumn("lo", col("mean") - lit(k) * col("stddev"))
      .withColumn("hi", col("mean") + lit(k) * col("stddev"))
    df.select(col(column)).crossJoin(broadcast(stats))
      .groupBy("n", "mean", "stddev", "lo", "hi")
      .agg(count(when(col(column) < col("lo") || col(column) > col("hi"), 1))
        .as("anomaly_count"))
  }

  /** Driver-side view of one column's exact stats. */
  final case class ColStats(n: Long, mean: Double, stddev: Option[Double])

  /** Exact sufficient statistics for SEVERAL columns as aggregate
    * columns: the row count, then n, Σx, Σx² per column — the
    * orchestrator's fused form of `exactStats` (the reference runs one
    * stats job per column; at 100 TB that's c full scans vs one). They
    * ride in the caller's own aggregate; [[exactStatsFrom]] reads them
    * back. */
  def exactStatsAggs(columns: Seq[String], scale: Int = 2): Seq[Column] =
    count(lit(1)) +: columns.flatMap { c =>
      val v = fixed(col(c), scale)
      Seq(count(col(c)), sum(v), sum(v * v))
    }

  /** The row count and per-column stats from an aggregate row holding
    * [[exactStatsAggs]] at `offset`. The double math replays `exactStats`
    * exactly, so bounds are identical. */
  def exactStatsFrom(row: Row, offset: Int, columns: Seq[String],
      scale: Int = 2): (Long, Map[String, ColStats]) = {
    val denom = math.pow(10.0, scale)
    val stats = columns.zipWithIndex.map { case (c, i) =>
      val at = offset + 3 * i
      val n = row.getLong(at + 1)
      if (n == 0) c -> ColStats(0L, Double.NaN, None)
      else {
        val s1 = row.getLong(at + 2).toDouble
        val s2 = row.getLong(at + 3).toDouble
        val mean = s1 / n.toDouble / denom
        val stddev =
          if (n > 1) Some(math.sqrt((s2 - s1 * s1 / n.toDouble) / (n.toDouble - 1.0)) / denom)
          else None
        c -> ColStats(n, mean, stddev)
      }
    }.toMap
    (row.getLong(offset), stats)
  }

  /** Out-of-bounds counts for SEVERAL columns in ONE pass. */
  def boundsViolationCounts(df: DataFrame,
      bounds: Seq[(String, Double, Double)]): Map[String, Long] = {
    if (bounds.isEmpty) return Map.empty
    val aggs = bounds.map { case (c, lo, hi) =>
      count(when(col(c) < lo || col(c) > hi, 1)).as(s"${c}__anom")
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    bounds.zipWithIndex.map { case ((c, _, _), i) => c -> row.getLong(i) }.toMap
  }

  /** Severity tier for a z-score distance
    * (reference: anomaly_detection.py:108-116). */
  def zSeverity(z: Column): Column =
    when(z > 5, "CRITICAL").when(z > 4, "HIGH").when(z > 3, "MEDIUM")
      .otherwise("LOW")

  /** Severity tier for an IQR-units distance beyond the bounds
    * (reference: anomaly_detection.py:181-190). */
  def iqrSeverity(iqrDistance: Column): Column =
    when(iqrDistance > 5, "CRITICAL").when(iqrDistance > 3, "HIGH")
      .when(iqrDistance > 2, "MEDIUM").otherwise("LOW")

  /** Q8 — the anomalous rows themselves with their z-score and severity
    * tier, engine-side (the reference computes these driver-side over a
    * 100-row sample; here every anomalous row is tiered, deterministically —
    * callers cap with an orderBy+limit if they want the sample). */
  def zScoreAnomalies(df: DataFrame, column: String, k: Double, scale: Int = 2): DataFrame = {
    val stats = exactStats(df, column, scale)
      .select(col("mean"), col("stddev"),
        (col("mean") - lit(k) * col("stddev")).as("lo"),
        (col("mean") + lit(k) * col("stddev")).as("hi"))
    df.crossJoin(broadcast(stats))
      .filter(col(column) < col("lo") || col(column) > col("hi"))
      .withColumn("z_score",
        abs((col(column) - col("mean")) / col("stddev")))
      .withColumn("severity", zSeverity(col("z_score")))
      .drop("mean", "stddev", "lo", "hi")
  }

  /** Q9 — IQR-anomalous rows with distance-based severity (distance from
    * the NEARER bound in IQR units; iqr <= 0 → distance 0 → LOW, like the
    * reference) from EXACT interpolated quantiles, fully engine-side via a
    * broadcast stats join (anomaly_detection.py:139-205). Cross-engine
    * deterministic, so the severity tiers are oracle-gated. */
  def iqrAnomaliesExact(df: DataFrame, column: String, mult: Double = 1.5): DataFrame = {
    val bounds = exactQuantiles(df, column, Seq(0.25, 0.75))
      .select(
        (col("p75") - col("p25")).as("iqr"),
        (col("p25") - lit(mult) * (col("p75") - col("p25"))).as("lo"),
        (col("p75") + lit(mult) * (col("p75") - col("p25"))).as("hi"))
    df.crossJoin(broadcast(bounds))
      .filter(col(column) < col("lo") || col(column) > col("hi"))
      .withColumn("iqr_distance",
        when(col("iqr") > 0,
          least(abs(col(column) - col("lo")), abs(col(column) - col("hi")))
            / col("iqr"))
          .otherwise(lit(0.0)))
      .withColumn("severity", iqrSeverity(col("iqr_distance")))
      .drop("iqr", "lo", "hi")
  }

  /** Robust (MAD) anomalies — the median-based complement of the z-score
    * (Q8, mean/σ both corrupted by the outliers they hunt) and IQR (Q9)
    * detectors: flag rows whose robust z-score 0.6745·|x−median|/MAD
    * exceeds `tau` (0.6745 normalizes MAD to σ under normality; τ=3.5 is
    * the Iglewicz–Hoaglin convention). Medians are EXACT interpolated
    * ones: two global `percentile` aggregates broadcast back onto the
    * rows, flagging row-local. MAD = 0 (≥half the values identical) flags
    * nothing — the detector has no scale to normalize by. `robust_z_e6`
    * micro-units round away last-ulp interpolation drift between engines
    * (the q52 lesson). */
  def madAnomaliesExact(df: DataFrame, column: String, tau: Double = 3.5): DataFrame = {
    val med = df.agg(expr(s"percentile($column, 0.5)").as("_med"))
    val dev = df.crossJoin(broadcast(med))
      .withColumn("_absdev", abs(col(column) - col("_med")))
    val mad = dev.agg(expr("percentile(_absdev, 0.5)").as("_mad"))
    dev.crossJoin(broadcast(mad))
      .filter(col("_mad") > 0 &&
        lit(0.6745) * col("_absdev") / col("_mad") > lit(tau))
      .withColumn("robust_z_e6",
        round(lit(0.6745) * col("_absdev") / col("_mad") * 1e6).cast("long"))
      .drop("_med", "_absdev", "_mad")
  }

  /** Per-GROUP robust MAD anomalies — [[madAnomaliesExact]] stratified by
    * `byCol` (per-domain / per-event-type monitoring: a value normal
    * globally can be wildly anomalous for ITS stratum, and one stratum's
    * outliers must not widen another's scale). Same bounded-cardinality
    * contract on `byCol` as `winsorize` (grouped percentile state is
    * per-group-buffered); null-keyed groups are scored against their own
    * median, not dropped (null-safe joins, the winsorize lesson). MAD = 0
    * strata flag nothing. Two grouped percentile aggregates broadcast back;
    * flagging row-local. */
  def madAnomaliesByGroup(df: DataFrame, column: String, byCol: String,
      tau: Double = 3.5): DataFrame = {
    val med = df.groupBy(col(byCol).as("_by"))
      .agg(expr(s"percentile($column, 0.5)").as("_med"))
    val dev = df.join(broadcast(med), col(byCol) <=> col("_by")).drop("_by")
      .withColumn("_absdev", abs(col(column) - col("_med")))
    val mad = dev.groupBy(col(byCol).as("_by"))
      .agg(expr("percentile(_absdev, 0.5)").as("_mad"))
    dev.join(broadcast(mad), col(byCol) <=> col("_by")).drop("_by")
      .filter(col("_mad") > 0 &&
        lit(0.6745) * col("_absdev") / col("_mad") > lit(tau))
      .withColumn("robust_z_e6",
        round(lit(0.6745) * col("_absdev") / col("_mad") * 1e6).cast("long"))
      .drop("_med", "_absdev", "_mad")
  }

  /** Exact interpolated quantiles (SQL `percentile`) — deterministic
    * across engines, used by the correctness oracle. */
  def exactQuantiles(df: DataFrame, column: String, ps: Seq[Double]): DataFrame = {
    val arr = ps.map(p => lit(p))
    df.agg(expr(
      s"percentile($column, array(${ps.mkString(",")}))").as("qs"))
      .select(ps.zipWithIndex.map { case (p, i) =>
        element_at(col("qs"), i + 1).as(s"p${(p * 100).toInt}")
      }: _*)
  }

  /** Winsorization: clamp a numeric column to its exact per-group
    * [pLo, pHi] interpolated quantiles — the standard heavy-tail guard
    * before feature normalization or a z-score pass. The bounds come from
    * one grouped percentile aggregate (a |groups|-sized result) broadcast
    * back onto the rows; the clamp itself is row-local, so the whole
    * operator is one corpus scan + one broadcast join at any scale.
    * Appends `<valueCol>_wins`, everything else untouched. */
  def winsorize(df: DataFrame, valueCol: String, byCol: String,
      pLo: Double, pHi: Double): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo <= pHi,
      s"need 0 <= pLo <= pHi <= 1, got [$pLo, $pHi]")
    // null-safe join key: a NULL group still gets (and is clamped to) its
    // own bounds — a plain equi-join would silently DROP every null-keyed
    // row, which breaks the "everything else untouched" contract
    val bounds = df.groupBy(col(byCol).as("_by"))
      .agg(expr(s"percentile($valueCol, array($pLo, $pHi))").as("_qs"))
      .select(col("_by"), element_at(col("_qs"), 1).as("_lo"),
        element_at(col("_qs"), 2).as("_hi"))
    df.join(broadcast(bounds), col(byCol) <=> col("_by"), "left")
      .withColumn(s"${valueCol}_wins",
        least(greatest(col(valueCol), col("_lo")), col("_hi")))
      .drop("_by", "_lo", "_hi")
  }

  /** Fixed-bin bucket id for a value: 0 below `lo`, nBins+1 at/above `hi`,
    * else floor((x−lo)/(hi−lo)·n)+1 — the width_bucket formula written out
    * explicitly so every engine computes the identical double before the
    * floor (builtin width_bucket implementations differ at boundaries). */
  private def bucketOf(c: Column, lo: Double, hi: Double, nBins: Int): Column =
    when(c < lo, lit(0L))
      .when(c >= hi, lit(nBins + 1L))
      .otherwise(floor((c - lit(lo)) / lit(hi - lo) * lit(nBins.toDouble))
        .cast("long") + 1L)

  /** Fixed-bin histogram counts (bucket, n) — one side of the drift
    * report. */
  private def histogramCounts(df: DataFrame, column: String,
      lo: Double, hi: Double, nBins: Int): DataFrame = {
    require(nBins >= 1 && hi > lo, s"bad histogram params [$lo, $hi) x $nBins")
    df.filter(col(column).isNotNull)
      .groupBy(bucketOf(col(column), lo, hi, nBins).as("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** Histogram drift between two corpus snapshots — the distribution-shift
    * monitor a continuously-ingested 100 TB corpus needs per batch: both
    * sides bucket into the same fixed bins (under/overflow as buckets 0 and
    * nBins+1), and each bin reports counts, integer micro-unit shares, and
    * the share delta. Everything integer after the bucket floor, so the
    * report hash-compares across engines; feed `delta_e6` into a threshold
    * alert or a PSI-style score downstream. One groupBy per side on the
    * bin id — linear, no window, no join back to row data. Bins with no
    * rows on either side are omitted (outer-join semantics, zero-filled). */
  def histogramDrift(baseline: DataFrame, current: DataFrame, column: String,
      lo: Double, hi: Double, nBins: Int): DataFrame = {
    val b = histogramCounts(baseline, column, lo, hi, nBins)
      .withColumnRenamed("n", "n_base")
    val c = histogramCounts(current, column, lo, hi, nBins)
      .withColumnRenamed("n", "n_cur")
    // ≤ nBins+2 rows: materialize once so the totals aggregate below does
    // not re-run both input scans and the outer join a second time
    val joined = b.join(c, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
      .localCheckpoint()
    val totals = joined.agg(sum(col("n_base")).as("_tb"),
      sum(col("n_cur")).as("_tc"))
    joined.crossJoin(broadcast(totals))
      .select(col("bucket"), col("n_base"), col("n_cur"),
        when(col("_tb") === 0, lit(0L))
          .otherwise(expr("n_base * 1000000L div _tb")).as("share_base_e6"),
        when(col("_tc") === 0, lit(0L))
          .otherwise(expr("n_cur * 1000000L div _tc")).as("share_cur_e6"))
      .withColumn("delta_e6", col("share_cur_e6") - col("share_base_e6"))
  }

  /** Q10 — categorical frequency profile: every category with its count,
    * frequency, and rare flag (frequency < minFreq). Total via scalar agg +
    * broadcast, not a global window. */
  def categoryFrequencies(df: DataFrame, column: String, minFreq: Double): DataFrame = {
    val total = df.agg(count(lit(1)).as("total"))
    df.groupBy(column).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .select(
        col(column),
        col("cnt"),
        (col("cnt").cast("double") / col("total").cast("double")).as("freq"),
        (col("cnt").cast("double") / col("total").cast("double") < lit(minFreq))
          .as("is_rare"))
  }

  /** Q12 — moving-average anomaly over a row frame (reference: pandas
    * rolling(window, min_periods=1) mean/std, flag |x−mean| > k·σ; first row
    * of each group has undefined σ → never anomalous; σ==0 → never
    * anomalous). Exact fixed-point rolling sums → reproducible flags. */
  def movingAnomaly(
      df: DataFrame,
      partitionBy: Seq[String],
      orderBy: Seq[String],
      valueCol: String,
      window: Int = 7,
      k: Double = 2.0,
      scale: Int = 2): DataFrame = {
    val w = Window.partitionBy(partitionBy.map(col): _*)
      .orderBy(orderBy.map(col): _*)
      .rowsBetween(-(window - 1), 0)
    val denom = pow(lit(10.0), lit(scale))
    val v = fixed(col(valueCol), scale)
    val n = count(lit(1)).over(w).cast("double")
    val s1 = sum(v).over(w).cast("double")
    val s2 = sum(v * v).over(w).cast("double")
    val mean = s1 / n / denom
    val std = when(n > 1,
      sqrt((s2 - s1 * s1 / n) / (n - lit(1.0))) / denom)
    df.withColumn("roll_n", n.cast("long"))
      .withColumn("roll_mean", mean)
      .withColumn("roll_std", std)
      .withColumn("is_anomaly",
        coalesce(
          col("roll_std").isNotNull && col("roll_std") > 0 &&
            abs(col(valueCol) - col("roll_mean")) > lit(k) * col("roll_std"),
          lit(false)))
  }

  /** EXACT two-sample Kolmogorov–Smirnov distance — the unbinned complement
    * to [[histogramDrift]]: D = max over all observed values of
    * |ECDF_a(x) − ECDF_b(x)|, with no binning loss and no (lo, hi, nBins)
    * to get wrong. All comparison arithmetic is integer: at each distinct
    * value the deviation is |n_b·cum_a − n_a·cum_b| (both products BIGINT),
    * and D itself divides two exact integers < 2⁵³ — bit-identical on
    * every engine.
    *
    * One row out: (n_a, n_b, ks_num, ks_e6) where D = ks_num/(n_a·n_b).
    *
    * Scale shape: one groupBy per side in VALUE space (counts per distinct
    * value), then a running sum over the merged value summary — the same
    * summary-space posture as `Curation.percentileRank`; row data is never
    * windowed. The summary is bounded by value CARDINALITY, not row count;
    * for unbounded-cardinality columns at 100 TB, bin first
    * ([[histogramDrift]]) or quantize to fixed precision — an exact ECDF
    * over genuinely unique doubles is inherently a sort of the distinct
    * values, on any engine. Nulls are excluded from both sides. */
  def ksDrift(dfA: DataFrame, dfB: DataFrame, column: String): DataFrame = {
    def counts(df: DataFrame, as: String): DataFrame =
      df.filter(col(column).isNotNull)
        .groupBy(col(column).as("v")).agg(count(lit(1)).as(as))
    val merged = counts(dfA, "ca").join(counts(dfB, "cb"), Seq("v"), "full_outer")
      .select(col("v"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    // the distinct-value summary: cumulative counts up each side's ECDF
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    val cums = merged.select(
      sum("ca").over(w).as("cum_a"), sum("cb").over(w).as("cum_b"))
    val totals = merged.agg(sum("ca").as("n_a"), sum("cb").as("n_b"))
    cums.crossJoin(broadcast(totals)) // 1-row stat frame, same as zScore
      .select(col("n_a"), col("n_b"),
        abs(col("n_b") * col("cum_a") - col("n_a") * col("cum_b")).as("dev"))
      .groupBy("n_a", "n_b").agg(max(col("dev")).as("ks_num"))
      .select(col("n_a"), col("n_b"), col("ks_num"),
        round(col("ks_num").cast("double") /
            (col("n_a") * col("n_b")).cast("double") * lit(1e6))
          .cast("long").as("ks_e6"))
  }

  /** Per-group least-squares trend over an INTEGER (x, y) series — the
    * drift-direction detector over daily mart series: is this metric
    * rising, and how fast? Slope = (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²), both
    * sides exact BIGINT sufficient statistics from one grouped pass, so
    * the fit is partition-order-independent and hash-compares across
    * engines (the final division is double over exact integers; the
    * cancelled numerator/denominator are small). Emits the exact rational
    * (`slope_num`, `slope_den`) plus `slope` as double; a single-x group
    * has den 0 → null slope, never a division error.
    *
    * Overflow contract: |x|·|y|·rows per group must stay within BIGINT —
    * true for day-index x (~2·10⁴) against e6 micro-unit daily aggregates;
    * rebase x (subtract a constant epoch) if feeding wider series.
    *
    * Scale shape: ONE groupBy over the input — no window, no join; output
    * is |groups| rows. Feed it aggregated series (e.g. daily totals), not
    * raw events, and the input is summary-sized too. */
  def linearTrend(df: DataFrame, groupCols: Seq[String],
      xCol: String, yCol: String): DataFrame = {
    val x = col(xCol).cast("long")
    val y = col(yCol).cast("long")
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(x * y).as("sxy"))
      .select(groupCols.map(col) ++ Seq(
        col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
        den.as("slope_den"),
        when(den =!= 0,
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            den.cast("double")).as("slope")): _*)
  }

  /** Full per-group OLS fit — slope, intercept, and r² — from one grouped
    * pass of exact BIGINT sufficient statistics (n, Σx, Σy, Σx², Σy², Σxy).
    * [[linearTrend]]'s big sibling for when "how fast" needs "and how
    * well does a line explain it".
    *
    * x is RECENTERED per group (x − min x, one extra lightweight grouped
    * min, broadcast back): raw epoch days push n·Σxy toward 2^63, and the
    * intercept of an epoch-day axis is a meaningless extrapolation to
    * 1970. After recentering, every integer stat fits comfortably and the
    * intercept is the fitted value at the group's own first x.
    *
    * Determinism: sums are exact integers; slope/intercept/r² are then a
    * FIXED dag of IEEE double ops (cast, multiply, divide) on those
    * integers — bit-identical on any engine, so e6-rounded outputs
    * hash-compare. r² = cov²/(varx·vary) in the n-scaled integer form
    * (n·Σxy − ΣxΣy)² / ((n·Σx² − (Σx)²)(n·Σy² − (Σy)²)); a flat-x or
    * flat-y group has no defined fit quality → null r², null slope for
    * flat-x. */
  def linearFit(df: DataFrame, groupCols: Seq[String],
      xCol: String, yCol: String): DataFrame = {
    val gcols = groupCols.map(col)
    val xmin = df.groupBy(gcols: _*)
      .agg(min(col(xCol).cast("long")).as("__x0"))
    val x = col(xCol).cast("long") - col("__x0")
    val y = col(yCol).cast("long")
    val joined =
      if (groupCols.isEmpty) df.crossJoin(broadcast(xmin))
      else df.join(broadcast(xmin), groupCols)
    val covN = col("n") * col("sxy") - col("sx") * col("sy")
    val varXN = col("n") * col("sxx") - col("sx") * col("sx")
    val varYN = col("n") * col("syy") - col("sy") * col("sy")
    joined.groupBy(gcols: _*)
      .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(x * y).as("sxy"))
      .select(gcols ++ Seq(
        col("n"),
        when(varXN =!= 0, covN.cast("double") / varXN.cast("double"))
          .as("slope"),
        // intercept = (Σy·Σx² − Σx·Σxy)/(n·Σx² − (Σx)²)
        when(varXN =!= 0,
          (col("sy") * col("sxx") - col("sx") * col("sxy")).cast("double")
            / varXN.cast("double")).as("intercept"),
        when(varXN =!= 0 && varYN =!= 0,
          covN.cast("double") * covN.cast("double")
            / (varXN.cast("double") * varYN.cast("double"))).as("r2")): _*)
  }

  /** Per-group CUSUM changepoint over an ordered INTEGER series (yCol
    * must be NON-NULL: a null y would be skipped by the running sum but
    * still counted by n_points, silently skewing D — filter or
    * zero-fill first, as q120's daily aggregation does) — WHERE
    * did this metric shift, to go with [[linearTrend]]'s how-fast. For
    * each prefix t of the series the statistic is the exact integer
    * D_t = |n·cum_t − t·total| (the mean-shift CUSUM deviation scaled by
    * n so no rational mean is ever materialized); the changepoint is the
    * argmax — by the CUSUM convention the LAST point of the pre-shift
    * regime. Ties break on the earliest order value, and a perfectly
    * flat series reports its first point with d_stat 0 — callers
    * threshold on `d_stat` (or the emitted exact integers) to decide
    * whether a shift is real.
    *
    * Overflow contract: n·|cum| per group must stay within BIGINT — true
    * for daily e6 micro-unit series over years (10⁴ days × 10¹⁴ mass);
    * pre-aggregate coarser if feeding wider series.
    *
    * Scale shape: the input is an already-aggregated series (e.g. the
    * daily totals fed to linearTrend), so every window here runs over
    * summary-sized per-group frames — days per key, never row data. Two
    * keyed windows (running sum + argmax) and one whole-group frame, all
    * sharing the group-key shuffle.
    *
    * Output: group cols + (change_point, t_index, n_points, cum_before,
    * total, d_stat) — cum_before/total are the exact regime masses, so
    * before/after means are one division away in the caller's precision
    * of choice. */
  def changepoints(df: DataFrame, groupCols: Seq[String],
      orderCol: String, yCol: String): DataFrame = {
    val gcols = groupCols.map(col)
    val wOrd = Window.partitionBy(gcols: _*).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(gcols: _*)
    val wBest = Window.partitionBy(gcols: _*)
      .orderBy(col("d_stat").desc, col(orderCol))
    df.select(gcols :+ col(orderCol) :+ col(yCol).cast("long").as("_y"): _*)
      .withColumn("t_index", row_number().over(
        Window.partitionBy(gcols: _*).orderBy(col(orderCol))).cast("long"))
      .withColumn("cum_before", sum(col("_y")).over(wOrd))
      .withColumn("n_points", count(lit(1)).over(wAll))
      .withColumn("total", sum(col("_y")).over(wAll))
      .withColumn("d_stat",
        abs(col("n_points") * col("cum_before") - col("t_index") * col("total")))
      .withColumn("_r", row_number().over(wBest))
      .filter(col("_r") === 1)
      .select(gcols ++ Seq(col(orderCol).as("change_point"),
        col("t_index"), col("n_points"), col("cum_before"), col("total"),
        col("d_stat")): _*)
  }

  /** Equi-depth (ntile) profile: rank rows into `n` equal-count buckets on
    * a total order and report each bucket's exact boundaries and mass — the
    * calibration-curve / score-binning view (are the model's top deciles
    * actually better?) that equi-WIDTH histograms (histogramDrift) can't
    * give on skewed scores.
    *
    * Determinism: the order is totalized by `tieCol` (a unique key), so
    * ntile assignment — including which bucket each tie lands in and which
    * buckets carry the n%‖df‖ extra rows — is bit-identical across engines.
    * All outputs are exact integers (counts + e6-scaled value sums).
    *
    * Scale shape: ntile needs a GLOBAL sort — on a cluster that is a range-
    * exchange (sampled range partitioner), not a single-partition window the
    * way an unpartitioned `Window.orderBy` would plan it... except ntile IS
    * that window. So this exact form is for ≲10^9-row frames (score tables,
    * per-group profiles), and the 100 TB path is the same report from
    * `exactQuantiles`/`approxQuantile` BOUNDARIES with row-local bucket
    * assignment — same buckets except around boundary ties, no global sort.
    * EquiDepthSpec pins that boundary form's agreement with this one on a
    * tie-free frame.
    */
  def equiDepthProfile(df: DataFrame, valueCol: String, tieCol: String,
      n: Int): DataFrame =
    // null contract (mirrors histogramCounts): null values carry no rank —
    // without this filter Spark ntiles nulls FIRST while DuckDB ranks them
    // LAST, silently shifting every bucket of a null-bearing column
    df.filter(col(valueCol).isNotNull)
      .withColumn("bucket",
        ntile(n).over(Window.orderBy(col(valueCol), col(tieCol))).cast("long"))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n_rows"),
        min(e6(col(valueCol))).as("min_e6"),
        max(e6(col(valueCol))).as("max_e6"),
        sum(e6(col(valueCol))).as("sum_e6"))
      .orderBy("bucket")

  /** CONCENTRATION report: per group, the Gini coefficient and the mass
    * share of the top decile of rows over a NON-NEGATIVE exact-integer
    * value — "do a few heavy rows own this metric" (domain dominance of
    * token mass, whale users of revenue), the inequality view the mean/σ
    * family can't see. ALL integer arithmetic: the rank·value sum uses
    * the q195 average-rank trick on the per-value frame
    * (Σ v·c·(2·cum_before + c + 1), exact), gini_e6 =
    * S2·1e6 div (n·total) − (n+1)·1e6 div n (two floor divisions — no
    * IEEE anywhere), and the top-10% share splits boundary tie blocks
    * by exact row arithmetic. Negative values are filtered (Gini is
    * undefined below zero — the documented contract); groups with zero
    * total report null gini/share. Keep n·total·1e6 within a long (the
    * e2 convention gives huge headroom).
    *
    * Scale shape: one grouped count in (group × value) space, one
    * window + two aggregates over that VALUE-DOMAIN frame — row data is
    * touched once. */
  def concentrationReport(df: DataFrame, groupCols: Seq[String],
      valueCol: String): DataFrame = {
    val gcols = groupCols.map(col)
    val base = df
      .filter(col(valueCol).isNotNull && col(valueCol) >= 0)
      .select(gcols :+ col(valueCol).cast("long").as("__v"): _*)
    val perV = base.groupBy(gcols :+ col("__v"): _*)
      .agg(count(lit(1)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(gcols: _*).orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val enr = perV.withColumn("__cb", coalesce(sum("__c").over(w), lit(0L)))
    val stats = enr.groupBy(gcols: _*)
      .agg(sum("__c").as("n"),
        sum(col("__v") * col("__c")).as("total"),
        sum(col("__v") * col("__c") *
          (lit(2L) * col("__cb") + col("__c") + lit(1L))).as("__s2"))
    // top-decile mass: k = n div 10 highest rows; a tie block straddling
    // the boundary contributes exactly its rows above position n − k
    val withN = enr.join(
      stats.select(gcols :+ col("n").as("__n"): _*), groupCols)
    val topMass = withN
      .withColumn("__k", expr("__n div 10"))
      .withColumn("__above",
        greatest(lit(0L), least(col("__c"),
          col("__cb") + col("__c") - (col("__n") - col("__k")))))
      .groupBy(gcols: _*)
      .agg(sum(col("__v") * col("__above")).as("__top_mass"))
    stats.join(topMass, groupCols)
      .select(gcols ++ Seq(col("n"), col("total"),
        when(col("total") > 0L,
          expr("__s2 * 1000000L div (n * total) - (n + 1L) * 1000000L div n"))
          .as("gini_e6"),
        when(col("total") > 0L && expr("n div 10") > 0L,
          expr("__top_mass * 1000000L div total")).as("top10_share_e6")): _*)
  }

  /** Herfindahl–Hirschman concentration (Simpson index) per group: with
    * category counts n_c and group total N,
    *
    *   hhi_e6 = Σ n_c² · 10⁶ div N²       (1/|cats| uniform … 10⁶ monopoly)
    *   eff_cats_e6 = N² · 10⁶ div Σ n_c²  (the "effective number of
    *                                       categories", 1/HHI — e.g. a
    *                                       domain mix that behaves like
    *                                       3.2 equally-sized sources)
    *
    * The share-squared complement of [[concentrationReport]]'s Gini:
    * Gini ranks inequality of a numeric MASS, HHI measures how few
    * CATEGORIES hold the rows — the dedup-source / domain-mix / hot-user
    * diagnostic. All exact integer floor divisions (counts, two
    * squarings); N ≤ ~3·10⁹ keeps N²·10⁶ in a long — past that, feed
    * pre-aggregated counts and derive downstream (the gainsTable
    * posture). Null categories count as a real category (they hold rows;
    * invisible concentration would defeat the diagnostic).
    *
    * Scale shape: one grouped count in (group × category) space, one
    * group-keyed rollup of that frame — row data touched once, no
    * windows, no joins. */
  def hhiReport(df: DataFrame, groupCols: Seq[String],
      catCol: String): DataFrame = {
    val gcols = groupCols.map(col)
    df.groupBy(gcols :+ col(catCol).as("__cat"): _*)
      .agg(count(lit(1)).as("__c"))
      .groupBy(gcols: _*)
      .agg(count(lit(1)).as("n_cats"), sum("__c").as("n"),
        sum(col("__c") * col("__c")).as("__s2"))
      .select(gcols ++ Seq(col("n_cats"), col("n"),
        expr("__s2 * 1000000L div (n * n)").as("hhi_e6"),
        expr("n * n * 1000000L div __s2").as("eff_cats_e6")): _*)
  }

  /** [[hhiReport]] weighted by an integer MASS instead of row counts —
    * revenue/token/byte concentration rather than event concentration
    * (one whale customer is invisible to a count-HHI if it orders once).
    * Squaring raw masses overflows (an e2 mass of 10¹² squares to
    * 10²⁴), so each category first reduces to its exact e6 share
    * (m_c·10⁶ div M) and the index squares THOSE:
    *
    *   hhi_e6 = Σ share_e6² div 10⁶    eff_cats_e6 = 10¹² div hhi_e6
    *
    * — bounded by construction (Σ share_e6 ≤ 10⁶ ⇒ Σ share² ≤ 10¹²),
    * floors applied in a fixed order so engines agree; the share floor
    * understates tiny categories by < 1e-6 each, far inside any
    * concentration read. Negative or null masses are filtered (a
    * negative share-squared is undefined); zero-total groups null out.
    *
    * Scale shape: identical to [[hhiReport]] — one (group × category)
    * aggregate + one group rollup carrying the group total via a
    * window over the CATEGORY-space frame. */
  def hhiReportByMass(df: DataFrame, groupCols: Seq[String],
      catCol: String, massCol: String): DataFrame = {
    val gcols = groupCols.map(col)
    val perCat = df
      .filter(col(massCol).isNotNull && col(massCol) >= 0)
      .groupBy(gcols :+ col(catCol).as("__cat"): _*)
      .agg(sum(col(massCol).cast("long")).as("__m"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(gcols: _*)
    perCat
      .withColumn("__t", sum("__m").over(w))
      .withColumn("__share",
        when(col("__t") > 0L, expr("__m * 1000000L div __t")))
      .groupBy(gcols: _*)
      .agg(count(lit(1)).as("n_cats"),
        max("__t").as("total_mass"),
        sum(col("__share") * col("__share")).as("__s2"))
      .select(gcols ++ Seq(col("n_cats"), col("total_mass"),
        when(col("total_mass") > 0L, expr("__s2 div 1000000L"))
          .as("hhi_e6"),
        when(col("total_mass") > 0L && expr("__s2 div 1000000L") > 0L,
          expr("1000000000000L div (__s2 div 1000000L)"))
          .as("eff_cats_e6")): _*)
  }

  private[quality] def e6(c: Column): Column =
    round(c * lit(1e6)).cast("long")

  /** Metric co-movement matrix: pairwise Pearson correlation between the
    * per-`typeCol` series of an integer metric over a shared time axis —
    * "which metrics move together" (a purchase/error correlation spike is
    * an incident signature; a 1.0 pair is a redundant metric). Join on
    * the time key (inner: only co-observed points correlate), exact
    * BIGINT sufficient stats per pair, and corr = covN/√(varXN·varYN) as
    * one fixed IEEE dag — the q162/q174 determinism posture. Pairs with a
    * flat series have undefined correlation → null. `yCol` must be scaled
    * so n·Σy² fits a long (the e2 convention). Output one row per
    * unordered type pair: (type_a < type_b, n, corr_e6).
    *
    * Scale shape: the series frame is |types × periods| (tiny — already
    * aggregated by the caller); the pair join and stats live entirely in
    * that space. */
  def metricCorrelations(series: DataFrame, typeCol: String,
      timeCol: String, yCol: String): DataFrame = {
    val a = series.select(col(typeCol).as("type_a"), col(timeCol).as("__t"),
      col(yCol).cast("long").as("__xa"))
    val b = series.select(col(typeCol).as("type_b"), col(timeCol).as("__t"),
      col(yCol).cast("long").as("__xb"))
    val covN = col("n") * col("sxy") - col("sx") * col("sy")
    val varXN = col("n") * col("sxx") - col("sx") * col("sx")
    val varYN = col("n") * col("syy") - col("sy") * col("sy")
    a.join(b, Seq("__t")).filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n"),
        sum(col("__xa")).as("sx"), sum(col("__xb")).as("sy"),
        sum(col("__xa") * col("__xa")).as("sxx"),
        sum(col("__xb") * col("__xb")).as("syy"),
        sum(col("__xa") * col("__xb")).as("sxy"))
      .select(col("type_a"), col("type_b"), col("n"),
        when(varXN > 0 && varYN > 0,
          round(lit(1e6) * covN.cast("double")
            / sqrt(varXN.cast("double") * varYN.cast("double"))).cast("long"))
          .as("corr_e6"))
  }

  /** Seasonal (period-of-`period`) residual z-scores of a daily integer
    * series: each (group, day) value scored against the baseline of the
    * SAME weekday slot (day mod period — the epoch-anchored weekday
    * index, an exact integer both engines share; calendar dow functions
    * differ across engines and are the documented q20 +1 trap). The
    * monitoring view that stops "every Saturday looks anomalous"
    * false-positives a flat baseline produces on weekly-seasonal metrics.
    *
    * yCol must be an exact integer series scaled so n·Σy² fits a long
    * (the q162 e2 convention). Baseline stats are exact BIGINT sums per
    * (group, slot); mean/σ/z are then a fixed IEEE dag (divide, sqrt,
    * divide) — cross-engine deterministic, so z_e6 hash-compares.
    * Slots with n < 2 or σ = 0 yield null z.
    *
    * Scale shape: one grouped aggregate in (group × period) space
    * broadcast back onto the |group × days| daily frame — row data is
    * aggregated once upstream by the caller. */
  def seasonalResiduals(daily: DataFrame, groupCols: Seq[String],
      dayCol: String, yCol: String, period: Int = 7): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    val gcols = groupCols.map(col)
    val slot = pmod(col(dayCol).cast("long"), lit(period.toLong)).as("slot")
    val withSlot = daily.select(
      gcols ++ Seq(col(dayCol).cast("long").as(dayCol),
        col(yCol).cast("long").as(yCol), slot): _*)
    val base = withSlot
      .groupBy(gcols :+ col("slot"): _*)
      .agg(count(lit(1)).as("n_slot"),
        sum(col(yCol)).as("sy"), sum(col(yCol) * col(yCol)).as("syy"))
    val varN = col("n_slot") * col("syy") - col("sy") * col("sy")
    withSlot.join(broadcast(base), groupCols :+ "slot")
      .withColumn("z_e6",
        when(col("n_slot") >= 2 && varN > 0,
          round(lit(1e6) *
            (col(yCol).cast("double") -
              col("sy").cast("double") / col("n_slot").cast("double")) /
            sqrt(varN.cast("double") /
              (col("n_slot").cast("double") *
                (col("n_slot").cast("double") - lit(1.0)))))
            .cast("long")))
      .select(gcols ++ Seq(col(dayCol), col("slot"), col(yCol),
        col("n_slot"), col("z_e6")): _*)
  }

  /** Benford's-law first-digit profile of a money-like column — the
    * fabricated-data / unit-mixup smell test (organically-grown amounts
    * follow P(d) = log10(1 + 1/d); uniform or hand-entered ones don't).
    *
    * Determinism: the value is first fixed to exact e2 integer units
    * (`round(x·100)` — the shift never changes the leading significant
    * digit), and the first digit comes from the INTEGER's string form,
    * identical on every engine — never from double formatting, which is
    * not cross-engine stable. The nine Benford shares are hard literal
    * doubles (no runtime log10), so the per-digit χ² contribution
    * (obs − n·p)²/(n·p) is a fixed IEEE dag on exact integers.
    * Zero-valued rows have no first digit and are excluded (standard
    * Benford practice).
    *
    * Output: (digit, n_obs, obs_share_e6, benford_share_e6, chi2_e6),
    * one row per digit 1..9 that occurs. One grouped count — the digit
    * extraction is row-local; everything after lives in 9-row space. */
  def benfordReport(df: DataFrame, column: String): DataFrame = {
    // log10(1 + 1/d), d = 1..9 — fixed literals, bit-identical everywhere
    val p = Seq(0.3010299956639812, 0.17609125905568124, 0.12493873660829993,
      0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
      0.05799194697768673, 0.05115252244738129, 0.04575749056067514)
    val digitCol = substring(
      abs(round(col(column) * lit(100)).cast("long")).cast("string"), 1, 1)
      .cast("long")
    val counts = df
      .filter(col(column).isNotNull &&
        round(col(column) * lit(100)).cast("long") =!= 0L)
      .select(digitCol.as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val n = counts.agg(sum(col("n_obs")).as("__n"))
    val pExpr = element_at(array(p.map(lit): _*), col("digit").cast("int"))
    counts.crossJoin(broadcast(n))
      .withColumn("obs_share_e6", expr("n_obs * 1000000L div __n"))
      .withColumn("benford_share_e6", round(pExpr * lit(1e6)).cast("long"))
      .withColumn("chi2_e6",
        round(lit(1e6) *
          (col("n_obs").cast("double") - col("__n").cast("double") * pExpr) *
          (col("n_obs").cast("double") - col("__n").cast("double") * pExpr) /
          (col("__n").cast("double") * pExpr)).cast("long"))
      .select("digit", "n_obs", "obs_share_e6", "benford_share_e6", "chi2_e6")
  }

  /** EWMA control chart over a per-(group, period) integer series — the
    * classic small-shift monitor that CUSUM's reset logic and the
    * moving-average window both miss: the smoothed level
    * sₜ = α·xₜ + (1−α)·sₜ₋₁ weights ALL history geometrically, so a
    * slow drift accumulates instead of washing out of a fixed window.
    * Each point is compared against the PRE-update level sₜ₋₁ (comparing
    * to the post-update smooth would dilute the very signal being
    * tested).
    *
    * Exact-integer contract: s carried as e6 with the floor applied PER
    * STEP — s₀ = x₀·1e6, sₜ = (alphaE6·xₜ·1e6 + (1e6−alphaE6)·sₜ₋₁)
    * div 1e6 — the [[graft.ops.Retention.kaplanMeier]] fold form, the
    * one deterministic cross-engine shape for a running recurrence.
    * deviation_e6 = xₜ·1e6 − sₜ₋₁ (null on each group's first point —
    * there is no level to deviate from yet); breach = |deviation| >
    * bandE6. |x| must stay ≤ 9·10⁶ so every fold term fits a Long —
    * violating rows raise in-plan (daily counts and e2 metrics are far
    * below; a series needing more wants a coarser unit).
    *
    * Scale shape: one grouped collect of the day-level series (summary
    * space — |groups|·|periods| rows, the KM posture), folds row-local
    * over ≤ |periods| elements. */
  def ewmaChart(daily: DataFrame, groupCols: Seq[String], dayCol: String,
      valueCol: String, alphaE6: Long, bandE6: Long): DataFrame = {
    require(alphaE6 > 0 && alphaE6 <= 1000000L,
      s"alphaE6 must be in (0, 1e6], got $alphaE6")
    require(bandE6 >= 0, s"bandE6 must be >= 0, got $bandE6")
    val gcols = groupCols.map(col)
    val guarded = when(abs(col(valueCol).cast("long")) <= 9000000L,
      col(valueCol).cast("long"))
      .otherwise(raise_error(concat(lit("ewmaChart: |value| > 9e6 at "),
        col(dayCol).cast("string"), lit(" overflows the exact fold"))))
    val steps = daily
      .filter(col(valueCol).isNotNull)
      .select(gcols :+ col(dayCol).cast("long").as("__d") :+
        guarded.as("__x"): _*)
      .groupBy(gcols: _*)
      .agg(array_sort(collect_list(struct(col("__d").as("d"),
        col("__x").as("x")))).as("__s"))
      .withColumn("__xs6",
        expr("transform(__s, s -> s.x * 1000000L)"))
    val beta = 1000000L - alphaE6
    def fold(len: String) =
      s"aggregate(slice(__xs6, 2, $len - 1), element_at(__xs6, 1), " +
        s"(acc, x) -> (${alphaE6}L * x + ${beta}L * acc) div 1000000L)"
    steps
      .select(gcols ++ Seq(posexplode(col("__s")).as(Seq("__i", "__e")),
        col("__xs6")): _*)
      .withColumn("ewma_e6", expr(fold("__i + 1")))
      .withColumn("__prev",
        when(col("__i") === 0, lit(null).cast("long"))
          .otherwise(expr(fold("__i"))))
      .withColumn("deviation_e6", col("__e.x") * lit(1000000L) - col("__prev"))
      .withColumn("breach",
        coalesce(abs(col("deviation_e6")) > lit(bandE6), lit(false)))
      .select(gcols ++ Seq(col("__e.d").as(dayCol), col("__e.x").as(valueCol),
        col("ewma_e6"), col("deviation_e6"), col("breach")): _*)
  }
}
