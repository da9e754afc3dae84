package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable cardinality sketches (Apache DataSketches HLL via Spark's
  * `hll_sketch_agg` family) — the incremental complement to exact
  * `count(distinct)`: a 100 TB corpus tracking distinct users/docs/tokens
  * per ingest batch cannot rescan history per report, but HLL sketches are
  * a commutative monoid (union = register-wise max), so each batch reduces
  * once to a few-KB binary per group and every later report is a merge of
  * sketches — history is never touched again.
  *
  * Determinism: the sketch registers are a pure fold of the input hash
  * values — estimates are deterministic for a given input set (order- and
  * partition-independent), and union-of-parts produces the IDENTICAL
  * sketch state as a direct sketch of the union (spec-asserted), so the
  * incremental path gives exactly the one-shot answer.
  *
  * Scale shape: one grouped aggregate per batch (map-side partials — the
  * sketch IS the partial), |groups|-sized state, no shuffle of history.
  * Exact twins stay available for audit where a rescan is affordable. */
object Sketches {

  /** Per-group HLL sketch of `valueCol` — the mergeable per-batch state.
    * `lgK` trades size for accuracy (2^lgK registers; 12 → ~1.6% RSE). */
  def distinctSketches(df: DataFrame, groupCols: Seq[String],
      valueCol: String, lgK: Int = 12): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sketch"))

  /** Merge persisted per-batch sketch rows down to one sketch per group —
    * the read side of the incremental loop. Sketches must share `lgK`
    * (mixing lgK silently degrades to the coarser size; keep one lgK per
    * metric, so a mismatch fails loudly here instead). */
  def mergeSketches(df: DataFrame, groupCols: Seq[String],
      sketchCol: String = "sketch"): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(hll_union_agg(col(sketchCol), lit(false)).as("sketch"))

  /** Estimated distinct count from a sketch column. */
  def estimate(sketch: Column): Column = hll_sketch_estimate(sketch)

  /** Audit report: merged-sketch estimate vs the exact distinct count,
    * with a relative-error bound check — the periodic trust-but-verify
    * pass that catches a mis-merged or stale sketch store. One row per
    * group: (groups..., n_exact, n_est, within_tol). */
  def cardinalityAudit(df: DataFrame, groupCols: Seq[String],
      valueCol: String, lgK: Int = 12, tol: Double = 0.05): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(countDistinct(col(valueCol)).as("n_exact"),
        hll_sketch_estimate(hll_sketch_agg(col(valueCol), lit(lgK)))
          .as("n_est"))
      .withColumn("within_tol",
        abs(col("n_est") - col("n_exact")).cast("double") <=
          lit(tol) * col("n_exact").cast("double"))

  /** Audience overlap matrix: for every unordered pair of `typeCol`
    * values, the exact shared-`userCol` count and Jaccard, PLUS the
    * HLL-sketch estimate of the same intersection by inclusion–exclusion
    * (est_a + est_b − est_union) — the segment-overlap / campaign-reach
    * question ("how much do these audiences overlap") in both its
    * auditable exact form and the form that still works when per-type
    * audiences are 10⁹ and only sketches are retained.
    *
    * Exact side: one distinct pass, then a self-equi-join on the user key
    * whose per-user fan-out is ≤ |types|² — tiny, and the pair stats then
    * live in |types|² space. Sketch side: one sketch per type, pairwise
    * `hll_union` over the (broadcast) per-type frame. `est_ok` gates the
    * estimate against the exact count at `tolE6` of max(n_a, n_b) — the
    * q114 trust-but-verify invariant (estimates themselves are
    * engine-local and never hash-compared). Pairs sharing zero users are
    * omitted (inner join — the absent row IS the zero). */
  def audienceOverlap(df: DataFrame, typeCol: String, userCol: String,
      lgK: Int = 12, tolE6: Long = 50000L): DataFrame = {
    val base = df.select(col(typeCol).as("t"), col(userCol).as("u"))
      .filter(col("u").isNotNull)
      .distinct().localCheckpoint()
    val per = base.groupBy("t")
      .agg(count(lit(1)).as("n"),
        hll_sketch_agg(col("u"), lit(lgK)).as("sk"))
    val both = base.select(col("t").as("type_a"), col("u"))
      .join(base.select(col("t").as("type_b"), col("u")), "u")
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_both"))
    val pa = per.select(col("t").as("type_a"), col("n").as("n_a"),
      col("sk").as("sk_a"))
    val pb = per.select(col("t").as("type_b"), col("n").as("n_b"),
      col("sk").as("sk_b"))
    both.join(broadcast(pa), "type_a").join(broadcast(pb), "type_b")
      .withColumn("__est_both",
        hll_sketch_estimate(col("sk_a")) + hll_sketch_estimate(col("sk_b"))
          - hll_sketch_estimate(
            call_function("hll_union", col("sk_a"), col("sk_b"))))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"),
        expr("n_both * 1000000L div (n_a + n_b - n_both)").as("jaccard_e6"),
        (abs(col("__est_both") - col("n_both")) * lit(1000000L) <=
          lit(tolE6) * greatest(col("n_a"), col("n_b"))).as("est_ok"))
  }

  // ---- frequent-items (heavy hitters) audit ---------------------------

  /** Audit: the EXACT top-k heavy items per group (total order on count
    * DESC, item — replayable on any engine) joined against the estimates
    * of a per-group `approx_top_k_accumulate` state (DataSketches
    * frequent-items under Spark's approx_top_k trio, a few KB per group
    * at default map sizes): `est_exact` is true while the sketch never
    * purged. While the tracked-item map never fills (`maxItemsTracked` ≥
    * live distinct items) its counts are EXACT; past that the sketch
    * purges and estimates carry deterministic (not probabilistic) error
    * bounds — size the map from `keySkewProfile`'s n_keys. The sketch is
    * probed `estDepth` deep, NOT k deep — the sketch's own tie order at
    * the k boundary is engine-local, so the probe must be deeper than any
    * tie run crossing rank k (defaulting to the whole tracked map keeps
    * the audit tie-proof; the explode is bounded by
    * |groups|·maxItemsTracked, audit-pass sized). One grouped count in
    * item space + one |groups·k| join. */
  def frequencyAudit(df: DataFrame, groupCols: Seq[String], itemCol: String,
      k: Int, maxItemsTracked: Int = 10000, estDepth: Int = 0): DataFrame = {
    val depth = if (estDepth > 0) estDepth else maxItemsTracked
    val gcols = groupCols.map(col)
    val exact = df.groupBy(gcols :+ col(itemCol).as("item"): _*)
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(gcols: _*)
          .orderBy(col("cnt").desc, col("item"))).cast("long"))
      .filter(col("rnk") <= k)
    val est = df.groupBy(gcols: _*)
      .agg(call_function("approx_top_k_accumulate",
        col(itemCol), lit(maxItemsTracked)).as("topk_state"))
      .select(gcols :+ explode(call_function("approx_top_k_estimate",
        col("topk_state"), lit(depth))).as("e"): _*)
      .select(gcols :+ col("e.item").as("item") :+ col("e.count").as("est"): _*)
    exact.join(est, groupCols :+ "item", "left")
      .withColumn("est_exact", coalesce(col("est") === col("cnt"), lit(false)))
      .select(gcols ++ Seq(col("rnk"), col("item"), col("cnt"),
        col("est_exact")): _*)
  }

  /** Floor-division bin of an integral value column — negative values bin
    * correctly (Spark's `div` truncates toward zero; DuckDB's `//` floors;
    * correcting the truncation here makes the oracle replay `v // w`).
    * Pure integer arithmetic — a double division would lose exactness
    * past 2⁵³. */
  private def withFloorBin(df: DataFrame, groupCols: Seq[String],
      valueCol: String, binWidth: Long): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .select(groupCols.map(col) :+ col(valueCol).cast("long").as("_v"): _*)
      .withColumn("bin", expr(
        s"CASE WHEN _v >= 0 OR _v % $binWidth = 0 THEN _v div $binWidth " +
          s"ELSE _v div $binWidth - 1 END"))
      .drop("_v")

  /** Per-group equi-width HISTOGRAM state over an integral column —
    * the MERGEABLE quantile sketch for continuous ingest: exact
    * `percentile` needs every value (a 100 TB rescan per report), but a
    * (group, bin, cnt) histogram is an algebraic mart — counts add — so
    * each batch folds in via [[histogramIncremental]] and
    * [[histogramQuantiles]] reads bin-width-accurate quantiles from the
    * state alone, history never rescanned. Fold ≡ rebuild exactly
    * (counts are exact; only the ESTIMATE is quantized, to `binWidth`).
    * Null values are excluded by contract (they have no bin).
    *
    * Scale shape: one grouped count per batch in (group × bin) space —
    * partial-aggregating, bounded by groups × value-range/binWidth. */
  def histogramState(df: DataFrame, groupCols: Seq[String],
      valueCol: String, binWidth: Long): DataFrame = {
    require(binWidth >= 1L, s"binWidth must be >= 1, got $binWidth")
    withFloorBin(df, groupCols, valueCol, binWidth)
      .groupBy(groupCols.map(col) :+ col("bin"): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Fold an append-only batch of raw rows into a persisted
    * [[histogramState]] — the q218 algebraic delta-fold on the (group,
    * bin) composite key: the historical corpus never rescans; only the
    * delta pays the binning pass. */
  def histogramIncremental(state: DataFrame, delta: DataFrame,
      groupCols: Seq[String], valueCol: String, binWidth: Long): DataFrame = {
    require(binWidth >= 1L, s"binWidth must be >= 1, got $binWidth")
    import graft.gold.IncrementalMaterializer
    val binned = withFloorBin(delta, groupCols, valueCol, binWidth)
    IncrementalMaterializer.refreshAlgebraic(state, binned,
      groupCols :+ "bin",
      Seq(IncrementalMaterializer.AlgebraicMeasure("cnt", "count", "bin")))
  }

  /** Quantile estimates from a [[histogramState]]: for each group and
    * each requested q (e6 micro-units), the first bin whose cumulative
    * count reaches q·total — the true quantile lies in [bin_lo, bin_hi),
    * so the estimate is exact to `binWidth`. Pure integer comparison
    * (`cum · 1e6 ≥ q · total` — no division), so engines agree bit-for-
    * bit; requires total ≤ ~9.2e12 rows per group for the e6 products to
    * stay in long range (gated in-plan).
    *
    * The cumulative window partitions by group — bounded by bins per
    * group (value-range/binWidth, state-sized), never by corpus rows. */
  def histogramQuantiles(state: DataFrame, groupCols: Seq[String],
      binWidth: Long, qsE6: Seq[Long]): DataFrame = {
    require(qsE6.nonEmpty, "need at least one quantile")
    require(qsE6.forall(q => q >= 1 && q <= 1000000),
      s"quantiles must be e6 in [1, 1000000], got ${qsE6.mkString(",")}")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy(col("bin"))
    val cum = state
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("total", sum(col("cnt")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(groupCols.map(col): _*)))
      .withColumn("total", when(col("total") <= 9200000000000L, col("total"))
        .otherwise(raise_error(concat(lit(
          "histogramQuantiles: group total exceeds 9.2e12 rows; e6 " +
            "products would overflow - aggregate coarser groups: "),
          col("total")))))
    val qs = explode(array(qsE6.map(lit): _*)).as("q_e6")
    cum.select(groupCols.map(col) ++ Seq(col("bin"), col("cum"),
        col("total"), qs): _*)
      .filter(col("cum") * lit(1000000L) >= col("q_e6") * col("total"))
      .groupBy(groupCols.map(col) :+ col("q_e6"): _*)
      .agg(min(col("bin")).as("bin"))
      .select(groupCols.map(col) ++ Seq(col("q_e6"),
        (col("bin") * binWidth).as("bin_lo"),
        ((col("bin") + 1) * binWidth).as("bin_hi")): _*)
  }

  /** Histogram-bounded winsorization — the 100 TB form of the exact
    * `Anomaly.winsorize` (q71): that one computes exact per-group
    * percentiles, which buffers every group value; this one clamps to
    * quantile BIN edges from a [[histogramState]] pass — lo clamps to
    * the lo-quantile bin's lower edge, hi to the hi-quantile bin's last
    * integral value — so the bounds are exact to `binWidth` and the
    * whole operation is two grouped counts + one broadcast join + a
    * row-local clamp. The clamped column appears as `<valueCol>_wins`.
    * `valueCol` must be integral (scale doubles to fixed-point first,
    * the library-wide micro-unit convention). */
  def winsorizeByHistogram(df: DataFrame, groupCols: Seq[String],
      valueCol: String, binWidth: Long,
      loE6: Long = 50000L, hiE6: Long = 950000L): DataFrame = {
    require(loE6 < hiE6, s"need loE6 < hiE6, got $loE6 >= $hiE6")
    val qs = histogramQuantiles(
      histogramState(df, groupCols, valueCol, binWidth),
      groupCols, binWidth, Seq(loE6, hiE6))
    val bounds = qs.groupBy(groupCols.map(col): _*)
      .agg(min(when(col("q_e6") === loE6, col("bin_lo"))).as("__lo"),
        min(when(col("q_e6") === hiE6, col("bin_hi") - 1)).as("__hi"))
    df.join(broadcast(bounds), groupCols, "left")
      // Spark's greatest/least IGNORE nulls, so a null value would clamp
      // to __lo — nulls must pass through explicitly (no bin, no clamp)
      .withColumn(s"${valueCol}_wins",
        when(col(valueCol).isNull, lit(null).cast("long"))
          .otherwise(least(greatest(col(valueCol).cast("long"),
            col("__lo")), col("__hi"))))
      .drop("__lo", "__hi")
  }
}
