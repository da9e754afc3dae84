package graft.quality

import graft.config.QualitySpec
import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The quality orchestrator (reference: src/data_quality/orchestrator.py:
  * 74-197): run the configured checks, anomaly detection over the numeric
  * columns, and fold everything into the weighted quality-score model.
  *
  * Scale notes: the input is materialized ONCE per pass. All rule checks,
  * aggregate expectations, the row count and every anomaly column's
  * sufficient stats fuse into ONE global aggregate (Checks.profilePlan +
  * Anomaly.exactStatsAggs). When the block needs more actions than that —
  * a grouped family or anomaly columns — the input is persisted
  * MEMORY_AND_DISK (unless the caller already cached it), the fused
  * aggregate fills the cache, and the grouped families (fd, benford,
  * seasonal, correlation, hhi, pop, quantile, distinct, overlap,
  * containment, growth, ks — each its own aggregate on its own keys) run
  * concurrently on up to `defaultParallelism` driver threads, reporting
  * in config order. Every family's inputs are validated on the driver
  * before the first job, so a malformed block submits nothing. Anomaly
  * columns with bounds share one flag pass; each that fires adds one
  * sample capture. The driver sees only scalar counts — no row
  * data crosses to the driver except via the explicit ErrorTracking
  * capture path.
  */
object Orchestrator {

  /** One captured anomalous value with its tier
    * (reference Anomaly dataclass, anomaly_detection.py:117-131). */
  final case class AnomalySample(
      column: String, value: Double, zScore: Double, severity: String)

  final case class QualityReport(
      rows: Long,
      checkResults: Seq[Checks.CheckResult],
      anomalyCounts: Map[String, Long],
      anomalySamples: Seq[AnomalySample],
      scores: Metrics.DimensionScores,
      overall: Double,
      level: String,
      expectationResults: Seq[Checks.ExpectationResult] = Nil) {
    def passed: Boolean =
      checkResults.forall(_.passed) && expectationResults.forall(_.passed)
  }

  /** Run the full quality pass. `anomalyColumns` get z-score detection at
    * 3 sigma; the run scores as on time (timeliness 100). */
  def run(
      df: DataFrame,
      spec: QualitySpec,
      anomalyColumns: Seq[String] = Nil): QualityReport = {
    import org.apache.spark.sql.functions.{abs, col, desc, lit}

    val anomCols = anomalyColumns.filter(df.columns.contains)
    // everything is planned (and so validated) before the first job
    val profile = Checks.profilePlan(df, spec)
    val fused = Checks.aggregate(df,
      profile.aggs ++ Anomaly.exactStatsAggs(anomCols))
    val grouped = families(df, spec)
    val cache = (grouped.nonEmpty || anomCols.nonEmpty) &&
      df.storageLevel == StorageLevel.NONE
    if (cache) df.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // pass 1 (fills the cache): rule checks, expectations, row count and
      // anomaly sufficient stats, one aggregate
      val row = fused.head()
      val (rowCheckResults, expectationResults) = profile.read(row)
      val (rows, stats) =
        Anomaly.exactStatsFrom(row, profile.aggs.size, anomCols)
      // pass 2: the grouped families side by side over the cached input
      val checkResults = rowCheckResults ++
        grouped.zip(concurrently(df.sparkSession.sparkContext,
          grouped.map(_.failed))).map { case (f, n) =>
          Checks.CheckResult(f.check, f.label, n)
        }
      // pass 3: out-of-bounds counts for every column with defined bounds,
      // one aggregate (bounds replay exactStats' double math exactly)
      val bounds = anomCols.flatMap { c =>
        stats(c) match {
          case Anomaly.ColStats(n, mean, Some(sd)) if n > 0 =>
            Some((c, mean - 3.0 * sd, mean + 3.0 * sd))
          case _ => None
        }
      }
      val anomalyCounts = anomCols.map(_ -> 0L).toMap ++
        Anomaly.boundsViolationCounts(df, bounds)

      // the reference captures <= 100 anomalous rows with details per column
      // (anomaly_detection.py:102-131, via limit(100)); here the sample is
      // DETERMINISTIC — the 100 most extreme by z-score — and only columns
      // that actually have anomalies pay a capture job
      val anomalySamples = bounds.filter { case (c, _, _) => anomalyCounts(c) > 0 }
        .flatMap { case (c, lo, hi) =>
          val st = stats(c)
          df.filter(col(c) < lo || col(c) > hi)
            .select(col(c).cast("double").as("v"))
            .withColumn("z", abs((col("v") - lit(st.mean)) / lit(st.stddev.get)))
            .withColumn("severity", Anomaly.zSeverity(col("z")))
            .orderBy(desc("z"), desc("v"))
            .limit(100)
            .collect()
            .map(r => AnomalySample(c, r.getDouble(0), r.getDouble(1), r.getString(2)))
        }

      val nullChecks = checkResults.filter(_.check == "null_check")
      val completeness = Metrics.completeness(
        totalCells = rows * math.max(nullChecks.size, 1),
        nullCells = nullChecks.map(_.failedCount).sum)
      val ruleChecks = checkResults.filterNot(_.check == "null_check")
      val validity = Metrics.validity(rows, ruleChecks.map(_.failedCount).sum)
      // expectations count toward consistency, so a failing expectation is
      // visible in the score/level, not only in the passed flag
      val consistency = Metrics.consistency(
        checksRun = checkResults.size + expectationResults.size,
        checksPassed = checkResults.count(_.passed) +
          expectationResults.count(_.passed))
      val accuracy = Metrics.accuracy(rows,
        anomalyCounts.values.count(_ > 0))
      val scores = Metrics.DimensionScores(
        completeness, validity, consistency, accuracy, timeliness = 100.0)
      val overall = Metrics.overall(scores)
      QualityReport(rows, checkResults, anomalyCounts, anomalySamples, scores,
        overall, Metrics.level(overall), expectationResults)
    } finally if (cache) df.unpersist()
  }

  /** One grouped check family, validated and planned on the driver;
    * `failed` runs its job(s) and returns the failed count. */
  private final case class Family(check: String, label: String,
      failed: () => Long)

  /** Every grouped family of `spec`, in config order. Missing columns
    * fail loudly — a silently-skipped contract is the one that bites. */
  private def families(df: DataFrame, spec: QualitySpec): Seq[Family] = {
    import org.apache.spark.sql.functions.{abs, col, count, expr, lit, round, sum, when}
    def requireCols(kind: String, label: String, cols: Seq[String]): Unit = {
      val missing = cols.filterNot(df.columns.contains)
      require(missing.isEmpty,
        s"$kind $label: missing columns ${missing.mkString(", ")}")
    }
    def counted(check: String, label: String, failing: DataFrame) =
      Family(check, label, () => failing.count())
    // empty group_by = one global group (a constant key keeps the
    // group-keyed report shapes without a special case)
    def keyed(groupBy: Seq[String]): (DataFrame, Seq[String]) =
      if (groupBy.nonEmpty) (df, groupBy)
      else (df.withColumn("__all", lit(1L)), Seq("__all"))
    // shared daily derivation: exact e2 value mass per (groups, epoch day)
    // — tsCol is the library's epoch-nanos BIGINT contract
    def dailySeries(groupBy: Seq[String], tsCol: String,
        valueCol: String): DataFrame =
      df.filter(col(valueCol).isNotNull)
        .groupBy(groupBy.map(col) :+
          expr(s"$tsCol div 86400000000000").as("__day"): _*)
        .agg(sum(round(col(valueCol) * lit(100)).cast("long")).as("__y_e2"))

    // FD contracts: failedCount = violating lhs tuples
    val fd = spec.fdChecks.map { fd =>
      val label = s"${fd.lhs.mkString(",")}->${fd.rhs}"
      requireCols("fd_check", label, fd.lhs :+ fd.rhs)
      counted("fd_check", label, Checks.fdViolations(df, fd.lhs, fd.rhs))
    }
    // r13 monitoring ops, config-driven (the fd_checks pattern): each is
    // its own aggregate on different keys, so none fuse into the profile;
    // all report as CheckResults so the score/level sees them
    val benford = spec.benfordChecks.map { bc =>
      requireCols("benford_check", bc.column, Seq(bc.column))
      counted("benford_check", bc.column, Anomaly.benfordReport(df, bc.column)
        .filter(col("chi2_e6") > bc.maxChi2E6))
    }
    val seasonal = spec.seasonalChecks.map { sc =>
      val label = s"${sc.valueColumn}%${sc.period}" +
        (if (sc.groupBy.nonEmpty) s" by ${sc.groupBy.mkString(",")}" else "")
      requireCols("seasonal_check", label,
        sc.groupBy ++ Seq(sc.tsColumn, sc.valueColumn))
      val z = Anomaly.seasonalResiduals(
        dailySeries(sc.groupBy, sc.tsColumn, sc.valueColumn),
        sc.groupBy, "__day", "__y_e2", sc.period)
      counted("seasonal_check", label,
        z.filter(abs(col("z_e6")) > sc.maxAbsZE6))
    }
    val correlation = spec.correlationChecks.map { cc =>
      val label = s"${cc.typeColumn}/${cc.valueColumn}"
      requireCols("correlation_check", label,
        Seq(cc.typeColumn, cc.tsColumn, cc.valueColumn))
      val corr = Anomaly.metricCorrelations(
        dailySeries(Seq(cc.typeColumn), cc.tsColumn, cc.valueColumn),
        cc.typeColumn, "__day", "__y_e2")
      counted("correlation_check", label,
        corr.filter(col("corr_e6").isNotNull &&
          abs(col("corr_e6")) >= cc.minAbsCorrE6))
    }
    val hhi = spec.hhiChecks.map { hc =>
      val label = s"${hc.categoryColumn}" +
        (if (hc.groupBy.nonEmpty) s" by ${hc.groupBy.mkString(",")}" else "")
      requireCols("hhi_check", label, hc.groupBy :+ hc.categoryColumn)
      val (gdf, gcols) = keyed(hc.groupBy)
      counted("hhi_check", label,
        Anomaly.hhiReport(gdf, gcols, hc.categoryColumn)
          .filter(col("hhi_e6") > hc.maxHhiE6))
    }
    val pop = spec.popChecks.map { pc =>
      val label = s"${pc.typeColumn}/${pc.valueColumn}%${pc.periodDays}d"
      requireCols("pop_check", label,
        Seq(pc.typeColumn, pc.tsColumn, pc.valueColumn))
      val pop = graft.ops.TimeSeries.periodOverPeriod(
        df.filter(col(pc.valueColumn).isNotNull)
          .select(col(pc.typeColumn),
            expr(s"${pc.tsColumn} div 86400000000000").as("__day"),
            round(col(pc.valueColumn) * lit(100)).cast("long")
              .as("__v_e2")),
        pc.typeColumn, "__day", "__v_e2", pc.periodDays)
      counted("pop_check", label,
        pop.filter(col("pct_change_e6") < -pc.maxDropE6))
    }
    val quantile = spec.quantileChecks.map { qc =>
      val label = s"${qc.valueColumn}@q${qc.qE6}" +
        (if (qc.groupBy.nonEmpty) s" by ${qc.groupBy.mkString(",")}" else "")
      requireCols("quantile_check", label, qc.groupBy :+ qc.valueColumn)
      require(qc.minValue.nonEmpty || qc.maxValue.nonEmpty,
        s"quantile_check $label: needs min_value and/or max_value")
      // the estimate compared is the quantile bin's LOWER edge — exact to
      // binWidth, deterministic, never buffering a group's values
      val (gdf, gcols) = keyed(qc.groupBy)
      val qs = Sketches.histogramQuantiles(
        Sketches.histogramState(gdf, gcols, qc.valueColumn, qc.binWidth),
        gcols, qc.binWidth, Seq(qc.qE6))
      val violating =
        qc.minValue.map(lo => col("bin_lo") < lo) ++
          qc.maxValue.map(hi => col("bin_lo") > hi)
      counted("quantile_check", label, qs.filter(violating.reduce(_ || _)))
    }
    val distinct = spec.distinctChecks.map { dc =>
      val label = s"distinct(${dc.itemColumn})@k${dc.k}" +
        (if (dc.groupBy.nonEmpty) s" by ${dc.groupBy.mkString(",")}" else "")
      requireCols("distinct_check", label, dc.groupBy :+ dc.itemColumn)
      require(dc.minCount.nonEmpty || dc.maxCount.nonEmpty,
        s"distinct_check $label: needs min_count and/or max_count")
      // the bound is on the KMV ESTIMATE — ≤ k longs of state per group, no
      // exact distinct shuffle, the 100 TB form of unique_count_between.
      // The aggregate runs WITHOUT a null pre-filter so a group whose
      // items are all NULL yields an EMPTY sketch → estimate 0 → a
      // min_count violation instead of a silently-vanished group; and a
      // min_count check over a frame with NO groups at all (empty table)
      // counts as one failure — the cardinality-collapse a lower bound
      // exists to catch must never pass vacuously.
      val (gdf, gcols) = keyed(dc.groupBy)
      import org.apache.spark.sql.functions.call_function
      val est = gdf.groupBy(gcols.map(col): _*)
        .agg(call_function("kmv_sketch",
          Kmv.hash60(col(dc.itemColumn)), lit(dc.k)).as("kmv"))
        .select(Kmv.estimate(col("kmv"), dc.k).as("__est"))
      val violating =
        dc.minCount.map(lo => col("__est") < lo) ++
          dc.maxCount.map(hi => col("__est") > hi)
      val tally = est.agg(
        count(lit(1)).as("__n"),
        sum(when(violating.reduce(_ || _), 1L).otherwise(0L)).as("__bad"))
      Family("distinct_check", label, () => {
        val row = tally.head()
        if (row.getLong(0) == 0L && dc.minCount.nonEmpty) 1L
        else if (row.isNullAt(1)) 0L
        else row.getLong(1)
      })
    }
    val overlap = spec.overlapChecks.map { oc =>
      val label = s"${oc.typeColumn}/${oc.itemColumn}@k${oc.k}"
      requireCols("overlap_check", label,
        Seq(oc.typeColumn, oc.itemColumn))
      // failedCount = type pairs whose sketch-estimated Jaccard exceeds
      // the cap — the duplicated-audience/contaminated-split alarm; each
      // type pays one bottom-k aggregate, the pair stage is types²×k longs
      counted("overlap_check", label,
        Kmv.overlapReport(df, oc.typeColumn, oc.itemColumn, oc.k)
          .filter(col("jaccard_e6") > oc.maxJaccardE6))
    }
    val containment = spec.containmentChecks.map { cc =>
      val label = s"${cc.aTypeColumn} in ${cc.bTypeColumn}/" +
        s"${cc.itemColumn}@k${cc.k}"
      requireCols("containment_check", label,
        Seq(cc.aTypeColumn, cc.bTypeColumn, cc.itemColumn).distinct)
      // the declarative decontamination gate: failedCount = (A-group ×
      // B-group) pairs whose estimated |A∩B|/|A| exceeds the cap. Each
      // side pays one ≤ k-long sketch aggregate; the pair stage is
      // (|A groups| × |B groups|) rows of ≤ 2k longs — never row data.
      // A bad filter expression fails loudly at analysis time.
      val dfA = cc.aFilter.map(f => df.filter(expr(f))).getOrElse(df)
      val dfB = cc.bFilter.map(f => df.filter(expr(f))).getOrElse(df)
      val rep = Kmv.containmentReport(dfA, cc.aTypeColumn, cc.itemColumn,
        dfB, cc.bTypeColumn, cc.itemColumn, cc.k)
      // self pairs (a group vs ITSELF — always fully contained) are only
      // a tautology when the two sides are the SAME set: same grouping
      // column AND same row filters. With disjoint filters (eval slice
      // vs train slice of one column), the same-NAME pair — eval lang=en
      // inside train lang=en — is exactly the leak being gated and must
      // NOT be excluded (r19 self-review finding). "Same filter" is
      // decided on the TEXT after whitespace collapsing ("x=1" ≡
      // "x = 1" — otherwise a cosmetic spacing difference re-admits
      // always-100%-contained self pairs and the gate fails
      // unconditionally); deeper semantic equivalence ("x=1" vs "1=x")
      // is intentionally out of scope — write the two filters
      // identically when they mean the same predicate (documented on
      // ContainmentCheck).
      def normF(fo: Option[String]): Option[String] =
        fo.map(_.replaceAll("\\s+", " ").trim)
      val pairs =
        if (cc.aTypeColumn == cc.bTypeColumn &&
          normF(cc.aFilter) == normF(cc.bFilter))
          rep.filter(col("type_a") =!= col("type_b"))
        else rep
      counted("containment_check", label,
        pairs.filter(col("cont_a_in_b_e6") > cc.maxContainmentE6))
    }
    val growth = spec.growthChecks.map { gc =>
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      val label = s"growth(${gc.itemColumn})@k${gc.k} by ${gc.dayColumn}"
      requireCols("growth_check", label, Seq(gc.dayColumn, gc.itemColumn))
      df.schema(gc.dayColumn).dataType match {
        case LongType | IntegerType | ShortType | ByteType => ()
        case other => throw new IllegalArgumentException(
          s"growth_check $label: day_column must be integral " +
            s"(epoch-day), got ${other.simpleString} - silent-day " +
            "synthesis needs day arithmetic")
      }
      // novelty-collapse alarm: days past the warmup whose estimated NEW
      // uniques (lag diff of the q257 cumulative curve) fall below the
      // floor — curve construction here, lattice/lag math in
      // [[growthFailuresFromCurve]].
      val cum = Kmv.rollingDistinct(
        df.select(col(gc.dayColumn), col(gc.itemColumn)),
        gc.dayColumn, gc.itemColumn, gc.k, windowDays = 0)
      Family("growth_check", label,
        () => growthFailuresFromCurve(cum, gc.dayColumn, gc, label))
    }
    val ks = spec.ksChecks.map { kc =>
      // distribution-drift alarm at sketch cost: type pairs whose
      // two-sample KS over the per-type value samples exceeds the cap.
      // Each type pays one <= k-pair aggregate; a non-integral value
      // (or mass) column raises loudly inside the sketch builders (the
      // micro-unit convention). With mass_column set, each sampled row
      // counts its MASS in the ECDF and the cap applies to wks_e6 —
      // drift ranked by token mass, not row count.
      kc.massColumn match {
        case None =>
          val label = s"${kc.typeColumn}/${kc.valueColumn}@k${kc.k}"
          requireCols("ks_check", label,
            Seq(kc.typeColumn, kc.idColumn, kc.valueColumn))
          counted("ks_check", label,
            Kmv.sampleKsReport(df, kc.typeColumn, kc.idColumn,
              kc.valueColumn, kc.k)
              .filter(col("ks_e6") > kc.maxKsE6))
        case Some(mass) =>
          val label =
            s"${kc.typeColumn}/${kc.valueColumn}*${mass}@k${kc.k}"
          requireCols("ks_check", label,
            Seq(kc.typeColumn, kc.idColumn, kc.valueColumn, mass))
          counted("ks_check", label,
            Kmv.weightedSampleKsReport(df, kc.typeColumn, kc.idColumn,
              kc.valueColumn, mass, kc.k)
              .filter(col("wks_e6") > kc.maxKsE6))
      }
    }
    fd ++ benford ++ seasonal ++ correlation ++ hhi ++ pop ++ quantile ++
      distinct ++ overlap ++ containment ++ growth ++ ks
  }

  /** Run `tasks` on a pool of up to `defaultParallelism` driver threads;
    * results come back in task order. The pool is created per call, so its
    * threads inherit the caller's Spark local properties (job group,
    * scheduler pool, tags) plus a tag scoped to this call. The first
    * failure cancels the tagged jobs still running, stops the pool, and
    * is rethrown as the task threw it. */
  private def concurrently(sc: SparkContext, tasks: Seq[() => Long]): Seq[Long] = {
    import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, TimeUnit}
    if (tasks.isEmpty) return Nil
    val tag = s"$ThreadPrefix${java.util.UUID.randomUUID()}"
    sc.addJobTag(tag)
    val threads = new java.util.concurrent.atomic.AtomicInteger()
    val pool = Executors.newFixedThreadPool(sc.defaultParallelism, r => {
      val t = new Thread(r, s"$ThreadPrefix${threads.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
    var ok = false
    try {
      val done = new ExecutorCompletionService[Long](pool)
      val futures = tasks.map(t => done.submit(() => t()))
      try tasks.foreach(_ => done.take().get())
      catch { case e: ExecutionException => throw e.getCause }
      ok = true
      futures.map(_.get())
    } finally {
      if (!ok) sc.cancelJobsWithTag(tag)
      pool.shutdownNow()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      // a job submitted between the cancel and its thread's interrupt
      if (!ok) sc.cancelJobsWithTag(tag)
      sc.removeJobTag(tag)
    }
  }

  /** Name prefix of the threads [[run]] runs grouped families on, and of
    * its run-scoped job tag. */
  private[quality] val ThreadPrefix = "graft-quality-"

  /** The growth_check lattice math over an ALREADY-BUILT cumulative
    * curve (`dayCol`, `est_kmv` — `Kmv.rollingDistinct` windowDays = 0
    * shape): days past the warmup whose lag-diff NEW-unique estimate
    * falls below the floor. A SILENT day is the worst collapse, so the
    * curve is densified over [min_day, max_day] with carried-forward
    * cumulative estimates — an absent day reads est_new = 0 and fires
    * the floor instead of vanishing (r19 self-review finding). All
    * windows run over the DAYS-sized lattice, never row data; a curve
    * with no days at all is the row-count check's job, not this one's.
    * The curve's day column is the input column the growth family has
    * already checked is integral. */
  private def growthFailuresFromCurve(cum: DataFrame, dayCol: String,
      gc: graft.config.GrowthCheck, label: String): Long = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{coalesce, col, lag, last, lit, row_number, max => fmax, min => fmin}
    val span = cum.agg(fmin(col(dayCol)).cast("long"),
      fmax(col(dayCol)).cast("long")).head()
    // span sanity cap: the day lattice is range(min, max+1), so an
    // epoch-SECONDS/millis column (which passes the integral guard —
    // the likeliest misuse the epoch-day contract invites) would
    // silently build a ~10⁹–10¹² row lattice and hang a single-
    // partition window instead of failing loudly. No real corpus
    // spans a million days (~2700 years); reject past that.
    if (!span.isNullAt(0) &&
      span.getLong(1) - span.getLong(0) > 1000000L)
      throw new IllegalArgumentException(
        s"growth_check $label: day span ${span.getLong(0)}.." +
          s"${span.getLong(1)} exceeds 1e6 days - day_column must be " +
          "integral EPOCH-DAYS (datediff-style), not epoch " +
          "seconds/millis")
    if (span.isNullAt(0)) 0L
    else {
      val lattice = cum.sparkSession
        .range(span.getLong(0), span.getLong(1) + 1)
        .toDF("__day")
      val w = Window.orderBy(col("__day"))
      lattice.join(
        cum.select(col(dayCol).cast("long").as("__day"),
          col("est_kmv")), Seq("__day"), "left")
        .withColumn("__est", last(col("est_kmv"), ignoreNulls = true)
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("__rank", row_number().over(w))
        .withColumn("__est_new", col("__est") -
          coalesce(lag(col("__est"), 1).over(w), lit(0L)))
        .filter(col("__rank") > gc.warmupDays &&
          col("__est_new") < gc.minNewPerDay)
        .count()
    }
  }
}
