package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cohort retention over an event stream: users grouped by their FIRST
  * activity period (the cohort), then for each (cohort, periods-since)
  * cell, how many of the cohort's users were active — the retention
  * triangle every engagement dashboard draws.
  *
  * Scale shape: one groupBy on the user key for first-activity, one
  * distinct on (user, period) for activity, one keyed join between them
  * (both sides shuffle on the user key — cohorts are |users|-sized, too
  * big to broadcast by contract), and a final count-distinct over the
  * |cohorts|×|ages| cells. All integer period math (`ts div periodUs`),
  * so the triangle hash-compares across engines. */
object Retention {

  /** @param periodUs cohort/activity granularity in timestamp units
    *                 (e.g. 7 days of microseconds for weekly retention).
    * Output: (cohort_period, age, n_users) — age 0 row is the cohort size.
    */
  def cohortRetention(events: DataFrame, userCol: String, tsUsCol: String,
      periodUs: Long): DataFrame = {
    require(periodUs > 0, s"periodUs must be positive, got $periodUs")
    // integer FLOOR division (`div` truncates toward zero, which would
    // disagree with the oracle's `//` and fold pre-epoch timestamps into
    // period 0): subtracting the positive pmod remainder first makes the
    // div exact-and-floored for any sign
    val period = expr(s"(CAST(`$tsUsCol` AS BIGINT) - " +
      s"pmod(CAST(`$tsUsCol` AS BIGINT), ${periodUs}L)) div ${periodUs}L")
    val cohorts = events
      .groupBy(col(userCol).as("_u"))
      .agg(min(period).as("cohort_period"))
    val active = events
      .select(col(userCol).as("_u"), period.as("_p"))
      .distinct()
    active.join(cohorts, "_u")
      .groupBy(col("cohort_period"),
        (col("_p") - col("cohort_period")).as("age"))
      .agg(count_distinct(col("_u")).as("n_users"))
  }

  /** Cumulative-distinct growth curve: how many DISTINCT entities (users,
    * documents, domains) the corpus has seen by each period — the
    * accumulation curve that says whether a source is still yielding new
    * entities or has saturated (the exact-count batch twin of the HLL
    * sketch tracker in `quality/Sketches`). Each entity is attributed to
    * its FIRST period only — the same first-activity attribution as the
    * cohort triangle — so per-period `new_entities` partition the entity
    * set and the running sum IS the exact cumulative distinct count; a
    * naive per-period `count_distinct` over growing prefixes would
    * rescan history per period and double-count nothing but cost
    * O(periods·rows).
    *
    * Scale shape: one groupBy on the entity key (the only shuffle that
    * sees row data), then a |periods|-sized summary; the running sum is
    * a single-partition window over that summary — the percentileRank
    * posture, row data never windowed. */
  def distinctGrowth(events: DataFrame, entityCol: String,
      periodCol: String): DataFrame = {
    val w = Window.orderBy("period")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .groupBy(col(entityCol).as("_e"))
      .agg(min(col(periodCol)).as("period"))
      .groupBy("period")
      .agg(count(lit(1)).as("new_entities"))
      .withColumn("cum_entities", sum("new_entities").over(w))
  }

  /** Rolling active-entity counts (DAU/WAU-style): for every day, the
    * distinct entities active that day (`dau`) and within the trailing
    * `windowDays`-day window (`wau`), plus the stickiness ratio
    * dau/wau in exact micro-units — the engagement report every
    * training-data freshness dashboard and product dashboard shares.
    *
    * A DISTINCT over a sliding window has no direct window-function form
    * (count(distinct) isn't a frame aggregate); the scalable shape is:
    * dedupe to (entity, day) — the only shuffle that sees row data — then
    * explode each active-day into the `windowDays` window-end days it
    * contributes to (bounded ×windowDays growth in (entity, day) space,
    * NOT row space), and count distinct entities per window end. An
    * entity active on several days of one window lands in it several
    * times — the count_distinct dedupes, exactly the semantic.
    *
    * Output: one row per day that has ≥1 event (window ends on days with
    * zero activity are absent — gapFillDaily densifies if needed), with
    * `wau` counting over [day − windowDays + 1, day] ∩ observed days,
    * including the leading ramp-up days. */
  def rollingActive(events: DataFrame, entityCol: String, dayCol: String,
      windowDays: Int): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val active = events.select(col(entityCol).as("_e"),
      col(dayCol).cast("long").as("_d")).distinct()
    val daily = active.groupBy(col("_d").as("day"))
      .agg(count(lit(1)).as("dau"))
    val windowed = active
      .select(col("_e"), explode(sequence(col("_d"),
        col("_d") + lit(windowDays - 1L))).as("day"))
      .groupBy("day")
      .agg(count_distinct(col("_e")).as("wau"))
      // only window ends that are themselves observed days: the trailing
      // windowDays-1 ends past the last activity are projection artifacts
      .join(daily, Seq("day"))
    windowed.select(col("day"), col("dau"), col("wau"),
      expr("dau * 1000000L div wau").as("stickiness_e6"))
  }

  /** Longest consecutive-day activity streak per entity — the classic
    * gaps-and-islands engagement metric ("7-day streak!"). Dedupe to
    * (entity, day), then island label = day − row_number (constant within
    * a consecutive run, the standard trick), then two keyed aggregates in
    * streak space. One shuffle on the entity key; skew bounded by the
    * hottest entity's ACTIVE-DAY count (calendar-bounded, not row-bounded
    * — a user can't have more active days than days).
    *
    * Output: (entity, n_active_days, n_streaks, longest_streak). */
  def streaks(events: DataFrame, entityCol: String, dayCol: String): DataFrame = {
    val w = Window.partitionBy(col("_e")).orderBy(col("_d"))
    events
      .select(col(entityCol).as("_e"), col(dayCol).cast("long").as("_d"))
      .distinct()
      .withColumn("_island", col("_d") - row_number().over(w))
      .groupBy(col("_e"), col("_island"))
      .agg(count(lit(1)).as("_len"))
      .groupBy(col("_e").as(entityCol))
      .agg(sum(col("_len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("_len")).as("longest_streak"))
  }

  /** The 100 TB path for [[rollingActive]]: per-day HLL sketches merged
    * over the trailing window in SKETCH space — the row data is touched
    * once (one grouped sketch-build per day), and the ×windowDays work
    * happens on |days| sketch rows via a range-frame `hll_union_agg`
    * window, not on (entity, day) rows. The exact form's explode is
    * linear too, but its count-distinct per window end re-shuffles
    * (entity, window) pairs; at 10^9 entities/day the sketch form moves
    * KBs where the exact one moves the entity universe.
    *
    * Estimates are DataSketches-engine-local (no cross-engine oracle for
    * the values) — the oracle-able contract is the q114 invariant pair:
    * the estimate sits within the configured relative error of the exact
    * count. Output: (day, dau_est, wau_est). */
  def rollingActiveApprox(events: DataFrame, entityCol: String,
      dayCol: String, windowDays: Int): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val daily = events
      .groupBy(col(dayCol).cast("long").as("day"))
      .agg(hll_sketch_agg(col(entityCol)).as("sketch"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
      .rangeBetween(-(windowDays - 1L), 0L)
    daily
      .withColumn("dau_est", hll_sketch_estimate(col("sketch")))
      .withColumn("wau_est",
        hll_sketch_estimate(hll_union_agg(col("sketch")).over(w)))
      .select("day", "dau_est", "wau_est")
  }

  /** Kaplan–Meier survival curve — time-to-event with right censoring
    * (time-to-churn, time-to-first-purchase, job-survival): subjects
    * carry a duration and an event flag (1 = the event was OBSERVED at
    * that duration, 0 = censored — still alive when observation ended).
    * At each distinct duration t: n_at_risk = subjects with duration ≥ t
    * (a suffix sum over the duration-domain frame), d = observed events
    * at t, and the survival estimate
    *
    *   S(t) = Π_{t' ≤ t, d_{t'} > 0} (n_{t'} − d_{t'}) / n_{t'}
    *
    * carried as e6 integers with the floor applied PER STEP — the one
    * deterministic cross-engine form of a running product (a float Π
    * drifts; exact rationals overflow). The per-step floor loses < 1e-6
    * per event time against the real estimator, far inside any
    * confidence band. Censored-only times get a row (n_at_risk visibly
    * drops) with the survival unchanged — the standard KM table shape.
    *
    * Scale shape: one grouped count in (group × duration) space, a
    * suffix-sum window over that DURATION-DOMAIN frame, then per group
    * ONE collect of its step array (|distinct durations| long — summary
    * space, the Lloyd-sums posture, never row data) and a row-local
    * prefix fold per step (O(k²) lambda work on a k-length array).
    * Output: (group…, t, n_at_risk, d_events, n_censored, survival_e6). */
  def kaplanMeier(df: DataFrame, groupCols: Seq[String],
      durationCol: String, eventCol: String): DataFrame = {
    val gcols = groupCols.map(col)
    val base = df
      .filter(col(durationCol).isNotNull && col(durationCol) >= 0 &&
        col(eventCol).isNotNull)
      .select(gcols :+ col(durationCol).cast("long").as("__t") :+
        col(eventCol).cast("long").as("__e"): _*)
    val perT = base.groupBy(gcols :+ col("__t"): _*)
      .agg(count(lit(1)).as("__n_t"), sum("__e").as("__d"))
    val wDesc = Window.partitionBy(gcols: _*).orderBy(col("__t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risk = perT.withColumn("__n", sum("__n_t").over(wDesc))
    val steps = risk.groupBy(gcols: _*)
      .agg(array_sort(collect_list(struct(col("__t").as("t"),
        col("__n").as("n"), col("__d").as("d"),
        (col("__n_t") - col("__d")).as("c")))).as("__steps"))
    steps
      .select(gcols ++ Seq(posexplode(col("__steps")).as(Seq("__i", "__s")),
        col("__steps")): _*)
      .select(gcols ++ Seq(
        col("__s.t").as("t"), col("__s.n").as("n_at_risk"),
        col("__s.d").as("d_events"), col("__s.c").as("n_censored"),
        expr("aggregate(slice(__steps, 1, __i + 1), 1000000L, " +
          "(acc, x) -> CASE WHEN x.d > 0 " +
          "THEN acc * (x.n - x.d) div x.n ELSE acc END)")
          .as("survival_e6")): _*)
  }

  /** Churn LABEL builder — the label-generation step of a churn-model
    * training pipeline, as data instead of wall-clock state: every
    * entity active BEFORE `splitDay` gets a row, labeled churned = 1
    * iff it has zero activity in the outcome window
    * [splitDay, splitDay + horizonDays). Pinning the split to a DAY
    * NUMBER (not "today") makes the label set reproducible and lets one
    * corpus yield many training snapshots by sliding the split. Also
    * emits the features a baseline model starts from: last active day,
    * days-silent-at-split, and the pre-split event count. Activity ON
    * the split day is outcome, not history (half-open on both sides).
    *
    * Scale shape: one grouped aggregate over the pre-split slice + one
    * distinct over the outcome slice + one left join in ENTITY space;
    * labels are exact integers. */
  def churnLabels(events: DataFrame, entityCol: String, dayCol: String,
      splitDay: Long, horizonDays: Long): DataFrame = {
    require(horizonDays >= 1, s"horizonDays must be >= 1, got $horizonDays")
    val pre = events.filter(col(dayCol) < splitDay)
      .groupBy(col(entityCol).cast("long").as("entity"))
      .agg(max(col(dayCol).cast("long")).as("last_active_day"),
        count(lit(1)).as("n_events_before"))
    val retained = events
      .filter(col(dayCol) >= splitDay &&
        col(dayCol) < splitDay + horizonDays)
      .select(col(entityCol).cast("long").as("entity")).distinct()
      .withColumn("__seen", lit(1L))
    pre.join(retained, Seq("entity"), "left")
      .select(col("entity"), col("last_active_day"),
        (lit(splitDay) - col("last_active_day")).as("days_silent"),
        col("n_events_before"),
        when(col("__seen").isNull, lit(1L)).otherwise(lit(0L))
          .as("churned"))
  }

  /** Cohort LTV curve — [[cohortRetention]]'s revenue twin: entities
    * cohorted by FIRST-order month, revenue accumulated by cohort age in
    * months, reported as exact integer cents plus the running
    * per-member value (cumulative revenue div cohort size — the curve
    * whose plateau is customer lifetime value). One grouped rollup for
    * first-months, one keyed join back, one (cohort × age) aggregate,
    * one cumulative window over that SUMMARY frame (|cohorts|·|ages|
    * rows — the window never sees row data). Month arithmetic is whole
    * months between month-truncated dates: exact integers on both
    * engines. Null amounts count 0 cents. */
  def cohortLtv(orders: DataFrame, entityCol: String, dateCol: String,
      amountCol: String): DataFrame = {
    val o = orders.select(col(entityCol).cast("long").as("entity"),
      trunc(col(dateCol), "month").as("__m"),
      coalesce(round(col(amountCol) * 100).cast("long"), lit(0L))
        .as("__cents"))
    val first = o.groupBy("entity").agg(min("__m").as("cohort_month"))
    val per = o.join(first, "entity")
      .groupBy(col("cohort_month"),
        months_between(col("__m"), col("cohort_month")).cast("long")
          .as("age_months"))
      .agg(sum("__cents").as("revenue_cents"))
    val size = first.groupBy("cohort_month")
      .agg(count(lit(1)).as("n_customers"))
    val w = Window.partitionBy("cohort_month").orderBy("age_months")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per.join(size, "cohort_month")
      .withColumn("cum_revenue_cents", sum("revenue_cents").over(w))
      .select(col("cohort_month"), col("age_months"), col("n_customers"),
        col("revenue_cents"), col("cum_revenue_cents"),
        expr("cum_revenue_cents div n_customers")
          .as("ltv_per_member_cents"))
  }

  /** RFM segmentation — the classic customer-value scoring: per entity,
    * Recency (days since last order, measured against the CORPUS max
    * date so the report is reproducible — wall-clock "today" would make
    * every run differ), Frequency (order count) and Monetary (exact
    * integer cents), each quintile-scored 1–5 with 5 best:
    *
    *   r_score = 6 − ntile(5) over (recency_days asc, entity)
    *   f_score =     ntile(5) over (frequency asc,    entity)
    *   m_score =     ntile(5) over (monetary asc,     entity)
    *   rfm_code = r·100 + f·10 + m      (555 = champions, 111 = lost)
    *
    * Entity-id tiebreaks make every ntile deterministic cross-engine.
    * The three ntiles are global sorts over the ENTITY frame (one row
    * per customer — the q158 trade at its safest: the frame is already
    * aggregated 10⁴–10⁶× down from the fact table); the fact scan itself
    * is one grouped aggregate. Null amounts count 0; the corpus max date
    * is a broadcast 1-row frame, never a driver action. */
  def rfmScores(orders: DataFrame, entityCol: String, dateCol: String,
      amountCol: String): DataFrame = {
    val per = orders
      .groupBy(col(entityCol).cast("long").as("entity"))
      .agg(max(col(dateCol)).as("__last"),
        count(lit(1)).as("frequency"),
        sum(coalesce(round(col(amountCol) * 100).cast("long"), lit(0L)))
          .as("monetary_cents"))
    val maxDate = orders.agg(max(col(dateCol)).as("__corpus_max"))
    val base = per.crossJoin(broadcast(maxDate))
      .select(col("entity"),
        datediff(col("__corpus_max"), col("__last")).cast("long")
          .as("recency_days"),
        col("frequency"), col("monetary_cents"))
    def nt(order: org.apache.spark.sql.Column*) =
      ntile(5).over(Window.orderBy(order: _*)).cast("long")
    base
      .withColumn("r_score",
        lit(6L) - nt(col("recency_days").asc, col("entity").asc))
      .withColumn("f_score", nt(col("frequency").asc, col("entity").asc))
      .withColumn("m_score", nt(col("monetary_cents").asc, col("entity").asc))
      .withColumn("rfm_code",
        col("r_score") * 100L + col("f_score") * 10L + col("m_score"))
  }
}
