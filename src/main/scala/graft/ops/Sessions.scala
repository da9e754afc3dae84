package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization of an event stream in batch form: a new session
  * starts when the inter-event gap within a key exceeds `gapSec`. The
  * standard lag → running-sum construction.
  *
  * Scale shape: ONE shuffle — both window passes (the lag and the running
  * sum) share the same (partition, order) spec, so they plan into a single
  * exchange + sort; the follow-up per-session aggregate re-shuffles only the
  * (key, session) pairs. Per-user data volumes are bounded in practice, so
  * the window partitions can't skew unboundedly; a key hot enough to matter
  * is a bot to filter upstream. */
object Sessions {

  /** Appends `session_seq` (1-based per key, in time order) to the events.
    * `tsUsCol` must be an exact integer microsecond column (determinism:
    * integer gap compares, no timestamp arithmetic in doubles); `tieCol`
    * breaks equal-timestamp ties totally (an id column). */
  def sessionize(events: DataFrame, keyCol: String, tsUsCol: String,
      tieCol: String, gapSec: Long): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsUsCol), col(tieCol))
    events
      .withColumn("_prev_us", lag(col(tsUsCol), 1).over(w))
      .withColumn("_new_session",
        when(col("_prev_us").isNull ||
          col(tsUsCol) - col("_prev_us") > gapSec * 1000000L, 1L).otherwise(0L))
      .withColumn("session_seq",
        sum(col("_new_session")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .drop("_prev_us", "_new_session")
  }

  /** Per-session rollup: event count, span, and an exact micro-unit value
    * sum (`round(value·1e6)` per row, then a long sum — a double sum would
    * be shuffle-order-dependent). */
  def sessionStats(events: DataFrame, keyCol: String, tsUsCol: String,
      tieCol: String, valueCol: String, gapSec: Long): DataFrame =
    sessionize(events, keyCol, tsUsCol, tieCol, gapSec)
      .groupBy(col(keyCol), col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col(tsUsCol)).as("start_us"),
        max(col(tsUsCol)).as("end_us"),
        sum(round(col(valueCol) * lit(1e6)).cast("long")).as("value_sum_e6"))
      .withColumn("duration_sec", expr("(end_us - start_us) div 1000000L"))
      .select(col(keyCol), col("session_seq"), col("n_events"),
        col("start_us"), col("end_us"), col("duration_sec"), col("value_sum_e6"))

  /** Two-step conversion funnel per session: did a `conversionType` event
    * happen AT OR AFTER the session's first `entryType` event? One grouped
    * aggregate on top of `sessionize` — per session, the first entry
    * timestamp, the first conversion at-or-after it (conditional min — no
    * second window, no self-join), the converted flag, and the integer
    * time-to-convert (-1 sentinel when unconverted, so the column stays
    * hash-comparable). Sessions with no entry event report converted=false.
    *
    * The at-or-after comparison uses the ENTRY-side minimum inside the same
    * aggregate: min(conv_ts | conv_ts >= min(entry_ts)) can't be one flat
    * aggregate, so the first entry is broadcast onto the session's rows by
    * a (key, session) window first, and ONE grouped pass then computes
    * everything — the sessionized frame is never evaluated twice (a
    * join-back of two branches would re-run the sessionize window per
    * branch), and the final groupBy reuses the window's partitioning. */
  def funnel(events: DataFrame, keyCol: String, tsUsCol: String,
      tieCol: String, typeCol: String, entryType: String,
      conversionType: String, gapSec: Long): DataFrame = {
    val sess = sessionize(events, keyCol, tsUsCol, tieCol, gapSec)
    val wSess = Window.partitionBy(col(keyCol), col("session_seq"))
    sess
      .withColumn("_first_entry_us",
        min(when(col(typeCol) === entryType, col(tsUsCol))).over(wSess))
      .groupBy(col(keyCol), col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        // constant within the partition — min() just extracts it
        min(col("_first_entry_us")).as("first_entry_us"),
        min(when(col(typeCol) === conversionType &&
            col(tsUsCol) >= col("_first_entry_us"), col(tsUsCol)))
          .as("first_conv_us"))
      .withColumn("converted",
        col("first_entry_us").isNotNull && col("first_conv_us").isNotNull)
      .select(col(keyCol), col("session_seq"), col("n_events"),
        coalesce(col("first_entry_us"), lit(-1L)).as("first_entry_us"),
        coalesce(col("first_conv_us"), lit(-1L)).as("first_conv_us"),
        col("converted"),
        coalesce(col("first_conv_us") - col("first_entry_us"), lit(-1L))
          .as("time_to_convert_us"))
  }

  /** Per-key event-transition matrix (first-order Markov counts): how
    * often each (prev_type → type) step occurs across all keys' ordered
    * event streams, plus the row-normalized transition probability in
    * exact micro-units — the user-journey map behind funnel design (which
    * steps actually follow which) and a drift surface for behavior change
    * (compare matrices between windows with the q84/q112 machinery). The
    * '^' pseudo-state marks stream starts, so "first event of a journey"
    * is a first-class row rather than a dropped lag-null.
    *
    * Scale shape: ONE per-key window in time order (the sessionize
    * posture — bounded by the hottest key's event count), then counting
    * lives in |types|² state space: a grouped count plus a row-sum window
    * over the ≤ |types|²-row matrix. Probabilities are floor-division
    * micro-units of two exact longs.
    *
    * `tieCol` must totally order equal timestamps (an id) — without it
    * the lag order, and thus the matrix, is partition-luck. `typeCol`
    * must be NON-NULL: a null type's successor would coalesce into the
    * '^' start state (lag returns null for both "first row" and "null
    * predecessor") — map nulls to an explicit label first. */
  def transitionMatrix(events: DataFrame, keyCol: String, tsUsCol: String,
      tieCol: String, typeCol: String): DataFrame = {
    val wKey = Window.partitionBy(col(keyCol))
      .orderBy(col(tsUsCol), col(tieCol))
    val wFrom = Window.partitionBy(col("from_type"))
    events
      .withColumn("from_type",
        coalesce(lag(col(typeCol), 1).over(wKey), lit("^")))
      .groupBy(col("from_type"), col(typeCol).as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("row_total", sum(col("n")).over(wFrom))
      .withColumn("p_e6", expr("n * 1000000L div row_total"))
  }

  /** Session entry/exit matrix: how sessions begin × how they end — the
    * landing/bounce analysis ("sessions that start with an error and end
    * with an error are crashes; start-view/end-purchase are conversions").
    * Each gap-defined session contributes its FIRST and LAST event type
    * on the (ts, tie) total order; output is the |types|² matrix of
    * session counts.
    *
    * Scale shape: [[sessionize]]'s one keyed window, then a per-session
    * struct-min/max aggregate (map-side partials) and a |types|²-space
    * count — row data crosses one shuffle. */
  def entryExitMatrix(events: DataFrame, keyCol: String, tsUsCol: String,
      tieCol: String, typeCol: String, gapSec: Long): DataFrame = {
    val stamp = struct(col(tsUsCol).cast("long"), col(tieCol).cast("long"),
      col(typeCol))
    sessionize(events, keyCol, tsUsCol, tieCol, gapSec)
      .groupBy(col(keyCol), col("session_seq"))
      .agg(min(stamp).as("__f"), max(stamp).as("__l"))
      .select(col("__f")(typeCol).as("entry_type"),
        col("__l")(typeCol).as("exit_type"))
      .groupBy("entry_type", "exit_type")
      .agg(count(lit(1)).as("n_sessions"))
  }

  /** Top user journeys: the most common length-`n` ORDERED event-type
    * paths across keys — [[transitionMatrix]]'s 2-gram rows generalized
    * to n-step paths, the "what do users actually do" product-analytics
    * view. Path strings are '>'-joined types; ranking is exact counts
    * with a deterministic lexicographic tiebreak.
    *
    * Scale shape: one per-key window in time order (lead(1..n−1), a
    * single shuffle), then counting lives in |types|^n path space — tiny
    * for real type vocabularies — and the final rank window runs over
    * that aggregated frame only (the q147 posture), never row data. */
  def topPaths(events: DataFrame, keyCol: String, tsUsCol: String,
      tieCol: String, typeCol: String, n: Int, k: Int): DataFrame = {
    require(n >= 2 && k >= 1, s"need n >= 2 and k >= 1, got n=$n k=$k")
    val wKey = Window.partitionBy(col(keyCol))
      .orderBy(col(tsUsCol), col(tieCol))
    val steps = col(typeCol) +:
      (1 until n).map(i => lead(col(typeCol), i).over(wKey))
    val paths = events
      .select(concat_ws(">", steps: _*).as("path"),
        steps.last.isNotNull.as("__complete"))
      // windows shorter than n (key's stream tail) have a null last step
      .filter(col("__complete"))
      .groupBy("path").agg(count(lit(1)).as("n_occurrences"))
    paths
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_occurrences").desc, col("path"))).cast("long"))
      .filter(col("rank") <= k)
  }

  /** LAST-TOUCH attribution: each conversion event credited to the most
    * recent strictly-earlier touch event (type ∈ `touchTypes`) of the
    * same key within `windowUs` — the standard marketing/conversion
    * attribution model, and the funnel family's "which step gets the
    * credit" companion. Conversions with no in-window touch attribute to
    * the literal 'direct' (kept, never dropped — the direct share IS the
    * metric). Deterministic: the latest touch is the max (ts, tie, type)
    * struct on the total order, so same-ts ties resolve by `tieCol`.
    *
    * Scale shape: ONE per-key window in time order carrying a running
    * struct max (no join, no second pass over touches) — the sessionize
    * posture; skew bounded by the hottest key's event count. */
  def lastTouchAttribution(events: DataFrame, keyCol: String,
      tsUsCol: String, tieCol: String, typeCol: String,
      conversionType: String, touchTypes: Seq[String],
      windowUs: Long): DataFrame = {
    require(touchTypes.nonEmpty, "touchTypes must be non-empty")
    require(windowUs > 0, s"windowUs must be > 0, got $windowUs")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsUsCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val lt = max(when(col(typeCol).isin(touchTypes: _*),
      struct(col(tsUsCol).cast("long").as("t"), col(tieCol).as("i"),
        col(typeCol).as("y")))).over(w)
    val inWin = col("__lt").isNotNull &&
      col("__lt.t") >= col(tsUsCol).cast("long") - lit(windowUs)
    events.withColumn("__lt", lt)
      .filter(col(typeCol) === conversionType)
      .select(col(keyCol), col(tieCol),
        col(tsUsCol).cast("long").as(tsUsCol),
        when(inWin, col("__lt.y")).otherwise(lit("direct"))
          .as("attributed_type"),
        when(inWin, col("__lt.t")).as("touch_ts_us"),
        when(inWin, col("__lt.i")).as("touch_tie"))
  }

  /** MULTI-TOUCH attribution: every conversion paired with ALL its
    * in-window strictly-earlier touches, positioned and linearly
    * weighted (weight_e6 = 1e6 div n_touches — floor division,
    * documented; position and n_touches ride along so a consumer can
    * apply U-shaped or time-decay schemes without re-joining).
    * [[lastTouchAttribution]]'s "who gets ALL the credit" sibling —
    * last-touch answers it with one window; splitting credit needs the
    * (conversion × touch) pairs themselves. Conversions with no
    * in-window touch emit nothing here (q191's 'direct' row covers
    * them).
    *
    * Scale shape: one equi-join on the key with the window bound as a
    * residual predicate — per-key fan-out is (conversions × touches)
    * per key, pruned by the window; the position/n windows partition by
    * conversion, so their frames are touch-list sized. */
  def multiTouchAttribution(events: DataFrame, keyCol: String,
      tsUsCol: String, tieCol: String, typeCol: String,
      conversionType: String, touchTypes: Seq[String],
      windowUs: Long): DataFrame = {
    require(touchTypes.nonEmpty, "touchTypes must be non-empty")
    require(windowUs > 0, s"windowUs must be > 0, got $windowUs")
    val base = events.select(col(keyCol).as("__k"),
      col(tsUsCol).cast("long").as("__ts"), col(tieCol).as("__tie"),
      col(typeCol).as("__ty"))
    val conv = base.filter(col("__ty") === conversionType)
      .select(col("__k"), col("__ts").as("conv_ts"),
        col("__tie").as("conv_tie"))
    val touch = base.filter(col("__ty").isin(touchTypes: _*))
      .select(col("__k").as("__tk"), col("__ts").as("touch_ts"),
        col("__tie").as("touch_tie"), col("__ty").as("touch_type"))
    val wPos = Window.partitionBy(col("__k"), col("conv_tie"))
      .orderBy(col("touch_ts"), col("touch_tie"))
    conv.join(touch,
        col("__k") === col("__tk") &&
          (col("touch_ts") < col("conv_ts") ||
            (col("touch_ts") === col("conv_ts") &&
              col("touch_tie") < col("conv_tie"))) &&
          col("touch_ts") >= col("conv_ts") - lit(windowUs))
      .withColumn("position", row_number().over(wPos).cast("long"))
      .withColumn("n_touches", count(lit(1))
        .over(Window.partitionBy(col("__k"), col("conv_tie"))).cast("long"))
      .select(col("__k").as(keyCol), col("conv_tie"), col("conv_ts"),
        col("touch_tie"), col("touch_type"), col("touch_ts"),
        col("position"), col("n_touches"),
        expr("1000000L div n_touches").as("weight_e6"))
  }

  /** Per-key interval UNION (gaps-and-islands merge): overlapping or
    * touching [start, end] intervals coalesce into islands; per key,
    * the island count and the total COVERED length — "how much wall-clock
    * was this user actually active", which a plain sum(end−start)
    * over-counts whenever intervals overlap. Touching intervals
    * (next.start == prev.end) merge; closed-interval semantics.
    *
    * Scale shape: ONE per-key window in time order (the sessionize
    * posture — skew bounded by the hottest key's interval count), then a
    * keyed two-level aggregate in island space. All arithmetic is exact
    * integer on the raw units — no timestamps parsed, no floats.
    *
    * Interval starts must be non-null; `endCol` < `startCol` rows are
    * invalid input and raise in-plan rather than silently shrinking
    * coverage. */
  def intervalUnion(df: DataFrame, keyCol: String, startCol: String,
      endCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(startCol), col(endCol))
    val end = when(col(endCol) >= col(startCol), col(endCol))
      .otherwise(raise_error(concat(
        lit("intervalUnion: end < start for key "), col(keyCol).cast("string"))))
    // an interval opens a new island iff it starts strictly after every
    // earlier interval's end (running max over the preceding frame)
    val prevMax = max(end)
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val islands = df
      .withColumn("_new_island",
        when(col(startCol) > coalesce(prevMax, col(startCol) - 1), 1L)
          .otherwise(0L))
      .withColumn("_island", sum(col("_new_island")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(keyCol), col("_island"))
      .agg(min(col(startCol)).as("_s"), max(end).as("_e"))
    islands.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_islands"),
        sum(col("_e") - col("_s")).as("covered"))
  }

  /** The strictly-after frontier chain of [[funnelSteps]],
    * [[funnelStepsBy]] and [[funnelLatency]], one frontier per step.
    * Stage 1 is each (key, segment)'s earliest `steps.head` stamp, as
    * (key, __by, _at); stage i keeps the keys with a step-i event strictly
    * after their stage-(i−1) stamp, as (key, __by, _at = the earliest such
    * stamp, _pat = the stage-(i−1) stamp). Stamps are (t, i) structs on
    * the (ts, tie) total order. Every stage is checkpointed lazily: the
    * first job that reads it — the caller's per-stage tally, or the next
    * stage's join — materializes it once, so stage i reads stage i−1's
    * blocks instead of re-running its joins, and work grows linearly in
    * the number of steps. */
  private def funnelChain(events: DataFrame, keyCol: String,
      tsUsCol: String, tieCol: String, typeCol: String, steps: Seq[String],
      segment: Column): Seq[DataFrame] = {
    val stamp = struct(col(tsUsCol).cast("long").as("t"),
      col(tieCol).cast("long").as("i"))
    val first = events.filter(col(typeCol) === steps.head)
      .groupBy(col(keyCol), segment.as("__by"))
      .agg(min(stamp).as("_at"))
      .localCheckpoint(eager = false)
    steps.drop(1).scanLeft(first) { (frontier, step) =>
      events.filter(col(typeCol) === step)
        .select(col(keyCol), stamp.as("_st"))
        .join(frontier, keyCol)
        .filter(col("_st") > col("_at"))
        .groupBy(col(keyCol), col("__by"))
        .agg(min(col("_st")).as("_at"), min(col("_at")).as("_pat"))
        .localCheckpoint(eager = false)
    }
  }

  /** (stage, step, n_keys, conv_from_prev_e6) rows from per-stage key
    * counts: exact-integer stage-over-stage conversion, stage 1 against
    * itself, 0 after an empty stage. */
  private def stageRows(steps: Seq[String],
      counts: Seq[Long]): Seq[(Long, String, Long, Long)] =
    steps.zip(counts).zip(counts.head +: counts).zipWithIndex.map {
      case (((step, n), prev), i) =>
        (i + 1L, step, n, if (prev == 0L) 0L else n * 1000000L / prev)
    }

  /** Funnel STAGE LATENCY: for each stage transition of the q176-style
    * progressive-min frontier, exact integer stats of the time between
    * the previous stage's earliest completion and this one's — "how long
    * from view to click to purchase", the companion number to the
    * conversion rate. Per stage (2..k): converted-key count, sum / max /
    * floor-mean latency in µs (mean null when nobody converted). Exact
    * integers end to end — no percentile engine divergence to manage.
    *
    * Scale shape: the [[funnelChain]] of [[funnelSteps]] — k bounded
    * frontier joins, the frontier only shrinks — each stage tallied by
    * one 1-row aggregate (a bounded driver collect). */
  def funnelLatency(events: DataFrame, keyCol: String, tsUsCol: String,
      tieCol: String, typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.size >= 2, "funnelLatency needs at least two steps")
    val spark = events.sparkSession
    import spark.implicits._
    val lat = col("_at.t") - col("_pat.t")
    val stages = funnelChain(events, keyCol, tsUsCol, tieCol, typeCol,
      steps, lit(0L))
    steps.zip(stages).zipWithIndex.drop(1)
      .map { case ((step, f), i) =>
        val r = f.agg(count(lit(1)), coalesce(sum(lat), lit(0L)),
          coalesce(max(lat), lit(0L))).collect()(0)
        (i + 1L, step, r.getLong(0), r.getLong(1), r.getLong(2)) }
      .toDF("stage", "step", "n_converted", "sum_latency_us",
        "max_latency_us")
      .withColumn("mean_latency_us",
        when(col("n_converted") > 0L,
          expr("sum_latency_us div n_converted")))
  }

  /** K-step ORDERED funnel — [[funnel]]'s 2-step entry→conversion
    * generalized to an arbitrary step sequence: a key completes stage i
    * iff it has a step-i event STRICTLY after its earliest completion of
    * stage i−1 (earliest-completion semantics, the standard funnel
    * definition; "strictly after" is on the (ts, tie) total order, so
    * same-timestamp step chains resolve deterministically).
    *
    * Output, one row per stage: (stage, step, n_keys, conv_from_prev_e6)
    * — counts of keys reaching each stage and the exact-integer
    * stage-over-stage conversion. Stage 1's conversion is vs itself (1.0).
    *
    * Scale shape: the [[funnelChain]] — stage i is one filtered scan of
    * the step-i events joined to the (keys-completed-so-far)-sized
    * frontier on the key, then a keyed min and one count — k bounded
    * rounds, no per-key sequence materialization, no window over row
    * data. The frontier only shrinks, so later stages cost less, and each
    * round's join is broadcast-able once the funnel narrows. */
  def funnelSteps(events: DataFrame, keyCol: String, tsUsCol: String,
      tieCol: String, typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnelSteps needs at least one step")
    val spark = events.sparkSession
    import spark.implicits._
    val counts = funnelChain(events, keyCol, tsUsCol, tieCol, typeCol, steps,
      lit(0L)).map(_.count())
    stageRows(steps, counts)
      .toDF("stage", "step", "n_keys", "conv_from_prev_e6")
  }

  /** [[funnelSteps]] split by a per-key SEGMENT (experiment variant,
    * acquisition channel, plan tier): the same [[funnelChain]], one
    * funnel per segment value, in ONE pass over the data per stage — the
    * A/B-test funnel readout (which stage does the treatment actually
    * move?). `byCol` must be a long-typed attribute CONSTANT per key (an
    * md5-bucket variant, a cohort id); it rides the frontier from stage
    * 1, so later stages never re-derive it. Segments that die at a stage
    * report n_keys = 0 rows for every later stage (a missing row would
    * read as "not measured", not "nobody converted"). Per-stage tallies
    * are |segments|-sized driver summaries (bounded, the k-seeds
    * posture); everything row-scaled stays distributed. */
  def funnelStepsBy(events: DataFrame, keyCol: String, tsUsCol: String,
      tieCol: String, typeCol: String, steps: Seq[String],
      byCol: String): DataFrame = {
    require(steps.nonEmpty, "funnelStepsBy needs at least one step")
    val spark = events.sparkSession
    import spark.implicits._
    // A null (or long-uncastable) segment would flow into the driver-side
    // tally as a null group key and die in an opaque NPE there — raise a
    // DESCRIPTIVE error in-plan at the stage-1 frontier instead (later
    // stages only join the frontier, so stage 1 sees every surviving key).
    val byLong = when(col(byCol).cast("long").isNull,
      raise_error(concat(
        lit(s"funnelStepsBy: segment column '$byCol' is null or not " +
          "castable to long for value: "),
        coalesce(col(byCol).cast("string"), lit("NULL")))))
      .otherwise(col(byCol).cast("long"))
    val byStage = funnelChain(events, keyCol, tsUsCol, tieCol, typeCol,
      steps, byLong).map(_.groupBy(col("__by")).agg(count(lit(1)))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val rows = for {
      v <- byStage.head.keys.toSeq.sorted
      (stage, step, n, conv) <- stageRows(steps, byStage.map(_.getOrElse(v, 0L)))
    } yield (v, stage, step, n, conv)
    rows.toDF("segment", "stage", "step", "n_keys", "conv_from_prev_e6")
  }

  /** [[funnelSteps]] under a CONVERSION WINDOW: stage i counts a key iff
    * SOME chain e₁ < e₂ < … < eᵢ of the step types exists (strict
    * (ts, tie) stamp order) with every consecutive gap ≤ `maxGapUs` —
    * the "completed checkout within 30 minutes of the click" funnel
    * every product-analytics tool ships.
    *
    * The earliest-frontier greedy that [[funnelSteps]] uses is WRONG
    * under a gap cap: the key's earliest stage-1 stamp can be too old
    * for every stage-2 event while a LATER stage-1 occurrence converts
    * (spec pins the counter-example). The windowed chain needs, per
    * candidate event at t, "does ANY valid previous-stage completion sit
    * in [t − maxGap, t)" — and the LATEST valid completion strictly
    * before t answers that exactly (it is ≥ every other valid one and
    * < t, so if any is in window, it is). So each stage is ONE per-key
    * time-ordered window pass over the valid-previous stamps unioned
    * with the candidate events: no pair join, no frontier-set explosion,
    * the valid set never exceeds that step's event count.
    *
    * Scale shape: per stage, one exchange on the key + one sort (the
    * window), frames bounded by per-key event counts — the sessionize
    * posture. Each stage's valid set is localCheckpoint'd so the chain
    * of unions never re-plans upstream stages. */
  def funnelStepsWindowed(events: DataFrame, keyCol: String,
      tsUsCol: String, tieCol: String, typeCol: String,
      steps: Seq[String], maxGapUs: Long): DataFrame = {
    require(steps.nonEmpty, "funnelStepsWindowed needs at least one step")
    require(maxGapUs > 0, s"maxGapUs must be > 0, got $maxGapUs")
    val spark = events.sparkSession
    import spark.implicits._
    var valid = events.filter(col(typeCol) === steps.head)
      .select(col(keyCol).as("__k"), col(tsUsCol).cast("long").as("__t"),
        col(tieCol).cast("long").as("__i"))
      .localCheckpoint()
    var counts = List(valid.select("__k").distinct().count())
    steps.drop(1).foreach { step =>
      val cand = events.filter(col(typeCol) === step)
        .select(col(keyCol).as("__k"), col(tsUsCol).cast("long").as("__t"),
          col(tieCol).cast("long").as("__i"), lit(false).as("__v"))
      val w = Window.partitionBy("__k").orderBy(col("__t"), col("__i"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val lastValid =
        max(when(col("__v"), struct(col("__t"), col("__i")))).over(w)
      valid = valid.withColumn("__v", lit(true)).unionByName(cand)
        .withColumn("__lv", lastValid)
        .filter(!col("__v") && col("__lv").isNotNull &&
          col("__lv.__t") >= col("__t") - lit(maxGapUs))
        .select("__k", "__t", "__i")
        .localCheckpoint()
      counts = valid.select("__k").distinct().count() :: counts
    }
    stageRows(steps, counts.reverse)
      .toDF("stage", "step", "n_keys", "conv_from_prev_e6")
  }

  /** TIME-DECAY multi-touch attribution: the [[multiTouchAttribution]]
    * pairs weighted by exponential half-life decay in EXACT integers —
    * the decay is quantized to whole half-life periods of conversion −
    * touch age, so every raw weight is a power of two
    * (2^(maxPeriods − age div halfLifeUs)) and the per-conversion
    * normalized e6 shares floor deterministically in both engines. The
    * linear scheme splits credit evenly; this one answers "the click
    * five minutes before the purchase mattered more than the view three
    * hours earlier" — the other standard attribution curve.
    *
    * `windowUs div halfLifeUs` must be ≤ 40 (loud raise): raw weights
    * stay ≤ 2^40 so raw·1e6 and any realistic per-conversion sum
    * (< 2^22 touches) fit a Long exactly.
    *
    * Scale shape: the multiTouch pair join plus one per-conversion
    * window sum — frames are touch-list sized, nothing new shuffles. */
  def timeDecayAttribution(events: DataFrame, keyCol: String,
      tsUsCol: String, tieCol: String, typeCol: String,
      conversionType: String, touchTypes: Seq[String],
      windowUs: Long, halfLifeUs: Long): DataFrame = {
    require(halfLifeUs > 0, s"halfLifeUs must be > 0, got $halfLifeUs")
    val maxPeriods = windowUs / halfLifeUs
    require(maxPeriods <= 40,
      s"windowUs div halfLifeUs = $maxPeriods > 40: raw 2^p weights " +
        "would overflow exact Long arithmetic; coarsen halfLifeUs")
    val pairs = multiTouchAttribution(events, keyCol, tsUsCol, tieCol,
      typeCol, conversionType, touchTypes, windowUs)
    val wConv = Window.partitionBy(col(keyCol), col("conv_tie"))
    pairs
      .withColumn("decay_periods",
        expr(s"(conv_ts - touch_ts) div ${halfLifeUs}L"))
      .withColumn("__raw", expr(
        s"shiftleft(1L, cast(${maxPeriods}L - decay_periods as int))"))
      .withColumn("__sum", sum(col("__raw")).over(wConv))
      .withColumn("weight_e6", expr("__raw * 1000000L div __sum"))
      .drop("__raw", "__sum")
  }
}
