package graft.quality

import graft.ops.Joins
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Q15-Q17 — cross-layer reconciliation
  * (reference: src/data_quality/reconciliation.py:69-398).
  *
  * Every check reduces both sides to scalar aggregates first (counts /
  * exact decimal sums), so the comparison shuffles nothing but single rows;
  * key-integrity reduces to distinct keys before the anti-join. Tolerances
  * are relative percentages, as in the reference config
  * (lakehouse_config.yaml:541-582).
  */
object Reconciliation {

  /** Q15-Q17 as one DataFrame-shaped report (for SQL-oracle comparison and
    * persistence): row count, exact decimal sum of `sumCol`, and source
    * keys missing from the target, all computed IN the engine, one row per
    * check — no driver-side collect in the plan. */
  def reportDF(src: DataFrame, tgt: DataFrame, sumCol: String,
      keyCol: String, tolerancePct: Double): DataFrame = {
    val s = src.agg(
      count(lit(1)).cast("double").as("src_rows"),
      sum(col(sumCol).cast("decimal(18,2)")).cast("double").as("src_sum"))
    val t = tgt.agg(
      count(lit(1)).cast("double").as("tgt_rows"),
      sum(col(sumCol).cast("decimal(18,2)")).cast("double").as("tgt_sum"))
    val missing = Joins.missingKeys(src, tgt, Seq(keyCol))
      .agg(count(lit(1)).cast("double").as("missing_keys"))
    // ONE evaluation of all three aggregates (a union of selects over the
    // crossJoin would re-run every aggregate and the anti-join per branch),
    // exploded into one row per check. "check_name", not "check" — CHECK is
    // a reserved word downstream.
    def chk(name: String, sv: org.apache.spark.sql.Column,
        tv: org.apache.spark.sql.Column) =
      struct(lit(name).as("check_name"), sv.as("src_value"), tv.as("tgt_value"))
    val d = when(col("src_value") === 0.0,
        when(col("tgt_value") === 0.0, 0.0).otherwise(100.0))
      .otherwise(abs(col("src_value") - col("tgt_value"))
        / abs(col("src_value")) * 100.0)
    s.crossJoin(t).crossJoin(missing)
      .select(explode(array(
        chk("row_count", col("src_rows"), col("tgt_rows")),
        chk("sum", col("src_sum"), col("tgt_sum")),
        chk("key_integrity", col("missing_keys"), lit(0.0)))).as("r"))
      .select(col("r.check_name"), col("r.src_value"), col("r.tgt_value"))
      .withColumn("diff_pct", d)
      .withColumn("within_tolerance", d <= lit(tolerancePct))
  }

  /** Distinct-count reconciliation from KMV SKETCHES (the scale form of an
    * exact count-distinct comparison, which needs an exact distinct pass
    * per side): both layers reduce to a bottom-k sketch
    * (≤ k longs each, one aggregate, no row-grain shuffle), estimates
    * compared in integer micro-units against `toleranceE6`. Because the
    * sketch is a pure function of the input set over a documented hash
    * ([[Kmv.hash60]]), the SAME report replays bit-for-bit on any other
    * engine that can hash and sort — cross-ENGINE reconciliation of
    * approximate counts, the posture exact recon can't afford at 100 TB.
    *
    * One row: (check_name, est_src, est_tgt, diff_e6, within_tolerance);
    * diff_e6 is |src−tgt| relative to the src estimate (floored at 1 so
    * an empty source reads as a 100%-class gap, not a division error),
    * |diff| clamped at 1000× and the 10⁶ scale applied via a TWO-stage
    * quotient/remainder split — unlike [[Kmv.distinctReport]]'s err_e6
    * (whose denominator is an exact count), the denominator here is an
    * ESTIMATE that the EstCeiling clamp permits up to 10¹⁴, so the
    * single-stage remainder·10⁶ would overflow BIGINT; the second stage
    * scales the remainder by 10³ twice (fraction exact to 10⁻³, every
    * intermediate ≤ ~10¹⁷). */
  def distinctSketchReport(src: DataFrame, tgt: DataFrame, column: String,
      k: Int, toleranceE6: Long): DataFrame = {
    def est(df: DataFrame, alias: String) =
      df.filter(col(column).isNotNull)
        .agg(call_function("kmv_sketch", Kmv.hash60(col(column)), lit(k))
          .as("__sk"))
        .select(Kmv.estimate(col("__sk"), k).as(alias))
    est(src, "est_src").crossJoin(est(tgt, "est_tgt"))
      .select(
        lit(s"kmv_distinct($column)").as("check_name"),
        col("est_src"), col("est_tgt"))
      .withColumn("diff_e6", expr(
        "(least(abs(est_src - est_tgt), greatest(est_src, 1) * 1000)" +
          " div greatest(est_src, 1)) * 1000000 + " +
          "((least(abs(est_src - est_tgt), greatest(est_src, 1) * 1000)" +
          " % greatest(est_src, 1)) * 1000" +
          " div greatest(est_src, 1)) * 1000"))
      .withColumn("within_tolerance", col("diff_e6") <= lit(toleranceE6))
  }

  /** Snapshot diff — the row-level change set between two snapshots of the
    * same logical table, keyed by `keyCols` (the CDC derivation the
    * reference's full-rebuild marts never need, but an incremental lake
    * does: feed the output to the MERGE materializer or audit it).
    *
    * Per key:
    *  - `added`   — key present only in `next`
    *  - `removed` — key present only in `prev`
    *  - `changed` — key in both, at least one compared column differs
    *    (null-safe: null vs value counts as a change, null vs null does not)
    *  - `unchanged` rows are DROPPED unless `emitUnchanged` — at 100 TB the
    *    unchanged mass dominates every real snapshot pair and nobody reads
    *    it; dropping it here keeps the output (and any sink write)
    *    proportional to the churn, not the table.
    *
    * Output: keyCols ++ (status, n_changed, changed_cols) where
    * `changed_cols` is the comma-joined list of differing column names in
    * `compareCols` order ('' for added/removed). With `emitValues` the
    * NEXT-side value of every compared column rides along (null on
    * `removed` rows) — exactly what [[applyChangeSet]] needs to replay the
    * change set onto the prev snapshot.
    *
    * Scale: ONE co-partitioned full-outer join on the key (sort-merge; both
    * sides shuffle once on the same key, so AQE can also skew-split it) —
    * column comparison is a row-local projection, never a per-column join
    * or a window. Keys must be non-null on both sides (enforced: a null
    * business key would silently land in `added`+`removed` instead of
    * matching itself, corrupting the churn count).
    */
  def snapshotDiff(prev: DataFrame, next: DataFrame, keyCols: Seq[String],
      compareCols: Seq[String], emitUnchanged: Boolean = false,
      emitValues: Boolean = false): DataFrame = {
    require(keyCols.nonEmpty, "snapshotDiff needs at least one key column")
    require(compareCols.nonEmpty, "snapshotDiff needs at least one compare column")
    val p = prev.select((keyCols ++ compareCols).map(col): _*)
      .withColumn("_in_prev", lit(true))
    val n = next.select((keyCols ++ compareCols).map(col): _*)
      .withColumn("_in_next", lit(true))
    val joined = p.as("p").join(n.as("n"),
      keyCols.map(k => col(s"p.$k") === col(s"n.$k")).reduce(_ && _),
      "full_outer")
    val inPrev = col("p._in_prev").isNotNull
    val inNext = col("n._in_next").isNotNull
    // per-column null-safe difference flags, evaluated once and reused for
    // both the count and the name list
    val diffs = compareCols.map(c => !(col(s"p.$c") <=> col(s"n.$c")))
    val nChanged = diffs.map(d => when(d, 1L).otherwise(0L)).reduce(_ + _)
    // concat_ws skips nulls, so absent names vanish without a filter()
    val changedCols = concat_ws(",",
      compareCols.zip(diffs).map { case (c, d) => when(d, lit(c)) }: _*)
    val status = when(!inPrev, "added")
      .when(!inNext, "removed")
      .when(nChanged > 0L, "changed")
      .otherwise("unchanged")
    val keyed = keyCols.map(k => coalesce(col(s"p.$k"), col(s"n.$k")).as(k))
    val values =
      if (emitValues) compareCols.map(c => col(s"n.$c").as(c)) else Seq.empty
    val out = joined.select(
      keyed ++ Seq(
        status.as("status"),
        when(inPrev && inNext, nChanged).otherwise(0L).as("n_changed"),
        when(inPrev && inNext, changedCols).otherwise("").as("changed_cols"))
        ++ values: _*)
    if (emitUnchanged) out else out.filter(col("status") =!= "unchanged")
  }

  /** Replay a value-carrying change set ([[snapshotDiff]] with
    * `emitValues`) onto the prev snapshot — the CDC APPLY half of the
    * pair: `applyChangeSet(prev, snapshotDiff(prev, next, …)) ≡ next`
    * row-for-row (the q34 merge-equivalence posture). Removed and changed
    * keys anti-join out of prev; changed and added rows re-enter with
    * their next-side values.
    *
    * Scale: one anti-join on the key against the (small, churn-sized)
    * change set + a union — the change set side broadcasts under AQE when
    * churn is small, and the unchanged mass of prev streams through
    * untouched. This is the Iceberg-less MERGE INTO for CDC feeds, the
    * row-level generalization of the mart-level IncrementalMaterializer. */
  def applyChangeSet(prev: DataFrame, changes: DataFrame,
      keyCols: Seq[String], valueCols: Seq[String]): DataFrame = {
    val outCols = (keyCols ++ valueCols).map(col)
    val dels = changes.filter(col("status").isin("removed", "changed"))
      .select(keyCols.map(col): _*)
    val ups = changes.filter(col("status").isin("added", "changed"))
      .select(outCols: _*)
    prev.select(outCols: _*)
      .join(dels, keyCols, "left_anti")
      .unionByName(ups)
  }

  /** SCD Type-2 history from a change/event stream: one validity interval
    * per observed (key, change) — `valid_from_us` = the change's own
    * timestamp, `valid_to_us` = the NEXT change's timestamp for the key
    * (null while current), plus `is_current`, `version` (1-based per
    * key). The warehouse dimension-history builder that completes the
    * CDC family (snapshotDiff derives the changes, applyChangeSet
    * replays them, this materializes the as-of-queryable timeline an
    * `AsofJoin` then serves).
    *
    * Ties: `tieCol` totalizes the per-key order, so two changes in the
    * same microsecond still produce a deterministic version chain (the
    * earlier tie is superseded with a ZERO-length interval, not lost —
    * audit trails keep every write). One keyed window (lead) — a single
    * shuffle on the key at any scale. */
  def scd2History(changes: DataFrame, keyCols: Seq[String], tsUsCol: String,
      tieCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsUsCol), col(tieCol))
    changes
      .withColumn("valid_from_us", col(tsUsCol).cast("long"))
      .withColumn("valid_to_us", lead(col(tsUsCol).cast("long"), 1).over(w))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("is_current", col("valid_to_us").isNull)
  }

  /** Time travel over an [[scd2History]] table: the rows valid AT `tsUs`
    * — each key's state as of that instant (half-open [from, to)
    * intervals, so a version is visible from its own timestamp until,
    * not including, its successor's; zero-length tie rows are never
    * visible, matching their superseded-at-write semantics). A pure
    * row-local filter: partition-prunes and pushes down like any
    * predicate, which is the whole point of materializing the history. */
  def snapshotAsOf(history: DataFrame, tsUs: Long): DataFrame =
    history.filter(col("valid_from_us") <= tsUs &&
      (col("valid_to_us").isNull || col("valid_to_us") > tsUs))

  /** POINT-IN-TIME enrichment: each fact row joined to the
    * [[scd2History]] version that was valid at the fact's own timestamp
    * — the time-travel-correct feature lookup that prevents training-data
    * leakage (joining today's dimension state onto last month's facts
    * teaches the model the future). Non-key history columns come back
    * `dim_`-prefixed; facts before a key's first version (or with no key
    * match) keep nulls — visibly unenriched, never silently dropped.
    *
    * Exactly-one-match guarantee: [[scd2History]]'s half-open [from, to)
    * intervals partition each key's timeline from its first change on,
    * and zero-length tie rows can never satisfy from <= ts < to.
    *
    * Scale shape: ONE equi-join on the keys with the interval predicate
    * as a residual filter — per-key history fan-out is version-count
    * bounded, so this shuffles like any keyed enrichment join and never
    * needs a range join. The history side broadcasts when the dimension
    * is small (AQE's call). */
  def pointInTimeJoin(facts: DataFrame, history: DataFrame,
      keyCols: Seq[String], factTsUsCol: String): DataFrame = {
    require(keyCols.nonEmpty, "pointInTimeJoin needs key columns")
    val dims = history.columns.filterNot(keyCols.contains)
    // history keys ride under reserved names: facts and history often
    // share lineage (a dimension derived from the same table), and
    // same-name column references in a self-join resolve ambiguously
    val h = history.select(
      keyCols.map(k => col(k).as(s"__pit_$k")) ++
        dims.map(c => col(c).as(s"dim_$c")): _*)
    val keysEq = keyCols.map(k => col(k) === col(s"__pit_$k")).reduce(_ && _)
    val at = col(factTsUsCol).cast("long")
    facts.join(h,
        keysEq && col("dim_valid_from_us") <= at &&
          (col("dim_valid_to_us").isNull || at < col("dim_valid_to_us")),
        "left")
      .drop(keyCols.map(k => s"__pit_$k"): _*)
  }
}
