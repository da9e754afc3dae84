package graft.quality

import graft.config.{ExpectationSpec, InSetCheck, QualitySpec, RangeCheck, RegexCheck}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Q1-Q7 — declarative data-quality checks
  * (reference: silver/jobs/quality_checks.py, bronze/ingestors/
  * ingest_to_iceberg.py:526-597, src/data_quality/great_expectations.py).
  *
  * Scale notes: unlike the reference (one `filter(...).count()` job per
  * check), every check here is a conditional aggregate, so ALL checks over a
  * table fuse into ONE scan + ONE partial/final aggregate — at 100 TB this is
  * the difference between N full scans and one. Checks referencing missing
  * columns are skipped gracefully (reference semantics,
  * quality_checks.py:49-51).
  */
object Checks {

  /** All requested columns/checks missing → the reference skips gracefully
    * (quality_checks.py:49-51); an aggregate over zero expressions can't be
    * built, so fail fast with a clear message rather than aggs.head NSEE. */
  private def aggRow(df: DataFrame, aggs: Seq[org.apache.spark.sql.Column],
      what: String): DataFrame = {
    require(aggs.nonEmpty,
      s"$what: none of the requested columns exist in [${df.columns.mkString(",")}]")
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Q1 — null counts per column as a single-row DataFrame (one pass).
    * count(when(...)) never returns NULL (unlike sum over an empty table). */
  def nullCounts(df: DataFrame, columns: Seq[String]): DataFrame = {
    val aggs = columns.filter(df.columns.contains).map(c =>
      count(when(col(c).isNull, 1)).as(s"${c}_nulls"))
    aggRow(df, aggs, "nullCounts")
  }

  /** Per-GROUP completeness matrix in LONG form: (group_key, column_name,
    * n_rows, n_nulls, null_rate_e6) — the stratified upgrade of
    * [[nullCounts]]: a column 100% complete globally can be 100% null for
    * one source/event-type, which is how a broken upstream feed hides
    * inside a healthy global rate. One grouped pass over the data (count +
    * one count per column), then a row-local `stack` unpivot of the
    * \|groups\|-sized result — never a per-column scan. Null group keys
    * form their own group (groupBy semantics), integer micro-unit rates. */
  def completenessByGroup(df: DataFrame, columns: Seq[String],
      byCol: String): DataFrame = {
    val present = columns.filter(df.columns.contains)
    require(present.nonEmpty,
      s"completenessByGroup: none of $columns exist in " +
        s"[${df.columns.mkString(",")}]")
    val aggs = count(lit(1)).as("_n") +:
      present.map(c => count(col(c)).as(s"_nn_$c"))
    val wide = df.groupBy(col(byCol).as("group_key"))
      .agg(aggs.head, aggs.tail: _*)
    // names are interpolated into SQL text: backtick-escape the _nn_
    // identifiers and quote-escape the label literal, so a column named
    // with a quote/space/hyphen can't break or silently misparse stack()
    val stackExpr = s"stack(${present.length}, " +
      present.map { c =>
        val label = c.replace("\\", "\\\\").replace("'", "\\'")
        val ident = c.replace("`", "``")
        s"'$label', `_nn_$ident`"
      }.mkString(", ") +
      ") AS (column_name, _n_non_null)"
    wide.select(col("group_key"), col("_n").as("n_rows"), expr(stackExpr))
      .withColumn("n_nulls", col("n_rows") - col("_n_non_null"))
      .withColumn("null_rate_e6", expr("n_nulls * 1000000L div n_rows"))
      .select("group_key", "column_name", "n_rows", "n_nulls", "null_rate_e6")
  }

  /** Q2 — count of values <= 0 per column, one pass. */
  def nonPositiveCounts(df: DataFrame, columns: Seq[String]): DataFrame = {
    val aggs = columns.filter(df.columns.contains).map(c =>
      count(when(col(c) <= 0, 1)).as(s"${c}_non_positive"))
    aggRow(df, aggs, "nonPositiveCounts")
  }

  /** Q3 — below-min / above-max counts for each range check, one pass
    * (quality_checks.py:35-63). */
  def rangeViolations(df: DataFrame, checks: Seq[RangeCheck]): DataFrame = {
    val aggs = checks.filter(c => df.columns.contains(c.column)).flatMap { c =>
      val lo = c.min.map(m =>
        count(when(col(c.column) < lit(m), 1)).as(s"${c.column}_below_min"))
      val hi = c.max.map(m =>
        count(when(col(c.column) > lit(m), 1)).as(s"${c.column}_above_max"))
      lo.toSeq ++ hi.toSeq
    }
    aggRow(df, aggs, "rangeViolations")
  }

  /** Q4 — count of values outside the allowed set
    * (great_expectations.py:306-318). */
  def notInSetCounts(df: DataFrame, checks: Seq[InSetCheck]): DataFrame = {
    val aggs = checks.filter(c => df.columns.contains(c.column)).map { c =>
      count(when(!col(c.column).isin(c.allowed: _*), 1))
        .as(s"${c.column}_not_in_set")
    }
    aggRow(df, aggs, "notInSetCounts")
  }

  /** Q-regex — count of NON-NULL values per column that do NOT match the
    * check's pattern (expect_column_values_to_match_regex,
    * great_expectations.py:95-98), one pass. `rlike` is an unanchored
    * search like the reference's pandas `str.match`-free regex semantics —
    * anchor the pattern explicitly for a full match. Nulls are not regex
    * failures (null_check owns those). */
  def regexMatchCounts(df: DataFrame, checks: Seq[RegexCheck]): DataFrame = {
    val aggs = checks.filter(c => df.columns.contains(c.column)).map(c =>
      count(when(col(c.column).isNotNull && !col(c.column).rlike(c.pattern), 1))
        .as(s"${c.column}_regex_fail"))
    aggRow(df, aggs, "regexMatchCounts")
  }

  /** Driver-side check result, for the orchestrator / fail_on_error gate. */
  final case class CheckResult(check: String, column: String, failedCount: Long) {
    def passed: Boolean = failedCount == 0L
  }

  /** Q5-Q7 — great-expectations-style aggregate expectations
    * (great_expectations.py:320-362): an observed scalar within [lo, hi]. */
  final case class ExpectationResult(
      expectation: String, column: String, observed: Double, passed: Boolean)

  /** Count-style check aggregates for a spec — count(when) instead of
    * sum(when): count is never NULL, so zero-row input reports 0 failures
    * instead of NPEing in row.getLong. */
  private def checkAggs(df: DataFrame, spec: QualitySpec)
      : Seq[(String, String, org.apache.spark.sql.Column)] =
    spec.nullCheckColumns.filter(df.columns.contains).map(c =>
      ("null_check", c, count(when(col(c).isNull, 1)))) ++
    spec.positiveColumns.filter(df.columns.contains).map(c =>
      ("positive_values", c, count(when(col(c) <= 0, 1)))) ++
    spec.rangeChecks.filter(c => df.columns.contains(c.column)).map { c =>
      val bad = (c.min, c.max) match {
        case (Some(lo), Some(hi)) => col(c.column) < lit(lo) || col(c.column) > lit(hi)
        case (Some(lo), None)     => col(c.column) < lit(lo)
        case (None, Some(hi))     => col(c.column) > lit(hi)
        case _                    => lit(false)
      }
      ("range_check", c.column, count(when(bad, 1)))
    } ++
    spec.inSetChecks.filter(c => df.columns.contains(c.column)).map(c =>
      ("in_set", c.column, count(when(!col(c.column).isin(c.allowed: _*), 1)))) ++
    spec.regexChecks.filter(c => df.columns.contains(c.column)).map(c =>
      ("regex_match", c.column,
        count(when(col(c.column).isNotNull && !col(c.column).rlike(c.pattern), 1))))

  /** `aggs` (non-empty) as ONE global aggregate, columns c0, c1, ... */
  private[quality] def aggregate(df: DataFrame,
      aggs: Seq[org.apache.spark.sql.Column]): DataFrame =
    df.agg(aggs.head.as("c0"),
      aggs.tail.zipWithIndex.map { case (a, i) => a.as(s"c${i + 1}") }: _*)

  /** The FULL quality profile — Q1-Q4 count checks AND Q5-Q7 aggregate
    * expectations — as the columns of ONE aggregate row, and the reader of
    * the row they lead, so a caller can append more aggregates to the same
    * job (`Orchestrator.run` does). `countDistinct` expectations plan as an
    * Expand over the same scan, not extra scans; at 100 TB this replaces
    * (3 + #checks) separate jobs with one pass. Missing columns are skipped
    * gracefully (reference semantics, quality_checks.py:49-51); an UNKNOWN
    * kind throws — silently skipping it would disable a gate the caller
    * configured (ConfigLoader validates kinds at load for the YAML path).
    * Building the plan runs no job. */
  final case class ProfilePlan(aggs: Seq[org.apache.spark.sql.Column],
      read: Row => (Seq[CheckResult], Seq[ExpectationResult]))

  def profilePlan(df: DataFrame, spec: QualitySpec): ProfilePlan = {
    val checks = checkAggs(df, spec)
    // (spec, first agg-column offset, #agg columns) per surviving expectation
    final case class Slot(e: ExpectationSpec, offset: Int, width: Int)
    val expCols = Seq.newBuilder[org.apache.spark.sql.Column]
    var nExpCols = 0
    val slots = spec.expectations.flatMap { e =>
      def slot(width: Int, cols: org.apache.spark.sql.Column*) = {
        val s = Slot(e, checks.size + nExpCols, width)
        expCols ++= cols; nExpCols += width; Some(s)
      }
      e.kind match {
        case "mean_between" if df.columns.contains(e.column) =>
          // exact decimal accumulation: reproducible across partitionings
          slot(2, sum(col(e.column).cast("decimal(18,4)")).cast("double"),
            count(col(e.column)).cast("double"))
        case "row_count_between" =>
          slot(1, count(lit(1)).cast("double"))
        case "unique_count_between" if df.columns.contains(e.column) =>
          slot(1, countDistinct(col(e.column)).cast("double"))
        case k if ExpectationSpec.Kinds(k) => None // known kind, missing col
        case k => throw new IllegalArgumentException(
          s"unknown expectation kind '$k' (supported: " +
            s"${ExpectationSpec.Kinds.toSeq.sorted.mkString(", ")})")
      }
    }
    ProfilePlan(checks.map(_._3) ++ expCols.result(), row => {
      val checkResults = checks.zipWithIndex.map { case ((check, column, _), i) =>
        CheckResult(check, column, row.getLong(i))
      }
      val expResults = slots.map { s =>
        s.e.kind match {
          case "mean_between" =>
            val n = row.getDouble(s.offset + 1)
            val m = if (row.isNullAt(s.offset) || n == 0) Double.NaN
              else row.getDouble(s.offset) / n
            // NaN >= lo is false, so an empty/all-null column fails closed
            ExpectationResult("mean_between", s.e.column, m,
              m >= s.e.lo && m <= s.e.hi)
          case kind =>
            val n = row.getDouble(s.offset)
            val columnLabel = if (kind == "row_count_between") "*" else s.e.column
            ExpectationResult(kind, columnLabel, n, n >= s.e.lo && n <= s.e.hi)
        }
      }
      (checkResults, expResults)
    })
  }

  /** Functional-dependency audit: the `lhs` value combinations that do NOT
    * determine `rhs` — i.e. candidate-key / denormalization-contract
    * violations ("order_id → status", "zone_id → zone_name"). For each
    * violating lhs tuple: how many distinct rhs values it maps to and how
    * many rows it covers. Empty output = the dependency holds exactly.
    *
    * Scale shape: one grouped aggregate on the lhs key (map-side
    * partials; count_distinct expands to the standard two-phase distinct
    * aggregate) and a filter — output is violation-sized, typically ≈ 0.
    * Null rhs counts as a value of its own (a key mapping to both null
    * and a value IS two contradictory facts). */
  def fdViolations(df: DataFrame, lhs: Seq[String], rhs: String): DataFrame = {
    require(lhs.nonEmpty, "fdViolations needs at least one lhs column")
    df.groupBy(lhs.map(col): _*)
      .agg(
        count_distinct(col(rhs)).as("__nd"),
        max(col(rhs).isNull.cast("int")).as("__hasNull"),
        count(lit(1)).as("n_rows"))
      .withColumn("n_rhs_values", (col("__nd") + col("__hasNull")).cast("long"))
      .filter(col("n_rhs_values") > 1)
      .drop("__nd", "__hasNull")
      .select(lhs.map(col) ++ Seq(col("n_rhs_values"), col("n_rows")): _*)
  }
}
