package graft.quality

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Q14 — row-level error tracking
  * (reference: src/data_quality/error_tracking.py:71-325).
  *
  * Differences from the reference, on purpose:
  *  - the capture cap is DETERMINISTIC (per rule: filter → orderBy the row
  *    key → limit, the first `maxPerRule` failing keys in key order, not
  *    `.limit(n).collect()` whose row choice depends on partition order) —
  *    at 100 TB a reproducible sample is the only debuggable one;
  *  - capture returns a DataFrame (predicate → per-rule top-k) for the
  *    caller's sink; the reference's Iceberg row_errors write is not kept.
  */
object ErrorTracking {

  /** One failing-row capture rule: rows matching `predicate` are errors of
    * `errorType` on `columnName` with `severity`. */
  final case class ErrorRule(
      predicate: String,
      columnName: String,
      errorType: String,
      severity: String,
      message: String = "")

  /** Capture up to `maxPerRule` failing rows per rule, keyed by `keyCols`
    * (deterministic: lowest keys win). Output = key columns + error
    * metadata columns, ready for an append sink. */
  def capture(
      df: DataFrame,
      rules: Seq[ErrorRule],
      keyCols: Seq[String],
      maxPerRule: Int = 100): DataFrame = {
    require(rules.nonEmpty, "at least one ErrorRule required")
    val perRule = rules.map { r =>
      // orderBy+limit plans as TakeOrderedAndProject: per-partition top-k,
      // driver k-merge — never a single-partition sort of all failing rows.
      df.filter(r.predicate)
        .select(keyCols.map(col): _*)
        .orderBy(keyCols.map(col): _*)
        .limit(maxPerRule)
        .withColumn("column_name", lit(r.columnName))
        .withColumn("error_type", lit(r.errorType))
        .withColumn("severity", lit(r.severity))
        .withColumn("error_message", lit(r.message))
    }
    perRule.reduce(_.unionByName(_))
  }
}
