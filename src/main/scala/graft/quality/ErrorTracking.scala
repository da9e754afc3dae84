package graft.quality

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Q14 — row-level error tracking
  * (reference: src/data_quality/error_tracking.py:71-325).
  *
  * Differences from the reference, on purpose:
  *  - the capture cap is DETERMINISTIC (row_number over the row key per
  *    check, not `.limit(n).collect()` whose row choice depends on partition
  *    order) — at 100 TB a reproducible sample is the only debuggable one;
  *  - capture stays distributed end-to-end: predicate → windowed cap →
  *    append write. No driver-side collect of failing rows.
  */
object ErrorTracking {

  /** One failing-row capture rule: rows matching `predicate` are errors of
    * `errorType` on `columnName` with `severity`. `expected` and
    * `checkName` flow into the persisted row_errors layout
    * (error_tracking.py:41-48). */
  final case class ErrorRule(
      predicate: String,
      columnName: String,
      errorType: String,
      severity: String,
      message: String = "",
      expected: String = "",
      checkName: String = "")

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

  /** The persisted row_errors layout — the reference's 14 Iceberg fields in
    * declaration order (error_tracking.py:247-264). */
  val RowErrorFields: Seq[String] = Seq(
    "error_id", "row_id", "table_name", "layer", "column_name",
    "error_type", "error_message", "severity", "actual_value",
    "expected_value", "row_data", "timestamp", "check_name",
    "pipeline_run_id")

  /** Append-persist captured errors in the reference's 14-field row_errors
    * layout, partitioned by day + layer exactly as its Iceberg spec
    * (error_tracking.py:247-281; `capture_date` is the Spark analogue of
    * the DayTransform partition field), with an optional CSV mirror
    * (save_to_csv, :199-204).
    *
    * Differences from the reference, on purpose:
    *  - `error_id` is a DETERMINISTIC hash of (run id, row key, error type,
    *    column) rather than a uuid4 — re-running a failed batch overwrites
    *    the same logical errors instead of duplicating them, and specs can
    *    assert on it;
    *  - everything stays distributed: no driver-side pandas hop.
    *
    * Accepts `capture` frames; the context fields (`actual_value`,
    * `expected_value`, `row_data`, `check_name`) are kept when the frame
    * carries them and null-filled otherwise. `keyCols` builds `row_id`;
    * they are folded into the layout and dropped as top-level columns. */
  def persist(
      errors: DataFrame,
      path: String,
      layer: String,
      tableName: String = "",
      pipelineRunId: String = "",
      keyCols: Seq[String] = Nil,
      csvMirror: Option[String] = None): Unit = {
    val present = errors.columns.toSet
    def strOrNull(c: String) =
      if (present(c)) col(c).cast("string") else lit(null).cast("string")
    val runId =
      if (pipelineRunId.nonEmpty) pipelineRunId else s"${layer}_$tableName"
    // driver-side stamp: the CSV mirror is a second action, and a
    // re-evaluated current_timestamp() there could land mirror rows in a
    // different capture_date than the parquet rows they mirror
    val stamp = new java.sql.Timestamp(System.currentTimeMillis())
    // identity for the error_id hash: explicit keys, a row_id column if one
    // exists, else the whole input row — never a constant, or every row of
    // a rule would collapse into one "logical error"
    val identity =
      if (keyCols.nonEmpty)
        concat_ws("|", keyCols.map(c => col(c).cast("string")): _*)
      else if (present("row_id")) col("row_id").cast("string")
      else to_json(struct(errors.columns.map(col): _*))
    val full = errors
      .withColumn("row_id",
        if (keyCols.nonEmpty)
          concat_ws("|", keyCols.map(c => col(c).cast("string")): _*)
        else strOrNull("row_id"))
      .withColumn("table_name", lit(tableName))
      .withColumn("layer", lit(layer))
      .withColumn("timestamp", lit(stamp))
      .withColumn("pipeline_run_id", lit(runId))
      .withColumn("error_id", concat_ws("_", lit(runId),
        substring(md5(concat_ws("|",
          identity, col("error_type"), col("column_name"))), 1, 8)))
      .withColumn("actual_value", strOrNull("actual_value"))
      .withColumn("expected_value", strOrNull("expected_value"))
      .withColumn("row_data", strOrNull("row_data"))
      .withColumn("check_name",
        if (present("check_name")) col("check_name") else lit(""))
      .withColumn("capture_date", to_date(col("timestamp")))
      .select((RowErrorFields :+ "capture_date").map(col): _*)
    // cache across the two actions: the capture plan (filters + sorted
    // top-k per rule) should not re-execute for the mirror
    if (csvMirror.nonEmpty) full.persist()
    try {
      full.write.mode("append")
        .partitionBy("capture_date", "layer")
        .parquet(path)
      csvMirror.foreach { csvPath =>
        full.write.mode("append").option("header", "true").csv(csvPath)
      }
    } finally if (csvMirror.nonEmpty) full.unpersist()
  }
}
