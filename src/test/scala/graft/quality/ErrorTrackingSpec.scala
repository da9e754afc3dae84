package graft.quality

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, struct, to_json}

class ErrorTrackingSpec extends SparkSpec {
  import spark.implicits._

  private def rows = Seq(
    (1L, 5.0), (2L, -1.0), (3L, -2.0), (4L, 900.0), (5L, -3.0))
    .toDF("id", "v")

  /** `capture` plus the data-context columns of the reference's RowError
    * (error_tracking.py:40-44): the failing column's value as a string, the
    * rule's expected value, its check name, and a JSON `row_data` snapshot
    * of key + failing columns — the full-context input `persist` lays out. */
  private def captureDetailed(
      df: DataFrame,
      rules: Seq[ErrorTracking.ErrorRule],
      keyCols: Seq[String]): DataFrame =
    rules.map { r =>
      val ctxCols = (keyCols :+ r.columnName).distinct
      df.filter(r.predicate)
        .select(keyCols.map(col)
          :+ col(r.columnName).cast("string").as("actual_value")
          :+ to_json(struct(ctxCols.map(col): _*)).as("row_data"): _*)
        .withColumn("column_name", lit(r.columnName))
        .withColumn("error_type", lit(r.errorType))
        .withColumn("severity", lit(r.severity))
        .withColumn("error_message", lit(r.message))
        .withColumn("expected_value",
          if (r.expected.isEmpty) lit(null).cast("string") else lit(r.expected))
        .withColumn("check_name", lit(r.checkName))
    }.reduce(_.unionByName(_))

  private val rules = Seq(
    ErrorTracking.ErrorRule("v < 0", "v", "negative", "HIGH"),
    ErrorTracking.ErrorRule("v > 100", "v", "range", "MEDIUM"))

  test("capture takes a deterministic per-rule top-k by key") {
    val out = ErrorTracking.capture(rows, rules, Seq("id"), maxPerRule = 2)
      .orderBy("error_type", "id").collect()
    out.map(r => (r.getAs[String]("error_type"), r.getAs[Long]("id"))).toSeq shouldBe
      Seq(("negative", 2L), ("negative", 3L), ("range", 4L)) // id 5 capped out
    out.head.getAs[String]("severity") shouldBe "HIGH"
  }

  test("persist appends partitioned by capture date and layer") {
    val dir = Files.createTempDirectory("graft_errors").toString
    val errs = ErrorTracking.capture(rows, rules, Seq("id"))
    ErrorTracking.persist(errs, dir, layer = "silver", keyCols = Seq("id"))
    ErrorTracking.persist(errs, dir, layer = "silver", keyCols = Seq("id"))
    val back = spark.read.parquet(dir)
    back.count() shouldBe 8 // 4 errors × 2 appends
    back.select("layer").distinct().head().getString(0) shouldBe "silver"
    back.columns should contain ("capture_date")
  }

  test("persist writes the reference 14-field row_errors layout plus CSV mirror") {
    val dir = Files.createTempDirectory("graft_errors14").toString
    val csv = Files.createTempDirectory("graft_errors_csv").toString
    val detailed = Seq(
      ErrorTracking.ErrorRule("v < 0", "v", "RANGE_VIOLATION", "ERROR",
        message = "v must be non-negative", expected = ">= 0",
        checkName = "positive_values"))
    val errs = captureDetailed(rows, detailed, Seq("id"))
    ErrorTracking.persist(errs, dir, layer = "silver", tableName = "rows_t",
      pipelineRunId = "run_001", keyCols = Seq("id"), csvMirror = Some(csv))

    val back = spark.read.parquet(dir)
    // exactly the reference's 14 fields (+ the day partition column)
    back.columns.toSet shouldBe (ErrorTracking.RowErrorFields :+ "capture_date").toSet
    back.count() shouldBe 3 // ids 2, 3, 5
    val r = back.orderBy("row_id").head()
    r.getAs[String]("row_id") shouldBe "2"
    r.getAs[String]("table_name") shouldBe "rows_t"
    r.getAs[String]("column_name") shouldBe "v"
    r.getAs[String]("error_type") shouldBe "RANGE_VIOLATION"
    r.getAs[String]("severity") shouldBe "ERROR"
    r.getAs[String]("actual_value") shouldBe "-1.0"
    r.getAs[String]("expected_value") shouldBe ">= 0"
    r.getAs[String]("row_data") shouldBe """{"id":2,"v":-1.0}"""
    r.getAs[String]("check_name") shouldBe "positive_values"
    r.getAs[String]("pipeline_run_id") shouldBe "run_001"
    r.getAs[String]("error_id") should startWith ("run_001_")
    r.getAs[java.sql.Timestamp]("timestamp") should not be null

    val mirror = spark.read.option("header", "true").csv(csv)
    mirror.count() shouldBe 3
    mirror.columns.toSet shouldBe (ErrorTracking.RowErrorFields :+ "capture_date").toSet
    // the mirror carries the SAME single driver-side stamp as the parquet
    // rows (a re-evaluated current_timestamp could land the two actions in
    // different timestamps or even days)
    mirror.select("timestamp").distinct().count() shouldBe 1
    back.select("timestamp").distinct().count() shouldBe 1
    mirror.select("capture_date").distinct().head().getString(0) shouldBe
      back.select("capture_date").distinct().head().getDate(0).toString

    // error_id is deterministic: same logical error → same id across runs
    ErrorTracking.persist(errs, dir, layer = "silver", tableName = "rows_t",
      pipelineRunId = "run_001", keyCols = Seq("id"))
    spark.read.parquet(dir).select("error_id").distinct().count() shouldBe 3
  }

  test("persist without keyCols still gives each row a distinct error_id") {
    val dir = Files.createTempDirectory("graft_errors_nokey").toString
    val errs = ErrorTracking.capture(rows, rules, Seq("id"))
    ErrorTracking.persist(errs, dir, layer = "silver") // no keyCols
    val back = spark.read.parquet(dir)
    back.count() shouldBe 4
    // identity falls back to the whole input row, not a shared constant
    back.select("error_id").distinct().count() shouldBe 4
  }
}
