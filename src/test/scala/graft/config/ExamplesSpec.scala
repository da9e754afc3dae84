package graft.config

import graft.{Pipeline, SparkSpec}
import graft.bronze.Ingest

/** The SHIPPED example configs under examples/ are artifacts a user
  * copies first — so they are pinned here as real FILE inputs, not
  * mirrored as inline strings (every other config spec uses inline
  * YAML; none of them would catch an example file rotting against a
  * loader change). The two pipeline examples run END-TO-END through the
  * same path the RunPipeline CLI takes; the dataset registry parses
  * with its documented per-environment overlay semantics. */
class ExamplesSpec extends SparkSpec {

  private def read(path: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")

  /** An example config with its output redirected, and its bronze frame
    * read the way the RunPipeline CLI reads it. */
  private def loadExample(path: String)
      : (ConfigLoader.PipelineConfig, org.apache.spark.sql.DataFrame) = {
    val out = java.nio.file.Files
      .createTempDirectory("graft_example_out").toString
    // GRAFT_SF_DIR falls to its documented sf0.001 default; only the
    // output dir is redirected (the ${VAR:-default} surface in action)
    val config = ConfigLoader.parse(read(path),
      env = Map("GRAFT_OUT_DIR" -> out))
    val bronze = config.bronze.get
    var df = Ingest.readSource(spark, bronze.source)
    if (bronze.dropAllNullColumns) df = Ingest.dropAllNullColumns(df)
    if (bronze.addIngestionMetadata)
      df = Ingest.withIngestionMetadata(df, bronze.source.path)
    (config, df)
  }

  private def runExample(path: String): Pipeline.RunResult = {
    val (config, df) = loadExample(path)
    val target = config.bronze.get.targetPath
    Pipeline.run(spark, config, df,
      goldSink = Some((name, mart) => mart.write.mode("overwrite")
        .parquet(s"$target/gold/$name")))
  }

  test("examples/events_pipeline.yaml runs end-to-end") {
    val result = runExample("examples/events_pipeline.yaml")
    result.stages.map(s => s.name -> s.rows) shouldBe Seq("bronze" -> 1000L,
      "silver" -> 1000L, "gold.hourly_activity" -> 120L,
      "gold.user_totals" -> 15L)
    // the example documents its gates as a passing baseline dashboard —
    // a shipped example that FAILS its own quality block teaches the
    // config surface backwards
    result.qualityResults.filterNot(_.passed) shouldBe empty
    // the whole report at sf0.001, every family in config order
    result.quality shouldBe EventsReport
  }

  // the events example's quality report at sf0.001 (1000 silver rows)
  private val EventsReport = {
    import graft.quality.{Checks, Metrics, Orchestrator}
    Orchestrator.QualityReport(
      rows = 1000L,
      checkResults = Seq(
        "null_check" -> "event_id", "null_check" -> "user_id",
        "null_check" -> "value", "range_check" -> "value",
        "in_set" -> "event_type", "fd_check" -> "event_id->event_type",
        "benford_check" -> "value",
        "seasonal_check" -> "value%7 by event_type",
        "correlation_check" -> "event_type/value",
        "hhi_check" -> "user_id by event_type",
        "pop_check" -> "event_type/value%1d",
        "containment_check" -> "event_type in event_type/user_id@k256",
        "ks_check" -> "event_type/value_e2@k256")
        .map { case (check, label) => Checks.CheckResult(check, label, 0L) },
      anomalyCounts = Map.empty,
      anomalySamples = Nil,
      scores = Metrics.DimensionScores(100.0, 100.0, 100.0, 100.0, 100.0),
      overall = 100.00000000000001,
      level = "EXCELLENT",
      expectationResults = Nil)
  }

  test("the events example's quality pass reads silver once") {
    val (config, bronze) = loadExample("examples/events_pipeline.yaml")
    val silver = graft.silver.Transform(config.silver)(bronze)
    val (report, sample) = graft.obs.Probe.measure(spark)(
      graft.quality.Orchestrator.run(silver, config.quality))
    val jobs = sample.jobs
    report.get shouldBe EventsReport
    // one fused global aggregate fills the cache, then the 8 grouped
    // families read it; re-scanning silver per family took 47 jobs
    jobs.size should be <= 42
  }

  test("examples/curation_pipeline.yaml runs end-to-end") {
    val result = runExample("examples/curation_pipeline.yaml")
    result.stages.map(s => s.name -> s.rows) shouldBe Seq("bronze" -> 500L,
      "silver" -> 500L, "curated" -> 476L, "gold.corpus_by_source" -> 20L,
      "gold.corpus_levels" -> 120L)
    result.qualityResults.filterNot(_.passed) shouldBe empty
  }
}
