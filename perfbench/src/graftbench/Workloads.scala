package graftbench

import graft.Pipeline
import graft.bronze.Ingest
import graft.config.ConfigLoader
import graft.config.ConfigLoader.{PipelineConfig, SourceSpec}
import graft.gold.{AggregationEngine, IncrementalMaterializer}
import graft.lineage.Lineage
import graft.quality.Orchestrator
import graft.silver.Transform
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}

/** Input sizes of one workload: the testdata slice (a directory under
  * perfbench/data) each example pipeline reads, and the taxi trip counts. */
final case class Size(events: String, docs: String, tripsBase: Long, tripsDelta: Long)

object Size {
  val Full = Size(events = "sf0.01", docs = "sf0.1", tripsBase = 10000L, tripsDelta = 1000L)
  val Smoke = Size(events = "sf0.001", docs = "sf0.001", tripsBase = 3000L, tripsDelta = 300L)
}

/** What staging left behind: the input files, their size, and the
  * figures each run's output is checked against. */
final case class Staged(inputs: Map[String, String], inputHash: String, inputBytes: Long,
    bronzeRows: Long, expectRows: Seq[(String, Long)], expectHash: String = "")

/** What one pipeline run produced. */
final case class Outcome(stageRows: Seq[(String, Long)],
    quality: Orchestrator.QualityReport, refreshed: Option[String] = None)

/** Calls into the layers, each wrapped in a span when a tracer is given. */
final class Layers(val spark: SparkSession, tracer: Option[Trace.Tracer]) {
  def traced: Boolean = tracer.nonEmpty
  def apply[T](name: String, layer: String)(body: => T): T =
    tracer.fold(body)(_.span(name, layer)(body))
}

abstract class Workload {
  def name: String
  def configPath: String

  /** Stage this seed's inputs under `dir` (copied from the testdata
    * slices under `data`, or generated) and work out the checks. */
  def stage(spark: SparkSession, seed: Long, size: Size, data: Path, dir: Path): Staged

  /** One full run into the fresh directory `out`: through the library's
    * entry points, or, when `l` traces, through the same calls in spans. */
  def run(l: Layers, staged: Staged, out: Path): Outcome

  /** None when the outcome is correct, else what differed. */
  def check(spark: SparkSession, staged: Staged, o: Outcome): Option[String] = {
    val got = o.stageRows
    val failedChecks = o.quality.checkResults.filterNot(_.passed)
      .map(r => s"${r.check}(${r.column})")
    if (got != staged.expectRows)
      Some(s"stage rows ${fmt(got)} != expected ${fmt(staged.expectRows)}")
    else if (failedChecks.nonEmpty || !o.quality.passed)
      Some(s"quality checks failed: ${failedChecks.mkString(", ")}")
    else if (math.abs(o.quality.overall - 100.0) > 1e-9)
      Some(s"quality score ${o.quality.overall} != 100.0")
    else {
      val hash = o.refreshed.fold("")(p => Workloads.contentHash(spark.read.parquet(p)))
      if (hash != staged.expectHash)
        Some(s"refreshed mart hash $hash != full recompute ${staged.expectHash}")
      else None
    }
  }

  protected def fmt(rows: Seq[(String, Long)]): String =
    rows.map { case (k, v) => s"$k=$v" }.mkString("[", ", ", "]")

  /** Load the config with an overlay that points its source at `source`
    * and its target at `out`. */
  protected def loadConfig(source: String, out: Path): PipelineConfig = {
    Files.createDirectories(out)
    val overlay = out.resolve("overlay.yaml")
    Files.write(overlay,
      s"""bronze:
         |  source:
         |    path: '$source'
         |  target_path: '${out.resolve("target")}'
         |""".stripMargin.getBytes("UTF-8"))
    ConfigLoader.load(configPath, Some(overlay.toString))
  }

  /** RunPipeline's bronze read: source, all-null column drop, metadata. */
  protected def readBronze(l: Layers, cfg: PipelineConfig, path: String): DataFrame = {
    val b = cfg.bronze.get
    var df = Ingest.readSource(l.spark, b.source.copy(path = path))
    if (b.dropAllNullColumns) df = Ingest.dropAllNullColumns(df)
    if (b.addIngestionMetadata) df = Ingest.withIngestionMetadata(df, path)
    df
  }

  protected def goldSink(cfg: PipelineConfig): (String, DataFrame) => Unit =
    (name, mart) => mart.write.mode("overwrite")
      .parquet(s"${cfg.bronze.get.targetPath}/gold/$name")

  /** The pipeline as the library runs it: Pipeline.run, then lineage. */
  protected def pipeline(l: Layers, cfg: PipelineConfig, bronze: DataFrame): Pipeline.RunResult = {
    val result = Pipeline.run(l.spark, cfg, bronze, goldSink = Some(goldSink(cfg)))
    result.lineage.persist(l.spark, s"${cfg.bronze.get.targetPath}/lineage")
    result
  }

  /** The same calls Pipeline.run makes, in its order, each inside a span
    * named after its layer. Covers the blocks the workloads configure. */
  protected def tracedPipeline(l: Layers, cfg: PipelineConfig, bronzeDf: DataFrame): Pipeline.RunResult = {
    require(cfg.sessions.isEmpty && cfg.retrieval.isEmpty && cfg.features.isEmpty &&
      cfg.split.isEmpty && cfg.layout.isEmpty && !cfg.cacheSilver,
      s"${cfg.name}: the traced path covers bronze/silver/curation/gold/quality only")
    graft.config.PerfConf(l.spark, cfg.performance)
    val tracker = new Lineage.Tracker()
    val bronzeRows = l("bronze.count", "bronze")(bronzeDf.count())
    tracker.record(Lineage.EventType.Ingestion, "source", "bronze." + cfg.name,
      bronzeRows, bronzeRows)
    val (silverDf, silverRows) = l("silver", "silver") {
      val s = Transform(cfg.silver)(bronzeDf)
      (s, s.count())
    }
    tracker.record(Lineage.EventType.Transformation, "bronze." + cfg.name,
      "silver." + cfg.name, bronzeRows, silverRows, Lineage.columnLineage(cfg.silver))
    val (curatedDf, curatedRows, curationStages) = cfg.curation match {
      case None => (silverDf, silverRows, Nil)
      case Some(spec) =>
        val (c, n) = l("curation", "curation") {
          val c = graft.text.Curation.curate(silverDf, spec)
          (c, c.count())
        }
        tracker.record(Lineage.EventType.Filter, "silver." + cfg.name,
          "curated." + cfg.name, silverRows, n)
        (c, n, Seq(Pipeline.StageResult("curated", n)))
    }
    val upstream = (if (cfg.curation.isDefined) "curated." else "silver.") + cfg.name
    val sink = goldSink(cfg)
    val goldStages = cfg.gold.map { model =>
      val n = l("gold." + model.name, "gold") {
        val mart = AggregationEngine.build(curatedDf, model)
        sink(model.name, mart)
        mart.count()
      }
      tracker.record(Lineage.EventType.Aggregation, upstream, "gold." + model.name,
        curatedRows, n)
      Pipeline.StageResult("gold." + model.name, n)
    }
    val report = l("quality", "quality")(Orchestrator.run(silverDf, cfg.quality))
    tracker.record(Lineage.EventType.Validation, "silver." + cfg.name,
      "silver." + cfg.name, silverRows, silverRows)
    if (cfg.quality.failOnError && !report.passed)
      throw new IllegalStateException("quality gate failed")
    l("lineage.persist", "lineage")(
      tracker.persist(l.spark, s"${cfg.bronze.get.targetPath}/lineage"))
    Pipeline.RunResult(
      Pipeline.StageResult("bronze", bronzeRows) +: Pipeline.StageResult("silver", silverRows) +:
        (curationStages ++ goldStages), report, tracker)
  }

  protected def writeParquet(df: DataFrame, path: Path): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path.toString)

  protected def rowsOf(r: Pipeline.RunResult): Seq[(String, Long)] =
    r.stages.map(s => s.name -> s.rows)
}

/** A single-source pipeline from examples/ over a copied testdata slice,
  * run the way RunPipeline runs it. The input does not depend on the seed. */
abstract class ExampleWorkload extends Workload {
  def input: String
  /** Stage rows each run must emit, per testdata slice. */
  def expected: Map[String, Seq[(String, Long)]]
  def slice(size: Size): String

  def stage(spark: SparkSession, seed: Long, size: Size, data: Path, dir: Path): Staged = {
    val sl = slice(size)
    val path = dir.resolve(s"$input.parquet")
    Files.createDirectories(dir)
    Files.copy(data.resolve(s"$sl/$input.parquet"), path)
    val expect = expected(sl)
    Staged(Map(input -> path.toString), Workloads.fileHash(path), Files.size(path),
      expect.head._2, expect)
  }

  def run(l: Layers, staged: Staged, out: Path): Outcome = {
    val source = staged.inputs(input)
    val cfg = l("config.load", "config")(loadConfig(source, out))
    val bronze = l("bronze.read", "bronze")(readBronze(l, cfg, source))
    val r = if (l.traced) tracedPipeline(l, cfg, bronze) else pipeline(l, cfg, bronze)
    Outcome(rowsOf(r), r.quality)
  }
}

object EventsQuality extends ExampleWorkload {
  val name = "events_quality"
  val configPath = "examples/events_pipeline.yaml"
  val input = "events"
  def slice(size: Size): String = size.events
  // bronze, silver (value >= 0, distinct event_id), distinct
  // (event_type, hour) and distinct user_id, counted in plain SQL
  val expected = Map(
    "sf0.01" -> Seq("bronze" -> 10000L, "silver" -> 10000L,
      "gold.hourly_activity" -> 120L, "gold.user_totals" -> 150L),
    "sf0.001" -> Seq("bronze" -> 1000L, "silver" -> 1000L,
      "gold.hourly_activity" -> 120L, "gold.user_totals" -> 15L))
}

object DocsCuration extends ExampleWorkload {
  val name = "docs_curation"
  val configPath = "examples/curation_pipeline.yaml"
  val input = "documents"
  def slice(size: Size): String = size.docs
  // sf0.1: the counts the pipeline is specified to give on the 5k
  // testdata documents; sf0.001: as measured on its 500
  val expected = Map(
    "sf0.1" -> Seq("bronze" -> 5000L, "silver" -> 5000L, "curated" -> 4756L,
      "gold.corpus_by_source" -> 20L, "gold.corpus_levels" -> 121L),
    "sf0.001" -> Seq("bronze" -> 500L, "silver" -> 500L, "curated" -> 476L,
      "gold.corpus_by_source" -> 20L, "gold.corpus_levels" -> 120L))
}

object TaxiIncremental extends Workload {
  val name = "taxi_incremental"
  val configPath = "perfbench/configs/taxi_pipeline.yaml"
  val RefreshedMart = "daily_trip_stats"
  val LookbackDays = 7

  private val Filters = "passenger_count BETWEEN 1 AND 6 AND trip_distance > 0 AND " +
    "trip_distance <= 500 AND fare_amount > 0 AND tpep_pickup_datetime < tpep_dropoff_datetime"
  private val TripKey = Seq("VendorID", "tpep_pickup_datetime", "tpep_dropoff_datetime",
    "PULocationID", "DOLocationID")

  def stage(spark: SparkSession, seed: Long, size: Size, data: Path, dir: Path): Staged = {
    val base = dir.resolve("trips_base.parquet")
    val delta = dir.resolve("trips_delta.parquet")
    writeParquet(Gen.trips(spark, size.tripsBase, size.tripsDelta, seed, delta = false), base)
    writeParquet(Gen.trips(spark, size.tripsBase, size.tripsDelta, seed, delta = true), delta)
    // silver = the filters plus one row per distinct trip key, in plain SQL
    val silverRows = spark.read.parquet(base.toString).where(Filters)
      .select(TripKey.map(col): _*).distinct().count()
    // the full recompute the refreshed mart must equal: both batches
    // through silver (the delta ingested later) and the mart model
    val cfg = loadConfig(base.toString, dir.resolve("expected"))
    val both = spark.read.parquet(base.toString)
      .withColumn("_ingestion_timestamp", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .unionByName(spark.read.parquet(delta.toString)
        .withColumn("_ingestion_timestamp", lit(java.sql.Timestamp.valueOf("2024-01-02 00:00:00"))))
    val model = cfg.gold.find(_.name == RefreshedMart).get
    val expectHash = Workloads.contentHash(
      AggregationEngine.build(Transform(cfg.silver)(both), model))
    Staged(Map("base" -> base.toString, "delta" -> delta.toString),
      Workloads.contentHash(spark.read.parquet(base.toString, delta.toString)),
      Main.bytesUnder(base) + Main.bytesUnder(delta), size.tripsBase + size.tripsDelta,
      Seq("silver" -> silverRows), expectHash)
  }

  override def check(spark: SparkSession, staged: Staged, o: Outcome): Option[String] =
    super.check(spark, staged, o.copy(stageRows = o.stageRows.filter(_._1 == "silver")))

  def run(l: Layers, staged: Staged, out: Path): Outcome = {
    val spark = l.spark
    val cfg = l("config.load", "config")(loadConfig(staged.inputs("base"), out))
    val b = cfg.bronze.get
    val bronzeTable = s"${b.targetPath}/bronze"
    // bronze ingest of one batch: RunPipeline's read, year/month partition
    // columns from the pickup time, and the partitioned sink
    def ingest(source: String, mode: String): Unit = l("bronze.ingest", "bronze") {
      val df = readBronze(l, cfg, source)
        .withColumn("year", year(col("tpep_pickup_datetime")))
        .withColumn("month", month(col("tpep_pickup_datetime")))
      Ingest.write(df, bronzeTable, mode, b.partitionBy)
    }
    ingest(staged.inputs("base"), b.mode)
    val bronze = l("bronze.read", "bronze")(
      Ingest.readSource(spark, SourceSpec("file", bronzeTable, "parquet")))
    val r = if (l.traced) tracedPipeline(l, cfg, bronze) else pipeline(l, cfg, bronze)
    ingest(staged.inputs("delta"), "append")
    val martPath = s"${b.targetPath}/gold/$RefreshedMart"
    val refreshedPath = s"${martPath}_refreshed"
    l("gold.refresh", "gold") {
      val silver = Transform(cfg.silver)(
        Ingest.readSource(spark, SourceSpec("file", bronzeTable, "parquet")))
      val model = cfg.gold.find(_.name == RefreshedMart).get
      IncrementalMaterializer.refresh(silver, Some(spark.read.parquet(martPath)), model,
        "pickup_datetime", "day_start", LookbackDays)
        .write.mode("overwrite").parquet(refreshedPath)
    }
    Outcome(rowsOf(r), r.quality, Some(refreshedPath))
  }
}

object Workloads {
  /** Order-independent content hash: row count, xor and sum of row hashes
    * over the columns in name order. */
  def contentHash(df: DataFrame): String = {
    val h = xxhash64(df.columns.sorted.map(col): _*)
    val r = df.agg(count(lit(1)), bit_xor(h), sum(h.cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.getLong(1)}:${r.get(2)}"
  }

  /** SHA-256 of a file's bytes, in hex. */
  def fileHash(p: Path): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))
      .map(b => f"$b%02x").mkString

  val all: Seq[Workload] = Seq(EventsQuality, DocsCuration, TaxiIncremental)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))
}
