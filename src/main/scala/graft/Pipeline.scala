package graft

import graft.config.ConfigLoader.PipelineConfig
import graft.config.PerfConf
import graft.gold.AggregationEngine
import graft.lineage.Lineage
import graft.lineage.Lineage.EventType
import graft.quality.{Checks, Orchestrator}
import graft.silver.Transform
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, expr, lit}
import scala.concurrent.Await
import scala.concurrent.duration._

/** The single-process pipeline driver: bronze → silver → gold → quality →
  * lineage, preserving the reference DAG's task ordering
  * (airflow/dags/nyc_taxi_medallion_dag.py:504-512) without the Airflow
  * shell (SURVEY §3.4, §7.5). Each stage is idempotent (overwrite
  * semantics) so re-runs are safe, matching the reference's README claim.
  *
  * Lineage row counts (the reference's per-stage counts,
  * bronze_to_silver.py:303,338-342) never run a stage twice. Bronze,
  * silver and curated take one count each (under `cache_after_transform`,
  * the count that fills a cache the run releases on exit, failed or not).
  * Each output stage (gold marts, sessions, retrieval, features, split,
  * layout) runs once: with no sink, as one count; with a sink, as the
  * sink's own write, its rows read from a `Dataset.observe` metric.
  *
  * Sink contract: `goldSink(name, df)` executes all of `df` (a write, a
  * `noop` save, a collect) before it returns; one that does not fails the
  * run, naming the stage, after a bounded wait for the metric. Features
  * and layout columns are checked before the first output stage runs. */
object Pipeline {

  final case class StageResult(name: String, rows: Long)

  final case class RunResult(
      stages: Seq[StageResult],
      quality: Orchestrator.QualityReport,
      lineage: Lineage.Tracker) {
    def qualityResults: Seq[Checks.CheckResult] = quality.checkResults
  }

  /** How long a sinked stage waits, once its sink returns, for the observed
    * row count: the listener bus delivers it within milliseconds of the
    * write, so running out means the sink never ran its frame to the end. */
  private val ObservedRowsWait = 10.seconds

  /** Run the configured pipeline over an already-loaded bronze DataFrame
    * (source resolution is Ingest's job; tests inject frames directly). */
  def run(
      spark: SparkSession,
      config: PipelineConfig,
      bronzeDf: DataFrame,
      goldSink: Option[(String, DataFrame) => Unit] = None): RunResult = {
    PerfConf(spark, config.performance)
    val tracker = new Lineage.Tracker()
    val bronzeRows = bronzeDf.count()
    tracker.record(EventType.Ingestion, "source", "bronze." + config.name,
      bronzeRows, bronzeRows)

    // silver feeds N output stages + the quality pass (curated feeds the
    // stages) — the reference's cache_after_transform knob caches each with
    // the count that measures it, so its chain runs once, not per consumer
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def measure(df: DataFrame): Long =
      if (!config.cacheSilver) df.count()
      else { cached += df; PerfConf.cacheEager(df, config.performance) }

    try {
      val silverDf = Transform(config.silver)(bronzeDf)
      val silverRows = measure(silverDf)
      tracker.record(EventType.Transformation,
        "bronze." + config.name, "silver." + config.name,
        bronzeRows, silverRows, Lineage.columnLineage(config.silver))

      // curation: gate → dedupe → mix between silver and gold (absent block
      // = pass-through, zero extra jobs). Downstream lineage edges hang off
      // the curated node when it exists — gold's true upstream.
      val (curatedDf, curatedRows, curationStages) = config.curation match {
        case None => (silverDf, silverRows, Nil)
        case Some(spec) =>
          val curated = graft.text.Curation.curate(silverDf, spec)
          val rows = measure(curated)
          tracker.record(EventType.Filter,
            "silver." + config.name, "curated." + config.name, silverRows, rows)
          (curated, rows, Seq(StageResult("curated", rows)))
      }
      val upstreamNode =
        (if (config.curation.isDefined) "curated." else "silver.") + config.name

      // missing config columns fail loudly (a silently-skipped table is the
      // one the trainer misses) and before the first output stage, so a bad
      // config leaves no partial output; `columns` is analysis only
      def requireCols(label: String, cols: Seq[String]): Unit = {
        val missing = cols.filterNot(curatedDf.columns.contains)
        require(missing.isEmpty,
          s"$label: missing columns ${missing.mkString(", ")}")
      }
      config.features.foreach { fs =>
        fs.hashText.foreach(h =>
          requireCols("features.hash_text", Seq(fs.idColumn, h.textColumn)))
        fs.targetEncode.foreach(t => requireCols("features.target_encode",
          Seq(fs.idColumn, t.categoryColumn, t.targetColumn)))
      }
      config.layout.foreach(ls => requireCols("layout", Seq(ls.keyColumn)))

      // every output stage runs here, once: as the sink's write, its row
      // count observed on the frame the sink executes, or as one count
      def stage(name: String, event: String, node: String,
          df: DataFrame): StageResult = {
        val rows = goldSink match {
          case None => df.count()
          case Some(sink) =>
            val observed = Observation()
            sink(name, df.observe(observed, count(lit(1))))
            scala.util.Try(Await.result(observed.future, ObservedRowsWait))
              .filter(_.length == 1).map(_.getLong(0))
              .getOrElse(throw new IllegalStateException(s"stage $node: the " +
                s"gold sink returned without running '$name' to completion " +
                "(a sink must execute the whole frame it is handed)"))
        }
        tracker.record(event, upstreamNode, node, curatedRows, rows)
        StageResult(node, rows)
      }

      val goldStages = config.gold.map(model =>
        stage(model.name, EventType.Aggregation, "gold." + model.name,
          AggregationEngine.build(curatedDf, model)))

      val sessionStages = config.sessions.toSeq.map(ss =>
        stage("sessions", EventType.Aggregation, "gold.sessions",
          graft.ops.Sessions.sessionStats(curatedDf, ss.keyColumn,
            ss.tsUsColumn, ss.tieColumn, ss.valueColumn, ss.gapSec)))

      // retrieval: the q125 composition config-driven — lexical keyword
      // top-k over the curated corpus, optionally RRF-fused with a cosine
      // top-k when an embedding column rides the frame. Queries are corpus
      // rows selected by the block's SQL predicate, so the stage needs no
      // second source.
      val retrievalStages = config.retrieval.toSeq.map { rs =>
        val queries = curatedDf.filter(expr(rs.queriesFilter))
        val lex = graft.text.TextAnalysis.keywordSearchTopK(
          curatedDf, queries, rs.idColumn, rs.textColumn,
          rs.idColumn, rs.textColumn, rs.k,
          maxDf = rs.maxDf, excludeSelf = rs.excludeSelf,
          maxDfFracE6 = rs.maxDfFracE6)
        val ranking = rs.embeddingColumn match {
          case None => lex
          case Some(embCol) =>
            val sem = graft.similarity.Similarity.bruteForceTopK(
              curatedDf, queries, rs.idColumn, embCol, rs.k)
            graft.similarity.Similarity.rrfFuse(Seq(lex, sem),
              k = rs.fuseK.getOrElse(rs.k), rrfK = rs.rrfK.getOrElse(60L))
        }
        stage("retrieval", EventType.Aggregation, "gold.retrieval", ranking)
      }

      // features: post-curation ML feature tables — the hashing-trick
      // sparse coordinates and/or the leave-one-out target encoding, each
      // landing as its own gold sink
      val featureStages = config.features.toSeq.flatMap { fs =>
        fs.hashText.map(h =>
          stage("features_hash", EventType.Transformation,
            "gold.features_hash", graft.ops.Features.hashFeatures(
              curatedDf, fs.idColumn, h.textColumn, h.nBuckets))).toSeq ++
        fs.targetEncode.map(t =>
          stage("features_target", EventType.Transformation,
            "gold.features_target", graft.ops.Features.targetEncodeLoo(
              curatedDf, fs.idColumn, t.categoryColumn, t.targetColumn, t.m)))
      }

      // split: deterministic train/val/test assignment over the curated
      // corpus — row-wise md5 buckets, or near-dup clusters as the unit
      // (leakage-safe: a mirror set never straddles train and eval).
      val splitStages = config.split.toSeq.map { sp =>
        val assigned = sp.strategy match {
          case "hash" =>
            curatedDf.withColumn("split",
              graft.text.Chunking.hashSplit(col(sp.keyColumn), sp.weights))
          case "cluster" =>
            val pairs = graft.dedup.Dedup.jaccardPairs(curatedDf,
                sp.keyColumn, sp.contentColumn.get, sp.ngram, sp.maxShingleFreq)
              .filter(col("jaccard") > sp.threshold)
              .select("id_a", "id_b")
            graft.text.Chunking.leakageSafeSplit(curatedDf, sp.keyColumn,
              graft.dedup.Dedup.dupClusters(pairs), sp.weights)
          case other => throw new IllegalArgumentException(
            s"unknown split strategy '$other' (supported: " +
              graft.config.SplitSpec.Strategies.toSeq.sorted.mkString("|") + ")")
        }
        // the one stage whose result name is not its lineage node
        stage("split", EventType.Transformation, "split." + config.name,
          assigned).copy(name = "split")
      }

      // layout: the deterministic output-sharding plan — per-shard key
      // counts (balance evidence), or the full (from → to) migration
      // matrix when resizing from previous_n_shards (off-diagonal mass =
      // exactly the keys that move; minimal under rendezvous routing).
      // Row-local hashing + one grouped agg.
      val layoutStages = config.layout.toSeq.map { ls =>
        val plan = ls.previousNShards match {
          case Some(prev) => graft.maintenance.Layout.reshardReport(
            curatedDf, ls.keyColumn, prev, ls.nShards)
          case None =>
            // every shard gets a row — a 0-key shard is the clearest
            // imbalance signal and must not be indistinguishable from a
            // missing row (the shard universe is a broadcast-size range)
            val counts = curatedDf
              .select(graft.maintenance.Layout.rendezvousShard(
                col(ls.keyColumn), ls.nShards).as("shard"))
              .groupBy("shard").agg(count(lit(1)).as("__n"))
            spark.range(0, ls.nShards.toLong)
              .select(col("id").as("shard"))
              .join(counts, Seq("shard"), "left")
              .select(col("shard"),
                coalesce(col("__n"), lit(0L)).as("n_keys"))
        }
        stage("layout_plan", EventType.Aggregation, "gold.layout_plan", plan)
      }

      val report = Orchestrator.run(silverDf, config.quality)
      tracker.record(EventType.Validation,
        "silver." + config.name, "silver." + config.name, silverRows, silverRows)
      if (config.quality.failOnError && !report.passed)
        throw new IllegalStateException("quality gate failed: " +
          (report.checkResults.filterNot(_.passed)
            .map(r => s"${r.check}(${r.column})=${r.failedCount}") ++
           report.expectationResults.filterNot(_.passed)
            .map(e => s"${e.expectation}(${e.column})=${e.observed}"))
            .mkString(", "))

      RunResult(
        StageResult("bronze", bronzeRows) +: StageResult("silver", silverRows) +:
          (curationStages ++ goldStages ++ sessionStages ++ retrievalStages
            ++ featureStages ++ splitStages ++ layoutStages),
        report, tracker)
    } finally cached.reverseIterator.foreach(_.unpersist())
  }
}
