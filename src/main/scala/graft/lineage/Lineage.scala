package graft.lineage

import graft.config.SilverSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.functions.col
import scala.collection.mutable

/** L1-L4 — data-lineage tracking
  * (reference: src/data_quality/lineage.py:27-551).
  *
  * Improvement over the reference, on purpose: column-level lineage for
  * derived expressions is extracted from the CATALYST parse tree
  * (`expr(s).expr.references`) instead of the reference's naive string
  * tokenizer (lineage.py:471-487) — `"a + coalesce(b, c)"` correctly yields
  * {a, b, c} and never matches substrings of other identifiers.
  */
object Lineage {

  object EventType {
    val Ingestion = "INGESTION"
    val Transformation = "TRANSFORMATION"
    val Aggregation = "AGGREGATION"
    val Filter = "FILTER"
    val Join = "JOIN"
    val Validation = "VALIDATION"
    val Enrichment = "ENRICHMENT"
  }

  /** One lineage event (reference table schema, lineage.py:170-193; the
    * column_lineage/metadata fields stay JSON strings for fidelity). */
  final case class LineageEvent(
      eventId: String,
      eventType: String,
      sourceTable: String,
      targetTable: String,
      layer: String,
      rowsIn: Long,
      rowsOut: Long,
      columnLineage: String,
      metadata: String,
      eventTimeMs: Long,
      partitionDay: java.sql.Date)

  /** One column-level edge: target column ← source columns via a transform
    * kind (RENAME | DERIVE | CAST). */
  final case class ColumnEdge(target: String, sources: Seq[String], kind: String)

  /** Column lineage of a silver transform spec, Catalyst-powered. */
  def columnLineage(spec: SilverSpec): Seq[ColumnEdge] = {
    val renames = spec.renames.map { case (from, to) =>
      ColumnEdge(to, Seq(from), "RENAME")
    }
    val casts = spec.casts.map(c => ColumnEdge(c.column, Seq(c.column), "CAST"))
    val derived = spec.derived.map { d =>
      val refs = CatalystSqlParser.parseExpression(d.expression)
        .references.map(_.name).toSeq.distinct.sorted
      ColumnEdge(d.name, refs, "DERIVE")
    }
    renames ++ casts ++ derived
  }

  private def toJson(edges: Seq[ColumnEdge]): String =
    edges.map { e =>
      val srcs = e.sources.map(s => "\"" + s + "\"").mkString("[", ",", "]")
      s"""{"target":"${e.target}","sources":$srcs,"kind":"${e.kind}"}"""
    }.mkString("[", ",", "]")

  /** In-process tracker: record events as the pipeline runs, then persist
    * once (the reference appends to an Iceberg table per run,
    * lineage.py:363-367). */
  final class Tracker(layerOf: String => String = _.split("\\.").headOption.getOrElse("")) {
    private val events = mutable.ArrayBuffer[LineageEvent]()
    private var counter = 0

    def record(
        eventType: String,
        sourceTable: String,
        targetTable: String,
        rowsIn: Long,
        rowsOut: Long,
        edges: Seq[ColumnEdge] = Nil,
        metadata: String = "{}",
        atMs: Long = System.currentTimeMillis()): LineageEvent = {
      counter += 1
      val e = LineageEvent(
        eventId = f"evt_$counter%06d",
        eventType = eventType,
        sourceTable = sourceTable,
        targetTable = targetTable,
        layer = layerOf(targetTable),
        rowsIn = rowsIn,
        rowsOut = rowsOut,
        columnLineage = toJson(edges),
        metadata = metadata,
        eventTimeMs = atMs,
        partitionDay = new java.sql.Date(atMs - atMs % 86400000L))
      events += e
      e
    }

    def all: Seq[LineageEvent] = events.toSeq

    /** L3 — transitive upstream tables of `table` (BFS over recorded edges). */
    def upstream(table: String): Set[String] = bfs(table, up = true)

    /** L3 — transitive downstream impact of `table`. */
    def downstream(table: String): Set[String] = bfs(table, up = false)

    private def bfs(start: String, up: Boolean): Set[String] = {
      val adj = events.groupBy(e => if (up) e.targetTable else e.sourceTable)
      val seen = mutable.Set[String]()
      val queue = mutable.Queue(start)
      while (queue.nonEmpty) {
        val t = queue.dequeue()
        adj.getOrElse(t, Nil).foreach { e =>
          val next = if (up) e.sourceTable else e.targetTable
          if (next.nonEmpty && seen.add(next)) queue.enqueue(next)
        }
      }
      seen.toSet
    }

    /** L3 — the graph's edge list as a DataFrame, for `reachabilityPairs`
      * when the recorded graph outgrows a driver BFS. */
    def edgesDF(spark: SparkSession): DataFrame = {
      import spark.implicits._
      events.toSeq.map(e => (e.sourceTable, e.targetTable))
        .toDF("source_table", "target_table")
    }

    /** L4 — events as a DataFrame for the partitioned lineage sink. */
    def toDF(spark: SparkSession): DataFrame = {
      import spark.implicits._
      events.toSeq.toDF()
        .withColumnRenamed("eventId", "event_id")
        .withColumnRenamed("eventType", "event_type")
        .withColumnRenamed("sourceTable", "source_table")
        .withColumnRenamed("targetTable", "target_table")
        .withColumnRenamed("rowsIn", "rows_in")
        .withColumnRenamed("rowsOut", "rows_out")
        .withColumnRenamed("columnLineage", "column_lineage")
        .withColumnRenamed("eventTimeMs", "event_time_ms")
        .withColumnRenamed("partitionDay", "partition_day")
    }

    /** Persist partitioned by (partition_day, layer) — the reference's
      * lineage-table partition spec (lineage.py:170-193). */
    def persist(spark: SparkSession, path: String): Unit =
      toDF(spark).write.mode("append")
        .partitionBy("partition_day", "layer").parquet(path)
  }

  /** L3 at DATASET scale: the full transitive-reachability pair set over a
    * lineage edge frame — `(node, upstream)` for every table `upstream`
    * that `node` transitively depends on. The Tracker's driver BFS answers
    * one table at a time from in-process memory; this is the distributed
    * twin for a persisted lineage table too large (or too hot) for the
    * driver, and `upstream(t)` / downstream impact of `t` are selections
    * (`node = t` resp. `upstream = t`) of one materialized frame.
    *
    * PATH DOUBLING with SEMI-NAIVE (delta) rounds: the naive doubling
    * recurrence R ← R ∪ R∘R recombines EVERY pair of old paths each round
    * — its join output is the full composition multiset and its distinct
    * re-shuffles the whole accumulated closure every round. A pair new in
    * round k+1 must use at least one half discovered in round k (if both
    * halves were in R_{k-1}, their composition was already in R_k), so
    * each round composes only the FRONTIER against the closure:
    * R ← R ∪ ((Δ∘R ∪ R∘Δ) \ R), with Δ = that round's new pairs. The
    * per-round R_k sequence — and therefore the round count and the final
    * pair set — is IDENTICAL to the naive recurrence (pinned by
    * LineageSpec's randomized naive-vs-delta property), while the join
    * output and the distinct shrink from closure-sized to frontier-sized,
    * and AQE broadcasts the (shrinking) frontier instead of shuffling the
    * (growing) closure. Path length still doubles per round: a depth-D
    * graph closes in ⌈log2 D⌉ rounds (the q45 pointer-jumping posture; one
    * count action per round for the fixpoint test).
    * Cycles are safe: the pair set is finite and monotone, so the fixpoint
    * exists; a node in a cycle reports itself among its own upstreams —
    * the loud signal a lineage GRAPH should never contain one. */
  def reachabilityPairs(edges: DataFrame,
      srcCol: String = "source_table", dstCol: String = "target_table",
      maxRounds: Int = 30): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    var pairs = edges
      .select(col(dstCol).as("node"), col(srcCol).as("upstream"))
      .distinct()
      .localCheckpoint()
    var delta = pairs // Δ_0 = R_0: every seed pair is new
    var round = 0
    var grew = true
    while (grew && round < maxRounds) {
      round += 1
      // (Δ∘R) ∪ (R∘Δ): both directions are required — a new path's new
      // half can be either its front or its back half
      val closure = pairs
        .select(col("node").as("_mid"), col("upstream").as("_up"))
      val viaFront = delta.as("a").join(closure,
          col("a.upstream") === col("_mid"))
        .select(col("a.node").as("node"), col("_up").as("upstream"))
      val viaBack = pairs.as("a").join(
          delta.select(col("node").as("_mid"), col("upstream").as("_up")),
          col("a.upstream") === col("_mid"))
        .select(col("a.node").as("node"), col("_up").as("upstream"))
      // dropOriginConstraints: fromDataset leaves constraints referencing
      // pre-dedup attribute ids on this leaf (distinct + anti-join over
      // self-referencing checkpoints), and the next union over it would
      // throw `key not found` from constraint rewriting — see
      // GraftCheckpoint's scaladoc
      val fresh = org.apache.spark.sql.classic.GraftCheckpoint
        .dropOriginConstraints(
          viaFront.unionByName(viaBack).distinct()
            .join(pairs, Seq("node", "upstream"), "left_anti")
            .localCheckpoint(eager = false))
      // the ONE action of the round: materializes the lazy checkpoint
      val dn = fresh.count()
      grew = dn != 0L
      if (grew) {
        // checkpointed ∪ checkpointed keeps the plan 2 leaves deep per
        // round instead of accumulating a union tree across rounds
        pairs = pairs.unionByName(fresh).localCheckpoint(eager = false)
        delta = fresh
      }
    }
    if (grew)
      throw new IllegalStateException(
        s"reachabilityPairs did not converge in $maxRounds doubling rounds " +
          s"(depth > 2^$maxRounds or runaway growth)")
    pairs
  }
}
