package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-level grouping (ROLLUP / CUBE) with explicit grouping-set ids.
  *
  * The reference's gold layer materializes each rollup level as its own
  * aggregate table (daily/hourly/mart rollups, build_gold_layer.py); a
  * ROLLUP computes every level in ONE grouped aggregate, which is how a
  * 100 TB mart build should run: Catalyst expands the grouping sets and
  * Tungsten's partial (map-side) aggregation still applies per set, so the
  * whole hierarchy costs a single shuffle of the pre-aggregated partials
  * rather than one full pass per level.
  *
  * `gid` is the SQL-standard GROUPING_ID bitmask over the dims in the
  * given order (leftmost dim = most-significant bit; bit set = that dim is
  * rolled up / NULL in the output row). Spark's `grouping_id()` and
  * DuckDB's `GROUPING(...)` agree on this encoding, which is what the
  * oracle gate relies on. Dims must be null-free (true for every dim used
  * here) — otherwise a genuine NULL group is indistinguishable from a
  * subtotal row by value alone, and only `gid` disambiguates.
  *
  * Scale shape: output is Σ|level cardinalities| — dominated by the finest
  * level, identical to the plain groupBy the caller already runs. No extra
  * shuffle vs a single-level aggregate; strictly cheaper than N per-level
  * jobs re-reading the fact table N times.
  */
object Grouping {

  /** ROLLUP over `dims` (hierarchical prefixes: (a,b), (a), ()) with the
    * given aggregate measures; adds `gid`. */
  def rollupAgg(df: DataFrame, dims: Seq[String],
      measures: Seq[Column]): DataFrame =
    df.rollup(dims.map(col): _*)
      .agg(grouping_id().cast("long").as("gid"), measures: _*)

  /** CUBE over `dims` (all 2^n dim subsets) with the given measures;
    * adds `gid`. */
  def cubeAgg(df: DataFrame, dims: Seq[String],
      measures: Seq[Column]): DataFrame =
    df.cube(dims.map(col): _*)
      .agg(grouping_id().cast("long").as("gid"), measures: _*)

  /** PIVOT mart with a PINNED category list — the wide dashboard table
    * (one row per key, one column pair per category: `<cat>_n` count and
    * `<cat>_sum` integer-sum). The categories are an explicit argument,
    * not discovered from data, for three reasons: the output SCHEMA must
    * not depend on what a batch happens to contain (downstream tables
    * break when a category goes quiet), Spark skips its
    * collect-distinct-values pass when values are given (one job, not
    * two), and a cross-engine oracle needs a deterministic column set.
    * Rows whose category is outside the list are DROPPED and counted
    * nowhere — pass a catch-all category upstream if the tail matters.
    * Absent (key, category) cells emit 0, not null: the wide table's
    * contract is "a cell is a number".
    *
    * Scale shape: ONE grouped aggregate keyed by the row key —
    * conditional partials per category, map-side combined; no join, no
    * window, |categories|·2 columns. */
  def pivotMart(df: DataFrame, keyCol: String, catCol: String,
      valueCol: String, categories: Seq[String]): DataFrame = {
    require(categories.nonEmpty, "pivotMart needs at least one category")
    require(categories.distinct.size == categories.size,
      s"duplicate categories in ${categories.mkString(",")}")
    val aggs = categories.flatMap { c =>
      Seq(
        sum(when(col(catCol) === c, 1L).otherwise(0L)).as(s"${c}_n"),
        sum(when(col(catCol) === c,
          coalesce(col(valueCol).cast("long"), lit(0L)))
          .otherwise(0L)).as(s"${c}_sum"))
    }
    df.groupBy(col(keyCol))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** SHARE-OF-PARENT: sum `valueCol` (an exact integer measure) at the
    * (parent ++ child) grain and report each child's integer-e6 share of
    * its parent's total — the "percent of category" OLAP idiom (share of
    * a type's mass per day, of a domain's tokens per language, …) in one
    * grouped aggregate plus one window over the AGGREGATED frame (parent
    * totals never re-touch row data). share_e6 = child·1e6 div parent —
    * exact integer, no IEEE anywhere. Parents whose total is 0 report
    * null share (a 0/0 share is undefined, not 0). */
  def shareOfParent(df: DataFrame, parentCols: Seq[String],
      childCols: Seq[String], valueCol: String): DataFrame = {
    require(parentCols.nonEmpty && childCols.nonEmpty,
      "shareOfParent needs parent and child columns")
    val grain = (parentCols ++ childCols).map(col)
    val child = df.groupBy(grain: _*)
      .agg(sum(col(valueCol).cast("long")).as("child_total"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(parentCols.map(col): _*)
    child
      .withColumn("parent_total", sum(col("child_total")).over(w))
      .withColumn("share_e6",
        when(col("parent_total") =!= 0L,
          expr("child_total * 1000000L div parent_total")))
  }
}
