package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale operators beyond broadcast hints: conditional fan-out of
  * low-parallelism inputs, the key-skew profile that sizes a salted join
  * ([[Joins.saltedJoin]]), and z-order / data-skipping layout reports.
  */
object Scale {

  /** Scale-adaptive FAN-OUT for CPU-dense row-local pipelines that follow
    * a low-parallelism scan — the guide's "input skew: one huge
    * unsplittable file … repartition immediately after the read" remedy,
    * made CONDITIONAL so it is the identity exactly when a real cluster
    * input makes it pointless. A single-file / single-row-group parquet
    * (or a gzip part) plans into fewer scan partitions than the session
    * has cores, and the row-local work stacked on it (shingling,
    * deletion-neighborhood explodes, winnow fingerprinting, media decode)
    * then runs on ONE task while the rest of the cluster idles. When the
    * planned partition count is below the session's default parallelism,
    * repartition round-robin up to it (one exchange of the raw input —
    * cheap next to the per-row compute it parallelizes, and deterministic:
    * Spark's sort-before-repartition contract); when the input is already
    * at least core-parallel — every healthy multi-file table at any
    * scale — NO exchange is added and the plan is unchanged.
    *
    * Projections and explodes written above the fan-out run wide; filters
    * do not. Catalyst pushes every deterministic FILTER through the
    * repartition, so a filter written above `fanOut` — and a not-null
    * filter a later join infers — runs below the exchange, in the narrow
    * scan stage (ScaleSpec pins this). To spread filter-heavy row-local
    * work, materialize the input first (as `Curation.curate` does for its
    * dedup input). */
  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Key-skew profiler — the measurement that decides between a plain
    * shuffle join, AQE skew-split, and [[Joins.saltedJoin]] (and sizes
    * the salt): the top-`topK` heaviest keys of a prospective join/groupBy
    * key, each with its exact row count, micro-unit share of the table, the
    * global max-over-avg skew ratio, and the salt factor that would cap the
    * hottest key at `targetPartitionRows` rows per task. Run it on a
    * sample or the full table BEFORE committing a 100 TB job to a key
    * that holds a partition-sized share of the rows.
    *
    * Scale shape: ONE grouped count over the data (map-side partials);
    * everything after lives in KEY space — the top-k is orderBy+limit
    * (TakeOrderedAndProject, never a global sort), the rank window runs
    * over the ≤topK surviving rows, and the 1-row summary broadcasts.
    * Null keys count like any other key (they hash to one partition in a
    * real join — exactly the skew this report exists to surface).
    *
    * Determinism: counts are exact longs; shares and ratios are
    * floor-division micro-units; ties rank by key ascending (nulls
    * first, Spark's asc order — the oracle replays NULLS FIRST). */
  def keySkewProfile(df: DataFrame, keyCols: Seq[String], topK: Int,
      targetPartitionRows: Long = 10000000L): DataFrame = {
    require(keyCols.nonEmpty && topK >= 1 && targetPartitionRows >= 1,
      s"bad keySkewProfile params: keys=$keyCols topK=$topK target=$targetPartitionRows")
    val counts = df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("cnt"))
    val summary = counts.agg(sum(col("cnt")).as("n_rows"),
      count(lit(1)).as("n_keys"), max(col("cnt")).as("max_cnt"))
    val order = col("cnt").desc +: keyCols.map(col(_).asc)
    val w = org.apache.spark.sql.expressions.Window.orderBy(order: _*)
    counts.orderBy(order: _*).limit(topK)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .crossJoin(broadcast(summary))
      .withColumn("share_e6", expr("cnt * 1000000L div n_rows"))
      .withColumn("skew_ratio_e6", expr("max_cnt * n_keys * 1000000L div n_rows"))
      .withColumn("salt_factor",
        expr(s"(max_cnt + ${targetPartitionRows - 1}L) div ${targetPartitionRows}L"))
      .select(keyCols.map(col) ++ Seq(col("rnk"), col("cnt"), col("share_e6"),
        col("n_rows"), col("n_keys"), col("skew_ratio_e6"),
        col("salt_factor")): _*)
  }

  /** 2-D Morton (z-order) key: interleaves the low `bits` bits of two
    * non-negative integer columns (x in the even positions, y odd) via the
    * classic magic-mask bit spread — pure integer &/|/<< arithmetic, so
    * the key is bit-identical on any engine. Sorting or range-partitioning
    * a table by this key clusters rows that are close in BOTH dimensions
    * into the same file, so min/max file statistics prune scans for
    * predicates on EITHER column — the multi-dimensional layout story a
    * single-column sort can't give at 100 TB (a table sorted by x alone
    * scatters every y range across all files). Prefix cells of the key
    * (`zorderCell`) are exactly quadtree tiles: `zkey >> (2·(bits − L))`
    * is the level-L tile containing the row.
    *
    * Contract: both inputs must lie in [0, 2^bits) with bits ≤ 31 — out of
    * range would silently interleave garbage, so callers clamp or shift
    * first (scaling values into the range is part of layout design, not
    * hidden here). Inputs are validated row-locally and raise on
    * violation. */
  def zorderKey2(x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column, bits: Int): org.apache.spark.sql.Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val lim = 1L << bits
    val guard = (c: org.apache.spark.sql.Column) =>
      when(c.isNull || c < 0 || c >= lim,
        raise_error(concat(lit(s"zorderKey2: input out of [0, $lim): "),
          c.cast("string")))).otherwise(c.cast("long"))
    spread(guard(x)).bitwiseOR(shiftleft(spread(guard(y)), 1))
  }

  /** Spread a 31-bit value's bits into the even positions of a long:
    * the standard mask cascade (each step doubles the gap). */
  private def spread(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val m = Seq(
      0x0000ffff0000ffffL -> 16, 0x00ff00ff00ff00ffL -> 8,
      0x0f0f0f0f0f0f0f0fL -> 4, 0x3333333333333333L -> 2,
      0x5555555555555555L -> 1)
    m.foldLeft(c) { case (v, (mask, s)) =>
      v.bitwiseOR(shiftleft(v, s)).bitwiseAND(lit(mask))
    }
  }

  /** The level-`level` quadtree tile of a z-order key built with `bits`:
    * the key's top 2·level bits. Rows sharing a tile are within the same
    * 2^(bits−level)-sized square in BOTH dimensions. */
  def zorderCell(zkey: org.apache.spark.sql.Column, bits: Int,
      level: Int): org.apache.spark.sql.Column = {
    require(level >= 1 && level <= bits, s"level must be in [1,$bits], got $level")
    shiftright(zkey, 2 * (bits - level))
  }

  /** Layout-quality report for a prospective z-order: per level-`level`
    * tile, the row count and both dimensions' min/max — the bounds a
    * file-level min/max statistic would carry if files were cut on tile
    * boundaries. Tight per-tile ranges on BOTH columns are the evidence
    * that scans filtered on either one prune. Summary-sized output
    * (≤ 4^level rows) off one grouped pass. */
  def zorderLayoutReport(df: DataFrame, xCol: String, yCol: String,
      bits: Int, level: Int): DataFrame =
    df.withColumn("zkey", zorderKey2(col(xCol), col(yCol), bits))
      .withColumn("cell", zorderCell(col("zkey"), bits, level))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_rows"),
        min(col(xCol)).as("x_min"), max(col(xCol)).as("x_max"),
        min(col(yCol)).as("y_min"), max(col(yCol)).as("y_max"),
        min(col("zkey")).as("z_min"), max(col("zkey")).as("z_max"))

  /** Data-skipping report — QUANTIFIES how well a physical layout prunes:
    * group rows by the layout unit (`unitCol` — a partition key, a z-order
    * tile, a file id), collect each unit's min/max of the predicate column
    * (exactly the footer statistics a parquet scan consults), and mark
    * which units a range predicate [lo, hi] could skip (stats window
    * disjoint from the range). The summary row a layout decision needs:
    * skipped units and skipped ROW mass, up front.
    *
    * This is the measurement behind every "partition pruning / z-order /
    * file skipping" claim: a layout where `skipped_rows`/`total_rows` ≈ 0
    * for the hot predicates is a layout that scans everything at 100 TB
    * no matter what the query asks. Compare a time-sorted vs a z-ordered
    * `unitCol` on the same predicate to see the difference as numbers.
    *
    * Scale: one keyed aggregate to \|units\| rows, then a \|units\|-space
    * rollup to ONE row. Nulls in `valueCol` never make a unit skippable
    * (min/max ignore them but a scan must still read the rows): a unit
    * whose stats are entirely null counts unskippable, like parquet. */
  def skippingReport(df: DataFrame, unitCol: org.apache.spark.sql.Column,
      valueCol: org.apache.spark.sql.Column, lo: Long, hi: Long): DataFrame = {
    require(lo <= hi, s"need lo <= hi, got [$lo, $hi]")
    val units = df.groupBy(unitCol.as("unit"))
      .agg(count(lit(1)).as("n_rows"),
        min(valueCol).as("v_min"), max(valueCol).as("v_max"))
    val skippable = col("v_min").isNotNull &&
      (col("v_max") < lit(lo) || col("v_min") > lit(hi))
    units.agg(
      count(lit(1)).as("n_units"),
      sum(when(skippable, 1L).otherwise(0L)).as("skipped_units"),
      sum(col("n_rows")).as("total_rows"),
      sum(when(skippable, col("n_rows")).otherwise(0L)).as("skipped_rows"))
      .withColumn("skip_e6",
        expr("skipped_rows * 1000000L div total_rows"))
  }
}
