package graft.maintenance

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) data layout — the multi-dimensional clustering
  * trick behind Delta/Iceberg `OPTIMIZE ZORDER BY`: interleaving the bits
  * of two sort keys makes rows that are close in EITHER dimension land in
  * the same file, so min/max file statistics prune scans filtered on
  * either column (a plain sort on (x, y) prunes only x). No table-format
  * jar is needed for the core idea: the curve value is pure integer
  * arithmetic, and parquet row-group stats do the skipping.
  *
  * Everything here is exact integer bit algebra (shift/and/or — the
  * classic magic-mask bit spreading), fully codegen'd, and replayable in
  * any engine — the cell-stats report hash-compares against a SQL oracle
  * running the identical mask chain.
  */
object Layout {

  private val masks = Seq(
    (16, 0x0000FFFF0000FFFFL),
    (8, 0x00FF00FF00FF00FFL),
    (4, 0x0F0F0F0F0F0F0F0FL),
    (2, 0x3333333333333333L),
    (1, 0x5555555555555555L))

  /** Spread the low 31 bits of a non-negative long so bit i lands at
    * position 2i — half of a Morton interleave. */
  private def spread(v: Column): Column =
    masks.foldLeft(v) { case (c, (s, m)) =>
      (c.bitwiseOR(shiftleft(c, s))).bitwiseAND(lit(m))
    }

  /** The Morton code of two non-negative ints (each < 2³¹): x's bits on
    * even positions, y's on odd — a 62-bit z-value, always positive.
    * Negative or ≥ 2³¹ inputs make the interleave collide or overflow
    * sign; nulls propagate to a null z (callers filter or fail loudly). */
  def zValue(x: Column, y: Column): Column = {
    val checked = (v: Column) =>
      when(v.cast("long") < 0L || v.cast("long") >= (1L << 31),
        raise_error(concat(lit("zValue input out of [0, 2^31): "),
          v.cast("string"))))
        .otherwise(v.cast("long"))
    spread(checked(x)).bitwiseOR(shiftleft(spread(checked(y)), 1))
  }

  /** Locality report: rows grouped by their z-curve CELL (the z-value
    * with `cellShift` low bits dropped — a quadtree cell of side
    * 2^(cellShift/2) in each dimension), with per-cell row counts and
    * min/max of both dimensions. The per-cell (max−min) spans are the
    * file-skipping evidence: under z-order every cell's span in BOTH
    * dimensions is bounded by the cell side, where a 1-D sort leaves the
    * second dimension's span at full range. Exact integers throughout.
    *
    * Scale shape: one row-local projection + ONE grouped aggregate keyed
    * by cell — partial-aggregating, key space bounded by the occupied
    * cells, no sort or window at any size. */
  def zCellStats(df: DataFrame, xCol: String, yCol: String,
      cellShift: Int): DataFrame = {
    require(cellShift >= 0 && cellShift <= 61,
      s"cellShift must be in [0, 61], got $cellShift")
    df.select(col(xCol).cast("long").as("x"),
        col(yCol).cast("long").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      .withColumn("cell",
        shiftright(zValue(col("x"), col("y")), cellShift))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"),
        min("x").as("min_x"), max("x").as("max_x"),
        min("y").as("min_y"), max("y").as("max_y"))
      .select(col("cell"), col("n"),
        col("min_x"), col("max_x"), col("min_y"), col("max_y"),
        (col("max_x") - col("min_x")).as("span_x"),
        (col("max_y") - col("min_y")).as("span_y"))
  }

  /** Rendezvous (highest-random-weight) shard of `keyCol` into
    * `nShards`: shard = argmax over s ∈ [0, n) of the 60-bit md5-prefix
    * hash of "key#s" (Thaler–Ravishankar 1998). Unlike `key mod n`,
    * GROWING the shard count moves only the keys whose new argmax is one
    * of the NEW shards — an expected (new−old)/new fraction, the minimal
    * possible movement — which is what a 100 TB bucketed layout needs
    * when it re-tiers (mod-n resharding moves (n−1)/n of EVERYTHING).
    * Row-local (n md5s per row, no shuffle), deterministic, and
    * replayable: ties (astronomically unlikely 60-bit equality) break to
    * the higher shard id via the struct max. Null keys raise: a silently
    * co-sharded null class is a skew bomb. */
  def rendezvousShard(keyCol: Column, nShards: Int): Column = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val key = when(keyCol.isNull,
      raise_error(lit("rendezvousShard: null key")))
      .otherwise(keyCol.cast("string"))
    val arr = transform(sequence(lit(0), lit(nShards - 1)), s =>
      struct(
        conv(substring(md5(concat(key, lit("#"), s.cast("string"))),
          1, 15), 16, 10).cast("long").as("w"),
        s.cast("long").as("s")))
    array_max(arr).getField("s")
  }

  /** Resharding movement report: every (shard-under-`nFrom` →
    * shard-under-`nTo`) cell with its key count — the migration plan AND
    * the minimal-movement evidence (all moved mass lands on the added
    * shards when growing; unmoved cells sit on the diagonal). One
    * row-local projection + one grouped aggregate. */
  def reshardReport(df: DataFrame, keyCol: String, nFrom: Int,
      nTo: Int): DataFrame =
    df.select(
        rendezvousShard(col(keyCol), nFrom).as("shard_from"),
        rendezvousShard(col(keyCol), nTo).as("shard_to"))
      .groupBy("shard_from", "shard_to")
      .agg(count(lit(1)).as("n_keys"))
}
