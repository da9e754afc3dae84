package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Edit-distance self-join without the quadratic cross product — the
  * entity-resolution / typo-clustering primitive (near-identical names,
  * IDs, titles) that a naive `levenshtein(a, b) <= 1` over all pairs makes
  * unrunnable past ~10^5 strings.
  *
  * Blocking scheme: FastSS deletion neighborhoods. For edit distance ≤ 1,
  * two strings s, t match only if they share a member of
  * {s} ∪ del1(s): equality shares s itself; a substitution at position i
  * means both sides' delete-position-i variants coincide; an insert/delete
  * means the shorter string IS a del1 variant of the longer (and is in its
  * own depth-0 set). So exploding each string into its (len+1)-sized key
  * set and equi-joining on the key finds every true pair; candidates are
  * then verified with the exact `levenshtein` (builtin, codegen'd), which
  * discards the scheme's false positives. Completeness is machine-checked:
  * the oracle for this operator is the full quadratic join, so a green
  * hash-compare proves no pair escapes the blocking.
  *
  * Scale shape: ~(avg_len+1)·n exploded keys, one keyed shuffle (the
  * `Blocking` posting lists), per-key fan-out bounded by block size. Like
  * every LSH-style blocker in this repo, hot keys are the failure mode —
  * `maxBlockSize` drops pathological blocks (e.g. the ""-key block of all
  * 1-char strings) WHOLE, inside the posting aggregate. The drop is silent
  * (forcing a count would bolt an extra action onto every call), and a
  * dropped block can hide true pairs. `maxBlockSize <= 0` disables the cap
  * entirely.
  */
object Fuzzy {

  /** (id, s, k) with one row per ≤`depth`-deletion-neighborhood key of s:
    * every string reachable by deleting up to `depth` (1 or 2) characters,
    * deduped — len+1 keys per row at depth 1, ≈ 1 + len + len²/2 at depth
    * 2 (the depth-1 transform applied to its own output, flattened).
    * fanOut: a single-file input plans as ONE scan task, and the explode
    * and the posting aggregate's partial side would fuse into that one
    * task (measured on the earlier join form: 4.4 s of q157's 7.2 s on
    * one core of 32). The conditional repartition spreads the per-row
    * work cluster-wide and is the identity on any already-parallel
    * input. */
  private def delKeys(df: DataFrame, idCol: String, strCol: String,
      depth: Int = 1): DataFrame = {
    // i = 0..len-1 deletes char i+1; i = len yields the string itself
    def del1(v: String, i: String) = s"transform(sequence(0, length($v)), " +
      s"$i -> concat(substring($v, 1, $i), substring($v, $i + 2)))"
    val keys = if (depth == 1) del1("s", "i")
      else s"flatten(transform(${del1("s", "i")}, t -> ${del1("t", "j")}))"
    Scale.fanOut(
      df.select(col(idCol).cast("long").as("id"), col(strCol).as("s")))
      .withColumn("k", explode(array_distinct(expr(keys))))
  }

  /** Drops from each of `sides` every deletion key held by more than
    * `maxBlockSize` rows across all sides combined — one broadcast
    * anti-join per side; `maxBlockSize <= 0` returns the sides unchanged. */
  private def dropHotBlocks(maxBlockSize: Int,
      sides: DataFrame*): Seq[DataFrame] =
    if (maxBlockSize <= 0) sides
    else {
      val hot = sides.map(_.select("k")).reduce(_ unionAll _)
        .groupBy("k").agg(count(lit(1)).as("__n"))
        .filter(col("__n") > maxBlockSize).select("k")
      sides.map(_.join(broadcast(hot), Seq("k"), "left_anti"))
    }

  /** The self-join kernel of [[editDistance1Join]] and
    * [[editDistance2Join]] over a deletion-key frame (id, s, k): all
    * unordered pairs (id_a < id_b) sharing a key whose strings are within
    * Levenshtein distance `maxDist` — the `Blocking` pairs of the capped
    * per-key (id, s) posting lists, so the key explode runs once with no
    * checkpoint, hot-block count or join.
    *
    * The bounded 3-arg `levenshtein` (it early-exits past the bound, -1
    * = over) verifies every candidate occurrence BEFORE the distinct, so
    * the distinct's shuffle carries only surviving (id, id, dist) triples
    * instead of every candidate with both strings aboard; a pair sharing
    * j keys is verified j times, which measured cheaper than shipping
    * the strings (SCALE.md). */
  private def selfJoin(keys: DataFrame, maxDist: Int,
      maxBlockSize: Int): DataFrame =
    Blocking.pairs(Blocking.postings(keys, Seq("k"),
        struct(col("id"), col("s")),
        if (maxBlockSize <= 0) Int.MaxValue else maxBlockSize))
      .select(col("id_a.id").as("id_a"), col("id_b.id").as("id_b"),
        levenshtein(col("id_a.s"), col("id_b.s"), maxDist).cast("long").as("dist"))
      .filter(col("id_a") < col("id_b") && col("dist") >= 0)
      .distinct()

  /** All unordered pairs (id_a < id_b) of rows whose `strCol` values are
    * within Levenshtein distance 1, with the distance: [[selfJoin]] over
    * the (len+1)-key depth-1 [[delKeys]] neighborhoods. */
  def editDistance1Join(df: DataFrame, idCol: String, strCol: String,
      maxBlockSize: Int = 1000): DataFrame =
    selfJoin(delKeys(df, idCol, strCol), 1, maxBlockSize)

  /** [[editDistance1Join]] widened to Levenshtein distance ≤ 2 — the
    * fat-finger tier real name/title data needs (two typos, a swapped
    * pair of characters, one typo + one truncation). Same FastSS
    * argument one level deeper: ed(s,t) ≤ 2 ⇒ the ≤2-deletion
    * neighborhoods of s and t intersect, so [[selfJoin]] over the
    * ~len²/2-key depth-2 [[delKeys]] explode finds every true pair and the
    * bounded `levenshtein(_, _, 2)` discards the blocking's false
    * positives. The oracle is again the full quadratic join — a green
    * hash proves zero pairs lost to blocking at this depth too.
    *
    * Costs ~len/2× more exploded keys and a denser candidate set than
    * the ed≤1 form — the price of the wider radius, still nowhere near
    * quadratic. Same silent in-plan hot-block cap. */
  def editDistance2Join(df: DataFrame, idCol: String, strCol: String,
      maxBlockSize: Int = 1000): DataFrame =
    selfJoin(delKeys(df, idCol, strCol, depth = 2), 2, maxBlockSize)

  /** Cross-TABLE record linkage: (left_id, right_id, dist) for every pair
    * within Levenshtein distance 1 — match a dirty fact-side string column
    * (scraped names, typo'd titles) against a canonical dimension without
    * the |L|×|R| cross product. Same deletion-neighborhood blocking and
    * the same completeness argument as [[editDistance1Join]] (the
    * substitution/indel/equality cases never relied on self-joining); the
    * hot-block cap ([[dropHotBlocks]]) applies to the COMBINED per-key
    * frequency, and candidates are verified before the distinct, as in
    * [[selfJoin]]. Kept a two-sided join, not `Blocking` posting lists:
    * FuzzySpec pins this plan's two anti-joins. */
  def editDistance1JoinBetween(left: DataFrame, leftId: String,
      leftStr: String, right: DataFrame, rightId: String, rightStr: String,
      maxBlockSize: Int = 1000): DataFrame = {
    val Seq(lc, rc) = dropHotBlocks(maxBlockSize,
      delKeys(left, leftId, leftStr), delKeys(right, rightId, rightStr))
    lc.as("a").join(rc.as("b"), col("a.k") === col("b.k"))
      .select(col("a.id").as("left_id"), col("b.id").as("right_id"),
        levenshtein(col("a.s"), col("b.s"), 1).cast("long").as("dist"))
      .filter(col("dist") >= 0)
      .distinct()
  }
}
