package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** K-Minimum-Values distinct sketches over the repo's one hash
  * convention — the REPLAYABLE approximate-distinct surface, sibling to
  * the HLL trackers in [[Sketches]].
  *
  * The whole point of this module vs `Sketches.distinctSketches`: every
  * number it emits is a deterministic function of the input SET (md5 is
  * the hash, bottom-k is the state, one documented IEEE dag is the
  * estimator), so the DuckDB oracle replays estimates, Jaccards and
  * intersection counts exactly — approximate ≠ unauditable. HLL stays
  * the better-error-constant choice when replayability isn't needed.
  *
  * Hash: first 15 hex chars of md5(value-as-string) → a uniform 60-bit
  * non-negative BIGINT (the q64/q194 md5-prefix convention; 15 chars
  * keeps the signed-long headroom). Estimator: with h₍ₖ₎ the k-th
  * smallest distinct hash, est = round((k−1)·2⁶⁰ / h₍ₖ₎); a sketch that
  * never filled IS the distinct set, so est = |sketch| exactly.
  *
  * Scale shape: one partial/final aggregate pair, ≤ k longs of state
  * per (task × group), no row-grain shuffle; sketches merge across
  * batches ([[foldSketches]]) and across engines without rescanning
  * history — the q132/q233 incremental posture applied to cardinality.
  */
object Kmv {

  /** 2⁶⁰ as an exactly-representable double — the estimator's hash-space
    * size. */
  private val HashSpace = 1152921504606846976.0

  /** The documented 60-bit hash of any column's string form. */
  def hash60(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** Bottom-k distinct sketch of `itemCol` per group (ascending BIGINT
    * array, ≤ k elements), via the native `kmv_sketch` aggregate. */
  def sketches(df: DataFrame, groupCols: Seq[String], itemCol: String,
      k: Int): DataFrame =
    df.filter(col(itemCol).isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(call_function("kmv_sketch", hash60(col(itemCol)), lit(k))
        .as("kmv"))

  /** Estimate ceiling: 10¹⁴ distinct. Far above any real per-group
    * cardinality, yet small enough that every downstream integer dag
    * (err_e6, est_inter, est_only_*) stays inside BIGINT — the h₍ₖ₎→0
    * pathology (corrupt sketch, adversarial input) degrades to a huge
    *-but-finite number instead of an engine-divergent Infinity cast. */
  private val EstCeiling = 1.0e14

  /** The KMV estimator over a sketch array: exact while the sketch
    * never filled, (k−1)·2⁶⁰/h₍ₖ₎ once it did — ONE fixed IEEE dag
    * (long → double divide → round → clamp) so engines agree
    * bit-for-bit. h₍ₖ₎ is floored at 1 (hash60 is non-negative; a 0
    * minimum would otherwise put ±Infinity into a BIGINT cast, where
    * engines disagree) and the estimate capped at [[EstCeiling]]. */
  def estimate(sketch: Column, k: Int): Column =
    when(size(sketch) < k, size(sketch).cast("long"))
      .otherwise(least(round(lit((k - 1).toDouble * HashSpace) /
        greatest(element_at(sketch, k), lit(1L)).cast("double")),
        lit(EstCeiling)).cast("long"))

  /** Per-group distinct report: the sketch estimate next to the exact
    * count and the resulting signed error in micro-units — the
    * trust-but-verify row a 100 TB deployment samples, never computes
    * in full. */
  def distinctReport(df: DataFrame, groupCols: Seq[String],
      itemCol: String, k: Int): DataFrame = {
    val gc = groupCols.map(col)
    df.filter(col(itemCol).isNotNull)
      .groupBy(gc: _*)
      .agg(
        countDistinct(col(itemCol)).as("n_exact"),
        call_function("kmv_sketch", hash60(col(itemCol)), lit(k)).as("__sk"))
      .select(gc ++ Seq(
        col("n_exact"),
        size(col("__sk")).cast("long").as("k_used"),
        estimate(col("__sk"), k).as("est_kmv")): _*)
      // signed relative error, sign-factored so trunc-div (Spark) and
      // floor-div (DuckDB) agree on negatives (the q216 convention).
      // The |diff| is clamped at 1000·n_exact (err_e6 ceiling 10⁹ —
      // anything past 1000× relative error is equally "broken") and the
      // ·10⁶ scale applied via a quotient/remainder split, so no
      // intermediate exceeds BIGINT for any n_exact < ~9·10¹².
      .withColumn("err_e6",
        expr("CASE WHEN est_kmv >= n_exact THEN 1 ELSE -1 END * " +
          "((least(abs(est_kmv - n_exact), n_exact * 1000) div n_exact)" +
          " * 1000000 + " +
          "(least(abs(est_kmv - n_exact), n_exact * 1000) % n_exact)" +
          " * 1000000 div n_exact)"))
  }

  /** Pairwise set-overlap estimates between the per-`typeCol` item sets,
    * entirely from sketches: merged bottom-k of the union, Jaccard =
    * |merged ∩ S_a ∩ S_b| / |merged| (Beyer et al. 2007), intersection
    * = jaccard · est(union). No exact pass anywhere — this is the form
    * that still runs when per-type audiences are 10⁹ — yet every column
    * hash-compares against the SQL replay. Pairs whose sketches share
    * no hash report jaccard 0 (they still appear: absence would hide
    * disjointness from the dashboard).
    *
    * Set DIFFERENCES come from the same merged bottom-k, theta-sketch
    * style (the merged sketch is a uniform sample of the union, so each
    * region's share of it estimates that region's share of the union):
    * est_only_a = |merged ∩ A∖B| · est_union / k_used, likewise
    * est_only_b — the "users who viewed but never purchased" question,
    * answered from sketches alone. n_inter_k + n_only_a + n_only_b =
    * k_used by construction (every merged hash came from A or B). */
  def overlapReport(df: DataFrame, typeCol: String, itemCol: String,
      k: Int): DataFrame = {
    val sk = sketches(df, Seq(typeCol), itemCol, k)
    val a = sk.select(col(typeCol).as("type_a"), col("kmv").as("sk_a"))
    val b = sk.select(col(typeCol).as("type_b"), col("kmv").as("sk_b"))
    overlapFromSketchPairs(a.join(b, col("type_a") < col("type_b")), k)
  }

  /** [[overlapReport]] ACROSS two corpora: every (group-of-A ×
    * group-of-B) pair's overlap/Jaccard/differences, entirely from each
    * side's sketches — the "which training domain overlaps which eval
    * suite" decontamination dashboard at sketch cost (each corpus pays
    * one aggregate; the pair stage is (|A groups| × |B groups|) rows of
    * ≤ 2k longs, never row data). Same estimators as [[overlapReport]],
    * same bit-for-bit replay. */
  def crossOverlapReport(dfA: DataFrame, typeColA: String,
      itemColA: String, dfB: DataFrame, typeColB: String,
      itemColB: String, k: Int): DataFrame = {
    val a = sketches(dfA, Seq(typeColA), itemColA, k)
      .select(col(typeColA).as("type_a"), col("kmv").as("sk_a"))
    val b = sketches(dfB, Seq(typeColB), itemColB, k)
      .select(col(typeColB).as("type_b"), col("kmv").as("sk_b"))
    overlapFromSketchPairs(a.crossJoin(b), k)
  }

  /** Directional CONTAINMENT between two corpora's per-group item sets,
    * from sketches alone: cont_a_in_b = |A∩B| / |A| (and the mirror) —
    * the decontamination metric proper (an eval suite 90% contained in
    * a training domain is a leak even when the Jaccard is tiny because
    * the training side is huge). Intersection from the merged-bottom-k
    * theta sample, each denominator from that side's own sketch; the
    * 10⁶ scale applied via the two-stage quotient/remainder split
    * (denominators are ESTIMATES, up to the 10¹⁴ ceiling — a single
    * remainder·10⁶ would overflow BIGINT; fraction exact to 10⁻³, so
    * read cont_*_e6 as millionths with 10⁻³ resolution, not 10⁻⁶).
    *
    * cont_*_e6 CAN legitimately exceed 1 000 000: est_inter and the
    * denominator are independent estimates, so noise can put the ratio
    * above 1. The ratio is clamped at 1000× the denominator (the err_e6
    * ceiling convention — anything past 1000× is equally "broken"),
    * which also keeps every intermediate inside BIGINT for EVERY k ≥ 2
    * (an unclamped quotient at the 10¹⁴ EstCeiling would overflow the
    * ·10⁶ product once k_used < ~11). */
  def containmentReport(dfA: DataFrame, typeColA: String,
      itemColA: String, dfB: DataFrame, typeColB: String,
      itemColB: String, k: Int): DataFrame = {
    val a = sketches(dfA, Seq(typeColA), itemColA, k)
      .select(col(typeColA).as("type_a"), col("kmv").as("sk_a"))
    val b = sketches(dfB, Seq(typeColB), itemColB, k)
      .select(col(typeColB).as("type_b"), col("kmv").as("sk_b"))
    // clamp BEFORE the split: num ≤ denom·1000 ≤ 10¹⁷, quotient ≤ 1000
    // → ·10⁶ ≤ 10⁹, remainder < denom ≤ 10¹⁴ → ·10³ ≤ 10¹⁷ — every
    // intermediate BIGINT-safe regardless of k (ADVICE r18).
    def contE6(denom: String): Column = expr(
      s"(least(est_inter, greatest($denom, 1) * 1000)" +
        s" div greatest($denom, 1)) * 1000000 + " +
        s"((least(est_inter, greatest($denom, 1) * 1000)" +
        s" % greatest($denom, 1)) * 1000" +
        s" div greatest($denom, 1)) * 1000")
    a.crossJoin(b)
      .withColumn("__all", array_sort(array_distinct(
        concat(col("sk_a"), col("sk_b")))))
      .withColumn("__merged", slice(col("__all"), 1, k))
      .withColumn("k_used", size(col("__merged")).cast("long"))
      .withColumn("n_inter_k", size(array_intersect(
        array_intersect(col("__merged"), col("sk_a")), col("sk_b")))
        .cast("long"))
      .withColumn("est_a", estimate(col("sk_a"), k))
      .withColumn("est_b", estimate(col("sk_b"), k))
      .withColumn("__est_union", estimate(col("__all"), k))
      .withColumn("est_inter",
        expr("n_inter_k * __est_union div greatest(k_used, 1)"))
      .withColumn("cont_a_in_b_e6", contE6("est_a"))
      .withColumn("cont_b_in_a_e6", contE6("est_b"))
      .select(col("type_a"), col("type_b"), col("k_used"),
        col("n_inter_k"), col("est_a"), col("est_b"), col("est_inter"),
        col("cont_a_in_b_e6"), col("cont_b_in_a_e6"))
  }

  /** Day-over-day overlap between CONSECUTIVE `dayCol` values' item
    * sets — the churn decomposition from sketches: per (d, d+1) pair,
    * est_inter = retained, est_only_a = churned (active on d, gone on
    * d+1), est_only_b = new. One daily sketch mart, one self-join on
    * the day lattice (days×2k longs), the same theta math and replay
    * as [[overlapReport]]. Days with no successor emit nothing. */
  def consecutiveOverlap(df: DataFrame, dayCol: String, itemCol: String,
      k: Int): DataFrame = {
    // the (d, d+1) lattice is built by integer arithmetic on dayCol; a
    // date/string column would cast to NULL under non-ANSI semantics and
    // silently emit ZERO pairs — fail loudly at plan time instead
    // (the rendezvousShard null-key convention, ADVICE r18)
    df.schema(dayCol).dataType match {
      case LongType | IntegerType | ShortType | ByteType => ()
      case other => throw new IllegalArgumentException(
        s"consecutiveOverlap: dayCol '$dayCol' must be integral " +
          s"(epoch-day), got ${other.simpleString} - cast dates to " +
          "epoch-days upstream; a lossy cast would silently emit no pairs")
    }
    val daily = sketches(df, Seq(dayCol), itemCol, k)
    val a = daily.select(col(dayCol).cast("long").as("type_a"),
      col("kmv").as("sk_a"))
    val b = daily.select((col(dayCol).cast("long") - 1L).as("__prev"),
      col(dayCol).cast("long").as("type_b"), col("kmv").as("sk_b"))
    overlapFromSketchPairs(
      a.join(b, col("type_a") === col("__prev")).drop("__prev"), k)
  }

  /** The shared theta math over (type_a, type_b, sk_a, sk_b) pairs. */
  private def overlapFromSketchPairs(pairs: DataFrame, k: Int): DataFrame =
    pairs
      .withColumn("__all", array_sort(array_distinct(
        concat(col("sk_a"), col("sk_b")))))
      .withColumn("__merged", slice(col("__all"), 1, k))
      .withColumn("k_used", size(col("__merged")).cast("long"))
      .withColumn("n_inter_k", size(array_intersect(
        array_intersect(col("__merged"), col("sk_a")), col("sk_b")))
        .cast("long"))
      .withColumn("n_only_a", size(array_except(
        array_intersect(col("__merged"), col("sk_a")), col("sk_b")))
        .cast("long"))
      .withColumn("n_only_b", size(array_except(
        array_intersect(col("__merged"), col("sk_b")), col("sk_a")))
        .cast("long"))
      .withColumn("est_union", estimate(col("__all"), k))
      .select(col("type_a"), col("type_b"), col("k_used"),
        col("n_inter_k"),
        expr("n_inter_k * 1000000 div greatest(k_used, 1)").as("jaccard_e6"),
        col("est_union"),
        expr("n_inter_k * est_union div greatest(k_used, 1)").as("est_inter"),
        expr("n_only_a * est_union div greatest(k_used, 1)").as("est_only_a"),
        expr("n_only_b * est_union div greatest(k_used, 1)").as("est_only_b"))

  /** Rolling / cumulative distinct counts from DAILY sketches: the raw
    * data reduces once to one ≤ k-long sketch per `dayCol` value, then
    * every (day × window-day) pair is pure array re-aggregation over a
    * frame of days×k longs — the q173 rolling-actives question answered
    * with hash-replayable numbers instead of HLL's within-band booleans.
    * Correctness is structural: bottom-k of a union of per-day bottom-ks
    * IS the window's bottom-k, so the fold equals the sketch of the raw
    * window (the oracle computes the latter; they hash-compare).
    * `windowDays` > 0 gives a trailing window (7 = weekly actives);
    * 0 gives the cumulative distinct-to-date growth curve.
    *
    * Scale: the only row-grain pass is the daily [[sketches]] aggregate;
    * the window join is broadcast over the tiny day list. */
  def rollingDistinct(df: DataFrame, dayCol: String, itemCol: String,
      k: Int, windowDays: Int = 0): DataFrame =
    rollingDistinctBy(df, Nil, dayCol, itemCol, k, windowDays)

  /** [[rollingDistinct]] per group — "weekly actives per event type"
    * from the same per-(group, day) sketch mart. The day list stays a
    * single broadcast (days are global); the re-aggregation keys on
    * (group, window-day), so state is ≤ groups × days × k longs.
    *
    * Contract on `windowDays = 0` (cumulative mode): the growth curve
    * re-aggregates O(days²/2) (day × window-day) sketch pairs — harmless
    * at DAY granularity (years ≈ 10³ days → ~10⁵ pairs of ≤ k longs) but
    * quadratic, so key cumulative curves by day, not by hour/minute; the
    * trailing-window mode stays bounded at days × windowDays pairs. */
  def rollingDistinctBy(df: DataFrame, groupCols: Seq[String],
      dayCol: String, itemCol: String, k: Int,
      windowDays: Int = 0): DataFrame = {
    val daily = sketches(df, groupCols :+ dayCol, itemCol, k)
    val days = daily.select(col(dayCol).as("__d")).distinct()
    val cond =
      if (windowDays > 0)
        col(dayCol) <= col("__d") &&
          col(dayCol) > col("__d") - lit(windowDays.toLong)
      else col(dayCol) <= col("__d")
    daily.join(broadcast(days), cond)
      .select(groupCols.map(col) ++ Seq(col("__d"),
        explode(col("kmv")).as("__hv")): _*)
      .groupBy(groupCols.map(col) :+ col("__d"): _*)
      .agg(call_function("kmv_sketch", col("__hv"), lit(k)).as("kmv"))
      .select(groupCols.map(col) ++ Seq(col("__d").as(dayCol),
        size(col("kmv")).cast("long").as("k_used"),
        estimate(col("kmv"), k).as("est_kmv")): _*)
  }

  /** MASS-WEIGHTED overlap between per-type item sets — "what fraction
    * of A's TOKEN MASS is carried by items shared with B", not "how
    * many distinct items are shared": two corpora can have tiny
    * item-Jaccard yet share the heavy head of their token distributions
    * (or the reverse — a long shared tail that carries no mass).
    *
    * Machinery: one row-grain pass builds the per-(type, item) mass
    * m = Σ `massCol`; a `kmv_values` sketch keeps each type's bottom-k
    * item hashes WITH their masses (≤ k pairs of state), plus the exact
    * total mass. Per pair, the merged bottom-k is a uniform sample of
    * the union; the mass share is the RATIO of two sample sums over
    * that one sample —
    *   mass_share_a_inter = Σ m_a over (merged ∩ A ∩ B)
    *                      / Σ m_a over (merged ∩ A)
    * — which estimates mass_a(A∩B)/mass_a(A) with the est_union scale
    * factor cancelled (a ratio estimator, bias O(1/k)), so every
    * intermediate stays a bounded BIGINT (a sample mass sum is ≤ k
    * per-item masses and is multiplied by 10⁶, so it must fit int64:
    * keep per-item masses ≲ 9·10¹²/k — ≈ 9·10⁹ at k = 1024, ≈ 10¹¹ at
    * k = 64; beyond that Spark (non-ANSI) would wrap silently while the
    * DuckDB replay errors). The unweighted
    * jaccard_e6/est_union ride along for contrast; everything replays
    * bit-for-bit in the oracle. */
  def weightedOverlapReport(df: DataFrame, typeCol: String,
      itemCol: String, massCol: String, k: Int): DataFrame = {
    val sk = weightedSketches(df, typeCol, itemCol, massCol, k)
    val a = sk.select(col(typeCol).as("type_a"), col("kmvv").as("ska"),
      col("mass_total").as("mass_a_total"))
    val b = sk.select(col(typeCol).as("type_b"), col("kmvv").as("skb"),
      col("mass_total").as("mass_b_total"))
    weightedOverlapFromSketchPairs(
      a.join(b, col("type_a") < col("type_b")), k)
  }

  /** [[weightedOverlapReport]] ACROSS two corpora — the token-MASS
    * decontamination dashboard: every (A-group × B-group) pair's mass
    * shares from each side's (hash, mass) sketches alone ("what share
    * of this eval suite's token mass is vocabulary the training domain
    * also carries"). Each corpus pays one count pass + one sketch
    * aggregate; the pair stage is (|A| × |B|) rows of ≤ 2k pairs. */
  def weightedCrossOverlapReport(dfA: DataFrame, typeColA: String,
      itemColA: String, massColA: String, dfB: DataFrame,
      typeColB: String, itemColB: String, massColB: String,
      k: Int): DataFrame = {
    val a = weightedSketches(dfA, typeColA, itemColA, massColA, k)
      .select(col(typeColA).as("type_a"), col("kmvv").as("ska"),
        col("mass_total").as("mass_a_total"))
    val b = weightedSketches(dfB, typeColB, itemColB, massColB, k)
      .select(col(typeColB).as("type_b"), col("kmvv").as("skb"),
        col("mass_total").as("mass_b_total"))
    weightedOverlapFromSketchPairs(a.crossJoin(b), k)
  }

  /** Per-type (hash, mass) sketch + exact total mass — the shared
    * substrate of the weighted overlap family: one row-grain pass
    * builds per-(type, item) masses, then ≤ k pairs of state per type. */
  private def weightedSketches(df: DataFrame, typeCol: String,
      itemCol: String, massCol: String, k: Int): DataFrame = {
    df.schema(massCol).dataType match {
      case LongType | IntegerType | ShortType | ByteType => ()
      case other => throw new IllegalArgumentException(
        s"weighted overlap: massCol '$massCol' must be integral " +
          s"(micro-units), got ${other.simpleString} - a silent double " +
          "truncation here would diverge from the replay (the " +
          "valueSketches convention)")
    }
    df.filter(col(itemCol).isNotNull && col(massCol).isNotNull)
      .groupBy(col(typeCol), col(itemCol))
      .agg(sum(col(massCol)).cast("long").as("__m"))
      .groupBy(col(typeCol))
      .agg(call_function("kmv_values", hash60(col(itemCol)), col("__m"),
        lit(k)).as("kmvv"),
        sum("__m").as("mass_total"))
  }

  /** The shared mass-share math over (type_a, ska, mass_a_total,
    * type_b, skb, mass_b_total) pairs. */
  private def weightedOverlapFromSketchPairs(pairs: DataFrame,
      k: Int): DataFrame = {
    def sampleMass(side: String, hs: String): Column = expr(
      s"aggregate(filter($side, x -> array_contains($hs, x.h)), " +
        "CAST(0 AS BIGINT), (acc, x) -> acc + x.v)")
    pairs
      .withColumn("__ha", expr("transform(ska, x -> x.h)"))
      .withColumn("__hb", expr("transform(skb, x -> x.h)"))
      .withColumn("__all",
        array_sort(array_distinct(concat(col("__ha"), col("__hb")))))
      .withColumn("__merged", slice(col("__all"), 1, k))
      .withColumn("k_used", size(col("__merged")).cast("long"))
      .withColumn("__inter", array_intersect(
        array_intersect(col("__merged"), col("__ha")), col("__hb")))
      .withColumn("n_inter_k", size(col("__inter")).cast("long"))
      .withColumn("__ma_merged", sampleMass("ska", "__merged"))
      .withColumn("__mb_merged", sampleMass("skb", "__merged"))
      .withColumn("__ma_inter", sampleMass("ska", "__inter"))
      .withColumn("__mb_inter", sampleMass("skb", "__inter"))
      .withColumn("est_union", estimate(col("__all"), k))
      .select(col("type_a"), col("type_b"), col("k_used"),
        col("n_inter_k"),
        expr("n_inter_k * 1000000 div greatest(k_used, 1)").as("jaccard_e6"),
        col("est_union"), col("mass_a_total"), col("mass_b_total"),
        expr("__ma_inter * 1000000 div greatest(__ma_merged, 1)")
          .as("mass_share_a_inter_e6"),
        expr("__mb_inter * 1000000 div greatest(__mb_merged, 1)")
          .as("mass_share_b_inter_e6"))
  }

  /** Pairwise Kolmogorov–Smirnov distance between per-type VALUE
    * distributions, from value sketches alone: each type keeps its
    * deterministic ≤ k-row sample ([[valueSketches]]); per pair, D =
    * max over the union of sample values of |ecdf_a − ecdf_b| in
    * micro-units — the two-sample KS statistic of the samples,
    * replayable bit-for-bit because both empirical CDFs are integer
    * counts over fixed arrays (one integer div per jump point, k² HOF
    * work per pair, no row data). The drift alarm `Anomaly`'s exact KS
    * pays a full shuffle for, at sketch cost; sampling error ~√(2/k) on
    * D (k=64 ≈ ±0.18, k=256 ≈ ±0.09) — size thresholds accordingly. */
  def sampleKsReport(df: DataFrame, typeCol: String, idCol: String,
      valueCol: String, k: Int): DataFrame = {
    val sk = valueSketches(df, Seq(typeCol), idCol, valueCol, k)
    val a = sk.select(col(typeCol).as("type_a"), col("kmvv").as("ska"))
    val b = sk.select(col(typeCol).as("type_b"), col("kmvv").as("skb"))
    ksFromSamplePairs(a.join(b, col("type_a") < col("type_b")))
  }

  /** Day-over-day KS drift: the two-sample KS distance between
    * CONSECUTIVE days' value samples — "did today's value distribution
    * shift against yesterday's" as one daily sample mart + a self-join
    * on the day lattice (days × 2k pairs), the [[consecutiveOverlap]]
    * posture for distributions. `dayCol` must be integral (epoch-day —
    * same loud guard). Days with no successor emit nothing. */
  def consecutiveKs(df: DataFrame, dayCol: String, idCol: String,
      valueCol: String, k: Int): DataFrame = {
    df.schema(dayCol).dataType match {
      case LongType | IntegerType | ShortType | ByteType => ()
      case other => throw new IllegalArgumentException(
        s"consecutiveKs: dayCol '$dayCol' must be integral (epoch-day), " +
          s"got ${other.simpleString} - cast dates to epoch-days upstream")
    }
    val daily = valueSketches(df, Seq(dayCol), idCol, valueCol, k)
    val a = daily.select(col(dayCol).cast("long").as("type_a"),
      col("kmvv").as("ska"))
    val b = daily.select((col(dayCol).cast("long") - 1L).as("__prev"),
      col(dayCol).cast("long").as("type_b"), col("kmvv").as("skb"))
    ksFromSamplePairs(
      a.join(b, col("type_a") === col("__prev")).drop("__prev"))
  }

  /** The shared KS math over (type_a, ska, type_b, skb) sample pairs —
    * the compiled `weighted_ks` sweep under UNIT masses (its count-based
    * ks_e6 field is the two-sample KS regardless of masses, so the unit
    * wrap just satisfies the input shape). The spec pins it against an
    * interpreted-HOF twin; at |types|² pairs × k² lambda calls the HOF
    * form is the same hot chain the weighted report retired. */
  private def ksFromSamplePairs(pairs: DataFrame): DataFrame = {
    def unit(side: String): Column = expr(
      s"transform($side, x -> named_struct('v', x.v, " +
        "'m', CAST(1 AS BIGINT)))")
    pairs
      .withColumn("__r",
        call_function("weighted_ks", unit("ska"), unit("skb")))
      .select(col("type_a"), col("type_b"),
        col("__r.k_a").as("k_a"), col("__r.k_b").as("k_b"),
        col("__r.ks_e6").as("ks_e6"))
  }

  // ---- replayable approximate quantiles (value-carrying sample) ------

  /** Per-group deterministic VALUE sample: the rows whose md5 row-id
    * hash is among the k smallest, as an ascending-by-hash array of
    * (h, v) structs (native `kmv_values` aggregate, ≤ k pairs of state
    * per task × group). Because the hash is uniform over ids, the
    * surviving values are a uniform row sample that any engine can
    * reproduce — the mergeable, auditable substrate under
    * [[quantileReport]], the way [[sketches]] is under
    * [[distinctReport]].
    *
    * `idCol` must determine `valueCol` (hash a row id, carry that row's
    * measure); `valueCol` must already be integral (micro-units — the
    * repo-wide determinism convention; a silent double truncation here
    * would diverge from the replay). */
  def valueSketches(df: DataFrame, groupCols: Seq[String], idCol: String,
      valueCol: String, k: Int): DataFrame = {
    df.schema(valueCol).dataType match {
      case LongType | IntegerType | ShortType | ByteType => ()
      case other => throw new IllegalArgumentException(
        s"valueSketches: valueCol '$valueCol' must be integral " +
          s"(micro-units), got ${other.simpleString} - scale doubles to " +
          "fixed-point first (round(x * 100) the e2 convention)")
    }
    df.filter(col(idCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(call_function("kmv_values", hash60(col(idCol)),
        col(valueCol).cast("long"), lit(k)).as("kmvv"))
  }

  /** Quantile columns off a [[valueSketches]] frame: for each qE6, the
    * ceil(q·k_used)-th smallest sampled value — the classic order
    * statistic of a uniform row sample (error ~1/√k on the RANK, so the
    * estimate lands within ~√(q(1−q)/k) of the true quantile's rank).
    * One fixed integer dag (·qE6, +999999, div 10⁶, clamp ≥ 1), so the
    * DuckDB replay picks the same element bit-for-bit. Emits `k_used`
    * plus one `q_<qE6>` column per requested quantile. */
  def quantilesFromValueSketches(sk: DataFrame, groupCols: Seq[String],
      qE6s: Seq[Long]): DataFrame = {
    require(qE6s.nonEmpty && qE6s.forall(q => q >= 1L && q <= 1000000L),
      s"quantiles must be in [1, 1000000] micro-units, got $qE6s")
    require(qE6s.distinct.size == qE6s.size,
      s"duplicate quantiles would collide on q_<qE6> column names: $qE6s")
    val base = sk
      .withColumn("__sv", array_sort(expr("transform(kmvv, x -> x.v)")))
      .withColumn("k_used", size(col("__sv")).cast("long"))
    val withQs = qE6s.foldLeft(base) { (d, q) =>
      d.withColumn(s"q_$q", expr(
        s"element_at(__sv, cast(greatest(1, " +
          s"($q * k_used + 999999) div 1000000) as int))"))
    }
    withQs.select(groupCols.map(col) ++ (col("k_used") +:
      qE6s.map(q => col(s"q_$q"))): _*)
  }

  /** Per-group replayable quantile estimates in one call:
    * [[valueSketches]] → [[quantilesFromValueSketches]]. */
  def quantileReport(df: DataFrame, groupCols: Seq[String], idCol: String,
      valueCol: String, k: Int, qE6s: Seq[Long]): DataFrame =
    quantilesFromValueSketches(
      valueSketches(df, groupCols, idCol, valueCol, k), groupCols, qE6s)

  // ---- MASS-weighted sample statistics (value + mass sample) ---------

  /** [[valueSketches]] carrying each sampled row's MASS alongside its
    * value — the substrate for mass-weighted ECDF statistics (the
    * [[weightedOverlapReport]] weighting applied to the value-sample
    * family): `kmvv` holds ascending-by-hash (h, v, m) structs.
    *
    * Mechanically this is TWO `kmv_values` aggregates over the same
    * `hash60(idCol)` stream — one carrying the value, one the mass.
    * Both keep the bottom-k DISTINCT hashes of the same stream, so
    * their hash sets are identical and both arrays come back ascending
    * by hash: the positional zip is exact alignment, not a join.
    * `idCol` must determine BOTH `valueCol` and `massCol` (the
    * [[valueSketches]] contract — duplicate ids then carry identical
    * pairs and the per-hash min replays in any engine); both must be
    * integral (micro-units). Mass sums ride the weighted-overlap BIGINT
    * envelope: a sample mass sum is ≤ k per-item masses and meets a
    * ·10⁶ product downstream, so keep per-item masses ≲ 9·10¹²/k — and
    * NON-NEGATIVE: the downstream quotients are replay-exact only
    * because every numerator is ≥ 0 (Spark's `div` truncates toward
    * zero while DuckDB's `//` floors; they agree exactly on
    * non-negative numerators and silently diverge on negative ones). */
  def weightedValueSketches(df: DataFrame, groupCols: Seq[String],
      idCol: String, valueCol: String, massCol: String,
      k: Int): DataFrame = {
    Seq(valueCol -> "valueCol", massCol -> "massCol").foreach {
      case (c, what) =>
        df.schema(c).dataType match {
          case LongType | IntegerType | ShortType | ByteType => ()
          case other => throw new IllegalArgumentException(
            s"weightedValueSketches: $what '$c' must be integral " +
              s"(micro-units), got ${other.simpleString} - scale doubles " +
              "to fixed-point first (round(x * 100) the e2 convention)")
        }
    }
    val h = hash60(col(idCol))
    df.filter(col(idCol).isNotNull && col(valueCol).isNotNull &&
        col(massCol).isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(
        call_function("kmv_values", h, col(valueCol).cast("long"), lit(k))
          .as("__kv"),
        call_function("kmv_values", h, col(massCol).cast("long"), lit(k))
          .as("__km"))
      .select(groupCols.map(col) :+
        expr("zip_with(__kv, __km, (x, y) -> " +
          "named_struct('h', x.h, 'v', x.v, 'm', y.v))").as("kmvv"): _*)
  }

  /** Pairwise MASS-weighted two-sample KS: D_w = max over the union of
    * sample values of |wecdf_a − wecdf_b| where each sampled row counts
    * its MASS, not 1/k — so a drift alarm ranks by token mass instead
    * of doc count (a shift confined to a corpus's many near-empty docs
    * stops outranking one in its few giant docs). The unweighted ks_e6
    * rides along for contrast; both are integer ratios over fixed
    * arrays (mass cumsums ·10⁶ div sample mass — the micro-unit
    * contract), so both replay bit-for-bit. Work is groups² pairs × k²
    * HOF steps on ≤ k-row samples — never row data. */
  def weightedSampleKsReport(df: DataFrame, typeCol: String, idCol: String,
      valueCol: String, massCol: String, k: Int): DataFrame = {
    val sk = weightedValueSketches(df, Seq(typeCol), idCol, valueCol,
      massCol, k)
    val a = sk.select(col(typeCol).as("type_a"), col("kmvv").as("ska"))
    val b = sk.select(col(typeCol).as("type_b"), col("kmvv").as("skb"))
    weightedKsFromSamplePairs(a.join(b, col("type_a") < col("type_b")))
  }

  /** The shared weighted-KS math over (type_a, ska, type_b, skb) pairs
    * of (h, v, m) samples — the compiled `weighted_ks` sort-merge sweep
    * (one O(k log k) pass per pair). The spec pins it against an
    * interpreted-HOF twin; at 20 types × k=128 the HOF form burned ~50M
    * interpreted lambda calls (190 pairs × 2 statistics × jumps ×
    * filter+aggregate) and dominated q280's wall. */
  def weightedKsFromSamplePairs(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("__r",
        call_function("weighted_ks", col("ska"), col("skb")))
      .select(col("type_a"), col("type_b"),
        col("__r.k_a").as("k_a"), col("__r.k_b").as("k_b"),
        col("__r.mass_a").as("mass_a"), col("__r.mass_b").as("mass_b"),
        col("__r.wks_e6").as("wks_e6"), col("__r.ks_e6").as("ks_e6"))

  /** Per-group MASS-weighted quantile estimates off a
    * [[weightedValueSketches]] frame: for each qE6, the smallest sampled
    * value whose cumulative sample MASS crosses q of the total — the
    * median token now sits where half the token MASS sits, not where
    * half the docs sit. The crossing test is
    * one fixed integer comparison (prefix-mass ·10⁶ ≥ q · total mass —
    * both BIGINT products inside the documented mass envelope), the
    * prefix sums run over the sample sorted by (v, m) — a total order
    * both engines share — so every cell replays bit-for-bit. Emits
    * `k_used`, `mass_total`, one `q_<qE6>` per requested quantile. */
  def weightedQuantileReport(df: DataFrame, groupCols: Seq[String],
      idCol: String, valueCol: String, massCol: String, k: Int,
      qE6s: Seq[Long]): DataFrame = {
    val sk = weightedValueSketches(df, groupCols, idCol, valueCol, massCol, k)
    require(qE6s.nonEmpty && qE6s.forall(q => q >= 1L && q <= 1000000L),
      s"quantiles must be in [1, 1000000] micro-units, got $qE6s")
    require(qE6s.distinct.size == qE6s.size,
      s"duplicate quantiles would collide on q_<qE6> column names: $qE6s")
    val base = sk
      .withColumn("__sv", array_sort(expr(
        "transform(kmvv, x -> named_struct('v', x.v, 'm', x.m))")))
      .withColumn("k_used", size(col("__sv")).cast("long"))
      .withColumn("mass_total", expr(
        "aggregate(__sv, CAST(0 AS BIGINT), (acc, x) -> acc + x.m)"))
    val withQs = qE6s.foldLeft(base) { (d, q) =>
      // the i = k_used element always satisfies the crossing test
      // (prefix = total, q ≤ 10⁶), so the filter is never empty on a
      // non-empty sample; an empty sample can't occur (each group has
      // ≥ 1 surviving row by construction) but reads NULL, not an error
      d.withColumn(s"q_$q", expr(
        "element_at(__sv, CAST(element_at(filter(" +
          "sequence(1, CAST(k_used AS INT)), i -> " +
          "aggregate(slice(__sv, 1, i), CAST(0 AS BIGINT), " +
          s"(acc, x) -> acc + x.m) * 1000000 >= $q * mass_total), " +
          "1) AS INT)).v"))
    }
    withQs.select(groupCols.map(col) ++ (Seq(col("k_used"),
      col("mass_total")) ++ qE6s.map(q => col(s"q_$q"))): _*)
  }

  /** Rolling / cumulative per-day QUANTILES from daily value sketches —
    * the [[rollingDistinct]] posture for order statistics: the raw data
    * reduces once to one ≤ k-pair sample per `dayCol` value; every
    * (day × window-day) cell is then pure re-aggregation over a frame
    * of days × k pairs (broadcast day lattice, never row data), and
    * fold ≡ rebuild makes each window's sample EQUAL the one-shot
    * sample of the raw window — which is what the oracle computes.
    * `windowDays` > 0 gives trailing windows (7 = "weekly p50/p90 of
    * order value"); 0 the cumulative-to-date curve (same O(days²/2)
    * day-grain contract as [[rollingDistinctBy]]). */
  def rollingQuantiles(df: DataFrame, dayCol: String, idCol: String,
      valueCol: String, k: Int, qE6s: Seq[Long],
      windowDays: Int = 0): DataFrame =
    rollingQuantilesBy(df, Nil, dayCol, idCol, valueCol, k, qE6s,
      windowDays)

  /** [[rollingQuantiles]] per group — "rolling weekly p50/p90 of order
    * value PER SEGMENT" from one (group, day) value-sketch mart; the
    * day lattice stays a single broadcast (days are global), the
    * re-aggregation keys on (group, window-day), so state is ≤ groups ×
    * days × k pairs — the [[rollingDistinctBy]] posture for order
    * statistics. */
  def rollingQuantilesBy(df: DataFrame, groupCols: Seq[String],
      dayCol: String, idCol: String, valueCol: String, k: Int,
      qE6s: Seq[Long], windowDays: Int = 0): DataFrame = {
    val daily = valueSketches(df, groupCols :+ dayCol, idCol, valueCol, k)
    val days = daily.select(col(dayCol).as("__d")).distinct()
    val cond =
      if (windowDays > 0)
        col(dayCol) <= col("__d") &&
          col(dayCol) > col("__d") - lit(windowDays.toLong)
      else col(dayCol) <= col("__d")
    val windowed = daily.join(broadcast(days), cond)
      .select(groupCols.map(col) ++
        Seq(col("__d"), explode(col("kmvv")).as("__p")): _*)
      .groupBy(groupCols.map(col) :+ col("__d"): _*)
      .agg(call_function("kmv_values", col("__p.h"), col("__p.v"),
        lit(k)).as("kmvv"))
      .select(groupCols.map(col) ++
        Seq(col("__d").as(dayCol), col("kmvv")): _*)
    quantilesFromValueSketches(windowed, groupCols :+ dayCol, qE6s)
  }

  /** Fold a delta's value sketches into persisted sample state: explode
    * both sides' ≤ k pairs per group (sketch-state-sized, never row
    * data) and re-offer through the same aggregate — bottom-k-by-hash
    * of a union of bottom-ks IS the union's bottom-k, and the
    * duplicate-hash → min-value rule is re-applied identically, so fold
    * ≡ rebuild structurally (the q252 posture for value samples).
    * Groups absent from one side pass through. */
  def foldValueSketches(state: DataFrame, delta: DataFrame,
      groupCols: Seq[String], k: Int): DataFrame = {
    val cols = groupCols.map(col) :+ col("kmvv")
    state.select(cols: _*).unionByName(delta.select(cols: _*))
      .select(groupCols.map(col) :+ explode(col("kmvv")).as("__p"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(call_function("kmv_values", col("__p.h"), col("__p.v"),
        lit(k)).as("kmvv"))
  }

  /** Fold a delta's sketches into persisted sketch state — pure array
    * algebra on ≤ 2k longs per group (no re-aggregation of history):
    * union-distinct-sort-truncate is exactly KMV merge. Groups absent
    * from one side pass through; est column refreshed. */
  def foldSketches(state: DataFrame, delta: DataFrame,
      groupCols: Seq[String], k: Int): DataFrame = {
    val empty = expr("CAST(array() AS ARRAY<BIGINT>)")
    val merged = state.select(groupCols.map(col) :+
        col("kmv").as("__sk_state"): _*)
      .join(delta.select(groupCols.map(col) :+
        col("kmv").as("__sk_delta"): _*), groupCols, "full_outer")
    merged.select(groupCols.map(col) :+
      slice(array_sort(array_distinct(concat(
        coalesce(col("__sk_state"), empty),
        coalesce(col("__sk_delta"), empty)))), 1, k).as("kmv"): _*)
      .withColumn("est_kmv", estimate(col("kmv"), k))
  }
}
