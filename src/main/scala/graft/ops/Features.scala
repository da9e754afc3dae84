package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ML feature engineering over curated tables — the two classic
  * category-to-number transforms a training pipeline runs after curation
  * and before the trainer: smoothed target encoding (with leave-one-out,
  * the leakage-safe form) and the hashing trick. Both are engineered on
  * the repo's determinism posture: exact integer sufficient statistics,
  * one fixed IEEE divide/round dag for the encoded value, md5-derived
  * buckets (cross-engine replayable) — so both gate against the DuckDB
  * oracle exactly.
  */
object Features {

  /** Leave-one-out m-estimate target encoding: each row's category becomes
    * enc_i = (S_cat − y_i + m·prior) / (n_cat − 1 + m), prior = global
    * mean — the standard high-cardinality categorical encoder, in the
    * leakage-safe form (a row never sees its own target; naive mean
    * encoding leaks the label and inflates validation scores). `m` pulls
    * rare categories toward the prior; singleton categories land exactly
    * ON the prior (numerator and denominator reduce to m·prior / m).
    *
    * `targetE2Col` must be an exact integer target (the e2 convention —
    * `round(value*100)`); output enc_e6 is the one-divide-then-round
    * fixed IEEE dag on exact BIGINT stats (the q162/q174 posture). Rows
    * with a null category or target are dropped (nothing to encode, and
    * null-keyed stats would silently absorb them).
    *
    * Scale shape: one grouped aggregate in category space + one keyed
    * join back (AQE broadcasts the per-category frame while |cats| is
    * small; at web-scale cardinality it degrades to a plain keyed
    * shuffle, which is the correct plan) + one 1-row global stat frame
    * broadcast via crossJoin. */
  def targetEncodeLoo(df: DataFrame, idCol: String, catCol: String,
      targetE2Col: String, m: Int = 10): DataFrame = {
    require(m >= 1, s"m must be >= 1 (m = 0 divides by zero on singleton categories), got $m")
    val rows = df.select(col(idCol).as("id"), col(catCol).as("cat"),
        col(targetE2Col).cast("long").as("y_e2"))
      .filter(col("y_e2").isNotNull && col("cat").isNotNull)
    val perCat = rows.groupBy("cat")
      .agg(count(lit(1)).as("n_cat"), sum("y_e2").as("s_cat"))
    val glob = rows.agg(count(lit(1)).as("n_all"), sum("y_e2").as("s_all"))
    rows.join(perCat, "cat")
      .crossJoin(broadcast(glob))
      .select(col("id"), col("cat"),
        round(lit(1e6) *
          ((col("s_cat") - col("y_e2")).cast("double") +
            lit(m.toDouble) *
              (col("s_all").cast("double") / col("n_all").cast("double"))) /
          (col("n_cat") - lit(1) + lit(m)).cast("double"))
          .cast("long").as("enc_e6"))
  }

  /** Exact per-group ROC AUC by the Mann–Whitney rank-sum identity:
    * AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻), with average ranks for score
    * ties — the model-eval metric every training pipeline gates on,
    * computed WITHOUT a per-row global sort: rows first reduce to
    * per-(group, score) counts, the cumulative rank prefix is one window
    * over that VALUE-DOMAIN-sized frame, and a tied block after c lower
    * rows contributes 2R⁺ = n⁺(s)·(2c + n(s) + 1) — integers throughout,
    * doubled to avoid the ½ from average ranks, so the only IEEE op is
    * the final divide-and-round (auc_e6). Groups lacking both classes
    * report null (AUC undefined), never a fake 0.5.
    *
    * `scoreCol` must be an exact integer score (the e2/e6 convention);
    * `labelCol` is 0/1. Scale: the window runs over |group × distinct
    * scores|, not rows — quantize scores (as documented everywhere in
    * this repo) and it is value-domain bounded. 2R⁺ ≤ 2n² per group —
    * keep per-group rows under ~2·10⁹ or bucket the scores first. */
  def groupAuc(df: DataFrame, groupCols: Seq[String], scoreCol: String,
      labelCol: String): DataFrame = {
    val gcols = groupCols.map(col)
    val base = df
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(gcols :+ col(scoreCol).cast("long").as("__s") :+
        col(labelCol).cast("long").as("__y"): _*)
    val perScore = base.groupBy(gcols :+ col("__s"): _*)
      .agg(count(lit(1)).as("__n"), sum("__y").as("__npos"))
    val w = Window.partitionBy(gcols: _*).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = perScore
      .withColumn("__c", coalesce(sum(col("__n")).over(w), lit(0L)))
      .withColumn("__r2",
        col("__npos") * (lit(2L) * col("__c") + col("__n") + lit(1L)))
    val agg = ranked.groupBy(gcols: _*)
      .agg(sum("__r2").as("r2"), sum("__npos").as("n_pos"),
        (sum("__n") - sum("__npos")).as("n_neg"))
    agg.select(gcols ++ Seq(col("n_pos"), col("n_neg"),
      when(col("n_pos") > 0 && col("n_neg") > 0,
        round(lit(1e6) *
          (col("r2") - col("n_pos") * (col("n_pos") + lit(1L)))
            .cast("double") /
          (lit(2.0) * col("n_pos").cast("double") *
            col("n_neg").cast("double"))).cast("long"))
        .as("auc_e6")): _*)
  }

  /** Cumulative gains / lift table: rows ranked by score descending into
    * `buckets` equal-count bins (ntile on the (score desc, tie) total
    * order — bit-identical across engines, the q158 posture), each bin
    * reporting exact counts, cumulative positive capture
    * (cum_pos·1e6 div tot_pos) and cumulative lift
    * (cum_pos·tot_n·1e6 div (cum_n·tot_pos)) — "the top 2 deciles
    * capture 60% of responders at 3× lift", the model-targeting view
    * next to groupAuc's single number. ALL integer arithmetic.
    *
    * Scale: ntile's global sort is the documented q158 trade — right for
    * score-table-sized frames; at 100 TB use quantile BOUNDS for the
    * bins (bucketing against exact-quantile boundaries) and the same
    * count rollup.
    * The exact integer lift product needs cum_pos·tot_n·1e6 to fit a
    * long — fine to ~3·10⁶ scored rows; past that compute lift
    * downstream from the emitted exact counts. */
  def gainsTable(df: DataFrame, scoreCol: String, tieCol: String,
      labelCol: String, buckets: Int = 10): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val base = df.filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(col(scoreCol).cast("long").as("__s"), col(tieCol).as("__tie"),
        col(labelCol).cast("long").as("__y"))
    val bucketed = base.withColumn("bucket",
      ntile(buckets).over(Window.orderBy(col("__s").desc, col("__tie")))
        .cast("long"))
    val per = bucketed.groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum("__y").as("n_pos"))
    val wc = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    per
      .withColumn("cum_n", sum("n").over(wc))
      .withColumn("cum_pos", sum("n_pos").over(wc))
      .withColumn("tot_n", sum("n").over(wt))
      .withColumn("tot_pos", sum("n_pos").over(wt))
      .select(col("bucket"), col("n"), col("n_pos"), col("cum_n"),
        col("cum_pos"),
        when(col("tot_pos") > 0L,
          expr("cum_pos * 1000000L div tot_pos")).as("capture_e6"),
        when(col("tot_pos") > 0L,
          expr("cum_pos * tot_n * 1000000L div (cum_n * tot_pos)"))
          .as("lift_e6"))
  }

  /** The hashing trick: whitespace tokens of `textCol` hashed into
    * `nBuckets` fixed feature buckets — the unbounded-vocabulary
    * featurizer (no fitted dictionary to ship or drift). Bucket =
    * md5-first-8-hex mod nBuckets, the repo's single cross-engine hash
    * convention (Chunking.hashBucket's posture). Output one row per
    * (id, bucket) with the term count — the sparse feature vector in
    * coordinate form.
    *
    * Scale shape: row-local hashing, then ONE grouped count whose key
    * space is |docs|·min(doc_len, nBuckets) — never a vocabulary table,
    * which is the point of the trick. */
  def hashFeatures(df: DataFrame, idCol: String, textCol: String,
      nBuckets: Int): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    df.select(col(idCol).as("id"),
        explode(split(trim(col(textCol)), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("id"),
        (conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long") %
          nBuckets).as("bucket"))
      .groupBy("id", "bucket").agg(count(lit(1)).as("n"))
  }

  /** A/B experiment report — deterministic assignment + per-variant
    * outcome stats + the two-proportion z test, all replayable:
    * variants come from the repo's one hash convention (md5-first-8-hex
    * of the entity id, mod `nVariants` — assignment is a FUNCTION of the
    * id, so reruns, engines and backfills agree; variant 0 is control),
    * conversion = the entity had ≥ 1 `positiveCol` > 0 row. Per variant:
    * n entities, n converted, conv_rate_e6 (exact floor division), and
    * vs control: lift_e6 = (r_v − r_c)·10⁶ div r_c (sign-factored — the
    * q216 floor/trunc lesson) and z_e6 from the pooled two-proportion
    * statistic, z = (p_v − p_c)/√(p̂(1−p̂)(1/n_v+1/n_c)) — the ONE fixed
    * IEEE dag (exact BIGINT counts → a single expression of doubles →
    * round·10⁶; the q162/q174 determinism posture). Control reports
    * null lift/z. Variants with zero entities simply don't appear;
    * a degenerate pooled rate (p̂ ∈ {0, 1}) yields null z; a corpus so
    * small that NO entity hashes to control still reports every variant
    * row (null lift/z) rather than an empty frame.
    *
    * Scale shape: one entity-grain aggregate (assignment is row-local),
    * one |variants|-sized rollup, one broadcast of the 1-row control
    * frame. */
  def experimentReport(df: DataFrame, entityCol: String,
      positiveCol: String, nVariants: Int = 2): DataFrame = {
    require(nVariants >= 2, s"nVariants must be >= 2, got $nVariants")
    val perEntity = df
      .select(col(entityCol).cast("string").as("__id"),
        col(positiveCol).cast("long").as("__y"))
      .groupBy("__id")
      .agg(max(when(col("__y") > 0L, 1L).otherwise(0L)).as("__conv"))
      .withColumn("variant",
        (conv(substring(md5(col("__id")), 1, 8), 16, 10).cast("long") %
          nVariants).as("variant"))
    val per = perEntity.groupBy("variant")
      .agg(count(lit(1)).as("n"), sum("__conv").as("n_conv"))
      .withColumn("conv_rate_e6", expr("n_conv * 1000000L div n"))
    // LEFT join (on a constant key) rather than a crossJoin: if no entity
    // hashes to variant 0 (tiny corpora), a crossJoin against the empty
    // control frame would silently return an EMPTY report — the left join
    // keeps every variant row and reports null lift/z instead.
    val control = per.filter(col("variant") === 0L)
      .select(lit(1).as("__k"), col("n").as("__nc"), col("n_conv").as("__cc"))
    per.withColumn("__k", lit(1))
      .join(broadcast(control), Seq("__k"), "left")
      .select(col("variant"), col("n"), col("n_conv"), col("conv_rate_e6"),
        when(col("variant") =!= 0L && col("__cc") > 0L,
          (signum(col("n_conv") * col("__nc") - col("__cc") * col("n"))
            .cast("long")) *
            expr("abs(n_conv * __nc - __cc * n) * 1000000L " +
              "div (__cc * n)")).as("lift_e6"),
        when(col("variant") =!= 0L &&
          (col("n_conv") + col("__cc")) > 0L &&
          (col("n_conv") + col("__cc")) < (col("n") + col("__nc")),
          round(
            (col("n_conv").cast("double") / col("n").cast("double") -
              col("__cc").cast("double") / col("__nc").cast("double")) /
            sqrt(((col("n_conv") + col("__cc")).cast("double") /
              (col("n") + col("__nc")).cast("double")) *
              (lit(1.0) - (col("n_conv") + col("__cc")).cast("double") /
                (col("n") + col("__nc")).cast("double")) *
              (lit(1.0) / col("n").cast("double") +
                lit(1.0) / col("__nc").cast("double"))) * lit(1e6))
            .cast("long")).as("z_e6"))
  }

  /** Calibration / reliability table: scores clamped into FIXED-WIDTH
    * bins over [loE2, hiE2], per bin the observed positive rate next to
    * the mean score — the reliability-diagram table (is a model that
    * says "0.9" right 90% of the time?), and the fixed-bin complement of
    * [[gainsTable]]'s rank deciles (equal-width in score space, not
    * equal-count; an empty bin is absent, which IS the signal that the
    * model never scores there). All-integer: clamp, one multiply-and-
    * floor-divide for the bin, exact count/sum aggregates, two e6 floor
    * divisions — hash-stable anywhere. Out-of-range scores clamp into
    * the edge bins (standard reliability-diagram handling; a dropped row
    * would silently shrink N). Null score or label rows are dropped.
    *
    * Output: (bin, bin_lo_e2 — the nominal lower edge lo + ⌊bin·width/
    * bins⌋, exact when width divides evenly —, n, n_pos, mean_score_e6
    * in ORIGINAL value units = sum(e2) · 10⁴ div n, pos_rate_e6).
    *
    * Scale shape: one row-local projection + ONE grouped aggregate with
    * ≤ `bins` keys — partial-aggregating, no sort, no window; the 100 TB
    * plan is the same plan. */
  def calibrationReport(df: DataFrame, scoreE2Col: String,
      labelCol: String, bins: Int, loE2: Long, hiE2: Long): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    require(hiE2 > loE2, s"need hiE2 > loE2, got [$loE2, $hiE2]")
    val width = hiE2 - loE2 + 1L
    df.filter(col(scoreE2Col).isNotNull && col(labelCol).isNotNull)
      .select(
        greatest(least(col(scoreE2Col).cast("long"), lit(hiE2)), lit(loE2))
          .as("__s"),
        col(labelCol).cast("long").as("__y"))
      .select(expr(s"(__s - ${loE2}L) * ${bins}L div ${width}L").as("bin"),
        col("__s"), col("__y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("__y").as("n_pos"),
        sum("__s").as("__sum_s"))
      .select(col("bin"),
        (lit(loE2) + expr(s"bin * ${width}L div ${bins}L")).as("bin_lo_e2"),
        col("n"), col("n_pos"),
        expr("__sum_s * 10000L div n").as("mean_score_e6"),
        expr("n_pos * 1000000L div n").as("pos_rate_e6"))
  }
}
