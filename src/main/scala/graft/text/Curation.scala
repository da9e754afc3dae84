package graft.text

import graft.config.{BudgetSpec, CurationSpec, LanguageFilterSpec, MixingSpec, NearDedupSpec, PiiRule, QualityGateSpec, QualityModelSpec}
import graft.dedup.Dedup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation decision operators: the domain-mixing report that drives
  * up/down-sampling weights, and the Gopher-style hard quality filter that
  * gates documents into a training set. Both compose the row-local signal
  * columns (TextAnalysis) into corpus-level decisions.
  *
  * Determinism contract (the oracle hash-compare): every ratio is a double
  * division of exact integers rounded to a micro-unit long; every rule
  * compares those integer micro-units against integer thresholds, so pass/
  * fail verdicts can never straddle an ulp between engines. */
object Curation {

  /** Baseline PII patterns — the Scala-API view of the config presets
    * (`graft.config.PiiRule.Presets`, `curation.pii[].preset`). */
  object PiiPatterns {
    val Email = PiiRule.Presets("email")
    val Ipv4 = PiiRule.Presets("ipv4")
    val NumericId = PiiRule.Presets("numeric_id")
  }

  /** Scrub PII from string columns before a corpus enters training: each
    * rule's matches are counted (on the value that rule actually sees) and
    * replaced, and the per-row total lands in `n_redactions` — the audit
    * column a curation pipeline aggregates for scrub-rate reports. Row-local
    * regex work, zero shuffle, embarrassingly parallel; the regexes
    * themselves are the whole cost, so anchor-free catastrophic-backtracking
    * patterns are the thing to avoid at 100 TB. Null values redact to null
    * and count 0. */
  def redactPii(df: DataFrame, rules: Seq[PiiRule]): DataFrame = {
    require(rules.nonEmpty, "redactPii needs at least one rule")
    val counted = rules.zipWithIndex.foldLeft(df) { case (d, (r, i)) =>
      d.withColumn(s"_n_redact_$i",
          coalesce(regexp_count(col(r.column), lit(r.pattern)).cast("long"),
            lit(0L)))
        .withColumn(r.column,
          // replacement is LITERAL text by contract: quoteReplacement
          // neutralizes `$`/`\` group references, which would otherwise
          // crash every task ("$RED") or re-insert the matched PII ("$0")
          regexp_replace(col(r.column), r.pattern,
            java.util.regex.Matcher.quoteReplacement(r.replacement)))
    }
    counted
      .withColumn("n_redactions",
        rules.indices.map(i => col(s"_n_redact_$i")).reduce(_ + _))
      .drop(rules.indices.map(i => s"_n_redact_$i"): _*)
  }

  /** Per-domain PII-density report — the governance dashboard over
    * [[redactPii]]'s audit column: document count, documents carrying any
    * PII, token mass (of the ORIGINAL text — density is measured against
    * what arrived, not what survives scrubbing), total redactions, and
    * the two rates reviewers actually track (PII-doc rate, redactions
    * per 10⁶ tokens), all exact integers. A domain with an outlying rate
    * is either a crawler pointed at user data or a broken rule — both
    * need a human. One row-local redaction pass + one grouped aggregate. */
  def piiDensityReport(df: DataFrame, domainCol: String, textCol: String,
      rules: Seq[PiiRule]): DataFrame =
    redactPii(
      df.withColumn("__nt",
        TextAnalysis.tokenCount(col(textCol)).cast("long")), rules)
      .groupBy(col(domainCol).as("domain"))
      .agg(count(lit(1)).as("docs"),
        sum(when(col("n_redactions") > 0, 1L).otherwise(0L))
          .as("docs_with_pii"),
        sum(col("__nt")).as("total_tokens"),
        sum(col("n_redactions")).as("total_redactions"))
      .withColumn("pii_doc_rate_e6",
        expr("docs_with_pii * 1000000L div docs"))
      .withColumn("redactions_per_1e6_tokens",
        expr("total_redactions * 1000000L div total_tokens"))

  /** Corpus DATA CARD — the one-call datasheet (Gebru et al.'s
    * "Datasheets for Datasets" shape) that unions the reports a corpus
    * release ships with into one long (section, domain, metric, value)
    * frame: global size, per-domain composition and token share, quality
    * gate pass rates, exact-duplicate mass, and token-length quantiles
    * (p50/p90 via the histogram mart, exact to `lenBinWidth`). Every
    * value is an exact integer (counts or e6 rates) so the whole card
    * hash-compares across engines. Each section is one of the existing
    * single-pass reports — the card is composition, not new machinery:
    * ~4 corpus scans total, each reducing immediately to summary space. */
  def dataCard(df: DataFrame, idCol: String, domainCol: String,
      textCol: String, lenBinWidth: Long = 10L): DataFrame = {
    val row = (section: String, domain: Column, metric: String, v: Column) =>
      Seq(lit(section).as("section"), domain.as("domain"),
        lit(metric).as("metric"), v.cast("long").as("value"))
    def rows(section: String, domain: Column,
        mvs: (String, Column)*): Seq[Seq[Column]] =
      mvs.map { case (m, v) => row(section, domain, m, v) }.toSeq
    val corpus = df.agg(count(lit(1)).as("docs"),
      sum(TextAnalysis.tokenCount(col(textCol)).cast("long")).as("toks"),
      count_distinct(col(domainCol)).as("domains"))
    val corpusRows = rows("corpus", lit("*"),
      "docs" -> col("docs"), "total_tokens" -> col("toks"),
      "n_domains" -> col("domains"))
      .map(cs => corpus.select(cs: _*)).reduce(_.unionByName(_))
    val mix = domainMixingReport(df, domainCol, textCol)
    val mixRows = rows("domains", col("domain"),
      "docs" -> col("docs"), "total_tokens" -> col("total_tokens"),
      "share_e6" -> col("share_e6"))
      .map(cs => mix.select(cs: _*)).reduce(_.unionByName(_))
    val qual = corpusReportState(df, domainCol, textCol)
      .withColumn("pass_rate_e6", expr("passed_docs * 1000000L div docs"))
    val qualRows = rows("quality", col("domain"),
      "passed_docs" -> col("passed_docs"),
      "pass_rate_e6" -> col("pass_rate_e6"))
      .map(cs => qual.select(cs: _*)).reduce(_.unionByName(_))
    val dups = Dedup
      .dupGroups(df, idCol, TextAnalysis.fingerprint(col(textCol)))
      .agg(count(lit(1)).as("dup_groups"),
        coalesce(sum(col("copies") - 1), lit(0L)).as("dup_docs"))
    val dupRows = rows("dedup", lit("*"),
      "exact_dup_groups" -> col("dup_groups"),
      "exact_dup_docs" -> col("dup_docs"))
      .map(cs => dups.select(cs: _*)).reduce(_.unionByName(_))
    val lenQs = graft.quality.Sketches.histogramQuantiles(
      graft.quality.Sketches.histogramState(
        df.select(TextAnalysis.tokenCount(col(textCol)).cast("long")
          .as("__n")), Seq.empty, "__n", lenBinWidth),
      Seq.empty, lenBinWidth, Seq(500000L, 900000L))
    val lenRows = lenQs.select(lit("length").as("section"),
      lit("*").as("domain"),
      concat(lit("p"), (col("q_e6") / 10000).cast("int"),
        lit("_tokens_bin_lo")).as("metric"),
      col("bin_lo").cast("long").as("value"))
    corpusRows.unionByName(mixRows).unionByName(qualRows)
      .unionByName(dupRows).unionByName(lenRows)
  }

  /** Per-domain corpus composition: document count, token mass, tokens per
    * document, and each domain's share of the corpus token mass — the input
    * to domain-mixing weight decisions (and `Chunking.stratifiedHashSample`
    * keep-rates).
    *
    * Scale shape: one groupBy shuffle over the corpus computes the per-domain
    * masses; the share is a window over the GROUPED result, which is
    * |domains|-sized — domains are curation strata (sources, languages,
    * crawls), inherently few, so the single-partition window is a handful of
    * rows regardless of corpus size. */
  def domainMixingReport(df: DataFrame, domainCol: String, textCol: String): DataFrame = {
    val grouped = df.groupBy(col(domainCol).as("domain"))
      .agg(count(lit(1)).as("docs"),
        sum(TextAnalysis.tokenCount(col(textCol)).cast("long")).as("total_tokens"))
    grouped
      .withColumn("tokens_per_doc_e6",
        round(col("total_tokens").cast("double") / col("docs").cast("double") * 1e6)
          .cast("long"))
      .withColumn("share_e6",
        round(col("total_tokens").cast("double") /
          sum(col("total_tokens")).over(Window.partitionBy()).cast("double") * 1e6)
          .cast("long"))
  }

  /** The four signal columns in one fixed order, paired with the gate
    * rules below through the Signals holder — a positional swap cannot
    * silently cross the same-typed thresholds. */
  private final case class Signals(nTokens: Column, ttrE6: Column,
      avgLenE6: Column, dup2E6: Column) {
    def toCols: Seq[Column] = Seq(nTokens.as("n_tokens"), ttrE6.as("ttr_e6"),
      avgLenE6.as("avg_token_len_e6"), dup2E6.as("dup_2gram_frac_e6"))
  }

  /** The four Gopher rules over signal columns — the ONE place the rule
    * expressions and their audit order live, shared by the auditing
    * `qualityFilter` and the filtering `applyGate`. */
  private def gateRules(s: Signals, minTokens: Long, maxTokens: Long,
      minAvgTokenLenE6: Long, maxAvgTokenLenE6: Long,
      minTtrE6: Long, maxDup2E6: Long): Seq[(String, Column)] = Seq(
    "token_count" -> s.nTokens.between(minTokens, maxTokens),
    "avg_token_len" -> s.avgLenE6.between(minAvgTokenLenE6, maxAvgTokenLenE6),
    "ttr" -> (s.ttrE6 >= minTtrE6),
    "dup_2gram" -> (s.dup2E6 <= maxDup2E6))

  private def signals(c: Column): Signals = {
    def e6(x: Column): Column = round(x * lit(1e6)).cast("long")
    Signals(
      nTokens = TextAnalysis.tokenCount(c).cast("long"),
      ttrE6 = e6(TextAnalysis.typeTokenRatio(c)),
      avgLenE6 = e6(TextAnalysis.avgTokenLength(c)),
      dup2E6 = call_function("dup_gram_frac_e6", c, lit(2)))
  }

  /** Learned quality scoring — apply a TRAINED linear classifier (the
    * fastText/DCLM-style model-based filter that is the modern default
    * over rule gates) to every document: score = bias + Σ_token
    * w[bucket(token)], where bucket is the repo's one hash convention
    * (md5-first-8-hex mod `nBuckets` — exactly [[graft.ops.Features.hashFeatures]]'s
    * feature space, so weights trained on q194's coordinates apply
    * directly) and `weightsE6` holds the model's non-zero coordinates in
    * integer micro-units. Summing w over token OCCURRENCES ≡ Σ_buckets
    * count·w, so this IS the sparse dot product over the hashed bag of
    * words — computed ROW-LOCALLY as a fold over the token array against
    * a broadcast map literal: zero shuffle, zero join, no fitted
    * vocabulary to ship.
    *
    * `prob_e6` squashes the score through the rational "fast sigmoid"
    * σ̃(s) = 1/2 + s/(2·(1+|s|)) in exact integer arithmetic (Elliott's
    * logistic stand-in: monotone, bounded (0, 10⁶), exactly replayable
    * cross-engine — unlike exp(), whose last ulp is libm-specific and
    * would poison hash compares). Thresholding happens on `score_e6`
    * (monotone ≡ thresholding prob, without the approximation entering
    * the decision).
    *
    * Overflow: |w| ≤ 10⁹ and |bias| ≤ 10¹² enforced driver-side; the
    * accumulated |score| is gated in-plan at 10¹² (keeps the sigmoid's
    * ·5·10⁵ product under 2⁶³ by six orders) with the standard "coarsen
    * the unit" raise. Null text scores bias alone (the empty document). */
  def scoreLinearModel(df: DataFrame, idCol: String, textCol: String,
      weightsE6: Map[Int, Long], biasE6: Long, nBuckets: Int): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    require(weightsE6.nonEmpty, "weightsE6 must hold the model's non-zero " +
      "coordinates (an all-zero model scores bias everywhere - not a model)")
    require(weightsE6.keysIterator.forall(b => b >= 0 && b < nBuckets),
      s"weightsE6 keys must be buckets in [0, $nBuckets)")
    require(weightsE6.valuesIterator.forall(w => math.abs(w) <= 1000000000L),
      "weightsE6 values must be within +-1e9 micro-units")
    require(math.abs(biasE6) <= 1000000000000L,
      s"biasE6 must be within +-1e12, got $biasE6")
    val wMap = typedLit(weightsE6)
    val toks = filter(split(trim(col(textCol)), " "), t => t =!= "")
    val raw = lit(biasE6) + coalesce(
      aggregate(toks, lit(0L), (acc, t) =>
        acc + coalesce(
          element_at(wMap,
            (conv(substring(md5(t), 1, 8), 16, 10).cast("long") %
              nBuckets).cast("int")),
          lit(0L))),
      lit(0L))
    df.withColumn("score_e6",
        when(abs(raw) <= 1000000000000L, raw)
          .otherwise(raise_error(lit(
            "scoreLinearModel: |score| passed 1e12 micro-units; coarsen " +
              "the weight unit"))))
      .withColumn("prob_e6", expr(
        "500000L + (CASE WHEN score_e6 >= 0 " +
          "THEN (score_e6 * 500000L) div (1000000L + score_e6) " +
          "ELSE -((-score_e6 * 500000L) div (1000000L - score_e6)) END)"))
  }

  /** Gopher-style hard quality gate: token-count band, mean-word-length
    * band, type-token-ratio floor, duplicate-bigram ceiling. Emits the
    * signal columns, the verdict, and the FIRST failing rule's name (fixed
    * evaluation order, '' when passed) — the form a curation pipeline logs
    * for filter-rate audits. Row-local, zero shuffle. */
  def qualityFilter(df: DataFrame, idCol: String, textCol: String,
      minTokens: Long = 20L, maxTokens: Long = 90L,
      minAvgTokenLenE6: Long = 3000000L, maxAvgTokenLenE6: Long = 8000000L,
      minTtrE6: Long = 300000L, maxDup2E6: Long = 200000L): DataFrame = {
    val rules = gateRules(
      Signals(col("n_tokens"), col("ttr_e6"), col("avg_token_len_e6"),
        col("dup_2gram_frac_e6")),
      minTokens, maxTokens,
      minAvgTokenLenE6, maxAvgTokenLenE6, minTtrE6, maxDup2E6)
    df.select(col(idCol) +: signals(col(textCol)).toCols: _*)
      .withColumn("passed", rules.map(_._2).reduce(_ && _))
      .withColumn("fail_reason",
        rules.foldRight(lit(""): Column) { case ((name, ok), acc) =>
          when(!ok, lit(name)).otherwise(acc)
        })
  }

  /** Greedy best-first selection under a corpus token budget: keep the
    * prefix of documents, ordered by (score desc, id asc), whose running
    * token total stays within `budget` — how a curation pipeline cuts a
    * scored corpus down to a target training-token count. Output is the
    * selected rows plus their `cum_tokens` audit column (the running total
    * INCLUDING the row). Greedy prefix semantics, not knapsack: the first
    * document that would cross the budget is dropped even if a smaller,
    * lower-scored one would still fit.
    *
    * Scale shape — the naive form is ONE global-order window (single
    * reducer, the q44 anti-pattern); this decomposes it into (1) a
    * per-score token-mass aggregate whose running sum runs over the
    * |distinct scores|-sized summary (scores are micro-unit ints by
    * convention — bounded, broadcast back), and (2) a within-score prefix
    * window PARTITIONED by score, so the only serial work is the largest
    * tie class. Score granularity is the knob: coarser scores → bigger tie
    * classes → more parallel-summary work, finer → bigger summary. */
  def selectUnderTokenBudget(df: DataFrame, idCol: String, scoreCol: String,
      tokenCol: String, budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    // one core, two surfaces: the global cut is the per-domain cut over a
    // single constant domain
    selectUnderTokenBudgetPerDomain(
      df.withColumn("_budget_domain", lit("_all")),
      idCol, "_budget_domain", scoreCol, tokenCol,
      budgets = Map.empty, defaultBudget = budget)
      .drop("_budget_domain")
  }

  /** Per-domain corpus report card — the daily health dashboard of a
    * continuously-curated corpus: per domain, document count, token mass,
    * the hard-gate pass rate (same rules as [[qualityFilter]]), and exact
    * interpolated p50/p90 of the quality score. One grouped aggregate over
    * the corpus; every ratio is integer micro-units, quantiles are the
    * q35/q52-proven exact-percentile contract, so the report
    * hash-compares across engines. */
  def corpusReport(df: DataFrame, domainCol: String, textCol: String,
      minTokens: Long = 20L, maxTokens: Long = 90L,
      minAvgTokenLenE6: Long = 3000000L, maxAvgTokenLenE6: Long = 8000000L,
      minTtrE6: Long = 300000L, maxDup2E6: Long = 200000L): DataFrame = {
    val s = signals(col(textCol))
    val passed = gateRules(s, minTokens, maxTokens,
      minAvgTokenLenE6, maxAvgTokenLenE6, minTtrE6, maxDup2E6)
      .map(_._2).reduce(_ && _)
    df.select(col(domainCol).as("domain"),
        s.nTokens.as("_nt"),
        round(TextAnalysis.qualityScore(col(textCol)) * lit(1e6)).cast("long")
          .as("_score_e6"),
        passed.as("_passed"))
      .groupBy("domain")
      .agg(count(lit(1)).as("docs"),
        sum(col("_nt")).as("total_tokens"),
        count(when(col("_passed"), 1)).as("passed_docs"),
        expr("percentile(_score_e6, array(0.5, 0.9))").as("_qs"))
      .select(col("domain"), col("docs"), col("total_tokens"),
        col("passed_docs"),
        expr("passed_docs * 1000000L div docs").as("pass_rate_e6"),
        round(element_at(col("_qs"), 1)).cast("long").as("p50_score_e6"),
        round(element_at(col("_qs"), 2)).cast("long").as("p90_score_e6"))
  }

  /** The ALGEBRAIC per-domain corpus-report state: (domain, docs,
    * total_tokens, passed_docs) from one grouped pass — the subset of
    * [[corpusReport]] whose partials combine associatively (counts and
    * sums; the score quantiles are NOT algebraic and stay with the full
    * rebuild report). This frame IS the mart a continuously-ingested
    * corpus persists and [[corpusReportIncremental]] folds deltas into. */
  def corpusReportState(df: DataFrame, domainCol: String, textCol: String,
      minTokens: Long = 20L, maxTokens: Long = 90L,
      minAvgTokenLenE6: Long = 3000000L, maxAvgTokenLenE6: Long = 8000000L,
      minTtrE6: Long = 300000L, maxDup2E6: Long = 200000L): DataFrame =
    reportPartials(df, domainCol, textCol, minTokens, maxTokens,
      minAvgTokenLenE6, maxAvgTokenLenE6, minTtrE6, maxDup2E6)
      .groupBy("domain")
      .agg(count(lit(1)).as("docs"), sum(col("__nt")).as("total_tokens"),
        sum(col("__p")).as("passed_docs"))

  private def reportPartials(df: DataFrame, domainCol: String,
      textCol: String, minTokens: Long, maxTokens: Long,
      minAvgTokenLenE6: Long, maxAvgTokenLenE6: Long,
      minTtrE6: Long, maxDup2E6: Long): DataFrame = {
    val s = signals(col(textCol))
    val passed = gateRules(s, minTokens, maxTokens,
      minAvgTokenLenE6, maxAvgTokenLenE6, minTtrE6, maxDup2E6)
      .map(_._2).reduce(_ && _)
    df.select(col(domainCol).as("domain"), s.nTokens.as("__nt"),
      when(passed, 1L).otherwise(0L).as("__p"))
  }

  /** Per-domain INCREMENTAL corpus report — the continuous-ingest form
    * of [[corpusReport]]: fold an append-only delta batch into the
    * persisted [[corpusReportState]] via the algebraic mart machinery
    * (`IncrementalMaterializer.refreshAlgebraic` — the old state row IS
    * a sufficient partial, so the historical corpus is NEVER rescanned;
    * only the delta pays signal extraction), then derive the ratio
    * columns from the folded sums. Delta must be append-only rows (the
    * refreshAlgebraic contract). A day's report over a 100 TB corpus
    * costs one pass over the day's arrivals plus a |domains|-sized join.
    * Output: domain, docs, total_tokens, passed_docs, pass_rate_e6,
    * tokens_per_doc_e6 — exactly ≡ rebuilding the report from scratch
    * (the q218 invariant, oracle-checked). */
  def corpusReportIncremental(state: DataFrame, delta: DataFrame,
      domainCol: String, textCol: String,
      minTokens: Long = 20L, maxTokens: Long = 90L,
      minAvgTokenLenE6: Long = 3000000L, maxAvgTokenLenE6: Long = 8000000L,
      minTtrE6: Long = 300000L, maxDup2E6: Long = 200000L): DataFrame = {
    import graft.gold.IncrementalMaterializer
    import graft.gold.IncrementalMaterializer.AlgebraicMeasure
    val deltaRows = reportPartials(delta, domainCol, textCol, minTokens,
      maxTokens, minAvgTokenLenE6, maxAvgTokenLenE6, minTtrE6, maxDup2E6)
    IncrementalMaterializer.refreshAlgebraic(state, deltaRows,
        Seq("domain"),
        Seq(AlgebraicMeasure("docs", "count", "__nt"),
          AlgebraicMeasure("total_tokens", "sum", "__nt"),
          AlgebraicMeasure("passed_docs", "sum", "__p")))
      .select(col("domain"), col("docs"), col("total_tokens"),
        col("passed_docs"),
        expr("passed_docs * 1000000L div docs").as("pass_rate_e6"),
        expr("total_tokens * 1000000L div docs").as("tokens_per_doc_e6"))
  }

  /** Per-domain token budgets — the domain-mixing decision APPLIED as hard
    * token targets: within each domain, the greedy best-first prefix under
    * that domain's budget (`budgets`, else `defaultBudget`). This is how a
    * mixing weight from [[domainMixingReport]] becomes an actual corpus:
    * share × total-token-target = the domain's `maxTokens`. Same semantics
    * per domain as [[selectUnderTokenBudget]]; the score-summary window is
    * PARTITIONED by domain here, so even the summary pass parallelizes. */
  def selectUnderTokenBudgetPerDomain(df: DataFrame, idCol: String,
      domainCol: String, scoreCol: String, tokenCol: String,
      budgets: Map[String, Long], defaultBudget: Long): DataFrame = {
    require(defaultBudget >= 0 && budgets.values.forall(_ >= 0),
      "budgets must be >= 0")
    // null-safe throughout (the winsorize lesson): NULL scores/domains form
    // their own groups, a NULL score sorts LAST in the desc order (lowest
    // priority, matching the naive window's desc_nulls_last), and the join
    // back is <=> — a plain equi-join would silently drop null-keyed rows
    val masses = df.groupBy(col(domainCol).as("_d"), col(scoreCol).as("_s"))
      .agg(sum(col(tokenCol)).cast("long").as("_mass"))
    val wScore = Window.partitionBy(col("_d"))
      .orderBy(col("_s").desc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumBefore = masses
      .withColumn("_cum_before", sum(col("_mass")).over(wScore) - col("_mass"))
      .select(col("_d"), col("_s"), col("_cum_before"))
    val wIn = Window.partitionBy(col(domainCol), col(scoreCol))
      .orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val budgetCol = budgets.foldLeft(lit(defaultBudget)) {
      case (acc, (domain, b)) =>
        when(col(domainCol) === lit(domain), lit(b)).otherwise(acc)
    }
    df.join(broadcast(cumBefore),
        col(domainCol) <=> col("_d") && col(scoreCol) <=> col("_s"))
      .withColumn("cum_tokens",
        col("_cum_before") + sum(col(tokenCol).cast("long")).over(wIn))
      .filter(col("cum_tokens") <= budgetCol)
      .drop("_d", "_s", "_cum_before")
  }

  /** Percentile rank of every row's value within the corpus —
    * `cume_dist` semantics (fraction of rows with value <= mine) in exact
    * integer micro-units, the normalization that makes quality thresholds
    * transferable across corpora ("drop the bottom 10%" instead of a raw
    * score cut). NO window ever touches row data: counts per distinct
    * value, a running sum over that summary, and a broadcast join back.
    * Null values rank highest (nulls-last order), matching the desc-based
    * selection operators' lowest-priority convention.
    *
    * CARDINALITY CONTRACT (same as [[selectUnderTokenBudget]]): the
    * broadcast summary is \|distinct values\|-sized, so `valueCol` must be
    * bounded-cardinality — the micro-unit integer scores every signal in
    * this library emits (quality_score_e6, surprisal bits, token counts)
    * qualify; a continuous raw double does not (its summary is \|rows\|-
    * sized and the broadcast/driver blows up). Quantize continuous scores
    * to e6 micro-units first. */
  def percentileRank(df: DataFrame, valueCol: String): DataFrame = {
    val counts = df.groupBy(col(valueCol).as("_v"))
      .agg(count(lit(1)).as("_n"))
    val wVal = Window.orderBy(col("_v").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts
      .withColumn("_cum_through", sum(col("_n")).over(wVal))
      .select(col("_v"), col("_cum_through"))
    val total = df.agg(count(lit(1)).as("_total"))
    df.join(broadcast(cum), col(valueCol) <=> col("_v"))
      .crossJoin(broadcast(total))
      .withColumn("pct_rank_e6",
        expr("_cum_through * 1000000L div _total"))
      .drop("_v", "_cum_through", "_total")
  }

  /** Curriculum buckets: every row's global rank under (orderCol asc,
    * id asc) mapped to one of `nBuckets` contiguous stages —
    * `bucket = (rank−1)·n div total` — the length/difficulty-ordered
    * bucketing a curriculum-training schedule reads (stage 0 = shortest/
    * easiest first). The explicit floor formula is used instead of SQL
    * `ntile` because ntile's remainder-distribution rule varies by engine
    * while this is pure integer math on both sides.
    *
    * Scale shape: same decomposition as [[selectUnderTokenBudget]] — global
    * rank = (rows in earlier order-values, from the \|distinct values\|-sized
    * summary) + (row_number within the tie class, partitioned window). No
    * global-order window ever touches row data. Same CARDINALITY CONTRACT
    * as [[percentileRank]]: `orderCol` must be bounded-cardinality (the
    * broadcast summary is \|distinct values\|-sized) — quantized micro-unit
    * scores and token counts qualify, continuous raw doubles do not. */
  def curriculumBuckets(df: DataFrame, idCol: String, orderCol: String,
      nBuckets: Int): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val counts = df.groupBy(col(orderCol).as("_o"))
      .agg(count(lit(1)).as("_n"))
    val wOrder = Window.orderBy(col("_o").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumBefore = counts
      .withColumn("_rank_before", sum(col("_n")).over(wOrder) - col("_n"))
      .select(col("_o"), col("_rank_before"))
    val total = df.agg(count(lit(1)).as("_total"))
    val wIn = Window.partitionBy(col(orderCol)).orderBy(col(idCol))
    df.join(broadcast(cumBefore), col(orderCol) <=> col("_o"))
      .crossJoin(broadcast(total))
      .withColumn("rank",
        col("_rank_before") + row_number().over(wIn).cast("long"))
      .withColumn("bucket",
        expr(s"(rank - 1L) * ${nBuckets}L div _total"))
      .drop("_o", "_rank_before", "_total")
  }

  /** Cross-split leakage audit — the VERIFIER for any train/eval split:
    * given per-doc split assignments and near-dup candidate pairs, count
    * pairs per (split, split) cell (pair normalized lo/hi so A→B and B→A
    * land together). Off-diagonal cells are leaked near-dup pairs — eval
    * examples whose near-copy sits in train. Run it after ANY split
    * (including an inherited one); `Chunking.leakageSafeSplit` is the
    * assignment that drives the off-diagonal to zero by construction.
    *
    * Scale: two id-equi-joins of the pairs frame against the (id, split)
    * projection — pairs are already bucket-capped by the generators, and
    * the grouped output is at most |splits|² rows. */
  def splitLeakageAudit(df: DataFrame, idCol: String, splitCol: String,
      pairs: DataFrame): DataFrame = {
    val s = df.select(col(idCol), col(splitCol))
    pairs.select("id_a", "id_b")
      .join(s.select(col(idCol).as("id_a"), col(splitCol).as("_sa")), "id_a")
      .join(s.select(col(idCol).as("id_b"), col(splitCol).as("_sb")), "id_b")
      .groupBy(least(col("_sa"), col("_sb")).as("split_lo"),
        greatest(col("_sa"), col("_sb")).as("split_hi"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  // ---- config-driven curation stage (curation: block) ---------------------

  /** The gate as a corpus FILTER: keeps rows passing the same rules
    * `qualityFilter` audits, with every original column intact. Signals are
    * recomputed inline on the row — zero shuffle, no join-back against the
    * audit frame. */
  def applyGate(df: DataFrame, g: QualityGateSpec): DataFrame = {
    val passed = gateRules(signals(col(g.textColumn)),
      g.minTokens, g.maxTokens, g.minAvgTokenLenE6, g.maxAvgTokenLenE6,
      g.minTtrE6, g.maxDup2E6)
      .map(_._2).reduce(_ && _)
    df.filter(passed)
  }

  /** The learned model as a corpus FILTER: keeps rows whose
    * [[scoreLinearModel]] score clears the configured threshold, with
    * every original column intact and `score_e6`/`prob_e6` riding
    * through as audit columns (the n_redactions pattern). Row-local. */
  def applyQualityModel(df: DataFrame, m: QualityModelSpec): DataFrame =
    scoreLinearModel(df, m.idColumn, m.textColumn, m.weightsE6, m.biasE6,
      m.nBuckets)
      .filter(col("score_e6") >= m.minScoreE6)

  /** Near-dup removal dispatch: every strategy resolves to candidate pairs →
    * connected components → min-id survivor, using the scale-shaped pair
    * generators (inverted index / banded / LSH-bucketed — never all-pairs). */
  def applyDedup(df: DataFrame, d: NearDedupSpec): DataFrame = d.strategy match {
    case "exact" =>
      Dedup.dedupeByKey(df, d.idColumn,
        TextAnalysis.fingerprint(col(d.contentColumn)))
    case "canonical" =>
      // exact dedup on the case/whitespace/punct-normalized content
      Dedup.dedupeByKey(df, d.idColumn,
        md5(Dedup.canonicalForm(col(d.contentColumn))))
    case "canonical_unicode" =>
      // exact dedup on the NFC-composed, unicode-folded content — the
      // multilingual-crawl variant of `canonical`
      Dedup.dedupeByKey(df, d.idColumn,
        md5(Dedup.canonicalFormUnicode(col(d.contentColumn))))
    case "ngram_jaccard" =>
      val pairs = Dedup.jaccardPairs(df, d.idColumn, d.contentColumn,
          d.ngram, d.maxShingleFreq)
        .filter(col("jaccard") > d.threshold).select("id_a", "id_b")
      Dedup.removeNearDupes(df, d.idColumn, Dedup.dupClusters(pairs))
    case "minhash_lsh" =>
      val pairs = Dedup.lshJaccardPairs(df, d.idColumn, d.contentColumn,
          d.ngram, d.threshold, d.numHashes, d.numBands)
        .select("id_a", "id_b")
      Dedup.removeNearDupes(df, d.idColumn, Dedup.dupClusters(pairs))
    case "simhash" =>
      val pairs = Dedup.simHashPairs64(df, d.idColumn, d.contentColumn,
          d.maxHamming).select("id_a", "id_b")
      Dedup.removeNearDupes(df, d.idColumn, Dedup.dupClusters(pairs))
    case "embedding_lsh" =>
      Dedup.removeNearDupesLsh(df, d.idColumn, d.contentColumn,
        d.threshold, d.numPlanes, d.dim)
    case "semantic" =>
      Dedup.semanticDedup(df, d.idColumn, d.contentColumn,
        d.kmeansK, d.kmeansIters, d.threshold)
    case "prefix" =>
      Dedup.removePrefixDupes(df, d.idColumn, d.contentColumn,
        d.prefixLen, d.maxBucketSize)
    case "span_mask" =>
      // masking, not removal: repeated >= spanGram-token interior runs
      // collapse to maskToken everywhere but their first occurrence; row
      // count unchanged, content column rewritten in place (token-joined,
      // so whitespace normalizes)
      Dedup.maskDuplicateSpans(df, d.idColumn, d.contentColumn,
          d.spanGram, d.minCopies, d.maxSpanFreq, d.maskToken)
        .withColumn(d.contentColumn, col("masked_text"))
        .drop("n_tokens", "n_masked", "n_spans", "masked_text")
    case "winnow" =>
      // MOSS windowed-min fingerprints: the w x-cheaper candidate index
      // with the shared-run guarantee; same cluster -> min-id removal
      val pairs = Dedup.winnowPairs(df, d.idColumn, d.contentColumn,
          d.ngram, d.winnowWindow, d.maxShingleFreq, d.minSharedFingerprints)
        .select("id_a", "id_b")
      Dedup.removeNearDupes(df, d.idColumn, Dedup.dupClusters(pairs))
    case "winnow_jaccard" =>
      // ngram_jaccard's clusters from the ~1/w winnow candidate index,
      // every candidate verified with its exact jaccard — the scale form
      // of ngram_jaccard (set min_shared_fingerprints 1 for max recall;
      // a true pair is missed only when the docs share no token run of
      // >= winnow_window + ngram - 1 surviving the frequency cap)
      val pairs = Dedup.winnowJaccardPairs(df, d.idColumn, d.contentColumn,
          d.ngram, d.threshold, d.winnowWindow, d.maxShingleFreq,
          d.minSharedFingerprints)
        .select("id_a", "id_b")
      Dedup.removeNearDupes(df, d.idColumn, Dedup.dupClusters(pairs))
    case "keep_best" =>
      // same pair machinery as ngram_jaccard; the survivor policy changes
      // from min-id to best-score (config guarantees scoreColumn is set)
      val pairs = Dedup.jaccardPairs(df, d.idColumn, d.contentColumn,
          d.ngram, d.maxShingleFreq)
        .filter(col("jaccard") > d.threshold).select("id_a", "id_b")
      Dedup.removeNearDupesKeepBest(df, d.idColumn, Dedup.dupClusters(pairs),
        d.scoreColumn.getOrElse(throw new IllegalArgumentException(
          "keep_best dedup needs score_column")))
    case other => throw new IllegalArgumentException(
      s"unknown dedup strategy '$other' (supported: " +
        s"${NearDedupSpec.Strategies.toSeq.sorted.mkString(", ")})")
  }

  /** Domain mixing as a deterministic per-stratum hash sample — the
    * up/down-sampling decision `domainMixingReport` informs, applied.
    * With `temperature` set, the rates are DERIVED from corpus counts via
    * [[temperatureSample]] instead (its `rate_e6` audit column rides
    * through, like redactPii's n_redactions). */
  def applyMixing(df: DataFrame, m: MixingSpec): DataFrame =
    m.temperature match {
      case Some(alpha) =>
        temperatureSample(df, m.keyColumn, m.domainColumn, alpha)
      case None =>
        df.filter(Chunking.stratifiedHashSample(col(m.keyColumn),
          col(m.domainColumn), m.rates, m.defaultPct))
    }

  /** Temperature-scaled domain keep-rates — the `p^α` sampling trick of
    * multilingual/multi-domain LLM training (XLM, mT5): flatten the domain
    * distribution toward uniform without hand-picking rates. Target share
    * ∝ count^α, realized as downsampling with keep-rate
    * (c_min/c_d)^(1−α) in e6 micro-units — the smallest domain keeps
    * everything (rate 10⁶), larger domains shed mass; α=1 keeps the corpus
    * untouched, α=0 equalizes domains. α=0.5 (the common setting) computes
    * via `sqrt` — IEEE-correctly-rounded in every engine, so rates
    * hash-compare; other α go through `pow`, whose last ulp is
    * libm-specific (engine-local — don't oracle them). One grouped count;
    * output is |domains|-sized. */
  def temperatureSampleRates(df: DataFrame, domainCol: String,
      alpha: Double): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0,1], got $alpha")
    val counts = df.groupBy(col(domainCol)).agg(count(lit(1)).as("n_docs"))
    val minN = counts.agg(min(col("n_docs")).as("_min"))
    val ratio = col("_min").cast("double") / col("n_docs").cast("double")
    val scaled =
      if (alpha == 0.5) sqrt(ratio) else pow(ratio, lit(1.0 - alpha))
    counts.crossJoin(broadcast(minN))
      .withColumn("rate_e6", floor(scaled * 1e6).cast("long"))
      .drop("_min")
  }

  /** [[temperatureSampleRates]] APPLIED: deterministic md5-bucket gate per
    * row (a row's fate depends only on its key and its domain's corpus
    * count — stable across runs, engines, partitionings). The rates frame
    * is |domains|-sized and broadcast; the gate is row-local — one grouped
    * count + one broadcast join at any corpus scale. `rate_e6` rides along
    * as the audit column.
    *
    * Null domains: rates come from the same groupBy that formed a null
    * group, so the join back is NULL-SAFE (`<=>`) — null-domain rows keep
    * their own group's rate instead of silently vanishing through a plain
    * equi-join (matching the explicit-rates mixing path, where null strata
    * keep defaultPct). */
  def temperatureSample(df: DataFrame, idCol: String, domainCol: String,
      alpha: Double): DataFrame = {
    val rates = temperatureSampleRates(df, domainCol, alpha)
      .select(col(domainCol).as("_rate_domain"), col("rate_e6"))
    val bucket =
      conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
        .cast("long") % lit(1000000L)
    df.join(broadcast(rates), col(domainCol) <=> col("_rate_domain"))
      .drop("_rate_domain")
      .filter(bucket < col("rate_e6"))
  }

  /** The full config-driven stage in reference order: language filter →
    * gate → learned model → PII scrub → dedup → mix → budget cut. Each
    * sub-stage is optional; absent blocks pass the frame through. The
    * language filter runs first (cheapest row-local cut, and later
    * signals assume a known language); the learned model scores only
    * rule-gate survivors (the DCLM ordering — cheap hard gates prune
    * before the model spends per-token hash work, and its score_e6/
    * prob_e6 audit columns ride through); redaction runs after the
    * filters (no regex cost on rejected docs) and before dedup
    * (fingerprints see the text that ships); its `n_redactions` audit
    * column rides through to the output. The budget cut runs LAST — the
    * final size control over whatever survived every other filter (its
    * `cum_tokens` audit column rides through too).
    *
    * Whenever a dedup is configured, its input is materialized once (an
    * eager `localCheckpoint`, one job). Every consumer of the curated frame
    * — its count, each gold mart — reads the dedup's plan, and the pair
    * strategies read their input again for candidates, verification and
    * the removal anti-join; without the checkpoint each of those reads
    * re-runs the row-local language/gate/model/PII prefix from the scan.
    * The checkpoint's blocks are released once the frame is
    * garbage-collected, so nothing is left for a caller to unpersist. */
  def curate(df: DataFrame, spec: CurationSpec): DataFrame = {
    val inLang = spec.language.fold(df)(applyLanguageFilter(df, _))
    val ruleGated = spec.gate.fold(inLang)(applyGate(inLang, _))
    val gated = spec.model.fold(ruleGated)(applyQualityModel(ruleGated, _))
    val scrubbed = if (spec.pii.isEmpty) gated else redactPii(gated, spec.pii)
    val deduped = spec.dedup.fold(scrubbed)(
      applyDedup(scrubbed.localCheckpoint(eager = true), _))
    val mixed = spec.mixing.fold(deduped)(applyMixing(deduped, _))
    spec.budget.fold(mixed)(applyBudget(mixed, _))
  }

  /** Language gate — runs FIRST (the cheapest reliable row-local filter,
    * and every later signal assumes a known language). Keep-list
    * semantics: "und" survives only when explicitly listed. */
  def applyLanguageFilter(df: DataFrame, l: LanguageFilterSpec): DataFrame =
    df.filter(TextAnalysis.langId(col(l.textColumn)).isin(l.keep: _*))

  /** Segment-level boilerplate REMOVAL — the CCNet/C4 curation step that
    * [[TextAnalysis.interDocRepetition]] only scores: split each document
    * into non-overlapping `segTokens`-token segments, count each distinct
    * segment's document frequency corpus-wide, DROP segments appearing in
    * `maxDf`-or-more documents (navigation bars, license blurbs, templated
    * headers — the text that repeats across pages verbatim), and reassemble
    * the surviving segments in original order. Emits the rewritten text
    * plus the audit columns a curation report aggregates:
    * (id, clean_text, n_segments, n_kept, boiler_frac_e6).
    *
    * Scale shape: segmentation is row-local (one `transform` over a
    * `sequence` of segment indices — the text never explodes to one row
    * per TOKEN, only per segment). Document frequency is a grouped
    * count-distinct in SEGMENT-VOCABULARY space keyed by the md5 of the
    * segment (fixed-width shuffle keys; distinct-per-doc first, so the df
    * count is one exact grouped count, never a count(distinct) over raw
    * rows), joined back onto the exploded segments by hash — the same
    * AQE-skew-splittable join posture as interDocRepetition; a count
    * window over the hash partition would buffer every document carrying
    * a hot boilerplate segment in ONE task. Reassembly is one keyed
    * grouped aggregate (`array_sort` of (seg_idx, seg) structs — order
    * restored inside the agg, no window). Docs whose every segment was
    * boilerplate (or with null/empty text) re-enter from a column-pruned
    * id-only left join with clean_text = '' — dropped-to-empty is a
    * visible outcome, not a lost row.
    *
    * Determinism: segment boundaries are integer arithmetic on token
    * positions; the fraction is floor-division micro-units of exact
    * integers; md5 is identical hex on every engine — the whole output
    * hash-compares (oracle q116). */
  def stripBoilerplateSegments(df: DataFrame, idCol: String, textCol: String,
      segTokens: Int, maxDf: Int): DataFrame = {
    require(segTokens >= 1 && maxDf >= 2,
      s"bad stripBoilerplateSegments params: segTokens=$segTokens maxDf=$maxDf")
    val toks = when(coalesce(length(trim(col(textCol))), lit(0)) === 0,
      typedlit(Seq.empty[String])).otherwise(split(trim(col(textCol)), " "))
    // row-local segmentation: seg i = tokens [i*W, i*W+W)
    val segsCol = when(size(col("_toks")) === 0, typedlit(Seq.empty[String]))
      .otherwise(transform(
        sequence(lit(0), expr(s"(size(_toks) - 1) div $segTokens").cast("int")),
        i => array_join(
          slice(col("_toks"), i * segTokens + 1, lit(segTokens)), " ")))
    val segs = df
      .select(col(idCol).as("doc_id"), toks.as("_toks"))
      .select(col("doc_id"), posexplode(segsCol).as(Seq("seg_idx", "seg")))
      .withColumn("h", md5(col("seg")))
    // df in segment-vocabulary space: distinct (h, doc) first, then one
    // exact grouped count per h
    val dfCounts = segs.select("h", "doc_id").distinct()
      .groupBy("h").agg(count(lit(1)).as("_df"))
    val rebuilt = segs.join(dfCounts, Seq("h"))
      .filter(col("_df") < maxDf)
      .groupBy("doc_id")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
          s => s.getField("seg")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    df.select(col(idCol).as("doc_id"),
        size(toks).as("n_segments_toks"))
      .withColumn("n_segments",
        expr(s"(n_segments_toks + ${segTokens - 1}) div $segTokens").cast("long"))
      .drop("n_segments_toks")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_segments"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .withColumn("boiler_frac_e6",
        when(col("n_segments") === 0, lit(0L))
          .otherwise(expr("(n_segments - n_kept) * 1000000L div n_segments")))
  }

  /** The budget cut from config. `scoreColumn`/`tokenColumn` must exist on
    * the frame as numeric columns — derive them in silver
    * (`derived_columns`) the same way `sessions:` sources its ts_us column;
    * a missing name fails in Spark's analyzer with the column list.
    * Global (`max_tokens`) and per-domain (`per_domain`) modes are
    * exclusive — the loader validates; the dispatch re-checks loudly. */
  def applyBudget(df: DataFrame, b: BudgetSpec): DataFrame =
    (b.maxTokens, b.perDomain.nonEmpty) match {
      case (Some(max), false) =>
        selectUnderTokenBudget(df, b.idColumn, b.scoreColumn, b.tokenColumn,
          max)
      case (None, true) =>
        selectUnderTokenBudgetPerDomain(df, b.idColumn,
          b.domainColumn.getOrElse(throw new IllegalArgumentException(
            "per-domain budget needs domain_column")),
          b.scoreColumn, b.tokenColumn, b.perDomain,
          b.defaultDomainTokens.getOrElse(throw new IllegalArgumentException(
            "per-domain budget needs default_domain_tokens")))
      case _ => throw new IllegalArgumentException(
        "curation.budget needs exactly one of max_tokens | per_domain")
    }
}
