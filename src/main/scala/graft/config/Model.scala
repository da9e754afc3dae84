package graft.config

/** Declarative pipeline config model — the Scala equivalent of the
  * reference's `config/pipelines/lakehouse_config.yaml` surface
  * (reference: src/config_loader.py:21-222, silver/jobs/bronze_to_silver.py:311-349,
  * gold/jobs/build_gold_layer.py:58-187).
  *
  * The model is plain case classes so a YAML/JSON front-end (jackson) or
  * hand-construction in code both work. Semantics, in reference order:
  * rename → cast → derive → filter → dedupe (silver), then grouped
  * measure models (gold).
  */
final case class CastSpec(column: String, dataType: String)

final case class DerivedColumn(name: String, expression: String)

/** orderBy entries accept the reference's "col [ASC|DESC]" string syntax
  * (bronze_to_silver.py:405-418). */
final case class DedupeSpec(keys: Seq[String], orderBy: Seq[String])

final case class SilverSpec(
    renames: Seq[(String, String)] = Nil,
    casts: Seq[CastSpec] = Nil,
    derived: Seq[DerivedColumn] = Nil,
    filters: Seq[String] = Nil,
    dedupe: Option[DedupeSpec] = None)

/** A gold mart: config-generic measure engine (reference A5,
  * lakehouse_config.yaml:239-331). `groupBy` entries may be bare columns or
  * SQL expressions with an alias ("year(ts) AS year"); `measures` are SQL
  * aggregate expressions. */
final case class Measure(name: String, expression: String)

/** `rollup`/`cube` switch the groupBy to the multi-level grouping-set
  * form (every hierarchy level / the full 2^n lattice in ONE aggregate,
  * plus a `gid` grouping-set bitmask column — `ops/Grouping` semantics).
  * Mutually exclusive; incompatible with incremental refresh, whose
  * MERGE keys assume one grouping set. */
final case class GoldModel(
    name: String,
    groupBy: Seq[String],
    measures: Seq[Measure],
    filters: Seq[String] = Nil,
    orderBy: Seq[String] = Nil,
    limit: Option[Int] = None,
    rollup: Boolean = false,
    cube: Boolean = false)

/** Quality-check configs (reference Q1-Q12 surface,
  * src/data_quality/quality_checks.py + anomaly_detection.py). */
final case class RangeCheck(column: String, min: Option[Double], max: Option[Double])
final case class InSetCheck(column: String, allowed: Seq[String])

/** Value-level regex expectation (expect_column_values_to_match_regex,
  * great_expectations.py:95-98): non-null values must match `pattern`
  * (unanchored search — anchor explicitly for full-match). */
final case class RegexCheck(column: String, pattern: String)

/** One PII scrubbing rule (curation.pii[]): substrings of `column` matching
  * `pattern` are replaced by `replacement`. Rules apply in sequence, so a
  * later rule on the same column sees the earlier rule's output. */
final case class PiiRule(column: String, pattern: String,
    replacement: String = "[REDACTED]")

object PiiRule {
  /** Named baseline patterns for `curation.pii[].preset` (standard published
    * regex shapes, restricted to the Java-regex/RE2 syntax intersection so
    * SQL-engine audits replay redaction identically). Production deployments
    * tune per jurisdiction via raw `pattern`. */
  val Presets: Map[String, String] = Map(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ipv4" -> "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b",
    // long digit runs, optionally dash/space-separated (phone numbers,
    // account ids, SSN-shaped groups)
    "numeric_id" -> "[0-9][0-9 -]{6,}[0-9]")
}

/** Q5-Q7 — a great-expectations-style aggregate expectation: the observed
  * scalar of `kind` ("mean_between" | "row_count_between" |
  * "unique_count_between") over `column` must land in [lo, hi]
  * (great_expectations.py:320-362). */
final case class ExpectationSpec(
    kind: String,
    column: String = "*",
    lo: Double = Double.NegativeInfinity,
    hi: Double = Double.PositiveInfinity)

object ExpectationSpec {
  /** The supported kinds — validated at config load AND in Checks.profilePlan,
    * so a typo'd kind fails loudly instead of silently disabling a gate. */
  val Kinds: Set[String] =
    Set("mean_between", "row_count_between", "unique_count_between")
}

/** Functional-dependency contract: every `lhs` tuple must map to exactly
  * one `rhs` value (Checks.fdViolations semantics — null counts as a
  * contradictory value of its own). */
final case class FdCheck(lhs: Seq[String], rhs: String)

/** Benford first-digit contract on a money-like column
  * (Anomaly.benfordReport): failedCount = digits whose χ²_e6 contribution
  * exceeds `maxChi2E6`. */
final case class BenfordCheck(column: String, maxChi2E6: Long = 50000000L)

/** Weekly-seasonal residual contract (Anomaly.seasonalResiduals): the
  * check aggregates `valueColumn` to an exact e2 daily mass per
  * (`groupBy`, day = tsColumn div 86400e9 — tsColumn is the library's
  * epoch-nanos BIGINT) and scores each day against its day-mod-`period`
  * slot baseline; failedCount = days with |z_e6| > `maxAbsZE6`. */
final case class SeasonalCheck(groupBy: Seq[String], tsColumn: String,
    valueColumn: String, period: Int = 7, maxAbsZE6: Long = 3000000L)

/** Metric co-movement contract (Anomaly.metricCorrelations) over the same
  * derived daily series: failedCount = unordered type pairs with
  * |corr_e6| >= `minAbsCorrE6` — near-perfectly coupled metrics are
  * redundant gauges or an incident signature, either worth a page. */
final case class CorrelationCheck(typeColumn: String, tsColumn: String,
    valueColumn: String, minAbsCorrE6: Long = 950000L)

/** Concentration contract (Anomaly.hhiReport): failedCount = groups
  * whose category HHI exceeds `maxHhiE6` — one category (user, source,
  * domain) holding more than the threshold's share-squared mass is a
  * bot/hot-key/collapsed-mix alarm. Empty groupBy = one global group. */
final case class HhiCheck(groupBy: Seq[String], categoryColumn: String,
    maxHhiE6: Long = 250000L)

/** Period-over-period drop contract (TimeSeries.periodOverPeriod over
  * the daily e2 mass per `typeColumn`): failedCount = (key, period)
  * cells whose pct_change_e6 < −`maxDropE6` — the dashboard drop
  * detector as a gate. Chain-broken periods (a silent day) report null
  * change and never count. */
final case class PopCheck(typeColumn: String, tsColumn: String,
    valueColumn: String, periodDays: Long = 1L, maxDropE6: Long = 500000L)

/** Quantile-band contract (Sketches.histogramState/histogramQuantiles):
  * failedCount = groups whose q-quantile BIN lower edge (the mart's
  * deterministic estimate, exact to `binWidth`) falls outside
  * [minValue, maxValue] — the "p95 per type must stay under X" /
  * "p50 doc length per source in band" alarm, read from histogram
  * state without buffering a group's values. `valueColumn` must be
  * integral (scale doubles to fixed-point first, the micro-unit
  * convention). At least one bound must be set. */
final case class QuantileCheck(groupBy: Seq[String], valueColumn: String,
    binWidth: Long, qE6: Long = 500000L, minValue: Option[Long] = None,
    maxValue: Option[Long] = None)

/** Approximate unique-count-between contract (the scale form of the
  * exact `unique_count_between` expectation, which pays a full
  * countDistinct shuffle): failedCount = groups whose KMV-sketch
  * distinct ESTIMATE (quality.Kmv — replayable md5 bottom-k, ≤ `k`
  * longs of state per group) falls outside [minCount, maxCount].
  * Bounds are on the estimate, whose relative error is ~1/√k — size
  * the band accordingly (k=256 ≈ ±6%). Empty groupBy = one global
  * group. At least one bound must be set. */
final case class DistinctCheck(groupBy: Seq[String], itemColumn: String,
    k: Int = 256, minCount: Option[Long] = None,
    maxCount: Option[Long] = None)

/** Pairwise set-overlap contract (quality.Kmv.overlapReport): failedCount
  * = (type_a, type_b) pairs whose estimated Jaccard over the per-type
  * `itemColumn` sets exceeds `maxJaccardE6` — the duplicated-audience /
  * contaminated-split alarm ("train and eval share 40% of their users"),
  * read from ≤ k longs per type with no exact pass. Error ~1/√k on the
  * Jaccard; size the threshold accordingly. */
final case class OverlapCheck(typeColumn: String, itemColumn: String,
    k: Int = 256, maxJaccardE6: Long = 500000L)

/** Directional-containment contract (quality.Kmv.containmentReport) —
  * the declarative DECONTAMINATION gate: failedCount = (A-group ×
  * B-group) pairs whose estimated containment |A∩B|/|A| exceeds
  * `maxContainmentE6` — "no eval slice may be more than X% contained in
  * any training domain", which Jaccard alone misses when the training
  * side dwarfs the eval side. Side A (the contained side) is the rows
  * matching `aFilter` (optional SQL predicate) grouped by `aTypeColumn`;
  * side B the rows matching `bFilter` grouped by `bTypeColumn`; both
  * sides read item sets from `itemColumn`, each paying one ≤ `k`-long
  * sketch aggregate. Self pairs (type_a = type_b) are excluded ONLY
  * when the two sides are the same set — same grouping column AND
  * identical filters, compared as TEXT after whitespace collapsing
  * ("x=1" ≡ "x = 1"; "x=1" vs "1=x" are NOT recognized as equal —
  * write semantically identical a/b filters with identical text, or
  * the self pairs, always 100% contained, fail the gate
  * unconditionally); a set is always contained in itself. With
  * disjoint filters over one column, the same-name pair (eval lang=en
  * inside train lang=en) is exactly the leak being gated and counts.
  * Estimator noise can push the estimate past 10⁶ (clamped at
  * 10⁹); error ~1/√k on the ratio — size the threshold accordingly. */
final case class ContainmentCheck(aTypeColumn: String, bTypeColumn: String,
    itemColumn: String, aFilter: Option[String] = None,
    bFilter: Option[String] = None, k: Int = 256,
    maxContainmentE6: Long = 500000L)

/** Novelty-collapse contract (quality.Kmv.rollingDistinct cumulative
  * mode, the q257/q261 growth curve): failedCount = days — after the
  * first `warmupDays` days — whose estimated NEW uniques (the lag
  * difference of the cumulative distinct-to-date estimate) fall below
  * `minNewPerDay` — "this source stopped contributing new data", the
  * dedup-saturation alarm as a declarative gate. The curve is DENSIFIED
  * over [min_day, max_day]: a completely silent day reads est_new = 0
  * and fires the floor instead of vanishing from the lattice (so
  * `dayColumn` must be integral epoch-days — asserted loudly).
  * Estimator noise can push a day's delta negative; a negative delta
  * below the floor counts (that honesty IS the alarm). State is ≤ days
  * × k longs. */
final case class GrowthCheck(dayColumn: String, itemColumn: String,
    k: Int = 64, minNewPerDay: Long = 1L, warmupDays: Int = 1)

/** Sketch-space distribution-drift contract (quality.Kmv.sampleKsReport):
  * failedCount = type pairs whose two-sample KS distance between the
  * per-type VALUE samples exceeds `maxKsE6` — "no two variants' value
  * distributions may diverge past D" (or inverted: a pair expected to
  * match suddenly separating is an incident), read from ≤ k deterministic
  * sample rows per type instead of the exact KS's full shuffle.
  * `idColumn` hashes the row (must determine `valueColumn`, which must
  * be integral — micro-units); sampling error on D is ~√(2/k) (k=256 ≈
  * ±0.09) — size the threshold accordingly.
  *
  * `massColumn` (optional) switches the statistic to the MASS-weighted
  * KS (`Kmv.weightedSampleKsReport`): each sampled row counts its mass
  * (token count, bytes — integral, determined by `idColumn` like the
  * value) instead of 1/k, so the alarm ranks drift by mass, not row
  * count; the cap then applies to `wks_e6`. */
final case class KsCheck(typeColumn: String, idColumn: String,
    valueColumn: String, k: Int = 256, maxKsE6: Long = 500000L,
    massColumn: Option[String] = None)

final case class QualitySpec(
    nullCheckColumns: Seq[String] = Nil,
    positiveColumns: Seq[String] = Nil,
    rangeChecks: Seq[RangeCheck] = Nil,
    inSetChecks: Seq[InSetCheck] = Nil,
    regexChecks: Seq[RegexCheck] = Nil,
    expectations: Seq[ExpectationSpec] = Nil,
    fdChecks: Seq[FdCheck] = Nil,
    benfordChecks: Seq[BenfordCheck] = Nil,
    seasonalChecks: Seq[SeasonalCheck] = Nil,
    correlationChecks: Seq[CorrelationCheck] = Nil,
    hhiChecks: Seq[HhiCheck] = Nil,
    popChecks: Seq[PopCheck] = Nil,
    quantileChecks: Seq[QuantileCheck] = Nil,
    distinctChecks: Seq[DistinctCheck] = Nil,
    overlapChecks: Seq[OverlapCheck] = Nil,
    containmentChecks: Seq[ContainmentCheck] = Nil,
    growthChecks: Seq[GrowthCheck] = Nil,
    ksChecks: Seq[KsCheck] = Nil,
    failOnError: Boolean = false)

// ---- curation: block ------------------------------------------------------
// The corpus-curation stage between silver and gold, config-driven the same
// way silver:/gold: drive Transform/AggregationEngine: a declarative YAML
// block reaches the quality gate, near-dup removal, and domain-mixing
// operators that were previously Scala-API-only.

/** Gopher-style hard quality gate thresholds (text.Curation.qualityFilter's
  * parameters, micro-unit integers for cross-engine determinism). */
final case class QualityGateSpec(
    idColumn: String,
    textColumn: String,
    minTokens: Long = 20L,
    maxTokens: Long = 90L,
    minAvgTokenLenE6: Long = 3000000L,
    maxAvgTokenLenE6: Long = 8000000L,
    minTtrE6: Long = 300000L,
    maxDup2E6: Long = 200000L)

/** Near-duplicate removal strategy + parameters. `contentColumn` is text for
  * the text strategies, the embedding array for `embedding_lsh`. Every
  * strategy resolves to candidate pairs → connected components → min-id
  * survivor (exact dedup short-circuits to the fingerprint window;
  * `canonical` is `exact` on the case/whitespace/punctuation-normalized
  * content — `Dedup.canonicalForm` — so trivially-reformatted copies
  * collapse too), except
  * `keep_best`: n-gram Jaccard pairs → components → the HIGHEST-`scoreColumn`
  * member survives (ties to lower id) — keep the best page of a mirror set,
  * not the lowest-id one (`Dedup.removeNearDupesKeepBest`). `scoreColumn`
  * is required for (and only meaningful to) `keep_best`. `semantic` is the
  * SemDeDup-style embedding path: fixed-point k-means cells (`kmeansK`,
  * `kmeansIters`) bound within-cell cosine pairing (`Dedup.semanticDedup`);
  * `contentColumn` is the embedding array, `threshold` the cosine cut.
  * `prefix` drops docs whose whole text strictly prefixes a longer doc
  * (truncation artifacts — `Dedup.removePrefixDupes`); `prefixLen` is its
  * candidate-bucket width and `maxBucketSize` its hot-bucket cap, both
  * meaningful only to it. `span_mask` is the one non-removal strategy:
  * repeated interior runs of >= `spanGram` tokens are collapsed to
  * `maskToken` everywhere but their first occurrence
  * (`Dedup.maskDuplicateSpans`) — row count unchanged, the content column
  * rewritten in place (token-joined, so whitespace normalizes);
  * `minCopies`/`maxSpanFreq` bound which spans mask, all four knobs
  * meaningful only to it. */
final case class NearDedupSpec(
    strategy: String,
    idColumn: String,
    contentColumn: String,
    threshold: Double = 0.8,
    ngram: Int = 3,
    maxHamming: Int = 6,
    numPlanes: Int = 4,
    dim: Int = 0,
    maxShingleFreq: Int = Int.MaxValue,
    numHashes: Int = 8,
    numBands: Int = 4,
    scoreColumn: Option[String] = None,
    kmeansK: Int = 256,
    kmeansIters: Int = 2,
    prefixLen: Int = 32,
    maxBucketSize: Int = Int.MaxValue,
    spanGram: Int = 5,
    minCopies: Int = 2,
    maxSpanFreq: Int = Int.MaxValue,
    maskToken: String = "[DUP]",
    winnowWindow: Int = 4,
    minSharedFingerprints: Long = 2L)

object NearDedupSpec {
  /** Validated at config load AND at dispatch — a typo'd strategy fails
    * loudly instead of silently skipping the dedup stage. */
  val Strategies: Set[String] =
    Set("exact", "canonical", "canonical_unicode", "ngram_jaccard",
      "minhash_lsh", "simhash", "embedding_lsh", "keep_best", "semantic",
      "prefix", "span_mask", "winnow", "winnow_jaccard")
}

/** Per-domain deterministic keep-rates (percent) — the domain-mixing knob;
  * strata absent from `rates` keep `defaultPct`. Alternatively set
  * `temperature` (α ∈ [0,1]) to DERIVE rates from corpus counts as
  * (c_min/c_d)^(1−α) (`Curation.temperatureSample` — the p^α flattening
  * trick) instead of hand-picking them; exclusive with `rates`. */
final case class MixingSpec(
    keyColumn: String,
    domainColumn: String,
    rates: Map[String, Int] = Map.empty,
    defaultPct: Int = 100,
    temperature: Option[Double] = None)

/** curation.budget — the final corpus cut to a target training-token count:
  * greedy best-first prefix ordered by (scoreColumn desc, idColumn asc)
  * whose running tokenColumn total stays within the budget
  * (Curation.selectUnderTokenBudget). Two exclusive modes:
  *   - GLOBAL: `maxTokens` caps the whole corpus;
  *   - PER-DOMAIN: `perDomain` caps each `domainColumn` stratum
  *     independently (Curation.selectUnderTokenBudgetPerDomain); domains
  *     absent from the map get `defaultDomainTokens` — required, so an
  *     unlisted domain is an explicit decision, never a silent one. */
final case class BudgetSpec(
    idColumn: String,
    scoreColumn: String,
    tokenColumn: String,
    maxTokens: Option[Long] = None,
    domainColumn: Option[String] = None,
    perDomain: Map[String, Long] = Map.empty,
    defaultDomainTokens: Option[Long] = None)

/** curation.language_filter — keep only documents whose heuristic language
  * ID (TextAnalysis.langId over `textColumn`) is in `keep`; "und"
  * (undetermined) is kept only when listed. */
final case class LanguageFilterSpec(textColumn: String, keep: Seq[String])

/** curation.quality_model — a TRAINED linear quality classifier applied as
  * a filter (Curation.scoreLinearModel): `weightsE6` maps hashed-feature
  * buckets (Features.hashFeatures's md5-mod-`nBuckets` space, so weights
  * trained on q194 coordinates apply directly) to integer micro-unit
  * weights; rows keep iff bias + Σ_token w[bucket] ≥ `minScoreE6`.
  * `score_e6`/`prob_e6` ride through as audit columns. Row-local. */
final case class QualityModelSpec(
    idColumn: String,
    textColumn: String,
    nBuckets: Int,
    weightsE6: Map[Int, Long],
    biasE6: Long = 0L,
    minScoreE6: Long = 0L)

final case class CurationSpec(
    language: Option[LanguageFilterSpec] = None,
    gate: Option[QualityGateSpec] = None,
    model: Option[QualityModelSpec] = None,
    pii: Seq[PiiRule] = Nil,
    dedup: Option[NearDedupSpec] = None,
    mixing: Option[MixingSpec] = None,
    budget: Option[BudgetSpec] = None)

/** sessions: block — gap-based sessionization over the silver output
  * (ops.Sessions.sessionStats's parameters); `tsUsColumn` must be exact
  * integer microseconds (derive it in silver.derived_columns). */
final case class SessionSpec(
    keyColumn: String,
    tsUsColumn: String,
    tieColumn: String,
    valueColumn: String,
    gapSec: Long)

/** retrieval: block — the hybrid retrieval stage over the curated corpus
  * (TextAnalysis.keywordSearchTopK, optionally fused with a cosine top-k
  * over `embeddingColumn` via Similarity.rrfFuse — the q125 composition,
  * config-driven). `queriesFilter` is a SQL predicate selecting the query
  * rows FROM the corpus itself (eval probes, sampled docs); the df cap is
  * absolute (`maxDf`) or corpus-proportional (`maxDfFracE6`), exclusive,
  * matching the operator's contract. `fuseK`/`rrfK` only apply when an
  * embedding column makes the run hybrid — set on a lexical-only block
  * they are rejected, not ignored. */
final case class RetrievalSpec(
    idColumn: String,
    textColumn: String,
    queriesFilter: String,
    k: Int = 10,
    maxDf: Long = Long.MaxValue,
    maxDfFracE6: Long = 0L,
    embeddingColumn: Option[String] = None,
    fuseK: Option[Int] = None,
    rrfK: Option[Long] = None,
    excludeSelf: Boolean = true)

/** features: block — post-curation ML feature tables (`ops/Features`),
  * config-driven like retrieval:/split:. `hash_text` emits the
  * hashing-trick sparse (id, bucket, n) coordinates over a text column;
  * `target_encode` emits the leave-one-out m-estimate encoding of a
  * category column against an ALREADY-INTEGER target column (scale the
  * target in a silver derived column — the e2 convention). At least one
  * sub-block is required; missing columns fail loudly at run time. */
final case class HashFeaturesConf(textColumn: String, nBuckets: Int = 1024)
final case class TargetEncodeConf(categoryColumn: String,
    targetColumn: String, m: Int = 10)
final case class FeaturesSpec(
    idColumn: String,
    hashText: Option[HashFeaturesConf] = None,
    targetEncode: Option[TargetEncodeConf] = None)

/** split: block — deterministic train/val/test assignment appended to the
  * curated frame as a `split` column. `weights` percentages must sum to
  * 100 and their YAML ORDER is part of the contract (the md5 bucket map
  * is cumulative, so reordering names reassigns rows). Strategy `hash` is
  * the row-wise `Chunking.hashSplit`; `cluster` is the leakage-safe path
  * (`Chunking.leakageSafeSplit`): n-gram Jaccard near-dup clusters over
  * `contentColumn` become the assignment unit so a mirror set never
  * straddles train and eval — `ngram`/`threshold`/`maxShingleFreq` are
  * its pair-generation knobs, meaningful only to it. */
final case class SplitSpec(
    keyColumn: String,
    weights: Seq[(String, Int)],
    strategy: String = "hash",
    contentColumn: Option[String] = None,
    ngram: Int = 3,
    threshold: Double = 0.5,
    maxShingleFreq: Int = Int.MaxValue)

object SplitSpec {
  val Strategies: Set[String] = Set("hash", "cluster")
}

/** Output-layout block: deterministic rendezvous (HRW) sharding of the
  * curated frame on `keyColumn` into `nShards`
  * (`maintenance.Layout.rendezvousShard`) — the gold sink receives a
  * `layout_plan` table: per-shard key counts, or, when
  * `previousNShards` is set, the full (shard_from → shard_to) migration
  * matrix (`reshardReport`) whose off-diagonal mass is exactly the keys
  * the resize moves (minimal under HRW: growing n→m moves ~(m−n)/m). */
final case class LayoutSpec(
    keyColumn: String,
    nShards: Int,
    previousNShards: Option[Int] = None)
