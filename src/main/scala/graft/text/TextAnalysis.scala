package graft.text

import graft.ops.Scale.fanOut
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language-ID heuristics, and document
  * fingerprinting. Beyond the reference's surface (its documents are tabular
  * trips), these cover the text side of a 100 TB curation pipeline.
  *
  * Scale notes: every operator here is a row-local Column expression — no
  * UDFs, no shuffles, no explode. All of it stays inside whole-stage codegen
  * and scales embarrassingly parallel with the scan. Cross-engine
  * determinism: hashes are md5-hex (identical everywhere); ratios are single
  * double divisions of exact integers.
  */
object TextAnalysis {

  /** Whitespace tokenization. Spark `split` takes a regex; a single literal
    * space matches the generator's single-spaced corpus and DuckDB
    * `string_split(text, ' ')` exactly. */
  def tokens(c: Column): Column = split(trim(c), " ")

  def tokenCount(c: Column): Column = size(tokens(c))

  def uniqueTokenCount(c: Column): Column = size(array_distinct(tokens(c)))

  /** type-token ratio: unique/total — the standard lexical-diversity score. */
  def typeTokenRatio(c: Column): Column =
    uniqueTokenCount(c).cast("double") / tokenCount(c).cast("double")

  /** mean token length via an integer fold (exact, order-free). */
  def avgTokenLength(c: Column): Column =
    expr_sumTokenLen(c).cast("double") / tokenCount(c).cast("double")

  private def expr_sumTokenLen(c: Column): Column =
    aggregate(transform(tokens(c), t => length(t)), lit(0), (acc, x) => acc + x)

  /** Heuristic quality score in [0,1]: lexical diversity + length saturation
    * + mean-word-length band (the length/punct/stopword-ratio family of
    * quality signals, composed deterministically from integer counts). */
  def qualityScore(c: Column): Column = {
    val ttr = typeTokenRatio(c)
    val lenSat = least(tokenCount(c).cast("double") / lit(100.0), lit(1.0))
    val awl = avgTokenLength(c)
    // mean word length 3..8 chars is "natural"; outside decays linearly
    val awlBand = greatest(lit(0.0),
      lit(1.0) - greatest(lit(0.0), greatest(lit(3.0) - awl, awl - lit(8.0))) / lit(5.0))
    ttr * lit(0.4) + lenSat * lit(0.3) + awlBand * lit(0.3)
  }

  /** Language-marker token lists for the n-gram/stopword language-ID
    * heuristic. Deterministic tie-break: fixed precedence order en > es > de
    * > fr > zh (strict greater-than comparisons in that order). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "nicht", "mit"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "est"),
    "zh" -> Seq("de5", "shi4", "bu4", "le5", "wo3", "you3", "zai4", "ta1"))

  /** score for one language = number of tokens in its marker set. */
  def langScore(c: Column, markers: Seq[String]): Column =
    size(filter(tokens(c), t => t.isin(markers.map(lit): _*)))

  /** winner-take-all language ID with fixed precedence; all-zero → "und". */
  def langId(c: Column): Column = {
    val scores = langMarkers.map { case (lang, m) => lang -> langScore(c, m) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** BPE-style pre-token COUNT (the GPT-2 pre-tokenizer family, simplified
    * to an engine-portable regex: contraction suffixes, space-prefixed
    * letter runs, digit runs, and punctuation runs). The practical "how
    * many tokens will the tokenizer emit" estimator a data pipeline budgets
    * with — whitespace counts undershoot by 20-40% on punctuated text.
    * Native `bpe_token_count` (graft.catalyst.BpeTokenCount): the pattern's
    * match count as one compiled character scan — no regex engine on the
    * hot path, no token array materialized. Spec-asserted equal to the
    * builtin regex forms. */
  def bpeTokenCount(c: Column): Column = call_function("bpe_token_count", c)

  /** Content fingerprint: md5 of the normalized text — identical hex in every
    * engine; the exact-dedup key. */
  def fingerprint(c: Column): Column = md5(lower(trim(c)))

  /** Polynomial rolling hash over tokens, mod 1e9+7 (token hash = first 32
    * md5 bits). Sequential fold, but row-local — order within the document is
    * what a rolling hash is for. acc*31 + 2^32 < 3.5e10 ≪ Long.Max: no
    * overflow, so Spark and DuckDB (which errors on BIGINT overflow) agree. */
  def rollingHash(c: Column): Column =
    aggregate(
      tokens(c),
      lit(0L),
      (acc, t) =>
        (acc * lit(31L) + conv(substring(md5(t), 1, 8), 16, 10).cast("long"))
          % lit(1000000007L))

  /** Unigram surprisal score — the LM-free perplexity proxy (CCNet-style
    * frequency filtering): each token contributes its corpus surprisal
    * floor(log2(N / count(token))) in WHOLE BITS, computed as the binary-
    * string length of the exact integer ratio — never a libm log, whose
    * last-ulp drift between engines would break the hash-compare (the q51
    * idf lesson). Sums of exact integers are shuffle-order-free.
    * Output: (id, n_tokens, surprisal_bits, mean_surprisal_e6) — high mean
    * = rare-token-heavy (gibberish/boilerplate-free but possibly noise),
    * low mean = stopword-heavy; both tails are filter candidates.
    *
    * Shuffles: one keyed aggregate for the term frequencies + one for the
    * per-doc rollup. The frequency side is |vocabulary|-sized and
    * broadcast (same contract as tfidfTopTerms: swap to a sort-merge join
    * for unbounded vocabularies). */
  def unigramSurprisal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
    val freq = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
    // N from a row-local re-scan of the source (one cheap pass, no
    // shuffle) rather than re-aggregating freq's explode+shuffle subtree
    val n = df.agg(sum(tokenCount(col(textCol)).cast("long")).as("n_total"))
    // bits depend only on (N, cnt): compute them |vocabulary| times on the
    // freq side, not once per token occurrence after the join
    val freqBits = freq.crossJoin(broadcast(n))
      .select(col("term"),
        (length(bin(expr("n_total div cnt"))) - 1).cast("long").as("bits"))
    toks.join(broadcast(freqBits), "term")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("bits")).as("surprisal_bits"))
      .withColumn("mean_surprisal_e6",
        expr("surprisal_bits * 1000000L div n_tokens"))
  }

  /** Unicode-script composition profile — the writing-system signal the
    * stopword language-ID can't see (it is Latin-centric by
    * construction): per document, exact counts of Latin / Cyrillic / Han
    * script LETTERS, ASCII digits, and spaces, the remainder as `other`,
    * plus the dominant letter script (ties break latin > cyrillic > han;
    * documents with no letters from the three report 'other'). The
    * multilingual-crawl router: send each doc to the right language
    * pipeline, flag mixed-script spam (Latin text stuffed with CJK SEO
    * tokens) by a high secondary share. Row-local regexp counts, zero
    * shuffle; Spark's java.util.regex script classes (`\p{IsLatin}`) and
    * the oracle's RE2 classes (`\p{Latin}`) name the same Unicode script
    * property, so counts agree exactly. */
  def scriptProfile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    def without(pat: String): Column =
      (length(col(textCol)) -
        length(regexp_replace(col(textCol), pat, ""))).cast("long")
    df.select(col(idCol),
        length(col(textCol)).cast("long").as("n_chars"),
        without("\\p{IsLatin}").as("latin"),
        without("\\p{IsCyrillic}").as("cyrillic"),
        without("\\p{IsHan}").as("han"),
        without("[0-9]").as("digits"),
        (length(col(textCol)) -
          length(regexp_replace(col(textCol), " ", ""))).cast("long")
          .as("spaces"))
      .withColumn("other",
        col("n_chars") - col("latin") - col("cyrillic") - col("han") -
          col("digits") - col("spaces"))
      .withColumn("main_script",
        when(col("latin") + col("cyrillic") + col("han") === 0, "other")
          .when(col("latin") >= col("cyrillic") &&
            col("latin") >= col("han"), "latin")
          .when(col("cyrillic") >= col("han"), "cyrillic")
          .otherwise("han"))
  }

  /** Surprisal under a REFERENCE corpus model — the cross-corpus form of
    * [[unigramSurprisal]] and the CCNet/DCLM-style quality filter: score
    * every document by the bit-cost of its tokens under a unigram model
    * trained on a CLEAN reference corpus (Wikipedia-class text), not on
    * the corpus being scored. Low mean = reference-like prose; high mean
    * = vocabulary the reference never uses (spam, gibberish, other
    * languages) — the standard "perplexity against a clean LM" gate,
    * exactly computable and mergeable where a neural LM is neither.
    *
    * Same whole-bit integer contract as [[unigramSurprisal]]
    * (floor(log₂(N/cnt)) via binary-string length — no libm log). Tokens
    * ABSENT from the reference cost floor(log₂ N)+1 bits — one more than
    * the rarest observed token (cnt=1 → floor(log₂ N)), the cheapest
    * cost that still separates unseen from rarest-seen; `n_oov` reports
    * them so callers can gate on OOV rate directly (the sharper
    * other-language signal).
    *
    * Scale shape: the model is |reference vocabulary|-sized and broadcast
    * (the reference is curated and bounded by construction — swap to a
    * sort-merge join if yours isn't); the corpus side is one explode +
    * one per-doc rollup, no corpus-wide vocabulary shuffle at all. The
    * model frames are plain DataFrames a continuous pipeline persists
    * once and reuses per batch. */
  def referenceSurprisal(df: DataFrame, idCol: String, textCol: String,
      ref: DataFrame, refTextCol: String): DataFrame = {
    val freq = ref.select(explode(tokens(col(refTextCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    val n = ref.agg(sum(tokenCount(col(refTextCol)).cast("long"))
      .as("n_total"))
    val freqBits = freq.crossJoin(broadcast(n))
      .select(col("term"),
        (length(bin(expr("n_total div cnt"))) - 1).cast("long").as("bits"))
    df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .join(broadcast(freqBits), Seq("term"), "left")
      .crossJoin(broadcast(n))
      .select(col(idCol), col("bits").isNull.as("oov"),
        coalesce(col("bits"), length(bin(col("n_total"))).cast("long"))
          .as("bits"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("oov"), 1L).otherwise(0L)).as("n_oov"),
        sum(col("bits")).as("ref_bits"))
      .withColumn("mean_ref_bits_e6", expr("ref_bits * 1000000L div n_tokens"))
  }

  /** Bigram conditional surprisal — the context-sensitive upgrade of
    * [[unigramSurprisal]]: per document, Σ floor(log₂(c(w₁·)/c(w₁w₂)))
    * over its bigrams, where c(w₁w₂) is the corpus bigram count and c(w₁·)
    * the count of bigrams starting with w₁ (so each term is the integer
    * bit-cost of w₂ given w₁ under the corpus bigram model). Formulaic or
    * templated text (every bigram highly predictable from its prefix)
    * scores near 0 even when its unigrams are rare — the signal that
    * separates genuinely novel prose from shuffled boilerplate. Exact
    * integer bits via binary-string length (no libm log), so sums
    * hash-compare.
    *
    * Scale shape: the exploded bigrams reduce immediately to per-(doc,
    * bigram) occurrence counts — partial-aggregating, keys bounded by doc
    * content, no hot key possible. Both corpus counts then live in
    * VOCABULARY space (c(w₁w₂) by one more reduce, c(w₁·) by reducing
    * c(w₁w₂)) and join back by bigram. Chosen over a count window over the
    * raw occurrence frame, which is measurably faster single-node (0.79×
    * at sf0.1 — one text scan vs this form's two, column pruning diverges
    * the branches so ReuseExchange cannot merge them) but buffers EVERY
    * occurrence of a hot key ("of the" at corpus scale, the null bigram of
    * short docs) in a single unsplittable window partition — a guaranteed
    * straggler/spill at 100 TB. Joins split hot keys under AQE skew
    * handling; the measured 1.3× single-node cost is the price of that
    * bound. Bigram vocabularies are never broadcast or collected. Docs
    * with < 2 tokens report 0 bigrams and 0 bits. */
  def bigramSurprisal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val grouped = df
      .withColumn("_toks", tokens(col(textCol)))
      .withColumn("_grams",
        when(size(col("_toks")) >= 2, gramsOf("_toks", 2))
          .otherwise(array().cast("array<string>")))
      .select(col(idCol), explode_outer(col("_grams")).as("bigram"))
      .groupBy(col(idCol), col("bigram"))
      .agg(count(col("bigram")).as("_n")) // 0 on a short doc's null-bigram row
    val c12 = grouped.filter(col("bigram").isNotNull)
      .groupBy("bigram").agg(sum(col("_n")).as("_c12"))
      .withColumn("_w1", substring_index(col("bigram"), " ", 1))
    val c1 = c12.groupBy("_w1").agg(sum(col("_c12")).as("_c1"))
    val bits = c12.join(c1, "_w1")
      .select(col("bigram"),
        (length(bin(expr("_c1 div _c12"))) - 1).cast("long").as("_bits"))
    grouped.join(bits, Seq("bigram"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("_n")).as("n_bigrams"),
        coalesce(sum(col("_n") * col("_bits")), lit(0L)).as("surprisal_bits"))
      .withColumn("mean_surprisal_e6",
        when(col("n_bigrams") === 0, lit(0L))
          .otherwise(expr("surprisal_bits * 1000000L div n_bigrams")))
  }

  /** Per-domain top-k n-grams by EXACT count — grouped heavy hitters with a
    * deterministic tiebreak (count desc, then gram asc). The per-domain
    * twin of the sketch-based global heavy hitters: domain-sliced phrase
    * inventories drive boilerplate hunts and mixture QA, and exactness
    * keeps it oracle-comparable.
    *
    * Scale: the exploded grams reduce IMMEDIATELY by (domain, gram) with
    * map-side partial aggregation — the shuffle carries per-partition
    * partial counts, not occurrences — and the ranking window runs over
    * the aggregated |domain|×|vocab| frame partitioned by domain, never
    * over row data. Docs shorter than n tokens contribute nothing. */
  def domainTopNgrams(df: DataFrame, domainCol: String, textCol: String,
      n: Int, k: Int): DataFrame = {
    require(n >= 1 && k >= 1, s"need n >= 1 and k >= 1, got n=$n k=$k")
    val counts = df
      .withColumn("_toks", tokens(col(textCol)))
      .withColumn("_grams",
        when(size(col("_toks")) >= n, gramsOf("_toks", n))
          .otherwise(array().cast("array<string>")))
      .select(col(domainCol).as("domain"), explode(col("_grams")).as("gram"))
      .groupBy("domain", "gram")
      .agg(count(lit(1)).as("n_occurrences"))
    val w = Window.partitionBy("domain")
      .orderBy(col("n_occurrences").desc, col("gram").asc)
    counts.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Per-document term frequencies: (doc, term, tf). One explode + one
    * keyed aggregate. */
  def termFrequencies(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // fanOut tried and REJECTED here (r21, measured): split+explode is
    // codegen-cheap per row — the added exchange cost more than the
    // parallelism bought on every consumer (q51 1.29→1.94 s, q122/q205
    // similar); the A/B is in OPTIMIZATION_r21.md
    df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** TF-IDF top-k terms per document with an INTEGER score — the
    * cross-engine-exact form: score = tf·10⁹ div df (floor division of
    * exact longs; a float idf = log(N/df) would hash-differently in the last
    * ulp between libm implementations). The corpus-size factor N of
    * classical tf·idf is deliberately DROPPED: it is constant across every
    * term of every document (real-valued ranking is unchanged; the integer
    * floor can merge near-ties that a larger scale would split, which is why
    * the scale is 10⁹, not 10⁶ — a term must appear in > tf·10⁹ documents
    * before its score floors to 0), it removes a driver-side count()
    * action, and tf·10⁹ stays ≪ Long.Max at any corpus size (tf·N·10⁶
    * overflowed at N≈10⁹ docs). Ties break on the term string.
    *
    * Shuffles: one keyed aggregate (tf) + the per-doc top-k window. The
    * document-frequency side is |vocabulary|-sized — orders of magnitude
    * smaller than the exploded term table — so it is broadcast by default;
    * pass `broadcastVocab = false` for a corpus whose vocabulary (e.g.
    * unbounded ids/urls as tokens) outgrows executor memory, which falls
    * back to a sort-merge join shuffling both sides on `term`. */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int, broadcastVocab: Boolean = true): DataFrame = {
    // two consumers (df count + the scoring join) — one materialized
    // reduce instead of two (the keywordSearchTopK checkpoint rationale)
    val tf = termFrequencies(df, idCol, textCol)
      .localCheckpoint(eager = false)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term"))
    tf.join(if (broadcastVocab) broadcast(dfreq) else dfreq, "term")
      .withColumn("score", expr("tf * 1000000000L div df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank").cast("long").as("rank"),
        col("term"), col("tf"), col("df"), col("score"))
  }

  /** Inverted-index keyword search: top-k documents per query under the
    * same integer TF-IDF contract as [[tfidfTopTerms]] (score = Σ over
    * matched terms of tf·10⁹ div df — exact longs, so rankings
    * hash-compare across engines; see that method for why the corpus-size
    * factor is dropped). The lexical complement of the vector-search
    * family: emits (query_id, neighbor_id, rank, …) so a keyword ranking
    * plugs straight into `Similarity.rrfFuse` for hybrid
    * lexical+semantic retrieval.
    *
    * Scale shape: the query set is small by contract (it is broadcast),
    * so the corpus is only touched through the inverted-index probe — the
    * per-doc term table joins the query terms on `term` and ONLY postings
    * of query terms survive into the (query, doc) partial-sum aggregate.
    * The candidate set per query is bounded by the document frequency of
    * its terms; `maxDf` caps that fan-out by dropping ultra-common terms
    * from scoring entirely (the stopword posting list that would
    * otherwise pull the whole corpus in — same knob role as
    * `jaccardPairs.maxShingleFreq`, exercised by the oracle's HAVING).
    * The vocabulary side broadcasts like tfidfTopTerms; pass
    * `broadcastVocab = false` for unbounded vocabularies.
    *
    * `excludeSelf` drops hits whose doc id equals the query id — for
    * more-like-this search where the query IS a corpus document and a
    * rank-1 self-match is noise (mirrors bruteForceTopK's qid ≠ nid). */
  def keywordSearchTopK(docs: DataFrame, queries: DataFrame,
      idCol: String, textCol: String,
      queryIdCol: String, queryTextCol: String,
      k: Int, maxDf: Long = Long.MaxValue,
      excludeSelf: Boolean = false,
      broadcastVocab: Boolean = true,
      maxDfFracE6: Long = 0L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxDf >= 1L, s"maxDf must be >= 1, got $maxDf")
    require(maxDfFracE6 >= 0L && maxDfFracE6 <= 1000000L,
      s"maxDfFracE6 must be in [0, 1000000], got $maxDfFracE6")
    require(maxDf == Long.MaxValue || maxDfFracE6 == 0L,
      "set maxDf (absolute) or maxDfFracE6 (corpus-proportional), not both")
    // tf feeds TWO reduces (the df vocabulary count and the posting probe):
    // ReusedExchange shares the tokenize+explode map side between them but
    // re-runs the (doc, term) final aggregate per consumer — the lazy
    // checkpoint materializes it once and the second consumer reads blocks.
    // Footprint: the full doc-term table pins in executor MEMORY_AND_DISK
    // for the query's lifetime — the price of not reducing it twice.
    val tf = termFrequencies(docs, idCol, textCol)
      .localCheckpoint(eager = false)
    // the stopword cap: absolute df, or a corpus-PROPORTIONAL share —
    // an absolute cap is scale-brittle (the same corpus at 10× has every
    // df 10× higher, silently emptying or disarming the cap); the
    // proportional form compares exact integers df·10⁶ ≤ frac·N with N
    // from a broadcast 1-row count, no driver action
    val rawDf = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val dfreq =
      if (maxDfFracE6 > 0L)
        // count(1), not count_distinct(id): the proportional cap's corpus
        // size must match the oracle's COUNT(*) FROM documents — under
        // duplicated or null ids the two diverge (r12 review); unique
        // non-null ids are the caller's contract, not this cap's input
        rawDf.crossJoin(broadcast(
            docs.agg(count(lit(1)).as("_n_docs"))))
          .filter(col("df") * lit(1000000L) <=
            lit(maxDfFracE6) * col("_n_docs"))
          .drop("_n_docs")
      else rawDf.filter(col("df") <= maxDf)
    val qterms = queries.select(
      col(queryIdCol).cast("long").as("query_id"),
      explode(array_distinct(tokens(col(queryTextCol)))).as("term"))
    val hits = tf
      .join(if (broadcastVocab) broadcast(dfreq) else dfreq, "term")
      .join(broadcast(qterms), "term")
    val scored = (if (excludeSelf)
        hits.filter(col("query_id") =!= col(idCol)) else hits)
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(expr("tf * 1000000000L div df")).as("score"),
        count(lit(1)).as("n_terms_hit"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol).cast("long").as("neighbor_id"),
        col("rank").cast("long").as("rank"), col("score"),
        col("n_terms_hit"))
  }

  /** BM25 top-k document ranking — the production-default lexical scorer
    * ([[keywordSearchTopK]]'s tf·10⁹ div df form ranks, but saturates
    * neither on term frequency nor document length; BM25 does both),
    * re-derived EXACT-INTEGER so rankings hash-compare across engines:
    *
    *   idf: floor(log₂(2D / df)) whole bits via binary-string length (the
    *   q73 surprisal device — never a libm log). The doubled numerator is
    *   the classic +1 idf smoothing: every term with df ≤ D keeps ≥ 1
    *   bit, mirroring real BM25's strictly-positive ln(1 + (D−df+½)/(df+½))
    *   — stopword suppression is `maxDfFracE6`'s job, not a zero clamp's.
    *
    *   tf-norm: tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) with k1, b as
    *   exact centi-unit integers (defaults 1.20 / 0.75) and avgdl the
    *   floor-average doc length in whole tokens. Clearing denominators
    *   makes the term one floor division of longs:
    *     part_e6 = tf·(100+k1E2)·100·A·10⁶ div
    *               (10⁴·A·tf + k1E2·(100−bE2)·A + k1E2·bE2·dl)
    *   (A = avgdl) — the numerator is tf·A·(100+k1E2)·10⁸ longs, so
    *   exactness needs tf·A·(100+k1E2) < 9.2·10¹⁰: tf·A < 4·10⁸ at the
    *   default k1 = 1.2, ≥ 1.5·10⁸ anywhere under the ENFORCED
    *   k1E2 ≤ 500 bound (k1 > 2 is already outside BM25's literature
    *   range; an unchecked k1 would walk the numerator past Long.MAX
    *   and silently corrupt every score). Any real text corpus sits
    *   orders of magnitude inside the bound (a 10⁵-token doc in a
    *   1.5·10³-avgdl corpus is the k1E2 = 500 boundary).
    *
    * score_e6 = Σ over matched terms of bits·part_e6 — a sum of exact
    * longs, shuffle-order-free. Ties break on the doc id.
    *
    * Scale shape mirrors [[keywordSearchTopK]]: queries broadcast, the
    * corpus is touched only through query-term postings, `maxDfFracE6`
    * caps the stopword posting lists (essential here: a df = 0.9·D term
    * still carries 1 bit and would pull 90% of the corpus through the
    * join), the vocabulary side broadcasts unless told not to. The one
    * addition is the per-doc length frame, which must reach every
    * posting hit BEFORE the (query, doc) aggregate (the tf-norm couples
    * tf and dl inside one floor division) — broadcast by default
    * (|docs|·16 bytes; measured: the sort-merge alternative shuffled the
    * ENTIRE un-aggregated hit surface, 3.2 GB where the rest of the plan
    * moves 40 MB). `broadcastDocLengths = false` falls back to that
    * keyed join for corpora whose doc COUNT outgrows executor memory —
    * at which point the hit surface is the honest dominant cost. */
  def bm25TopK(docs: DataFrame, queries: DataFrame,
      idCol: String, textCol: String,
      queryIdCol: String, queryTextCol: String,
      k: Int, k1E2: Long = 120L, bE2: Long = 75L,
      maxDfFracE6: Long = 0L, excludeSelf: Boolean = false,
      broadcastVocab: Boolean = true,
      broadcastDocLengths: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(k1E2 >= 0L && k1E2 <= 500L,
      s"k1E2 must be in [0, 500] (k1 <= 5.0 keeps the cleared-denominator" +
        s" numerator inside Long at the documented tf*avgdl bound), got $k1E2")
    require(bE2 >= 0L && bE2 <= 100L, s"bE2 must be in [0, 100], got $bE2")
    require(maxDfFracE6 >= 0L && maxDfFracE6 <= 1000000L,
      s"maxDfFracE6 must be in [0, 1000000], got $maxDfFracE6")
    // tf feeds FOUR reduces here (doc lengths, the avgdl total, the df
    // count, and the posting probe) — the keywordSearchTopK checkpoint
    // rationale, ×2: without it the (doc, term) final aggregate runs four
    // times. Same MEMORY_AND_DISK footprint note.
    val tf = termFrequencies(docs, idCol, textCol)
      .localCheckpoint(eager = false)
    val dlen = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("_dl"))
    // D from the source frame (count(1), the q122 corpus-size contract),
    // avgdl floored to whole tokens from the SAME token table the scores
    // use; empty corpora clamp avgdl to 1 so the division never nulls
    val stats = docs.agg(count(lit(1)).as("_d"))
      .crossJoin(tf.agg(sum(col("tf")).as("_l")))
      .select(col("_d"),
        greatest(expr("_l div _d"), lit(1L)).as("_a"))
    val rawDf = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
    val dfreq = (if (maxDfFracE6 > 0L)
        rawDf.filter(col("df") * lit(1000000L) <= lit(maxDfFracE6) * col("_d"))
      else rawDf)
      .select(col("term"), col("_a"),
        (length(bin(expr("(2L * _d) div df"))) - 1).cast("long").as("bits"))
    val qterms = queries.select(
      col(queryIdCol).cast("long").as("query_id"),
      explode(array_distinct(tokens(col(queryTextCol)))).as("term"))
    val hits = tf
      .join(if (broadcastVocab) broadcast(dfreq) else dfreq, "term")
      .join(broadcast(qterms), "term")
      .join(if (broadcastDocLengths) broadcast(dlen) else dlen, idCol)
    val contrib = expr(
      s"bits * ((tf * ${(100L + k1E2) * 100L}L * _a * 1000000L) div " +
        s"(10000L * _a * tf + ${k1E2 * (100L - bE2)}L * _a + " +
        s"${k1E2 * bE2}L * _dl))")
    val scored = (if (excludeSelf)
        hits.filter(col("query_id") =!= col(idCol)) else hits)
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(contrib).as("score_e6"), count(lit(1)).as("n_terms_hit"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score_e6").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol).cast("long").as("neighbor_id"),
        col("rank").cast("long").as("rank"), col("score_e6"),
        col("n_terms_hit"))
  }

  /** Vocabulary spectrum (frequency of frequencies) + Good–Turing missing
    * mass: for each occurrence count c, how many distinct terms occur
    * exactly c times — the Zipf-tail fingerprint of a corpus — plus the
    * classic Good–Turing estimate of UNSEEN-vocabulary probability mass,
    * n₁/N (hapax share of tokens), as exact micro-units. Rising missing
    * mass across ingest batches means the source still yields new
    * vocabulary; collapsing n₁ means saturation (the vocabulary-level
    * twin of `noveltyCurve`). Every number is an exact integer — counts,
    * floor-division shares — so the report hash-compares anywhere.
    *
    * Scale shape: one row-data pass to term counts (vocab space), then
    * the spectrum reduces vocab → |distinct counts| (summary space) and
    * the 1-row total broadcasts; no windows, no row-data joins. */
  def vocabSpectrum(df: DataFrame, textCol: String): DataFrame =
    spectrumFromCounts(vocabCounts(df, textCol))

  /** Per-term occurrence counts — the MERGEABLE vocabulary state behind
    * [[vocabSpectrum]]: counts sum exactly, so per-batch count tables
    * merged with [[mergeVocabCounts]] reproduce the one-shot spectrum
    * BIT-FOR-BIT (unlike a spectrum, which is not mergeable from itself —
    * a term at count 2 in two batches is a count-4 term, not two count-2
    * terms). Persist per batch, merge on report; history is rescanned in
    * VOCAB space only, never row data. */
  def vocabCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))

  /** Merge persisted per-batch term-count tables (one groupBy-sum in
    * vocabulary space). */
  def mergeVocabCounts(states: Seq[DataFrame]): DataFrame = {
    require(states.nonEmpty, "mergeVocabCounts needs at least one state")
    states.reduce(_.unionByName(_))
      .groupBy("term").agg(sum(col("cnt")).as("cnt"))
  }

  /** Spectrum + Good–Turing summary from a term-count table. */
  def spectrumFromCounts(tf: DataFrame): DataFrame = {
    val spec = tf.groupBy("cnt").agg(count(lit(1)).as("n_terms"))
    val summ = tf.agg(sum(col("cnt")).as("n_tokens"),
      count(lit(1)).as("v_size"),
      sum(when(col("cnt") === 1L, 1L).otherwise(0L)).as("n_hapax"))
    spec.crossJoin(broadcast(summ))
      .withColumn("vocab_share_e6", expr("n_terms * 1000000L div v_size"))
      .withColumn("token_share_e6",
        expr("cnt * n_terms * 1000000L div n_tokens"))
      .withColumn("missing_mass_e6", expr("n_hapax * 1000000L div n_tokens"))
      .select(col("cnt"), col("n_terms"), col("vocab_share_e6"),
        col("token_share_e6"), col("n_tokens"), col("v_size"),
        col("n_hapax"), col("missing_mass_e6"))
  }

  /** Skip-gram (center, context) pair counts within a ±`window` token
    * radius — the word2vec/GloVe training-pair generator and the
    * cooccurrence statistic behind distributional similarity. Pair
    * generation is row-local (nested index transforms, no join, no
    * shuffle until the count), and the count groupBy is map-side
    * combinable, so hot centers (stopwords) partial-aggregate before the
    * exchange instead of converging on one task. `minCount` bounds the
    * output to pairs seen often enough to matter.
    *
    * Position pairs (i, j ≠ i) count each cooccurrence from BOTH sides
    * (center=x,context=y at distance d, and center=y,context=x) — the
    * standard symmetric-context convention. */
  def skipgramPairs(df: DataFrame, textCol: String, window: Int,
      minCount: Long = 1L): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    fanOut(df.select(col(textCol)))
      .select(tokens(col(textCol)).as("_toks"))
      .filter(size(col("_toks")) >= 2)
      .select(explode(expr(
        s"""flatten(transform(sequence(0, size(_toks) - 1), i ->
           |  transform(sequence(greatest(0, i - $window),
           |      least(size(_toks) - 1, i + $window)), j ->
           |    struct(_toks[i] AS center, _toks[j] AS context,
           |      i AS ci, j AS cj))))""".stripMargin)).as("p"))
      .filter(col("p.ci") =!= col("p.cj"))
      .groupBy(col("p.center").as("center"), col("p.context").as("context"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): corpus keywords
    * as the highest-PageRank nodes of the word co-occurrence graph — a
    * COMPOSITION of this engine's own primitives: [[skipgramPairs]]
    * builds the ±window co-occurrence edges (already symmetric;
    * canonicalized center < context), words hash to 60-bit md5-prefix
    * node ids (the q139 convention, replayable cross-engine), and
    * `Graphs.pageRankWeighted` runs the exact fixed-point integer
    * recurrence — so the whole pipeline stays oracle-checkable end to
    * end. Output: the top-`k` words on the (rank_e9 desc, word) total
    * order.
    *
    * Scale shape: the graph lives in vocabulary space (edges =
    * distinct co-occurring pairs ≥ minCount), so the PR rounds never
    * touch corpus rows; the word↔id vocab join is edge-endpoint sized. */
  def textRankKeywords(df: DataFrame, textCol: String, window: Int = 2,
      minCount: Long = 5L, iters: Int = 4, k: Int = 50): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def wordId(c: Column): Column =
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    val pairs = skipgramPairs(df, textCol, window, minCount)
      .filter(col("center") < col("context"))
      .localCheckpoint() // feeds the edge build AND the vocab map
    val edges = pairs.select(wordId(col("center")).as("a"),
      wordId(col("context")).as("b"), col("cnt"))
    val ranks = graft.ops.Graphs.pageRankWeighted(edges, "a", "b", "cnt",
      iters)
    val vocab = pairs.select(col("center").as("word"))
      .unionAll(pairs.select(col("context").as("word")))
      .distinct()
      .select(col("word"), wordId(col("word")).as("node"))
    ranks.join(vocab, "node")
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("rank_e9").desc, col("word"))).cast("long"))
      .filter(col("rank") <= k)
      .select("rank", "word", "rank_e9")
  }

  /** Tokenizer-fertility report: per group (language, source, …), how many
    * characters a BPE-style token carries and how many BPE tokens a
    * whitespace word splits into — the per-language tokenizer-efficiency
    * numbers that decide sampling weights and cost models (a language at
    * 2× fertility pays 2× the context budget for the same text). Exact
    * integer sums, floor-division micro-unit ratios; groups with zero
    * tokens yield null ratios via an EXPLICIT zero-divisor guard — never
    * an error, independent of the session's ANSI mode (bare `div` raises
    * under ANSI, nulls under legacy: exactly the conf-dependent surface
    * to keep out of a report).
    *
    * Scale shape: ONE grouped aggregate with map-side partials; the
    * per-row token counts are codegen'd scans (native bpe_token_count —
    * no regex engine in the hot path). */
  def tokenizerFertility(df: DataFrame, textCol: String,
      groupCols: Seq[String]): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col(textCol)).cast("long")).as("n_chars"),
        sum(bpeTokenCount(col(textCol)).cast("long")).as("n_bpe_tokens"),
        sum(tokenCount(col(textCol)).cast("long")).as("n_ws_tokens"))
      .withColumn("chars_per_bpe_e6",
        when(col("n_bpe_tokens") === 0L, lit(null).cast("long"))
          .otherwise(expr("n_chars * 1000000L div n_bpe_tokens")))
      .withColumn("bpe_per_ws_e6",
        when(col("n_ws_tokens") === 0L, lit(null).cast("long"))
          .otherwise(expr("n_bpe_tokens * 1000000L div n_ws_tokens")))

  /** Collocation mining: adjacent token pairs ranked by PMI-style LIFT =
    * P(x,y) / (P(x)·P(y)) — how much more often the pair occurs than its
    * parts predict, the classic new-term/named-entity miner. The log is
    * deliberately dropped (PMI = log lift is monotone in it) so the score
    * stays an EXACT rational: lift_num = c_xy·N and lift_den = c_x·c_y are
    * BIGINT products of exact counts, and the double `lift` divides two
    * exact integers < 2⁵³ — bit-identical on every engine (the linearTrend
    * determinism pattern). `minCount` kills the low-count noise PMI is
    * notorious for (hapax pairs score astronomically).
    *
    * Overflow contract: c_xy·N < 2⁶³ needs N < ~3·10⁹ bigrams; shard the
    * corpus (scores are per-shard exact) or pre-scale counts beyond that.
    *
    * Scale shape: one row-data groupBy to bigram counts; marginals c_x /
    * c_y REDUCE from those counts in vocabulary space (never a second scan
    * of row data), join back by vocab key — AQE-skew-splittable — and the
    * 1-row total broadcasts. Top-k is orderBy+limit
    * (TakeOrderedAndProject), with rnk from a window over ≤ topK rows. */
  def collocationLift(df: DataFrame, textCol: String,
      minCount: Long = 5L, topK: Int = 100): DataFrame = {
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val big = df.select(tokens(col(textCol)).as("_toks"))
      .filter(size(col("_toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(_toks) - 2), " +
          "i -> struct(_toks[i] AS x, _toks[i + 1] AS y))")).as("b"))
      .select(col("b.x").as("x"), col("b.y").as("y"))
    val bi = big.groupBy("x", "y").agg(count(lit(1)).as("c_xy"))
    val cx = bi.groupBy("x").agg(sum(col("c_xy")).as("c_x"))
    val cy = bi.groupBy("y").agg(sum(col("c_xy")).as("c_y"))
    val tot = bi.agg(sum(col("c_xy")).as("n_bigrams"))
    val scored = bi.filter(col("c_xy") >= minCount)
      .join(cx, "x").join(cy, "y")
      .crossJoin(broadcast(tot))
      .withColumn("lift_num", col("c_xy") * col("n_bigrams"))
      .withColumn("lift_den", col("c_x") * col("c_y"))
      .withColumn("lift",
        col("lift_num").cast("double") / col("lift_den").cast("double"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("lift").desc, col("x"), col("y"))
    scored.orderBy(col("lift").desc, col("x"), col("y")).limit(topK)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .select(col("rnk"), col("x"), col("y"), col("c_xy"), col("c_x"),
        col("c_y"), col("n_bigrams"), col("lift_num"), col("lift_den"),
        col("lift"))
  }

  /** Word n-grams of a token-array column, space-joined. Callers guard
    * `size(toksCol) >= n`; below that the greatest() floor yields one
    * partial gram that the guard discards. */
  private[text] def gramsOf(toksCol: String, n: Int): Column =
    expr(s"transform(sequence(1, greatest(size($toksCol) - ${n - 1}, 1)), " +
      s"i -> concat_ws(' ', slice($toksCol, i, $n)))")

  /** Intra-document repetition signals (the Gopher/MassiveText quality
    * rules): for each n in `ns`, the fraction of the document's n-grams
    * that are duplicates of an earlier n-gram, as a micro-unit integer.
    * Heavily repeated boilerplate/spam scores high; documents shorter than
    * n tokens score 0. Row-local — zero shuffle at any corpus size.
    * Computed by the native `dup_gram_frac_e6` Expression (one pass, no
    * gram-string materialization), spec-asserted identical to a
    * builtin-HOF reference form. */
  def repetitionProfile(df: DataFrame, textCol: String,
      ns: Seq[Int] = Seq(2, 3)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"bad n-gram sizes: $ns")
    ns.foldLeft(df) { (acc, n) =>
      acc.withColumn(s"dup_${n}gram_frac_e6",
        call_function("dup_gram_frac_e6", col(textCol), lit(n)))
    }
  }

  /** Benchmark-contamination score — the decontamination signal of
    * large-corpus curation: for each document, the fraction of its word
    * n-grams that appear anywhere in a benchmark/eval corpus, as a
    * micro-unit integer (plus the raw gram counts). Flag or drop documents
    * above a threshold before training so eval data doesn't leak in.
    *
    * Scale shape: the benchmark gram set is distinct'd and BROADCAST (eval
    * sets are tiny next to a training corpus), so the only shuffle is the
    * per-document count aggregation; the corpus is scanned once. Documents
    * shorter than n tokens score 0. */
  def contaminationScore(docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, n: Int = 3): DataFrame = {
    require(n >= 1, s"bad n-gram size: $n")
    val bGrams = bench
      .withColumn("_toks", tokens(col(benchTextCol)))
      .filter(size(col("_toks")) >= n)
      .select(explode(gramsOf("_toks", n)).as("gram"))
      .distinct()
      .withColumn("_hit", lit(1))
    val dGrams = docs
      .withColumn("_toks", tokens(col(textCol)))
      .withColumn("_grams",
        when(size(col("_toks")) >= n, gramsOf("_toks", n))
          .otherwise(array().cast("array<string>")))
      .select(col(idCol), explode_outer(col("_grams")).as("gram"))
    dGrams.join(broadcast(bGrams), Seq("gram"), "left")
      .groupBy(idCol)
      .agg(
        count(col("gram")).as("total_grams"),
        count(col("_hit")).as("matched_grams"))
      .withColumn("contamination_e6",
        when(col("total_grams") === 0, lit(0L)).otherwise(
          round(col("matched_grams").cast("double") /
            col("total_grams").cast("double") * 1e6).cast("long")))
  }

  /** Inter-document repetition — the cross-corpus complement of
    * [[repetitionProfile]]: per document, how many of its distinct n-gram
    * shingles appear in at least `minDf` documents corpus-wide, and the
    * micro-unit fraction of its shingles that are such shared boilerplate.
    * High scores mark templated/boilerplate content (headers, navigation,
    * license blurbs) that per-document signals can't see; curation drops or
    * down-weights them before training.
    *
    * Scale shape: distinct shingles hash row-locally (native
    * `shingle_hashes`); document frequency is a grouped count in
    * vocabulary space (shingles are distinct per doc, so count IS df)
    * joined back onto the exploded rows by hash. Chosen over a count
    * window over the hash partition, which is faster single-node (0.76× at
    * sf0.1 — one text scan vs two, column pruning diverges the branches so
    * ReuseExchange cannot merge them) but buffers every document carrying
    * a hot boilerplate shingle in ONE unsplittable window partition — a
    * guaranteed straggler at 100 TB, where the join form stays
    * AQE-skew-splittable (and the df side broadcasts whenever the
    * vocabulary fits). The per-doc rollup is one keyed shuffle;
    * zero-shingle docs re-enter from a column-pruned id-only scan (text
    * never read). All linear, no pair expansion anywhere (this reads
    * document frequency only, never which documents share a shingle). The
    * fraction is floor-division micro-units of exact integers, so the
    * output hash-compares across engines. */
  def interDocRepetition(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDf: Int = 2): DataFrame = {
    require(n >= 1 && minDf >= 1, s"bad interDocRepetition params: n=$n minDf=$minDf")
    // null text → empty set via coalesce (explode of empty drops the row;
    // the id-only left join below restores it with zeros)
    val ex = df.select(col(idCol).as("doc_id"),
      explode(coalesce(call_function("shingle_hashes", col(textCol), lit(n)),
        typedlit(Seq.empty[Long]))).as("h"))
    val dfCounts = ex.groupBy("h").agg(count(lit(1)).as("_df"))
    val perDoc = ex.join(dfCounts, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("_df") >= minDf, 1)).as("n_shared"))
    df.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("shared_frac_e6",
        when(col("n_shingles") === 0, lit(0L))
          .otherwise(expr("n_shared * 1000000L div n_shingles")))
  }

  /** Novelty score of arriving documents against a historical corpus: the
    * fraction of each new doc's distinct n-gram shingles that appear
    * NOWHERE in the corpus — the data-value signal an ingest pipeline reads
    * to prioritize genuinely-new content (the inverse of
    * [[contaminationScore]], against history instead of an eval set).
    * Scores are floor-division micro-units of exact integers.
    *
    * Scale shape: the corpus side reduces to its DISTINCT 8-byte shingle
    * hashes (one shuffle, reused across batches when persisted), the batch
    * explodes its shingles and LEFT-joins that set on the hash — corpus
    * gram sets are far too big to broadcast, so this is a keyed shuffle
    * join by design; the per-doc rollup is one more keyed shuffle. Docs
    * with no shingles (short/null text) report 0 novelty — "nothing new",
    * matching the gate-them-out posture. */
  def noveltyScore(newDf: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    require(n >= 1, s"bad n-gram size: $n")
    val corpusGrams = corpus
      .select(explode(coalesce(
        call_function("shingle_hashes", col(textCol), lit(n)),
        typedlit(Seq.empty[Long]))).as("h"))
      .distinct()
      .withColumn("_seen", lit(1))
    val newGrams = newDf
      .select(col(idCol).as("doc_id"),
        coalesce(call_function("shingle_hashes", col(textCol), lit(n)),
          typedlit(Seq.empty[Long])).as("_sh"))
      .select(col("doc_id"), explode_outer(col("_sh")).as("h"))
    newGrams.join(corpusGrams, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(col("h")).as("n_shingles"),
        (count(col("h")) - count(col("_seen"))).as("n_novel"))
      .withColumn("novelty_e6",
        when(col("n_shingles") === 0, lit(0L))
          .otherwise(expr("n_novel * 1000000L div n_shingles")))
  }

  /** Per-batch novelty curve — the ingest-value signal over TIME instead
    * of per document ([[noveltyScore]]'s batch-level integral): for each
    * ingest batch, how many of its distinct n-gram shingles appear for the
    * FIRST time in that batch (attribution by min batch — ties go to the
    * earliest, so a shingle is "new" exactly once). A flattening curve
    * says the source is exhausted — stop paying for it; a step says a new
    * content vein. `batchCol` is any integer batch assignment (ingest day,
    * crawl id, doc_id div N).
    *
    * Scale shape: shingles hash row-locally, reduce to distinct (batch,
    * hash) pairs (partial-aggregating), then ALL counting happens in
    * vocabulary space (min-batch per hash, count per batch) — no windows,
    * no pair joins, nothing corpus-frequency-keyed in one task. Integer
    * micro-unit ratios. */
  def noveltyCurve(df: DataFrame, textCol: String, batchCol: String,
      n: Int): DataFrame = {
    require(n >= 1, s"bad n-gram size: $n")
    val batchShingles = df.select(col(batchCol).cast("long").as("batch"),
        explode(coalesce(call_function("shingle_hashes", col(textCol), lit(n)),
          typedlit(Seq.empty[Long]))).as("h"))
      .distinct()
    val perBatch = batchShingles.groupBy("batch")
      .agg(count(lit(1)).as("n_shingles"))
    val newPerBatch = batchShingles.groupBy("h")
      .agg(min(col("batch")).as("batch"))
      .groupBy("batch").agg(count(lit(1)).as("new_shingles"))
    perBatch.join(newPerBatch, Seq("batch"), "left")
      .select(col("batch"), col("n_shingles"),
        coalesce(col("new_shingles"), lit(0L)).as("new_shingles"))
      .withColumn("novelty_e6",
        when(col("n_shingles") === 0, lit(0L))
          .otherwise(expr("new_shingles * 1000000L div n_shingles")))
  }

  /** One-pass text profile of a corpus: the per-document quality columns.
    * Ratio columns are micro-unit integers (`round(x*1e6)` of a
    * deterministic double) — integer-rounding a shared double is identical
    * across engines, unlike decimal-place rounding of doubles. */
  def profile(df: DataFrame, textCol: String): DataFrame = {
    val c = col(textCol)
    def e6(x: Column): Column = round(x * lit(1e6)).cast("long")
    df.withColumn("n_tokens", tokenCount(c).cast("long"))
      .withColumn("n_unique_tokens", uniqueTokenCount(c).cast("long"))
      .withColumn("ttr_e6", e6(typeTokenRatio(c)))
      .withColumn("avg_token_len_e6", e6(avgTokenLength(c)))
      .withColumn("quality_score_e6", e6(qualityScore(c)))
  }
}
