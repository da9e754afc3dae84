package graft.dedup

import graft.ops.Blocking
import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data curation: exact (hash groupBy),
  * n-gram Jaccard pair similarity, MinHash signatures + LSH banding, and
  * SimHash. Extends the reference's keyed dedupe (D1, bronze_to_silver.py:
  * 392-429) to the content-based near-dup family a 100 TB text pipeline
  * needs.
  *
  * Scale notes:
  *  - MinHash signatures are computed ROW-LOCALLY (array_min over a
  *    transform), not via explode+groupBy — zero shuffle until the band join.
  *  - Every candidate-pair operator blocks through `graft.ops.Blocking`:
  *    one exchange builds the posting lists, a hot-key cap bounds each
  *    list inside the aggregate, pairs explode in place. LSH bucket keys
  *    are md5 strings, uniformly distributed, so the exchange is balanced;
  *    hot buckets (boilerplate docs) are the known LSH skew case that
  *    `maxBucketSize` caps before the pair blow-up.
  *  - Jaccard self-join explodes distinct shingles; frequency-capping drops
  *    stop-shingles that would otherwise produce O(df²) candidate pairs.
  */
object Dedup {

  /** Duplicate groups under the content key `key`: one row per key value
    * with >1 member — the value (`fingerprint`), its `copies` and the min
    * id (`keep_id`). One balanced shuffle on the key. The keys in use:
    * `TextAnalysis.fingerprint(text)` (exact), `md5(canonicalForm(text))`
    * and `md5(canonicalFormUnicode(text))`. */
  def dupGroups(df: DataFrame, idCol: String, key: Column): DataFrame =
    df.groupBy(key.as("fingerprint"))
      .agg(count(lit(1)).as("copies"), min(col(idCol)).as("keep_id"))
      .filter(col("copies") > 1)

  /** Dedup on the content key `key` ([[dupGroups]]'s keys): keep the min-id
    * row per key value. One window over the key (high-cardinality,
    * balanced). */
  def dedupeByKey(df: DataFrame, idCol: String, key: Column): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col(idCol))
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** Canonical content form: lowercase, every non-[a-z0-9] run collapsed to
    * one space, trimmed — a case/whitespace/punctuation-insensitive content
    * identity, the normalization web-corpus pipelines run BEFORE exact
    * hashing so trivially-reformatted copies (casing, extra spaces,
    * trailing punctuation) hash together. Row-local projection: composes
    * with any hash-groupBy dedup at zero extra shuffle cost. Kept to a
    * deliberately simple ASCII character class so Spark's Java regex and
    * any SQL engine's RE2 agree symbol-for-symbol. */
  def canonicalForm(c: Column): Column =
    trim(regexp_replace(lower(c), "[^a-z0-9]+", " "))

  /** Unicode canonical content form: NFC-compose (the native
    * `nfc_normalize` expression — byte-distinct, codepoint-equivalent
    * variants like e+U+0301 vs é collapse), unicode-lowercase, every run
    * of non-letter/non-digit codepoints (`[^\p{L}\p{Nd}]+` — a property
    * class java.util.regex and RE2 read identically) to one space,
    * trimmed. The normalization real web corpora need before content
    * hashing, where [[canonicalForm]]'s deliberately-ASCII class mangles
    * every accented word to fragments. Both forms stay: ASCII for the
    * RE2-parity contract on known-ASCII corpora, this one for the
    * multilingual crawl. Row-local projection, zero extra shuffle. */
  def canonicalFormUnicode(c: Column): Column =
    trim(regexp_replace(lower(call_function("nfc_normalize", c)),
      "[^\\p{L}\\p{Nd}]+", " "))

  /** Incremental exact dedup for CONTINUOUS INGEST: drop new docs whose
    * content fingerprint already exists in the historical corpus, without
    * anti-joining the full new batch against the full corpus. A Bloom
    * filter over the corpus fingerprints (built distributively by
    * `stat.bloomFilter` — one corpus pass, a driver-held sketch) rides the
    * plan as a binary literal into the native `bloom_might_contain` probe:
    * definite-new rows (bloom miss — no false negatives) pass immediately;
    * only bloom HITS (true dupes + ~fpp·|new| false positives) pay the
    * verifying anti-join against the corpus fingerprint set. The bloom can
    * therefore never change the RESULT — output is exactly the
    * fingerprint set difference — only the anti-join's size.
    *
    * Scale shape: |corpus| enters one aggregate (the sketch) and one
    * anti-join whose PROBE side is the small hit subset; at 1M expected
    * items / 1% fpp the literal is ~1.2 MB — task-closure mass, like the
    * IVF centroid matrix. */
  def dedupeAgainstCorpus(
      newDf: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      expectedItems: Long,
      fpp: Double = 0.01): DataFrame = {
    val fp = TextAnalysis.fingerprint(col(textCol))
    val corpusFps = corpus.select(fp.as("_fp"))
    val bloom = corpusFps.stat.bloomFilter("_fp", expectedItems, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val tagged = newDf
      .withColumn("_fp", fp)
      .withColumn("_hit", call_function("bloom_might_contain", col("_fp"),
        lit(bytes)))
    val definiteNew = tagged.filter(!col("_hit"))
    val verified = tagged.filter(col("_hit"))
      .join(corpusFps.distinct(), Seq("_fp"), "left_anti")
    definiteNew.unionByName(verified).drop("_fp", "_hit")
  }

  /** Incremental FUZZY dedup for continuous ingest — the near-dup twin of
    * `dedupeAgainstCorpus`: drop arriving docs whose n-gram Jaccard against
    * ANY historical-corpus doc exceeds `threshold` (exact duplicates are
    * jaccard 1, so this strictly supersedes the fingerprint check at the
    * cost of the signature pass). MinHash-LSH band buckets prune the
    * cross-corpus candidate join — a batch doc pays an exact verification
    * only against corpus docs sharing at least one full signature band,
    * never the whole corpus. Approximate only in LSH recall (a true near-dup
    * agreeing on no band slips through); every DROP is exact-verified.
    *
    * Scale shape: one signature pass per side, the candidate join keyed on
    * (band, bucket) — linear shuffles in |batch| + |corpus|. The corpus
    * state is derived per call: the capped LSH band posting lists and the
    * shingle-hash verification sets ([[verifiedJaccard]]), which evaluates
    * the corpus text scan twice (band pass + verification-set pass). The batch side's own two passes are
    * over the arriving batch only. `maxBucketSize` caps corpus-side bucket
    * membership (boilerplate guard) before the candidate explosion. */
  def fuzzyDedupeAgainstCorpus(
      newDf: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      threshold: Double,
      numHashes: Int = 8,
      numBands: Int = 4,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val corpusBuckets = Blocking.postings(
      minhashBands(corpus, idCol, textCol, numHashes, numBands, shingleN),
      Seq("band_idx", "bucket"), col("doc_id"), maxBucketSize)
    val newBands = minhashBands(newDf, idCol, textCol, numHashes, numBands,
      shingleN)
    val cands = newBands.join(corpusBuckets, Seq("band_idx", "bucket"))
      .select(col("doc_id").as("id_a"), explode(col("members")).as("id_b"))
      .distinct() // a pair may agree on several bands; verify it once
    // candidates exist only for docs with >= 1 shingle, so the union
    // denominator is never 0
    val dropped = verifiedJaccard(cands, newDf, corpus, idCol, textCol,
        shingleN, threshold)
      .select(col("id_a").as(idCol))
      .distinct()
    newDf.join(dropped, Seq(idCol), "left_anti")
  }

  /** Per-group exact-duplicate IMPACT report — the dedup observability
    * row a curation dashboard tracks per source/language/batch: how many
    * docs the group contributes, how many exact dedup would REMOVE under
    * the global min-id survivor rule (computed corpus-wide first, so a
    * duplicate pair spanning two sources attributes its loss to the
    * source holding the higher id — per-group dedup rates that sum
    * consistently with the global dedup), distinct texts, and the
    * micro-unit removal rate. A source suddenly jumping in dup_rate is
    * re-crawling itself; one near 0 everywhere else's overlap is the
    * canonical holder.
    *
    * Scale shape: one fingerprint groupBy (the dedupeByKey shuffle), one
    * fingerprint-keyed join back, one grouped rollup — no row-data
    * windows, no pair expansion.
    *
    * NULL-text rows are EXCLUDED from the report (their fingerprint is
    * null and null keys never join — the same explicit-exclusion contract
    * as gapFillDaily's null days): dup accounting over absent content is
    * meaningless; route those rows through the completeness checks
    * instead. */
  def dedupImpactReport(df: DataFrame, idCol: String, textCol: String,
      groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "dedupImpactReport needs group columns")
    val gcols = groupCols.map(col)
    val fpd = df.select(gcols ++ Seq(col(idCol).as("_id"),
      TextAnalysis.fingerprint(col(textCol)).as("_fp")): _*)
    val keep = fpd.groupBy("_fp").agg(min(col("_id")).as("_keep_id"))
    fpd.join(keep, "_fp")
      .withColumn("_removed", col("_id") =!= col("_keep_id"))
      .groupBy(gcols: _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("_removed"), 1L).otherwise(0L)).as("n_removed"),
        count_distinct(col("_fp")).as("n_distinct_texts"))
      .withColumn("dup_rate_e6", expr("n_removed * 1000000L div n_docs"))
  }

  /** Truncation-duplicate pairs: documents whose ENTIRE text is a strict
    * prefix of a longer document's — the crawler/connector artifact
    * (cut-off fetches, re-crawls with more content) that exact dedup
    * misses (different fingerprints) and shingle dedup only catches past
    * its jaccard threshold. Candidates bucket on the first `prefixLen`
    * characters (any true prefix pair shares them by construction), then
    * a row-local substring check verifies the full prefix relation —
    * bucketing is pure pruning, never semantics. Strictly-shorter only:
    * equal-length equal-text is exact dedup's job, and docs shorter than
    * `prefixLen` are excluded by contract (too short to assert truncation
    * on; route them through exact dedup).
    *
    * Scale shape: one shuffle on the prefix key (the `Blocking` posting
    * lists, members sorted by length so each pair arrives child-first);
    * bucket size is bounded by how many docs open identically —
    * boilerplate openings can make a hot bucket, so `maxBucketSize` drops
    * buckets past the cap (the jaccardPairs knob). Verification is
    * row-local on the exploded pair.
    *
    * Output: (child_id, parent_id, child_len, parent_len) — feed distinct
    * child ids to an anti-join to keep longest versions (chains a<b<c
    * drop both a and b: each is some pair's child). */
  def prefixDupes(df: DataFrame, idCol: String, textCol: String,
      prefixLen: Int = 32, maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(prefixLen >= 1, s"prefixLen must be >= 1, got $prefixLen")
    require(maxBucketSize >= 2, s"maxBucketSize must be >= 2, got $maxBucketSize")
    val docs = df.select(col(idCol).as("_id"), col(textCol).as("_txt"))
      .filter(col("_txt").isNotNull && length(col("_txt")) >= prefixLen)
      .withColumn("_pfx", md5(substring(col("_txt"), 1, prefixLen)))
    val doc = struct(length(col("_txt")).as("len"), col("_id").as("id"),
      col("_txt").as("txt"))
    Blocking.pairs(Blocking.postings(docs, Seq("_pfx"), doc, maxBucketSize))
      .filter(col("id_a.len") < col("id_b.len"))
      .filter(expr("substring(id_b.txt, 1, id_a.len) = id_a.txt"))
      .select(col("id_a.id").cast("long").as("child_id"),
        col("id_b.id").cast("long").as("parent_id"),
        col("id_a.len").cast("long").as("child_len"),
        col("id_b.len").cast("long").as("parent_len"))
  }

  /** Drop every doc that is a strict prefix of a longer doc — keep the
    * fullest version of each truncation chain. */
  def removePrefixDupes(df: DataFrame, idCol: String, textCol: String,
      prefixLen: Int = 32, maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val children = prefixDupes(df, idCol, textCol, prefixLen, maxBucketSize)
      .select(col("child_id").as(idCol)).distinct()
    df.join(children, Seq(idCol), "left_anti")
  }

  /** Substring-level (interior-span) duplicate detection — the
    * Lee-et-al-style step AFTER document-level MinHash: repeated runs of
    * >= k tokens INSIDE otherwise-distinct documents (license headers,
    * quoted passages, templated paragraphs). Document-level dedup never
    * sees them; `prefixDupes` only catches whole-document truncations.
    *
    * Every k-token window of every document is fingerprinted POSITIONALLY
    * (60-bit md5 prefix of the space-joined gram — 8-byte shuffle keys,
    * collision odds ~n²/2^61, and exactly replayable in the oracle). One
    * hash aggregate counts global copies per gram and elects the survivor
    * occurrence (lexicographic min (doc, pos) — the standard keep-first
    * rule, as in exactDedupe); one join back flags every NON-survivor
    * occurrence of a gram with copies in [minCopies, maxSpanFreq].
    *
    * No pair stage exists anywhere: detection is per-gram counting, so the
    * work is linear in corpus tokens however many documents share a span.
    * `maxSpanFreq` is the hot-span knob: a gram above it is a stop-phrase
    * ("all rights reserved" at 10^8 df) — masking it everywhere would
    * shred ordinary prose, and it would be the one skewed join key, so it
    * is excluded from flagging (same posture as `maxShingleFreq` in
    * jaccardPairs).
    *
    * Output: one row per flagged occurrence `(idCol, span_pos, copies)` —
    * span_pos is the 1-based token index of the window start; the covered
    * tokens are [span_pos, span_pos + k). Feed to `maskDuplicateSpans`
    * for mask semantics, or aggregate per doc for a contamination score. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int, minCopies: Int = 2,
      maxSpanFreq: Int = Int.MaxValue): DataFrame = {
    require(k >= 2, s"span gram size must be >= 2, got $k")
    require(minCopies >= 2, s"minCopies must be >= 2, got $minCopies")
    require(maxSpanFreq >= minCopies,
      s"maxSpanFreq ($maxSpanFreq) must be >= minCopies ($minCopies)")
    val toks = TextAnalysis.tokens(col(textCol))
    // short docs are filtered BEFORE the window transform: sequence(1, x)
    // descends for x < 1
    val occ = df
      .select(col(idCol).as("_id"), toks.as("_toks"))
      .filter(size(col("_toks")) >= k)
      .select(col("_id"), explode(transform(
        sequence(lit(1), size(col("_toks")) - lit(k - 1)),
        i => struct(i.as("pos"),
          conv(substring(md5(concat_ws(" ",
            slice(col("_toks"), i, lit(k)))), 1, 15), 16, 10)
            .cast("long").as("gram")))).as("_o"))
      .select(col("_id"), col("_o.pos").as("_pos"), col("_o.gram").as("_gram"))
    val dupGrams = occ.groupBy("_gram")
      .agg(count(lit(1)).as("copies"),
        min(struct(col("_id"), col("_pos"))).as("_surv"))
      .filter(col("copies") >= minCopies && col("copies") <= maxSpanFreq)
    occ.join(dupGrams, "_gram")
      .filter(col("_surv._id") =!= col("_id") ||
        col("_surv._pos") =!= col("_pos"))
      .select(col("_id").as(idCol), col("_pos").as("span_pos"),
        col("copies"))
  }

  /** Mask repeated interior spans: every token covered by a flagged
    * occurrence (see `duplicateSpans` — non-survivor, copies within
    * [minCopies, maxSpanFreq]) is removed, and each MAXIMAL run of removed
    * tokens is replaced by a single `maskToken`. The survivor occurrence
    * keeps its text, so one copy of every repeated span remains in the
    * corpus (the Lee-et-al drop-all-but-one contract, at span granularity).
    *
    * Per-doc state is bounded by the doc's own token count (the masked-
    * position list lives inside one row, like every other row-local text
    * op), so scale follows the detection stage: linear in corpus tokens.
    *
    * Output: the input row plus `n_tokens`, `n_masked`, `n_spans` (maximal
    * merged masked runs), and `masked_text`. Docs with nothing flagged
    * pass through with n_masked = 0 and masked_text = the original tokens
    * re-joined. */
  def maskDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int, minCopies: Int = 2, maxSpanFreq: Int = Int.MaxValue,
      maskToken: String = "[DUP]"): DataFrame = {
    val flagged = duplicateSpans(df, idCol, textCol, k, minCopies, maxSpanFreq)
    // overlapping flagged windows cover the same token: distinct BEFORE the
    // per-doc rollup so a token masks once however many windows hit it
    val covered = flagged.select(col(idCol),
        explode(sequence(col("span_pos"),
          col("span_pos") + lit(k - 1))).as("_mpos"))
      .distinct()
    val perDoc = covered.groupBy(idCol)
      .agg(sort_array(collect_set(col("_mpos"))).as("_mlist"))
    val toks = TextAnalysis.tokens(col(textCol))
    df.join(perDoc, Seq(idCol), "left")
      .withColumn("_mlist",
        coalesce(col("_mlist"), typedLit(Seq.empty[Int])))
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_masked", size(col("_mlist")).cast("long"))
      // islands count: fold over the sorted positions, +1 whenever the
      // predecessor isn't pos-1 (row-local, no window)
      .withColumn("n_spans", aggregate(col("_mlist"),
        struct(lit(-2).as("prev"), lit(0L).as("cnt")),
        (acc, x) => struct(x.as("prev"),
          (acc("cnt") + when(x - acc("prev") === 1, 0L).otherwise(1L))
            .as("cnt")),
        acc => acc("cnt")))
      // run collapse: a masked token emits the sentinel only when its
      // predecessor position is NOT masked; interior masked tokens emit
      // null, which concat_ws skips
      .withColumn("masked_text", concat_ws(" ", transform(toks,
        (t, i0) => when(array_contains(col("_mlist"), i0 + lit(1)),
          when(array_contains(col("_mlist"), i0), lit(null))
            .otherwise(lit(maskToken)))
          .otherwise(t))))
      .drop("_mlist")
  }

  /** Exact pairwise n-gram Jaccard over candidate pairs that share at least
    * one shingle. Returns (id_a, id_b, inter, size_a, size_b, jaccard) with
    * id_a < id_b. `maxShingleFreq` drops shingles appearing in more than
    * that many docs before pairing (skew guard; pass Int.MaxValue for exact
    * semantics on small corpora). */
  def jaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      maxShingleFreq: Int = Int.MaxValue): DataFrame = {
    // Each posting carries its doc's set size (row-local `size` of the
    // already-materialized shingle array), so sizes ride through the pair
    // expansion instead of joining back against branches that would
    // re-scan and re-shingle the corpus: ONE scan, TWO shuffles (inverted
    // index + pair counts), ZERO joins.
    //
    // The index is keyed by the shingles' 32-bit md5-prefix HASHES (the
    // native one-pass `shingle_hashes` expression), not the shingle
    // strings: an 8-byte key shuffles ~4× less than a 3-word string and
    // groups/sorts faster. A cross-shingle collision within one pair would
    // nudge `inter` by 1 — odds ~(shingles/doc)²/2³², ignored by contract.
    val sh = df.select(col(idCol).as("doc_id"),
        call_function("shingle_hashes", col(textCol), lit(n)).as("sh"))
      .select(col("doc_id"), size(col("sh")).cast("long").as("set_size"),
        explode(col("sh")).as("shingle"))
    // postings sort by (doc_id, set_size) struct order ≡ doc_id order
    Blocking.pairs(Blocking.postings(sh, Seq("shingle"),
        struct(col("doc_id"), col("set_size")), maxShingleFreq))
      .select(
        col("id_a.doc_id").as("id_a"), col("id_a.set_size").as("size_a"),
        col("id_b.doc_id").as("id_b"), col("id_b.set_size").as("size_b"))
      .groupBy("id_a", "id_b", "size_a", "size_b")
      .agg(count(lit(1)).as("inter"))
      .select(col("id_a"), col("id_b"), col("inter"), col("size_a"),
        col("size_b"), jaccard)
  }

  private val jaccard: Column = (col("inter").cast("double") /
    (col("size_a") + col("size_b") - col("inter")).cast("double")).as("jaccard")

  /** Asymmetric near-CONTAINMENT pairs: containment(A in B) = |A∩B| / |A| —
    * the signal symmetric Jaccard MISSES when a short document is swallowed
    * whole by a longer one (a quoted article inside a commentary page, a
    * license block inside every file of a repo): jaccard dilutes with the
    * big doc's size while containment of the small side stays ≈ 1. Returns
    * every shingle-sharing pair where EITHER direction's containment
    * reaches `thresholdE6`, with both directions as floor-division
    * micro-units (exact integers — hash-comparable). Same inverted-index
    * shape and `maxShingleFreq` skew cap as [[jaccardPairs]]; dedup policy
    * (usually: drop the contained side) is the caller's. */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      thresholdE6: Long,
      maxShingleFreq: Int = Int.MaxValue): DataFrame =
    jaccardPairs(df, idCol, textCol, n, maxShingleFreq)
      .withColumn("containment_a_e6", expr("inter * 1000000L div size_a"))
      .withColumn("containment_b_e6", expr("inter * 1000000L div size_b"))
      .filter(greatest(col("containment_a_e6"), col("containment_b_e6"))
        >= thresholdE6)
      .drop("jaccard")

  /** MinHash signature columns mh0..mh{k-1} appended to df. Row-local, no
    * shuffle; empty shingle sets get null signatures (filtered upstream).
    * Shingles and base hashes materialize ONCE into temp columns, then the
    * native `minhash_sigs` expression (graft.catalyst.MinHashSigs) computes
    * all k values in one compiled loop — the builtin form would traverse
    * the array k times with per-element lambda interpretation. */
  def withMinHash(
      df: DataFrame, textCol: String, numHashes: Int, shingleN: Int): DataFrame = {
    val withSigs = df
      // shingle_hashes + minhash_sigs: the whole signature path is two
      // compiled loops per row (graft.catalyst.{ShingleHashes, MinHashSigs})
      .withColumn("_hs",
        call_function("shingle_hashes", col(textCol), lit(shingleN)))
      .withColumn("_sigs", call_function("minhash_sigs", col("_hs"), lit(numHashes)))
    (0 until numHashes).foldLeft(withSigs)((d, j) =>
      d.withColumn(s"mh$j", element_at(col("_sigs"), j + 1)))
      .drop("_hs", "_sigs")
  }

  /** LSH band keys: band b = md5 of the concatenated signature rows in that
    * band. bandsₓrows = numHashes. */
  def bandKeys(numBands: Int, rowsPerBand: Int): Seq[Column] =
    (0 until numBands).map { b =>
      val cols = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}"))
      md5(concat_ws("|", cols: _*)).as(s"band$b")
    }

  /** Long-format MinHash band memberships (doc_id, band_idx, bucket) — the
    * LSH blocking key stream shared by the self-join (`lshCandidates`) and
    * cross-corpus (`fuzzyDedupeAgainstCorpus`) paths. Row-local until the
    * caller's first groupBy/join; docs too short to produce any shingle get
    * null signatures and are dropped here (they can't be near-dups of
    * anything by construction). At 100 TB this is the frame to PERSIST as a
    * silver table keyed by (band_idx, bucket): incremental ingest then bands
    * only the arriving batch instead of re-signing the corpus per batch. */
  def minhashBands(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int,
      numBands: Int,
      shingleN: Int): DataFrame = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    val rows = numHashes / numBands
    val sig = withMinHash(df.select(col(idCol).as("doc_id"), col(textCol)),
      textCol, numHashes, shingleN)
      .filter(col("mh0").isNotNull)
    sig.select(col("doc_id") +: bandKeys(numBands, rows): _*)
      .select(col("doc_id"), posexplode(
        array((0 until numBands).map(b => col(s"band$b")): _*)))
      .toDF("doc_id", "band_idx", "bucket")
  }

  /** Candidate near-dup pairs via MinHash-LSH: docs agreeing on at least one
    * full band. Returns distinct (id_a, id_b), id_a < id_b. The join key is
    * (band index, bucket key); `maxBucketSize` drops degenerate buckets. */
  def lshCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 8,
      numBands: Int = 4,
      shingleN: Int = 1,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val long = minhashBands(df, idCol, textCol, numHashes, numBands, shingleN)
    Blocking.pairs(Blocking.postings(long, Seq("band_idx", "bucket"),
      col("doc_id"), maxBucketSize)).distinct()
  }

  /** 32-bit token hashes of a text column (one md5 pass). */
  def tokenHashes(c: Column): Column =
    transform(TextAnalysis.tokens(c),
      t => conv(substring(md5(t), 1, 8), 16, 10).cast("long"))

  /** Hamming distance between two simhash values. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Near-dup CLUSTERS from candidate pairs: connected components by
    * min-label propagation WITH pointer jumping — each round every node
    * adopts the minimum of (its label, its neighbors' labels, its label's
    * label). The shortcut halves chain lengths each round, so convergence is
    * O(log diameter) rounds, not O(diameter). Returns (id, label) where
    * label = the component's min id — the canonical survivor.
    *
    * Scale notes: each round is keyed shuffles only, and runs exactly ONE
    * driver action — the old label rides through the aggregate, so the
    * convergence check is a filter on the round's own output (counted by the
    * same job that materializes the lazy `localCheckpoint`), not a second
    * join+count job. `localCheckpoint` cuts plan lineage so round N doesn't
    * replan rounds 1..N−1. */
  def dupClusters(pairs: DataFrame, maxIter: Int = 16): DataFrame = {
    val edges = pairs.select(col("id_a"), col("id_b"))
    // LAZY checkpoints: both pre-loop frames materialize inside round 1's
    // single count action — two fewer driver jobs per call, same truncated
    // lineage. Symmetrization is ONE pass: normalize each edge to its
    // undirected (lo, hi) form, distinct that, and emit both directions with
    // a row-local 2-element explode. `edges ∪ edges.swapped → distinct` ran
    // the caller's whole pair pipeline once per union branch (measured on
    // q107/q152: twice the pair-count stage's 20 MB read and 2.3 s CPU) and
    // shuffled 2|E| rows where |E| carry the same information.
    // array_distinct keeps a self-loop's two identical directions as one row.
    val sym = edges
      .select(least(col("id_a"), col("id_b")).as("_lo"),
        greatest(col("id_a"), col("id_b")).as("_hi"))
      .distinct()
      .select(explode(array_distinct(array(
        struct(col("_lo").as("id_a"), col("_hi").as("id_b")),
        struct(col("_hi").as("id_a"), col("_lo").as("id_b"))))).as("_e"))
      .select(col("_e.id_a").as("id_a"), col("_e.id_b").as("id_b"))
      .localCheckpoint(eager = false)
    // seed with label = min(id, neighbors): the first propagation round
    // pre-applied during the dedup aggregate — one fewer corpus-wide
    // join+shuffle round before convergence
    var labels = sym.groupBy("id_a")
      .agg(min(col("id_b")).as("_mn"))
      .select(col("id_a").as("id"),
        least(col("id_a"), col("_mn")).as("label"))
      .localCheckpoint(eager = false)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // ONE join per round (r21): the propagation edges (sym) and the
      // pointer-jump edges (label → id, "follow my label's label") are
      // both 'dst inherits label(src)' lookups against the SAME label
      // table — unioned into one edge set they need one join instead of
      // two (two broadcast builds + probes per round before; the fused
      // multiset feeds the same min, so labels are identical round for
      // round)
      val jump = labels.select(col("label").as("id_a"), col("id").as("id_b"))
      val viaBoth = sym.unionByName(jump)
        .join(labels.withColumnRenamed("id", "id_a"), "id_a")
        .select(col("id_b").as("id"), col("label"))
      val next = labels.withColumn("_self", lit(1))
        .unionByName(viaBoth.withColumn("_self", lit(0)))
        .groupBy("id")
        .agg(min(col("label")).as("label"),
          // every id occurs exactly once in the labels branch, so this
          // recovers its previous label for the in-pass convergence check
          max(when(col("_self") === 1, col("label"))).as("_old"))
        .localCheckpoint(eager = false)
      // the ONE action of the round: materializes the checkpoint and counts
      val changed = next.filter(col("label") =!= col("_old")).count()
      labels = next.select("id", "label")
      converged = changed == 0
      i += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"dupClusters did not converge in $maxIter rounds (component deeper " +
          s"than ~2^$maxIter); clusters may be split")
    labels
  }

  /** WINNOWING fingerprints (Schleimer–Wilkerson–Aiken, the MOSS
    * algorithm): from each doc's ordered k-token shingle-hash stream,
    * keep the MINIMUM of every w-hash sliding window — a deterministic
    * ~1/w-rate sample with the winnowing GUARANTEE that any shared run of
    * ≥ w+k−1 tokens yields a shared fingerprint (a random 1/w sample has
    * no such promise; a full shingle index is w× bigger). Pairs sharing
    * ≥ `minShared` fingerprints are candidate plagiarism/mirror pairs.
    *
    * Fingerprints are VALUE sets (positions dropped, duplicates
    * collapsed), so window tie-breaking never matters — the set is a pure
    * function of the hash stream on any engine. The windowed min is
    * row-local (O(len·w) per doc, w small); the pair stage is the
    * standard capped inverted index — `maxFingerprintFreq` drops
    * boilerplate fingerprints whole, the maxShingleFreq pattern.
    *
    * Output: (id_a, id_b, n_shared). */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, maxFingerprintFreq: Int = 100,
      minShared: Long = 2L): DataFrame = {
    require(k >= 1 && w >= 2, s"need k >= 1 and w >= 2, got k=$k w=$w")
    // the native one-pass expression: RAW ordered hash stream (duplicates
    // included — set semantics would change window contents), monotonic-
    // deque sliding min, distinct values; docs too short for one full
    // window return an empty array and explode to nothing. The builtin
    // composition (per-position md5 lambdas + windowed array_min) is
    // spec-asserted ≡ and was 3× slower end-to-end at sf1~.
    val fps = df
      .select(col(idCol).cast("long").as("id"),
        explode(call_function("winnow_fps", col(textCol), lit(k), lit(w)))
          .as("fp"))
    Blocking.pairs(Blocking.postings(fps, Seq("fp"), col("id"),
        maxFingerprintFreq))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Winnow-backed near-dup pairs — the 1/w-INDEX replacement for
    * [[jaccardPairs]] when the full shingle inverted index is the
    * bottleneck (its posting stream is every shingle of every doc; at 10×
    * corpus it shuffles superlinearly — SCALE.md): [[winnowPairs]]
    * fingerprints (~1/w of the shingle stream, with the winnowing
    * GUARANTEE that any shared token run of ≥ w+n−1 yields a shared
    * fingerprint) generate the candidates, then each candidate pair is
    * verified with its EXACT n-gram Jaccard — same join-back shape as
    * [[lshJaccardPairs]], so every emitted pair carries the same exact
    * `jaccard` the full index would have computed.
    *
    * Recall contract: a true pair is missed only if the two docs share NO
    * token run of length ≥ w+n−1 surviving the `maxFingerprintFreq`
    * boilerplate cap — near-dup pairs at meaningful thresholds share long
    * runs by construction, and the guarantee (unlike MinHash's
    * probabilistic bands) is deterministic. Output ⊆ [[jaccardPairs]] at
    * the same threshold, with equality whenever every qualifying pair
    * shares such a run (spec-pinned; oracle-replayed end-to-end). */
  def winnowJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, w: Int = 4,
      maxFingerprintFreq: Int = 100, minShared: Long = 1L): DataFrame = {
    val cands = winnowPairs(df, idCol, textCol, n, w, maxFingerprintFreq,
      minShared)
    verifiedJaccard(cands, df, df, idCol, textCol, n, threshold)
  }

  /** The exact-Jaccard verification of candidate (id_a, id_b) pairs — a
    * doc of `dfA` against one of `dfB` — shared by [[winnowJaccardPairs]],
    * [[lshJaccardPairs]] and [[fuzzyDedupeAgainstCorpus]]: (id_a, id_b,
    * inter, size_a, size_b, jaccard) for pairs whose n-gram Jaccard over
    * the docs' 32-bit shingle-hash sets exceeds `threshold`.
    *
    * Sets are SORTED once per doc so each pair verifies with the count-only
    * sorted-merge kernel (size(array_intersect) built a per-pair hash set,
    * the winnow family's dominant CPU — OPTIMIZATION_r22 §1). Restricting
    * `sets` to candidate docs by a semi-join measured slower (r18: the id
    * set re-runs the posting pipeline, +1 s at sf1~), while AQE broadcasts
    * the small pair side into these joins, so `sets` streams the corpus
    * once with no shuffle. */
  private def verifiedJaccard(cands: DataFrame, dfA: DataFrame, dfB: DataFrame,
      idCol: String, textCol: String, n: Int, threshold: Double): DataFrame = {
    def sets(df: DataFrame, side: String) = df.select(col(idCol).as(s"id_$side"),
      sort_array(call_function("shingle_hashes", col(textCol), lit(n)))
        .as(s"_sh_$side"))
    cands.join(sets(dfA, "a"), "id_a").join(sets(dfB, "b"), "id_b")
      .select(col("id_a"), col("id_b"),
        call_function("sorted_intersect_count", col("_sh_a"), col("_sh_b"))
          .as("inter"),
        size(col("_sh_a")).cast("long").as("size_a"),
        size(col("_sh_b")).cast("long").as("size_b"))
      .withColumn("jaccard", jaccard)
      .filter(col("jaccard") > threshold)
  }

  /** Winnow-based EVAL-SET decontamination — the shared-RUN form of
    * `TextAnalysis.contaminationScore`: a training doc is flagged when it
    * shares ≥ `minShared` winnowing fingerprints with the benchmark/eval
    * corpus, which by the winnowing guarantee catches EVERY doc sharing a
    * verbatim token run of ≥ w+n−1 with any eval doc (the long-quote
    * leakage that actually moves benchmark numbers), at ~1/w the gram
    * surface of the full n-gram overlap scan. Returns
    * (id, n_shared_fps, n_fps, shared_frac_e6) for FLAGGED docs only.
    *
    * Scale shape: the eval fingerprint set is distinct'd and BROADCAST
    * (eval sets are tiny next to a training corpus), so the only shuffle
    * is the per-doc count — the corpus is scanned once, there is no pair
    * stage at all. No frequency cap: dropping a hot fingerprint could
    * hide real leakage, and the broadcast side is eval-sized anyway. */
  def winnowContamination(docs: DataFrame, idCol: String, textCol: String,
      evalDf: DataFrame, evalTextCol: String, n: Int, w: Int,
      minShared: Long = 1L): DataFrame = {
    require(minShared >= 1L, s"minShared must be >= 1, got $minShared")
    val evalFps = evalDf
      .select(explode(call_function("winnow_fps", col(evalTextCol),
        lit(n), lit(w))).as("fp"))
      .distinct()
      .withColumn("_hit", lit(1L))
    docs
      .select(col(idCol).as("id"),
        explode(call_function("winnow_fps", col(textCol), lit(n), lit(w)))
          .as("fp"))
      .join(broadcast(evalFps), Seq("fp"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_fps"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_shared_fps"))
      .filter(col("n_shared_fps") >= minShared)
      .withColumn("shared_frac_e6",
        expr("n_shared_fps * 1000000L div n_fps"))
      .select("id", "n_shared_fps", "n_fps", "shared_frac_e6")
  }

  /** INCREMENTAL cluster maintenance: fold a batch of newly-discovered
    * near-dup pairs into an existing (id, label) clustering without
    * re-running pair GENERATION over the historical corpus — the
    * labels-side counterpart of `dedupeAgainstCorpus`'s incremental pair
    * discovery. An old clustering is exactly a star forest (every member
    * points at its min-id label), so components of
    * {star edges} ∪ {new pairs} are precisely the components of
    * {all old pairs} ∪ {new pairs}: star edges preserve old connectivity
    * (anything transitively linked before stays linked through the
    * label), and closure handles bridges the new pairs create between
    * old clusters. Labels stay min-id canonical.
    *
    * Scale shape: the closure input is dup-membership + |new pairs| sized
    * (≪ corpus — docs in no cluster never enter), and [[dupClusters]]'s
    * pointer-jumping rounds do the rest. Oracle-checked as ≡ a full
    * recompute over the union of all pairs (q165). */
  def mergeClusters(oldLabels: DataFrame, newPairs: DataFrame): DataFrame = {
    val starEdges = oldLabels
      .filter(col("id") =!= col("label"))
      .select(col("id").as("id_a"), col("label").as("id_b"))
    dupClusters(starEdges.unionByName(
      newPairs.select(col("id_a"), col("id_b"))))
  }

  /** Near-dup pairs AT SCALE: MinHash-LSH candidate generation followed by
    * exact Jaccard verification of the candidates only — the linear-shuffle
    * replacement for `jaccardPairs`' full inverted-index pair expansion when
    * stop-shingle frequency caps aren't enough. Approximate only in LSH
    * recall (a true pair missing every band is skipped); every returned pair
    * carries its EXACT Jaccard. Intersections run on the docs' 32-bit
    * shingle-hash sets (one compiled pass per side; a cross-shingle hash
    * collision inflating `inter` needs ~2³² shingles in one doc — ignored). */
  def lshJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      numHashes: Int = 8,
      numBands: Int = 4,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val cands = lshCandidates(df, idCol, textCol, numHashes, numBands, n,
      maxBucketSize)
    verifiedJaccard(cands, df, df, idCol, textCol, n, threshold)
  }

  /** Cross-source duplication report: near-dup clusters annotated with how
    * many documents and distinct SOURCES they span, keeping only clusters
    * that cross a source boundary — the "which domains mirror each other"
    * signal that decides whether deduplication should run per-source or
    * corpus-wide, and which crawls are republishing each other's content.
    * Output: (label, n_docs, n_sources), label = the cluster's min doc id.
    * One join of the (clusters-sized) label frame back to the corpus plus
    * one grouped count — everything upstream is the standard linear-shuffle
    * pair/closure machinery. */
  def crossSourceDupReport(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, n: Int, threshold: Double,
      maxShingleFreq: Int = Int.MaxValue): DataFrame =
    crossSourceDupReportFromPairs(df, idCol, sourceCol,
      jaccardPairs(df, idCol, textCol, n, maxShingleFreq)
        .filter(col("jaccard") > threshold)
        .select("id_a", "id_b"))

  /** [[crossSourceDupReport]]'s report stage over CALLER-SUPPLIED pairs —
    * the seam that lets any candidate generator (full index, LSH,
    * [[winnowJaccardPairs]]) feed the same closure + source rollup. */
  def crossSourceDupReportFromPairs(df: DataFrame, idCol: String,
      sourceCol: String, pairs: DataFrame): DataFrame =
    dupClusters(pairs.select("id_a", "id_b"))
      .join(df.select(col(idCol).as("id"), col(sourceCol).as("_src")), "id")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("_src")).as("n_sources"))
      .filter(col("n_sources") >= 2)

  /** The dedup ACTION: drop every doc that belongs to a near-dup cluster
    * but is not its canonical (min-id) member. Docs in no cluster are kept. */
  def removeNearDupes(df: DataFrame, idCol: String, clusters: DataFrame): DataFrame = {
    val losers = clusters.filter(col("id") =!= col("label"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Quality-aware canonical selection: keep each near-dup cluster's
    * HIGHEST-`scoreCol` member (ties to the smallest id) instead of
    * [[removeNearDupes]]'s min-id representative — near-dup groups usually
    * hold one clean original and N degraded mirrors, and min-id keeps
    * whichever crawled first, not whichever is best. Non-clustered rows
    * pass through untouched.
    *
    * Scale shape: `clusters` is dup-membership-sized (≪ corpus); the
    * cluster frame joins by id, and the per-cluster argmax window
    * partitions by label — bounded by cluster size, which near-dup
    * semantics keep small (a giant cluster means the threshold is wrong,
    * not the engine). One broadcast-eligible join + one bounded window +
    * one anti-join. */
  def removeNearDupesKeepBest(df: DataFrame, idCol: String,
      clusters: DataFrame, scoreCol: String): DataFrame = {
    val members = df.select(col(idCol).as("id"), col(scoreCol).as("_score"))
      .join(clusters, Seq("id"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("label"))
      .orderBy(col("_score").desc, col("id"))
    val losers = members
      .withColumn("_rk", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("_rk") > 1)
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** End-to-end embedding near-dedup AT SCALE — the production path: LSH
    * sign-hash buckets (deterministic md5-derived hyperplanes, native
    * `vec_lsh_bucket`) prune cosine pair generation to within-bucket joins,
    * then connected components pick the min-id survivors. Every shuffle is
    * linear in the corpus; there is no all-pairs stage anywhere (the exact
    * `Similarity.cosineDupes` composition is the recall baseline this is
    * judged against — q62 vs q64).
    *
    * Output is IDENTICAL to the exact composition whenever every
    * above-threshold pair lands in one bucket (spec-asserted at a
    * recall-complete setting); otherwise approximate only in LSH recall —
    * fewer planes → bigger buckets → higher recall, more compute. */
  def removeNearDupesLsh(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numPlanes: Int, dim: Int): DataFrame = {
    val pairs = graft.similarity.Similarity
      .lshCosineDupes(df, idCol, vecCol, threshold, numPlanes, dim)
      .select("id_a", "id_b")
    removeNearDupes(df, idCol, dupClusters(pairs))
  }

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023): k-means clusters
    * the embedding space (fixed-point Lloyd — deterministic, oracle-able),
    * then cosine pairs are generated only WITHIN each cluster and
    * above-threshold components keep their min-id survivor. The clustering
    * carries the semantic prior LSH sign-buckets lack: two paraphrases
    * land in one k-means cell because they are CLOSE, not because they
    * share random hyperplane signs — the trade is a training pass (one
    * scan + one keyed shuffle per Lloyd round) for bucket boundaries that
    * follow the data.
    *
    * Scale shape: assignment is row-local against broadcast centroids; the
    * pair join shuffles on the cluster id; within-cluster pairing
    * (`Blocking.cosinePairs`) is quadratic in CELL size — k is the knob
    * (grow it with the corpus to hold cells flat, exactly like num_planes
    * for LSH; the paper runs k≈corpus/10k). No all-pairs stage anywhere.
    *
    * `threshold` compares the RAW double cosine, same boundary semantics
    * as [[removeNearDupesLsh]] / `Similarity.cosineDupes` — switching
    * strategies in config never shifts which boundary pairs count.
    *
    * Zero-norm vectors are EXCLUDED from pairing explicitly (and therefore
    * always survive): cosine is undefined at norm 0, and leaving the
    * division to the engine would make the outcome an accident of division
    * semantics (Spark's non-ANSI divide yields null → never pairs; DuckDB
    * yields NaN/inf) — the explicit filter makes "zero vectors keep
    * themselves" the documented cross-engine contract, the same posture
    * gapFillDaily takes on null days. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, threshold: Double): DataFrame = {
    import graft.similarity.Similarity
    val cents = Similarity.kMeansCentroidsExact(df, idCol, vecCol, k, iters)
    val bucketed = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("nrm", Similarity.norm(col("vec")))
      .filter(col("nrm") > lit(0.0))
      .withColumn("cell", Similarity.ivfBucket(col("vec"), cents))
    val pairs = Blocking.cosinePairs(bucketed, "cell", threshold)
      .select("id_a", "id_b")
    removeNearDupes(df, idCol, dupClusters(pairs))
  }

  /** (id, sig) table of 32-bit simhashes via the native expression. */
  private[dedup] def simHashSigs(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("_th", tokenHashes(col(textCol)))
      .select(col(idCol).as("id"),
        call_function("simhash32", col("_th")).as("sig"))

  /** Band-blocked hamming pairs over a (id, sig) table with `sigBits`-bit
    * signatures: maxHamming+1 contiguous bit bands, uncapped `Blocking`
    * posting lists on (band index, band bits), exact hamming filter. The
    * pigeonhole core shared by the 32- and 64-bit simhash paths. */
  private def bandedHammingPairs(sigs: DataFrame, sigBits: Int,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < sigBits,
      s"need 0 <= maxHamming < $sigBits, got $maxHamming")
    val nBands = maxHamming + 1
    val bands = (0 until nBands).map { i =>
      val lo = i * sigBits / nBands
      val width = (i + 1) * sigBits / nBands - lo
      val mask = if (width == 64) -1L else (1L << width) - 1
      struct(lit(i).as("band_idx"),
        shiftrightunsigned(col("sig"), lo).bitwiseAND(lit(mask))
          .as("band_bits"))
    }
    val postings = Blocking.postings(
      sigs.select(explode(array(bands: _*)).as("bk"),
        struct(col("id"), col("sig")).as("m")),
      Seq("bk"), col("m"), Int.MaxValue)
    Blocking.pairs(postings)
      .select(col("id_a.id").as("id_a"), col("id_a.sig").as("sig_a"),
        col("id_b.id").as("id_b"), col("id_b.sig").as("sig_b"))
      .distinct() // a pair may agree on several bands
      .withColumn("hamming", hamming(col("sig_a"), col("sig_b")).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** SimHash near-dup pairs: all (a < b) with hamming ≤ maxHamming, found by
    * bit-BANDING (Manku et al., the standard simhash blocking trick) — never
    * an all-pairs scan. The 32 signature bits split into maxHamming+1
    * contiguous bands; by pigeonhole, two sigs within maxHamming differing
    * bits must agree EXACTLY on at least one band, so bucketing each sig by
    * its (band index, band bits) and pairing only within buckets finds every
    * qualifying pair — identical output to the quadratic scan (spec-asserted),
    * shuffle keyed on (band, bits) instead of a cartesian join. Sigs ride in
    * the posting structs so the hamming filter needs no join-back.
    *
    * Buckets are UNCAPPED (a cap would drop true pairs), and bounded only by
    * the band width: a band of b bits has at most 2^b buckets, so once N
    * sigs far outnumber them, candidate pairs per band grow like
    * N²/2^(b+1) even with evenly filled buckets. Here (radius 3 → 8-bit
    * bands) that is 256 buckets per band — q38's blocking stops pruning
    * past a few thousand docs; prefer [[simHashPairs64]] at scale. */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame =
    bandedHammingPairs(simHashSigs(df, idCol, textCol), 32, maxHamming)

  /** 64-bit variant via the native `simhash64(text)` expression: bands stay
    * ≥ 9 bits out to radius 6, so the bucket join keeps pruning at the radii
    * where 32-bit bands (≤ 8 bits past radius 3) degenerate. Prefer this for
    * real near-dup radii; the 32-bit form matches the reference-width
    * fingerprint. The same uncapped N²/2^(b+1) bound applies per band: at
    * radius 6 (q47) the 7 bands are 9–10 bits, at most 1,024 buckets each. */
  def simHashPairs64(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame = {
    val sigs = df.select(col(idCol).as("id"),
        call_function("simhash64", col(textCol)).as("sig"))
      .filter(col("sig").isNotNull)
    bandedHammingPairs(sigs, 64, maxHamming)
  }
}
