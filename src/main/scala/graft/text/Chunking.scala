package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators downstream of cleaning/dedup in a
  * training-data pipeline: overlapping chunking, deterministic sampling,
  * and greedy sequence packing.
  *
  * Scale notes: chunking is a row-local transform + explode (output rows ∝
  * tokens/stride — no shuffle); hash sampling is a row-local predicate that
  * pushes into the scan's filter stage and needs no global state (unlike
  * reservoir/random sampling, it is reproducible and partition-order-
  * independent); packing's only shuffle is the window sort on the pack key —
  * at 100 TB, pack within natural partitions (e.g. per shard) so the window
  * never globally sorts the corpus.
  */
object Chunking {

  /** Overlapping token-window chunks: starts at 1, 1+stride, … where
    * stride = chunkSize − overlap; the final partial chunk is kept. Output:
    * one row per chunk with chunk_idx, chunk_text, n_chunk_tokens. */
  def chunk(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, overlap: Int): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize, got chunkSize=$chunkSize overlap=$overlap")
    val stride = chunkSize - overlap
    val toks = TextAnalysis.tokens(col(textCol))
    df.select(col(idCol), toks.as("_toks"))
      .select(col(idCol),
        explode(sequence(lit(1), size(col("_toks")), lit(stride))).as("_s"),
        col("_toks"))
      .select(
        col(idCol),
        ((col("_s") - 1) / lit(stride)).cast("long").as("chunk_idx"),
        concat_ws(" ", slice(col("_toks"), col("_s"), lit(chunkSize)))
          .as("chunk_text"),
        least(size(col("_toks")) - col("_s") + 1, lit(chunkSize))
          .cast("long").as("n_chunk_tokens"))
  }

  /** The ONE percent-bucket hash every sampling operator shares:
    * md5(key) first-8-hex mod 100. Keeping a single definition is what
    * makes replica/keep decisions stable ACROSS the operator family — a
    * row kept by `hashSample` at 30% is exactly a row `stratifiedResample`
    * would give an extra copy at rate 130. */
  private def keyBucket(keyCol: Column): Column =
    conv(substring(md5(keyCol.cast("string")), 1, 8), 16, 10).cast("long") %
      lit(100L)

  /** Per-stratum rate resolution shared by the mixing operators. */
  private def rateFor(strataCol: Column, ratesPct: Map[String, Int],
      defaultPct: Int): Column =
    ratesPct.toSeq.sortBy(_._1).foldLeft(lit(defaultPct.toLong)) {
      case (acc, (k, v)) => when(strataCol === lit(k), lit(v.toLong)).otherwise(acc)
    }

  /** Deterministic hash sampling: keep a row iff
    * md5(key) mod 100 < ratePct. Reproducible across runs, engines, and
    * partitionings — the property random/reservoir sampling lacks — and a
    * plain pushable predicate. */
  def hashSample(keyCol: Column, ratePct: Int): Column =
    keyBucket(keyCol) < lit(ratePct.toLong)

  /** Deterministic train/validation/test assignment: the md5 bucket of the
    * key (0..99, same hash as `hashSample`) mapped through cumulative split
    * weights — disjoint and exhaustive by construction, and a row's split
    * depends only on (key, weights): stable across runs, engines, and
    * partitionings, so growing the corpus never moves an existing row
    * between splits (the property a random split lacks, and the one that
    * prevents silent train/test leakage across re-runs). */
  def hashSplit(keyCol: Column, weights: Seq[(String, Int)]): Column = {
    require(weights.nonEmpty && weights.forall(_._2 >= 0) &&
      weights.map(_._2).sum == 100,
      s"split weights must be >= 0 and sum to 100, got $weights")
    val bucket = keyBucket(keyCol)
    val cums = weights.scanLeft(0)(_ + _._2).tail.zip(weights.map(_._1))
    val split = cums.init.foldRight(lit(cums.last._2): Column) {
      case ((cum, name), acc) => when(bucket < cum, lit(name)).otherwise(acc)
    }
    // NULL key → NULL split, never the fall-through last bucket: a null-id
    // corpus slice silently concentrating in the eval split is exactly the
    // train/test contamination this operator exists to prevent
    when(keyCol.isNotNull, split)
  }

  /** Deterministic weighted sample without replacement: the k rows with the
    * SMALLEST priority u/w, where u is the key's md5-derived uniform
    * (first-8-hex + 0.5, so never zero) and w the row's positive weight —
    * heavier rows draw proportionally smaller priorities, so inclusion
    * probability grows monotonically with weight. This is the uniform-key
    * variant of the Efraimidis–Spirakis priority sample: the textbook form
    * exponentiates (u^(1/w)), but any transcendental (pow/ln) is NOT
    * bit-reproducible across engines, while integer-from-md5 + one IEEE
    * division is exactly rounded everywhere — determinism is the contract
    * here, and weight-monotone biased inclusion survives the simplification.
    *
    * A row's priority depends only on (key, weight): re-draws are
    * bit-identical, and growing the corpus can only DISPLACE tail rows,
    * never reshuffle survivors' relative order. Ties (equal hash AND equal
    * weight) break by key.
    *
    * Scale: priority is a row-local projection and the top-k is
    * TakeOrderedAndProject — per-partition heaps of k, one k-row driver
    * merge, no global sort, no full shuffle. The final rank window runs
    * over the k-row result only. */
  def weightedPrioritySample(df: DataFrame, keyCol: Column,
      weightCol: Column, k: Int): DataFrame = {
    require(k >= 1, s"sample size must be >= 1, got $k")
    val u = conv(substring(md5(keyCol.cast("string")), 1, 8), 16, 10)
      .cast("double") + lit(0.5)
    // weight <= 0 (or null) would make the row win every draw — refuse it
    // in-plan rather than silently over-sampling garbage rows
    val w = when(weightCol.cast("double") > 0.0, weightCol.cast("double"))
      .otherwise(raise_error(concat(
        lit("weightedPrioritySample: non-positive weight for key "),
        keyCol.cast("string"))))
    val ranked = df.withColumn("_priority", u / w)
      .orderBy(col("_priority").asc, keyCol.asc)
      .limit(k)
    ranked.withColumn("sample_rank",
      row_number().over(Window.orderBy(col("_priority").asc, keyCol.asc))
        .cast("long"))
      .drop("_priority")
  }

  /** Sentence segmentation — the boundary-aware alternative to [[chunk]]'s
    * fixed token windows (RAG and packing pipelines want chunks that end at
    * sentence boundaries, not mid-clause): split on `[.!?]+` runs followed
    * by whitespace, drop empty/whitespace-only segments, index the
    * survivors 1-based. The delimiter run is CONSUMED (sentences carry no
    * terminal punctuation) — the price of staying in the java.util.regex ∩
    * RE2 intersection (no lookbehind), and a documented contract rather
    * than a quirk. Abbreviation dots ("Dr. Smith") split like any other —
    * this is the deterministic whole-corpus segmenter, not an NLP model.
    * Row-local: one split + one filtered posexplode, zero shuffle. Output:
    * (id, sent_idx, sentence, n_tokens). */
  def sentenceSplit(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        posexplode(filter(split(col(textCol), "[.!?]+\\s+"),
          s => trim(s) =!= "")))
      .withColumnRenamed("pos", "sent_idx")
      .withColumnRenamed("col", "sentence")
      .withColumn("sent_idx", (col("sent_idx") + 1).cast("long"))
      .withColumn("n_tokens",
        size(split(trim(col("sentence")), " ")).cast("long"))

  /** Greedy sentence-boundary packing — [[sentenceSplit]]'s segments
    * assigned to chunks of ≤ `maxTokens` tokens, never cutting inside a
    * sentence (the RAG/packing layout [[chunk]]'s fixed windows can't
    * give): a sentence joins the current chunk if it fits, else opens
    * the next one; a single overlong sentence gets its own chunk (the
    * greedy rule, not an error — truncation policy is downstream's).
    * Output is the ASSIGNMENT — (id, sent_idx, sentence, n_tokens,
    * chunk_idx) — which keeps the operator row-local end-to-end (one
    * sequential fold per document, zero shuffle); concatenation is one
    * grouped string-agg away when a caller wants chunk text. */
  def packBySentences(df: DataFrame, idCol: String, textCol: String,
      maxTokens: Int): DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be >= 1, got $maxTokens")
    // fold seed starts "full" (cur = maxTokens) so the first sentence
    // always opens chunk 1 — even when it alone exceeds the budget
    val foldSql =
      s"""aggregate(
         |  transform(_s, s -> cast(size(split(trim(s), ' ')) as bigint)),
         |  named_struct('ids', cast(array() as array<bigint>),
         |    'chunk', cast(0 as bigint),
         |    'cur', cast($maxTokens as bigint)),
         |  (acc, nt) -> if(acc.cur + nt <= $maxTokens,
         |    named_struct('ids', array_append(acc.ids, acc.chunk),
         |      'chunk', acc.chunk, 'cur', acc.cur + nt),
         |    named_struct(
         |      'ids', array_append(acc.ids, acc.chunk + cast(1 as bigint)),
         |      'chunk', acc.chunk + cast(1 as bigint), 'cur', nt)),
         |  acc -> acc.ids)""".stripMargin
    df.withColumn("_s",
        filter(split(col(textCol), "[.!?]+\\s+"), s => trim(s) =!= ""))
      .withColumn("_ids", expr(foldSql))
      .select(col(idCol), posexplode(zip_with(col("_s"), col("_ids"),
        (s, c) => struct(s.as("sentence"), c.as("chunk_idx")))))
      .select(col(idCol), (col("pos") + 1).cast("long").as("sent_idx"),
        col("col.sentence").as("sentence"),
        size(split(trim(col("col.sentence")), " ")).cast("long")
          .as("n_tokens"),
        col("col.chunk_idx").as("chunk_idx"))
  }

  /** Sequence-length utilization report — the padding-waste curve that
    * picks max_seq_len: for each candidate length L, every doc occupies
    * ceil(n/L) L-slot sequences (chunked, last chunk padded — the
    * pack-free pretraining layout), so the report shows per L the
    * sequence count, padded slots, and slot utilization in e6. All exact
    * integers from one corpus pass (per-doc token counts reduce to
    * |seqLens| rows); choosing L is then reading the knee of the curve. */
  def seqLenUtilization(df: DataFrame, textCol: String,
      seqLens: Seq[Int]): DataFrame = {
    require(seqLens.nonEmpty && seqLens.forall(_ >= 1),
      s"need at least one seq_len >= 1, got ${seqLens.mkString(",")}")
    val n = TextAnalysis.tokenCount(col(textCol)).cast("long")
    df.select(n.as("_n"),
        explode(array(seqLens.map(l => lit(l.toLong)): _*)).as("seq_len"))
      .withColumn("_seqs", expr("(_n + seq_len - 1) div seq_len"))
      .groupBy("seq_len")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_n")).as("total_tokens"),
        sum(col("_seqs")).as("n_sequences"),
        sum(col("_seqs") * col("seq_len") - col("_n")).as("padded_slots"))
      .withColumn("utilization_e6",
        expr("total_tokens * 1000000L div (n_sequences * seq_len)"))
  }

  /** Deterministic exact-k uniform sample without replacement — the
    * reservoir sample's RESULT (exactly k rows, uniform over the corpus)
    * without its partition-order nondeterminism: the k keys with the
    * smallest md5(salt|key) digest win, ties (impossible at md5 width,
    * kept for totality) break by key. `salt` re-draws: a different salt
    * is an independent uniform draw (epoch re-sampling), the same salt a
    * bit-identical re-run — across runs, engines, and partitionings,
    * which is precisely what `rand()`-or-reservoir sampling can't
    * promise. Complements [[hashSample]] (fixed RATE, floating count)
    * with a fixed COUNT; [[weightedPrioritySample]] is the weighted
    * cousin. Null keys are excluded by contract (a null cannot draw a
    * deterministic priority).
    *
    * Scale: the draw is a row-local projection and the top-k is
    * TakeOrderedAndProject — per-partition k-heaps, one k-row driver
    * merge, no global sort: the distributed reservoir. The rank window
    * runs over the k-row result only. */
  def exactKSample(df: DataFrame, keyCol: Column, k: Int,
      salt: String = ""): DataFrame = {
    require(k >= 1, s"sample size must be >= 1, got $k")
    require(!salt.contains("|"), "salt must not contain the '|' separator")
    val draw = md5(concat_ws("|", lit(salt), keyCol.cast("string")))
    val top = df.filter(keyCol.isNotNull)
      .withColumn("_draw", draw)
      .orderBy(col("_draw").asc, keyCol.asc)
      .limit(k)
    top.withColumn("sample_rank",
        row_number().over(Window.orderBy(col("_draw").asc, keyCol.asc))
          .cast("long"))
      .drop("_draw")
  }

  /** Leakage-safe train/val/test split: the near-dup CLUSTER is the unit
    * of assignment — each doc splits by the md5 bucket of its cluster
    * label (its own id when unclustered, same key domain: labels ARE
    * min member ids), so a mirror set can never straddle train and eval.
    * That is the leakage hole a row-wise `hashSplit` leaves open: two
    * near-identical docs hash independently, one lands in train and one
    * in test, and eval silently measures memorization. `clusters` is
    * `Dedup.dupClusters` output (id, label).
    *
    * Scale: one left equi-join on the id — the clusters frame carries only
    * dup-set members (usually a small fraction of the corpus), so AQE
    * broadcasts it — then the row-local bucket map. Persist partitioned by
    * `split` and downstream split filters prune at scan. */
  def leakageSafeSplit(df: DataFrame, idCol: String, clusters: DataFrame,
      weights: Seq[(String, Int)]): DataFrame =
    df.join(clusters.select(col("id").as(idCol), col("label")),
        Seq(idCol), "left")
      .withColumn("split",
        hashSplit(coalesce(col("label"), col(idCol)), weights))
      .drop("label")

  /** Per-stratum deterministic sampling — the domain/language MIXING knob
    * of corpus curation: each stratum keeps its own ratePct of rows
    * (strata absent from the map keep `defaultPct`), selected by the same
    * md5 key hash as `hashSample`. A row's fate depends only on (key,
    * stratum rate) — stable across runs, engines, and partitionings, so
    * re-curating a grown corpus keeps every previously-kept row whose
    * stratum rate didn't change. Still a plain pushable predicate: no
    * shuffle, no per-stratum pass (`DataFrameStatFunctions.sampleBy` is
    * neither deterministic across partitionings nor pushable). */
  def stratifiedHashSample(keyCol: Column, strataCol: Column,
      ratesPct: Map[String, Int], defaultPct: Int = 0): Column = {
    require((defaultPct +: ratesPct.values.toSeq).forall(p => p >= 0 && p <= 100),
      s"rates must be 0..100: $ratesPct default=$defaultPct")
    keyBucket(keyCol) < rateFor(strataCol, ratesPct, defaultPct)
  }

  /** Stratified RESAMPLE — the upsampling half of domain mixing that the
    * boolean predicate form can't express: each stratum's rate is a PERCENT
    * THAT MAY EXCEED 100, and every row is replicated `rate div 100` times
    * plus one more when its md5 bucket falls under `rate mod 100`. Rate 250
    * → every row 2×, half the rows (deterministically chosen) 3×. Output
    * rows carry a `copy` index (0-based) so downstream shuffles/splits
    * treat replicas as distinct rows; expected stratum mass = rate/100 ×
    * input mass, exact in the hash-bucket sense of `hashSample`.
    *
    * Scale shape: one row-local `explode(sequence(...))` — no shuffle, no
    * join; a row's replica count depends only on (key, stratum rate), so
    * re-curating a grown corpus reproduces every earlier replica.
    * Downsampling (rate < 100) degenerates to `stratifiedHashSample` plus a
    * copy=0 column. */
  def stratifiedResample(df: DataFrame, keyCol: Column, strataCol: Column,
      ratesPct: Map[String, Int], defaultPct: Int = 100): DataFrame = {
    require((defaultPct +: ratesPct.values.toSeq).forall(_ >= 0),
      s"rates must be >= 0: $ratesPct default=$defaultPct")
    df.withColumn("_rate", rateFor(strataCol, ratesPct, defaultPct))
      .withColumn("_n_copies",
        // integer div (house rule: `/` on longs routes through double)
        expr("_rate div 100L") +
          when(keyBucket(keyCol) < col("_rate") % lit(100L), lit(1L))
            .otherwise(lit(0L)))
      .filter(col("_n_copies") > 0)
      .withColumn("copy",
        explode(sequence(lit(0L), col("_n_copies") - 1)))
      .drop("_rate", "_n_copies")
  }

  /** EXACT-SIZE per-stratum sample: the first `n` rows of each stratum in
    * salted-md5 order of the (unique, non-null) key — the eval-set /
    * human-review draw where "about 10%" isn't acceptable and the rate
    * form's binomial stratum sizes are (`stratifiedHashSample` keeps a
    * hash-bucket FRACTION; this keeps a COUNT). Strata smaller than n
    * survive whole. The hash order makes the draw uniform-ish yet fully
    * deterministic: a row's `sample_rank` depends only on (salt, key,
    * stratum membership), so re-draws reproduce — though unlike the rate
    * form, GROWING a stratum can displace a previously-sampled row (a new
    * key can hash below an old one); that is inherent to fixed-n. Change
    * `salt` for an independent re-draw.
    *
    * Scale shape: ONE window per stratum over row data — the dedupe
    * row_number posture, skew-bounded by the largest stratum. */
  def stratifiedFixedSample(df: DataFrame, strataCol: Column, keyCol: Column,
      n: Int, salt: String = "sample"): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val h = md5(concat_ws(":", lit(salt), keyCol.cast("string")))
    val w = Window.partitionBy(strataCol).orderBy(h, keyCol)
    df.withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= n)
  }

  /** Deterministic epoch shuffle + shard assignment — the training-order
    * table: each row gets a shard (for W data-parallel workers) and a
    * position within its shard, both functions of ONLY (epoch, key), so
    * every re-run and every engine derives the identical order, and each
    * epoch is an independent permutation (the salt includes the epoch).
    * This replaces "ORDER BY rand()" epoch shuffling, which is
    * non-reproducible and plans a global sort; here ordering work is
    * per-shard. `keyCol` must be UNIQUE and NON-NULL (the
    * stratifiedFixedSample contract): null keys would all hash to one
    * salt-only value and tie-break nondeterministically.
    *
    * Scale shape: shard is a row-local hash (uniform by construction — no
    * skew), and position is ONE window per shard over row data, ~|rows|/W
    * per task. For shards too big to sort in one task, cut the corpus
    * into position ranges per shard with a second-level range id before
    * windowing; the hash order is stable under any such refinement. */
  def epochShuffle(df: DataFrame, keyCol: Column, epoch: Int,
      numShards: Int): DataFrame = {
    require(epoch >= 0, s"epoch must be >= 0, got $epoch")
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    val h = md5(concat_ws(":", lit("epoch"), lit(epoch), keyCol.cast("string")))
    val w = Window.partitionBy(col("shard")).orderBy(col("_h"), keyCol)
    df.withColumn("_h", h)
      .withColumn("shard",
        conv(substring(col("_h"), 1, 8), 16, 10).cast("long") %
          lit(numShards.toLong))
      .withColumn("position", row_number().over(w).cast("long"))
      .drop("_h")
  }

  /** Greedy sequence packing WITHIN id-range shards: shard = id div
    * `docsPerShard`, then inside each shard docs (ordered by id) go to
    * fixed-budget bins by cumulative token count — bin = ⌊(cumsum −
    * n_tokens)/binSize⌋, i.e. a doc starts a new bin when the budget before
    * it is exhausted. Exact integer math. Bin identity is the composite
    * (shard, bin).
    *
    * The window is ALWAYS `partitionBy(shard)`: a global `Window.orderBy`
    * would move the whole corpus to one task — the single-partition sort
    * that kills packing at 100 TB. Shards pack independently (at most one
    * under-filled bin per shard — negligible for docsPerShard ≫ 1), so the
    * sort parallelizes across id ranges. The default (4096 docs/shard) is
    * finite ON PURPOSE: an infinite default put every row in shard 0 — a
    * scale-killer a small-SF test never punishes. Callers who genuinely
    * need one globally-packed stream (exact single-stream comparisons)
    * opt IN with `docsPerShard = Long.MaxValue`; production callers pick
    * docsPerShard to match their id density. */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      binSize: Int, docsPerShard: Long = 4096L): DataFrame = {
    require(docsPerShard > 0, s"docsPerShard must be positive, got $docsPerShard")
    val n = TextAnalysis.tokenCount(col(textCol)).cast("long")
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // `div`, not `/`: Spark's / on longs is DOUBLE division, which loses
    // exactness at large cumulative counts; div is exact integer floor.
    df.select(col(idCol),
        expr(s"cast($idCol as bigint) div ${docsPerShard}L").as("shard"),
        n.as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("bin",
        expr(s"(cum_tokens - n_tokens) div ${binSize.toLong}"))
  }

  /** Per-bin packing summary (docs per bin, token fill), keyed by the
    * composite (shard, bin). */
  def packingSummary(packed: DataFrame, binSize: Int): DataFrame =
    packed.groupBy("shard", "bin")
      .agg(count(lit(1)).as("docs"), sum(col("n_tokens")).as("total_tokens"))
      .withColumn("fill_e6",
        round(col("total_tokens").cast("double") / lit(binSize.toDouble) * 1e6)
          .cast("long"))

  /** Per-shard packing EFFICIENCY report over [[packSequences]] output.
    * That packer assigns a doc to the bin where its cumulative budget
    * STARTED and never splits docs, so a doc straddling a boundary
    * OVERFLOWS its bin instead of opening a new one: per-shard mean
    * `fill_e6` sits near 10⁶ by construction (the shard's final partial
    * bin is the only systematic under-fill), while `max_bin_tokens` shows
    * how far the worst straddling doc pushed a bin past budget — the
    * truncation-loss signal that says "chunk oversized docs before
    * packing". Exact integer arithmetic; the packed frame reduces to
    * per-bin sums and then to \|shards\| rows. */
  def packingEfficiency(packed: DataFrame, binSize: Int): DataFrame = {
    require(binSize >= 1, s"binSize must be >= 1, got $binSize")
    packed.groupBy("shard", "bin")
      .agg(count(lit(1)).as("_docs"), sum(col("n_tokens")).as("_bin_tokens"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_bins"),
        sum(col("_docs")).as("docs"),
        sum(col("_bin_tokens")).as("total_tokens"),
        max(col("_bin_tokens")).as("max_bin_tokens"))
      .withColumn("fill_e6",
        expr(s"total_tokens * 1000000L div (n_bins * ${binSize.toLong}L)"))
  }
}
