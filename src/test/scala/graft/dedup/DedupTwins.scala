package graft.dedup

import graft.catalyst.MinHashFamily
import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pure-builtin reference forms of [[Dedup]]'s native and banded paths:
  * the specs pin `shingle_hashes`, `minhash_sigs`, `simhash32` and the
  * banded simhash pair search against these. */
object DedupTwins {

  /** n-gram shingles over whitespace tokens, distinct, order-preserving
    * construction (slice windows). n=1 → token set. */
  def shingles(c: Column, n: Int): Column = {
    require(n >= 1, "shingle size must be >= 1")
    val toks = TextAnalysis.tokens(c)
    if (n == 1) array_distinct(toks)
    else
      // guard: sequence(1, x) DESCENDS for x<1 (it never returns empty), so
      // docs shorter than n shingle to [] explicitly.
      array_distinct(
        when(size(toks) >= n,
          transform(
            sequence(lit(1), size(toks) - lit(n - 1)),
            i => concat_ws(" ", slice(toks, i, lit(n)))))
          .otherwise(typedLit(Seq.empty[String])))
  }

  /** 32-bit base hash per shingle (first 8 md5 hex digits). */
  def shingleBaseHashes(shingleArr: Column): Column =
    transform(shingleArr,
      s => conv(substring(md5(s), 1, 8), 16, 10).cast("long"))

  /** One MinHash value over the base-hash array for permutation `seed` —
    * k interpreted HOF traversals where `minhash_sigs` makes one compiled
    * pass. Empty array → null (array_min). */
  def minHashValue(baseHashArr: Column, seed: Int): Column = {
    require(seed < MinHashFamily.maxHashes,
      s"at most ${MinHashFamily.maxHashes} hash permutations")
    array_min(transform(baseHashArr,
      h => (lit(MinHashFamily.A(seed)) * h + lit(seed.toLong)) %
        lit(MinHashFamily.P)))
  }

  /** 32-bit SimHash from a token-hash ARRAY: per bit, sum ±1 over tokens,
    * bit set iff the sum is positive. Near-dups = small hamming distance. */
  def simHashFromHashes(hashArr: Column): Column = {
    val bits = (0 until 32).map { b =>
      val bitSum = aggregate(hashArr, lit(0L),
        (acc, h) => acc + shiftright(h, b) % lit(2L) * lit(2L) - lit(1L))
      when(bitSum > 0, lit(1L << b)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Single-expression simhash of a text column. */
  def simHash(c: Column): Column = simHashFromHashes(Dedup.tokenHashes(c))

  /** The quadratic all-pairs form of [[Dedup.simHashPairs]] /
    * [[Dedup.simHashPairs64]]. */
  def simHashPairsBrute(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int, bits: Int = 32): DataFrame = {
    val sigs =
      if (bits == 32) Dedup.simHashSigs(df, idCol, textCol)
      else df.select(col(idCol).as("id"),
          call_function("simhash64", col(textCol)).as("sig"))
        .filter(col("sig").isNotNull)
    val a = sigs.select(col("id").as("id_a"), col("sig").as("sig_a"))
    val b = sigs.select(col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("hamming",
        Dedup.hamming(col("sig_a"), col("sig_b")).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }
}
