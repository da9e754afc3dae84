package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Builtin reference forms of [[TextAnalysis]]'s native expressions: the
  * specs pin `bpe_token_count` and `dup_gram_frac_e6` against these. */
object TextAnalysisTwins {

  /** The BPE-style pre-tokenization regex `bpe_token_count` scans for —
    * no lookahead so RE2 engines agree with Java, ASCII classes so
    * unicode-table versions can't diverge. */
  val bpePattern: String = "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"

  def bpeTokens(c: Column): Column =
    regexp_extract_all(c, lit(bpePattern), lit(0))

  /** `regexp_count` form — same Java-regex match count, without
    * materializing the token array that `size(regexp_extract_all(...))`
    * would. */
  def bpeTokenCountBuiltin(c: Column): Column = regexp_count(c, lit(bpePattern))

  /** The interpreted-HOF reference form of [[TextAnalysis.repetitionProfile]]. */
  def repetitionProfileBuiltin(df: DataFrame, textCol: String,
      ns: Seq[Int] = Seq(2, 3)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"bad n-gram sizes: $ns")
    val out = ns.foldLeft(df.withColumn("_toks", TextAnalysis.tokens(col(textCol)))) {
      (acc, n) =>
        val grams = TextAnalysis.gramsOf("_toks", n)
        acc.withColumn(s"dup_${n}gram_frac_e6",
          when(size(col("_toks")) < n, lit(0L)).otherwise(
            round((lit(1.0) -
              size(array_distinct(grams)).cast("double") /
                size(grams).cast("double")) * 1e6).cast("long")))
    }
    out.drop("_toks")
  }
}
