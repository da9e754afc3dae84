package graft.quality

import graft.quality.Checks.ExpectationResult
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Standalone Q5-Q7 expectations, one action each: the reference the
  * specs pin [[Checks.profilePlan]]'s fused expectation slots against. */
object ChecksTwins {

  /** Q5 — mean within bounds. Exact decimal accumulation so the observed
    * value is reproducible across partitionings. */
  def meanBetween(df: DataFrame, column: String, lo: Double, hi: Double): ExpectationResult = {
    val r = df.agg((sum(col(column).cast("decimal(18,4)")).cast("double")
      / count(col(column)).cast("double")).as("m")).head()
    val m = if (r.isNullAt(0)) Double.NaN else r.getDouble(0)
    ExpectationResult("mean_between", column, m, m >= lo && m <= hi)
  }

  /** Q6 — total row count within bounds (suite default 1000..1e8,
    * great_expectations.py:399). */
  def rowCountBetween(df: DataFrame, lo: Long, hi: Long): ExpectationResult = {
    val n = df.count()
    ExpectationResult("row_count_between", "*", n.toDouble, n >= lo && n <= hi)
  }

  /** Q7 — exact distinct count within bounds. */
  def uniqueCountBetween(df: DataFrame, column: String, lo: Long, hi: Long): ExpectationResult = {
    val n = df.agg(countDistinct(col(column))).head().getLong(0)
    ExpectationResult("unique_count_between", column, n.toDouble, n >= lo && n <= hi)
  }
}
