package graft.quality

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reference forms the specs pin [[Anomaly]]'s reached operators against. */
object AnomalyTwins {

  /** [[Anomaly.equiDepthProfile]]'s per-bucket report with buckets assigned
    * row-locally against broadcast exact-quantile boundaries (no global
    * sort). Bucket b = #{boundaries < x} + 1 over the (n-1) interior
    * quantiles; boundary-tied rows all land in the lower bucket, so counts
    * equal the ntile form's only on tie-free frames. */
  def equiDepthProfileByBounds(df: DataFrame, valueCol: String,
      n: Int): DataFrame = {
    val dfNN = df.filter(col(valueCol).isNotNull) // same null contract
    val probs = (1 until n).map(_.toDouble / n)
    // exactQuantiles names columns p${(p*100).toInt} — match exactly
    // (rounding instead truncating diverges at e.g. 2/3 → p67 vs p66)
    val bounds = Anomaly.exactQuantiles(dfNN, valueCol, probs)
      .select(array(probs.indices.map(i => col(s"p${(probs(i) * 100).toInt}")): _*)
        .as("__bs"))
    dfNN.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        (aggregate(col("__bs"), lit(0L),
          (acc, b) => acc + when(col(valueCol) > b, 1L).otherwise(0L)) + 1L)
          .as("bucket"))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n_rows"),
        min(Anomaly.e6(col(valueCol))).as("min_e6"),
        max(Anomaly.e6(col(valueCol))).as("max_e6"),
        sum(Anomaly.e6(col(valueCol))).as("sum_e6"))
      .orderBy("bucket")
  }
}
