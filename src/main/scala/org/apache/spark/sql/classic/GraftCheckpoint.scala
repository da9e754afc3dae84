package org.apache.spark.sql.classic

import org.apache.spark.sql.execution.LogicalRDD

/** Workaround for a Spark 4.x sharp edge in `Dataset.localCheckpoint`:
  * `LogicalRDD.fromDataset` copies the origin plan's constraint set into the
  * checkpointed leaf and rewrites it to the leaf's output ids — but when the
  * origin plan contains deduplicated self-joins (distinct + anti-join over
  * frames derived from the same checkpointed parent, the iterative-closure
  * shape), some constraints still reference pre-rewrite attribute ids.
  * `LogicalRDD` overrides `constraints` DIRECTLY (bypassing QueryPlan's
  * references-subset-of-output filter), so a later `Union` over such a leaf
  * throws `key not found: <attr>` from `UnionBase.rewriteConstraints` when
  * the optimizer consults constraints (measured: q140's delta-closure
  * rounds, OPTIMIZATION_r22).
  *
  * The fix drops ONLY the origin constraints; origin statistics are kept
  * (re-read through the public `computeStats()`, i.e. already rewritten)
  * because broadcast-join sizing of checkpointed iterative state depends on
  * them. Lives in this package for `Dataset.ofRows` access — no Spark
  * behavior is patched, a clean leaf is constructed via public constructors.
  * `GraftCheckpointSpec` pins the bug on the shipped Spark: it fails once an
  * upgrade fixes it, and this workaround can then go.
  */
object GraftCheckpoint {
  /** `df` must be directly backed by a checkpoint's `LogicalRDD` (anything
    * else is returned unchanged). */
  def dropOriginConstraints(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val classicDf = df.asInstanceOf[Dataset[org.apache.spark.sql.Row]]
    classicDf.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val clean = LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
          lr.outputOrdering, lr.isStreaming, lr.stream)(
          classicDf.sparkSession, Some(lr.computeStats()), None)
        Dataset.ofRows(classicDf.sparkSession, clean)
      case _ => df
    }
  }
}
