package graft

import org.apache.spark.sql.DataFrame

/** Batch plan capture: writes `.explain("formatted")` output for a list of
  * SparkEntry queries to `<outDir>/<query>_<tag>.txt` — one JVM for the
  * whole list. The optimization-round evidence files under `plans/` are
  * produced with this; one query is the plan-inspection loop for pushdown
  * (`PushedFilters`), pruning (`ReadSchema`), join strategies and codegen
  * coverage (`WholeStageCodegen` spans, `(fallback)` markers). Runs on 4
  * cores whatever the host, so plans compare across hosts.
  *
  * Two dumps of the same commit are byte-identical: the JVM-global counters
  * a plan prints — expression ids (`name#123`), exchange ids
  * (`[plan_id=45]`) and RDD ids (`MapPartitionsRDD[8]`) — are renumbered in
  * order of first appearance. They otherwise shift with whatever ran
  * before, including the jobs an eager checkpoint runs while its DataFrame
  * is built.
  *
  * Usage: runMain graft.PlanDump <outDir> <tag> <q1,q2,...|all> [sfDir]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: PlanDump <outDir> <tag> <q1,q2,...|all> [sfDir]")
    val outDir = new java.io.File(args(0))
    outDir.mkdirs()
    val tag = args(1)
    val names =
      if (args(2) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").toSeq
    val sfDir = args.lift(3).getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.build("graft-plandump", cpus = 4)
    try names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        throw new IllegalArgumentException(s"unknown query $name"))
      val f = new java.io.File(outDir, s"${name}_$tag.txt")
      write(fn(spark, sfDir), f)
      System.err.println(s"[plandump] wrote $f")
    } finally spark.stop()
  }

  /** Writes `df`'s formatted plan, counters renumbered, to `f`. */
  private[graft] def write(df: DataFrame, f: java.io.File): Unit = {
    val txt = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(renumber(txt)) finally w.close()
  }

  private val counter = raw"(#|\[plan_id=|RDD\[)(\d+)".r

  /** Each distinct number of a kind becomes its 1-based first-appearance
    * rank within `txt`, so identities inside one plan are kept. */
  private def renumber(txt: String): String = {
    val seen = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Map[String, Int]]
    counter.replaceAllIn(txt, m => {
      val ids = seen.getOrElseUpdate(m.group(1), scala.collection.mutable.Map.empty)
      m.group(1) + ids.getOrElseUpdate(m.group(2), ids.size + 1)
    })
  }
}
