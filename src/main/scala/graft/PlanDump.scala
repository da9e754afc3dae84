package graft

/** Batch plan capture: writes `.explain("formatted")` output for a list of
  * SparkEntry queries to `<outDir>/<query>_<tag>.txt` — one JVM for the
  * whole list. The optimization-round evidence files under `plans/` are
  * produced with this; one query is the plan-inspection loop for pushdown
  * (`PushedFilters`), pruning (`ReadSchema`), join strategies and codegen
  * coverage (`WholeStageCodegen` spans, `(fallback)` markers). Runs on 4
  * cores whatever the host, so plans compare across hosts.
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
      val df = fn(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val f = new java.io.File(outDir, s"${name}_$tag.txt")
      val w = new java.io.PrintWriter(f, "UTF-8")
      try w.println(txt) finally w.close()
      System.err.println(s"[plandump] wrote $f")
    } finally spark.stop()
  }
}
