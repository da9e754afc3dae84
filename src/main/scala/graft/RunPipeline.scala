package graft

import graft.bronze.Ingest
import graft.config.ConfigLoader

/** CLI pipeline verb — the in-process equivalent of the reference's
  * orchestrated bronze→silver→gold→quality→lineage DAG
  * (airflow/dags/nyc_taxi_medallion_dag.py:504-512).
  *
  * Usage: runMain graft.RunPipeline <config.yaml> [overlay.yaml]
  * The config's bronze.source.path points at the input (parquet/csv);
  * gold marts and lineage land under bronze.target_path.
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: RunPipeline <config.yaml> [overlay.yaml]")
    val config = ConfigLoader.load(args(0), args.lift(1))
    val spark = GraftSession.build(s"graft-pipeline-${config.name}")
    try {
      val bronze = config.bronze.getOrElse(
        throw new IllegalArgumentException("config needs a bronze section"))
      var df = Ingest.readSource(spark, bronze.source)
      if (bronze.dropAllNullColumns) df = Ingest.dropAllNullColumns(df)
      if (bronze.addIngestionMetadata)
        df = Ingest.withIngestionMetadata(df, bronze.source.path)

      val result = Pipeline.run(spark, config, df,
        goldSink = Some((name, mart) =>
          mart.write.mode("overwrite").parquet(s"${bronze.targetPath}/gold/$name")))
      result.lineage.persist(spark, s"${bronze.targetPath}/lineage")

      result.stages.foreach(s => println(f"[pipeline] ${s.name}%-24s ${s.rows}%10d rows"))
      result.qualityResults.foreach(r =>
        println(s"[quality] ${r.check}(${r.column}): " +
          (if (r.passed) "PASS" else s"FAIL (${r.failedCount} rows)")))
      println(f"[quality] overall score ${result.quality.overall}%.1f " +
        s"(${result.quality.level})")
      println(s"[lineage] ${result.lineage.all.size} events recorded")
    } finally spark.stop()
  }
}
