package graft.config

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The reference's `performance:` config block translated to Spark session
  * confs + caching — the engine's whole "optimizer surface"
  * (SURVEY §4): everything else (pushdown, pruning, join selection, AQE
  * re-planning, codegen) is Catalyst's job and is deliberately NOT
  * reimplemented.
  *
  * Reference mapping (config/pipelines/lakehouse_config.yaml):
  *  - shuffle_partitions: 200      → spark.sql.shuffle.partitions   (:168)
  *  - adaptive_execution: true     → spark.sql.adaptive.enabled     (:170,340-342)
  *  - broadcast_threshold_mb: 100  → spark.sql.autoBroadcastJoinThreshold (:172,346)
  *  - cost_based_optimization      → spark.sql.cbo.enabled          (:357-364)
  *  - cache_after_read/transform + cache_level MEMORY|MEMORY_AND_DISK
  *    (:163-166,349-355; bronze_to_silver.py:223-241)
  */
final case class PerformanceSpec(
    shufflePartitions: Option[Int] = None,
    adaptiveExecution: Option[Boolean] = None,
    broadcastThresholdMb: Option[Int] = None,
    costBasedOptimization: Option[Boolean] = None,
    cacheLevel: String = "MEMORY_AND_DISK")

object PerfConf {

  /** Apply the spec's confs to a session (runtime-settable confs only —
    * these are the same knobs the reference sets at session build). */
  def apply(spark: SparkSession, spec: PerformanceSpec): Unit = {
    spec.shufflePartitions.foreach(n =>
      spark.conf.set("spark.sql.shuffle.partitions", n.toString))
    spec.adaptiveExecution.foreach(b =>
      spark.conf.set("spark.sql.adaptive.enabled", b.toString))
    spec.broadcastThresholdMb.foreach(mb =>
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        (mb.toLong * 1024 * 1024).toString))
    spec.costBasedOptimization.foreach(b => {
      spark.conf.set("spark.sql.cbo.enabled", b.toString)
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", b.toString)
    })
  }

  def storageLevel(name: String): StorageLevel = name.toUpperCase match {
    case "MEMORY" | "MEMORY_ONLY" => StorageLevel.MEMORY_ONLY
    case "MEMORY_AND_DISK" => StorageLevel.MEMORY_AND_DISK
    case "DISK" | "DISK_ONLY" => StorageLevel.DISK_ONLY
    case other => throw new IllegalArgumentException(s"unknown cache level: $other")
  }

  /** The reference's cache-and-count idiom (bronze_to_silver.py:223-241):
    * persist at the configured level and force materialization so later
    * stages read the cache. Returns the row count it paid for. */
  def cacheEager(df: DataFrame, spec: PerformanceSpec): Long = {
    df.persist(storageLevel(spec.cacheLevel))
    df.count()
  }
}
