package graft.config

import graft.SparkSpec

class PerfConfSpec extends SparkSpec {
  import spark.implicits._

  test("performance spec maps to session confs") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      PerfConf(spark, PerformanceSpec(
        shufflePartitions = Some(7),
        adaptiveExecution = Some(true),
        broadcastThresholdMb = Some(100),
        costBasedOptimization = Some(true)))
      spark.conf.get("spark.sql.shuffle.partitions") shouldBe "7"
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold") shouldBe
        (100L * 1024 * 1024).toString
      spark.conf.get("spark.sql.cbo.enabled") shouldBe "true"
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("cacheEager persists at the configured level and materializes") {
    val df = (1 to 100).toDF("v")
    try {
      PerfConf.cacheEager(df, PerformanceSpec(cacheLevel = "MEMORY")) shouldBe 100L
      df.storageLevel.useMemory shouldBe true
    } finally df.unpersist()
    an[IllegalArgumentException] should be thrownBy PerfConf.storageLevel("TAPE")
  }
}
