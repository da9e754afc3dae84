package graft.maintenance

import graft.SparkSpec
import java.nio.file.Files

class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  test("compact rewrites many small files into the target count, preserving rows") {
    val dir = Files.createTempDirectory("graft_compact").toString + "/t"
    (1 to 1000).toDF("v").repartition(20).write.parquet(dir)

    val stats = Maintenance.compact(spark, dir, targetFileBytes = Long.MaxValue)
    stats.filesBefore shouldBe 20L
    stats.filesAfter shouldBe 1L
    val after = spark.read.parquet(dir)
    after.count() shouldBe 1000
    after.agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0) shouldBe 500500L
  }

  test("iceberg-only operations raise with a clear message") {
    (the[UnsupportedOperationException] thrownBy
      Maintenance.expireSnapshots("/x", 7)).getMessage should include("Iceberg")
    (the[UnsupportedOperationException] thrownBy
      Maintenance.removeOrphans("/x", 72)).getMessage should include("Iceberg")
  }
}
