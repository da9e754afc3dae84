package graft.obs

import graft.SparkSpec
import java.util.concurrent.{Executors, TimeUnit}
import org.apache.spark.sql.functions.col

class ProbeSpec extends SparkSpec {
  import Probe.measure

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val saved = kvs.map { case (k, _) => k -> conf.getOption(k) }
    kvs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("a groupBy + orderBy under a fixed plan: exact jobs, stages and tasks") {
    val (result, sample) = withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "3") {
      measure(spark)(Probe.noop(spark.range(0, 1000, 1, 4)
        .groupBy((col("id") % 10).as("k")).count().orderBy("k")))
    }
    result.get
    // the range partitioner's sampling job runs the aggregate's map stage
    // (4 input partitions) and samples its 3 shuffle partitions; the write
    // job reuses that shuffle, then runs the sort's map and result stages
    sample.jobs.map(_.stages.map(_.tasks)) shouldBe Seq(Seq(4L, 3L), Seq(3L, 3L))
    sample.stages.size shouldBe 4
    sample.total(_.tasks) shouldBe 4L + 3 * 3
    sample.total(_.shuffleWrite) should be > 0L
    sample.total(_.cpuNs) should be > 0L
    sample.wallS should be > 0.0
    sample.stages.map(_.label).foreach(_ should include("Exchange"))
  }

  test("jobs submitted from other driver threads inside the window count") {
    val sc = spark.sparkContext
    val (result, sample) = measure(spark) {
      val pool = Executors.newFixedThreadPool(2)
      try {
        val counts = (1 to 2).map(i => pool.submit(() => {
          sc.setLocalProperty("graft.test.thread", s"t$i")
          sc.parallelize(1 to 10, 2).count()
        }))
        counts.map(_.get())
      } finally {
        pool.shutdown()
        pool.awaitTermination(60, TimeUnit.SECONDS)
      }
    }
    result.get shouldBe Seq(10L, 10L)
    sample.jobs.map(_.properties.getProperty("graft.test.thread")).sorted shouldBe
      Seq("t1", "t2")
    sample.total(_.tasks) shouldBe 4L
  }

  test("a body that throws returns a Failure with the jobs it did run") {
    val (result, sample) = measure(spark) {
      spark.sparkContext.parallelize(1 to 10, 3).count()
      throw new IllegalStateException("after one job")
    }
    result.failed.get.getMessage shouldBe "after one job"
    sample.jobs.size shouldBe 1
    sample.total(_.tasks) shouldBe 3L
  }
}
