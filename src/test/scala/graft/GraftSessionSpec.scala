package graft

import java.nio.file.Files
import org.apache.spark.network.util.JavaUtils
import SourceScan.{code, scalaFiles}

/** The posture [[GraftSession]] gives every entry point. AQE and its
  * coalesce minimum are Spark defaults the session does not write out, so
  * a Spark upgrade that changes one fails here instead of silently moving
  * every main. */
class GraftSessionSpec extends SparkSpec {

  test("the suite's session carries the graft posture") {
    def conf(k: String): String = spark.conf.get(k)
    conf("spark.sql.session.timeZone") shouldBe "UTC"
    conf("spark.sql.legacy.parquet.nanosAsLong") shouldBe "true"
    conf("spark.sql.shuffle.partitions") shouldBe "4"
    conf("spark.sql.adaptive.enabled") shouldBe "true"
    JavaUtils.byteStringAsBytes(
      conf("spark.sql.adaptive.coalescePartitions.minPartitionSize")) shouldBe
      1024L * 1024L
    spark.sql("SELECT vec_dot(array(1f, 2f), array(3f, 4f))")
      .head().getDouble(0) shouldBe 11.0
  }

  test("only GraftSession builds a Spark session") {
    val builderCall = raw"SparkSession\s*\.\s*builder".r
    val sites = (scalaFiles("src/main/scala") ++ scalaFiles("src/test/scala"))
      .filter(p => builderCall.findFirstIn(code(Files.readString(p))).isDefined)
      .map(_.toString)
    sites shouldBe Seq("src/main/scala/graft/GraftSession.scala")
  }
}
