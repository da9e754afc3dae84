package graft.quality

import graft.SparkSpec

class ErrorTrackingSpec extends SparkSpec {
  import spark.implicits._

  private def rows = Seq(
    (1L, 5.0), (2L, -1.0), (3L, -2.0), (4L, 900.0), (5L, -3.0))
    .toDF("id", "v")

  private val rules = Seq(
    ErrorTracking.ErrorRule("v < 0", "v", "negative", "HIGH"),
    ErrorTracking.ErrorRule("v > 100", "v", "range", "MEDIUM"))

  test("capture takes a deterministic per-rule top-k by key") {
    val out = ErrorTracking.capture(rows, rules, Seq("id"), maxPerRule = 2)
      .orderBy("error_type", "id").collect()
    out.map(r => (r.getAs[String]("error_type"), r.getAs[Long]("id"))).toSeq shouldBe
      Seq(("negative", 2L), ("negative", 3L), ("range", 4L)) // id 5 capped out
    out.head.getAs[String]("severity") shouldBe "HIGH"
  }
}
