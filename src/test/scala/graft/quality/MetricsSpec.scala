package graft.quality

class MetricsSpec extends org.scalatest.funsuite.AnyFunSuite
    with org.scalatest.matchers.should.Matchers {

  test("dimension scores") {
    Metrics.completeness(1000, 50) shouldBe 95.0
    Metrics.completeness(0, 0) shouldBe 100.0
    Metrics.validity(100, 10) shouldBe 90.0
    Metrics.validity(100, 1000) shouldBe 0.0 // failed capped at total
    Metrics.consistency(4, 3) shouldBe 75.0
    Metrics.accuracy(10000, 2) shouldBe 98.0 // 2 anomalies × 100 rows
    Metrics.accuracy(100, 50) shouldBe 50.0 // affected >= total → 50 (metrics.py:250)
    Metrics.accuracy(1000, 6) shouldBe 50.0 // 60% rate would score 40 → floored at 50
  }

  test("overall filters zero scores out of the weighted average (reference quirk)") {
    val s = Metrics.DimensionScores(100, 100, 100, 100, 100)
    Metrics.overall(s) shouldBe 100.0 +- 1e-9
    // consistency=0 is excluded entirely, not averaged in:
    val withZero = s.copy(consistency = 0.0)
    Metrics.overall(withZero) shouldBe 100.0 +- 1e-9
    Metrics.overall(Metrics.DimensionScores(0, 0, 0, 0, 0)) shouldBe 0.0
  }

  test("levels") {
    Metrics.level(97) shouldBe "EXCELLENT"
    Metrics.level(90) shouldBe "GOOD"
    Metrics.level(75) shouldBe "FAIR"
    Metrics.level(60) shouldBe "POOR"
    Metrics.level(10) shouldBe "CRITICAL"
  }
}
