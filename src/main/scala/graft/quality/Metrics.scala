package graft.quality

/** Q13 — the quality-score model
  * (reference: src/data_quality/metrics.py:73-270), replicated including its
  * quirks because the reference's e2e tests assert score monotonicity on it:
  *  - weighted overall FILTERS OUT zero dimension scores before averaging
  *    (metrics.py:87-93) — a dimension that scored 0 doesn't drag the mean,
  *    it is treated as "not measured";
  *  - accuracy uses the crude `anomalies × 100 / rows` affected-row estimate
  *    (metrics.py:246-252);
  *  - level thresholds: EXCELLENT≥95, GOOD≥85, FAIR≥70, POOR≥50, CRITICAL.
  *
  * Pure driver-side arithmetic over already-aggregated counts — no Spark
  * dependency, trivially testable.
  */
object Metrics {

  final case class DimensionScores(
      completeness: Double,
      validity: Double,
      consistency: Double,
      accuracy: Double,
      timeliness: Double)

  val weights: DimensionScores =
    DimensionScores(0.25, 0.25, 0.20, 0.20, 0.10)

  /** completeness = non-null cells / total cells × 100. */
  def completeness(totalCells: Long, nullCells: Long): Double =
    if (totalCells == 0) 100.0
    else (totalCells - nullCells).toDouble / totalCells * 100.0

  /** validity = rows passing all checks / rows × 100. */
  def validity(totalRows: Long, failedRows: Long): Double =
    if (totalRows == 0) 100.0
    else (totalRows - math.min(failedRows, totalRows)).toDouble / totalRows * 100.0

  /** consistency = checks passed / checks run × 100. */
  def consistency(checksRun: Int, checksPassed: Int): Double =
    if (checksRun == 0) 100.0 else checksPassed.toDouble / checksRun * 100.0

  /** accuracy: reference estimates affected rows as anomalies×100 (each
    * anomaly report samples ≤100 rows) and FLOORS the score at 50 — both
    * quirks preserved (metrics.py:240-253: `50.0` when estimated affected
    * rows >= total, else `max(50, 100 - anomaly_rate)`). */
  def accuracy(totalRows: Long, anomalyCount: Int): Double =
    if (totalRows == 0) 100.0
    else {
      val affected = anomalyCount.toLong * 100
      if (affected >= totalRows) 50.0
      else math.max(50.0, 100.0 - affected.toDouble / totalRows * 100.0)
    }

  /** Weighted overall with the zero-filter quirk (metrics.py:87-93). */
  def overall(s: DimensionScores): Double = {
    val pairs = Seq(
      s.completeness -> weights.completeness,
      s.validity -> weights.validity,
      s.consistency -> weights.consistency,
      s.accuracy -> weights.accuracy,
      s.timeliness -> weights.timeliness).filter(_._1 > 0.0)
    if (pairs.isEmpty) 0.0
    else pairs.map { case (v, w) => v * w }.sum / pairs.map(_._2).sum
  }

  def level(score: Double): String =
    if (score >= 95) "EXCELLENT"
    else if (score >= 85) "GOOD"
    else if (score >= 70) "FAIR"
    else if (score >= 50) "POOR"
    else "CRITICAL"
}
