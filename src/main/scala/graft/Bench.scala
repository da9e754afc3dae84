package graft

import graft.obs.Probe

/** Benchmark main — runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line for the driver.
  *
  * Each query is fully materialized via a `noop` sink (computes every output
  * column/row like a real write, without disk I/O or the column-pruning
  * shortcut a bare `count()` would allow). AQE is on — same posture as a
  * production cluster run. Every timed run goes through `graft.obs.Probe`,
  * whose job and stage counters land in BENCH_DETAIL.json's `counters`.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build("graft-bench")
    // one untimed warm-up pass over EVERY query, so JIT/codegen/file-footer
    // cold-start cost lands here instead of inside whichever query happens to
    // first touch a heavy operator (window exec, regex, decimal agg). Without
    // this, first-touch JIT drifts between rounds and poisons cross-round
    // comparisons.
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => SparkEntry.selected(n) }
    val warmupSec = Probe.measure(spark)(names.foreach { case (_, fn) =>
      try Probe.noop(fn(spark, sfDir)) catch { case _: Throwable => () }
    })._2.wallS
    // Settle after the ~80 s warm-up pass: its JIT/codegen churn leaves GC
    // debt that otherwise lands inside whichever timed query runs next
    // (r4/r5 showed 5-14x phantom regressions on unchanged code).
    Probe.settle(spark, 8000L)
    // Min over SPARK_GRAFT_REPS repetitions (default 3): single-shot
    // timings on shared hardware swing ±50%; the minimum is the standard
    // low-noise estimator of a query's true cost. Reps are INTERLEAVED (one
    // round-robin pass over all queries each), so a transient stall poisons
    // at most one rep of a query. Each run is settled too (Probe.settle):
    // debt from the PREVIOUS query (broadcast cleanup, cache eviction, GC)
    // otherwise lands in the next timing, and interleaving can't help since
    // the round-robin neighbor is the same every rep (r12: 5× artifacts in
    // min-of-5 unsettled reps).
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    val samples = (1 to reps).flatMap { rep =>
      names.map { case (name, fn) =>
        Probe.settle(spark, 300L)
        val (result, sample) = Probe.measure(spark)(Probe.noop(fn(spark, sfDir)))
        result.failed.foreach(e =>
          System.err.println(s"[bench] $name failed (rep $rep): ${e.getMessage}"))
        name -> (result.isSuccess, sample)
      }
    }.groupMap(_._1)(_._2)
    // Fixed-work calibration probe: a constant CPU-bound query, so judges
    // can normalize host-epoch drift (r13's 1.47× uniform inflation was
    // adjudicated as host noise from indirect evidence; this makes it
    // directly measurable). Pure arithmetic over spark.range — no I/O, no
    // shuffle variance, identical work every round.
    //
    // calib_version 2 (r18): the v1 probe was ~0.1 s with 5× rep-to-rep
    // noise (r17 reps [0.444, 0.089, 0.086] vs r16's 0.139) — dividing
    // that swing into every per-query ratio MANUFACTURED 36 phantom >2×
    // regressions on byte-identical code. Now: a ≥2 s workload (25× v1,
    // amortizing scheduler jitter), ≥5 reps, MEDIAN (min tracked the
    // luckiest scheduling, not the host's speed). Ratios are emitted BOTH
    // raw and calib-normalized, and the >2× regression gate fires only
    // when BOTH families agree — a calibration artifact can no longer
    // flag an unchanged query.
    def calibOnce(): Double = {
      Probe.settle(spark, 300L)
      // id is reduced mod 1e9+7 BEFORE the Knuth multiply: at 5e9 rows
      // the raw product overflows BIGINT (ANSI aborts); the reduced
      // product peaks at ~2.7e18, safely inside
      val (result, sample) = Probe.measure(spark)(Probe.noop(spark
        .range(0L, 5000000000L, 1L, spark.sparkContext.defaultParallelism)
        .selectExpr("sum((((id % 1000000007) * 2654435761) ^ (id >> 7)) % 1000003) as s")))
      result.get
      sample.wallS
    }
    val calibReps = math.max(5, reps)
    val calibs = (1 to calibReps).map(_ => calibOnce())
    val calibSec = calibs.sorted.apply(calibs.size / 2)
    // each query's counters come from its min-time rep
    val results = names.map { case (name, _) =>
      val runs = samples(name)
      val best = runs.map(_._2).minBy(_.wallS)
      (name, best.wallS, runs.forall(_._1), runs.map(_._2.wallS), best)
    }
    // Self-normalization against the PREVIOUS round: BENCH_DETAIL.json in
    // cwd is last round's committed detail (read before this run
    // overwrites it). Per-query ratio = cur_min / (prev_min · calib
    // drift), so a uniform host-epoch shift normalizes out and the >2×
    // regression gate becomes machine-checked in this very output instead
    // of judge-reconstructed from captured tails each round. The parse is
    // a regex over our own fixed emission format — no JSON library in the
    // bench's dependency set, and the format is self-authored.
    val prevDetail: Option[(Map[String, Double], Double)] = {
      val f = new java.io.File("BENCH_DETAIL.json")
      if (!f.exists) None
      else try {
        val txt = java.nio.file.Files.readString(f.toPath)
        // scope the pair scan to the "queries" OBJECT: the detail file
        // also carries ratio maps keyed by the same names, and an
        // unscoped scan's .toMap would keep THOSE values (last
        // occurrence wins) — every prev "min" becomes a ~1.0 ratio and
        // the whole round reads as a 5× regression (r16 lesson)
        val queriesObj = "\"queries\":\\{([^}]*)\\}".r
          .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
        val qs = "\"(q[0-9][A-Za-z0-9_]*)\":(-?[0-9.]+)".r
          .findAllMatchIn(queriesObj)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
        // the calibration is only comparable within the same probe
        // version — against a pre-v2 detail file, normalize by 1.0
        // (raw == normalized) instead of dividing a 0.1 s v1 min into
        // a 2 s v2 median
        val prevVersion = "\"calib_version\":([0-9]+)".r
          .findFirstMatchIn(txt).map(_.group(1).toInt).getOrElse(1)
        val cal =
          if (prevVersion != 2) 0.0
          else "\"calib_sec\":([0-9.]+)".r.findFirstMatchIn(txt)
            .map(_.group(1).toDouble).getOrElse(0.0)
        if (qs.nonEmpty) Some((qs, cal)) else None
      } catch { case _: Throwable => None }
    }
    // raw ratio = cur_min / prev_min; normalized additionally divides out
    // the calibration drift. The regression gate needs BOTH > 2×: raw
    // alone false-positives on host-epoch shifts (r13), normalized alone
    // false-positives on calibration noise (r17).
    val rawRatios: Map[String, Double] = prevDetail.map { case (pq, _) =>
      results.flatMap { case (name, v, ok, _, _) =>
        pq.get(name).filter(p => p > 0.0 && ok).map(p => name -> v / p)
      }.toMap
    }.getOrElse(Map.empty)
    // normalized = raw / drift, derived from the SAME map so the two
    // families' key sets (which the both-must-exceed gate below depends
    // on) match structurally, not coincidentally
    val drift = prevDetail
      .map { case (_, pcal) => if (pcal > 0.0) calibSec / pcal else 1.0 }
      .getOrElse(1.0)
    val ratios: Map[String, Double] =
      rawRatios.view.mapValues(_ / drift).toMap
    def medianOf(m: Map[String, Double]): Option[Double] =
      if (m.isEmpty) None
      else { val s = m.values.toSeq.sorted; Some(s(s.size / 2)) }
    val medianRatio = medianOf(ratios)
    val medianRawRatio = medianOf(rawRatios)
    val regressions = ratios
      .filter { case (n, r) => r > 2.0 && rawRatios.getOrElse(n, 0.0) > 2.0 }
      .toSeq.sortBy(-_._2)
    // DISPUTED: exactly one family exceeds 2× — e.g. a real regression
    // masked by a coincident host-epoch speedup (raw ≈ 1×, normalized
    // > 2×) or vice versa. Not auto-flagged as a regression, but surfaced
    // so the disagreement is visible instead of silently dropped
    // (ADVICE r18). Listed with both ratios so the reader sees which
    // family fired.
    // sorted by the WORSE of the two families — sorting by calib alone
    // would push raw-fired disputes (the masked-regression class this
    // list exists for) past the take(10) cut (r19 self-review finding)
    val disputed = ratios
      .filter { case (n, r) =>
        (r > 2.0) != (rawRatios.getOrElse(n, 0.0) > 2.0) }
      .toSeq.sortBy { case (n, r) =>
        -math.max(r, rawRatios.getOrElse(n, 0.0)) }
    // Failed queries report -1 (not their elapsed time) and are listed in
    // "errors", so a run with failures can never read as a clean total.
    val qs = results.map { case (k, v, ok, _, _) =>
      "\"" + k + "\":" + (if (ok) f"$v%.3f" else "-1") }.mkString("{", ",", "}")
    // every rep's time per query, so min-of-N can't silently mask a
    // regression between rounds
    val ts = results.map { case (k, _, _, all, _) =>
      "\"" + k + "\":" + all.map(t => f"$t%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val errors = results.collect { case (k, _, false, _, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v, true, _, _) => v }.sum
    // The per-query map outgrew the driver's bounded stdout-tail capture at
    // 185 queries (r13: parsed=null even with qNN-prefix keys — the exact
    // failure mode r8/r9 hit at 96 queries with full names). The map and
    // per-rep arrays now live in a FILE next to the harness cwd; stdout
    // carries only fixed-size contract fields (~160 bytes) that can never
    // outgrow the capture window.
    // per-query layer counters of the min-time rep, after every other
    // field so the "queries" scan above never meets a nested object
    val counters = results.map { case (k, _, _, _, b) =>
      s""""$k":{"jobs":${b.jobs.size},"stages":${b.stages.size},""" +
        s""""tasks":${b.total(_.tasks)},"shuffle_read_bytes":${b.total(_.shuffleRead)},""" +
        s""""shuffle_write_bytes":${b.total(_.shuffleWrite)},"spill_bytes":${b.total(_.spill)},""" +
        f""""cpu_s":${b.total(_.cpuNs) / 1e9}%.3f}"""
    }.mkString("{", ",", "}")
    val detailPath = new java.io.File("BENCH_DETAIL.json").getAbsolutePath
    val calibJson = calibs.map(t => f"$t%.3f").mkString("[", ",", "]")
    // full calib-normalized ratio map → the detail file; stdout carries
    // only the fixed-size verdict fields (median + the top of the >2×
    // list, capped so the line can never outgrow the capture window)
    def ratioJsonOf(m: Map[String, Double]): String = m.toSeq.sortBy(_._1)
      .map { case (k, r) => "\"" + k + "\":" + f"$r%.3f" }
      .mkString("{", ",", "}")
    val ratioJson = ratioJsonOf(ratios)
    val rawRatioJson = ratioJsonOf(rawRatios)
    val medianJson = medianRatio.map(r => f"$r%.3f").getOrElse("null")
    val medianRawJson = medianRawRatio.map(r => f"$r%.3f").getOrElse("null")
    val regressJson = regressions.take(10)
      .map { case (k, r) => "\"" + k + ":" + f"$r%.2f" + "x\"" }
      .mkString("[", ",", "]")
    val disputedJson = disputed.take(10)
      .map { case (k, r) =>
        val raw = rawRatios.getOrElse(k, 0.0)
        "\"" + k + ":" + f"$r%.2f" + "x calib/" + f"$raw%.2f" + "x raw\"" }
      .mkString("[", ",", "]")
    val detail = f"""{"queries":$qs,"times":$ts,"errors":$errors,"warmup_sec":$warmupSec%.3f,"calib_version":2,"calib_sec":$calibSec%.3f,"calib_reps":$calibJson,"reps":$reps,"sf":"$sfDir","n_queries":${results.size},"median_ratio_vs_prev":$medianJson,"median_ratio_raw_vs_prev":$medianRawJson,"n_disputed_over_2x":${disputed.size},"disputed_over_2x":$disputedJson,"ratios_vs_prev":$ratioJson,"ratios_raw_vs_prev":$rawRatioJson,"counters":$counters}"""
    val w = new java.io.PrintWriter(detailPath, "UTF-8")
    try w.println(detail) finally w.close()
    System.err.println(detail)
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","errors":$errors,"sf":"$sfDir","n_queries":${results.size},"calib_sec":$calibSec%.3f,"median_ratio_vs_prev":$medianJson,"median_ratio_raw_vs_prev":$medianRawJson,"n_regressions_over_2x":${regressions.size},"regressions_over_2x":$regressJson,"n_disputed_over_2x":${disputed.size},"disputed_over_2x":$disputedJson,"detail_path":"$detailPath"}""")
    spark.stop()
  }
}
