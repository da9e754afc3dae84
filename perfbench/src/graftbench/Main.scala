package graftbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

/** Closed-loop, one-client pipeline benchmark: one process runs one
  * pipeline at a time in a local Spark session set up the way
  * RunPipeline sets it up.
  *
  * Usage: graftbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --data <testdata slices> [--cpus <n>] [--smoke 1]
  *
  * Prints progress lines, then one JSON line with the metrics. With
  * --trace 1 the window alternates span-instrumented and untraced runs,
  * and the per-layer metrics are reported instead of the end-to-end
  * ones. */
object Main {

  /** Untimed runs that load classes, fill the code caches and let the JIT
    * catch up before the window; part of setup_s. The first is cold and
    * takes about three times a timed run, the second up to 1.4 times. More do not fit the recording budget: 4 + 22 x 2
    * processes of about a minute each must end within 3420 s. A warm-up
    * starts only while set-up has taken under MaxSetupS. */
  val WarmupRuns = 2
  val MaxSetupS = 40.0
  /** The last two warm-up runs count as settled when they differ by at
    * most this share of the later one. */
  val WarmupAgree = 0.05
  /** Measured runs (with --trace 1: traced runs) made even when the window
    * is shorter. */
  val MinRuns = 2
  val MinTraced = 2
  /** run_s_tail needs this many samples beyond it. */
  val TailBeyond = 10

  val LayerNames: Seq[String] = Seq("config", "bronze", "silver", "curation", "gold",
    "quality", "lineage")
  val LayerMetrics: Seq[(String, String)] = Seq("wall_s" -> "s", "job_s" -> "s",
    "driver_s" -> "s", "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "cpu_s" -> "s", "shuffle_write_bytes" -> "bytes", "shuffle_read_bytes" -> "bytes",
    "spill_bytes" -> "bytes", "rows_scanned" -> "rows", "output_bytes" -> "bytes")

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def newSession(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.catalyst.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .appName("graftbench")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  /** Every per-layer metric of BENCHMARK.json with its unit. */
  val PerLayer: Seq[(String, String)] =
    (for (layer <- LayerNames; (m, u) <- LayerMetrics) yield s"$layer.$m" -> u) ++
      Seq("scan_amp" -> "ratio", "quality.jobs_per_check" -> "ratio",
        "trace_overhead" -> "ratio")

  /** The per-layer metrics as the median over the traced runs; prints
    * which counters repeated exactly and each layer's share of wall time.
    * `untraced` holds, per traced run, the mean time of the untraced runs
    * made just before and just after it (one of them at either end). */
  def perLayer(traced: Seq[(Seq[Trace.Span], Outcome)], untraced: Seq[Double],
      counters: Map[Int, Trace.Counters], bronzeRows: Long): Seq[(String, Double, String)] = {
    if (traced.isEmpty) return Nil
    val perRun = traced.zip(untraced).map { case ((spans, o), plain) =>
      val figs = Trace.layerFigures(spans, counters)
      val total = spans.find(_.name == "run").map(_.durNs / 1e9).getOrElse(Double.NaN)
      val scanned = spans.flatMap(s => counters.get(s.id)).map(_.rowsScanned).sum
      val qJobs = figs.get("quality").map(_.counts("jobs")).getOrElse(0L)
      val checks = o.quality.checkResults.size + o.quality.expectationResults.size
      (for (layer <- LayerNames; (m, _) <- LayerMetrics)
        yield s"$layer.$m" -> figs.get(layer).map(_.metrics(m)).getOrElse(0.0)).toMap ++ Map(
        "scan_amp" -> scanned.toDouble / bronzeRows,
        "quality.jobs_per_check" -> qJobs.toDouble / math.max(1, checks),
        "trace_overhead" -> total / plain,
        "traced_s" -> total)
    }
    def med(n: String) = median(perRun.map(_(n)))
    // a counter that repeats exactly across the traced runs is a
    // noise-free companion to wall time; the rest vary run to run
    val counterNames = PerLayer.map(_._1).filterNot(n => n.endsWith("_s") || n == "trace_overhead")
    val (exact, varies) = counterNames.partition(n => perRun.map(_(n)).distinct.size == 1)
    println(s"[stability] over ${perRun.size} traced runs, exact: ${exact.mkString(" ")}")
    println(s"[stability] varies: ${varies.mkString(" ")}")
    println(f"[trace] traced total ${med("traced_s")}%.4f s vs ${median(untraced)}%.4f s " +
      f"untraced, each traced run against the untraced runs around it: overhead " +
      s"${perRun.map(r => f"${r("trace_overhead")}%.3f").mkString(" ")} " +
      f"(median ${med("trace_overhead")}%.3fx)")
    val wallTotal = LayerNames.map(l => med(s"$l.wall_s")).sum
    LayerNames.foreach { l =>
      println(f"[trace] $l%-9s wall_s=${med(s"$l.wall_s")}%.4f " +
        f"(${100 * med(s"$l.wall_s") / wallTotal}%.1f%%) jobs=${med(s"$l.jobs").toLong} " +
        f"job_s=${med(s"$l.job_s")}%.4f driver_s=${med(s"$l.driver_s")}%.4f")
    }
    PerLayer.map { case (n, u) => (n, med(n), u) }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val workload = Workloads.byName(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val smoke = opts.get("smoke").contains("1")
    val cpus = opts.get("cpus").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val work = Paths.get(opt("work")).toAbsolutePath
    val data = Paths.get(opt("data")).toAbsolutePath
    val size = if (smoke) Size.Smoke else Size.Full
    deleteRecursively(work)
    Files.createDirectories(work)
    println(s"[bench] workload=${workload.name} seed=$seed seconds=$seconds " +
      s"trace=${if (trace) 1 else 0} cpus=$cpus size=$size")

    // set-up: session start, input staging (the taxi staging also loads
    // the config), then the warm-up runs (each loads the config); setup_s
    // is the wall time of all of it
    val t0 = System.nanoTime()
    val spark = newSession(cpus, work)
    val staged = workload.stage(spark, seed, size, data, work.resolve("input"))
    val stagedS = (System.nanoTime() - t0) / 1e9

    var attempted = 0
    var failed = 0
    var runIndex = 0

    /** One pipeline run into a fresh directory; returns its wall time and
      * bytes written when its output checks out. */
    def oneRun(tracer: Option[Trace.Tracer]): Option[(Double, Long, Outcome)] = {
      runIndex += 1
      attempted += 1
      val out = work.resolve(f"runs/$runIndex%04d")
      val layers = new Layers(spark, tracer)
      val t0 = System.nanoTime()
      val result = Try(tracer.fold(workload.run(layers, staged, out))(
        _.span("run", "")(workload.run(layers, staged, out))))
      val wall = (System.nanoTime() - t0) / 1e9
      val verdict = result.flatMap(o => Try(workload.check(spark, staged, o)).map(_ -> o))
      val written = bytesUnder(out.resolve("target"))
      deleteRecursively(out)
      verdict match {
        case Success((None, o)) => Some((wall, written, o))
        case Success((Some(why), _)) =>
          failed += 1
          println(s"[bench] run $runIndex FAILED its output check: $why")
          None
        case Failure(e) =>
          failed += 1
          println(s"[bench] run $runIndex FAILED: $e")
          None
      }
    }

    val warm = ArrayBuffer[Double]()
    while (runIndex < WarmupRuns && (System.nanoTime() - t0) / 1e9 < MaxSetupS)
      oneRun(None).foreach(warm += _._1)
    val settled = warm.size >= 2 &&
      math.abs(warm.last - warm(warm.size - 2)) <= WarmupAgree * warm.last
    val setupS = (System.nanoTime() - t0) / 1e9
    println(f"[bench] setup_s $setupS%.3f: session and staging $stagedS%.3f, then $runIndex " +
      s"warm-up runs (${warm.map(t => f"$t%.3f").mkString(" ")}${if (settled) ", settled" else ", not settled"}); " +
      s"bronze rows ${staged.bronzeRows}, input ${staged.inputBytes} bytes, " +
      s"input hash ${staged.inputHash}, " +
      s"expected ${staged.expectRows.map { case (k, v) => s"$k=$v" }.mkString(" ")}")

    // the measured closed loop: untraced runs back to back, or with
    // --trace 1 traced and untraced runs in turn, starting and ending on a
    // traced one, so each untraced run sits between two traced runs
    val listener = new Trace.Listener
    if (trace) spark.sparkContext.addSparkListener(listener)
    val times = ArrayBuffer[Double]()
    val amps = ArrayBuffer[Double]()
    def untraced(): Unit = oneRun(None).foreach { case (wall, written, _) =>
      times += wall
      amps += written.toDouble / staged.inputBytes
    }
    val traced = ArrayBuffer[(Seq[Trace.Span], Outcome)]()
    // per traced run, the untraced runs made just before and just after it
    val neighbours = ArrayBuffer[(Int, Int)]()
    def tracedRun(): Unit = {
      val tracer = new Trace.Tracer(spark.sparkContext)
      val before = times.size
      oneRun(Some(tracer)).foreach { case (_, _, o) =>
        org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
        traced += ((tracer.spans.toSeq, o))
        neighbours += ((before - 1, before))
      }
    }
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    if (trace) tracedRun()
    // an iteration starts only if those so far say it ends inside the window
    var iterations = 0
    while (iterations < (if (trace) MinTraced - 1 else MinRuns) ||
        (times.nonEmpty && elapsed + elapsed / iterations <= seconds)) {
      iterations += 1
      untraced()
      if (trace) tracedRun()
    }
    // the untraced time a traced run is set against: the mean of the
    // untraced runs around it; over the traced runs, whose neighbours
    // alternate between earlier and later, a steady drift such as a
    // warming JIT cancels
    val bracket = neighbours.map { case (a, b) =>
      val ts = Seq(a, b).filter(times.indices.contains).map(times)
      if (ts.isEmpty) Double.NaN else ts.sum / ts.size
    }
    val sorted = times.sorted
    val runS = median(times.toSeq)
    // with ten or fewer samples no percentile has ten beyond it: the largest
    val tailIdx = if (sorted.size > TailBeyond) sorted.size - 1 - TailBeyond else sorted.size - 1
    val runTail = if (sorted.isEmpty) Double.NaN else sorted(tailIdx)
    val tailPct = if (sorted.isEmpty) 0.0 else 100.0 * (tailIdx + 1) / sorted.size
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("run_s", runS, "s"),
      ("run_s_tail", runTail, "s"),
      ("rows_per_s", staged.bronzeRows / runS, "1/s"),
      ("write_amp", median(amps.toSeq), "ratio"))
    val errorRate = failed.toDouble / attempted
    println(s"[bench] ${times.size} measured untraced runs in ${"%.1f".format(elapsed)} s " +
      s"(${times.map(t => f"$t%.3f").mkString(" ")}); " +
      f"run_s_tail is p$tailPct%.0f (${sorted.size - 1 - tailIdx} samples beyond it)")
    println("[bench] end-to-end: " + endToEnd.map { case (k, v, u) => s"$k=${num(v)} $u" }
      .mkString(", ") + s", error_rate=$errorRate ratio ($failed of $attempted runs)")

    val metrics =
      if (!trace) endToEnd
      else {
        val counters = listener.snapshot()
        Files.write(work.resolve("spans.jsonl"),
          traced.zipWithIndex.flatMap { case ((spans, _), i) =>
            Trace.toJson(i + 1, spans, counters) }.mkString("", "\n", "\n").getBytes("UTF-8"))
        println(s"[trace] spans written to ${work.resolve("spans.jsonl")}")
        perLayer(traced.toSeq, bracket.toSeq, counters, staged.bronzeRows)
      }

    val ok = failed == 0 && times.nonEmpty && metrics.nonEmpty
    val json = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")
    spark.stop()
    println(s"""{"correct": $ok, "attempted": $attempted, "failed": $failed, "metrics": $json}""")
    System.out.flush()
    System.exit(0)
  }
}
