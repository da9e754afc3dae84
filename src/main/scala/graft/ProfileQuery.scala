package graft

import graft.obs.Probe

/** Stage-level profiler for one SparkEntry query: runs the query under the
  * Bench posture (local[$SPARK_GRAFT_CPUS], noop sink, warm-up, then each
  * rep settled and measured by [[graft.obs.Probe]]) and prints every
  * stage's wall time, executor-cpu sum, shuffle read/write bytes and the
  * plan nodes it ran — the "where does the time actually go" measurement
  * the optimization rounds start from.
  *
  * Usage: runMain graft.ProfileQuery <queryName> [sfDir] [reps]
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileQuery <query> [sfDir] [reps]")
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(1)
    val fn = SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"unknown query $name"))
    // extra confs for A/B runs: SPARK_GRAFT_EXTRA_CONF="k=v;k=v"
    val extraConf = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq.flatMap(
      _.split(";").map(_.trim).filter(_.nonEmpty).map { kv =>
        require(kv.contains("="),
          s"SPARK_GRAFT_EXTRA_CONF entry '$kv' is not key=value")
        val Array(k, v) = kv.split("=", 2)
        k -> v
      })
    val spark = GraftSession.build("graft-profile", extraConf = extraConf)

    // warm-up (untimed, unprofiled), then one settled, probed run per rep
    Probe.noop(fn(spark, sfDir))
    (1 to reps).foreach { rep =>
      Probe.settle(spark, 2000L)
      val (result, sample) = Probe.measure(spark)(Probe.noop(fn(spark, sfDir)))
      result.get
      val stages = sample.stages
      println(f"[profile] $name rep $rep: ${sample.wallS}%.3f s, " +
        f"${sample.jobs.size} jobs, ${stages.size} stages")
      println(f"[profile] ${"wall_ms"}%8s ${"cpu_ms"}%8s ${"run_ms"}%8s " +
        f"${"sh_read"}%10s ${"sh_write"}%10s ${"tasks"}%5s  stage")
      stages.sortBy(-_.wallMs).take(40).foreach { s =>
        println(f"[profile] ${s.wallMs}%8d ${s.cpuNs / 1000000L}%8d ${s.runMs}%8d " +
          f"${s.shuffleRead}%10d ${s.shuffleWrite}%10d ${s.tasks}%5d  ${s.label.take(110)}")
      }
      println(f"[profile] totals: wall(sum of stages) ${sample.total(_.wallMs)}ms " +
        f"cpu ${sample.total(_.cpuNs) / 1000000L}ms shufW ${sample.total(_.shuffleWrite) / 1024}KB")
    }
    spark.stop()
  }
}
