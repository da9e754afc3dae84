package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Stage-level profiler for one SparkEntry query: runs the query under the
  * Bench posture (local[$SPARK_GRAFT_CPUS], noop sink, warm-up + settled
  * timing) and prints every stage's wall time, executor-cpu sum, shuffle
  * read/write bytes and the callsite that created it — the §1 "where does
  * the time actually go" measurement the optimization rounds start from.
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

    case class St(name: String, wallMs: Long, cpuMs: Long,
      runMs: Long, shufRead: Long, shufWrite: Long, tasks: Int)
    val stages = scala.collection.mutable.ArrayBuffer.empty[St]
    var jobs = 0
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val wall = (for {a <- si.completionTime; b <- si.submissionTime}
          yield a - b).getOrElse(-1L)
        stages += St(si.name, wall, m.executorCpuTime / 1000000L,
          m.executorRunTime, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, si.numTasks)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = { jobs += 1 }
    }

    // warm-up (untimed, unprofiled)
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(2000L)

    (1 to reps).foreach { rep =>
      stages.clear(); jobs = 0
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500L) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      println(f"[profile] $name rep $rep: $sec%.3f s, $jobs jobs, ${stages.size} stages")
      val byCost = stages.sortBy(-_.wallMs)
      println(f"[profile] ${"wall_ms"}%8s ${"cpu_ms"}%8s ${"run_ms"}%8s " +
        f"${"sh_read"}%10s ${"sh_write"}%10s ${"tasks"}%5s  stage")
      byCost.take(40).foreach { s =>
        println(f"[profile] ${s.wallMs}%8d ${s.cpuMs}%8d ${s.runMs}%8d " +
          f"${s.shufRead}%10d ${s.shufWrite}%10d ${s.tasks}%5d  ${s.name.take(110)}")
      }
      val totW = stages.map(_.wallMs).sum
      val totC = stages.map(_.cpuMs).sum
      println(f"[profile] totals: wall(sum of stages) ${totW}ms cpu ${totC}ms " +
        f"shufW ${stages.map(_.shufWrite).sum / 1024}KB")
    }
    spark.stop()
  }
}
