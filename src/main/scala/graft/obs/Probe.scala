package graft.obs

import java.util.Properties
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.{Failure, Success, Try}

/** The one query probe behind Bench, ProfileQuery, ScaleSmoke and the
  * job-count specs: [[settle]] before a run, [[measure]] around it.
  *
  * [[measure]] runs `body` between two marker jobs and records every job
  * started in that window, from any driver thread, with the stages it ran.
  * Listener events arrive in submission order, so once the closing
  * marker's job-start event is in, every stage of the window has completed
  * and reported: the drain is exact, with no fixed wait. */
object Probe {

  private val MarkerProperty = "graft.obs.marker"

  /** One completed stage attempt. `label` names the plan-node scopes of
    * its RDDs (`Exchange`, `WholeStageCodegen (2)`, …), which tell an AQE
    * query's stages apart where the call site does not. */
  final case class Stage(label: String, wallMs: Long, tasks: Long,
      cpuNs: Long, runMs: Long, shuffleRead: Long, shuffleWrite: Long,
      spill: Long)

  /** One job: the local properties it started with and its stages. */
  final case class Job(properties: Properties, stages: Seq[Stage])

  /** Wall seconds of the body alone, and the jobs of the window. */
  final case class Sample(wallS: Double, jobs: Seq[Job]) {
    def stages: Seq[Stage] = jobs.flatMap(_.stages)
    def total(counter: Stage => Long): Long = stages.map(counter).sum
  }

  /** The one settle policy: drop cached relations, force a full GC, then
    * a quiet gap, so one run's cleanup debt does not land in the next
    * run's timing. */
  def settle(spark: SparkSession, quietMs: Long): Unit = {
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(quietMs)
  }

  /** Computes every row and column of `df` like a real write, without disk
    * I/O or the column pruning a bare `count()` allows. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Runs `body` and returns its result (any throwable becomes a
    * `Failure`) with the sample of the jobs it started, also when it
    * failed. */
  def measure[T](spark: SparkSession)(body: => T): (Try[T], Sample) = {
    val sc = spark.sparkContext
    val events = new LinkedBlockingQueue[SparkListenerEvent]()
    val tap = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = events.put(e)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        events.put(e)
    }
    val id = java.util.UUID.randomUUID().toString
    // runs a marker job; returns the events queued before its start
    def marker(tag: String): List[SparkListenerEvent] = {
      sc.setLocalProperty(MarkerProperty, s"$id-$tag")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(MarkerProperty, null)
      Iterator.continually(Option(events.poll(60, TimeUnit.SECONDS)).getOrElse(
        throw new IllegalStateException(s"marker job $tag never reached the listener")))
        .takeWhile {
          case j: SparkListenerJobStart =>
            Option(j.properties).forall(_.getProperty(MarkerProperty) != s"$id-$tag")
          case _ => true
        }.toList
    }
    sc.addSparkListener(tap)
    try {
      marker("start")
      val t0 = System.nanoTime()
      val result = try Success(body) catch { case e: Throwable => Failure(e) }
      val wallS = (System.nanoTime() - t0) / 1e9
      (result, sample(wallS, marker("end")))
    } finally sc.removeSparkListener(tap)
  }

  /** Each completed stage goes to the first job of the window that lists
    * it; the start marker's stage belongs to none and drops out. */
  private def sample(wallS: Double, events: Seq[SparkListenerEvent]): Sample = {
    val starts = events.collect { case j: SparkListenerJobStart => j }
    val owner = starts.flatMap(j => j.stageIds.map(_ -> j.jobId)).reverse.toMap
    val byJob = events.collect {
      case SparkListenerStageCompleted(si) if owner.contains(si.stageId) =>
        val scopes = si.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name)).distinct
        val m = si.taskMetrics
        owner(si.stageId) -> Stage(
          if (scopes.isEmpty) si.name else scopes.mkString(" / "),
          (for (a <- si.completionTime; b <- si.submissionTime) yield a - b)
            .getOrElse(-1L),
          si.numTasks, m.executorCpuTime + m.executorDeserializeCpuTime,
          m.executorRunTime, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
    }.groupMap(_._1)(_._2)
    Sample(wallS, starts.map(j => Job(
      Option(j.properties).getOrElse(new Properties()),
      byJob.getOrElse(j.jobId, Nil))))
  }
}
