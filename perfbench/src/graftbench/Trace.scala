package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spans around the benchmark's calls into each layer, plus a listener
  * that attributes Spark jobs, stages and tasks to the span open when the
  * job was submitted (through a thread-local job property). Everything
  * stays in memory until the run ends. */
object Trace {

  val SpanProperty = "graftbench.span"

  /** Span ids are unique across tracers, since one listener serves all. */
  private val nextSpanId = new java.util.concurrent.atomic.AtomicInteger()

  /** One closed span. Times are epoch nanoseconds on one clock. */
  final case class Span(id: Int, parent: Int, name: String, layer: String,
      startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  /** Counters the listener gathers for one span. */
  final class Counters {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var cpuNs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var rowsScanned = 0L
    var outputBytes = 0L
    val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  }

  final class Listener extends SparkListener {
    private val jobSpan = mutable.Map[Int, Int]()
    private val jobStart = mutable.Map[Int, Long]()
    private val stageSpan = mutable.Map[Int, Int]()
    private val counters = mutable.Map[Int, Counters]()

    private def of(span: Int) = counters.getOrElseUpdate(span, new Counters)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .foreach { s =>
          val span = s.toInt
          jobSpan(e.jobId) = span
          jobStart(e.jobId) = e.time
          e.stageIds.foreach(stageSpan(_) = span)
          of(span).jobs += 1
        }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.get(e.jobId).foreach { span =>
        of(span).jobIntervals += ((jobStart(e.jobId), e.time))
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(of(_).stages += 1)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageSpan.get(e.stageId).foreach { span =>
        val c = of(span)
        c.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          c.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.diskBytesSpilled
          c.rowsScanned += m.inputMetrics.recordsRead
          c.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }

    def snapshot(): Map[Int, Counters] = synchronized(counters.toMap)
  }

  /** Opens and closes spans on the driver thread and tags every job
    * submitted inside a span with its id. */
  final class Tracer(sc: SparkContext) {
    private val clockBase = System.currentTimeMillis() * 1000000L - System.nanoTime()
    private def now(): Long = clockBase + System.nanoTime()
    private val stack = mutable.Stack[Int]()
    val spans = mutable.ArrayBuffer[Span]()

    def span[T](name: String, layer: String)(body: => T): T = {
      val id = nextSpanId.incrementAndGet()
      val parent = stack.headOption.getOrElse(0)
      val previous = sc.getLocalProperty(SpanProperty)
      stack.push(id)
      sc.setLocalProperty(SpanProperty, id.toString)
      val start = now()
      try body
      finally {
        spans += Span(id, parent, name, layer, start, now())
        stack.pop()
        sc.setLocalProperty(SpanProperty, previous)
      }
    }
  }

  /** Per-layer figures of one traced run: self time, job-covered time,
    * and the listener's counters, summed over the layer's spans. */
  final case class LayerFigures(wallS: Double, jobS: Double, cpuS: Double,
      counts: Map[String, Long]) {
    def driverS: Double = math.max(0.0, wallS - jobS)
    def metrics: Map[String, Double] =
      Map("wall_s" -> wallS, "job_s" -> jobS, "driver_s" -> driverS,
        "cpu_s" -> cpuS) ++ counts.map { case (k, v) => k -> v.toDouble }
  }

  /** Length of the union of [start, end] intervals. */
  private def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s
        curEnd = e
      } else curEnd = math.max(curEnd, e)
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  def layerFigures(spans: Seq[Span], counters: Map[Int, Counters]): Map[String, LayerFigures] = {
    val children = spans.groupBy(_.parent)
    spans.filter(_.layer.nonEmpty).groupBy(_.layer).map { case (layer, ss) =>
      val selfNs = ss.map { s =>
        s.durNs - covered(children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))
      }.sum
      val cs = ss.flatMap(s => counters.get(s.id))
      val jobMs = cs.map(c => covered(c.jobIntervals.toSeq)).sum
      val counts = Map(
        "jobs" -> cs.map(_.jobs).sum,
        "stages" -> cs.map(_.stages).sum,
        "tasks" -> cs.map(_.tasks).sum,
        "shuffle_write_bytes" -> cs.map(_.shuffleWrite).sum,
        "shuffle_read_bytes" -> cs.map(_.shuffleRead).sum,
        "spill_bytes" -> cs.map(_.spill).sum,
        "rows_scanned" -> cs.map(_.rowsScanned).sum,
        "output_bytes" -> cs.map(_.outputBytes).sum)
      layer -> LayerFigures(selfNs / 1e9, jobMs / 1e3, cs.map(_.cpuNs).sum / 1e9, counts)
    }
  }

  /** Spans as JSON lines, for the trace file written when the run ends. */
  def toJson(run: Int, spans: Seq[Span], counters: Map[Int, Counters]): Seq[String] =
    spans.sortBy(_.startNs).map { s =>
      val c = counters.getOrElse(s.id, new Counters)
      s"""{"run":$run,"span":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""layer":"${s.layer}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
        s""""cpu_ns":${c.cpuNs},"rows_scanned":${c.rowsScanned},""" +
        s""""shuffle_write_bytes":${c.shuffleWrite},"output_bytes":${c.outputBytes}}"""
    }
}
