package graft

import java.util.Properties
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.util.Try

/** The Spark jobs a block of driver code submits, as the local properties
  * each job started with. A marker job before the block and one after it
  * bound the window; waiting for the closing marker's start event drains
  * the listener queue (events arrive in submission order), so the list is
  * complete when [[JobLog.apply]] returns. */
object JobLog {

  private val MarkerProperty = "graft.test.joblog"

  def apply[T](spark: SparkSession)(body: => T): (Try[T], Seq[Properties]) = {
    val sc = spark.sparkContext
    val started = new LinkedBlockingQueue[Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.put(Option(e.properties).getOrElse(new Properties()))
    }
    def marker(id: String): Unit = {
      sc.setLocalProperty(MarkerProperty, id)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(MarkerProperty, null)
    }
    def awaitMarker(id: String): Seq[Properties] = {
      val seen = Seq.newBuilder[Properties]
      var p = started.poll(60, TimeUnit.SECONDS)
      while (p != null && p.getProperty(MarkerProperty) != id) {
        seen += p
        p = started.poll(60, TimeUnit.SECONDS)
      }
      assert(p != null, s"marker job $id never reached the listener")
      seen.result()
    }
    val id = java.util.UUID.randomUUID().toString
    sc.addSparkListener(listener)
    try {
      marker(s"$id-start")
      awaitMarker(s"$id-start")
      val result = Try(body)
      marker(s"$id-end")
      (result, awaitMarker(s"$id-end"))
    } finally sc.removeSparkListener(listener)
  }
}
