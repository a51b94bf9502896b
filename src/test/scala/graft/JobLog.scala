package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import scala.collection.mutable.ArrayBuffer

/** Records the description of every Spark job as it starts, from the time
  * it is created until [[close]]. Listener events arrive asynchronously, so
  * [[descriptions]] drains the bus first.
  */
final class JobLog(sc: SparkContext) extends SparkListener {
  private val started = ArrayBuffer[Option[String]]()
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started += Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
  }

  def descriptions: Seq[Option[String]] = {
    org.apache.spark.graftshim.ListenerBridge.drain(sc)
    synchronized(started.toList)
  }

  def count: Int = descriptions.size

  def close(): Unit = sc.removeSparkListener(this)
}
