package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** The benchmark's own Spark listener: job intervals and per-task metrics,
  * read back over windows opened with [[mark]]. Windows may nest (a layer
  * replay inside a traced crawl), so the probe keeps the raw events and a
  * window is an index range over them.
  */
final class Probe(sc: SparkContext, cores: Int) extends SparkListener {
  import Probe.{Mark, Task}

  private val openJobs = scala.collection.mutable.Map[Int, Long]()
  private val jobStarts = ArrayBuffer[Long]()
  private val jobs = ArrayBuffer[(Long, Long)]() // (start, end) epoch ms
  private val tasks = ArrayBuffer[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    openJobs(e.jobId) = e.time
    jobStarts += e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(m.executorRunTime, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory)
  }

  // events reach a listener asynchronously: drain the bus before reading
  def mark(): Mark = {
    org.apache.spark.graftshim.ListenerBridge.drain(sc)
    synchronized(Mark(System.currentTimeMillis(), tasks.size))
  }

  /** Everything that happened since `m`. */
  def since(m: Mark): Usage = {
    org.apache.spark.graftshim.ListenerBridge.drain(sc)
    val t1 = System.currentTimeMillis()
    synchronized {
      val ts = tasks.slice(m.task0, tasks.size)
      val clipped = jobs.iterator.map { case (s, e) =>
        (math.max(s, m.t0), math.min(e, t1)) }.filter(x => x._2 > x._1)
        .toSeq.sortBy(_._1)
      // union of job intervals: time with at least one job running
      var busy = 0L
      var curS = -1L
      var curE = -1L
      clipped.foreach { case (s, e) =>
        if (s > curE) { busy += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      busy += curE - curS
      Usage(
        wallMs = t1 - m.t0,
        jobs = jobStarts.count(t => t >= m.t0 && t <= t1),
        jobBusyMs = busy,
        tasks = ts.size,
        taskMs = ts.map(_.runMs).sum,
        gcMs = ts.map(_.gcMs).sum,
        shuffleRead = ts.map(_.shuffleRead).sum,
        shuffleWrite = ts.map(_.shuffleWrite).sum,
        spill = ts.map(_.spill).sum,
        peakMem = if (ts.isEmpty) 0L else ts.map(_.peakMem).max,
        cores = cores)
    }
  }
}

object Probe {
  private final case class Task(runMs: Long, gcMs: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, peakMem: Long)
  final case class Mark(t0: Long, task0: Int)
}

final case class Usage(wallMs: Long, jobs: Int, jobBusyMs: Long, tasks: Int,
    taskMs: Long, gcMs: Long, shuffleRead: Long, shuffleWrite: Long,
    spill: Long, peakMem: Long, cores: Int) {
  def driverGapFrac: Double =
    if (wallMs <= 0) 0.0 else 1.0 - jobBusyMs.toDouble / wallMs
  def slotBusyFrac: Double =
    if (wallMs <= 0) 0.0 else taskMs.toDouble / (wallMs.toDouble * cores)
}
