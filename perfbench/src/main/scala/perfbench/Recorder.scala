package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Counters of one layer (or of a whole op): what Spark did on its behalf. */
final case class Counters(jobs: Long = 0, tasks: Long = 0, taskMs: Long = 0,
    shuffleWrite: Long = 0, spill: Long = 0, inputRecords: Long = 0,
    outputBytes: Long = 0) {
  def +(o: Counters): Counters = Counters(jobs + o.jobs, tasks + o.tasks,
    taskMs + o.taskMs, shuffleWrite + o.shuffleWrite, spill + o.spill,
    inputRecords + o.inputRecords, outputBytes + o.outputBytes)
  def -(o: Counters): Counters = Counters(jobs - o.jobs, tasks - o.tasks,
    taskMs - o.taskMs, shuffleWrite - o.shuffleWrite, spill - o.spill,
    inputRecords - o.inputRecords, outputBytes - o.outputBytes)
}

/** The benchmark's one `SparkListener`. It attributes every job, task and
  * byte to the Spark job group the job ran under (a layer name while the
  * traced run is inside that layer, "" otherwise), keeps each job's wall
  * span for the driver-gap figure, and reads the JVM's GC time.
  */
final class Recorder(sc: SparkContext) extends SparkListener {
  private val byGroup = mutable.Map.empty[String, Counters]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val spans = mutable.ArrayBuffer.empty[(Long, Long)]

  private def bump(g: String, c: Counters): Unit = synchronized {
    byGroup(g) = byGroup.getOrElse(g, Counters()) + c
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageGroup(_) = g)
    bump(g, Counters(jobs = 1))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => spans += (t0 -> e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val g = synchronized(stageGroup.getOrElse(e.stageId, ""))
      bump(g, Counters(tasks = 1, taskMs = m.executorRunTime,
        shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
        spill = m.diskBytesSpilled,
        inputRecords = m.inputMetrics.recordsRead,
        outputBytes = m.outputMetrics.bytesWritten))
    }
  }

  /** Wait until every event posted so far has reached this listener. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def snapshot(): Map[String, Counters] = { drain(); synchronized(byGroup.toMap) }

  def total(): Counters = snapshot().values.foldLeft(Counters())(_ + _)

  /** Milliseconds of `[from, to]` covered by at least one job. */
  def busyMs(from: Long, to: Long): Long = {
    drain()
    val clipped = synchronized(spans.toList)
      .map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a >= end) { busy += b - a; end = b }
      else if (b > end) { busy += b - end; end = b }
    }
    busy
  }

  // ---- JVM side

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum
}
