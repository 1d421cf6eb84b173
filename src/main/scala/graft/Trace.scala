package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** What Spark did while a body ran: wall time, jobs started, shuffle bytes
  * written and input bytes read, from one listener on the session (the
  * scale runner's counters; `close()` removes the listener). The listener
  * bus is drained before and after the body, so a run's counters hold
  * every task of that run and none of the one before.
  */
final class Trace(spark: SparkSession) extends AutoCloseable {
  private val jobs, shuffleWrite, input = new AtomicLong
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) {
        shuffleWrite.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
        input.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
      }
  }
  spark.sparkContext.addSparkListener(listener)

  /** One timed run of `body`. A `Long` result is its row count; anything
    * else reports none. */
  def apply(body: => Any): Trace.Sample = {
    ListenerDrain(spark.sparkContext)
    val (j0, w0, i0) = (jobs.get, shuffleWrite.get, input.get)
    val t0 = System.nanoTime()
    val rows = body match { case n: Long => n; case _ => -1L }
    val dt = (System.nanoTime() - t0) / 1e9
    ListenerDrain(spark.sparkContext)
    Trace.Sample(dt, rows, jobs.get - j0, (shuffleWrite.get - w0) / 1e6,
      (input.get - i0) / 1e6)
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(listener)
}

object Trace {
  final case class Sample(s: Double, rows: Long, jobs: Long,
      shuffleWriteMB: Double, inputMB: Double) {
    override def toString: String =
      f"$s%.2f s" + (if (rows >= 0) s" rows=$rows" else "") +
        f" jobs=$jobs shufW=$shuffleWriteMB%.3fMB in=$inputMB%.3fMB"
  }
}
