package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.scalatest.funsuite.AnyFunSuite

/** [[Par.widen]]'s contract: a narrow input comes back as wide as the
  * session, a wide one comes back untouched. [[Par.jobs]]'s: the first
  * failure cancels the siblings' jobs and carries their errors. */
class ParSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark

  private def exchanges(plan: SparkPlan): Seq[SparkPlan] =
    collect(plan) { case e: ShuffleExchangeLike => e }

  test("widen: a one-partition input comes back with defaultParallelism partitions") {
    val n = spark.sparkContext.defaultParallelism
    assert(n > 1)
    val narrow = spark.range(0, 1000).coalesce(1)
    assert(narrow.rdd.getNumPartitions == 1)
    val wide = Par.widen(narrow.toDF())
    assert(wide.rdd.getNumPartitions == n)
    assert(exchanges(wide.queryExecution.executedPlan).size == 1)
    // round-robin only moves rows
    assert(wide.collect().map(_.getLong(0)).sorted.sameElements(0L until 1000L))
  }

  test("widen: an input already that wide gets no added exchange") {
    val n = spark.sparkContext.defaultParallelism
    val df = spark.range(0, 1000, 1, n).toDF()
    assert(exchanges(df.queryExecution.executedPlan).isEmpty)
    val widened = Par.widen(df)
    assert(widened eq df)
    assert(exchanges(widened.queryExecution.executedPlan).isEmpty)
    assert(widened.rdd.getNumPartitions == n)
  }

  test("jobs: a fast failure cancels a sibling's long job and keeps its error") {
    val sc = spark.sparkContext
    val boom = new IllegalStateException("boom")
    val t0 = System.nanoTime()
    val thrown = intercept[IllegalStateException] {
      Par.jobs(
        () => {
          // fail only once the sibling's job is running
          val deadline = System.nanoTime() + 30e9.toLong
          while (sc.statusTracker.getActiveJobIds().isEmpty && System.nanoTime() < deadline)
            Thread.sleep(10)
          throw boom
        },
        () => sc.parallelize(0 until 4, 4).foreach { _ =>
          // a minute-long task that ends early once its job is cancelled
          val ctx = org.apache.spark.TaskContext.get()
          val end = System.nanoTime() + 60e9.toLong
          while (!ctx.isInterrupted() && System.nanoTime() < end) Thread.sleep(20)
        })
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    assert(thrown eq boom)
    assert(seconds < 30, s"Par.jobs took $seconds s")
    assert(thrown.getSuppressed.length == 1)
    assert(thrown.getSuppressed.head.isInstanceOf[org.apache.spark.SparkException])
    // the cancelled tasks end early and release their cores
    def running = sc.statusTracker.getExecutorInfos.map(_.numRunningTasks).sum
    val deadline = System.nanoTime() + 30e9.toLong
    while (running > 0 && System.nanoTime() < deadline) Thread.sleep(20)
    assert(running == 0)
  }
}
