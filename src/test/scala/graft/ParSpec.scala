package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.scalatest.funsuite.AnyFunSuite

/** [[Par.widen]]'s contract: a narrow input comes back as wide as the
  * session, a wide one comes back untouched. */
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
}
