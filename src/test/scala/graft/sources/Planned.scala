package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec

/** What the planner admits for a query over an indexed table. */
object Planned {

  /** Files the PLANNER admitted for this query: the scan's own FileIndex,
    * listed with the partition and data filters the scan extracted.
    */
  def plannedFiles(df: DataFrame): Int = {
    val scan = df.queryExecution.sparkPlan.collectFirst {
      case f: FileSourceScanExec => f
    }.getOrElse(throw new AssertionError(
      s"no FileSourceScanExec in plan:\n${df.queryExecution.sparkPlan}"))
    scan.relation.location
      .listFiles(scan.partitionFilters, scan.dataFilters)
      .map(_.files.size).sum
  }
}
