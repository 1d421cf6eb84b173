package graft.ops

import graft.sources.IndexCommit
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Compaction for the append-accumulating persisted indexes. Every
  * streaming sink in this engine appends one parquet file set per
  * micro-batch (`appendToDedupIndex`, `appendToAnnIndex`,
  * `appendToPqIndex`), which is the right WRITE shape — O(batch), no
  * rewrite of history — but after 10^4 triggers a probe pays 10^4 file
  * opens before it reads a row. Compaction is the standard counterpart
  * maintenance pass (every LSM/lakehouse has one): rewrite the
  * accumulated directory into few large files, content-identical, during
  * a quiet window. The rewrite is an [[IndexCommit]] `Replace` (readers
  * see the old or the new layout, and a crash leaves one of them), under
  * its single-writer contract: no stream appends to the index meanwhile.
  */
object Maintenance {

  /** Rewrite `dir` (optionally hive-partitioned by `partitionCols`) into a
    * compact layout: rows hash-route by the partition columns so each
    * partition directory lands as ONE file (or `numFiles` files for the
    * unpartitioned case). Content-identical — only file boundaries
    * change. With `pin`, files of a stream batch that never pinned are
    * dropped first, so compaction cannot fold them in under a name its
    * replay would not find.
    */
  private def compact(spark: SparkSession, dir: String,
      partitionCols: Seq[String], numFiles: Int, pin: Option[String]): Unit = {
    val base = dir.stripSuffix("/")
    IndexCommit.recover(spark.sparkContext.hadoopConfiguration, Seq(base), pin)
    IndexCommit.commit(spark, Seq(IndexCommit.Output(base, IndexCommit.Replace,
      { stage =>
        val src = spark.read.parquet(base)
        val routed =
          if (partitionCols.isEmpty) src.repartition(numFiles)
          else src.repartition(partitionCols.map(col): _*)
        val w = routed.write.mode("overwrite")
        (if (partitionCols.isEmpty) w else w.partitionBy(partitionCols: _*))
          .parquet(stage)
      })))
  }

  /** Compact a dedup index's signature table (flat layout). The pin and
    * its stream high-watermark are untouched: replay semantics and
    * signature params survive compaction.
    */
  def compactDedupIndex(spark: SparkSession, indexPath: String,
      numFiles: Int = 32): Unit = {
    val base = indexPath.stripSuffix("/")
    compact(spark, s"$base/signatures", Seq.empty, numFiles, Some(s"$base/meta"))
  }

  /** Compact an IVF ANN index's vector table: one file per label
    * partition, so a probe's DPP-pruned scan opens exactly as many files
    * as clusters probed. Centroids and the pin are untouched.
    */
  def compactAnnIndex(spark: SparkSession, dbPath: String): Unit = {
    val base = dbPath.stripSuffix("/")
    compact(spark, s"$base/vectors", Seq("label"), 32, Some(s"$base/meta"))
  }
}
