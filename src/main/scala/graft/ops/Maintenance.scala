package graft.ops

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
  * a quiet window.
  *
  * Single-writer contract, like every index mutation here: run compaction
  * while no stream is appending to the same index. The swap is
  * rename-based (write to a temp sibling, then two renames), so readers
  * see either the old or the new layout; a crash between the renames
  * leaves the old data intact under `<dir>__old` for manual recovery —
  * nothing is deleted until the new layout is in place.
  */
object Maintenance {

  /** Rewrite `dir` (optionally hive-partitioned by `partitionCols`) into a
    * compact layout: rows hash-route by the partition columns so each
    * partition directory lands as ONE file (or `numFiles` files for the
    * unpartitioned case). Content-identical — row set, schema, and
    * partition values are preserved byte-for-byte; only file boundaries
    * change.
    */
  def compactParquetDir(spark: SparkSession, dir: String,
      partitionCols: Seq[String], numFiles: Int = 32): Unit = {
    val base = dir.stripSuffix("/")
    val src = spark.read.parquet(base)
    val routed =
      if (partitionCols.isEmpty) src.repartition(numFiles)
      else src.repartition(partitionCols.map(col): _*)
    val tmp = s"${base}__compact_tmp"
    val w = routed.write.mode("overwrite")
    (if (partitionCols.isEmpty) w else w.partitionBy(partitionCols: _*))
      .parquet(tmp)
    swapDir(spark, base, tmp)
  }

  /** Rename-based directory swap: stage `target` aside, move `tmp` into
    * its place, then delete the staged copy. Readers see the old or the
    * new directory, never a mix; a crash between the renames leaves the
    * old data under `<target>__old`.
    */
  private[graft] def swapParquetDir(spark: SparkSession, target: String,
      tmp: String): Unit = swapDir(spark, target, tmp)

  private[ops] def swapDir(spark: SparkSession, target: String,
      tmp: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(target)
    val t = new org.apache.hadoop.fs.Path(tmp)
    val old = new org.apache.hadoop.fs.Path(s"${target}__old")
    val fs = p.getFileSystem(conf)
    if (fs.exists(old)) fs.delete(old, true)
    require(fs.rename(p, old), s"could not stage $target aside")
    require(fs.rename(t, p), s"could not move new layout into $target")
    fs.delete(old, true)
  }

  /** Compact a dedup index's signature table (flat layout). The pinned
    * meta and the streaming high-watermark are untouched: replay
    * semantics and signature params survive compaction.
    */
  def compactDedupIndex(spark: SparkSession, indexPath: String,
      numFiles: Int = 32): Unit =
    compactParquetDir(spark, s"${indexPath.stripSuffix("/")}/signatures",
      Seq.empty, numFiles)

  /** Compact an IVF ANN index's vector table: one file per label
    * partition, so a probe's DPP-pruned scan opens exactly as many files
    * as clusters probed. Centroids and the high-watermark are untouched.
    */
  def compactAnnIndex(spark: SparkSession, dbPath: String): Unit =
    compactParquetDir(spark, s"${dbPath.stripSuffix("/")}/vectors",
      Seq("label"))
}
