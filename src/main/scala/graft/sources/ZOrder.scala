package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) clustering for multi-dimensional data skipping —
  * the storage-layout op behind Delta/Iceberg's OPTIMIZE ZORDER BY: rows
  * close in the (a, b) plane land close in the file order, so a box
  * predicate on EITHER or both columns touches few files/row groups
  * instead of all of them. A single-column sort gives perfect locality on
  * one axis and none on the other; the Morton interleave splits the
  * locality budget across both.
  *
  * Scale shape: the layout write is ONE range-partitioned shuffle on the
  * z-value plus a per-partition sort — the same cost as any global sort,
  * paid once at maintenance time (single-writer, rename-style overwrite,
  * like every index mutation in this repo). Reads are plain parquet scans:
  * the win arrives through engine-native pruning (parquet row-group
  * min/max skipping under pushed predicates; file-level stats pruning in
  * catalog engines) with NO reader-side code — content is byte-identical
  * to the unclustered table, which is what the oracle row checks.
  *
  * The z-value quantizes each column to `bits` buckets via min/max range
  * scaling (two driver scalars — bounded metadata, the house convention),
  * then interleaves the bucket bits a-low-bit-first. Bucket WIDTH uses
  * integer division so timestamp-scale magnitudes can't overflow the
  * multiply formulation.
  */
object ZOrder {

  /** Morton interleave of two pre-bucketed values in [0, 2^bits): result
    * bit 2k is a's bit k, bit 2k+1 is b's bit k. Plan-time unrolled
    * shift/mask/or chain — codegen-friendly, no UDF.
    */
  def interleave(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    interleaveN(Seq(a, b), bits)
  }

  /** Morton interleave of N pre-bucketed values in [0, 2^bits): result
    * bit N·k+i is column i's bit k (column 0 lowest — the N=2 layout is
    * exactly [[interleave]]'s). N·bits must fit a positive long. The
    * (lat, lon, time) three-axis corpus slice is the standard use.
    */
  def interleaveN(cols: Seq[Column], bits: Int): Column = {
    require(cols.size >= 2, s"need >= 2 axes, got ${cols.size}")
    require(bits >= 1 && cols.size * bits <= 62,
      s"${cols.size} axes x $bits bits exceeds a long")
    val n = cols.size
    (0 until bits).flatMap { k =>
      cols.zipWithIndex.map { case (c, i) =>
        shiftleft(shiftright(c, k).bitwiseAND(lit(1L)), n * k + i)
      }
    }.reduce(_ bitwiseOR _)
  }

  /** Bucket a long column into [0, 2^bits) by min/max range scaling that
    * FILLS the bit width: bucket = floor((v-lo)/(hi-lo+1) · 2^bits). Both
    * axes must occupy the full `bits` range or the interleave is not
    * balanced — an axis whose raw span needs fewer bits would leave its
    * high interleave positions zero and the OTHER axis would dominate the
    * sort order (yielding a plain single-column sort, no 2-D locality).
    * The scale runs in doubles; spans under 2^53 (any real axis, micros
    * included) stay exact enough for bucketing, and the result is clamped
    * into range against boundary rounding.
    */
  def bucketize(v: Column, lo: Long, hi: Long, bits: Int): Column = {
    require(hi >= lo, s"bucketize: hi ($hi) < lo ($lo)")
    val span = (hi - lo + 1).toDouble
    least(lit((1L << bits) - 1),
      greatest(lit(0L),
        floor((v - lit(lo)).cast("double") / lit(span)
          * lit((1L << bits).toDouble)).cast("long")))
  }

  /** Write `df` z-ordered on two long-expressible columns. `exprA`/`exprB`
    * map the frame to the two long axes (pass `col(...)` for plain
    * columns, `unix_micros(col(...).cast("timestamp"))` for event time).
    * The layout lands as `nFiles` range-partitioned, internally z-sorted
    * parquet files under `path`; the z column itself is NOT stored (it is
    * derivable — storing it would change the schema the oracle compares).
    */
  def writeZOrdered(df: DataFrame, path: String, exprA: Column,
      exprB: Column, bits: Int = 16, nFiles: Int = 32): Unit =
    zOrderedWriter(df, exprA, exprB, bits, nFiles)
      .mode("overwrite").parquet(path)

  /** Append a batch to an existing z-ordered table WITHOUT touching its
    * files — O(batch), the streaming-ingest write shape. The batch is
    * z-sorted within its own file(s) against ITS OWN min/max (z-values
    * are derived, never stored, so differing bucket bounds per append
    * cannot affect content — only each file set's internal locality).
    * Box queries stay exactly correct; locality degrades as appends
    * accumulate, and [[compactZOrdered]] restores it. The files publish
    * through [[IndexCommit]] `Add`: a crash leaves each one old or new.
    */
  def appendZOrdered(df: DataFrame, path: String, exprA: Column,
      exprB: Column, bits: Int = 16, nFiles: Int = 4): Unit =
    IndexCommit.commit(df.sparkSession, Seq(IndexCommit.Output(
      path.stripSuffix("/"), IndexCommit.Add,
      zOrderedWriter(df, exprA, exprB, bits, nFiles)
        .mode("overwrite").parquet(_))))

  /** Re-cluster the whole table (original + appends) into one fresh
    * Morton layout — the LSM-style maintenance counterpart of
    * [[appendZOrdered]], committed as an [[IndexCommit]] `Replace` like
    * every compactor in `ops.Maintenance` (readers see old or new layout,
    * never a mix). Content-identical; single-writer window.
    */
  def compactZOrdered(spark: org.apache.spark.sql.SparkSession,
      path: String, exprA: Column, exprB: Column, bits: Int = 16,
      nFiles: Int = 32): Unit = {
    val base = path.stripSuffix("/")
    IndexCommit.commit(spark, Seq(IndexCommit.Output(base, IndexCommit.Replace,
      writeZOrdered(spark.read.parquet(base), _, exprA, exprB, bits, nFiles))))
  }

  /** `df` Morton-clustered IN-ROW but not yet written: range-partitioned
    * and sorted on the (derived, then dropped) z-value. Feed it to any
    * writer that preserves the frame's partitioning — e.g.
    * `Versioned.append(ZOrder.clustered(...), table)` commits z-ordered
    * files INTO a versioned table, so the manifest's per-file stats get
    * tight 2-D bounding boxes and box probes prune through
    * `Versioned.indexedRead` with time travel intact.
    */
  def clustered(df: DataFrame, exprA: Column, exprB: Column,
      bits: Int = 16, nFiles: Int = 32): DataFrame =
    clusteredN(df, Seq(exprA, exprB), bits, nFiles)

  /** N-axis [[clustered]]: one aggregation collects every axis's min/max
    * (2N driver scalars — bounded metadata), each axis bucketizes to its
    * full bit width, and the N-way Morton value drives the same
    * range-partition + in-file sort. N·bits must fit a long (e.g. three
    * axes at <=20 bits).
    */
  def clusteredN(df: DataFrame, exprs: Seq[Column], bits: Int = 16,
      nFiles: Int = 32): DataFrame = {
    require(exprs.size >= 2, s"need >= 2 axes, got ${exprs.size}")
    val aggs = exprs.flatMap(e => Seq(min(e), max(e)))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    exprs.indices.foreach { i =>
      require(!r.isNullAt(2 * i),
        s"ZOrder.clusteredN: empty input or null axis ${i + 1} values")
    }
    val z = interleaveN(
      exprs.zipWithIndex.map { case (e, i) =>
        bucketize(e, r.getLong(2 * i), r.getLong(2 * i + 1), bits)
      }, bits)
    df.withColumn("_z", z)
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
  }

  private def zOrderedWriter(df: DataFrame, exprA: Column, exprB: Column,
      bits: Int, nFiles: Int) =
    clustered(df, exprA, exprB, bits, nFiles).write
}
