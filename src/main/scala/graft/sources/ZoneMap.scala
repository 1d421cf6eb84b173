package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generalized per-file min/max (zone-map) sidecar for RANGE predicates —
  * the most common data-skipping primitive in lakehouse engines (public
  * prior art: Netezza zone maps; ORC/Parquet footer stats; Delta/Iceberg
  * file-level column stats). [[BloomIndex]] buys equality locality,
  * [[ZOrder]] buys 2-D box locality; this buys 1-D range locality on any
  * set of numeric or string columns: a `BETWEEN` filter opens only the
  * files whose [min, max] interval intersects the filter's interval.
  * (The reference's analogue is its sorted k-mer table enabling the
  * merge skip, `src/sra/comparekmertables.cpp:473-582` — sort so that a
  * range touches a contiguous, identifiable slice of the storage.)
  *
  * Everything is plain SQL expressions — no UDF:
  *   - build: rows are RANGE-partitioned on the leading stat column
  *     (disjoint per-file ranges — without clustering, every file spans
  *     the whole domain and a zone map prunes nothing), then ONE
  *     map-side-combined aggregation computes min/max for ALL stat
  *     columns in a single scan (2·S algebraic partials per file), and a
  *     row-local explode lays the state out as (f, c, ci, lo, hi) rows.
  *     Stats are stored as DOUBLE (exact for longs up to 2^53 — the
  *     driver corpus keys — and for all floats; a wider-than-life bound
  *     would still only cost I/O, never rows); non-numeric columns cast
  *     to null stats, which never prune — safe, just not skippable. `ci`
  *     pins the CALLER'S column order, so appends keep clustering on the
  *     same leading column the build chose. The sidecar lands via
  *     rename-swap: stats and column set commit in ONE atomic move.
  *   - read: through [[IndexedTable.table]] (or `partitionedTable`): a
  *     plain `.filter` or SQL WHERE, whose pushed predicates
  *     [[SkipIndexBase]] turns into per-file admission at plan time — a
  *     file is a candidate unless `max < lo || min > hi` (null stats —
  *     all-null or uncovered column — never prune). The sidecar is
  *     O(files × stat cols); a plan reads it and the live file listing
  *     ONCE (driver state bounded by the file count — the classic
  *     index-read contract). The full predicate still runs over the
  *     admitted files and pushes into the parquet scan — false positives
  *     cost I/O, never correctness.
  *
  * Writes: a [[build]] publishes its files and then their stats rows
  * through [[IndexCommit]] `Replace`, an [[append]] through `Add`, data
  * first — the write protocol of every persisted index — and the append's
  * stream face pins a replay watermark beside the table. The window
  * between the two publishes is closed on the READ side exactly like
  * [[BloomIndex]]: any table file the sidecar does not cover is an
  * unconditional candidate, and a missing sidecar altogether degrades to
  * a full-file-list scan — extra I/O, never a missed row.
  * Single-writer, like the other persisted indexes.
  */
object ZoneMap {

  private def sidecarPath(table: String) = table.stripSuffix("/") + "_zonemap"

  /** The one-row pin beside a streamed table: its replay watermark. */
  private def pinPath(table: String) = table.stripSuffix("/") + "_meta"

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Recursive data-file listing under `table`, hidden paths skipped at
    * EVERY segment (Spark's InMemoryFileIndex rule — `=`-bearing
    * partition directories exempt), spelled via `Path.toUri` — the
    * `file:///…` form `input_file_name()`/`inputFiles` use (the
    * [[Versioned]] stagedFiles convention), so sidecar keys and live
    * sets always agree. Replaces the old
    * `spark.read.parquet(table).inputFiles`, which paid a
    * schema-inference footer read (and partition discovery) per probe.
    */
  private[sources] def listDataFiles(spark: SparkSession,
      table: String): Seq[String] = {
    val p = new Path(table)
    val fs = fsOf(spark, table)
    if (!fs.exists(p)) return Seq.empty
    def hidden(n: String): Boolean =
      n.startsWith(".") || (n.startsWith("_") && !n.contains("="))
    val rootPath = fs.makeQualified(p).toUri.getPath
    val it = fs.listFiles(p, true)
    val out = Seq.newBuilder[String]
    while (it.hasNext) {
      val st = it.next()
      val f = st.getPath
      var hid = hidden(f.getName)
      var d = f.getParent
      while (!hid && d != null && d.toUri.getPath != rootPath) {
        if (hidden(d.getName)) hid = true
        d = d.getParent
      }
      if (!hid) out += f.toUri.toString
    }
    out.result().sorted
  }

  /** Per-(file, column) min/max/nullCount rows for `files` over
    * `statCols` — ONE scan: a single groupBy(f) carrying the algebraic
    * partials (2 bounds + a null count per column, plus one row count),
    * then a row-local explode into (f, c, ci, lo, hi, slo, shi, nulls,
    * rows). `ci` records the caller's column order (the pinned
    * clustering order); nulls/rows back IS NULL / IS NOT NULL pruning
    * (the Delta/Iceberg nullCount file stat).
    */
  private[sources] def statsOf(spark: SparkSession, files: Seq[String],
      statCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.StringType
    val src = spark.read.parquet(files: _*)
    val isStr = statCols.map(c => src.schema(c).dataType == StringType)
    val base = src
      .select(input_file_name().as("f") +: statCols.zipWithIndex.map {
        case (c, i) =>
          (if (isStr(i)) col(c) else col(c).cast("double")).as(s"v$i")
      }: _*)
    val aggs = statCols.indices.flatMap(i =>
      Seq(min(col(s"v$i")).as(s"lo$i"), max(col(s"v$i")).as(s"hi$i"),
        sum(col(s"v$i").isNull.cast("long")).as(s"nu$i"))) :+
      count(lit(1)).as("rows")
    // string columns carry LEXICOGRAPHIC bounds in (slo, shi), numeric
    // bounds ride (lo, hi); the unused pair is null, which never prunes
    base.groupBy(col("f")).agg(aggs.head, aggs.tail: _*)
      .select(col("f"), col("rows"), explode(array(statCols.zipWithIndex.map {
        case (c, i) =>
          val (lo, hi) =
            if (isStr(i)) (lit(null).cast("double"), lit(null).cast("double"))
            else (col(s"lo$i"), col(s"hi$i"))
          val (slo, shi) =
            if (isStr(i)) (col(s"lo$i"), col(s"hi$i"))
            else (lit(null).cast("string"), lit(null).cast("string"))
          struct(lit(c).as("c"), lit(i).as("ci"), lo.as("lo"), hi.as("hi"),
            slo.as("slo"), shi.as("shi"), col(s"nu$i").as("nulls"))
      }: _*)).as("s"))
      .select(col("f"), col("s.c").as("c"), col("s.ci").as("ci"),
        col("s.lo").as("lo"), col("s.hi").as("hi"),
        col("s.slo").as("slo"), col("s.shi").as("shi"),
        col("s.nulls").as("nulls"), col("rows"))
  }

  /** Per-(file, column) stat rows for `files` over `statCols` — the
    * sidecar's content, computed from the parquet FOOTERS on the driver
    * when provably exact (the [[ManifestIO.footerStats]] contract —
    * Iceberg's commit-time design; guide §1.2: the old path launched a
    * full aggregation JOB over freshly written kilobyte files), falling
    * back to the one-scan [[statsOf]] aggregation job otherwise. A stat
    * column the footer pass cannot cover at the job path's kind (e.g. a
    * timestamp, which the job casts to double) forces the fallback, so
    * the two paths always agree on content.
    */
  private def statRows(spark: SparkSession, files: Seq[String],
      statCols: Seq[String]): Seq[ManifestIO.SidecarRow] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fast: Option[Seq[ManifestIO.SidecarRow]] =
      ManifestIO.footerStats(conf, files).flatMap { perFile =>
        val rows = Seq.newBuilder[ManifestIO.SidecarRow]
        val ok = perFile.forall { fstat =>
          statCols.zipWithIndex.forall { case (c, i) =>
            fstat.cols.find(_.name == c) match {
              case Some(cs) =>
                rows += ManifestIO.SidecarRow(fstat.file, c, i,
                  cs.lo, cs.hi, cs.slo, cs.shi,
                  Some(cs.nulls), Some(fstat.rows))
                true
              case None => false // footer-skipped column: job path decides
            }
          }
        }
        if (ok) Some(rows.result()) else None
      }
    fast.getOrElse {
      statsOf(spark, files, statCols).collect().toSeq.map { r =>
        ManifestIO.SidecarRow(r.getString(0), r.getString(1), r.getInt(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)),
          if (r.isNullAt(5)) None else Some(r.getString(5)),
          if (r.isNullAt(6)) None else Some(r.getString(6)),
          if (r.isNullAt(7)) None else Some(r.getLong(7)),
          if (r.isNullAt(8)) None else Some(r.getLong(8)))
      }
    }
  }

  /** Stage the [[statRows]] of the live data `files` over `cols` as one
    * driver-written part file: the sidecar is O(files × stat cols) of
    * metadata.
    */
  private def stageStats(spark: SparkSession, cols: Seq[String])(
      files: Seq[String], stage: String): Unit = {
    fsOf(spark, stage).mkdirs(new Path(stage))
    ManifestIO.writeSidecar(spark.sparkContext.hadoopConfiguration,
      s"$stage/part-${java.util.UUID.randomUUID}-zm.parquet",
      statRows(spark, files, cols))
  }

  /** The pinned stat columns in their ORIGINAL (clustering) order; none
    * before the first commit.
    */
  private def pinnedCols(spark: SparkSession, tablePath: String): Seq[String] =
    ManifestIO.readSidecar(spark.sparkContext.hadoopConfiguration,
        sidecarPath(tablePath))
      .map(r => (r.ci, r.c)).distinct.sortBy(_._1).map(_._2)

  /** Rewrite `df` range-clustered on `statCols.head` into `nFiles` files
    * at `tablePath` and build the per-file min/max sidecar over all
    * `statCols` (numeric columns), each a `Replace` ([[commitIndexed]]).
    * Last, like every rebuild's pin, the stream watermark resets.
    */
  def build(df: DataFrame, statCols: Seq[String], tablePath: String,
      nFiles: Int = 16): Unit = {
    require(statCols.nonEmpty, "need at least one stat column")
    val spark = df.sparkSession
    commitIndexed(spark, tablePath, sidecarPath(tablePath), IndexCommit.Replace)(
      df.repartitionByRange(nFiles, col(statCols.head))
        .write.mode("overwrite").parquet(_))(stageStats(spark, statCols))
    fsOf(spark, tablePath).delete(new Path(pinPath(tablePath)), true)
  }

  /** Build the sidecar over an EXISTING table layout WITHOUT rewriting
    * the data — the "index what's already there" path: stats reflect
    * whatever clustering the layout has (hash, range, Z-order, none).
    * Pair with [[graft.sources.ZOrder]]: a Morton-clustered layout gives
    * every file a tight bounding box in BOTH dims, so a 2-D box filter
    * through [[IndexedTable.table]] prunes like the classic
    * cluster-plus-stats lakehouse pairing.
    */
  def buildStatsOnly(spark: SparkSession, tablePath: String,
      statCols: Seq[String]): Unit = {
    require(statCols.nonEmpty, "need at least one stat column")
    val files = listDataFiles(spark, tablePath)
    IndexCommit.commit(spark, Seq(IndexCommit.Output(sidecarPath(tablePath),
      IndexCommit.Replace, stageStats(spark, statCols)(files, _))))
  }

  /** Recompute the sidecar over the table's LIVE files at the PINNED
    * column set — the maintenance pass for files no stats row covers (an
    * append without a batch that crashed after its data published leaves
    * them; they are read-safe but never pruned). Replace-committed like
    * every sidecar build; reads before/after are identical by
    * construction.
    */
  def rebuildStats(spark: SparkSession, tablePath: String): Unit =
    buildStatsOnly(spark, tablePath, pinnedCols(spark, tablePath))

  /** Append a batch: new range-clustered files plus their stats rows at
    * the PINNED stat-column set and ORDER (read from the sidecar — an
    * append can never fork the column set or switch the clustering
    * column); on a table's first commit `statCols` pins them. Per-file
    * ranges of different commits may overlap (each commit clusters only
    * its own rows); reads stay exact because stats are per-file.
    *
    * The files, then their stats rows, publish through [[IndexCommit]]
    * `Add` ([[commitIndexed]]). Run inside [[IndexCommit.inBatch]] — the
    * stream face, `EventsStream.zonemapSink` — the files are named
    * `b<id>-…` and the stats commit pins the batch id in the one-row
    * `<table>_meta` beside the table: a batch at or below that watermark
    * is a replay and returns, and the files of a batch that never pinned
    * leave the table and the sidecar before the next append runs, so a
    * replay lands its batch once and leaves no stale stats row.
    */
  def append(df: DataFrame, tablePath: String, nFiles: Int = 4,
      statCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val pin = pinPath(tablePath)
    // the pin first: its watermark decides which batch files stay
    IndexCommit.recover(conf, Seq(pin, tablePath, sidecarPath(tablePath)),
      IndexCommit.streamBatch.map(_ => pin))
    if (IndexCommit.streamBatch.exists(_ <= IndexCommit.watermark(conf, pin)))
      return
    val cols = Some(pinnedCols(spark, tablePath)).filter(_.nonEmpty)
      .getOrElse(statCols)
    require(cols.nonEmpty, "need at least one stat column")
    commitIndexed(spark, tablePath, sidecarPath(tablePath), IndexCommit.Add,
      Some(pin))(df.repartitionByRange(nFiles, col(cols.head))
        .write.mode("overwrite").parquet(_))(stageStats(spark, cols))
  }

  /** The one write of both sidecar indexes, build and append: `writeData`
    * stages the data files, published into the table with `publish`
    * ([[IndexCommit]] `Replace` for a build, `Add` for an append); the
    * stage listing names them as live files; `stageRows(files, stage)`
    * stages their sidecar rows, published into `sidecar` with the same
    * mode after the data, and inside a stream batch `pin` takes the batch
    * id last. Each data file is thus covered by its rows or not at all,
    * and an empty batch publishes nothing.
    */
  private[sources] def commitIndexed(spark: SparkSession, tablePath: String,
      sidecar: String, publish: IndexCommit.Publish, pin: Option[String] = None)(
      writeData: String => Unit)(
      stageRows: (Seq[String], String) => Unit): Unit = {
    val fs = fsOf(spark, tablePath)
    var staged = Seq.empty[String]
    IndexCommit.commit(spark, Seq(IndexCommit.Output(tablePath, publish,
      { stage =>
        writeData(stage)
        staged = listDataFiles(spark, stage).map(new Path(_).getName)
      })))
    if (staged.nonEmpty) {
      // qualified + toUri: the spelling `listDataFiles` gives the table
      val named =
        if (publish == IndexCommit.Add) staged.map(IndexCommit.addedName) else staged
      val files =
        named.map(n => fs.makeQualified(new Path(tablePath, n)).toUri.toString)
      val conf = spark.sparkContext.hadoopConfiguration
      IndexCommit.commit(spark, Seq(IndexCommit.Output(sidecar, publish,
        stageRows(files, _))), pin.flatMap(IndexCommit.batchPin(conf, _)))
    }
  }

  /** The index state one plan reads ([[SkippingFileIndex]],
    * [[PartitionedSkippingFileIndex]]): the live file set and the
    * collected sidecar rows — both bounded by files × stat cols, read ONCE
    * per plan. A missing sidecar (a first append torn before its stats)
    * yields zero stats rows, which [[SkipIndexBase]] treats as "nothing
    * covered": every live file is a candidate — the documented
    * degrade-to-scan, never a crash.
    */
  private[sources] final case class Stat(f: String, c: String,
      lo: Option[Double], hi: Option[Double],
      slo: Option[String], shi: Option[String],
      nulls: Option[Long] = None, rows: Option[Long] = None)

  private[sources] def loadIndex(spark: SparkSession, tablePath: String)
      : (Set[String], Seq[Stat]) = {
    val live = listDataFiles(spark, tablePath).toSet
    // driver-side read (no Spark job for O(files × cols) metadata);
    // sidecars predating the nulls/rows columns read as None — which
    // never prunes
    val stats = ManifestIO.readSidecar(spark.sparkContext.hadoopConfiguration,
        sidecarPath(tablePath))
      .map(r => Stat(r.f, r.c, r.lo, r.hi, r.slo, r.shi, r.nulls, r.rows))
    (live, stats)
  }
}
