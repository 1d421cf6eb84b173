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
  * Crash windows are closed on the READ side exactly like [[BloomIndex]]:
  * any table file the sidecar does not cover is an unconditional
  * candidate, and a missing sidecar altogether (torn FIRST streaming
  * commit) degrades to a full-file-list scan — extra I/O, never a missed
  * row. Single-writer, like the other persisted indexes.
  */
object ZoneMap {

  private def sidecarPath(table: String) = table.stripSuffix("/") + "_zonemap"

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

  /** Land freshly computed sidecar rows atomically: one driver-written
    * part file, committed as an [[IndexCommit]] `Replace` — the one commit
    * idiom every sidecar write shares. No Spark job: the sidecar is
    * O(files × stat cols) of metadata.
    */
  private def commitSidecar(spark: SparkSession, tablePath: String,
      rows: Seq[ManifestIO.SidecarRow]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    IndexCommit.commit(spark, Seq(IndexCommit.Output(sidecarPath(tablePath),
      IndexCommit.Replace, { stage =>
        fsOf(spark, tablePath).mkdirs(new Path(stage))
        ManifestIO.writeSidecar(conf, s"$stage/part-00000-zm.parquet", rows)
      })))
  }

  /** Append sidecar rows as one new part file: staged under a hidden
    * name inside the sidecar directory, then renamed visible — readers
    * (Spark and [[ManifestIO.readSidecar]] alike) skip dot-files, so a
    * torn write is never read as data.
    */
  private def appendSidecar(spark: SparkSession, tablePath: String,
      rows: Seq[ManifestIO.SidecarRow]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = fsOf(spark, tablePath)
    val side = new Path(sidecarPath(tablePath))
    fs.mkdirs(side)
    val name = s"part-${java.util.UUID.randomUUID}-zm.parquet"
    val tmp = new Path(side, s".$name.tmp")
    if (fs.exists(tmp)) fs.delete(tmp, false)
    ManifestIO.writeSidecar(conf, tmp.toString, rows)
    require(fs.rename(tmp, new Path(side, name)),
      s"sidecar append failed at $side")
  }

  /** The pinned stat columns in their ORIGINAL (clustering) order. */
  private def pinnedCols(spark: SparkSession, tablePath: String): Seq[String] =
    ManifestIO.readSidecar(spark.sparkContext.hadoopConfiguration,
        sidecarPath(tablePath))
      .map(r => (r.ci, r.c)).distinct.sortBy(_._1).map(_._2)

  /** Rewrite `df` range-clustered on `statCols.head` into `nFiles` files
    * at `tablePath` and build the per-file min/max sidecar over all
    * `statCols` (numeric columns).
    */
  def build(df: DataFrame, statCols: Seq[String], tablePath: String,
      nFiles: Int = 16): Unit = {
    require(statCols.nonEmpty, "need at least one stat column")
    df.repartitionByRange(nFiles, col(statCols.head))
      .write.mode("overwrite").parquet(tablePath)
    buildStatsOnly(df.sparkSession, tablePath, statCols)
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
    commitSidecar(spark, tablePath, statRows(spark, files, statCols))
  }

  /** Recompute the sidecar over the table's LIVE files at the PINNED
    * column set — the maintenance pass that purges stale rows (replayed
    * streaming batches leave rows for replaced part names; they are
    * read-safe but accumulate bytes). Rename-swapped like every sidecar
    * commit; probes before/after are identical by construction.
    */
  def rebuildStats(spark: SparkSession, tablePath: String): Unit =
    buildStatsOnly(spark, tablePath, pinnedCols(spark, tablePath))

  /** Append a batch: new range-clustered files plus their stats rows at
    * the PINNED stat-column set and ORDER (read from the sidecar — an
    * append can never fork the column set or switch the clustering
    * column). Per-file ranges of different commits may overlap (each
    * commit clusters only its own rows); probes stay exact because stats
    * are per-file.
    */
  def append(df: DataFrame, tablePath: String, nFiles: Int = 4): Unit = {
    val spark = df.sparkSession
    val statCols = pinnedCols(spark, tablePath)
    val before = listDataFiles(spark, tablePath).toSet
    df.repartitionByRange(nFiles, col(statCols.head))
      .write.mode("append").parquet(tablePath)
    val newFiles = listDataFiles(spark, tablePath).toSet -- before
    if (newFiles.isEmpty) return // empty batch: nothing to index, no-op
    appendSidecar(spark, tablePath,
      statRows(spark, newFiles.toSeq, statCols))
  }

  /** Micro-batch append into DETERMINISTIC `b<id>_`-prefixed part files —
    * the streaming face (see `EventsStream.zonemapSink`); the table stays
    * FLAT (no nested dirs for partition discovery to misread).
    * Redelivery semantics: a batch whose files are all present AND
    * sidecar-covered is already committed — the replay returns without
    * touching the table (no delete window for concurrent readers); only
    * a TORN attempt (files present but stats missing, or a partial move)
    * is cleared and rewritten, and a torn batch was never visible as
    * committed, so transient absence during its repair is the correct
    * at-least-once surface. Crash with data landed / stats missing →
    * the uncovered-file fallback keeps probes exact meanwhile. Stale
    * sidecar rows from a repair are neutralized by the reader's live-set
    * intersection (and purged by [[rebuildStats]]). Bootstraps the
    * sidecar (pinning `statCols` and their order) on the table's first
    * commit. Single-writer per table.
    */
  def appendBatch(df: DataFrame, tablePath: String, batchId: Long,
      statCols: Seq[String], nFiles: Int = 4): Unit = {
    val spark = df.sparkSession
    val root = new Path(tablePath)
    val side = new Path(sidecarPath(tablePath))
    val fs = fsOf(spark, tablePath)
    val sideExists = fs.exists(side)
    val pinned = if (sideExists) pinnedCols(spark, tablePath) else statCols
    require(pinned.nonEmpty, "need at least one stat column")
    val prefix = s"b${batchId}_"
    val existing =
      if (fs.exists(root))
        fs.listStatus(root).map(_.getPath.getName)
          .filter(_.startsWith(prefix)).toSet
      else { fs.mkdirs(root); Set.empty[String] }
    if (existing.nonEmpty && sideExists) {
      // fully-committed fast path: every prefixed file covered by stats
      val coveredNames = ManifestIO.readSidecar(
          spark.sparkContext.hadoopConfiguration, sidecarPath(tablePath))
        .map(r => r.f.substring(r.f.lastIndexOf('/') + 1)).toSet
      if (existing.subsetOf(coveredNames)) return
    }
    // torn attempt (or first delivery): clear this batch's remnants and
    // rewrite — exactly once on data, per batch id
    val stage = new Path(s"${tablePath.stripSuffix("/")}__stage_b$batchId")
    if (fs.exists(stage)) fs.delete(stage, true)
    existing.foreach(n => fs.delete(new Path(root, n), false))
    df.repartitionByRange(nFiles, col(pinned.head))
      .write.mode("errorifexists").parquet(stage.toString)
    val moved = fs.listStatus(stage)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map { s =>
        val dst = new Path(root, prefix + s.getPath.getName)
        require(fs.rename(s.getPath, dst), s"could not move ${s.getPath}")
        // qualified + toUri: the `file:///…` spelling input_file_name()
        // uses (replaces the old read-back of the moved files, which paid
        // a schema-inference open just to canonicalize paths)
        fs.makeQualified(dst).toUri.toString
      }.toSeq
    fs.delete(stage, true)
    if (moved.isEmpty) return
    val stats = statRows(spark, moved, pinned)
    if (fs.exists(side)) appendSidecar(spark, tablePath, stats)
    else commitSidecar(spark, tablePath, stats)
  }

  /** The index state one plan reads ([[SkippingFileIndex]],
    * [[PartitionedSkippingFileIndex]]): the live file set and the
    * collected sidecar rows — both bounded by files × stat cols, read ONCE
    * per plan. A missing sidecar (torn first streaming commit) yields zero
    * stats rows, which [[SkipIndexBase]] treats as "nothing covered":
    * every live file is a candidate — the documented degrade-to-scan,
    * never a crash.
    */
  private[sources] final case class Stat(f: String, c: String,
      lo: Option[Double], hi: Option[Double],
      slo: Option[String], shi: Option[String],
      nulls: Option[Long] = None, rows: Option[Long] = None)

  private[sources] def loadIndex(spark: SparkSession, tablePath: String)
      : (Set[String], Seq[Stat]) = {
    val live = listDataFiles(spark, tablePath).toSet
    val stats =
      if (!fsOf(spark, tablePath).exists(new Path(sidecarPath(tablePath))))
        Seq.empty
      else
        // driver-side read (no Spark job for O(files × cols) metadata);
        // sidecars predating the nulls/rows columns read as None — which
        // never prunes
        ManifestIO.readSidecar(spark.sparkContext.hadoopConfiguration,
            sidecarPath(tablePath))
          .map(r => Stat(r.f, r.c, r.lo, r.hi, r.slo, r.shi,
            r.nulls, r.rows))
    (live, stats)
  }
}
