package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Snapshot-versioned parquet table with time travel — the Iceberg/Delta
  * core re-expressed minimally (public prior art: Iceberg's
  * manifest-per-snapshot design; Delta's transaction log): data files are
  * IMMUTABLE, each commit writes new files plus a new manifest listing
  * the snapshot's complete file set, and a reader pins a manifest — so
  * readers never see a half-written commit, time travel is "read an old
  * manifest", and compaction is just a new manifest over rewritten files
  * (old snapshots stay readable until expired).
  *
  * Scale shape: the manifest is O(files + committed batch ids), never
  * O(rows) — the only driver-side state is that list (the classic
  * index-read contract); data reads are ordinary distributed parquet
  * scans of the listed files. Commit atomicity is a single directory
  * rename of the manifest (write to a uid-staged `_tmp_v<N>_<uid>`,
  * rename to `v=<N>` — the CAS); a crash before the rename leaves the
  * table at the previous snapshot, and the torn, uniquely-named data
  * directory is unreferenced debris [[vacuumOrphans]] clears — a
  * half-written commit can never brick subsequent commits.
  *
  * All manifest/commit/expire filesystem traffic goes through the Hadoop
  * `FileSystem` API resolved from the table path (the same idiom as
  * [[BloomIndex]] and [[IndexCommit]]), so the table runs wherever
  * Spark's Hadoop layer does. SUBSTRATE CONTRACT: rename-as-commit needs
  * a store with atomic directory rename under a single writer — local
  * FS and HDFS qualify; plain object stores (S3 without a rename layer)
  * would need a monotonic log-append commit instead and are out of
  * scope here.
  *
  * Exactly-once streaming ingest rides the same atomicity: committed
  * batch ids are ROWS IN THE MANIFEST (kind = "t"), so the dedup fact
  * commits in the same rename as the data it describes and is carried
  * forward by every later snapshot — including compaction, which
  * rewrites all file paths but preserves the txn set. (The earlier
  * design — a marker directory written after the rename — left a crash
  * window where a compaction before redelivery erased the evidence;
  * manifest-native txns have no such window.)
  *
  * Concurrent WRITERS commit through an optimistic validate-then-retry
  * loop (Iceberg's model, [[commitLoop]]): the manifest rename is the
  * CAS, a losing ADDITIVE commit (append, MOR merge/delete) rebases onto
  * the new head and retries — its staged data directory renames so the
  * rebased rows carry the sequence of the version they actually land at
  * — while a losing COPY-ON-WRITE commit (upsert, predicate delete,
  * compact) rebases only when every file it read-and-rewrote is still
  * live and no new delete mask appeared, and otherwise aborts loudly
  * with its staged data cleaned up. Concurrent READERS are always safe.
  */
object Versioned {

  private def manifestRoot(table: String) = s"$table/_manifests"
  private def manifestDir(table: String, v: Int) = s"${manifestRoot(table)}/v=$v"

  private def fsFor(path: String, conf: Configuration): FileSystem =
    new Path(path).getFileSystem(conf)

  private def listVersions(table: String, conf: Configuration): Seq[Int] = {
    val root = new Path(manifestRoot(table))
    val fs = fsFor(manifestRoot(table), conf)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .map(_.getPath.getName.stripPrefix("v=").toInt).sorted
  }

  /** Current snapshot number, or 0 if the table is empty. Resolves the
    * filesystem from the active session's Hadoop conf.
    */
  def currentVersion(table: String): Int =
    currentVersion(table, SparkSession.active.sparkContext.hadoopConfiguration)

  private def currentVersion(table: String, conf: Configuration): Int =
    listVersions(table, conf).lastOption.getOrElse(0)

  /** One commit's complete manifest content. `sizes` are per-file byte
    * lengths (encoded `path|len`, Iceberg's file_size_in_bytes): recorded
    * at write time from the staged directory's OWN listing, so a
    * plan-time reader ([[indexedRead]]'s [[ManifestFileIndex]]) can
    * synthesize every FileStatus from the manifest — zero per-file
    * getFileStatus RPCs, which at 10⁵–10⁶ files per snapshot is minutes
    * of sequential NameNode/S3 round-trips per plan.
    */
  private final case class Content(files: Seq[String], txns: Seq[Long],
      deletes: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType],
      stats: Seq[String], sizes: Seq[String],
      partitionCols: Seq[String] = Nil,
      columnMap: Map[String, Seq[String]] = Map.empty)

  /** Attempt the atomic manifest rename at version `v`: true on success;
    * false when a concurrent writer already took `v`. The rename goes
    * through `FileContext` (HDFS "rename2" semantics: FAILS when the
    * destination exists) rather than `FileSystem.rename`, whose Hadoop
    * contract silently NESTS the source inside an existing destination
    * directory and returns true — which would make both racing writers
    * believe they won. The staged manifest is uid-suffixed so two racing
    * writers can never scribble over each other's staging dir either.
    */
  private def tryCommit(spark: SparkSession, table: String, v: Int,
      c: Content): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val tmp = s"${manifestRoot(table)}/_tmp_v${v}_${newUid()}"
    // driver-side manifest write (same parquet layout the old
    // `toDF.coalesce(1).write.parquet` produced): a manifest is a few KB
    // of metadata — a distributed write job per COMMIT ATTEMPT was pure
    // scheduling overhead on every commit-bearing operation
    ManifestIO.write(conf, s"$tmp/part-00000.parquet",
      c.files.map(("f", _)) ++ c.txns.map(t => ("t", t.toString)) ++
      c.deletes.map(("d", _)) ++ c.schema.map(s => ("s", s.json)).toSeq ++
      c.stats.map(("fs", _)) ++ c.sizes.map(("fl", _)) ++
      (if (c.partitionCols.isEmpty) Nil
       else Seq(("p", c.partitionCols.map(enc).mkString(",")))) ++
      c.columnMap.toSeq.sortBy(_._1).map { case (l, ps) =>
        ("cm", (enc(l) +: ps.map(enc)).mkString("|")) })
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      new Path(table).toUri, conf)
    val ok =
      try { fc.rename(new Path(tmp), new Path(manifestDir(table, v))); true }
      catch {
        // dest exists (a concurrent writer took v) — a genuine IO fault
        // also lands here and surfaces as retries-exhausted, never as a
        // silent double-win
        case _: java.io.IOException => false
      }
    if (!ok) fsFor(table, conf).delete(new Path(tmp), true)
    ok
  }

  private def newUid(): String =
    java.util.UUID.randomUUID.toString.take(8)

  /** TEST-ONLY injection point: fired once, immediately before the first
    * commit attempt of the next [[commitLoop]], then cleared — lets specs
    * interleave a competing writer deterministically (the two-writer
    * rebase/abort cases). Production never sets it.
    */
  private[sources] var onBeforeCommit: () => Unit = () => ()

  /** Optimistic commit with validate-then-retry (Iceberg's commit loop):
    * read the CURRENT head, let `build` produce the new manifest content
    * against it (returning None to no-op, or throwing to abort on a true
    * conflict), attempt the rename CAS at head+1; on losing the race,
    * re-read the new head and rebuild. `build` runs once per attempt, so
    * every validation it performs is against the head it will commit on
    * top of. Additive commits (append, MOR merge/delete) always rebase;
    * copy-on-write commits validate their touched files are still live
    * and abort loudly otherwise (see each op). Bounded retries: livelock
    * under sustained contention surfaces as an error, not a hang.
    */
  private def commitLoop(spark: SparkSession, table: String,
      build: (Snapshot, Int) => Option[Content],
      retries: Int = 5): Option[Int] = {
    val conf = spark.sparkContext.hadoopConfiguration
    var attempt = 0
    while (attempt <= retries) {
      val cur = currentVersion(table, conf)
      val m = if (cur == 0) Snapshot(Nil, Nil, Nil, None)
        else manifestAll(spark, table, cur)
      build(m, cur) match {
        case None => return None
        case Some(c) =>
          if (attempt == 0) {
            val h = onBeforeCommit; onBeforeCommit = () => (); h()
          }
          if (tryCommit(spark, table, cur + 1, c)) return Some(cur + 1)
      }
      attempt += 1
    }
    throw new IllegalStateException(
      s"commit at $table failed after $retries retries (sustained " +
        "concurrent-writer contention)")
  }

  /** Lazily-staged data/delete-file write whose directory name carries
    * the COMMIT version (the sequence-number source — see [[seqOfDir]])
    * plus a unique suffix, so concurrent writers can never collide on a
    * staging directory. `at(v)` writes on first call and RENAMES the
    * directory (remapping file paths and encoded stats) when a rebase
    * moves the commit to a later version — rebased rows then carry the
    * sequence of the version they actually committed at, Iceberg-style.
    */
  /** The commit-tail contract shared by [[Staged]] (we write the data)
    * and [[Adopted]] (executors already wrote it — the SQL row-level
    * write path): `at(v)` yields (files, stats, sizes) positioned at
    * commit version `v`, renaming the staged directory on a rebase;
    * `abort()` reclaims the staged data.
    */
  private trait StagedLike {
    def at(v: Int): (Seq[String], Seq[String], Seq[String])
    def abort(): Unit
  }

  /** Re-encode the path prefix of a `enc(path)|rest` manifest row when a
    * rebase renames a staged directory — shared by [[Staged]] and
    * [[Adopted]] so the encoding discipline lives once.
    */
  private def remapStatRows(rows: Seq[String], o: String,
      n: String): Seq[String] =
    rows.map { s =>
      val i = s.indexOf('|')
      enc(dec(s.take(i)).replace(o, n)) + s.drop(i)
    }

  private final class Staged(table: String, kind: String, df: DataFrame,
      batchId: Option[Long] = None, withStats: Boolean = true,
      partitionCols: Seq[String] = Nil)
      extends StagedLike {
    private val spark = df.sparkSession
    private val uid = newUid()
    private var dirV: Int = -1
    private var files: Seq[String] = Nil
    private var stats: Seq[String] = Nil
    private var sizes: Seq[String] = Nil
    private def dirName(v: Int) = batchId match {
      case Some(b) => s"b=$b-v$v-$uid"
      case None => s"$kind=$v-$uid"
    }
    def at(v: Int): (Seq[String], Seq[String], Seq[String]) = {
      if (dirV < 0) {
        val dataDir = s"$table/data/${dirName(v)}"
        files = writeData(df, dataDir, partitionCols)
        stats = if (withStats) statsFor(spark, files) else Nil
        // byte lengths from ONE (recursive — partitioned layouts nest)
        // listing of the staged dir, keyed by the /data/ path suffix:
        // partitionBy writes the SAME basename into every partition dir
        // one task touches, so basenames alone do not identify a file.
        // The manifest then carries every reader's FileStatus, so plan
        // time never stats files one by one
        val it = fsFor(dataDir, spark.sparkContext.hadoopConfiguration)
          .listFiles(new Path(dataDir), true)
        val bySuffix = scala.collection.mutable.Map.empty[String, Long]
        while (it.hasNext) {
          val s = it.next()
          if (s.isFile) bySuffix(dataSuffix(s.getPath.toString)) = s.getLen
        }
        sizes = files.flatMap(f => bySuffix.get(dataSuffix(f))
          .map(len => s"${enc(f)}|$len"))
        dirV = v
      } else if (dirV != v) {
        val fs = fsFor(table, spark.sparkContext.hadoopConfiguration)
        val from = new Path(s"$table/data/${dirName(dirV)}")
        val to = new Path(s"$table/data/${dirName(v)}")
        require(fs.rename(from, to), s"rebase rename failed: $from -> $to")
        val (o, n) = (s"/${dirName(dirV)}/", s"/${dirName(v)}/")
        files = files.map(_.replace(o, n))
        stats = remapStatRows(stats, o, n)
        sizes = remapStatRows(sizes, o, n)
        dirV = v
      }
      (files, stats, sizes)
    }
    /** Drop the staged directory (the commit no-op'd or aborted). */
    def abort(): Unit = if (dirV >= 0) {
      fsFor(table, spark.sparkContext.hadoopConfiguration)
        .delete(new Path(s"$table/data/${dirName(dirV)}"), true)
      dirV = -1
    }
  }

  /** [[StagedLike]] over a directory the V2 row-level BatchWrite's
    * executors ALREADY populated (`rowLevelStagingDir(table, uid, v0)`):
    * same rename-on-rebase and abort discipline as [[Staged]], but the
    * write step is adoption — stats/sizes come from one pass over the
    * committed files. Task-attempt debris (speculative/retried writers)
    * was already pruned by the BatchWrite's commit before adoption.
    */
  private final class Adopted(table: String, spark: SparkSession,
      nameFor: Int => String, initialName: String,
      committed: Seq[String]) extends StagedLike {
    private var curName: String = initialName
    private var files: Seq[String] = committed
    private var stats: Seq[String] = Nil
    private var sizes: Seq[String] = Nil
    private var loaded = false
    def at(v: Int): (Seq[String], Seq[String], Seq[String]) = {
      if (!loaded) {
        val dataDir = s"$table/data/$curName"
        // CANONICALIZE the adopted file list through ONE FileSystem
        // listing (qualified URIs — the same spelling Staged's writeData
        // records): executor-interpolated raw paths would make the
        // manifest's 'f' rows disagree with the 'fs' stats rows, leaving
        // every adopted file stats-dead to raw-equality consumers
        // (ManifestFileIndex admission, AggPushdown, snapshotStats).
        // Callers prune task-attempt debris BEFORE adoption, so the
        // listing is the committed set.
        val statuses = fsFor(dataDir,
          spark.sparkContext.hadoopConfiguration)
          .listStatus(new Path(dataDir))
          .filter { s =>
            val n = s.getPath.getName
            s.isFile && !n.startsWith("_") && !n.startsWith(".")
          }
        files = statuses.map(_.getPath.toUri.toString).toSeq.sorted
        require(files.size == committed.size,
          s"adopted dir $dataDir holds ${files.size} files, " +
            s"commit messages name ${committed.size} — debris pruning " +
            "must run before adoption")
        stats = statsFor(spark, files)
        val byName = statuses.map(s => s.getPath.getName -> s.getLen).toMap
        sizes = files.flatMap(f => byName.get(new Path(f).getName)
          .map(len => s"${enc(f)}|$len"))
        loaded = true
      }
      if (curName != nameFor(v)) {
        val next = nameFor(v)
        val fs = fsFor(table, spark.sparkContext.hadoopConfiguration)
        val from = new Path(s"$table/data/$curName")
        val to = new Path(s"$table/data/$next")
        require(fs.rename(from, to), s"rebase rename failed: $from -> $to")
        val (o, n) = (s"/$curName/", s"/$next/")
        files = files.map(_.replace(o, n))
        stats = remapStatRows(stats, o, n)
        sizes = remapStatRows(sizes, o, n)
        curName = next
      }
      (files, stats, sizes)
    }
    def abort(): Unit = {
      fsFor(table, spark.sparkContext.hadoopConfiguration)
        .delete(new Path(s"$table/data/$curName"), true)
    }
  }

  /** Two staged/adopted commit tails as one (the dynamic-overwrite
    * shape: executor-adopted NEW files + a driver-staged survivor
    * rewrite land in the SAME snapshot).
    */
  private final class StagedPair(a: StagedLike, b: StagedLike)
      extends StagedLike {
    def at(v: Int): (Seq[String], Seq[String], Seq[String]) = {
      val (f1, s1, z1) = a.at(v); val (f2, s2, z2) = b.at(v)
      (f1 ++ f2, s1 ++ s2, z1 ++ z2)
    }
    def abort(): Unit = { a.abort(); b.abort() }
  }

  // ---- SQL row-level operation support (UPDATE / MERGE / DELETE
  //      fallback through SupportsRowLevelOperations) ------------------

  /** Staging directory for a SQL row-level rewrite targeting version
    * `v0` = basis+1 (a rebase renames it — [[Adopted]]). Executors write
    * replacement files here BEFORE the commit version is final.
    */
  private[sources] def rowLevelStagingDir(table: String, uid: String,
      v0: Int): String = s"$table/data/u=$v0-$uid"

  private[sources] def rowLevelUid(): String = newUid()

  /** Snapshot facets the row-level scan needs: (data files, encoded
    * stats, decoded sizes, schema, pending delete-file count).
    */
  private[sources] def rowLevelSnapshot(spark: SparkSession, table: String,
      v: Int): (Seq[String], Seq[ZoneMap.Stat], Map[String, Long],
      org.apache.spark.sql.types.StructType, Int) = {
    val m = manifestAll(spark, table, v)
    (m.files, m.statsRaw.map(decodeStat), decodeSizes(m.sizesRaw),
      schemaOfSnapshot(spark, m, s"v=$v"), m.deletes.size)
  }

  /** One equality-delete file's mask, collected to the driver for
    * IN-SCAN application ([[RowLevelBatch]]): key tuples as CATALYST
    * values (UTF8String etc.) so executor readers compare them against
    * InternalRow fields directly. Masks rows only in files with
    * sequence < `seq` (the MOR ordering rule).
    */
  private[sources] final case class EqMask(seq: Int, keyCols: Seq[String],
      keys: Set[Seq[Any]]) extends Serializable

  /** One position-delete file's mask: [[dataSuffix]]-keyed row indexes
    * (sorted) per referenced data file.
    */
  private[sources] final case class PosMask(seq: Int,
      positions: Map[String, Array[Long]]) extends Serializable

  private[sources] final case class DeleteMasks(eq: Seq[EqMask],
      pos: Seq[PosMask]) extends Serializable {
    def isEmpty: Boolean = eq.isEmpty && pos.isEmpty
    def hasPos: Boolean = pos.nonEmpty
    /** Every equality key column named by any mask. */
    def eqKeyCols: Seq[String] = eq.flatMap(_.keyCols).distinct
  }

  /** Mask key components compare inside `Set[Seq[Any]]`, where numeric
    * boxes get Scala's cooperative equality/hashing (an Integer key
    * matches a post-widen Long row value) — but `Array[Byte]` compares
    * by REFERENCE, so a BINARY-keyed equality delete would silently
    * never match. Normalize byte arrays to a value-equal wrapper on
    * BOTH sides (collection here, row probe in MaskingReaderFactory).
    */
  private[sources] def maskKeyComponent(v: Any): Any = v match {
    case b: Array[Byte] =>
      scala.collection.immutable.ArraySeq.unsafeWrapArray(b)
    case x => x
  }

  /** Collect snapshot `v`'s pending delete masks to the driver for
    * in-scan application — None when the total mask size exceeds
    * [[maxBroadcastKeys]] (callers then degrade: plain reads fall back
    * to the V1 anti-join bridge, row-level ops refuse with
    * compact-first). Delete files are batch-sized by contract, so the
    * common case is a few thousand rows; the cap exists for tables
    * taking heavy churn without compaction.
    */
  private[sources] def collectMasks(spark: SparkSession, table: String,
      v: Int): Option[DeleteMasks] = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    val m = manifestAll(spark, table, v)
    if (m.deletes.isEmpty) return Some(DeleteMasks(Nil, Nil))
    val cap = maxBroadcastKeys(spark)
    // ONE job bounds the total before any collect
    if (countRowsByFile(spark, m.deletes).values.sum > cap) return None
    val eq = scala.collection.mutable.ArrayBuffer.empty[EqMask]
    val pos = scala.collection.mutable.ArrayBuffer.empty[PosMask]
    m.deletes.foreach { p =>
      val df = spark.read.parquet(p)
      val s = seqOf(p)
      if (isPosDelete(df.schema)) {
        val byFile = df.collect()
          .groupBy(r => dataSuffix(r.getString(0)))
          .map { case (f, rs) => f -> rs.map(_.getLong(1)).sorted }
        pos += PosMask(s, byFile)
      } else {
        val conv = df.schema.fields
          .map(f => CatalystTypeConverters.createToCatalystConverter(
            f.dataType))
        val keys = df.collect().map(r =>
          (0 until conv.length)
            .map(i => maskKeyComponent(conv(i)(r.get(i)))): Seq[Any])
          .toSet
        eq += EqMask(s, df.schema.fieldNames.toSeq, keys)
      }
    }
    Some(DeleteMasks(eq.toSeq, pos.toSeq))
  }

  /** Commit sequence of `path`'s enclosing commit directory — the
    * executor-side mask applicability check ([[RowLevelBatch]]).
    */
  private[sources] def seqOfPath(path: String): Int = seqOf(path)

  /** Commit tail for a SQL row-level group replacement: the scanned
    * (affected) files drop, the executor-written `committed` files take
    * their place, everything else carries by reference — the same
    * copy-on-write validate-then-retry as [[upsertKeys]]/[[merge]]
    * ([[cowCommit]]): a rebase is legal only while every affected file is
    * still live at the head and no new delete files landed since the
    * basis. An empty `committed` (every scanned row deleted) drops the
    * affected files with no replacement — the metadata-delete shape.
    * Returns the committed version.
    */
  private[sources] def commitReplaceGroups(spark: SparkSession,
      table: String, basisVersion: Int, affected: Seq[String],
      uid: String, committed: Seq[String], what: String): Int = {
    val basis = manifestAll(spark, table, basisVersion)
    val touched = affected.map(dataSuffix).toSet
    val schema = schemaOfSnapshot(spark, basis, s"v=$basisVersion")
    def nameFor(v: Int) = s"u=$v-$uid"
    val initial = nameFor(basisVersion + 1)
    val w: Option[StagedLike] =
      if (committed.isEmpty) {
        // nothing survived the rewrite: drop the (possibly file-less)
        // staging dir now; the commit then drops the affected files as a
        // pure manifest edit
        new Adopted(table, spark, nameFor, initial, Nil).abort()
        None
      } else Some(new Adopted(table, spark, nameFor, initial, committed))
    cowCommit(spark, table, w, basis, touched, schema, what)
  }

  /** Commit tail for SQL DYNAMIC partition overwrite (`INSERT OVERWRITE`
    * under `partitionOverwriteMode = dynamic` — no V1 fallback exists
    * for `OverwritePartitionsDynamic`, so executors write task files
    * into the staged dir and this adopts them): replace exactly the
    * partitions PRESENT in the written data. Partition tuples come from
    * ONE distinct() over the staged files; files of the basis holding a
    * matching tuple drop (identity-laid files are single-tuple, so the
    * probe admits whole partitions); mixed legacy files rewrite their
    * survivors. Same cowCommit validate/rebase rules as [[upsertKeys]].
    */
  private[sources] def commitDynamicOverwrite(spark: SparkSession,
      table: String, basisVersion: Int, uid: String,
      committed: Seq[String],
      writeSchema: org.apache.spark.sql.types.StructType): Int = {
    import org.apache.spark.sql.functions.col
    val pcols = partitionColumns(spark, table)
    require(pcols.nonEmpty,
      s"dynamic partition overwrite needs a partitioned table at $table")
    val basis = manifestAll(spark, table, basisVersion)
    def nameFor(v: Int) = s"u=$v-$uid"
    val adopted = new Adopted(table, spark, nameFor,
      nameFor(basisVersion + 1), committed)
    val keys = spark.read.parquet(committed: _*)
      .select(pcols.map(c => col(s"`$c`")): _*).distinct().cache()
    try {
      val nKeys = keys.count()
      // null-safe throughout: the NULL partition replaces like any other
      val touched = touchedBy(spark, table, basis, keys, nKeys, pcols,
        nullSafe = true)
      val touchedPaths = basis.files.filter(f => touched(dataSuffix(f)))
      val keyed = keys.toDF(pcols.map(c => s"__k_$c"): _*)
      val w: StagedLike =
        if (touchedPaths.isEmpty) adopted
        else new StagedPair(adopted,
          new Staged(table, "u",
            readWithDeletes(spark, touchedPaths, basis.deletes,
              basis.schema, basis.columnMap)
              .join(maybeBroadcast(keyed, nKeys),
                keyJoinCond(pcols, nullSafe = true), "left_anti"),
            partitionCols = basis.partitionCols))
      cowCommit(spark, table, Some(w), basis, touched,
        mergeSchemas(basis.schema, writeSchema),
        what = "dynamic-overwrite")
    } catch { case e: Throwable => adopted.abort(); throw e }
    finally keys.unpersist()
  }

  /** Staging directory for one STREAMING epoch's executor-written task
    * files (the sink half of the streaming story — `writeStream
    * .toTable` through [[GraftCatalog]]): epoch-scoped so one long-lived
    * writer factory serves every trigger; adopted (renamed to the
    * sequence-carrying `b=<epoch>-v<version>` name) at commit.
    */
  private[sources] def streamStagingDir(table: String, uid: String,
      epochId: Long): String = s"$table/data/_stream-$uid-e$epochId"

  /** Exactly-once adoption of one streaming epoch's executor-written
    * files ([[appendBatch]]'s contract with the write step already
    * done). The txn marker is QUERY-SCOPED (Delta's appId/version
    * contract, packed into the Long txn space: the query id's 32-bit
    * hash in the high half, the epoch in the low half) so
    *  - a NEW query (fresh checkpoint) writing a table that already
    *    carries another query's epoch markers does not collide with it
    *    (bare epoch ids restart at 0, the hash prefix disambiguates).
    *    The guarantee is PROBABILISTIC, not absolute: two distinct query
    *    ids share a 32-bit hash with probability 2^-32 per pair, and a
    *    colliding pair would make the later query's early epochs no-op
    *    (dropped data) while each commit strips the other's markers.
    *    Acceptable for the expected handful of writers per table; a
    *    deployment multiplexing MANY queries into one table should give
    *    each its own table or extend the marker to carry the full id;
    *  - only the LATEST marker per query survives a commit — a
    *    long-lived 1 s-trigger stream would otherwise grow the manifest
    *    txn list by ~86k entries/day, every one re-parsed per read.
    * Redelivery no-ops when the query's stored epoch is already at or
    * past this one (epochs commit in order within a query). Epochs wrap
    * at 2^32 — 136 years of 1 s triggers. An empty epoch commits
    * nothing and mints no version (replay-safe: its redelivery is
    * empty too).
    */
  private[sources] def commitStreamEpoch(spark: SparkSession,
      table: String, uid: String, queryId: String, epochId: Long,
      committed: Seq[String],
      writeSchema: org.apache.spark.sql.types.StructType): Option[Int] = {
    val initial = s"_stream-$uid-e$epochId"
    def nameFor(v: Int) = s"b=$epochId-v$v-$uid"
    val prefix = scala.util.hashing.MurmurHash3.stringHash(queryId)
    val epoch32 = epochId & 0xFFFFFFFFL
    val marker = (prefix.toLong << 32) | epoch32
    def mine(t: Long) = (t >>> 32).toInt == prefix
    val w = new Adopted(table, spark, nameFor, initial, committed)
    if (committed.isEmpty) { w.abort(); return None }
    val r =
      try {
        commitLoop(spark, table, { (m, cur) =>
          if (m.txns.exists(t => mine(t) && (t & 0xFFFFFFFFL) >= epoch32))
            None
          else {
            val sch = mergeSchemas(m.schema, writeSchema)
            val (files, stats, sizes) = w.at(cur + 1)
            Some(Content(m.files ++ files,
              m.txns.filterNot(mine) :+ marker, m.deletes,
              Some(sch), m.statsRaw ++ stats, m.sizesRaw ++ sizes,
              m.partitionCols, m.columnMap))
          }
        })
      } catch { case e: Throwable => w.abort(); throw e }
    if (r.isEmpty) w.abort() // lost to an identical redelivery mid-loop
    r
  }

  // ---- per-file column stats in the manifest (Iceberg's file stats) ----

  private def enc(s: String) =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String) =
    java.net.URLDecoder.decode(s, "UTF-8")

  private def encodeStat(f: String, c: String, lo: Option[Double],
      hi: Option[Double], slo: Option[String], shi: Option[String],
      nulls: Option[Long], rows: Option[Long]): String =
    Seq(enc(f), enc(c), lo.map(_.toString).getOrElse(""),
      hi.map(_.toString).getOrElse(""), slo.map(enc).getOrElse(""),
      shi.map(enc).getOrElse(""), nulls.map(_.toString).getOrElse(""),
      rows.map(_.toString).getOrElse("")).mkString("|")

  /** 6-field stats predate null counts; they decode with unknown counts
    * (which never prune).
    */
  private[sources] def decodeStat(s: String): ZoneMap.Stat = {
    val p = s.split("\\|", -1)
    ZoneMap.Stat(dec(p(0)), dec(p(1)),
      if (p(2).isEmpty) None else Some(p(2).toDouble),
      if (p(3).isEmpty) None else Some(p(3).toDouble),
      if (p(4).isEmpty) None else Some(dec(p(4))),
      if (p(5).isEmpty) None else Some(dec(p(5))),
      if (p.length < 7 || p(6).isEmpty) None else Some(p(6).toLong),
      if (p.length < 8 || p(7).isEmpty) None else Some(p(7).toLong))
  }

  private def statFileOf(encoded: String): String =
    dec(encoded.takeWhile(_ != '|'))

  /** Decode manifest `fl` rows (`enc(path)|len`) — the ONE inverse of the
    * encoding in [[Staged.at]]; both [[indexedRead]] and
    * [[dataFileSizes]] parse through here.
    */
  private def decodeSizes(raw: Seq[String]): Map[String, Long] =
    raw.map { s =>
      val i = s.indexOf('|')
      dec(s.take(i)) -> s.drop(i + 1).toLong
    }.toMap

  /** Filesystem-URI-spelling-proof file identity: the path's `/data/...`
    * suffix. Manifest paths come from `DataFrame.inputFiles` at write
    * time while touch detection reads `input_file_name()` at query time,
    * and the two can spell the same file differently (scheme, authority,
    * port — e.g. `hdfs://nn:8020/...` vs `hdfs://nn/...`); comparing raw
    * strings would silently return an EMPTY touched set, carrying the old
    * files forward and keeping updated/deleted keys alive. Every set
    * membership between the two worlds normalizes through this (the
    * [[vacuumOrphans]] idiom).
    */
  private[sources] def dataSuffix(p: String): String = {
    val i = p.indexOf("/data/")
    if (i < 0) p else p.substring(i)
  }

  /** Iceberg-style string-stat truncation AT CODE-POINT GRANULARITY
    * (UTF-16-unit truncation could split a surrogate pair, and
    * char-level increment disagrees with Spark's UTF-8 order — see
    * [[Utf8Order]]): a truncated LOWER bound stays a lower bound; the
    * UPPER bound truncates then rounds its last code point up — or drops
    * entirely when it cannot round up.
    */
  private def truncStr(s: String, isUpper: Boolean,
      maxLen: Int = 16): Option[String] = {
    val cps = Utf8Order.codePoints(s)
    if (cps.length <= maxLen) Some(s)
    else if (!isUpper) Some(Utf8Order.fromCodePoints(cps.take(maxLen)))
    else Utf8Order.incLast(cps.take(maxLen)).map(Utf8Order.fromCodePoints)
  }

  /** Per-file min/max stats of the freshly-written `files`, encoded for
    * the manifest — ONE aggregation pass over the batch (the ZoneMap
    * machinery with the sidecar replaced by manifest rows). All numeric
    * and string primitive columns are covered; string bounds truncate to
    * 16 chars, Iceberg-style.
    */
  private def statsFor(spark: SparkSession,
      files: Seq[String]): Seq[String] =
    // footer fast path (guide §1.2 / Iceberg's design): the freshly
    // written files' parquet footers already carry exact per-column
    // min/max/nullCount — aggregating them on the driver replaces a full
    // second Spark pass over the just-written data. Provably-exact only:
    // ManifestIO returns None on any type/NaN/truncation doubt and the
    // aggregation job keeps the old behavior (FooterStatsSpec pins
    // equality of the two paths' encoded rows).
    statsForFooter(spark, files).getOrElse(statsForJob(spark, files))

  /** Footer-derived stat rows, or None when not provably exact. */
  private[sources] def statsForFooter(spark: SparkSession,
      files: Seq[String]): Option[Seq[String]] = {
    if (files.isEmpty) return Some(Seq.empty)
    ManifestIO.footerStats(
        spark.sparkContext.hadoopConfiguration, files).map { perFile =>
      perFile.flatMap { fs =>
        fs.cols.map { c =>
          encodeStat(fs.file, c.name, c.lo, c.hi,
            c.slo.flatMap(truncStr(_, isUpper = false)),
            c.shi.flatMap(truncStr(_, isUpper = true)),
            Some(c.nulls), Some(fs.rows))
        }
      }
    }
  }

  /** The aggregation-job stat rows (the pre-footer implementation and
    * the fallback whenever footer stats are not provably exact).
    */
  private[sources] def statsForJob(spark: SparkSession,
      files: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.types.{NumericType, StringType}
    if (files.isEmpty) return Seq.empty
    val schema = spark.read.parquet(files.head).schema
    val cols = schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] ||
        f.dataType == StringType => f.name
    }.toSeq
    if (cols.isEmpty) return Seq.empty
    ZoneMap.statsOf(spark, files, cols).collect().toSeq.map { r =>
      encodeStat(r.getString(0), r.getString(1),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        if (r.isNullAt(5)) None
        else truncStr(r.getString(5), isUpper = false),
        if (r.isNullAt(6)) None
        else truncStr(r.getString(6), isUpper = true),
        if (r.isNullAt(7)) None else Some(r.getLong(7)),
        if (r.isNullAt(8)) None else Some(r.getLong(8)))
    }
  }

  /** Additive schema evolution (the Delta read-side contract): the new
    * snapshot's schema is the previous schema plus any column the commit
    * introduces — old files surface new columns as NULL at read; dropped
    * columns are out of scope, and a RETYPE of an existing column fails
    * AT COMMIT (silently keeping the old type would poison every later
    * read of the new files with a parquet type mismatch).
    */
  private def mergeSchemas(
      prev: Option[org.apache.spark.sql.types.StructType],
      cur: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = prev match {
    case None => cur
    case Some(p) =>
      cur.fields.foreach { f =>
        p.fields.find(_.name == f.name).foreach { old =>
          require(old.dataType == f.dataType,
            s"schema evolution is additive-only: column '${f.name}' was " +
              s"${old.dataType.simpleString}, commit has " +
              s"${f.dataType.simpleString} (a retype is a rebuild)")
        }
      }
      val extra = cur.fields.filterNot(f => p.fieldNames.contains(f.name))
      org.apache.spark.sql.types.StructType(p.fields ++ extra)
  }

  /** One snapshot's full manifest, parsed from ONE collect (every
    * operation needs some subset; re-reading the parquet per facet would
    * double planning-time driver jobs on hot streaming paths).
    */
  private final case class Snapshot(files: Seq[String], txns: Seq[Long],
      deletes: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType],
      statsRaw: Seq[String] = Seq.empty,
      sizesRaw: Seq[String] = Seq.empty,
      partitionCols: Seq[String] = Seq.empty,
      columnMap: Map[String, Seq[String]] = Map.empty)

  /** Committed manifests are IMMUTABLE (a new commit is a new `v=N+1`
    * directory; expire deletes old ones, never rewrites), so parsed
    * snapshots cache per (table, version) — one SQL statement otherwise
    * pays several driver Spark jobs re-collecting the same manifest
    * (schema resolution, delete-mask check, scan). The cached entry is
    * validated against the manifest directory's CURRENT mtime (one
    * metadata RPC, not a job): a drop-and-recreate of the same table
    * path reuses version numbers with different content, and the fresh
    * directory's mtime evicts the stale parse. Bounded by wholesale
    * clear — the working set is a handful of hot snapshots.
    */
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int),
      (Long, Snapshot)]

  private def manifestAll(spark: SparkSession, table: String,
      v: Int): Snapshot = {
    val conf = spark.sparkContext.hadoopConfiguration
    val mtime = fsFor(table, conf)
      .getFileStatus(new Path(manifestDir(table, v))).getModificationTime
    val key = (table, v)
    val hit = manifestCache.get(key)
    if (hit != null && hit._1 == mtime) return hit._2
    // driver-side read (ManifestIO handles both this code's manifest
    // parts and legacy Spark-written ones): a cache-miss used to pay a
    // full `spark.read.parquet(...).collect` job for a few KB of metadata
    val rows = ManifestIO.read(conf, manifestDir(table, v))
    val snap = Snapshot(
      rows.collect { case ("f", f) => f }.toSeq.sorted,
      rows.collect { case ("t", t) => t.toLong }.toSeq.sorted,
      rows.collect { case ("d", p) => p }.toSeq.sorted,
      rows.collectFirst { case ("s", j) =>
        org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
      },
      rows.collect { case ("fs", s) => s }.toSeq.sorted,
      rows.collect { case ("fl", s) => s }.toSeq.sorted,
      rows.collectFirst { case ("p", s) =>
        s.split(",").toSeq.map(dec) }.getOrElse(Nil),
      rows.collect { case ("cm", s) =>
        val parts = s.split("\\|", -1).toSeq.map(dec)
        parts.head -> parts.tail
      }.toMap)
    if (manifestCache.size > 256) manifestCache.clear()
    manifestCache.put(key, (mtime, snap))
    snap
  }

  private def manifestFull(spark: SparkSession, table: String,
      v: Int): (Seq[String], Seq[Long], Seq[String]) = {
    val m = manifestAll(spark, table, v); (m.files, m.txns, m.deletes)
  }

  /** The ONE legacy-schema fallback rule (manifest schema, else the
    * first data footer, else fail loudly) — indexedRead, schemaAt, and
    * delete all resolve through here so the SQL surfaces and the API
    * reads can never diverge on it.
    */
  private def schemaOfSnapshot(spark: SparkSession, m: Snapshot,
      what: => String): org.apache.spark.sql.types.StructType = {
    val s = m.schema.getOrElse {
      require(m.files.nonEmpty, s"empty legacy snapshot $what has no schema")
      spark.read.parquet(m.files.head).schema
    }
    // a lake column is NULLABLE at read no matter how the committing
    // batch spelled it (a literal-born column stores nullable=false, but
    // files from BEFORE its additive evolution null-fill it) — the same
    // coercion spark.read applies to every user schema. Without this the
    // SQL surface plans non-null codegen over rows that ARE null.
    org.apache.spark.sql.types.StructType(
      s.fields.map(_.copy(nullable = true)))
  }

  /** The snapshot's stored table schema (None on legacy manifests from
    * before schema tracking — readers then fall back to per-footer
    * schemas, the old behavior).
    */
  private def schemaOf(spark: SparkSession, table: String,
      v: Int): Option[org.apache.spark.sql.types.StructType] =
    manifestAll(spark, table, v).schema

  /** (data files sorted, committed batch ids) of snapshot `v`. */
  private def manifest(spark: SparkSession, table: String,
      v: Int): (Seq[String], Seq[Long]) = {
    val (f, t, _) = manifestFull(spark, table, v); (f, t)
  }

  private def snapshotFiles(spark: SparkSession, table: String,
      v: Int): Seq[String] = manifest(spark, table, v)._1

  /** Commit SEQUENCE of a data/delete file, derived from its
    * version-stamped directory name (`c=`/`u=`/`r=`/`d=` carry the commit
    * version; streamed dirs are `b=<batchId>-v<version>`). Legacy `b=`
    * dirs without the suffix parse as 0 — correct, since they predate
    * every equality delete (the MOR path postdates them).
    */
  private def seqOfDir(dirName: String): Int = {
    // version numbers may carry a `-<uid>` staging suffix (see [[Staged]])
    def leadingInt(s: String): Int =
      s.takeWhile(_.isDigit) match {
        case "" => 0
        case d => d.toIntOption.getOrElse(0)
      }
    val eq = dirName.indexOf('=')
    if (eq < 0) 0
    else (dirName.take(eq), dirName.drop(eq + 1)) match {
      case ("c" | "u" | "r" | "d" | "m", n) => leadingInt(n)
      case ("b", rest) => rest.split("-v") match {
        case a if a.length >= 2 => leadingInt(a(1))
        case _ => 0
      }
      case _ => 0
    }
  }

  /** Walks up past partition-layout directories ([[PartDirPrefix]] —
    * `…/c=7-ab12cd34/__p_day=2026-01-01/part-….parquet`) to the commit
    * directory that carries the sequence; without this every
    * partition-laid file would parse as sequence 0 and ALL pending
    * deletes would mask it, resurrecting the MOR ordering bug the
    * sequence rule exists to prevent.
    */
  private def seqOf(path: String): Int = {
    var p = new Path(path).getParent
    while (p != null && p.getName.startsWith(PartDirPrefix)) p = p.getParent
    if (p == null) 0 else seqOfDir(p.getName)
  }

  /** Broadcast guard for the key-set joins (delete masks, upsert keys):
    * below this many rows the key side broadcasts (one tiny table to
    * every executor — the fast path for batch-sized CDC masks); above it
    * the join falls back to a plain shuffle join. The guard exists
    * because the MOR delete mask ACCUMULATES between compactions — a
    * table taking heavy churn without [[compact]] would otherwise OOM
    * every executor on a plain read, failing as a driver broadcast error
    * instead of degrading to a shuffle (the `Dedup.appendToDedupIndex`
    * maxBroadcastKeys idiom). Override per session with
    * `spark.conf.set("graft.versioned.maxBroadcastKeys", n)`.
    */
  val DefaultMaxBroadcastKeys: Long = 1L << 20

  private def maxBroadcastKeys(spark: SparkSession): Long =
    spark.conf.getOption("graft.versioned.maxBroadcastKeys")
      .map(_.toLong).getOrElse(DefaultMaxBroadcastKeys)

  /** `df` hinted for broadcast when its (estimated) row count fits the
    * guard; unhinted otherwise — AQE still gets to pick a broadcast join
    * from REAL runtime sizes on the fallback path, so the guard only
    * removes the unbounded FORCED broadcast, never the optimization.
    */
  private def maybeBroadcast(df: DataFrame, approxRows: Long): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    if (approxRows <= maxBroadcastKeys(df.sparkSession)) broadcast(df) else df
  }

  /** Pending delete-mask size of the CURRENT snapshot (equality keys +
    * recorded positions) — the compaction trigger: pipelines poll this
    * and run [[compact]] past a threshold, keeping the read-side mask
    * joins broadcast-sized. Parquet footer counts only; no data scan.
    */
  def pendingDeleteKeys(spark: SparkSession, table: String): Long = {
    val cur = currentVersion(table, spark.sparkContext.hadoopConfiguration)
    if (cur == 0) 0L
    else countRowsByFile(spark,
      manifestAll(spark, table, cur).deletes).values.sum
  }

  /** Per-file row counts of `files`, keyed by the [[dataSuffix]]-
    * normalized path. Read DRIVER-SIDE from the parquet footers (a row
    * count is footer metadata — the old one-job zero-column scan paid a
    * full job launch per readWithDeletes call just to size the delete
    * mask); an unreadable footer falls back to the job path. Zero-row
    * files are absent (look up with getOrElse 0). Tolerates heterogeneous
    * schemas across the files (only counts are read).
    */
  private def countRowsByFile(spark: SparkSession,
      files: Seq[String]): Map[String, Long] = {
    import org.apache.spark.sql.functions._
    if (files.isEmpty) return Map.empty
    ManifestIO.rowCounts(
        spark.sparkContext.hadoopConfiguration, files) match {
      case Some(counts) =>
        counts.collect { case (f, n) if n > 0 => dataSuffix(f) -> n }.toMap
      case None =>
        spark.read.parquet(files: _*)
          .select(input_file_name().as("__f"))
          .groupBy(col("__f")).count().collect()
          .map(r => dataSuffix(r.getString(0)) -> r.getLong(1)).toMap
    }
  }

  /** Column names of a POSITION-delete file (Iceberg's positional
    * deletes): rows are (referenced data file path, row index within it).
    * Distinguished from equality-delete files by this exact schema.
    */
  private val PosCols = Seq("__file", "__pos")

  private def isPosDelete(schema: org.apache.spark.sql.types.StructType) =
    schema.fieldNames.toSeq == PosCols

  /** Distributed read of `dataFiles` with equality-delete files applied —
    * the merge-on-read contract: a delete masks only rows in files
    * committed BEFORE it (Iceberg's sequence-number rule), so a later
    * re-insert of a deleted key is visible. Data files group by commit
    * sequence; each group anti-joins the union of its applicable delete
    * keys per key column (delete batches are batch-sized by contract —
    * the broadcast is bounded). Keep delete chains short: [[compact]]
    * materializes.
    */
  /** The RAW per-file-schema scan a mapped table needs (RENAME COLUMN is
    * pure metadata — [[renameColumn]]): the requested schema EXPANDS to
    * include every prior physical name of a renamed column, so files
    * from before the rename surface their values under the prior name
    * (and NULL under the current one), and [[logicalProject]] collapses
    * each name epoch back into the logical column with coalesce — sound
    * because a file carries exactly ONE name epoch (rename forbids
    * recycling a name any live file ever used). Unmapped tables pass
    * through untouched.
    */
  private def physicalScan(spark: SparkSession,
      schema: Option[org.apache.spark.sql.types.StructType],
      colMap: Map[String, Seq[String]],
      files: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    schema match {
      case None => spark.read.parquet(files: _*)
      case Some(sch) if colMap.isEmpty =>
        spark.read.schema(sch).parquet(files: _*)
      case Some(sch) =>
        val extra = colMap.toSeq.sortBy(_._1).flatMap { case (l, ps) =>
          sch.find(_.name == l).toSeq.flatMap(f =>
            ps.filterNot(p => sch.fieldNames.contains(p))
              .map(p => StructField(p, f.dataType, nullable = true)))
        }
        spark.read.schema(StructType(
          sch.fields.map(_.copy(nullable = true)) ++ extra))
          .parquet(files: _*)
    }
  }

  /** Collapse a [[physicalScan]] frame to the LOGICAL schema: each
    * renamed column coalesces over (current name, priors…) — exactly one
    * is non-null per file epoch.
    */
  private def logicalProject(df: DataFrame,
      schema: org.apache.spark.sql.types.StructType,
      colMap: Map[String, Seq[String]]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col}
    df.select(schema.fields.map { f =>
      colMap.get(f.name).filter(_.nonEmpty) match {
        case Some(ps) =>
          coalesce((f.name +: ps).map(n => col(s"`$n`")): _*).as(f.name)
        case None => col(s"`${f.name}`")
      }
    }.toSeq: _*)
  }

  /** prior physical name -> current logical name (the delete-file key
    * renaming direction).
    */
  private def reverseMap(colMap: Map[String, Seq[String]])
      : Map[String, String] =
    colMap.toSeq.flatMap { case (l, ps) => ps.map(_ -> l) }.toMap

  private def readWithDeletes(spark: SparkSession, dataFiles: Seq[String],
      delFiles: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      colMap: Map[String, Seq[String]] = Map.empty)
      : DataFrame = {
    import org.apache.spark.sql.functions._
    // the stored snapshot schema applied at scan: files from before an
    // additive evolution surface the new columns as NULL, with no
    // O(files) footer merging; renamed columns coalesce over their
    // name epochs (physicalScan/logicalProject)
    def project(df: DataFrame): DataFrame =
      schema.map(logicalProject(df, _, colMap)).getOrElse(df)
    def reader(fs: Seq[String]): DataFrame =
      project(physicalScan(spark, schema, colMap, fs))
    if (dataFiles.isEmpty) return spark.emptyDataFrame
    if (delFiles.isEmpty) return reader(dataFiles)
    val rev = reverseMap(colMap)
    // shape-sniff each delete file from its FOOTER (field names decide
    // pos-vs-eq and the anti-join key list) — a DataFrameReader schema
    // resolution per delete file per read was driver overhead
    val hconf = spark.sparkContext.hadoopConfiguration
    val metas = delFiles.map(p =>
      (seqOf(p), ManifestIO.fieldNames(hconf, p), p))
    // per-delete-file row counts feed the broadcast guard: a batch-sized
    // mask broadcasts, an accumulated-past-threshold mask shuffle-joins
    // instead of OOMing. Driver-side footer counts — zero jobs.
    val delRows: Map[String, Long] = countRowsByFile(spark, delFiles)
    // equality-delete files group by their full KEY COLUMN LIST (one
    // column is the common case; composite keys — the (user_id, region)
    // CDC shape — anti-join on every column)
    // equality-delete key columns REMAP through the rename history: a
    // delete file recorded before a rename spells the old name, the
    // logical read spells the new one — anti-joining on the raw name
    // would silently resurrect the masked rows
    val eqMeta = metas.collect {
      case (s, names, p) if names != PosCols =>
        (s, names.map(n => rev.getOrElse(n, n)), p)
    }
    val posMeta = metas.collect { case (s, names, p) if names == PosCols => (s, p) }
    // each delete file's scan recurs once per APPLICABLE seq group; both
    // counts are bounded by commits-since-compaction (the keep-chains-
    // short contract), and the files are key batches, not data
    dataFiles.groupBy(seqOf).toSeq.sortBy(_._1).map { case (s, fs) =>
      val posApplicable = posMeta.collect { case (ds, p) if ds > s => p }
      val base =
        if (posApplicable.isEmpty) reader(fs)
        else {
          // position deletes anti-join on the scan's own metadata
          // columns (path spellings agree: both sides come from
          // _metadata) — referenced on the RAW scan, before the logical
          // projection (hidden columns resolve at the relation) — then
          // the helper columns drop
          val pos = spark.read.parquet(posApplicable: _*)
          val raw = physicalScan(spark, schema, colMap, fs)
          val cols = schema.map(_.fieldNames)
            .getOrElse(spark.read.parquet(fs.head).schema.fieldNames).toSeq
          val unmasked = raw
            .withColumn("__file", col("_metadata.file_path"))
            .withColumn("__pos", col("_metadata.row_index"))
            .join(maybeBroadcast(pos, posApplicable
              .map(p => delRows.getOrElse(dataSuffix(p), 0L)).sum),
              PosCols, "left_anti")
          schema match {
            case Some(sch) => logicalProject(unmasked, sch, colMap)
            case None => unmasked.select(cols.map(col): _*)
          }
        }
      val masked = eqMeta.filter(_._1 > s).groupBy(_._2).toSeq
        .sortBy(_._1.mkString(","))
        .foldLeft(base) { case (df, (kcs, ms)) =>
          val keys = ms.map { m =>
            val kdf = spark.read.parquet(m._3)
            kdf.toDF(kdf.columns.map(n => rev.getOrElse(n, n)).toSeq: _*)
              .select(kcs.map(col): _*)
          }.reduce(_ unionAll _).distinct()
          df.join(maybeBroadcast(keys,
            ms.map(m => delRows.getOrElse(dataSuffix(m._3), 0L)).sum),
            kcs, "left_anti")
        }
      // a USING anti-join REORDERS output columns (key columns first) —
      // restore the table's order, or positional consumers (exceptAll,
      // unions) of a snapshot read would silently misalign whenever the
      // delete key is not the leading column
      masked.select(base.columns.map(col): _*)
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Prefix of the DIRECTORY-layout twin a partition column writes under
    * (`__p_<col>=<val>/`): `partitionBy` drops its columns from file
    * content, but a versioned table's files must stay SELF-CONTAINED
    * (every reader — time travel, CDF diffs, MOR anti-joins — reads leaf
    * files directly, where Hive-style partition inference never runs).
    * So the staged write duplicates each partition column under this
    * prefix, partitions the LAYOUT by the duplicate, and keeps the real
    * column in the data. Identity partitioning then needs no special
    * read path at all: a single-valued file's manifest stats collapse to
    * lo == hi, making [[ManifestFileIndex]]'s ordinary stats admission
    * an EXACT partition pruner, while the directory layout serves the
    * operational side (inspection, selective distcp, external retention).
    */
  private[sources] val PartDirPrefix = "__p_"

  private def writeData(df: DataFrame, dataDir: String,
      partitionCols: Seq[String] = Nil): Seq[String] = {
    import org.apache.spark.sql.functions.col
    // clear a torn prior attempt (data landed, manifest rename didn't) so
    // a crash can never permanently reject the version's data directory
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val fs = fsFor(dataDir, conf)
    val p = new Path(dataDir)
    if (fs.exists(p)) fs.delete(p, true)
    if (partitionCols.isEmpty)
      df.write.mode("errorifexists").parquet(dataDir)
    else {
      // cluster rows by partition value before the layout write
      // (Iceberg's write.distribution-mode=hash, done engine-side
      // because Spark's V1 write exec re-plans the ANALYZED query and
      // so ignores a RequiresDistributionAndOrdering rebalance): without
      // this, every task writes a file into every partition it happens
      // to hold — a 200-task insert into a 365-day table mints up to
      // 73k files per commit. The REBALANCE hint (not repartition) lets
      // AQE both coalesce small partitions and SPLIT a skewed hot one
      // instead of serializing it through a single task. Opt out with
      // spark.graft.write.distribution=none (e.g. to preserve a
      // hand-clustered within-partition order).
      val mode = df.sparkSession.conf
        .getOption("spark.graft.write.distribution").getOrElse("hash")
      val clustered =
        if (mode == "none") df
        else df.hint("rebalance", partitionCols.map(c => col(s"`$c`")): _*)
      val dup = partitionCols.foldLeft(clustered)((d, c) =>
        d.withColumn(s"$PartDirPrefix$c", col(s"`$c`")))
      dup.write.mode("errorifexists")
        .partitionBy(partitionCols.map(PartDirPrefix + _): _*)
        .parquet(dataDir)
    }
    // a ZERO-PARTITION frame (an AQE-emptied survivor rewrite — every
    // row of the touched files lost) writes only _SUCCESS, and the commit
    // then drops the touched files with no replacement (the metadata-drop
    // shape). The staged file set comes from this ONE recursive listing,
    // spelled via toUri — the `file:///...` qualified-URI form
    // `inputFiles`/`input_file_name()` use (Path.toString collapses the
    // empty authority to `file:/...`, which would strand the stats rows);
    // re-opening the directory as a DataFrame just to list it paid a
    // schema-inference footer read per commit.
    // hidden-path rule on EVERY segment under dataDir, not just the file
    // basename (Spark's InMemoryFileIndex convention): a leftover
    // _temporary/ or .spark-staging-*/ subtree from a dead task attempt
    // must not be adopted into the manifest as committed data. Partition
    // directories are exempt via the '=' carve-out (they are spelled
    // `_p_<col>=<value>` — PartDirPrefix starts with '_').
    def hidden(name: String): Boolean =
      name.startsWith(".") || (name.startsWith("_") && !name.contains("="))
    def underHiddenDir(f: org.apache.hadoop.fs.Path): Boolean = {
      var d = f.getParent
      while (d != null && d.toUri.getPath != p.toUri.getPath) {
        if (hidden(d.getName)) return true
        d = d.getParent
      }
      false
    }
    val it = fs.listFiles(p, true)
    val out = Seq.newBuilder[String]
    while (it.hasNext) {
      val st = it.next()
      val n = st.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".") &&
          !underHiddenDir(st.getPath))
        out += st.getPath.toUri.toString
    }
    out.result().sorted
  }

  /** Declared partition columns of `table` (identity transforms recorded
    * at CREATE — [[createEmpty]]'s overload / the catalog's PARTITIONED
    * BY): every data-writing commit lays its staged files under the
    * matching directory tree. Nil for unpartitioned tables and empty
    * paths. Partitioning is TABLE-LEVEL DDL fixed at creation; there is
    * deliberately no ALTER (repartitioning 100 TB is a rebuild).
    */
  def partitionColumns(spark: SparkSession, table: String): Seq[String] = {
    val cur = currentVersion(table, spark.sparkContext.hadoopConfiguration)
    if (cur == 0) Nil else manifestAll(spark, table, cur).partitionCols
  }

  /** Append `df` as a new snapshot; returns the new version number.
    * Pending equality deletes carry forward — they mask only OLDER files,
    * so the appended rows are visible even for previously-deleted keys.
    * An append is ADDITIVE, so losing the commit race simply rebases onto
    * the new head (re-merging the schema) and retries. Partitioned
    * tables lay the staged files under their partition directory tree.
    */
  def append(df: DataFrame, table: String): Int =
    appendImpl(df, table, partitionColumns(df.sparkSession, table))

  /** [[append]] with EXPLICIT partition columns — the staged-CTAS seam
    * ([[GraftCatalog.stageCreate]]): the table has no manifest yet, so
    * the partitioning cannot be discovered and must ride in.
    */
  private[sources] def appendImpl(df: DataFrame, table: String,
      pcols: Seq[String]): Int = {
    val spark = df.sparkSession
    val w = new Staged(table, "c", df, partitionCols = pcols)
    // retries-exhausted (or any throw) must not leak the staged data —
    // the same discipline as the COW paths
    try {
      commitLoop(spark, table, { (m, cur) =>
        val sch = mergeSchemas(m.schema, df.schema)
        val (files, stats, sizes) = w.at(cur + 1)
        Some(Content(m.files ++ files, m.txns, m.deletes, Some(sch),
          m.statsRaw ++ stats, m.sizesRaw ++ sizes,
          if (cur == 0) pcols else m.partitionCols, m.columnMap))
      }).get
    } catch { case e: Throwable => w.abort(); throw e }
  }

  /** Exactly-once micro-batch append (the streaming face — see
    * `EventsStream.versionedSink`): a batch commits at most once, ever.
    * The committed-batch set rides IN the manifest, so the check and the
    * data share one atomic rename and survive compaction's path rewrite;
    * a torn prior attempt (data written, no manifest) is cleared and
    * rewritten. Returns the new version, or None if already committed.
    */
  def appendBatch(df: DataFrame, table: String, batchId: Long): Option[Int] = {
    val spark = df.sparkSession
    // the committing version rides in the dir name so equality deletes
    // sequence correctly against streamed files (see seqOfDir); the txn
    // check runs against the head of EVERY attempt, so a redelivery —
    // including one racing the original — no-ops before writing data
    val w = new Staged(table, "b", df, batchId = Some(batchId),
      partitionCols = partitionColumns(spark, table))
    val r =
      try {
        commitLoop(spark, table, { (m, cur) =>
          if (m.txns.contains(batchId)) None
          else {
            val sch = mergeSchemas(m.schema, df.schema)
            val (files, stats, sizes) = w.at(cur + 1)
            Some(Content(m.files ++ files, m.txns :+ batchId, m.deletes,
              Some(sch), m.statsRaw ++ stats, m.sizesRaw ++ sizes,
              m.partitionCols, m.columnMap))
          }
        })
      } catch { case e: Throwable => w.abort(); throw e }
    if (r.isEmpty) w.abort() // lost to an identical redelivery mid-loop
    r
  }

  /** Read snapshot `version` (default: latest). A snapshot whose manifest
    * lists zero data files reads as an EMPTY frame AT THE STORED TABLE
    * SCHEMA (the manifest records it — downstream column references keep
    * resolving), not an error; only a legacy pre-schema-tracking empty
    * manifest degrades to a zero-column frame.
    */
  def read(spark: SparkSession, table: String,
      version: Option[Int] = None): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val v = version.getOrElse(currentVersion(table, conf))
    require(listVersions(table, conf).contains(v), s"no snapshot v=$v at $table")
    val m = manifestAll(spark, table, v)
    if (m.files.isEmpty && m.schema.isDefined)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema.get)
    else readWithDeletes(spark, m.files, m.deletes, m.schema,
      m.columnMap)
  }

  /** Overwrite commit (Iceberg's REPLACE): the new snapshot's content is
    * EXACTLY `df` — no carry-forward of previous data files (txn ids do
    * carry, preserving streaming replay facts). Previous snapshots stay
    * readable until expired; this is the "full re-release" shape a
    * periodically re-curated corpus publishes, where [[append]] is the
    * incremental-release shape. Returns the new version.
    */
  def replace(df: DataFrame, table: String): Int =
    replaceImpl(df, table, None)

  /** [[replace]] that additionally records an UPSTREAM WATERMARK in the
    * commit (Delta's `txn` appId/version action, the idiom Structured
    * Streaming uses for Kafka offsets): the mark rides in the same
    * atomic manifest rename as the data, so a maintenance loop that
    * derives this table from another table's version (e.g.
    * [[IncrementalView]]) is exactly-once by construction — a crash
    * between "data written" and "mark advanced" cannot exist. The mark
    * REPLACES the txn slot; don't mix with [[appendBatch]] on one table
    * (a derived table is owned by its maintenance loop).
    */
  def replaceWithMark(df: DataFrame, table: String, mark: Long): Int =
    replaceImpl(df, table, Some(mark))

  /** The last upstream watermark recorded by [[replaceWithMark]]. */
  def markOf(table: String): Option[Long] = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val cur = currentVersion(table, conf)
    if (cur == 0) None
    else manifestAll(SparkSession.active, table, cur).txns.lastOption
  }

  private def replaceImpl(df: DataFrame, table: String,
      mark: Option[Long]): Int =
    replacePcols(df, table, mark,
      partitionColumns(df.sparkSession, table))

  /** [[replace]] with EXPLICIT partition columns (the staged-RTAS seam):
    * a replace re-releases content AND schema, but the partitioning —
    * table-level DDL — carries unless the replacing DDL declares its own.
    */
  private[sources] def replacePcols(df: DataFrame, table: String,
      mark: Option[Long], pcols: Seq[String]): Int = {
    val spark = df.sparkSession
    val w = new Staged(table, "r", df, partitionCols = pcols)
    // content is exactly df regardless of the head, so a lost race just
    // rebases (txn ids carry from whatever head it lands on)
    try {
      commitLoop(spark, table, { (m, cur) =>
        val (files, stats, sizes) = w.at(cur + 1)
        // a replace RESETS the schema too: content is exactly df
        Some(Content(files, mark.map(Seq(_)).getOrElse(m.txns), Seq.empty,
          Some(df.schema), stats, sizes, pcols))
      }).get
    } catch { case e: Throwable => w.abort(); throw e }
  }

  /** Copy-on-write UPSERT (the Delta/Iceberg `MERGE INTO` shape): rows of
    * `updates` REPLACE current rows sharing their `keyCol` value; unseen
    * keys insert. Only the data files that CONTAIN a matched key are
    * rewritten — every other file carries forward into the new manifest
    * by reference, byte-untouched (file-level pruning, the manifest
    * analogue of zone-map skipping; pair it with key-clustered appends so
    * a key batch touches few files). Old snapshots still read the old
    * files: an upsert is just a new manifest like any other commit.
    *
    * Scale shape: one snapshot scan joined against the (broadcast)
    * update keys finds the touched files — a bounded driver list; the
    * rewrite reads ONLY those files. `updates` is assumed batch-sized
    * (the CDC/merge contract); a corpus-sized update is a rebuild, not a
    * merge. Returns the new version.
    */
  def upsert(updates: DataFrame, table: String, keyCol: String): Int =
    upsertKeys(updates, table, Seq(keyCol))

  /** COMPOSITE-key copy-on-write upsert: rows of `updates` replace
    * current rows sharing their FULL `keyCols` tuple; unseen tuples
    * insert. Same file-level pruning and conflict rules as the
    * single-column form.
    */
  def upsertKeys(updates: DataFrame, table: String,
      keyCols: Seq[String]): Int =
    upsertKeysImpl(updates, table, keyCols, nullSafeKeys = false)

  /** [[upsertKeys]] body with the key-equality mode explicit: plain SQL
    * equality for user upserts (NULL keys identify no row), null-safe
    * for [[replacePartitions]] (a NULL partition tuple IS a partition).
    */
  private def upsertKeysImpl(updates: DataFrame, table: String,
      keyCols: Seq[String], nullSafeKeys: Boolean): Int = {
    import org.apache.spark.sql.functions._
    val spark = updates.sparkSession
    require(keyCols.nonEmpty && keyCols.distinct == keyCols,
      s"bad key columns: $keyCols")
    val cur = currentVersion(table, spark.sparkContext.hadoopConfiguration)
    if (cur == 0) return append(updates, table)
    val basis = manifestAll(spark, table, cur)
    // cache + count in one pass: the count feeds the broadcast guard and
    // the cache keeps the updates pipeline from recomputing across the
    // touch probe and the anti-join
    val keys = updates.select(keyCols.map(col): _*).distinct().cache()
    val nKeys = keys.count()
    try {
      val touched = touchedBy(spark, table, basis, keys, nKeys, keyCols,
        nullSafe = nullSafeKeys)
      val touchedPaths = basis.files.filter(f => touched(dataSuffix(f)))
      // rewritten files jump PAST every pending delete's sequence, so the
      // deletes must be applied to the rows being rewritten (masked rows
      // must not resurrect); untouched files keep their old sequence and
      // stay masked by the carried delete entries
      val keyed = keys.toDF(keyCols.map(c => s"__k_$c"): _*)
      val survivors =
        if (touchedPaths.isEmpty) updates
        else readWithDeletes(spark, touchedPaths, basis.deletes,
            basis.schema, basis.columnMap)
          .join(maybeBroadcast(keyed, nKeys),
            keyJoinCond(keyCols, nullSafeKeys), "left_anti")
          .unionByName(updates, allowMissingColumns = true)
      val w = new Staged(table, "u", survivors,
        partitionCols = basis.partitionCols)
      cowCommit(spark, table, Some(w), basis, touched, updates.schema,
        what = s"upsert(${keyCols.mkString(",")})")
    } finally keys.unpersist()
  }

  /** Join condition of a key-tuple probe against a `__k_`-renamed key
    * frame: plain SQL equality for upsert/merge keys (a NULL key
    * component identifies no row), NULL-SAFE `<=>` for PARTITION tuples
    * (dynamic overwrite must replace the null partition too — Hive/
    * Delta/Iceberg's `__HIVE_DEFAULT_PARTITION__` semantics; plain
    * equality would silently leave the old null-partition rows AND land
    * the new ones as duplicates).
    */
  private def keyJoinCond(keyCols: Seq[String],
      nullSafe: Boolean): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.col
    keyCols.map { c =>
      if (nullSafe) col(s"`$c`") <=> col(s"`__k_$c`")
      else col(s"`$c`") === col(s"`__k_$c`")
    }.reduce(_ && _)
  }

  /** MANIFEST-STATS pre-prune for the copy-on-write touch probe: when
    * the key batch is driver-collectable, only files whose stats MAY
    * hold at least one key tuple get row-probed (an OR-of-conjunctions
    * admission over [[ManifestFileIndex]] — for an identity-partitioned
    * layout the lo==hi stats admit exactly the touched partitions, so a
    * one-partition dynamic overwrite of a 100 TB table row-probes one
    * partition, never the table). Conservative everywhere: oversized
    * key batches, stat-less manifests, pending rename mappings (stats
    * are keyed by PHYSICAL names), and untranslatable components all
    * degrade to probing every file.
    */
  /** Key batches above this build no admission predicate (the
    * OR-of-conjunctions tree would dwarf the row probe it saves);
    * upsert/CDC batches and dynamic-overwrite partition sets are
    * normally far under.
    */
  private val StatsProbeMaxKeys = 4096L

  private def statsProbeCandidates(spark: SparkSession, table: String,
      basis: Snapshot, keys: DataFrame, nKeys: Long,
      keyCols: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions._
    if (basis.statsRaw.isEmpty || basis.columnMap.nonEmpty ||
        nKeys <= 0 || nKeys > StatsProbeMaxKeys) return basis.files
    val schema = keys.schema
    val rows = keys.collect()
    if (rows.isEmpty) return Nil
    val attrs = keyCols.map(c =>
      AttributeReference(c, schema(c).dataType, nullable = true)())
    // BALANCED combine, never a left fold: a key batch near the 4096 cap
    // builds an Or tree that deep, and every recursive consumer of the
    // expression (admitted, catalyst transforms) then overflows the
    // stack. Balanced pairing keeps depth at log2(n) ~ 12.
    def balanced(es: Seq[Expression],
        mk: (Expression, Expression) => Expression): Expression =
      if (es.size == 1) es.head
      else balanced(es.grouped(2).map {
        case Seq(a, b) => mk(a, b)
        case Seq(a) => a
      }.toSeq, mk)
    // resolve the key ordinal through the schema, never literal 0: every
    // current caller passes select(keyCols...), but a wider keys frame
    // would silently build the In list from the wrong column and mis-prune
    val ki = schema.fieldIndex(keyCols.head)
    val disj =
      if (keyCols.size == 1 && rows.forall(!_.isNullAt(ki))) {
        // single non-null key column: one In probe — admitted() runs it
        // as a single batched bloom/stats pass instead of n point probes
        val dt = schema(keyCols.head).dataType
        In(attrs.head, rows.map(r =>
          Literal.create(r.getAs[Any](ki), dt)).toIndexedSeq)
      } else balanced(rows.toIndexedSeq.map { r =>
        keyCols.zip(attrs).map { case (c, a) =>
          val v = r.getAs[Any](schema.fieldIndex(c))
          if (v == null) IsNull(a): Expression
          else EqualTo(a, Literal.create(v, schema(c).dataType)): Expression
        }.reduce[Expression](And(_, _))
      }, Or(_, _))
    val idx = new ManifestFileIndex(spark, table, basis.files,
      basis.statsRaw.map(decodeStat), decodeSizes(basis.sizesRaw))
    val ok = idx.listFiles(Nil, Seq(disj)).flatMap(_.files)
      .map(st => dataSuffix(st.getPath.toString)).toSet
    basis.files.filter(f => ok(dataSuffix(f)))
  }

  /** Data files of `basis` holding at least one key tuple from `keys` —
    * the copy-on-write touch probe shared by [[upsertKeys]], [[merge]],
    * and the dynamic-overwrite commits. Stats-pruned first
    * ([[statsProbeCandidates]]), then ONE row probe over the admitted
    * files. The probe compares input_file_name() spellings against
    * manifest paths — normalize BOTH to the /data/ suffix (see
    * [[dataSuffix]]; a raw-string compare silently misses on URI
    * scheme/authority drift and carries stale rows forward).
    */
  private def touchedBy(spark: SparkSession, table: String,
      basis: Snapshot, keys: DataFrame, nKeys: Long,
      keyCols: Seq[String], nullSafe: Boolean = false): Set[String] = {
    import org.apache.spark.sql.functions._
    val candidates =
      statsProbeCandidates(spark, table, basis, keys, nKeys, keyCols)
    if (candidates.isEmpty) return Set.empty
    // renamed key columns resolve through the name-epoch coalesce
    // (physicalScan + per-column coalesce) so files from before the
    // rename still probe under the logical name; input_file_name() is
    // referenced at the scan, before the projection
    val raw = physicalScan(spark, basis.schema, basis.columnMap,
      candidates).withColumn("__f", input_file_name())
    val probe = basis.schema match {
      case Some(sch) if basis.columnMap.nonEmpty =>
        logicalProject(raw, org.apache.spark.sql.types.StructType(
          sch.fields.filter(f => keyCols.contains(f.name)) :+
            org.apache.spark.sql.types.StructField("__f",
              org.apache.spark.sql.types.StringType)),
          basis.columnMap)
      case _ => raw
    }
    val keyed = keys.select(keyCols.map(col): _*)
      .toDF(keyCols.map(c => s"__k_$c"): _*)
    probe
      .select(keyCols.map(col) :+ col("__f"): _*)
      .join(maybeBroadcast(keyed, nKeys), keyJoinCond(keyCols, nullSafe))
      .select(col("__f")).distinct()
      .collect().map(r => dataSuffix(r.getString(0))).toSet
  }

  /** One WHEN MATCHED branch of [[merge]], evaluated in declaration order
    * (the SQL MERGE rule: the FIRST clause whose condition holds wins for
    * a given matched row; later clauses never see it). Conditions and SET
    * expressions reference the target row as `t.<col>` and the source row
    * as `s.<col>` (the frames are joined under those aliases); a `None`
    * condition is WHEN MATCHED with no AND — always true.
    */
  sealed trait MergeAction
  /** `WHEN MATCHED [AND cond] THEN UPDATE SET col = expr, ...` — columns
    * absent from `set` keep the target row's value (SQL partial-update
    * semantics); SET expressions are cast to the target column's type.
    */
  final case class WhenMatchedUpdate(set: Map[String, Column],
      cond: Option[Column] = None) extends MergeAction
  /** `WHEN MATCHED [AND cond] THEN DELETE`. */
  final case class WhenMatchedDelete(cond: Option[Column] = None)
      extends MergeAction

  /** General `MERGE INTO` (the full Delta/Iceberg statement, of which
    * [[upsert]] is the update-all/insert-all special case): each target
    * row matched by its `keyCols` tuple goes through the `matched` clause
    * list — first true condition wins (update / delete / fall through
    * unchanged) — and each source row matching NO target row inserts when
    * `insertNotMatched` (optionally gated by `insertCond`, which sees
    * plain source columns). SQL equality matching: null key components
    * match nothing (a null-keyed source row can only insert).
    *
    * Copy-on-write with the [[upsert]] file-pruning shape: only data
    * files CONTAINING a matched key rewrite; everything else carries by
    * reference, so the rewrite cost is O(touched files), not O(table).
    * The source must be batch-sized (the merge contract) and must have at
    * most ONE row per key tuple — multiple matches for one target row
    * make the result order-dependent, so they reject loudly (Delta's
    * cardinality check). Returns the new version (current version when
    * the whole merge no-ops).
    */
  def merge(source: DataFrame, table: String, keyCols: Seq[String],
      matched: Seq[MergeAction] = Seq.empty,
      insertNotMatched: Boolean = true,
      insertCond: Option[Column] = None): Int = {
    import org.apache.spark.sql.functions._
    val spark = source.sparkSession
    require(keyCols.nonEmpty && keyCols.distinct == keyCols,
      s"bad key columns: $keyCols")
    require(matched.nonEmpty || insertNotMatched,
      "merge with no clauses is a no-op by construction")
    val Reserved = Seq("__m", "__a")
    require(!source.columns.exists(Reserved.contains),
      s"source may not contain reserved columns ${Reserved.mkString(",")}")
    val cur = currentVersion(table, spark.sparkContext.hadoopConfiguration)
    if (cur == 0) {
      // empty target: every source row is NOT MATCHED
      if (!insertNotMatched) return cur
      val ins = insertCond.map(source.filter).getOrElse(source)
      return append(ins, table)
    }
    val basis = manifestAll(spark, table, cur)
    val tSchema = basis.schema.getOrElse(
      spark.read.parquet(basis.files: _*).schema)
    require(!tSchema.fieldNames.exists(Reserved.contains),
      s"target may not contain reserved columns ${Reserved.mkString(",")}")
    // every SET target must resolve to a target column — a typo'd (or
    // evolution-intending) name would otherwise no-op silently, which is
    // an update that REPORTS success and applies nothing (Delta raises
    // the same analysis error)
    val unknownSets = matched.collect { case WhenMatchedUpdate(set, _) =>
      set.keySet.diff(tSchema.fieldNames.toSet) }.flatten
    require(unknownSets.isEmpty,
      s"UPDATE SET names unknown target column(s): ${unknownSets.mkString(",")}")
    // the cardinality check (one source row per key tuple) shares a cache
    // with the touch probe and the join; count() doubles as the broadcast
    // guard's estimate
    val src = source.cache()
    try {
      val dup = src.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
        .limit(1).collect()
      require(dup.isEmpty,
        s"merge source has multiple rows for key ${dup.head.toSeq.init}")
      val nKeys = src.count()
      val keys = src.select(keyCols.map(col): _*)
      val touched = touchedBy(spark, table, basis, keys, nKeys, keyCols)
      if (touched.isEmpty) {
        // nothing matched: the merge degenerates to an insert-only
        // append (or a true no-op — mint NO empty version either way)
        if (!insertNotMatched) return cur
        val ins = insertCond.map(src.filter).getOrElse(src)
        if (ins.isEmpty) return cur
        return append(ins, table)
      }
      val touchedPaths = basis.files.filter(f => touched(dataSuffix(f)))
      val t = readWithDeletes(spark, touchedPaths, basis.deletes,
        basis.schema, basis.columnMap)
      val joined = t.alias("t").join(
        maybeBroadcast(src.withColumn("__m", lit(true)), nKeys).alias("s"),
        keyCols.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _),
        "left_outer")
      // first-true clause index for this row; -1 = unmatched or no clause
      // held -> the target row carries unchanged
      val clauseIdx = matched.zipWithIndex.foldRight(lit(-1): Column) {
        case ((a, i), rest) =>
          val c = a match {
            case WhenMatchedUpdate(_, cnd) => cnd.getOrElse(lit(true))
            case WhenMatchedDelete(cnd) => cnd.getOrElse(lit(true))
          }
          when(c, lit(i)).otherwise(rest)
      }
      val withA = joined.withColumn("__a",
        when(col("s.__m").isNull, lit(-1)).otherwise(clauseIdx))
      val deleteIdx = matched.zipWithIndex
        .collect { case (WhenMatchedDelete(_), i) => i }
      val kept =
        if (deleteIdx.isEmpty) withA
        else withA.filter(!col("__a").isin(deleteIdx.map(Integer.valueOf): _*))
      val updates = matched.zipWithIndex
        .collect { case (WhenMatchedUpdate(set, _), i) => (i, set) }
      val outCols = tSchema.fields.map { f =>
        val base = col(s"t.${f.name}")
        updates.foldRight(base) { case ((i, set), rest) =>
          set.get(f.name) match {
            case Some(e) =>
              when(col("__a") === i, e.cast(f.dataType)).otherwise(rest)
            case None => rest
          }
        }.as(f.name)
      }
      val rewritten = kept.select(outCols.toSeq: _*)
      val inserts =
        if (!insertNotMatched) None
        else Some(insertCond.map(src.filter).getOrElse(src)
          .join(t.select(keyCols.map(col): _*), keyCols, "left_anti"))
      val survivors = inserts match {
        case Some(ins) => rewritten.unionByName(ins,
          allowMissingColumns = true)
        case None => rewritten
      }
      val commitSchema = inserts
        .map(_ => mergeSchemas(Some(tSchema), source.schema))
        .getOrElse(tSchema)
      val w = new Staged(table, "u", survivors,
        partitionCols = basis.partitionCols)
      cowCommit(spark, table, Some(w), basis, touched, commitSchema,
        what = s"merge(${keyCols.mkString(",")})")
    } finally src.unpersist()
  }

  /** The copy-on-write commit tail shared by [[upsert]] and [[delete]]:
    * validate-then-retry where a rebase is legal ONLY when (a) every
    * file this writer read-and-rewrote is still live at the head and
    * (b) the head gained no new delete files since the basis (a new
    * mask would have applied to the rows being rewritten — committing
    * past it would resurrect them). Anything else aborts LOUDLY with the
    * staged data cleaned up; concurrent APPENDS are commutative and
    * rebase fine (their files carry forward untouched — a concurrently
    * appended row sharing an upsert key keeps its own, later sequence).
    */
  private def cowCommit(spark: SparkSession, table: String,
      w: Option[StagedLike],
      basis: Snapshot, touched: Set[String],
      commitSchema: org.apache.spark.sql.types.StructType,
      what: String): Int =
    try {
      commitLoop(spark, table, { (m, cur) =>
        val live = m.files.map(dataSuffix).toSet
        val missing = touched.filterNot(live)
        val newDeletes = m.deletes.filterNot(basis.deletes.toSet)
        if (missing.nonEmpty || newDeletes.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"$what at $table conflicts with a concurrent commit: " +
              (if (missing.nonEmpty)
                s"${missing.size} touched file(s) no longer live"
              else s"${newDeletes.size} new delete file(s) since the " +
                "basis snapshot") + " — re-run against the new head")
        val carried = m.files.filterNot(f => touched(dataSuffix(f)))
        val carriedStats =
          m.statsRaw.filter(s => !touched(dataSuffix(statFileOf(s))))
        val carriedSizes =
          m.sizesRaw.filter(s => !touched(dataSuffix(statFileOf(s))))
        val sch = mergeSchemas(m.schema, commitSchema)
        // w = None is the metadata-only shape: touched files DROP with
        // no replacement rows (a delete whose predicate provably covers
        // them whole) — zero data read, zero data written
        val (files, stats, sizes) =
          w.map(_.at(cur + 1)).getOrElse((Nil, Nil, Nil))
        Some(Content(carried ++ files, m.txns, m.deletes, Some(sch),
          carriedStats ++ stats, carriedSizes ++ sizes,
          m.partitionCols, m.columnMap))
      }).get
    } catch {
      case e: Throwable => w.foreach(_.abort()); throw e
    }

  /** Conservative proof from one file's manifest column stats that EVERY
    * row satisfies `e` — the metadata-delete decision (Iceberg/Delta drop
    * whole data files when the delete predicate provably covers them;
    * the inverse of [[SkipIndexBase]]'s may-match admission). `false`
    * means "unknown", never "no". Soundness notes baked in:
    * - a NULL predicate result keeps the row, so every per-column proof
    *   additionally requires nullCount == 0 (legacy stats without null
    *   counts therefore never prove);
    * - numeric bounds ride as doubles: proofs demand |bound| and
    *   |literal| < 2^52 so integral rounding cannot overclaim;
    * - string bounds are TRUNCATED Iceberg-style (lower rounds down,
    *   upper rounds UP), i.e. slo <= true min <= true max <= shi — which
    *   is exactly the direction a must-match proof needs — and compare
    *   in UTF-8 code-point order ([[Utf8Order.ord]]), never JVM UTF-16.
    */
  private def mustMatchAll(stats: Map[String, ZoneMap.Stat],
      e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._
    // DECIMALS never prove: their stats round through double, so two
    // values distinct in decimal space can share a bound — a proof
    // could then overclaim (silent extra deletion). Float/double stats
    // are exact in the comparison domain; integrals are exact under
    // the 2^52 magnitude guard.
    def provableType(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType => true
      case _ => false
    }
    // widening rank: a cast unwraps only when every child value maps
    // order-preservingly and losslessly (under the magnitude guard)
    // into the target — a NARROWING cast overflows/wraps (or throws
    // under ANSI), so proving against the raw bounds would delete rows
    // the predicate does not cover
    def rank(dt: DataType): Int = dt match {
      case ByteType => 1
      case ShortType => 2
      case IntegerType => 3
      case LongType => 4
      case FloatType => 5
      case DoubleType => 6
      case _ => 99
    }
    def widening(from: DataType, to: DataType): Boolean =
      provableType(from) && (to match {
        case DoubleType => true // guard covers integral/float precision
        case LongType => rank(from) <= 4
        case IntegerType => rank(from) <= 3
        case ShortType => rank(from) <= 2
        case _ => false
      })
    def nameOf(x: Expression): Option[String] = x match {
      case a: AttributeReference if provableType(a.dataType) ||
        a.dataType == StringType => Some(a.name)
      case c: Cast => c.child match {
        case a: AttributeReference
          if widening(a.dataType, c.dataType) => Some(a.name)
        case _ => None
      }
      case _ => None
    }
    def litOf(x: Expression): Option[Any] = x match {
      case Literal(v, _) => Option(v)
      // the analyzer leaves literal-side implicit casts unfolded
      // (folding is the optimizer's); a foldable subtree is a constant
      case c if c.foldable && c.deterministic => Option(c.eval(null))
      case _ => None
    }
    def numOf(v: Any): Option[Double] = {
      val d = v match {
        case _: org.apache.spark.sql.types.Decimal => None // see above
        case n: Number => Some(n.doubleValue())
        case _ => None
      }
      d.filter(x => math.abs(x) < (1L << 52).toDouble)
    }
    def strOf(v: Any): Option[String] = v match {
      case s: org.apache.spark.unsafe.types.UTF8String => Some(s.toString)
      case s: String => Some(s)
      case _ => None
    }
    def noNulls(c: String) = stats.get(c).exists(_.nulls.contains(0L))
    // cmp > 0 form: "bound OP lit" with OP in {<, <=, >, >=, ==}
    def prove(c: String, v: Any,
        numOk: (Double, Double) => Boolean,
        strOk: (String, String) => Boolean,
        useHi: Boolean): Boolean =
      noNulls(c) && stats.get(c).exists { st =>
        (numOf(v), if (useHi) st.hi else st.lo) match {
          case (Some(x), Some(b))
            if math.abs(b) < (1L << 52).toDouble => numOk(b, x)
          case _ =>
            (strOf(v), if (useHi) st.shi else st.slo) match {
              case (Some(x), Some(b)) => strOk(b, x)
              case _ => false
            }
        }
      }
    def lt(c: String, v: Any, orEq: Boolean) = prove(c, v,
      (hi, x) => if (orEq) hi <= x else hi < x,
      (shi, x) => { val d = Utf8Order.ord.compare(shi, x)
        if (orEq) d <= 0 else d < 0 },
      useHi = true)
    def gt(c: String, v: Any, orEq: Boolean) = prove(c, v,
      (lo, x) => if (orEq) lo >= x else lo > x,
      (slo, x) => { val d = Utf8Order.ord.compare(slo, x)
        if (orEq) d >= 0 else d > 0 },
      useHi = false)
    def eq(c: String, v: Any) = lt(c, v, orEq = true) && gt(c, v, orEq = true)
    // attr-vs-literal in either spelling; `rev` is the flipped relation
    def cmp2(a: Expression, b: Expression)(fwd: (String, Any) => Boolean)(
        rev: (String, Any) => Boolean): Boolean =
      (nameOf(a), litOf(b)) match {
        case (Some(c), Some(v)) => fwd(c, v)
        case _ => (litOf(a), nameOf(b)) match {
          case (Some(v), Some(c)) => rev(c, v)
          case _ => false
        }
      }
    def go(x: Expression): Boolean = x match {
      case And(a, b) => go(a) && go(b)
      case Or(a, b) => go(a) || go(b)
      case Literal(true, org.apache.spark.sql.types.BooleanType) => true
      case LessThan(a, b) =>
        cmp2(a, b)(lt(_, _, orEq = false))(gt(_, _, orEq = false))
      case LessThanOrEqual(a, b) =>
        cmp2(a, b)(lt(_, _, orEq = true))(gt(_, _, orEq = true))
      case GreaterThan(a, b) =>
        cmp2(a, b)(gt(_, _, orEq = false))(lt(_, _, orEq = false))
      case GreaterThanOrEqual(a, b) =>
        cmp2(a, b)(gt(_, _, orEq = true))(lt(_, _, orEq = true))
      case EqualTo(a, b) => cmp2(a, b)(eq)(eq)
      case EqualNullSafe(a, b) => cmp2(a, b)(eq)(eq) // eq demands 0 nulls
      case IsNotNull(a) => nameOf(a).exists(noNulls)
      case IsNull(a) => nameOf(a).exists(c => stats.get(c).exists(st =>
        st.rows.isDefined && st.nulls.isDefined && st.nulls == st.rows))
      case _ => false
    }
    go(e)
  }

  /** Per-file column-stat maps of a snapshot, keyed by [[dataSuffix]]. */
  private def statsByFile(m: Snapshot)
      : Map[String, Map[String, ZoneMap.Stat]] =
    m.statsRaw.map(decodeStat).groupBy(s => dataSuffix(s.f))
      .map { case (f, ss) => f -> ss.map(s => s.c -> s).toMap }

  /** The ANALYZED catalyst condition of `pred` against `schema`: the
    * stats-proof and admission machinery need CATALYST comparisons with
    * implicit casts explicit (a raw Column in Spark 4 carries only an
    * UnresolvedFunction node tree); a zero-row local frame makes the
    * analysis driver-only. Shared by [[delete]]/[[replaceWhere]]/
    * [[compactWhere]] so a proof fix can never miss a sibling.
    */
  private def predExprOf(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      pred: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .filter(pred).queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition
      }.getOrElse(org.apache.spark.sql.catalyst.expressions.Literal(false))

  /** Files among `scanFiles` holding at least one row matching `pred` —
    * the row-level touch probe shared by [[delete]] and
    * [[replaceWhere]] (rename-mapped columns coalesce over their name
    * epochs; `input_file_name` is referenced at the raw scan, before
    * the logical projection). Returns [[dataSuffix]]-normalized paths.
    */
  private def filesMatching(spark: SparkSession, m: Snapshot,
      schema: org.apache.spark.sql.types.StructType,
      pred: org.apache.spark.sql.Column,
      scanFiles: Seq[String]): Set[String] = {
    import org.apache.spark.sql.functions._
    if (scanFiles.isEmpty) return Set.empty
    logicalProject(
        physicalScan(spark, m.schema, m.columnMap, scanFiles)
          .withColumn("__f", input_file_name()),
        org.apache.spark.sql.types.StructType(schema.fields :+
          org.apache.spark.sql.types.StructField("__f",
            org.apache.spark.sql.types.StringType)), m.columnMap)
      .filter(pred)
      .select(col("__f")).distinct()
      .collect().map(r => dataSuffix(r.getString(0))).toSet
  }

  /** Copy-on-write DELETE: drop rows matching `pred`. Three cost tiers,
    * best first: (1) files whose manifest stats PROVE every row matches
    * drop as pure metadata — never read, never rewritten (the
    * Iceberg/Delta metadata delete; dropping a whole retention window
    * from a 100 TB table is O(1) data I/O); (2) files holding some
    * matching row rewrite without the matches; (3) everything else
    * carries forward by reference (same machinery as [[upsert]]).
    * Returns the new version — a no-op commit is skipped (returns the
    * current version) when nothing matches.
    */
  def delete(spark: SparkSession, table: String,
      pred: org.apache.spark.sql.Column): Int = {
    import org.apache.spark.sql.functions._
    val cur = currentVersion(table, spark.sparkContext.hadoopConfiguration)
    require(cur > 0, s"no snapshot to delete from at $table")
    val m = manifestAll(spark, table, cur)
    val byFile = statsByFile(m)
    val schema = schemaOfSnapshot(spark, m, s"at $table")
    val predExpr = predExprOf(spark, schema, pred)
    val dropped = m.files.filter(f =>
      byFile.get(dataSuffix(f)).exists(mustMatchAll(_, predExpr)))
      .map(p => dataSuffix(p)).toSet
    val scanFiles = m.files.filterNot(f => dropped(dataSuffix(f)))
    val rewriteTouched = filesMatching(spark, m, schema, pred, scanFiles)
    if (rewriteTouched.isEmpty && dropped.isEmpty) return cur
    if (rewriteTouched.isEmpty)
      // pure metadata delete: covered files drop, nothing reads/rewrites
      return cowCommit(spark, table, None, m, dropped,
        schema, what = "delete(pred)")
    val touchedPaths = m.files.filter(f => rewriteTouched(dataSuffix(f)))
    // NULL-pred rows are NOT matches: keep them (coalesce, so the
    // survivor filter is the exact complement of the touch filter).
    // Pending equality deletes apply to the rewrite (see upsert).
    val survivors = readWithDeletes(spark, touchedPaths, m.deletes,
      m.schema, m.columnMap).filter(!coalesce(pred, lit(false)))
    val w = new Staged(table, "u", survivors,
      partitionCols = m.partitionCols)
    cowCommit(spark, table, Some(w), m, rewriteTouched ++ dropped,
      m.schema.getOrElse(survivors.schema), what = "delete(pred)")
  }

  /** Overwrite-by-predicate in ONE commit (Delta's `replaceWhere` /
    * Spark's `OverwriteByExpression` — the plan behind static
    * `INSERT OVERWRITE … PARTITION (p = v)`): rows matching `pred` are
    * replaced by `df`, everything else carries untouched. Three cost
    * tiers, exactly [[delete]]'s: files whose manifest stats PROVE every
    * row matches drop as pure metadata — for an identity-partitioned
    * table a whole-partition overwrite never reads the old partition at
    * all (lo == hi stats prove the drop); partially-matching files
    * rewrite without the matches; untouched files carry by reference.
    * The new rows commit in the SAME snapshot (atomic swap — readers see
    * the old partition or the new one, never neither). `df` must itself
    * satisfy `pred` (Delta's constraint): silently landing rows outside
    * the overwritten region would make the statement's complement
    * unpredictable, so violations reject loudly. Returns the version.
    */
  def replaceWhere(df: DataFrame, table: String,
      pred: org.apache.spark.sql.Column): Int = {
    import org.apache.spark.sql.functions._
    val spark = df.sparkSession
    val cur = currentVersion(table, spark.sparkContext.hadoopConfiguration)
    if (cur == 0) {
      require(df.filter(!coalesce(pred, lit(false))).isEmpty,
        s"replaceWhere at $table: rows violate the overwrite predicate")
      return append(df, table)
    }
    val m = manifestAll(spark, table, cur)
    require(df.filter(!coalesce(pred, lit(false))).isEmpty,
      s"replaceWhere at $table: rows violate the overwrite predicate")
    val byFile = statsByFile(m)
    val schema = schemaOfSnapshot(spark, m, s"at $table")
    val predExpr = predExprOf(spark, schema, pred)
    val dropped = m.files.filter(f =>
      byFile.get(dataSuffix(f)).exists(mustMatchAll(_, predExpr)))
      .map(dataSuffix).toSet
    val scanFiles = m.files.filterNot(f => dropped(dataSuffix(f)))
    val rewriteTouched = filesMatching(spark, m, schema, pred, scanFiles)
    val touchedPaths = m.files.filter(f => rewriteTouched(dataSuffix(f)))
    // survivors of partially-matching files (pred complement, NULL keeps)
    // union the NEW rows — one staged write, one atomic commit
    val keepers =
      if (touchedPaths.isEmpty) df
      else readWithDeletes(spark, touchedPaths, m.deletes, m.schema,
          m.columnMap)
        .filter(!coalesce(pred, lit(false)))
        .unionByName(df, allowMissingColumns = true)
    val w = new Staged(table, "u", keepers,
      partitionCols = m.partitionCols)
    cowCommit(spark, table, Some(w), m, rewriteTouched ++ dropped,
      mergeSchemas(m.schema, df.schema), what = "replaceWhere")
  }

  /** DYNAMIC partition overwrite (Spark's
    * `partitionOverwriteMode = dynamic` / `SupportsDynamicOverwrite`):
    * replace exactly the partitions PRESENT IN `df`, keep the rest.
    * This is [[upsertKeys]] with the partition tuple as the key — all
    * rows of a matched partition are by definition key-matched rows, so
    * the copy-on-write prune/rewrite machinery carries over unchanged
    * (partition-laid tables rewrite whole partition files; never O(table)).
    */
  def replacePartitions(df: DataFrame, table: String): Int = {
    val pcols = partitionColumns(df.sparkSession, table)
    require(pcols.nonEmpty,
      s"replacePartitions needs a partitioned table at $table")
    // null-safe: the NULL partition is a partition — dynamic overwrite
    // replaces it like any other (__HIVE_DEFAULT_PARTITION__ semantics)
    upsertKeysImpl(df, table, pcols, nullSafeKeys = true)
  }

  /** Merge-on-READ equality delete (Iceberg's equality-delete files —
    * the other half of the COW/MOR pair): instead of rewriting the files
    * that hold matches, the commit writes the key batch as a DELETE FILE
    * and carries every data file forward by reference — an O(batch)
    * write, independent of how many data files hold the keys, the shape
    * CDC-heavy ingest needs. Readers anti-join ([[readWithDeletes]]):
    * the delete masks rows only in files committed BEFORE it, so a later
    * append/upsert of the same key is visible. Cost moves to the read
    * side — [[compact]] materializes (its snapshot lists no delete
    * entries), so keep delete chains short between compactions.
    */
  def deleteByKeyMor(keys: DataFrame, table: String, keyCol: String): Int =
    deleteByKeysMor(keys, table, Seq(keyCol))

  /** COMPOSITE-key merge-on-read equality delete (Iceberg's multi-column
    * equality_ids): the delete file carries every key column, readers
    * anti-join on all of them — `(user_id, event_type)` deletes one
    * event family of a user without touching the rest. Key rows with a
    * NULL component match nothing (SQL equality semantics — a null key
    * identifies no row); same sequence rule and O(batch) write as the
    * single-column form.
    */
  def deleteByKeysMor(keys: DataFrame, table: String,
      keyCols: Seq[String]): Int = {
    import org.apache.spark.sql.functions._
    val spark = keys.sparkSession
    require(keyCols.nonEmpty && keyCols.distinct == keyCols,
      s"bad key columns: $keyCols")
    require(keyCols != PosCols,
      s"${PosCols.mkString(",")} is the reserved position-delete schema")
    require(currentVersion(table,
      spark.sparkContext.hadoopConfiguration) > 0,
      s"no snapshot to delete from at $table")
    // additive (one delete file, zero data files touched): a lost commit
    // race rebases onto the new head — the rename moves the delete file's
    // sequence PAST the interleaved commit, preserving "masks everything
    // committed before me" under the serial order the CAS establishes
    val w = new Staged(table, "d",
      keys.select(keyCols.map(col): _*).distinct().coalesce(1),
      withStats = false)
    try {
      commitLoop(spark, table, { (m, cur) =>
        val (added, _, _) = w.at(cur + 1)
        Some(Content(m.files, m.txns, m.deletes ++ added, m.schema,
          m.statsRaw, m.sizesRaw, m.partitionCols, m.columnMap))
      }).get
    } catch { case e: Throwable => w.abort(); throw e }
  }

  /** Merge-on-read MERGE — ONE atomic commit of (new data files at
    * sequence v, an equality-delete file at sequence v): the delete masks
    * the OLDER rows of every key in `upserts` ∪ `deleteKeys`, while the
    * upsert rows land AT v and survive their own mask (the sequence rule
    * is strict). This is the CDC ingest shape at scale — O(batch) writes
    * with zero data-file rewrites, where [[upsert]] (copy-on-write) pays
    * O(touched files) per commit; [[compact]] amortizes the read-side
    * anti-joins away. Returns the new version.
    */
  def mergeMor(upserts: DataFrame, deleteKeys: DataFrame, table: String,
      keyCol: String): Int =
    mergeMorImpl(upserts, deleteKeys, table, Seq(keyCol), None).get

  /** [[mergeMor]] on a COMPOSITE key — the delete file carries every key
    * column and masks the upserts' ∪ deleteKeys' older rows on all of
    * them in one atomic commit.
    */
  def mergeMorKeys(upserts: DataFrame, deleteKeys: DataFrame,
      table: String, keyCols: Seq[String]): Int =
    mergeMorImpl(upserts, deleteKeys, table, keyCols, None).get

  /** Exactly-once micro-batch [[mergeMor]] (the streaming CDC face — see
    * `EventsStream.cdcMorSink`): the batch id commits as a manifest txn
    * row in the SAME rename as the data and delete files, so a
    * redelivered batch no-ops. Returns the new version, or None if the
    * batch already committed.
    */
  def mergeMorBatch(upserts: DataFrame, deleteKeys: DataFrame,
      table: String, keyCol: String, batchId: Long): Option[Int] =
    mergeMorImpl(upserts, deleteKeys, table, Seq(keyCol), Some(batchId))

  private def mergeMorImpl(upserts: DataFrame, deleteKeys: DataFrame,
      table: String, keyCols: Seq[String],
      batchId: Option[Long]): Option[Int] = {
    import org.apache.spark.sql.functions._
    val spark = upserts.sparkSession
    require(keyCols.nonEmpty && keyCols.distinct == keyCols &&
      keyCols != PosCols, s"bad key columns: $keyCols")
    val allKeys = upserts.select(keyCols.map(col): _*)
      .unionByName(deleteKeys.select(keyCols.map(col): _*).toDF(keyCols: _*))
      .distinct().coalesce(1)
    // additive pair (data at seq v, delete at seq v — strict sequence
    // rule keeps the upserts alive through their own mask); both staged
    // dirs rename together on a rebase, so the pair stays same-sequence
    val wData = new Staged(table, "m", upserts,
      partitionCols = partitionColumns(spark, table))
    val wDel = new Staged(table, "d", allKeys, withStats = false)
    val r =
      try {
        commitLoop(spark, table, { (m, cur) =>
          if (batchId.exists(m.txns.contains)) None
          else {
            val sch = mergeSchemas(m.schema, upserts.schema)
            val (added, stats, sizes) = wData.at(cur + 1)
            val (delAdded, _, _) = wDel.at(cur + 1)
            Some(Content(m.files ++ added, m.txns ++ batchId.toSeq,
              m.deletes ++ delAdded, Some(sch), m.statsRaw ++ stats,
              m.sizesRaw ++ sizes, m.partitionCols, m.columnMap))
          }
        })
      } catch { case e: Throwable =>
        wData.abort(); wDel.abort(); throw e
      }
    if (r.isEmpty) { wData.abort(); wDel.abort() }
    r
  }

  /** Change-data-feed between two snapshots (Delta CDF re-expressed from
    * manifests alone): rows present in `v2` but not `v1` tagged
    * `insert`, rows present in `v1` but not `v2` tagged `delete` (an
    * update is a delete+insert pair — no hidden row ids). FILE-PRUNED:
    * carried files that no new equality delete touches contribute
    * nothing and are NEVER SCANNED — a COW upsert's CDF reads only the
    * rewritten files; equality deletes, by nature, put every older file
    * back in scope (their mask is content-defined, not file-defined).
    * The diff itself is `exceptAll` over the in-scope rows only.
    */
  def changesBetween(spark: SparkSession, table: String, v1: Int,
      v2: Int): DataFrame = {
    require(v1 <= v2, s"changesBetween: v1=$v1 > v2=$v2")
    val conf = spark.sparkContext.hadoopConfiguration
    val vs = listVersions(table, conf)
    require(vs.contains(v1) && vs.contains(v2),
      s"no snapshot v=$v1 or v=$v2 at $table")
    changesImpl(spark, table, manifestAll(spark, table, v1),
      manifestAll(spark, table, v2))
  }

  /** Per-commit change frames for every version in `(from, to]`, each
    * paired with its version — the streaming-CDF planning shape
    * ([[graft.streaming.VersionedCdfSource]]): adjacent diffs SHARE
    * their endpoint manifests (one driver read per version, not two per
    * diff — a 50-commit catch-up batch plans with 51 manifest reads,
    * not 100). `from = 0` yields version 1's full snapshot as inserts.
    */
  def changesPerCommit(spark: SparkSession, table: String, from: Int,
      to: Int): Seq[(Int, DataFrame)] = {
    import org.apache.spark.sql.functions._
    require(0 <= from && from <= to, s"changesPerCommit: $from > $to")
    if (from == to) return Seq.empty
    val conf = spark.sparkContext.hadoopConfiguration
    val vs = listVersions(table, conf).toSet
    require(((math.max(from, 1)) to to).forall(vs.contains),
      s"missing snapshot in ($from, $to] at $table")
    val snaps: Map[Int, Snapshot] =
      (math.max(from, 1) to to).map(v =>
        v -> manifestAll(spark, table, v)).toMap
    ((from + 1) to to).map { v =>
      val d =
        if (v == 1) readWithDeletes(spark, snaps(1).files, snaps(1).deletes,
          snaps(1).schema, snaps(1).columnMap)
          .withColumn("_change_type", lit("insert"))
        else changesImpl(spark, table, snaps(v - 1), snaps(v))
      v -> d
    }
  }

  private def changesImpl(spark: SparkSession, table: String,
      mA: Snapshot, mB: Snapshot): DataFrame = {
    import org.apache.spark.sql.functions._
    val (a, dA) = (mA.files, mA.deletes)
    val (b, dB) = (mB.files, mB.deletes)
    val newDels = dB.filterNot(dA.toSet)
    val common = a.toSet.intersect(b.toSet)
    // a carried file is in scope only if a NEW delete can mask it
    val affected = common.filter(f => newDels.exists(d => seqOf(d) > seqOf(f)))
    val oldSide = a.filterNot(common) ++ affected
    val newSide = b.filterNot(common) ++ affected
    // both sides read at v2's schema so the diff is column-consistent
    // across an additive evolution (v1 rows null-fill the new columns)
    val oldRows = readWithDeletes(spark, oldSide.toSeq.sorted, dA,
      mB.schema, mB.columnMap)
    val newRows = readWithDeletes(spark, newSide.toSeq.sorted, dB,
      mB.schema, mB.columnMap)
    def tag(df: DataFrame, t: String) =
      df.withColumn("_change_type", lit(t))
    if (oldSide.isEmpty && newSide.isEmpty)
      tag(mB.schema.map(sch => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch))
        .getOrElse(readWithDeletes(spark, b, dB, None).limit(0)), "insert")
    else if (oldSide.isEmpty) tag(newRows, "insert")
    else if (newSide.isEmpty) tag(oldRows, "delete")
    else tag(newRows.exceptAll(oldRows), "insert")
      .unionByName(tag(oldRows.exceptAll(newRows), "delete"))
  }

  /** Merge-on-read POSITION delete (Iceberg's positional delete files —
    * the delete shape a merge engine emits when it knows exactly which
    * rows lose): the predicate evaluates ONCE, now, against the current
    * snapshot, and the losing rows' (file, row-index) pairs land as a
    * delete file — O(matches) written, zero data files rewritten.
    * Readers anti-join on the scan's own metadata columns. Unlike
    * equality deletes the mask is file-scoped by construction, so later
    * appends and rewrites are immune without any re-evaluation of the
    * predicate (a rewritten file has a new path; its stale positions
    * match nothing). No-op (current version, no commit) when nothing
    * matches. [[compact]] materializes, as with every delete kind.
    */
  def deleteWhereMorPos(spark: SparkSession, table: String,
      pred: org.apache.spark.sql.Column): Int = {
    import org.apache.spark.sql.functions._
    val cur = currentVersion(table, spark.sparkContext.hadoopConfiguration)
    require(cur > 0, s"no snapshot to delete from at $table")
    val m = manifestAll(spark, table, cur)
    require(!m.schema.exists(s => PosCols.exists(s.fieldNames.contains)),
      s"table schema may not contain reserved columns ${PosCols.mkString(",")}")
    if (m.files.isEmpty) return cur
    // positions come from a RAW scan (the _metadata columns exist only at
    // the scan, not through readWithDeletes' joins). Rows already masked
    // by pending deletes may be recorded again — re-masking a masked row
    // is a no-op, never a resurrection.
    val reader = m.schema.map(spark.read.schema(_)).getOrElse(spark.read)
    val positions = reader.parquet(m.files: _*)
      .withColumn("__file", col("_metadata.file_path"))
      .withColumn("__pos", col("_metadata.row_index"))
      .filter(pred)
      .select(col("__file"), col("__pos"))
    val w = new Staged(table, "d", positions.coalesce(1), withStats = false)
    val (added0, _, _) = w.at(cur + 1)
    if (added0.isEmpty || spark.read.parquet(added0: _*).isEmpty) {
      // nothing matched: drop the empty attempt, mint no snapshot
      w.abort()
      return cur
    }
    try {
      commitLoop(spark, table, { (h, c) =>
        // the recorded positions reference the BASIS files by path; if a
        // concurrent commit rewrote/removed any of them, those positions
        // would silently match nothing — a lost delete. Abort instead.
        val live = h.files.map(dataSuffix).toSet
        val gone = m.files.map(dataSuffix).filterNot(live)
        if (gone.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"deleteWhereMorPos at $table conflicts with a concurrent " +
              s"commit: ${gone.size} referenced file(s) no longer live — " +
              "re-run against the new head")
        val (added, _, _) = w.at(c + 1)
        Some(Content(h.files, h.txns, h.deletes ++ added, h.schema,
          h.statsRaw, h.sizesRaw, h.partitionCols, h.columnMap))
      }).get
    } catch {
      case e: Throwable => w.abort(); throw e
    }
  }

  /** Plan-time pruned read of a snapshot (Iceberg's file-stats scan
    * pruning, through the [[SkipIndexBase]] translation): the manifest's
    * per-file min/max stats back a [[ManifestFileIndex]], so a plain
    * `.filter`/SQL WHERE on the returned frame opens only the files
    * whose bounds can match — pruned TIME TRAVEL with zero probe syntax.
    * Requires no pending MOR deletes (the planner path cannot apply
    * anti-join masks — [[compact]] first); legacy snapshots without
    * stats rows degrade to the full listing, and files a commit recorded
    * no stats for are unconditional candidates (the house contract).
    */
  def indexedRead(spark: SparkSession, table: String,
      version: Option[Int] = None): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val v = version.getOrElse(currentVersion(table, conf))
    require(listVersions(table, conf).contains(v), s"no snapshot v=$v at $table")
    val m = manifestAll(spark, table, v)
    require(m.deletes.isEmpty,
      s"indexedRead needs a delete-free snapshot (compact $table first)")
    require(m.columnMap.isEmpty,
      s"indexedRead cannot serve a pending column rename at $table " +
        "(planner file-index reads have no name-epoch coalesce) — " +
        "compact first to materialize it")
    val schema = schemaOfSnapshot(spark, m, s"v=$v")
    if (m.files.isEmpty) return spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // manifest-recorded byte lengths let the index synthesize every
    // FileStatus — zero per-file RPCs at plan time (legacy snapshots
    // without `fl` rows fall back to getFileStatus per uncovered file)
    val index = new ManifestFileIndex(spark, table, m.files,
      m.statsRaw.map(decodeStat), decodeSizes(m.sizesRaw))
    IndexedTable.toDataFrame(spark, index, schema)
  }

  /** Default [[vacuumOrphans]] grace period: an unreferenced file younger
    * than this is presumed to be a CONCURRENT writer's staged-but-not-yet-
    * committed data and is left alone (Iceberg's remove_orphan_files
    * defaults to 3 days for the same race). Without it, a vacuum running
    * beside a slow append could delete the staged files moments before
    * that append's manifest rename succeeds — a committed snapshot
    * referencing deleted data.
    */
  val DefaultVacuumGraceMs: Long = 24L * 3600 * 1000

  /** Delete data/delete files under the table that NO surviving manifest
    * references (torn attempts orphaned by an interleaved commit, debris
    * from killed jobs) and that are OLDER than `graceMs` (see
    * [[DefaultVacuumGraceMs]]; pass 0 only when no writer can be running).
    * Returns the deleted paths. Matching is by the path's `/data/...`
    * suffix, so filesystem-URI spelling differences between the manifest
    * (inputFiles) and the listing cannot cause a live file to look
    * orphaned — both sides normalize.
    */
  def vacuumOrphans(spark: SparkSession, table: String,
      graceMs: Long = DefaultVacuumGraceMs): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val referenced = listVersions(table, conf).flatMap { v =>
      val (f, _, d) = manifestFull(spark, table, v); f ++ d
    }.map(dataSuffix).toSet
    val fs = fsFor(table, conf)
    val dataRoot = new Path(s"$table/data")
    if (!fs.exists(dataRoot)) return Seq.empty
    val cutoff = System.currentTimeMillis() - graceMs
    val it = fs.listFiles(dataRoot, true)
    val all = scala.collection.mutable.ArrayBuffer.empty[Path]
    while (it.hasNext) {
      val st = it.next()
      if (st.getModificationTime <= cutoff) all += st.getPath
    }
    // _SUCCESS/.crc markers are committer metadata, never manifest
    // entries — not orphans (they go when their directory goes)
    val orphans = all
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .filterNot(p => referenced.contains(dataSuffix(p.toString)))
    orphans.foreach(p => fs.delete(p, false))
    // drop leaf dirs holding nothing but committer metadata, so a
    // vacuumed attempt leaves no husk
    orphans.map(_.getParent).distinct.foreach { d =>
      if (fs.exists(d) && fs.listStatus(d).forall { s =>
        val n = s.getPath.getName; n.startsWith("_") || n.startsWith(".")
      }) fs.delete(d, true)
    }
    orphans.map(_.toString).toSeq
  }

  /** Per-data-file byte lengths of a snapshot, from the manifest's
    * commit-time records alone (no filesystem RPCs). Files from legacy
    * pre-`fl` snapshots are absent. Keys are the manifest's path
    * spellings; [[compactSmall]] and monitoring dashboards are the
    * consumers.
    */
  def dataFileSizes(spark: SparkSession, table: String,
      version: Option[Int] = None): Map[String, Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val v = version.getOrElse(currentVersion(table, conf))
    if (v == 0) return Map.empty
    val m = manifestAll(spark, table, v)
    val live = m.files.map(dataSuffix).toSet
    decodeSizes(m.sizesRaw).filter(kv => live(dataSuffix(kv._1)))
  }

  /** (total data bytes, row count) of a snapshot from the manifest
    * alone — the JOIN-PLANNING statistics seam ([[VersionedSparkTable]]
    * reports them through `SupportsReportStatistics`, so a small
    * versioned dimension auto-broadcasts instead of defaulting to the
    * "assume huge" size). All-or-nothing per facet: a PARTIAL byte sum
    * would UNDERCOUNT a large table and wrongly broadcast it, so any
    * size-less (legacy) file yields None; rows additionally demand a
    * delete-free snapshot (masked rows would overcount — None keeps the
    * estimate honest, bytes alone still flow).
    */
  private[sources] def snapshotStats(spark: SparkSession, table: String,
      v: Int): (Option[Long], Option[Long]) = {
    if (v == 0) return (Some(0L), Some(0L))
    val m = manifestAll(spark, table, v)
    if (m.files.isEmpty) return (Some(0L), Some(0L))
    val sizes = decodeSizes(m.sizesRaw)
    val bytes =
      if (m.files.forall(sizes.contains)) Some(m.files.map(sizes).sum)
      else None
    val rows: Option[Long] =
      if (m.deletes.nonEmpty) None
      else {
        val byFile = m.statsRaw.map(decodeStat).groupBy(_.f)
        val per = m.files.map(f =>
          byFile.get(f).flatMap(_.flatMap(_.rows).headOption))
        if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
      }
    (bytes, rows)
  }

  /** Bin-pack SMALL-FILE compaction (Iceberg's `rewrite_data_files`
    * binpack strategy): rewrite only the current snapshot's data files
    * SMALLER than `smallBytes` into ~`smallBytes`-sized files; every file
    * at or above the threshold — and every legacy file with no recorded
    * size — carries forward BY REFERENCE, byte-untouched. Candidate
    * selection is manifest-only (the commit-time `fl` rows — zero
    * filesystem RPCs), and the rewrite reads O(small bytes), never the
    * table: the maintenance shape that keeps a streaming-ingest table
    * healthy at 100 TB, where [[compact]] (whole-table) is a rebuild.
    *
    * Pending equality/position deletes APPLY to the rewritten rows (the
    * new file's sequence jumps past every pending delete — masked rows
    * must not resurrect) and carry forward for the untouched files, so
    * this does NOT reset [[pendingDeleteKeys]]; [[compact]] does. The
    * commit is copy-on-write and shares [[cowCommit]]'s conflict rules:
    * concurrent appends rebase fine, a concurrent rewrite of a packed
    * file or a new delete mask aborts loudly. Returns the new version,
    * or the current one when fewer than two files qualify.
    */
  def compactSmall(spark: SparkSession, table: String, smallBytes: Long,
      targetFiles: Int = 0): Int = {
    require(smallBytes > 0, s"smallBytes=$smallBytes")
    val cur = currentVersion(table, spark.sparkContext.hadoopConfiguration)
    require(cur > 0, s"no snapshot to compact at $table")
    val m = manifestAll(spark, table, cur)
    val sizeOf = dataFileSizes(spark, table, Some(cur))
      .map { case (p, l) => dataSuffix(p) -> l }
    val small = m.files.filter(f =>
      sizeOf.get(dataSuffix(f)).exists(_ < smallBytes))
    if (small.size < 2) return cur
    val total = small.map(f => sizeOf(dataSuffix(f))).sum
    // FLOOR, not ceil: packed outputs must average AT OR ABOVE the
    // threshold, or every output re-qualifies as small and the next
    // maintenance run repacks the same bytes forever — compaction must
    // converge (n packed files re-trigger only by falling below 2)
    val n = if (targetFiles > 0) targetFiles
      else math.max(1, (total / smallBytes).toInt)
    val survivors = readWithDeletes(spark, small, m.deletes, m.schema,
      m.columnMap).repartition(n)
    val w = new Staged(table, "u", survivors,
      partitionCols = m.partitionCols)
    cowCommit(spark, table, Some(w), m, small.map(dataSuffix).toSet,
      m.schema.getOrElse(survivors.schema), what = "compactSmall")
  }

  /** PREDICATE-SCOPED compaction (Iceberg's `rewrite_data_files(where
    * => …)`): rewrite only the files whose manifest stats PROVE every
    * row satisfies `pred` — for an identity-partitioned layout a
    * partition predicate selects exactly that partition's files (lo ==
    * hi stats), so one hot partition of a 100 TB table compacts at
    * O(partition bytes) while every other file carries BY REFERENCE,
    * byte-untouched. Selection is manifest-only (must-match is
    * [[delete]]'s proof tier — a file holding ANY out-of-scope or
    * unprovable row is left alone, so the commit never widens the
    * scope the caller named). `smallBytes > 0` additionally restricts
    * candidates to files under that size (partition-scoped small-file
    * maintenance); `targetFiles` overrides the output count (default:
    * pack to ~128 MiB files). Pending deletes APPLY to the rewritten
    * rows and carry for untouched files ([[compactSmall]]'s contract);
    * conflict rules are [[cowCommit]]'s. Returns the new version, or
    * the current one when fewer than two files qualify.
    */
  def compactWhere(spark: SparkSession, table: String,
      pred: org.apache.spark.sql.Column, smallBytes: Long = 0L,
      targetFiles: Int = 0): Int = {
    val cur = currentVersion(table, spark.sparkContext.hadoopConfiguration)
    require(cur > 0, s"no snapshot to compact at $table")
    val m = manifestAll(spark, table, cur)
    val byFile = statsByFile(m)
    val schema = schemaOfSnapshot(spark, m, s"at $table")
    val predExpr = predExprOf(spark, schema, pred)
    val sizeOf = decodeSizes(m.sizesRaw)
      .map { case (p, l) => dataSuffix(p) -> l }
    val scoped = m.files.filter(f =>
      byFile.get(dataSuffix(f)).exists(mustMatchAll(_, predExpr)))
    val candidates =
      if (smallBytes <= 0) scoped
      else scoped.filter(f => sizeOf.get(dataSuffix(f)).exists(_ < smallBytes))
    if (candidates.size < 2) return cur
    val total = candidates.map(f => sizeOf.getOrElse(dataSuffix(f), 0L)).sum
    val n = if (targetFiles > 0) targetFiles
      else if (smallBytes > 0) math.max(1, (total / smallBytes).toInt)
      else math.max(1, (total / (128L << 20)).toInt)
    val survivors = readWithDeletes(spark, candidates, m.deletes, m.schema,
      m.columnMap).repartition(n)
    val w = new Staged(table, "u", survivors,
      partitionCols = m.partitionCols)
    cowCommit(spark, table, Some(w), m, candidates.map(dataSuffix).toSet,
      m.schema.getOrElse(survivors.schema), what = "compactWhere")
  }

  /** Rewrite the CURRENT snapshot into `numFiles` files as a new snapshot
    * — content-invisible (committed batch ids carried forward); old
    * snapshots keep reading the old files. No-op (returns 0) on an empty
    * table.
    */
  def compact(spark: SparkSession, table: String, numFiles: Int): Int = {
    val cur = currentVersion(table, spark.sparkContext.hadoopConfiguration)
    if (cur == 0) return 0
    val basis = manifestAll(spark, table, cur)
    val snap = read(spark, table, Some(cur))
    val w = new Staged(table, "c", snap.repartition(numFiles),
      partitionCols = basis.partitionCols)
    try {
      commitLoop(spark, table, { (h, c) =>
        // a compaction is a whole-table COW: it can only land on the
        // exact snapshot it read (ANY interleaved commit — append,
        // delete, merge — changes the content it would be erasing)
        if (h.files != basis.files || h.deletes != basis.deletes)
          throw new java.util.ConcurrentModificationException(
            s"compact at $table conflicts with a concurrent commit " +
              "(table changed since the compaction read) — re-run")
        val (added, stats, sizes) = w.at(c + 1)
        Some(Content(added, h.txns, Seq.empty, Some(snap.schema), stats,
          sizes, h.partitionCols))
      }).get
    } catch {
      case e: Throwable => w.abort(); throw e
    }
  }

  // ---- named refs: immutable tags + the published pointer (WAP) ----

  private def refsRoot(table: String) = s"$table/_refs"
  private def tagPath(table: String, name: String) =
    new Path(s"${refsRoot(table)}/t_${enc(name)}")

  /** Pin `name` to snapshot `version` (default: the current head) —
    * Iceberg's immutable TAG: a named, human-meaningful time-travel
    * anchor ("release-2026-08") that [[expire]]/[[expireOlderThan]]
    * retention PROTECTS regardless of age. Creation is atomic (staged
    * dir + rename-CAS, the manifest idiom): re-tagging an existing name
    * fails loudly — drop it first ([[dropTag]]) if you really mean to
    * move it. Returns the pinned version.
    */
  def tag(table: String, name: String, version: Option[Int] = None): Int = {
    require(name.nonEmpty, "empty tag name")
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val v = version.getOrElse(currentVersion(table, conf))
    require(listVersions(table, conf).contains(v),
      s"no snapshot v=$v at $table")
    val fs = fsFor(table, conf)
    val tmp = new Path(s"${refsRoot(table)}/_tmp_${newUid()}")
    fs.mkdirs(tmp)
    fs.create(new Path(tmp, s"v=$v"), false).close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      new Path(table).toUri, conf)
    try fc.rename(tmp, tagPath(table, name))
    catch {
      case e: java.io.IOException =>
        fs.delete(tmp, true)
        // only a REAL collision is "already exists" — a transient IO
        // fault must surface as itself, not as a permanent-looking
        // name conflict telling the caller not to retry
        if (fs.exists(tagPath(table, name)))
          throw new IllegalStateException(
            s"tag '$name' already exists at $table")
        else throw e
    }
    v
  }

  /** All tags of `table`, name -> pinned version. */
  def tags(table: String): Map[String, Int] = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val fs = fsFor(table, conf)
    val root = new Path(refsRoot(table))
    if (!fs.exists(root)) Map.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("t_"))
      .flatMap { s =>
        val name = dec(s.getPath.getName.stripPrefix("t_"))
        fs.listStatus(s.getPath).toSeq
          .map(_.getPath.getName).find(_.startsWith("v="))
          .map(m => name -> m.stripPrefix("v=").toInt)
      }.toMap
  }

  /** Read the snapshot a tag pins. */
  def readTag(spark: SparkSession, table: String, name: String): DataFrame = {
    val v = tags(table).getOrElse(name,
      throw new IllegalArgumentException(s"no tag '$name' at $table"))
    read(spark, table, Some(v))
  }

  /** Remove a tag (the snapshot itself stays until retention drops it). */
  def dropTag(table: String, name: String): Unit = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    fsFor(table, conf).delete(tagPath(table, name), true)
  }

  /** Advance the PUBLISHED pointer to `version` (default: current head) —
    * the write-audit-publish pattern (Iceberg's WAP / staging branch +
    * fast-forward): writers commit normally (the linear version chain is
    * the audit/staging area), audits run against the head, and only an
    * explicit publish makes a snapshot visible to [[readPublished]]
    * consumers. The pointer is an append-only sequence of marker files
    * (`r=<seq>-v<version>`, atomic create-no-overwrite CAS on the seq),
    * so concurrent publishes serialize and the publish history is
    * inspectable. Publishing an OLDER version is legal — that is the
    * "unpublish a bad release" lever — and never rewrites data.
    */
  def publish(table: String, version: Option[Int] = None): Int = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val v = version.getOrElse(currentVersion(table, conf))
    require(listVersions(table, conf).contains(v),
      s"no snapshot v=$v at $table")
    val fs = fsFor(table, conf)
    val dir = new Path(s"${refsRoot(table)}/pub")
    fs.mkdirs(dir)
    var attempt = 0
    while (attempt < 8) {
      val seq = pubEntries(table, conf).lastOption.map(_._1).getOrElse(0) + 1
      // the CAS must be keyed on the SEQ ALONE: the marker is a DIRECTORY
      // named r=<seq> whose version rides inside (a v=<ver> child), staged
      // and renamed (the manifest idiom) — a name carrying the version
      // would let two publishers of DIFFERENT versions both win one seq
      // (different filenames, both creates succeed) and leave the head
      // nondeterministic
      val tmp = new Path(s"${refsRoot(table)}/_ptmp_${newUid()}")
      fs.mkdirs(tmp)
      fs.create(new Path(tmp, s"v=$v"), false).close()
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        new Path(table).toUri, conf)
      try {
        fc.rename(tmp, new Path(dir, s"r=$seq"))
        return v
      } catch {
        case _: java.io.IOException => // lost the seq; clean and retry
          fs.delete(tmp, true)
          attempt += 1
      }
    }
    throw new IllegalStateException(
      s"publish at $table failed after 8 retries (concurrent publishers)")
  }

  private def pubEntries(table: String,
      conf: Configuration): Seq[(Int, Int)] = {
    val fs = fsFor(table, conf)
    val dir = new Path(s"${refsRoot(table)}/pub")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.startsWith("r="))
      .flatMap { st =>
        val n = st.getPath.getName
        if (st.isDirectory)
          // current format: r=<seq>/v=<ver>
          n.stripPrefix("r=").toIntOption.flatMap { s =>
            fs.listStatus(st.getPath).toSeq.map(_.getPath.getName)
              .find(_.startsWith("v="))
              .flatMap(_.stripPrefix("v=").toIntOption).map((s, _))
          }
        else
          // legacy flat-file format: r=<seq>-v<ver>
          n.stripPrefix("r=").split("-v") match {
            case Array(s, v) =>
              for (si <- s.toIntOption; vi <- v.toIntOption) yield (si, vi)
            case _ => None
          }
      }.sortBy(_._1)
  }

  /** The currently published snapshot, or None when the table has never
    * published (consumers then fall back to the head — a table that
    * doesn't use WAP behaves exactly as before).
    */
  def publishedVersion(table: String): Option[Int] =
    pubEntries(table,
      SparkSession.active.sparkContext.hadoopConfiguration)
      .lastOption.map(_._2)

  /** The consumer-facing read: the published snapshot when the table
    * uses write-audit-publish, the head otherwise.
    */
  def readPublished(spark: SparkSession, table: String): DataFrame = {
    val v = publishedVersion(table)
      .getOrElse(currentVersion(table,
        spark.sparkContext.hadoopConfiguration))
    read(spark, table, Some(v))
  }

  /** Every version a ref protects from retention: all tags + the CURRENT
    * published version (older publish-history entries are audit log, not
    * pins).
    */
  private def refVersions(table: String, conf: Configuration): Set[Int] =
    tags(table).values.toSet ++
      pubEntries(table, conf).lastOption.map(_._2).toSet

  /** ROLL BACK the table to snapshot `toVersion` — a NEW commit whose
    * content is exactly the old snapshot's (files, deletes, schema, and
    * per-file stats all carried by reference; zero data I/O), Iceberg's
    * rollback_to_snapshot. History is preserved: the damaged snapshots
    * stay readable until retention drops them, and writers continue from
    * the rolled-back content. Committed streaming batch ids carry from
    * the HEAD (not the target), so exactly-once replay facts survive the
    * rollback — a redelivered batch whose data was rolled back still
    * no-ops; re-ingest it under a NEW batch id if you want it back.
    * No-ops (no new commit) when the head already is `toVersion`.
    */
  def rollback(spark: SparkSession, table: String, toVersion: Int): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    require(listVersions(table, conf).contains(toVersion),
      s"no snapshot v=$toVersion at $table")
    val target = manifestAll(spark, table, toVersion)
    commitLoop(spark, table, { (m, cur) =>
      if (cur == toVersion) None
      else Some(Content(target.files, m.txns, target.deletes, target.schema,
        target.statsRaw, target.sizesRaw, target.partitionCols,
        target.columnMap))
    }).getOrElse(toVersion)
  }

  // ---- timestamp time travel ----

  /** The snapshot current AS OF wall-clock `tsMillis` (the latest commit
    * at or before it, by manifest commit time — Delta's TIMESTAMP AS OF).
    * Fails when the table didn't exist yet.
    */
  def versionAsOf(table: String, tsMillis: Long): Int = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val fs = fsFor(table, conf)
    val vs = listVersions(table, conf).filter(v =>
      fs.getFileStatus(new Path(manifestDir(table, v)))
        .getModificationTime <= tsMillis)
    require(vs.nonEmpty, s"no snapshot at or before ts=$tsMillis at $table")
    vs.max
  }

  /** Read the table as of a wall-clock instant. */
  def readAsOf(spark: SparkSession, table: String,
      tsMillis: Long): DataFrame =
    read(spark, table, Some(versionAsOf(table, tsMillis)))

  /** Per-snapshot table history as a DataFrame (Delta's DESCRIBE HISTORY
    * shape, manifest-derived): version, commit time (manifest mtime),
    * data-file count, recorded data bytes, pending delete-file count,
    * committed-txn count. All driver-held manifest metadata — no data
    * scan, no per-data-file RPCs (bytes come from the `fl` rows; legacy
    * snapshots without them report 0).
    */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = fsFor(table, conf)
    listVersions(table, conf).map { v =>
      val m = manifestAll(spark, table, v)
      val committedAt = new java.sql.Timestamp(
        fs.getFileStatus(new Path(manifestDir(table, v)))
          .getModificationTime)
      val live = m.files.map(dataSuffix).toSet
      val bytes = decodeSizes(m.sizesRaw)
        .collect { case (p, len) if live(dataSuffix(p)) => len }.sum
      (v, committedAt, m.files.size, bytes, m.deletes.size, m.txns.size)
    }.toDF("version", "committed_at", "n_files", "bytes",
      "n_delete_files", "n_txns")
  }

  /** One maintenance action taken by [[maintain]], for logging/tests. */
  final case class Maintenance(compacted: Boolean, packed: Boolean,
      vacuumed: Int, version: Int)

  /** One-call table maintenance — the policy loop a streaming pipeline
    * schedules between batches (Iceberg/Delta run the same three as
    * stored procedures): (1) when the pending delete mask exceeds
    * `maxPendingDeleteKeys`, COMPACT — materializing the mask is what
    * keeps the read-side anti-joins broadcast-sized; (2) otherwise
    * bin-pack sub-`smallBytes` files ([[compactSmall]] — converges, so
    * scheduling this every trigger is safe); (3) vacuum unreferenced
    * debris older than `graceMs`. Each step is an ordinary commit with
    * the usual conflict rules. Returns what ran.
    */
  def maintain(spark: SparkSession, table: String,
      maxPendingDeleteKeys: Long = 100000L,
      smallBytes: Long = 32L << 20,
      compactFiles: Int = 32,
      graceMs: Long = DefaultVacuumGraceMs): Maintenance = {
    val pending = pendingDeleteKeys(spark, table)
    val compacted = pending > maxPendingDeleteKeys
    if (compacted) compact(spark, table, compactFiles)
    val before = currentVersion(table,
      spark.sparkContext.hadoopConfiguration)
    val packed = !compacted &&
      compactSmall(spark, table, smallBytes) != before
    val vacuumed = vacuumOrphans(spark, table, graceMs).size
    Maintenance(compacted, packed, vacuumed,
      currentVersion(table, spark.sparkContext.hadoopConfiguration))
  }

  /** Drop every snapshot whose manifest is older than `maxAgeMs` (by the
    * manifest directory's own commit time), always keeping at least
    * `keepLast` — the standard age-based retention policy ("keep 7 days
    * of time travel"). Delegates the file reclaim to [[expire]]'s
    * reference counting.
    */
  def expireOlderThan(spark: SparkSession, table: String, maxAgeMs: Long,
      keepLast: Int = 1): Unit = {
    require(keepLast >= 1, s"keepLast=$keepLast")
    val conf = spark.sparkContext.hadoopConfiguration
    val vs = listVersions(table, conf)
    if (vs.isEmpty) return
    val fs = fsFor(table, conf)
    val cutoff = System.currentTimeMillis() - maxAgeMs
    val young = vs.count(v =>
      fs.getFileStatus(new Path(manifestDir(table, v)))
        .getModificationTime > cutoff)
    expire(spark, table, keepLast = math.max(keepLast, young))
  }

  /** Drop all snapshots but the last `keepLast`, then delete every data
    * (and equality-delete) file no surviving manifest references.
    * Ref-PINNED versions (tags + the current published pointer) never
    * drop, whatever their age — retention must not break a named release
    * or the snapshot WAP consumers are reading.
    */
  def expire(spark: SparkSession, table: String, keepLast: Int): Unit = {
    require(keepLast >= 1, s"keepLast=$keepLast")
    val conf = spark.sparkContext.hadoopConfiguration
    val vs = listVersions(table, conf)
    val pinned = refVersions(table, conf)
    val (dropByAge, keepByAge) = vs.splitAt(math.max(0, vs.length - keepLast))
    val drop = dropByAge.filterNot(pinned)
    if (drop.isEmpty) return
    val keep = keepByAge ++ dropByAge.filter(pinned)
    def allFiles(v: Int): Seq[String] = {
      val (f, _, d) = manifestFull(spark, table, v); f ++ d
    }
    val live = keep.flatMap(allFiles).toSet
    val fs = fsFor(table, conf)
    drop.foreach { v =>
      val dead = allFiles(v).filterNot(live)
      dead.foreach(f => fs.delete(new Path(f), false))
      fs.delete(new Path(manifestDir(table, v)), true)
    }
  }

  // ---- SQL-surface helpers (GraftCatalog / graft-versioned format) ----

  /** Create an EMPTY versioned table recording only the schema — the
    * catalog `CREATE TABLE` shape: v1 lists no data files, reads return
    * an empty frame AT this schema, and the first append evolves
    * additively from it. Fails when the table already has a snapshot
    * (CREATE of an existing table is the caller's
    * TableAlreadyExistsException, not a silent new commit).
    */
  def createEmpty(spark: SparkSession, table: String,
      schema: org.apache.spark.sql.types.StructType): Int =
    createEmpty(spark, table, schema, Nil)

  /** [[createEmpty]] declaring IDENTITY partition columns (the catalog's
    * `PARTITIONED BY` — see [[PartDirPrefix]] for the layout contract):
    * every later data commit lays its files under the partition
    * directory tree, files stay self-contained, and identity stats
    * (lo == hi per file) make manifest admission an exact partition
    * pruner. Columns must exist in the schema; partitioning is fixed
    * for the table's lifetime.
    */
  def createEmpty(spark: SparkSession, table: String,
      schema: org.apache.spark.sql.types.StructType,
      partitionCols: Seq[String]): Int = {
    val missing = partitionCols.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"partition column(s) not in schema: ${missing.mkString(", ")}")
    require(partitionCols.distinct == partitionCols,
      s"duplicate partition columns: $partitionCols")
    commitLoop(spark, table, { (_, cur) =>
      require(cur == 0, s"$table already has a snapshot (v=$cur)")
      Some(Content(Nil, Nil, Nil, Some(schema), Nil, Nil, partitionCols))
    }).get
  }

  /** `ALTER TABLE … ADD COLUMNS` as a PURE METADATA commit (the Delta/
    * Iceberg contract, already the read-side behavior for commit-time
    * evolution): every file, delete, txn, and stat row carries forward
    * by reference; only the stored schema grows. Old files null-fill
    * the new columns at read (they are forced nullable for exactly that
    * reason). Duplicate names reject loudly; additive-only — a retype
    * or drop is a rebuild, same as [[mergeSchemas]]' contract.
    */
  def addColumns(spark: SparkSession, table: String,
      cols: Seq[org.apache.spark.sql.types.StructField]): Int = {
    require(cols.nonEmpty, "ADD COLUMNS needs at least one column")
    // recycling a name ANY live snapshot's schema ever used would make
    // old files' stored values resurface under the re-added column
    // (parquet reads by name) instead of null-filling — refuse, like
    // renameColumn's epoch guard. Expire the old snapshots to reuse it.
    val conf0 = spark.sparkContext.hadoopConfiguration
    val cur0 = currentVersion(table, conf0)
    def usedBy(v: Int, n: String): Boolean =
      schemaOf(spark, table, v)
        .exists(_.fieldNames.exists(_.equalsIgnoreCase(n)))
    val recycled = cols.map(_.name)
      // in the CURRENT schema = the plain duplicate case, reported by
      // the existing check below with its own message
      .filterNot(n => cur0 > 0 && usedBy(cur0, n))
      .filter(n => listVersions(table, conf0)
        .exists(v => v != cur0 && usedBy(v, n)))
    require(recycled.isEmpty,
      s"cannot re-add dropped column name(s): ${recycled.mkString(", ")}" +
        " — old files still carry values under that name (reads are " +
        "name-based); use a fresh name, or expire the old snapshots")
    // CASE-INSENSITIVE duplicate discipline (Spark's default resolution):
    // a committed schema with x/X — or the same name twice within one
    // call — would be unreadable (AMBIGUOUS_REFERENCE on every SELECT)
    val lowered = cols.map(_.name.toLowerCase)
    require(lowered.distinct == lowered,
      s"duplicate column names in one ADD COLUMNS: ${cols.map(_.name)}")
    commitLoop(spark, table, { (m, cur) =>
      require(cur > 0, s"no table at $table")
      val prev = schemaOfSnapshot(spark, m, s"v=$cur")
      val prevLower = prev.fieldNames.map(_.toLowerCase).toSet
      val dup = cols.map(_.name).filter(n => prevLower(n.toLowerCase))
      require(dup.isEmpty,
        s"column(s) already exist: ${dup.mkString(", ")}")
      // files carried BY REFERENCE can physically store a column no
      // live SCHEMA names anymore (drop + expire erases the schema
      // evidence but never the bytes) — the per-file stats rows are a
      // physical-column record, so refuse re-adding any name they
      // still carry. Stats cover numeric/string columns; stat-less
      // types rely on the schema checks above.
      val physical = m.statsRaw.map(decodeStat).map(_.c.toLowerCase).toSet
      val carried = cols.map(_.name).filter(n => physical(n.toLowerCase))
      require(carried.isEmpty,
        s"cannot re-add column name(s): ${carried.mkString(", ")} — " +
          "live data files still physically carry values under that " +
          "name (reads are name-based; old values would resurface " +
          "instead of null-filling). Use a fresh name, or compact/" +
          "replace the table so no live file carries it")
      val merged = org.apache.spark.sql.types.StructType(
        prev.fields ++ cols.map(_.copy(nullable = true)))
      Some(Content(m.files, m.txns, m.deletes, Some(merged),
        m.statsRaw, m.sizesRaw, m.partitionCols, m.columnMap))
    }).get
  }

  /** `ALTER TABLE … DROP COLUMN(S)` as a PURE METADATA commit: the
    * stored schema shrinks; every file, delete, txn, and stat row
    * carries by reference (parquet reads by name, so the dropped
    * column's bytes are simply never requested again). Old snapshots
    * keep their schemas — time travel to before the drop still reads
    * the column. Partition columns cannot drop (they define the layout);
    * dropping the LAST column cannot either.
    */
  def dropColumns(spark: SparkSession, table: String,
      names: Seq[String]): Int = {
    require(names.nonEmpty, "DROP COLUMNS needs at least one column")
    commitLoop(spark, table, { (m, cur) =>
      require(cur > 0, s"no table at $table")
      val prev = schemaOfSnapshot(spark, m, s"v=$cur")
      val missing = names.filterNot(prev.fieldNames.contains)
      require(missing.isEmpty,
        s"no such column(s): ${missing.mkString(", ")}")
      val pcolHit = names.filter(m.partitionCols.contains)
      require(pcolHit.isEmpty,
        s"cannot drop partition column(s): ${pcolHit.mkString(", ")}")
      // a PENDING equality-delete file keying on the column would make
      // every head read unapplicable (the anti-join/mask needs the
      // column) — and compact itself reads through the mask, so the
      // damage would be unrecoverable short of rollback. Refuse while
      // any pending mask references a dropped name (delete files spell
      // PHYSICAL names — remap through the rename history first).
      if (m.deletes.nonEmpty) {
        val rev = reverseMap(m.columnMap)
        val delKeyCols = m.deletes
          .map(p => ManifestIO.fieldNames(
            spark.sparkContext.hadoopConfiguration, p))
          .filterNot(_ == PosCols)
          .flatMap(_.map(n => rev.getOrElse(n, n))).toSet
        val keyed = names.filter(delKeyCols.contains)
        require(keyed.isEmpty,
          s"cannot drop column(s) ${keyed.mkString(", ")}: pending " +
            "merge-on-read delete files key on them (the mask would " +
            "become unapplicable). Run compact to materialize the " +
            "deletes first")
      }
      val kept = prev.fields.filterNot(f => names.contains(f.name))
      require(kept.nonEmpty, "cannot drop every column")
      Some(Content(m.files, m.txns, m.deletes,
        Some(org.apache.spark.sql.types.StructType(kept)),
        m.statsRaw, m.sizesRaw, m.partitionCols,
        m.columnMap -- names))
    }).get
  }

  /** `ALTER TABLE … RENAME COLUMN from TO to` as a PURE METADATA commit
    * (Iceberg/Delta's column-mapping idea, name-based): the stored
    * schema renames in place and the manifest records `to -> (from ±
    * its own priors)`, so reads coalesce the column over its name
    * epochs ([[physicalScan]]/[[logicalProject]]) — zero data I/O now,
    * and [[compact]]/[[replace]] materialize the mapping away (their
    * rewrites store the logical name physically). Soundness of the
    * coalesce needs name epochs to be EXCLUSIVE per file, so renaming
    * TO a name that any LIVE snapshot's schema ever used refuses
    * loudly (a recycled name could collide with an old file's stored
    * column). While a mapping is pending, planner-integrated pruning
    * ([[indexedRead]]) and the SQL row-level rewrites degrade/refuse —
    * compact first; plain reads, writes, upserts, MOR deletes, and CDF
    * all work mapped.
    */
  def renameColumn(spark: SparkSession, table: String, from: String,
      to: String): Int = {
    require(from != to, s"rename to itself: $from")
    val conf = spark.sparkContext.hadoopConfiguration
    // every LIVE version's schema must never have used `to`
    val everUsed = listVersions(table, conf).exists { v =>
      schemaOf(spark, table, v).exists(_.fieldNames.exists(
        _.equalsIgnoreCase(to)))
    }
    require(!everUsed,
      s"cannot rename to '$to': a live snapshot's schema already uses " +
        "that name (files could carry a column by it — coalesce over " +
        "name epochs would collide). Pick a fresh name, or expire the " +
        "old snapshots first")
    commitLoop(spark, table, { (m, cur) =>
      require(cur > 0, s"no table at $table")
      val prev = schemaOfSnapshot(spark, m, s"v=$cur")
      require(prev.fieldNames.contains(from), s"no such column: $from")
      require(!prev.fieldNames.exists(_.equalsIgnoreCase(to)),
        s"column '$to' already exists")
      require(!m.partitionCols.contains(from),
        s"cannot rename partition column '$from' (it names the layout)")
      // same carried-files hazard as addColumns: a live file physically
      // storing `to` (from a dropped/renamed epoch whose snapshots were
      // expired) would collide with the name-epoch coalesce — the stats
      // rows are the physical record the schema history can no longer
      // provide
      require(!m.statsRaw.map(decodeStat)
          .exists(s => s.c.equalsIgnoreCase(to) &&
            !prev.fieldNames.exists(_.equalsIgnoreCase(s.c))),
        s"cannot rename to '$to': a live data file still physically " +
          "carries a column by that name — compact/replace the table " +
          "first, or pick a fresh name")
      val renamed = org.apache.spark.sql.types.StructType(
        prev.fields.map(f => if (f.name == from) f.copy(name = to) else f))
      val priors = from +: m.columnMap.getOrElse(from, Nil)
      Some(Content(m.files, m.txns, m.deletes, Some(renamed),
        m.statsRaw, m.sizesRaw, m.partitionCols,
        (m.columnMap - from) + (to -> priors)))
    }).get
  }

  /** `ALTER TABLE … ALTER COLUMN col TYPE wider` as a PURE METADATA
    * commit (Delta's type widening / Iceberg's schema evolution): the
    * stored schema retypes in place and every data file carries by
    * reference — Spark 4's parquet readers promote the stored physical
    * type to the requested wider one natively (both the vectorized
    * updaters — IntegerToLong/IntegerToDouble/FloatToDouble/Decimal —
    * and the row converter), so files written before AND after the
    * widen read back at the one widened type with zero data I/O now.
    * Only VALUE-PRESERVING widenings commit (empirically pinned against
    * Spark 4.1's reader matrix):
    * byte → short/int/long, short → int/long, int → long,
    * byte/short/int → double, float → double,
    * decimal(p,s) → decimal(p',s) with p' > p (same scale), and
    * integral → decimal(p,0) where p holds the whole source range
    * (≥ 10 for int32 and below, ≥ 20 for long — Delta's rule).
    * long → double refuses (2^53+ longs lose precision); every
    * narrowing refuses. Old snapshots keep their schemas — time travel
    * to before the widen reads the narrow type. Manifest column stats
    * stay valid verbatim (numeric bounds are stored as doubles, and the
    * widened column holds the same values). Partition columns refuse
    * (their rendered layout values define file identity).
    */
  def widenColumn(spark: SparkSession, table: String, name: String,
      to: org.apache.spark.sql.types.DataType): Int = {
    import org.apache.spark.sql.types._
    def widens(from: DataType, to: DataType): Boolean = (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) =>
        true
      case (ShortType, IntegerType | LongType | DoubleType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale == f.scale && t.precision > f.precision
      // integral -> decimal needs the scale-0 precision to hold the
      // whole source range (Delta's widening rule: 10 digits covers
      // int32, 20 covers int64)
      case (ByteType | ShortType | IntegerType, t: DecimalType) =>
        t.scale == 0 && t.precision >= 10
      case (LongType, t: DecimalType) => t.scale == 0 && t.precision >= 20
      case _ => false
    }
    commitLoop(spark, table, { (m, cur) =>
      require(cur > 0, s"no table at $table")
      val prev = schemaOfSnapshot(spark, m, s"v=$cur")
      val field = prev.fields.find(_.name == name)
        .getOrElse(throw new IllegalArgumentException(
          s"no such column: $name"))
      require(!m.partitionCols.contains(name),
        s"cannot widen partition column '$name' (its rendered values " +
          "name the layout)")
      require(widens(field.dataType, to),
        s"cannot widen column '$name' from " +
          s"${field.dataType.simpleString} to ${to.simpleString}: only " +
          "value-preserving widenings are supported (byte/short/int up " +
          "the integral chain, byte/short/int -> double, float -> " +
          "double, decimal precision increase at the same scale). A " +
          "lossy or narrowing retype is a rebuild")
      val widened = StructType(prev.fields.map(f =>
        if (f.name == name) f.copy(dataType = to) else f))
      Some(Content(m.files, m.txns, m.deletes, Some(widened),
        m.statsRaw, m.sizesRaw, m.partitionCols, m.columnMap))
    }).get
  }

  /** The pending rename mapping of snapshot `version` (default head):
    * logical name -> prior physical names, empty when none pending.
    */
  def columnMapping(spark: SparkSession, table: String,
      version: Option[Int] = None): Map[String, Seq[String]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val v = version.getOrElse(currentVersion(table, conf))
    if (v == 0) Map.empty else manifestAll(spark, table, v).columnMap
  }

  /** True when snapshot `version` (default: head) carries unmerged MOR
    * delete files — the read path must then anti-join the mask, so
    * planner-integrated file skipping ([[indexedRead]]) is unavailable
    * until [[compact]] materializes. Manifest-only; no data I/O.
    */
  def hasDeleteFiles(spark: SparkSession, table: String,
      version: Option[Int] = None): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val v = version.getOrElse(currentVersion(table, conf))
    v > 0 && manifestAll(spark, table, v).deletes.nonEmpty
  }

  /** The stored table schema at snapshot `version` (default: head);
    * legacy manifests from before schema tracking fall back to one data
    * footer. The SQL surfaces resolve column references against this.
    */
  def schemaAt(spark: SparkSession, table: String,
      version: Option[Int] = None): org.apache.spark.sql.types.StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val v = version.getOrElse(currentVersion(table, conf))
    require(listVersions(table, conf).contains(v), s"no snapshot v=$v at $table")
    schemaOfSnapshot(spark, manifestAll(spark, table, v), s"v=$v")
  }

  /** The read the SQL surfaces plan through: [[indexedRead]] (manifest
    * stats + byte lengths drive plan-time file skipping, zero stat RPCs)
    * whenever the snapshot is delete-free, degrading to the plain
    * MOR-masked [[read]] while delete files are pending — correctness
    * never depends on which path served the scan. The head resolves
    * ONCE: checking one version and reading another (a concurrent MOR
    * commit between the two) would crash a plain SELECT.
    */
  def readForScan(spark: SparkSession, table: String,
      version: Option[Int] = None): DataFrame = {
    val v = Some(version.getOrElse(
      currentVersion(table, spark.sparkContext.hadoopConfiguration)))
    // pending MOR masks and pending renames both degrade to the plain
    // coalescing read; compact returns the planner-pruned path
    if (hasDeleteFiles(spark, table, v) ||
        columnMapping(spark, table, v).nonEmpty) read(spark, table, v)
    else indexedRead(spark, table, v)
  }

  /** Snapshot facets the catalog MICRO-BATCH stream plans from
    * ([[GraftMicroBatchStream]]): (data files, delete files, per-file
    * byte lengths), all in manifest spelling. Within-manifest identity
    * is raw-string safe: carried files copy their spelling verbatim
    * commit to commit, so adjacent-version set ops need no suffix
    * normalization. Manifest-only; no data I/O.
    */
  private[sources] def streamSnapshot(spark: SparkSession, table: String,
      v: Int): (Set[String], Set[String], Map[String, Long]) = {
    // historical replay (startingVersion) and checkpoint restarts can
    // reference versions retention has EXPIRED — name the condition and
    // the live range instead of surfacing a raw manifest path error
    // from deep inside batch planning
    val m =
      try manifestAll(spark, table, v)
      catch { case _: java.io.FileNotFoundException =>
        val live = listVersions(table,
          spark.sparkContext.hadoopConfiguration)
        throw new IllegalStateException(
          s"streaming read of $table needs version $v, which has been " +
            "expired by retention (live versions: " +
            (if (live.isEmpty) "none"
             else s"${live.min}..${live.max}") + "). Start the stream " +
            "with startingVersion inside the live range, or use a " +
            "fresh checkpoint to begin from the current head")
      }
    (m.files.toSet, m.deletes.toSet, decodeSizes(m.sizesRaw))
  }

  /** Per-partition summary of snapshot `version` (default head) — the
    * `partitions` metadata-table feed (Iceberg's partitions table):
    * partition rendered `col=val[/col=val]`, file/byte/row counts, all
    * from DRIVER-HELD manifest rows (zero data I/O). A file's partition
    * value parses from its layout path (`__p_<col>=<val>/`); files not
    * partition-laid (row-level rewrites land flat) recover it from
    * their lo==hi column stats, and files with neither render `null`.
    * Row counts are per-file stats sums; files without recorded rows
    * make the partition's row count NULL rather than an undercount.
    */
  def partitionSummary(spark: SparkSession, table: String,
      version: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val v = version.getOrElse(currentVersion(table, conf))
    val empty = Seq.empty[(String, Int, Long, Option[Long])]
      .toDF("partition", "n_files", "bytes", "rows")
    if (v == 0) return empty
    val m = manifestAll(spark, table, v)
    if (m.partitionCols.isEmpty || m.files.isEmpty) return empty
    val sizes = decodeSizes(m.sizesRaw)
      .map { case (p, l) => dataSuffix(p) -> l }
    val stats = statsByFile(m)
    def fromPath(f: String, c: String): Option[String] = {
      val seg = s"/$PartDirPrefix$c="
      val i = f.indexOf(seg)
      if (i < 0) None
      else {
        val rest = f.substring(i + seg.length)
        val value = rest.takeWhile(_ != '/')
        if (value == "__HIVE_DEFAULT_PARTITION__") Some("null")
        // invert Spark's escapePathName: %XX sequences ONLY (URLDecoder
        // would also turn a literal '+' into a space — escapePathName
        // leaves '+' unescaped, so that inversion would corrupt it)
        else Some("%[0-9A-Fa-f]{2}".r.replaceAllIn(value, mm =>
          java.util.regex.Matcher.quoteReplacement(
            Integer.parseInt(mm.matched.substring(1), 16).toChar.toString)))
      }
    }
    def fromStats(f: String, c: String): Option[String] =
      stats.get(dataSuffix(f)).flatMap(_.get(c)).flatMap { st =>
        (st.lo, st.hi, st.slo, st.shi) match {
          case (Some(a), Some(b), _, _) if a == b =>
            // render integrals without the .0 double artifact
            Some(if (a == math.rint(a) && math.abs(a) < (1L << 52).toDouble)
              a.toLong.toString else a.toString)
          case (_, _, Some(a), Some(b)) if a == b => Some(a)
          case _ => None
        }
      }
    val rows = m.files.map { f =>
      val pv = m.partitionCols.map(c =>
        c + "=" + fromPath(f, c).orElse(fromStats(f, c)).getOrElse("null"))
        .mkString("/")
      val nRows = stats.get(dataSuffix(f))
        .flatMap(_.values.flatMap(_.rows).headOption)
      (pv, sizes.getOrElse(dataSuffix(f), 0L), nRows)
    }
    rows.groupBy(_._1).toSeq.map { case (p, fs) =>
      (p, fs.size, fs.map(_._2).sum,
        if (fs.exists(_._3.isEmpty)) None else Some(fs.flatMap(_._3).sum))
    }.toDF("partition", "n_files", "bytes", "rows")
      .orderBy("partition")
  }

  /** Snapshot `version`'s data files in manifest spelling (sorted) —
    * the `files` metadata-table feed. Manifest-only; no data I/O.
    */
  def listDataFiles(spark: SparkSession, table: String,
      version: Option[Int] = None): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val v = version.getOrElse(currentVersion(table, conf))
    if (v == 0) Seq.empty else manifestAll(spark, table, v).files
  }
}
