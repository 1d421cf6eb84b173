package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-skipping Bloom index for point lookups on a long key — the
  * Delta-Lake-style bloom sidecar re-expressed RELATIONALLY (public prior
  * art: Bloom 1970; Delta/Iceberg file-level filter stats). Z-order
  * (`ZOrder`) buys range locality; this buys equality locality: a point
  * lookup opens only the files whose per-file bloom admits the key.
  *
  * Everything is plain SQL expressions — no UDF, no custom Aggregator:
  *   - build: each key row explodes into k (word, bit-mask) contributions
  *     (`pmod(xxhash64(key, seed), m)` bit positions — codegen'd), and the
  *     per-FILE bloom is `groupBy(file, word).agg(bit_or(mask))`: one
  *     map-side-combined aggregation whose state is the (files × words)
  *     domain, never the row count. The geometry (m, k, nFiles) rides as
  *     CONSTANT COLUMNS of the sidecar itself and the sidecar lands via
  *     rename-swap — geometry and bits commit in ONE atomic move, so a
  *     probe can never hash against a stale geometry (the failure mode a
  *     separate meta file written before/after the bits would reopen).
  *   - read: through [[IndexedTable.table]]: a plain equality or `isin`
  *     filter (or SQL WHERE) on the key column, whose planner bloom leg
  *     probes the key set in ONE batched job. The keys explode into the
  *     SAME contributions, bit-OR collapsed per (key, word); a file is a
  *     candidate when every probe word's mask is contained in the file's
  *     bits (`(bits & mask) = mask` for all words — counted against the
  *     key's own distinct-word count, so hash-collision-folded words
  *     can't under-count). The join runs sidecar × (k·|keys|) rows; only
  *     matched FILE NAMES are collected (bounded by the file count, the
  *     classic index-read contract). The full filter still runs over the
  *     candidate files — false positives cost I/O, never correctness.
  *
  * Table layout: `build` hash-partitions rows by the key into `nFiles`
  * files, so all rows of one key land in ONE file and a hit reads one
  * file (+ fp). At 100 TB the sidecar is (files × m/64) longs — a TABLE,
  * scanned distributed; the driver sees only matched file names.
  * Single-writer (like the other persisted indexes): a read racing a
  * full REBUILD can error on vanished data files, but never silently
  * drop rows.
  */
object BloomIndex {

  private def sidecarPath(table: String) = table.stripSuffix("/") + "_bloom"

  /** The hash domain for a bloom key column: integral keys hash as LONG
    * (so int vs long spellings of the same key can never miss each
    * other), string keys hash their UTF-8 bytes natively — the doc-id/URL
    * shape an LLM corpus actually keys on. Anything else (float, decimal,
    * binary) is rejected loudly: a lossy cast would hash two distinct
    * keys to one domain value and silently break the membership contract.
    * Shared with [[graft.ops.RuntimeFilter]] — like [[contribs]], ONE
    * definition so build and probe can never fork their hash domains.
    */
  private[graft] def hashDomainOf(
      dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => "long"
      case StringType => "string"
      case other => throw new IllegalArgumentException(
        s"BloomIndex supports integral and string keys, got $other")
    }
  }

  /** k (word, mask) contribution structs for key column `k` (must be named
    * `k` in scope — the exprs reference it by name). Shared with
    * [[graft.ops.RuntimeFilter]] so build and probe can never drift.
    */
  private[graft] def contribs(mBits: Int, k: Int) =
    array((0 until k).map { s =>
      struct(
        expr(s"CAST(pmod(xxhash64(k, $s), $mBits) DIV 64 AS INT)").as("w"),
        expr(s"shiftleft(CAST(1 AS BIGINT), " +
          s"CAST(pmod(xxhash64(k, $s), $mBits) % 64 AS INT))").as("m"))
    }: _*)

  /** Rewrite `df` key-hash-partitioned into `nFiles` files at `tablePath`
    * and build the per-file bloom sidecar: the table, then the sidecar,
    * each through an [[IndexCommit]] `Replace` ([[ZoneMap.commitIndexed]]).
    */
  def build(df: DataFrame, keyCol: String, tablePath: String,
      nFiles: Int = 16, mBits: Int = 65536, k: Int = 4): Unit = {
    require(mBits % 64 == 0 && mBits > 0 && k >= 1 && nFiles >= 1,
      s"bad geometry: mBits=$mBits k=$k nFiles=$nFiles")
    val spark = df.sparkSession
    val kind = hashDomainOf(df.schema(keyCol).dataType)
    ZoneMap.commitIndexed(spark, tablePath, sidecarPath(tablePath),
      IndexCommit.Replace)(
      df.repartition(nFiles, col(keyCol)).write.mode("overwrite").parquet(_)) {
      (files, stage) => bits(spark, files, keyCol, kind, mBits, k, nFiles)
        .write.mode("overwrite").parquet(stage)
    }
  }

  /** The sidecar rows of the data `files`: per (file, word), the OR of the
    * k contributions of every key, with the geometry, the key column and
    * its hash domain as constant columns — so the planner
    * ([[SkippingFileIndex]]) can recognize equality on the key and probe
    * in the right domain.
    */
  private def bits(spark: SparkSession, files: Seq[String], keyCol: String,
      kind: String, mBits: Int, k: Int, nFiles: Int): DataFrame =
    // Cast to the recorded domain on the BUILD side: xxhash64 is
    // input-type-sensitive, so an INT key column hashed at its native
    // type would never match a probe's LongType keys — a silent false
    // negative. Casting both sides to the domain type keeps build and
    // probe hashing the same bytes; string keys hash natively (no cast
    // loss is possible — the cast is identity).
    spark.read.parquet(files: _*)
      .select(col(keyCol).cast(kind).as("k"), input_file_name().as("f"))
      .select(col("f"), explode(contribs(mBits, k)).as("c"))
      .groupBy(col("f"), col("c.w").as("w"))
      .agg(bit_or(col("c.m")).as("bits"))
      .withColumn("m_bits", lit(mBits))
      .withColumn("k_hashes", lit(k))
      .withColumn("n_files", lit(nFiles))
      .withColumn("key_col", lit(keyCol))
      .withColumn("key_kind", lit(kind))

  /** Append a batch: new key-hash-partitioned files inside the table plus
    * their sidecar rows (geometry read from the pinned sidecar columns —
    * an append can never fork the (m, k) generation). The one-key-one-file
    * read contract relaxes to one file PER COMMIT; reads stay exact
    * because blooms are per-file. The files, then the batch's sidecar
    * rows staged as ONE file, publish through [[IndexCommit]] `Add`
    * ([[ZoneMap.commitIndexed]]), so each new data file is either fully
    * covered or not covered at all. The crash window between the two
    * (data landed, sidecar rows not yet published) is closed on the READ
    * side: [[candidateFiles]] treats any table file the sidecar does not
    * cover as an unconditional candidate — a torn append degrades to extra
    * I/O, never to a missed row (the index's standing contract).
    */
  def append(df: DataFrame, keyCol: String, tablePath: String,
      nFiles: Int = 4): Unit = {
    val spark = df.sparkSession
    // an append on a different column than the build would poison the
    // planner's bloom admission (equality pruned against bits of another
    // column) — fail loudly instead. The sidecar pins the hash domain
    // (long for sidecars from before key_kind): same column ⇒ same
    // domain, so an append never forks the hash generation.
    val kind = plannedKeyMeta(spark, tablePath).fold("long") { case (kc, kk) =>
      require(kc == keyCol,
        s"bloom index at $tablePath is keyed on '$kc', append got '$keyCol'")
      kk
    }
    // geometry rides as constant columns of every sidecar row — ONE
    // driver-side record read replaces the old head() Spark jobs
    val conf = spark.sparkContext.hadoopConfiguration
    val g = ManifestIO.readFirstRecord(conf, sidecarPath(tablePath))
      .getOrElse(throw new IllegalStateException(
        s"bloom sidecar at ${sidecarPath(tablePath)} is empty"))
    val (mBits, k) = (g.getInteger("m_bits", 0), g.getInteger("k_hashes", 0))
    val nf = g.getInteger("n_files", 0)
    ZoneMap.commitIndexed(spark, tablePath, sidecarPath(tablePath),
      IndexCommit.Add)(
      df.repartition(nFiles, col(keyCol)).write.mode("overwrite").parquet(_)) {
      (files, stage) => bits(spark, files, keyCol, kind, mBits, k, nf)
        .coalesce(1).write.mode("overwrite").parquet(stage)
    }
  }

  /** (key column, hash domain) of this table's bloom sidecar, if it
    * exists and records its key column. Sidecars from before `key_kind`
    * are long-domain by construction.
    */
  private[sources] def plannedKeyMeta(spark: SparkSession,
      tablePath: String): Option[(String, String)] = {
    // key metadata rides as constant columns — one driver-side record
    // read replaces the old spark.read + take(1) jobs per planner open
    ManifestIO.readFirstRecord(spark.sparkContext.hadoopConfiguration,
        sidecarPath(tablePath)).flatMap { g =>
      val t = g.getType
      def str(n: String): Option[String] =
        if (t.containsField(n) && g.getFieldRepetitionCount(n) > 0)
          Some(g.getString(n, 0))
        else None
      str("key_col").map(kc => (kc, str("key_kind").getOrElse("long")))
    }
  }

  /** Files that may contain any of `keys` (exact w.r.t. the table:
    * every true container is returned; false positives possible) — the
    * planner's bloom leg. Files the sidecar does not cover — a torn
    * append's crash window — are unconditional candidates, so coverage
    * gaps cost I/O, not rows.
    */
  private[sources] def candidateFiles(spark: SparkSession, tablePath: String,
      keys: Seq[Long]): Seq[String] = {
    import spark.implicits._
    candidateFilesOf(spark, tablePath, keys.toDF("k"))
  }

  /** String-domain twin of [[candidateFiles]] — probes hash the UTF-8
    * bytes natively, matching a sidecar built on a string key column.
    */
  private[sources] def candidateFilesStr(spark: SparkSession, tablePath: String,
      keys: Seq[String]): Seq[String] = {
    import spark.implicits._
    candidateFilesOf(spark, tablePath, keys.toDF("k"))
  }

  /** The shared probe: `probe` carries one key per row in column `k`,
    * ALREADY in the sidecar's hash domain (the two wrappers pin the
    * Scala element type, so a domain mismatch cannot compile).
    */
  private def candidateFilesOf(spark: SparkSession, tablePath: String,
      probeKeys: DataFrame): Seq[String] = {
    // geometry from ONE driver-side record read (constant columns); the
    // membership probe itself stays a DISTRIBUTED job — at 100 TB the
    // sidecar is files × words rows, a table, and only matched/covered
    // FILE NAMES (bounded by the file count) reach the driver, in one
    // collect instead of the old two
    val g = ManifestIO.readFirstRecord(spark.sparkContext.hadoopConfiguration,
      sidecarPath(tablePath)).getOrElse(throw new IllegalStateException(
      s"bloom sidecar at ${sidecarPath(tablePath)} is empty"))
    val (mBits, k) = (g.getInteger("m_bits", 0), g.getInteger("k_hashes", 0))
    val sidecar = spark.read.parquet(sidecarPath(tablePath))
    val probe = probeKeys
      .select(col("k"), explode(contribs(mBits, k)).as("c"))
      .groupBy(col("k"), col("c.w").as("w"))
      .agg(bit_or(col("c.m")).as("pm"))
    val need = probe.groupBy(col("k")).agg(count(lit(1)).as("need"))
    val matchedF = probe
      .join(sidecar, Seq("w"))
      .filter((col("bits").bitwiseAND(col("pm"))) === col("pm"))
      .groupBy(col("k"), col("f")).agg(count(lit(1)).as("hit"))
      .join(need, Seq("k"))
      .filter(col("hit") === col("need"))
      .select(col("f")).distinct()
      .withColumn("_hit", lit(true))
    val perFile = sidecar.select(col("f")).distinct()
      .join(matchedF, Seq("f"), "left")
      .select(col("f"), coalesce(col("_hit"), lit(false)).as("_hit"))
      .collect()
    val matched = perFile.filter(_.getBoolean(1)).map(_.getString(0)).toSeq
    val covered = perFile.map(_.getString(0)).toSet
    val uncovered = ZoneMap.listDataFiles(spark, tablePath)
      .filterNot(covered)
    (matched ++ uncovered).distinct.sorted
  }
}
