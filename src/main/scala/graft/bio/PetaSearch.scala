package graft.bio

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.ManifestIO

/** End-to-end search driver — the `petasearch` / `easy-petasearch` workflow
  * (`src/workflow/petasearch.cpp`, `data/petasearch.sh`) collapsed into one
  * Spark program: the reference's four process boundaries become DataFrame
  * stages; its shell fan-out over target DBs becomes partition parallelism
  * (a loop of independent jobs union'd, or a `dbId` column).
  */
object PetaSearch {

  /** Input-type profile: matrices, k-mer alphabet, gap costs, Gumbel params
    * (`src/sra/blockalign.cpp` isNucDB branches).
    */
  final case class SearchMode(
      name: String, alignMatrix: String, seedMatrix: String,
      kmerAlphabet: String, gaps: Aligner.Gaps, gumbel: GumbelParams)

  object SearchMode {
    val Protein: SearchMode = SearchMode("protein", "blosum62", "vtml80",
      Matrices.KmerAlphabet, Aligner.Gaps(11, 1), GumbelParams.Blosum62Ungapped)
    // nucleotide gaps 5/2 (Parameters.cpp:2273-2274); ungapped Gumbel
    // constants = the reference's runtime ALP gapless fit, run once offline
    // and hard-coded (see GumbelParams.NucleotideUngapped)
    val Nucleotide: SearchMode = SearchMode("nucleotide", "nucleotide",
      "nucleotide", Matrices.KmerAlphabetNuc, Aligner.Gaps(5, 2),
      GumbelParams.NucleotideUngapped)
  }

  final case class Params(
      k: Int = KmerIndex.DefaultK,
      requiredKmerMatches: Int = Prefilter.RequiredKmerMatches,
      evalThr: Double = Align.DefaultEvalThr,
      xdrop: Int = Align.DefaultXdrop,
      mode: SearchMode = SearchMode.Protein,
      query: QueryTable.Config = QueryTable.Config()) {
    /** `query` with this search's k, seed matrix and k-mer alphabet size:
      * the config every query table of the search is built with.
      */
    def queryConfig: QueryTable.Config = query.copy(k = k,
      seedMatrix = mode.seedMatrix, kmerAlphabetSize = mode.kmerAlphabet.length)
  }

  /** C13 m8 formatting (`src/sra/convertsraalignments.cpp:297-311`):
    * `qname tname fident(%.3f) alnlen mismatch gapopen qstart qend tstart
    * tend eval(%.2E) bits`, 1-based coordinates.
    */
  def toM8(alignments: DataFrame, queryNames: DataFrame,
      targetNames: DataFrame): DataFrame = {
    alignments
      .join(queryNames.select(col("seqId").as("queryId"), col("name").as("qname")),
        Seq("queryId"))
      .join(targetNames.select(col("seqId").as("targetId"), col("name").as("tname")),
        Seq("targetId"))
      .select(
        col("qname"), col("tname"),
        format_string("%.3f", col("fident")).as("fident"),
        col("alnLen"), col("mismatch"), col("gapOpen"),
        (col("qStart") + 1).as("qstart"), (col("qEnd") + 1).as("qend"),
        (col("tStart") + 1).as("tstart"), (col("tEnd") + 1).as("tend"),
        format_string("%.2E", col("eval")).as("evalue"), col("bits"),
        col("queryId"), col("targetId"), col("eval"))
      .orderBy(col("queryId"), col("eval"), col("bits").desc, col("targetId"))
      .drop("queryId", "targetId", "eval")
  }

  /** C12: project the gapped alignment strings from the backtrace
    * (`src/sra/convertsraalignments.cpp:59-87`): 'M' consumes both sides,
    * 'I' consumes query (gap in target), 'D' consumes target (gap in query).
    * `reverseStrand` replicates the printer's `isReverseStrand` walk: start
    * at the (larger) start coordinate, step BACKWARD, complement each base
    * (`Orf::complement`) — used for the target side of minus-strand
    * nucleotide hits, where tstart > tend.
    */
  def alignedString(seq: String, start: Int, backtrace: String,
      querySide: Boolean, reverseStrand: Boolean = false): String = {
    def complement(c: Char): Char = c match {
      case 'A' => 'T'; case 'C' => 'G'; case 'G' => 'C'; case 'T' => 'A'
      case 'a' => 't'; case 'c' => 'g'; case 'g' => 'c'; case 't' => 'a'
      case other => other
    }
    val sb = new StringBuilder(backtrace.length)
    val step = if (reverseStrand) -1 else 1
    def ch(pos: Int): Char =
      if (reverseStrand) complement(seq(pos)) else seq(pos)
    var pos = start
    backtrace.foreach {
      case 'M' => sb += ch(pos); pos += step
      case 'I' => if (querySide) { sb += ch(pos); pos += step } else sb += '-'
      case 'D' => if (querySide) sb += '-' else { sb += ch(pos); pos += step }
      case _ =>
    }
    sb.toString
  }

  /** Custom-column m8 (`--format-output`): the COMPLETE vocabulary of the
    * reference printer (`src/sra/convertsraalignments.cpp:27-57,324-449`):
    * query target fident pident nident alnlen mismatch gapopen qstart qend
    * tstart tend evalue bits raw qlen tlen qcov tcov cigar qaln taln qseq
    * tseq qheader theader qset tset qorfstart qorfend torfstart torfend
    * empty qframe tframe.
    *
    * Reference-parity notes: qframe/tframe are in the reference's
    * documentation block but have NO case in its printer switch, so it
    * emits an empty field — replicated. qorfstart/... come from the
    * alignment record's ORF fields, which the srasearch pipeline never sets
    * (no ORF-translated search) — emitted as the mmseqs unset value (-1).
    * qset/tset map sequences to their source set: 0 for the single query
    * set; the target-DB fan-out id (`dbId`) when present, else 0.
    */
  def toM8Custom(alignments: DataFrame, queries: DataFrame, targets: DataFrame,
      columns: Seq[String]): DataFrame = {
    import org.apache.spark.sql.Column
    val qalnUdf = udf((s: String, st: Int, bt: String) => alignedString(s, st, bt, querySide = true))
    val talnUdf = udf((s: String, st: Int, bt: String, rev: Boolean) =>
      alignedString(s, st, bt, querySide = false, reverseStrand = rev))
    val joined = alignments
      .join(queries.select(col("seqId").as("queryId"), col("name").as("_qname"),
        col("header").as("_qheader"), col("seq").as("_qseq")), Seq("queryId"))
      .join(targets.select(col("seqId").as("targetId"), col("name").as("_tname"),
        col("header").as("_theader"), col("seq").as("_tseq")), Seq("targetId"))
    def colFor(name: String): Column = (name match {
      case "query" => col("_qname")
      case "target" => col("_tname")
      case "fident" => format_string("%.3f", col("fident"))
      case "alnlen" => col("alnLen")
      case "mismatch" => col("mismatch")
      case "gapopen" => col("gapOpen")
      case "qstart" => col("qStart") + 1
      case "qend" => col("qEnd") + 1
      case "tstart" => col("tStart") + 1
      case "tend" => col("tEnd") + 1
      case "evalue" => format_string("%.2E", col("eval"))
      case "bits" => col("bits")
      case "qlen" => col("qLen")
      case "tlen" => col("tLen")
      // C8 coverage (SmithWaterman::computeCov: (end-start+1)/len; abs like
      // convertsraalignments' abs(dbEndPos - dbStartPos) — minus-strand
      // rows carry tstart > tend)
      case "qcov" => round((abs(col("qEnd") - col("qStart")) + 1).cast("double") / col("qLen"), 3)
      case "tcov" => round((abs(col("tEnd") - col("tStart")) + 1).cast("double") / col("tLen"), 3)
      case "cigar" => col("backtrace")
      case "qaln" => qalnUdf(col("_qseq"), col("qStart"), col("backtrace"))
      case "taln" => talnUdf(col("_tseq"), col("tStart"), col("backtrace"),
        col("tStart") > col("tEnd"))
      case "qseq" => col("_qseq")
      case "tseq" => col("_tseq")
      // pident = fident * 100 (convertsraalignments.cpp:342 SSTR(seqId*100))
      case "pident" => format_string("%.3f", col("fident") * 100)
      // nident = identical columns; fident was identical/alnLen exactly
      case "nident" => round(col("fident") * col("alnLen")).cast("int")
      // raw SW score (the printer re-derives it from bits; we carry it)
      case "raw" => col("raw")
      case "qheader" => col("_qheader")
      case "theader" => col("_theader")
      case "qset" => lit(0)
      case "tset" =>
        if (joined.columns.contains("dbId")) col("dbId") else lit(0)
      // never set by the srasearch pipeline (no ORF-translated search)
      case "qorfstart" | "qorfend" | "torfstart" | "torfend" => lit(-1)
      // documented in the reference header comment but absent from its
      // printer switch -> empty field
      case "qframe" | "tframe" => lit("")
      case "empty" => lit("-")
      case other => throw new IllegalArgumentException(s"unknown outfmt column $other")
    }).as(name)
    joined
      .orderBy(col("queryId"), col("eval"), col("bits").desc, col("targetId"))
      .select(columns.map(colFor): _*)
  }

  /** Aligned-pairs pipeline over already-ingested sequence tables.
    * Query-side k-mers go through the full createQueryTable path (masking,
    * bias-adjusted thresholds, similar-k-mer expansion) per the reference's
    * defaults; pass `query = QueryTable.Config(exactKmerMatching = true,
    * maskMode = false, biasCorrection = false)` for the exact-only path.
    * Targets carrying `dbId` are searched as side-by-side DBs (see
    * [[searchPartitioned]]).
    */
  def search(spark: SparkSession, queries: DataFrame, targets: DataFrame,
      params: Params = Params(),
      preparedQueryTable: Option[DataFrame] = None): DataFrame =
    chain(spark, queries,
      preparedQueryTable.getOrElse(buildQueryTable(spark, queries, params)),
      KmerIndex.buildWithPos(targets, params.k, params.mode.kmerAlphabet),
      targets, params)

  /** The one search chain behind every entry point: query table `qk` ->
    * prefilter against `index` -> align against `targets`. The `dbId` and
    * profile shapes ride on the input columns (see [[Align.run]]).
    */
  private def chain(spark: SparkSession, queries: DataFrame, qk: DataFrame,
      index: DataFrame, targets: DataFrame, params: Params,
      knownDbResCount: Option[Long] = None): DataFrame =
    Align.run(spark, Prefilter.runWithDiag(qk, index, params.requiredKmerMatches),
      queries, targets, params.evalThr, params.xdrop, params.mode.gaps,
      params.mode.alignMatrix, params.mode.gumbel, params.k, knownDbResCount)

  /** Reverse complement of a nucleotide sequence column — codegen'd
    * built-ins only (translate + reverse), no UDF in the scan path.
    */
  def revComp(seq: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    reverse(translate(seq, "ACGTacgt", "TGCAtgca"))

  /** Nucleotide search over BOTH strands. The reference only supports the
    * reverse strand at the OUTPUT layer (`convertsraalignments.cpp:59-87`
    * walks the target backward through `Orf::complement` when an alignment
    * record arrives with dbStartPos > dbEndPos) — its search pipeline never
    * generates such records, so minus-strand homology is invisible to it.
    * Here the query k-mer table is built a second time over the
    * reverse-complemented queries (one extra scan; the target index is
    * built and probed ONCE and reused by both strands), and minus-strand
    * hits are mapped back to the m8 minus convention: query coordinates
    * forward ascending, tstart > tend, backtrace reversed.
    */
  def searchBothStrands(spark: SparkSession, queries: DataFrame,
      targets: DataFrame,
      params: Params = Params(mode = SearchMode.Nucleotide)): DataFrame = {
    // cache(): both strand passes probe the same target index. Cache
    // lifetime is CALLER-OWNED (same contract as the multi-DB query-table
    // cache below): the returned union is lazy, so unpersisting here would
    // drop the blocks before any action reads them — materialize the
    // result, then release with result.sparkSession.catalog.clearCache()
    // (or keep the session short).
    val index = KmerIndex.buildWithPos(targets, params.k, params.mode.kmerAlphabet)
      .cache()
    def oneStrand(qs: DataFrame): DataFrame =
      chain(spark, qs, buildQueryTable(spark, qs, params), index, targets, params)
    val plus = oneStrand(queries).withColumn("strand", lit("+"))
    val rcQueries = queries.withColumn("seq", revComp(col("seq")))
    // alignment of revcomp(q) vs t == minus-strand hit of q: flip the query
    // coordinates back to the forward frame (0-based: L-1-pos) and swap the
    // target ends; reversing the alignment direction reverses the backtrace
    // (M stays M, I/D keep their sides)
    val minus = oneStrand(rcQueries)
      .withColumn("_qs", col("qLen") - 1 - col("qEnd"))
      .withColumn("qEnd", col("qLen") - 1 - col("qStart"))
      .withColumn("qStart", col("_qs"))
      .drop("_qs")
      .withColumn("_ts", col("tEnd"))
      .withColumn("tEnd", col("tStart"))
      .withColumn("tStart", col("_ts"))
      .drop("_ts")
      .withColumn("backtrace", reverse(col("backtrace")))
      .withColumn("strand", lit("-"))
    plus.unionByName(minus)
  }

  /** Profile-mode search (F4, `blockalign.cpp --profile-search`):
    * `profiles(seqId, header, profile BINARY)` are decoded to their
    * consensus strings for k-mer sliding and the ungapped gates (exactly
    * the reference's `extractProfileConsensus` path); similar-k-mer
    * expansion is scored by the per-position PSSM columns
    * (QueryTable.rowsForProfile), and the gapped aligner scores targets
    * against the same profile columns.
    */
  def searchProfiles(spark: SparkSession, profiles: DataFrame,
      targets: DataFrame, params: Params = Params()): DataFrame = {
    val profQueries = Profiles.toSequences(spark, profiles)
      .join(profiles.select(col("seqId"), col("profile")), Seq("seqId"))
    chain(spark, profQueries,
      QueryTable.buildFromProfiles(spark, profiles, params.queryConfig),
      KmerIndex.buildWithPos(targets, params.k, params.mode.kmerAlphabet),
      targets, params)
  }

  /** The query-side k-mer table (masking, bias thresholds, similar-k-mer
    * expansion) for `params` — the expensive query-side stage; build it once
    * and pass to [[search]] when searching several target DBs.
    */
  def buildQueryTable(spark: SparkSession, queries: DataFrame,
      params: Params): DataFrame =
    QueryTable.build(spark, queries, params.queryConfig)

  /** Ingest-once index build — `convert2sradb` + `createkmertable` as one
    * job. The target DB's on-disk contract under `dbPath`:
    *  - `sequences/`: the ingested FASTA (the [[Fasta.read]] columns),
    *    parquet. [[searchIndexed]] joins it in the align stage; callers
    *    join it for m8 names; [[appendToTargetDb]] reads its max id and
    *    appends new batches to it.
    *  - `kmers/`: the unique-k-mer index (kmer, seqId, seqLen, tpos),
    *    range-partitioned by kmer and sorted within partitions
    *    (DELTA_BINARY_PACKED runs + min/max pruning). [[searchIndexed]]'s
    *    prefilter joins it; [[appendToTargetDb]] merges a batch into it.
    *  - `meta/`: one row (dbResCount, nSeqs), both int64, written on the
    *    driver. [[searchIndexed]] takes the evaluer's residue total from
    *    it; [[appendToTargetDb]] adds a batch's totals to it. A DB without
    *    `meta/` still works: both fall back to scanning `sequences/`.
    */
  def buildTargetDb(spark: SparkSession, targetFasta: String, dbPath: String,
      params: Params = Params()): Unit = {
    val seqs = Fasta.read(spark, targetFasta)
    seqs.write.mode("overwrite").parquet(s"$dbPath/sequences")
    val persisted = spark.read.parquet(s"$dbPath/sequences")
    KmerIndex.write(
      KmerIndex.buildWithPos(persisted, params.k, params.mode.kmerAlphabet),
      s"$dbPath/kmers")
    // computed once at build time so query-time never rescans the corpus
    writeDbMeta(spark, dbPath, totals(persisted))
  }

  /** (residues, sequences) of a sequence table; 0 residues when empty. */
  private def totals(seqs: DataFrame): (Long, Long) = {
    val r = seqs.agg(coalesce(sum(col("seqLen")), lit(0L)), count(lit(1))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def writeDbMeta(spark: SparkSession, dbPath: String,
      t: (Long, Long)): Unit =
    ManifestIO.writeMetaDir(spark.sparkContext.hadoopConfiguration,
      s"$dbPath/meta", Seq("dbResCount" -> t._1, "nSeqs" -> t._2))

  /** The DB's `meta/` totals, None for a DB built without `meta/`. */
  private def readDbMeta(spark: SparkSession, dbPath: String): Option[(Long, Long)] =
    ManifestIO.readFirstRecord(spark.sparkContext.hadoopConfiguration,
      s"$dbPath/meta").map { g =>
      // an empty corpus once stored a null residue total
      def field(n: String) = if (g.getFieldRepetitionCount(n) > 0) g.getLong(n, 0) else 0L
      (field("dbResCount"), field("nSeqs"))
    }

  /** Incrementally add sequences to a persisted target DB: ingest ONLY the
    * new FASTA, never rescan the existing corpus. Exact, not approximate:
    * the A1 representative rule (longest sequence, ties to smallest id,
    * then smallest position) is an associative max, so re-reducing the
    * STORED winners against the new batch's winners yields the identical
    * index to a full rebuild (spec-pinned equality). New sequences take ids
    * after the current maximum; metadata updates by addition. At 100 TB
    * this is the difference between an O(new batch) nightly ingest and an
    * O(corpus) re-extraction — the reference has no equivalent
    * (createkmertable always rebuilds its table whole).
    */
  def appendToTargetDb(spark: SparkSession, targetFasta: String,
      dbPath: String, params: Params = Params()): Unit = {
    val existing = spark.read.parquet(s"$dbPath/sequences")
    // coalesce: an empty existing table yields a null max (getLong would NPE)
    val offset = existing
      .agg(coalesce(max(col("seqId")), lit(-1L))).head().getLong(0) + 1
    // old-corpus totals are snapshotted BEFORE the new batch lands — the
    // pre-metadata fallback scans `existing`'s path, and a post-append scan
    // would double-count the batch
    val (oldRes, oldN) = readDbMeta(spark, dbPath).getOrElse(totals(existing))
    val newSeqs = Fasta.read(spark, targetFasta)
      .withColumn("seqId", col("seqId") + lit(offset))
    newSeqs.write.mode("append").parquet(s"$dbPath/sequences")
    val appended = spark.read.parquet(s"$dbPath/sequences")
      .filter(col("seqId") >= offset)
    val newIdx = KmerIndex.buildWithPos(appended, params.k,
      params.mode.kmerAlphabet)
    val merged = KmerIndex.representatives(
      spark.read.parquet(s"$dbPath/kmers").unionByName(newIdx))
    // stage-and-swap: parquet can't overwrite a path it is reading
    KmerIndex.write(merged, s"$dbPath/kmers_staging")
    swapIn(spark, s"$dbPath/kmers_staging", s"$dbPath/kmers")
    val (batchRes, batchN) = totals(appended)
    writeDbMeta(spark, dbPath, (oldRes + batchRes, oldN + batchN))
  }

  /** Stage-and-swap: the live directory is renamed aside before the staged
    * one moves in, so there is no window where `dst` is missing with the
    * only copy in staging — a crash leaves either the old index or the new
    * one (plus a stale `_old` that the next swap clears). Renames are
    * atomic on HDFS-like filesystems; delete-then-rename was not.
    *
    * The append around it is NOT crash-safe: the batch is already in
    * `sequences/` when the swap runs, and `meta/` is written after it, so
    * a crash before the meta write leaves stale totals, and rerunning the
    * append appends the batch to `sequences/` a second time under new ids.
    * Making the append idempotent is open item 3 in ROADMAP.md.
    */
  private def swapIn(spark: SparkSession, staging: String, dst: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dstPath = new org.apache.hadoop.fs.Path(dst)
    val oldPath = new org.apache.hadoop.fs.Path(dst + "_old")
    val fs = dstPath.getFileSystem(conf)
    fs.delete(oldPath, true) // stale leftover from an interrupted swap
    if (fs.exists(dstPath))
      require(fs.rename(dstPath, oldPath),
        s"failed to move $dst aside to $oldPath")
    require(fs.rename(new org.apache.hadoop.fs.Path(staging), dstPath),
      s"failed to swap $staging into $dst")
    fs.delete(oldPath, true)
  }

  /** Query a persisted target DB (the reference's `petasearch` against
    * prebuilt k-mer tables): scans only the stored index — no target-side
    * k-mer extraction at query time — and takes the evaluer's residue total
    * from `meta/` (a DB without it pays a corpus scan).
    */
  def searchIndexed(spark: SparkSession, queries: DataFrame, dbPath: String,
      params: Params = Params()): DataFrame =
    chain(spark, queries, buildQueryTable(spark, queries, params),
      spark.read.parquet(s"$dbPath/kmers"),
      spark.read.parquet(s"$dbPath/sequences"), params,
      readDbMeta(spark, dbPath).map(_._1))

  /** Single-job multi-DB search over a `dbId`-partitioned corpus
    * (SURVEY §1.3/§3.2: "a targetlist becomes a partition column"): ONE
    * index build, ONE prefilter join, ONE align stage across all DBs —
    * per-DB semantics (independent unique-k-mer dedup and e-value residue
    * counts) preserved by keying every stage on dbId. At 1000 executors
    * this is the preferred shape: no per-DB job scheduling overhead, AQE
    * balances partitions across the whole corpus.
    *
    * `targets` must carry (dbId, seqId, seq, seqLen); seqIds are per-DB.
    * The result carries `dbId` ahead of the [[Align.run]] columns.
    */
  def searchPartitioned(spark: SparkSession, queries: DataFrame,
      targets: DataFrame, params: Params = Params()): DataFrame = {
    require(targets.columns.contains("dbId"),
      "searchPartitioned needs a dbId column on targets")
    search(spark, queries, targets, params)
  }

  /** Multi-target-DB fan-out (J2/J5/U1): the reference's `targetlist`
    * manifest becomes a sequence of target tables searched independently and
    * union'd (`data/petasearch.sh:42-65` shell fan-out as partition
    * parallelism; per-DB e-values use each DB's own residue count, exactly
    * like per-DB `blockalign` runs).
    */
  def searchMany(spark: SparkSession, queries: DataFrame,
      targets: Seq[DataFrame], params: Params = Params()): DataFrame = {
    // the expensive query-side work (masking, bias thresholds, similar-k-mer
    // expansion) is built ONCE and reused across all target DBs — the
    // reference builds its query table once too (comparekmertables.cpp
    // QueryTableEntry load, reused per target table). cache(): N downstream
    // prefilter joins read it. Cache lifetime is CALLER-OWNED: the returned
    // union is lazy, so unpersisting here would drop the blocks before any
    // action reads them — materialize the result, then release with
    // result.sparkSession.catalog.clearCache() (or keep the session short).
    val qk = buildQueryTable(spark, queries, params).cache()
    targets.map(t => search(spark, queries, t, params, Some(qk)))
      .reduce(_.unionAll(_))
  }

  /** S9 m8 TSV sink: tab-separated, no header — byte-compatible with BLAST
    * m8 consumers (`data/petasearch.sh:61-65` final output).
    */
  def writeM8(m8: DataFrame, path: String): Unit =
    m8.write.mode("overwrite").option("sep", "\t").option("header", "false")
      .csv(path)

  /** MSA-in / m8-out profile search: build ONE PSSM profile from an aligned
    * FASTA (gaps kept by ingest), search it against the target set, emit m8
    * rows under the first record's name. The MSA collects to the driver —
    * profile construction is per-profile and MSAs are small by nature; the
    * search itself is fully distributed.
    */
  def easyProfileSearch(spark: SparkSession, msaFasta: String,
      targetFasta: String, params: Params = Params()): DataFrame = {
    import spark.implicits._
    val msa = Fasta.read(spark, msaFasta).orderBy("seqId")
      .select("name", "seq").as[(String, String)].collect()
    require(msa.nonEmpty, s"empty MSA: $msaFasta")
    val prof = Profiles.fromAlignedSeqs(msa.map(_._2).toSeq)
    val profiles = Seq((0L, msa.head._1, prof))
      .toDF("seqId", "header", "profile")
    val targets = Fasta.read(spark, targetFasta).cache()
    val alis = searchProfiles(spark, profiles, targets, params)
    val queryNames = Seq((0L, msa.head._1)).toDF("seqId", "name")
    toM8(alis, queryNames, targets)
  }

  /** FASTA-in / m8-out — `easy-petasearch`. */
  def easySearch(spark: SparkSession, queryFasta: String, targetFasta: String,
      params: Params = Params()): DataFrame = {
    val queries = Fasta.read(spark, queryFasta).cache()
    val targets =
      if (targetFasta == queryFasta) queries
      else Fasta.read(spark, targetFasta).cache()
    val alis = search(spark, queries, targets, params)
    toM8(alis, queries, targets)
  }

  /** FASTA-in / custom-column-out (`--format-output`): same search, columns
    * picked from the toM8Custom vocabulary.
    */
  def easySearchCustom(spark: SparkSession, queryFasta: String,
      targetFasta: String, columns: Seq[String],
      params: Params = Params()): DataFrame = {
    val queries = Fasta.read(spark, queryFasta).cache()
    val targets =
      if (targetFasta == queryFasta) queries
      else Fasta.read(spark, targetFasta).cache()
    val alis = search(spark, queries, targets, params)
    toM8Custom(alis, queries, targets, columns)
  }
}
