package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large text corpora — the petasearch
  * unique-k-mer skeleton (SURVEY A1/F1/J1/A2) generalized to documents.
  *
  * Scale design notes (100 TB):
  *  - every operator is a pure DataFrame plan: hash/shingle/minhash are
  *    codegen'd built-ins, grouping keys are hashes (uniformly distributed,
  *    no skew), candidate generation never materializes the n^2 pair space
  *    (LSH band buckets only join within buckets);
  *  - signatures use md5 (deterministic across engines and runs) rather than
  *    seeded murmur3, so results are reproducible and oracle-checkable;
  *  - frequent-shingle capping (dropping shingles shared by more than
  *    `maxDocFreq` docs) bounds bucket skew exactly like the reference's
  *    low-complexity masking bounds hot k-mers (SURVEY P5).
  */
object Dedup {

  /** Default hot-bucket cap for LSH candidate generation. A (band,bucket)
    * group with b members emits b(b-1)/2 candidate pairs, so one
    * template-heavy bucket (boilerplate pages, license headers) can go
    * quadratic on its own — AQE can split the partition but cannot reduce
    * the pair count. Groups larger than the cap are dropped wholesale,
    * mirroring [[ngramJaccard]]'s maxDocFreq shingle cap. 10k members is
    * ~50M pairs per bucket — the largest group a single task should ever
    * verify.
    *
    * The trade-off is real, not free: a near-identical cluster LARGER than
    * the cap is hot in EVERY band, so the whole cluster becomes invisible
    * to near-dup detection (its docs collide nowhere below the cap). Run
    * [[exact]] dedup first so byte-identical mega-clusters collapse before
    * LSH, and watch the `lsh_bucket_cap_N` observed metric — a run that
    * drops rows logs a driver-side warning (see the listener in
    * [[cappedMemberBuckets]]) and should be re-examined, not ignored.
    */
  val DefaultMaxBucket: Int = 10000

  private val obsId = new java.util.concurrent.atomic.AtomicInteger(0)

  // sessions that already carry the warn-on-drop listener (weak keys —
  // sessions come and go; a strong set would pin them)
  private val capListenerSessions = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]())

  /** Surface the `lsh_bucket_cap_N` observed metric as a driver-side WARN:
    * dropped rows mean whole clusters above the cap were invisible to
    * near-dup detection (see [[DefaultMaxBucket]]), which should be a loud
    * signal, not a metric nobody reads. Registered once per session.
    */
  private def ensureCapWarnListener(
      spark: org.apache.spark.sql.SparkSession): Unit =
    if (capListenerSessions.put(spark, java.lang.Boolean.TRUE) == null)
      spark.listenerManager.register(
        new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              durationNs: Long): Unit =
            qe.observedMetrics.foreach { case (name, row) =>
              if (name.startsWith("lsh_bucket_cap_") &&
                  row.getAs[Long]("dropped_rows") > 0)
                org.slf4j.LoggerFactory.getLogger(Dedup.getClass).warn(
                  s"$name: ${row.getAs[Long]("dropped_rows")} banded rows " +
                    s"fell in buckets above the cap (largest bucket " +
                    s"${row.getAs[Long]("max_bucket")}) and were dropped — " +
                    "clusters above the cap are INVISIBLE to near-dup " +
                    "detection; run exact dedup first or raise maxBucket")
            }
          override def onFailure(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              exception: Exception): Unit = ()
        })

  /** The ONE capped bucket aggregation behind every LSH-style candidate
    * generator ([[bucketPairs]], [[pairsFromSignatures]], [[indexPairs]],
    * [[simhashPairs]], and [[Similarity.embeddingNearDup]]'s SRP
    * buckets): group the banded rows by bucket
    * key, collect each bucket's member structs into an array (bounded by
    * `maxBucket`), report dropped volume as an observed metric
    * (`lsh_bucket_cap_N`: dropped_rows, max_bucket) at zero extra cost —
    * counting drops with a separate action would recompute the whole
    * upstream pipeline — and surface it as a driver WARN via the listener.
    * Compared to a capped self-join formulation this computes the
    * (expensive) upstream pipeline ONCE instead of twice, needs no window
    * sort, and shuffles one row per bucket instead of two per member.
    *
    * Member structs MUST carry an `id` field — [[expandMemberPairs]]
    * orders pairs by it. Extra fields (signatures, flags) ride along so
    * downstream verification never re-joins the upstream pipeline.
    *
    * Scale note: with `maxBucket == Int.MaxValue` the member list is
    * unbounded — only disable the cap on corpora known to have no hot
    * buckets.
    */
  private[ops] def cappedMemberBuckets(banded: DataFrame, keys: Seq[String],
      member: Column, maxBucket: Int): DataFrame = {
    ensureCapWarnListener(banded.sparkSession)
    val grouped = banded.groupBy(keys.map(col): _*)
      .agg(collect_list(member).as("_ms"))
    val observed =
      if (maxBucket == Int.MaxValue) grouped
      else grouped.observe(s"lsh_bucket_cap_${obsId.incrementAndGet()}",
        sum(when(size(col("_ms")) > maxBucket, size(col("_ms")))
          .otherwise(lit(0))).cast("long").as("dropped_rows"),
        coalesce(max(size(col("_ms"))), lit(0)).cast("long").as("max_bucket"))
    observed.filter(size(col("_ms")).between(2, maxBucket))
  }

  /** Array-local ordered-pair expansion over [[cappedMemberBuckets]]
    * output: `m` explodes, `x` ranges over the bucket members with a
    * larger id; `aKeep` prunes left members BEFORE the (more expensive)
    * second explode. Returns one (m, x) struct row per (bucket, ordered
    * pair) — callers project fields, `.distinct()` away multi-band
    * collisions, and verify.
    */
  private[ops] def expandMemberPairs(buckets: DataFrame,
      aKeep: Column = lit(true)): DataFrame =
    buckets
      .select(explode(col("_ms")).as("m"), col("_ms"))
      .filter(aKeep)
      .select(col("m"), explode(expr("filter(_ms, x -> x.id > m.id)")).as("x"))

  /** Candidate pairs from (band, bucket, id) rows: the
    * [[cappedMemberBuckets]] aggregation with bare-id members, expanded
    * array-locally. Oversized buckets are dropped wholesale (see
    * [[DefaultMaxBucket]] for the trade-off).
    */
  private[ops] def bucketPairs(banded: DataFrame, keys: Seq[String],
      idCol: String, maxBucket: Int): DataFrame =
    expandMemberPairs(cappedMemberBuckets(banded, keys,
        struct(col(idCol).as("id")), maxBucket))
      .select(col("m.id").as("a"), col("x.id").as("b"))
      .distinct()

  /** Exact dedup by content hash: one keeper (min id) per distinct key.
    * Output: (key_hash, keeper_id, n_copies).
    */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[Column]): DataFrame =
    df.groupBy(md5(concat_ws("", keyCols: _*)).as("key_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Word n-gram shingles: (id, shingle) distinct rows. Positions explode
    * first (cheap int array), grams assemble after — no per-row array of
    * gram strings materialized before the generator.
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int,
      hash64: Boolean = false): DataFrame = {
    val positions = when(size(col("_w")) >= n,
      sequence(lit(0), size(col("_w")) - n)).otherwise(array())
    val gram = concat_ws(" ",
      (0 until n).map(j => element_at(col("_w"), col("_i") + j + 1)): _*)
    // hash64: callers that never surface the gram text (count-only
    // pipelines) shingle as 64-bit hashes — applied BEFORE the distinct,
    // so its exchange already carries longs instead of n-gram strings
    val shingle = if (hash64) xxhash64(gram) else gram
    // widen: the split+explode map side otherwise runs at the scan's
    // partition count (ONE task on a single-file corpus — graft.Par)
    graft.Par.widen(df)
      .select(col(idCol).as("id"), split(col(textCol), "\\s+").as("_w"))
      .withColumn("_i", explode(positions))
      .select(col("id"), shingle.as("shingle"))
      .distinct()
  }

  /** Per-seed hash of a shingle: 8 hex chars (32 bits) carved out of
    * md5(group || ':' || shingle), 4 seeds per 32-char digest. One md5
    * serves four hash functions — the standard "k hashes from one strong
    * hash" minhash construction — so an 8-seed signature costs 2 md5s per
    * row, not 8, and the min() compares 8-char strings instead of 32.
    * String order on hex == unsigned numeric order, deterministic across
    * engines.
    */
  private[ops] def seedHash(seed: Int): Column = {
    val group = (seed - 1) / 4
    val offset = ((seed - 1) % 4) * 8 + 1
    substring(md5(concat(lit(s"$group:"), col("shingle"))), offset, 8)
  }

  /** MinHash signatures over shingle sets: `numHashes` hash functions via
    * [[seedHash]]; signature element = min hex chunk.
    * Output: (id, seed, minhash).
    */
  def minhash(shingleRows: DataFrame, numHashes: Int): DataFrame = {
    val hashes = array((1 to numHashes).map(s =>
      struct(lit(s).as("seed"), seedHash(s).as("h"))): _*)
    shingleRows
      .select(col("id"), explode(hashes).as("sh"))
      .groupBy(col("id"), col("sh.seed").as("seed"))
      .agg(min(col("sh.h")).as("minhash"))
  }

  /** LSH banding: group signature rows into bands of `rowsPerBand`, hash each
    * band, self-join band buckets -> candidate pairs (a < b). The join is
    * bucket-local: no all-pairs blowup; AQE splits skewed buckets; buckets
    * above `maxBucket` are dropped (see [[DefaultMaxBucket]]).
    */
  def lshCandidates(sigRows: DataFrame, rowsPerBand: Int,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val banded = sigRows
      .withColumn("band", ((col("seed") - 1) / rowsPerBand).cast("int"))
      .groupBy(col("id"), col("band"))
      .agg(md5(array_join(sort_array(collect_list(
        concat(col("seed").cast("string"), lit(":"), col("minhash")))), "|"))
        .as("bucket"))
    bucketJoin(banded, maxBucket)
  }

  private def bucketJoin(banded: DataFrame, maxBucket: Int): DataFrame =
    bucketPairs(banded, Seq("band", "bucket"), "id", maxBucket)

  /** Fused minhash+banding: all `numHashes` signature minima computed as agg
    * columns in ONE groupBy over the shingle rows (no numHashes-way row
    * blowup through the shuffle), bands assembled row-locally after.
    * Semantically identical to minhash + lshCandidates' banding.
    */
  def minhashBanded(shingleRows: DataFrame, numHashes: Int,
      rowsPerBand: Int, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // digests hoisted into a projection BEFORE the aggregation: agg-input
    // expressions don't share subexpressions across aggregates, so without
    // this each of the 4 chunk-minimums would recompute its group's md5
    val nGroups = (numHashes + 3) / 4
    val digests = (0 until nGroups).map(g =>
      md5(concat(lit(s"$g:"), col("shingle"))).as(s"d$g"))
    val withDigests = shingleRows.select((col("id") +: digests): _*)
    val minCols = (1 to numHashes).map { s =>
      val g = (s - 1) / 4
      val off = ((s - 1) % 4) * 8 + 1
      min(substring(col(s"d$g"), off, 8)).as(s"m$s")
    }
    val sigs = withDigests.groupBy(col("id")).agg(minCols.head, minCols.tail: _*)
    val nBands = numHashes / rowsPerBand
    val bandCols = (0 until nBands).map { b =>
      val members = (1 to numHashes).filter(s => (s - 1) / rowsPerBand == b)
        .map(s => concat(lit(s.toString), lit(":"), col(s"m$s")))
      struct(lit(b).as("band"),
        md5(array_join(sort_array(array(members: _*)), "|")).as("bucket"))
    }
    val banded = sigs
      .select(col("id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    bucketJoin(banded, maxBucket)
  }

  /** MinHash signatures as ONE array column per doc: (id, sig) with
    * sig[s-1] the seed-s minimum (the [[minhashBanded]] chunked-md5
    * construction, so signatures are engine-portable). The persistable
    * form of a doc's dedup identity — store nHashes*8 hex chars instead
    * of the shingle set.
    */
  def minhashSignatures(shingleRows: DataFrame, numHashes: Int): DataFrame = {
    val nGroups = (numHashes + 3) / 4
    val digests = (0 until nGroups).map(g =>
      md5(concat(lit(s"$g:"), col("shingle"))).as(s"d$g"))
    val withDigests = shingleRows.select((col("id") +: digests): _*)
    val minCols = (1 to numHashes).map { s =>
      val g = (s - 1) / 4
      val off = ((s - 1) % 4) * 8 + 1
      min(substring(col(s"d$g"), off, 8)).as(s"m$s")
    }
    withDigests.groupBy(col("id")).agg(minCols.head, minCols.tail: _*)
      .select(col("id"),
        array((1 to numHashes).map(s => col(s"m$s")): _*).as("sig"))
  }

  /** Estimated Jaccard between two signature arrays: the fraction of
    * agreeing minima — an unbiased estimator with granularity 1/numHashes
    * (Broder 1997). Row-local; no shingle sets touched.
    */
  def estimatedJaccard(sigA: Column, sigB: Column): Column =
    aggregate(zip_with(sigA, sigB, (x, y) =>
      when(x === y, lit(1)).otherwise(lit(0))), lit(0),
      (acc, v) => acc + v).cast("double") / size(sigA)

  /** Signature-only near-dup pairs — the verify-at-scale variant of
    * [[nearDuplicates]]: candidates come from the same band buckets, but
    * similarity is ESTIMATED from signature agreement instead of exact
    * Jaccard over shingle sets. The exact verify re-joins the corpus-wide
    * shingle table twice per candidate side; at 100 TB the shingle table
    * dwarfs the corpus and that join dominates the pipeline. Signatures
    * ride along in the bucket aggregation's member structs (like
    * [[simhashPairs]] carries its 64-bit signature), so after the ONE
    * corpus-wide aggregation everything is row-local: no second shuffle,
    * no shingle re-join, and the signature table is what a persisted dedup
    * index stores (see [[buildDedupIndex]]).
    *
    * Trade-off: est_jaccard has granularity 1/numHashes and Binomial
    * noise, so pairs straddling the threshold can flip vs [[jaccard]] —
    * standard at scale (Spark MLlib's MinHashLSH verifies the same way).
    * Member structs carry numHashes*8 hex chars each, so a full bucket is
    * ~maxBucket*(8+64*numHashes/8) bytes — at the default cap and 8
    * hashes, ~1 MB per group buffer. Lower maxBucket if numHashes grows.
    */
  def nearDuplicatesEstimated(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 2, numHashes: Int = 8, rowsPerBand: Int = 2,
      threshold: Double = 0.5, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val sigs = minhashSignatures(
      shingles(df, idCol, textCol, shingleSize), numHashes)
    pairsFromSignatures(sigs, numHashes, rowsPerBand, threshold, maxBucket)
  }

  /** Candidate generation + estimated verify over a signature table
    * (id, sig): band buckets assemble row-locally from the signature
    * array, one aggregation collects bucket members (signature in the
    * struct), pairs expand array-locally and the estimate is row-local.
    */
  private[ops] def pairsFromSignatures(sigs: DataFrame, numHashes: Int,
      rowsPerBand: Int, threshold: Double, maxBucket: Int): DataFrame = {
    val banded = bandSignatures(sigs, numHashes, rowsPerBand)
    val buckets = cappedMemberBuckets(banded, Seq("band", "bucket"),
      struct(col("id"), col("sig").as("s")), maxBucket)
    expandMemberPairs(buckets)
      .select(col("m.id").as("a"), col("x.id").as("b"),
        col("m.s").as("sa"), col("x.s").as("sb"))
      .distinct()
      .withColumn("est_jaccard", estimatedJaccard(col("sa"), col("sb")))
      .filter(col("est_jaccard") >= threshold)
      .select(col("a"), col("b"), col("est_jaccard"))
  }

  /** (id, sig, band, bucket) rows: LSH band buckets assembled ROW-LOCALLY
    * from the signature array — banding is a projection, so a persisted
    * index only ever stores signatures and re-derives bands on read.
    */
  private def bandSignatures(sigs: DataFrame, numHashes: Int,
      rowsPerBand: Int): DataFrame = {
    require(numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a multiple of rowsPerBand ($rowsPerBand)")
    val nBands = numHashes / rowsPerBand
    val bandCols = (0 until nBands).map { b =>
      val members = (1 to numHashes).filter(s => (s - 1) / rowsPerBand == b)
        .map(s => concat(lit(s.toString), lit(":"),
          element_at(col("sig"), s)))
      struct(lit(b).as("band"),
        md5(array_join(sort_array(array(members: _*)), "|")).as("bucket"))
    }
    sigs
      .select(col("id"), col("sig"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("sig"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Persist a dedup index: the corpus's minhash signature table (the
    * complete dedup identity — bands re-derive from it row-locally) plus a
    * one-row meta table pinning the construction params so appends can't
    * silently mix incompatible signatures. ~(8 + numHashes*8) bytes per
    * doc: at 100 TB of text this is tens of GB — the thing that makes
    * incremental curation O(batch) instead of re-shingling the corpus.
    */
  def buildDedupIndex(df: DataFrame, idCol: String, textCol: String,
      path: String, shingleSize: Int = 2, numHashes: Int = 8): Unit = {
    minhashSignatures(shingles(df, idCol, textCol, shingleSize), numHashes)
      .write.mode("overwrite").parquet(s"$path/signatures")
    val spark = df.sparkSession
    graft.sources.ManifestIO.writeMetaDir(
      spark.sparkContext.hadoopConfiguration, s"$path/meta",
      Seq("shingle_size" -> shingleSize, "num_hashes" -> numHashes))
    // a rebuild may change the pinned params — drop the cached copy, and
    // drop any streaming replay high-watermark left by a previous stream
    // (a fresh query restarts batchIds at 0; a stale marker would make
    // its early batches look already-committed and skip their appends)
    metaCache.remove(path)
    StreamCommitMarker.clear(spark, path)
  }

  /** Per-JVM cache of each index's pinned (shingle_size, num_hashes):
    * meta is immutable between [[buildDedupIndex]] calls (which
    * invalidate), so streaming ingest stops paying a parquet head() per
    * micro-batch. An index rebuilt WITH DIFFERENT PARAMS by another JVM
    * mid-stream would be read stale here — but that scenario corrupts the
    * signature table itself long before the cache matters.
    */
  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()

  /** Max distinct (band, bucket) keys broadcast to prune the stored side
    * of a dedup-index search/append. The design case is an incremental
    * batch — thousands to low millions of docs — whose touched-key set
    * (~40 bytes per key) broadcasts in tens of MB. [[appendToDedupIndex]]
    * accepts ANY DataFrame though, and a bulk re-ingest of 10^8 docs ×
    * nBands keys would be a multi-GB broadcast that kills the driver;
    * above this bound the prune flips to a shuffled left-semi join (still
    * corpus-pruning, at the cost of one shuffle of both key sides).
    */
  val DefaultMaxBroadcastKeys: Long = 1L << 20

  /** Touched-key upper bound deciding the prune strategy: signature rows ×
    * bands (every signed doc lands in every band; distinct-ing bucket
    * values only shrinks it). Takes the COUNT, not a frame: append counts
    * its already-cached signature frame (free beyond the cache
    * materialization it needs anyway) and search counts the input docs —
    * re-counting an uncached upstream per call was the waste the
    * round-7 advice flagged in per-micro-batch ingest.
    */
  private def touchedFits(nSigRows: Long, numHashes: Int,
      rowsPerBand: Int, maxBroadcastKeys: Long): Boolean =
    nSigRows * (numHashes / rowsPerBand) <= maxBroadcastKeys

  /** Incrementally dedup a new batch against a persisted index: returns
    * every near-dup pair INVOLVING the batch (cross old-new and
    * within-new; old-old pairs were reported when their batches arrived),
    * then appends the batch's signatures to the index.
    *
    * Scale shape — per batch, the stored side is ONE narrow scan of the
    * signature table with NO shuffle: the batch's touched (band, bucket)
    * keys broadcast into a left-semi prune, so only stored rows actually
    * colliding with the batch (≈ the candidate neighborhood, not the
    * corpus) reach the bucket aggregation. Batches too large to broadcast
    * (> `maxBroadcastKeys` estimated keys — bulk re-ingest, not the design
    * case) fall back to a shuffled left-semi prune instead of a
    * driver-killing broadcast. Everything downstream is the
    * [[pairsFromSignatures]] row-local cascade gated on "at least one
    * member is new". Pairs are materialized (eager localCheckpoint)
    * BEFORE the append lands, so the returned frame can never read the
    * batch back as pre-existing corpus (the appendToTargetDb
    * snapshot-before-write rule).
    */
  def appendToDedupIndex(newDocs: DataFrame, idCol: String, textCol: String,
      path: String, rowsPerBand: Int = 2, threshold: Double = 0.5,
      maxBucket: Int = DefaultMaxBucket,
      maxBroadcastKeys: Long = DefaultMaxBroadcastKeys): DataFrame = {
    val spark = newDocs.sparkSession
    val (newSigs, numHashes) = sigsForIndex(newDocs, idCol, textCol, path)
    val cached = newSigs.cache()
    // count() pins the cache AND supplies the prune-strategy bound in one
    // pass — the raw input frame is never executed a second time
    val pairs = indexPairs(cached, path, numHashes, rowsPerBand, threshold,
      maxBucket,
      touchedFits(cached.count(), numHashes, rowsPerBand, maxBroadcastKeys))
      .localCheckpoint() // eager: snapshot pairs BEFORE the append lands
    cached.write.mode("append").parquet(s"$path/signatures")
    cached.unpersist()
    pairs
  }

  /** Read-only probe of a persisted dedup index: the [[appendToDedupIndex]]
    * candidate/verify cascade WITHOUT committing the probe batch — "would
    * these docs be near-dups of the corpus (or of each other)?" The
    * decontamination-shaped question a curation pipeline asks before
    * deciding what to ingest. Lazy apart from the prune-strategy count (no
    * checkpoint): nothing is written, so there is no read-back hazard.
    */
  /** `rowCountHint`: when the caller already knows (an upper bound on) the
    * probe batch size, passing it skips the one count() action this method
    * otherwise spends on the prune-strategy decision.
    *
    * `excludeProbeFromStored`: drop stored rows whose id is in the probe
    * batch before bucketing — the REPLAY mode: when the probe batch's own
    * signatures were already committed to the index, keeping both copies
    * inflates bucket membership and a bucket near `maxBucket` could drop
    * wholesale on replay while it survived the original run (divergent
    * pair output). With the exclusion, a replayed search sees exactly the
    * pre-append index state and reproduces the original pairs at ANY cap
    * state.
    */
  def searchDedupIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String, rowsPerBand: Int = 2, threshold: Double = 0.5,
      maxBucket: Int = DefaultMaxBucket,
      maxBroadcastKeys: Long = DefaultMaxBroadcastKeys,
      rowCountHint: Option[Long] = None,
      excludeProbeFromStored: Boolean = false): DataFrame = {
    val (probeSigs, numHashes) = sigsForIndex(docs, idCol, textCol, path)
    indexPairs(probeSigs, path, numHashes, rowsPerBand, threshold, maxBucket,
      touchedFits(rowCountHint.getOrElse(docs.count()), numHashes,
        rowsPerBand, maxBroadcastKeys), excludeProbeFromStored)
  }

  /** Batch signatures under a stored index's pinned params (read once per
    * JVM per path — see [[metaCache]]).
    */
  private def sigsForIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String): (DataFrame, Int) = {
    val (shingleSize, numHashes) = metaCache.computeIfAbsent(path, { p =>
      val meta = graft.sources.ManifestIO.readFirstRecord(
        docs.sparkSession.sparkContext.hadoopConfiguration, s"$p/meta")
        .getOrElse(throw new IllegalStateException(
          s"dedup index meta at $p/meta is unreadable or empty"))
      (meta.getInteger("shingle_size", 0), meta.getInteger("num_hashes", 0))
    })
    (minhashSignatures(
      shingles(docs, idCol, textCol, shingleSize), numHashes), numHashes)
  }

  /** Pairs involving the batch vs a stored signature table: left-semi
    * prune of the stored side on the batch's touched (band, bucket) keys —
    * broadcast when the batch is small (no shuffle of the corpus),
    * shuffled hash otherwise (build side = the touched keys, still the
    * small side) — then one bucket aggregation over the surviving
    * collision rows + the batch, row-local estimate, "at least one member
    * new" gate.
    */
  private def indexPairs(newSigs: DataFrame, path: String, numHashes: Int,
      rowsPerBand: Int, threshold: Double, maxBucket: Int,
      broadcastTouched: Boolean,
      excludeProbeFromStored: Boolean = false): DataFrame = {
    val spark = newSigs.sparkSession
    val newBanded = bandSignatures(newSigs, numHashes, rowsPerBand)
    val touched = newBanded.select(col("band"), col("bucket")).distinct()
    val prune =
      if (broadcastTouched) broadcast(touched)
      else touched.hint("shuffle_hash")
    val storedRaw = spark.read.parquet(s"$path/signatures")
    // replay mode: the probe's own committed copies would double-count
    // bucket membership (see searchDedupIndex scaladoc)
    val stored =
      if (excludeProbeFromStored)
        storedRaw.join(newSigs.select(col("id")), Seq("id"), "left_anti")
      else storedRaw
    val storedBanded = bandSignatures(stored, numHashes, rowsPerBand)
      .join(prune, Seq("band", "bucket"), "left_semi")
    val banded = storedBanded.withColumn("isn", lit(false))
      .unionByName(newBanded.withColumn("isn", lit(true)))
    val buckets = cappedMemberBuckets(banded, Seq("band", "bucket"),
      struct(col("id"), col("sig").as("s"), col("isn")), maxBucket)
    expandMemberPairs(buckets)
      // at least one side from the new batch — old-old pairs are history
      .filter(col("m.isn") || col("x.isn"))
      .select(col("m.id").as("a"), col("x.id").as("b"),
        col("m.s").as("sa"), col("x.s").as("sb"))
      .distinct()
      .withColumn("est_jaccard", estimatedJaccard(col("sa"), col("sb")))
      .filter(col("est_jaccard") >= threshold)
      .select(col("a"), col("b"), col("est_jaccard"))
  }

  /** Exact Jaccard over shingle sets for given candidate pairs:
    * |A ∩ B| / |A ∪ B|. Join-based — intersection counted by shingle
    * co-occurrence, sizes joined in; never materializes sets on the driver.
    */
  def jaccard(candidates: DataFrame, shingleRows: DataFrame): DataFrame = {
    val sizes = shingleRows.groupBy(col("id")).agg(count(lit(1)).as("setSize"))
    // both joins carry the shingle key — intersection rows only, never the
    // |A| x |B| cross-product per pair
    val common = candidates
      .join(shingleRows.select(col("id").as("a"), col("shingle")), Seq("a"))
      .join(shingleRows.select(col("id").as("b"), col("shingle")),
        Seq("b", "shingle"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("nCommon"))
    common
      .join(sizes.select(col("id").as("a"), col("setSize").as("sizeA")), Seq("a"))
      .join(sizes.select(col("id").as("b"), col("setSize").as("sizeB")), Seq("b"))
      .withColumn("jaccard",
        col("nCommon") / (col("sizeA") + col("sizeB") - col("nCommon")))
  }

  /** Full MinHash-LSH near-dup pipeline: shingle -> minhash -> band-bucket
    * join -> exact-Jaccard verification (cheap candidate gen, expensive
    * verify only on candidates — the prefilter/align cascade shape).
    */
  def nearDuplicates(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 2, numHashes: Int = 8, rowsPerBand: Int = 2,
      threshold: Double = 0.5, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // cache(): the shingle rows feed BOTH candidate generation and the
    // Jaccard verify. Lifetime is CALLER-OWNED (the returned frame is
    // lazy; unpersisting here would evict before the caller's action):
    // materialize, then clearCache(), or keep the session short.
    val sh = shingles(df, idCol, textCol, shingleSize).cache()
    val cands = minhashBanded(sh, numHashes, rowsPerBand, maxBucket)
    jaccard(cands, sh).filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Direct n-gram Jaccard between a query subset and the corpus: candidate
    * pairs share >= `minCommon` shingles (count gate == SURVEY A2), with
    * frequent shingles dropped to bound skew. The frequency cap is either
    * absolute (`maxDocFreq` docs) or — the right knob at corpus scale,
    * where any absolute number is eventually exceeded by EVERY common
    * shingle or by NONE — a corpus fraction (`maxDocFreqFrac`, which wins
    * when set; the doc count rides in as a 1-row broadcast).
    *
    * Shingles are compared as xxhash64 values, not strings, so two distinct
    * shingles that collide count as one shingle. Among `n` distinct
    * shingles the chance of any collision is ~n²/2⁶⁵ (~3e-8 at a million,
    * ~3% at a billion); a collision can move the set sizes, document
    * frequencies and `nCommon` only of documents holding a colliding
    * shingle.
    */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
      queryPred: Column, shingleSize: Int = 2, minCommon: Int = 3,
      maxDocFreq: Int = 100, maxDocFreqFrac: Option[Double] = None): DataFrame =
    commonShingles(df, idCol, textCol, queryPred, shingleSize, minCommon,
      maxDocFreq, maxDocFreqFrac)
      .withColumn("jaccard",
        col("nCommon") / (col("sizeQ") + col("sizeT") - col("nCommon")))
      .select(col("qid"), col("tid"), col("nCommon"), col("jaccard"))

  /** Containment near-dup pairs — the subset-duplication detector Jaccard
    * misses (Broder's containment measure): containment(q ⊆ t) =
    * |shingles(q) ∩ shingles(t)| / |shingles(q)| reads ~1.0 when a short
    * document is embedded verbatim in a long one, while Jaccard stays
    * near |q|/|t| (a 50-token quote inside a 5000-token page scores
    * Jaccard ~0.01 — invisible to [[nearDuplicates]] at any sane
    * threshold). Candidates come from the same frequency-capped
    * rare-shingle inverted-index join as [[ngramJaccard]], so candidate
    * volume is bounded by rare-shingle co-occurrence, never all-pairs;
    * exact containment is computed only on count-gated candidates.
    * Orientation: containment of the QUERY side (qid's shingles inside
    * tid's) — run with the small/new side as queries to find what they
    * duplicate from the corpus.
    *
    * Shingles are compared as xxhash64 values, as in [[ngramJaccard]]: the
    * chance of any collision among `n` distinct shingles is ~n²/2⁶⁵, and a
    * collision moves the counts only of documents holding a colliding
    * shingle.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      queryPred: Column, shingleSize: Int = 2, minCommon: Int = 3,
      threshold: Double = 0.8, maxDocFreq: Int = 100,
      maxDocFreqFrac: Option[Double] = None): DataFrame =
    commonShingles(df, idCol, textCol, queryPred, shingleSize, minCommon,
      maxDocFreq, maxDocFreqFrac)
      .withColumn("containment", col("nCommon") / col("sizeQ"))
      .filter(col("containment") >= threshold)
      .select(col("qid"), col("tid"), col("nCommon"), col("containment"))

  /** Shared candidate machinery of [[ngramJaccard]] and
    * [[containmentPairs]]: frequency-capped rare-shingle inverted-index
    * join between the query subset and the corpus, count-gated (A2),
    * with both sides' exact shingle-set sizes joined on. Returns
    * (qid, tid, nCommon, sizeQ, sizeT).
    */
  private def commonShingles(df: DataFrame, idCol: String, textCol: String,
      queryPred: Column, shingleSize: Int, minCommon: Int,
      maxDocFreq: Int, maxDocFreqFrac: Option[Double]): DataFrame = {
    // cache(): shingle rows feed the doc-frequency gate, the common-gram
    // join (both sides), and the set sizes. CALLER-OWNED lifetime — see
    // nearDuplicates. The gram STRINGS never surface in the output (only
    // counts and ids do), so they collapse to 64-bit hashes BEFORE the
    // distinct (guide §2.3 — narrower types through every exchange): the
    // dedup, the frequency gate, and the two inverted-index joins all
    // shuffle and compare longs instead of word n-grams. Distinctness is
    // preserved up to xxhash64 collisions (~n²/2⁶⁵ — vanishing at any
    // corpus size where the exact-count contract itself is meaningful,
    // and the oracle gate pins the results).
    val sh = shingles(df, idCol, textCol, shingleSize, hash64 = true)
      .cache()
    val freq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val rare = maxDocFreqFrac match {
      case Some(f) =>
        require(f > 0 && f <= 1, s"maxDocFreqFrac in (0,1], got $f")
        freq.crossJoin(broadcast(df.agg(count(lit(1)).as("_n"))))
          .filter(col("df") <= col("_n") * f).select("shingle")
      case None => freq.filter(col("df") <= maxDocFreq).select("shingle")
    }
    val shRare = sh.join(rare, Seq("shingle"))
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("setSize"))
    val q = df.filter(queryPred).select(col(idCol).as("qid"))
    val common = shRare.join(q, shRare("id") === q("qid"))
      .select(col("qid"), col("shingle"))
      .join(shRare.select(col("id").as("tid"), col("shingle")), Seq("shingle"))
      .filter(col("qid") =!= col("tid"))
      .groupBy(col("qid"), col("tid"))
      .agg(count(lit(1)).as("nCommon"))
      .filter(col("nCommon") >= minCommon)
    common
      .join(sizes.select(col("id").as("qid"), col("setSize").as("sizeQ")), Seq("qid"))
      .join(sizes.select(col("id").as("tid"), col("setSize").as("sizeT")), Seq("tid"))
  }

  /** 64-bit SimHash over whitespace tokens: per-bit majority vote of token
    * hashes (first 16 hex digits of md5 = 64 bits, carried as two signed
    * 32-bit halves so `conv` never overflows), ties -> bit 0. Fully
    * built-in: tokens explode once, one partial-aggregating sum per bit.
    *
    * 64 bits matter at corpus scale: a 16-bit signature has only 65k
    * distinct values, so Hamming-band buckets degenerate to ~n/2^bandWidth
    * rows and the candidate join goes quadratic. 64-bit signatures give
    * (maxHamming+1) bands of ~64/(h+1) bits each — at h=3 that is 16-bit
    * bands with 65k bucket values PER BAND, which keeps buckets small.
    */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // widen: tokenize+md5 map side (see graft.Par — no-op at scale)
    val tok = graft.Par.widen(df).select(col(idCol).as("id"),
      explode(split(col(textCol), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
    // digest hoisted into a projection once; two 32-bit halves because
    // conv() of 16 hex chars would overflow signed 64-bit for half the space
    val h = tok
      .select(col("id"), md5(col("tok")).as("dg"))
      .select(col("id"),
        conv(substring(col("dg"), 1, 8), 16, 10).cast("long").as("hhi"),
        conv(substring(col("dg"), 9, 8), 16, 10).cast("long").as("hlo"))
    // single shuffle: one partial-aggregating sum per bit (no 64x explode);
    // majority vote of (+-1) == 2*sum(bit) - count > 0
    val bitSums = (0 until 64).map { b =>
      val src = if (b < 32) s"(hlo >> $b)" else s"(hhi >> ${b - 32})"
      sum(expr(s"$src & 1")).as(s"b$b")
    }
    val aggCols = count(lit(1)).as("n") +: bitSums
    val agg = h.groupBy(col("id")).agg(aggCols.head, aggCols.tail: _*)
    // bits 0..62 sum to at most Long.MaxValue and the bit-63 term
    // (Long.MinValue) is added last, so the signed sum never overflows and
    // lands on exactly the two's-complement 64-bit signature
    val hash = (0 until 64).map(b =>
      when(col(s"b$b") * 2 - col("n") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    agg.select(col("id"), hash.as("simhash"))
  }

  /** Exact duplicate-substring spans (the Lee et al. 2021 "Deduplicating
    * Training Data" method, token-granular): hash every `w`-token window,
    * keep windows whose hash occurs at least `minOccurrences` times in the
    * WHOLE corpus (cross-doc or repeated within one doc), and merge
    * overlapping/adjacent duplicate windows into maximal spans per doc.
    * Output: (id, span_start, span_end, n_windows) with token-index bounds
    * (inclusive) — feed to a span-removal rewrite or drop whole docs above
    * a duplication ratio.
    *
    * Scale shape: one hash-distributed aggregation over window hashes (the
    * only corpus-wide shuffle — md5 keys, skew-free), a semi-join of
    * window rows against the duplicated-hash set (each row matches at most
    * one key — no fan-out), and span merging as a per-doc window function
    * (partitioned by doc, never cross-doc state). Window count = token
    * count, so the whole pipeline is linear in corpus size.
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      w: Int = 8, minOccurrences: Int = 2): DataFrame = {
    require(w >= 1 && minOccurrences >= 2,
      s"need w >= 1 and minOccurrences >= 2, got w=$w, min=$minOccurrences")
    val windows = windowHashes(df, idCol, textCol, w)
    val dupHashes = windows.groupBy(col("h"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= minOccurrences)
      .select(col("h"))
    mergeSpans(windows.join(dupHashes, Seq("h"), "left_semi"), w)
  }

  /** Keep-one-canonical variant of [[duplicateSpans]] (Lee et al.'s actual
    * policy: each duplicated substring survives in exactly one place). Per
    * duplicated window hash, the globally-first occurrence — smallest
    * (id, start) — is the canonical copy and is NOT flagged; every other
    * occurrence is. A span repeated across docs therefore stays intact in
    * the lowest-id doc (ties to the earliest position within it, for
    * self-repeats) and is stripped everywhere else, so [[stripSpans]] on
    * this output removes duplicates without destroying the text itself.
    *
    * Scale shape: identical to [[duplicateSpans]] — the winner rides the
    * SAME single corpus-wide hash aggregation as a min(struct) (no extra
    * shuffle, no per-cluster iteration: a duplicate cluster here is "all
    * occurrences of one window hash", so the argmin IS the cluster winner),
    * and the join back is the same hash-distributed equi-join as the
    * left-semi gate.
    */
  def duplicateSpansKeepOne(df: DataFrame, idCol: String, textCol: String,
      w: Int = 8, minOccurrences: Int = 2): DataFrame = {
    require(w >= 1 && minOccurrences >= 2,
      s"need w >= 1 and minOccurrences >= 2, got w=$w, min=$minOccurrences")
    val windows = windowHashes(df, idCol, textCol, w)
    val gate = windows.groupBy(col("h"))
      .agg(count(lit(1)).as("occ"),
        min(struct(col("id"), col("start"))).as("_win"))
      .filter(col("occ") >= minOccurrences)
      .select(col("h"), col("_win.id").as("_wid"),
        col("_win.start").as("_wstart"))
    val losers = windows.join(gate, Seq("h"))
      .filter(!(col("id") === col("_wid") && col("start") === col("_wstart")))
      .select(col("id"), col("start"))
    mergeSpans(losers, w)
  }

  /** (id, start, h) rows: md5 of every `w`-token window. NOT
    * distinct-per-doc — a window repeated inside one doc is a duplicate
    * too (Lee et al. dedups self-repeats as well).
    */
  private def windowHashes(df: DataFrame, idCol: String, textCol: String,
      w: Int): DataFrame = {
    val positions = when(size(col("_w")) >= w,
      sequence(lit(0), size(col("_w")) - w)).otherwise(array())
    val gram = concat_ws(" ",
      (0 until w).map(j => element_at(col("_w"), col("_i") + j + 1)): _*)
    df.select(col(idCol).as("id"), split(col(textCol), "\\s+").as("_w"))
      .withColumn("_i", explode(positions))
      .select(col("id"), col("_i").as("start"), md5(gram).as("h"))
  }

  /** Merge flagged (id, start) windows into maximal [start, start+w-1]
    * spans per doc: a window starts a new span when it begins past every
    * previous window's end. Per-doc window functions — never cross-doc
    * state.
    */
  private def mergeSpans(dupWindows: DataFrame, w: Int): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("start"))
    val prev = byDoc.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    dupWindows
      .withColumn("_maxPrevEnd", max(col("start") + lit(w - 1)).over(prev))
      .withColumn("_newSpan",
        when(col("_maxPrevEnd").isNull ||
          col("start") > col("_maxPrevEnd") + 1, lit(1)).otherwise(lit(0)))
      .withColumn("_span", sum(col("_newSpan")).over(byDoc))
      .groupBy(col("id"), col("_span"))
      .agg(min(col("start")).as("span_start"),
        (max(col("start")) + lit(w - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("id"), col("span_start"), col("span_end"), col("n_windows"))
  }

  /** Apply [[duplicateSpans]]: rewrite each flagged doc with its
    * duplicated token spans REMOVED. On [[duplicateSpans]] output this is
    * the conservative scrub (every flagged occurrence goes); feed it
    * [[duplicateSpansKeepOne]] spans instead to keep one canonical copy of
    * each duplicated substring.
    * Returns only the rewritten docs: (id, n_removed, clean_text) — docs
    * without spans are untouched by construction, so callers left-join /
    * coalesce to assemble the full corpus.
    *
    * Scale: spans collapse to one array per flagged doc (bounded — spans
    * are disjoint, so at most n_tokens/w of them), and the rewrite is a
    * row-local indexed filter over the token array. No shuffle beyond the
    * span groupBy.
    */
  def stripSpans(df: DataFrame, idCol: String, textCol: String,
      spans: DataFrame): DataFrame = {
    val sp = spans.groupBy(col("id"))
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("_spans"))
    df.select(col(idCol).cast("long").as("id"), col(textCol).as("_text"))
      .join(sp, Seq("id"))
      .withColumn("_w", split(col("_text"), "\\s+"))
      .withColumn("_kept", filter(col("_w"), (t, i) =>
        !exists(col("_spans"), s =>
          i >= s.getField("span_start") && i <= s.getField("span_end"))))
      .select(col("id"),
        (size(col("_w")) - size(col("_kept"))).cast("long").as("n_removed"),
        array_join(col("_kept"), " ").as("clean_text"))
  }

  /** Apply near-dup pairs to a corpus: greedy keep-lowest-id — every doc
    * that appears as the LARGER id of a qualifying pair is dropped. (Not
    * transitive-closure clustering: a chain a-b, b-c drops b and c, keeping
    * a, which matches the usual curation greedy; full clustering would need
    * an iterative connected-components pass.)
    */
  def applyNearDups(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val losers = pairs.select(col("b").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Apply near-dup pairs keeping the BEST doc of each duplicate CLUSTER
    * (argmax of `rank`, ties to the smallest id) — curation usually keeps
    * the highest-quality copy, not the lowest id. Clustering is the full
    * transitive closure ([[components]]), so unlike [[applyNearDups]]'s
    * greedy pairwise rule, exactly ONE doc survives per connected cluster
    * regardless of chain shape; docs in no pair survive untouched.
    *
    * Scale: components runs over the pairs table; winners are one argmax
    * aggregation over the labeled members (max_by rides the same shuffle);
    * survivors assemble from two semi/anti joins on id — the corpus is
    * never shuffled on anything but its id.
    */
  def applyNearDupsBest(df: DataFrame, idCol: String, pairs: DataFrame,
      rank: Column): DataFrame = {
    val labels = components(pairs)
      .select(col("node").as(idCol), col("component"))
    val winners = df.join(labels, Seq(idCol))
      .groupBy(col("component"))
      .agg(max_by(col(idCol),
        struct(rank.as("r"), (-col(idCol)).as("nid"))).as(idCol))
      .select(col(idCol))
    df.join(labels.select(col(idCol)), Seq(idCol), "left_anti")
      .unionByName(df.join(winners, Seq(idCol), "left_semi"))
  }

  /** Connected components over near-dup pairs: iterative minimum-label
    * propagation (each node adopts the smallest label in its neighborhood
    * until fixpoint — converges in O(diameter) rounds, and dup clusters
    * have tiny diameters). The transitive-closure clustering that
    * [[applyNearDups]]'s greedy rule approximates: a chain a-b, b-c lands
    * all three in component min(a,b,c). Output: (node, component).
    *
    * Scale: each round is two hash-shuffles over the PAIRS table (already
    * the small output of LSH verification, not the corpus);
    * `localCheckpoint` truncates lineage so plans don't grow per round.
    */
  def components(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // cache the (possibly expensive) pair pipeline BEFORE mirroring it —
    // otherwise the union computes it twice
    val p = pairs.select(col("a"), col("b")).cache()
    val edges = p.union(p.select(col("b").as("a"), col("a").as("b")))
      .distinct().cache()
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("label")), lit(0L))).head().getLong(0)
    // round 0 folded into init: label = min(node, min neighbor) — one
    // aggregation replaces the distinct-node pass AND the first join round
    // (pair-shaped components, the common case, converge immediately)
    var labels = edges.groupBy(col("a").as("node"))
      .agg(min(col("b")).as("nmin"))
      .select(col("node"), least(col("node"), col("nmin")).as("label"))
      .localCheckpoint()
    // labels only ever decrease, so an unchanged label SUM == fixpoint —
    // one cheap single-stage agg per round instead of a join + count
    var prevSum = labelSum(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = edges
        .join(labels.select(col("node").as("b"), col("label").as("nl")), Seq("b"))
        .groupBy(col("a").as("node"))
        .agg(min(col("nl")).as("nmin"))
      val updated = labels
        .join(neighborMin, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
        .localCheckpoint()
      val s = labelSum(updated)
      labels = updated
      converged = s == prevSum
      prevSum = s
      i += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"components() hit maxIter=$maxIter before the label fixpoint — " +
          "clusters with diameter > maxIter are returned split; rerun with " +
          "a larger maxIter for full transitive closure")
    p.unpersist()
    edges.unpersist()
    labels.select(col("node"), col("label").as("component"))
  }

  /** Incrementally merge a batch of NEW near-dup pairs into an existing
    * (node, component) labeling without recomputing connected components
    * over history — the cluster-maintenance twin of
    * [[appendToDedupIndex]]: the index makes pair DISCOVERY O(batch), this
    * makes cluster maintenance O(touched clusters).
    *
    * Correctness shape: a component label is its minimum member id, so the
    * label table compresses every prior edge into per-component STARS
    * (member → min-member). Min-label propagation over only (a) the new
    * pairs and (b) the star edges of components the batch touches yields
    * exactly the labels a full [[components]] recompute over (all old
    * pairs ∪ new pairs) would assign: merged sets get min(union of member
    * ids), and components untouched by the batch cannot change — they pass
    * through untouched beyond two semi-joins on the (small) label table.
    * Convergence is O(new-pair chain diameter) rounds, not historical
    * diameter — stars have diameter 2 regardless of how the component grew.
    *
    * `labels` is (node, component) from [[components]] or a previous merge;
    * `newPairs` is (a, b) (e.g. an [[appendToDedupIndex]] batch result).
    * Pairs between brand-new docs work — they simply touch no existing
    * component. Output: (node, component), same contract as [[components]].
    */
  def mergeComponents(labels: DataFrame, newPairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    val (touchedComps, delta) = mergeParts(labels, newPairs, maxIter)
    // joining on "component" moves it to the first column — re-project so
    // the (node, component) contract matches components()
    labels.join(touchedComps, Seq("component"), "left_anti")
      .select(col("node"), col("component"))
      .unionByName(delta)
  }

  /** The RELABELED subset of [[mergeComponents]] only: (node, component)
    * for every node in a component the batch touches, plus brand-new
    * nodes — i.e. exactly the rows whose label may differ from `labels`.
    * The partial-rewrite primitive for persisted label tables: a sink
    * bucketing labels by NODE hash rewrites only the buckets holding
    * delta nodes (a node's bucket never changes, so relabeling never
    * migrates rows across partitions — see
    * `streaming/DedupStream.processClusterBatch`).
    */
  def mergeComponentsDelta(labels: DataFrame, newPairs: DataFrame,
      maxIter: Int = 20): DataFrame =
    mergeParts(labels, newPairs, maxIter)._2

  /** Shared core of the incremental merge: (touched components, relabeled
    * delta rows).
    */
  private def mergeParts(labels: DataFrame, newPairs: DataFrame,
      maxIter: Int): (DataFrame, DataFrame) = {
    val p = newPairs.select(col("a"), col("b")).cache()
    val batchNodes = p.select(col("a").as("node"))
      .union(p.select(col("b").as("node"))).distinct()
    // components with at least one member in the batch — eagerly
    // checkpointed (it's a small distinct-component set): the returned
    // frames must not depend on `p` after the unpersist below, or the
    // caller's final action would replay the whole newPairs pipeline
    // uncached
    val touchedComps = labels.join(batchNodes, Seq("node"), "left_semi")
      .select(col("component")).distinct()
      .localCheckpoint()
    // their star edges (min-member rows are (m, m) — no self-edge needed:
    // every component has >= 2 members, so m appears on the b side)
    val starPairs = labels.join(touchedComps, Seq("component"), "left_semi")
      .filter(col("node") =!= col("component"))
      .select(col("node").as("a"), col("component").as("b"))
    val merged = components(starPairs.unionByName(p), maxIter)
    p.unpersist()
    (touchedComps, merged.select(col("node"), col("component")))
  }

  /** SimHash near-dup pairs: every (a < b) pair within `maxHamming` where
    * AT LEAST ONE side satisfies `queryPred` — a query doc's near-dups are
    * reported regardless of which side has the smaller id (the
    * "at least one member new" gate of [[appendToDedupIndex]], with
    * "new" = query). `queryPred` is evaluated over the signature rows, so
    * it may reference only the doc id (exposed as `id`); pre-filter-and-tag
    * upstream for predicates over other doc columns.
    *
    * Scale shape: (maxHamming+1)-band pigeonhole bucketing, the same LSH
    * cascade as [[lshCandidates]]. If two signatures differ in at most
    * `maxHamming` bits, at least one of the `maxHamming+1` disjoint bit
    * bands is bit-identical, so an exact-match equi-join on (band, bandVal)
    * produces a candidate superset — NO all-pairs nested loop — and the
    * Hamming verify runs only on candidates. Candidate recall is exact
    * (pigeonhole), so the result set is identical to the brute-force join
    * — UP TO the hot-bucket cap: real corpora concentrate signature mass
    * (boilerplate, near-empty docs) into few values, and at h=3 the bands
    * are ~16-bit slices, so one hot (band, bval) bucket means an unbounded
    * member buffer and b² pair expansion in a single task. Buckets above
    * `maxBucket` are dropped wholesale with the same observed-metric +
    * driver-WARN contract as [[lshCandidates]] (see [[DefaultMaxBucket]]
    * for the trade-off and the exact-dedup-first mitigation).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      queryPred: Column, maxHamming: Int, bits: Int = 64,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    hammingPairs(simhash64(df, idCol, textCol), queryPred, maxHamming,
      bits, maxBucket)

  /** The signature-agnostic body of [[simhashPairs]]: all (a < b) pairs
    * within `maxHamming` over ANY (id, simhash) table — SimHash text
    * signatures, perceptual image hashes ([[Multimodal.aHash64]]),
    * whatever packs similarity into bit agreement. Same
    * (maxHamming+1)-band pigeonhole cascade, exact candidate recall up
    * to the hot-bucket cap, same at-least-one-query gate.
    */
  def hammingPairs(sig: DataFrame, queryPred: Column, maxHamming: Int,
      bits: Int = 64, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val nBands = maxHamming + 1
    // band i covers bits [i*bits/nBands, (i+1)*bits/nBands) — widths differ
    // by at most 1; all `bits` bits are covered exactly once. shiftright is
    // arithmetic, but the mask kills the sign-extended high bits, so band
    // values are the true bit slices even for negative signatures.
    val bounds = (0 to nBands).map(i => i * bits / nBands)
    val bandCols = (0 until nBands).map { i =>
      val lo = bounds(i)
      val mask = (1L << (bounds(i + 1) - lo)) - 1
      struct(lit(i).as("band"),
        shiftright(col("simhash"), lo).bitwiseAND(lit(mask)).as("bval"))
    }
    val banded = sig
      .select(col("id"), col("simhash"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("simhash"),
        col("bb.band").as("band"), col("bb.bval").as("bval"))
    // candidate pairs via ONE aggregation over the banded rows (the
    // query-side/corpus-side equi-join formulation computed the whole
    // signature pipeline twice): each (band, bval) bucket collects its
    // members with a query flag, pairs expand array-locally — at least
    // one side must be a query member. A qualifying pair can collide in
    // several bands — distinct before the Hamming verify. The signature
    // rides along in the member struct, so no re-join against `sig` is
    // needed for the verify.
    val buckets = cappedMemberBuckets(banded, Seq("band", "bval"),
      struct(col("id"), col("simhash").as("h"), queryPred.as("isq")),
      maxBucket)
    expandMemberPairs(buckets)
      .filter(col("m.isq") || col("x.isq"))
      .select(col("m.id").as("a"), col("x.id").as("b"),
        col("m.h").as("ha"), col("x.h").as("hb"))
      .distinct()
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming"))
  }

  /** Edit-distance fuzzy pairs under standard record-linkage blocking —
    * the CHARACTER-level member of the near-dup family (shingle Jaccard
    * and SimHash see token sets; this sees typo-scale prefix edits).
    * Candidates form only inside a block of equal `blockCols` + equal
    * first token, further gated to adjacent `lenBucket`-char length
    * bands (a true near-dup pair can't differ in length by more than its
    * edit budget, so banding is safe for maxDist < lenBucket); the
    * O(prefixLen²) Levenshtein DP then runs per CANDIDATE, never per
    * corpus pair, and only on `prefixLen`-char prefixes — bounded cost
    * per candidate regardless of document length.
    *
    * Scale shape: one equi-join shuffle on the block key; block sizes
    * are vocabulary-bounded (lang × first token), AQE splits stragglers.
    * Output: (a, b, ed) with a < b, ed <= maxDist.
    */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String] = Seq.empty, prefixLen: Int = 60,
      maxDist: Int = 15, lenBucket: Int = 50): DataFrame = {
    val base = df.select(
      (Seq(col(idCol).cast("long").as("id"),
        substring(col(textCol), 1, prefixLen).as("pfx"),
        substring_index(col(textCol), " ", 1).as("_w1"),
        (length(col(textCol)).cast("long") / lenBucket).cast("long").as("_lb"))
        ++ blockCols.map(col)): _*)
    val keys = "_w1" +: blockCols
    val a = base.select(Seq(col("id").as("a"), col("pfx").as("pa"),
      col("_lb").as("la")) ++ keys.map(col): _*)
    val b = base.select(Seq(col("id").as("b"), col("pfx").as("pb"),
      col("_lb").as("lb")) ++ keys.map(col): _*)
    a.join(b, keys)
      .filter(col("a") < col("b") && abs(col("la") - col("lb")) <= 1)
      .withColumn("ed", levenshtein(col("pa"), col("pb")))
      .filter(col("ed") <= maxDist)
      .select(col("a"), col("b"), col("ed"))
  }
}
