package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import graft.sources.IndexCommit

/** Streaming near-duplicate detection — the streaming face of
  * `ops.Dedup.simhashPairs`: per-row 64-bit SimHash, (maxHamming+1)-band
  * pigeonhole bucketing (same exact-recall scheme as batch), and per-bucket
  * state holding the signatures seen so far. A new document emits one
  * NearDupHit per stored bucket-mate within the Hamming radius.
  *
  * Pairs colliding in several bands are emitted once per band — run
  * `dropDuplicates("a","b")` (or dedupe at the sink) when exact-once pairs
  * matter. Total state is bounded two ways: per-bucket membership saturates
  * at `maxBucket`, and whole buckets idle past the event-time horizon are
  * evicted (EventTimeTimeout — the [[EventsStream.sessionize]] pattern), so
  * bucket COUNT no longer grows with distinct docs over the stream's
  * lifetime.
  */
object DedupStream {

  final case class DocRow(doc_id: Long, ts: java.sql.Timestamp, text: String)
  final case class BandRow(band: Int, bval: Long, doc_id: Long, sig: Long,
      ts: java.sql.Timestamp)
  final case class NearDupHit(a: Long, b: Long, hamming: Int)

  /** Per-row 64-bit SimHash, value-identical to `ops.Dedup.simhash64`'s
    * grouped formulation: token hash = first 16 hex chars of md5 (= high 8
    * digest bytes, big-endian), per-bit majority vote of ±1, ties -> 0.
    * Plain Scala so it runs inside typed streaming maps without a groupBy
    * (streaming aggs would need their own watermark/output-mode machinery).
    */
  def simhash64Value(text: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val votes = new Array[Int](64)
    text.split("\\s+").iterator.filter(_.nonEmpty).foreach { tok =>
      val d = md.digest(tok.getBytes("UTF-8"))
      // first 16 hex chars == high 8 bytes of the digest, big-endian
      var h = 0L
      var i = 0
      while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
      var b = 0
      while (b < 64) {
        votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** Pigeonhole band rows for a signature (same bounds as the batch
    * operator: band i covers bits [i*64/nb, (i+1)*64/nb)).
    */
  def bandRows(docId: Long, ts: java.sql.Timestamp, sig: Long,
      maxHamming: Int): Seq[BandRow] = {
    val nb = maxHamming + 1
    val bounds = (0 to nb).map(i => i * 64 / nb)
    (0 until nb).map { i =>
      val lo = bounds(i)
      val mask = (1L << (bounds(i + 1) - lo)) - 1
      BandRow(i, (sig >>> lo) & mask, docId, sig, ts)
    }
  }

  /** Streaming face of the persisted dedup index: each micro-batch runs
    * `ops.Dedup.appendToDedupIndex` — report every near-dup pair involving
    * the batch (vs the index so far AND within the batch), then commit the
    * batch's signatures — via foreachBatch. The index cascade is a batch
    * plan (stored-side scan, prune join, bucket aggregation, parquet
    * append): foreachBatch is exactly the batch-at-a-time contract the
    * index was designed around, and what a continuous streaming plan
    * cannot express (arbitrary join + write per trigger).
    *
    * The index at `indexPath` must exist (`Dedup.buildDedupIndex`, possibly
    * on an empty frame) — its meta pins the signature params for every
    * batch. Pairs land under `pairsOutPath/batch=<id>`.
    *
    * Signature ingest is EXACTLY-ONCE under replay. Each append commits
    * through `sources.IndexCommit`: its signature files carry the batchId
    * and the index pin (`<indexPath>/meta`) takes it as the high-watermark
    * last. A redelivered batch at or below the watermark skips the append
    * and recomputes its pairs READ-ONLY via `searchDedupIndex` — the
    * output is identical, because the replayed batch's signatures are
    * already in the index and the either-side-new gate reports the same
    * pair set. A batch that crashed before its pin replays as new: its
    * files from the first attempt are dropped before the pairs are read.
    */
  def indexAppendSink(docs: DataFrame, idCol: String, textCol: String,
      indexPath: String, pairsOutPath: String, rowsPerBand: Int = 2,
      threshold: Double = 0.5,
      maxBucket: Int = graft.ops.Dedup.DefaultMaxBucket): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      processIndexBatch(batch, batchId, idCol, textCol, indexPath,
        pairsOutPath, rowsPerBand, threshold, maxBucket)
    }

  /** One micro-batch of [[indexAppendSink]], exposed so replay semantics
    * are testable without restarting a streaming query. See the sink's
    * scaladoc for the exactly-once contract. The replay search excludes
    * the batch's own committed signatures from the stored side
    * (`excludeProbeFromStored`) so it sees exactly the pre-append index —
    * without that, bucket membership would double-count the batch and a
    * bucket near `maxBucket` could drop wholesale on replay while it
    * survived the original run.
    */
  def processIndexBatch(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, indexPath: String, pairsOutPath: String,
      rowsPerBand: Int = 2, threshold: Double = 0.5,
      maxBucket: Int = graft.ops.Dedup.DefaultMaxBucket): Unit = {
    val pairs =
      if (!isNew(batch, indexPath, batchId)) {
        // REPLAY: signatures already committed — recompute pairs read-only
        graft.ops.Dedup.searchDedupIndex(batch, idCol, textCol, indexPath,
          rowsPerBand, threshold, maxBucket,
          excludeProbeFromStored = true)
      } else IndexCommit.inBatch(batchId)(graft.ops.Dedup.appendToDedupIndex(
        batch, idCol, textCol, indexPath, rowsPerBand, threshold, maxBucket))
    EventsStream.publishBatch(pairsOutPath, batchId, pairs)
  }

  /** Read-or-create the pinned bucket count of a hash-bucketed on-disk
    * table (the cluster labels table, the curate hash table): nBuckets is
    * part of the LAYOUT — a later run with a different value would probe
    * buckets the old rows aren't in, or strand stale rows in partitions a
    * partial rewrite never touches. The pin is read on the driver each
    * trigger, so a deleted-and-recreated table re-pins from the CURRENT
    * run's value. The table and its pin are recovered first: the sink is
    * their single writer.
    */
  private def pinnedBuckets(spark: org.apache.spark.sql.SparkSession,
      metaPath: String, table: String, nBuckets: Int): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    IndexCommit.recover(conf, Seq(table, metaPath))
    graft.sources.ManifestIO.readIntMeta(conf, metaPath, "n_buckets")
      .getOrElse {
        graft.sources.ManifestIO.writeMetaDir(conf, metaPath,
          Seq("n_buckets" -> nBuckets))
        nBuckets
      }
  }

  /** Whether `batchId` is above the index's pinned watermark, i.e. still
    * has to commit (the shared guard of every exactly-once sink; see
    * [[committedBatchId]]). Recovers the pin first: the sink is the
    * index's single writer.
    */
  private def isNew(batch: DataFrame, indexPath: String,
      batchId: Long): Boolean = {
    val spark = batch.sparkSession
    IndexCommit.recover(spark.sparkContext.hadoopConfiguration,
      Seq(s"${indexPath.stripSuffix("/")}/meta"))
    batchId > committedBatchId(spark, indexPath)
  }

  /** Streaming end-to-end incremental curation: per micro-batch, dedup
    * the batch against the persisted index ([[processIndexBatch]] — pairs
    * involving the batch, exactly-once signature append), then fold those
    * pairs into a persisted (node, component) labels table via
    * `ops.Dedup.mergeComponentsDelta` — pair DISCOVERY and cluster
    * MAINTENANCE both O(batch-ish) per trigger, with `<labelsPath>`
    * always holding the labels a full recompute over every pair seen so
    * far would produce (read it with `spark.read.parquet(labelsPath)`;
    * rows carry an extra `lbucket` partition column).
    *
    * 100 TB write shape: labels persist PARTITIONED by node-hash bucket,
    * and each trigger rewrites ONLY the buckets holding relabeled nodes
    * (a partition swap). Bucketing by NODE — not component —
    * is what makes the partial rewrite sound: a node's bucket never
    * changes, so relabeling can never migrate a row out of a partition
    * and leave a stale copy behind. Per-batch write cost is
    * O(|touched buckets|), not O(|all labels|).
    *
    * Replay-safe end to end: the signature append is guarded by the
    * batchId high-watermark, the batch's pairs directory replaces
    * itself, and the label merge is IDEMPOTENT — re-merging pairs already
    * folded in relabels the same components to the same minima, so a
    * redelivered batch rewrites the same buckets with the same rows. The
    * touched buckets swap in through `sources.IndexCommit`.
    */
  def clusterMaintSink(docs: DataFrame, idCol: String, textCol: String,
      indexPath: String, pairsOutPath: String, labelsPath: String,
      rowsPerBand: Int = 2, threshold: Double = 0.5,
      nBuckets: Int = 64): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      processClusterBatch(batch, batchId, idCol, textCol, indexPath,
        pairsOutPath, labelsPath, rowsPerBand, threshold, nBuckets)
    }

  /** One micro-batch of [[clusterMaintSink]], exposed for replay testing. */
  def processClusterBatch(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, indexPath: String, pairsOutPath: String,
      labelsPath: String, rowsPerBand: Int = 2, threshold: Double = 0.5,
      nBuckets: Int = 64): Unit = {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val spark = batch.sparkSession
    import spark.implicits._
    // nBuckets is part of the table's on-disk layout: a different value on
    // a later run would bucket delta nodes differently and leave stale
    // duplicate rows in old partitions (the swap only touches
    // partitions that receive rows). Pin it next to the table and fail
    // loudly on mismatch — BEFORE anything is appended this trigger.
    val storedBuckets = pinnedBuckets(spark,
      s"${labelsPath.stripSuffix("/")}_meta", labelsPath, nBuckets)
    require(storedBuckets == nBuckets,
      s"labels table at $labelsPath was built with nBuckets=$storedBuckets, " +
        s"got $nBuckets — partial rewrites would leave stale rows; " +
        "pass the original value or rebuild the table")
    processIndexBatch(batch, batchId, idCol, textCol, indexPath,
      pairsOutPath, rowsPerBand, threshold)
    // the batch's own materialized pairs output — no recompute
    val pairs = spark.read.parquet(s"$pairsOutPath/batch=$batchId")
    val prev =
      try spark.read.parquet(labelsPath)
        .select(col("node"), col("component"))
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          Seq.empty[(Long, Long)].toDF("node", "component")
      }
    def bucket(c: org.apache.spark.sql.Column) =
      pmod(xxhash64(c), lit(nBuckets.toLong))
    // eager snapshot BEFORE overwriting directories the plan reads from
    // (the appendToDedupIndex snapshot-before-write rule)
    val delta = graft.ops.Dedup.mergeComponentsDelta(prev, pairs)
      .localCheckpoint()
    // rewrite exactly the buckets holding delta nodes: delta rows plus the
    // bucket-mates whose labels did not change ride along, everything else
    // stays on disk untouched
    val affected = delta.select(bucket(col("node")).as("lbucket")).distinct()
    val keep = prev.withColumn("lbucket", bucket(col("node")))
      .join(affected, Seq("lbucket"), "left_semi")
      .join(delta.select(col("node")), Seq("node"), "left_anti")
      .select(col("node"), col("component"))
    val labels = delta.unionByName(keep)
      .withColumn("lbucket", bucket(col("node")))
      .localCheckpoint()
    IndexCommit.commit(spark, Seq(IndexCommit.Output(labelsPath,
      IndexCommit.ReplaceParts,
      labels.write.mode("overwrite").partitionBy("lbucket").parquet(_))))
  }

  /** Streaming end-to-end curation — the streaming twin of
    * `ops.Curate.curate`. Per micro-batch:
    *
    *   1. quality gate (row-local `TextAnalysis.qualityFeatures` filter),
    *   2. exact dedup — within the batch (keep the smallest id per text
    *      hash) and against every PRIOR batch via a persisted,
    *      hash-bucketed md5 table,
    *   3. near-dup removal against the persisted dedup index at
    *      `indexPath` (the [[processIndexBatch]] exactly-once cascade): a
    *      batch doc pairing with anything already indexed, or with a
    *      smaller id in its own batch, is dropped,
    *
    * with survivors appended to a curated corpus. With doc ids increasing
    * across batches (the natural arrival order), the union of the batch
    * outputs equals `Curate.curate(union, cfg.copy(estimatedVerify =
    * true))` — keep-first-arrival IS keep-lowest-id, and the index replays
    * the same signature-agreement verify under the same pinned params
    * (build the index with `cfg.shingleSize`/`cfg.numHashes`; the
    * stream==batch spec pins the equivalence).
    *
    * Layout under `outPath`:
    *   - `docs/batch=<id>` — curated survivors (original columns); read
    *     the corpus with `spark.read.parquet("<outPath>/docs")`
    *   - `hashes/batch=<id>/hb=<b>` — exact-dedup survivors' text hashes,
    *     bucketed by hash for pruned probes (layout pinned in
    *     `hashes_meta`)
    *   - `pairs/batch=<id>` — the near-dup pairs the batch generated
    *
    * 100 TB shape: the quality gate is scan-speed; the exact-dedup probe
    * reads ONLY the stored hash buckets the batch touches (one bounded
    * `isin` over ≤ nHashBuckets collected values — directory-level
    * partition pruning, not a corpus scan); the near-dup stage is the
    * O(batch) pruned index cascade. Nothing per trigger scales with
    * corpus size. The three per-batch directories publish in one
    * commit, each an idempotent replace (`EventsStream.batchDir`), and
    * the signature append rides the shared batchId high-watermark, so a
    * replayed batch rewrites the same rows and appends nothing (the
    * stored-hash probe filters `batch < batchId`, so a replay never sees
    * its own committed hashes).
    */
  def curateStreamSink(docs: DataFrame, idCol: String, textCol: String,
      indexPath: String, outPath: String,
      cfg: graft.ops.Curate.Config = graft.ops.Curate.Config(),
      nHashBuckets: Int = 64): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      processCurateBatch(batch, batchId, idCol, textCol, indexPath, outPath,
        cfg, nHashBuckets)
    }

  /** One micro-batch of [[curateStreamSink]], exposed for replay testing. */
  def processCurateBatch(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, indexPath: String, outPath: String,
      cfg: graft.ops.Curate.Config = graft.ops.Curate.Config(),
      nHashBuckets: Int = 64): Unit = {
    import org.apache.spark.sql.functions._
    val spark = batch.sparkSession
    import spark.implicits._
    val base = outPath.stripSuffix("/")
    val hashesPath = s"$base/hashes"
    val storedB = pinnedBuckets(spark, s"$base/hashes_meta", hashesPath,
      nHashBuckets)
    require(storedB == nHashBuckets,
      s"curate hash table at $hashesPath was built with " +
        s"nHashBuckets=$storedB, got $nHashBuckets — probes would miss " +
        "stored hashes; pass the original value or rebuild the table")

    // 1. quality gate
    val q = graft.ops.TextAnalysis.qualityFeatures(batch, idCol, textCol)
      .filter(graft.ops.Curate.qualityPred(cfg)).select(col(idCol))
    val quality = batch.join(q, Seq(idCol), "left_semi")

    // 2. exact dedup: within-batch min id per hash, then anti-join the
    // stored table pruned to the batch's touched buckets
    def hb(c: org.apache.spark.sql.Column) =
      pmod(xxhash64(c), lit(nHashBuckets.toLong)).cast("int")
    val hashed = quality.withColumn("_h", md5(col(textCol)))
    val minIds = hashed.groupBy(col("_h")).agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    val batchKept = hashed.join(minIds, Seq(idCol), "left_semi")
    val touched = batchKept.select(hb(col("_h")).as("hb")).distinct()
      .as[Int].collect() // bounded: <= nHashBuckets values
    val stored =
      try spark.read.parquet(hashesPath)
        .filter(col("batch") < batchId && col("hb").isin(touched: _*))
        .select(col("h").as("_h"))
      catch {
        case _: org.apache.spark.sql.AnalysisException => // first batch
          Seq.empty[String].toDF("_h")
      }
    // eager snapshot: the frame is consumed by three writers below, and
    // the hash write lands in a directory this plan reads from
    val exact = batchKept.join(stored, Seq("_h"), "left_anti")
      .localCheckpoint()

    // 3. near-dup vs the persisted index — exactly-once signature append
    val pairs = (if (!isNew(exact, indexPath, batchId))
        graft.ops.Dedup.searchDedupIndex(exact, idCol, textCol, indexPath,
          cfg.rowsPerBand, cfg.nearDupThreshold,
          excludeProbeFromStored = true)
      else IndexCommit.inBatch(batchId)(graft.ops.Dedup.appendToDedupIndex(
        exact, idCol, textCol, indexPath, cfg.rowsPerBand,
        cfg.nearDupThreshold))).localCheckpoint()
    val kept = exact.join(pairs.select(col("b").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

    IndexCommit.commit(spark, Seq(
      EventsStream.batchDir(s"$base/docs", batchId, kept.drop("_h")),
      EventsStream.batchDir(s"$base/pairs", batchId, pairs),
      EventsStream.batchDir(hashesPath, batchId,
        exact.select(col("_h").as("h"), hb(col("_h")).as("hb")), "hb")))
  }

  /** The persisted replay high-watermark: the `batch_id` of the index's
    * pin (`<indexPath>/meta`), read on the driver; -1 when no batch has
    * committed since the index was built.
    */
  def committedBatchId(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Long =
    IndexCommit.watermark(spark.sparkContext.hadoopConfiguration,
      s"${indexPath.stripSuffix("/")}/meta")

  /** Streaming ingest into a persisted IVF ANN index: each micro-batch
    * runs `ops.Similarity.appendToAnnIndex` via foreachBatch — frozen
    * stored centroids assign the batch (broadcast, k rows) and each
    * vector appends into its label partition, so ingest stays O(batch)
    * per trigger and existing partitions never rewrite. The index at
    * `dbPath` must exist (`Similarity.buildAnnIndex`).
    *
    * EXACTLY-ONCE under replay via the same pinned batchId
    * high-watermark as [[indexAppendSink]]: a redelivered batch at or
    * below it is skipped outright (an ANN append has no per-batch output
    * to recompute), and one that crashed before its pin replays as new.
    */
  def annAppendSink(vectors: DataFrame,
      dbPath: String): DataStreamWriter[Row] =
    vectors.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      processAnnBatch(batch, batchId, dbPath)
    }

  /** One micro-batch of [[annAppendSink]], exposed for replay testing. */
  def processAnnBatch(batch: DataFrame, batchId: Long, dbPath: String): Unit = {
    if (isNew(batch, dbPath, batchId))
      IndexCommit.inBatch(batchId)(graft.ops.Similarity.appendToAnnIndex(batch, dbPath))
  }

  /** Streaming SCD2 dimension maintenance: each micro-batch of events
    * folds into the persisted history via `relational.Scd2.mergeOrInit` —
    * touched-users-only O(batch) windows per trigger, the event-log-to-
    * dimension-table pipeline as a live stream. Exactly-once under
    * foreachBatch replay TWICE over: the shared batchId high-watermark
    * skips redelivered batches outright, and Scd2's own per-user ts
    * watermark makes even an unguarded replay a no-op (every replayed
    * event sits at or below its user's last_ts and is dropped) — the
    * belt-and-braces a table that REWRITES history wants.
    */
  def scd2Sink(events: DataFrame, path: String,
      changesDir: Option[String] = None): DataStreamWriter[Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      processScd2Batch(batch, batchId, path, changesDir)
    }

  /** One micro-batch of [[scd2Sink]], exposed for replay testing. With
    * `changesDir`, each trigger also lands its CDC delta at
    * `changesDir/batch=<id>` — the outbox a downstream consumer tails
    * instead of re-reading the dimension. Idempotent per batch dir
    * (Scd2.writeChanges's `_SUCCESS` guard) on top of the shared batchId
    * high-watermark, so neither foreachBatch redelivery nor a crash
    * between the delta and history writes can tear or duplicate the feed.
    */
  def processScd2Batch(batch: DataFrame, batchId: Long,
      path: String, changesDir: Option[String] = None): Unit = {
    if (isNew(batch, path, batchId))
      IndexCommit.inBatch(batchId)(graft.relational.Scd2.mergeOrInit(
        batch.sparkSession, path, batch,
        changesTo = changesDir.map(d => s"${d.stripSuffix("/")}/batch=$batchId")))
  }

  /** Streaming ingest into a persisted DSIR distribution index: each
    * micro-batch folds its hashed-feature bucket counts into
    * `<path>/buckets` via `ops.TextAnalysis.appendToDsirIndex` — O(batch)
    * per trigger (one aggregation, delta rows appended; readers fold to
    * ≤ nBuckets rows). Same exactly-once replay contract as the other
    * index sinks (persisted batchId high-watermark, single writer per
    * index path). The crawl keeps updating the SOURCE estimate while
    * `scoreDsirIndexed` prices new batches against it.
    */
  def dsirAppendSink(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, indexPath: String): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      processDsirBatch(batch, batchId, idCol, textCol, isTarget, indexPath)
    }

  /** One micro-batch of [[dsirAppendSink]], exposed for replay testing. */
  def processDsirBatch(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, isTarget: Column, indexPath: String): Unit = {
    if (isNew(batch, indexPath, batchId))
      IndexCommit.inBatch(batchId)(graft.ops.TextAnalysis.appendToDsirIndex(
        batch, idCol, textCol, isTarget, indexPath))
  }

  /** Streaming ingest into a persisted BM25 inverted index: each
    * micro-batch runs `ops.TextAnalysis.appendToBm25Index` — postings and
    * doc lengths append under the pinned bucket layout, corpus stats land
    * as one delta row; O(batch) per trigger. Same exactly-once replay
    * contract as the other index sinks (persisted batchId high-watermark,
    * single writer per index path). A live crawl keeps the index
    * searchable while it grows.
    */
  def bm25AppendSink(docs: DataFrame, idCol: String,
      textCol: String, indexPath: String): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      processBm25Batch(batch, batchId, idCol, textCol, indexPath)
    }

  /** One micro-batch of [[bm25AppendSink]], exposed for replay testing. */
  def processBm25Batch(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, indexPath: String): Unit = {
    if (isNew(batch, indexPath, batchId))
      IndexCommit.inBatch(batchId)(graft.ops.TextAnalysis.appendToBm25Index(
        batch, idCol, textCol, indexPath))
  }

  /** Streaming ingest into a persisted IVF-PQ index — [[annAppendSink]]'s
    * twin over `ops.Similarity.appendToPqIndex`: frozen stored centroids
    * route each batch vector, the STORED codebooks encode it, and only
    * codes land in the label partitions. Same exactly-once replay contract
    * (the batchId high-watermark in the index pin).
    */
  def pqAppendSink(vectors: DataFrame, dbPath: String, dim: Int,
      nSub: Int): DataStreamWriter[Row] =
    vectors.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      processPqBatch(batch, batchId, dbPath, dim, nSub)
    }

  /** One micro-batch of [[pqAppendSink]], exposed for replay testing. */
  def processPqBatch(batch: DataFrame, batchId: Long, dbPath: String,
      dim: Int, nSub: Int): Unit = {
    if (isNew(batch, dbPath, batchId))
      IndexCommit.inBatch(batchId)(graft.ops.Similarity.appendToPqIndex(
        batch, dbPath, dim, nSub))
  }

  /** Streaming near-dup pairs: every emitted hit pairs a new document with
    * an earlier one in the same band bucket at Hamming distance <=
    * maxHamming. Exact recall (pigeonhole) BELOW the bucket cap AND within
    * the event-time horizon: any qualifying pair shares at least one
    * bucket. Output orientation: a < b.
    *
    * Total state is bounded on BOTH axes:
    *  - Hot-bucket cap — the streaming twin of the batch generators'
    *    `maxBucket` (see `ops.Dedup.DefaultMaxBucket`): a bucket whose
    *    state already holds `maxBucket` signatures SATURATES — new members
    *    are neither compared nor remembered (each one would otherwise
    *    compare against an ever-growing list: unbounded state AND
    *    quadratic emission), and a driver-side WARN names the bucket once,
    *    mirroring the batch observed-metric contract. Run exact dedup
    *    upstream (`dedupStream`) so identical-doc floods collapse first.
    *  - Horizon — the semantic contract "a pair is reported only when its
    *    two docs arrive within `horizonSeconds` of each other (event
    *    time)" is enforced PER PAIR via per-member timestamps: a
    *    continuously-warm bucket still never pairs docs a horizon apart.
    *    State is bounded to the same window from two directions: buckets
    *    idle past the horizon are removed outright once the watermark
    *    passes their newest member's ts + horizon (EventTimeTimeout, the
    *    [[EventsStream.sessionize]] pattern), and inside a warm bucket,
    *    members older than watermark - horizon are pruned on access (no
    *    future in-watermark row can pair with them). `horizonSeconds` of
    *    centuries recovers keep-everything behavior on bounded replays.
    *
    * `watermarkDelay` bounds how late a doc may arrive and still be
    * compared (events older than the watermark are dropped before the
    * state function — same contract as [[EventsStream.sessionize]]).
    */
  def nearDupPairs(docs: Dataset[DocRow], maxHamming: Int,
      horizonSeconds: Long = 7 * 24 * 3600,
      watermarkDelay: String = "1 hour",
      maxBucket: Int = graft.ops.Dedup.DefaultMaxBucket): Dataset[NearDupHit] = {
    import docs.sparkSession.implicits._
    docs
      .flatMap(d => bandRows(d.doc_id, d.ts, simhash64Value(d.text), maxHamming))
      // the watermark goes on the BANDED rows: a typed flatMap re-serializes
      // its output, so a watermark tagged upstream would not survive to the
      // state operator (Spark then rejects EventTimeTimeout outright)
      .withWatermark("ts", watermarkDelay)
      .groupByKey(r => (r.band, r.bval))
      .flatMapGroupsWithState[(List[(Long, Long, Long)], Long), NearDupHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (key, rows, state: GroupState[(List[(Long, Long, Long)], Long)]) =>
          if (state.hasTimedOut) {
            // watermark passed newest-member ts + horizon: the bucket is
            // cold — drop all members (they can no longer pair in-horizon)
            state.remove()
            Iterator.empty
          } else {
            // saturating ms conversion: the scaladoc invites huge horizons
            // ("centuries recovers keep-everything"), and a naive *1000
            // past Long.MaxValue/1000 seconds flips negative — silently
            // suppressing every pair instead of keeping everything
            val horizonMs =
              if (horizonSeconds > Long.MaxValue / 1000) Long.MaxValue
              else horizonSeconds * 1000
            val wm = state.getCurrentWatermarkMs()
            var (seen, maxTs) = state.getOption.getOrElse((Nil, Long.MinValue))
            // a member older than watermark - horizon can never pair again:
            // every future non-late row has ts > watermark, putting it more
            // than one horizon away — drop now so a continuously-WARM
            // bucket's member list stays bounded by the active horizon too
            // (the bucket-level timeout only covers buckets that go idle)
            seen = seen.filter { case (_, _, ts) => ts >= wm - horizonMs }
            var nSeen = seen.size
            var warned = false
            val out = scala.collection.mutable.ArrayBuffer.empty[NearDupHit]
            rows.toSeq.sortBy(_.doc_id).foreach { r =>
              maxTs = math.max(maxTs, r.ts.getTime)
              if (nSeen >= maxBucket) {
                if (!warned) {
                  org.slf4j.LoggerFactory.getLogger(DedupStream.getClass).warn(
                    s"stream bucket $key saturated at $maxBucket members — " +
                      "further docs in it are INVISIBLE to near-dup " +
                      "detection; run exact dedup upstream or raise maxBucket")
                  warned = true
                }
              } else {
                seen.foreach { case (oid, osig, ots) =>
                  // the horizon is enforced PER PAIR, not just by bucket
                  // eviction: a warm bucket must not pair docs arbitrarily
                  // far apart in event time
                  if (oid != r.doc_id &&
                      math.abs(r.ts.getTime - ots) <= horizonMs) {
                    val ham = java.lang.Long.bitCount(osig ^ r.sig)
                    if (ham <= maxHamming)
                      out += NearDupHit(math.min(oid, r.doc_id),
                        math.max(oid, r.doc_id), ham)
                  }
                }
                seen ::= (r.doc_id, r.sig, r.ts.getTime)
                nSeen += 1
              }
            }
            state.update((seen, maxTs))
            // evict once the watermark passes the horizon after the NEWEST
            // member; clamped above the current watermark (an already-stale
            // batch would otherwise set an in-the-past timeout — rejected),
            // with a saturating add so a near-MaxValue horizon means
            // "never evict", not a negative timeout
            val evictAt =
              if (maxTs > 0 && horizonMs > Long.MaxValue - maxTs)
                Long.MaxValue
              else maxTs + horizonMs
            state.setTimeoutTimestamp(math.max(evictAt,
              state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
      }
  }
}
