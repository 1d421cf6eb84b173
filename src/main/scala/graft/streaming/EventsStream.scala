package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming ingest path (SURVEY §2.10 extension — the reference
  * is strictly batch; this is the streaming face of the same event-table
  * operators, sharing semantics with the batch queries q12/q15 so results
  * can be cross-checked batch-vs-stream).
  */
object EventsStream {

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionUpdate(user_id: Long, n_events: Long,
      start: java.sql.Timestamp, end: java.sql.Timestamp, closed: Boolean)

  /** Normalize an event-time column to TIMESTAMP for `withWatermark`, which
    * rejects TIMESTAMP_NTZ outright (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE) —
    * and a plain `timestamp[us]` parquet column reads back as NTZ. The cast
    * interprets the wall clock in the session timezone; every graft session
    * (Verify/Bench/TestSpark) pins UTC, where it is the identity on micros.
    * Applied at EVERY streaming watermark ingest so a parquet round-trip
    * can never change whether a query analyzes.
    */
  private[streaming] def tsAsEventTime(df: DataFrame, tsCol: String): DataFrame =
    df.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn(tsCol,
          col(tsCol).cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** Tumbling event-time windows with a watermark — the streaming twin of
    * q12_events_window. Late rows beyond 1 hour are dropped by the
    * watermark; state is bounded per (window, type). Pass `slide` for the
    * hopping variant (q28's twin): each event then feeds duration/slide
    * overlapping windows — state grows by that factor, still
    * watermark-bounded.
    */
  def windowedCounts(events: DataFrame, slide: Option[String] = None)
      : DataFrame =
    tsAsEventTime(events, "ts")
      .withWatermark("ts", "1 hour")
      .groupBy(
        slide.fold(window(col("ts"), "1 hour"))(sl =>
          window(col("ts"), "1 hour", sl)),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming benchmark decontamination — the streaming face of
    * `ops.Curate.decontaminate`: incoming documents are flagged when they
    * share at least `minShared` distinct word-`shingleSize`-grams with the
    * STATIC eval gram set. The eval set is a benchmark (bounded by
    * construction), so it collects once at plan time and rides as a task
    * broadcast; the per-doc count is then row-local — a stateless map, so
    * the query runs in append mode with NO streaming aggregation state.
    * Output: (id, n_shared) for flagged docs, matching the batch
    * operator's schema (spec-pinned equivalence). For an eval corpus too
    * large to collect, use [[decontaminateStreamJoin]].
    */
  def decontaminateStream(docs: DataFrame, idCol: String, textCol: String,
      evalGrams: DataFrame, shingleSize: Int = 3,
      minShared: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val grams = evalGrams.select(col("shingle").cast("string"))
      .as[String].collect().toSet
    val bc = spark.sparkContext.broadcast(grams)
    val n = shingleSize
    docs.select(col(idCol).cast("long").as("id"),
      col(textCol).cast("string").as("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val w = text.split("\\s+")
        val seen = scala.collection.mutable.HashSet[String]()
        var i = 0
        while (i + n <= w.length) {
          val g = w.slice(i, i + n).mkString(" ")
          if (bc.value.contains(g)) seen += g
          i += 1
        }
        (id, seen.size.toLong)
      }
      .toDF("id", "n_shared")
      .filter(col("n_shared") >= minShared)
  }

  /** Stream-static-join decontamination for UNBOUNDED eval sets — the
    * scale-out twin of [[decontaminateStream]] (which collects the gram
    * set to the driver: right for benchmark-sized eval corpora, wrong once
    * the eval side outgrows a task broadcast). Here the eval grams stay a
    * DataFrame: each doc builds its distinct gram array ROW-LOCALLY
    * (array_distinct over a transform — no stateful dropDuplicates), grams
    * explode with the doc's id+ts, and membership is a stream-static inner
    * equi-join (stateless, re-planned per micro-batch — against a
    * persisted distinct gram table, so only the join itself re-runs;
    * broadcast or shuffled by Catalyst depending on the eval side's size).
    * The per-doc
    * count is then a watermarked aggregation keyed by (id, ts) — every
    * gram of a doc carries the doc's own event time, so state for a doc is
    * dropped once the watermark passes its ts, and the query runs in
    * append mode with bounded state.
    *
    * Results emit only after the watermark advances past a doc's ts (the
    * append-mode contract) — unlike the broadcast variant, which emits in
    * the doc's own micro-batch.
    */
  def decontaminateStreamJoin(docs: DataFrame, idCol: String, textCol: String,
      tsCol: String, evalGrams: DataFrame, shingleSize: Int = 3,
      minShared: Int = 3, watermark: String = "1 hour"): DataFrame = {
    val n = shingleSize
    val positions = when(size(col("_w")) >= n,
      sequence(lit(0), size(col("_w")) - n)).otherwise(array())
    val gramArr = transform(col("_pos"), i =>
      concat_ws(" ", (0 until n).map(j => element_at(col("_w"), i + j + 1)): _*))
    // the static side is distinct-ed ONCE and persisted here: a
    // stream-static join re-evaluates the static plan EVERY micro-batch,
    // so an unpersisted distinct() would re-shuffle the eval corpus per
    // batch for the lifetime of the query. First micro-batch pays the
    // shuffle and pins the result; lifetime is caller-owned (unpersist
    // after stopping the query — the Dedup.nearDuplicates cache rule).
    val evalDistinct = evalGrams
      .select(col("shingle").cast("string").as("shingle"))
      .distinct().persist()
    tsAsEventTime(docs, tsCol)
      .select(col(idCol).cast("long").as("id"), col(tsCol).as("_ts"),
        split(col(textCol), "\\s+").as("_w"))
      .withColumn("_pos", positions)
      .select(col("id"), col("_ts"), array_distinct(gramArr).as("_g"))
      .withWatermark("_ts", watermark)
      .select(col("id"), col("_ts"), explode(col("_g")).as("shingle"))
      .join(evalDistinct, Seq("shingle"))
      .groupBy(col("id"), col("_ts"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("id"), col("n_shared"))
  }

  /** Native session_window streaming aggregation — q29's streaming twin,
    * and the BUILT-IN counterpart of [[sessionize]]'s custom
    * flatMapGroupsWithState: Spark merges overlapping per-event windows
    * into dynamic sessions inside the aggregation itself, the watermark
    * both bounds state and FINALIZES sessions (append mode emits a
    * session only once the watermark passes its end — same µs-exact
    * ≥-gap boundary as the batch query, spec-pinned equivalent).
    */
  def sessionWindowCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    tsAsEventTime(events, "ts")
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("n_events"))

  /** Streaming exact dedup — the streaming face of `ops.Dedup.exact`:
    * drop later copies of the same content hash, with a watermark bounding
    * the dedup state (`dropDuplicatesWithinWatermark`: state for a hash is
    * freed once its event time passes the watermark).
    */
  def dedupStream(docs: DataFrame, tsCol: String, contentCol: String,
      watermark: String = "1 hour"): DataFrame =
    tsAsEventTime(docs, tsCol)
      .withColumn("content_hash", org.apache.spark.sql.functions.md5(col(contentCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Stream-static as-of enrichment — the streaming face of
    * `ops.AsofJoin.asofBackward` against a STATIC reference table (price
    * at event time, latest profile snapshot before a click). Sound as a
    * per-micro-batch batch join because a backward as-of against a fixed
    * right side is ROW-LOCAL: each left row's match depends only on that
    * row and the static table, never on other stream rows or batch
    * boundaries — so stream output == batch output on the same rows
    * (spec-pinned). The static side is tokenized once per trigger
    * (cache `right` for long-running queries); per-trigger cost is the
    * batch-sized union-tag-window plan.
    *
    * For a CHANGING right side, snapshot semantics apply per trigger —
    * the standard stream-static-join contract.
    */
  def asofEnrichSink(stream: DataFrame, right: DataFrame, keys: Seq[String],
      tsCol: String, payloadCols: Seq[String], outPath: String,
      leftCols: Seq[String] = Seq.empty,
      tolerance: Option[org.apache.spark.sql.Column] = None,
      allowExactMatches: Boolean = true)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        graft.ops.AsofJoin.asofBackward(batch, right, keys, tsCol,
          payloadCols, leftCols = leftCols, tolerance = tolerance,
          allowExactMatches = allowExactMatches)
          .write.mode("overwrite")
          .parquet(s"${outPath.stripSuffix("/")}/batch=$batchId")
    }

  /** Stream-static SCD2 enrichment — the streaming face of
    * `relational.Scd2.lookupAsOf` against the PERSISTED bucketed
    * dimension: each fact micro-batch is enriched with its user's state
    * at the fact's own event time, and the dimension read is
    * directory-pruned to the batch's user-hash buckets
    * (`Scd2.historyFor` — the merge's O(touched) contract applied to
    * reads, so per-trigger cost scales with the batch's user spread,
    * not the dimension's size). The lookup is row-local against a fixed
    * history (each fact's match depends only on that fact and the
    * dimension), so stream output == batch output on the same rows;
    * for a dimension that a concurrent `scd2Sink` keeps merging, each
    * trigger sees the standard stream-static per-trigger snapshot.
    */
  def scd2EnrichSink(stream: DataFrame, scd2Path: String, tsCol: String,
      outPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        processScd2EnrichBatch(batch, batchId, scd2Path, tsCol, outPath)
    }

  /** One micro-batch of [[scd2EnrichSink]], exposed for testing. */
  def processScd2EnrichBatch(batch: DataFrame, batchId: Long,
      scd2Path: String, tsCol: String, outPath: String): Unit = {
    val hist = graft.relational.Scd2.historyFor(batch.sparkSession,
      scd2Path, batch.select(col("user_id")))
    graft.relational.Scd2.lookupAsOf(batch, hist, tsCol)
      .write.mode("overwrite")
      .parquet(s"${outPath.stripSuffix("/")}/batch=$batchId")
  }

  /** Streaming maintenance of the hourly last-value table behind
    * q47_resample_ffill: each micro-batch folds its events into a
    * persisted (user_id, h, ts, event_id, v) table — the per-hour winner
    * is the max over the immutable (ts, event_id) order, SAME pick as the
    * batch resample — partitioned by event DATE with dynamic partition
    * overwrite, so a trigger rewrites only the dates its events touch
    * (O(touched-dates), which for a live feed is the current day or two,
    * never the table's history).
    *
    * NO replay watermark, by design: the fold is a SEMILATTICE — union +
    * max over a total order is commutative, associative, idempotent — so
    * foreachBatch redelivery, batch re-ordering, and LATE DATA (an
    * earlier-ts event arriving in a later trigger) all converge to the
    * same table as a batch rebuild over the full log. A replayed batch
    * rewrites identical bytes; nothing can tear. (Contrast scd2Sink,
    * whose collapse-fold is order-sensitive and needs the tuple
    * watermark.) Downstream, the q47 span/grid/fill chain runs over this
    * table instead of raw events.
    */
  def resampleSink(events: DataFrame, tablePath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        processResampleBatch(batch, tablePath)
    }

  /** Streaming snapshot-versioned ingest — each micro-batch commits as
    * one `Versioned` snapshot (the manifest rename IS the atomic commit),
    * so readers always see a consistent prefix of the stream and can
    * time-travel to any trigger boundary. Exactly-once via
    * `Versioned.appendBatch`'s txn-marker + manifest-containment dedup:
    * redelivery is a no-op even across an interleaved compaction.
    * Per-trigger cost: the batch's own files + an O(files) manifest
    * rewrite — never data-sized.
    */
  def versionedSink(events: DataFrame, tablePath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        graft.sources.Versioned.appendBatch(batch, tablePath, batchId)
        ()
    }

  /** Streaming ingest with a MAINTAINED materialized view — the
    * "dashboard over a 100 TB stream" shape: each micro-batch (1)
    * commits to the source table exactly-once
    * (`Versioned.appendBatch`'s txn marker) and (2) folds the batch's
    * change-data-feed into the aggregate view
    * ([[graft.sources.IncrementalView.refresh]]) — per-trigger cost is
    * O(batch) + O(group cardinality), never a source scan. Crash-safe at
    * every boundary: a redelivered batch no-ops the append AND the
    * refresh (the view's watermark already covers it); a crash between
    * append and refresh just widens the next trigger's CDF span (the
    * refresh folds multi-commit deltas). Single maintenance loop per
    * view (the house derived-table contract).
    */
  def viewMaintSink(events: DataFrame, srcPath: String, viewPath: String,
      groupCols: Seq[String], valueCol: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        processViewMaintBatch(batch, batchId, srcPath, viewPath,
          groupCols, valueCol)
    }

  /** One micro-batch of [[viewMaintSink]], exposed for replay testing. */
  def processViewMaintBatch(batch: DataFrame, batchId: Long,
      srcPath: String, viewPath: String, groupCols: Seq[String],
      valueCol: String): Unit = {
    val spark = batch.sparkSession
    graft.sources.Versioned.appendBatch(batch, srcPath, batchId)
    if (graft.sources.Versioned.markOf(viewPath).isEmpty)
      graft.sources.IncrementalView.create(spark, srcPath, viewPath,
        groupCols, valueCol)
    else
      graft.sources.IncrementalView.refresh(spark, srcPath, viewPath,
        groupCols, valueCol)
    ()
  }

  /** Table REPLICATION over the change feed — the end-to-end CDC loop:
    * read a [[graft.sources.Versioned]] table's commits as a stream
    * ([[VersionedCdfProvider]]), apply each micro-batch to a REPLICA
    * table, and the replica converges to the source content without
    * ever scanning the source (per-trigger cost = the commits' own
    * file-pruned CDF). A batch may span several source commits, so
    * changes NET OUT per key first — the LAST commit wins, and within
    * one commit an insert beats a delete (an update is a same-version
    * delete+insert pair) — then land as ONE merge-on-read commit whose
    * batch id makes redelivery a no-op. Keyed tables only (the CDC
    * replication contract).
    */
  def replicateSink(changes: DataFrame, replicaPath: String,
      keyCol: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    changes.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        processReplicateBatch(batch, batchId, replicaPath, keyCol)
    }

  /** One micro-batch of [[replicateSink]], exposed for replay testing. */
  def processReplicateBatch(batch: DataFrame, batchId: Long,
      replicaPath: String, keyCol: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    // a row-less source commit (compact, maintenance) still triggers a
    // batch; committing it would mint an empty equality-delete file per
    // trigger, and every delete file puts older files back in CDF scope
    // for downstream streams of the REPLICA. Skipping is replay-safe: a
    // redelivered empty batch re-nets to empty.
    if (batch.isEmpty) return
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("_commit_version").desc,
        when(col("_change_type") === "insert", 1).otherwise(0).desc)
    val last = batch
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
    val ups = last.filter(col("_change_type") === "insert")
      .drop("_change_type", "_commit_version", "__rn")
    val delKeys = last.filter(col("_change_type") === "delete")
      .select(col(keyCol))
    graft.sources.Versioned.mergeMorBatch(ups, delKeys, replicaPath,
      keyCol, batchId)
    ()
  }

  /** Streaming CDC ingest (merge-on-read): each micro-batch carries an
    * `opCol` ("upsert" | "delete") and commits as ONE atomic
    * `Versioned.mergeMorBatch` — new rows land as data files, the
    * touched keys land as an equality-delete file masking their older
    * rows, and the batch id rides the same manifest rename, so
    * redelivery no-ops. Per-trigger cost is O(batch) with ZERO data-file
    * rewrites — the CDC shape the copy-on-write merge cannot give at
    * high trigger rates; run `Versioned.compact` periodically to
    * materialize the delete chain.
    */
  def cdcMorSink(changes: DataFrame, tablePath: String, keyCol: String,
      opCol: String = "op")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    changes.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        processCdcMorBatch(batch, batchId, tablePath, keyCol, opCol)
    }

  /** One micro-batch of [[cdcMorSink]], exposed for replay testing. */
  def processCdcMorBatch(batch: DataFrame, batchId: Long,
      tablePath: String, keyCol: String, opCol: String): Unit = {
    val ups = batch.filter(col(opCol) === "upsert").drop(opCol)
    val delKeys = batch.filter(col(opCol) === "delete")
      .select(col(keyCol)).distinct()
    graft.sources.Versioned.mergeMorBatch(ups, delKeys, tablePath, keyCol,
      batchId)
    ()
  }

  /** Streaming ingest into a [[graft.sources.ZoneMap]]-indexed table:
    * each micro-batch lands as range-clustered files + their min/max
    * sidecar rows (`ZoneMap.appendBatch` — O(batch) per trigger), so the
    * table stays RANGE-SKIPPABLE while it grows and a reader's BETWEEN
    * probe keeps opening only intersecting files mid-stream. Exactly-once
    * on data WITHOUT a marker: the batch's part files carry a
    * deterministic `b<id>_` prefix and redelivery clears-and-rewrites
    * them (same batch id ⇒ same rows in Structured Streaming), so replays
    * converge instead of duplicating; replaced files' stale sidecar rows
    * are neutralized by the probe's live-file intersection. Crash with
    * data landed but stats missing degrades to the uncovered-file
    * fallback — extra I/O, never a missed row. Single-writer per table
    * (the house persisted-index contract).
    */
  def zonemapSink(events: DataFrame, tablePath: String,
      statCols: Seq[String], nFiles: Int = 4)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        graft.sources.ZoneMap.appendBatch(batch, tablePath, batchId,
          statCols, nFiles)
    }

  /** One micro-batch of [[resampleSink]], exposed for replay testing. */
  def processResampleBatch(batch: DataFrame, tablePath: String): Unit = {
    val spark = batch.sparkSession
    val cols = Seq("user_id", "h", "ts", "event_id", "v", "d")
    val bh = batch
      .withColumn("ts", col("ts").cast("timestamp"))
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
      .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("m"))
      .select(col("user_id"), col("h"), col("m.ts").as("ts"),
        col("m.event_id").as("event_id"), col("m.value").as("v"))
      .withColumn("d", to_date(col("h")))
      // eager snapshot: the (user, hour) aggregation is reused by the
      // touched-dates read AND the merge below — without it the batch
      // would be re-scanned and re-aggregated per consumer (3x the
      // trigger's source cost, found in review)
      .localCheckpoint()
    // partition-prune the existing table to the batch's dates (bounded
    // driver read: distinct DATES in one micro-batch); empty batch =>
    // no dates => nothing to fold
    val touched = bh.select(col("d")).distinct()
      .collect().map(_.getDate(0)).toSeq
    if (touched.isEmpty) return
    val prev =
      try spark.read.parquet(tablePath)
        .filter(col("d").isin(touched: _*))
        .select(cols.map(col): _*)
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            bh.select(cols.map(col): _*).schema)
      }
    // eager snapshot BEFORE overwriting directories the plan reads from
    val merged = prev.unionByName(bh.select(cols.map(col): _*))
      .groupBy(col("user_id"), col("h"), col("d"))
      .agg(max(struct(col("ts"), col("event_id"), col("v"))).as("m"))
      .select(col("user_id"), col("h"), col("m.ts").as("ts"),
        col("m.event_id").as("event_id"), col("m.v").as("v"), col("d"))
      .localCheckpoint()
    // cluster by partition value before the layout write (the
    // Versioned.writeData discipline, guide §6): without it every
    // post-shuffle partition writes a file into every date it holds —
    // the maintained table then accumulates small files batch over
    // batch, and each later trigger (and the final read) pays the
    // listing + per-file open
    merged.hint("rebalance", col("d")).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("d")
      .parquet(tablePath)
  }

  /** Persist the drift BASELINE for [[driftSink]]: the reference
    * histogram of `valueCol` — 10 equi-width bins over the baseline's own
    * min/max — plus the (mn, mx) bounds as a one-row meta table, so every
    * later batch is binned against the SAME edges (comparable fractions,
    * the q52 rule). Laplace-smoothed fractions (+0.5 per bin) keep PSI
    * finite when a batch misses a bin entirely. The histogram publishes
    * before the bounds are pinned, so the pin never describes bins that
    * are not on disk.
    */
  def writeDriftBaseline(df: DataFrame, valueCol: String,
      path: String): Unit = {
    val p = path.stripSuffix("/")
    val mm = df.agg(min(col(valueCol).cast("double")).as("mn"),
      max(col(valueCol).cast("double")).as("mx")).head()
    require(!mm.isNullAt(0),
      s"drift baseline: no non-null $valueCol rows to bin")
    val (mn, mx) = (mm.getAs[Double]("mn"), mm.getAs[Double]("mx"))
    require(mx > mn,
      s"drift baseline: $valueCol is constant ($mn) — equi-width bins " +
        "are undefined; PSI over a constant needs no histogram")
    graft.sources.IndexCommit.commit(df.sparkSession,
      Seq(graft.sources.IndexCommit.Output(s"$p/hist",
        graft.sources.IndexCommit.Replace,
        histogram(df, valueCol, mn, mx).coalesce(1)
          .write.mode("overwrite").parquet(_))),
      pin = Some(s"$p/meta" -> Seq("mn" -> mn, "mx" -> mx)))
  }

  private def histogram(df: DataFrame, valueCol: String, mn: Double,
      mx: Double): DataFrame =
    df.select(least(floor((col(valueCol).cast("double") - lit(mn)) *
        lit(10.0) / (lit(mx) - lit(mn))), lit(9.0))
        .cast("int").as("bin"))
      .withColumn("bin", greatest(col("bin"), lit(0))) // clamp below-range
      .groupBy(col("bin")).agg(count(lit(1)).cast("double").as("cnt"))

  /** PSI of `df`'s smoothed bin fractions against the persisted baseline
    * (one number; both histograms already tiny). Exposed for the
    * stream == batch equivalence spec.
    */
  def psiAgainstBaseline(df: DataFrame, valueCol: String,
      baselinePath: String): Double = {
    val p = baselinePath.stripSuffix("/")
    val spark = df.sparkSession
    val meta = graft.sources.ManifestIO.readFirstRecord(
      spark.sparkContext.hadoopConfiguration, s"$p/meta")
      .getOrElse(throw new IllegalStateException(
        s"drift baseline meta at $p/meta is unreadable or empty"))
    val (mn, mx) = (meta.getDouble("mn", 0), meta.getDouble("mx", 0))
    psiFromHist(spark, histogram(df, valueCol, mn, mx), p)._1
  }

  /** Smoothed PSI of an already-binned histogram against the persisted
    * baseline; returns (psi, binned row count) so a caller needs ONE
    * batch aggregation for both the score and the n_rows gauge.
    */
  private def psiFromHist(spark: org.apache.spark.sql.SparkSession,
      hist: DataFrame, basePath: String): (Double, Long) = {
    val base = spark.read.parquet(s"$basePath/hist")
      .withColumnRenamed("cnt", "c_base")
    val bins = spark.range(0, 10).select(col("id").cast("int").as("bin"))
    val joined = bins
      .join(base, Seq("bin"), "left")
      .join(hist.withColumnRenamed("cnt", "c_new"), Seq("bin"), "left")
      .na.fill(0.0, Seq("c_base", "c_new"))
      .localCheckpoint() // 10 rows; one evaluation feeds totals + psi
    val tot = joined.agg(sum(col("c_base")).as("tb"),
      sum(col("c_new")).as("tn")).head()
    val (tb, tn): (Double, Double) =
      (tot.getAs[Double]("tb"), tot.getAs[Double]("tn"))
    val psi = joined
      .withColumn("p", (col("c_base") + lit(0.5)) / lit(tb + 5.0))
      .withColumn("q", (col("c_new") + lit(0.5)) / lit(tn + 5.0))
      .agg(sum((col("p") - col("q")) * log(col("p") / col("q"))).as("psi"))
      .head().getAs[Double]("psi")
    (psi, tn.toLong)
  }

  /** Streaming drift monitor — q52's streaming face: every micro-batch's
    * `valueCol` distribution is binned against the PERSISTED baseline
    * edges and scored with smoothed PSI; one (batch_id, n_rows, psi) row
    * lands per trigger (the retrain-gate signal a pipeline alerts on).
    * Per-trigger cost: one count aggregation of the batch into ≤10 bins
    * + a broadcast-size join against the 10-row baseline — nothing
    * scales with history. Overwrite-per-batch-dir keeps redelivery
    * idempotent (same rows → same PSI → identical bytes).
    */
  def driftSink(events: DataFrame, valueCol: String, baselinePath: String,
      outPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val p = baselinePath.stripSuffix("/")
        val meta = graft.sources.ManifestIO.readFirstRecord(
          spark.sparkContext.hadoopConfiguration, s"$p/meta")
          .getOrElse(throw new IllegalStateException(
            s"drift baseline meta at $p/meta is unreadable or empty"))
        val (mn, mx) = (meta.getDouble("mn", 0), meta.getDouble("mx", 0))
        // ONE scan of the micro-batch: the 10-bin histogram feeds both
        // the n_rows gauge and the PSI (review: count()+psi was 2 scans)
        val (psi, n) = psiFromHist(spark,
          histogram(batch, valueCol, mn, mx), p)
        if (n > 0)
          Seq((batchId, n, math.rint(psi * 1e6) / 1e6))
            .toDF("batch_id", "n_rows", "psi").coalesce(1)
            .write.mode("overwrite")
            .parquet(s"${outPath.stripSuffix("/")}/batch=$batchId")
    }

  /** Streaming data-quality gate — q57's streaming face: every
    * micro-batch runs the declarative rule battery (`ops.DataQuality`)
    * and lands one report row per rule under its own `batch=<id>`
    * directory — the per-trigger conformance feed a pipeline alerts on
    * (and the audit trail of WHEN a contract broke). Per-trigger cost is
    * the battery's own minimal-job shape: all row-local rules in ONE
    * conditional-sum aggregation of the batch; Unique/ForeignKey rules
    * (if any) add their key-domain jobs — against a STATIC dimension for
    * FK, so the stream side never holds growing state. Redelivery is
    * idempotent: same rows → same metrics → identical bytes under
    * overwrite-per-batch-dir.
    */
  def dqSink(events: DataFrame, rules: Seq[graft.ops.DataQuality.Rule],
      outPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        // one materialization: the battery's aggregations all read this;
        // released per trigger — a long-running stream must not
        // accumulate one block set per batch
        val b = batch.localCheckpoint()
        try {
          if (b.head(1).nonEmpty)
            graft.ops.DataQuality.validate(b, rules)
              .withColumn("batch_id", lit(batchId))
              .coalesce(1).write.mode("overwrite")
              .parquet(s"${outPath.stripSuffix("/")}/batch=$batchId")
        } finally b.unpersist()
    }

  /** Streaming heavy-hitters maintenance — the per-trigger face of the
    * q55 persisted Misra–Gries layout: each micro-batch collapses to ONE
    * capacity-`m` summary row (bounded state: m entries per trigger,
    * regardless of the batch's key domain) appended under its own
    * `batch=<id>` directory; the current top-k is read by union-merging
    * the summary rows — re-reading sketches, never data (the q46
    * incremental-statistics contract applied to frequency). Redelivery
    * is idempotent: a replayed batch aggregates to the identical summary
    * and overwrites its own directory byte-for-byte. Compaction is free:
    * any subset of summary rows may be merged into one row at any time
    * (mergeable-summaries associativity), shrinking the read fan-in
    * without touching data.
    */
  def heavyHittersSink(events: DataFrame, keyCol: String, m: Int,
      tablePath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        processHeavyHittersBatch(batch, batchId, keyCol, m, tablePath)
    }

  /** One micro-batch of [[heavyHittersSink]], exposed for replay tests. */
  def processHeavyHittersBatch(batch: DataFrame, batchId: Long,
      keyCol: String, m: Int, tablePath: String): Unit = {
    val summary = batch
      .agg(graft.ops.FreqSketch.misraGries(
        col(keyCol).cast("string"), m).as("sk"))
      .coalesce(1)
    summary.write.mode("overwrite")
      .parquet(s"${tablePath.stripSuffix("/")}/batch=$batchId")
  }

  /** Read back the maintained summaries and return the current top-k
    * (count desc, key asc — the q55 deterministic cut).
    */
  def heavyHittersTopK(spark: SparkSession, tablePath: String, m: Int,
      k: Int): DataFrame =
    graft.ops.FreqSketch.topK(
      spark.read.parquet(tablePath)
        .agg(graft.ops.FreqSketch.misraGriesMerge(col("sk"), m)
          .as("merged")),
      "merged", k)

  /** Stream-stream interval join — the streaming twin of q19's banded
    * range join: pair left and right stream rows of the same `keys` whose
    * timestamps fall within `withinSeconds` of each other (inclusive,
    * either direction). Both sides are watermarked, and the time-range
    * condition is what lets Spark BOUND the join state: a buffered row
    * can be dropped once the other side's watermark passes its
    * ts + within (the standard stream-stream join state contract —
    * without the range condition state grows forever). Inner join, so it
    * runs in append mode; results for a pair emit once both rows have
    * arrived.
    *
    * Output: the left columns as-is plus the right side's non-key columns
    * prefixed `r_`. Equivalence with the batch inequality join over the
    * same rows is spec-pinned.
    *
    * `joinType` "inner" (default) or "left_outer": the outer form emits an
    * unmatched left row with null `r_` columns — but only once the RIGHT
    * watermark passes that row's `ts + within` (the state-eviction point:
    * before it, a matching right row could still arrive). Outer results
    * therefore trail the watermark; a drained-but-unterminated stream
    * holds back null results for its trailing rows until later input (or
    * a sentinel) advances the watermark — the standard stream-stream
    * outer-join contract, exercised in the spec.
    */
  def streamIntervalJoin(left: DataFrame, right: DataFrame,
      keys: Seq[String], tsCol: String, withinSeconds: Long,
      watermark: String = "1 hour", joinType: String = "inner"): DataFrame = {
    require(withinSeconds >= 0, s"withinSeconds must be >= 0, got $withinSeconds")
    require(Set("inner", "left_outer")(joinType),
      s"joinType must be inner or left_outer, got $joinType")
    val l = tsAsEventTime(left, tsCol).withWatermark(tsCol, watermark)
      .alias("l")
    val r = tsAsEventTime(right, tsCol).withWatermark(tsCol, watermark)
      .alias("r")
    val keyCond = keys.map(k => col(s"l.$k") === col(s"r.$k"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val tol = expr(s"INTERVAL $withinSeconds SECONDS")
    val range = col(s"r.$tsCol") >= col(s"l.$tsCol") - tol &&
      col(s"r.$tsCol") <= col(s"l.$tsCol") + tol
    val rightOut = right.columns.toIndexedSeq.filterNot(keys.contains)
      .map(c => col(s"r.$c").as(s"r_$c"))
    l.join(r, keyCond && range, joinType)
      .select(left.columns.toIndexedSeq.map(c => col(s"l.$c")) ++
        rightOut: _*)
  }

  final case class FunnelUpdate(user_id: Long, view_ts: Option[java.sql.Timestamp],
      click_ts: Option[java.sql.Timestamp],
      purchase_ts: Option[java.sql.Timestamp], stage: Int)

  /** Streaming conversion funnel — q31's twin as a per-user state
    * machine: track the greedy-earliest view→click→purchase chain in
    * `mapGroupsWithState` (one (vt, ct, pt) triple per user, advanced
    * monotonically; a stage timestamp is set once, by the earliest
    * qualifying event, and never moves — exactly the batch query's
    * min-aggregation semantics under a ts-ordered feed). Each trigger
    * emits every updated user's CURRENT funnel row (update mode);
    * downstream keeps the latest row per user. State is one fixed-size
    * triple per user — bounded by the user population, not the event
    * volume, which is what makes a billion-event funnel streamable.
    *
    * Feed contract: per-user ts-nondecreasing arrival (the sessionize
    * default) — a click can only chain after a view that already
    * arrived, which is also true of the batch recurrence it mirrors.
    */
  def funnelStream(events: Dataset[Event]): Dataset[FunnelUpdate] = {
    import events.sparkSession.implicits._
    val Unset = Long.MaxValue
    events.groupByKey(_.user_id)
      .mapGroupsWithState[(Long, Long, Long), FunnelUpdate](
        GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[(Long, Long, Long)]) =>
          var (vt, ct, pt) = state.getOption.getOrElse((Unset, Unset, Unset))
          rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val t = e.ts.getTime
            e.event_type match {
              case "view" if vt == Unset => vt = t
              case "click" if vt != Unset && ct == Unset && t > vt => ct = t
              case "purchase" if ct != Unset && pt == Unset && t > ct =>
                pt = t
              case _ =>
            }
          }
          state.update((vt, ct, pt))
          def opt(v: Long) =
            if (v == Unset) None else Some(new java.sql.Timestamp(v))
          val stage = Seq(vt, ct, pt).count(_ != Unset)
          FunnelUpdate(uid, opt(vt), opt(ct), opt(pt), stage)
      }
  }

  /** Gap-based sessionization with custom state — the streaming twin of
    * q15_sessionize: a session closes once a later event arrives more than
    * `gapSeconds` after it, OR once the event-time watermark passes its
    * end + gap (EventTimeTimeout) — so trailing sessions FLUSH instead of
    * living in state forever. State is one (count, start, end) triple per
    * user, and a timed-out user's state is removed outright, so total
    * state is bounded by the users active inside one gap+delay horizon.
    *
    * Watermark contract: `watermarkDelay` bounds how late an event may
    * arrive and still extend its session. Events older than the watermark
    * are dropped before reaching the state function, and the timeout only
    * fires once the watermark passes end + gap, so a flushed session can
    * never be reopened or extended retroactively (flush-then-extend is
    * impossible by construction). The default delay is ZERO — correct for
    * strictly ts-ordered replays and the earliest possible flush — but
    * real feeds should pass "1 hour" (or their actual lateness bound): a
    * zero delay silently drops any event arriving in a later micro-batch
    * with a ts below the max already seen, and cross-batch out-of-order
    * arrival is the norm, not the exception, in production.
    */
  def sessionize(events: Dataset[Event], gapSeconds: Long = 1800,
      watermarkDelay: String = "0 seconds"): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Long, Long), SessionUpdate](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (userId, rows, state: GroupState[(Long, Long, Long, Long)]) =>
          if (state.hasTimedOut) {
            // the watermark passed end + gap with no extending event: the
            // trailing session is final — emit it and clear the state
            val (n, start, end, _) = state.get
            state.remove()
            Iterator.single(SessionUpdate(userId, n,
              new java.sql.Timestamp(start), new java.sql.Timestamp(end),
              closed = true))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var out = List.empty[SessionUpdate]
            var (n, start, end, _) = state.getOption.getOrElse((0L, 0L, 0L, 0L))
            sorted.foreach { e =>
              val t = e.ts.getTime
              if (n == 0) { n = 1; start = t; end = t }
              else if (t - end > gapSeconds * 1000) {
                out ::= SessionUpdate(userId, n, new java.sql.Timestamp(start),
                  new java.sql.Timestamp(end), closed = true)
                n = 1; start = t; end = t
              } else { n += 1; end = math.max(end, t) }
            }
            state.update((n, start, end, 0L))
            // flush once the watermark passes the gap horizon; clamped above
            // the current watermark because a batch of already-stale events
            // would otherwise set an in-the-past timeout, which Spark rejects
            state.setTimeoutTimestamp(math.max(end + gapSeconds * 1000,
              state.getCurrentWatermarkMs() + 1))
            out.reverseIterator
          }
      }
  }
}
