package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.IndexCommit

/** SCD type-2 dimension maintenance: [[build]] derives the full history
  * from a change log (q32's logic as a reusable, native-typed op), and
  * [[merge]] folds an APPEND-ONLY batch of new events into a PERSISTED
  * history without recomputing untouched users — the O(batch) incremental
  * face, completing the same build/append/search contract every index in
  * this repo follows (dedup index, ANN, PQ, BM25, DSIR).
  *
  * Persisted layout under `path`:
  *   - `history/ubucket=<b>` — (user_id, state, valid_from, valid_to,
  *     version, is_current), hive-partitioned by user-hash bucket
  *   - `last/ubucket=<b>` — (user_id, last_ts, last_eid), the per-user
  *     high-watermark as a (ts, event_id) TUPLE: a batch event strictly
  *     ordered at or before its user's last processed (ts, event_id)
  *     cannot be re-ordered against history that was already collapsed,
  *     so it is dropped with a driver WARN — but a NEW event that merely
  *     shares the boundary timestamp (fresh event_id) is safely orderable
  *     by the same (ts, event_id) key the fold sorts on, and folds in
  *     exactly as a full rebuild would
  *   - `meta` — the pin: the bucket count (nBuckets is part of the
  *     on-disk LAYOUT: a different value on a later merge would route
  *     users to other partitions and strand stale rows in directories a
  *     partial rewrite never touches — mismatches fail loudly) and, when
  *     a stream feeds the table, its batch high-watermark
  *
  * Scale shape — merge is O(batch) in BOTH compute and I/O:
  *   - compute: current rows arrive via one left-semi join on the (small)
  *     batch-user set, the fold windows over seed+batch rows;
  *   - read: history/last scans are PRUNED to the ≤ nBuckets partition
  *     directories holding batch users (directory-level `isin` filter);
  *   - write: a partition swap rewrites ONLY those buckets —
  *     untouched buckets' files are never opened, rewritten, or deleted
  *     (the `clusterMaintSink` labels-table pattern). Bucketing by USER
  *     hash makes the partial rewrite sound: a user's bucket never
  *     changes, so a merge can never migrate a row out of a partition
  *     and leave a stale copy behind.
  * Both [[init]] and [[merge]] commit through `sources.IndexCommit`:
  * history, then last, then the pin. A crash can leave history ahead of
  * the watermark (the torn state [[merge]] detects and replays
  * idempotently), never behind it. No full-log reprocessing anywhere;
  * the full rebuild exists once, at [[build]] time.
  */
object Scd2 {

  /** Bucket count is part of the layout; see `meta` above. */
  val DefaultBuckets = 64

  private def bucketOf(c: Column, n: Int): Column =
    pmod(xxhash64(c), lit(n.toLong))

  /** Sentinel for "use the table's pinned bucket count" (the default on
    * every read/merge face: only [[init]] decides a layout).
    */
  val UseStored: Int = -1

  /** Read the pinned bucket count (driver-side, one int). A missing pin
    * next to an EXISTING table fails loudly — minting a count for a table
    * whose layout is already on disk is exactly the stale-row corruption
    * the pin exists to prevent.
    */
  private def pinnedBuckets(spark: SparkSession, path: String): Int =
    graft.sources.ManifestIO.readIntMeta(spark.sparkContext.hadoopConfiguration,
      s"${path.stripSuffix("/")}/meta", "n_buckets").getOrElse(
      throw new IllegalStateException(
        s"scd2 table at $path has no readable meta pin — refusing to guess " +
          "the bucket layout (a wrong guess strands stale rows); " +
          "rebuild via Scd2.init"))

  /** Full-history build: collapse each user's event stream to change
    * points, stamp validity intervals and versions. Both window passes
    * share one user_id Exchange (plan-checked in q32).
    */
  def build(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("_prev", lag(col("event_type"), 1).over(w))
      .filter(col("_prev").isNull || col("_prev") =!= col("event_type"))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .withColumn("version", row_number().over(w))
      .select(col("user_id"), col("event_type").as("state"),
        col("ts").as("valid_from"), col("valid_to"),
        col("version"), col("valid_to").isNull.as("is_current"))
  }

  /** Point-in-time snapshot — the state every user had AT `at` (the
    * dimension read a backfill or an audit runs against history). An
    * interval [valid_from, valid_to) contains `at` for at most one
    * version per user, so this is a filter, not a window: scan-speed
    * over the (bucketed) history, no shuffle.
    */
  def snapshotAt(history: DataFrame, at: Column): DataFrame =
    history.filter(col("valid_from") <= at &&
        (col("valid_to").isNull || at < col("valid_to")))
      .select(col("user_id"), col("state"), col("valid_from"),
        col("version"))

  /** Temporal dimension lookup: enrich each fact row with its user's
    * state AT the fact's own timestamp (the canonical SCD2 consumption
    * join). Equi-join on user_id with the validity predicate as the
    * join residual — per-user history is short, so the interval check
    * is a cheap post-filter on the equi-match, never a range-join
    * blow-up; facts before a user's first recorded state keep a null
    * state (left join).
    */
  def lookupAsOf(facts: DataFrame, history: DataFrame,
      tsCol: String): DataFrame = {
    val h = history.select(col("user_id"),
      col("state").as("dim_state"), col("valid_from"),
      col("valid_to"), col("version").as("dim_version"))
    facts.join(h,
        facts("user_id") === h("user_id") &&
          facts(tsCol) >= h("valid_from") &&
          (h("valid_to").isNull || facts(tsCol) < h("valid_to")),
        "left")
      .drop(h("user_id")).drop("valid_from").drop("valid_to")
  }

  /** Directory-pruned history read for a set of fact users — the READ
    * twin of merge's O(touched-buckets) contract: collect the ≤ nBuckets
    * partition values the users hash into (bounded driver read) and open
    * only those directories. The scan a streaming enrichment pays per
    * trigger is then proportional to the batch's user spread, never the
    * dimension's size.
    */
  def historyFor(spark: SparkSession, path: String,
      users: DataFrame): DataFrame = {
    // a read path never mints layout
    val nb: Int = pinnedBuckets(spark, path)
    val touched = users.select(bucketOf(col("user_id"), nb).as("ubucket"))
      .distinct().collect().map(_.getLong(0)).toSeq
    spark.read.parquet(s"$path/history")
      .filter(col("ubucket").isin(touched: _*)).drop("ubucket")
  }

  /** CDC diff of two history snapshots — the change feed a downstream
    * consumer (cache invalidation, a dependent mart, an audit log)
    * subscribes to instead of re-reading the dimension. Keyed on
    * (user_id, version) — immutable once minted by the build/merge
    * contract — so the delta classifies cleanly:
    *   - `insert`: version exists only in `after` (a new state opened);
    *   - `close`:  version in both, only `valid_to` changed (the SCD2
    *     transition: an open interval was capped by a successor);
    *   - `update`: version in both, anything else changed (never
    *     produced by [[merge]] — surfaces manual edits/corruption);
    *   - `delete`: version exists only in `before` (ditto).
    * One shuffle on (user_id, version); against the persisted layout the
    * join co-partitions on the shared user-hash buckets, and a consumer
    * tracking a merge can pre-prune both sides to the touched buckets,
    * making the diff O(touched) like the merge itself.
    */
  def changesBetween(before: DataFrame, after: DataFrame): DataFrame = {
    val b = before.select(col("user_id"), col("version"),
      col("state").as("b_state"), col("valid_from").as("b_vf"),
      col("valid_to").as("b_vt"), lit(true).as("_in_b"))
    val a = after.select(col("user_id"), col("version"),
      col("state").as("a_state"), col("valid_from").as("a_vf"),
      col("valid_to").as("a_vt"), lit(true).as("_in_a"))
    val closeOnly = col("b_state") <=> col("a_state") &&
      col("b_vf") <=> col("a_vf")
    b.join(a, Seq("user_id", "version"), "full")
      .filter(col("_in_b").isNull || col("_in_a").isNull ||
        !(closeOnly && col("b_vt") <=> col("a_vt")))
      .select(col("user_id"), col("version"),
        when(col("_in_b").isNull, lit("insert"))
          .when(col("_in_a").isNull, lit("delete"))
          .when(closeOnly, lit("close"))
          .otherwise(lit("update")).as("change_type"),
        coalesce(col("a_state"), col("b_state")).as("state"),
        coalesce(col("a_vf"), col("b_vf")).as("valid_from"),
        when(col("_in_a").isNotNull, col("a_vt"))
          .otherwise(col("b_vt")).as("valid_to"))
  }

  /** Idempotent outbox write for the CDC feed: each batch's delta lands
    * in its own directory, written BEFORE the history overwrite so a
    * crash between the two replays into regenerating the identical
    * delta — and a replay AFTER the history landed (when the stale gate
    * makes the recomputed delta empty) must NOT destroy the feed, so a
    * directory whose job already committed (`_SUCCESS`) is left alone.
    */
  private def writeChanges(delta: DataFrame, dir: String): Unit = {
    val spark = delta.sparkSession
    val done = new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS")
    val fs = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(done))
      delta.write.mode("overwrite").parquet(dir)
  }

  /** Write a fresh history + watermark table from a full change log.
    * Rebuilding over an EXISTING table swaps each output in, so readers
    * see old-or-new, never a half-written table. With `changesTo`, the
    * whole built history is also emitted as `insert` rows — the feed's
    * bootstrap batch, identical to `changesBetween(empty, built)`.
    */
  def init(events: DataFrame, path: String,
      nBuckets: Int = DefaultBuckets,
      changesTo: Option[String] = None): Unit = {
    require(nBuckets > 0, s"init needs a concrete bucket count, got $nBuckets")
    // one window-fold compute feeds both the feed write and the table
    // write when the outbox is on
    val hist = if (changesTo.isDefined) build(events).localCheckpoint()
      else build(events)
    changesTo.foreach { dir =>
      writeChanges(hist.select(col("user_id"), col("version"),
        lit("insert").as("change_type"), col("state"),
        col("valid_from"), col("valid_to")), dir)
    }
    commitTables(events.sparkSession, path, IndexCommit.Replace,
      hist.withColumn("ubucket", bucketOf(col("user_id"), nBuckets))
        .repartition(col("ubucket")),
      events.groupBy(col("user_id"))
        .agg(max(struct(col("ts"), col("event_id"))).as("_w"))
        .select(col("user_id"), col("_w.ts").as("last_ts"),
          col("_w.event_id").as("last_eid"),
          bucketOf(col("user_id"), nBuckets).as("ubucket"))
        .repartition(col("ubucket")),
      nBuckets, always = true)
  }

  /** The two table writes of [[init]] and [[merge]] as one commit: both
    * stage concurrently (disjoint directories, disjoint compute), then
    * history publishes before last, and the pin lands last — written on a
    * rebuild (`always`) or to carry a stream batch. Callers route
    * rows by bucket first so each partition directory lands as ONE file —
    * without the repartition every shuffle partition writes into every
    * bucket dir (up to partitions × buckets files per write; measured 2×
    * the whole q33 row's cost in small-file overhead).
    */
  private def commitTables(spark: SparkSession, path: String,
      how: IndexCommit.Publish, history: DataFrame, last: DataFrame,
      nBuckets: Int, always: Boolean): Unit = {
    val base = path.stripSuffix("/")
    def out(dir: String, df: DataFrame) = IndexCommit.Output(s"$base/$dir", how,
      df.write.mode("overwrite").partitionBy("ubucket").parquet(_))
    IndexCommit.commit(spark, Seq(out("history", history), out("last", last)),
      Some(s"$base/meta" -> Seq("n_buckets" -> nBuckets))
        .filter(_ => always || IndexCommit.streamBatch.isDefined))
  }

  /** [[merge]] when the history exists, [[init]] otherwise — the form a
    * streaming sink's first micro-batch needs.
    */
  def mergeOrInit(spark: SparkSession, path: String, batch: DataFrame,
      nBuckets: Int = UseStored,
      changesTo: Option[String] = None): Unit = {
    recover(spark, path)
    val p = new org.apache.hadoop.fs.Path(s"$path/history")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) merge(spark, path, batch, nBuckets, changesTo)
    else init(batch, path,
      if (nBuckets == UseStored) DefaultBuckets else nBuckets, changesTo)
  }

  private def recover(spark: SparkSession, path: String): Unit = {
    val base = path.stripSuffix("/")
    IndexCommit.recover(spark.sparkContext.hadoopConfiguration,
      Seq("history", "last", "meta").map(d => s"$base/$d"))
  }

  /** Fold `batch` (new events, per-user later than the stored watermark)
    * into the persisted history. Equivalence contract: after merge, the
    * history equals [[build]] over the concatenated log (spec- and
    * oracle-pinned) for every event the (ts, event_id) watermark admits;
    * stale rows are dropped with a WARN, never silently reordered into
    * collapsed history.
    *
    * With `changesTo`, the merge also emits its CDC delta there — equal
    * to [[changesBetween]] of the pre/post history (spec-pinned) but
    * derived from the fold itself: the seed version is a `close` iff the
    * fold capped it, everything above the seed base is an `insert`. No
    * extra bucket reads; the outbox write is O(batch) like the merge.
    */
  def merge(spark: SparkSession, path: String, batch: DataFrame,
      nBuckets: Int = UseStored,
      changesTo: Option[String] = None): Unit = {
    recover(spark, path)
    // the table's pinned layout is authoritative; an explicitly passed
    // count is a cross-check, not a choice (a caller can't re-bucket by
    // argument — that's what init is for)
    val stored = pinnedBuckets(spark, path)
    require(nBuckets == UseStored || stored == nBuckets,
      s"scd2 table at $path was built with nBuckets=$stored, got " +
        s"$nBuckets — partial rewrites would strand stale rows; pass " +
        "UseStored (default) or the original value, or rebuild the table")
    // directory-level pruning: collect the ≤ stored partition values the
    // batch touches (bounded driver read), then every history/last scan
    // below opens ONLY those bucket directories
    val touched = batch
      .select(bucketOf(col("user_id"), stored).as("ubucket"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val hist = spark.read.parquet(s"$path/history")
      .filter(col("ubucket").isin(touched: _*))
    val last = spark.read.parquet(s"$path/last")
      .filter(col("ubucket").isin(touched: _*))
    // The batch-user set is SMALL by the merge contract (merge is the
    // O(batch) incremental face; a corpus-sized "batch" belongs in
    // [[build]]), so every per-user side table below — the user set, the
    // watermark table, the seed rows — rides BROADCAST joins: neither
    // the batch nor the history is ever shuffled for gating or
    // pass-through, and the fold's one user_id Exchange over seed+batch
    // rows is the merge's only corpus-axis shuffle.
    val users = batch.select(col("user_id")).distinct()
    // seed each touched user's fold with their stored current state: the
    // change-collapse then sees exactly the suffix the full rebuild would
    val cur = hist.filter(col("is_current"))
      .join(broadcast(users), Seq("user_id"), "left_semi")
      .select(col("user_id"), col("valid_from"), col("version"),
        col("state"))
    // Effective per-user watermark, as an orderable (ts, event_id)
    // struct, assembled on the SMALL per-user tables (one row per
    // touched user). Normally it is the stored `last` tuple. The current
    // row's own valid_from backstops the CRASH-TORN state — a failure
    // between the history write and the last write leaves history AHEAD
    // of the watermark, and a last-only gate would fold the already-
    // collapsed batch back in as duplicate versions. Torn is detectable
    // (stored tuple missing or strictly behind the current row's
    // valid_from); in that state the gate closes conservatively at
    // (valid_from, +inf) — events at the current version's own timestamp
    // were already folded once, and without their event_ids on record,
    // re-admitting any of them could mis-order a same-timestamp state
    // flip. Replayed merges are therefore idempotent; in the NORMAL
    // state the tuple gate admits fresh events that merely share the
    // boundary timestamp.
    val lastW = when(col("last_ts").isNotNull,
      struct(col("last_ts").as("wts"), col("last_eid").as("wid")))
    val curLow = when(col("_cvf").isNotNull,
      struct(col("_cvf").as("wts"), lit(Long.MinValue).as("wid")))
    val curHigh = when(col("_cvf").isNotNull,
      struct(col("_cvf").as("wts"), lit(Long.MaxValue).as("wid")))
    val torn = col("_cvf").isNotNull &&
      (col("last_ts").isNull || lastW < curLow)
    val wm = last
      .join(broadcast(users), Seq("user_id"), "left_semi")
      .select(col("user_id"), col("last_ts"), col("last_eid"))
      .join(cur.select(col("user_id"), col("valid_from").as("_cvf")),
        Seq("user_id"), "full")
      .select(col("user_id"),
        when(torn, curHigh).otherwise(lastW).as("_wm"), lastW.as("_lw"))
    // ONE broadcast join gates the whole batch; the checkpoint
    // materializes it once so the stale count and the fresh selection
    // don't re-run the gate per action. `_seen` marks events at or before
    // the STORED tuple: in the torn state the events between it and the
    // effective gate were folded by the crashed run, so they still
    // advance `last` — the replay repairs the watermark as well
    val ev = struct(col("ts").as("wts"), col("event_id").as("wid"))
    val gated = batch.join(broadcast(wm), Seq("user_id"), "left")
      .withColumn("_stale", col("_wm").isNotNull && ev <= col("_wm"))
      .withColumn("_seen", col("_lw").isNotNull && ev <= col("_lw"))
      .localCheckpoint()
    val stale = gated.filter(col("_stale")).count()
    if (stale > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"scd2 merge: dropped $stale stale event(s) at or before their " +
          "user's (ts, event_id) high-watermark — out-of-order arrivals " +
          "cannot be folded into collapsed history")
    val fresh = gated.filter(!col("_stale"))
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
    // the seed row carries its stored version along (_base) — the fold
    // recovers it per user with a partition-window max instead of a join
    val seed = cur.select(col("user_id"), col("valid_from").as("ts"),
      lit(Long.MinValue).as("event_id"), col("state").as("event_type"),
      col("version").as("_base"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val wu = Window.partitionBy(col("user_id"))
    val folded = seed
      .unionByName(fresh.withColumn("_base", lit(null).cast("int")))
      .withColumn("_b", max(col("_base")).over(wu))
      .withColumn("_prev", lag(col("event_type"), 1).over(w))
      .filter(col("_prev").isNull || col("_prev") =!= col("event_type"))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .withColumn("_k", row_number().over(w))
      .select(col("user_id"), col("event_type").as("state"),
        col("ts").as("valid_from"), col("valid_to"),
        // seed row keeps its stored version; appended rows extend it.
        // brand-new users have no base: versions start at 1 (= _k)
        when(col("_b").isNotNull, col("_b") + col("_k") - 1)
          .otherwise(col("_k")).cast("int").as("version"),
        col("valid_to").isNull.as("is_current"))
    // CDC outbox, before the table writes (see writeChanges for the
    // crash/replay ordering contract): a folded row above its user's
    // seed base (or of a brand-new user) is an insert; the seed-version
    // row is a close iff the fold capped its interval; a re-emitted
    // still-current seed row is no change at all
    def writeOutbox(): Unit = changesTo.foreach { dir =>
      val delta = folded
        .join(broadcast(cur.select(col("user_id"),
          col("version").as("_bv"))), Seq("user_id"), "left")
        .withColumn("change_type",
          when(col("_bv").isNull || col("version") > col("_bv"),
            lit("insert"))
            .when(col("valid_to").isNotNull, lit("close")))
        .filter(col("change_type").isNotNull)
        .select(col("user_id"), col("version"), col("change_type"),
          col("state"), col("valid_from"), col("valid_to"))
      writeChanges(delta, dir)
    }
    // partial rewrite of the touched buckets only: within them, untouched
    // users and touched users' CLOSED rows pass through in ONE broadcast-
    // marked scan; the fold re-emits each touched user's current row
    // (possibly now closed) and any new versions. Buckets outside
    // `touched` are never read or written.
    val passThrough = hist
      .join(broadcast(users.withColumn("_u", lit(1))), Seq("user_id"),
        "left")
      .filter(col("_u").isNull || !col("is_current"))
      .drop("_u", "ubucket")
    val merged = passThrough.unionByName(folded)
    val lastNew = gated.filter(!col("_seen")).groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"))).as("_w"))
      .select(col("user_id"), col("_w.ts").as("_new_ts"),
        col("_w.event_id").as("_new_eid"))
    val lastKeep = last
      .join(broadcast(users), Seq("user_id"), "left_anti")
      .select(col("user_id"), col("last_ts"), col("last_eid"))
    val lastUpd = last
      .join(broadcast(users), Seq("user_id"), "left_semi")
      .select(col("user_id"), col("last_ts"), col("last_eid"))
      .join(lastNew, Seq("user_id"), "full")
      .select(col("user_id"),
        when(col("last_ts").isNull ||
            (col("_new_ts").isNotNull &&
              struct(col("last_ts").as("wts"), col("last_eid").as("wid")) <
                struct(col("_new_ts").as("wts"),
                  col("_new_eid").as("wid"))),
          struct(col("_new_ts").as("last_ts"),
            col("_new_eid").as("last_eid")))
          .otherwise(struct(col("last_ts"), col("last_eid"))).as("_w"))
      .select(col("user_id"), col("_w.last_ts").as("last_ts"),
        col("_w.last_eid").as("last_eid"))
    val lastMerged = lastKeep.unionByName(lastUpd)
    // snapshot-before-write: both outputs read the directories they are
    // about to replace. The outbox write and the two snapshot checkpoints
    // are mutually independent (reads of history/last + the fold; the
    // feed directory is disjoint), so they overlap (guide §2.6); all of
    // them complete before the commit stages anything, which keeps the
    // changes-before-history crash ordering.
    var mergedOut: DataFrame = null
    var lastOut: DataFrame = null
    graft.Par.jobs(
      () => writeOutbox(),
      () => mergedOut = merged
        .withColumn("ubucket", bucketOf(col("user_id"), stored))
        .repartition(col("ubucket"))
        .localCheckpoint(),
      () => lastOut = lastMerged
        .withColumn("ubucket", bucketOf(col("user_id"), stored))
        .repartition(col("ubucket"))
        .localCheckpoint())
    commitTables(spark, path, IndexCommit.ReplaceParts, mergedOut, lastOut,
      stored, always = false)
  }
}
