package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Point-in-time (as-of) joins — the time-series joins Spark's built-in
  * operators lack: match each left row to the single closest right row in
  * its key group (most recent at-or-before, earliest at-or-after, or
  * nearest in either direction).
  *
  * Deliberately NOT range joins: the naive `l JOIN r ON key AND r.ts <=
  * l.ts` explodes to the full per-key cross product before an argmax
  * prunes it — quadratic in group size, and the usual banding rewrite
  * trades that for tuning a band width. Instead this is the
  * union-tag-window plan: tag each input with a side marker, union them
  * into one timeline, and take a running `last`/`first`(ignoreNulls)
  * window per key. ONE hash shuffle of |L|+|R| rows on the key + a
  * per-partition sort — the same cost shape as any windowed aggregation,
  * zero fan-out, no knobs. Key skew lands in the window sort, exactly
  * where a windowed aggregation over the same keys would put it.
  *
  * Shared contract: at equal timestamps the right row is VISIBLE to the
  * left row (the `>=`/`<=` convention of DuckDB's ASOF JOIN and kdb's
  * aj), enforced by the side tag's position in the sort. Left rows with
  * no match keep nulls (left-join semantics). Right rows must be unique
  * per (keys, ts) for "the" match to be well-defined — pre-aggregate
  * (max_by) if they are not.
  */
object AsofJoin {

  /** The direction-parameterized core: both directions differ ONLY in
    * which side sorts first at equal timestamps, which way the running
    * window frame faces, and first-vs-last — one definition keeps the
    * load-bearing tie semantics from drifting between them.
    */
  private def asofCore(left: DataFrame, right: DataFrame, keys: Seq[String],
      tsCol: String, payloadCols: Seq[String], outPrefix: String,
      forward: Boolean, leftCols: Seq[String],
      tolerance: Option[Column], allowExact: Boolean): DataFrame = {
    val carried =
      if (leftCols.isEmpty) left.columns.toIndexedSeq
      else {
        // keys + ts always ride (they ARE the join); dedupe preserves the
        // caller's requested order for the output projection
        val want = (keys :+ tsCol) ++ leftCols
        val missing = want.filterNot(left.columns.contains)
        require(missing.isEmpty,
          s"leftCols not in left: ${missing.mkString(", ")}")
        want.distinct.toIndexedSeq
      }
    val lrow = struct(carried.map(col): _*)
    val rv = struct((tsCol +: payloadCols).map(col): _*)
    val lrowType = left.select(lrow).schema.head.dataType
    val rvType = right.select(rv).schema.head.dataType
    // equal-timestamp visibility is purely a SORT decision: the right row
    // must fall inside the left row's frame at equal ts exactly when exact
    // matches are allowed. Backward frames end at the current row (right
    // sorts before the left to be visible); forward frames start at it
    // (right sorts after). allowExact=false flips the side order, pushing
    // equal-ts right rows just OUTSIDE the frame — strict </> semantics
    // with zero plan change (pandas merge_asof allow_exact_matches=False)
    val (lSide, rSide) = if (forward == allowExact) (0, 1) else (1, 0)
    val l2 = left.select(
      keys.map(col) ++ Seq(col(tsCol).as("_ts"), lit(lSide).as("_side"),
        lrow.as("_lrow"), lit(null).cast(rvType).as("_rv")): _*)
    val r2 = right.select(
      keys.map(col) ++ Seq(col(tsCol).as("_ts"), lit(rSide).as("_side"),
        lit(null).cast(lrowType).as("_lrow"), rv.as("_rv")): _*)
    val wBase = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_ts"), col("_side"))
    val m =
      if (forward)
        first(col("_rv"), ignoreNulls = true).over(
          wBase.rowsBetween(Window.currentRow, Window.unboundedFollowing))
      else
        last(col("_rv"), ignoreNulls = true).over(
          wBase.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    // tolerance gate (pandas merge_asof `tolerance`): a match farther than
    // `tolerance` from the left timestamp is nulled out — the left row
    // SURVIVES with no match, it is not dropped. Delta by direct timestamp
    // subtraction (DayTimeIntervalType): exact, and NTZ-safe like the
    // nearest-pick arithmetic below.
    val mGated = tolerance match {
      case Some(tol) =>
        val d =
          if (forward) m.getField(tsCol) - col("_ts")
          else col("_ts") - m.getField(tsCol)
        when(d <= tol, m)
      case None => m
    }
    val merged = l2.unionByName(r2)
      .withColumn("_m", mGated)
      .filter(col("_side") === lSide)
    val outCols = carried.map(c =>
      col("_lrow").getField(c).as(c)) ++
      (tsCol +: payloadCols).map(c =>
        col("_m").getField(c).as(s"$outPrefix$c"))
    merged.select(outCols: _*)
  }

  /** Backward as-of join: for every left row, the most recent right row
    * with `right.ts <= left.ts` — "state as of event time" (price at
    * trade time, latest profile before a click).
    *
    * @param payloadCols right-side columns carried to matched left rows,
    *                    emitted as `<outPrefix><name>`; the matched right
    *                    timestamp is always emitted as `<outPrefix><tsCol>`.
    * @param leftCols    OPTIONAL narrow-payload contract for wide left
    *                    tables: carry (and emit) only these left columns,
    *                    plus keys and `tsCol` which always ride. The
    *                    union-tag-window plan shuffles the carried left
    *                    row through the key shuffle and its window sort —
    *                    at 100 TB a multi-KB document row in `_lrow` is
    *                    the dominant shuffle payload (measured: see
    *                    `tools/Scale asof`), so project early and join any
    *                    remaining columns back by id afterwards if truly
    *                    needed. Empty (default) = carry everything.
    */
  def asofBackward(left: DataFrame, right: DataFrame, keys: Seq[String],
      tsCol: String, payloadCols: Seq[String],
      outPrefix: String = "asof_",
      leftCols: Seq[String] = Seq.empty,
      tolerance: Option[Column] = None,
      allowExactMatches: Boolean = true): DataFrame =
    asofCore(left, right, keys, tsCol, payloadCols, outPrefix,
      forward = false, leftCols, tolerance, allowExactMatches)

  /** Forward as-of join: for every left row, the EARLIEST right row with
    * `right.ts >= left.ts` — "next state at or after event time" (next
    * scheduled maintenance after an alert, next quote after an order).
    */
  def asofForward(left: DataFrame, right: DataFrame, keys: Seq[String],
      tsCol: String, payloadCols: Seq[String],
      outPrefix: String = "asof_",
      leftCols: Seq[String] = Seq.empty,
      tolerance: Option[Column] = None,
      allowExactMatches: Boolean = true): DataFrame =
    asofCore(left, right, keys, tsCol, payloadCols, outPrefix,
      forward = true, leftCols, tolerance, allowExactMatches)

  /** Banded bounded-staleness as-of — the SCALE path for
    * tolerance-bounded joins: semantically identical to the window-plan
    * variants with `tolerance = Some(T seconds)` (spec-pinned
    * differentials), but planned as [[RangeJoin.intervalJoin]] + per-left
    * argmax/argmin instead of the union-tag-window pass.
    *
    * Why it exists: the window plan sorts EVERY key group globally — a hot
    * key (the null-user problem) lands its whole timeline in one window
    * partition. With a staleness bound T, a right row is only visible for
    * T seconds around its timestamp, so the join can band time at width
    * ~T: the right side explodes to a constant ~2-3 copies, the join
    * becomes a hash equi-join on (keys, band) — AQE-skew-splittable like
    * any other — and per-left candidates are bounded by the key's row
    * density within the visibility window, never by its total history.
    * The pick (most recent / earliest / nearest visible right row) rides
    * a groupBy on the left id.
    *
    * Use the window plan for unbounded as-of; use these when a tolerance
    * exists AND key skew is a real risk. `leftIdCol` must uniquely
    * identify left rows (the pick groups by it). Seconds granularity for
    * the banding; the visibility predicate itself stays microsecond-exact
    * (intervalJoin's residual compares raw timestamps), and the nearest
    * pick compares exact interval deltas with the same backward tie
    * preference as [[asofNearest]].
    */
  def asofBackwardBanded(left: DataFrame, right: DataFrame,
      keys: Seq[String], tsCol: String, payloadCols: Seq[String],
      toleranceSec: Long, leftIdCol: String,
      outPrefix: String = "asof_"): DataFrame =
    bandedCore(left, right, keys, tsCol, payloadCols, toleranceSec,
      leftIdCol, outPrefix, mode = "bwd")

  /** Forward twin of [[asofBackwardBanded]]: earliest right row with
    * `left.ts <= right.ts <= left.ts + T`.
    */
  def asofForwardBanded(left: DataFrame, right: DataFrame,
      keys: Seq[String], tsCol: String, payloadCols: Seq[String],
      toleranceSec: Long, leftIdCol: String,
      outPrefix: String = "asof_"): DataFrame =
    bandedCore(left, right, keys, tsCol, payloadCols, toleranceSec,
      leftIdCol, outPrefix, mode = "fwd")

  /** Nearest twin of [[asofBackwardBanded]]: the right row minimizing
    * |right.ts - left.ts| within tolerance, exact ties preferring the
    * backward (at-or-before) match — [[asofNearest]]'s contract.
    */
  def asofNearestBanded(left: DataFrame, right: DataFrame,
      keys: Seq[String], tsCol: String, payloadCols: Seq[String],
      toleranceSec: Long, leftIdCol: String,
      outPrefix: String = "asof_"): DataFrame =
    bandedCore(left, right, keys, tsCol, payloadCols, toleranceSec,
      leftIdCol, outPrefix, mode = "near")

  private def bandedCore(left: DataFrame, right: DataFrame,
      keys: Seq[String], tsCol: String, payloadCols: Seq[String],
      toleranceSec: Long, leftIdCol: String, outPrefix: String,
      mode: String): DataFrame = {
    require(toleranceSec >= 0, s"toleranceSec must be >= 0, got $toleranceSec")
    require(left.columns.contains(leftIdCol), s"leftIdCol $leftIdCol not in left")
    val ivp = "_iv_"
    val tol = expr(s"INTERVAL $toleranceSec SECONDS")
    // visibility interval of a right row at rts, as seen by left ts
    val (lo, hi) = mode match {
      case "bwd"  => (col(tsCol), col(tsCol) + tol) // rts <= ts <= rts+T
      case "fwd"  => (col(tsCol) - tol, col(tsCol)) // rts-T <= ts <= rts
      case _      => (col(tsCol) - tol, col(tsCol) + tol)
    }
    val rightIv = right.select(
      keys.map(col) ++ Seq(col(tsCol).as("_rts"), lo.as("_astart"),
        hi.as("_aend")) ++ payloadCols.map(col): _*)
    val cand = RangeJoin.intervalJoin(left, rightIv, keys, tsCol,
      "_astart", "_aend", bandWidth = math.max(toleranceSec, 1L),
      outPrefix = ivp)
    val rts = col(s"${ivp}_rts")
    val value = struct((rts.as(tsCol) +:
      payloadCols.map(c => col(s"$ivp$c").as(c))): _*)
    // right rows are unique per (keys, ts) by the shared contract, so no
    // further tie terms are needed beyond nearest's backward preference
    val pick = mode match {
      case "bwd" => max_by(value, rts)
      case "fwd" => min_by(value, rts)
      case _ =>
        val absD = greatest(col(tsCol) - rts, rts - col(tsCol))
        val side = when(rts <= col(tsCol), lit(0)).otherwise(lit(1))
        min_by(value, struct(absD, side))
    }
    val best = cand.groupBy(col(leftIdCol)).agg(pick.as("_m"))
      .select(col(leftIdCol) +:
        (tsCol +: payloadCols).map(c =>
          col("_m").getField(c).as(s"$outPrefix$c")): _*)
    left.join(best, Seq(leftIdCol), "left")
  }

  /** Nearest as-of join: the single right row closest in time to each
    * left row, in either direction ("the reading nearest the event").
    * Composed from [[asofBackward]] and [[asofForward]] — two window
    * passes over the same key shuffle shape — picking the smaller
    * absolute time delta per row; exact ties prefer the BACKWARD
    * (at-or-before) match, the convention that never leaks the future
    * when both sides are equidistant. Null-safe: rows with a match in
    * only one direction take it; rows with none keep nulls.
    */
  def asofNearest(left: DataFrame, right: DataFrame, keys: Seq[String],
      tsCol: String, payloadCols: Seq[String],
      outPrefix: String = "asof_",
      leftCols: Seq[String] = Seq.empty,
      tolerance: Option[Column] = None,
      allowExactMatches: Boolean = true): DataFrame = {
    // gate each direction independently, then pick nearest among the
    // survivors — identical to gating after the pick, since the gate is
    // monotone in the delta the pick minimizes
    val bwd = asofBackward(left, right, keys, tsCol, payloadCols, "_bwd_",
      leftCols, tolerance, allowExactMatches)
    // the forward pass's left is the backward output: its carry set must
    // include the _bwd_ columns the final pick reads
    val fwdLeftCols =
      if (leftCols.isEmpty) Seq.empty[String]
      else bwd.columns.toSeq
    val fwd = asofForward(bwd, right, keys, tsCol, payloadCols, "_fwd_",
      fwdLeftCols, tolerance, allowExactMatches)
    // exact microsecond deltas with NO timezone conversion: subtracting two
    // timestamp columns yields a DayTimeIntervalType, microsecond-exact and
    // well-defined for both TIMESTAMP and TIMESTAMP_NTZ (what a plain
    // timestamp[us] parquet column reads as). An earlier cast-to-TIMESTAMP
    // rewrite mapped NTZ wall clocks through the session timezone, which is
    // non-monotonic across a DST spring-forward — the two ends of a delta
    // could take different UTC offsets, skewing the nearest choice
    val dbwd = col(tsCol) - col(s"_bwd_$tsCol")
    val dfwd = col(s"_fwd_$tsCol") - col(tsCol)
    val useBwd = col(s"_bwd_$tsCol").isNotNull &&
      (col(s"_fwd_$tsCol").isNull || dbwd <= dfwd)
    val emitted =
      if (leftCols.isEmpty) left.columns.toIndexedSeq
      else ((keys :+ tsCol) ++ leftCols).distinct.toIndexedSeq
    val outCols = emitted.map(col) ++
      (tsCol +: payloadCols).map(c =>
        when(useBwd, col(s"_bwd_$c")).otherwise(col(s"_fwd_$c"))
          .as(s"$outPrefix$c"))
    fwd.select(outCols: _*)
  }
}
