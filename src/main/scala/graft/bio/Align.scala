package graft.bio

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The `blockalign` stage as a DataFrame transformation
  * (`src/sra/blockalign.cpp:164-493` re-expressed relationally):
  *
  *  - A3: the prefilter's hit groups, one per qualifying (targetId, queryId),
  *    taken as they are, with the diagonal already attached (our index
  *    carries the representative's first k-mer position, collapsing the
  *    reference's J3 binary-search re-lookup `blockalign.cpp:268-298` into
  *    the prefilter join);
  *  - J4: joins to fetch target and query sequences (target join shuffles on
  *    targetId — the big side at petabase scale; query side is explicitly
  *    broadcast-hinted, since RDD-backed query tables carry no stats);
  *  - the per-pair sequential cascade (O5 -> A6 -> T2/C5 -> C6 -> C7) runs
  *    inside one typed map — Catalyst cannot reorder these UDF stages, which
  *    is exactly right: the cascade order IS the optimization (SURVEY §4).
  *
  * Strengthened vs reference: global deterministic output order (O6 was
  * per-OpenMP-thread only, §2.12.4) and fident = identities / alignment
  * length (the reference divides by the cigar RUN count in integer
  * arithmetic, `blockalign.cpp:391` — a bug that makes fident meaningless;
  * divergence documented here and in tests).
  */
object Align {

  val DefaultEvalThr = 1000.0 // workflow default, src/workflow/petasearch.cpp:14
  val DefaultXdrop = 10 // LocalParameters.h:145
  val DefaultGaps: Aligner.Gaps = Aligner.Gaps(11, 1) // Parameters.cpp gapOpen/gapExtend aa
  val MaxDiagDistance = 4 // blockalign.cpp:303

  /** One candidate pair. `dbId` is set on a `dbId`-partitioned corpus,
    * `profile` when the query is a profile record (F4).
    */
  final case class PairRow(
      targetId: Long, queryId: Long,
      hits: Seq[(Int, Long, Int)], // (kmerPos, kmer, diag)
      qSeq: String, tSeq: String,
      dbId: Option[Long] = None, profile: Option[Array[Byte]] = None)

  /** prefilter([dbId,] targetId, queryId, hits) — the hit groups of
    * [[Prefilter.runWithDiag]], in any order within a group — x sequences
    * -> alignments([dbId,] queryId, targetId, bits, fident, eval, qStart,
    * qEnd, qLen, tStart, tEnd, tLen, backtrace, alnLen, mismatch, gapOpen,
    * raw), sorted by (queryId, eval asc, bits desc, tLen, [dbId,] targetId)
    * (`matcherResultsSort`, strengthened to a global order).
    *
    * The one align kernel for every search shape, keyed on the inputs:
    *  - a prefilter carrying `dbId` (one job over a `dbId`-partitioned
    *    corpus, `targetSeqs` carrying `dbId` too) aligns each pair with ITS
    *    database's evaluer — per-DB residue counts, exactly like independent
    *    per-DB `blockalign` runs; the tiny dbId->residues map ships in the
    *    task closure;
    *  - query rows carrying `profile` (the raw 25-byte-per-position record,
    *    `seq` = its consensus) switch the gapped stages to profile scoring
    *    (F4). The ungapped gates score consensus x matrix; the gapped
    *    extension and traceback score target residues against the
    *    per-position profile columns (>>2), matching `align_local_profile`.
    *    fident counts identities against the CONSENSUS string (the
    *    reference's profile m8 carries no identity information at all — its
    *    `=`-aware cigar is only produced in sequence mode; divergence
    *    documented).
    */
  def run(spark: SparkSession, prefilter: DataFrame, querySeqs: DataFrame,
      targetSeqs: DataFrame, evalThr: Double = DefaultEvalThr,
      xdrop: Int = DefaultXdrop, gaps: Aligner.Gaps = DefaultGaps,
      matrixName: String = "blosum62",
      gumbel: GumbelParams = GumbelParams.Blosum62Ungapped,
      k: Int = KmerIndex.DefaultK,
      knownDbResCount: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val db = if (prefilter.columns.contains("dbId")) Seq("dbId") else Nil

    // the evaluer's database-residue scalar, per DB: an O(1) driver value
    // the reference also needs (blockalign.cpp dbSize); callers with a
    // persisted index pass it from index metadata instead of paying a
    // corpus scan here
    val dbRes: Map[Option[Long], Long] =
      if (db.nonEmpty)
        targetSeqs.groupBy(col("dbId")).agg(sum(col("seqLen")))
          .as[(Long, Long)].collect().map { case (d, r) => Some(d) -> r }.toMap
      else Map(None -> knownDbResCount.getOrElse(
        targetSeqs.agg(coalesce(sum(col("seqLen")), lit(0L))).as[Long].head()))

    // absent keys become typed nulls only after both joins, so neither the
    // target shuffle nor the query broadcast carries them
    val prof = if (querySeqs.columns.contains("profile")) Seq("profile") else Nil
    def orNull(present: Seq[String], name: String, tpe: String) =
      if (present.nonEmpty) col(name) else lit(null).cast(tpe).as(name)
    val withSeqs = prefilter
      .join(targetSeqs.select(db.map(col) ++ Seq(col("seqId").as("targetId"),
        col("seq").as("tSeq")): _*), db :+ "targetId")
      .join(broadcast(querySeqs.select(Seq(col("seqId").as("queryId"),
        col("seq").as("qSeq")) ++ prof.map(col): _*)), Seq("queryId"))
      .select(col("targetId"), col("queryId"), col("hits"), col("qSeq"),
        col("tSeq"), orNull(db, "dbId", "long"), orNull(prof, "profile", "binary"))
      .as[PairRow]

    val aligned = withSeqs.mapPartitions { iter =>
      // per-task singletons: matrices ship with the jar, evaluers are tiny
      val m = Matrices.byName(matrixName)
      val evaluers = scala.collection.mutable.Map.empty[Option[Long], Evaluer]
      iter.flatMap { p =>
        val ev = evaluers.getOrElseUpdate(p.dbId, new Evaluer(gumbel, dbRes(p.dbId)))
        alignPair(p, m, ev, evalThr, xdrop, gaps, k).map(r => (p.dbId, r))
      }
    }

    aligned.toDF("dbId", "aln")
      .select(db.map(col) :+ col("aln.*"): _*)
      .orderBy(Seq(col("queryId"), col("eval"), col("bits").desc, col("tLen")) ++
        db.map(col) :+ col("targetId"): _*)
  }

  /** The per-pair cascade. Returns None when any gate rejects.
    * `p.profile` switches the GAPPED stages to per-position profile scoring
    * (F4, `blockalign.cpp:313-323` + `BlockAligner.cpp`
    * `align_local_profile`). The ungapped stage always scores consensus x
    * matrix, exactly like the reference (it passes `realSeq` — the decoded
    * consensus — to `ungappedDiagFilter`, and only the block aligner sees
    * the profile columns).
    */
  def alignPair(p: PairRow, m: Matrices, evaluer: Evaluer, evalThr: Double,
      xdrop: Int, gaps: Aligner.Gaps,
      k: Int = KmerIndex.DefaultK): Option[Aligner.AlnResult] = {
    val q = p.qSeq.getBytes("US-ASCII")
    val t = p.tSeq.getBytes("US-ASCII")
    if (t.length < k) return None // P7 min-length (blockalign.cpp:257-259)

    // O5 sort + A6 diagonal-proximity gate
    val sorted = Aligner.sortHits(p.hits.map { case (pos, kmer, diag) =>
      Aligner.Hit(pos, kmer, diag)
    }.toArray)
    if (!Aligner.isWithinNDiagonals(sorted, MaxDiagDistance)) return None

    // T2/C5 ungapped cascade (first accepted diagonal wins)
    val ungapped = Aligner.ungappedDiagFilter(sorted, q, t, m, evaluer, evalThr)
      .getOrElse(return None)

    // anchor = inclusive end of the ungapped segment, query/target space
    val (qAnchor, tAnchor) =
      if (ungapped.diagonal >= 0)
        (ungapped.endPos + ungapped.distToDiagonal, ungapped.endPos)
      else
        (ungapped.endPos, ungapped.endPos + ungapped.distToDiagonal)

    // C6 two-pass X-drop extension (BlockAligner.cpp:60-93 structure)
    val fwdScorer = p.profile
      .map(pr => new Aligner.ProfileScorer(pr, identity, t, m): Aligner.Scorer)
      .getOrElse(new Aligner.MatrixScorer(q, t, m))
    val fwd = Aligner.xdropExtend(q, qAnchor, t, tAnchor, fwdScorer, gaps, xdrop)
    val qEndExcl = qAnchor + fwd.aLen
    val tEndExcl = tAnchor + fwd.bLen
    val qRev = reverseSlice(q, qEndExcl)
    val tRev = reverseSlice(t, tEndExcl)
    // reversed pass: profile positions mirror like block_set_all_rev_aaprofile
    val revScorer = p.profile
      .map(pr => new Aligner.ProfileScorer(pr, ai => qEndExcl - 1 - ai, tRev, m): Aligner.Scorer)
      .getOrElse(new Aligner.MatrixScorer(qRev, tRev, m))
    val traced = Aligner.xdropTraceback(qRev, qRev.length, tRev, tRev.length,
      revScorer, gaps, xdrop)
    if (traced.runs.isEmpty) return None // P10 zero-length
    val qStart = qEndExcl - traced.aConsumed
    val tStart = tEndExcl - traced.bConsumed

    // C7 scores: bits from the raw SW score (ungapped Gumbel params — the
    // reference's blockalign evaluer), final e-value re-derived from the
    // ROUNDED bit score with the target length (swapResult, Matcher.h:93-115)
    val score = traced.score
    val bits = (evaluer.computeBitScore(score) + 0.5).toInt
    val evalGate = evaluer.computeEvalue(score, t.length) // align() gate value
    if (evalGate > evalThr) return None // P8
    val evalFinal = evaluer.computeEvalue(
      evaluer.computeRawScoreFromBitScore(bits), t.length)

    // C11 cigar stats
    var alnLen = 0
    var matchCount = 0
    var identical = 0
    var gapOpenCount = 0
    val bt = new StringBuilder
    traced.runs.foreach { r =>
      alnLen += r.len
      r.op match {
        case 'M' => matchCount += r.len; identical += r.eq
        case _ => gapOpenCount += 1
      }
      var i = 0
      while (i < r.len) { bt += r.op; i += 1 }
    }
    val fident = identical.toDouble / math.max(alnLen, 1)
    val mismatch = matchCount - identical

    Some(Aligner.AlnResult(
      queryId = p.queryId, targetId = p.targetId, bits = bits, fident = fident,
      eval = evalFinal, qStart = qStart, qEnd = qEndExcl - 1, qLen = q.length,
      tStart = tStart, tEnd = tEndExcl - 1, tLen = t.length,
      backtrace = bt.toString, alnLen = alnLen, mismatch = mismatch,
      gapOpen = gapOpenCount, raw = score))
  }

  private def reverseSlice(a: Array[Byte], end: Int): Array[Byte] = {
    val out = new Array[Byte](end)
    var i = 0
    while (i < end) { out(i) = a(end - 1 - i); i += 1 }
    out
  }
}
