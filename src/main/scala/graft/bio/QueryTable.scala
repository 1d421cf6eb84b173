package graft.bio

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** Query-side k-mer table construction — `createQueryTable`
  * (`src/sra/comparekmertables.cpp:126-302`): per sequence, optional
  * low-complexity masking (P5), composition-bias threshold adjustment (P6),
  * sliding-window extraction (F1) and similar-k-mer expansion (F2).
  *
  * This is genuinely per-row imperative work (per-position state, a top-k
  * heap per window), so it runs as a Dataset flatMap — the one place in the
  * pipeline where mapPartitions-style code beats relational composition.
  * Matrices are JVM-level singletons (ship with the jar; no broadcast
  * needed).
  *
  * Per-window cost: a window position's candidate list (every residue,
  * sorted by substitution score) depends only on the residue, so it is
  * taken from [[Matrices.kmerCandidates]], sorted once per matrix — the
  * counterpart of the reference's precomputed extended matrices
  * (`ExtendedSubstitutionMatrix.cpp`, `FixedKmerGenerator.cpp`). A
  * profile's PSSM columns are sorted once per profile the same way.
  *
  * Tie order: the best-first search keeps its `PriorityQueue` over
  * `(score, ranks, lastChanged)` ordered by score alone. When the
  * `maxKmerPerPos` cap falls inside a run of equal scores, the heap's
  * dequeue order decides which tied k-mers survive, and so which targets the
  * prefilter can hit. Any other heap (or tie-break) is a different table;
  * `QueryTableSpec`'s golden pins the current one row for row.
  */
object QueryTable {

  /** P6: `SubstitutionMatrix::calcLocalAaBiasCorrection`
    * (`lib/mmseqs/src/commons/SubstitutionMatrix.cpp:92-122`): per-position
    * deviation of the local 40-residue window composition from background.
    */
  def biasCorrection(ordinals: Array[Int], m: Matrices, scale: Double = 1.0): Array[Double] = {
    val n = ordinals.length
    val out = new Array[Double](n)
    val window = 40
    var i = 0
    while (i < n) {
      val minPos = math.max(0, i - window / 2)
      val maxPos = math.min(n, i + window / 2)
      val windowLength = maxPos - minPos
      var sum = 0
      var j = minPos
      while (j < maxPos) { sum += m.scores(ordinals(i))(ordinals(j)); j += 1 }
      sum -= m.scores(ordinals(i))(ordinals(i))
      var deltaS = -sum.toDouble / windowLength
      var a = 0
      while (a < m.alphabetSize) {
        deltaS += m.pBack(a) * m.scores(ordinals(i))(a)
        a += 1
      }
      out(i) = scale * deltaS
      i += 1
    }
    out
  }

  /** P5 approximation: Shannon-entropy window masking in place of tantan
    * (`comparekmertables.cpp:214-231`). tantan's probabilistic repeat model
    * is replaced by: any 12-residue window with < `minEntropy` bits of
    * residue entropy is masked to X. Catches the same low-complexity runs
    * that would explode the k-mer join (documented divergence: borderline
    * repeats may differ from tantan's calls).
    */
  def entropyMask(ordinals: Array[Int], xOrdinal: Int, window: Int = 12,
      minEntropy: Double = 1.5): Array[Int] = {
    val n = ordinals.length
    if (n < window) return ordinals
    val out = ordinals.clone()
    val counts = new Array[Int](32)
    var i = 0
    while (i + window <= n) {
      java.util.Arrays.fill(counts, 0)
      var j = 0
      while (j < window) { counts(ordinals(i + j) & 31) += 1; j += 1 }
      var h = 0.0
      var c = 0
      while (c < 32) {
        if (counts(c) > 0) {
          val p = counts(c).toDouble / window
          h -= p * math.log(p) / math.log(2.0)
        }
        c += 1
      }
      if (h < minEntropy) {
        j = 0
        while (j < window) { out(i + j) = xOrdinal; j += 1 }
      }
      i += 1
    }
    out
  }

  /** F2: top-`maxKmers` highest-scoring neighbor k-mers with score >=
    * `threshold` under the seed matrix — the FixedKmerGenerator contract
    * (`src/commons/FixedKmerGenerator.cpp:288-343`). The reference
    * enumerates via precomputed 2/3-mer block tables; we enumerate the same
    * top-k set via per-position best-first search over sorted substitution
    * lists. The set matches the reference's only when the cap does not cut
    * through a run of tied scores; otherwise the heap's tie order picks the
    * survivors (see the object doc).
    */
  def similarKmers(window: Array[Int], m: Matrices, threshold: Int,
      maxKmers: Int): Array[Long] =
    latticeTopK(window.map(m.kmerCandidates), (m.alphabetSize - 1).toLong,
      threshold, maxKmers)

  /** The same best-first lattice over ARBITRARY per-position candidate
    * lists — `subs(i)` = `(score, residue)` of every residue that window
    * position `i` may emit, sorted by score descending
    * ([[Matrices.byScoreDesc]]). Sequence mode feeds matrix rows; profile
    * mode feeds the PSSM columns (the reference's
    * `kmerGenerator.setDivideStrategy(sequence.profile_matrix)`,
    * `comparekmertables.cpp:185-190`).
    */
  private def latticeTopK(subs: Array[Array[(Int, Int)]], base: Long,
      threshold: Int, maxKmers: Int): Array[Long] = {
    val k = subs.length
    var startScore = 0
    var p = 0
    while (p < k) { startScore += subs(p)(0)._1; p += 1 }
    if (startScore < threshold) return Array.empty
    val out = new mutable.ArrayBuilder.ofLong
    // lattice top-k: (score, ranks, lastChangedPos); children increment a
    // rank at >= lastChangedPos only (no duplicate states)
    implicit val ord: Ordering[(Int, Array[Int], Int)] = Ordering.by(_._1)
    val heap = mutable.PriorityQueue((startScore, new Array[Int](k), 0))
    while (heap.nonEmpty && out.length < maxKmers) {
      val (score, ranks, lastChanged) = heap.dequeue()
      if (score < threshold) return out.result()
      var code = 0L
      var pw = 1L
      var i = 0
      while (i < k) { code += subs(i)(ranks(i))._2 * pw; pw *= base; i += 1 }
      out += code
      var j = lastChanged
      while (j < k) {
        if (ranks(j) + 1 < subs(j).length) {
          val next = ranks.clone()
          next(j) += 1
          val nextScore = score - subs(j)(ranks(j))._1 + subs(j)(next(j))._1
          if (nextScore >= threshold) heap.enqueue((nextScore, next, j))
        }
        j += 1
      }
    }
    out.result()
  }

  /** The rows of every k-mer window without an X, in window order: the
    * window's own code (base `base`), then, unless `cfg.exactKmerMatching`,
    * its similar k-mers, searched over `candidates(p)` (the sorted
    * candidate list of residue position `p`) with the score threshold
    * `threshold(pos)` of the window at `pos`. One pass over the window
    * checks for X and builds the code, with no per-window copy.
    */
  private def windowRows(ordinals: Array[Int], x: Int, base: Long,
      cfg: Config)(threshold: Int => Int)(
      candidates: Int => Array[(Int, Int)]): Iterator[(Int, Long)] = {
    val k = cfg.k
    val subs = new Array[Array[(Int, Int)]](k)
    (0 to ordinals.length - k).iterator.flatMap { pos =>
      var code = 0L
      var pw = 1L
      var i = 0
      while (i < k && ordinals(pos + i) != x) {
        code += ordinals(pos + i) * pw
        pw *= base
        i += 1
      }
      if (i < k) Iterator.empty
      else if (cfg.exactKmerMatching) Iterator.single((pos, code))
      else {
        // subs is reused: latticeTopK is done with it once it returns
        i = 0
        while (i < k) { subs(i) = candidates(pos + i); i += 1 }
        val similar = latticeTopK(subs, base, threshold(pos), cfg.maxKmerPerPos)
        Iterator.single((pos, code)) ++ similar.iterator.map(c => (pos, c))
      }
    }
  }

  final case class Config(
      k: Int = KmerIndex.DefaultK,
      kmerThreshold: Int = 225, // LocalParameters.h:150
      maxKmerPerPos: Int = 20, // LocalParameters.h:152
      exactKmerMatching: Boolean = false, // Parameters.cpp:2255 (expansion ON)
      maskMode: Boolean = true, // Parameters.cpp:2256
      biasCorrection: Boolean = true, // Parameters.cpp:2252
      seedMatrix: String = "vtml80",
      kmerAlphabetSize: Int = 20)

  /** One sequence -> query table rows (kmerPos, kmer). */
  def rowsForSequence(seq: String, cfg: Config): Iterator[(Int, Long)] = {
    val m = Matrices.byName(cfg.seedMatrix)
    var ordinals = Array.tabulate(seq.length)(i => m.aa2num(seq.charAt(i) & 0xff))
    // P5: tantan-model repeat masking (Tantan.scala); entropyMask remains
    // available as a cheaper approximation
    if (cfg.maskMode) ordinals = Tantan.mask(ordinals, m)
    val bias =
      if (cfg.biasCorrection) biasCorrection(ordinals, m) else null
    val cands = m.kmerCandidates
    windowRows(ordinals, m.xOrdinal, (m.alphabetSize - 1).toLong, cfg) { pos =>
      // P6 threshold adjust (comparekmertables.cpp:239-253): bias is
      // clamped to <= 0 and rounded away from zero. The double sum runs in
      // window order: its rounding, and so the threshold, depends on it.
      if (bias == null) cfg.kmerThreshold
      else {
        var b = 0.0
        var i = 0
        while (i < cfg.k) { b += bias(pos + i); i += 1 }
        val rounded = (if (b < 0.0) b - 0.5 else b + 0.5).toShort
        val clamped = math.min(0, rounded.toInt)
        math.max(cfg.kmerThreshold - clamped, 0)
      }
    }(p => cands(ordinals(p)))
  }

  /** sequences(seqId, seq, ...) -> qkmers(queryId, kmerPos, kmer). */
  def build(spark: SparkSession, sequences: DataFrame,
      cfg: Config = Config()): DataFrame = {
    import spark.implicits._
    sequences.select("seqId", "seq").as[(Long, String)]
      .flatMap { case (id, seq) =>
        rowsForSequence(seq, cfg).map { case (pos, code) => (id, pos, code) }
      }
      .toDF("queryId", "kmerPos", "kmer")
  }

  /** One PROFILE record -> query table rows: k-mers slide over the
    * consensus, but similar-k-mer expansion is scored by the per-position
    * PSSM columns (8x-log2 scale, the same family as the 8.0-bit seed
    * matrix, so the 225 threshold carries over) instead of a substitution
    * matrix — the reference's profile divide strategy
    * (`comparekmertables.cpp:185-190`). Bias correction is OFF in the
    * reference's profile path (Sequence ctor arg, `:184`); masking applies
    * to the consensus string.
    */
  def rowsForProfile(profile: Array[Byte], cfg: Config): Iterator[(Int, Long)] = {
    val m = Matrices.blosum62 // profile records use the alignment alphabet
    val nRes = Profiles.QueryOffset
    val consensus = Profiles.extractConsensus(profile, m)
    var ordinals = Array.tabulate(consensus.length)(i =>
      m.aa2num(consensus.charAt(i) & 0xff))
    if (cfg.maskMode) ordinals = Tantan.mask(ordinals, m)
    // each PSSM column sorted once per profile; windows slide over them
    lazy val columns = Array.tabulate(ordinals.length)(p =>
      Matrices.byScoreDesc(Array.tabulate(nRes)(c => Profiles.scoreAt(profile, p, c))))
    windowRows(ordinals, m.xOrdinal, nRes.toLong, cfg)(_ => cfg.kmerThreshold)(
      columns(_))
  }

  /** profiles(seqId, profile, ...) -> qkmers(queryId, kmerPos, kmer). */
  def buildFromProfiles(spark: SparkSession, profiles: DataFrame,
      cfg: Config = Config()): DataFrame = {
    import spark.implicits._
    profiles.select("seqId", "profile").as[(Long, Array[Byte])]
      .flatMap { case (id, prof) =>
        rowsForProfile(prof, cfg).map { case (pos, code) => (id, pos, code) }
      }
      .toDF("queryId", "kmerPos", "kmer")
  }
}
