package graft.bio

/** Substitution-matrix model.
  *
  * Replicates the semantics of the reference's matrix pipeline
  * (`lib/mmseqs/src/commons/SubstitutionMatrix.cpp:338-420` parse,
  * `lib/mmseqs/src/commons/BaseMatrix.cpp:97-159` score generation) so that
  * integer scores are bit-for-bit comparable:
  *
  *  1. parse the `.out` file: header row = alphabet order (X last), comment
  *     lines carry precomputed background freqs and lambda;
  *  2. reconstruct joint probabilities `P_ab = exp(lambda * S_ab) * p_a * p_b`
  *     (background first damped by `p_X`: `p_a *= 1 - p_X`);
  *  3. re-derive background as row sums, pin `p_X = ANY_BACK = 1e-5`;
  *  4. `S'_ab = log2(P_ab / (p'_a * p'_b))`; integer scores =
  *     `round(bitFactor * S'_ab + bias)` (round away from zero).
  *
  * The matrix data files are the public BLOSUM62 / VTML80 matrices shipped
  * with MMseqs2 (scientific data, not code).
  */
final class Matrices private (
    val name: String,
    val alphabet: String, // file column order; X is last
    val scores: Array[Array[Int]], // [alphabetSize][alphabetSize]
    val pBack: Array[Double],
    /** Q_xy / (P_x P_y) — the likelihood-ratio matrix MMseqs feeds tantan
      * (`lib/mmseqs/src/commons/BaseMatrix.h:82-95`). */
    val probRatio: Array[Array[Double]]) extends Serializable {

  val alphabetSize: Int = alphabet.length

  /** char (upper or lower case) -> matrix ordinal; unknown -> X ordinal. */
  val aa2num: Array[Int] = {
    val m = Array.fill(256)(alphabetSize - 1)
    alphabet.zipWithIndex.foreach { case (c, i) =>
      m(c.toInt) = i
      m(c.toLower.toInt) = i
    }
    m
  }

  def score(a: Char, b: Char): Int = scores(aa2num(a & 0xff))(aa2num(b & 0xff))

  def xOrdinal: Int = alphabetSize - 1

  /** Per residue ordinal `a`: every emittable residue `c` (X excluded) as
    * `(scores(a)(c), c)`, sorted by score descending — the similar-k-mer
    * expansion's candidate list for a window position holding `a`
    * ([[QueryTable.similarKmers]]). It depends on nothing but the matrix,
    * so it is built once per matrix, not per window: the counterpart of
    * the reference's precomputed extended matrices
    * (`ExtendedSubstitutionMatrix.cpp`).
    */
  lazy val kmerCandidates: Array[Array[(Int, Int)]] =
    Array.tabulate(alphabetSize)(a =>
      Matrices.byScoreDesc(java.util.Arrays.copyOf(scores(a), alphabetSize - 1)))
}

object Matrices {
  private val AnyBack = 1e-5

  private def load(resource: String): (String, Array[Array[Double]], Array[Double], Double) = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream(resource), "UTF-8")
    val lines = try src.getLines().toVector finally src.close()
    var pBack: Array[Double] = null
    var lambda = Double.NaN
    var alphabet: String = null
    val rows = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    lines.foreach { line =>
      if (line.startsWith("#")) {
        if (line.startsWith("# Background (precomputed optional):"))
          pBack = line.split(":")(1).trim.split("\\s+").map(_.toDouble)
        else if (line.startsWith("# Lambda     (precomputed optional):"))
          lambda = line.split(":")(1).trim.toDouble
      } else {
        val words = line.trim.split("\\s+").filter(_.nonEmpty)
        if (words.length > 1) {
          if (alphabet == null) alphabet = words.map(_.head).mkString
          else rows += words.drop(1).map(_.toDouble)
        }
      }
    }
    require(alphabet != null && rows.length == alphabet.length,
      s"bad matrix file $resource")
    (alphabet, rows.toArray, pBack, lambda)
  }

  private def build(name: String, resource: String, bitFactor: Double,
      bias: Double): Matrices = {
    val (alphabet, fileScores, pBack0, lambda) = load(resource)
    val n = alphabet.length
    // X row/col are non-positive in both shipped files => damp background
    val pX = pBack0(n - 1)
    val pBack = pBack0.clone()
    (0 until n - 1).foreach(i => pBack(i) = pBack0(i) * (1.0 - pX))
    // joint probabilities
    val prob = Array.tabulate(n, n)((i, j) =>
      math.exp(lambda * fileScores(i)(j)) * pBack(i) * pBack(j))
    // background re-derived as row sums; X pinned
    val bg = Array.tabulate(n)(i => prob(i).sum)
    bg(n - 1) = AnyBack
    val scores = Array.tabulate(n, n) { (i, j) =>
      val s = bitFactor * (math.log(prob(i)(j) / (bg(i) * bg(j))) / math.log(2.0)) + bias
      if (s < 0.0) (s - 0.5).toInt else (s + 0.5).toInt
    }
    val ratio = Array.tabulate(n, n)((i, j) => prob(i)(j) / (bg(i) * bg(j)))
    new Matrices(name, alphabet, scores, bg, ratio)
  }

  /** BLOSUM62 in half-bits (bitFactor 2.0) — the alignment matrix
    * (`src/sra/blockalign.cpp` SubstitutionMatrix(..., 2.0, 0.0)).
    */
  lazy val blosum62: Matrices = build("blosum62", "/matrices/blosum62.out", 2.0, 0.0)

  /** VTML80 at bitFactor 8.0, bias -0.2 — the k-mer seed matrix
    * (`src/sra/comparekmertables.cpp:141` SubstitutionMatrix(..., 8.0, -0.2)).
    */
  lazy val vtml80Seed: Matrices = build("VTML80", "/matrices/VTML80.out", 8.0, -0.2)

  /** Nucleotide matrix (match +2 / mismatch -3 in the shipped file, file
    * order A C T G X), bitFactor 1.0 (`src/sra/blockalign.cpp`
    * NucleotideMatrix(..., 1.0, 0.0)).
    */
  lazy val nucleotide: Matrices = build("nucleotide", "/matrices/nucleotide.out", 1.0, 0.0)

  /** `(row(c), c)` for every column `c`, sorted by score descending; the
    * sort is stable, so equal scores keep ascending `c` — an order the
    * expansion's top-k cutoff depends on.
    */
  private[bio] def byScoreDesc(row: Array[Int]): Array[(Int, Int)] =
    row.indices.map(c => (row(c), c)).sortBy(-_._1).toArray

  def byName(name: String): Matrices = name match {
    case "blosum62" => blosum62
    case "vtml80" => vtml80Seed
    case "nucleotide" => nucleotide
    case other => throw new IllegalArgumentException(s"unknown matrix $other")
  }

  /** Protein k-mer alphabet: the 20 standard residues (X excluded from
    * k-mers, `lib/mmseqs/src/commons/Sequence.h:97-99`).
    */
  val KmerAlphabet = "ACDEFGHIKLMNPQRSTVWY"

  /** Nucleotide k-mer alphabet (matrix file order, X excluded). */
  val KmerAlphabetNuc = "ACTG"
}
