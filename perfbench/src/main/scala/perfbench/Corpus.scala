package perfbench

import java.util.SplittableRandom

/** Seeded input generator. Everything the program reads is made here from
  * the run's seed: the same seed gives byte-identical files, another seed
  * gives other files. Nothing is downloaded or read from elsewhere.
  */
object Corpus {

  final case class Rec(name: String, seq: String)

  /** Background amino-acid frequencies (Robinson & Robinson 1991). */
  val Residues = "ACDEFGHIKLMNPQRSTVWY"
  private val Freqs = Array(0.07805, 0.01925, 0.05364, 0.06295, 0.03856,
    0.07377, 0.02199, 0.05142, 0.05744, 0.09019, 0.02243, 0.04487, 0.05203,
    0.04264, 0.05129, 0.07120, 0.05841, 0.06441, 0.01330, 0.03216)
  private val Cumulative = Freqs.scanLeft(0.0)(_ + _).tail.map(_ / Freqs.sum)

  def residue(rng: SplittableRandom): Char = {
    val u = rng.nextDouble()
    var i = 0
    while (i < Cumulative.length - 1 && u >= Cumulative(i)) i += 1
    Residues(i)
  }

  def protein(rng: SplittableRandom, len: Int): String = {
    val sb = new StringBuilder(len)
    var i = 0
    while (i < len) { sb += residue(rng); i += 1 }
    sb.toString
  }

  /** Point substitutions at rate `sub` (always to a different residue) plus
    * insertions and deletions of 1-3 residues, each starting at rate
    * `indel / 2` per position.
    */
  def mutate(rng: SplittableRandom, seq: String, sub: Double,
      indel: Double): String = {
    val sb = new StringBuilder(seq.length + 16)
    var i = 0
    while (i < seq.length) {
      val u = rng.nextDouble()
      if (u < indel / 2) {
        i += 1 + rng.nextInt(3) // deletion
      } else {
        if (u < indel) sb ++= protein(rng, 1 + rng.nextInt(3)) // insertion
        val c = seq(i)
        if (rng.nextDouble() < sub) {
          var r = residue(rng)
          while (r == c) r = residue(rng)
          sb += r
        } else sb += c
        i += 1
      }
    }
    sb.toString
  }

  def fasta(recs: Seq[Rec]): String = {
    val sb = new StringBuilder
    recs.foreach { r =>
      sb += '>' ++= r.name += '\n'
      r.seq.grouped(60).foreach(l => sb ++= l += '\n')
    }
    sb.toString
  }

  /** indexed_search inputs: a background DB, a fixed append batch, and
    * queries that are planted remote homologs (28-36% substitutions plus
    * indels) of known DB entries. A tenth of the planted targets sit in the
    * append batch, so the search result also depends on the append.
    */
  final case class Indexed(background: Seq[Rec], batch: Seq[Rec],
      queries: Seq[Rec], truth: Seq[(String, String)])

  def indexed(seed: Long, nBackground: Int, nBatch: Int, nQueries: Int,
      minLen: Int = 100, maxLen: Int = 400): Indexed = {
    val rng = new SplittableRandom(seed)
    def len() = minLen + rng.nextInt(maxLen - minLen + 1)
    val background = (0 until nBackground).map(i =>
      Rec(f"bg$i%06d", protein(rng, len())))
    val batch = (0 until nBatch).map(i => Rec(f"ap$i%05d", protein(rng, len())))
    val fromBatch = nQueries / 10
    val targets =
      pick(rng, background.size, nQueries - fromBatch).map(background) ++
        pick(rng, batch.size, fromBatch).map(batch)
    val queries = targets.zipWithIndex.map { case (t, i) =>
      Rec(f"q$i%05d", mutate(rng, t.seq, 0.28 + 0.08 * rng.nextDouble(), 0.04))
    }
    Indexed(background, batch, queries,
      queries.zip(targets).map { case (q, t) => q.name -> t.name })
  }

  /** `k` distinct indices of `0 until n`, in draw order. */
  private def pick(rng: SplittableRandom, n: Int, k: Int): Seq[Int] = {
    require(k <= n, s"cannot pick $k of $n")
    val seen = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (seen.size < k) seen += rng.nextInt(n)
    seen.toSeq
  }

  /** Share of planted pairs that appear among the reported pairs. */
  def recall(truth: Seq[(String, String)], reported: Set[(String, String)]): Double =
    if (truth.isEmpty) 0.0
    else truth.count(reported.contains).toDouble / truth.size

  // ---- ops_mix tables: the schemas of the synthetic test corpus
  // (documents, events), generated from the seed

  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)
  final case class Event(event_id: Long, ts: java.time.LocalDateTime,
      user_id: Long, event_type: String, value: Double, props: String)

  private val Vocab = ("spark window merge table column vector stream value " +
    "data small join filter big group hash customer sort order slow line " +
    "part fast row the agg key query a scan batch").split(" ")
  private val Langs = Seq("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15,
    "fr" -> 0.15, "de" -> 0.14)

  /** Documents over a 30-word vocabulary; one in ten is a planted near
    * duplicate of an earlier original (5% of its words replaced and a `dup`
    * token added). Returns the documents and the planted (copy, source)
    * pairs.
    */
  def documents(seed: Long, n: Int): (Seq[Doc], Seq[(Long, Long)]) = {
    val rng = new SplittableRandom(seed)
    def lang() = {
      var u = rng.nextDouble()
      Langs.find { case (_, p) => u -= p; u < 0 }.getOrElse(Langs.last)._1
    }
    val words = new Array[Array[String]](n)
    val originals = scala.collection.mutable.ArrayBuffer.empty[Int]
    val planted = Seq.newBuilder[(Long, Long)]
    val docs = (0 until n).map { i =>
      val w =
        if (i >= 20 && rng.nextInt(10) == 0) {
          // copies of originals only: every component is a star, so the
          // work of finding components does not depend on the seed
          val src = originals(rng.nextInt(originals.size))
          planted += (i.toLong -> src.toLong)
          val copy = words(src).map(x =>
            if (rng.nextDouble() < 0.05) Vocab(rng.nextInt(Vocab.length)) else x)
          val at = rng.nextInt(copy.length + 1)
          (copy.take(at) :+ "dup") ++ copy.drop(at)
        } else {
          originals += i
          Array.fill(10 + rng.nextInt(91))(Vocab(rng.nextInt(Vocab.length)))
        }
      words(i) = w
      val text = w.mkString(" ")
      Doc(i.toLong, text, lang(), s"src${i % 20}", text.length.toLong)
    }
    (docs, planted.result())
  }

  /** Time-ordered events over January 2024 (30 days) for 1500 users. */
  def events(seed: Long, n: Int): Seq[Event] = {
    val rng = new SplittableRandom(seed)
    val start = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val spanMicros = 30L * 24 * 3600 * 1000000
    val offsets = Array.fill(n)((rng.nextDouble() * spanMicros).toLong).sorted
    val types = Array("signup", "purchase", "view", "click", "error")
    offsets.indices.map { i =>
      val value = math.round(-math.log(1.0 - rng.nextDouble()) * 50.0 * 100) / 100.0
      Event(i.toLong, start.plusNanos(offsets(i) * 1000), rng.nextInt(1500).toLong,
        types(rng.nextInt(types.length)), value, s"""{"k": ${rng.nextInt(100)}}""")
    }
  }
}
