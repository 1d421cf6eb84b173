package graft.bio

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Target k-mer index build — the `createkmertable` stage
  * (`src/sra/createkmertable.cpp:43-245`).
  *
  * Relational skeleton: F1 extract -> P4 X-drop (inside the encode) ->
  * A1 argmax dedup -> O1 range-partition + sort -> Parquet. One row per
  * UNIQUE k-mer; the representative sequence is the longest one, ties to the
  * smallest id (sort comparator `createkmertable.cpp:142-162`, dedup loop
  * `:171-190` — quirk §2.12.2, replicated because it changes result content).
  *
  * Scale posture: the persisted write ([[write]]) is the reference's one
  * global sort followed by an adjacent-run dedup. Candidate rows cross ONE
  * range exchange on `kmer`; range partitioning already clusters every k-mer
  * in one partition, so the A1 reduction and the within-file sort run in the
  * stage that reads the exchange, with no second shuffle. Every
  * output file is a sorted k-mer run, so Parquet's DELTA_BINARY_PACKED
  * encoding is the moral equivalent of the reference's 15-bit delta varint
  * stream (`createkmertable.cpp:229-245`), and a downstream sort-merge join on
  * `kmer` needs no re-sort. The trade-off: the exchange has no map-side
  * combine, so a k-mer repeated across many sequences ships every occurrence.
  * The in-memory [[buildWithPos]] keeps a hash-partitioned aggregation
  * (partial, then final): its output is not laid out in ranges.
  */
object KmerIndex {

  val DefaultK = 9 // LocalParameters.h:148

  /** Range partitions (= files) of the persisted index layout. */
  val WritePartitions = 32

  /** sequences(seqId, seq, seqLen[, dbId]) -> kmers([dbId,] kmer, seqId,
    * seqLen, tpos), one row per unique k-mer (per `dbId` when the input
    * carries one — each DB keeps its own independent dedup). `tpos` = the
    * representative sequence's FIRST occurrence position of the k-mer. This
    * collapses the align stage's J3 re-lookup (`blockalign.cpp:268-298`
    * lower_bound = first (kmer,pos)) into the prefilter join: diag =
    * kmerPosInQuery - tpos computes right at join time, and the align stage
    * never has to re-extract target k-mers. Costs +4 bytes per unique k-mer
    * in the index — a win at 100 TB since it deletes a whole per-pair
    * O(L log L) re-extraction.
    */
  def buildWithPos(sequences: DataFrame, k: Int = DefaultK,
      alphabet: String = Matrices.KmerAlphabet): DataFrame =
    representatives(candidates(sequences, k, alphabet))

  /** sequences(seqId, seq, seqLen[, dbId]) -> every k-mer occurrence as a
    * candidate row ([dbId,] kmer, seqId, seqLen, tpos), before the A1
    * reduction. Projects only those columns, so a shuffle of the candidates
    * carries no `header`/`name`/`seq`.
    */
  def candidates(sequences: DataFrame, k: Int = DefaultK,
      alphabet: String = Matrices.KmerAlphabet): DataFrame = {
    val keys = if (sequences.columns.contains("dbId")) Seq(col("dbId")) else Nil
    KmerCodec.explodeKmers(sequences, "seq", k, alphabet)
      .select(keys ++ Seq(col("kmer"), col("seqId"), col("seqLen"),
        col("kmerPos").as("tpos")): _*)
  }

  /** The A1 rule over candidate rows ([dbId,] kmer, seqId, seqLen, tpos):
    * one row per ([dbId,] kmer). One aggregation: ordering (seqLen,
    * -seqId, -tpos) makes max_by pick the longest sequence, ties to the
    * smallest id, and WITHIN that sequence the smallest position (-pos max
    * == pos min) — same result as a two-level (per-seq min pos, then argmax)
    * aggregation. The max is associative, so reducing stored winners
    * together with a new batch's raw candidates equals a full rebuild.
    */
  private def representatives(kmers: DataFrame): DataFrame = {
    val keys = (if (kmers.columns.contains("dbId")) Seq("dbId") else Nil) :+ "kmer"
    kmers
      .groupBy(keys.map(col): _*)
      .agg(max_by(
        struct(col("seqId"), col("seqLen"), col("tpos")),
        struct(col("seqLen"), (-col("seqId")).as("negId"),
          (-col("tpos")).as("negPos"))).as("rep"))
      .select(keys.map(col) ++ Seq(col("rep.seqId").as("seqId"),
        col("rep.seqLen").as("seqLen"), col("rep.tpos").as("tpos")): _*)
  }

  /** Reduce candidate rows ([dbId,] kmer, seqId, seqLen, tpos) — raw
    * [[candidates]], stored winners, or a union of both — to the A1 winners
    * and persist them as the on-disk index layout (S5): [[WritePartitions]]
    * range partitions by kmer, sorted within partitions => a globally sorted
    * file set. One exchange: the range partitioning satisfies the
    * aggregation's clustering, so [[representatives]] runs in the same stage.
    */
  def write(candidates: DataFrame, path: String): Unit =
    representatives(candidates.repartitionByRange(WritePartitions, col("kmer")))
      .sortWithinPartitions(col("kmer"))
      .write.mode("overwrite").parquet(path)
}
