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
  * Scale posture: the groupBy shuffles once on `kmer`;
  * `repartitionByRange(kmer)` + `sortWithinPartitions` makes every output
  * file a sorted k-mer run, so Parquet's DELTA_BINARY_PACKED encoding is the
  * moral equivalent of the reference's 15-bit delta varint stream
  * (`createkmertable.cpp:229-245`), and a downstream sort-merge join on
  * `kmer` needs no re-sort.
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
    representatives(KmerCodec.explodeKmers(sequences, "seq", k, alphabet)
      .withColumnRenamed("kmerPos", "tpos"))

  /** The A1 rule over candidate rows ([dbId,] kmer, seqId, seqLen, tpos):
    * one row per ([dbId,] kmer). A single shuffle: ordering (seqLen,
    * -seqId, -tpos) makes max_by pick the longest sequence, ties to the
    * smallest id, and WITHIN that sequence the smallest position (-pos max
    * == pos min) — same result as a two-level (per-seq min pos, then argmax)
    * aggregation. The max is associative, so re-reducing stored winners
    * with a new batch's winners equals a full rebuild.
    */
  private[bio] def representatives(kmers: DataFrame): DataFrame = {
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

  /** Persist as the on-disk index layout (S5): range-partitioned by kmer,
    * sorted within partitions => globally sorted file set.
    */
  def write(kmers: DataFrame, path: String): Unit =
    kmers
      .repartitionByRange(WritePartitions, col("kmer"))
      .sortWithinPartitions(col("kmer"))
      .write.mode("overwrite").parquet(path)
}
