package graft.bio

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Prefilter — the `comparekmertables` stage
  * (`src/sra/comparekmertables.cpp:346-650`).
  *
  * Relational skeleton: query k-mer extraction (F1, + F2 similar-k-mer
  * expansion when enabled) -> J1 equi-join against the unique-k-mer index ->
  * one grouping per (target,query) pair that both collects the pair's hits
  * and gates it (A2, strict `>` at `comparekmertables.cpp:60`). That is the
  * reference's own shape: one pass over each sorted (target, query) run
  * counts it and writes its hits (A2 + S7, `:612-641`).
  *
  * The reference's two-pointer merge join over delta-decoded streams
  * (`:473-582`) deep-copies the whole query table per target-DB thread
  * (`:387-388`) — i.e. it IS a broadcast join, and so is ours: queries are
  * a batch, targets are petabytes. AQE handles skewed popular k-mers.
  *
  * Strengthened vs reference (§2.12.1): the grouped writer's dropped-last-row
  * quirk is a bug; we keep every hit of every qualifying group.
  */
object Prefilter {

  val RequiredKmerMatches = 2 // LocalParameters.h:144, strict >

  /** qkmers(queryId, kmerPos, kmer) x index([dbId,] kmer, seqId, tpos) ->
    * prefilter([dbId,] targetId, queryId, hits array<struct<kmerPos, kmer,
    * diag>>): the J1 join, then ONE aggregation per pair that collects its
    * hits, then the A2 gate as a size filter on the group (P9 compaction:
    * only qualifying pairs leave the prefilter, and nothing re-reads the
    * join). Each hit carries the u32-wrapping diagonal
    * `diag = kmerPosInQuery - tpos` (C10, `blockalign.cpp:289` — Int
    * arithmetic wraps exactly like the reference's u32). The order of the
    * hits inside a group is unspecified: [[Aligner.sortHits]] orders them.
    * An index that carries `dbId` (one unique-k-mer index per DB, side by
    * side) keys the pairs on it too, so each DB is gated independently.
    *
    * The query k-mer table is always broadcast-hinted: it comes from an
    * RDD-backed flatMap (no catalog stats), so Catalyst would otherwise
    * assume it huge and pick SMJ. The reference's design premise is the
    * same — the query table must fit in RAM/3 per thread
    * (comparekmertables.cpp:371-377).
    */
  def runWithDiag(queryKmers: DataFrame, indexWithPos: DataFrame,
      requiredKmerMatches: Int = RequiredKmerMatches): DataFrame = {
    val db = if (indexWithPos.columns.contains("dbId")) Seq(col("dbId")) else Nil
    broadcast(queryKmers)
      .join(indexWithPos.select(db ++ Seq(col("kmer"),
        col("seqId").as("targetId"), col("tpos")): _*), Seq("kmer"))
      .groupBy(db ++ Seq(col("targetId"), col("queryId")): _*)
      .agg(collect_list(struct(col("kmerPos"), col("kmer"),
        (col("kmerPos") - col("tpos")).cast("int").as("diag"))).as("hits"))
      .filter(size(col("hits")) > requiredKmerMatches)
  }

  /** Query-side k-mer table (`createQueryTable`,
    * `comparekmertables.cpp:126-302`), exact-matching path (F2 expansion is
    * layered on separately).
    */
  def queryKmers(sequences: DataFrame, k: Int = KmerIndex.DefaultK,
      alphabet: String = Matrices.KmerAlphabet): DataFrame =
    KmerCodec.explodeKmers(sequences, "seq", k, alphabet)
      .select(col("seqId").as("queryId"), col("kmerPos"), col("kmer"))
}
