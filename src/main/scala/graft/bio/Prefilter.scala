package graft.bio

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Prefilter — the `comparekmertables` stage
  * (`src/sra/comparekmertables.cpp:346-650`).
  *
  * Relational skeleton: query k-mer extraction (F1, + F2 similar-k-mer
  * expansion when enabled) -> J1 equi-join against the unique-k-mer index ->
  * A2 per-(target,query) match-count gate (strict `>` at
  * `comparekmertables.cpp:60`) -> hit detail rows.
  *
  * The reference's two-pointer merge join over delta-decoded streams
  * (`:473-582`) deep-copies the whole query table per target-DB thread
  * (`:387-388`) — i.e. it IS a broadcast join, and so is ours: queries are
  * a batch, targets are petabytes. AQE handles skewed popular k-mers.
  *
  * Strengthened vs reference (§2.12.1): the grouped writer's dropped-last-row
  * quirk is a bug; we keep every row of every qualifying group.
  */
object Prefilter {

  val RequiredKmerMatches = 2 // LocalParameters.h:144, strict >

  /** qkmers(queryId, kmerPos, kmer) x index([dbId,] kmer, seqId, tpos) ->
    * prefilter([dbId,] targetId, queryId, kmerPos, kmer, diag): the J1 join,
    * the A2 per-pair match-count gate, and a left-semi that keeps the detail
    * rows of qualifying pairs (P9 compaction). Attaches the u32-wrapping
    * diagonal `diag = kmerPosInQuery - tpos` (C10, `blockalign.cpp:289` —
    * Int arithmetic wraps exactly like the reference's u32). An index that
    * carries `dbId` (one unique-k-mer index per DB, side by side) keys the
    * pairs on it too, so each DB is gated independently.
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
    val hits = broadcast(queryKmers)
      .join(indexWithPos.select(db ++ Seq(col("kmer"),
        col("seqId").as("targetId"), col("tpos")): _*), Seq("kmer"))
      .select(db ++ Seq(col("targetId"), col("queryId"), col("kmerPos"),
        col("kmer"), (col("kmerPos") - col("tpos")).cast("int").as("diag")): _*)
    val pairKey = db ++ Seq(col("targetId"), col("queryId"))
    val pairs = hits
      .groupBy(pairKey: _*)
      .agg(count(lit(1)).as("nMatches"))
      .filter(col("nMatches") > requiredKmerMatches)
      .select(pairKey: _*)
    hits.join(pairs, pairs.columns.toSeq, "left_semi")
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
