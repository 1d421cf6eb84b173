package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator query.
  *
  * @param name   stable key; appears in CORRECTNESS/BENCH json
  * @param run    (session, sfDir) => result. Must be deterministic: every
  *               query ends in a total ORDER BY so the driver's hash compare
  *               is row-order-proof.
  * @param oracle equivalent DuckDB SQL over the same parquet tables (table
  *               names = file basenames). None => driver does rows-only check.
  * @param bench  include in the per-round Bench run.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    bench: Boolean = true)

/** Global registry of all operator queries; SparkEntry projects it into the
  * driver's `queries` / `oracleSql` maps.
  */
object Registry {
  def all: Seq[Q] =
    graft.relational.RelQueries.all ++
      graft.ops.DedupQueries.all ++
      graft.ops.TextQueries.all ++
      graft.ops.TrainQueries.all ++
      graft.ops.SimilarityQueries.all ++
      graft.bio.BioQueries.all ++
      graft.ops.MultimodalQueries.all ++
      graft.sources.SourceQueries.all

  def byName: Map[String, Q] = all.map(q => q.name -> q).toMap
}

/** Parquet table loaders for the driver corpus (TESTDATA.md). */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = t(s, d, "region")
  /** The driver's events.parquet ts column has changed encoding across
    * rounds: TIMESTAMP(NANOS) through round 9 (readable only as INT64 via
    * the nanosAsLong legacy flag, which Verify/Bench still set — harmless
    * now), plain timestamp[us] since round 10 (reads as TIMESTAMP_NTZ).
    * Normalize the long encoding here; NTZ passes through — batch
    * operators and the DuckDB oracle agree on naive wall-clock semantics,
    * and the STREAMING ingest paths (which require TIMESTAMP for
    * watermarks) normalize NTZ themselves (EventsStream.tsAsEventTime).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    val raw = t(s, d, "events")
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    else raw
  }
  /** documents/embeddings load WIDENED ([[Par.widen]] — no-op at real
    * split counts): nearly every consumer runs CPU-bound per-row work
    * (tokenize/explode, hash features, vector math) straight off the
    * scan, and the single-file test corpus would otherwise serialize all
    * of it on one core. events/lineitem load raw: their consumers are
    * shuffle-bound aggregations, not scan-side CPU.
    */
  def documents(s: SparkSession, d: String): DataFrame =
    Par.widen(t(s, d, "documents"))
  def embeddings(s: SparkSession, d: String): DataFrame =
    Par.widen(t(s, d, "embeddings"))
}
