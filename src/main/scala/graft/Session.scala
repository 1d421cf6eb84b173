package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of the program's mains (Bench, Verify, the
  * tools): every main runs the plans the bench times, instead of each
  * carrying a hand-copied config that drifts.
  *
  * The master is the caller's deployment setting; `SPARK_GRAFT_CPUS`
  * (default 4) sizes the default `local[n]` one. Shuffle partitions follow
  * the master actually built (its default parallelism), so a `local[*]`
  * or cluster master gets one shuffle task per core. Config set here:
  *   - UI off, AQE on, session time zone UTC (the zone Verify's dumps are
  *     checked in; build.sbt passes the same to every forked run);
  *   - `nanosAsLong`: older `events.parquet` carry TIMESTAMP(NANOS), read
  *     as long and normalized back to timestamp in `Tables.events`;
  *   - a 5000-entry codegen class cache: the suite generates well over the
  *     default 100 unique classes, so the cache thrashes and Bench's
  *     second pass recompiles every stage from scratch;
  *   - AQE's partition-coalescing FLOOR
  *     (`spark.sql.adaptive.coalescePartitions.minPartitionSize`, Spark
  *     default 1MB) at 64k, or `SPARK_GRAFT_MIN_PARTITION_SIZE`:
  *     columnar-compressed shuffle bytes underestimate CPU-bound row work
  *     by orders of magnitude (a 1.2 MB hamming-verify stage is ~1M
  *     candidate pairs), and the 1MB floor serialized such stages onto
  *     one core. 64k keeps them wide; at production scale stage bytes
  *     dwarf either floor, so the setting is inert there (measured r17:
  *     mm_phash_pairs 3.6→2.0 s, dedup_ngram_jaccard 4.2→2.5 s, graph_bfs
  *     9.7→5.1 s). Sessions built elsewhere (a `SparkEntry` consumer's,
  *     the test suite's) keep Spark's 1MB.
  */
object Session {
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  private val MinPartitionSizeKey =
    "spark.sql.adaptive.coalescePartitions.minPartitionSize"
  private def floor: String =
    sys.env.getOrElse("SPARK_GRAFT_MIN_PARTITION_SIZE", "64k")

  def apply(master: String = s"local[$cpus]"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config(MinPartitionSizeKey, floor)
      .getOrCreate()
    spark.conf.set("spark.sql.shuffle.partitions",
      spark.sparkContext.defaultParallelism)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
