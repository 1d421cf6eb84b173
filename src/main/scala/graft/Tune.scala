package graft

import org.apache.spark.sql.SparkSession

/** Engine session defaults (documented, env-overridable) applied on the
  * ENGINE PATH — not only in the Bench/Verify harness mains — so any
  * `SparkEntry.queries` consumer runs the same plans the bench measures.
  *
  * The one tunable today is AQE's partition-coalescing FLOOR
  * (`spark.sql.adaptive.coalescePartitions.minPartitionSize`, Spark
  * default 1m): columnar-compressed shuffle bytes underestimate CPU-bound
  * row work by orders of magnitude (a 1.2 MB hamming-verify stage is ~1M
  * candidate pairs), and the byte floor serialized such stages onto one
  * core. 64k keeps them wide; at production scale stage bytes dwarf
  * either floor, so the setting is inert there (measured r17:
  * mm_phash_pairs 3.6→2.0 s, dedup_ngram_jaccard 4.2→2.5 s, graph_bfs
  * 9.7→5.1 s).
  *
  * Applied at most once per session, from [[Tables.t]] (the funnel every
  * declared query's table load passes through), and
  * logged (key, old value, new value) when it overrides. A value the
  * session ALREADY carries beyond Spark's default is respected — an
  * operator who tuned the floor deliberately keeps their setting. An
  * explicit `1MB` cannot be told apart from the default and IS overridden;
  * `SPARK_GRAFT_TUNE=off` keeps it (and disables the hook entirely).
  * `SPARK_GRAFT_MIN_PARTITION_SIZE` overrides the engine default.
  */
object Tune {
  private[graft] val MinPartitionSizeKey =
    "spark.sql.adaptive.coalescePartitions.minPartitionSize"
  private val SparkDefault = "1MB"
  private[graft] def floor: String =
    sys.env.getOrElse("SPARK_GRAFT_MIN_PARTITION_SIZE", "64k")

  private val tuned = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  def session(spark: SparkSession): Unit = {
    if (sys.env.get("SPARK_GRAFT_TUNE").contains("off")) return
    if (!tuned.add(spark)) return
    val cur = spark.conf.getOption(MinPartitionSizeKey)
    if (cur.forall(_.equalsIgnoreCase(SparkDefault))) {
      spark.conf.set(MinPartitionSizeKey, floor)
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"$MinPartitionSizeKey: ${cur.getOrElse(SparkDefault)} -> $floor")
    }
  }
}
