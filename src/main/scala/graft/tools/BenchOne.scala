package graft.tools

import graft.Registry

/** Dev tool: time selected queries in isolation (same session config as
  * Bench). `runMain graft.tools.BenchOne [sfDir] [name ...]`; each query
  * runs once untimed (the JVM's JIT warm-up), then is timed
  * `SPARK_GRAFT_TRIALS` times (default 2). It reports every trial and the
  * median of the later half, so a plan change can be judged without
  * running the whole suite.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.tail.toSeq else Seq("q1_agg")
    val trials = math.max(1, sys.env.getOrElse("SPARK_GRAFT_TRIALS", "2").toInt)
    val spark = DevSession.local()
    try { spark.read.parquet(s"$sfDir/documents.parquet").count() }
    catch { case e: Throwable =>
      System.err.println(s"[benchone] warmup FAILED: ${e.getMessage}") }
    val byName = Registry.byName
    names.foreach { n =>
      byName.get(n) match {
        case Some(q) =>
          def run(): (Double, Long) = {
            val t0 = System.nanoTime()
            val rows = q.run(spark, sfDir).count()
            val dt = (System.nanoTime() - t0) / 1e9
            // release caller-owned caches so trial N+1 doesn't pay trial
            // N's pinned shingle/dedup frames (untimed). KEEP_CACHE=1
            // reproduces the pre-round-7 flattered measurement mode (warm
            // caller-owned caches) for adjudicating cache-hygiene deltas.
            if (!sys.env.contains("SPARK_GRAFT_KEEP_CACHE"))
              spark.catalog.clearCache()
            (dt, rows)
          }
          run()
          val ts = (1 to trials).map(_ => run())
          val late = ts.drop(trials / 2).map(_._1).sorted
          val median = (late((late.length - 1) / 2) + late(late.length / 2)) / 2
          println(s"[benchone] $n: ${ts.map { case (dt, rows) =>
            f"$dt%.2f (rows=$rows)" }.mkString(", ")}; " +
            f"late-half median $median%.2f")
        case None => println(s"[benchone] unknown query: $n")
      }
    }
    spark.stop()
  }
}
