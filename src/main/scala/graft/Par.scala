package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scale-adaptive scan widening (optimization guide §2: derive
  * partitioning from the input, never a constant tuned for one scale).
  *
  * CPU-heavy per-row operators (shingle explosion, hash embedding,
  * per-vector quantization, perceptual hashing) inherit the SCAN's
  * partitioning for their map-side work. A production corpus arrives as
  * thousands of splits, so that work is already wide; a small corpus in
  * one parquet file (one row group — the local/test shape) arrives as ONE
  * partition and serializes the whole map side on a single core while the
  * rest of the machine idles. [[widen]] round-robins such an input up to
  * the session's parallelism — and is a provable NO-OP (no added
  * exchange) whenever the input is already at least that wide, so at
  * scale it never inserts a shuffle.
  */
object Par {
  def widen(df: DataFrame): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    // getNumPartitions plans the frame but launches no job
    if (df.rdd.getNumPartitions >= n) df else df.repartition(n)
  }

  /** Run INDEPENDENT Spark actions concurrently from the driver (guide
    * §2.6: actions are only sequential because driver code calls them
    * sequentially — overlapping lets the next job's tasks back-fill
    * executors freed by the current job's tail). A persisted index's
    * outputs overlap only while they stage (`sources.IndexCommit`); its
    * publish and pin run afterwards on the driver, in order.
    *
    * Each task's thread tags its jobs (`SparkContext.addJobTag`; the job
    * group the caller set is inherited untouched). The first failure
    * cancels the jobs the other tasks are running, so a sibling write
    * stops instead of committing next to a failed one; a job a sibling
    * starts after that cancel is not stopped. All tasks are joined before
    * return, and the first error is thrown with every later one attached
    * through `addSuppressed`.
    */
  def jobs(tasks: (() => Unit)*): Unit = {
    if (tasks.sizeIs <= 1) { tasks.foreach(_.apply()); return }
    val sc = SparkSession.active.sparkContext
    val tags = tasks.indices.map(i => s"graft-par-${java.util.UUID.randomUUID()}-$i")
    val first = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val later = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = tasks.zip(tags).map { case (t, tag) =>
      val th = new Thread(() => {
        sc.addJobTag(tag)
        try t() catch { case e: Throwable =>
          if (first.compareAndSet(null, e)) tags.filter(_ != tag).foreach(sc.cancelJobsWithTag)
          else later.add(e)
        }
      })
      th.setDaemon(true)
      th.start()
      th
    }
    threads.foreach(_.join())
    val e = first.get()
    if (e != null) {
      later.forEach(s => if (s ne e) e.addSuppressed(s))
      throw e
    }
  }
}
