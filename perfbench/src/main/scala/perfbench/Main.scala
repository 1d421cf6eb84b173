package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` builds it and launches:
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <result file>
  *     <recorded outputs dir> <new records dir>
  *
  * It sets up the workload three times (set-up time is the median), runs one
  * untimed warm-up op after the first set-up, then the other two set-ups and
  * a second warm-up op, then ops in a closed loop with one client until
  * `seconds` have passed and at least `MinOps` ops have run.
  * Every op's output is checked; a failed op is counted and gives no
  * sample. The result file holds the metrics, the
  * samples behind them and the run's stamp (nproc, master, seed, load).
  * A traced run alternates untraced and traced ops, reports the per-layer
  * metrics from the traced ones and the tracing overhead from the pair, and
  * writes its spans and listener counters to `trace-<workload>-<seed>.json`
  * beside the work dir.
  */
object Main {
  val Setups = 3
  /** Fewest timed ops in a run. The JVM is still warming while they run
    * (an op keeps getting faster for the first ~10 ops), and the host may
    * slow one of them down, so a run reports the median of at least three.
    */
  val MinOps = 3

  val Layers = Seq("fasta", "kmerindex", "querytable", "prefilter", "align", "m8", "append")

  def main(argv: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, resultS, recordedS, newRecordsS) = argv
    val seed = seedS.toLong
    val seconds = secondsS.toInt
    val traced = traceS == "1"
    val work = Paths.get(workS)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val load0 = loadAvg
    val nproc = Runtime.getRuntime.availableProcessors
    val master = s"local[$nproc]"
    val spark = session(master, work)
    val rec = new Recorder(spark.sparkContext)
    spark.sparkContext.addSparkListener(rec)
    val h = new Harness(spark, rec)
    val sessionS = (h.t0 - jvmStart) / 1000.0
    val wl = Workloads(workload, h, seed)

    // set-up: any failure here ends the run with its cause. The first
    // set-up feeds the warm-up op; the others follow it, so they and the
    // timed ops run on a warmer JVM. The timed ops use the last one.
    def setup(k: Int): (Double, Double) = {
      h.tracing = traced
      val (_, s) = h.span("setup", -k)(wl.setup(work.resolve(s"setup$k")))
      h.tracing = false
      (s, wl.lastBuildS)
    }
    val setups = mutable.ArrayBuffer(setup(1))

    var failed = 0
    var attempted = 0
    val settled = mutable.ArrayBuffer.empty[Double]
    var reference: Option[Output] = None
    val expected = Expected(Paths.get(recordedS), Paths.get(newRecordsS), workload, seed)
    val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val traceSamples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def add(m: mutable.Map[String, mutable.ArrayBuffer[Double]], k: String, v: Double) =
      m.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v

    def runOp(i: Int, tracing: Boolean): Unit = {
      if (i > 0) settled += settle()
      h.tracing = tracing
      val out = work.resolve(s"out$i")
      val gc0 = rec.gcMs
      val before = rec.total()
      val a = h.now
      val result =
        try {
          val ((phases, output), _) = h.span("op", i)(wl.op(out))
          Right((phases, output, check(output, reference, expected, wl.recallFloor)))
        } catch { case e: Throwable => Left(e) }
      val b = h.now
      h.tracing = false
      if (i > 0) attempted += 1
      result match {
        case Left(e) =>
          if (i == 0) throw new RuntimeException("warm-up op failed", e)
          failed += 1
          System.err.println(s"[perfbench] op $i failed: $e")
        case Right((_, _, Some(problem))) =>
          if (i == 0) throw new RuntimeException(s"warm-up op output: $problem")
          failed += 1
          System.err.println(s"[perfbench] op $i output check failed: $problem")
        case Right((phases, output, None)) =>
          if (reference.isEmpty) { reference = Some(output); expected.record(output) }
          if (i > 0) {
            val moved = rec.total() - before
            val sink = if (tracing) traceSamples else samples
            add(sink, "spark.gc_s", (rec.gcMs - gc0) / 1000.0)
            phases.foreach { case (k, v) => add(sink, k, v) }
            add(sink, "op", phases.getOrElse("pass", phases.values.sum))
            add(sink, "recall", output.recall)
            add(sink, "shuffle_mb", moved.shuffleWrite / 1e6)
            add(sink, "spark.jobs", moved.jobs.toDouble)
            add(sink, "spark.driver_gap_s",
              phases.getOrElse("pass", phases.values.sum) - rec.busyMs(a, b) / 1000.0)
            if (tracing) {
              layerFigures(h, i, Layers ++ OpsMix.Queries.map(q => s"mix.$q"))
                .foreach { case (k, v) => add(sink, k, v) }
              h.span("diag", i)(wl.layerCounts())._1.foreach { case (k, v) => add(sink, k, v) }
            }
          }
      }
      Files2.delete(out)
      spark.catalog.clearCache()
    }

    val warm0 = h.now
    runOp(0, tracing = false) // warm-up: the reference output, untimed
    (2 to Setups).foreach(k => setups += setup(k))
    runOp(0, tracing = false) // the second warm-up, on the last set-up
    val setupLayers = if (traced) layerFigures(h, -Setups, Seq("kmerindex")) else Map.empty
    val warmupS = (h.now - warm0) / 1000.0 - setups.drop(1).map(_._1).sum
    val start = h.now
    var i = 1
    // a traced run times untraced, traced, untraced (and so on): the JVM is
    // still warming, so the traced op is compared with the mean of its
    // neighbours. No op starts after two minutes of uptime: a run must end
    // within 180 s
    while ((h.now - start < seconds * 1000L || attempted < MinOps) &&
        h.now - jvmStart < 120000L) {
      runOp(i, tracing = traced && i % 2 == 0)
      i += 1
    }
    val timedS = (h.now - start) / 1000.0
    val load1 = loadAvg

    def med(m: mutable.Map[String, mutable.ArrayBuffer[Double]], k: String) =
      Stats.median(m.getOrElse(k, mutable.ArrayBuffer.empty[Double]).toSeq)
    val endToEnd = Map(
      "setup_s" -> Stats.median(setups.map(_._1).toSeq),
      "search_s" -> med(samples, "search"),
      "append_s" -> med(samples, "append"),
      "mix_pass_s" -> med(samples, "op"),
      "recall" -> med(samples, "recall"),
      "shuffle_mb" -> med(samples, "shuffle_mb"))
    val perLayer: Map[String, Double] =
      if (!traced) Map.empty
      else {
        val names = (Layers.flatMap(l => Seq("s", "jobs", "tasks", "task_s",
          "shuffle_write_mb", "spill_mb").map(x => s"$l.$x")) ++ LayerCounts ++
          Seq("spark.driver_gap_s", "spark.gc_s", "spark.jobs") ++
          OpsMix.Queries.flatMap(q => Seq("s", "jobs", "shuffle_mb").map(x => s"mix.$q.$x")))
        val fromOps = names.map(n => n -> med(traceSamples, n)).toMap
        def mean(k: String) = samples.get(k).map(v => v.sum / v.size).getOrElse(Double.NaN)
        val overhead = med(traceSamples, "op") - mean("op")
        (fromOps ++ setupLayers).map { case (k, v) => k -> (if (v.isNaN) 0.0 else v) } ++
          Map("trace.overhead_s" -> overhead,
            "trace.overhead_frac" -> overhead / mean("op"),
            "trace.search_overhead_s" -> (med(traceSamples, "search") - mean("search")))
      }
    val correct = failed == 0 && attempted > 0
    val units = Units.all
    val metrics = (if (traced) perLayer else endToEnd).map { case (k, v) =>
      k -> Map("value" -> v, "unit" -> units.getOrElse(k, "count"))
    }
    val stamp = Map("workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "nproc" -> nproc, "master" -> master,
      "load1_start" -> load0, "load1_end" -> load1)
    val detail = Map(
      "stamp" -> stamp,
      "samples" -> samples.map { case (k, v) => k -> v.toSeq },
      "trace_samples" -> traceSamples.map { case (k, v) => k -> v.toSeq },
      "setup_s" -> setups.map(_._1), "db_build_s" -> setups.map(_._2),
      "run_s" -> Map("jvm_to_session" -> sessionS, "setups" -> setups.map(_._1).sum,
        "warmup" -> warmupS, "timed" -> timedS),
      "settle_s" -> settled.toSeq,
      "failed_frac" -> (if (attempted == 0) 0.0 else failed.toDouble / attempted),
      "reference" -> reference.map(r => Map("rows" -> r.rows, "digest" -> r.digest,
        "recall" -> r.recall, "detail" -> r.detail)))
    if (traced) Files2.write(work.getParent.resolve(s"trace-$workload-$seed.json"), Json(Map(
      "stamp" -> stamp, "spans" -> h.spans,
      "counters" -> rec.snapshot())))
    Files2.write(Paths.get(resultS), Json(Map("correct" -> correct,
      "attempted" -> attempted, "failed" -> failed, "metrics" -> metrics,
      "detail" -> detail)))
    spark.stop()
  }

  val LayerCounts = Seq("fasta.seqs", "fasta.mres_per_s", "kmerindex.kmers_in",
    "kmerindex.unique", "kmerindex.bytes_written", "querytable.rows",
    "querytable.rows_per_res", "prefilter.index_rows_read", "prefilter.hit_rows",
    "prefilter.pairs_hit", "prefilter.pairs_gated", "prefilter.gate_pass",
    "align.pairs", "align.alns", "align.yield", "m8.rows", "m8.bytes",
    "append.bytes_written")

  /** Per-layer figures of op `op`; mix layers report time, jobs, shuffle. */
  private def layerFigures(h: Harness, op: Int, layers: Seq[String]): Map[String, Double] = {
    val walls = h.spans.filter(_.op == op).groupBy(_.name)
      .map { case (n, ss) => n -> ss.map(s => (s.end - s.start) / 1000.0).sum }
    val seen = h.rec.snapshot()
    layers.filter(l => seen.contains(s"$l#$op")).flatMap { l =>
      val c = seen(s"$l#$op")
      val wall = walls.getOrElse(l, 0.0)
      if (l.startsWith("mix."))
        Seq(s"$l.s" -> wall, s"$l.jobs" -> c.jobs.toDouble, s"$l.shuffle_mb" -> c.shuffleWrite / 1e6)
      else
        Seq(s"$l.s" -> wall, s"$l.jobs" -> c.jobs.toDouble, s"$l.tasks" -> c.tasks.toDouble,
          s"$l.task_s" -> c.taskMs / 1000.0, s"$l.shuffle_write_mb" -> c.shuffleWrite / 1e6,
          s"$l.spill_mb" -> c.spill / 1e6)
    }.toMap
  }

  /** None when the output is right, else what is wrong with it. */
  private def check(o: Output, ref: Option[Output], expected: Expected,
      floor: Double): Option[String] =
    if (o.recall < floor) Some(f"recall ${o.recall}%.4f below the floor $floor")
    else ref.orElse(expected.recorded) match {
      case Some(r) if r.rows != o.rows || r.digest != o.digest =>
        Some(s"output ${o.rows} rows / ${o.digest} differs from ${r.rows} rows / ${r.digest}")
      case Some(r) if r.detail != o.detail && r.detail.keys.exists(_.startsWith("rows.")) =>
        Some(s"per-query rows ${o.detail} differ from ${r.detail}")
      case _ => None
    }

  /** Before a timed op: a full GC, then wait (at most 5 s) until the JIT
    * compiler has been idle for 300 ms, so that neither work left over from
    * the previous op lands inside the next one. Returns the seconds waited.
    */
  private def settle(): Double = {
    val t0 = System.nanoTime()
    System.gc()
    val jit = ManagementFactory.getCompilationMXBean
    var last = jit.getTotalCompilationTime
    var quiet = 0
    while (quiet < 3 && System.nanoTime() - t0 < 5e9) {
      Thread.sleep(100)
      val now = jit.getTotalCompilationTime
      quiet = if (now == last) quiet + 1 else 0
      last = now
    }
    (System.nanoTime() - t0) / 1e9
  }

  def loadAvg: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def session(master: String, work: Path): SparkSession = {
    val nproc = master.stripPrefix("local[").stripSuffix("]")
    val s = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Outputs recorded per workload and seed: the row count and digest, and
  * for ops_mix each query's row count. `recorded` holds the records kept
  * with the benchmark's sources; an op's output must match them whatever
  * the program's code. A seed without one is recorded by its first run in
  * `fresh`, and later runs on that seed are checked against it.
  */
final case class Expected(recordedDir: Path, fresh: Path, workload: String, seed: Long) {
  private val name = s"$workload-$seed.txt"

  val recorded: Option[Output] =
    Seq(recordedDir.resolve(name), fresh.resolve(name)).find(Files.exists(_)).map { file =>
      val lines = new String(Files.readAllBytes(file), "UTF-8").split("\n")
      val Array(rows, digest) = lines.head.split(" ")
      val detail = lines.tail.filter(_.nonEmpty).map { l =>
        val Array(k, v) = l.split(" ")
        k -> (v.toLong: Any)
      }.toMap
      Output(rows.toLong, digest, Double.NaN, detail)
    }

  def record(o: Output): Unit = if (recorded.isEmpty) {
    val rows = o.detail.collect { case (k, v: Long) if k.startsWith("rows.") => s"$k $v" }
    Files2.write(fresh.resolve(name), (s"${o.rows} ${o.digest}" +: rows.toSeq.sorted).mkString("\n") + "\n")
  }
}

object Units {
  val all: Map[String, String] = Map(
    "setup_s" -> "s", "search_s" -> "s", "append_s" -> "s",
    "mix_pass_s" -> "s", "recall" -> "ratio", "shuffle_mb" -> "MB",
    "fasta.mres_per_s" -> "Mres/s",
    "kmerindex.bytes_written" -> "bytes", "m8.bytes" -> "bytes",
    "append.bytes_written" -> "bytes", "querytable.rows_per_res" -> "ratio",
    "prefilter.gate_pass" -> "ratio", "align.yield" -> "ratio",
    "trace.overhead_s" -> "s", "trace.overhead_frac" -> "ratio",
    "trace.search_overhead_s" -> "s") ++
    Main.Layers.flatMap(l => Seq(s"$l.s" -> "s", s"$l.task_s" -> "s",
      s"$l.shuffle_write_mb" -> "MB", s"$l.spill_mb" -> "MB")) ++
    Seq("spark.driver_gap_s" -> "s", "spark.gc_s" -> "s") ++
    OpsMix.Queries.flatMap(q => Seq(s"mix.$q.s" -> "s", s"mix.$q.shuffle_mb" -> "MB"))
}
