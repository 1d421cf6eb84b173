package graft.sources

import java.io.File
import java.net.URI
import java.util.concurrent.ConcurrentHashMap

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import graft.TestSpark
import graft.bio.PetaSearch
import graft.ops.{Dedup, Similarity, TextAnalysis}
import graft.relational.Scd2
import graft.streaming.{DedupStream, EventsStream}
import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A local filesystem under the `crash:` scheme that keeps, for every
  * commit point under a watched root, a copy of the root as it stands just
  * before that point: the state a process killed there leaves. A commit
  * point is a rename or delete that touches a live path, one under the
  * root with no component that starts with `_` or `.` (Spark's
  * `_temporary`, `.spark-staging-*`) or holds `__` (stage and old
  * siblings).
  */
class CrashFS extends RawLocalFileSystem {
  override def getUri: URI = URI.create("crash:///")
  override def getScheme: String = "crash"
  override def rename(src: Path, dst: Path): Boolean = {
    CrashFS.point(src, dst)
    super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    CrashFS.point(p)
    super.delete(p, recursive)
  }
  // a raw local status loads its permissions through java.io.File, which
  // rejects this scheme (Hadoop's recursive `listFiles` asks for them);
  // plain statuses carry the default permissions instead
  override def listStatus(p: Path): Array[FileStatus] =
    super.listStatus(p).map(s => new FileStatus(s.getLen, s.isDirectory,
      s.getReplication, s.getBlockSize, s.getModificationTime, s.getPath))
}

object CrashFS {
  private final class Watch(val copies: File) { var points = 0 }
  private val watches = new ConcurrentHashMap[String, Watch]()

  private def live(root: String, p: Path): Boolean = {
    val s = p.toUri.getPath
    s.startsWith(root + "/") &&
      s.substring(root.length + 1).split('/').forall(c =>
        !c.startsWith("_") && !c.startsWith(".") && !c.contains("__"))
  }

  def point(ps: Path*): Unit = watches.forEach { (root, w) =>
    if (ps.exists(live(root, _))) w.synchronized {
      w.points += 1
      copyTree(new File(root), new File(w.copies, w.points.toString))
    }
  }

  /** Run `f` keeping the crash state of each commit point under `dir` in
    * `copies/<n>`; returns the number of points.
    */
  def watched(dir: String, copies: File)(f: => Unit): Int = {
    val root = new Path(dir).toUri.getPath
    val w = new Watch(copies)
    watches.put(root, w)
    try { f; w.points } finally watches.remove(root)
  }

  /** Copy a directory tree, skipping Spark's in-flight temporaries (a
    * crash leaves nothing there a reader or a rerun looks at).
    */
  def copyTree(from: File, to: File): Unit = {
    to.mkdirs()
    Option(from.list()).toSeq.flatten
      .filterNot(n => n.startsWith(".") || n.startsWith("_temporary"))
      .foreach { n =>
        val f = new File(from, n)
        try {
          if (f.isDirectory) copyTree(f, new File(to, n))
          else java.nio.file.Files.copy(f.toPath, new File(to, n).toPath)
        } catch { case _: java.nio.file.NoSuchFileException => }
      }
  }
}

/** Crash contracts of [[IndexCommit]]: a crash at every commit point of
  * every operation that writes a persisted index. An operation with a
  * replay contract (Scd2 merge and init, every stream sink batch, every
  * rebuild) is rerun from each crash state and must leave the state a
  * clean run leaves. An append without a batchId is checked for its
  * ordering invariant at every point instead, after the recovery a next
  * writer runs.
  */
class IndexCommitSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.sparkContext.hadoopConfiguration.set("fs.crash.impl", classOf[CrashFS].getName)
    s
  }
  private lazy val conf = spark.sparkContext.hadoopConfiguration
  import TestSpark.spark.implicits._

  private def fresh(name: String): String = {
    spark // registers the crash: scheme
    "crash://" + java.nio.file.Files.createTempDirectory(name).toString
  }

  private def local(dir: String) = new File(new Path(dir).toUri.getPath)

  /** A table's rows, read on the driver: each record with the partition
    * directories above it, sorted.
    */
  private def rows(dir: String): Seq[String] = {
    val fs = new Path(dir).getFileSystem(conf)
    def walk(p: Path, parts: String): Seq[String] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (st.isDirectory) walk(st.getPath, s"$parts$n/")
        else {
          val r = org.apache.parquet.hadoop.ParquetReader.builder(
            new org.apache.parquet.hadoop.example.GroupReadSupport(),
            st.getPath).withConf(conf).build()
          try Iterator.continually(r.read()).takeWhile(_ != null)
            .map(g => parts + g.toString.replace('\n', ' ')).toList
          finally r.close()
        }
      }
    walk(new Path(dir), "").sorted
  }

  /** The values of column `c` across a table's rows. */
  private def ids(dir: String, c: String): Set[String] =
    rows(dir).map(r => s"(?<!\\w)$c: (\\S+)".r.findFirstMatchIn(r).get.group(1)).toSet

  /** Run independent cases concurrently (each under its own root). */
  private def concurrently(cases: (() => Unit)*): Unit =
    Await.result(Future.sequence(cases.map(c => Future(c()))), Duration.Inf)

  /** Every table's rows plus the stream watermark. */
  private def state(root: String, dirs: String*): Seq[Any] =
    dirs.map(d => d -> rows(s"$root/$d")) :+
      IndexCommit.watermark(conf, s"$root/idx/meta")

  /** Run `op` from a copy of `root`, keeping its crash states. */
  private def crashStates(root: String, op: () => Unit): Seq[File] = {
    val copies = new File(local(root).getPath + "_crash")
    FileUtils.deleteDirectory(copies)
    val points = CrashFS.watched(root, copies)(op())
    assert(points > 0)
    (1 to points).map(n => new File(copies, n.toString))
  }

  private def restore(root: String, from: File): Unit = {
    FileUtils.deleteDirectory(local(root))
    CrashFS.copyTree(from, local(root))
  }

  /** Rerun `op` from each of its crash states under `root` and compare
    * `st` with the clean run's.
    */
  private def replayEquals(root: String, op: () => Unit)(st: => Any): Unit = {
    val crashes = crashStates(root, op)
    val clean = st
    crashes.zipWithIndex.foreach { case (c, i) =>
      restore(root, c)
      op()
      assert(st == clean, s"state after a crash at point ${i + 1} of ${crashes.size}")
    }
  }

  /** `check` the clean result of `op` (point 0), then each of its crash
    * states under `root` after the recovery a next writer runs on `dirs`.
    */
  private def invariantHolds(root: String, dirs: Seq[String], op: () => Unit)(
      check: Int => Unit): Unit = {
    val crashes = crashStates(root, op)
    check(0)
    crashes.zipWithIndex.foreach { case (c, i) =>
      restore(root, c)
      IndexCommit.recover(conf, dirs.map(d => s"$root/$d"))
      withClue(s"after a crash at point ${i + 1} of ${crashes.size}: ")(check(i + 1))
    }
  }

  private def events(rows: (Long, String, Long, String)*): DataFrame =
    rows.toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("ts", to_timestamp(col("ts")))

  private val early = events((1L, "2024-01-01 00:00:00", 1L, "a"),
    (2L, "2024-01-01 00:00:00", 2L, "a"), (3L, "2024-01-01 00:00:00", 3L, "b"),
    (4L, "2024-01-01 00:00:00", 4L, "a"))
  private val batch = events((5L, "2024-01-02 00:00:00", 1L, "b"),
    (6L, "2024-01-02 00:00:00", 2L, "b"), (7L, "2024-01-02 00:00:00", 5L, "c"))

  private def docs(ids: Range) = ids.map(i =>
    (i.toLong, s"tok${i / 3} shared filler words here w$i"))
    .toDF("doc_id", "text").coalesce(1)
  private def vecs(ids: Range) = ids.map(i =>
    (i.toLong, Array.tabulate(4)(j => ((i % 3) * 10 + j).toDouble + 1.0)))
    .toDF("vec_id", "embedding").coalesce(1)
  private val isT = col("doc_id") % 2 === 0
  private def keyed(from: Long, to: Long) = spark.range(from, to)
    .select((col("id") % 97).as("user_id"), col("id").as("event_id"))
    .coalesce(1)

  /** A zone-mapped table's state: its rows, its stats rows without their
    * file keys, whether those keys name exactly the live files (no stale
    * and no missing row), and the stream watermark beside it.
    */
  private def zoneState(t: String): Seq[Any] = {
    val side = rows(s"${t}_zonemap")
    val keys = side.map(r => "f: (\\S+)".r.findFirstMatchIn(r).get.group(1))
      .map(new Path(_).getName).toSet
    val fs = new Path(t).getFileSystem(conf)
    val live = fs.listStatus(new Path(t)).map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet
    Seq(rows(t), side.map(_.replaceAll("f: \\S+ ", "")).sorted, keys == live,
      IndexCommit.watermark(conf, s"${t}_meta"))
  }

  /** Hourly resample input: (event_id, ts, user_id, value). */
  private def hourly(rows: (Long, String, Long, Double)*): DataFrame =
    rows.toDF("event_id", "ts", "user_id", "value")
      .withColumn("ts", to_timestamp(col("ts"))).coalesce(1)

  /** A small protein FASTA of `n` records from `seed`. */
  private def fasta(n: Int, seed: Int): String = {
    val rnd = new scala.util.Random(seed)
    val f = java.nio.file.Files.createTempFile("icdb", ".fa")
    java.nio.file.Files.writeString(f, (0 until n).map { i =>
      s">s${seed}_$i\n" + Seq.fill(60)("ACDEFGHIKLMNPQRSTVWY"(rnd.nextInt(20))).mkString
    }.mkString("", "\n", "\n"))
    f.toString
  }

  test("scd2 merge and every stream sink batch replay exactly once after a crash at any point") {
    concurrently(
      { () =>
        // the merge as the Scd2 sink runs it: history, last, then the pin
        val sc = fresh("icscd2")
        Scd2.init(early, s"$sc/idx", nBuckets = 1)
        replayEquals(sc, () => DedupStream.processScd2Batch(batch, 0L,
          s"$sc/idx"))(state(sc, "idx/history", "idx/last"))
      },
      { () =>
        // the index sink's batch (processIndexBatch) runs inside it
        val cl = fresh("iccluster")
        Dedup.buildDedupIndex(docs(0 until 6), "doc_id", "text", s"$cl/idx")
        DedupStream.processClusterBatch(docs(6 until 9), 0L, "doc_id", "text",
          s"$cl/idx", s"$cl/pairs", s"$cl/labels", nBuckets = 2)
        replayEquals(cl, () => DedupStream.processClusterBatch(docs(9 until 12),
          1L, "doc_id", "text", s"$cl/idx", s"$cl/pairs", s"$cl/labels",
          nBuckets = 2))(state(cl, "idx/signatures", "pairs", "labels"))
      },
      { () =>
        val cu = fresh("iccurate")
        val cfg = graft.ops.Curate.Config(minTokens = 3, nearDupThreshold = 0.5,
          estimatedVerify = true)
        Dedup.buildDedupIndex(docs(0 until 0), "doc_id", "text", s"$cu/idx")
        DedupStream.processCurateBatch(docs(0 until 6), 0L, "doc_id", "text",
          s"$cu/idx", s"$cu/out", cfg, nHashBuckets = 2)
        replayEquals(cu, () => DedupStream.processCurateBatch(docs(6 until 12),
          1L, "doc_id", "text", s"$cu/idx", s"$cu/out", cfg, nHashBuckets = 2))(
          state(cu, "idx/signatures", "out/docs", "out/pairs", "out/hashes"))
      },
      { () =>
        val an = fresh("icann")
        Similarity.buildAnnIndex(vecs(0 until 9), s"$an/idx", nClusters = 3,
          iters = 1)
        DedupStream.processAnnBatch(vecs(9 until 12), 0L, s"$an/idx")
        replayEquals(an, () => DedupStream.processAnnBatch(vecs(12 until 15),
          1L, s"$an/idx"))(state(an, "idx/vectors", "idx/centroids"))
      },
      { () =>
        val pq = fresh("icpq")
        Similarity.buildPqIndex(vecs(0 until 9), s"$pq/idx", nClusters = 2,
          dim = 4, nSub = 2, pqK = 2, iters = 1)
        DedupStream.processPqBatch(vecs(9 until 12), 0L, s"$pq/idx", 4, 2)
        replayEquals(pq, () => DedupStream.processPqBatch(vecs(12 until 15), 1L,
          s"$pq/idx", 4, 2))(state(pq, "idx/codes"))
      },
      { () =>
        val bm = fresh("icbm25")
        TextAnalysis.buildBm25Index(docs(0 until 6), "doc_id", "text",
          s"$bm/idx", nBuckets = 2)
        DedupStream.processBm25Batch(docs(6 until 9), 0L, "doc_id", "text",
          s"$bm/idx")
        replayEquals(bm, () => DedupStream.processBm25Batch(docs(9 until 12),
          1L, "doc_id", "text", s"$bm/idx"))(
          state(bm, "idx/postings", "idx/doclens", "idx/stats"))
      },
      { () =>
        val ds = fresh("icdsir")
        TextAnalysis.buildDsirIndex(docs(0 until 6), "doc_id", "text", isT,
          s"$ds/idx", nBuckets = 16)
        DedupStream.processDsirBatch(docs(6 until 9), 0L, "doc_id", "text", isT,
          s"$ds/idx")
        replayEquals(ds, () => DedupStream.processDsirBatch(docs(9 until 12), 1L,
          "doc_id", "text", isT, s"$ds/idx"))(state(ds, "idx/buckets"))
      },
      { () =>
        // the zone-map sink's batch: its files, then their stats rows and
        // the pin beside the table
        val zm = fresh("iczonemap")
        def zmBatch(from: Long, b: Long): Unit = IndexCommit.inBatch(b)(
          ZoneMap.append(keyed(from, from + 60), s"$zm/t", nFiles = 2,
            statCols = Seq("user_id", "event_id")))
        zmBatch(0, 0L)
        replayEquals(zm, () => zmBatch(60, 1L))(zoneState(s"$zm/t"))
      },
      { () =>
        // the resample fold: the second batch touches a date the first
        // wrote, and its replay reads that date back as `prev`
        val rs = fresh("icresample")
        EventsStream.processResampleBatch(hourly(
          (1L, "2024-01-01 01:10:00", 1L, 1.0), (2L, "2024-01-02 03:10:00", 1L, 2.0),
          (3L, "2024-01-02 05:10:00", 2L, 3.0)), s"$rs/t")
        replayEquals(rs, () => EventsStream.processResampleBatch(hourly(
          (4L, "2024-01-02 07:10:00", 1L, 4.0), (5L, "2024-01-02 03:20:00", 1L, 5.0),
          (6L, "2024-01-03 01:10:00", 2L, 6.0)), s"$rs/t"))(state(rs, "t"))
      },
      { () =>
        // a `batch=<id>` sink
        val hh = fresh("icheavy")
        def hhBatch(from: Long, b: Long): Unit =
          EventsStream.processHeavyHittersBatch(keyed(from, from + 40), b,
            "user_id", 4, s"$hh/t")
        hhBatch(0, 0L)
        replayEquals(hh, () => hhBatch(40, 1L))(state(hh, "t"))
      })
  }

  test("rebuilds: every build replays clean and drops the stream watermark") {
    def rebuilt(root: String, op: () => Unit, dirs: String*): Unit = {
      replayEquals(root, op)(state(root, dirs: _*))
      assert(IndexCommit.watermark(conf, s"$root/idx/meta") == -1L)
    }
    concurrently(
      { () =>
        val sc = fresh("icinit")
        DedupStream.processScd2Batch(early, 0L, s"$sc/idx")
        rebuilt(sc, () => Scd2.init(early.unionByName(batch), s"$sc/idx",
          nBuckets = 4), "idx/history", "idx/last", "idx/meta")
      },
      { () =>
        val dd = fresh("icbdedup")
        Dedup.buildDedupIndex(docs(0 until 6), "doc_id", "text", s"$dd/idx")
        DedupStream.processIndexBatch(docs(6 until 9), 0L, "doc_id", "text",
          s"$dd/idx", s"$dd/pairs")
        rebuilt(dd, () => Dedup.buildDedupIndex(docs(0 until 12), "doc_id",
          "text", s"$dd/idx"), "idx/signatures", "idx/meta")
      },
      { () =>
        val an = fresh("icbann")
        Similarity.buildAnnIndex(vecs(0 until 9), s"$an/idx", nClusters = 3,
          iters = 1)
        DedupStream.processAnnBatch(vecs(9 until 12), 0L, s"$an/idx")
        rebuilt(an, () => Similarity.rebalanceAnnIndex(spark, s"$an/idx",
          iters = 1), "idx/vectors", "idx/centroids", "idx/meta")
        DedupStream.processAnnBatch(vecs(12 until 15), 0L, s"$an/idx")
        rebuilt(an, () => Similarity.buildAnnIndex(vecs(0 until 15), s"$an/idx",
          nClusters = 3, iters = 1), "idx/vectors", "idx/centroids", "idx/meta")
      },
      { () =>
        val pq = fresh("icbpq")
        Similarity.buildPqIndex(vecs(0 until 9), s"$pq/idx", nClusters = 2,
          dim = 4, nSub = 2, pqK = 2, iters = 1)
        DedupStream.processPqBatch(vecs(9 until 12), 0L, s"$pq/idx", 4, 2)
        rebuilt(pq, () => Similarity.buildPqIndex(vecs(0 until 15), s"$pq/idx",
          nClusters = 2, dim = 4, nSub = 2, pqK = 2, iters = 1),
          "idx/codes", "idx/codebooks", "idx/centroids", "idx/meta")
      },
      { () =>
        val bm = fresh("icbbm25")
        TextAnalysis.buildBm25Index(docs(0 until 6), "doc_id", "text",
          s"$bm/idx", nBuckets = 2)
        DedupStream.processBm25Batch(docs(6 until 9), 0L, "doc_id", "text",
          s"$bm/idx")
        rebuilt(bm, () => TextAnalysis.buildBm25Index(docs(0 until 12), "doc_id",
          "text", s"$bm/idx", nBuckets = 2),
          "idx/postings", "idx/doclens", "idx/stats", "idx/meta")
      },
      { () =>
        val ds = fresh("icbdsir")
        TextAnalysis.buildDsirIndex(docs(0 until 6), "doc_id", "text", isT,
          s"$ds/idx", nBuckets = 16)
        DedupStream.processDsirBatch(docs(6 until 9), 0L, "doc_id", "text", isT,
          s"$ds/idx")
        rebuilt(ds, () => TextAnalysis.buildDsirIndex(docs(0 until 12), "doc_id",
          "text", isT, s"$ds/idx", nBuckets = 16), "idx/buckets", "idx/meta")
      },
      { () =>
        val po = fresh("icbpos")
        TextAnalysis.buildPositionalIndex(docs(0 until 6), "doc_id", "text",
          s"$po/idx", nBuckets = 2)
        rebuilt(po, () => TextAnalysis.buildPositionalIndex(docs(0 until 12),
          "doc_id", "text", s"$po/idx", nBuckets = 2), "idx/postings", "idx/meta")
      },
      { () =>
        val rp = fresh("icbrp")
        Similarity.buildRpIndex(vecs(0 until 6), s"$rp/idx", dProj = 2, dims = 4)
        rebuilt(rp, () => Similarity.buildRpIndex(vecs(0 until 12), s"$rp/idx",
          dProj = 2, dims = 4), "idx/vectors", "idx/proj", "idx/meta")
      },
      { () =>
        val db = fresh("icbdb")
        PetaSearch.buildTargetDb(spark, fasta(4, 1), s"$db/idx")
        val fa = fasta(6, 2)
        rebuilt(db, () => PetaSearch.buildTargetDb(spark, fa, s"$db/idx"),
          "idx/sequences", "idx/kmers", "idx/meta")
      },
      { () =>
        val dr = fresh("icbdrift")
        val values = (0 until 40).map(i => (i.toLong, (i % 7).toDouble))
          .toDF("id", "v")
        EventsStream.writeDriftBaseline(values, "v", s"$dr/idx")
        rebuilt(dr, () => EventsStream.writeDriftBaseline(
          values.filter(col("id") > 5), "v", s"$dr/idx"), "idx/hist", "idx/meta")
      })
  }

  test("appends without a batchId keep their publish order at every point") {
    /** `dir` holds the rows it held before the append, and only rows the
      * clean append (point 0) leaves.
      */
    def between(root: String, dir: String, build: String => Unit,
        append: String => Unit, also: String => Unit = _ => ()): Unit = {
      build(s"$root/idx")
      val before = rows(s"$root/idx/$dir")
      var after = Seq.empty[String]
      invariantHolds(root, Nil, () => append(s"$root/idx")) { n =>
        val now = rows(s"$root/idx/$dir")
        if (n == 0) after = now
        assert(before.diff(now).isEmpty && now.diff(after).isEmpty)
        also(s"$root/idx/$dir")
      }
    }
    concurrently(
      { () =>
        val bm = fresh("icabm25")
        TextAnalysis.buildBm25Index(docs(0 until 6), "doc_id", "text",
          s"$bm/idx", nBuckets = 2)
        invariantHolds(bm, Nil, () => TextAnalysis.appendToBm25Index(
          docs(6 until 12), "doc_id", "text", s"$bm/idx")) { _ =>
          val lens = ids(s"$bm/idx/doclens", "id")
          assert(lens.subsetOf(ids(s"$bm/idx/postings", "id")))
          assert(rows(s"$bm/idx/stats").map(r =>
            "n_docs: (\\d+)".r.findFirstMatchIn(r).get.group(1).toLong).sum <=
            lens.size)
        }
      },
      { () =>
        between(fresh("icapos"), "postings",
          TextAnalysis.buildPositionalIndex(docs(0 until 6), "doc_id", "text",
            _, nBuckets = 2),
          TextAnalysis.appendToPositionalIndex(docs(6 until 12), "doc_id",
            "text", _))
      },
      { () =>
        between(fresh("icadsir"), "buckets",
          TextAnalysis.buildDsirIndex(docs(0 until 6), "doc_id", "text", isT, _,
            nBuckets = 16),
          TextAnalysis.appendToDsirIndex(docs(6 until 12), "doc_id", "text", isT,
            _))
      },
      { () =>
        val rp = fresh("icarp")
        Similarity.buildRpIndex(vecs(0 until 6), s"$rp/idx", dProj = 2, dims = 4)
        invariantHolds(rp, Nil, () => Similarity.appendToRpIndex(vecs(6 until 12),
          s"$rp/idx")) { _ =>
          assert(ids(s"$rp/idx/proj", "vec_id")
            .subsetOf(ids(s"$rp/idx/vectors", "vec_id")))
        }
      },
      { () =>
        // the bloom append's sidecar rows publish in one rename, so every
        // new data file is fully covered or not covered at all: a read
        // through the planner never misses a row. Without AQE's
        // coalescing the rows span several shuffle partitions, as a large
        // batch's do.
        val bl = fresh("icabloom")
        val ss = spark.newSession()
        ss.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        def keyed(from: Long, to: Long) = ss.range(from, to)
          .select((col("id") % 97).as("user_id"), col("id").as("event_id"))
        BloomIndex.build(keyed(0, 300), "user_id", s"$bl/t", nFiles = 4)
        val p = col("user_id").isin(3L, 17L, 42L, 58L, 77L, 90L)
        invariantHolds(bl, Nil, () => BloomIndex.append(keyed(300, 600),
          "user_id", s"$bl/t")) { _ =>
          val got = IndexedTable.table(ss, s"$bl/t").filter(p)
          val want = ss.read.parquet(s"$bl/t").filter(p)
          assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
        }
      },
      { () =>
        // the zone-map append: its files, then their stats rows; a file
        // the sidecar does not cover is admitted, so the planner's read
        // equals the raw scan at every point
        val p = col("user_id").between(10L, 40L)
        between(fresh("icazonemap"), "t",
          i => ZoneMap.build(keyed(0, 300), Seq("user_id", "event_id"), s"$i/t",
            nFiles = 4),
          i => ZoneMap.append(keyed(300, 600), s"$i/t", nFiles = 2),
          { t =>
            val got = IndexedTable.table(spark, t).filter(p)
            val want = spark.read.parquet(t).filter(p)
            assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
          })
      },
      { () =>
        between(fresh("icazorder"), "t",
          i => ZOrder.writeZOrdered(keyed(0, 300), s"$i/t", col("user_id"),
            col("event_id"), bits = 4, nFiles = 4),
          i => ZOrder.appendZOrdered(keyed(300, 600), s"$i/t", col("user_id"),
            col("event_id"), bits = 4, nFiles = 2))
      },
      { () =>
        // the bio append's `sequences/` append precedes its commit (it is
        // not idempotent); `kmers/` never runs ahead of it, nor the pin
        // ahead of `kmers/`
        val db = fresh("icadb")
        PetaSearch.buildTargetDb(spark, fasta(4, 3), s"$db/idx")
        val fa = fasta(3, 4)
        var cleanKmers = Seq.empty[String]
        invariantHolds(db, Seq("idx/sequences", "idx/kmers", "idx/meta"),
          () => PetaSearch.appendToTargetDb(spark, fa, s"$db/idx")) { n =>
          if (n == 0) cleanKmers = rows(s"$db/idx/kmers")
          assert(ids(s"$db/idx/kmers", "seqId")
            .subsetOf(ids(s"$db/idx/sequences", "seqId")))
          ids(s"$db/idx/meta", "nSeqs") match {
            case x if x == Set("7") => assert(rows(s"$db/idx/kmers") == cleanKmers)
            case x => assert(x == Set("4"))
          }
        }
      })
  }
}
