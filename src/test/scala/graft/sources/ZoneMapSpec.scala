package graft.sources

import graft.TestSpark
import graft.sources.Planned.plannedFiles
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Zone-map sidecar, read through [[IndexedTable]]: range reads are
  * content-identical to the full-scan filter, a narrow range opens FEW
  * files (the clustering + stats actually prune), appends keep reads
  * exact, a torn append costs I/O never rows, and null stats /
  * second-column filters never prune wrongly.
  */
class ZoneMapSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ev = graft.Tables.events(spark, "/root/testdata/sf0.01")

  private def newTable(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  /** `pred` over the indexed table at `d`, through the planner. */
  private def read(d: String, pred: Column): DataFrame =
    IndexedTable.table(spark, d).filter(pred)

  /** Assert the planner's read of `pred` equals the raw scan's, row for
    * row; returns the planner's read.
    */
  private def exact(d: String, pred: Column): DataFrame = {
    val got = read(d, pred)
    val want = spark.read.parquet(d).filter(pred)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"$pred differs from the raw scan")
    got
  }

  private def liveFiles(d: String): Int =
    spark.read.parquet(d).inputFiles.length

  /** Stream batch `id` of `df` into `d`, as `EventsStream.zonemapSink` does. */
  private def batch(df: DataFrame, d: String, id: Long,
      cols: Seq[String]): Unit =
    IndexCommit.inBatch(id)(ZoneMap.append(df, d, statCols = cols))

  test("a narrow range probe opens few files, not the table") {
    val d = newTable("zmapskip")
    ZoneMap.build(ev, Seq("user_id", "value"), d, nFiles = 16)
    assert(liveFiles(d) == 16)
    // user_id spans [0, ~150) at sf0.01; a 20-wide band (~13% of the
    // domain) should live in a small number of range-clustered files
    val n = plannedFiles(read(d, col("user_id").between(100, 119)))
    assert(n <= 4, s"expected <=4 candidate files, got $n")
  }

  test("probe on the SECOND stat column is exact (no clustering, still safe)") {
    val d = newTable("zmap2nd")
    ZoneMap.build(ev, Seq("user_id", "value"), d, nFiles = 16)
    exact(d, col("value").between(10.0, 20.0))
  }

  test("append: range read over base+appended == full-scan; probes stay pruned") {
    val d = newTable("zmapapp")
    ZoneMap.build(ev.filter(col("event_id") % 5 =!= 0),
      Seq("user_id", "value"), d, nFiles = 16)
    ZoneMap.append(ev.filter(col("event_id") % 5 === 0), d, nFiles = 4)
    exact(d, col("user_id").between(100, 199))
    // 16 base + 4 appended files; a narrow band hits few of each commit
    val n = plannedFiles(read(d, col("user_id").between(100, 119)))
    assert(n <= 6, s"expected <=6 candidate files, got $n")
    assert(n < liveFiles(d))
  }

  test("append of an empty batch is a no-op") {
    val d = newTable("zmapempty")
    ZoneMap.build(ev, Seq("user_id", "value"), d, nFiles = 8)
    val before = spark.read.parquet(d + "_zonemap").count()
    ZoneMap.append(ev.limit(0), d)
    assert(spark.read.parquet(d + "_zonemap").count() == before)
  }

  test("a torn append (data landed, stats rows missing) costs I/O, never rows") {
    val d = newTable("zmaptorn")
    ZoneMap.build(ev.filter(col("event_id") % 5 =!= 0),
      Seq("user_id", "value"), d, nFiles = 16)
    // simulate the crash window: batch data appended, no sidecar rows
    ev.filter(col("event_id") % 5 === 0)
      .repartitionByRange(4, col("user_id"))
      .write.mode("append").parquet(d)
    exact(d, col("user_id").between(100, 199))
    // the uncovered files ARE candidates even for an out-of-domain range
    val n = plannedFiles(read(d, col("user_id").between(-2000, -1000)))
    assert(n == 4, s"expected the 4 uncovered files, got $n")
  }

  test("zonemapSink: streamed ingest == batch content, probes exact") {
    val d = newTable("zmapsink")
    val src = java.nio.file.Files.createTempDirectory("zmapsrc").toString
    ev.write.mode("overwrite").parquet(src)
    val stream = spark.readStream.schema(ev.schema).parquet(src)
    val q = graft.streaming.EventsStream
      .zonemapSink(stream, d, Seq("user_id", "value")).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(d)
    assert(got.count() == ev.count())
    assert(got.exceptAll(ev).isEmpty && ev.exceptAll(got).isEmpty)
    exact(d, col("user_id").between(100, 119))
  }

  test("appendBatch redelivery converges: same id + same rows change nothing") {
    val d = newTable("zmapredel")
    val cols = Seq("user_id", "value")
    val (b0, b1) = (ev.filter(col("event_id") % 2 === 0),
      ev.filter(col("event_id") % 2 === 1))
    batch(b0, d, 0L, cols)
    batch(b1, d, 1L, cols)
    val before = spark.read.parquet(d)
    assert(before.count() == ev.count())
    // replay batch 0: at or below the pinned watermark
    batch(b0, d, 0L, cols)
    val after = spark.read.parquet(d)
    assert(after.count() == ev.count())
    assert(after.exceptAll(ev).isEmpty && ev.exceptAll(after).isEmpty)
    // the replay left no stale stats row: live files × stat columns
    assert(spark.read.parquet(d + "_zonemap").count() ==
      liveFiles(d).toLong * cols.length)
    val got = exact(d, col("user_id").between(100, 119))
    // and still pruned: batches cluster their own rows, the band hits few
    assert(plannedFiles(got) < liveFiles(d))
  }

  test("first appendBatch pins the stat-column set for later batches") {
    val d = newTable("zmappin")
    batch(ev.filter(col("event_id") % 2 === 0), d, 0L, Seq("user_id"))
    // later batch asks for a different set — the pinned set must win
    batch(ev.filter(col("event_id") % 2 === 1), d, 1L,
      Seq("value", "event_id"))
    import spark.implicits._
    val cols = spark.read.parquet(d + "_zonemap")
      .select(col("c")).distinct().as[String].collect().toSet
    assert(cols == Set("user_id"))
  }

  test("a box on an unclustered dim still returns exact content") {
    val d = newTable("zmapboxflat")
    ZoneMap.build(ev, Seq("user_id", "value"), d, nFiles = 16)
    exact(d, col("user_id").between(50, 90) && col("value").between(0.0, 15.0))
  }

  test("committed-batch redelivery is a no-op fast path (file names stable)") {
    val d = newTable("zmapfast")
    val cols = Seq("user_id", "value")
    val b0 = ev.filter(col("event_id") % 2 === 0)
    batch(b0, d, 0L, cols)
    batch(ev.filter(col("event_id") % 2 === 1), d, 1L, cols)
    val namesBefore = spark.read.parquet(d).inputFiles.toSet
    batch(b0, d, 0L, cols) // clean replay
    val namesAfter = spark.read.parquet(d).inputFiles.toSet
    assert(namesAfter == namesBefore,
      "a fully-committed batch replay must not touch the table")
    val got = spark.read.parquet(d)
    assert(got.count() == ev.count())
  }

  test("rebuildStats covers files a torn append left uncovered") {
    val d = newTable("zmaprebuild")
    val cols = Seq("user_id", "value")
    ZoneMap.build(ev.filter(col("event_id") % 2 === 0), cols, d, nFiles = 8)
    // a torn append: its files published, its stats rows never did
    ev.filter(col("event_id") % 2 === 1)
      .repartitionByRange(4, col("user_id"))
      .write.mode("append").parquet(d)
    val band = col("user_id").between(100, 119)
    val before = exact(d, band)
    val (rowsBefore, nBefore) = (before.collect().toSet, plannedFiles(before))
    ZoneMap.rebuildStats(spark, d)
    // exactly live-files × 2 columns rows, at the pinned column order
    assert(spark.read.parquet(d + "_zonemap").count() ==
      liveFiles(d).toLong * cols.length)
    val after = exact(d, band)
    assert(after.collect().toSet == rowsBefore)
    // the once-uncovered files now prune like the rest
    assert(plannedFiles(after) < nBefore,
      s"rebuild should prune the covered files (${plannedFiles(after)} vs $nBefore)")
    val got = spark.read.parquet(d)
    assert(got.exceptAll(ev).isEmpty && ev.exceptAll(got).isEmpty)
  }

  test("a missing sidecar (torn FIRST commit) degrades to scan, not a crash") {
    val d = newTable("zmapnoside")
    batch(ev, d, 0L, Seq("user_id", "value"))
    // simulate: crash before the first sidecar commit landed
    def rmr(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmr); f.delete()
    }
    rmr(new java.io.File(d + "_zonemap"))
    val got = exact(d, col("user_id").between(100, 119))
    assert(plannedFiles(got) == liveFiles(d),
      "every live file must be a candidate")
  }

  test("appends keep clustering on the BUILD'S leading column, not sorted order") {
    val d = newTable("zmaplead")
    // leading column deliberately NOT alphabetically first
    ZoneMap.build(ev, Seq("value", "user_id"), d, nFiles = 16)
    ZoneMap.append(ev.limit(2000), d, nFiles = 4)
    // pinned order must survive: 'value' is ci=0
    val lead = spark.read.parquet(d + "_zonemap")
      .filter(col("ci") === 0).select(col("c")).distinct().collect()
    assert(lead.map(_.getString(0)).toSeq == Seq("value"))
    // and a narrow value-band read stays pruned across both commits
    val got = exact(d, col("value").between(1.0, 5.0))
    assert(plannedFiles(got) < liveFiles(d))
  }

  test("string zone maps: lexicographic range prunes files and is exact") {
    val d = newTable("zmapstrcol")
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.01")
    ZoneMap.build(docs, Seq("lang", "doc_id"), d, nFiles = 8)
    val got = exact(d, col("lang").between("de", "es"))
    assert(got.count() > 0)
    // 5 langs clustered into 8 files: a 3-lang dictionary range must not
    // open files holding only languages outside it
    val n = plannedFiles(got)
    assert(n < liveFiles(d),
      s"string band should prune some of the 8 files, got $n")
    // an out-of-dictionary range opens nothing
    val none = read(d, col("lang").between("ru", "sv"))
    assert(plannedFiles(none) == 0)
    assert(none.count() == 0)
  }

  test("numeric probes on a mixed-type sidecar ignore the string rows") {
    val d = newTable("zmapmixed")
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.01")
    ZoneMap.build(docs, Seq("lang", "doc_id"), d, nFiles = 8)
    exact(d, col("doc_id").between(0, 100))
  }

  test("null stats never prune: an all-null column admits every file") {
    val d = newTable("zmapnull")
    val withNull = ev.withColumn("maybe", lit(null).cast("double"))
    ZoneMap.build(withNull, Seq("user_id", "maybe"), d, nFiles = 8)
    // null-safe equality implies no IS NOT NULL, so only the bounds
    // decide (a plain range would also prune on the null counts)
    val n = plannedFiles(exact(d, col("maybe") <=> 0.5))
    assert(n == 8, s"null stats must admit all 8 files, got $n")
  }
}
