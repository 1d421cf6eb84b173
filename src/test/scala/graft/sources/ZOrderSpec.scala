package graft.sources

import graft.TestSpark
import graft.sources.Planned.plannedFiles
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Z-order layout: Morton interleave hand cases, exact bucketing, content
  * identity under the rewrite, and the locality win a box query gets from
  * the clustered layout (few files hold the box).
  */
class ZOrderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("interleave hand case: a=5 (101), b=3 (011) -> 27") {
    // bit 2k = a's bit k, bit 2k+1 = b's bit k:
    // 1(a0) + 2(b0) + 0(a1) + 8(b1) + 16(a2) + 0(b2) = 27
    val got = Seq((5L, 3L)).toDF("a", "b")
      .select(ZOrder.interleave(col("a"), col("b"), 3).as("z"))
      .as[Long].head()
    assert(got == 27L)
  }

  test("bucketize fills the bit range from either axis span") {
    // span 1024 scaled to 16 buckets of 64
    val got = Seq(0L, 63L, 64L, 1023L).toDF("v")
      .select(ZOrder.bucketize(col("v"), 0L, 1023L, 4).as("b"))
      .as[Long].collect().toSeq
    assert(got == Seq(0L, 0L, 1L, 15L))
    // a NARROW span must also fill the range (balanced interleave):
    // span 8 scaled to 256 buckets of 1/32 — v=7 lands at (2/8)*256 = 64
    val up = Seq(7L).toDF("v")
      .select(ZOrder.bucketize(col("v"), 5L, 12L, 8).as("b"))
      .as[Long].head()
    assert(up == 64L)
    // extremes stay in range
    val ends = Seq(5L, 12L).toDF("v")
      .select(ZOrder.bucketize(col("v"), 5L, 12L, 8).as("b"))
      .as[Long].collect().toSeq
    assert(ends == Seq(0L, 224L))
  }

  test("z-ordered rewrite is content-identical to the source") {
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("zid").toString
    ZOrder.writeZOrdered(ev, dir, col("user_id"),
      unix_micros(col("ts").cast("timestamp")), bits = 12, nFiles = 8)
    val back = spark.read.parquet(dir)
    assert(back.count() == ev.count())
    assert(back.exceptAll(ev).isEmpty && ev.exceptAll(back).isEmpty)
  }

  test("append + compact: content identical, file count restored") {
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.01")
    val tsExpr = unix_micros(col("ts").cast("timestamp"))
    val dir = java.nio.file.Files.createTempDirectory("zac").toString + "/t"
    val (base, tail) = {
      val rows = ev.orderBy("event_id").collect()
      (rows.take(9000), rows.drop(9000))
    }
    val baseDf = spark.createDataFrame(
      spark.sparkContext.parallelize(base.toIndexedSeq), ev.schema)
    val tailDf = spark.createDataFrame(
      spark.sparkContext.parallelize(tail.toIndexedSeq), ev.schema)
    ZOrder.writeZOrdered(baseDf, dir, col("user_id"), tsExpr,
      bits = 12, nFiles = 8)
    def nFiles = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val before = nFiles
    ZOrder.appendZOrdered(tailDf, dir, col("user_id"), tsExpr,
      bits = 12, nFiles = 2)
    assert(nFiles > before, "append added no files")
    // content identity after append
    val back = spark.read.parquet(dir)
    assert(back.count() == ev.count())
    assert(back.exceptAll(ev).isEmpty && ev.exceptAll(back).isEmpty)
    // compaction restores a small file count, content untouched
    ZOrder.compactZOrdered(spark, dir, col("user_id"), tsExpr,
      bits = 12, nFiles = 8)
    assert(nFiles == 8, s"compaction left $nFiles files")
    val after = spark.read.parquet(dir)
    assert(after.exceptAll(ev).isEmpty && ev.exceptAll(after).isEmpty)
  }

  test("3-axis Morton: 3-D box admission beats every 2-D cut") {
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.01")
    val d = java.nio.file.Files.createTempDirectory("z3").toString + "/t"
    ZOrder.clusteredN(ev, Seq(col("user_id"),
      (col("value") * 1000).cast("long"), col("event_id")),
      bits = 10, nFiles = 32).write.parquet(d)
    ZoneMap.buildStatsOnly(spark, d, Seq("user_id", "value", "event_id"))
    val full = Seq(col("user_id").between(100, 399),
      col("value").between(10.0, 40.0), col("event_id").between(0, 4999))
    def box(dims: Seq[Column]) = IndexedTable.table(spark, d)
      .filter(dims.reduce(_ && _))
    // content-exact vs the raw triple filter
    val got = box(full)
    val want = spark.read.parquet(d).filter(full.reduce(_ && _))
    assert(got.count() > 0 && got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // the 3-way intersection admits no more files than any 2-D sub-box,
    // and strictly fewer than the table
    val n3 = plannedFiles(got)
    assert(n3 < 32, s"3-D box did not prune: $n3 of 32")
    full.combinations(2).foreach { sub =>
      assert(n3 <= plannedFiles(box(sub)),
        s"3-D admission ($n3) worse than 2-D $sub")
    }
  }

  test("box query touches few files under z-order, all files linearly") {
    // sf0.01: 10k events, 150 users — big enough that 16 files hold
    // distinguishable z ranges (sf0.001's 15 users cannot)
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.01")
    val zDir = java.nio.file.Files.createTempDirectory("zbox").toString
    val lDir = java.nio.file.Files.createTempDirectory("lbox").toString
    val nFiles = 16
    ZOrder.writeZOrdered(ev, zDir, col("user_id"),
      unix_micros(col("ts").cast("timestamp")), bits = 12, nFiles = nFiles)
    // "insertion order" baseline: range-partitioned by event id — every
    // user's rows spread across every file
    ev.repartitionByRange(nFiles, col("event_id"))
      .write.mode("overwrite").parquet(lDir)
    def filesTouched(dir: String): Long =
      spark.read.parquet(dir)
        .filter(col("user_id").between(100, 119))
        .select(col("_metadata.file_path"))
        .distinct().count()
    val zFiles = filesTouched(zDir)
    val lFiles = filesTouched(lDir)
    // the linear layout spreads the box over (essentially) all files; the
    // z-ordered one concentrates it — require at least a 2x cut, the
    // conservative floor of what Morton locality buys a 2%-of-keyspace box
    assert(lFiles > nFiles / 2, s"baseline unexpectedly clustered: $lFiles")
    assert(zFiles * 2 <= lFiles,
      s"z-order box touched $zFiles of $lFiles baseline files — no locality win")
  }
}
