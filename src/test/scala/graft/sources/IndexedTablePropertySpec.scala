package graft.sources

import graft.TestSpark
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Randomized equivalence check for the planner translator: for ANY
  * predicate tree (comparisons, equality, IN, prefix, deep AND/OR mixes —
  * seeded, so failures replay), filtering the [[IndexedTable]] must return
  * exactly the rows the raw parquet scan returns. This is the property the
  * whole integration rests on: pruning is an optimization, NEVER a
  * correctness surface — a single dropped file shows up here as a missing
  * row.
  */
class IndexedTablePropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ev = graft.Tables.events(spark, "/root/testdata/sf0.01")

  private def newTable(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def randomPredicate(rnd: scala.util.Random, depth: Int): Column = {
    def leaf(): Column = rnd.nextInt(7) match {
      case 0 => col("user_id") >= rnd.between(-20L, 220L)
      case 1 => col("user_id") < rnd.between(-20L, 220L)
      case 2 => col("user_id").between(rnd.between(-20L, 200L),
        rnd.between(-20L, 260L))
      case 3 => col("value") > rnd.between(-100.0, 1200.0)
      case 4 => col("user_id").isin(
        Seq.fill(1 + rnd.nextInt(4))(rnd.between(-5L, 200L)): _*)
      case 5 => col("event_type") === Seq("click", "view", "purchase",
        "nope")(rnd.nextInt(4))
      case 6 => col("user_id") === rnd.between(-5L, 200L)
    }
    if (depth == 0 || rnd.nextInt(3) == 0) leaf()
    else if (rnd.nextBoolean())
      randomPredicate(rnd, depth - 1) && randomPredicate(rnd, depth - 1)
    else
      randomPredicate(rnd, depth - 1) || randomPredicate(rnd, depth - 1)
  }

  /** The 40 seeded trees over the indexed table at `d`: the planner's
    * read equals the raw scan's, row for row.
    */
  private def fortyTrees(d: String): Unit = {
    val t = IndexedTable.table(spark, d)
    val raw = spark.read.parquet(d)
    val rnd = new scala.util.Random(4217)
    (1 to 40).foreach { i =>
      val pred = randomPredicate(rnd, 2)
      val got = t.filter(pred)
      val want = raw.filter(pred)
      val (ng, nw) = (got.count(), want.count())
      assert(ng == nw, s"case $i: $pred -> $ng vs $nw rows")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"case $i content mismatch: $pred")
    }
  }

  test("40 seeded random predicate trees: planner == raw scan, row-exact") {
    val d = newTable("idxprop")
    ZoneMap.build(ev, Seq("user_id", "value"), d, nFiles = 8)
    fortyTrees(d)
  }

  test("the 40 trees over a ZoneMap.append-ed table") {
    val d = newTable("idxpropapp")
    ZoneMap.build(ev.filter(col("event_id") % 5 =!= 0),
      Seq("user_id", "value"), d, nFiles = 8)
    ZoneMap.append(ev.filter(col("event_id") % 5 === 0), d, nFiles = 4)
    fortyTrees(d)
  }

  test("the 40 trees over an appendBatch-streamed, redelivered table") {
    val d = newTable("idxpropstr")
    val cols = Seq("user_id", "value")
    // batch 0 is redelivered after batch 1
    Seq(0L, 1L, 0L, 2L).foreach(b => IndexCommit.inBatch(b)(ZoneMap.append(
      ev.filter(col("event_id") % 3 === b), d, statCols = cols)))
    fortyTrees(d)
  }

  test("the 40 trees over a bloom table after BloomIndex.append") {
    val d = newTable("idxpropbloom")
    BloomIndex.build(ev.filter(col("event_id") % 5 =!= 0), "user_id", d,
      nFiles = 8)
    BloomIndex.append(ev.filter(col("event_id") % 5 === 0), "user_id", d)
    fortyTrees(d)
  }

  test("25 seeded random STRING predicates over lexicographic stats") {
    val d = newTable("idxstr")
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.01")
    ZoneMap.build(docs, Seq("lang", "doc_id"), d, nFiles = 8)
    val t = IndexedTable.table(spark, d)
    val raw = spark.read.parquet(d)
    val langs = Seq("de", "en", "es", "fr", "ja", "aa", "zz")
    val rnd = new scala.util.Random(777)
    def strLeaf(): org.apache.spark.sql.Column = rnd.nextInt(4) match {
      case 0 => col("lang") === langs(rnd.nextInt(langs.size))
      case 1 =>
        val (a, b) = (langs(rnd.nextInt(langs.size)),
          langs(rnd.nextInt(langs.size)))
        col("lang").between(if (a <= b) a else b, if (a <= b) b else a)
      case 2 => col("lang").startsWith(
        langs(rnd.nextInt(langs.size)).take(1))
      case 3 => col("lang") >= langs(rnd.nextInt(langs.size))
    }
    (1 to 25).foreach { i =>
      val pred =
        if (rnd.nextBoolean()) strLeaf() && strLeaf() else strLeaf() || strLeaf()
      val got = t.filter(pred)
      val want = raw.filter(pred)
      assert(got.count() == want.count(), s"case $i: $pred")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"case $i content mismatch: $pred")
    }
  }

  test("25 seeded random trees over a VERSIONED snapshot (ManifestFileIndex)") {
    val dir = java.nio.file.Files.createTempDirectory("vprop").toString + "/t"
    Versioned.append(ev.filter(col("event_id") % 2 === 0)
      .repartitionByRange(6, col("user_id")), dir)
    Versioned.append(ev.filter(col("event_id") % 2 === 1)
      .repartitionByRange(6, col("user_id")), dir)
    val t = Versioned.indexedRead(spark, dir)
    val raw = Versioned.read(spark, dir)
    val rnd = new scala.util.Random(90125)
    (1 to 25).foreach { i =>
      val pred = randomPredicate(rnd, 2)
      val got = t.filter(pred)
      val want = raw.filter(pred)
      assert(got.count() == want.count(), s"case $i: $pred")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"case $i content mismatch: $pred")
    }
  }

  test("25 seeded random trees over a HIVE-PARTITIONED table (both prunes)") {
    val d = java.nio.file.Files.createTempDirectory("pprop").toString + "/t"
    ev.withColumn("dt", date_format(col("ts"), "yyyy-MM-dd"))
      .repartitionByRange(60, col("dt"), col("user_id"))
      .write.partitionBy("dt").parquet(d)
    ZoneMap.buildStatsOnly(spark, d, Seq("user_id", "value"))
    val t = IndexedTable.partitionedTable(spark, d)
    val raw = spark.read.parquet(d)
    val rnd = new scala.util.Random(60901)
    val days = Seq("2024-01-05", "2024-01-15", "2024-01-25", "2023-12-31")
    // random data-predicate trees, half the cases with a partition-column
    // conjunct on top — partition pruning and sidecar admission must
    // agree with the raw scan in every combination
    (1 to 25).foreach { i =>
      val data = randomPredicate(rnd, 2)
      val pred =
        if (rnd.nextBoolean()) data
        else data && (rnd.nextInt(3) match {
          case 0 => col("dt") === days(rnd.nextInt(days.size))
          case 1 => col("dt") >= days(rnd.nextInt(days.size))
          case 2 => col("dt").isin(days.take(1 + rnd.nextInt(3)): _*)
        })
      val got = t.filter(pred).drop("dt")
      val want = raw.filter(pred).drop("dt")
      assert(got.count() == want.count(), s"case $i: $pred")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"case $i content mismatch: $pred")
    }
  }
}
