package graft.ops

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted incremental dedup index: batch-at-a-time appends must report
  * exactly the pairs a from-scratch run over the union would, split by
  * arrival batch (each pair reported once, when its later doc arrives).
  */
class DedupIndexSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val words = Seq("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu")

  /** Repetitive corpus: docs i and i+offset share most shingles when i/3
    * matches, so near-dup pairs exist both within and across batches.
    */
  private def doc(i: Long): (Long, String) = {
    val toks = (0 until 10).map(j => words(((i / 3) + j).toInt % words.length))
    (i, toks.mkString(" "))
  }

  test("incremental appends == from-scratch estimated pairs, split by batch") {
    val b1 = (0L until 20L).map(doc)
    val b2 = (20L until 40L).map(doc)
    val b3 = (40L until 50L).map(doc)
    val all = (b1 ++ b2 ++ b3).toDF("doc_id", "text")

    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Double]("est_jaccard"))).toSet

    val full = toSet(Dedup.nearDuplicatesEstimated(all, "doc_id", "text",
      shingleSize = 2, numHashes = 8, rowsPerBand = 2, threshold = 0.5))
    val withinB1 = toSet(Dedup.nearDuplicatesEstimated(
      b1.toDF("doc_id", "text"), "doc_id", "text",
      shingleSize = 2, numHashes = 8, rowsPerBand = 2, threshold = 0.5))

    val dir = java.nio.file.Files.createTempDirectory("dedupidx").toString
    Dedup.buildDedupIndex(b1.toDF("doc_id", "text"), "doc_id", "text", dir,
      shingleSize = 2, numHashes = 8)
    // read-only probe first: identical pairs, nothing committed
    val probed = toSet(Dedup.searchDedupIndex(b2.toDF("doc_id", "text"),
      "doc_id", "text", dir, rowsPerBand = 2, threshold = 0.5))
    assert(spark.read.parquet(s"$dir/signatures").count() == 20L)
    val p2 = toSet(Dedup.appendToDedupIndex(b2.toDF("doc_id", "text"),
      "doc_id", "text", dir, rowsPerBand = 2, threshold = 0.5))
    assert(probed == p2)
    val p3 = toSet(Dedup.appendToDedupIndex(b3.toDF("doc_id", "text"),
      "doc_id", "text", dir, rowsPerBand = 2, threshold = 0.5))

    // every batch's pairs touch that batch (within-batch or vs the index)
    assert(p2.nonEmpty && p3.nonEmpty)
    assert(p2.forall(p => p._1 >= 20L || p._2 >= 20L))
    assert(p3.forall(p => p._1 >= 40L || p._2 >= 40L))
    // cross-batch pairs are actually found (b3 docs dup b1/b2 docs)
    assert(p3.exists(p => p._1 < 40L))
    // no pair reported twice across arrivals, and the union is exactly the
    // from-scratch result — incremental loses nothing, re-reports nothing
    assert(p2.intersect(p3).isEmpty && withinB1.intersect(p2 ++ p3).isEmpty)
    assert(withinB1 ++ p2 ++ p3 == full)

    // the stored signature table now covers the whole corpus
    val stored = spark.read.parquet(s"$dir/signatures").count()
    assert(stored == 50L)
  }

  test("append rejects nothing silently: meta pins the construction params") {
    val dir = java.nio.file.Files.createTempDirectory("dedupidxm").toString
    Dedup.buildDedupIndex((0L until 5L).map(doc).toDF("doc_id", "text"),
      "doc_id", "text", dir, shingleSize = 3, numHashes = 4)
    val meta = spark.read.parquet(s"$dir/meta").head()
    assert(meta.getAs[Int]("shingle_size") == 3)
    assert(meta.getAs[Int]("num_hashes") == 4)
    // appends derive their signatures from the stored params, so a batch
    // signed under different settings is impossible by construction
    val p = Dedup.appendToDedupIndex((5L until 8L).map(doc)
      .toDF("doc_id", "text"), "doc_id", "text", dir, rowsPerBand = 2)
    assert(p.columns.toSeq == Seq("a", "b", "est_jaccard"))
  }

  test("append leaves a caller's cache of the same signatures in place") {
    val dir = java.nio.file.Files.createTempDirectory("dedupidxc").toString
    Dedup.buildDedupIndex((0L until 20L).map(doc).toDF("doc_id", "text"),
      "doc_id", "text", dir, shingleSize = 2, numHashes = 8)
    val docs = (20L until 40L).map(doc).toDF("doc_id", "text")
    // the caller's frame has the append's own signature plan, so the two
    // would share one CacheManager entry
    val sigs = Dedup.minhashSignatures(
      Dedup.shingles(docs, "doc_id", "text", 2), 8).cache()
    assert(sigs.count() == 20L)
    val pairs = Dedup.appendToDedupIndex(docs, "doc_id", "text", dir,
      rowsPerBand = 2, threshold = 0.5).collect()
    assert(sigs.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "the append dropped the caller's cache")
    assert(pairs.nonEmpty && pairs.forall(r => r.getLong(1) >= 20L))
    assert(spark.read.parquet(s"$dir/signatures").count() == 40L)
    sigs.unpersist()
  }

  test("broadcast guard: big batches prune the stored side with a shuffled semi-join, not a broadcast") {
    val dir = java.nio.file.Files.createTempDirectory("dedupidxg").toString
    Dedup.buildDedupIndex((0L until 20L).map(doc).toDF("doc_id", "text"),
      "doc_id", "text", dir, shingleSize = 2, numHashes = 8)
    val batch = (20L until 40L).map(doc).toDF("doc_id", "text")

    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.sparkPlan.toString

    // design case: batch keys fit -> the touched set broadcasts (no
    // shuffle of the stored corpus anywhere in the prune)
    val small = Dedup.searchDedupIndex(batch, "doc_id", "text", dir,
      rowsPerBand = 2, threshold = 0.5)
    assert(planOf(small).contains("BroadcastHashJoin"),
      s"expected broadcast prune in:\n${planOf(small)}")

    // bulk re-ingest: estimated keys exceed the bound -> NO broadcast of
    // the touched set; the prune is a shuffled left-semi (hash build on
    // the touched side)
    val big = Dedup.searchDedupIndex(batch, "doc_id", "text", dir,
      rowsPerBand = 2, threshold = 0.5, maxBroadcastKeys = 10L)
    val bigPlan = planOf(big)
    assert(!bigPlan.contains("BroadcastHashJoin"),
      s"broadcast prune should have been guarded off in:\n$bigPlan")
    assert(bigPlan.contains("ShuffledHashJoin") &&
      bigPlan.contains("LeftSemi"), s"expected shuffled semi prune in:\n$bigPlan")

    // both prune strategies report the identical pair set
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Double]("est_jaccard"))).toSet
    assert(toSet(small) == toSet(big) && toSet(big).nonEmpty)
  }

  test("duplicate stored signatures (at-least-once replay) don't change search results") {
    val dir = java.nio.file.Files.createTempDirectory("dedupidxr").toString
    Dedup.buildDedupIndex((0L until 20L).map(doc).toDF("doc_id", "text"),
      "doc_id", "text", dir, shingleSize = 2, numHashes = 8)
    val probe = (20L until 30L).map(doc).toDF("doc_id", "text")
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Double]("est_jaccard"))).toSet
    val before = toSet(Dedup.searchDedupIndex(probe, "doc_id", "text", dir,
      rowsPerBand = 2, threshold = 0.5))
    // simulate a replayed micro-batch append: the SAME signature rows land
    // a second time (materialize locally first — appending a path to
    // itself while scanning it is undefined)
    val sigs = spark.read.parquet(s"$dir/signatures")
    val rows = sigs.collect().toSeq
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows), sigs.schema)
      .write.mode("append").parquet(s"$dir/signatures")
    assert(spark.read.parquet(s"$dir/signatures").count() == 40L)
    // strict id ordering excludes self-pairs, distinct() collapses the
    // doubled collisions: the pair set is unchanged
    val after = toSet(Dedup.searchDedupIndex(probe, "doc_id", "text", dir,
      rowsPerBand = 2, threshold = 0.5))
    assert(after == before && before.nonEmpty)
  }

  test("estimated pairs: signature agreement matches row-local estimator") {
    val docs = (0L until 30L).map(doc).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(
      Dedup.shingles(docs, "doc_id", "text", 2), 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val pairs = Dedup.nearDuplicatesEstimated(docs, "doc_id", "text",
      shingleSize = 2, numHashes = 8, rowsPerBand = 2, threshold = 0.25)
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val want = sigs(a).zip(sigs(b)).count { case (x, y) => x == y } / 8.0
      assert(r.getAs[Double]("est_jaccard") == want, s"pair ($a,$b)")
    }
  }
}
