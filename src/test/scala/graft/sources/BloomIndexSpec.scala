package graft.sources

import graft.TestSpark
import graft.sources.Planned.plannedFiles
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bloom file-skipping index, read through [[IndexedTable]]: a lookup
  * must be content-identical to the full-scan filter (no false
  * negatives, the full filter kills false positives), and the index must
  * actually SKIP — a point key opens far fewer files than the table
  * holds.
  */
class BloomIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** An `isin` lookup of `keys` through the planner, asserted row-exact
    * against the raw scan; returns the planner's read.
    */
  private def lookup(d: String, keys: Seq[Long]): DataFrame = {
    val got = IndexedTable.table(spark, d).filter(col("user_id").isin(keys: _*))
    val want = spark.read.parquet(d).filter(col("user_id").isin(keys: _*))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    got
  }

  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("bloom").toString + "/t"
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.01")
    BloomIndex.build(ev, "user_id", d, nFiles = 16)
    d
  }

  test("lookup is content-identical to the full-scan IN filter") {
    assert(lookup(dir, Seq(5L, 105L, 777L)).count() > 0)
  }

  test("a point key opens only its own file (+ rare fp), not the table") {
    val total = spark.read.parquet(dir)
      .select(input_file_name()).distinct().count()
    val n = plannedFiles(lookup(dir, Seq(42L)))
    // key-hash layout puts all rows of one key in ONE file; at m=65536,
    // k=4 over ~1k distinct keys/file the fp rate is ~0 — allow a little
    assert(n >= 1 && n <= 3 && total >= 16)
  }

  test("absent key: lookup is empty, never wrong") {
    assert(lookup(dir, Seq(-12345L)).count() == 0)
  }

  test("append: lookup over base+appended == full-scan filter; probes stay pruned") {
    val d = java.nio.file.Files.createTempDirectory("bloomapp").toString + "/t"
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.01")
    BloomIndex.build(ev.filter(col("event_id") % 5 =!= 0), "user_id", d,
      nFiles = 16)
    BloomIndex.append(ev.filter(col("event_id") % 5 === 0), "user_id", d,
      nFiles = 4)
    assert(lookup(d, Seq(5L, 105L, 777L)).count() > 0)
    // a point key now opens at most one file per commit (+ rare fp)
    val n = plannedFiles(lookup(d, Seq(42L)))
    assert(n >= 1 && n <= 4, s"$n candidates")
  }

  test("a torn append (data landed, sidecar rows missing) costs I/O, never rows") {
    val d = java.nio.file.Files.createTempDirectory("bloomtorn").toString + "/t"
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.01")
    BloomIndex.build(ev.filter(col("event_id") % 5 =!= 0), "user_id", d,
      nFiles = 16)
    // simulate the crash window: batch data appended, no sidecar rows
    ev.filter(col("event_id") % 5 === 0)
      .repartition(4, col("user_id")).write.mode("append").parquet(d)
    lookup(d, Seq(5L, 105L))
    // the uncovered files ARE candidates for any key (the fallback)
    val n = plannedFiles(lookup(d, Seq(-999L)))
    assert(n == 4, s"expected the 4 uncovered files, got $n")
  }

  test("probe words fold under collision: containment counted per distinct word") {
    // tiny geometry forces k=4 seeds into few words; correctness must hold
    val d = java.nio.file.Files.createTempDirectory("bloomtiny").toString + "/t"
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
    BloomIndex.build(ev, "user_id", d, nFiles = 4, mBits = 128, k = 4)
    lookup(d, Seq(1L, 2L, 3L))
  }

  test("an INT key column hashes like the LongType probe (no false negatives)") {
    // xxhash64 is input-type-sensitive; build/append cast the key to long
    // so a non-BIGINT key column still matches Seq[Long] probes
    val d = java.nio.file.Files.createTempDirectory("bloomint").toString + "/t"
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("user_id", col("user_id").cast("int"))
    BloomIndex.build(ev.filter(col("event_id") % 2 === 0), "user_id", d,
      nFiles = 8)
    BloomIndex.append(ev.filter(col("event_id") % 2 === 1), "user_id", d)
    assert(lookup(d, Seq(1L, 2L, 3L)).count() > 0)
  }

  test("append of an empty batch is a no-op, not an AnalysisException") {
    val d = java.nio.file.Files.createTempDirectory("bloomempty").toString + "/t"
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
    BloomIndex.build(ev, "user_id", d, nFiles = 4)
    val before = spark.read.parquet(d + "_bloom").count()
    BloomIndex.append(ev.limit(0), "user_id", d)
    assert(spark.read.parquet(d + "_bloom").count() == before)
    lookup(d, Seq(1L, 2L))
  }

  test("append on a DIFFERENT key column than the build fails loudly") {
    val d = java.nio.file.Files.createTempDirectory("bloomkc").toString + "/t"
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.01")
    BloomIndex.build(ev.filter(col("event_id") % 2 === 0), "user_id", d)
    val e = intercept[IllegalArgumentException] {
      BloomIndex.append(ev.filter(col("event_id") % 2 === 1), "event_id", d)
    }
    assert(e.getMessage.contains("keyed on 'user_id'"))
  }
}
