package graft.sources

import graft.TestSpark
import graft.sources.Planned.plannedFiles
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Versioned table: snapshot isolation across appends, content-invisible
  * compaction, time travel to pre-compaction snapshots, and expiry that
  * deletes only unreferenced files.
  */
class VersionedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ev = graft.Tables.events(spark, "/root/testdata/sf0.001")

  test("appends create isolated snapshots; old versions stay frozen") {
    val dir = java.nio.file.Files.createTempDirectory("ver").toString + "/t"
    val (a, b) = (ev.filter(col("event_id") % 2 === 0),
      ev.filter(col("event_id") % 2 === 1))
    assert(Versioned.append(a, dir) == 1)
    assert(Versioned.append(b, dir) == 2)
    val v1 = Versioned.read(spark, dir, Some(1))
    assert(v1.count() == a.count())
    assert(v1.exceptAll(a).isEmpty && a.exceptAll(v1).isEmpty)
    val v2 = Versioned.read(spark, dir)
    assert(v2.count() == ev.count())
    assert(v2.exceptAll(ev).isEmpty && ev.exceptAll(v2).isEmpty)
  }

  test("compact is content-invisible and pre-compaction snapshots survive") {
    val dir = java.nio.file.Files.createTempDirectory("ver").toString + "/t"
    Versioned.append(ev.filter(col("event_id") % 2 === 0), dir)
    Versioned.append(ev.filter(col("event_id") % 2 === 1), dir)
    assert(Versioned.compact(spark, dir, numFiles = 2) == 3)
    val v3 = Versioned.read(spark, dir, Some(3))
    assert(v3.inputFiles.length == 2)
    assert(v3.exceptAll(ev).isEmpty && ev.exceptAll(v3).isEmpty)
    // time travel to v1 still reads the ORIGINAL files
    val v1 = Versioned.read(spark, dir, Some(1))
    assert(v1.count() == ev.filter(col("event_id") % 2 === 0).count())
  }

  test("expire keeps referenced files, deletes orphans, kills old manifests") {
    val dir = java.nio.file.Files.createTempDirectory("ver").toString + "/t"
    Versioned.append(ev.filter(col("event_id") % 2 === 0), dir)
    Versioned.append(ev.filter(col("event_id") % 2 === 1), dir)
    Versioned.compact(spark, dir, numFiles = 2)
    val v4 = Versioned.append(ev.limit(0), dir) // empty commit on top
    assert(v4 == 4)
    Versioned.expire(spark, dir, keepLast = 2)
    // v1/v2 gone; v3/v4 read fine and still equal the full content
    intercept[IllegalArgumentException](Versioned.read(spark, dir, Some(1)))
    intercept[IllegalArgumentException](Versioned.read(spark, dir, Some(2)))
    val v3 = Versioned.read(spark, dir, Some(3))
    assert(v3.exceptAll(ev).isEmpty && ev.exceptAll(v3).isEmpty)
    assert(Versioned.read(spark, dir, Some(4)).count() == ev.count())
    // the pre-compaction commit dirs were orphaned by compact -> deleted
    // (commit dirs carry a staging uid suffix: c=<v>-<uid>)
    def parquets(c: Int) = {
      val root = new java.io.File(s"$dir/data")
      root.listFiles().filter(_.getName.startsWith(s"c=$c-"))
        .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
    }
    assert(parquets(1).isEmpty && parquets(2).isEmpty)
    assert(parquets(3).nonEmpty)
  }

  test("appendBatch is exactly-once: replay no-ops, even after compaction") {
    val dir = java.nio.file.Files.createTempDirectory("ver").toString + "/t"
    val (a, b) = (ev.filter(col("event_id") % 2 === 0),
      ev.filter(col("event_id") % 2 === 1))
    assert(Versioned.appendBatch(a, dir, batchId = 0L).contains(1))
    assert(Versioned.appendBatch(b, dir, batchId = 1L).contains(2))
    // plain redelivery
    assert(Versioned.appendBatch(a, dir, batchId = 0L).isEmpty)
    // redelivery across a compaction (file paths all rewritten)
    Versioned.compact(spark, dir, numFiles = 1)
    assert(Versioned.appendBatch(b, dir, batchId = 1L).isEmpty)
    val cur = Versioned.read(spark, dir)
    assert(cur.count() == ev.count())
    assert(cur.exceptAll(ev).isEmpty && ev.exceptAll(cur).isEmpty)
  }

  test("a torn un-committed batch write is cleared and rewritten") {
    val dir = java.nio.file.Files.createTempDirectory("ver").toString + "/t"
    val a = ev.filter(col("event_id") % 2 === 0)
    // simulate: data landed, manifest rename never happened (the dir a
    // redelivery at the same version recomputes and must clear)
    a.limit(5).write.parquet(s"$dir/data/b=7-v1")
    assert(Versioned.currentVersion(dir) == 0)
    assert(Versioned.appendBatch(a, dir, batchId = 7L).contains(1))
    val v1 = Versioned.read(spark, dir)
    assert(v1.count() == a.count())
  }

  test("versionedSink: streamed commits == batch content, replay-stable") {
    val dir = java.nio.file.Files.createTempDirectory("ver").toString + "/t"
    val src = java.nio.file.Files.createTempDirectory("verstream").toString
    ev.write.mode("overwrite").parquet(src)
    val stream = spark.readStream.schema(ev.schema).parquet(src)
    val q = graft.streaming.EventsStream.versionedSink(stream, dir).start()
    try q.processAllAvailable() finally q.stop()
    val got = Versioned.read(spark, dir)
    assert(got.count() == ev.count())
    assert(got.exceptAll(ev).isEmpty && ev.exceptAll(got).isEmpty)
    assert(Versioned.currentVersion(dir) >= 1)
  }

  test("a torn append attempt cannot brick subsequent appends") {
    val dir = java.nio.file.Files.createTempDirectory("ver").toString + "/t"
    val (a, b) = (ev.filter(col("event_id") % 2 === 0),
      ev.filter(col("event_id") % 2 === 1))
    Versioned.append(a, dir)
    // simulate: v2's data landed, manifest rename never happened
    b.limit(3).write.parquet(s"$dir/data/c=2")
    assert(Versioned.currentVersion(dir) == 1)
    assert(Versioned.append(b, dir) == 2)
    val v2 = Versioned.read(spark, dir)
    assert(v2.count() == ev.count())
    assert(v2.exceptAll(ev).isEmpty && ev.exceptAll(v2).isEmpty)
  }

  test("a torn manifest tmp dir is invisible to readers") {
    val dir = java.nio.file.Files.createTempDirectory("ver").toString + "/t"
    Versioned.append(ev, dir)
    new java.io.File(s"$dir/_manifests/_tmp_v2").mkdirs()
    assert(Versioned.currentVersion(dir) == 1)
    assert(Versioned.read(spark, dir).count() == ev.count())
  }

  test("a leftover _tmp_v* manifest dir cannot brick the next commit") {
    val dir = java.nio.file.Files.createTempDirectory("ver").toString + "/t"
    val (a, b) = (ev.filter(col("event_id") % 2 === 0),
      ev.filter(col("event_id") % 2 === 1))
    Versioned.append(a, dir)
    // simulate: v2's manifest was STAGED (tmp written) but never renamed
    a.limit(1).selectExpr("'f' AS kind", "'bogus' AS value")
      .coalesce(1).write.parquet(s"$dir/_manifests/_tmp_v2")
    assert(Versioned.currentVersion(dir) == 1)
    // next commit overwrites the stale tmp and lands cleanly
    assert(Versioned.append(b, dir) == 2)
    val v2 = Versioned.read(spark, dir)
    assert(v2.exceptAll(ev).isEmpty && ev.exceptAll(v2).isEmpty)
  }

  test("explicit file: URI exercises the Hadoop FileSystem resolution") {
    val dir = "file://" +
      java.nio.file.Files.createTempDirectory("ver").toString + "/t"
    assert(Versioned.append(ev, dir) == 1)
    assert(Versioned.currentVersion(dir) == 1)
    val got = Versioned.read(spark, dir)
    assert(got.exceptAll(ev).isEmpty && ev.exceptAll(got).isEmpty)
    assert(Versioned.compact(spark, dir, numFiles = 1) == 2)
    Versioned.expire(spark, dir, keepLast = 1)
    intercept[IllegalArgumentException](Versioned.read(spark, dir, Some(1)))
    assert(Versioned.read(spark, dir).count() == ev.count())
  }

  test("upsert rewrites only key-touched files; the rest carry forward") {
    val dir = java.nio.file.Files.createTempDirectory("ver").toString + "/t"
    val ev = this.ev.select("event_id", "user_id", "event_type", "value")
    Versioned.append(ev.filter(col("event_id") % 2 === 0)
      .repartitionByRange(4, col("event_id")), dir)
    Versioned.append(ev.filter(col("event_id") % 2 === 1)
      .repartitionByRange(4, col("event_id")), dir)
    val beforeFiles = Versioned.read(spark, dir).inputFiles.toSet
    // patch a NARROW key band: clustered commits mean few touched files
    val patches = ev.filter(col("event_id").between(100, 200))
      .withColumn("value", lit(-1.0))
    val v3 = Versioned.upsert(patches, dir, "event_id")
    val afterFiles = Versioned.read(spark, dir, Some(v3)).inputFiles.toSet
    val carried = beforeFiles.intersect(afterFiles)
    assert(carried.nonEmpty, "expected untouched files to carry forward")
    assert(carried.size >= 6,
      s"narrow band should touch ~1 file per commit; carried ${carried.size} of 8")
    // content: patched keys read -1, others unchanged, count preserved
    val cur = Versioned.read(spark, dir)
    assert(cur.count() == ev.count())
    assert(cur.filter(col("event_id").between(100, 200) &&
      col("value") =!= -1.0).isEmpty)
    val want = ev.filter(!col("event_id").between(100, 200))
    val gotRest = cur.filter(!col("event_id").between(100, 200))
    assert(gotRest.exceptAll(want).isEmpty && want.exceptAll(gotRest).isEmpty)
    // pre-upsert snapshot is frozen
    assert(Versioned.read(spark, dir, Some(2))
      .filter(col("value") === -1.0).isEmpty)
  }

  test("upsert inserts unseen keys; upsert on empty table == append") {
    val dir = java.nio.file.Files.createTempDirectory("ver").toString + "/t"
    val ev = this.ev.select("event_id", "user_id", "event_type", "value")
    assert(Versioned.upsert(ev.limit(10), dir, "event_id") == 1)
    val fresh = ev.withColumn("event_id", col("event_id") + 10000000).limit(5)
    Versioned.upsert(fresh, dir, "event_id")
    val cur = Versioned.read(spark, dir)
    assert(cur.count() == 15)
    assert(cur.filter(col("event_id") >= 10000000).count() == 5)
  }

  test("delete rewrites only matching files; no-match delete is a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("ver").toString + "/t"
    val ev = this.ev.select("event_id", "user_id", "event_type", "value")
    Versioned.append(ev.repartitionByRange(8, col("event_id")), dir)
    val v = Versioned.delete(spark, dir, col("event_id") < 0)
    assert(v == 1, "no-match delete must not mint a snapshot")
    val before = Versioned.read(spark, dir).inputFiles.toSet
    val v2 = Versioned.delete(spark, dir, col("event_id") <= 50)
    assert(v2 == 2)
    val after = Versioned.read(spark, dir).inputFiles.toSet
    assert(before.intersect(after).size >= 6,
      "bounded-key delete should rewrite ~1 of 8 clustered files")
    val cur = Versioned.read(spark, dir)
    assert(cur.filter(col("event_id") <= 50).isEmpty)
    assert(cur.count() == ev.filter(col("event_id") > 50).count())
    // time travel still sees the deleted rows
    assert(Versioned.read(spark, dir, Some(1))
      .filter(col("event_id") <= 50).count() ==
      ev.filter(col("event_id") <= 50).count())
  }

  test("replace commits exactly df, keeps history and txn facts") {
    val dir = java.nio.file.Files.createTempDirectory("ver").toString + "/t"
    val (a, b) = (ev.filter(col("event_id") % 2 === 0),
      ev.filter(col("event_id") % 2 === 1))
    assert(Versioned.appendBatch(a, dir, batchId = 5L).contains(1))
    assert(Versioned.replace(b, dir) == 2)
    // the replace snapshot holds ONLY b; v1 still holds a
    val v2 = Versioned.read(spark, dir)
    assert(v2.exceptAll(b).isEmpty && b.exceptAll(v2).isEmpty)
    assert(Versioned.read(spark, dir, Some(1)).count() == a.count())
    // txn facts survive the overwrite: batch 5 is still a no-op
    assert(Versioned.appendBatch(a, dir, batchId = 5L).isEmpty)
  }

  test("expire after an upsert chain keeps every carried file readable") {
    val dir = java.nio.file.Files.createTempDirectory("ver").toString + "/t"
    val ev = this.ev.select("event_id", "user_id", "event_type", "value")
    Versioned.append(ev.repartitionByRange(8, col("event_id")), dir)
    val patches = ev.filter(col("event_id").between(0, 40))
      .withColumn("value", lit(-7.0))
    val v2 = Versioned.upsert(patches, dir, "event_id")
    Versioned.expire(spark, dir, keepLast = 1)
    // v1 gone; v2 (carried untouched files + the rewrite) fully readable
    intercept[IllegalArgumentException](Versioned.read(spark, dir, Some(1)))
    val cur = Versioned.read(spark, dir, Some(v2))
    assert(cur.count() == ev.count())
    assert(cur.filter(col("event_id").between(0, 40) &&
      col("value") =!= -7.0).isEmpty)
  }

  test("compact on an empty table is a no-op, not an error") {
    val dir = java.nio.file.Files.createTempDirectory("ver").toString + "/t"
    assert(Versioned.compact(spark, dir, numFiles = 2) == 0)
    assert(Versioned.currentVersion(dir) == 0)
  }

  test("MOR delete rewrites NO data files; readers mask the keys") {
    val dir = java.nio.file.Files.createTempDirectory("mor").toString + "/t"
    Versioned.append(ev.repartition(6), dir)
    val before = Versioned.read(spark, dir).inputFiles.toSet
    val keys = ev.filter(col("event_id") % 7 === 0)
      .select(col("event_id"))
    Versioned.deleteByKeyMor(keys, dir, "event_id")
    val after = Versioned.read(spark, dir)
    // every pre-delete data file is still the snapshot's storage
    assert(before.subsetOf(after.inputFiles.toSet))
    val want = ev.filter(col("event_id") % 7 =!= 0)
    assert(after.count() == want.count())
    assert(after.exceptAll(want).isEmpty && want.exceptAll(after).isEmpty)
    // time travel to the pre-delete snapshot is unmasked
    assert(Versioned.read(spark, dir, Some(1)).count() == ev.count())
  }

  test("MOR delete sequences: a later append re-inserts a deleted key") {
    val dir = java.nio.file.Files.createTempDirectory("mor").toString + "/t"
    Versioned.append(ev, dir)
    Versioned.deleteByKeyMor(
      ev.filter(col("event_id") % 7 === 0).select(col("event_id")),
      dir, "event_id")
    val reins = ev.filter(col("event_id") % 14 === 0)
      .withColumn("value", col("value") + 5000.0)
    Versioned.append(reins, dir)
    val got = Versioned.read(spark, dir)
    val want = ev.filter(col("event_id") % 7 =!= 0).unionByName(reins)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // streamed files sequence the same way (b=<id>-v<version> dirs)
    Versioned.appendBatch(reins.withColumn("value", col("value") + 1), dir, 99L)
    assert(Versioned.read(spark, dir).count() == want.count() + reins.count())
  }

  test("compact materializes pending MOR deletes; content invariant") {
    val dir = java.nio.file.Files.createTempDirectory("mor").toString + "/t"
    Versioned.append(ev, dir)
    Versioned.deleteByKeyMor(
      ev.filter(col("event_id") % 5 === 0).select(col("event_id")),
      dir, "event_id")
    val preCompact = Versioned.read(spark, dir)
    val wantN = preCompact.count()
    Versioned.compact(spark, dir, numFiles = 2)
    val post = Versioned.read(spark, dir)
    assert(post.count() == wantN)
    assert(post.exceptAll(preCompact).isEmpty &&
      preCompact.exceptAll(post).isEmpty)
  }

  test("COW upsert over pending MOR deletes does not resurrect masked rows") {
    val dir = java.nio.file.Files.createTempDirectory("mor").toString + "/t"
    Versioned.append(ev.repartitionByRange(4, col("event_id")), dir)
    Versioned.deleteByKeyMor(
      ev.filter(col("event_id") % 10 === 0).select(col("event_id")),
      dir, "event_id")
    // patch a key set that shares files with masked keys
    val patches = ev.filter(col("event_id") % 10 === 3)
      .withColumn("event_type", lit("patched"))
    Versioned.upsert(patches, dir, "event_id")
    val got = Versioned.read(spark, dir)
    val want = ev.filter(col("event_id") % 10 =!= 0)
      .filter(col("event_id") % 10 =!= 3).unionByName(patches)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("mergeMor: one commit, zero rewrites, replaces and deletes keys") {
    val dir = java.nio.file.Files.createTempDirectory("mor").toString + "/t"
    Versioned.append(ev.repartition(5), dir)
    val before = Versioned.read(spark, dir).inputFiles.toSet
    val ups = ev.filter(col("event_id") % 100 === 0)
      .withColumn("event_type", lit("patched"))
    val delKeys = ev.filter(col("event_id") % 100 === 50)
      .select(col("event_id"))
    val v = Versioned.mergeMor(ups, delKeys, dir, "event_id")
    assert(v == 2)
    val got = Versioned.read(spark, dir)
    assert(before.subsetOf(got.inputFiles.toSet)) // nothing rewritten
    val want = ev.filter(col("event_id") % 100 =!= 0)
      .filter(col("event_id") % 100 =!= 50).unionByName(ups)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("mergeMorBatch: a redelivered CDC batch no-ops") {
    val dir = java.nio.file.Files.createTempDirectory("mor").toString + "/t"
    Versioned.append(ev, dir)
    val ups = ev.filter(col("event_id") % 100 === 0)
      .withColumn("event_type", lit("patched"))
    val delKeys = ev.filter(col("event_id") % 100 === 50)
      .select(col("event_id"))
    assert(Versioned.mergeMorBatch(ups, delKeys, dir, "event_id", 0L)
      .contains(2))
    val once = Versioned.read(spark, dir).count()
    assert(Versioned.mergeMorBatch(ups, delKeys, dir, "event_id", 0L).isEmpty)
    assert(Versioned.read(spark, dir).count() == once)
    assert(Versioned.currentVersion(dir) == 2)
  }

  test("cdcMorSink: streamed CDC changes == batch merge content") {
    val dir = java.nio.file.Files.createTempDirectory("mor").toString + "/t"
    val src = java.nio.file.Files.createTempDirectory("cdcsrc").toString
    Versioned.append(ev, dir)
    val changes = ev.filter(col("event_id") % 100 === 0)
      .withColumn("event_type", lit("patched"))
      .withColumn("op", lit("upsert"))
      .unionByName(ev.filter(col("event_id") % 100 === 50)
        .withColumn("op", lit("delete")))
    changes.write.mode("overwrite").parquet(src)
    val stream = spark.readStream.schema(changes.schema).parquet(src)
    val q = graft.streaming.EventsStream.cdcMorSink(stream, dir, "event_id")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("cdcchk").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = Versioned.read(spark, dir)
    val want = ev.filter(col("event_id") % 100 =!= 0)
      .filter(col("event_id") % 100 =!= 50)
      .unionByName(ev.filter(col("event_id") % 100 === 0)
        .withColumn("event_type", lit("patched")))
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("changesBetween: append CDF is inserts-only and reads only new files") {
    val dir = java.nio.file.Files.createTempDirectory("cdf").toString + "/t"
    val half1 = ev.filter(col("event_id") % 2 === 0)
    val half2 = ev.filter(col("event_id") % 2 === 1)
    Versioned.append(half1, dir)
    Versioned.append(half2, dir)
    val cdf = Versioned.changesBetween(spark, dir, 1, 2)
    assert(cdf.filter(col("_change_type") === "delete").count() == 0)
    val ins = cdf.filter(col("_change_type") === "insert")
      .drop("_change_type")
    assert(ins.count() == half2.count())
    assert(ins.exceptAll(half2).isEmpty)
    // pruning: v1's carried files are out of scope entirely
    val v1Files = Versioned.read(spark, dir, Some(1)).inputFiles.toSet
    assert(cdf.inputFiles.toSet.intersect(v1Files).isEmpty)
  }

  test("changesBetween: COW upsert CDF = delete+insert pairs, file-pruned") {
    val dir = java.nio.file.Files.createTempDirectory("cdf").toString + "/t"
    Versioned.append(ev.repartitionByRange(4, col("event_id")), dir)
    val band = ev.filter(col("event_id").between(100, 199))
      .withColumn("event_type", lit("patched"))
    Versioned.upsert(band, dir, "event_id")
    val cdf = Versioned.changesBetween(spark, dir, 1, 2)
    val dels = cdf.filter(col("_change_type") === "delete")
      .drop("_change_type")
    val ins = cdf.filter(col("_change_type") === "insert")
      .drop("_change_type")
    val origBand = ev.filter(col("event_id").between(100, 199))
    assert(ins.count() == band.count() && dels.count() == origBand.count())
    assert(ins.exceptAll(band).isEmpty && dels.exceptAll(origBand).isEmpty)
    // only the rewritten file(s) + their replacements are in scope: the
    // range-clustered carried files must not be scanned
    val carried = Versioned.read(spark, dir, Some(2)).inputFiles.toSet
      .intersect(Versioned.read(spark, dir, Some(1)).inputFiles.toSet)
    assert(cdf.inputFiles.toSet.intersect(carried).isEmpty)
    assert(carried.nonEmpty) // the pruning claim is non-vacuous
  }

  test("changesBetween: MOR delete CDF is deletes-only") {
    val dir = java.nio.file.Files.createTempDirectory("cdf").toString + "/t"
    Versioned.append(ev, dir)
    Versioned.deleteByKeyMor(
      ev.filter(col("event_id") % 7 === 0).select(col("event_id")),
      dir, "event_id")
    val cdf = Versioned.changesBetween(spark, dir, 1, 2)
    assert(cdf.filter(col("_change_type") === "insert").count() == 0)
    val dels = cdf.filter(col("_change_type") === "delete")
      .drop("_change_type")
    val want = ev.filter(col("event_id") % 7 === 0)
    assert(dels.count() == want.count())
    assert(dels.exceptAll(want).isEmpty)
  }

  test("additive schema evolution: old files null-fill the new column") {
    val dir = java.nio.file.Files.createTempDirectory("evo").toString + "/t"
    val half1 = ev.filter(col("event_id") % 2 === 0)
    val half2 = ev.filter(col("event_id") % 2 === 1)
      .withColumn("score", col("value") * 2)
    Versioned.append(half1, dir)
    Versioned.append(half2, dir)
    val got = Versioned.read(spark, dir)
    assert(got.columns.contains("score"))
    assert(got.filter(col("score").isNull).count() == half1.count())
    assert(got.filter(col("score").isNotNull).count() == half2.count())
    // time travel to v1 reads the PRE-evolution schema
    assert(!Versioned.read(spark, dir, Some(1)).columns.contains("score"))
  }

  test("schema evolution through upsert; MOR deletes still apply across it") {
    val dir = java.nio.file.Files.createTempDirectory("evo").toString + "/t"
    Versioned.append(ev, dir)
    Versioned.upsert(ev.filter(col("event_id") % 100 === 0)
      .withColumn("flag", lit("patched")), dir, "event_id")
    Versioned.deleteByKeyMor(
      ev.filter(col("event_id") % 100 === 50).select(col("event_id")),
      dir, "event_id")
    val got = Versioned.read(spark, dir)
    assert(got.filter(col("flag") === "patched").count() ==
      ev.filter(col("event_id") % 100 === 0).count())
    assert(got.filter(col("event_id") % 100 === 50).count() == 0)
    assert(got.count() == ev.filter(col("event_id") % 100 =!= 50).count())
    // CDF across the evolution is column-consistent at the later schema
    val cdf = Versioned.changesBetween(spark, dir, 1, 3)
    assert(cdf.columns.contains("flag") &&
      cdf.columns.contains("_change_type"))
    assert(cdf.filter(col("_change_type") === "insert").count() ==
      ev.filter(col("event_id") % 100 === 0).count())
  }

  test("retyping an existing column fails AT COMMIT, not at later reads") {
    val dir = java.nio.file.Files.createTempDirectory("evo").toString + "/t"
    Versioned.append(ev, dir)
    val e = intercept[IllegalArgumentException] {
      Versioned.append(ev.withColumn("value", col("value").cast("string")),
        dir)
    }
    assert(e.getMessage.contains("additive-only"))
    assert(Versioned.currentVersion(dir) == 1) // table not poisoned
    assert(Versioned.read(spark, dir).count() == ev.count())
  }

  test("position delete: predicate evaluates once, zero rewrites, later appends immune") {
    val dir = java.nio.file.Files.createTempDirectory("pos").toString + "/t"
    Versioned.append(ev.repartition(4), dir)
    val before = Versioned.read(spark, dir).inputFiles.toSet
    val pred = col("event_type") === "view" && col("user_id") < 50
    Versioned.deleteWhereMorPos(spark, dir, pred)
    val got = Versioned.read(spark, dir)
    assert(before.subsetOf(got.inputFiles.toSet)) // nothing rewritten
    val want = ev.filter(!coalesce(pred, lit(false)))
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // later append of rows MATCHING the predicate is visible: position
    // masks are file-scoped, the predicate never re-evaluates
    val readd = ev.filter(pred).limit(20)
    Versioned.append(readd, dir)
    assert(Versioned.read(spark, dir).count() ==
      want.count() + readd.count())
    // time travel to the pre-delete snapshot is unmasked
    assert(Versioned.read(spark, dir, Some(1)).count() == ev.count())
  }

  test("position delete: no-match is a no-op; compact materializes") {
    val dir = java.nio.file.Files.createTempDirectory("pos").toString + "/t"
    Versioned.append(ev, dir)
    assert(Versioned.deleteWhereMorPos(spark, dir,
      col("user_id") > 1000000L) == 1)
    assert(Versioned.currentVersion(dir) == 1)
    Versioned.deleteWhereMorPos(spark, dir, col("event_id") % 5 === 0)
    val pre = Versioned.read(spark, dir)
    val n = pre.count()
    Versioned.compact(spark, dir, numFiles = 2)
    val post = Versioned.read(spark, dir)
    assert(post.count() == n)
    assert(post.exceptAll(pre).isEmpty && pre.exceptAll(post).isEmpty)
  }

  test("position and equality deletes compose on one table") {
    val dir = java.nio.file.Files.createTempDirectory("pos").toString + "/t"
    Versioned.append(ev, dir)
    Versioned.deleteByKeyMor(
      ev.filter(col("event_id") % 7 === 0).select(col("event_id")),
      dir, "event_id")
    Versioned.deleteWhereMorPos(spark, dir, col("event_type") === "view")
    val got = Versioned.read(spark, dir)
    val want = ev.filter(col("event_id") % 7 =!= 0)
      .filter(col("event_type") =!= "view")
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("indexedRead: manifest file stats prune a plain filter at plan time") {
    val dir = java.nio.file.Files.createTempDirectory("vidx").toString + "/t"
    // key-clustered commits give each file a tight user_id range
    Versioned.append(ev.repartitionByRange(8, col("user_id")), dir)
    Versioned.append(ev.repartitionByRange(8, col("user_id"))
      .withColumn("value", col("value") + 1), dir)
    val t = Versioned.indexedRead(spark, dir)
    // sf0.001 user_id spans [0, 14]: a 2-wide band lives in ~1 of the 8
    // range-clustered files per commit
    val pred = col("user_id").between(3, 4)
    val got = t.filter(pred)
    val want = Versioned.read(spark, dir).filter(pred)
    assert(got.count() > 0 && got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    val n = plannedFiles(got)
    assert(n < 16, s"stats should prune the 16-file snapshot, planned $n")
    // pruned TIME TRAVEL: v1 alone, still pruned, still exact
    val t1 = Versioned.indexedRead(spark, dir, Some(1)).filter(pred)
    assert(plannedFiles(t1) < 8)
    assert(t1.count() == ev.filter(pred).count())
  }

  test("indexedRead refuses pending MOR deletes; compact unlocks it") {
    val dir = java.nio.file.Files.createTempDirectory("vidx").toString + "/t"
    Versioned.append(ev.repartitionByRange(4, col("event_id")), dir)
    Versioned.deleteByKeyMor(
      ev.filter(col("event_id") % 7 === 0).select(col("event_id")),
      dir, "event_id")
    val e = intercept[IllegalArgumentException] {
      Versioned.indexedRead(spark, dir)
    }
    assert(e.getMessage.contains("delete-free"))
    Versioned.compact(spark, dir, numFiles = 4)
    val got = Versioned.indexedRead(spark, dir)
    assert(got.count() == ev.filter(col("event_id") % 7 =!= 0).count())
  }

  test("truncated string stats stay conservative (16-char Iceberg rule)") {
    val dir = java.nio.file.Files.createTempDirectory("vidx").toString + "/t"
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.01")
    Versioned.append(docs.repartitionByRange(4, col("text")), dir)
    val t = Versioned.indexedRead(spark, dir)
    // text values are ~200-500 chars, far past the truncation point: the
    // rounded-up upper bound must still admit every true match
    val pred = col("text").startsWith("key")
    val got = t.filter(pred)
    val want = Versioned.read(spark, dir).filter(pred)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(plannedFiles(got) < 4, "text-clustered files should prune")
  }

  test("z-ordered commits + manifest stats: 2-D box prunes through indexedRead") {
    val dir = java.nio.file.Files.createTempDirectory("vzz").toString + "/t"
    val evs = graft.Tables.events(spark, "/root/testdata/sf0.01")
    // Morton-cluster the commit IN-ROW (writeData owns the file layout),
    // so every file gets a tight 2-D bounding box in the manifest stats
    val (exprA, exprB) = (col("user_id"), (col("value") * 1000).cast("long"))
    Versioned.append(
      ZOrder.clustered(evs, exprA, exprB, bits = 12, nFiles = 16), dir)
    val t = Versioned.indexedRead(spark, dir)
    val pred = col("user_id").between(100, 199) &&
      col("value").between(10.0, 30.0)
    val got = t.filter(pred)
    val want = Versioned.read(spark, dir).filter(pred)
    assert(got.count() > 0 && got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    val nBoth = plannedFiles(got)
    val nU = plannedFiles(t.filter(col("user_id").between(100, 199)))
    assert(nBoth < 16 && nBoth <= nU,
      s"2-D admission ($nBoth) should beat the 1-D cut ($nU) of 16")
    // a later UNCLUSTERED commit cannot degrade the PINNED snapshot:
    // time travel to v1 sees only the z-ordered files, still box-pruned
    Versioned.append(evs.limit(50).repartition(4), dir)
    val t1 = Versioned.indexedRead(spark, dir, Some(1)).filter(pred)
    assert(plannedFiles(t1) == nBoth, "pinned-snapshot prune changed")
    assert(t1.count() == want.count())
  }

  test("expire keeps carried delete files; vacuum removes only orphans") {
    val dir = java.nio.file.Files.createTempDirectory("mor").toString + "/t"
    Versioned.append(ev, dir)
    Versioned.deleteByKeyMor(
      ev.filter(col("event_id") % 7 === 0).select(col("event_id")),
      dir, "event_id")
    Versioned.append(ev.limit(10).withColumn("event_id",
      col("event_id") + 9000000L), dir)
    val want = Versioned.read(spark, dir).count()
    Versioned.expire(spark, dir, keepLast = 1)
    assert(Versioned.read(spark, dir).count() == want) // delete file survived
    // an orphan (torn, never-committed dir) is vacuumed; live files are not
    ev.limit(3).write.parquet(s"$dir/data/b=777-v9")
    // under the DEFAULT grace period a fresh unreferenced file is presumed
    // to be a concurrent writer's staged data and is LEFT ALONE — the
    // vacuum-vs-slow-commit race Iceberg's remove_orphan_files guards too
    assert(Versioned.vacuumOrphans(spark, dir).isEmpty)
    val vacuumed = Versioned.vacuumOrphans(spark, dir, graceMs = 0)
    assert(vacuumed.nonEmpty && vacuumed.forall(_.contains("b=777")))
    assert(Versioned.read(spark, dir).count() == want)
    assert(Versioned.vacuumOrphans(spark, dir, graceMs = 0).isEmpty)
  }

  test("over-threshold delete mask shuffles instead of forcing broadcast") {
    val dir = java.nio.file.Files.createTempDirectory("morg").toString + "/t"
    Versioned.append(ev, dir)
    Versioned.deleteByKeyMor(
      ev.filter(col("event_id") % 3 === 0).select(col("event_id")),
      dir, "event_id")
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    def hints(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    // under the default threshold the batch-sized mask join IS hinted
    assert(hints(Versioned.read(spark, dir)).nonEmpty)
    val want = Versioned.read(spark, dir)
      .orderBy(col("event_id")).collect()
    // force the over-threshold path: every mask join must drop its
    // broadcast HINT (AQE may still pick a broadcast join from real
    // runtime sizes — the guard only removes the unbounded FORCED one)
    spark.conf.set("graft.versioned.maxBroadcastKeys", "0")
    try {
      val got = Versioned.read(spark, dir)
      val h = hints(got)
      assert(h.isEmpty, s"guard left ${h.size} forced broadcast(s)")
      assert(got.orderBy(col("event_id")).collect().sameElements(want))
      // upsert's key joins carry the same guard
      val up = ev.filter(col("event_id") % 10 === 1)
        .withColumn("event_type", lit("patched"))
      Versioned.upsert(up, dir, "event_id")
      val after = Versioned.read(spark, dir)
      assert(after.filter(col("event_type") === "patched").count() ==
        up.count())
    } finally spark.conf.unset("graft.versioned.maxBroadcastKeys")
  }

  test("pendingDeleteKeys counts the mask; compact resets it to zero") {
    val dir = java.nio.file.Files.createTempDirectory("pdk").toString + "/t"
    Versioned.append(ev, dir)
    assert(Versioned.pendingDeleteKeys(spark, dir) == 0L)
    val keys = ev.filter(col("event_id") % 5 === 0).select(col("event_id"))
    Versioned.deleteByKeyMor(keys, dir, "event_id")
    assert(Versioned.pendingDeleteKeys(spark, dir) == keys.count())
    Versioned.compact(spark, dir, numFiles = 2)
    assert(Versioned.pendingDeleteKeys(spark, dir) == 0L)
  }

  test("manifest null counts prune IS NULL probes through indexedRead") {
    val dir = java.nio.file.Files.createTempDirectory("vnull").toString + "/t"
    val src = ev.withColumn("click_value",
      when(col("event_type") === "click", col("value")))
    Versioned.append(src.repartitionByRange(8, col("event_type")), dir)
    val t = Versioned.indexedRead(spark, dir)
    val total = plannedFiles(t)
    val gotNull = t.filter(col("click_value").isNull)
    val want = Versioned.read(spark, dir).filter(col("click_value").isNull)
    assert(gotNull.count() == want.count() && want.count() > 0)
    assert(plannedFiles(gotNull) < total,
      s"IS NULL did not prune (${plannedFiles(gotNull)} of $total)")
  }

  test("composite-key MOR delete masks on ALL key columns; appends re-insert") {
    val dir = java.nio.file.Files.createTempDirectory("morc").toString + "/t"
    Versioned.append(ev, dir)
    // delete only the CLICK family of users 0..4 — their other event
    // types must survive (the single-column form can't express this)
    val delKeys = ev.filter(col("user_id") < 5 &&
      col("event_type") === "click")
      .select(col("user_id"), col("event_type")).distinct()
    val v = Versioned.deleteByKeysMor(delKeys, dir,
      Seq("user_id", "event_type"))
    assert(v == 2)
    val got = Versioned.read(spark, dir)
    val want = ev.filter(!(col("user_id") < 5 && col("event_type") === "click"))
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // sequence rule unchanged: a later append re-inserts a masked pair
    val reAdd = ev.filter(col("user_id") === 0 && col("event_type") === "click")
      .limit(1).withColumn("value", lit(123.0))
    Versioned.append(reAdd, dir)
    assert(Versioned.read(spark, dir).count() == want.count() + 1)
    // compact materializes the composite mask too
    Versioned.compact(spark, dir, numFiles = 2)
    assert(Versioned.read(spark, dir).count() == want.count() + 1)
    assert(Versioned.pendingDeleteKeys(spark, dir) == 0L)
  }

  test("composite-key COW upsertKeys replaces full tuples, inserts unseen ones") {
    val dir = java.nio.file.Files.createTempDirectory("upck").toString + "/t"
    val base = ev.select("event_id", "user_id", "event_type", "value")
    Versioned.append(base.repartitionByRange(4, col("user_id")), dir)
    // replace every (user 3, view) row with ONE aggregate row + insert an
    // unseen (user 9999, view) tuple, atomically
    val ups = base.filter(col("user_id") === 3 && col("event_type") === "view")
      .limit(1).withColumn("value", lit(555.5))
      .unionByName(base.limit(1)
        .withColumn("user_id", lit(9999L))
        .withColumn("event_type", lit("view"))
        .withColumn("value", lit(1.0)))
    Versioned.upsertKeys(ups, dir, Seq("user_id", "event_type"))
    val got = Versioned.read(spark, dir)
    val want = base.filter(
      !(col("user_id") === 3 && col("event_type") === "view"))
      .unionByName(ups)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // only tuple-touched files rewrote; the rest carried by reference
    val before = Versioned.dataFileSizes(spark, dir, Some(1)).keySet
    val after = Versioned.dataFileSizes(spark, dir).keySet
    assert(before.intersect(after).nonEmpty, "some files should carry")
  }

  test("composite-key mergeMorKeys: one commit, upserts + deletes on a pair key") {
    val dir = java.nio.file.Files.createTempDirectory("morck").toString + "/t"
    val base = ev.select("event_id", "user_id", "event_type", "value")
    Versioned.append(base, dir)
    // replace the (user 1, view) family with one patched row and drop
    // the (user 2, click) family, atomically
    val ups = base.filter(col("user_id") === 1 && col("event_type") === "view")
      .limit(1).withColumn("value", lit(999.0))
    val dels = base.filter(col("user_id") === 2 && col("event_type") === "click")
      .select(col("user_id"), col("event_type")).distinct()
    val filesBefore = Versioned.dataFileSizes(spark, dir).keySet
    Versioned.mergeMorKeys(ups, dels, dir, Seq("user_id", "event_type"))
    assert(Versioned.dataFileSizes(spark, dir).keySet
      .intersect(filesBefore) == filesBefore, "MOR merge must not rewrite")
    val got = Versioned.read(spark, dir)
    val want = base.filter(
      !((col("user_id") === 1 && col("event_type") === "view") ||
        (col("user_id") === 2 && col("event_type") === "click")))
      .unionByName(ups)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("compactSmall packs only sub-threshold files; big files carry by reference") {
    val dir = java.nio.file.Files.createTempDirectory("vcs").toString + "/t"
    // one healthy commit + a dribble of small streaming-ish commits
    Versioned.append(ev.filter(col("event_id") % 4 =!= 0).repartition(1), dir)
    Seq(0L, 1L, 2L).foreach { i =>
      Versioned.append(
        ev.filter(col("event_id") % 4 === 0 &&
          pmod(col("event_id") / 4, lit(3)) === i).repartition(1), dir)
    }
    // a pending MOR mask: compactSmall must apply it to rewritten rows
    // and must NOT reset it (it only touches small files)
    val delKeys = ev.filter(col("event_id") % 10 === 6).select(col("event_id"))
    Versioned.deleteByKeyMor(delKeys, dir, "event_id")
    val pendingBefore = Versioned.pendingDeleteKeys(spark, dir)
    val sizes = Versioned.dataFileSizes(spark, dir)
    assert(sizes.size == 4)
    val bigFile = sizes.maxBy(_._2)._1
    val threshold = sizes(bigFile) // strictly-smaller rule spares the max
    val preV = Versioned.currentVersion(dir)
    val want = Versioned.read(spark, dir).orderBy(col("event_id")).collect()

    val v = Versioned.compactSmall(spark, dir, smallBytes = threshold)
    assert(v == preV + 1)
    val after = Versioned.dataFileSizes(spark, dir)
    assert(after.contains(bigFile), "big file must carry by reference")
    assert(after.size < 4, s"small files should pack, got ${after.size}")
    assert(sizes.keySet.filterNot(_ == bigFile).forall(!after.contains(_)))
    // content-invisible, mask intact (no resurrection), history frozen
    val got = Versioned.read(spark, dir).orderBy(col("event_id")).collect()
    assert(got.sameElements(want))
    assert(Versioned.pendingDeleteKeys(spark, dir) == pendingBefore)
    assert(Versioned.read(spark, dir, Some(preV)).count() == want.length)
    // nothing left under the threshold but the pack: re-running no-ops
    assert(Versioned.compactSmall(spark, dir, smallBytes = threshold) == v)
  }

  test("maintain: compacts past the delete threshold, packs smalls, else no-ops") {
    val dir = java.nio.file.Files.createTempDirectory("vmnt").toString + "/t"
    (0 until 3).foreach { i =>
      Versioned.append(
        ev.filter(pmod(col("event_id"), lit(3)) === i).repartition(1), dir)
    }
    Versioned.deleteByKeyMor(
      ev.filter(col("event_id") % 5 === 0).select(col("event_id")),
      dir, "event_id")
    val want = Versioned.read(spark, dir).count()
    // over-threshold mask -> compact (materializes, resets the mask)
    val m1 = Versioned.maintain(spark, dir, maxPendingDeleteKeys = 10)
    assert(m1.compacted && !m1.packed)
    assert(Versioned.pendingDeleteKeys(spark, dir) == 0L)
    assert(Versioned.read(spark, dir).count() == want)
    // dribble more smalls -> the next maintain bin-packs instead
    (0 until 2).foreach { i =>
      Versioned.append(ev.limit(20).withColumn("event_id",
        col("event_id") + lit(1000000L * (i + 1))).repartition(1), dir)
    }
    val m2 = Versioned.maintain(spark, dir,
      smallBytes = Versioned.dataFileSizes(spark, dir).values.max)
    assert(!m2.compacted && m2.packed)
    assert(Versioned.read(spark, dir).count() == want + 40)
    // healthy table -> maintain changes nothing
    val m3 = Versioned.maintain(spark, dir,
      smallBytes = Versioned.dataFileSizes(spark, dir).values.min)
    assert(!m3.compacted && !m3.packed && m3.version == m2.version)
  }

  test("history: manifest-derived, RPC-free per-snapshot summary") {
    val dir = java.nio.file.Files.createTempDirectory("vhist").toString + "/t"
    Versioned.append(ev.repartition(2), dir)
    Versioned.deleteByKeyMor(
      ev.filter(col("event_id") % 9 === 0).select(col("event_id")),
      dir, "event_id")
    Versioned.compact(spark, dir, numFiles = 1)
    val h = Versioned.history(spark, dir).orderBy(col("version")).collect()
    assert(h.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(h(0).getInt(2) == 2 && h(0).getInt(4) == 0) // 2 files, no mask
    assert(h(1).getInt(2) == 2 && h(1).getInt(4) == 1) // mask pending
    assert(h(2).getInt(2) == 1 && h(2).getInt(4) == 0) // materialized
    // recorded bytes match the manifests' own size rows, no stat RPCs
    h.foreach { r =>
      assert(r.getLong(3) ==
        Versioned.dataFileSizes(spark, dir, Some(r.getInt(0))).values.sum)
    }
    assert(!h.exists(_.getTimestamp(1) == null))
  }

  test("expireOlderThan: age-based retention keeps young snapshots") {
    val dir = java.nio.file.Files.createTempDirectory("vexp").toString + "/t"
    (0 until 3).foreach { i =>
      Versioned.append(
        ev.filter(pmod(col("event_id"), lit(3)) === i), dir)
    }
    // everything is younger than a day: nothing expires
    Versioned.expireOlderThan(spark, dir, maxAgeMs = 24L * 3600 * 1000)
    assert(Versioned.read(spark, dir, Some(1)).count() > 0)
    // everything is "old" at cutoff 0 — keepLast still floors retention
    Versioned.expireOlderThan(spark, dir, maxAgeMs = 0, keepLast = 2)
    intercept[IllegalArgumentException](Versioned.read(spark, dir, Some(1)))
    assert(Versioned.read(spark, dir, Some(2)).count() > 0)
    assert(Versioned.read(spark, dir).count() == ev.count())
  }

  test("compactSmall converges: packed outputs do not re-qualify forever") {
    val dir = java.nio.file.Files.createTempDirectory("vcsc").toString + "/t"
    (0 until 6).foreach { i =>
      Versioned.append(
        ev.filter(pmod(col("event_id"), lit(6)) === i).repartition(1), dir)
    }
    // threshold ≈ half the total bytes: the pack must emit MULTIPLE
    // output files — the shape where ceil-sizing made every output fall
    // back under the threshold and maintenance repacked the same bytes
    // on every cycle, forever
    val th = Versioned.dataFileSizes(spark, dir).values.sum / 2
    val want = Versioned.read(spark, dir).count()
    var v = Versioned.currentVersion(dir)
    var rounds = 0
    var changed = true
    while (changed && rounds < 5) {
      val nv = Versioned.compactSmall(spark, dir, smallBytes = th)
      changed = nv != v
      v = nv
      if (changed) rounds += 1
    }
    assert(rounds <= 3, s"compactSmall repacked for $rounds rounds")
    assert(Versioned.read(spark, dir).count() == want)
  }

  test("indexedRead synthesizes FileStatus from manifest sizes: zero stat RPCs") {
    val dir = java.nio.file.Files.createTempDirectory("vfl").toString + "/t"
    Versioned.append(ev.repartitionByRange(4, col("user_id")), dir)
    Versioned.upsert(ev.limit(20).withColumn("event_type", lit("patched")),
      dir, "event_id")
    val t = Versioned.indexedRead(spark, dir)
    val scan = t.queryExecution.sparkPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no scan"))
    val listed = scan.relation.location.listFiles(Nil, Nil)
      .flatMap(_.files)
    assert(listed.nonEmpty)
    // a real getFileStatus would carry the on-disk mtime; manifest-
    // synthesized statuses carry 0 — every file (including the upsert's
    // carried + rewritten ones) must come from the manifest, not an RPC
    assert(listed.forall(_.getModificationTime == 0L),
      "some FileStatus came from a getFileStatus RPC, not the manifest")
    // the synthesized lengths are the REAL byte lengths (split planning
    // and sizeInBytes depend on them) — compare against the filesystem
    val conf = spark.sparkContext.hadoopConfiguration
    listed.foreach { f =>
      val real = f.getPath.getFileSystem(conf).getFileStatus(f.getPath)
      assert(f.getLen == real.getLen, s"bad length for ${f.getPath}")
    }
    // and the read is still content-exact
    val want = Versioned.read(spark, dir)
    assert(t.exceptAll(want).isEmpty && want.exceptAll(t).isEmpty)
  }

  test("two-writer: a losing append rebases onto the interleaved commit") {
    val dir = java.nio.file.Files.createTempDirectory("race").toString + "/t"
    val (a, b, c) = (ev.filter(col("event_id") % 3 === 0),
      ev.filter(col("event_id") % 3 === 1),
      ev.filter(col("event_id") % 3 === 2))
    Versioned.append(a, dir)
    // writer B stages its append against v1; writer A commits v2 between
    // B's basis read and B's rename — B must lose the CAS, rebase, and
    // land at v3 with BOTH appends visible
    Versioned.onBeforeCommit = () => { Versioned.append(c, dir) }
    try {
      assert(Versioned.append(b, dir) == 3)
    } finally Versioned.onBeforeCommit = () => ()
    val got = Versioned.read(spark, dir)
    assert(got.count() == ev.count())
    assert(got.exceptAll(ev).isEmpty && ev.exceptAll(got).isEmpty)
    // the interleaved writer's snapshot is intact too
    assert(Versioned.read(spark, dir, Some(2)).count() ==
      a.count() + c.count())
    assert(Versioned.vacuumOrphans(spark, dir, graceMs = 0).isEmpty) // no debris left
  }

  test("two-writer: a rebased MOR delete masks the interleaved append") {
    val dir = java.nio.file.Files.createTempDirectory("race2").toString + "/t"
    Versioned.append(ev.filter(col("event_id") % 2 === 0), dir)
    val keys = ev.filter(col("event_id") % 10 === 0).select(col("event_id"))
    // between the delete's basis read and its commit, a concurrent append
    // lands rows SHARING some of the delete keys. The rebase renames the
    // delete file past the append's sequence (commit-time sequencing), so
    // the serial order is append -> delete and those rows are masked too.
    Versioned.onBeforeCommit = () =>
      Versioned.append(ev.filter(col("event_id") % 2 === 1), dir)
    try {
      assert(Versioned.deleteByKeyMor(keys, dir, "event_id") == 3)
    } finally Versioned.onBeforeCommit = () => ()
    val got = Versioned.read(spark, dir)
    val want = ev.filter(col("event_id") % 10 =!= 0)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("two-writer: an overlapping COW upsert aborts loudly, no debris") {
    val dir = java.nio.file.Files.createTempDirectory("race3").toString + "/t"
    Versioned.append(ev, dir)
    val up = ev.filter(col("event_id") % 100 === 0)
      .withColumn("event_type", lit("patched"))
    // the interleaved writer REWRITES files the upsert read (a predicate
    // delete touching the same rows) — the upsert's touched set is no
    // longer live at the head, so it must abort, not silently clobber
    Versioned.onBeforeCommit = () =>
      Versioned.delete(spark, dir, col("event_id") % 100 === 0)
    try {
      intercept[java.util.ConcurrentModificationException](
        Versioned.upsert(up, dir, "event_id"))
    } finally Versioned.onBeforeCommit = () => ()
    // the interleaved delete won; the aborted upsert left no orphan data
    val got = Versioned.read(spark, dir)
    assert(got.filter(col("event_type") === "patched").isEmpty)
    assert(got.count() == ev.filter(col("event_id") % 100 =!= 0).count())
    assert(Versioned.vacuumOrphans(spark, dir, graceMs = 0).isEmpty)
  }

  test("two-writer: compact aborts when the table changed under it") {
    val dir = java.nio.file.Files.createTempDirectory("race4").toString + "/t"
    Versioned.append(ev.filter(col("event_id") % 2 === 0), dir)
    Versioned.onBeforeCommit = () =>
      Versioned.append(ev.filter(col("event_id") % 2 === 1), dir)
    try {
      intercept[java.util.ConcurrentModificationException](
        Versioned.compact(spark, dir, numFiles = 2))
    } finally Versioned.onBeforeCommit = () => ()
    // both writers' data intact: the append won, the compact vanished
    val got = Versioned.read(spark, dir)
    assert(got.count() == ev.count())
    assert(Versioned.vacuumOrphans(spark, dir, graceMs = 0).isEmpty)
  }

  test("two-writer: a racing redelivered batch no-ops mid-loop") {
    val dir = java.nio.file.Files.createTempDirectory("race5").toString + "/t"
    val a = ev.filter(col("event_id") % 2 === 0)
    Versioned.append(ev.filter(col("event_id") % 2 === 1), dir)
    // the SAME batch id commits concurrently between this writer's basis
    // read and its rename: the retry re-reads the head, sees the txn row,
    // and no-ops — exactly-once survives the race
    Versioned.onBeforeCommit = () => {
      assert(Versioned.appendBatch(a, dir, batchId = 42L).contains(2))
    }
    try {
      assert(Versioned.appendBatch(a, dir, batchId = 42L).isEmpty)
    } finally Versioned.onBeforeCommit = () => ()
    val got = Versioned.read(spark, dir)
    assert(got.count() == ev.count())
    assert(Versioned.vacuumOrphans(spark, dir, graceMs = 0).isEmpty)
  }

  test("merge: full clause taxonomy — conditional update/delete, insert, " +
    "clause order, partial SET") {
    import Versioned.{WhenMatchedDelete, WhenMatchedUpdate}
    val dir = java.nio.file.Files.createTempDirectory("vmrg").toString + "/t"
    Versioned.append(ev.repartitionByRange(4, col("event_id")), dir)
    // source: ids %10==0 update (value+1000, type 'patched'), %10==5
    // delete, one brand-new id inserts
    val upd = ev.filter(col("event_id") % 10 === 0)
      .withColumn("value", col("value") + 1000)
      .withColumn("event_type", lit("patched"))
    val del = ev.filter(col("event_id") % 10 === 5)
    val ins = ev.limit(1).withColumn("event_id", lit(99999999L))
      .withColumn("event_type", lit("inserted"))
    val src = upd.unionByName(del).unionByName(ins)
    val v = Versioned.merge(src, dir, Seq("event_id"),
      matched = Seq(
        // clause ORDER: the delete fires first for %10==5 rows even
        // though the update's condition (always-true) would also match
        WhenMatchedDelete(Some(col("s.event_id") % 10 === 5)),
        WhenMatchedUpdate(Map(
          "value" -> col("s.value"),
          "event_type" -> col("s.event_type")))))
    assert(v == 2)
    val got = Versioned.read(spark, dir)
    val nUpd = upd.count(); val nDel = del.count()
    assert(got.count() == ev.count() - nDel + 1)
    assert(got.filter(col("event_type") === "patched").count() == nUpd)
    assert(got.filter(col("event_id") % 10 === 5 &&
      col("event_id") < 99999999L).count() == 0)
    assert(got.filter(col("event_id") === 99999999L).count() == 1)
    // partial SET: user_id/ts carried from the TARGET on updated rows
    val u0 = ev.filter(col("event_id") % 10 === 0)
      .select(col("event_id"), col("user_id"))
    val u1 = got.filter(col("event_type") === "patched")
      .select(col("event_id"), col("user_id"))
    assert(u1.exceptAll(u0).isEmpty && u0.exceptAll(u1).isEmpty)
  }

  test("merge: untouched files carry by reference; conditional insert; " +
    "cardinality check rejects dup source keys") {
    import Versioned.{WhenMatchedUpdate}
    val dir = java.nio.file.Files.createTempDirectory("vmrg2").toString + "/t"
    Versioned.append(ev.repartitionByRange(8, col("event_id")), dir)
    val before = Versioned.dataFileSizes(spark, dir).keys.toSet
    // a tight key band touches few of the 8 range-clustered files
    val lo = ev.agg(min(col("event_id"))).collect()(0).getLong(0)
    val src = ev.filter(col("event_id").between(lo, lo + 20))
      .withColumn("event_type", lit("patched"))
      .unionByName(ev.limit(1)
        .withColumn("event_id", lit(77777777L))
        .withColumn("value", lit(1.0))
        .withColumn("event_type", lit("new")))
      .unionByName(ev.limit(1)
        .withColumn("event_id", lit(77777778L))
        .withColumn("value", lit(2.0))
        .withColumn("event_type", lit("new")))
    Versioned.merge(src, dir, Seq("event_id"),
      matched = Seq(WhenMatchedUpdate(
        Map("event_type" -> col("s.event_type")))),
      insertNotMatched = true,
      // only ONE of the two unmatched rows passes the insert gate
      insertCond = Some(col("event_id") % 2 === 1))
    val after = Versioned.dataFileSizes(spark, dir).keys.toSet
    val carried = before.intersect(after)
    assert(carried.nonEmpty, "no untouched file carried by reference")
    assert(before.diff(after).nonEmpty, "no touched file was rewritten")
    val got = Versioned.read(spark, dir)
    assert(got.filter(col("event_type") === "new").count() == 1)
    val nBand = ev.filter(col("event_id").between(lo, lo + 20)).count()
    assert(nBand > 0 &&
      got.filter(col("event_type") === "patched").count() == nBand)
    // duplicate source keys reject loudly (order-dependent result)
    val dup = ev.limit(1).unionByName(ev.limit(1))
    intercept[IllegalArgumentException](
      Versioned.merge(dup, dir, Seq("event_id"),
        matched = Seq(WhenMatchedUpdate(Map("value" -> col("s.value"))))))
  }

  test("merge: empty target is insert-only; unmatched-only merge without " +
    "insert clause no-ops") {
    import Versioned.WhenMatchedUpdate
    val dir = java.nio.file.Files.createTempDirectory("vmrg3").toString + "/t"
    val src = ev.limit(10)
    assert(Versioned.merge(src, dir, Seq("event_id")) == 1)
    assert(Versioned.read(spark, dir).count() == 10)
    // a merge whose source matches nothing and may not insert -> no commit
    val miss = ev.limit(3).withColumn("event_id",
      col("event_id") + 55555555L)
    val v = Versioned.merge(miss, dir, Seq("event_id"),
      matched = Seq(WhenMatchedUpdate(Map("value" -> col("s.value")))),
      insertNotMatched = false)
    assert(v == 1)
  }

  test("merge: unknown SET column rejects loudly; an all-filtered merge " +
    "mints NO empty version") {
    import Versioned.WhenMatchedUpdate
    val dir = java.nio.file.Files.createTempDirectory("vmrg4").toString + "/t"
    Versioned.append(ev.limit(20), dir)
    // a typo'd SET target must not silently no-op (it would report
    // success and update nothing)
    intercept[IllegalArgumentException](
      Versioned.merge(ev.limit(1), dir, Seq("event_id"),
        matched = Seq(WhenMatchedUpdate(Map("vlaue" -> col("s.value"))))))
    // unmatched source + insert gate filtering everything -> no commit
    val miss = ev.limit(3).withColumn("event_id",
      col("event_id") + 44444444L)
    assert(Versioned.merge(miss, dir, Seq("event_id"),
      insertCond = Some(lit(false))) == 1)
    assert(Versioned.currentVersion(dir) == 1)
    // unmatched source with a passing gate degenerates to a plain append
    assert(Versioned.merge(miss, dir, Seq("event_id")) == 2)
    assert(Versioned.read(spark, dir).count() == 23)
  }

  test("publish: legacy flat-file markers parse; new markers are " +
    "seq-keyed CAS dirs") {
    val dir = java.nio.file.Files.createTempDirectory("vpub").toString + "/t"
    Versioned.append(ev.limit(10), dir)
    Versioned.append(ev.limit(5).withColumn("event_id",
      col("event_id") + 5555555L), dir)
    // legacy round-16 wave-2 format: a flat r=<seq>-v<ver> FILE
    new java.io.File(s"$dir/_refs/pub").mkdirs()
    new java.io.File(s"$dir/_refs/pub/r=1-v1").createNewFile()
    assert(Versioned.publishedVersion(dir).contains(1))
    assert(Versioned.readPublished(spark, dir).count() == 10)
    // a new publish lands the dir format at the next seq and wins
    Versioned.publish(dir)
    assert(Versioned.publishedVersion(dir).contains(2))
    assert(new java.io.File(s"$dir/_refs/pub/r=2").isDirectory)
  }

  test("metadata delete: a stats-covered file drops with no data read " +
    "or written; partially-covered files still rewrite") {
    val dir = java.nio.file.Files.createTempDirectory("vmd").toString + "/t"
    Versioned.append(ev.repartitionByRange(8, col("event_id")), dir)
    val files1 = Versioned.dataFileSizes(spark, dir).keys.toSeq
    // per-file id bounds; range partitioning makes them disjoint
    val bounds = files1.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("event_id")), max(col("event_id"))).collect()(0)
      (f, r.getLong(0), r.getLong(1))
    }.sortBy(_._2)
    // (1) PURE metadata: the predicate covers exactly the lowest file
    val v2 = Versioned.delete(spark, dir,
      col("event_id") <= bounds.head._3)
    assert(v2 == 2)
    val files2 = Versioned.dataFileSizes(spark, dir).keys.toSet
    assert(!files2.contains(bounds.head._1), "covered file not dropped")
    assert(files1.toSet.diff(files2) == Set(bounds.head._1))
    assert(files2.subsetOf(files1.toSet), "metadata delete wrote data")
    // no staging dir was even created for v2
    val dataDirs = new java.io.File(s"$dir/data").listFiles()
      .map(_.getName)
    assert(!dataDirs.exists(_.startsWith("u=2")), "v2 staged data")
    val want1 = ev.filter(col("event_id") > bounds.head._3)
    val got1 = Versioned.read(spark, dir)
    assert(got1.exceptAll(want1).isEmpty && want1.exceptAll(got1).isEmpty)
    // (2) MIXED: cut inside the 3rd file -> file 2 drops as metadata,
    // file 3 rewrites, the rest carry
    val cut = (bounds(2)._2 + bounds(2)._3) / 2
    val v3 = Versioned.delete(spark, dir, col("event_id") < cut)
    assert(v3 == 3)
    val files3 = Versioned.dataFileSizes(spark, dir).keys.toSet
    assert(!files3.contains(bounds(1)._1), "fully-covered file not dropped")
    assert(!files3.contains(bounds(2)._1), "partial file not rewritten")
    assert(files3.diff(files2).size == 1, "expected exactly one rewrite")
    val want2 = ev.filter(col("event_id") >= cut)
    val got2 = Versioned.read(spark, dir)
    assert(got2.exceptAll(want2).isEmpty && want2.exceptAll(got2).isEmpty)
    // (3) string equality proof: a file holding ONLY one event_type
    // drops without a rewrite
    val dir3 = java.nio.file.Files.createTempDirectory("vmd3").toString + "/t"
    Versioned.append(ev.filter(col("event_type") === "click")
      .repartition(1), dir3)
    Versioned.append(ev.filter(col("event_type") =!= "click")
      .repartition(2), dir3)
    val pre = Versioned.dataFileSizes(spark, dir3).keys.toSet
    Versioned.delete(spark, dir3, col("event_type") === "click")
    val post = Versioned.dataFileSizes(spark, dir3).keys.toSet
    assert(post.subsetOf(pre), "string-eq metadata delete wrote data")
    assert(pre.diff(post).size == 1)
    assert(Versioned.read(spark, dir3)
      .filter(col("event_type") === "click").count() == 0)
    assert(Versioned.read(spark, dir3).count() ==
      ev.filter(col("event_type") =!= "click").count())
  }

  test("metadata tier stays conservative: decimal predicates rewrite; " +
    "a widening cast still proves") {
    // decimal stats round through double -> the proof must NOT fire
    // (a rewrite, evidenced by a staging dir, handles it exactly)
    val dir = java.nio.file.Files.createTempDirectory("vmdd").toString + "/t"
    Versioned.append(ev.limit(60)
      .withColumn("d", col("value").cast("decimal(20,4)"))
      .repartition(1), dir)
    Versioned.delete(spark, dir, col("d") >= new java.math.BigDecimal(0))
    assert(Versioned.read(spark, dir).count() == 0)
    val dirs = new java.io.File(s"$dir/data").listFiles().map(_.getName)
    assert(dirs.exists(_.startsWith("u=2")),
      "decimal predicate took the metadata tier (unsound)")
    // a WIDENING cast (long -> double) is value-preserving under the
    // magnitude guard: the covered file still drops as pure metadata
    val dir2 = java.nio.file.Files.createTempDirectory("vmdw").toString + "/t"
    Versioned.append(ev.repartitionByRange(4, col("event_id")), dir2)
    val files = Versioned.dataFileSizes(spark, dir2).keys.toSeq
    val loMax = files.map(f => spark.read.parquet(f)
      .agg(max(col("event_id"))).collect()(0).getLong(0)).min
    Versioned.delete(spark, dir2,
      col("event_id").cast("double") <= lit(loMax.toDouble))
    val dirs2 = new java.io.File(s"$dir2/data").listFiles().map(_.getName)
    assert(!dirs2.exists(_.startsWith("u=2")),
      "widening-cast predicate missed the metadata tier")
    assert(Versioned.read(spark, dir2).count() ==
      ev.filter(col("event_id") > loMax).count())
  }

  test("tags pin snapshots through retention and reject re-tagging") {
    val dir = java.nio.file.Files.createTempDirectory("vtag").toString + "/t"
    val a = ev.filter(col("event_id") % 2 === 0)
    Versioned.append(a, dir)
    Versioned.append(ev.filter(col("event_id") % 2 === 1), dir)
    assert(Versioned.tag(dir, "raw-release", Some(1)) == 1)
    Versioned.compact(spark, dir, numFiles = 2) // v3
    Versioned.expire(spark, dir, keepLast = 1)
    // v1 is PINNED by the tag: still readable after retention; v2 is gone
    val pinned = Versioned.readTag(spark, dir, "raw-release")
    assert(pinned.exceptAll(a).isEmpty && a.exceptAll(pinned).isEmpty)
    intercept[IllegalArgumentException](Versioned.read(spark, dir, Some(2)))
    assert(Versioned.read(spark, dir).count() == ev.count())
    // immutability: a tag never silently moves
    intercept[IllegalStateException](Versioned.tag(dir, "raw-release"))
    assert(Versioned.tags(dir) == Map("raw-release" -> 1))
    Versioned.dropTag(dir, "raw-release")
    assert(Versioned.tags(dir).isEmpty)
  }

  test("write-audit-publish: consumers see only published snapshots; " +
    "publishing an older version un-releases") {
    val dir = java.nio.file.Files.createTempDirectory("vwap").toString + "/t"
    val good = ev.filter(col("event_id") % 2 === 0)
    Versioned.append(good, dir)
    assert(Versioned.publish(dir) == 1)
    // a bad batch lands at the head, unaudited: consumers don't move
    Versioned.append(ev.filter(col("event_id") % 2 === 1)
      .withColumn("value", lit(-1.0)), dir)
    val pub = Versioned.readPublished(spark, dir)
    assert(pub.exceptAll(good).isEmpty && good.exceptAll(pub).isEmpty)
    assert(Versioned.read(spark, dir).count() == ev.count())
    // audit passes -> fast-forward publish; consumers move to the head
    assert(Versioned.publish(dir) == 2)
    assert(Versioned.readPublished(spark, dir).count() == ev.count())
    // the un-release lever: point consumers back at v1 (no data rewrite)
    Versioned.publish(dir, Some(1))
    assert(Versioned.publishedVersion(dir).contains(1))
    assert(Versioned.readPublished(spark, dir).count() == good.count())
    // retention keeps the published snapshot even when age would drop it
    Versioned.compact(spark, dir, numFiles = 1) // v3
    Versioned.expire(spark, dir, keepLast = 1)
    assert(Versioned.readPublished(spark, dir).count() == good.count())
    intercept[IllegalArgumentException](Versioned.read(spark, dir, Some(2)))
  }

  test("rollback mints a new commit with the old content; exactly-once " +
    "batch facts survive") {
    val dir = java.nio.file.Files.createTempDirectory("vrb").toString + "/t"
    Versioned.append(ev.filter(col("event_id") % 2 === 0), dir)
    assert(Versioned.appendBatch(ev.filter(col("event_id") % 2 === 1),
      dir, batchId = 9L).contains(2))
    Versioned.delete(spark, dir, col("event_type") === "click") // v3: damage
    assert(Versioned.read(spark, dir)
      .filter(col("event_type") === "click").count() == 0)
    // roll back PAST the damage: new commit, zero data I/O
    assert(Versioned.rollback(spark, dir, 2) == 4)
    val got = Versioned.read(spark, dir)
    assert(got.exceptAll(ev).isEmpty && ev.exceptAll(got).isEmpty)
    // the damaged snapshot is still history (readable until retention)
    assert(Versioned.read(spark, dir, Some(3))
      .filter(col("event_type") === "click").count() == 0)
    // head's txn facts carried: the rolled-back batch still no-ops
    assert(Versioned.appendBatch(ev.limit(5), dir, batchId = 9L).isEmpty)
    // rolling back to the head no-ops (no empty commit)
    assert(Versioned.rollback(spark, dir, 4) == 4)
    assert(Versioned.currentVersion(dir) == 4)
    // writers continue from the rolled-back content
    Versioned.append(ev.limit(3).withColumn("event_id",
      col("event_id") + 66666666L), dir)
    assert(Versioned.read(spark, dir).count() == ev.count() + 3)
  }

  test("timestamp travel: versionAsOf picks the latest commit at or " +
    "before the instant") {
    val dir = java.nio.file.Files.createTempDirectory("vts").toString + "/t"
    val a = ev.filter(col("event_id") % 2 === 0)
    Versioned.append(a, dir)
    Thread.sleep(60)
    Versioned.append(ev.filter(col("event_id") % 2 === 1), dir)
    val h = Versioned.history(spark, dir).orderBy(col("version")).collect()
    val ts1 = h(0).getTimestamp(1).getTime
    val ts2 = h(1).getTimestamp(1).getTime
    assert(ts1 < ts2, "commit times not distinct")
    assert(Versioned.versionAsOf(dir, ts1) == 1)
    assert(Versioned.versionAsOf(dir, ts2) == 2)
    assert(Versioned.versionAsOf(dir, System.currentTimeMillis()) == 2)
    val asOf = Versioned.readAsOf(spark, dir, ts1)
    assert(asOf.exceptAll(a).isEmpty && a.exceptAll(asOf).isEmpty)
    intercept[IllegalArgumentException](
      Versioned.versionAsOf(dir, ts1 - 10000))
  }

  test("empty snapshot reads at the stored table schema") {
    val dir = java.nio.file.Files.createTempDirectory("vempty").toString + "/t"
    Versioned.append(ev, dir)
    Versioned.replace(ev.limit(0), dir)
    val empty = Versioned.read(spark, dir)
    assert(empty.columns.toSeq == ev.columns.toSeq) // not a 0-column frame
    assert(empty.count() == 0)
    // downstream column references keep resolving
    assert(empty.filter(col("event_id") > 0).count() == 0)
  }

  test("upsert touch probe is stats-pruned and exact: disjoint key " +
      "batches touch no file, ranged batches touch only may-match files") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vups").toString + "/t"
    // two well-separated files: ids 0-9 and 1000-1009
    Versioned.append((0L to 9L).map(i => (i, "lo")).toDF("id", "s")
      .coalesce(1), dir)
    Versioned.append((1000L to 1009L).map(i => (i, "hi")).toDF("id", "s")
      .coalesce(1), dir)
    val before = Versioned.listDataFiles(spark, dir).toSet
    // keys entirely OUTSIDE both ranges: nothing touched, pure append —
    // the stats prune decides this with ZERO data I/O
    Versioned.upsert(Seq((5000L, "new")).toDF("id", "s"), dir, "id")
    val after1 = Versioned.listDataFiles(spark, dir).toSet
    assert(before.subsetOf(after1),
      "disjoint upsert must carry every file by identity")
    // keys inside ONE file's range: only that file rewrites
    Versioned.upsert(Seq((3L, "patched")).toDF("id", "s"), dir, "id")
    val after2 = Versioned.listDataFiles(spark, dir).toSet
    val carried = after1.intersect(after2)
    assert(after1.size - carried.size == 1,
      s"exactly the lo file should rewrite: carried ${carried.size} " +
        s"of ${after1.size}")
    val got = Versioned.read(spark, dir).select("id", "s")
      .as[(Long, String)].collect().toMap
    assert(got(3L) == "patched" && got(1000L) == "hi" &&
      got(5000L) == "new" && got.size == 21)
  }
}
