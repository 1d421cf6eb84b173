package graft.streaming

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The streaming windowed aggregation must produce exactly the batch
  * q12-style result when fed the same events through a file source —
  * the cross-check SCALE.md promises.
  */
class StreamBatchEquivalenceSpec extends AnyFunSuite {

  test("file-source stream of sf0.001 events == batch windowed aggregation") {
    val spark = TestSpark.spark
    import spark.implicits._
    val events = graft.Tables.events(spark, "/root/testdata/sf0.001")

    val batch = EventsStream.windowedCounts(events)
      .select($"window_start", $"event_type", $"n", $"sum_value")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet

    // stage the events as parquet and stream them back with the same schema
    val dir = java.nio.file.Files.createTempDirectory("evstream").toString
    events.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(events.schema).parquet(dir)
    val q = EventsStream.windowedCounts(stream)
      .writeStream.format("memory").queryName("wineq").outputMode("complete")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("wineq")
        .select($"window_start", $"event_type", $"n", $"sum_value")
        .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("sliding-window stream == batch hopping aggregation (q28 twin)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val events = graft.Tables.events(spark, "/root/testdata/sf0.001")

    val batch = EventsStream.windowedCounts(events, Some("30 minutes"))
      .select($"window_start", $"event_type", $"n", $"sum_value")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    // every event must appear in exactly duration/slide = 2 windows
    val nEvents = events.count()
    val total = batch.toSeq.map(_._3).sum
    assert(total == 2 * nEvents)

    val dir = java.nio.file.Files.createTempDirectory("evslide").toString
    events.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(events.schema).parquet(dir)
    val q = EventsStream.windowedCounts(stream, Some("30 minutes"))
      .writeStream.format("memory").queryName("slideq").outputMode("complete")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("slideq")
        .select($"window_start", $"event_type", $"n", $"sum_value")
        .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("native session_window stream == batch session windows (q29 twin)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val events = graft.Tables.events(spark, "/root/testdata/sf0.001")

    val batch = EventsStream.sessionWindowCounts(events)
      .select($"user_id", $"session_start", $"n_events")
      .as[(Long, java.sql.Timestamp, Long)].collect().toSet
    assert(batch.nonEmpty)

    val dir = java.nio.file.Files.createTempDirectory("evsess").toString
    events.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(events.schema).parquet(dir)
    val q = EventsStream.sessionWindowCounts(stream)
      .writeStream.format("memory").queryName("sesswq").outputMode("complete")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sesswq")
        .select($"user_id", $"session_start", $"n_events")
        .as[(Long, java.sql.Timestamp, Long)].collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("sessionize over sf0.001 events == batch q15 sessions once the watermark passes") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val events = graft.Tables.events(spark, "/root/testdata/sf0.001")

    // batch truth: q15's window-lag construction, per-user session counts
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val batch = events
      .withColumn("prev", lag($"ts", 1).over(w))
      .withColumn("new_session",
        when($"prev".isNull ||
          unix_timestamp($"ts") - unix_timestamp($"prev") > 1800, 1).otherwise(0))
      .groupBy($"user_id")
      .agg(sum($"new_session").as("n_sessions"), count(lit(1)).as("n_events"))
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap

    // stream the same events in ts order (never late under a 0s delay),
    // split across micro-batches mid-corpus
    val sorted = events.select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventsStream.Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val maxTs = sorted.map(_.ts.getTime).max
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[EventsStream.Event]
    val q = EventsStream.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sesseq").outputMode("append")
      .start()
    try {
      val (h1, h2) = sorted.splitAt(sorted.length / 2)
      mem.addData(h1.toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(h2.toIndexedSeq: _*)
      q.processAllAvailable()
      // a far-future pusher drives the watermark past every end + gap, so
      // EVERY trailing session flushes; its own session is excluded below
      mem.addData(EventsStream.Event(Long.MaxValue,
        new java.sql.Timestamp(maxTs + 7 * 24 * 3600 * 1000L), -1L, "eof", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("sesseq")
        .filter($"user_id" =!= -1L)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_sessions"), sum($"n_events").as("n_events"))
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      assert(streamed == batch)
      assert(batch.nonEmpty)
      // and every emitted session is closed — nothing left dangling
      assert(spark.table("sesseq").filter(!$"closed").count() == 0)
    } finally q.stop()
  }

  test("streaming simhash near-dup pairs == batch simhashPairs (all-pairs)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val base = 1700000000000L
    val docs = (0L until 40L).map { i =>
      val toks = (0 until 6).map(j => words(((i / 5) + j).toInt % words.length))
      // increasing in-horizon timestamps: the bounded operator must equal
      // the batch result when nothing crosses the horizon
      DedupStream.DocRow(i, new java.sql.Timestamp(base + i * 1000L),
        toks.mkString(" "))
    }

    // batch truth over the same corpus, unrestricted query side
    val docsDf = docs.map(d => (d.doc_id, d.text)).toDF("doc_id", "text")
    val batchPairs = graft.ops.Dedup.simhashPairs(docsDf,
      "doc_id", "text", lit(true), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Number](2).intValue)).toSet

    // per-row simhash must equal the grouped batch formulation
    val batchSigs = graft.ops.Dedup.simhash64(docsDf, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    docs.foreach(d =>
      assert(DedupStream.simhash64Value(d.text) == batchSigs(d.doc_id)))

    // stream in two micro-batches through MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[DedupStream.DocRow]
    val q = DedupStream.nearDupPairs(mem.toDS(), maxHamming = 3)
      .writeStream.format("memory").queryName("ndeq").outputMode("append")
      .start()
    try {
      mem.addData(docs.take(20): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(20): _*)
      q.processAllAvailable()
      val streamed = spark.table("ndeq")
        .as[DedupStream.NearDupHit].collect()
        .map(h => (h.a, h.b, h.hamming)).toSet // cross-band dups collapse
      assert(streamed == batchPairs)
      assert(batchPairs.nonEmpty)
    } finally q.stop()
  }

  test("streaming near-dup bucket saturation bounds state and emission") {
    val spark = TestSpark.spark
    import spark.implicits._
    // 30 byte-identical docs flood every bucket they band into; a distinct
    // identical pair lives in its own buckets and must survive the cap
    val template = "lorem ipsum dolor sit amet consectetur adipiscing elit"
    val other = "unique alpha beta gamma delta epsilon zeta eta"
    val base = 1700000000000L
    def ts(i: Long) = new java.sql.Timestamp(base + i * 1000L)
    val docs = (0L until 30L).map(i => DedupStream.DocRow(i, ts(i), template)) ++
      Seq(DedupStream.DocRow(1000L, ts(31), other),
        DedupStream.DocRow(1001L, ts(32), other))
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[DedupStream.DocRow]
    val q = DedupStream.nearDupPairs(mem.toDS(), maxHamming = 3, maxBucket = 5)
      .writeStream.format("memory").queryName("ndcap").outputMode("append")
      .start()
    try {
      mem.addData(docs.take(16): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(16): _*)
      q.processAllAvailable()
      val hits = spark.table("ndcap").as[DedupStream.NearDupHit].collect()
        .map(h => (h.a, h.b)).toSet
      // flood pairs are capped at C(5,2) per bucket (same 5 members in
      // every band -> same 10 pairs), instead of C(30,2) = 435
      assert(hits.count(p => p._1 < 30L) <= 10)
      // the genuine pair in its own (unsaturated) buckets still reports
      assert(hits.contains((1000L, 1001L)))
    } finally q.stop()
  }

  test("streaming near-dup horizon evicts cold buckets; in-horizon pairs still emit") {
    val spark = TestSpark.spark
    import spark.implicits._
    val template = "lorem ipsum dolor sit amet consectetur adipiscing elit"
    val base = 1700000000000L
    def ts(sec: Long) = new java.sql.Timestamp(base + sec * 1000L)
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[DedupStream.DocRow]
    // 60 s horizon, zero lateness tolerance: watermark == max seen ts
    val q = DedupStream.nearDupPairs(mem.toDS(), maxHamming = 3,
      horizonSeconds = 60, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("ndhorizon").outputMode("append")
      .start()
    try {
      // batch 1: an identical pair 10 s apart — in-horizon, must emit
      mem.addData(DedupStream.DocRow(1L, ts(0), template),
        DedupStream.DocRow(2L, ts(10), template))
      q.processAllAvailable()
      // batch 2 advances the watermark far past ts(10) + 60 s; batch 3
      // fires the timeout for the now-dataless template buckets (a group
      // with new data in the SAME batch would not time out — hence two
      // pusher batches; pushers use unrelated text and filtered-out ids)
      mem.addData(DedupStream.DocRow(10001L, ts(5000),
        "first watermark pusher with completely different words here"))
      q.processAllAvailable()
      mem.addData(DedupStream.DocRow(10002L, ts(5001),
        "second watermark pusher also sharing nothing with the template"))
      q.processAllAvailable()
      // batch 4: same template text again — docs 1/2's state is GONE, so
      // only the new in-horizon pair (3, 4) may emit
      mem.addData(DedupStream.DocRow(3L, ts(5100), template),
        DedupStream.DocRow(4L, ts(5105), template))
      q.processAllAvailable()
      val hits = spark.table("ndhorizon").as[DedupStream.NearDupHit]
        .collect().map(h => (h.a, h.b)).toSet
        .filter(p => p._1 < 10000L && p._2 < 10000L) // drop pusher pairs
      assert(hits == Set((1L, 2L), (3L, 4L)),
        s"expected horizon eviction to suppress cross-horizon pairs, got $hits")
    } finally q.stop()
  }

  test("streamed dedup-index appends == batch appendToDedupIndex, pair-exact") {
    val spark = TestSpark.spark
    import spark.implicits._
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    def doc(i: Long) = (i, (0 until 10).map(j =>
      words(((i / 3) + j).toInt % words.length)).mkString(" "))
    val b1 = (0L until 20L).map(doc)
    val b2 = (20L until 40L).map(doc)
    val b3 = (40L until 50L).map(doc)

    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Double]("est_jaccard"))).toSet

    // batch truth: two explicit appends against an index built from b1
    val bDir = java.nio.file.Files.createTempDirectory("idxsinkb").toString
    graft.ops.Dedup.buildDedupIndex(b1.toDF("doc_id", "text"),
      "doc_id", "text", bDir, shingleSize = 2, numHashes = 8)
    val p2 = toSet(graft.ops.Dedup.appendToDedupIndex(b2.toDF("doc_id", "text"),
      "doc_id", "text", bDir, rowsPerBand = 2, threshold = 0.5))
    val p3 = toSet(graft.ops.Dedup.appendToDedupIndex(b3.toDF("doc_id", "text"),
      "doc_id", "text", bDir, rowsPerBand = 2, threshold = 0.5))

    // streamed: the same two batches through the foreachBatch sink
    val sDir = java.nio.file.Files.createTempDirectory("idxsinks").toString
    val outDir = java.nio.file.Files.createTempDirectory("idxsinko").toString
    graft.ops.Dedup.buildDedupIndex(b1.toDF("doc_id", "text"),
      "doc_id", "text", sDir, shingleSize = 2, numHashes = 8)
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = DedupStream.indexAppendSink(mem.toDS().toDF("doc_id", "text"),
      "doc_id", "text", sDir, outDir, rowsPerBand = 2, threshold = 0.5)
      .start()
    try {
      mem.addData(b2: _*)
      q.processAllAvailable()
      mem.addData(b3: _*)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = toSet(spark.read.parquet(s"$outDir/batch=0")
      .unionByName(spark.read.parquet(s"$outDir/batch=1")))
    assert(streamed == (p2 ++ p3) && p2.nonEmpty && p3.nonEmpty)
    // and the streamed index committed every batch's signatures
    assert(spark.read.parquet(s"$sDir/signatures").count() == 50L)
  }

  test("index append replay: redelivered batch leaves the signature table unchanged") {
    val spark = TestSpark.spark
    import spark.implicits._
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    def doc(i: Long) = (i, (0 until 10).map(j =>
      words(((i / 3) + j).toInt % words.length)).mkString(" "))
    val dir = java.nio.file.Files.createTempDirectory("idxreplay").toString
    val outDir = java.nio.file.Files.createTempDirectory("idxreplayo").toString
    graft.ops.Dedup.buildDedupIndex((0L until 20L).map(doc).toDF("doc_id", "text"),
      "doc_id", "text", dir, shingleSize = 2, numHashes = 8)
    assert(DedupStream.committedBatchId(spark, dir) == -1L)

    def pairsOut() = spark.read.parquet(s"$outDir/batch=0")
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Double]("est_jaccard"))).toSet

    val batch = (20L until 40L).map(doc).toDF("doc_id", "text")
    DedupStream.processIndexBatch(batch, 0L, "doc_id", "text", dir, outDir)
    val sigsAfterFirst = spark.read.parquet(s"$dir/signatures").count()
    val pairsFirst = pairsOut()
    assert(sigsAfterFirst == 40L)
    assert(DedupStream.committedBatchId(spark, dir) == 0L)
    assert(pairsFirst.nonEmpty)

    // the SAME batch redelivered (foreachBatch replay after a restart):
    // the signature append must be skipped, the pairs output identical
    DedupStream.processIndexBatch(batch, 0L, "doc_id", "text", dir, outDir)
    assert(spark.read.parquet(s"$dir/signatures").count() == sigsAfterFirst)
    assert(DedupStream.committedBatchId(spark, dir) == 0L)
    assert(pairsOut() == pairsFirst)

    // the NEXT batch still appends normally
    DedupStream.processIndexBatch((40L until 50L).map(doc).toDF("doc_id", "text"),
      1L, "doc_id", "text", dir, outDir)
    assert(spark.read.parquet(s"$dir/signatures").count() == 50L)
    assert(DedupStream.committedBatchId(spark, dir) == 1L)
  }

  test("index replay near the bucket cap reproduces the original pairs exactly") {
    val spark = TestSpark.spark
    import spark.implicits._
    // 5 indexed + 4 batch copies of one text: bucket membership is 9 on
    // the original run (under maxBucket=10, pairs emit). A replay that
    // kept the batch's committed signatures on the stored side would see
    // 9 + 4 = 13 members, drop the bucket wholesale, and write ZERO pairs
    // — the excludeProbeFromStored replay mode must reproduce all 26
    val template = "lorem ipsum dolor sit amet consectetur adipiscing elit"
    val dir = java.nio.file.Files.createTempDirectory("idxcap").toString
    val outDir = java.nio.file.Files.createTempDirectory("idxcapo").toString
    graft.ops.Dedup.buildDedupIndex(
      (0L until 5L).map(i => (i, template)).toDF("doc_id", "text"),
      "doc_id", "text", dir, shingleSize = 2, numHashes = 8)
    val batch = (10L until 14L).map(i => (i, template)).toDF("doc_id", "text")
    def pairsOut() = spark.read.parquet(s"$outDir/batch=0")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    DedupStream.processIndexBatch(batch, 0L, "doc_id", "text", dir, outDir,
      maxBucket = 10)
    val first = pairsOut()
    assert(first.size == 26) // 4 new x 5 old + C(4,2) within-batch
    DedupStream.processIndexBatch(batch, 0L, "doc_id", "text", dir, outDir,
      maxBucket = 10)
    assert(pairsOut() == first,
      "replay near the cap diverged from the original pair output")
  }

  test("warm bucket never pairs docs more than a horizon apart") {
    val spark = TestSpark.spark
    import spark.implicits._
    val template = "lorem ipsum dolor sit amet consectetur adipiscing elit"
    val base = 1700000000000L
    def d(id: Long, sec: Long) =
      DedupStream.DocRow(id, new java.sql.Timestamp(base + sec * 1000L), template)
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[DedupStream.DocRow]
    val q = DedupStream.nearDupPairs(mem.toDS(), maxHamming = 3,
      horizonSeconds = 60, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("ndwarm").outputMode("append")
      .start()
    try {
      // one identical doc every 50-60 s keeps the bucket WARM forever; the
      // per-pair horizon must still exclude pairs > 60 s apart
      Seq(d(1L, 0), d(2L, 50), d(3L, 110), d(4L, 170)).foreach { doc =>
        mem.addData(doc)
        q.processAllAvailable()
      }
      val hits = spark.table("ndwarm").as[DedupStream.NearDupHit]
        .collect().map(h => (h.a, h.b)).toSet
      assert(hits == Set((1L, 2L), (2L, 3L), (3L, 4L)),
        s"expected only adjacent in-horizon pairs, got $hits")
    } finally q.stop()
  }

  test("cluster maintenance sink: streamed labels == full components recompute; replay converges") {
    val spark = TestSpark.spark
    import spark.implicits._
    // 10 DISJOINT clusters of 5 identical docs (per-group vocabularies
    // share nothing): later batches touch only their own clusters, so the
    // partial-rewrite assertion below is satisfiable
    def doc(i: Long) = (i, (0 until 10).map(j => s"w${i / 5}x$j").mkString(" "))
    val all = (0L until 50L).map(doc)
    val batches = Seq(all.take(20), all.slice(20, 40), all.drop(40))

    // empty initial index: every pair of the streamed corpus is discovered
    // when its later member arrives, so the union of per-batch pairs is
    // the full estimated pair set
    val idxDir = java.nio.file.Files.createTempDirectory("clmidx").toString
    val outDir = java.nio.file.Files.createTempDirectory("clmout").toString
    val labDir = java.nio.file.Files.createTempDirectory("clmlab").toString + "/labels"
    graft.ops.Dedup.buildDedupIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text", idxDir, shingleSize = 2, numHashes = 8)
    batches.zipWithIndex.foreach { case (b, i) =>
      DedupStream.processClusterBatch(b.toDF("doc_id", "text"), i.toLong,
        "doc_id", "text", idxDir, outDir, labDir)
    }
    def labelMap() = spark.read.parquet(labDir).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("component")).toMap

    // ground truth: components over the full corpus's estimated pair set
    val truth = graft.ops.Dedup.components(
      graft.ops.Dedup.nearDuplicatesEstimated(all.toDF("doc_id", "text"),
        "doc_id", "text", shingleSize = 2, numHashes = 8, rowsPerBand = 2,
        threshold = 0.5))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val streamed = labelMap()
    assert(streamed == truth && truth.nonEmpty)

    // the labels table is node-hash bucketed for partial rewrites
    val bucketDirs = new java.io.File(labDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("lbucket="))
    assert(bucketDirs.nonEmpty)
    def fileState() = bucketDirs.flatMap(d => d.listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> f.lastModified())).toMap

    // replay of the last batch: signature append skipped, label merge
    // idempotent — the labels table converges to the same state, and only
    // the buckets holding the replayed delta's nodes are rewritten
    val before = fileState()
    DedupStream.processClusterBatch(batches.last.toDF("doc_id", "text"), 2L,
      "doc_id", "text", idxDir, outDir, labDir)
    assert(labelMap() == truth)
    assert(spark.read.parquet(s"$idxDir/signatures").count() == 50L)
    val after = fileState()
    val untouched = before.keySet.intersect(after.keySet)
      .count(p => before(p) == after(p))
    assert(untouched > 0,
      "replay rewrote every bucket — the partial-rewrite path is not partial")

    // the bucket count is part of the on-disk layout: a mismatched value
    // would strand stale rows in old partitions — it must fail loudly
    val e = intercept[IllegalArgumentException] {
      DedupStream.processClusterBatch(batches.last.toDF("doc_id", "text"),
        2L, "doc_id", "text", idxDir, outDir, labDir, nBuckets = 16)
    }
    assert(e.getMessage.contains("nBuckets"))
  }

  test("streamed ANN appends == batch appendToAnnIndex (same partitions, same neighbors)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val dirs = Seq(Array(10.0, 0.0, 0.0, 0.0), Array(0.0, 10.0, 0.0, 0.0),
      Array(0.0, 0.0, 10.0, 0.0))
    val base = dirs.zipWithIndex.flatMap { case (dv, b) =>
      (0 until 20).map { j =>
        ((b * 20 + j).toLong, dv.map(_ + rnd.nextGaussian() * 0.3))
      }
    }
    val plants = base.filter(_._1 % 20 == 0).map { case (i, v) =>
      (i + 1000L, v.map(_ + rnd.nextGaussian() * 0.05))
    }
    val dir = java.nio.file.Files.createTempDirectory("annsink").toString
    graft.ops.Similarity.buildAnnIndex(base.toDF("vec_id", "embedding"),
      dir, nClusters = 3, iters = 5)

    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Double])]
    val q = DedupStream.annAppendSink(
      mem.toDS().toDF("vec_id", "embedding"), dir).start()
    try {
      mem.addData(plants.take(2): _*)
      q.processAllAvailable()
      mem.addData(plants.drop(2): _*)
      q.processAllAvailable()
    } finally q.stop()

    // every streamed plant is its source vector's nearest indexed neighbor
    val queries = base.filter(_._1 % 20 == 0).toDF("vec_id", "embedding")
    val got = graft.ops.Similarity.searchAnnIndexed(spark, dir, queries,
      k = 1, nprobe = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    plants.foreach { case (pid, _) =>
      assert(got(pid - 1000L) == pid, s"plant $pid not found via the index")
    }

    // replay: redelivering the last batch must not duplicate its vectors
    val nVecs = spark.read.parquet(s"$dir/vectors").count()
    DedupStream.processAnnBatch(plants.drop(2).toDF("vec_id", "embedding"),
      1L, dir)
    assert(spark.read.parquet(s"$dir/vectors").count() == nVecs)
    assert(DedupStream.committedBatchId(spark, dir) == 1L)
  }

  test("streamed PQ appends == batch appendToPqIndex; replay appends nothing") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val dim = 16
    val dirsV = Seq(
      Array.tabulate(dim)(i => if (i < 8) 10.0 else 0.0),
      Array.tabulate(dim)(i => if (i >= 8) 10.0 else 0.0))
    val base = dirsV.zipWithIndex.flatMap { case (dv, b) =>
      (0 until 25).map { j =>
        ((b * 25 + j).toLong, dv.map(_ + rnd.nextGaussian() * 0.3))
      }
    }
    val batch1 = base.filter(_._1 % 10 == 0).map { case (i, v) =>
      (i + 1000L, v.map(_ + rnd.nextGaussian() * 0.05))
    }
    val batch2 = base.filter(_._1 % 10 == 5).map { case (i, v) =>
      (i + 2000L, v.map(_ + rnd.nextGaussian() * 0.05))
    }

    // twin indexes: one fed by explicit batch appends, one by the sink body
    val bDir = java.nio.file.Files.createTempDirectory("pqsinkb").toString
    val sDir = java.nio.file.Files.createTempDirectory("pqsinks").toString
    Seq(bDir, sDir).foreach { p =>
      graft.ops.Similarity.buildPqIndex(base.toDF("vec_id", "embedding"),
        p, nClusters = 2, dim = dim, nSub = 4, pqK = 4, iters = 3)
    }
    graft.ops.Similarity.appendToPqIndex(batch1.toDF("vec_id", "embedding"),
      bDir, dim, nSub = 4)
    graft.ops.Similarity.appendToPqIndex(batch2.toDF("vec_id", "embedding"),
      bDir, dim, nSub = 4)
    DedupStream.processPqBatch(batch1.toDF("vec_id", "embedding"), 0L,
      sDir, dim, nSub = 4)
    DedupStream.processPqBatch(batch2.toDF("vec_id", "embedding"), 1L,
      sDir, dim, nSub = 4)

    def search(p: String) = graft.ops.Similarity.searchPqIndexed(spark, p,
      base.filter(_._1 % 10 == 0).toDF("vec_id", "embedding"),
      dim, nSub = 4, pqK = 4, topK = 3, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(search(sDir) == search(bDir) && search(bDir).nonEmpty)

    // replay of the last batch: the codes table must not grow
    val nCodes = spark.read.parquet(s"$sDir/codes").count()
    DedupStream.processPqBatch(batch2.toDF("vec_id", "embedding"), 1L,
      sDir, dim, nSub = 4)
    assert(spark.read.parquet(s"$sDir/codes").count() == nCodes)
    assert(DedupStream.committedBatchId(spark, sDir) == 1L)
  }

  test("streaming decontamination == batch Curate.decontaminate") {
    val spark = TestSpark.spark
    import spark.implicits._
    val eval = Seq(
      (1000L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1001L, "one two three four five six"))
    val corpus = Seq(
      (0L, "noise alpha beta gamma delta epsilon tail"), // 3 shared 3-grams
      (1L, "one two three something four five six"),     // 2 + 2 -> 4? see batch
      (2L, "nothing in common with the benchmark here"),
      (3L, "alpha beta gamma padding one two three"))    // 1 + 1 = 2 shared
    val all = (eval ++ corpus).toDF("doc_id", "text")
    val isEval = col("doc_id") >= 1000L
    val batch = graft.ops.Curate.decontaminate(all, "doc_id", "text",
      isEval, shingleSize = 3, minShared = 3)
      .as[(Long, Long)].collect().toSet

    // static eval gram set = what the batch operator derives internally
    val evalGrams = graft.ops.Dedup.shingles(
      all.filter(isEval), "doc_id", "text", 3).select("shingle").distinct()

    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = EventsStream.decontaminateStream(
      mem.toDS().toDF("doc_id", "text"), "doc_id", "text",
      evalGrams, shingleSize = 3, minShared = 3)
      .writeStream.format("memory").queryName("deconeq").outputMode("append")
      .start()
    try {
      mem.addData(corpus.take(2): _*)
      q.processAllAvailable()
      mem.addData(corpus.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("deconeq")
        .as[(Long, Long)].collect().toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("stream-static-join decontamination == batch (unbounded eval path)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val eval = Seq(
      (1000L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1001L, "one two three four five six"))
    val corpus = Seq(
      (0L, "noise alpha beta gamma delta epsilon tail"),
      (1L, "one two three something four five six"),
      (2L, "nothing in common with the benchmark here"),
      (3L, "alpha beta gamma padding one two three"))
    val all = (eval ++ corpus).toDF("doc_id", "text")
    val isEval = col("doc_id") >= 1000L
    val batch = graft.ops.Curate.decontaminate(all, "doc_id", "text",
      isEval, shingleSize = 3, minShared = 3)
      .as[(Long, Long)].collect().toSet

    // eval grams stay a DataFrame — never collected to the driver
    val evalGrams = graft.ops.Dedup.shingles(
      all.filter(isEval), "doc_id", "text", 3).select("shingle").distinct()

    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String)]
    val base = 1700000000000L
    val withTs = corpus.zipWithIndex.map { case ((id, text), i) =>
      (id, new java.sql.Timestamp(base + i * 1000L), text)
    }
    val q = EventsStream.decontaminateStreamJoin(
      mem.toDS().toDF("doc_id", "ts", "text"), "doc_id", "text", "ts",
      evalGrams, shingleSize = 3, minShared = 3, watermark = "0 seconds")
      .writeStream.format("memory").queryName("deconjoineq")
      .outputMode("append")
      .start()
    try {
      mem.addData(withTs.take(2): _*)
      q.processAllAvailable()
      mem.addData(withTs.drop(2): _*)
      q.processAllAvailable()
      // append mode emits a doc only once the watermark passes its ts —
      // push the watermark with a late no-match row, as a real feed would
      mem.addData((99L, new java.sql.Timestamp(base + 3600 * 1000L),
        "watermark pusher with no shared grams"))
      q.processAllAvailable()
      val streamed = spark.table("deconjoineq")
        .as[(Long, Long)].collect().toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("in-place index rebuild clears the stream_commit replay marker") {
    val spark = TestSpark.spark
    import spark.implicits._
    def doc(i: Long) = (i, s"tok${i / 2} filler words shared $i")
    val dir = java.nio.file.Files.createTempDirectory("rebuildwm").toString
    val outDir = java.nio.file.Files.createTempDirectory("rebuildwmo").toString

    graft.ops.Dedup.buildDedupIndex((0L until 4L).map(doc)
      .toDF("doc_id", "text"), "doc_id", "text", dir)
    DedupStream.processIndexBatch((4L until 8L).map(doc)
      .toDF("doc_id", "text"), 0L, "doc_id", "text", dir, outDir)
    assert(DedupStream.committedBatchId(spark, dir) == 0L)

    // rebuild in place: a FRESH query's batchIds restart at 0 — a stale
    // marker would make its batch 0 replay read-only and never append
    graft.ops.Dedup.buildDedupIndex((0L until 4L).map(doc)
      .toDF("doc_id", "text"), "doc_id", "text", dir)
    assert(DedupStream.committedBatchId(spark, dir) == -1L,
      "rebuild left the old replay high-watermark behind")
    DedupStream.processIndexBatch((4L until 8L).map(doc)
      .toDF("doc_id", "text"), 0L, "doc_id", "text", dir, outDir)
    assert(spark.read.parquet(s"$dir/signatures")
      .select("id").distinct().count() == 8L,
      "fresh batch 0 after rebuild did not append its signatures")

    // same contract for the ANN index
    val annDir = java.nio.file.Files.createTempDirectory("rebuildann").toString
    def vecs(ids: Range) = ids.map(i =>
      (i.toLong, Array.tabulate(8)(j => (i * j).toDouble + 1.0)))
      .toDF("vec_id", "embedding")
    graft.ops.Similarity.buildAnnIndex(vecs(0 until 6), annDir, nClusters = 2)
    DedupStream.processAnnBatch(vecs(6 until 9), 0L, annDir)
    assert(DedupStream.committedBatchId(spark, annDir) == 0L)
    graft.ops.Similarity.buildAnnIndex(vecs(0 until 6), annDir, nClusters = 2)
    assert(DedupStream.committedBatchId(spark, annDir) == -1L)
    DedupStream.processAnnBatch(vecs(6 until 9), 0L, annDir)
    assert(spark.read.parquet(s"$annDir/vectors").count() == 9L,
      "ANN batch 0 after rebuild was dropped as a replay")

    // and for the PQ, BM25 and DSIR indexes: (build, stream batch 0, rows
    // the index holds for the build's input alone)
    val docs = (0L until 6L).map(doc).toDF("doc_id", "text")
    val isT = col("doc_id") % 2 === 0
    def dsirDocs(p: String) = spark.read.parquet(s"$p/buckets")
      .agg(sum(col("cs") + col("ct"))).head().getLong(0)
    Seq[(String, String => Unit, String => Unit, String => Long)](
      ("rebuildpq",
        graft.ops.Similarity.buildPqIndex(vecs(0 until 6), _, nClusters = 2,
          dim = 8, nSub = 2, pqK = 2, iters = 1),
        DedupStream.processPqBatch(vecs(6 until 9), 0L, _, 8, 2),
        p => spark.read.parquet(s"$p/codes").count()),
      ("rebuildbm25",
        graft.ops.TextAnalysis.buildBm25Index(docs.filter(col("doc_id") < 4),
          "doc_id", "text", _, nBuckets = 4),
        DedupStream.processBm25Batch(docs.filter(col("doc_id") >= 4), 0L,
          "doc_id", "text", _),
        p => spark.read.parquet(s"$p/doclens").count()),
      ("rebuilddsir",
        graft.ops.TextAnalysis.buildDsirIndex(docs.filter(col("doc_id") < 4),
          "doc_id", "text", isT, _, nBuckets = 16),
        DedupStream.processDsirBatch(docs.filter(col("doc_id") >= 4), 0L,
          "doc_id", "text", isT, _),
        dsirDocs)).foreach { case (name, build, batch0, size) =>
      val p = java.nio.file.Files.createTempDirectory(name).toString
      build(p)
      val built = size(p)
      batch0(p)
      assert(DedupStream.committedBatchId(spark, p) == 0L, name)
      build(p)
      assert(DedupStream.committedBatchId(spark, p) == -1L,
        s"$name: rebuild left the old replay high-watermark behind")
      assert(size(p) == built, name)
      batch0(p)
      assert(size(p) > built, s"$name: batch 0 after rebuild was dropped as a replay")
    }
  }

  test("near-MaxValue horizon means keep-everything, not overflow-suppressed") {
    val spark = TestSpark.spark
    import spark.implicits._
    val template = "lorem ipsum dolor sit amet consectetur adipiscing elit"
    val base = 1700000000000L
    def d(id: Long, sec: Long) =
      DedupStream.DocRow(id, new java.sql.Timestamp(base + sec * 1000L), template)
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[DedupStream.DocRow]
    // horizonSeconds * 1000 would wrap negative without the saturating
    // conversion — every pair then silently fails the per-pair gate
    val q = DedupStream.nearDupPairs(mem.toDS(), maxHamming = 3,
      horizonSeconds = Long.MaxValue, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("ndhuge").outputMode("append")
      .start()
    try {
      Seq(d(1L, 0), d(2L, 365L * 24 * 3600)).foreach { doc =>
        mem.addData(doc)
        q.processAllAvailable()
      }
      val hits = spark.table("ndhuge").as[DedupStream.NearDupHit]
        .collect().map(h => (h.a, h.b)).toSet
      assert(hits == Set((1L, 2L)),
        s"a year-apart pair under a MaxValue horizon must emit, got $hits")
    } finally q.stop()
  }

  test("deleted-and-recreated labels table re-pins nBuckets instead of trusting the JVM cache") {
    val spark = TestSpark.spark
    import spark.implicits._
    def doc(i: Long) = (i, (0 until 10).map(j => s"w${i / 5}x$j").mkString(" "))
    val root = java.nio.file.Files.createTempDirectory("labrepin").toString
    val idxDir = s"$root/idx"
    val outDir = s"$root/pairs"
    val labDir = s"$root/labels"
    graft.ops.Dedup.buildDedupIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text", idxDir)
    DedupStream.processClusterBatch((0L until 10L).map(doc)
      .toDF("doc_id", "text"), 0L, "doc_id", "text", idxDir, outDir, labDir,
      nBuckets = 4)

    // wipe the table AND its meta (plus the index, so batch 0 re-ingests)
    import scala.reflect.io.Directory
    new Directory(new java.io.File(root)).deleteRecursively()
    graft.ops.Dedup.buildDedupIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text", idxDir)
    // a different nBuckets must be accepted now — the stale cached pin (4)
    // would spuriously reject it
    DedupStream.processClusterBatch((0L until 10L).map(doc)
      .toDF("doc_id", "text"), 0L, "doc_id", "text", idxDir, outDir, labDir,
      nBuckets = 8)
    val pinned = spark.read.parquet(s"${labDir}_meta")
      .head().getAs[Int]("n_buckets")
    assert(pinned == 8, s"recreated table pinned nBuckets=$pinned, want 8")
  }

  test("as-of enrichment sink: streamed union == batch asofBackward") {
    val spark = TestSpark.spark
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val rnd = new scala.util.Random(3)
    val leftRows = (0 until 120).map(i =>
      (i.toLong, (rnd.nextInt(4) + 1).toLong, ts(rnd.nextInt(500).toLong)))
    val right = (1 to 4).flatMap(k =>
      rnd.shuffle((0 until 500).toList).take(25).map(t =>
        (k.toLong, ts(t.toLong), rnd.nextDouble()))).toDF("k", "ts", "v")
    val batchTruth = graft.ops.AsofJoin.asofBackward(
      leftRows.toDF("id", "k", "ts"), right, Seq("k"), "ts", Seq("v"))
      .select($"id", $"asof_v").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap

    val out = java.nio.file.Files.createTempDirectory("asofsink").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, java.sql.Timestamp)]
    val q = EventsStream.asofEnrichSink(
      mem.toDS().toDF("id", "k", "ts"), right, Seq("k"), "ts", Seq("v"),
      out).start()
    try {
      val (h1, h2) = leftRows.splitAt(60)
      mem.addData(h1.toIndexedSeq: _*); q.processAllAvailable()
      mem.addData(h2.toIndexedSeq: _*); q.processAllAvailable()
      val streamed = spark.read.parquet(out)
        .select($"id", $"asof_v").collect()
        .map(r => r.getLong(0) -> Option(r.get(1))).toMap
      assert(streamed == batchTruth)
      assert(batchTruth.values.exists(_.nonEmpty))
    } finally q.stop()
  }

  test("curate sink: streamed union == batch curate; replay appends nothing") {
    val spark = TestSpark.spark
    import spark.implicits._
    val cfg = graft.ops.Curate.Config(minTokens = 5, shingleSize = 2,
      numHashes = 8, rowsPerBand = 2, nearDupThreshold = 0.5,
      estimatedVerify = true)
    // 6 near-dup families of 4 one-token variants, exact copies of each
    // family head, and sub-minTokens junk — every cascade stage has work
    def famDoc(g: Long, m: Int): String = {
      val toks = (0 until 10).map(j => s"w${g}x$j").toArray
      if (m > 0) toks(m) = s"v${g}m$m"
      toks.mkString(" ")
    }
    val fams = for (g <- 0L until 6L; m <- 0 until 4)
      yield (g * 4 + m, famDoc(g, m))
    val copies = (0L until 6L).map(g => (100L + g, famDoc(g, 0)))
    val junk = (200L until 206L).map(i => (i, "tiny doc"))
    val all = (fams ++ copies ++ junk).sortBy(_._1)
    // ids increase across batches — the arrival order under which
    // keep-first-arrival IS the batch cascade's keep-lowest-id
    val batches = Seq(all.filter(_._1 < 8L),
      all.filter(x => x._1 >= 8L && x._1 < 100L), all.filter(_._1 >= 100L))

    val idxDir = java.nio.file.Files.createTempDirectory("curidx").toString
    val outDir = java.nio.file.Files.createTempDirectory("curout").toString
    graft.ops.Dedup.buildDedupIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text",
      idxDir, shingleSize = cfg.shingleSize, numHashes = cfg.numHashes)
    batches.zipWithIndex.foreach { case (b, i) =>
      DedupStream.processCurateBatch(b.toDF("doc_id", "text"), i.toLong,
        "doc_id", "text", idxDir, outDir, cfg)
    }
    def streamedIds() = spark.read.parquet(s"$outDir/docs")
      .select("doc_id").as[Long].collect().toSet
    val batchKept = graft.ops.Curate.curate(all.toDF("doc_id", "text"),
      "doc_id", "text", cfg).select("doc_id").as[Long].collect().toSet
    val streamed = streamedIds()
    assert(streamed == batchKept)
    // every stage actually dropped something (non-vacuous fixture)
    assert(junk.map(_._1).toSet.intersect(streamed).isEmpty)
    assert(copies.map(_._1).toSet.intersect(streamed).isEmpty)
    assert(streamed.size < fams.size,
      "near-dup stage dropped nothing — fixture families too dissimilar")
    assert(streamed.nonEmpty)

    // replay of the last batch: outputs identical, index/hashes unchanged
    val sigCount = spark.read.parquet(s"$idxDir/signatures").count()
    val hashCount = spark.read.parquet(s"$outDir/hashes").count()
    DedupStream.processCurateBatch(batches.last.toDF("doc_id", "text"), 2L,
      "doc_id", "text", idxDir, outDir, cfg)
    assert(streamedIds() == batchKept)
    assert(spark.read.parquet(s"$idxDir/signatures").count() == sigCount)
    assert(spark.read.parquet(s"$outDir/hashes").count() == hashCount)

    // the hash-bucket layout is pinned — a mismatch must fail loudly
    val e = intercept[IllegalArgumentException] {
      DedupStream.processCurateBatch(batches.last.toDF("doc_id", "text"),
        2L, "doc_id", "text", idxDir, outDir, cfg, nHashBuckets = 8)
    }
    assert(e.getMessage.contains("nHashBuckets"))
  }

  test("stream-stream interval join of sf0.001 events == batch inequality join") {
    val spark = TestSpark.spark
    import spark.implicits._
    val events = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purch = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"), col("ts"),
        col("value"))

    val batch = clicks.alias("l").join(purch.alias("r"),
      col("l.user_id") === col("r.user_id") &&
        abs(unix_timestamp(col("r.ts")) - unix_timestamp(col("l.ts"))) <= 120)
      .select(col("l.event_id"), col("r.pid"))
      .as[(Long, Long)].collect().toSet
    assert(batch.nonEmpty, "vacuous fixture")

    // stage both sides as parquet (the NTZ round-trip included) and join
    // the two file-source streams with the time-range condition
    val lDir = java.nio.file.Files.createTempDirectory("ssjl").toString
    val rDir = java.nio.file.Files.createTempDirectory("ssjr").toString
    clicks.write.mode("overwrite").parquet(lDir)
    purch.write.mode("overwrite").parquet(rDir)
    val q = EventsStream.streamIntervalJoin(
      spark.readStream.schema(clicks.schema).parquet(lDir),
      spark.readStream.schema(purch.schema).parquet(rDir),
      Seq("user_id"), "ts", withinSeconds = 120)
      .select(col("event_id"), col("r_pid"))
      .writeStream.format("memory").queryName("ssj").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ssj").as[(Long, Long)].collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("left-outer stream interval join == batch left join once the watermark flushes") {
    val spark = TestSpark.spark
    import spark.implicits._
    val events = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purch = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"), col("ts"))

    val batch = clicks.alias("l").join(purch.alias("r"),
      col("l.user_id") === col("r.user_id") &&
        abs(unix_timestamp(col("r.ts")) - unix_timestamp(col("l.ts"))) <= 120,
      "left_outer")
      .select(col("l.event_id"),
        coalesce(col("r.pid"), lit(-1L)).as("pid"))
      .as[(Long, Long)].collect().toSet
    assert(batch.exists(_._2 == -1L), "vacuous fixture: no unmatched lefts")

    val lDir = java.nio.file.Files.createTempDirectory("ssol").toString
    val rDir = java.nio.file.Files.createTempDirectory("ssor").toString
    clicks.write.mode("overwrite").parquet(lDir)
    purch.write.mode("overwrite").parquet(rDir)
    val q = EventsStream.streamIntervalJoin(
      spark.readStream.schema(clicks.schema).parquet(lDir),
      spark.readStream.schema(purch.schema).parquet(rDir),
      Seq("user_id"), "ts", withinSeconds = 120, watermark = "10 minutes",
      joinType = "left_outer")
      .select(col("event_id"), coalesce(col("r_pid"), lit(-1L)).as("pid"))
      .writeStream.format("memory").queryName("ssoj").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      // null results for trailing lefts flush only after the watermark
      // passes their ts + within: push sentinel rows (a key no row joins)
      // far past max(ts) on BOTH sides until the output stabilizes at the
      // batch answer — each write forces another micro-batch, and the
      // first advances the watermark past every real row
      // derived from max(ts) via column ops so the sentinel's ts TYPE
      // matches whatever the parquet round-trip produced (NTZ or not)
      val maxTsRow = events.agg(max(col("ts")).as("ts"))
      // the sentinels themselves are unmatched lefts (key -1): exclude
      def streamed() = spark.table("ssoj").as[(Long, Long)].collect().toSet
        .filterNot(_._1 <= -1000L)
      var attempt = 0
      while (streamed() != batch && attempt < 5) {
        val far = col("ts") + expr(s"INTERVAL ${attempt + 2} HOURS")
        maxTsRow.select(lit(-1000L - attempt).as("event_id"),
          lit(-1L).as("user_id"), far.as("ts"))
          .write.mode("append").parquet(lDir)
        maxTsRow.select(lit(-2000L - attempt).as("pid"),
          lit(-1L).as("user_id"), far.as("ts"))
          .write.mode("append").parquet(rDir)
        q.processAllAvailable()
        attempt += 1
      }
      assert(streamed() == batch)
    } finally q.stop()
  }

  test("streamed BM25 appends == batch appendToBm25Index; replay appends nothing") {
    val spark = TestSpark.spark
    import spark.implicits._
    val base = Seq(
      (0L, "spark scan merge shuffle join"),
      (1L, "batch merge merge compaction"),
      (2L, "storage layout and file boundaries"),
      (3L, "scan the table then scan it again"))
    val batch1 = Seq((10L, "merge scan probe"), (11L, "unrelated words here"))
    val batch2 = Seq((20L, "scan scan scan merge"), (21L, "batch probe"))

    // twin indexes: one fed by explicit batch appends, one by the sink body
    val bDir = java.nio.file.Files.createTempDirectory("bm25sinkb").toString
    val sDir = java.nio.file.Files.createTempDirectory("bm25sinks").toString
    Seq(bDir, sDir).foreach { p =>
      graft.ops.TextAnalysis.buildBm25Index(base.toDF("doc_id", "text"),
        "doc_id", "text", p, nBuckets = 8)
    }
    graft.ops.TextAnalysis.appendToBm25Index(batch1.toDF("doc_id", "text"),
      "doc_id", "text", bDir)
    graft.ops.TextAnalysis.appendToBm25Index(batch2.toDF("doc_id", "text"),
      "doc_id", "text", bDir)
    DedupStream.processBm25Batch(batch1.toDF("doc_id", "text"), 0L,
      "doc_id", "text", sDir)
    DedupStream.processBm25Batch(batch2.toDF("doc_id", "text"), 1L,
      "doc_id", "text", sDir)

    def search(p: String) = graft.ops.TextAnalysis.searchBm25Indexed(spark,
      p, Seq("scan", "merge", "batch"), topK = 20)
      .select(col("id"), round(col("score"), 6).as("score"),
        col("n_matched"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    val fromSink = search(sDir)
    assert(fromSink == search(bDir))
    // appended docs actually score (the delta stats folded in)
    assert(fromSink.exists(_._1 == 20L) && fromSink.exists(_._1 == 10L))

    // replay of the last batch: postings, doclens, and stats must not grow
    def counts(p: String) = Seq("postings", "doclens", "stats")
      .map(t => spark.read.parquet(s"$p/$t").count())
    val before = counts(sDir)
    DedupStream.processBm25Batch(batch2.toDF("doc_id", "text"), 1L,
      "doc_id", "text", sDir)
    assert(counts(sDir) == before)
    assert(DedupStream.committedBatchId(spark, sDir) == 1L)
  }

  test("streamed DSIR appends == batch appendToDsirIndex; replay appends nothing") {
    val spark = TestSpark.spark
    import spark.implicits._
    val base = Seq(
      (0L, "en", "the quick brown fox jumps over the lazy dog"),
      (1L, "en", "a stitch in time saves nine every time"),
      (2L, "de", "der schnelle braune fuchs springt"),
      (3L, "de", "ein stich in der zeit spart neun"))
    val batch1 = Seq((10L, "en", "the fox jumps again and again"),
      (11L, "de", "der fuchs springt wieder"))
    val batch2 = Seq((20L, "en", "time saves the lazy dog"),
      (21L, "de", "zeit spart der hund"))
    val probe = Seq((100L, "the quick fox saves time"),
      (101L, "der schnelle hund springt"),
      (102L, "words the index never saw anywhere"))

    val bDir = java.nio.file.Files.createTempDirectory("dsirsinkb").toString
    val sDir = java.nio.file.Files.createTempDirectory("dsirsinks").toString
    Seq(bDir, sDir).foreach { p =>
      graft.ops.TextAnalysis.buildDsirIndex(
        base.toDF("doc_id", "lang", "text"), "doc_id", "text",
        col("lang") === "en", p, nBuckets = 32)
    }
    graft.ops.TextAnalysis.appendToDsirIndex(
      batch1.toDF("doc_id", "lang", "text"), "doc_id", "text",
      col("lang") === "en", bDir)
    graft.ops.TextAnalysis.appendToDsirIndex(
      batch2.toDF("doc_id", "lang", "text"), "doc_id", "text",
      col("lang") === "en", bDir)
    DedupStream.processDsirBatch(batch1.toDF("doc_id", "lang", "text"), 0L,
      "doc_id", "text", col("lang") === "en", sDir)
    DedupStream.processDsirBatch(batch2.toDF("doc_id", "lang", "text"), 1L,
      "doc_id", "text", col("lang") === "en", sDir)

    def score(p: String) = graft.ops.TextAnalysis.scoreDsirIndexed(spark,
      p, probe.toDF("doc_id", "text"), "doc_id", "text")
      .select(col("doc_id"), col("log_w"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val fromSink = score(sDir)
    assert(fromSink == score(bDir) && fromSink.size == probe.size)

    // replay of the last batch: the bucket delta table must not grow
    val nRows = spark.read.parquet(s"$sDir/buckets").count()
    DedupStream.processDsirBatch(batch2.toDF("doc_id", "lang", "text"), 1L,
      "doc_id", "text", col("lang") === "en", sDir)
    assert(spark.read.parquet(s"$sDir/buckets").count() == nRows)
    assert(DedupStream.committedBatchId(spark, sDir) == 1L)
  }

  test("scd2 sink: streamed merges == full build; replay rewrites nothing") {
    val spark = TestSpark.spark
    import spark.implicits._
    def ev(rows: Seq[(Long, String, Long, String)]) =
      rows.toDF("event_id", "s", "user_id", "event_type")
        .withColumn("ts", col("s").cast("timestamp")).drop("s")
    val b1 = Seq((1L, "2024-01-01 00:00:00", 7L, "a"),
      (2L, "2024-01-01 01:00:00", 7L, "b"),
      (3L, "2024-01-01 00:00:00", 8L, "x"))
    val b2 = Seq((4L, "2024-01-02 00:00:00", 7L, "a"),
      (5L, "2024-01-02 00:00:00", 9L, "p"))
    val dir = java.nio.file.Files.createTempDirectory("scd2sink").toString
    DedupStream.processScd2Batch(ev(b1), 0L, dir)
    DedupStream.processScd2Batch(ev(b2), 1L, dir)
    def hist(p: String) = spark.read.parquet(s"$p/history")
      .select(col("user_id"), col("state"),
        col("valid_from").cast("string"), col("valid_to").cast("string"),
        col("version"), col("is_current"))
      .collect().map(_.toString).toSet
    val full = java.nio.file.Files.createTempDirectory("scd2full").toString
    graft.relational.Scd2.init(ev(b1 ++ b2), full)
    assert(hist(dir) == hist(full))
    // replay of the last batch: committed marker skips it, history
    // byte-identical (file listing unchanged — merge never ran)
    val files = new java.io.File(s"$dir/history").list().sorted.toSeq
    DedupStream.processScd2Batch(ev(b2), 1L, dir)
    assert(new java.io.File(s"$dir/history").list().sorted.toSeq == files)
    assert(DedupStream.committedBatchId(spark, dir) == 1L)
    // and even WITHOUT the marker, Scd2's per-user watermark makes a
    // replay content-neutral (the belt-and-braces contract)
    graft.relational.Scd2.merge(spark, dir, ev(b2))
    assert(hist(dir) == hist(full))
  }

  test("scd2 sink outbox: per-trigger CDC deltas tail into the final history") {
    val spark = TestSpark.spark
    import spark.implicits._
    def ev(rows: Seq[(Long, String, Long, String)]) =
      rows.toDF("event_id", "s", "user_id", "event_type")
        .withColumn("ts", col("s").cast("timestamp")).drop("s")
    val b1 = Seq((1L, "2024-01-01 00:00:00", 7L, "a"),
      (2L, "2024-01-01 01:00:00", 7L, "b"),
      (3L, "2024-01-01 00:00:00", 8L, "x"))
    val b2 = Seq((4L, "2024-01-02 00:00:00", 7L, "a"),
      (5L, "2024-01-02 00:00:00", 9L, "p"))
    val dir = java.nio.file.Files.createTempDirectory("scd2co").toString
    val feed = java.nio.file.Files.createTempDirectory("scd2cof").toString
    DedupStream.processScd2Batch(ev(b1), 0L, dir, Some(feed))
    DedupStream.processScd2Batch(ev(b2), 1L, dir, Some(feed))
    // batch 0 bootstraps (3 inserts: 7/v1, 7/v2, 8/v1); batch 1 closes
    // 7's open interval and inserts 7/v3 + 9/v1
    val d0 = spark.read.parquet(s"$feed/batch=0")
      .select($"user_id", $"version", $"change_type")
      .as[(Long, Int, String)].collect().toSet
    assert(d0 == Set((7L, 1, "insert"), (7L, 2, "insert"),
      (8L, 1, "insert")))
    val d1 = spark.read.parquet(s"$feed/batch=1")
      .select($"user_id", $"version", $"change_type")
      .as[(Long, Int, String)].collect().toSet
    assert(d1 == Set((7L, 2, "close"), (7L, 3, "insert"),
      (9L, 1, "insert")))
    // redelivery: the batchId high-watermark skips the merge AND the
    // landed outbox dir survives untouched
    val before = spark.read.parquet(s"$feed/batch=1").collect().toSet
    DedupStream.processScd2Batch(ev(b2), 1L, dir, Some(feed))
    assert(spark.read.parquet(s"$feed/batch=1").collect().toSet == before)
  }

  test("scd2 enrich sink: streamed lookup == batch lookupAsOf on full dim") {
    val spark = TestSpark.spark
    import spark.implicits._
    def ev(rows: Seq[(Long, String, Long, String)]) =
      rows.toDF("event_id", "s", "user_id", "event_type")
        .withColumn("ts", col("s").cast("timestamp")).drop("s")
    // dimension: 12 users, two states each, spread across 8 buckets
    val dimEv = ev((0 until 24).map { i =>
      (i.toLong, s"2024-01-0${1 + i / 12} 00:00:00", (i % 12).toLong,
        if (i < 12) "a" else "b")
    })
    val dim = java.nio.file.Files.createTempDirectory("scd2en").toString
    graft.relational.Scd2.init(dimEv, dim, nBuckets = 8)
    // facts: before the first state (null match), inside v1, inside the
    // open v2, and a user the dimension has never seen
    val facts = Seq(
      (100L, java.sql.Timestamp.valueOf("2023-12-31 00:00:00"), 3L,
        "view", 1.0),
      (101L, java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 3L,
        "click", 1.0),
      (102L, java.sql.Timestamp.valueOf("2024-01-05 00:00:00"), 7L,
        "view", 1.0),
      (103L, java.sql.Timestamp.valueOf("2024-01-05 00:00:00"), 999L,
        "view", 1.0))
      .map(r => EventsStream.Event(r._1, r._2, r._3, r._4, r._5))
    val out = java.nio.file.Files.createTempDirectory("scd2eno").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[EventsStream.Event]
    val q = EventsStream.scd2EnrichSink(mem.toDF(), dim, "ts", out).start()
    try {
      mem.addData(facts: _*)
      q.processAllAvailable()
    } finally q.stop()
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select($"event_id", $"dim_state", $"dim_version")
        .as[(Long, Option[String], Option[Int])].collect().toSet
    val streamed = asSet(spark.read.parquet(s"$out/batch=0"))
    val fullHist = spark.read.parquet(s"$dim/history").drop("ubucket")
    val batch = asSet(graft.relational.Scd2.lookupAsOf(
      facts.toDF(), fullHist, "ts"))
    assert(streamed == batch)
    // the fixture exercises all three outcomes
    assert(streamed.exists(r => r._1 == 100L && r._2.isEmpty))
    assert(streamed.exists(r => r._1 == 101L && r._2.contains("a")))
    assert(streamed.exists(r => r._1 == 102L && r._2.contains("b")))
    assert(streamed.exists(r => r._1 == 103L && r._2.isEmpty))
  }

  test("streamed funnel state == batch q31 greedy-earliest chain") {
    val spark = TestSpark.spark
    import spark.implicits._
    // real sf0.001 events, split into two ts-ordered micro-batches at the
    // median event time (the funnel's feed contract)
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventsStream.Event].collect()
      .sortBy(e => (e.ts.getTime, e.event_id))
    val (b1, b2) = ev.splitAt(ev.length / 2)
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[EventsStream.Event]
    val q = EventsStream.funnelStream(mem.toDS())
      .writeStream.format("memory").queryName("funneleq")
      .outputMode("update").start()
    try {
      mem.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
      // latest update per user, users with at least a view
      val streamed = spark.table("funneleq")
        .withColumn("_r", monotonically_increasing_id())
        .groupBy($"user_id")
        .agg(max_by(struct($"view_ts", $"click_ts", $"purchase_ts",
          $"stage"), $"_r").as("s"))
        .select($"user_id", $"s.view_ts", $"s.click_ts",
          $"s.purchase_ts", $"s.stage")
        .filter($"stage" >= 1)
        .as[(Long, Option[java.sql.Timestamp], Option[java.sql.Timestamp],
          Option[java.sql.Timestamp], Int)]
        .collect().map(r => (r._1, r._2.map(_.getTime),
          r._3.map(_.getTime), r._4.map(_.getTime), r._5)).toSet
      val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss.SSSSSS")
      fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
      def parse(s: String) = Option(s).map { v =>
        java.sql.Timestamp.valueOf(v).getTime
      }
      val batch = graft.relational.RelQueries.q31Funnel
        .run(spark, "/root/testdata/sf0.001")
        .as[(Long, String, String, String, Int)]
        .collect().map(r => (r._1, parse(r._2), parse(r._3), parse(r._4),
          r._5)).toSet
      assert(streamed == batch && batch.exists(_._5 == 3))
    } finally q.stop()
  }

  test("streamed chunking == batch chunkOverlap (stateless, append mode)") {
    val spark = TestSpark.spark
    import spark.implicits._
    // chunkOverlap is row-local (sequence + slice explode, no aggregation,
    // no watermark), so it runs unchanged on a streaming frame in append
    // mode and batch boundaries cannot affect output — the RAG segmenter
    // drops into an ingest pipeline as-is
    val docs = (1L to 30L).map(i =>
      (i, (0 until (i % 7).toInt * 5).map(t => s"d${i}w$t").mkString(" ")))
    val batch = graft.ops.TextAnalysis.chunkOverlap(
        docs.toDF("doc_id", "text"), "doc_id", "text", 6, 3)
      .as[(Long, Int, String, Long)].collect().toSet
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = graft.ops.TextAnalysis.chunkOverlap(
        mem.toDS().toDF("doc_id", "text"), "doc_id", "text", 6, 3)
      .writeStream.format("memory").queryName("chunkeq")
      .outputMode("append").start()
    try {
      mem.addData(docs.take(11): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(11): _*)
      q.processAllAvailable()
      val streamed = spark.table("chunkeq")
        .as[(Long, Int, String, Long)].collect().toSet
      assert(streamed == batch && batch.nonEmpty)
    } finally q.stop()
  }

  test("resample sink: semilattice fold == batch hourly; late data + replay converge") {
    val spark = TestSpark.spark
    import spark.implicits._
    // 3 users over 3 days; batch 2 delivers LATE data (an event whose ts
    // precedes batch 1's winner in the same hour — must lose) and a
    // same-hour newer event (must win); batch 3 touches only day 3
    def e(id: Long, s: String, u: Long, v: Double) =
      EventsStream.Event(id, java.sql.Timestamp.valueOf(s), u, "view", v)
    val b1 = Seq(
      e(10L, "2024-01-01 00:30:00", 1L, 1.0),
      e(11L, "2024-01-01 05:10:00", 1L, 2.0),
      e(12L, "2024-01-01 00:20:00", 2L, 7.0),
      e(13L, "2024-01-02 09:00:00", 2L, 8.0))
    val b2 = Seq(
      e(5L, "2024-01-01 00:10:00", 1L, 99.0), // late, older ts: loses to id=10
      e(14L, "2024-01-01 00:45:00", 2L, 7.5), // same hour, newer ts: wins
      e(15L, "2024-01-02 23:59:00", 3L, 4.0))
    val b3 = Seq(
      e(16L, "2024-01-03 01:00:00", 1L, 3.0))
    val all = b1 ++ b2 ++ b3
    val dir = java.nio.file.Files.createTempDirectory("resink").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[EventsStream.Event]
    val q = EventsStream.resampleSink(mem.toDF(), dir).start()
    def tableState() = spark.read.parquet(dir)
      .select($"user_id", date_format($"h", "yyyy-MM-dd HH:mm:ss").as("h"),
        $"v")
      .as[(Long, String, Double)].collect().toSet
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val day1Files = new java.io.File(dir).listFiles()
        .filter(f => f.isDirectory && f.getName == "d=2024-01-01").head
        .listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
      mem.addData(b3: _*); q.processAllAvailable()
      // batch 3 touches only day 3: day-1 partition files survive untouched
      val day1After = new java.io.File(dir).listFiles()
        .filter(f => f.isDirectory && f.getName == "d=2024-01-01").head
        .listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
      assert(day1Files == day1After,
        "a day-3-only batch rewrote day-1 partitions — the prune is not partial")
    } finally q.stop()
    // streamed table == the batch fold over the full log (q47's pick)
    val batchHourly = all.toDF()
      .groupBy($"user_id", date_trunc("hour", $"ts").as("h"))
      .agg(max_by($"value", struct($"ts", $"event_id")).as("v"))
      .select($"user_id", date_format($"h", "yyyy-MM-dd HH:mm:ss").as("h"),
        $"v")
      .as[(Long, String, Double)].collect().toSet
    assert(tableState() == batchHourly && batchHourly.nonEmpty)
    // the late event lost, the same-hour newer event won
    assert(batchHourly.contains((1L, "2024-01-01 00:00:00", 1.0)))
    assert(batchHourly.contains((2L, "2024-01-01 00:00:00", 7.5)))
    // replay of batch 2 (semilattice: no watermark needed) changes nothing
    EventsStream.processResampleBatch(b2.toDF(), dir)
    assert(tableState() == batchHourly)
  }

  test("drift sink: per-trigger PSI == batch psiAgainstBaseline; shifted batch scores higher") {
    val spark = TestSpark.spark
    import spark.implicits._
    def e(id: Long, u: Long, v: Double) = EventsStream.Event(
      id, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), u, "view", v)
    // baseline: uniform over [0, 100)
    val baseRows = (0 until 200).map(i => e(i.toLong, 1L, i % 100 * 1.0))
    val base = java.nio.file.Files.createTempDirectory("driftb").toString
    EventsStream.writeDriftBaseline(baseRows.toDF(), "value", base)
    // batch 0: drawn from the same distribution; batch 1: shifted mass
    // (all values in the top bin) — must score clearly higher
    val b0 = (0 until 100).map(i => e(1000L + i, 2L, i % 100 * 1.0))
    val b1 = (0 until 100).map(i => e(2000L + i, 3L, 95.0))
    val out = java.nio.file.Files.createTempDirectory("drifto").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[EventsStream.Event]
    val q = EventsStream.driftSink(mem.toDF(), "value", base, out).start()
    try {
      mem.addData(b0: _*); q.processAllAvailable()
      mem.addData(b1: _*); q.processAllAvailable()
    } finally q.stop()
    def psiOf(batchId: Long): Double = spark.read
      .parquet(s"$out/batch=$batchId").head().getAs[Double]("psi")
    // streamed == the batch computation on the identical rows
    val direct0 = EventsStream.psiAgainstBaseline(b0.toDF(), "value", base)
    val direct1 = EventsStream.psiAgainstBaseline(b1.toDF(), "value", base)
    assert(psiOf(0L) == math.rint(direct0 * 1e6) / 1e6)
    assert(psiOf(1L) == math.rint(direct1 * 1e6) / 1e6)
    // same-distribution batch is near zero; shifted batch alarms
    assert(psiOf(0L) < 0.1, s"in-distribution PSI ${psiOf(0L)} not small")
    assert(psiOf(1L) > 1.0, s"shifted-mass PSI ${psiOf(1L)} not large")
  }

  test("dq sink: per-trigger report == batch validate; verdict flips when a batch breaks the contract") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.ops.DataQuality._
    def e(id: Long, ty: String, v: Double) = EventsStream.Event(
      id, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, ty, v)
    val rules = Seq(
      InRange("value", 0.0, 100.0),
      InSet("event_type", Seq("view", "click")))
    // batch 0 conforms; batch 1 carries a bad type and an out-of-range value
    val b0 = Seq(e(1, "view", 5.0), e(2, "click", 99.0))
    val b1 = Seq(e(3, "view", 5.0), e(4, "scroll", 12.0), e(5, "view", 250.0))
    val out = java.nio.file.Files.createTempDirectory("dqo").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[EventsStream.Event]
    val q = EventsStream.dqSink(mem.toDF(), rules, out).start()
    try {
      mem.addData(b0: _*); q.processAllAvailable()
      mem.addData(b1: _*); q.processAllAvailable()
    } finally q.stop()
    def rep(batchId: Long) = spark.read.parquet(s"$out/batch=$batchId")
      .select("rule", "target", "n_rows", "n_violations", "frac_ok",
        "passed")
      .as[(String, String, Long, Long, Double, Boolean)].collect().toSet
    // streamed == the batch battery on the identical rows
    def direct(rows: Seq[EventsStream.Event]) =
      validate(rows.toDF(), rules)
        .as[(String, String, Long, Long, Double, Boolean)].collect().toSet
    assert(rep(0L) == direct(b0) && rep(1L) == direct(b1))
    assert(rep(0L).forall(_._6), "conforming batch must pass every rule")
    val failed1 = rep(1L).filter(!_._6).map(r => (r._1, r._2))
    assert(failed1 == Set(("in_range", "value"), ("in_set", "event_type")))
    // redelivery of batch 1's rows is byte-idempotent (same report)
    val before = rep(1L)
    graft.ops.DataQuality.validate(b1.toDF(), rules)
      .withColumn("batch_id", org.apache.spark.sql.functions.lit(1L))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/batch=1")
    assert(rep(1L) == before)
  }
}
