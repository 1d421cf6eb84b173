package graft.tools

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row,
  SparkSession}
import org.apache.spark.sql.functions._

import graft.bio.{Fasta, PetaSearch}
import graft.ops.{Bpe, Dedup, TextAnalysis}
import graft.sources.{IncrementalView, Versioned}

/** Dev scale runner: the ×1/×10 legs (BASELINE §e: compare a MakeScale
  * k=1 run against a k=10 run of the same construction), the phase
  * profiles, and any Registry query timed on its own.
  *
  *   runMain graft.tools.Scale <leg|registryQuery>[,…] [dir …] [n]
  *   runMain graft.tools.Scale --list
  *
  * Every named leg runs on each dir (its own defaults when none is
  * given); an integer argument is the leg's `n` (`--list` says which legs
  * take one). A Registry query runs once untimed (the JVM's JIT warm-up),
  * then is timed like an arm, so a plan change can be judged without
  * running the whole suite. An arm is `SPARK_GRAFT_TRIALS` (default 3)
  * timed runs; each reports wall time, rows, jobs, shuffle-write MB and
  * input MB, and the arm the median of its later half. Caller-owned
  * caches are released after every run, outside the timed window, so run
  * N+1 doesn't pay run N's pinned frames. A failed leg is reported on
  * stderr, the rest still run, and the exit code is 1.
  */
object Scale {
  final case class Arm(leg: String, dir: String, label: String,
      samples: Seq[graft.Trace.Sample]) { def rows: Long = samples.head.rows }

  /** The shared loop a leg measures with. */
  final class Run(val spark: SparkSession, val trials: Int) {
    val trace = new graft.Trace(spark)
    private[Scale] val arms = scala.collection.mutable.ArrayBuffer.empty[Arm]
    private[Scale] var leg, dir = ""

    def table(dir: String, name: String): DataFrame =
      spark.read.parquet(s"$dir/$name.parquet")

    /** `trials` timed runs of `body`, caches cleared after each. */
    def arm(label: String, warm: Boolean = false)(body: => Any): Arm = {
      if (warm) { body; spark.catalog.clearCache() }
      val ss = (1 to trials).map { _ =>
        try trace(body) finally spark.catalog.clearCache()
      }
      val late = ss.drop(trials / 2).map(_.s).sorted
      val median = (late((late.length - 1) / 2) + late(late.length / 2)) / 2
      say(s"$label: ${ss.mkString(", ")}; " + f"late-half median $median%.2f s")
      record(label, ss)
    }

    /** One timed run that keeps its caches: a profile's later phases
      * read what its earlier phases cached. */
    def phase(label: String)(body: => Any): Arm = {
      val s = trace(body)
      say(s"$label: $s")
      record(label, Seq(s))
    }

    /** `body` with `key` set on the session and its prior value restored
      * after: one leg's override must not leak into the legs after it. */
    def withConf[A](key: String, value: String)(body: => A): A = {
      val prior = spark.conf.getOption(key)
      spark.conf.set(key, value)
      try body
      finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }

    def say(msg: String): Unit =
      println((Seq("[scale]", leg, dir).filter(_.nonEmpty) :+ msg)
        .mkString(" "))

    private def record(label: String, ss: Seq[graft.Trace.Sample]): Arm =
      { arms += Arm(leg, dir, label, ss); arms.last }
  }

  /** A named leg: `body(run, dir, n)` runs once per dir, or once with
    * dir "" when the leg has no default dirs (bio). */
  final case class Leg(name: String, dirs: Seq[String], about: String)(
      val body: (Run, String, Option[Int]) => Unit)

  private val Sf01 = "/root/testdata/sf0.1"
  private val Sf1 = "target/scale/sf1"
  private val X1 = "target/scale/x1"
  /** MakeScale always stamps its derived stride into `scale_meta`; an
    * unstamped dir is an original sf dir, whose ids all sit below the
    * historical stride. */
  private def stride(spark: SparkSession, dir: String): Long =
    try spark.read.parquet(s"$dir/scale_meta").head().getAs[Long]("stride")
    catch { case _: AnalysisException => 1000000L }

  val legs: Seq[Leg] = Seq(
    // The union-tag-window as-of plan carries the FULL left row through its
    // key shuffle (`AsofJoin.asofCore` packs it into `_lrow`); with a wide
    // left table (documents: ~KB of text per row) that payload dominates
    // shuffle bytes. Same as-of join under (a) the default carry-everything
    // contract and (b) the `leftCols` projection contract, on a
    // documents-as-left fixture where each doc gets a synthetic (user
    // bucket, timestamp) and joins a small per-bucket snapshot table.
    Leg("asof", Seq(Sf01), "full-row carry vs leftCols") { (r, dir, _) =>
      val docs = r.table(dir, "documents")
        .select(col("doc_id"), col("text"), (col("doc_id") % 50).as("k"),
          timestamp_micros(col("doc_id") * 1000000L).as("ts"))
      val snaps = r.spark.range(0, 50 * 200)
        .select((col("id") % 50).as("k"),
          timestamp_micros(col("id") * 37000000L).as("ts"),
          (col("id") * 3).cast("double").as("v"))
      // noop write materializes EVERY output column — a count() would let
      // Catalyst prune the wide payload out of the plan and measure nothing
      def noop(leftCols: Seq[String]): Unit =
        graft.ops.AsofJoin.asofBackward(docs, snaps, Seq("k"), "ts", Seq("v"),
          leftCols = leftCols).write.format("noop").mode("overwrite").save()
      r.arm("full-row carry")(noop(Nil))
      r.arm("leftCols projection (doc_id only)")(noop(Seq("doc_id")))
    },
    // The flagship search's scale leg: `searchPartitioned` (one job across
    // a `dbId`-partitioned corpus, the shape recommended for 1000
    // executors) on a replicated corpus of the bundled Cas7-11 fixture.
    // Construction keeps the OUTPUT invariant per DB: every replica DB
    // holds the same sequences under the same per-DB seqIds, so the per-DB
    // result sets must be identical to the ×1 run (per-DB unique-k-mer
    // dedup and per-DB e-value residue counts — the leg ASSERTS both), and
    // total output scales exactly ×n. Wall-clock should then show the
    // ~linear index-build term: index build, prefilter join, and align all
    // key on dbId, so ×n is n× the work at the same parallelism.
    // The persisted-DB arms put the n replicas in ONE DB as distinct seqIds
    // (every k-mer occurs n times: the worst case for the index write's
    // range exchange, which has no map-side combine), then append one more
    // replica, which must add no k-mer.
    Leg("bio", Nil, "x1 vs x<n> replicas, n default 10") { (r, _, n) =>
      val spark = r.spark
      // the bundled Cas7-11 fixture, degapped (the bio_selfsearch corpus)
      val in = getClass.getResourceAsStream("/MSA_Cas7-11_multiline.fa")
      val fasta = scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(l => if (l.startsWith(">")) l else l.replaceAll("[-.]", ""))
        .mkString("\n")
      /** A FASTA file of copies `from until to`, each under its own names. */
      def copies(from: Int, to: Int): String = {
        val f = java.nio.file.Files.writeString(
          java.nio.file.Files.createTempFile("cas711", ".fa"),
          (from until to).map(i => fasta.replace(">", s">r${i}_"))
            .mkString("\n")).toFile
        f.deleteOnExit()
        f.getAbsolutePath
      }
      val queries = Fasta.read(spark, copies(0, 1)).localCheckpoint()
      def run(replicas: Int): (Arm, Map[Long, Long]) = {
        val (db, fa, one) = (s"target/scale/bio_db_x$replicas",
          copies(0, replicas), copies(replicas, replicas + 1))
        r.arm(s"buildTargetDb x$replicas", warm = true)(
          PetaSearch.buildTargetDb(spark, fa, db))
        val unique = spark.read.parquet(s"$db/kmers").count()
        r.phase(s"appendToTargetDb x$replicas+1")(
          PetaSearch.appendToTargetDb(spark, one, db))
        require(spark.read.parquet(s"$db/kmers").count() == unique,
          "an appended replica changed the unique k-mer count")
        // every sequence in every DB under the same per-DB seqIds — the
        // output-invariant construction (a 21-seq × n frame; the cross
        // join is the corpus DEFINITION here, not a query plan)
        val targets = queries.crossJoin(spark.range(replicas).toDF("dbId"))
          .select(col("dbId"), col("seqId"), col("seq"), col("seqLen"))
          .localCheckpoint()
        val a = r.arm(s"searchPartitioned x$replicas", warm = true)(
          PetaSearch.searchPartitioned(spark, queries, targets).count())
        (a, PetaSearch.searchPartitioned(spark, queries, targets)
          .groupBy("dbId").count().collect()
          .map(row => row.getLong(0) -> row.getLong(1)).toMap)
      }
      // one untimed build and append on a throwaway DB, so the first timed
      // append does not pay the append path's JIT (an append is not
      // idempotent: it cannot re-run on the timed DB as a warm-up)
      val warmDb = "target/scale/bio_db_warm"
      PetaSearch.buildTargetDb(spark, copies(0, 1), warmDb)
      PetaSearch.appendToTargetDb(spark, copies(1, 2), warmDb)
      val reps = n.getOrElse(10)
      val ((a1, per1), (an, perN)) = (run(1), run(reps))
      // output invariance: every replica DB reproduces the ×1 result count
      require(perN.values.toSet == Set(per1(0L)),
        s"per-DB counts diverged: base=${per1(0L)} got=$perN")
      require(an.rows == a1.rows * reps,
        s"total rows: want ${a1.rows * reps}, got ${an.rows}")
      def best(a: Arm) = a.samples.map(_.s).min
      r.say(f"x$reps/x1 ratio ${best(an) / best(a1)}%.2f")
    },
    // The registry's text_bm25 terms ("hash join vector") are renamed by
    // MakeScale's token salting, so on scaled corpora that query matches 0
    // rows by construction and measures nothing. Here the terms carry
    // replica 0's salt suffix: present in every MakeScale corpus at any k,
    // with a FIXED absolute match set (replica 0's) while the scanned
    // corpus grows k-fold — the scan-vs-match separation a scale ratio
    // should measure.
    Leg("bm25", Seq(Sf1), "top-20 for replica 0's salted terms") {
      (r, dir, _) =>
        val terms = Seq("hashz0", "joinz0", "vectorz0")
        r.arm(s"terms=${terms.mkString(",")}")(TextAnalysis.bm25(
          r.table(dir, "documents"), "doc_id", "text", terms, k1 = 1.2,
          b = 0.75, topK = 20).count())
    },
    // Trains a fixed-size merge list (untimed — training cost is
    // text_bpe_pairs' territory), then times `Bpe.applyBpe`'s
    // mapPartitions+memo tokenization pass alone. The salting bijection
    // grows the UNIQUE vocabulary ~10× too, so the per-partition memo's hit
    // rate is preserved, not flattered, at ×10.
    Leg("bpe", Seq(Sf1), "apply n merges (default 32); rows = subwords") {
      (r, dir, n) =>
        val docs = r.table(dir, "documents")
        val merges = Bpe.train(docs, "text", n.getOrElse(32))
          .orderBy(col("merge_rank"))
          .collect().map(row => (row.getString(1), row.getString(2))).toSeq
        r.arm(s"merges=${merges.length}")(Bpe.applyBpe(docs, "doc_id", "text",
          merges).agg(sum(col("n_subwords"))).head().getLong(0))
    },
    // Indexed hard-negative mining (BASELINE §n) under two anchor regimes:
    //   - `scaled`: anchors = vec_id % 50 == 0 (the registry row's
    //     predicate — under the salted-replica construction BOTH sides grow
    //     10×, so the candidate-pair count grows 100× and no index can make
    //     that flat), and
    //   - `fixed`: anchors restricted to the ORIGINAL id range (< stride) —
    //     the production mining shape: a bounded anchor batch against a
    //     growing corpus. Per-anchor work is candK re-ranks over a
    //     partition-pruned ADC scan, so time should track the pruned scan,
    //     not the corpus × anchors product.
    // The PQ fixture build is untimed.
    Leg("hardneg", Seq(X1), "scaled vs fixed anchor batch") { (r, dir, _) =>
      val emb = graft.Tables.embeddings(r.spark, dir)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"),
          col("label"))
      val db = graft.ops.SimilarityQueries.ensurePqFixture(r.spark, dir)
      // the "fixed" regime is the ORIGINAL (replica-0) id range: read the
      // stride MakeScale persisted rather than assuming it
      val s = stride(r.spark, dir)
      for ((name, pred) <- Seq(
          "scaled" -> (col("vec_id") % 50 === 0),
          "fixed" -> (col("vec_id") % 50 === 0 && col("vec_id") < s))) {
        r.arm(name)(graft.ops.Similarity.hardNegativesIndexed(r.spark, db,
          emb, emb.filter(pred), dim = 64, nSub = 8, pqK = 8, negK = 3,
          candK = 30, nprobe = 2).count())
      }
    },
    // OPERATIONAL incremental cluster maintenance (BASELINE §e) — the cost
    // a deployed pipeline pays per batch once labels already exist —
    // against the full components() recompute it replaces. Setup
    // (untimed): estimated near-dup pairs over the corpus, split 90/10 by
    // doc id, labels built from the 90% side.
    Leg("merge", Seq(Sf01), "mergeComponents scenarios A, B, C") {
      (r, dir, _) =>
        val docs = r.table(dir, "documents")
        val pairs = Dedup.nearDuplicatesEstimated(docs,
          "doc_id", "text", shingleSize = 2, numHashes = 8, rowsPerBand = 2,
          threshold = 0.5).localCheckpoint()
        /** (labels of the pairs outside `batch`, the batch), untimed. */
        def split(batch: org.apache.spark.sql.Column) =
          (Dedup.components(pairs.filter(!batch).localCheckpoint())
            .localCheckpoint(), pairs.filter(batch).localCheckpoint())
        val (labels, batch) =
          split(col("a") % 10 === 0 || col("b") % 10 === 0)
        r.arm("mergeComponents(uniform 10% batch — touches ~every cluster)")(
          Dedup.mergeComponents(labels, batch).count())
        r.arm("components(full recompute)")(Dedup.components(pairs).count())
        // scenario B (MakeScale corpora only): the batch is one whole
        // replica — disjoint from every existing cluster, the realistic
        // "new crawl neighborhood" shape where incrementality pays: old
        // labels pass through untouched and the merge costs
        // ~components(batch) alone
        val maxId = docs.agg(max("doc_id")).head().getLong(0)
        if (maxId >= 1000000L) {
          val cut = (maxId / 1000000L) * 1000000L
          val (labelsB, batchB) = split(col("a") >= cut || col("b") >= cut)
          r.arm("mergeComponents(disjoint replica batch)")(
            Dedup.mergeComponents(labelsB, batchB).count())
        }
        // scenario C (fixed ABSOLUTE batch vs scaled labels): the batch is
        // replica 0's %10 pairs — IDENTICAL at any MakeScale k, since
        // salting preserves replica 0's pair structure exactly — while the
        // label table scales with k. Backs the O(touched-clusters + batch)
        // claim directly: the delta path's time should be ~flat in k,
        // because untouched components cost only the two label-table
        // semi-joins, never CC work. mergeComponentsDelta is the
        // operational primitive (its output is bounded by touched
        // clusters, so the count doesn't rescan the untouched
        // passthrough); the full-contract mergeComponents row shows the
        // O(labels) passthrough union on top.
        val s = 1000000L
        val (labelsC, batchC) = split(col("a") < s && col("b") < s &&
          (col("a") % 10 === 0 || col("b") % 10 === 0))
        r.say(s"fixed-batch C: batch=${batchC.count()} pairs, " +
          s"labels=${labelsC.count()} rows")
        r.arm("mergeComponentsDelta(fixed replica-0 batch)")(
          Dedup.mergeComponentsDelta(labelsC, batchC).count())
        r.arm("mergeComponents(fixed replica-0 batch, full output)")(
          Dedup.mergeComponents(labelsC, batchC).count())
    },
    // A ×k leg that measures the aHash OPERATOR, not the corpus
    // construction. MakeScale's token salting breaks SHINGLE similarity
    // across replicas but not sampled-BYTE similarity — replica planes keep
    // their origin's layout at the 64 aHash sample points, so every
    // k-replica family pairs quadratically (32× at ×10).
    //
    // Root cause, established by experiment: text-byte planes have far too
    // little entropy for 64-bit sign-vs-mean hashes to separate 50k docs —
    // the bits mostly encode coarse space-vs-letter geometry that token
    // salting preserves (every "z<i>" suffix has the same length), and
    // neither additive byte patterns (±32 iid: 78× pair inflation — a space
    // bit sits ~60 below the mean and never flips) nor per-replica plane
    // rotations (41×: rotated space geometry still collides at 8×8
    // granularity) decorrelate the replicas.
    //
    // So this leg synthesizes REAL-ENTROPY planes: each 16-byte block of
    // the plane is a pseudorandom stream seeded by (hash of the ORIGINAL
    // block bytes, replica). Exact/substitution-level near-dups inside one
    // replica share aligned source blocks, hence share plane blocks, hence
    // agree on almost every sampled bit — true duplicate structure
    // survives — while any other doc pair (and the SAME doc across
    // replicas, because the replica id salts every seed) gets independent
    // 64-bit hashes, so the pair set scales ~linearly like a real image
    // corpus's. Replica id = id / stride (MakeScale's derived stride).
    Leg("phash", Seq(Sf01, Sf1), "aHashPairs; rows = pairs") { (r, dir, _) =>
      import r.spark.implicits._
      val s = stride(r.spark, dir)
      val media = graft.ops.Multimodal
        .mediaFromDocuments(r.spark, r.table(dir, "documents"))
        .map { m =>
          val rep = (m.id / s).toInt
          val src = m.content
          val len = src.length
          val c = new Array[Byte](len)
          var b = 0
          while (b * 16 < len) {
            val from = b * 16
            val until = math.min(from + 16, len)
            // content-keyed block seed, salted by the replica id
            var h = 1125899906842597L + rep * 2654435761L
            var j = from
            while (j < until) { h = h * 31 + src(j); j += 1 }
            val rnd = new java.util.Random(h)
            j = from
            while (j < until) { c(j) = rnd.nextInt(256).toByte; j += 1 }
            b += 1
          }
          m.copy(content = c)
        }
      r.arm("aHashPairs(id % 20 == 0, maxHamming = 8)")(graft.ops.Multimodal
        .aHashPairs(media, col("id") % 20 === 0, maxHamming = 8).count())
    },
    // The registry phrase ("table hash") is renamed by MakeScale's token
    // salting, so scaled corpora would match 0 rows and measure nothing;
    // here the phrase carries replica 0's salt — present at any k with a
    // FIXED absolute match set while the tokenize+intersect work grows
    // k-fold (the bm25 leg's convention). The gopher gate is
    // salt-invariant: rule features see only token shapes.
    Leg("phrase", Seq(X1), "replica 0's salted phrase; gopher") { (r, dir, _) =>
      val docs = r.table(dir, "documents")
      r.arm("phrase tablez0+hashz0")(TextAnalysis.phraseSearch(docs,
        "doc_id", "text", Seq("tablez0", "hashz0")).count())
      r.arm("gopher")(TextAnalysis.gopherRules(docs, "doc_id", "text").count())
    },
    // Whether `EventsStream.processResampleBatch`'s per-trigger cost stays
    // FLAT as the maintained table's history grows — the
    // write-amplification property the scd2 sink was originally dinged
    // for. The sf0.1 events span 30 days; feeding them as 30 daily triggers
    // grows the table 30× while each trigger touches ONE date partition,
    // so the incremental arm's per-trigger time must not trend with
    // trigger index. The naive arm (read whole table + union + full
    // overwrite — the sink everyone writes first) is the control: its
    // per-trigger time grows with the table.
    Leg("resample", Seq(Sf01), "incremental vs naive sink") { (r, dir, _) =>
      val spark = r.spark
      import spark.implicits._
      val ev = graft.Tables.events(spark, dir)
        .withColumn("ts", col("ts").cast("timestamp"))
        .withColumn("_d", to_date(col("ts")))
      val days = ev.select(col("_d")).distinct()
        .orderBy(col("_d")).as[java.sql.Date].collect()
      r.say(s"${days.length} daily triggers")
      // bytes written per trigger = sizes of parquet files whose mtime is at
      // or after the trigger start — at local scale wall time is fixed-cost
      // dominated, so WRITE BYTES are the scale-invariant amplification
      // metric (at 100 TB the bytes ARE the cost)
      def writtenSince(f: java.io.File, t0Millis: Long): Long =
        if (f.isDirectory) f.listFiles().map(writtenSince(_, t0Millis)).sum
        else if (f.getName.endsWith(".parquet") && f.lastModified() >= t0Millis)
          f.length()
        else 0L
      def trigger(d: java.sql.Date) =
        ev.filter(col("_d") === lit(d)).drop("_d").localCheckpoint()
      def run(label: String)(fold: (DataFrame, String) => Unit): Unit = {
        // one untimed trigger into a throwaway directory first: neither
        // arm's timed triggers pay the JIT, whichever runs first
        fold(trigger(days.head),
          java.nio.file.Files.createTempDirectory("rewarm").toString)
        val out = java.nio.file.Files.createTempDirectory("rescale").toString
        val (times, bytes) = days.toSeq.map { d =>
          val batch = trigger(d)
          val w0 = System.currentTimeMillis()
          (r.trace(fold(batch, out)).s, writtenSince(new java.io.File(out), w0))
        }.unzip
        def avg(xs: Seq[Double]) = xs.sum / xs.length
        val bFirst = avg(bytes.take(5).map(_.toDouble)) / 1e6
        val bLast = avg(bytes.takeRight(5).map(_.toDouble)) / 1e6
        r.say(f"$label: time first5 ${avg(times.take(5))}%.2f" +
          f" s last5 ${avg(times.takeRight(5))}%.2f s; WRITE first5 " +
          f"$bFirst%.2f MB last5 $bLast%.2f MB, write growth " +
          f"${bLast / bFirst}%.1fx, total written ${bytes.sum / 1e6}%.0f MB")
      }
      run("incremental (ReplaceParts of touched dates)") { (b, out) =>
        graft.streaming.EventsStream.processResampleBatch(b, out)
      }
      // control: the fold everyone writes first — whole-table rewrite
      // the latest (ts, event_id) row per (user, hour `h`)
      def latest(df: DataFrame, h: Column, v: String): DataFrame = df
        .groupBy(col("user_id"), h.as("h"))
        .agg(max(struct(col("ts"), col("event_id"), col(v))).as("m"))
        .select(col("user_id"), col("h"), col("m.ts").as("ts"),
          col("m.event_id").as("event_id"), col(s"m.$v").as("v"))
      run("naive (full-table rewrite per trigger)") { (b, out) =>
        val bh = latest(b, date_trunc("hour", col("ts")), "value")
        val prev =
          try spark.read.parquet(out).select(
            col("user_id"), col("h"), col("ts"), col("event_id"), col("v"))
          catch { case _: AnalysisException =>
            spark.createDataFrame(spark.sparkContext.emptyRDD[Row], bh.schema)
          }
        latest(prev.unionByName(bh), col("h"), "v").localCheckpoint()
          .write.mode("overwrite").parquet(out)
      }
    },
    // Salted-vs-plain skew join. MakeScale's lineitem axis routes ~50% of
    // every replica's lineitem rows onto ONE hot orderkey, so at any k the
    // heavy hitter carries a scale-invariant row count — the workload
    // `SkewJoin.saltedHotKeys` exists for. Times the q35 aggregation shape
    // under (a) the plain equi-join and (b) the gated salted join, and
    // prints the hot key's row count so the skew is on record. AQE is
    // DISABLED for both arms: the point is the manual fallback for
    // engines/paths where runtime skew splitting can't reach, so AQE must
    // not quietly split the plain arm's straggler either. (hotThreshold
    // picks out true heavy hitters; TPC-H's organic 1-7 lines/order stay
    // on the cold path.)
    Leg("skew", Seq(Sf1), "plain vs salted join, AQE off") { (r, dir, _) =>
      r.withConf("spark.sql.adaptive.enabled", "false") {
        val li = r.table(dir, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        val o = r.table(dir, "orders")
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
        val top = li.groupBy("l_orderkey").count()
          .orderBy(desc("count")).head()
        r.say(s"hottest key ${top.getLong(0)} carries " +
          s"${top.getLong(1)} of ${li.count()} lineitem rows")
        r.arm("plain join")(skewAgg(li.join(o, Seq("l_orderkey"))).count())
        r.arm("saltedHotKeys(buckets=32, hotThreshold=1000)")(
          skewAgg(graft.ops.SkewJoin.saltedHotKeys(li, o, "l_orderkey",
            buckets = 32, hotThreshold = 1000)).count())
      }
    },
    // Incremental-view REFRESH vs full RECOMPUTE as the source table grows
    // — the claim under test is that `IncrementalView.refresh` costs
    // O(delta)+O(groups) while the recompute it replaces costs O(table).
    // Builds a versioned source of K× the sf events (id-strided replicas),
    // materializes the view, lands ONE fixed-size delta commit (the same
    // rows at every K), then measures refresh vs a from-scratch recompute
    // of the same aggregates. At local bench scale wall time is fixed-cost
    // dominated, so the scale-invariant metric is BYTES READ per arm (the
    // resample leg's idiom — at 100 TB the bytes ARE the cost): expect
    // refresh ~flat in K (delta + view) and recompute ~linear.
    Leg("view", Seq(Sf01), "refresh vs recompute, K=1 and K=n (default 10)") {
      (r, dir, n) =>
        val spark = r.spark
        val ev = graft.Tables.events(spark, dir)
        val stride = 100000000L
        Seq(1, n.getOrElse(10)).foreach { k =>
          val root = java.nio.file.Files.createTempDirectory("view").toString
          val (src, vw) = (s"$root/t", s"$root/v")
          val big = (0 until k).map(i =>
            ev.withColumn("event_id", col("event_id") + lit(i * stride)))
            .reduce(_ unionByName _)
          Versioned.append(big.repartition(32), src)
          IncrementalView.create(spark, src, vw, Seq("event_type"), "value")
          // the delta is IDENTICAL at every K: a small late batch
          Versioned.append(ev.filter(col("event_id") % 1000 === 7)
            .withColumn("event_id", col("event_id") + lit(stride * 1000L)), src)
          val refresh = r.trace(IncrementalView.refresh(spark,
            src, vw, Seq("event_type"), "value"))
          val recompute = r.trace(IncrementalView.create(spark,
            src, s"$root/v_scratch", Seq("event_type"), "value"))
          val rows = Versioned.read(spark, src).count()
          // exact scan SCOPE from the manifest (files an arm may open at
          // all): the refresh's CDF span covers only the delta commit's
          // files; the recompute's snapshot read covers every data file
          val sizes = Versioned.dataFileSizes(spark, src)
          val base = Versioned.dataFileSizes(spark, src,
            Some(Versioned.currentVersion(src) - 1)).keySet
          val scopeDelta = sizes.collect {
            case (p, len) if !base(p) => len }.sum / 1e6
          val scopeAll = sizes.values.sum / 1e6
          r.say(f"k=$k rows=$rows refresh=$refresh (scope $scopeDelta%.3f MB)" +
            f" recompute=$recompute (scope $scopeAll%.2f MB) " +
            f"scope ratio=${scopeAll / scopeDelta}%.0f x")
        }
    },
    // Phase timings of the MinHash-LSH near-dup path, each phase once:
    // cold vs cached shingles, candidates warm/again/fresh plan, the
    // jaccard verify, then the full nearDuplicates call.
    Leg("dedup_lsh", Seq(Sf01), "near-dup phases, threshold 0.2") {
      (r, dir, _) =>
        val docs = r.table(dir, "documents")
        r.phase("docs count")(docs.count())
        val sh = Dedup.shingles(docs, "doc_id", "text", 2)
        r.phase("shingles count (cold)")(sh.count())
        val shc = sh.cache()
        r.phase("shingles cache")(shc.count())
        val cands = Dedup.minhashBanded(shc, 8, 2)
        r.phase("candidates (warm sh)")(cands.count())
        r.phase("candidates again")(cands.count())
        r.phase("candidates fresh plan")(Dedup.minhashBanded(shc, 8, 2).count())
        val jac = Dedup.jaccard(cands, shc).filter(col("jaccard") >= 0.2)
        r.phase("jaccard verify")(jac.count())
        r.phase("jaccard again")(jac.count())
        r.phase("full nearDuplicates")(Dedup.nearDuplicates(docs, "doc_id",
          "text", shingleSize = 2, numHashes = 8, rowsPerBand = 2,
          threshold = 0.2).count())
        r.spark.catalog.clearCache()
    },
    // Phase timing for the q33_scd2_incr row (init / merge / read-back), to
    // attribute a regression to a phase instead of the row.
    Leg("scd2", Seq(Sf01), "init / merge / read-back phases") { (r, dir, _) =>
      val spark = r.spark
      import spark.implicits._
      import graft.relational.Scd2
      (1 to r.trials).foreach { trial =>
        r.say(s"trial $trial")
        val ev = graft.Tables.events(spark, dir)
          .withColumn("_us", unix_micros($"ts".cast("timestamp")))
        val mm = ev.agg(min($"_us"), max($"_us")).head()
        val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) * 9 / 10
        val out = java.nio.file.Files.createTempDirectory("scd2prof").toString
        r.phase("init(90%)")(
          Scd2.init(ev.filter($"_us" < cut).drop("_us"), out))
        r.phase("merge(10%)")(
          Scd2.merge(spark, out, ev.filter($"_us" >= cut).drop("_us")))
        // a second merge on an empty batch: pure overhead
        r.phase("merge(empty batch)")(
          Scd2.merge(spark, out, ev.filter($"_us" < 0).drop("_us")))
        val b2 = ev.filter($"_us" >= cut).drop("_us").limit(1000)
          .localCheckpoint()
        r.phase("merge(1k rows)")(Scd2.merge(spark, out, b2))
        r.phase("read-back count")(spark.read.parquet(s"$out/history").count())
      }
    }
  )

  private def skewAgg(j: DataFrame): DataFrame =
    j.groupBy(col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") *
        (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))

  /** Runs the named legs or Registry queries on `dirs` (each leg's own
    * defaults when empty) and returns every arm measured. Throws on the
    * first failure. */
  def run(spark: SparkSession, names: Seq[String], dirs: Seq[String],
      n: Option[Int], trials: Int): Seq[Arm] = {
    val r = new Run(spark, trials)
    try names.foreach { name =>
      val leg = legs.find(_.name == name).orElse(graft.Registry.byName.get(name)
        .map(q => Leg(name, Seq(Sf01), "")((run, d, _) =>
          run.arm("count()", warm = true)(q.run(run.spark, d).count()))))
        .getOrElse(throw new IllegalArgumentException(
          s"unknown leg or query: $name (see --list)"))
      r.leg = name
      val each = if (leg.dirs.isEmpty) Seq("") else if (dirs.nonEmpty) dirs
        else leg.dirs
      each.foreach { d => r.dir = d; leg.body(r, d, n) }
    } finally r.trace.close()
    r.arms.toSeq
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--list")) {
      legs.foreach(l =>
        println(f"${l.name}%-10s ${l.about}%-46s ${l.dirs.mkString(" ")}"))
      println(f"${"<query>"}%-10s ${"any graft.Registry query"}%-46s $Sf01")
      return
    }
    require(args.nonEmpty,
      "usage: Scale <leg|registryQuery>[,…] [dir …] [n]   (or --list)")
    val (ns, dirs) = args.tail.toSeq.partition(_.toIntOption.isDefined)
    val n = ns.headOption.map(_.toInt)
    val trials = math.max(1, sys.env.getOrElse("SPARK_GRAFT_TRIALS", "3").toInt)
    val spark = graft.Session()
    val failed = try args(0).split(',').count { name =>
      try { run(spark, Seq(name), dirs, n, trials); false }
      catch { case e: Throwable =>
        System.err.println(s"[scale] $name FAILED: ${e.getMessage}"); true }
    } finally spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
