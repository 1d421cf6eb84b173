package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.IndexCommit

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Two paths, mirroring the reference's prefilter/align split:
  *  - brute-force cosine top-k — the exact baseline; the query side is
  *    broadcast (small batch) against the full corpus scan, dot products run
  *    as codegen'd higher-order functions (`zip_with` + `aggregate`), no
  *    explode of the vector dimension;
  *  - IVF (inverted-file) — the 100 TB path: cluster centroids prune the
  *    corpus to `nprobe` partitions before the exact scan, trading recall
  *    for a corpus-fraction scan exactly like k-mer prefiltering trades
  *    sensitivity for scan rate.
  */
object Similarity {
  import org.apache.spark.sql.GraftShim
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types.{DataType, DoubleType}

  /** Codegen'd dot product over two double arrays — no intermediate array
    * allocation per pair (the `zip_with`+`aggregate` formulation builds a
    * 64-element array per scored pair, which dominates brute-force ANN).
    */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "dot_product"
    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      var s = 0.0
      val n = math.min(x.numElements(), y.numElements())
      var i = 0
      while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
      s
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        // ctx.freshName on every local: this expression appears several times
        // per projection (cosine() expands to three DotProducts), and fixed
        // names make Janino reject the generated method with "Redefinition
        // of local variable", silently dropping the stage to interpreted eval.
        val n = ctx.freshName("dpN")
        val s = ctx.freshName("dpS")
        val i = ctx.freshName("dpI")
        s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $s = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          $s += $a.getDouble($i) * $b.getDouble($i);
        }
        ${ev.value} = $s;
        """
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** dot(a, b) over array<double> columns (codegen'd, allocation-free). */
  def dot(a: Column, b: Column): Column =
    GraftShim.column(DotProduct(GraftShim.expression(a), GraftShim.expression(b)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k: queries x corpus -> (query_id, neighbor_id,
    * cos, rank), self-pairs excluded, rank ties broken by id.
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    // norms are precomputed per side BEFORE the pair join: |Q| + |C| norm
    // evaluations instead of |Q| x |C|
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
      norm(col("embedding")).as("qn"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
      norm(col("embedding")).as("cn"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
    * greedily pick k results maximizing
    * `lambda * cos(q, d) - (1 - lambda) * max_{s in picked} cos(d, s)` —
    * the standard diversity cut for RAG retrieval (near-duplicate
    * passages crowd out coverage at plain top-k).
    *
    * Scale shape: relevance candidates come from [[cosineTopK]] (the
    * distributed part); the greedy pass then runs PER QUERY over its own
    * <= candN candidates inside one flatMapGroups — candN^2 local dot
    * products, no driver loop, no cross-query shuffle beyond the group
    * exchange. The greedy objective is compared ROUNDED (1e-9) with id
    * tie-break, so selection is stable across engines (the
    * text_rag_retrieve convention).
    */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      lambda: Double = 0.7, candN: Int = 12): DataFrame =
    mmrRerank(cosineTopK(corpus, queries, candN), corpus, k, lambda)

  /** Greedy MMR over an EXPLICIT candidate list `(query_id, neighbor_id,
    * cos)` — the candidate-generation stage is the caller's: brute-force
    * [[cosineTopK]] (exact — what [[mmrTopK]] does) or a persisted ANN
    * index ([[searchPqIndexedRerank]] — the scale path: the quadratic
    * anchors × corpus pair term becomes a partition-pruned ADC scan, and
    * the greedy still runs over <= candN rows per query). Same greedy,
    * same rounding/tie-break, so the two variants differ only by the cut.
    */
  def mmrRerank(cands: DataFrame, corpus: DataFrame, k: Int,
      lambda: Double = 0.7): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val withVec = cands
      .select(col("query_id"), col("neighbor_id"), col("cos"))
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("nv")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("nv"))
      .as[(Long, Long, Double, Seq[Double])]
    withVec.groupByKey(_._1).flatMapGroups { (qid, it) =>
      val cs = it.toArray.sortBy(c => (-c._3, c._2))
      val nrm = cs.map { c =>
        var s = 0.0; c._4.foreach(x => s += x * x); math.sqrt(s)
      }
      def sim(i: Int, j: Int): Double = {
        val (a, b) = (cs(i)._4, cs(j)._4)
        var s = 0.0
        var t = 0
        while (t < a.length) { s += a(t) * b(t); t += 1 }
        s / (nrm(i) * nrm(j))
      }
      val picked = scala.collection.mutable.ArrayBuffer.empty[Int]
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Int, Long, Double)]
      while (picked.length < math.min(k, cs.length)) {
        val best = cs.indices.filterNot(picked.contains).map { i =>
          val ms = if (picked.isEmpty) 0.0 else picked.map(sim(i, _)).max
          val obj = lambda * cs(i)._3 - (1 - lambda) * ms
          (math.rint(obj * 1e9) / 1e9, -cs(i)._2, i, obj)
        }.max
        picked += best._3
        out += ((qid, picked.length, cs(best._3)._2, best._4))
      }
      out
    }.toDF("query_id", "pick", "neighbor_id", "mmr")
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) — the standard way to
    * merge heterogeneous retrieval lists (dense ANN + sparse BM25 being
    * the modern hybrid-search pair): each list contributes
    * 1 / (rrfK + rank) per doc, summed across lists. Rank-based, so the
    * incomparable raw scores never mix, and with integer ranks the fused
    * score is a deterministic function of the input orderings.
    *
    * Scale shape: one unionByName of the (already small) top-k lists and
    * one hash aggregation on id — the inputs are k-sized per query, so
    * fusion cost is negligible next to the retrievals it merges. Ties
    * break on id.
    */
  def rrfFuse(ranked: Seq[DataFrame], idCol: String, rankCol: String,
      rrfK: Int = 60, topK: Int = 10): DataFrame = {
    require(ranked.nonEmpty, "rrfFuse needs at least one ranked list")
    ranked.map(df => df.select(col(idCol).as("id"),
        (lit(1.0) / (lit(rrfK.toDouble) + col(rankCol))).as("contrib")))
      .reduce(_ unionByName _)
      .groupBy(col("id"))
      .agg(sum(col("contrib")).as("rrf_score"),
        count(lit(1)).as("n_lists"))
      .orderBy(col("rrf_score").desc, col("id"))
      .limit(topK)
  }

  /** Cluster centroids as elementwise means per `labelCol` — the IVF coarse
    * quantizer (here the corpus ships with cluster labels; at scale these
    * come from a k-means pass).
    */
  def centroids(corpus: DataFrame, labelCol: String): DataFrame =
    corpus
      .select(col(labelCol).as("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("v")).as("mean"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("mean")))).as("pm"))
      .select(col("label"), transform(col("pm"), x => x.getField("mean")).as("centroid"))

  /** IVF top-k: route each query to its `nprobe` nearest centroids, scan
    * only those clusters, exact cosine within. Output matches cosineTopK's
    * schema (+probed flag distinguishes approximate from exact).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, labelCol: String,
      k: Int, nprobe: Int): DataFrame = {
    val cents = centroids(corpus, labelCol)
    // query norm computed once here and carried through the probe fan-out —
    // NOT recomputed per candidate row in the cluster scan below
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
      norm(col("embedding")).as("qn"))
    val probes = probeTopCentroids(q, cents, nprobe)
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cv"), col(labelCol).as("label"),
      norm(col("embedding")).as("cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    c.join(broadcast(probes), Seq("label"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** Exact embedding near-dup pairs (brute force): all (a < b) pairs with
    * cosine >= threshold where EITHER side is a query member — the same
    * either-side membership contract as [[embeddingNearDup]] (a query doc
    * carrying the larger vec_id of a pair still qualifies). The recall
    * baseline for [[embeddingNearDup]]; O(|Q| x |C|) with only the QUERY
    * side broadcast — the corpus never crosses itself: the query set
    * scans the corpus once per orientation (query id smaller, query id
    * larger), and both-query pairs, present in both orientations, dedupe
    * via distinct.
    */
  def embeddingNearDupExact(corpus: DataFrame, queryPred: Column,
      threshold: Double): DataFrame = {
    val q = corpus.filter(queryPred)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        norm(col("embedding")).as("qn"))
    val c = corpus.select(col("vec_id").as("cid"), col("embedding").as("cv"),
      norm(col("embedding")).as("cn"))
    def oriented(asA: Boolean) = {
      val keep = if (asA) col("qid") < col("cid") else col("cid") < col("qid")
      c.crossJoin(broadcast(q))
        .filter(keep)
        .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
        .filter(col("cos") >= threshold)
        .select(
          (if (asA) col("qid") else col("cid")).as("a"),
          (if (asA) col("cid") else col("qid")).as("b"),
          col("cos"))
    }
    oriented(asA = true).unionByName(oriented(asA = false)).distinct()
  }

  /** Deterministic ±1 SRP vector for projection `p`: weight i is +1 when
    * the first hex digit of md5("p:i") is < '8', else -1. md5-seeded (like
    * the minhash) so an oracle can reproduce it in SQL; evaluated ONCE at
    * plan time here (the weights are constants — recomputing 512 md5s per
    * row on the executors would be pure waste).
    */
  private def srpWeights(p: Int, dims: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until dims).map { i =>
      val hex = md.digest(s"$p:$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (hex.charAt(0) < '8') 1.0 else -1.0
    }.toArray
  }

  /** One signed-random-projection value: dot(embedding, r_p) with r_p a
    * plan-time literal — a single codegen'd DotProduct per projection, with
    * the same sequential fold order as an ordered SUM in SQL.
    */
  private def srpProj(emb: Column, p: Int, dims: Int): Column =
    dot(emb, lit(srpWeights(p, dims)))

  /** (vec_id, band, bval) rows: `nProj` SRP sign bits grouped into bands of
    * `rowsPerBand` bits; `bval` is the packed band bit pattern.
    */
  def srpBanded(corpus: DataFrame, nProj: Int, rowsPerBand: Int,
      dims: Int): DataFrame = {
    // a non-divisible nProj would silently ignore the trailing projections
    // (nBands floors), quietly reducing recall vs the requested config
    require(nProj % rowsPerBand == 0,
      s"nProj ($nProj) must be a multiple of rowsPerBand ($rowsPerBand)")
    val bits = (0 until nProj).map(p =>
      when(srpProj(col("embedding"), p, dims) > 0, lit(1)).otherwise(lit(0))
        .as(s"bit$p"))
    val withBits = corpus.select((col("vec_id") +: bits): _*)
    val nBands = nProj / rowsPerBand
    val bandCols = (0 until nBands).map { b =>
      val bval = (0 until rowsPerBand)
        .map(r => col(s"bit${b * rowsPerBand + r}") * lit(1 << r))
        .reduce(_ + _)
      struct(lit(b).as("band"), bval.as("bval"))
    }
    withBits
      .select(col("vec_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.bval").as("bval"))
  }

  /** Deterministic Lloyd k-means over the embedding column (cosine
    * assignment, elementwise-mean update): the coarse quantizer that feeds
    * [[ivfTopK]] when the corpus ships unlabeled. Seeding is md5-ordered
    * (the k rows with smallest md5(vec_id) — a reproducible spread sample,
    * no rand()), so labels are stable across runs and engines. Each
    * iteration is one broadcast assignment pass + one mean reduction;
    * `localCheckpoint` truncates lineage. Returns (vec_id, label).
    */
  def kmeans(corpus: DataFrame, k: Int, iters: Int = 5): DataFrame = {
    // seed labels = rank of vec_id among the k chosen rows. Computed via a
    // single-row collect_list + posexplode rather than an unpartitioned
    // row_number window: k rows make the window harmless, but WindowExec
    // still logs a move-everything-to-one-partition warning on every run
    val cents = corpus
      .withColumn("hk", md5(col("vec_id").cast("string")))
      .orderBy(col("hk"), col("vec_id")).limit(k)
      .agg(array_sort(collect_list(struct(col("vec_id"), col("embedding"))))
        .as("seeds"))
      .select(posexplode(col("seeds")).as(Seq("label", "ve")))
      .select(col("label").cast("int").as("label"),
        col("ve.embedding").as("centroid"))
      .localCheckpoint()
    // widen: each Lloyd assignment pass computes corpus x k cosine
    // distances BEFORE its first exchange — at the scan's partition
    // count that map side is one task on a single-file corpus
    // (graft.Par — no-op at scale). localCheckpoint: every iteration
    // re-reads this frame; materialized ONCE, the per-iteration scan +
    // widen exchange disappear (rebalanceAnnIndex already does this).
    val c = graft.Par.widen(corpus).select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("vn"))
      .localCheckpoint()
    lloyd(c, cents, iters).select(col("vec_id"), col("label"))
  }

  /** The Lloyd iteration body shared by [[kmeans]] (md5-seeded) and
    * [[rebalanceAnnIndex]] (warm-started from stored centroids): `iters`
    * rounds of broadcast cosine-argmax assignment + elementwise-mean
    * update over `c` = (vec_id, embedding, vn). Returns the final
    * (vec_id, embedding, label) assignment.
    */
  private def lloyd(c: DataFrame, cents0: DataFrame,
      iters: Int): DataFrame = {
    require(iters > 0, s"lloyd needs at least one iteration, got $iters")
    var cents = cents0
    var i = 0
    var assigned: DataFrame = null
    while (i < iters) {
      // cosine argmax as ONE map-side-combining aggregation (guide
      // §2.3): the old per-iteration row_number window shuffled the full
      // corpus × k candidate rows and sorted them per vec_id; max_by
      // collapses the k candidates per vector INSIDE each map partition
      // (the broadcast cross join never re-partitions c), so the
      // exchange carries corpus rows, not corpus × k. Identical winner:
      // the ordering key (ccos, -label) is unique per vec_id (labels are
      // distinct), and both forms rank NaN as largest with the same
      // smallest-label tie-break on all-NaN rows.
      assigned = c.crossJoin(broadcast(cents))
        .withColumn("ccos",
          dot(col("embedding"), col("centroid")) /
            (col("vn") * norm(col("centroid"))))
        .groupBy(col("vec_id"))
        .agg(max_by(struct(col("embedding"), col("label")),
          struct(col("ccos"), (-col("label")).as("nl"))).as("_best"))
        .select(col("vec_id"), col("_best.embedding").as("embedding"),
          col("_best.label").as("label"))
      cents = assigned
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos"))
        .agg(avg(col("v")).as("mean"))
        .groupBy(col("label"))
        .agg(array_sort(collect_list(struct(col("pos"), col("mean")))).as("pm"))
        .select(col("label"),
          transform(col("pm"), x => x.getField("mean")).as("centroid"))
        .localCheckpoint()
      i += 1
    }
    assigned
  }

  /** Persist an IVF index: k-means labels + corpus PARTITIONED BY label
    * (probing then prunes whole directories at scan time) + centroid table
    * + the pin (`meta`, n_clusters). Both artifacts derive from the
    * materialized assignment and stage concurrently.
    */
  def buildAnnIndex(corpus: DataFrame, dbPath: String, nClusters: Int,
      iters: Int = 5): Unit = {
    val labels = kmeans(corpus, nClusters, iters).cache()
    try {
      labels.count()
      val labeled = corpus.join(labels, Seq("vec_id"))
      IndexCommit.commit(corpus.sparkSession, Seq(
        IndexCommit.Output(s"$dbPath/vectors", IndexCommit.Replace,
          labeled.write.mode("overwrite").partitionBy("label").parquet(_)),
        IndexCommit.Output(s"$dbPath/centroids", IndexCommit.Replace,
          centroids(labeled, "label").write.mode("overwrite").parquet(_))),
        pin = Some(s"$dbPath/meta" -> Seq("n_clusters" -> nClusters)))
    } finally labels.unpersist()
  }

  /** Re-cluster a persisted IVF index IN PLACE, warm-starting Lloyd from
    * the STORED centroids: the maintenance pass for quantizer drift.
    * [[appendToAnnIndex]] keeps centroids frozen (the right per-batch
    * cost), so after enough appends from a shifted distribution the
    * partition populations skew and probe recall sags; a full
    * [[buildAnnIndex]] re-seeds from scratch (md5 order) and re-pays the
    * seeding search, while this warm start converges in 1–2 iterations
    * because the stored centroids are already near a local optimum.
    *
    * Rewrites vectors (bucket-routed: one file per label — a compaction
    * for free) and centroids, then re-pins without a stream watermark
    * (relabeling is a rebuild event: a fresh stream's batch 0 must not be
    * mistaken for a replay). Single-writer: run in a quiet window.
    */
  def rebalanceAnnIndex(spark: org.apache.spark.sql.SparkSession,
      dbPath: String, iters: Int = 2): Unit = {
    val base = dbPath.stripSuffix("/")
    IndexCommit.recover(spark.sparkContext.hadoopConfiguration,
      Seq(s"$base/vectors", s"$base/centroids", s"$base/meta"))
    val c = spark.read.parquet(s"$base/vectors")
      .select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("vn"))
      .localCheckpoint()
    val cents0 = spark.read.parquet(s"$base/centroids").localCheckpoint()
    val relabeled = lloyd(c, cents0, iters).localCheckpoint()
    IndexCommit.commit(spark, Seq(
      IndexCommit.Output(s"$base/vectors", IndexCommit.Replace,
        relabeled.repartition(col("label"))
          .write.mode("overwrite").partitionBy("label").parquet(_)),
      IndexCommit.Output(s"$base/centroids", IndexCommit.Replace,
        centroids(relabeled, "label").write.mode("overwrite").parquet(_))),
      pin = Some(s"$base/meta" -> Seq("n_clusters" -> cents0.count().toInt)))
  }

  /** The top-`n` nearest centroids per query row by cosine (broadcast —
    * centroids are k rows; ties to the smallest label): the shared probe
    * step of every IVF-family search. `q` must carry (query_id, qv, qn);
    * output keeps those columns plus `label`, `n` rows per query.
    */
  private def probeTopCentroids(q: DataFrame, cents: DataFrame,
      n: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("ccos").desc, col("label"))
    q.crossJoin(broadcast(cents))
      .withColumn("ccos",
        dot(col("qv"), col("centroid")) / (col("qn") * norm(col("centroid"))))
      .withColumn("prank", row_number().over(w))
      .filter(col("prank") <= n)
      .select(col("query_id"), col("qv"), col("qn"), col("label"))
  }

  /** Assign each vector to its nearest STORED centroid by cosine
    * (broadcast — centroids are k rows; ties to the smallest label), the
    * frozen-quantizer step shared by every incremental index ingest path.
    * Returns (vec_id, embedding, label).
    */
  private def assignToStoredCentroids(corpus: DataFrame,
      cents: DataFrame): DataFrame =
    probeTopCentroids(
      corpus.select(col("vec_id").as("query_id"),
        col("embedding").as("qv"), norm(col("embedding")).as("qn")),
      cents, 1)
      .select(col("query_id").as("vec_id"), col("qv").as("embedding"),
        col("label"))

  /** Incrementally add vectors to a persisted IVF index: assign each new
    * vector to its nearest STORED centroid (broadcast — centroids are k
    * rows) and append into that label's partition directory. Standard IVF
    * maintenance: centroids stay frozen, so existing partitions are never
    * rewritten and ingest cost is O(new batch); recall drifts only if the
    * data distribution does, at which point [[buildAnnIndex]] re-clusters.
    */
  def appendToAnnIndex(corpus: DataFrame, dbPath: String): Unit = {
    val spark = corpus.sparkSession
    val cents = spark.read.parquet(s"$dbPath/centroids")
    IndexCommit.commit(spark, Seq(IndexCommit.Output(s"$dbPath/vectors",
      IndexCommit.Add, assignToStoredCentroids(corpus, cents)
        .write.partitionBy("label").parquet(_))),
      IndexCommit.batchPin(spark.sparkContext.hadoopConfiguration,
        s"$dbPath/meta"))
  }

  /** Query a persisted IVF index: probe the stored centroids, scan ONLY the
    * probed label partitions (directory pruning via the partition-column
    * filter), exact cosine within. Same output schema as [[cosineTopK]].
    */
  def searchAnnIndexed(spark: org.apache.spark.sql.SparkSession,
      dbPath: String, queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val cents = spark.read.parquet(s"$dbPath/centroids")
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
      norm(col("embedding")).as("qn"))
    val probes = probeTopCentroids(q, cents, nprobe)
    // partition pruning happens via dynamic partition pruning on the
    // broadcast join below (label is the partition column): the scan lists
    // only the probed directories, with no driver-side collect and no
    // literal label list inflating the plan (a large query batch would
    // otherwise inline |queries| x nprobe values and recompute the probe
    // pipeline a second time for the collect)
    val c = spark.read.parquet(s"$dbPath/vectors")
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
        col("label"), norm(col("embedding")).as("cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    c.join(broadcast(probes), Seq("label"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** Persist an IVF-PQ index — the production shape of [[ivfPqTopK]]: a
    * coarse k-means routes vectors to label partitions, but what lands in
    * each partition is the PQ CODES (nSub small ints per vector), not the
    * raw embeddings — the stored corpus shrinks ~dim*4/nSub-fold and a
    * search scan reads only codes. Codebooks and coarse centroids persist
    * alongside (k*nSub and nClusters rows — the broadcast side of every
    * search). Raw vectors are NOT stored: re-ranking against exact
    * distances needs the original corpus table, by design.
    */
  def buildPqIndex(corpus: DataFrame, dbPath: String, nClusters: Int,
      dim: Int, nSub: Int, pqK: Int, iters: Int = 5): Unit = {
    // cache(): the label table feeds BOTH artifact writes below (codes
    // partitioning and coarse centroids), and kmeans' returned assignment
    // is lazy — uncached, each use would re-run the final broadcast
    // assignment pass over the corpus. (vec_id, label) rows are ~16 bytes.
    val labels = kmeans(corpus, nClusters, iters).cache()
    try {
      // the coarse k-means and the PQ codebook training are independent
      // passes over the same corpus — overlap them (guide §2.6), then
      // stage the three artifacts that consume them concurrently
      var books: DataFrame = null
      graft.Par.jobs(
        () => labels.count(), // materialize the cached coarse assignment
        () => books = pqTrain(corpus, dim, nSub, pqK, iters))
      val labeled = corpus.join(labels, Seq("vec_id"))
      def out(dir: String, w: String => Unit) =
        IndexCommit.Output(s"$dbPath/$dir", IndexCommit.Replace, w)
      IndexCommit.commit(corpus.sparkSession, Seq(
        out("codes", pqEncode(corpus, books, dim, nSub)
          .join(labels, Seq("vec_id"))
          .write.mode("overwrite").partitionBy("label").parquet(_)),
        out("codebooks", books.write.mode("overwrite").parquet(_)),
        // coarse centroids from the raw vectors (codes can't reconstruct
        // them)
        out("centroids", centroids(labeled, "label")
          .write.mode("overwrite").parquet(_))),
        pin = Some(s"$dbPath/meta" -> Seq("n_clusters" -> nClusters)))
    } finally labels.unpersist()
  }

  /** Incrementally add vectors to a persisted IVF-PQ index: assign each
    * new vector to its nearest STORED coarse centroid, encode it with the
    * STORED codebooks, append the codes into that label's partition —
    * O(batch) per ingest, no partition rewrites, same frozen-artifact
    * contract as [[appendToAnnIndex]] (re-run [[buildPqIndex]] when the
    * distribution drifts).
    */
  def appendToPqIndex(corpus: DataFrame, dbPath: String, dim: Int,
      nSub: Int): Unit = {
    val spark = corpus.sparkSession
    val cents = spark.read.parquet(s"$dbPath/centroids")
    val books = spark.read.parquet(s"$dbPath/codebooks")
    val assigned = assignToStoredCentroids(corpus, cents)
      .select(col("vec_id"), col("label"))
    IndexCommit.commit(spark, Seq(IndexCommit.Output(s"$dbPath/codes",
      IndexCommit.Add, pqEncode(corpus, books, dim, nSub)
        .join(assigned, Seq("vec_id"))
        .write.partitionBy("label").parquet(_))),
      IndexCommit.batchPin(spark.sparkContext.hadoopConfiguration,
        s"$dbPath/meta"))
  }

  /** Query a persisted IVF-PQ index: probe the stored coarse centroids,
    * scan ONLY the probed label partitions of the CODES table (directory
    * pruning via dynamic partition pruning on the broadcast probe join —
    * same plan shape as [[searchAnnIndexed]], but each pruned scan reads
    * nSub ints per row instead of `dim` floats), score by ADC lookup.
    */
  def searchPqIndexed(spark: org.apache.spark.sql.SparkSession,
      dbPath: String, queries: DataFrame, dim: Int, nSub: Int, pqK: Int,
      topK: Int, nprobe: Int): DataFrame = {
    val cents = spark.read.parquet(s"$dbPath/centroids")
    val books = spark.read.parquet(s"$dbPath/codebooks")
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"), norm(col("embedding")).as("qn"))
    val probes = probeTopCentroids(q, cents, nprobe)
      .select(col("query_id"), col("label"))
    val probeTbl = probes
      .join(adcTables(queries, books, dim, nSub, pqK), Seq("query_id"))
    val codes = spark.read.parquet(s"$dbPath/codes")
      .select(col("vec_id").as("neighbor_id"), col("label"), col("codes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    codes.join(broadcast(probeTbl), Seq("label"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", adcScore(pqK, nSub))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /** Two-stage retrieval over a persisted IVF-PQ index: ADC-scored
    * candidates from [[searchPqIndexed]] (top `rerankK` per query),
    * re-ranked by EXACT cosine against the raw corpus — the standard
    * production ANN shape (Jegou et al.): the index bounds what the ADC
    * stage SCANS, the re-rank fixes ADC's quantization error on the short
    * candidate list. The codes table stores no raw vectors by design, so
    * the corpus rides in as a DataFrame; the id-keyed equi-join prunes it
    * to |Q| x rerankK rows but still reads the corpus ONCE to do so (row
    * pruning in the join, not partition pruning). For fetch-only
    * semantics at 100 TB, point `corpus` at an id-partitioned or
    * id-bucketed table so the join keys prune at scan time.
    */
  def searchPqIndexedRerank(spark: org.apache.spark.sql.SparkSession,
      dbPath: String, corpus: DataFrame, queries: DataFrame, dim: Int,
      nSub: Int, pqK: Int, topK: Int, rerankK: Int,
      nprobe: Int): DataFrame = {
    require(rerankK >= topK, s"rerankK $rerankK must be >= topK $topK")
    val cands = searchPqIndexed(spark, dbPath, queries, dim, nSub, pqK,
      rerankK, nprobe)
      .select(col("query_id"), col("neighbor_id"))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"), norm(col("embedding")).as("qn"))
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cv"), norm(col("embedding")).as("cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cands.join(broadcast(q), Seq("query_id"))
      .join(c, Seq("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** Hard-negative mining THROUGH a persisted IVF-PQ index — the scale
    * path for the brute-force miner (`emb_hard_negatives`): per anchor,
    * ADC candidates come from the index (top `candK`, partition-pruned
    * codes scan), then the label-inequality filter and EXACT cosine
    * ranking run over the candidate cut only. The anchors × corpus
    * quadratic pair term becomes anchors × candK; negatives are "top
    * different-label within the cut" — the standard ANN-mined negatives
    * every contrastive pipeline ships (exactness traded for the pruned
    * scan, like [[searchPqIndexedRerank]]). `corpus` and `anchors` must
    * carry (vec_id, embedding, `labelCol`).
    */
  def hardNegativesIndexed(spark: org.apache.spark.sql.SparkSession,
      dbPath: String, corpus: DataFrame, anchors: DataFrame, dim: Int,
      nSub: Int, pqK: Int, negK: Int, candK: Int, nprobe: Int,
      labelCol: String = "label"): DataFrame = {
    val cands = searchPqIndexed(spark, dbPath, anchors, dim, nSub, pqK,
      candK, nprobe)
      .select(col("query_id").as("anchor_id"), col("neighbor_id").as("neg_id"))
    val q = anchors.select(col("vec_id").as("anchor_id"),
      col("embedding").as("qv"), norm(col("embedding")).as("qn"),
      col(labelCol).as("ql"))
    val c = corpus.select(col("vec_id").as("neg_id"),
      col("embedding").as("cv"), norm(col("embedding")).as("cn"),
      col(labelCol).as("cl"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cos").desc, col("neg_id"))
    cands.join(broadcast(q), Seq("anchor_id"))
      .join(c, Seq("neg_id"))
      .filter(col("cl") =!= col("ql"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= negK)
      .select(col("anchor_id"), col("neg_id"), col("cos"), col("rank"))
  }

  /** Product-quantization codebooks (Jegou et al. 2011): the embedding
    * splits into `nSub` contiguous subvectors and each subspace gets its
    * own deterministic k-means codebook (k centroids of dim/nSub dims).
    * Returns (sub, label, centroid) — k*nSub rows, broadcastable.
    *
    * PQ is the 100 TB memory story for ANN: the corpus stores nSub SMALL
    * INTS per vector instead of `dim` floats (64-dim float -> 8 bytes at
    * nSub=8, a 32x scan-size reduction), and query-time scoring reads only
    * the codes.
    */
  def pqTrain(corpus: DataFrame, dim: Int, nSub: Int, k: Int,
      iters: Int = 3): DataFrame = {
    require(dim % nSub == 0, s"dim $dim must divide into $nSub subvectors")
    val d = dim / nSub
    // ALL subspaces train in one fused Lloyd loop: per iteration, ONE
    // broadcast join (k*nSub centroid rows) + row-local argmin + ONE mean
    // reduction — running nSub independent kmeans() calls would serialize
    // nSub*iters checkpoint jobs (measured 8x slower at nSub=8)
    val sv = corpus.select(col("vec_id"), posexplode(
      array((0 until nSub).map(s =>
        slice(col("embedding"), s * d + 1, d)): _*)).as(Seq("sub", "sv")))
      .localCheckpoint()
    // md5-ordered seeding per subspace (k rows each), label = rank of
    // vec_id among the seeds — same reproducible-spread rule as kmeans()
    val wSel = Window.partitionBy(col("sub"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    val wLab = Window.partitionBy(col("sub")).orderBy(col("vec_id"))
    var cents = sv
      .withColumn("rn", row_number().over(wSel))
      .filter(col("rn") <= k)
      .withColumn("label", row_number().over(wLab) - 1)
      .select(col("sub"), col("label"), col("sv").as("centroid"))
      .localCheckpoint()
    var i = 0
    while (i < iters) {
      val cb = cents.groupBy(col("sub"))
        .agg(array_sort(collect_list(struct(col("label"), col("centroid"))))
          .as("cents"))
      val best = array_min(transform(col("cents"), c =>
        struct((dot(col("sv"), col("sv"))
          - lit(2.0) * dot(col("sv"), c.getField("centroid"))
          + dot(c.getField("centroid"), c.getField("centroid"))).as("dist"),
          c.getField("label").as("label"))))
      cents = sv.join(broadcast(cb), Seq("sub"))
        .select(col("sub"), best.getField("label").as("label"),
          posexplode(col("sv")).as(Seq("pos", "v")))
        .groupBy(col("sub"), col("label"), col("pos"))
        .agg(avg(col("v")).as("mean"))
        .groupBy(col("sub"), col("label"))
        .agg(array_sort(collect_list(struct(col("pos"), col("mean"))))
          .as("pm"))
        .select(col("sub"), col("label"),
          transform(col("pm"), x => x.getField("mean")).as("centroid"))
        .localCheckpoint()
      i += 1
    }
    cents
  }

  /** Encode the corpus against trained codebooks: per subspace, the
    * nearest centroid (L2) id; output (vec_id, codes ARRAY ordered by
    * sub). One broadcast join per subspace fused into a single pass —
    * the codes column is what a PQ index persists.
    */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame, dim: Int,
      nSub: Int): DataFrame = {
    val d = dim / nSub
    val cb = codebooks.groupBy(col("sub"))
      .agg(array_sort(collect_list(struct(col("label"), col("centroid"))))
        .as("cents"))
    // argmin over the broadcast centroid array is ROW-LOCAL (array_min on
    // (dist, label) structs — lexicographic: min dist, ties to min label):
    // the only expansion is the nSub-way subvector explode and the only
    // shuffle is the final per-vector code assembly
    val best = array_min(transform(col("cents"), c =>
      struct((dot(col("sv"), col("sv"))
        - lit(2.0) * dot(col("sv"), c.getField("centroid"))
        + dot(c.getField("centroid"), c.getField("centroid"))).as("dist"),
        c.getField("label").as("label"))))
    // widen: the subvector explode + per-centroid argmin is CPU-bound map
    // work at the scan's partition count (graft.Par — no-op at scale)
    graft.Par.widen(corpus)
      .select(col("vec_id"), posexplode(
        array((0 until nSub).map(s =>
          slice(col("embedding"), s * d + 1, d)): _*)).as(Seq("sub", "sv")))
      .join(broadcast(cb), Seq("sub"))
      .select(col("vec_id"), col("sub"), best.getField("label").as("label"))
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("sub"), col("label")))).as("sl"))
      .select(col("vec_id"),
        transform(col("sl"), x => x.getField("label")).as("codes"))
  }

  /** Asymmetric-distance PQ search: each query precomputes a distance
    * table (dot of its subvector with every centroid — k*nSub entries,
    * broadcast), and every corpus vector's approximate inner product is a
    * row-local table lookup per code. The scan touches ONLY the compact
    * codes — the point of PQ. Output matches [[cosineTopK]]'s shape
    * (approximate inner-product ranking; `score` is the ADC estimate).
    */
  def pqSearch(codes: DataFrame, codebooks: DataFrame, queries: DataFrame,
      dim: Int, nSub: Int, k: Int, topK: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    // widen: the ADC lookup scan is per-(vector x query) map work at the
    // stored codes' partition count (graft.Par — no-op at scale)
    graft.Par.widen(codes).select(col("vec_id").as("neighbor_id"), col("codes"))
      .crossJoin(broadcast(adcTables(queries, codebooks, dim, nSub, k)))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", adcScore(k, nSub))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /** Per-query flat ADC table: entry [s*k + label] = dot(query_sub_s,
    * centroid). One row per query, k*nSub doubles — the broadcast side of
    * every PQ scan ([[pqSearch]], [[ivfPqTopK]]).
    */
  private def adcTables(queries: DataFrame, codebooks: DataFrame, dim: Int,
      nSub: Int, k: Int): DataFrame = {
    val d = dim / nSub
    queries
      .select(col("vec_id").as("query_id"), posexplode(
        array((0 until nSub).map(s =>
          slice(col("embedding"), s * d + 1, d)): _*)).as(Seq("sub", "qv")))
      .join(broadcast(codebooks), Seq("sub"))
      .select(col("query_id"),
        (col("sub") * k + col("label")).as("slot"),
        dot(col("qv"), col("centroid")).as("dp"))
      .groupBy(col("query_id"))
      .agg(array_sort(collect_list(struct(col("slot"), col("dp")))).as("te"))
      .select(col("query_id"),
        transform(col("te"), x => x.getField("dp")).as("tbl"))
  }

  /** Row-local ADC estimate: nSub table lookups over a `codes` array and
    * the query's flat `tbl`.
    */
  private def adcScore(k: Int, nSub: Int): Column =
    aggregate(
      sequence(lit(0), lit(nSub - 1)), lit(0.0),
      (acc, s) => acc + element_at(col("tbl"),
        (s * k + element_at(col("codes"), s + 1) + 1).cast("int")))

  /** IVF-PQ top-k — the FAISS-IVFPQ composition, the default ANN shape at
    * corpus scale: the coarse quantizer (the stored cluster label) bounds
    * WHICH rows each query scans (`nprobe` clusters), and PQ codes bound
    * what each scanned row COSTS (nSub small ints + table lookups — the
    * raw embedding is never read in the scan). Residual-free: codes
    * quantize the raw vectors, so the same [[pqTrain]]/[[pqEncode]]
    * artifacts serve flat [[pqSearch]] and this composition unchanged,
    * and probing ALL clusters degenerates exactly to [[pqSearch]]
    * (spec-pinned).
    *
    * Scale shape: centroids broadcast (nClusters rows), the per-query ADC
    * tables join the probe fan-out into ONE broadcast of |Q|*nprobe rows,
    * and the corpus-side work is an equi-join on the label column over
    * the codes table — partition-prunable when codes persist partitioned
    * by label (see [[buildAnnIndex]]).
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, labelCol: String,
      codes: DataFrame, codebooks: DataFrame, dim: Int, nSub: Int, k: Int,
      topK: Int, nprobe: Int): DataFrame = {
    val cents = centroids(corpus, labelCol)
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"), norm(col("embedding")).as("qn"))
    val probes = probeTopCentroids(q, cents, nprobe)
      .select(col("query_id"), col("label"))
    val probeTbl = probes
      .join(adcTables(queries, codebooks, dim, nSub, k), Seq("query_id"))
    val labeled = codes
      .join(corpus.select(col("vec_id"), col(labelCol).as("label")),
        Seq("vec_id"))
      .select(col("vec_id").as("neighbor_id"), col("label"), col("codes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    labeled.join(broadcast(probeTbl), Seq("label"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", adcScore(k, nSub))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /** SemDeDup-style semantic dedup pairs: k-means clusters the corpus
    * (the deterministic [[kmeans]]), then exact cosine runs only WITHIN
    * clusters — pairs in different clusters are never considered, which is
    * the method's approximation (Abbas et al. 2023: semantic duplicates
    * land in the same cluster w.h.p.). Returns (a, b, cos, label) pairs
    * with cosine >= threshold; feed to [[Dedup.applyNearDups]] or
    * [[Dedup.components]] to pick keepers.
    *
    * Scale shape: the pair space is an equi-join on the cluster label, so
    * work is sum(|cluster|^2), not |corpus|^2 — pick k so clusters stay
    * ~1e4; AQE splits skewed labels. The embeddings stay OUT of any
    * aggregation buffer (unlike the LSH single-agg trick, a cluster's
    * member embeddings would be megabytes per group), so this is a plain
    * self-join — scan-bound, twice.
    */
  /** Per-dimension SQ8 calibration: one row, `lo`/`hi` arrays of the
    * corpus-wide min/max per dimension — the training artifact of the
    * scalar-quantizer family (FAISS `ScalarQuantizer` QT_8bit). One
    * posexplode aggregation; at 100 TB this is a single map-side-combined
    * pass producing 2·dims doubles.
    */
  def sq8Calibration(corpus: DataFrame): DataFrame =
    corpus
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("pos"), col("lo"), col("hi"))))
        .as("pm"))
      .select(transform(col("pm"), x => x.getField("lo")).as("lo"),
        transform(col("pm"), x => x.getField("hi")).as("hi"))

  /** SQ8 encode: uint8 code per dimension (affine min/max grid, round
    * half-up), plus the DECODED vector and its norm so the scan never
    * touches the raw embedding — the decoded array is what an asymmetric
    * scalar-quantizer scan dots queries against (queries stay full
    * precision). A flat dim (hi == lo) encodes 0 and decodes to `lo`.
    * Output: (vec_id, codes array<smallint-as-long>, dec, dn).
    *
    * At rest the codes column is the index: 1 byte/dim vs 8 — an 8×
    * smaller scan footprint; `dec`/`dn` are derivable and can be
    * recomputed at read when storage wins matter more than decode CPU.
    */
  def sq8Encode(corpus: DataFrame, calib: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(calib))
      .withColumn("codes", expr(
        "transform(embedding, (x, i) -> CASE WHEN hi[i] = lo[i] THEN 0L " +
          "ELSE CAST(FLOOR((x - lo[i]) / (hi[i] - lo[i]) * 255.0 + 0.5) AS BIGINT) END)"))
      .withColumn("dec", expr(
        "transform(codes, (c, i) -> lo[i] + c * (hi[i] - lo[i]) / 255.0)"))
      .select(col("vec_id"), col("codes"), col("dec"),
        norm(col("dec")).as("dn"))

  /** SQ8 approximate top-k with exact rerank — the scalar-quantization
    * member of the ANN family ([[cosineTopK]] exact / [[ivfTopK]] coarse /
    * [[pqSearch]] product codes): calibrate, encode once, scan the DECODED
    * corpus against broadcast full-precision queries (asymmetric distance),
    * keep `rerank` candidates per query, then exact-cosine rerank to
    * `k`. Same output shape as [[cosineTopK]]; recall gaps come only from
    * quantization error outside the rerank window.
    *
    * Scale shape: identical to the flat scan — one pass over the encoded
    * corpus per query batch, queries broadcast; the win is the 8× smaller
    * at-rest scan when `dec` is recomputed from codes at read. The rerank
    * join re-reads only |Q|·rerank raw embeddings.
    */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int,
      rerank: Int): DataFrame = {
    val enc = sq8Encode(corpus, sq8Calibration(corpus))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"), norm(col("embedding")).as("qn"))
    val wa = Window.partitionBy(col("query_id"))
      .orderBy(col("acos").desc, col("neighbor_id"))
    // the approx scan PROJECTS AWAY the query vectors before ranking:
    // the rank's per-partition sort + WindowGroupLimit otherwise drag a
    // 512-byte qv through every |Q|x|C| row (x100 corpus AND queries:
    // min-of-3 166 s before, 78 s after — 2.1x; the remainder is the
    // inherent O(|Q|*|C|) ADC dot-product scan, which the IVF/PQ index
    // paths avoid by pruning partitions). The rerank re-joins qv from
    // the broadcast query table on the |Q|*rerank survivors instead.
    val cand = enc.select(col("vec_id").as("neighbor_id"), col("dec"), col("dn"))
      .crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("dec")) / (col("qn") * col("dn"))).as("acos"))
      .withColumn("arank", row_number().over(wa))
      .filter(col("arank") <= rerank)
      .select(col("query_id"), col("neighbor_id"))
    val cv = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cv"), norm(col("embedding")).as("cn"))
    val we = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand.join(broadcast(q), Seq("query_id"))
      .join(cv, Seq("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(we))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** Per-query recall@k of an approximate top-k list against the exact
    * one — the standard ANN quality gauge run before trusting an index
    * family at scale. Inputs are any two (query_id, neighbor_id, ...)
    * lists already cut to k; output (query_id, hits, recall) covers
    * EVERY query in the exact list (zero-overlap queries emit 0, not
    * drop). Two small joins over k-sized lists — cost is the retrievals',
    * never this.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    val hits = exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
    exact.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)) / lit(k.toDouble), 4).as("recall"))
  }

  /** Deterministic ±1 JL projection row `p` (Achlioptas 2003 showed the
    * dense-Gaussian matrix can be replaced by iid ±1 entries with the same
    * distortion bound): weight i is +1 when the first hex digit of
    * md5("rp:p:i") is < '8', else -1 — md5-seeded like the SRP/minhash
    * families so an oracle reproduces the matrix in SQL. The seed space is
    * prefixed "rp:" so it can never collide with [[srpWeights]]'s buckets.
    * Evaluated once at plan time (the weights are literals).
    */
  private def rpWeights(p: Int, dims: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until dims).map { i =>
      val hex = md.digest(s"rp:$p:$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (hex.charAt(0) < '8') 1.0 else -1.0
    }.toArray
  }

  /** Project `emb` (length `dims`) to a `dProj`-dim array: component p is
    * the codegen'd dot against JL row p. The 1/√dProj JL scale is omitted
    * on purpose — it multiplies every component identically, so cosine in
    * the projected space is unchanged and the oracle has one fewer float
    * op to mirror.
    */
  def rpProject(emb: Column, dProj: Int, dims: Int): Column =
    array((0 until dProj).map(p => dot(emb, lit(rpWeights(p, dims)))): _*)

  /** Random-projection approximate top-k with exact rerank — the
    * dimensionality-reduction member of the ANN family ([[sq8TopK]]
    * shrinks each dimension to a byte; this shrinks the NUMBER of
    * dimensions, dims → dProj, a dims/dProj× smaller scan). The corpus
    * and queries project through the same fixed ±1 JL matrix; the
    * approximate scan ranks by cosine in the projected space (JL
    * preserves angles to within the usual (1±ε) distortion), keeps
    * `rerank` candidates per query, then exact-cosine reranks to `k` over
    * the raw vectors. Same output shape and scale posture as [[sq8TopK]]:
    * one pass over the (much narrower) projected corpus per broadcast
    * query batch, narrow (query_id, neighbor_id) candidate rows through
    * the rank, raw embeddings touched only for |Q|·rerank survivors.
    * At 100 TB the projected table is the stored artifact: dProj=16 on
    * dim-64 floats is a 4× scan cut with zero decode CPU (compare SQ8's
    * 8× with a per-row decode) — and the two compose (project, THEN
    * quantize) when both wins matter.
    */
  def rpTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      dProj: Int, rerank: Int, dims: Int = 64): DataFrame = {
    require(dProj >= 1 && dProj <= dims,
      s"dProj must be in [1, $dims], got $dProj")
    val pc = corpus.select(col("vec_id").as("neighbor_id"),
      rpProject(col("embedding"), dProj, dims).as("pv"))
      .withColumn("pn", norm(col("pv")))
    rpCascade(pc,
      corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("cv"), norm(col("embedding")).as("cn")),
      queries, k, dProj, rerank, dims)
  }

  /** The RP search cascade over an already-projected corpus — shared by
    * [[rpTopK]] (projects in-flight) and [[searchRpIndexed]] (reads the
    * STORED projection), so the two can never drift. `pc` is
    * (neighbor_id, pv, pn); `cv` is (neighbor_id, cv, cn) raw vectors for
    * the exact rerank.
    */
  private def rpCascade(pc: DataFrame, cv: DataFrame, queries: DataFrame,
      k: Int, dProj: Int, rerank: Int, dims: Int): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"), norm(col("embedding")).as("qn"),
      rpProject(col("embedding"), dProj, dims).as("qp"))
      .withColumn("qpn", norm(col("qp")))
    val wa = Window.partitionBy(col("query_id"))
      .orderBy(col("pcos").desc, col("neighbor_id"))
    // project away the query payload before ranking — the sq8TopK lesson:
    // the rank sort must carry (query_id, neighbor_id, pcos) rows only
    val cand = pc
      .crossJoin(broadcast(q.select(col("query_id"), col("qp"), col("qpn"))))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qp"), col("pv")) / (col("qpn") * col("pn"))).as("pcos"))
      .withColumn("arank", row_number().over(wa))
      .filter(col("arank") <= rerank)
      .select(col("query_id"), col("neighbor_id"))
    val we = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand.join(broadcast(q.select(col("query_id"), col("qv"), col("qn"))),
        Seq("query_id"))
      .join(cv, Seq("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(we))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** The RP candidate POOL at the widest window of interest, carrying
    * BOTH scores — the approximate rank (`arank`, projected-space
    * cosine order) and the exact cosine (`cos`) — so a recall/cost
    * sweep can evaluate every narrower rerank window from ONE cascade:
    * filter `arank <= w`, re-rank by `cos`, cut at k. The pool at
    * window w reranked this way is exactly [[rpTopK]](rerank = w) by
    * construction (same candidate set, same (cos, neighbor_id) order);
    * the driver oracle pins that equivalence independently.
    */
  def rpCandidates(corpus: DataFrame, queries: DataFrame, dProj: Int,
      window: Int, dims: Int = 64): DataFrame = {
    require(dProj >= 1 && dProj <= dims,
      s"dProj must be in [1, $dims], got $dProj")
    val pc = corpus.select(col("vec_id").as("neighbor_id"),
      rpProject(col("embedding"), dProj, dims).as("pv"))
      .withColumn("pn", norm(col("pv")))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"), norm(col("embedding")).as("qn"),
      rpProject(col("embedding"), dProj, dims).as("qp"))
      .withColumn("qpn", norm(col("qp")))
    val wa = Window.partitionBy(col("query_id"))
      .orderBy(col("pcos").desc, col("neighbor_id"))
    val cand = pc
      .crossJoin(broadcast(q.select(col("query_id"), col("qp"), col("qpn"))))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qp"), col("pv")) / (col("qpn") * col("pn"))).as("pcos"))
      .withColumn("arank", row_number().over(wa))
      .filter(col("arank") <= window)
      .select(col("query_id"), col("neighbor_id"), col("arank"))
    cand.join(broadcast(q.select(col("query_id"), col("qv"), col("qn"))),
        Seq("query_id"))
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("cv"), norm(col("embedding")).as("cn")),
        Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("arank"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
  }

  /** Persist the RP index: the PROJECTED table (`proj` — the dims/dProj×
    * smaller scan artifact the rpTopK scaladoc promises) plus the raw
    * vectors (`vectors`, the rerank side) and a param-pinning meta row.
    * Same single-writer frozen-artifact contract as the ANN/PQ builders.
    * Build and append publish vectors before proj, so every candidate
    * the projected scan returns can be reranked.
    */
  def buildRpIndex(corpus: DataFrame, dbPath: String, dProj: Int,
      dims: Int = 64): Unit = {
    require(dProj >= 1 && dProj <= dims,
      s"dProj must be in [1, $dims], got $dProj")
    IndexCommit.commit(corpus.sparkSession,
      rpOutputs(corpus, dbPath, dProj, dims, IndexCommit.Replace),
      pin = Some(s"$dbPath/meta" -> Seq("d_proj" -> dProj, "dims" -> dims)))
  }

  /** O(batch) append: project the batch through the PINNED matrix params
    * and land both tables without touching existing files.
    */
  def appendToRpIndex(corpus: DataFrame, dbPath: String): Unit = {
    val spark = corpus.sparkSession
    val m = spark.read.parquet(s"$dbPath/meta").head()
    IndexCommit.commit(spark, rpOutputs(corpus, dbPath, m.getAs[Int]("d_proj"),
      m.getAs[Int]("dims"), IndexCommit.Add))
  }

  private def rpOutputs(corpus: DataFrame, dbPath: String, dProj: Int,
      dims: Int, how: IndexCommit.Publish): Seq[IndexCommit.Output] = Seq(
    IndexCommit.Output(s"$dbPath/vectors", how,
      corpus.select(col("vec_id"), col("embedding"))
        .write.mode("overwrite").parquet(_)),
    IndexCommit.Output(s"$dbPath/proj", how,
      corpus.select(col("vec_id"),
          rpProject(col("embedding"), dProj, dims).as("pv"))
        .withColumn("pn", norm(col("pv")))
        .write.mode("overwrite").parquet(_)))

  /** Search the stored RP index: the approximate scan reads ONLY the
    * narrow projected table; raw vectors are touched for the |Q|·rerank
    * rerank survivors. Scoring is [[rpCascade]] — identical to the
    * in-memory operator by construction (spec- and oracle-pinned).
    */
  def searchRpIndexed(spark: org.apache.spark.sql.SparkSession,
      dbPath: String, queries: DataFrame, k: Int,
      rerank: Int): DataFrame = {
    val m = spark.read.parquet(s"$dbPath/meta").head()
    val (dProj, dims) = (m.getAs[Int]("d_proj"), m.getAs[Int]("dims"))
    val pc = spark.read.parquet(s"$dbPath/proj")
      .select(col("vec_id").as("neighbor_id"), col("pv"), col("pn"))
    val cv = spark.read.parquet(s"$dbPath/vectors")
      .select(col("vec_id").as("neighbor_id"),
        col("embedding").as("cv"), norm(col("embedding")).as("cn"))
    rpCascade(pc, cv, queries, k, dProj, rerank, dims)
  }

  /** Composed compression: RP-project (dims → dProj), THEN SQ8-quantize
    * the PROJECTED table — the composition the [[rpTopK]] scaladoc
    * promises ("the two compose when both wins matter"). At rest the
    * index is dProj uint8 codes per vector: on dim-64 floats at dProj=16
    * that is a 32× smaller scan artifact (4× fewer dims × 8× narrower
    * cells) against [[cosineTopK]]'s raw corpus. The approximate scan is
    * asymmetric twice over — full-precision queries project through the
    * same JL matrix and dot against the DECODED projected corpus — then
    * the exact-cosine rerank over raw vectors repairs both quantization
    * and projection error inside the rerank window. Cascade and output
    * shape are [[rpCascade]]'s: the only change is that the stored `pv`
    * is the SQ8-decoded projection instead of the exact one.
    */
  def rpSq8TopK(corpus: DataFrame, queries: DataFrame, k: Int,
      dProj: Int, rerank: Int, dims: Int = 64): DataFrame = {
    require(dProj >= 1 && dProj <= dims,
      s"dProj must be in [1, $dims], got $dProj")
    val proj = corpus.select(col("vec_id"),
      rpProject(col("embedding"), dProj, dims).as("embedding"))
    val enc = sq8Encode(proj, sq8Calibration(proj))
    val pc = enc.select(col("vec_id").as("neighbor_id"),
      col("dec").as("pv"), col("dn").as("pn"))
    rpCascade(pc,
      corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("cv"), norm(col("embedding")).as("cn")),
      queries, k, dProj, rerank, dims)
  }

  /** Exact inner-product top-k — the brute-force baseline in the metric
    * the PQ family's ADC scores approximate (sum of codebook dot
    * products ≈ raw inner product), so [[recallAtK]] can gauge PQ
    * against ITS OWN target metric rather than cosine. Same plan shape
    * as [[cosineTopK]]: broadcast queries, codegen'd dot, per-query
    * window cut.
    */
  def ipTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"))
    val scored = corpus
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      .crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", dot(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  def semDedup(corpus: DataFrame, k: Int, iters: Int,
      threshold: Double): DataFrame = {
    // cache(): the label table feeds both join sides, and uncached each
    // side would replay the full k-means assignment pass. (vec_id, label)
    // rows are ~16 bytes — tiny next to the corpus. Lifetime is
    // CALLER-OWNED (same contract as the query-table cache): materialize
    // the result, then clearCache(), or keep the session short.
    val labels = kmeans(corpus, k, iters).cache()
    val labeled = corpus.join(labels, Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("label"),
        norm(col("embedding")).as("vn"))
    val l = labeled.select(col("vec_id").as("a"), col("embedding").as("va"),
      col("vn").as("na"), col("label"))
    val r = labeled.select(col("vec_id").as("b"), col("embedding").as("vb"),
      col("vn").as("nb"), col("label"))
    l.join(r, Seq("label"))
      .filter(col("a") < col("b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("a"), col("b"), col("cos"), col("label"))
  }

  /** Embedding near-dup pairs, the 100 TB path: SRP band-bucket candidate
    * generation (cosine-similar vectors agree on SRP sign bits with
    * probability 1 - angle/pi per bit, so near-dups collide in some band
    * w.h.p.) followed by exact cosine verification — the same
    * cheap-candidates / expensive-verify cascade as MinHash→Jaccard. NO
    * cross join: candidates come from an equi-join on (band, bval).
    * Approximate by design: recall < 1 for pairs straddling the threshold
    * (tune nProj/rowsPerBand); [[embeddingNearDupExact]] is the exact
    * baseline.
    */
  def embeddingNearDup(corpus: DataFrame, queryPred: Column,
      threshold: Double, nProj: Int = 8, rowsPerBand: Int = 2,
      dims: Int = 64, maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    // Candidate pairs via the shared Dedup cascade (ONE aggregation over
    // the banded rows — see Dedup.cappedMemberBuckets): each (band, bval)
    // bucket collects its members with a query-side flag, pairs expand
    // array-locally — AT LEAST ONE side must be a query member (the
    // either-side rule shared with simhashPairs/indexPairs: pairs where
    // the query doc carries the LARGER id still emit). This computes the
    // nProj dot products per row ONCE (the filtered-side + full-side
    // equi-join formulation ran srpBanded twice)
    // and needs no window. Hot-bucket cap: SRP buckets of near-constant
    // vectors (zero embeddings, template pages) would otherwise emit
    // quadratic pairs; oversized buckets are dropped wholesale with the
    // observed-metric + driver-WARN contract (see Dedup.DefaultMaxBucket).
    val buckets = Dedup.cappedMemberBuckets(
      srpBanded(corpus, nProj, rowsPerBand, dims), Seq("band", "bval"),
      struct(col("vec_id").as("id"), queryPred.as("isq")), maxBucket)
    val cand = Dedup.expandMemberPairs(buckets)
      .filter(col("m.isq") || col("x.isq"))
      .select(col("m.id").as("a"), col("x.id").as("b"))
      .distinct()
    val qv = corpus.select(col("vec_id").as("a"), col("embedding").as("qv"),
      norm(col("embedding")).as("qn"))
    val cv = corpus.select(col("vec_id").as("b"), col("embedding").as("cv"),
      norm(col("embedding")).as("cn"))
    cand.join(qv, Seq("a")).join(cv, Seq("b"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .filter(col("cos") >= threshold)
      .select(col("a"), col("b"), col("cos"))
  }
}
