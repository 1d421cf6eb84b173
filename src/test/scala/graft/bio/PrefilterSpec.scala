package graft.bio

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §5 properties: count-filter monotonicity and exact ⊆ expanded
  * hit-set containment, through the real prefilter; the grouped contract
  * against a nested-loop model; one index scan per search.
  */
class PrefilterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def seqsDf = {
    val rnd = new scala.util.Random(5)
    val A = Matrices.KmerAlphabet
    // families of related sequences: mutate a base sequence
    val base = Array.fill(80)(A(rnd.nextInt(20)))
    val seqs = (0 until 10).map { i =>
      val s = base.clone()
      (0 until i * 3).foreach(_ => s(rnd.nextInt(80)) = A(rnd.nextInt(20)))
      (i.toLong, new String(s), 80)
    }
    seqs.toDF("seqId", "seq", "seqLen")
  }

  test("count-filter is monotone in requiredKmerMatches") {
    val df = seqsDf.cache()
    val index = KmerIndex.buildWithPos(df)
    val qk = Prefilter.queryKmers(df)
    def pairs(min: Int) =
      Prefilter.runWithDiag(qk, index, min)
        .select("targetId", "queryId").distinct()
        .as[(Long, Long)].collect().toSet
    val p2 = pairs(2)
    val p5 = pairs(5)
    assert(p5.subsetOf(p2))
    assert(p2.nonEmpty)
  }

  test("exact-match hit set is a subset of the expanded hit set") {
    val df = seqsDf.cache()
    val index = KmerIndex.buildWithPos(df)
    val exact = QueryTable.build(spark, df,
      QueryTable.Config(exactKmerMatching = true, maskMode = false,
        biasCorrection = false))
    val expanded = QueryTable.build(spark, df,
      QueryTable.Config(maskMode = false, biasCorrection = false))
    def hits(qk: org.apache.spark.sql.DataFrame) =
      Prefilter.runWithDiag(qk, index, 2)
        .select("targetId", "queryId").distinct()
        .as[(Long, Long)].collect().toSet
    val he = hits(exact)
    val hx = hits(expanded)
    assert(he.subsetOf(hx))
  }

  private type Hit = (Int, Long, Int) // (kmerPos, kmer, diag)

  /** The prefilter as a nested loop over the collected tables: every
    * (query k-mer, index row) pair with equal k-mers is a hit of its
    * ([dbId,] targetId, queryId), ungated. Each hit list is sorted.
    */
  private def model(qk: DataFrame, index: DataFrame): Map[(Long, Long, Long), Seq[Hit]] = {
    val q = qk.select("queryId", "kmerPos", "kmer").as[(Long, Int, Long)].collect()
    val withDb = if (index.columns.contains("dbId")) index else index.withColumn("dbId", lit(0L))
    val idx = withDb.select("dbId", "kmer", "seqId", "tpos").as[(Long, Long, Long, Int)].collect()
    val hits = for {
      (queryId, kmerPos, kmer) <- q.toSeq
      (dbId, ikmer, seqId, tpos) <- idx.toSeq if ikmer == kmer
    } yield (dbId, seqId, queryId) -> ((kmerPos, kmer, kmerPos - tpos))
    hits.groupBy(_._1).map { case (key, hs) => key -> hs.map(_._2).sorted }
  }

  /** runWithDiag's groups, keyed like [[model]], each hit list sorted. */
  private def grouped(qk: DataFrame, index: DataFrame,
      required: Int): Map[(Long, Long, Long), Seq[Hit]] = {
    val pf = Prefilter.runWithDiag(qk, index, required)
    val withDb = if (pf.columns.contains("dbId")) pf else pf.withColumn("dbId", lit(0L))
    withDb.select("dbId", "targetId", "queryId", "hits")
      .as[(Long, Long, Long, Seq[Hit])].collect()
      .map { case (d, t, q, hs) => (d, t, q) -> hs.sorted }.toMap
  }

  /** The groups at `required` are the model's pairs with more than
    * `required` hits, each with the model's hits. Returns the groups.
    */
  private def checkAgainstModel(qk: DataFrame, index: DataFrame,
      all: Map[(Long, Long, Long), Seq[Hit]],
      required: Int): Map[(Long, Long, Long), Seq[Hit]] = {
    val got = grouped(qk, index, required)
    assert(got == all.filter(_._2.size > required))
    got
  }

  /** The groups at `gate`, where the model has a pair with exactly `gate`
    * hits and one with `gate + 1`: the first is dropped, the second kept.
    */
  private def checkBoundary(all: Map[(Long, Long, Long), Seq[Hit]],
      got: Map[(Long, Long, Long), Seq[Hit]], gate: Int): Unit = {
    val atGate = all.collectFirst { case (k, hs) if hs.size == gate => k }
    val overGate = all.collectFirst { case (k, hs) if hs.size == gate + 1 => k }
    assert(atGate.nonEmpty && overGate.nonEmpty, s"no boundary pairs at $gate")
    assert(!got.contains(atGate.get))
    assert(got.contains(overGate.get))
  }

  test("runWithDiag: one group per gated pair, hits equal to a nested-loop model") {
    val df = seqsDf.cache()
    val index = KmerIndex.buildWithPos(df).cache()
    val qk = Prefilter.queryKmers(df)
    val all = model(qk, index)
    assert(Prefilter.runWithDiag(qk, index).columns.toSeq ==
      Seq("targetId", "queryId", "hits"))
    checkAgainstModel(qk, index, all, Prefilter.RequiredKmerMatches)
    // the smallest gate with pairs on both sides of it
    val sizes = all.values.map(_.size).toSet
    val gate = sizes.filter(n => n >= 1 && sizes.contains(n + 1)).min
    checkBoundary(all, checkAgainstModel(qk, index, all, gate), gate)
  }

  test("runWithDiag: two DBs sharing seqIds are gated independently") {
    val df = seqsDf.cache()
    // DB 0 holds seqs 0-4, DB 1 seqs 5-9 renumbered to 0-4: same seqIds
    val index = KmerIndex.buildWithPos(df.filter(col("seqId") < 5).withColumn("dbId", lit(0L))
      .unionByName(df.filter(col("seqId") >= 5)
        .withColumn("seqId", col("seqId") - 5).withColumn("dbId", lit(1L)))).cache()
    val qk = Prefilter.queryKmers(df)
    val all = model(qk, index)
    assert(all.keySet.map(_._1) == Set(0L, 1L))
    assert(Prefilter.runWithDiag(qk, index).columns.toSeq ==
      Seq("dbId", "targetId", "queryId", "hits"))
    checkAgainstModel(qk, index, all, Prefilter.RequiredKmerMatches)
    // a (targetId, queryId) hit in both DBs, gated at its larger per-DB
    // count: dropped in each DB, though its hits summed across the DBs
    // pass a dbId-blind gate
    val sizes = all.values.map(_.size).toSet
    val (split, gate) = all.toSeq.groupBy { case ((_, t, q), _) => (t, q) }
      .collect { case (tq, Seq((_, a), (_, b))) => tq -> math.max(a.size, b.size) }
      .filter { case (_, g) => sizes.contains(g + 1) }
      .minBy(_._2)
    val got = checkAgainstModel(qk, index, all, gate)
    checkBoundary(all, got, gate)
    assert(!got.keySet.map { case (_, t, q) => (t, q) }.contains(split))
  }

  test("searchIndexed reads the persisted k-mer index once") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val fa = java.io.File.createTempFile("prefilter_db", ".fa")
    fa.deleteOnExit()
    java.nio.file.Files.writeString(fa.toPath, seqsDf.as[(Long, String, Int)].collect()
      .map { case (id, seq, _) => s">s$id\n$seq" }.mkString("\n"))
    val dbPath = java.nio.file.Files.createTempDirectory("prefilter_db").toString
    PetaSearch.buildTargetDb(spark, fa.getAbsolutePath, dbPath)
    val result = PetaSearch.searchIndexed(spark, Fasta.read(spark, fa.getAbsolutePath), dbPath)
    val kmerScans = result.queryExecution.optimizedPlan.collect {
      case r: LogicalRelation => r.relation
    }.collect {
      case fs: HadoopFsRelation if fs.location.rootPaths.exists(_.getName == "kmers") => fs
    }
    assert(kmerScans.size == 1)
    assert(result.count() > 0)
  }
}
