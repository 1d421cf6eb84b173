package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.bio.{Align, Fasta, KmerCodec, PetaSearch, Prefilter}

/** One workload: its set-up and its op. `op` returns the wall seconds of
  * the op's timed phases ("search", "append"; the op's own wall is taken
  * outside) and the output to check.
  */
trait Workload {
  def setup(dir: Path): Unit
  /** Seconds the last set-up spent building indexes. */
  def lastBuildS: Double
  def op(out: Path): (Map[String, Double], Output)
  /** Ratios and counts of the op just traced, from untimed count jobs. */
  def layerCounts(): Map[String, Double] = Map.empty
  /** The share of planted pairs an op must report. */
  def recallFloor: Double
}

object Workloads {
  def apply(name: String, h: Harness, seed: Long): Workload = name match {
    case "indexed_search" => new IndexedSearch(h, seed)
    case "ops_mix" => new OpsMix(h, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Every m8 line of a written TSV directory, sorted. */
  def m8Lines(dir: Path): Seq[String] =
    Files2.dataFiles(dir).flatMap(f =>
      new String(Files.readAllBytes(f), UTF_8).split("\n").filter(_.nonEmpty)).sorted

  def m8Output(dir: Path, truth: Seq[(String, String)]): Output = {
    val lines = m8Lines(dir)
    val pairs = lines.map { l =>
      val f = l.split("\t", 3)
      f(0) -> f(1)
    }.toSet
    Output(lines.size.toLong, Files2.sha256(lines), Corpus.recall(truth, pairs))
  }
}

/** A prebuilt DB probed by query batches, with an append beside each search.
  * A traced op runs the search layer by layer through the program's public
  * entry points; the counts that give the layer ratios come afterwards.
  */
final class IndexedSearch(h: Harness, seed: Long) extends Workload {
  val NBackground = 600
  val NBatch = 60
  val NQueries = 150
  val recallFloor = 0.5

  private val spark = h.spark
  private val params = PetaSearch.Params()
  private var dir: Path = _
  private var truth: Seq[(String, String)] = Nil
  var lastBuildS = 0.0
  private var setupCounts = Map.empty[String, Double]
  private var last: Option[(DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, Path)] = None

  def setup(d: Path): Unit = {
    dir = d
    val c = Corpus.indexed(seed, NBackground, NBatch, NQueries)
    truth = c.truth
    Files2.write(d.resolve("background.fa"), Corpus.fasta(c.background))
    Files2.write(d.resolve("batch.fa"), Corpus.fasta(c.batch))
    Files2.write(d.resolve("queries.fa"), Corpus.fasta(c.queries))
    val a = h.now
    h.action("kmerindex")(PetaSearch.buildTargetDb(spark,
      d.resolve("background.fa").toString, d.resolve("db0").toString, params))
    lastBuildS = (h.now - a) / 1000.0
    if (h.tracing) setupCounts = h.diag {
      val db = d.resolve("db0")
      Map("kmerindex.kmers_in" -> KmerCodec.explodeKmers(
          spark.read.parquet(db.resolve("sequences").toString), "seq", params.k,
          params.mode.kmerAlphabet).count().toDouble,
        "kmerindex.unique" -> spark.read.parquet(db.resolve("kmers").toString)
          .count().toDouble,
        "kmerindex.bytes_written" -> Files2.size(db.resolve("kmers")).toDouble)
    }
  }

  def op(out: Path): (Map[String, Double], Output) = {
    val db = dir.resolve("db")
    Files2.copyTree(dir.resolve("db0"), db) // restore the snapshot, untimed
    val batch = dir.resolve("batch.fa").toString
    val queries = dir.resolve("queries.fa").toString
    val a = h.now
    h.action("append")(PetaSearch.appendToTargetDb(spark, batch, db.toString, params))
    val b = h.now
    if (h.tracing) tracedSearch(queries, db, out)
    else {
      val q = Fasta.read(spark, queries).cache()
      val targets = spark.read.parquet(db.resolve("sequences").toString)
      PetaSearch.writeM8(PetaSearch.toM8(
        PetaSearch.searchIndexed(spark, q, db.toString, params), q, targets), out.toString)
    }
    val c = h.now
    (Map("append" -> (b - a) / 1000.0, "search" -> (c - b) / 1000.0),
      Workloads.m8Output(out, truth))
  }

  /** fasta -> querytable -> prefilter -> align -> m8 against the persisted
    * DB, each layer a public entry point of the program.
    */
  private def tracedSearch(queryFasta: String, db: Path, out: Path): Unit = {
    val q = h.stage("fasta")(Fasta.read(spark, queryFasta))
    val targets = spark.read.parquet(db.resolve("sequences").toString)
    val index = spark.read.parquet(db.resolve("kmers").toString)
    val dbRes = spark.read.parquet(db.resolve("meta").toString).head()
      .getAs[Long]("dbResCount")
    val qk = h.stage("querytable")(PetaSearch.buildQueryTable(spark, q, params))
    val pf = h.stage("prefilter")(
      Prefilter.runWithDiag(qk, index, params.requiredKmerMatches))
    val alis = h.stage("align")(
      Align.run(spark, pf, q, targets, params.evalThr, params.xdrop, params.mode.gaps,
        params.mode.alignMatrix, params.mode.gumbel, params.k, knownDbResCount = Some(dbRes)))
    h.action("m8")(PetaSearch.writeM8(PetaSearch.toM8(alis, q, targets), out.toString))
    last = Some((q, index, qk, pf, alis, out))
  }

  override def layerCounts(): Map[String, Double] = last match {
    case None => Map.empty
    case Some((q, index, qk, pf, alis, out)) =>
      last = None
      h.diag {
        val res = q.agg(sum(col("seqLen"))).head().getLong(0).toDouble
        val seqs = q.count().toDouble
        val qkRows = qk.count().toDouble
        val hits = broadcast(qk).join(
          index.select(col("kmer"), col("seqId").as("targetId")), Seq("kmer"))
        val hitRows = hits.count().toDouble
        val pairsHit = hits.select("targetId", "queryId").distinct().count().toDouble
        val pairsGated = pf.select("targetId", "queryId").distinct().count().toDouble
        val alns = alis.count().toDouble
        val m8 = Workloads.m8Lines(out)
        val fastaS = h.spans.reverseIterator.find(_.name == "fasta")
          .map(s => (s.end - s.start) / 1000.0).getOrElse(Double.NaN)
        Map("fasta.seqs" -> seqs, "fasta.mres_per_s" -> res / 1e6 / fastaS,
          "querytable.rows" -> qkRows, "querytable.rows_per_res" -> qkRows / res,
          "prefilter.index_rows_read" -> h.counters("prefilter").inputRecords.toDouble,
          "prefilter.hit_rows" -> hitRows, "prefilter.pairs_hit" -> pairsHit,
          "prefilter.pairs_gated" -> pairsGated,
          "prefilter.gate_pass" -> pairsGated / pairsHit,
          "align.pairs" -> pairsGated, "align.alns" -> alns,
          "align.yield" -> alns / pairsGated,
          "m8.rows" -> m8.size.toDouble, "m8.bytes" -> Files2.size(out).toDouble,
          "append.bytes_written" -> h.counters("append").outputBytes.toDouble) ++
          setupCounts
      }
  }
}

object OpsMix {
  /** A near-duplicate search and an incremental write path (Scd2, whose
    * history and watermark writes `Par.jobs` overlaps).
    */
  val Queries = Seq("dedup_components", "q33_scd2_incr")
}

/** One pass over a fixed list of registry queries on generated tables. Its
  * recall is the share of planted near-duplicate documents that
  * dedup_components puts in one component with their source. The
  * incremental Scd2 merge (q33_scd2_incr) must give exactly the rows of a
  * full rebuild of the same events (q32_scd2). The rebuild runs once, after
  * the first pass, which is the untimed warm-up: every set-up of a run
  * writes the same inputs.
  */
final class OpsMix(h: Harness, seed: Long) extends Workload {
  val NDocs = 1000
  val NEvents = 10000
  val recallFloor = 0.8

  private val spark = h.spark
  private var data: String = _
  private var planted: Seq[(Long, Long)] = Nil
  private var scd2Rebuild: Seq[String] = Nil
  var lastBuildS = 0.0

  /** Generates the tables; writing them is the workload's DB build. */
  def setup(d: Path): Unit = {
    import spark.implicits._
    val (docs, dups) = Corpus.documents(seed, NDocs)
    val events = Corpus.events(seed + 1, NEvents)
    planted = dups
    data = d.toString
    val a = h.now
    docs.toDF().coalesce(1).write.parquet(d.resolve("documents.parquet").toString)
    events.toDF().coalesce(1).write.parquet(d.resolve("events.parquet").toString)
    lastBuildS = (h.now - a) / 1000.0
  }

  private def sortedRows(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  def op(out: Path): (Map[String, Double], Output) = {
    val walls = OpsMix.Queries.map { name =>
      val q = graft.Registry.byName(name)
      val a = h.now
      val rows = h.action(s"mix.$name")(q.run(spark, data).collect())
      val wall = (h.now - a) / 1000.0
      spark.catalog.clearCache()
      (name, wall, rows)
    }
    val comps = walls.find(_._1 == "dedup_components").get._3
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val found = planted.count { case (a, b) =>
      comps.get(a).exists(c => comps.get(b).contains(c))
    }
    if (scd2Rebuild.isEmpty)
      scd2Rebuild = sortedRows(graft.Registry.byName("q32_scd2").run(spark, data).collect())
    if (sortedRows(walls.find(_._1 == "q33_scd2_incr").get._3) != scd2Rebuild)
      throw new IllegalStateException(
        "q33_scd2_incr rows differ from the q32_scd2 full rebuild of the same events")
    val perQuery = walls.map { case (name, _, rows) =>
      name -> (rows.length.toLong, Files2.sha256(sortedRows(rows)))
    }
    val wall = walls.map { case (name, s, _) => name -> s }.toMap
    (Map("search" -> wall("dedup_components"), "append" -> wall("q33_scd2_incr"),
      "pass" -> wall.values.sum),
      Output(perQuery.map(_._2._1).sum, Files2.sha256(perQuery.map(x => s"${x._1}:${x._2._2}")),
        found.toDouble / planted.size,
        perQuery.map { case (n, (rows, _)) => s"rows.$n" -> rows }.toMap))
  }
}
