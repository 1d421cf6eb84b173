package graft.bio

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Nucleotide mode + custom output formats. */
class ModesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def writeFasta(records: Seq[(String, String)]): String = {
    val f = java.io.File.createTempFile("nuc", ".fa")
    f.deleteOnExit()
    java.nio.file.Files.writeString(f.toPath,
      records.map { case (h, s) => s">$h\n$s" }.mkString("\n"))
    f.getAbsolutePath
  }

  test("nucleotide self-search finds full-length self-hits") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val bases = "ACGT"
    val seqs = (0 until 5).map { i =>
      (s"dna$i", Array.fill(120)(bases(rnd.nextInt(4))).mkString)
    }
    val fa = writeFasta(seqs)
    val reads = Fasta.read(spark, fa).cache()
    val alis = PetaSearch.search(spark, reads, reads,
      PetaSearch.Params(mode = PetaSearch.SearchMode.Nucleotide))
    val self = alis.filter($"queryId" === $"targetId").as[Aligner.AlnResult].collect()
    assert(self.length == 5)
    self.foreach { a =>
      assert(a.fident == 1.0)
      assert(a.qStart == 0 && a.qEnd == 119)
      assert(a.eval < 1e-10)
    }
  }

  test("persisted target DB: build once, search many (same results as direct)") {
    import spark.implicits._
    val fixture = getClass.getResource("/MSA_Cas7-11_multiline.fa").getPath
    val degapped = {
      val src = scala.io.Source.fromFile(fixture)
      val out = try src.getLines().map(l =>
        if (l.startsWith(">")) l else l.replace("-", "")).mkString("\n")
      finally src.close()
      val f = java.io.File.createTempFile("db_src", ".fa")
      f.deleteOnExit()
      java.nio.file.Files.writeString(f.toPath, out)
      f.getAbsolutePath
    }
    val dbPath = java.nio.file.Files.createTempDirectory("targetdb").toString
    PetaSearch.buildTargetDb(spark, degapped, dbPath)
    // index on disk is globally kmer-sorted (S5/O1 layout)
    val stored = spark.read.parquet(s"$dbPath/kmers")
    assert(stored.columns.toSet == Set("kmer", "seqId", "seqLen", "tpos"))
    val queries = Fasta.read(spark, degapped).cache()
    val viaIndex = PetaSearch.searchIndexed(spark, queries, dbPath)
      .select("queryId", "targetId", "bits").as[(Long, Long, Int)].collect().toSet
    val direct = PetaSearch.search(spark, queries, queries)
      .select("queryId", "targetId", "bits").as[(Long, Long, Int)].collect().toSet
    assert(viaIndex == direct)
  }

  test("FASTQ ingest handles @-starting quality lines; gz FASTA reads transparently") {
    // quality line deliberately starts with '@'
    val fq = java.io.File.createTempFile("reads", ".fastq")
    fq.deleteOnExit()
    java.nio.file.Files.writeString(fq.toPath,
      "@read1 desc\nACGTACGTACGT\n+\n@IIIIIIIIIII\n" +
        "@read2\nTTTTACGTACGT\n+read2\nII@IIIIIIIII\n")
    val reads = Fasta.readFastq(spark, fq.getAbsolutePath).collect()
    assert(reads.length == 2)
    val byName = reads.map(r => r.getAs[String]("name") -> r).toMap
    assert(byName("read1").getAs[String]("seq") == "ACGTACGTACGT")
    assert(byName("read2").getAs[String]("qual") == "II@IIIIIIIII")
    // gzipped FASTA through the same reader
    val fa = java.io.File.createTempFile("seqs", ".fa.gz")
    fa.deleteOnExit()
    val gz = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(fa))
    gz.write(">s1\nMKVLATTPFG\n>s2\nWSDEWIRRQC\n".getBytes)
    gz.close()
    val seqs = Fasta.read(spark, fa.getAbsolutePath).collect()
    assert(seqs.length == 2)
    assert(seqs.map(_.getAs[String]("seq")).toSet == Set("MKVLATTPFG", "WSDEWIRRQC"))
  }

  test("appendToTargetDb: incremental ingest equals full rebuild exactly") {
    val rnd = new scala.util.Random(7)
    def protein(n: Int) =
      Array.fill(n)("ACDEFGHIKLMNPQRSTVWY"(rnd.nextInt(20))).mkString
    val batchA = (0 until 6).map(i => (s"a$i", protein(80 + i)))
    val batchB = (0 until 5).map(i => (s"b$i", protein(90 + i)))
    val batchC = (0 until 4).map(i => (s"c$i", protein(70 + i)))
    val faA = writeFasta(batchA)
    val faB = writeFasta(batchB)
    val faC = writeFasta(batchC)
    val faAll = writeFasta(batchA ++ batchB ++ batchC)
    val dbInc = java.nio.file.Files.createTempDirectory("dbinc").toString
    val dbFull = java.nio.file.Files.createTempDirectory("dbfull").toString
    PetaSearch.buildTargetDb(spark, faA, dbInc)
    // two successive batches: 0, then 1, each pinned as the watermark
    val conf = spark.sparkContext.hadoopConfiguration
    Seq(faB, faC).zipWithIndex.foreach { case (fa, b) =>
      PetaSearch.appendToTargetDb(spark, fa, dbInc)
      assert(graft.sources.IndexCommit.watermark(conf, s"$dbInc/meta") == b)
      assert(new java.io.File(s"$dbInc/sequences").list()
        .exists(_.startsWith(s"b$b-")))
    }
    PetaSearch.buildTargetDb(spark, faAll, dbFull)

    // A1 argmax is associative -> merged index must EQUAL the full rebuild
    val inc = spark.read.parquet(s"$dbInc/kmers").collect().map(_.toSeq).toSet
    val full = spark.read.parquet(s"$dbFull/kmers").collect().map(_.toSeq).toSet
    assert(inc == full)
    val mi = spark.read.parquet(s"$dbInc/meta").head()
    val mf = spark.read.parquet(s"$dbFull/meta").head()
    assert(mi.getAs[Long]("dbResCount") == mf.getAs[Long]("dbResCount"))
    assert(mi.getAs[Long]("nSeqs") == mf.getAs[Long]("nSeqs"))
    def seqs(db: String) =
      spark.read.parquet(s"$db/sequences").collect().map(_.toSeq).toSet
    assert(seqs(dbInc) == seqs(dbFull))

    // and the indexed search path returns identical hits
    val queries = Fasta.read(spark, writeFasta(batchB ++ batchC)).cache()
    val ri = PetaSearch.searchIndexed(spark, queries, dbInc)
      .select("queryId", "targetId", "bits").collect().map(_.toSeq).toSet
    val rf = PetaSearch.searchIndexed(spark, queries, dbFull)
      .select("queryId", "targetId", "bits").collect().map(_.toSeq).toSet
    assert(ri == rf && ri.nonEmpty)
  }

  test("appendToTargetDb: batch k-mers shared with the stored index take over by the A1 rule") {
    val rnd = new scala.util.Random(17)
    def protein(n: Int) =
      Array.fill(n)("ACDEFGHIKLMNPQRSTVWY"(rnd.nextInt(20))).mkString
    val stored = (0 until 3).map(i => (s"s$i", protein(80)))
    val motif = stored(2)._2.take(20)
    val batch = Seq(
      // longer and holds all of s0's k-mers: the batch row wins them
      ("longer", protein(10) + stored(0)._2 + protein(10)),
      // equal length, larger id: the stored s1 keeps every k-mer
      ("copy", stored(1)._2),
      // longer than s2 and repeats s2's first 12 k-mers: it wins them, each
      // at its FIRST position
      ("repeat", protein(10) + motif + protein(15) + motif + protein(40)))
    val faA = writeFasta(stored)
    val faB = writeFasta(batch)
    val faAll = writeFasta(stored ++ batch)
    val dbInc = java.nio.file.Files.createTempDirectory("dbtake").toString
    val dbFull = java.nio.file.Files.createTempDirectory("dbtakefull").toString
    PetaSearch.buildTargetDb(spark, faA, dbInc)
    PetaSearch.appendToTargetDb(spark, faB, dbInc)
    PetaSearch.buildTargetDb(spark, faAll, dbFull)

    // the A1 rule in plain Scala over every k-mer occurrence:
    // (kmer, seqId, seqLen, tpos) rows, longest, then smallest id, then
    // smallest position
    val cands = KmerIndex.candidates(Fasta.read(spark, faAll)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSeq
    val expected = cands.groupBy(_._1).values
      .map(_.maxBy { case (_, id, len, pos) => (len, -id, -pos) }).toSet
    def rows(db: String) = spark.read.parquet(s"$db/kmers").collect()
      .map(r => (r.getAs[Long]("kmer"), r.getAs[Long]("seqId"),
        r.getAs[Int]("seqLen"), r.getAs[Int]("tpos"))).toSeq
    def assertExpected(db: String): Unit = {
      val got = rows(db)
      val (extra, missing) = (got.toSet -- expected, expected -- got.toSet)
      assert(got.size == got.toSet.size && extra.isEmpty && missing.isEmpty,
        s"$db: ${got.size} rows; unexpected ${extra.take(3)} of ${extra.size}," +
          s" missing ${missing.take(3)} of ${missing.size}")
    }
    assertExpected(dbInc)
    assertExpected(dbFull)

    // each branch of the merge is exercised: ids 0-2 stored, 3-5 the batch
    val storedKmers = cands.filter(_._2 < 3).map(_._1).toSet
    def wonBy(id: Long) = expected.filter(_._2 == id).map(_._1)
    assert(storedKmers.intersect(wonBy(3)).size == 72) // longer takes s0's
    assert(wonBy(4).isEmpty) // the copy wins nothing ...
    assert(wonBy(1) == cands.filter(_._2 == 4).map(_._1).toSet) // ... s1 keeps
    val repeated = cands.filter(_._2 == 5).groupBy(_._1).filter(_._2.size > 1)
    assert(repeated.size == 12)
    repeated.foreach { case (kmer, occ) =>
      val first = occ.map(_._4).min
      assert(first < 45 && expected.contains((kmer, 5L, 105, first)))
    }

    val queries = Fasta.read(spark, faB).cache()
    def hits(db: String) = PetaSearch.searchIndexed(spark, queries, db)
      .select("queryId", "targetId", "bits").collect().map(_.toSeq).toSet
    val ri = hits(dbInc)
    assert(ri == hits(dbFull) && ri.nonEmpty)
  }

  test("appendToTargetDb: append into an EMPTY existing DB (null max(seqId))") {
    val rnd = new scala.util.Random(13)
    def protein(n: Int) =
      Array.fill(n)("ACDEFGHIKLMNPQRSTVWY"(rnd.nextInt(20))).mkString
    val batch = (0 until 4).map(i => (s"e$i", protein(70 + i)))
    val faEmpty = writeFasta(Seq.empty)
    val fa = writeFasta(batch)
    val dbInc = java.nio.file.Files.createTempDirectory("dbempty").toString
    val dbFull = java.nio.file.Files.createTempDirectory("dbref").toString
    PetaSearch.buildTargetDb(spark, faEmpty, dbInc)
    PetaSearch.appendToTargetDb(spark, fa, dbInc) // NPE'd before the guard
    PetaSearch.buildTargetDb(spark, fa, dbFull)
    val inc = spark.read.parquet(s"$dbInc/kmers").collect().map(_.toSeq).toSet
    val full = spark.read.parquet(s"$dbFull/kmers").collect().map(_.toSeq).toSet
    assert(inc == full && inc.nonEmpty)
    val mi = spark.read.parquet(s"$dbInc/meta").head()
    assert(mi.getAs[Long]("nSeqs") == 4)
  }

  test("reverse-strand nucleotide search recovers a planted minus-strand hit") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val bases = "ACGT"
    val t = Array.fill(160)(bases(rnd.nextInt(4))).mkString
    // query = revcomp of t[40,140): visible ONLY on the minus strand
    val comp = Map('A' -> 'T', 'T' -> 'A', 'C' -> 'G', 'G' -> 'C')
    val q = t.substring(40, 140).reverse.map(comp)
    val qs = Fasta.read(spark, writeFasta(Seq(("qrev", q)))).cache()
    val ts = Fasta.read(spark, writeFasta(Seq(("t0", t)))).cache()
    val params = PetaSearch.Params(mode = PetaSearch.SearchMode.Nucleotide)

    assert(PetaSearch.search(spark, qs, ts, params).count() == 0,
      "forward-only search must miss a minus-strand-only homolog")

    val both = PetaSearch.searchBothStrands(spark, qs, ts, params).cache()
    val minus = both.filter($"strand" === "-").collect()
    assert(minus.length == 1)
    val h = minus.head
    // m8 minus convention: query ascending in the FORWARD frame, t flipped
    val (qS, qE) = (h.getAs[Int]("qStart"), h.getAs[Int]("qEnd"))
    val (tS, tE) = (h.getAs[Int]("tStart"), h.getAs[Int]("tEnd"))
    assert(qS <= qE && tS > tE, s"q[$qS,$qE] t[$tS,$tE]")
    assert(h.getAs[Double]("fident") == 1.0)
    // the exact plant: q covers [0,100) of the query, t covers [40,140)
    assert(qS == 0 && qE == 99)
    assert(tE == 40 && tS == 139)

    // C12 on the minus strand: target walked backward + complemented must
    // equal the forward query slice (identical alignment, no gaps)
    val out = PetaSearch.toM8Custom(both.filter($"strand" === "-"), qs, ts,
      Seq("query", "target", "qaln", "taln", "qcov", "tcov")).collect().head
    assert(out.getAs[String]("qaln") == out.getAs[String]("taln"))
    assert(out.getAs[String]("qaln") == q)
    assert(out.getAs[Double]("tcov") == 0.625) // 100 of 160 bases
  }

  test("full --format-output vocabulary: every reference column accepted") {
    import spark.implicits._
    val q = "MKVLATTPFGWSDEWIRRQCHHKNMKVLATT"
    val qs = Fasta.read(spark, writeFasta(Seq(("q0 some desc", q)))).cache()
    val alis = PetaSearch.search(spark, qs, qs,
      PetaSearch.Params(query = QueryTable.Config(maskMode = false)))
    val cols = Seq("query", "target", "fident", "pident", "nident", "alnlen",
      "mismatch", "gapopen", "qstart", "qend", "tstart", "tend", "evalue",
      "bits", "raw", "qlen", "tlen", "qcov", "tcov", "cigar", "qaln", "taln",
      "qseq", "tseq", "qheader", "theader", "qset", "tset", "qorfstart",
      "qorfend", "torfstart", "torfend", "qframe", "tframe", "empty")
    val r = PetaSearch.toM8Custom(alis, qs, qs, cols).collect().head
    assert(r.getAs[String]("qheader") == "q0 some desc")
    assert(r.getAs[String]("theader") == "q0 some desc")
    assert(r.getAs[Int]("nident") == q.length) // self-hit: all identical
    assert(r.getAs[String]("pident") == "100.000")
    assert(r.getAs[Int]("raw") > r.getAs[Int]("bits")) // blosum raw > bits
    assert(r.getAs[Int]("qset") == 0 && r.getAs[Int]("tset") == 0)
    assert(r.getAs[Int]("qorfstart") == -1 && r.getAs[Int]("torfend") == -1)
    assert(r.getAs[String]("qframe") == "") // no printer case in reference
    assert(r.getAs[String]("empty") == "-")
  }

  test("nucleotide matrix reconstructs +2/-3 with ACTG alphabet") {
    val m = Matrices.nucleotide
    assert(m.alphabet == "ACTGX")
    assert(m.score('A', 'A') == 2 && m.score('A', 'C') == -3)
    assert(m.score('G', 'G') == 2 && m.score('T', 'G') == -3)
  }

  test("custom outfmt: qaln/taln reconstruct gapped strings; qcov/tcov") {
    import spark.implicits._
    // target = query with a 2-residue insertion in the query
    val t = "MKVLATTPFGWSDEWIRRQCHHKNMKVLATT"
    val q = "MKVLATTPFGAAWSDEWIRRQCHHKNMKVLATT"
    val fa = writeFasta(Seq(("q0", q)))
    val fb = writeFasta(Seq(("t0", t)))
    val qs = Fasta.read(spark, fa).cache()
    val ts = Fasta.read(spark, fb).cache()
    val alis = PetaSearch.search(spark, qs, ts, PetaSearch.Params(
      query = QueryTable.Config(maskMode = false)))
    val out = PetaSearch.toM8Custom(alis, qs, ts,
      Seq("query", "target", "fident", "qaln", "taln", "qcov", "tcov", "qlen", "tlen"))
      .collect()
    assert(out.nonEmpty)
    val r = out.head
    val qaln = r.getAs[String]("qaln")
    val taln = r.getAs[String]("taln")
    assert(qaln.length == taln.length)
    assert(taln.contains("--") || qaln.contains("--"), s"expected a gap: $qaln / $taln")
    assert(qaln.replace("-", "").nonEmpty)
    // gapped strings must re-derive from the raw sequences
    assert(q.contains(qaln.replace("-", "")))
    assert(t.contains(taln.replace("-", "")))
    assert(r.getAs[Double]("tcov") == 1.0) // full target covered
  }
}
