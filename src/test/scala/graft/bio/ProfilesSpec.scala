package graft.bio

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

class ProfilesSpec extends AnyFunSuite {
  private val m = Matrices.blosum62

  /** Build a synthetic profile record: 25 bytes/position with query and
    * consensus ordinals planted at offsets 20/21.
    */
  private def profileBytes(query: String, consensus: String): Array[Byte] = {
    val out = new Array[Byte](query.length * Profiles.ReadInSize)
    query.indices.foreach { i =>
      out(i * Profiles.ReadInSize + Profiles.QueryOffset) =
        m.aa2num(query(i).toInt).toByte
      out(i * Profiles.ReadInSize + Profiles.ConsensusOffset) =
        m.aa2num(consensus(i).toInt).toByte
    }
    out
  }

  test("profile record decodes query and consensus strings") {
    val q = "MKVLATTPFG"
    val c = "MKVLATTPWG"
    val b = profileBytes(q, c)
    assert(Profiles.extractSequence(b, m) == q)
    assert(Profiles.extractConsensus(b, m) == c)
  }

  test("encode round-trips through extract; scoreAt reads raw int8 scores") {
    val q = "MKVLA"
    val rows = Seq.tabulate(q.length)(p => Array.tabulate(20)(r => p - r))
    val b = Profiles.encode(rows, q, q, m)
    assert(Profiles.extractSequence(b, m) == q)
    assert(Profiles.extractConsensus(b, m) == q)
    assert(Profiles.scoreAt(b, 3, 0) == 3)
    assert(Profiles.scoreAt(b, 0, 5) == -5)
  }

  test("single-sequence profile (4x matrix rows >>2) reproduces matrix alignment") {
    val s = "MKVLATTPFGWSDEWIRRQC"
    val prof = Profiles.fromAlignedSeqsAvg(Seq(s), m)
    assert(Profiles.extractConsensus(prof, m) == s)
    // profile row at position p is 4x the matrix row of s(p); >>2 recovers it
    val t = s.getBytes("US-ASCII")
    val hits = Seq((0, 7L, 0), (1, 7L, 0), (2, 7L, 0))
    val p = Align.PairRow(0L, 0L, hits, s, s)
    val ev = new Evaluer(GumbelParams.Blosum62Ungapped, 1000L)
    val plain = Align.alignPair(p, m, ev, 1e3, 10, Aligner.Gaps(11, 1))
    val viaProfile = Align.alignPair(p.copy(profile = Some(prof)), m, ev, 1e3,
      10, Aligner.Gaps(11, 1))
    assert(plain.isDefined && viaProfile.isDefined)
    assert(plain.get == viaProfile.get)
    assert(t.length == s.length)
  }

  test("profile scores override the matrix where they disagree") {
    // consensus == target, but the profile only awards +8 (>>2 = +2) per
    // position: gapped score must come from profile columns, not BLOSUM62
    val s = "MKVLATTPFGWSDEWIRRQC"
    val rows = Seq.tabulate(s.length) { p =>
      Array.tabulate(20)(r => if (r == m.aa2num(s(p).toInt)) 8 else -8)
    }
    val prof = Profiles.encode(rows, s, s, m)
    val hits = Seq((0, 7L, 0), (1, 7L, 0), (2, 7L, 0))
    val p = Align.PairRow(0L, 0L, hits, s, s)
    val ev = new Evaluer(GumbelParams.Blosum62Ungapped, 1000L)
    val plain = Align.alignPair(p, m, ev, 1e3, 10, Aligner.Gaps(11, 1)).get
    val viaProfile = Align.alignPair(p.copy(profile = Some(prof)), m, ev, 1e3,
      10, Aligner.Gaps(11, 1)).get
    // BLOSUM62 self-alignment averages ~6 bits/residue of raw score; the
    // profile path caps each position at +2, so its bit score must be lower
    assert(viaProfile.bits < plain.bits)
    assert(viaProfile.alnLen == s.length && plain.alnLen == s.length)
    // raw profile-mode score check: full-length alignment, +2 per position
    val scorer = new Aligner.ProfileScorer(prof, identity, s.getBytes("US-ASCII"), m)
    val ext = Aligner.xdropExtend(s.getBytes("US-ASCII"), 0,
      s.getBytes("US-ASCII"), 0, scorer, Aligner.Gaps(11, 1), 10)
    assert(ext.score == 2 * s.length)
  }

  test("reversed pass maps profile positions correctly (asymmetric profile)") {
    // odd length + position-dependent scores: a mis-mapped reverse pass
    // would flip even/odd weights and change the traced score
    val s = "MKVLATTPFGW" // length 11
    val rows = Seq.tabulate(s.length) { p =>
      Array.tabulate(20)(r =>
        if (r == m.aa2num(s(p).toInt)) (if (p % 2 == 0) 12 else 4) else -8)
    }
    val prof = Profiles.encode(rows, s, s, m)
    val sb = s.getBytes("US-ASCII")
    val expected = (0 until s.length).map(p => (if (p % 2 == 0) 12 else 4) >> 2).sum
    val fwdScorer = new Aligner.ProfileScorer(prof, identity, sb, m)
    val fwd = Aligner.xdropExtend(sb, 0, sb, 0, fwdScorer, Aligner.Gaps(11, 1), 10)
    assert(fwd.score == expected)
    val sRev = sb.reverse
    val revScorer = new Aligner.ProfileScorer(prof, ai => s.length - 1 - ai, sRev, m)
    val traced = Aligner.xdropTraceback(sRev, sRev.length, sRev, sRev.length,
      revScorer, Aligner.Gaps(11, 1), 10)
    assert(traced.score == expected)
  }

  test("searchProfiles end-to-end: profile queries align against targets") {
    val spark = TestSpark.spark
    import spark.implicits._
    val seqs = Seq(
      "MKVLATTPFGWSDEWIRRQCLATTPFGMKV",
      "GWSDEWIRRQCMKVLATTPFGSDEWIRRQC")
    val profiles = seqs.zipWithIndex.map { case (s, i) =>
      (i.toLong, s"prof$i", Profiles.fromAlignedSeqsAvg(Seq(s), m))
    }.toDF("seqId", "header", "profile")
    val targets = seqs.zipWithIndex.map { case (s, i) =>
      (i.toLong, s"t$i", s"t$i", s, s.length)
    }.toDF("seqId", "header", "name", "seq", "seqLen")
    val alis = PetaSearch.searchProfiles(spark, profiles, targets,
      PetaSearch.Params(query = QueryTable.Config(maskMode = false)))
    val got = alis.select("queryId", "targetId", "fident").collect()
    assert(got.nonEmpty)
    // self-pairs align full-identity on the consensus
    val self = got.filter(r => r.getLong(0) == r.getLong(1))
    assert(self.nonEmpty && self.forall(_.getDouble(2) == 1.0))
  }

  test("easyProfileSearch: MSA file in, m8 rows out") {
    val spark = TestSpark.spark
    val in = getClass.getResourceAsStream("/MSA_Cas7-11_multiline.fa")
    val lines = scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
    val msaFile = java.io.File.createTempFile("msa", ".fa")
    msaFile.deleteOnExit()
    java.nio.file.Files.writeString(msaFile.toPath, lines.mkString("\n"))
    val tgtFile = java.io.File.createTempFile("tgt", ".fa")
    tgtFile.deleteOnExit()
    java.nio.file.Files.writeString(tgtFile.toPath,
      lines.map(l => if (l.startsWith(">")) l
      else l.replace("-", "").replace(".", "")).mkString("\n"))
    val m8 = PetaSearch.easyProfileSearch(spark, msaFile.getAbsolutePath,
      tgtFile.getAbsolutePath).collect().map(_.toSeq.mkString("\t")).toSeq
    // frozen full 12-column m8, in output order (golden_profile_m8.tsv);
    // every hit is attributed to the profile (first MSA record's name)
    val expected = {
      val src = scala.io.Source.fromInputStream(
        getClass.getResourceAsStream("/golden_profile_m8.tsv"), "UTF-8")
      try src.getLines().toSeq finally src.close()
    }
    assert(m8 == expected,
      s"profile golden drift: missing=${expected.diff(m8)}, new=${m8.diff(expected)}")
  }

  test("profile table converts to a searchable sequences table") {
    val spark = TestSpark.spark
    import spark.implicits._
    val q = "MKVLATTPFGWSDEWIRRQ"
    val profiles = Seq((0L, "prof1 test", profileBytes(q, q)))
      .toDF("seqId", "header", "profile")
    val seqs = Profiles.toSequences(spark, profiles)
    val row = seqs.collect().head
    assert(row.getAs[String]("seq") == q)
    assert(row.getAs[String]("name") == "prof1")
    assert(row.getAs[Int]("seqLen") == q.length)
    // and it flows through the search pipeline
    val alis = PetaSearch.search(spark, seqs.cache(), seqs,
      PetaSearch.Params(query = QueryTable.Config(maskMode = false)))
    assert(alis.count() >= 1)
  }
}
