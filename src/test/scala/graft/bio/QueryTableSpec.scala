package graft.bio

import org.scalatest.funsuite.AnyFunSuite

class QueryTableSpec extends AnyFunSuite {
  private val m = Matrices.vtml80Seed

  test("similarKmers: self kmer comes first, all scores >= threshold, capped") {
    val window = "MKVLATTPF".map(c => m.aa2num(c.toInt)).toArray
    val selfScore = window.map(o => m.scores(o)(o)).sum
    val res = QueryTable.similarKmers(window, m, 225, 20)
    assert(res.length <= 20 && res.nonEmpty)
    // first enumerated = all rank-0 = per-position max = includes self match
    val selfCode = {
      var c = 0L; var pw = 1L
      window.foreach { o => c += o * pw; pw *= 20L }
      c
    }
    assert(res.contains(selfCode))
    // every emitted kmer scores >= 225 against the window
    res.foreach { code =>
      var c = code
      var s = 0
      window.foreach { o =>
        s += m.scores(o)((c % 20).toInt); c /= 20
      }
      assert(s >= 225, s"emitted kmer scores $s < 225")
      assert(s <= selfScore)
    }
  }

  test("similarKmers: high threshold returns empty") {
    val window = "AAAAAAAAA".map(c => m.aa2num(c.toInt)).toArray
    val selfScore = window.map(o => m.scores(o)(o)).sum
    assert(QueryTable.similarKmers(window, m, selfScore + 1, 20).isEmpty)
  }

  test("entropy mask hits homopolymer runs, spares diverse sequence") {
    val homo = "AAAAAAAAAAAAAAAA".map(c => m.aa2num(c.toInt)).toArray
    val masked = QueryTable.entropyMask(homo, m.xOrdinal)
    assert(masked.forall(_ == m.xOrdinal))
    val diverse = "MKVLATTPFGWSDEWI".map(c => m.aa2num(c.toInt)).toArray
    assert(QueryTable.entropyMask(diverse, m.xOrdinal).sameElements(diverse))
  }

  test("bias correction is ~zero on background-like sequence, negative on biased") {
    // strongly biased (poly-W) windows get negative bias -> raised threshold
    val w = "WWWWWWWWWWWWWWWWWWWWWWWWWWWWWWWWWWWWWWWW".map(c => m.aa2num(c.toInt)).toArray
    val bias = QueryTable.biasCorrection(w, m)
    assert(bias.forall(_ < 0))
  }

  test("rowsForSequence: exact mode = plain windows; expansion adds rows") {
    val seq = "MKVLATTPFGWSDEWIRRQ"
    val exact = QueryTable.rowsForSequence(seq,
      QueryTable.Config(exactKmerMatching = true, maskMode = false,
        biasCorrection = false)).toSeq
    assert(exact.length == seq.length - 9 + 1)
    val expanded = QueryTable.rowsForSequence(seq,
      QueryTable.Config(maskMode = false, biasCorrection = false)).toSeq
    assert(expanded.length >= exact.length)
    // exact windows are a subset of the expanded rows
    assert(exact.toSet.subsetOf(expanded.toSet))
  }

  // ---- golden: the kernel's rows, in emission order ----------------------
  // Row count + SHA-256 of the rows exactly as emitted. Order matters: the
  // maxKmerPerPos cutoff keeps k-mers by heap order, so a changed order can
  // change which tied k-mers survive and, downstream, the m8 records.

  private lazy val msaSeqs: Vector[String] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/MSA_Cas7-11_multiline.fa"), "UTF-8")
    val lines = try src.getLines().toVector finally src.close()
    val rows = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    lines.foreach { l =>
      if (l.startsWith(">")) {
        if (cur.nonEmpty) { rows += cur.toString; cur.clear() }
      } else cur ++= l.trim
    }
    if (cur.nonEmpty) rows += cur.toString
    rows.toVector
  }

  private def digest(lines: Iterator[String]): (Int, String) = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var n = 0
    lines.foreach { l =>
      md.update((l + "\n").getBytes("UTF-8"))
      n += 1
    }
    (n, md.digest().map(b => f"$b%02x").mkString)
  }

  /** Checks every case before failing, so one run prints all new digests. */
  private def assertGolden(cases: Seq[(String, (Int, String), (Int, String))]): Unit = {
    val changed = cases.collect { case (name, got, want) if got != want =>
      s"$name: rows/digest changed; new golden: (${got._1}, \"${got._2}\")"
    }
    assert(changed.isEmpty, changed.mkString("\n", "\n", ""))
  }

  private def sequenceRows(cfg: QueryTable.Config): Iterator[String] =
    msaSeqs.iterator.zipWithIndex.flatMap { case (row, i) =>
      val seq = row.replace("-", "").replace(".", "")
      QueryTable.rowsForSequence(seq, cfg).map { case (p, c) => s"$i\t$p\t$c" }
    }

  test("golden: rowsForSequence over the Cas7-11 fixture, three configs") {
    assert(msaSeqs.length == 21)
    val cases = Seq(
      ("default", QueryTable.Config(),
        (201873, "33a8f959064414d05e5970e6de43990be969d7019d44802bfdb92c2400743a3f")),
      ("exact", QueryTable.Config(exactKmerMatching = true),
        (32146, "58ed247bb900dadaf24912c10f60d33912bd2c3650fdb3cc98f7de207029e81c")),
      ("no mask, no bias",
        QueryTable.Config(maskMode = false, biasCorrection = false),
        (222745, "151172523a17370c1d650e1e7f313ee97fec5b4cbb31c1f061c209b31b8ab0d3")))
    assertGolden(cases.map { case (name, cfg, want) =>
      (s"rowsForSequence/$name", digest(sequenceRows(cfg)), want)
    })
  }

  test("golden: rowsForProfile on the Cas7-11 profile") {
    val prof = Profiles.fromAlignedSeqs(msaSeqs)
    val cases = Seq(
      ("default", QueryTable.Config(),
        (1573, "a8d036abf1514394fc911b817510e42dfc6bf8b8de88e96d16dfa732011fdc4e")),
      ("threshold 150", QueryTable.Config(kmerThreshold = 150),
        (21975, "182a06950159c07af1ba0b9e37c71c88250c53764d0c3af1793616a52bc2194e")))
    assertGolden(cases.map { case (name, cfg, want) =>
      val rows = QueryTable.rowsForProfile(prof, cfg)
        .map { case (p, c) => s"$p\t$c" }
      (s"rowsForProfile/$name", digest(rows), want)
    })
  }

  test("golden: similarKmers where the 20-k-mer cap cuts through tied scores") {
    def score(win: Array[Int], code: Long): Int = {
      var c = code
      var s = 0
      win.foreach { o => s += m.scores(o)((c % 20).toInt); c /= 20 }
      s
    }
    val cases = Seq(
      ("AAAAAAAAA", 150,
        (20, "42b1ea5800d68d788f90b284fdc90b332f64c6b166457f7732106c730c650734")),
      ("WWWWWWWWW", 300,
        (20, "ed02d9a208adcfca475aa73335d4045a00f0fd1662b07960a455e5569a7a174a")),
      ("MKVLATTPF", 200,
        (20, "0327372c773df141848e758cb6d99b8709ef96cabf50365533d34118cf3ffb10")))
    assertGolden(cases.map { case (w, thr, want) =>
      val win = w.map(c => m.aa2num(c.toInt)).toArray
      // the case really is tie-heavy: the 20th and 21st best scores are equal
      val uncapped = QueryTable.similarKmers(win, m, thr, 1000).map(score(win, _))
      assert(uncapped.length > 20 && uncapped(19) == uncapped(20), w)
      val got = QueryTable.similarKmers(win, m, thr, 20)
      (s"similarKmers/$w", digest(got.iterator.map(_.toString)), want)
    })
  }

  test("build: a one-partition batch yields the rows of rowsForSequence") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val seqs = msaSeqs.map(_.replace("-", "").replace(".", ""))
    val batch = seqs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("seqId", "seq").coalesce(1)
    assert(batch.rdd.getNumPartitions == 1)
    val cfg = QueryTable.Config()
    val qk = QueryTable.build(spark, batch, cfg)
    val got = qk.as[(Long, Int, Long)].collect().toSeq
    val want = seqs.zipWithIndex.flatMap { case (s, i) =>
      QueryTable.rowsForSequence(s, cfg).map { case (p, c) => (i.toLong, p, c) }
    }
    assert(got.length == want.length)
    assert(got.groupBy(identity).view.mapValues(_.size).toMap ==
      want.groupBy(identity).view.mapValues(_.size).toMap)
  }
}
