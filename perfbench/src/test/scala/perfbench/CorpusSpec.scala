package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.bio.PetaSearch

class CorpusSpec extends AnyFunSuite {

  private def indexedFasta(seed: Long): String = {
    val c = Corpus.indexed(seed, nBackground = 50, nBatch = 10, nQueries = 20)
    Corpus.fasta(c.background) + Corpus.fasta(c.batch) + Corpus.fasta(c.queries)
  }

  test("the same seed gives byte-identical inputs, another seed other inputs") {
    assert(indexedFasta(7) == indexedFasta(7))
    assert(indexedFasta(7) != indexedFasta(8))
    assert(Corpus.documents(7, 200) == Corpus.documents(7, 200))
    assert(Corpus.documents(7, 200)._1 != Corpus.documents(8, 200)._1)
    assert(Corpus.events(7, 100) == Corpus.events(7, 100))
    assert(Corpus.events(7, 100) != Corpus.events(8, 100))
  }

  test("planted homologs point at real entries and differ from them") {
    val c = Corpus.indexed(3, nBackground = 50, nBatch = 10, nQueries = 20)
    val db = (c.background ++ c.batch).map(r => r.name -> r.seq).toMap
    val qs = c.queries.map(r => r.name -> r.seq).toMap
    assert(c.truth.size == 20)
    assert(c.truth.count { case (_, t) => t.startsWith("ap") } == 2)
    c.truth.foreach { case (q, t) =>
      assert(db.contains(t))
      assert(qs(q) != db(t))
    }
    assert(c.background.forall(_.seq.forall(Corpus.Residues.contains(_))))
  }

  test("recall counts the planted pairs among the reported ones") {
    val truth = Seq("a" -> "b", "b" -> "a", "c" -> "d", "d" -> "c")
    assert(Corpus.recall(truth, Set("a" -> "b", "c" -> "d", "x" -> "y")) == 0.5)
    assert(Corpus.recall(truth, Set.empty) == 0.0)
    assert(Corpus.recall(Nil, Set("a" -> "b")) == 0.0)
  }

  test("recall of an indexed search over a tiny corpus") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2").getOrCreate()
    try {
      val c = Corpus.indexed(11, nBackground = 30, nBatch = 10, nQueries = 10)
      val dir = Files.createTempDirectory("perfbench-spec")
      val (bg, qs) = (dir.resolve("bg.fa"), dir.resolve("q.fa"))
      Files2.write(bg, Corpus.fasta(c.background ++ c.batch))
      Files2.write(qs, Corpus.fasta(c.queries))
      val out = dir.resolve("m8")
      PetaSearch.writeM8(PetaSearch.easySearch(spark, qs.toString, bg.toString),
        out.toString)
      val o = Workloads.m8Output(out, c.truth)
      val lines = Workloads.m8Lines(out).map(_.split("\t"))
      val reported = lines.map(f => f(0) -> f(1)).toSet
      assert(o.rows == lines.size)
      assert(o.recall == c.truth.count(reported.contains).toDouble / c.truth.size)
      assert(o.recall >= 0.5)
      assert(o.digest == Workloads.m8Output(out, c.truth).digest)
      Files2.delete(dir)
    } finally spark.stop()
  }
}
