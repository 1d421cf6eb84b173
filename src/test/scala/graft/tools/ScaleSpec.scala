package graft.tools

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The scale runner on the shared test session: a leg's session override
  * is gone when the leg ends, each arm counts what a direct call counts,
  * and every dev main the runner replaced still has its leg. */
class ScaleSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private val Aqe = "spark.sql.adaptive.enabled"

  test("skew leg restores AQE; its arms and a query's arm count what direct calls do") {
    val aqeBefore = spark.conf.get(Aqe)
    val arms = Scale.run(spark, Seq("skew", "q1_agg"), Seq(dir), None,
      trials = 1)
    assert(spark.conf.get(Aqe) == aqeBefore && aqeBefore == "true")
    assert(arms.map(a => (a.leg, a.label)) == Seq(
      "skew" -> "plain join",
      "skew" -> "saltedHotKeys(buckets=32, hotThreshold=1000)",
      "q1_agg" -> "count()"))
    assert(arms.forall(a => a.dir == dir && a.samples.size == 1))

    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    def groups(j: org.apache.spark.sql.DataFrame) =
      j.select(col("o_orderpriority")).distinct().count()
    val direct = Seq(
      groups(li.join(o, Seq("l_orderkey"))),
      groups(graft.ops.SkewJoin.saltedHotKeys(li, o, "l_orderkey",
        buckets = 32, hotThreshold = 1000)),
      graft.Registry.byName("q1_agg").run(spark, dir).count())
    assert(arms.map(_.rows) == direct)
    assert(direct.forall(_ > 0))
    assert(arms.forall(_.samples.head.jobs > 0))
  }

  test("--list holds a leg for every dev main the runner replaced") {
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(out)(Scale.main(Array("--list")))
    val listed = out.toString("UTF-8").linesIterator
      .map(_.takeWhile(_ != ' ')).toSet
    Map("AsofScale" -> "asof", "BioScale" -> "bio", "Bm25Scale" -> "bm25",
      "BpeScale" -> "bpe", "HardNegScale" -> "hardneg",
      "MergeScale" -> "merge", "PhashScale" -> "phash",
      "PhraseScale" -> "phrase", "ResampleScale" -> "resample",
      "SkewScale" -> "skew", "ViewScale" -> "view",
      "ProfileDedup" -> "dedup_lsh", "ProfileDedupLsh" -> "dedup_lsh",
      "ProfileScd2" -> "scd2", "BenchOne" -> "<query>",
      "JobProf" -> "<query>").foreach { case (tool, leg) =>
      assert(listed(leg), s"$tool's leg $leg is not listed")
    }
  }
}
