package graft.bio

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** searchPartitioned (single job, dbId column) must equal searchMany (loop
  * of independent jobs) on the same DB split.
  */
class PartitionedSearchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("dbId-partitioned search == per-DB loop search") {
    val fixture = getClass.getResource("/MSA_Cas7-11_multiline.fa").getPath
    val degapped = {
      val src = scala.io.Source.fromFile(fixture)
      val out = try src.getLines().map(l =>
        if (l.startsWith(">")) l else l.replace("-", "")).mkString("\n")
      finally src.close()
      val f = java.io.File.createTempFile("part_src", ".fa")
      f.deleteOnExit()
      java.nio.file.Files.writeString(f.toPath, out)
      f.getAbsolutePath
    }
    val all = Fasta.read(spark, degapped).cache()
    val queries = all
    // split into 2 DBs with per-DB dense seqIds
    val db0 = all.filter($"seqId" < 10)
    val db1 = all.filter($"seqId" >= 10)
      .withColumn("seqId", $"seqId" - 10)
    // every alignment column must agree, not only the scores
    val cols = Seq("queryId", "targetId", "bits", "eval", "fident", "qStart",
      "qEnd", "tStart", "tEnd", "backtrace", "alnLen", "mismatch", "gapOpen")
    def rows(df: org.apache.spark.sql.DataFrame): Map[String, Int] =
      df.select(cols.map(col): _*).collect().map(_.toSeq.mkString("|"))
        .groupBy(identity).view.mapValues(_.length).toMap
    val looped = rows(PetaSearch.searchMany(spark, queries, Seq(db0, db1)))
    // compare as multisets: looped targets are per-DB ids, the same key
    // space as partitioned, so a row may appear once per DB
    val partitioned = rows(PetaSearch.searchPartitioned(spark, queries,
      db0.withColumn("dbId", lit(0L)).unionByName(db1.withColumn("dbId", lit(1L)))))
    assert(partitioned == looped,
      s"mismatch: only-looped=${looped.keySet -- partitioned.keySet}, " +
        s"only-part=${partitioned.keySet -- looped.keySet}")
    assert(partitioned.nonEmpty)
  }
}
