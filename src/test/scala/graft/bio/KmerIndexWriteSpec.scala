package graft.bio

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.TestSpark
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.ListenerDrain
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The persisted k-mer index write (`KmerIndex.write`): one range exchange
  * per write, and the S5 layout on disk — at most `WritePartitions` files,
  * each a sorted k-mer run, file ranges disjoint and ascending.
  */
class KmerIndexWriteSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark

  private def writeFasta(records: Seq[(String, String)]): String = {
    val f = java.io.File.createTempFile("kmw", ".fa")
    f.deleteOnExit()
    java.nio.file.Files.writeString(f.toPath,
      records.map { case (h, s) => s">$h\n$s" }.mkString("\n"))
    f.getAbsolutePath
  }

  /** The exchanges of every query that wrote under a `kmers` directory
    * while `body` ran, one list per write.
    */
  private def kmerWrites(body: => Unit): Seq[Seq[ShuffleExchangeExec]] = {
    val plans = mutable.Buffer.empty[Seq[ShuffleExchangeExec]]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val toKmers = collect(qe.executedPlan) {
          case w: DataWritingCommandExec => w.cmd
        }.exists {
          case c: InsertIntoHadoopFsRelationCommand =>
            c.outputPath.getName.startsWith("kmers")
          case _ => false
        }
        if (toKmers) plans.synchronized {
          plans += collect(qe.executedPlan) { case e: ShuffleExchangeExec => e }
        }
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      ListenerDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    plans.synchronized(plans.toList)
  }

  private def assertOneRangeExchange(writes: Seq[Seq[ShuffleExchangeExec]]): Unit = {
    assert(writes.size == 1, s"expected one kmers/ write, saw ${writes.size}")
    val exchanges = writes.head
    assert(exchanges.size == 1,
      s"expected one exchange, saw ${exchanges.map(_.outputPartitioning)}")
    exchanges.head.outputPartitioning match {
      case r: RangePartitioning =>
        assert(r.numPartitions == KmerIndex.WritePartitions)
        assert(r.ordering.flatMap(_.child.references.map(_.name)) == Seq("kmer"))
      case p => fail(s"expected a range exchange on kmer, saw $p")
    }
  }

  /** (min, max) kmer from each part file's footer, in file-name order, after
    * checking every file's rows are sorted by kmer.
    */
  private def fileRanges(kmersDir: String): Seq[(Long, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(kmersDir)
    val parts = dir.getFileSystem(conf).listStatus(dir).map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .sortBy(_.getName).toSeq
    assert(parts.nonEmpty && parts.size <= KmerIndex.WritePartitions)
    parts.map { p =>
      val kmers = spark.read.parquet(p.toString).select("kmer").collect()
        .map(_.getLong(0)).toSeq
      assert(kmers == kmers.sorted, s"$p is not sorted by kmer")
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      val stats = try reader.getFooter.getBlocks.asScala.toSeq.flatMap(
        _.getColumns.asScala.filter(_.getPath.toDotString == "kmer")
          .map(_.getStatistics))
      finally reader.close()
      assert(stats.nonEmpty && stats.forall(s => s.hasNonNullValue))
      val (lo, hi) = (stats.map(_.genericGetMin.asInstanceOf[Long]).min,
        stats.map(_.genericGetMax.asInstanceOf[Long]).max)
      assert((lo, hi) == (kmers.head, kmers.last))
      (lo, hi)
    }
  }

  private def assertLayout(kmersDir: String): Unit = {
    val ranges = fileRanges(kmersDir)
    ranges.zip(ranges.drop(1)).foreach { case ((_, hi), (lo, _)) =>
      assert(hi < lo, s"file ranges overlap or descend: $ranges")
    }
  }

  test("buildTargetDb then appendToTargetDb: one range exchange per kmers/ write, S5 layout") {
    val rnd = new scala.util.Random(23)
    def protein(n: Int) =
      Array.fill(n)("ACDEFGHIKLMNPQRSTVWY"(rnd.nextInt(20))).mkString
    val base = (0 until 40).map(i => (s"p$i", protein(60 + i)))
    // the batch shares k-mers with the stored index, so the merge reduces
    val batch = base.take(5).map { case (h, s) => (s"$h-ext", s + protein(8)) } ++
      (0 until 5).map(i => (s"n$i", protein(70)))
    val db = java.nio.file.Files.createTempDirectory("kmwdb").toString

    assertOneRangeExchange(kmerWrites(
      PetaSearch.buildTargetDb(spark, writeFasta(base), db)))
    assertLayout(s"$db/kmers")

    assertOneRangeExchange(kmerWrites(
      PetaSearch.appendToTargetDb(spark, writeFasta(batch), db)))
    assertLayout(s"$db/kmers")
    val stored = spark.read.parquet(s"$db/kmers")
    assert(stored.count() == stored.select("kmer").distinct().count())
  }
}
