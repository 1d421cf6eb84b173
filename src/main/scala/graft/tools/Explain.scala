package graft.tools

import graft.Registry

/** Dev tool: print formatted physical plans for selected queries.
  * `runMain graft.tools.Explain [sfDir] [name ...]` (no names = a default
  * audit set). Used to keep plans honest: broadcast where expected, filters
  * pushed to the parquet scan, WholeStageCodegen spans wide.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (args.length > 1) args.tail.toSeq
      else Seq("q2_join_agg", "bio_prefilter", "emb_cosine_topk", "q1_agg")
    val spark = graft.Session()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      Registry.byName.get(n) match {
        case Some(q) => q.run(spark, sfDir).explain("formatted")
        case None => println(s"unknown query: $n")
      }
    }
    spark.stop()
  }
}
