package graft.sources

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Every live-directory write in main publishes through [[IndexCommit]].
  * The writes that bypass a stage have a recognizable spelling: Spark's
  * dynamic partition overwrite, an append-mode write, or a `batch=<id>`
  * directory written in place; and, in the index layers (`sources/`,
  * `bio/`), an overwrite-mode parquet write whose target is not the stage
  * an [[IndexCommit.Output]] is handed (`_` or `stage`). This scans the
  * main sources for them and fails on any code line not on the list
  * below, each exception with its reason. An entry that no longer matches
  * anything fails too, so the list only shrinks with the code.
  */
class WriteProtocolSpec extends AnyFunSuite {

  /** (pattern, the directories under src/main/scala it scans). */
  private val patterns = Seq(
    """partitionOverwriteMode|mode\("append"\)|batch=\$batchId""".r ->
      Seq("graft/"),
    """mode\("overwrite"\)\.parquet\((?!_\)|stage\))""".r ->
      Seq("graft/sources/", "graft/bio/"))

  /** (file under src/main/scala, text on the line, reason). */
  private val allowed = Seq(
    ("graft/bio/KmerIndex.scala", """.write.mode("overwrite").parquet(path)""",
      "KmerIndex.write: writes the stage its IndexCommit output is handed"),
    ("graft/streaming/EventsStream.scala", """.parquet(s"$stage/batch=$batchId")""",
      "batchDir: the one batch-directory write, into an IndexCommit stage"),
    ("graft/streaming/DedupStream.scala",
      """spark.read.parquet(s"$pairsOutPath/batch=$batchId")""",
      "a read of the batch's published pairs"),
    ("graft/streaming/DedupStream.scala", "changesTo = changesDir.map",
      "Scd2.writeChanges' feed directory: its _SUCCESS guard never " +
        "overwrites a committed batch"),
    ("graft/sources/SourceQueries.scala",
      """.format("graft-versioned").mode("append")""",
      "fixture: an append through the graft-versioned log's own commit"),
    ("graft/sources/SourceQueries.scala",
      "\"spark.sql.sources.partitionOverwriteMode\"",
      "fixture: SQL dynamic INSERT OVERWRITE into a graft-versioned table"),
    ("graft/sources/SourceQueries.scala",
      """write.mode("append").parquet(in)""",
      "fixture: the second input file of a stream source"))

  private def scalaFiles(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  test("live-directory writes outside IndexCommit are only the listed exceptions") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"no main sources at ${root.getAbsolutePath}")
    val hits = scalaFiles(root).flatMap { f =>
      val rel = root.toPath.relativize(f.toPath).toString
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val scanned = patterns.collect {
        case (p, dirs) if dirs.exists(rel.startsWith) => p
      }
      try src.getLines().zipWithIndex.collect {
        case (line, i) if scanned.exists(_.findFirstIn(line).isDefined) && !{
            val t = line.trim
            t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
          } => (rel, i + 1, line.trim)
      }.toList finally src.close()
    }
    def allows(a: (String, String, String), h: (String, Int, String)) =
      h._1 == a._1 && h._3.contains(a._2)
    val unlisted = hits.filterNot(h => allowed.exists(allows(_, h)))
    assert(unlisted.isEmpty, "writes that bypass IndexCommit:\n" +
      unlisted.map { case (f, n, l) => s"  $f:$n: $l" }.mkString("\n"))
    val stale = allowed.filterNot(a => hits.exists(allows(a, _)))
    assert(stale.isEmpty, s"exceptions that match no line: ${stale.map(_._2)}")
  }
}
