package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one commit protocol of every persisted index here: the
  * reference's rule for its DBs (records first, then the `.index`/`.dbtype`
  * files that make them a DB, `SRADBWriter.cpp`), in four steps.
  *
  *   1. Stage: each output is written to its sibling `<dir>__stage`. Stage
  *      writes are the only work that overlaps (`Par.jobs`); no directory a
  *      reader opens changes while they run.
  *   2. Publish, on the driver, in the order the caller lists the outputs:
  *      - [[Replace]] swaps the whole directory (`<dir>` is renamed to
  *        `<dir>__old`, the stage to `<dir>`, then the old copy goes);
  *      - [[ReplaceParts]] does the same for only the partition directories
  *        that were staged: the O(touched) rewrite of a bucketed table;
  *      - [[Add]] moves the staged files into the live directory (an
  *        append). With a stream batchId each file is named `b<batchId>-…`.
  *   3. Pin: the one-row meta directory is staged and swapped in last
  *      ([[ManifestIO.writeMetaDir]]). Inside a stream batch ([[inBatch]])
  *      it carries the batchId as `batch_id`, the stream's replay
  *      high-watermark; a rebuild pins without one, so rebuilding resets
  *      the watermark.
  *   4. Recovery, run by the writer before it reads or commits: a target
  *      that is missing while its `__old` copy exists gets the copy back; a
  *      partition swap cut short (its stage still next to its `__old`) is
  *      undone whole, every set-aside partition back and every added one
  *      gone; then stale `__stage`/`__old` go. Given the pin, files
  *      `b<k>-…` with k above its watermark belong to a batch that never
  *      pinned and are removed, so its replay adds them once.
  *
  * A crash at any point thus leaves each output old or new (per file for
  * [[Add]]), no output ahead of one listed before it, and the pin never
  * ahead of the data it describes.
  * Stage and old directories are siblings of their target, never
  * children, so a reader of the live layout never sees them.
  *
  * Single writer: one process at a time writes an index (one streaming
  * query or one maintenance job per path). Readers run next to it freely
  * and never recover.
  */
private[graft] object IndexCommit {

  sealed trait Publish
  case object Replace extends Publish
  case object ReplaceParts extends Publish
  case object Add extends Publish

  /** One output: its live directory, how it publishes, and the write that
    * fills the stage directory it is handed.
    */
  final case class Output(dir: String, publish: Publish, write: String => Unit)

  /** The pin field holding a stream's replay high-watermark. */
  val Watermark = "batch_id"

  def stageOf(dir: String): String = s"${dir.stripSuffix("/")}__stage"
  private def oldOf(dir: String): String = s"${dir.stripSuffix("/")}__old"

  private val batch = ThreadLocal.withInitial[Option[Long]](() => None)

  /** Run `f` as stream batch `batchId`: every commit `f` makes on this
    * thread names its added files for the batch and pins the batch.
    */
  def inBatch[T](batchId: Long)(f: => T): T = {
    val outer = batch.get
    batch.set(Some(batchId))
    try f finally batch.set(outer)
  }

  /** The stream batch this thread commits for, if any. */
  def streamBatch: Option[Long] = batch.get

  /** Stage every output (concurrently), publish them in order, then write
    * `pin` = (meta dir, fields), with the stream batch as its watermark.
    */
  def commit(spark: SparkSession, outputs: Seq[Output],
      pin: Option[(String, Seq[(String, Any)])] = None): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val (adds, others) = outputs.partition(_.publish == Add)
    recover(conf, others.map(_.dir) ++ pin.map(_._1))
    recover(conf, adds.map(_.dir), pin.filter(_ => streamBatch.isDefined).map(_._1))
    graft.Par.jobs(outputs.map(o => () => o.write(stageOf(o.dir))): _*)
    outputs.foreach(o => publish(conf, o.dir, o.publish))
    pin.foreach { case (dir, fields) =>
      ManifestIO.writeMetaDir(conf, dir,
        fields.filter(_._1 != Watermark) ++ streamBatch.map(Watermark -> _))
    }
  }

  /** The recovery rule for `dirs`; with `pin`, also drop from them the
    * files of batches above its watermark.
    */
  def recover(conf: Configuration, dirs: Seq[String],
      pin: Option[String] = None): Unit = {
    dirs.foreach { dir =>
      val (live, stage, old) = paths(dir)
      val fs = live.getFileSystem(conf)
      if (fs.exists(old)) {
        if (!fs.exists(live)) move(fs, old, live)
        else if (fs.exists(stage)) fs.listStatus(old).foreach { s =>
          // a set-aside partition, or an empty file standing for one the
          // swap added
          val l = new Path(live, s.getPath.getName)
          fs.delete(l, true)
          if (s.isDirectory) move(fs, s.getPath, l)
        }
        fs.delete(old, true)
      }
      fs.delete(stage, true)
    }
    pin.foreach { p =>
      val wm = watermark(conf, p)
      def drop(fs: FileSystem, d: Path): Unit =
        if (fs.exists(d)) fs.listStatus(d).foreach { s =>
          val n = s.getPath.getName
          if (s.isDirectory) { if (!hidden(n)) drop(fs, s.getPath) }
          else n match {
            case BatchFile(k) if k.toLong > wm => fs.delete(s.getPath, false)
            case _ =>
          }
        }
      dirs.foreach { d => val p = new Path(d); drop(p.getFileSystem(conf), p) }
    }
  }

  /** The pin's replay high-watermark; -1 when no batch is pinned. */
  def watermark(conf: Configuration, pinDir: String): Long =
    pinned(conf, pinDir).collectFirst { case (Watermark, b: Long) => b }
      .getOrElse(-1L)

  /** The pin an append commits: none outside a stream batch; inside one,
    * the current fields, re-pinned under the batch.
    */
  def batchPin(conf: Configuration,
      pinDir: String): Option[(String, Seq[(String, Any)])] =
    streamBatch.map(_ => pinDir -> pinned(conf, pinDir))

  /** The pin's fields, typed (empty without a pin). */
  private def pinned(conf: Configuration, pinDir: String): Seq[(String, Any)] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    ManifestIO.readFirstRecord(conf, pinDir).toSeq.flatMap { g =>
      (0 until g.getType.getFieldCount).filter(g.getFieldRepetitionCount(_) > 0)
        .map { i =>
          g.getType.getFieldName(i) ->
            (g.getType.getType(i).asPrimitiveType.getPrimitiveTypeName match {
              case INT32 => g.getInteger(i, 0)
              case INT64 => g.getLong(i, 0)
              case DOUBLE => g.getDouble(i, 0)
              case _ => g.getString(i, 0)
            })
        }
    }
  }

  private[sources] def publish(conf: Configuration, dir: String,
      how: Publish): Unit = {
    val (live, stage, old) = paths(dir)
    val fs = live.getFileSystem(conf)
    how match {
      case Replace =>
        if (fs.exists(live)) move(fs, live, old)
        move(fs, stage, live)
        fs.delete(old, true)
      case ReplaceParts if !fs.exists(live) => move(fs, stage, live)
      case ReplaceParts =>
        fs.mkdirs(old)
        fs.listStatus(stage).filter(s => s.isDirectory && !hidden(s.getPath.getName))
          .foreach { s =>
            val l = new Path(live, s.getPath.getName)
            val aside = new Path(old, l.getName)
            if (fs.exists(l)) move(fs, l, aside) else fs.create(aside).close()
            move(fs, s.getPath, l)
          }
        // the stage goes first: with it gone, recovery keeps the swap
        fs.delete(stage, true)
        fs.delete(old, true)
      case Add =>
        def add(from: Path, to: Path): Unit = fs.listStatus(from).foreach { s =>
          val n = s.getPath.getName
          if (hidden(n)) ()
          else if (s.isDirectory) add(s.getPath, new Path(to, n))
          else {
            fs.mkdirs(to)
            move(fs, s.getPath, new Path(to, streamBatch.fold(n)(b => s"b$b-$n")))
          }
        }
        add(stage, live)
        fs.delete(stage, true)
    }
  }

  private val BatchFile = """b(\d+)-.*""".r

  private def hidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")

  private def paths(dir: String): (Path, Path, Path) =
    (new Path(dir.stripSuffix("/")), new Path(stageOf(dir)), new Path(oldOf(dir)))

  private def move(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"could not move $from to $to")
}
