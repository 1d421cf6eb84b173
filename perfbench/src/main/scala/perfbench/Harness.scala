package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One span of the trace: a layer call, an op or a set-up. Times are
  * milliseconds since the run started.
  */
final case class Span(name: String, start: Long, end: Long, parent: String, op: Int)

/** What an op's output check looks at: the row count and a digest of the
  * output (equal on every op of a run), the planted-pair recall, and, for
  * ops_mix, the row count of each query.
  */
final case class Output(rows: Long, digest: String, recall: Double,
    detail: Map[String, Any] = Map.empty)

/** Timing, layer attribution and span recording shared by the workloads.
  *
  * With tracing off, `stage` and `action` just run their body, so an
  * untraced op is exactly the program's public call sequence. With tracing
  * on, each layer call runs under its own Spark job group and a stage's
  * output is materialized (`localCheckpoint`) inside the layer, so the
  * layer is timed from outside and the next layer starts from data.
  */
final class Harness(val spark: SparkSession, val rec: Recorder) {
  /** Whether layer calls are traced; set per op. */
  var tracing = false
  val t0: Long = System.currentTimeMillis()
  val spans = mutable.ArrayBuffer.empty[Span]
  private var opId = -1
  private var parent = "run"

  def now: Long = System.currentTimeMillis()

  def span[T](name: String, op: Int)(body: => T): (T, Double) = {
    val (prevOp, prevParent) = (opId, parent)
    opId = op; parent = name
    val a = now
    try {
      val out = body
      (out, (now - a) / 1000.0)
    } finally {
      spans += Span(name, a - t0, now - t0, prevParent, op)
      opId = prevOp; parent = prevParent
    }
  }

  /** Group id of `layer` within the current op. */
  def group(layer: String): String = s"$layer#$opId"

  private def inLayer[T](layer: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group(layer), layer)
    val a = now
    try body
    finally {
      sc.clearJobGroup()
      spans += Span(layer, a - t0, now - t0, parent, opId)
    }
  }

  /** A layer that returns a DataFrame. */
  def stage(layer: String)(df: => DataFrame): DataFrame =
    if (!tracing) df else inLayer(layer)(df.localCheckpoint(eager = true))

  /** A layer that ends in a write or another side effect. */
  def action[T](layer: String)(body: => T): T =
    if (!tracing) body else inLayer(layer)(body)

  /** Untimed bookkeeping jobs (counts for the layer ratios) run here, so no
    * layer is charged for them.
    */
  def diag[T](body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"diag#$opId", "diag")
    try body finally sc.clearJobGroup()
  }

  def counters(layer: String): Counters =
    rec.snapshot().getOrElse(group(layer), Counters())
}

object Files2 {
  def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(UTF_8))
  }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally all.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    delete(to)
    val all = Files.walk(from)
    try all.iterator.asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src))
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst)
    } finally all.close()
  }

  /** Regular files under `p`, without Spark's checksum and marker files. */
  def dataFiles(p: Path): Seq[Path] = {
    val all = Files.walk(p)
    try all.iterator.asScala.filter(Files.isRegularFile(_))
      .filterNot { f =>
        val n = f.getFileName.toString
        n.startsWith(".") || n.startsWith("_")
      }.toSeq.sortBy(_.toString)
    finally all.close()
  }

  def size(p: Path): Long = dataFiles(p).map(Files.size).sum

  def sha256(lines: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** A minimal JSON writer for the result and trace files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case p: Product =>
      p.productElementNames.zip(p.productIterator)
        .map { case (k, x) => quote(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}
