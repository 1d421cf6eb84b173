package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

/** Driver-side parquet I/O for the [[Versioned]] commit tail.
  *
  * A snapshot commit used to cost THREE driver Spark jobs beyond the data
  * write itself: the manifest write (`toDF.coalesce(1).write.parquet`),
  * the manifest read-back (`spark.read.parquet(...).collect`), and the
  * per-file stats aggregation (`ZoneMap.statsOf(...).collect`). All three
  * operate on kilobytes of metadata — launching a distributed job for each
  * is pure scheduling overhead, and on fixture-heavy multi-commit paths it
  * dominated wall-clock (guide §1.2: fix the job count before per-task
  * work). This object does the same work in-process:
  *
  *  - [[write]]/[[read]]: the 2-column `(kind, value)` manifest parquet via
  *    parquet-mr's example Group API — byte-compatible with the old
  *    Spark-written manifest parts in both directions (plain optional UTF8
  *    binary columns), so no reader sees a format change.
  *  - [[footerStats]]: per-file min/max/nullCount/rowCount for the
  *    manifest's skip stats, read from the parquet FOOTERS of the
  *    freshly-written files (Iceberg's approach) instead of re-scanning
  *    the data with an aggregation job. Footer stats are exact for the
  *    primitive types covered here (parquet-mr DROPS, never silently
  *    truncates, footer min/max above its 4 KB cap; FooterStatsSpec pins
  *    equality against the aggregation-job stats); any file/column whose
  *    stats cannot be PROVEN equivalent returns None and the caller falls
  *    back to the old Spark-job path.
  */
private[graft] object ManifestIO {

  private val ManifestSchema: MessageType = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary kind (UTF8);
      |  optional binary value (UTF8);
      |}""".stripMargin)

  /** Write `rows` as ONE parquet part file at `file` (driver-side, no
    * Spark job). The caller owns directory staging + atomic rename.
    */
  def write(conf: Configuration, file: String,
      rows: Seq[(String, String)]): Unit = {
    val w = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(file), conf))
      .withConf(conf)
      .withType(ManifestSchema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach { case (k, v) =>
      val g = new SimpleGroup(ManifestSchema)
      g.append("kind", k)
      g.append("value", v)
      w.write(g)
    } finally w.close()
  }

  /** Read every data file of manifest directory `dir` as (kind, value)
    * rows (driver-side, no Spark job). Reads both [[write]]'s files and
    * legacy Spark-written manifest parts (same physical schema).
    */
  def read(conf: Configuration, dir: String): Seq[(String, String)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    val parts = fs.listStatus(p).filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.sortBy(_.getPath.getName)
    val buf = Seq.newBuilder[(String, String)]
    parts.foreach { st =>
      val r = ParquetReader
        .builder(new GroupReadSupport(), st.getPath)
        .withConf(conf)
        .build()
      try {
        var g = r.read()
        while (g != null) {
          def f(n: String): String =
            if (g.getFieldRepetitionCount(n) > 0) g.getString(n, 0) else null
          buf += ((f("kind"), f("value")))
          g = r.read()
        }
      } finally r.close()
    }
    buf.result()
  }

  /** One column's aggregated footer stats for one file: numeric bounds in
    * (lo, hi) — already in the manifest's double domain — string bounds in
    * (slo, shi) UNTRUNCATED (the caller applies its truncation), plus the
    * null count.
    */
  final case class ColStat(name: String, lo: Option[Double],
      hi: Option[Double], slo: Option[String], shi: Option[String],
      nulls: Long)

  /** One file's aggregated footer stats: row count + one [[ColStat]] per
    * stat-eligible column, in schema order.
    */
  final case class FileStats(file: String, rows: Long, cols: Seq[ColStat])

  private sealed trait Kind
  private case object KNum extends Kind // exact numeric, in double domain
  private case object KStr extends Kind // UTF8 string
  private case object KSkip extends Kind // type Spark sees as non-stat
  private case object KUnknown extends Kind // cannot prove — fall back

  /** Classify a top-level parquet field the way Spark's read schema
    * would: KNum iff Spark reads it as a NumericType, KStr iff StringType,
    * KSkip for every other SPARK-VISIBLE type (date, timestamp, boolean,
    * binary, nested — exactly the columns the stats pass ignores), and
    * KUnknown when the mapping (or stats exactness) is not provable.
    */
  private def classify(t: org.apache.parquet.schema.Type): Kind = {
    if (!t.isPrimitive) return KSkip
    val p = t.asPrimitiveType()
    val ann = p.getLogicalTypeAnnotation
    p.getPrimitiveTypeName match {
      case PrimitiveTypeName.BOOLEAN => KSkip
      case PrimitiveTypeName.INT96 => KSkip // legacy timestamp
      case PrimitiveTypeName.INT32 => ann match {
        case null => KNum
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
          if (i.isSigned) KNum else KUnknown // unsigned stat order differs
        case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => KNum
        case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => KSkip
        case _ => KUnknown
      }
      case PrimitiveTypeName.INT64 => ann match {
        case null => KNum
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
          if (i.isSigned) KNum else KUnknown
        case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => KNum
        case _: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => KSkip
        case _ => KUnknown
      }
      case PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE => KNum
      case PrimitiveTypeName.BINARY => ann match {
        case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation => KStr
        case null => KSkip // BinaryType: not a stat column
        case _ => KUnknown // enum/json/bson/decimal-binary: unprovable
      }
      case PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY => KUnknown // decimal/f16
    }
  }

  /** Numeric min/max of one merged column statistics in the manifest's
    * DOUBLE domain (min/max commute with the widening casts — both are
    * monotone), or None when equality with the aggregation-job result
    * cannot be proven (NaN / signed-zero edge semantics).
    */
  private def numBounds(s: Statistics[_],
      p: org.apache.parquet.schema.PrimitiveType)
      : Option[(Double, Double)] = {
    def dec(v: Long): Double = p.getLogicalTypeAnnotation match {
      case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
        java.math.BigDecimal.valueOf(v, d.getScale).doubleValue
      case _ => v.toDouble
    }
    // NaN poisons parquet-mr's footer min/max in a way Spark's
    // NaN-as-largest aggregate ordering does not: floating-point NaN
    // bounds fall back. A ±0.0 bound is sign-smudged by parquet-mr's
    // reader (a +0.0 min comes back -0.0, a -0.0 max comes back +0.0, to
    // stay conservative under IEEE -0.0 == 0.0); normalize to +0.0 —
    // numerically identical everywhere the stat is consumed (admission,
    // must-match proofs, partition values all compare as doubles), and
    // byte-identical to the job path's encoding on -0.0-free data (the
    // job's own ±0.0 min/max is first-seen order-dependent, so there is
    // no exact contract to preserve on mixed-sign-zero data).
    // Integer-backed columns have neither problem.
    def fp(lo: Double, hi: Double): Option[(Double, Double)] =
      if (lo.isNaN || hi.isNaN) None
      else Some((if (lo == 0.0) 0.0 else lo, if (hi == 0.0) 0.0 else hi))
    (s.genericGetMin, s.genericGetMax) match {
      case (a: java.lang.Integer, b: java.lang.Integer) =>
        Some((dec(a.longValue), dec(b.longValue)))
      case (a: java.lang.Long, b: java.lang.Long) =>
        Some((dec(a.longValue), dec(b.longValue)))
      case (a: java.lang.Float, b: java.lang.Float) =>
        fp(a.doubleValue, b.doubleValue)
      case (a: java.lang.Double, b: java.lang.Double) =>
        fp(a.doubleValue, b.doubleValue)
      case _ => None
    }
  }

  /** UTF8 string from footer stat bytes, provably byte-faithful: decodes
    * then re-encodes and requires identity (an invalid-UTF8 byte sequence
    * would order differently under Spark's UTF8String semantics).
    */
  private def utf8(bytes: Array[Byte]): Option[String] = {
    val s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    if (java.util.Arrays.equals(
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8), bytes)) Some(s)
    else None
  }

  // ---- ZoneMap sidecar I/O (same driver-side discipline) --------------

  /** The [[ZoneMap]] sidecar's physical schema, matching what Spark's
    * writer produced for the old `coalesce(1).write.parquet` path — both
    * reader directions stay byte-compatible.
    */
  private val SidecarSchema: MessageType = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary f (UTF8);
      |  optional binary c (UTF8);
      |  optional int32 ci;
      |  optional double lo;
      |  optional double hi;
      |  optional binary slo (UTF8);
      |  optional binary shi (UTF8);
      |  optional int64 nulls;
      |  optional int64 rows;
      |}""".stripMargin)

  /** One (file, column) sidecar row — the on-disk zone-map record. */
  final case class SidecarRow(f: String, c: String, ci: Int,
      lo: Option[Double], hi: Option[Double],
      slo: Option[String], shi: Option[String],
      nulls: Option[Long], rows: Option[Long])

  /** Write `rows` as ONE sidecar parquet part file (driver-side, no
    * Spark job). The caller owns staging/rename.
    */
  def writeSidecar(conf: Configuration, file: String,
      rows: Seq[SidecarRow]): Unit = {
    val w = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(file), conf))
      .withConf(conf)
      .withType(SidecarSchema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach { r =>
      val g = new SimpleGroup(SidecarSchema)
      g.append("f", r.f)
      g.append("c", r.c)
      g.append("ci", r.ci)
      r.lo.foreach(v => g.append("lo", v))
      r.hi.foreach(v => g.append("hi", v))
      r.slo.foreach(v => g.append("slo", v))
      r.shi.foreach(v => g.append("shi", v))
      r.nulls.foreach(v => g.append("nulls", v))
      r.rows.foreach(v => g.append("rows", v))
      w.write(g)
    } finally w.close()
  }

  /** Read every data file of sidecar directory `dir` (driver-side, no
    * Spark job). Reads both [[writeSidecar]]'s files and legacy
    * Spark-written parts; sidecars predating the nulls/rows columns read
    * with those fields absent (None — which never prunes). A missing
    * `dir` reads as no rows.
    */
  def readSidecar(conf: Configuration, dir: String): Seq[SidecarRow] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    val all = if (fs.exists(p)) fs.listStatus(p) else Array.empty[FileStatus]
    val parts = all.filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.sortBy(_.getPath.getName)
    val out = Seq.newBuilder[SidecarRow]
    parts.foreach { st =>
      val r = ParquetReader
        .builder(new GroupReadSupport(), st.getPath)
        .withConf(conf)
        .build()
      try {
        var g = r.read()
        while (g != null) {
          val t = g.getType
          def has(n: String) =
            t.containsField(n) && g.getFieldRepetitionCount(n) > 0
          def str(n: String) = if (has(n)) Some(g.getString(n, 0)) else None
          def dbl(n: String) = if (has(n)) Some(g.getDouble(n, 0)) else None
          def lng(n: String) = if (has(n)) Some(g.getLong(n, 0)) else None
          out += SidecarRow(str("f").orNull, str("c").orNull,
            if (has("ci")) g.getInteger("ci", 0) else 0,
            dbl("lo"), dbl("hi"), str("slo"), str("shi"),
            lng("nulls"), lng("rows"))
          g = r.read()
        }
      } finally r.close()
    }
    out.result()
  }

  /** Read one int field of a [[writeMetaDir]] meta directory
    * (driver-side; also reads the legacy Spark-written form). None when
    * the directory is missing/empty or the field is absent.
    */
  def readIntMeta(conf: Configuration, dir: String,
      name: String): Option[Int] =
    readFirstRecord(conf, dir).flatMap { g =>
      if (g.getType.containsField(name) &&
          g.getFieldRepetitionCount(name) > 0)
        Some(g.getInteger(name, 0))
      else None
    }

  /** The pin of [[IndexCommit]]: ONE driver-written parquet file holding
    * a single row of named scalar fields (Int/Long/Double/String), written
    * to `<dir>__stage` and swapped in for `dir`. Readers (Spark and
    * [[readFirstRecord]] alike) see the same physical schema the old
    * `Seq(...).toDF(...).coalesce(1).write.parquet` produced.
    */
  def writeMetaDir(conf: Configuration, dir: String,
      fields: Seq[(String, Any)]): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      fields.map {
        case (n, _: Int) => s"optional int32 $n;"
        case (n, _: Long) => s"optional int64 $n;"
        case (n, _: Double) => s"optional double $n;"
        case (n, _: String) => s"optional binary $n (UTF8);"
        case (n, v) => throw new IllegalArgumentException(
          s"unsupported meta field $n: ${v.getClass}")
      }.mkString("message spark_schema { ", " ", " }"))
    val d = new Path(IndexCommit.stageOf(dir))
    val fs = d.getFileSystem(conf)
    fs.delete(d, true)
    fs.mkdirs(d)
    val w = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(
        new Path(d, "part-00000-meta.parquet"), conf))
      .withConf(conf)
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try {
      val g = new SimpleGroup(schema)
      fields.foreach {
        case (n, v: Int) => g.append(n, v)
        case (n, v: Long) => g.append(n, v)
        case (n, v: Double) => g.append(n, v)
        case (n, v: String) => g.append(n, v)
        case _ => ()
      }
      w.write(g)
    } finally w.close()
    IndexCommit.publish(conf, dir, IndexCommit.Replace)
  }

  /** First record of the first non-hidden part file under parquet
    * directory `dir` (driver-side, no Spark job) — for sidecar-wide
    * CONSTANT columns (bloom geometry, key metadata). None for a
    * missing or empty directory.
    */
  def readFirstRecord(conf: Configuration, dir: String)
      : Option[org.apache.parquet.example.data.Group] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return None
    val parts = fs.listStatus(p).filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.sortBy(_.getPath.getName)
    parts.foreach { st =>
      val r = ParquetReader
        .builder(new GroupReadSupport(), st.getPath)
        .withConf(conf)
        .build()
      val g = try r.read() finally r.close()
      if (g != null) return Some(g)
    }
    None
  }

  /** Per-file parquet row counts, driver-side from the footers (row
    * counts are footer metadata — always exact). None if any footer is
    * unreadable.
    */
  def rowCounts(conf: Configuration,
      files: Seq[String]): Option[Seq[(String, Long)]] =
    try Some(files.map { f =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(f), conf))
      try f -> reader.getRecordCount finally reader.close()
    }) catch { case _: Exception => None }

  /** Top-level field names of one parquet file, driver-side from the
    * footer (schema-shape sniffing without a DataFrameReader resolution).
    */
  def fieldNames(conf: Configuration, file: String): Seq[String] = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file), conf))
    try reader.getFooter.getFileMetaData.getSchema.getFields.asScala.toSeq
      .map(_.getName)
    finally reader.close()
  }

  /** Merge `b` into `a` (same column, same physical type — both come
    * from one file's row groups). The type parameter only satisfies the
    * Java signature's recursive bound; it is erased at runtime.
    */
  private def mergeStats(a: Statistics[_], b: Statistics[_]): Unit =
    a.asInstanceOf[Statistics[Integer]]
      .mergeStatistics(b.asInstanceOf[Statistics[Integer]])

  /** One file's footer stats: Some(None) for a zero-row file (the job
    * path emits no row for it), Some(Some(fs)) for proven-exact stats,
    * None when anything cannot be proven (the whole batch then falls
    * back to the aggregation job).
    */
  private def oneFileStats(conf: Configuration,
      f: String): Option[Option[FileStats]] = {
    try {
      val in = HadoopInputFile.fromPath(new Path(f), conf)
      val reader = ParquetFileReader.open(in)
      val footer = try reader.getFooter finally reader.close()
      val schema = footer.getFileMetaData.getSchema
      val kinds = schema.getFields.asScala.toSeq
        .map(t => t.getName -> classify(t))
      if (kinds.exists(_._2 == KUnknown)) return None
      val statCols = kinds.collect { case (n, k) if k != KSkip => n }
      // one parquet-native Statistics per column, merged across row
      // groups with parquet's own comparator (unsigned-lexicographic
      // for UTF8 — the same total order Spark's min/max use)
      val merged =
        scala.collection.mutable.LinkedHashMap[String, Statistics[_]]()
      var rows = 0L
      footer.getBlocks.asScala.foreach { b =>
        rows += b.getRowCount
        b.getColumns.asScala.foreach { cc =>
          val path = cc.getPath.toArray
          if (path.length == 1 && statCols.contains(path(0))) {
            val st = cc.getStatistics
            if (st == null || st.isEmpty || !st.isNumNullsSet) return None
            // non-null values present but no min/max recorded: the
            // writer dropped the stats (e.g. >4 KB values) — unprovable
            if (!st.hasNonNullValue && st.getNumNulls < cc.getValueCount)
              return None
            merged.get(path(0)) match {
              case Some(m) => mergeStats(m, st)
              case None => merged(path(0)) = st.copy()
            }
          }
        }
      }
      if (rows == 0) return Some(None)
      val cols = statCols.map { c =>
        val st = merged.getOrElse(c, return None)
        if (!st.isNumNullsSet) return None
        val field = schema.getType(Seq(c): _*).asPrimitiveType()
        val isStr = kinds.find(_._1 == c).get._2 == KStr
        if (!st.hasNonNullValue)
          ColStat(c, None, None, None, None, st.getNumNulls)
        else if (isStr) {
          (utf8(st.getMinBytes), utf8(st.getMaxBytes)) match {
            case (Some(lo), Some(hi)) =>
              ColStat(c, None, None, Some(lo), Some(hi), st.getNumNulls)
            case _ => return None
          }
        } else numBounds(st, field) match {
          case Some((lo, hi)) =>
            ColStat(c, Some(lo), Some(hi), None, None, st.getNumNulls)
          case None => return None
        }
      }
      Some(Some(FileStats(f, rows, cols)))
    } catch {
      case _: Exception => None // unreadable footer etc. — job path decides
    }
  }

  /** Exact per-file stats from the parquet footers of `files`, or None
    * when ANY file/column cannot be proven exact (the caller then runs
    * the aggregation-job path). Zero-row files yield no entry, matching
    * the job path (its groupBy emits no row for a file with no rows).
    * Footer opens run on a small driver pool (Iceberg's worker-pool
    * manifest discipline): the aggregation job this path replaces was
    * cluster-parallel, and a serial loop over a hundred-file commit
    * would hand back most of the win.
    */
  def footerStats(conf: Configuration,
      files: Seq[String]): Option[Seq[FileStats]] = {
    // exactness precondition: parquet-mr writers TRUNCATE binary footer
    // min/max when parquet.statistics.truncate.length is set below its
    // MAX_VALUE default, with no exactness flag surfaced through the
    // Statistics API read here — a deployment setting it would make the
    // fast path commit too-tight string bounds that mis-skip files.
    // Fall back to the aggregation-job path in that configuration.
    if (conf.getInt("parquet.statistics.truncate.length",
          Integer.MAX_VALUE) < Integer.MAX_VALUE) return None
    val perFile: Seq[Option[Option[FileStats]]] =
      if (files.sizeIs <= 2) files.map(oneFileStats(conf, _))
      else {
        val pool = java.util.concurrent.Executors
          .newFixedThreadPool(math.min(16, files.size))
        try {
          val futs = files.map { f =>
            pool.submit(new java.util.concurrent.Callable[
              Option[Option[FileStats]]] {
              def call(): Option[Option[FileStats]] = oneFileStats(conf, f)
            })
          }
          futs.map(_.get())
        } finally pool.shutdown()
      }
    if (perFile.exists(_.isEmpty)) None
    else Some(perFile.flatMap(_.get))
  }
}
