package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, InMemoryFileIndex, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Zone-map/bloom skipping integrated into Catalyst PLANNING — the one
  * read path of the sidecar family (public prior art: Delta/Iceberg
  * expose their file-stats pruning through a custom file listing
  * consulted by the scan, not through explicit probe calls).
  *
  * [[IndexedTable.table]] returns a DataFrame whose scan consults the
  * sidecar AT PLAN TIME: Spark's `FileSourceStrategy` hands every pushed
  * data predicate to `FileIndex.listFiles`, and
  * [[SkipIndexBase]] translates the conjuncts it understands
  * (comparisons, equality, IN, string prefix, AND/OR) into per-file
  * admission against the per-file min/max bounds. A plain
  * `.filter("user_id BETWEEN 100 AND 199 AND lang = 'en'")` — or the same
  * WHERE via `spark.sql` — prunes files with no index-aware code at the
  * call site, composing with everything Catalyst already does (the full
  * predicate still runs over the admitted rows and still pushes into the
  * parquet row-group scan, so pruning is pure I/O savings, never a
  * correctness surface).
  *
  * When the table ALSO carries a [[BloomIndex]] sidecar (its `key_col`
  * rides with the bits), equality and IN predicates on that key add a
  * second admission leg: one batched distributed bloom probe per plan
  * ([[BloomIndex.candidateFiles]]), intersected with the zone-map leg —
  * point lookups through plain SQL open only the files whose bloom admits
  * the key.
  *
  * Conservatism contract (the [[ZoneMap]] read-side rules, verbatim):
  * a conjunct the translator does not understand admits every file; null
  * or missing bounds never prune; live files the index does not cover
  * are unconditional candidates; a missing index degrades to the full
  * listing. Strict comparisons prune as their non-strict relaxation, and
  * only VALUE-PRESERVING widening casts unwrap (a narrowing cast is not
  * injective — unwrapping it could prune files still holding matches).
  *
  * Two concrete indexes share the translation: [[SkippingFileIndex]]
  * (a flat sidecar-indexed directory, file identity = basename) and
  * [[ManifestFileIndex]] (an explicit snapshot file list + stats from a
  * [[Versioned]] manifest, file identity = full path — versioned data
  * dirs reuse part-file basenames across commits).
  *
  * Scale shape: driver state is O(files × stat columns) — the sidecar
  * and the live listing ([[ZoneMap.loadIndex]]) — read once per plan
  * (and once per `refresh()`), not per partition. At 1000 executors the
  * win is the same as Delta's: the pruned listing never reaches the
  * scheduler, so task count scales with the SELECTED data, not the table.
  */
object IndexedTable {

  /** Open an indexed table (zone-mapped via [[ZoneMap.build]]/`append`,
    * bloom-indexed via [[BloomIndex.build]], or both) as a
    * DataFrame whose scan prunes files from any pushed predicate at
    * planning time.
    */
  def table(spark: SparkSession, tablePath: String): DataFrame = {
    val schema = spark.read.parquet(tablePath).schema
    toDataFrame(spark, new SkippingFileIndex(spark, tablePath), schema)
  }

  /** Open a HIVE-PARTITIONED, sidecar-indexed table — the standard
    * lakehouse read path, both prunes composed: partition pruning (from
    * directory names, via Spark's own discovery + pruning inside an
    * [[InMemoryFileIndex]]) intersects per-file zone-map admission
    * ([[PartitionedSkippingFileIndex]]). A query naming a partition
    * value AND a stat-column range opens only the files that survive
    * BOTH cuts; either predicate alone still applies its own cut. Build
    * the sidecar over the existing layout with [[ZoneMap.buildStatsOnly]]
    * (stats are keyed by full path, so per-partition part-file basename
    * reuse is safe).
    */
  def partitionedTable(spark: SparkSession, tablePath: String): DataFrame = {
    val index = new PartitionedSkippingFileIndex(spark, tablePath)
    // data schema from ONE leaf footer off the index's OWN listing — a
    // spark.read.parquet(tablePath) here would run partition discovery a
    // second time, doubling open cost on exactly the 10⁵-file table this
    // path targets. (Same single-footer contract as spark.read's default:
    // heterogeneous-schema layouts need their own merge pass.)
    val dataSchema = index.sampleFile match {
      case Some(p) => spark.read.parquet(p.toString).schema
      case None => new StructType()
    }
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = index.partitionSchema,
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat(),
      options = Map.empty[String, String])(spark)
    spark.baseRelationToDataFrame(relation)
  }

  private[sources] def toDataFrame(spark: SparkSession, index: FileIndex,
      schema: StructType): DataFrame = {
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = new StructType(),
      dataSchema = schema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat(),
      options = Map.empty[String, String])(spark)
    spark.baseRelationToDataFrame(relation)
  }
}

/** Shared predicate→admission translation over per-file stats. Concrete
  * indexes provide the state (file identities, statuses, stats, an
  * optional bloom hook); see [[IndexedTable]] for the contract.
  */
private[sources] abstract class SkipIndexBase(spark: SparkSession)
    extends FileIndex {

  /** `byKey` maps file IDENTITY (subclass-chosen: basename or full path)
    * to its status; `live` is the identity set; `stats.f` values map to
    * identities via `keyOf`.
    */
  protected final case class State(byKey: Map[String, FileStatus],
      live: Set[String], stats: Seq[ZoneMap.Stat],
      keyOf: String => String)

  protected def loadState(): State

  /** Bloom admission hook for point/IN values on `e` — default: no bloom
    * leg, admit all.
    */
  protected def bloomCands(s: State, e: Expression,
      vs: Seq[Any]): Set[String] = s.live

  @volatile private var cached: State = _

  protected def state: State = {
    if (cached == null) cached = loadState()
    cached
  }

  override def refresh(): Unit = { cached = null }

  override def partitionSchema: StructType = new StructType()

  override def sizeInBytes: Long =
    state.byKey.values.map(_.getLen).sum

  override def inputFiles: Array[String] =
    state.live.toArray.sorted.flatMap(n =>
      state.byKey.get(n).map(_.getPath.toString))

  /** File identities admitted by the conjunction of `dataFilters` — the
    * shared entry for both the flat listing below and partition-aware
    * subclasses that intersect this with their own partition pruning.
    */
  protected final def admittedSet(dataFilters: Seq[Expression],
      s: State): Set[String] =
    if (dataFilters.isEmpty) s.live
    else dataFilters.map(f => admitted(f, s)).reduce(_ intersect _)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val s = state
    val names = admittedSet(dataFilters, s)
    val statuses = names.toSeq.sorted.flatMap(s.byKey.get)
    Seq(PartitionDirectory(InternalRow.empty,
      statuses.map(st => FileStatusWithMetadata(st)).toIndexedSeq))
  }

  // ---- predicate -> admitted-file translation -------------------------

  /** Only injective, monotone widenings unwrap — a narrowing/truncating
    * cast (double→int, long→int) is not, and unwrapping it would prune
    * files that still hold matching rows.
    */
  private def wideningCast(from: DataType, to: DataType): Boolean = {
    val intRank: Map[DataType, Int] = Map(ByteType -> 1, ShortType -> 2,
      IntegerType -> 3, LongType -> 4)
    (from, to) match {
      case (f, t) if intRank.contains(f) && intRank.contains(t) =>
        intRank(f) <= intRank(t)
      // integral→double matches the stats' own double exactness domain;
      // float→double is exact
      case (f, DoubleType) if intRank.contains(f) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }

  protected def attrOf(e: Expression): Option[AttributeReference] = e match {
    case a: AttributeReference => Some(a)
    case c: Cast =>
      c.child match {
        case a: AttributeReference
            if wideningCast(a.dataType, c.dataType) => Some(a)
        case _ => None
      }
    case _ => None
  }

  private def numVal(v: Any): Option[Double] = v match {
    case null => None
    case b: Byte => Some(b.toDouble)
    case s: Short => Some(s.toDouble)
    case i: Int => Some(i.toDouble)
    case l: Long => Some(l.toDouble)
    case f: Float => Some(f.toDouble)
    case d: Double => Some(d)
    case d: org.apache.spark.sql.types.Decimal => Some(d.toDouble)
    case _ => None
  }

  private def strVal(v: Any): Option[String] = v match {
    case s: UTF8String => Some(s.toString)
    case s: String => Some(s)
    case _ => None
  }

  /** Files admitted by `c in [lo, hi]` (open ends = unbounded): null or
    * missing bounds and uncovered live files always admit.
    */
  private def rangeCands[T](s: State, c: String, lo: Option[T],
      hi: Option[T], bounds: ZoneMap.Stat => (Option[T], Option[T]))(
      implicit ord: Ordering[T]): Set[String] = {
    val forCol = s.stats.filter(_.c == c)
    val matched = forCol.filter { st =>
      val (flo, fhi) = bounds(st)
      flo.isEmpty || fhi.isEmpty ||
        !(lo.exists(l => ord.lt(fhi.get, l)) ||
          hi.exists(h => ord.gt(flo.get, h)))
    }.map(st => s.keyOf(st.f)).toSet.intersect(s.live)
    val covered = forCol.map(st => s.keyOf(st.f)).toSet
    matched ++ s.live.filterNot(covered)
  }

  private def interval(s: State, a: AttributeReference, loV: Option[Any],
      hiV: Option[Any]): Set[String] = a.dataType match {
    case _: NumericType =>
      val lo = loV.flatMap(numVal)
      val hi = hiV.flatMap(numVal)
      if (loV.isDefined != lo.isDefined || hiV.isDefined != hi.isDefined)
        s.live // literal shape we don't understand: admit all
      else rangeCands(s, a.name, lo, hi, st => (st.lo, st.hi))
    case StringType =>
      val lo = loV.flatMap(strVal)
      val hi = hiV.flatMap(strVal)
      if (loV.isDefined != lo.isDefined || hiV.isDefined != hi.isDefined)
        s.live
      // code-point order, matching the UTF8String order of the stats
      else rangeCands(s, a.name, lo, hi,
        st => (st.slo, st.shi))(Utf8Order.ord)
    case _ => s.live
  }

  /** Files admitted by IS NULL / IS NOT NULL against the per-file null
    * counts (the Delta/Iceberg nullCount stat): IS NULL prunes files
    * recording ZERO nulls; IS NOT NULL prunes all-null files (nulls ==
    * rows). Unknown counts — legacy stats, uncovered files — admit.
    */
  private def nullCands(s: State, c: String, wantNull: Boolean)
      : Set[String] = {
    val forCol = s.stats.filter(_.c == c)
    val matched = forCol.filter { st =>
      (st.nulls, st.rows) match {
        case (Some(n), _) if wantNull => n > 0
        case (Some(n), Some(r)) if !wantNull => n < r
        case _ => true
      }
    }.map(st => s.keyOf(st.f)).toSet.intersect(s.live)
    val covered = forCol.map(st => s.keyOf(st.f)).toSet
    matched ++ s.live.filterNot(covered)
  }

  private def point(s: State, e: Expression, v: Any): Set[String] =
    attrOf(e) match {
      case Some(a) if v != null => interval(s, a, Some(v), Some(v))
      case Some(_) => Set.empty // `col = NULL` matches no row
      case None => s.live
    }

  /** Conservative admitted set for one predicate; anything unrecognized
    * admits every live file.
    */
  private def admitted(e: Expression, s: State): Set[String] = e match {
    case And(l, r) => admitted(l, s) intersect admitted(r, s)
    case Or(l, r) => admitted(l, s) union admitted(r, s)
    case EqualTo(x, Literal(v, _)) =>
      point(s, x, v) intersect bloomCands(s, x, Seq(v))
    case EqualTo(Literal(v, _), x) =>
      point(s, x, v) intersect bloomCands(s, x, Seq(v))
    case EqualNullSafe(x, Literal(v, _)) if v != null =>
      point(s, x, v) intersect bloomCands(s, x, Seq(v))
    case EqualNullSafe(Literal(v, _), x) if v != null =>
      point(s, x, v) intersect bloomCands(s, x, Seq(v))
    case GreaterThan(x, Literal(v, _)) =>
      attrOf(x).map(interval(s, _, Some(v), None)).getOrElse(s.live)
    case GreaterThanOrEqual(x, Literal(v, _)) =>
      attrOf(x).map(interval(s, _, Some(v), None)).getOrElse(s.live)
    case LessThan(x, Literal(v, _)) =>
      attrOf(x).map(interval(s, _, None, Some(v))).getOrElse(s.live)
    case LessThanOrEqual(x, Literal(v, _)) =>
      attrOf(x).map(interval(s, _, None, Some(v))).getOrElse(s.live)
    case GreaterThan(Literal(v, _), x) =>
      attrOf(x).map(interval(s, _, None, Some(v))).getOrElse(s.live)
    case GreaterThanOrEqual(Literal(v, _), x) =>
      attrOf(x).map(interval(s, _, None, Some(v))).getOrElse(s.live)
    case LessThan(Literal(v, _), x) =>
      attrOf(x).map(interval(s, _, Some(v), None)).getOrElse(s.live)
    case LessThanOrEqual(Literal(v, _), x) =>
      attrOf(x).map(interval(s, _, Some(v), None)).getOrElse(s.live)
    case In(x, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      // col IN () and col IN (NULL) match no definite row; the union of
      // per-value point sets (empty for those cases) is exactly right.
      // The bloom leg probes the whole key list in ONE batched job.
      val values = vs.map(_.asInstanceOf[Literal].value)
      values.map(v => point(s, x, v))
        .foldLeft(Set.empty[String])(_ union _)
        .intersect(bloomCands(s, x, values))
    case InSet(x, vs) =>
      val values = vs.toSeq
      values.map(v => point(s, x, v))
        .foldLeft(Set.empty[String])(_ union _)
        .intersect(bloomCands(s, x, values))
    case IsNull(x) => attrOf(x) match {
      case Some(a) => nullCands(s, a.name, wantNull = true)
      case None => s.live
    }
    case IsNotNull(x) => attrOf(x) match {
      case Some(a) => nullCands(s, a.name, wantNull = false)
      case None => s.live
    }
    case StartsWith(x, Literal(p, StringType)) =>
      (attrOf(x), strVal(p)) match {
        case (Some(a), Some(prefix)) if prefix.nonEmpty =>
          // any s with prefix p satisfies p <= s < nextPrefix; the
          // closed upper bound (last CODE POINT rounded up — see
          // Utf8Order) over-admits only the boundary file
          val hi = Utf8Order.incLast(Utf8Order.codePoints(prefix))
            .map(Utf8Order.fromCodePoints)
          interval(s, a, Some(prefix), hi)
        case _ => s.live
      }
    case _ => s.live
  }
}

/** The flat-directory index: live files from the directory listing, stats
  * from the [[ZoneMap]] sidecar, equality routed through the
  * [[BloomIndex]] sidecar when it records its key column. File identity
  * is the BASENAME (unique in a flat dir — enforced at load).
  */
final class SkippingFileIndex(spark: SparkSession, tablePath: String)
    extends SkipIndexBase(spark) {

  override def rootPaths: Seq[Path] = Seq(new Path(tablePath))

  private var bloomMeta: Option[(String, String)] = None

  override protected def loadState(): State = {
    val p = new Path(tablePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(p).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    val (liveUris, stats) = ZoneMap.loadIndex(spark, tablePath)
    val liveNames = liveUris.map(u => new Path(u).getName)
    val byName = files.map(st => st.getPath.getName -> st).toMap
    // the sidecar family's layout contract is a FLAT directory; a nested
    // layout (hive partitions, Versioned data dirs) would silently lose
    // every nested file from the name-keyed admission — fail loudly
    val unresolved = liveNames.filterNot(byName.contains)
    require(unresolved.isEmpty,
      s"IndexedTable.table requires a flat table directory: " +
        s"${unresolved.size} live file(s) are not top-level children of " +
        s"$tablePath (e.g. ${unresolved.take(2).mkString(", ")}); " +
        "hive-partitioned layouts go through IndexedTable.partitionedTable")
    bloomMeta = BloomIndex.plannedKeyMeta(spark, tablePath)
    State(byName, liveNames, stats, f => new Path(f).getName)
  }

  private def longVal(v: Any): Option[Long] = v match {
    case b: Byte => Some(b.toLong)
    case s: Short => Some(s.toLong)
    case i: Int => Some(i.toLong)
    case l: Long => Some(l)
    case _ => None
  }

  private def strLit(v: Any): Option[String] = v match {
    case s: UTF8String => Some(s.toString)
    case s: String => Some(s)
    case _ => None
  }

  /** Bloom-sidecar admission for a point/IN predicate: one batched probe
    * when the attribute is the bloom-indexed key and every value lives
    * in the sidecar's recorded hash domain (integral literals for a
    * long-domain sidecar, string literals for a string-domain one);
    * anything else admits all — the zone-map leg still applies via
    * intersection. Uncovered files come back from the probe itself (its
    * torn-append contract), so the fallback survives.
    */
  override protected def bloomCands(s: State, e: Expression,
      vs: Seq[Any]): Set[String] = (attrOf(e), bloomMeta) match {
    case (Some(a), Some((bc, kind))) if a.name == bc =>
      val files =
        if (kind == "string") {
          val keys = vs.flatMap(strLit)
          if (keys.size != vs.size || keys.isEmpty) return s.live
          BloomIndex.candidateFilesStr(spark, tablePath, keys)
        } else {
          val keys = vs.flatMap(longVal)
          if (keys.size != vs.size || keys.isEmpty) return s.live
          BloomIndex.candidateFiles(spark, tablePath, keys)
        }
      files.map(f => new Path(f).getName).toSet.intersect(s.live)
    case _ => s.live
  }
}

/** Partition pruning × file skipping, composed (the Delta/Iceberg read
  * path: partition values cut directories at zero I/O, file stats cut
  * files within the survivors). Partition discovery, the partition
  * schema, and partition-filter pruning are DELEGATED to Spark's own
  * [[InMemoryFileIndex]] — the battle-tested machinery `spark.read`
  * itself uses — and this index intersects each surviving partition's
  * file list with the [[SkipIndexBase]] sidecar admission computed from
  * the pushed DATA filters. File identity is the scheme-less URI path:
  * part-file basenames recur across partition directories, and the
  * sidecar's `inputFiles`-spelled paths (`file:///…`) must match the
  * listing's (`file:/…`).
  *
  * Scale shape: both prunes run at PLAN time over driver-held metadata —
  * partition values from directory names (no file I/O), stats from one
  * sidecar read. The scheduler sees only files inside selected
  * partitions that the stats admit; a date-partitioned, key-clustered
  * 100 TB corpus answers a (day, key-range) query by opening files from
  * one directory's admitted subset.
  */
final class PartitionedSkippingFileIndex(spark: SparkSession,
    tablePath: String) extends SkipIndexBase(spark) {

  private val inner = new InMemoryFileIndex(spark,
    Seq(new Path(tablePath)), Map.empty[String, String], None)

  override def rootPaths: Seq[Path] = inner.rootPaths
  override def partitionSchema: StructType = inner.partitionSchema
  override def refresh(): Unit = { super.refresh(); inner.refresh() }
  override def sizeInBytes: Long = inner.sizeInBytes
  override def inputFiles: Array[String] = inner.inputFiles

  private def norm(p: String): String = new Path(p).toUri.getPath

  /** One leaf data file, for single-footer schema discovery without a
    * second recursive listing.
    */
  private[sources] def sampleFile: Option[Path] =
    inner.allFiles().headOption.map(_.getPath)

  override protected def loadState(): State = {
    val (_, stats) = ZoneMap.loadIndex(spark, tablePath)
    val byKey = inner.allFiles()
      .map(st => norm(st.getPath.toString) -> st).toMap
    State(byKey, byKey.keySet, stats, norm)
  }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // inner applies the partition cut; the sidecar admission applies the
    // file cut — intersection, exactly the two-level lakehouse prune
    val names = admittedSet(dataFilters, state)
    inner.listFiles(partitionFilters, dataFilters).map { pd =>
      PartitionDirectory(pd.values,
        pd.files.filter(f => names(norm(f.getPath.toString))))
    }.filter(_.files.nonEmpty)
  }
}

/** The explicit-list index: a [[Versioned]] snapshot's file list + the
  * per-file stats its manifest recorded at commit time. File identity is
  * the FULL PATH (versioned data dirs reuse part-file basenames across
  * commits). No directory listing happens at all — the manifest IS the
  * listing, Iceberg-style — and when the manifest also recorded byte
  * lengths (`sizes`), every FileStatus is SYNTHESIZED from it: zero
  * filesystem RPCs at plan time, where one getFileStatus per file is
  * minutes of sequential NameNode/S3 round-trips at 10⁵–10⁶ files per
  * snapshot. Synthesized statuses carry modificationTime 0 (the manifest
  * doesn't record it; `_metadata.file_modification_time` readers should
  * use a plain snapshot read). Files the manifest recorded no length for
  * — legacy snapshots — fall back to one getFileStatus each.
  */
final class ManifestFileIndex(spark: SparkSession, root: String,
    files: Seq[String], stats: Seq[ZoneMap.Stat],
    sizes: Map[String, Long] = Map.empty)
    extends SkipIndexBase(spark) {

  override def rootPaths: Seq[Path] = Seq(new Path(root))

  override protected def loadState(): State = {
    val conf = spark.sparkContext.hadoopConfiguration
    val statuses = files.map { f =>
      val p = new Path(f)
      f -> sizes.get(f)
        .map(len => new FileStatus(len, false, 1, 128L << 20, 0L, p))
        .getOrElse(p.getFileSystem(conf).getFileStatus(p))
    }
    State(statuses.toMap, files.toSet, stats, identity)
  }
}
