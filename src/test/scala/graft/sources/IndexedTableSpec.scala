package graft.sources

import graft.TestSpark
import graft.sources.Planned.plannedFiles
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Planner-integrated zone-map skipping ([[IndexedTable]]): a plain
  * `.filter` / SQL WHERE over the table prunes files through
  * `FileIndex.listFiles` with no probe calls at the call site; every
  * translated shape is content-identical to the raw parquet scan; every
  * untranslatable or uncovered shape degrades to the full listing.
  */
class IndexedTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ev = graft.Tables.events(spark, "/root/testdata/sf0.01")
  private def docs = graft.Tables.documents(spark, "/root/testdata/sf0.01")

  private def newTable(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit =
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)

  private def builtEvents(prefix: String): String = {
    val d = newTable(prefix)
    ZoneMap.build(ev, Seq("user_id", "value"), d, nFiles = 16)
    d
  }

  test("BETWEEN + equality conjunction prunes at plan time, content-exact") {
    val d = builtEvents("idxt")
    val t = IndexedTable.table(spark, d)
    val got = t.filter(col("user_id").between(100, 119) &&
      col("event_type") === "click")
    val want = spark.read.parquet(d).filter(
      col("user_id").between(100, 119) && col("event_type") === "click")
    assert(got.count() > 0)
    assertSameRows(got, want)
    val n = plannedFiles(got)
    assert(n <= 4, s"expected <=4 planned files of 16, got $n")
  }

  test("a string-key bloom sidecar routes isin through the planner") {
    val d = newTable("idxbstr")
    val src = docs.withColumn("doc_key", concat(lit("doc-"), col("doc_id")))
    BloomIndex.build(src, "doc_key", d, nFiles = 16)
    val t = IndexedTable.table(spark, d)
    val got = t.filter(col("doc_key").isin("doc-7", "doc-123", "doc-456"))
    val want = spark.read.parquet(d)
      .filter(col("doc_key").isin("doc-7", "doc-123", "doc-456"))
    assertSameRows(got, want)
    assert(got.count() == 3)
    val n = plannedFiles(got)
    assert(n <= 6, s"string bloom admission should open few of 16, got $n")
    // a LONG-literal probe on the string-domain sidecar degrades to
    // admit-all (never wrong-hashes) — content still exact
    val longProbe = t.filter(col("doc_id").isin(7L, 123L))
    assertSameRows(longProbe,
      spark.read.parquet(d).filter(col("doc_id").isin(7L, 123L)))
  }

  test("hive partitions × zone-map stats: both prunes fire and compose") {
    val d = newTable("pzm")
    // 30 days × ~4 user_id-contiguous files per day
    ev.withColumn("dt", date_format(col("ts"), "yyyy-MM-dd"))
      .repartitionByRange(120, col("dt"), col("user_id"))
      .write.partitionBy("dt").parquet(d)
    ZoneMap.buildStatsOnly(spark, d, Seq("user_id", "value"))
    val t = IndexedTable.partitionedTable(spark, d)
    val raw = spark.read.parquet(d)
    val total = plannedFiles(t)

    val dayP = col("dt") === "2024-01-15"
    val bandP = col("user_id").between(100, 119)
    for (p <- Seq(dayP, bandP, dayP && bandP)) {
      val got = t.filter(p)
      assertSameRows(got.drop("dt"), raw.filter(p).drop("dt"))
    }
    assert(t.filter(dayP && bandP).count() > 0)
    val nDay = plannedFiles(t.filter(dayP))
    val nBand = plannedFiles(t.filter(bandP))
    val nBoth = plannedFiles(t.filter(dayP && bandP))
    // partition cut alone: one day's directory of ~30
    assert(nDay <= total / 10, s"partition prune weak: $nDay of $total")
    // stat cut alone: ~1 of each day's ~4 user_id-clustered files
    assert(nBand <= total / 2, s"zone-map prune weak: $nBand of $total")
    // composed: the intersection beats both single cuts
    assert(nBoth < nDay && nBoth <= nBand,
      s"composed prune ($nBoth) should beat day ($nDay) and band ($nBand)")
  }

  test("dynamic partition pruning flows through partitionedTable") {
    val d = newTable("dpp")
    ev.withColumn("dt", date_format(col("ts"), "yyyy-MM-dd"))
      .repartitionByRange(60, col("dt"), col("user_id"))
      .write.partitionBy("dt").parquet(d)
    ZoneMap.buildStatsOnly(spark, d, Seq("user_id", "value"))
    val fact = IndexedTable.partitionedTable(spark, d)
    val total = plannedFiles(fact)
    // a filtered FILE-BACKED dim joined on the PARTITION column: Spark's
    // DPP injects the dim's dt values as a runtime partition filter —
    // our listFiles delegates partition filters to Spark's own index, so
    // the injection must survive the custom FileIndex. (An in-memory dim
    // would constant-fold its filter away and DPP would never consider
    // it — true of plain spark.read too.)
    val dimDir = newTable("dppdim")
    spark.createDataFrame(Seq(
      ("2024-01-15", 1), ("2024-01-20", 1), ("2024-01-25", 0)))
      .toDF("dim_dt", "flag")
      .select(col("dim_dt").cast("date").as("dim_dt"), col("flag"))
      .write.parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val q = fact.join(dim, fact("dt") === dim("dim_dt"))
      .filter(col("flag") === 1)
    val want = spark.read.parquet(d)
      .filter(col("dt").isin("2024-01-15", "2024-01-20")).count()
    assert(q.count() == want && want > 0)
    // at sparkPlan stage the filter is still the DynamicPruningSubquery
    // placeholder; the executed plan swaps in DynamicPruningExpression —
    // the shared trait matches both
    import org.apache.spark.sql.catalyst.expressions.DynamicPruning
    val planScan = q.queryExecution.sparkPlan.collectFirst {
      case f: FileSourceScanExec => f
    }.getOrElse(fail("no file scan"))
    assert(planScan.partitionFilters.exists(_.exists(
      _.isInstanceOf[DynamicPruning])),
      "no dynamic pruning filter reached the scan:\n" +
        q.queryExecution.sparkPlan)
    // drive THIS query execution, then read the numFiles metric off the
    // FINAL (adaptive) plan — it must reflect the runtime-pruned listing.
    // AQE wraps materialized stages as leaf QueryStageExec nodes; descend.
    q.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case f: FileSourceScanExec => Seq(f)
      case s: QueryStageExec => scans(s.plan)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    }.flatten
    val factScan = scans(q.queryExecution.executedPlan)
      .find(_.relation.location.isInstanceOf[PartitionedSkippingFileIndex])
      .getOrElse(fail("no partitioned fact scan in final plan"))
    val n = factScan.metrics("numFiles").value
    assert(n < total / 5, s"DPP did not prune at runtime: $n of $total files")
  }

  test("partitionedTable without a sidecar degrades to partition pruning only") {
    val d = newTable("pzmns")
    ev.withColumn("dt", date_format(col("ts"), "yyyy-MM-dd"))
      .repartitionByRange(60, col("dt"), col("user_id"))
      .write.partitionBy("dt").parquet(d)
    val t = IndexedTable.partitionedTable(spark, d)
    val raw = spark.read.parquet(d)
    val p = col("dt") === "2024-01-15" && col("user_id").between(100, 119)
    assertSameRows(t.filter(p).drop("dt"), raw.filter(p).drop("dt"))
    assert(plannedFiles(t.filter(p)) < plannedFiles(t))
  }

  test("IS NULL / IS NOT NULL prune via per-file null counts") {
    val d = newTable("idxnull")
    // cluster by the determinant so whole files are all-null or no-null
    // in the sparse column
    val src = ev.withColumn("click_value",
      when(col("event_type") === "click", col("value")))
    ZoneMap.build(src, Seq("event_type", "click_value"), d, nFiles = 8)
    val t = IndexedTable.table(spark, d)
    val total = plannedFiles(t)
    val gotNull = t.filter(col("click_value").isNull)
    val gotNotNull = t.filter(col("click_value").isNotNull)
    val raw = spark.read.parquet(d)
    assertSameRows(gotNull, raw.filter(col("click_value").isNull))
    assertSameRows(gotNotNull, raw.filter(col("click_value").isNotNull))
    val (nNull, nNotNull) = (plannedFiles(gotNull), plannedFiles(gotNotNull))
    assert(nNull < total, s"IS NULL did not prune ($nNull of $total)")
    assert(nNotNull < total, s"IS NOT NULL did not prune ($nNotNull of $total)")
    // together the two probes must cover every file holding rows
    assert(nNull + nNotNull >= total)
  }

  test("the same WHERE through spark.sql prunes identically") {
    val d = builtEvents("idxtsql")
    IndexedTable.table(spark, d).createOrReplaceTempView("idxt_events")
    val got = spark.sql(
      "SELECT * FROM idxt_events WHERE user_id BETWEEN 100 AND 119")
    val want = spark.read.parquet(d)
      .filter(col("user_id").between(100, 119))
    assertSameRows(got, want)
    assert(plannedFiles(got) <= 4)
  }

  test("OR of two bands admits the union of candidate sets") {
    val d = builtEvents("idxtor")
    val t = IndexedTable.table(spark, d)
    val pred = col("user_id").between(0, 9) ||
      col("user_id").between(140, 149)
    val got = t.filter(pred)
    assertSameRows(got, spark.read.parquet(d).filter(pred))
    val n = plannedFiles(got)
    assert(n >= 2 && n <= 8, s"union of two narrow bands, got $n files")
  }

  test("IN-list prunes to the point files") {
    val d = builtEvents("idxtin")
    val t = IndexedTable.table(spark, d)
    val got = t.filter(col("user_id").isin(3L, 145L))
    assertSameRows(got, spark.read.parquet(d)
      .filter(col("user_id").isin(3L, 145L)))
    assert(plannedFiles(got) <= 4)
  }

  test("out-of-domain range plans ZERO files and returns zero rows") {
    val d = builtEvents("idxtz")
    val got = IndexedTable.table(spark, d)
      .filter(col("user_id") > 1000000L)
    assert(plannedFiles(got) == 0)
    assert(got.count() == 0)
  }

  test("an untranslatable predicate admits every file (no wrong prune)") {
    val d = builtEvents("idxtu")
    val t = IndexedTable.table(spark, d)
    // pmod is outside the translator: must fall back to all 16 files
    val pred = pmod(col("user_id"), lit(50L)) === 7
    val got = t.filter(pred)
    assertSameRows(got, spark.read.parquet(d).filter(pred))
    assert(plannedFiles(got) == 16)
  }

  test("files the sidecar does not cover are unconditional candidates") {
    val d = builtEvents("idxtunc")
    // land extra rows OUTSIDE the index (raw append, no sidecar update)
    ev.filter(col("user_id") === 9999999L).limit(0) // keep schema honest
    ev.withColumn("user_id", col("user_id") + 1000000L).limit(50)
      .write.mode("append").parquet(d)
    val t = IndexedTable.table(spark, d)
    val got = t.filter(col("user_id") > 1000000L)
    val want = spark.read.parquet(d).filter(col("user_id") > 1000000L)
    assert(got.count() == 50)
    assertSameRows(got, want)
  }

  test("a missing sidecar degrades to the full listing, content-exact") {
    val d = newTable("idxtnone")
    ev.repartition(8).write.parquet(d)
    val t = IndexedTable.table(spark, d)
    val got = t.filter(col("user_id").between(100, 119))
    assertSameRows(got,
      spark.read.parquet(d).filter(col("user_id").between(100, 119)))
    assert(plannedFiles(got) == 8)
  }

  test("string equality and prefix prune on lexicographic stats") {
    val d = newTable("idxtstr")
    ZoneMap.build(docs, Seq("lang"), d, nFiles = 5)
    val t = IndexedTable.table(spark, d)
    val eq = t.filter(col("lang") === "en")
    assertSameRows(eq, spark.read.parquet(d).filter(col("lang") === "en"))
    assert(plannedFiles(eq) < 5)
    val pre = t.filter(col("lang").startsWith("e"))
    assertSameRows(pre,
      spark.read.parquet(d).filter(col("lang").startsWith("e")))
    assert(plannedFiles(pre) < 5)
  }

  test("bloom-indexed table: planner routes equality through the bloom") {
    val d = newTable("idxtbloom")
    BloomIndex.build(ev, "user_id", d, nFiles = 16)
    val t = IndexedTable.table(spark, d)
    val got = t.filter(col("user_id") === 123L)
    assertSameRows(got,
      spark.read.parquet(d).filter(col("user_id") === 123L))
    // one key lives in ONE hash-partitioned file (+ rare fp)
    val n = plannedFiles(got)
    assert(n <= 3, s"bloom point lookup should open ~1 of 16 files, got $n")
  }

  test("bloom-indexed table: IN-list probes once, batched") {
    val d = newTable("idxtbloomin")
    BloomIndex.build(ev, "user_id", d, nFiles = 16)
    val t = IndexedTable.table(spark, d)
    val got = t.filter(col("user_id").isin(7L, 123L, 456L))
    assertSameRows(got, spark.read.parquet(d)
      .filter(col("user_id").isin(7L, 123L, 456L)))
    val n = plannedFiles(got)
    assert(n <= 6, s"3-key bloom lookup should open <=6 of 16 files, got $n")
  }

  test("bloom + zone map on one table intersect their admissions") {
    val d = newTable("idxtboth")
    // zone-map build clusters on user_id; bloom over the SAME layout via
    // stats-only on the bloom's hash layout is not range-clustered, so
    // build bloom first, then index the existing layout with stats
    BloomIndex.build(ev, "user_id", d, nFiles = 16)
    ZoneMap.buildStatsOnly(spark, d, Seq("value"))
    val t = IndexedTable.table(spark, d)
    val pred = col("user_id") === 123L && col("value") > lit(1e9)
    val got = t.filter(pred)
    assertSameRows(got, spark.read.parquet(d).filter(pred))
    // value > 1e9 is out of domain: the zone leg alone should empty it
    assert(plannedFiles(got) == 0)
  }

  test("equality on a NON-key column does not consult the bloom") {
    val d = newTable("idxtnk")
    BloomIndex.build(ev, "user_id", d, nFiles = 8)
    val t = IndexedTable.table(spark, d)
    val got = t.filter(col("event_type") === "click")
    assertSameRows(got,
      spark.read.parquet(d).filter(col("event_type") === "click"))
    assert(plannedFiles(got) == 8) // no stats, no bloom claim: all files
  }

  test("2-D box over a z-ordered layout: conjunction beats either dim alone") {
    val d = newTable("idxtzz")
    ZOrder.writeZOrdered(ev, d, col("user_id"),
      (col("value") * 1000).cast("long"), bits = 12, nFiles = 32)
    ZoneMap.buildStatsOnly(spark, d, Seq("user_id", "value"))
    val t = IndexedTable.table(spark, d)
    val both = t.filter(col("user_id").between(100, 199) &&
      col("value").between(10.0, 30.0))
    assertSameRows(both, spark.read.parquet(d).filter(
      col("user_id").between(100, 199) && col("value").between(10.0, 30.0)))
    val nBoth = plannedFiles(both)
    val nU = plannedFiles(t.filter(col("user_id").between(100, 199)))
    val nV = plannedFiles(t.filter(col("value").between(10.0, 30.0)))
    assert(nBoth < nU && nBoth < nV,
      s"box admission ($nBoth) must beat either dim alone ($nU, $nV)")
    assert(nBoth < 32)
  }

  test("a NARROWING cast is never unwrapped: no file pruned, content exact") {
    val d = builtEvents("idxtnarrow")
    val t = IndexedTable.table(spark, d)
    // CAST(value AS INT) = 5 matches rows with value in [5, 6) — stats
    // pruning on value=5.0 would drop files like [5.2, 5.9]
    val pred = col("value").cast("int") === 5
    val got = t.filter(pred)
    assertSameRows(got, spark.read.parquet(d).filter(pred))
    assert(plannedFiles(got) == 16, "narrowing cast must not prune")
  }

  test("a nested (non-flat) layout fails loudly, not silently empty") {
    val d = newTable("idxtnested")
    ev.limit(100).write.parquet(s"$d/sub=1")
    ev.limit(50).write.parquet(s"$d/sub=2")
    val e = intercept[IllegalArgumentException] {
      IndexedTable.table(spark, d).count()
    }
    assert(e.getMessage.contains("flat table directory"))
  }

  test("residual predicate still pushes into the parquet scan") {
    val d = builtEvents("idxtpush")
    val got = IndexedTable.table(spark, d)
      .filter(col("user_id").between(100, 119))
    val scan = got.queryExecution.sparkPlan.collectFirst {
      case f: FileSourceScanExec => f
    }.get
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThanOrEqual(user_id"),
      s"range must reach the row-group scan, got: $pushed")
  }
}
