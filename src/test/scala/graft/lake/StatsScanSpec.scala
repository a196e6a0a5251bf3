package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftSqlShims
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Write-path stats cost (the 100 TB double-scan question): min/max, null
  * counts, and row counts come from parquet FOOTERS — metadata reads — so
  * an append's data is scanned exactly once, by its own write. The only
  * post-write data pass left is the exact-integral-sum extension, and it
  * is COLUMN-PRUNED to precisely the integral stats columns.
  */
class StatsScanSpec extends SparkSpec {
  import spark.implicits._

  /** Pin the footer path on (crossover bytes → 0) for the suite's tiny
    * fixtures — production engages it automatically above the crossover.
    */
  private def withFooterStats[A](body: => A): A = {
    val key = MergeTable.FooterStatsMinBytesConf
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "0")
    try body
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Executed plans of every query execution between registration and
    * drain — the counting instrument.
    */
  private def recordPlans[A](body: => A): (A, Seq[SparkPlan]) = {
    val seen = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        seen.synchronized { seen += qe.executedPlan }
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val r = body
      GraftSqlShims.waitForListenerBus(spark)
      (r, seen.synchronized(seen.toSeq))
    } finally spark.listenerManager.unregister(listener)
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** The file scans (adaptive plans and subqueries included) that read
    * under the table `root`, told apart by each scan's file-index root
    * paths — never by the plan text, whose `Location:` Spark cuts at
    * `spark.sql.maxMetadataStringLength` characters.
    */
  private def tableScans(plans: Seq[SparkPlan], root: String): Seq[FileSourceScanExec] = {
    val dir = java.nio.file.Paths.get(root).toAbsolutePath.normalize.toString + "/"
    plans.flatMap(p => Plans.collectWithSubqueries(p) { case s: FileSourceScanExec => s })
      .filter(_.relation.location.rootPaths.exists(_.toUri.getPath.startsWith(dir)))
  }

  test("append with non-integral stats columns: ZERO post-write data scans") { withFooterStats {
    val root = scratch("stats_single")
    val t = new MergeTable(root, Nil, statsCols = Seq("v", "d"))
    t.overwrite(Seq((1L, "a", java.sql.Date.valueOf("2026-08-01")))
      .toDF("k", "v", "d"))
    val (_, plans) = recordPlans {
      t.append(Seq((2L, "b", java.sql.Date.valueOf("2026-08-02")))
        .toDF("k", "v", "d"))
    }
    assert(tableScans(plans, root).isEmpty,
      s"footer-based stats must not rescan the written files:\n${plans.mkString("\n---\n")}")
    // and the footer stats are REAL: bounds + null counts landed in the log
    val stats = t.statsDetail(t.currentVersion)
    assert(stats.values.exists(_.get("v").exists(_._3 == 'V')))
    assert(t.nullCounts(t.currentVersion).nonEmpty)
    assert(t.fileRowCounts(t.currentVersion).values.sum === 2L)
    // pruning still works off the footer-derived bounds
    val pruned = t.pruneFilesFor(spark, t.currentVersion,
      Seq(org.apache.spark.sql.sources.EqualTo("v", "a")))
    assert(pruned.size === 1, s"footer bounds must prune (kept $pruned)")
  } }

  test("integral sums: exactly one post-write scan, pruned to the integral column") { withFooterStats {
    val root = scratch("stats_sums")
    val t = new MergeTable(root, Nil, statsCols = Seq("k", "v"))
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val (_, plans) = recordPlans {
      t.append(Seq((3L, "c")).toDF("k", "v"))
    }
    val scans = tableScans(plans, root)
    assert(scans.size === 1,
      s"sum collection is ONE narrow scan, got ${scans.size}:\n${plans.mkString("\n---\n")}")
    assert(scans.head.requiredSchema.catalogString === "struct<k:bigint>",
      s"the sum scan must read ONLY the integral column:\n${scans.head}")
    // the sums are exact and pushdown-usable
    val sums = t.fileSums(t.currentVersion)
    assert(sums.values.map(_.toLong).sum === 6L)
  } }

  test("distributed footer reads (>64 files) produce scan-identical stat lines") { withFooterStats {
    val rootA = scratch("stats_dist_footer")
    val rootB = scratch("stats_dist_scan")
    val df = spark.range(300).select(
      col("id").as("k"),
      concat(lit("s"), lpad(col("id").cast("string"), 3, "0")).as("v"),
      (col("id") % 5).cast("string").as("p"))
    // 5 partitions × 16 tasks → ~80 files: crosses FooterDriverMax, so the
    // footer pass runs as a parallelize job on executors
    val tA = new MergeTable(rootA, Seq("p"), statsCols = Seq("k", "v"))
    tA.overwrite(df.repartition(16))
    val nFiles = tA.filesOf(tA.currentVersion).size
    assert(nFiles > MergeTable.FooterDriverMax,
      s"fixture must exceed the driver cutoff (got $nFiles files)")
    // the same data through the SCAN path (crossover forced high)
    val key = MergeTable.FooterStatsMinBytesConf
    spark.conf.set(key, Long.MaxValue.toString)
    val tB = new MergeTable(rootB, Seq("p"), statsCols = Seq("k", "v"))
    tB.overwrite(df.repartition(16))
    spark.conf.set(key, "0")
    // per-(column) bounds/nulls must agree file-for-file modulo the file
    // names (different dirs): compare the sorted multiset of per-file
    // (col, mn, mx, flag) plus null counts and row counts
    def shape(t: MergeTable): Seq[(String, String, String, Char)] =
      t.statsDetail(t.currentVersion).values.flatMap(_.map {
        case (c, (mn, mx, fl)) => (c, mn, mx, fl) }).toSeq.sorted
    assert(shape(tA) === shape(tB),
      "footer-derived bounds must equal scan-derived bounds")
    assert(tA.nullCounts(tA.currentVersion).values.toSeq.sorted ===
      tB.nullCounts(tB.currentVersion).values.toSeq.sorted)
    assert(tA.fileRowCounts(tA.currentVersion).values.sum === 300L)
    assert(tA.fileSums(tA.currentVersion).values.map(_.toLong).sum ===
      tB.fileSums(tB.currentVersion).values.map(_.toLong).sum)
  } }

  test("footer stats survive column mapping and all-NULL columns") { withFooterStats {
    val root = scratch("stats_colmap")
    val t = new MergeTable(root, Nil, statsCols = Seq("v"))
    t.overwrite(Seq((1L, "x")).toDF("k", "v"))
    t.renameColumn("v", "w") // physical name differs from logical now
    // bare-path reopen: the PINNED stats columns (renamed with the column)
    // drive collection — the constructor handle's list went stale
    val t2 = new MergeTable(root, Nil)
    t2.append(Seq[(Long, Option[String])]((2L, None)).toDF("k", "w"))
    val stats = t.statsDetail(t.currentVersion)
    // the appended file's column is all-NULL: footer must record flag N
    assert(stats.values.exists(_.get("w").exists(_._3 == 'N')),
      s"all-NULL footer column must record 'N': $stats")
    // and the renamed column's stats still prune by LOGICAL name
    val pruned = t.pruneFilesFor(spark, t.currentVersion,
      Seq(org.apache.spark.sql.sources.EqualTo("w", "x")))
    assert(pruned.size === 1)
  } }
}
