package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, sequential suites —
  * see build.sbt Test / parallelExecution).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Fresh scratch dir under target/ (never outside the workspace). */
  def scratch(name: String): String = {
    val p = java.nio.file.Paths.get(s"target/graft-tmp/test/${name}_${System.nanoTime()}")
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** `body` with the session confs `kvs` set, restored after. */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val olds = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `d` and returns how many data files its graft scans opened
    * (the scans' `numFiles`; dv sidecar scans not counted).
    */
  def filesScanned(d: org.apache.spark.sql.DataFrame): Long = {
    d.collect()
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(d.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.relation.location.isInstanceOf[graft.lake.ManifestFileIndex] => s
      }.map(_.metrics("numFiles").value).sum
  }

  /** Snapshot `version` of `t` filtered by `filters`. */
  def readWhere(t: graft.lake.MergeTable, version: Long,
                filters: Seq[org.apache.spark.sql.sources.Filter]): org.apache.spark.sql.DataFrame =
    filters.flatMap(graft.lake.MergeTable.translateFilter)
      .foldLeft(t.readVersion(spark, version))(_ filter _)

  /** Whether the table log answered `df`'s aggregate: the metadata rule's
    * local relation is in its optimized plan, its physical plan scans no
    * file, and collecting it starts no Spark job.
    */
  def answeredFromLog(df: org.apache.spark.sql.DataFrame): Boolean =
    graft.lake.MetadataOnlyAggregate.answered(df) &&
      !df.queryExecution.executedPlan.toString.contains("FileScan") &&
      jobCount(df.collect())._1 == 0

  /** The number of Spark jobs started while `body` runs, with its result. */
  def jobCount[A](body: => A): (Int, A) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    // events of jobs that ended before `body` must not reach the listener
    org.apache.spark.sql.GraftSqlShims.waitForListenerBus(spark)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.sql.GraftSqlShims.waitForListenerBus(spark)
      (jobs.get, r)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Sessions.builder("4").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
