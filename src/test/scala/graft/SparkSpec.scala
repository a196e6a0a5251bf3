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

  /** The number of Spark jobs started while `body` runs, with its result. */
  def jobCount[A](body: => A): (Int, A) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
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
