package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The closed loop: one client issues each timed op after the previous
  * one returned. Every op runs under a `Throwable` catch — an engine
  * fault, `StackOverflowError` and `OutOfMemoryError` included, is tallied
  * by class and counted as failed, never retried, and the loop goes on.
  */
final class Loop(jobs: JobCounter) {
  val writeMs = mutable.ArrayBuffer.empty[Double]
  val readMs = mutable.ArrayBuffer.empty[Double]
  val failures = mutable.TreeMap.empty[String, Int]
  /** (op name, Spark jobs it ran, succeeded) in issue order. */
  val ops = mutable.ArrayBuffer.empty[(String, Long, Boolean)]
  var attempted = 0
  var failed = 0
  var rowsCommitted = 0L
  var writeNs = 0L
  private var t0 = 0L
  var wallNs = 0L

  def begin(): Unit = t0 = System.nanoTime()
  def end(): Unit = wallNs = System.nanoTime() - t0

  /** Run one timed op; `rows` source rows count as committed if it
    * succeeds. Write and read ops feed their latency samples; a meta op
    * (registering views) counts as an op but is sampled in neither.
    * Returns whether it succeeded.
    */
  def run(name: String, kind: Loop.Kind, rows: Long = 0L)(body: => Unit): Boolean = {
    attempted += 1
    val j0 = jobs.jobs.get
    val s = System.nanoTime()
    val ok =
      try { body; true }
      catch {
        case t: Throwable =>
          failed += 1
          failures(t.getClass.getName) = failures.getOrElse(t.getClass.getName, 0) + 1
          System.err.println(s"perfbench: op $name failed: $t")
          false
      }
    val dt = System.nanoTime() - s
    ops += ((name, jobs.jobs.get - j0, ok))
    if (ok) kind match {
      case Loop.Write => writeMs += dt / 1e6; writeNs += dt; rowsCommitted += rows
      case Loop.Read => readMs += dt / 1e6
      case Loop.Meta =>
    }
    ok
  }

  def succeeded: Int = attempted - failed
}

object Loop {
  sealed trait Kind
  case object Write extends Kind
  case object Read extends Kind
  case object Meta extends Kind
}

object Stats {
  /** Median by linear interpolation between the two middle samples. */
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    require(s.nonEmpty, "no samples")
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Bytes of every regular file under `root`. */
  def treeBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Relative paths of the parquet files under `root`. */
  def parquetFiles(root: Path): Set[String] =
    if (!Files.exists(root)) Set.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => p.toString.endsWith(".parquet"))
        .map(p => root.relativize(p).toString).toSet
      finally s.close()
    }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  def gc(): (Long, Long) = {
    val bs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (bs.map(_.getCollectionTime.max(0L)).sum, bs.map(_.getCollectionCount.max(0L)).sum)
  }
}

/** Minimal JSON rendering for the result and record lines. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else java.math.BigDecimal.valueOf(d).stripTrailingZeros.toPlainString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }
}
