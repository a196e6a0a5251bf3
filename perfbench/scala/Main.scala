package perfbench

import java.nio.file.{Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One workload: untimed set-up (inputs, tables, warm-up), a fixed number
  * of timed ops, and a check of the final state against the generator's
  * model.
  */
trait Workload {
  /** Everything under this directory counts toward bytes stored. */
  def lakeRoot: Path
  /** Bytes of generated input: CSV bytes, or DML source rows rendered as CSV. */
  def inputBytes: Long
  /** Versions committed so far, summed over the workload's tables. */
  def commits: Long
  /** Live data files, summed over the workload's tables. */
  def filesLive: Long
  def setup(): Unit
  def timed(loop: Loop, tr: Tracer): Unit
  /** Mismatches between the engine's state and the model; empty = correct. */
  def check(): Seq[String]
  /** Regime counters: which engine paths the timed ops were meant to take. */
  def regime: Map[String, Any]
  /** Per-layer probes that run only in the traced run, after the check:
    * their metrics, and mismatches found by their own checks.
    */
  def tracedProbes(tr: Tracer): (Seq[(String, Double)], Seq[String]) = (Nil, Nil)
}

object Main {
  val Spans: Seq[String] = Seq(
    "pipeline.silverJob", "pipeline.goldJob",
    "sqlapi.registerViews", "sqlapi.run",
    "lake.merge", "lake.mergeClauses", "lake.delete", "lake.update",
    "lake.compactPartitions", "lake.read", "lake.readVersion", "lake.changes",
    "lake.snapshot", "operators.applyBatch")

  private val entry = System.nanoTime()

  /** A progress line on stderr, stamped with seconds since `main` entry. */
  def note(msg: String): Unit =
    System.err.println(f"perfbench: [${(System.nanoTime() - entry) / 1e9}%7.2f s] $msg")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val cpus = opts("cpus")
    val work = Paths.get(opts("work"))

    val spark = graft.Sessions.builder(cpus)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new JobCounter
    spark.sparkContext.addSparkListener(jobs)
    val codegen = CodegenFallbacks.install()
    val tr = new Tracer(spark, traced)

    val wl: Workload = name match {
      case "callcenter_daily" => new CallCenterDaily(spark, work, seed, seconds)
      case "lake_upserts" => new LakeUpserts(spark, work, seed, seconds)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    note("session up")
    wl.setup()
    val setupS = (System.nanoTime() - entry) / 1e9
    note("set-up done")

    val loop = new Loop(jobs)
    val commits0 = wl.commits
    val files0 = Stats.parquetFiles(wl.lakeRoot)
    val bytes0 = Stats.treeBytes(wl.lakeRoot)
    val (gcMs0, gcN0) = Stats.gc()
    val cg0 = codegen.count.get
    tr.start()
    loop.begin()
    wl.timed(loop, tr)
    loop.end()
    val commits = wl.commits - commits0
    val files1 = Stats.parquetFiles(wl.lakeRoot)
    val bytes1 = Stats.treeBytes(wl.lakeRoot)
    val (gcMs1, gcN1) = Stats.gc()
    val cg = codegen.count.get - cg0
    val filesLive = wl.filesLive
    val traceOverheadMs = tr.overheadMs
    tr.stop()
    note("timed ops done")

    val checked =
      try wl.check()
      catch { case t: Throwable => Seq(s"check failed to run: $t") }
    val (probes, probeMismatches) =
      if (!traced) (Nil, Nil)
      else {
        tr.start()
        try wl.tracedProbes(tr)
        catch { case t: Throwable => (Nil, Seq(s"traced probes failed to run: $t")) }
        finally tr.stop()
      }
    note("checks done")
    val mismatches = checked ++ probeMismatches
    mismatches.foreach(m => System.err.println(s"perfbench: MISMATCH $m"))

    val loopS = loop.wallNs / 1e9
    val opsPerS = loop.succeeded / loopS
    val metrics: Seq[(String, Double)] =
      if (!traced) Seq(
        "setup_s" -> setupS,
        "ops_per_s" -> opsPerS,
        "rows_per_s" -> loop.rowsCommitted / (loop.writeNs / 1e9),
        "write_p50_ms" -> Stats.median(loop.writeMs),
        "read_p50_ms" -> Stats.median(loop.readMs),
        "bytes_per_input_byte" -> Stats.treeBytes(wl.lakeRoot).toDouble / wl.inputBytes,
        "peak_rss_mb" -> Stats.peakRssMb())
      else tr.metrics(Spans) ++ Seq(
        "lake.files_live" -> filesLive.toDouble,
        "lake.commits" -> commits.toDouble,
        "lake.bytes_written" -> (bytes1 - bytes0).toDouble,
        "spark.codegen_fallbacks" -> cg.toDouble,
        "jvm.gc_ms" -> (gcMs1 - gcMs0).toDouble,
        "jvm.gc_count" -> (gcN1 - gcN0).toDouble,
        "trace.ops_per_s" -> opsPerS,
        "trace.overhead_pct" -> 100.0 * traceOverheadMs / (loopS * 1000)) ++ probes

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "cpus" -> cpus, "setup_s" -> setupS, "loop_s" -> loopS,
      "attempted" -> loop.attempted, "failed" -> loop.failed,
      "failures" -> loop.failures,
      "write_samples" -> loop.writeMs.size, "read_samples" -> loop.readMs.size,
      "write_ms" -> loop.writeMs.map(round3), "read_ms" -> loop.readMs.map(round3),
      "jobs_per_op" -> loop.ops.map { case (n, j, ok) => Seq(n, j, ok) },
      "commits" -> commits, "files_written" -> (files1 -- files0).size,
      "codegen_fallbacks" -> cg, "regime" -> wl.regime, "mismatches" -> mismatches)
    println(Json(Map("record" -> record)))
    println(Json(mutable.LinkedHashMap(
      "correct" -> mismatches.isEmpty,
      "attempted" -> loop.attempted,
      "failed" -> loop.failed,
      "metrics" -> mutable.LinkedHashMap(metrics: _*))))
    System.out.flush()
    // a probe that timed out may still be running on a worker thread
    Runtime.getRuntime.halt(0)
  }

  private def round3(x: Double): Double = math.rint(x * 1000) / 1000
}
