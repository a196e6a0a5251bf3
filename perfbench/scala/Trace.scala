package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts Spark jobs; installed in every run so each record carries jobs
  * per op (a deterministic count for a given seed).
  */
final class JobCounter extends SparkListener {
  val jobs = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
}

/** Counts the log events Spark emits when it gives up on generated code:
  * whole-stage codegen disabled for a plan (compile failure, or a method
  * past the huge-method limit — the latter is logged at INFO, hence the
  * level on that one logger), or an expression falling back to
  * interpreted mode.
  */
final class CodegenFallbacks
    extends AbstractAppender("perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
  val count = new AtomicLong
  override def append(e: LogEvent): Unit = {
    val m = e.getMessage.getFormattedMessage
    val head = if (m == null) "" else m.substring(0, math.min(m.length, 400))
    if (head.contains("Whole-stage codegen disabled") ||
        head.contains("whole-stage codegen was disabled") ||
        head.contains("falling back to interpreter mode")) count.incrementAndGet()
  }
}

object CodegenFallbacks {
  def install(): CodegenFallbacks = {
    val a = new CodegenFallbacks
    a.start()
    Configurator.setLevel("org.apache.spark.sql.execution.WholeStageCodegenExec", Level.INFO)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.addAppender(a)
    ctx.getConfiguration.getRootLogger.addAppender(a, null, null)
    ctx.updateLoggers()
    a
  }
}

/** Spans around every call the benchmark makes into a module's public
  * functions, with Spark jobs, tasks, executor CPU and Catalyst phase time
  * attributed to the span whose wall interval contains their start. One
  * client thread issues every call and spans never nest, so the
  * attribution is unambiguous. Events are kept in memory and folded once,
  * after the listener bus has drained, at the end of the run.
  *
  * When disabled, `span` only runs its body: the untraced run installs no
  * listener beyond [[JobCounter]].
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private case class Span(name: String, t0: Long, t1: Long, ns: Long)
  private case class Job(t0: Long, var t1: Long, var tasks: Int, var cpuNs: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val plans = mutable.ArrayBuffer.empty[(Long, Long)] // (start ms, phase ms)
  private val lock = new Object
  /** Client-thread and listener-thread time spent inside tracing code. */
  private val overheadNs = new AtomicLong

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      lock.synchronized {
        jobs(e.jobId) = Job(e.time, e.time, 0, 0L)
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      lock.synchronized(jobs.get(e.jobId).foreach(_.t1 = e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      lock.synchronized {
        stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
          j.tasks += 1
          if (e.taskMetrics != null) j.cpuNs += e.taskMetrics.executorCpuTime
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = timed {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) lock.synchronized {
        plans += ((ph.map(_.startTimeMs).min, ph.map(p => p.endTimeMs - p.startTimeMs).sum))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally overheadNs.addAndGet(System.nanoTime() - t0)
  }

  private var recording = false

  /** Start attributing: listeners are attached only in a traced run. */
  def start(): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    recording = true
  }

  def stop(): Unit = if (enabled && recording) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    recording = false
  }

  def span[T](name: String)(body: => T): T =
    if (!recording) body
    else {
      val h0 = System.nanoTime()
      val w0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      overheadNs.addAndGet(n0 - h0)
      try body
      finally {
        val n1 = System.nanoTime()
        val w1 = System.currentTimeMillis()
        spans += Span(name, w0, math.max(w1, w0), n1 - n0)
        overheadNs.addAndGet(System.nanoTime() - n1)
      }
    }

  def overheadMs: Double = overheadNs.get / 1e6

  /** Per-call means of ms, jobs, tasks, exec_cpu_ms, driver_gap_ms and
    * plan_ms for each span name in `names`; a name never called reads 0.
    */
  def metrics(names: Seq[String]): Seq[(String, Double)] = lock.synchronized {
    val js = jobs.values.toSeq.sortBy(_.t0)
    def inSpan(s: Span, t: Long) = t >= s.t0 && t <= s.t1
    names.flatMap { n =>
      val ss = spans.filter(_.name == n).toSeq
      val calls = ss.size.max(1).toDouble
      var jobsN = 0L; var tasks = 0L; var cpuNs = 0L; var gapMs = 0.0; var planMs = 0L
      ss.foreach { s =>
        val mine = js.filter(j => inSpan(s, j.t0))
        jobsN += mine.size
        tasks += mine.map(_.tasks.toLong).sum
        cpuNs += mine.map(_.cpuNs).sum
        var covered = 0L; var cursor = s.t0
        mine.foreach { j =>
          val a = math.max(j.t0, cursor); val b = math.min(math.max(j.t1, a), s.t1)
          if (b > a) { covered += b - a; cursor = b }
        }
        gapMs += math.max(0.0, s.ns / 1e6 - covered)
        planMs += plans.filter(p => inSpan(s, p._1)).map(_._2).sum
      }
      Seq(s"$n.ms" -> ss.map(_.ns).sum / 1e6 / calls,
        s"$n.jobs" -> jobsN / calls,
        s"$n.tasks" -> tasks / calls,
        s"$n.exec_cpu_ms" -> cpuNs / 1e6 / calls,
        s"$n.driver_gap_ms" -> gapMs / calls,
        s"$n.plan_ms" -> planMs / calls)
    }
  }
}
