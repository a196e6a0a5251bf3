package perfbench

import java.io.BufferedWriter
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.pipeline.CallCenterPipeline
import graft.sqlapi.AthenaQueries

/** The reference pipeline at bulk size: one day = one seeded CSV of
  * [[CallCenterDaily.CallsPerDay]] calls, run through the silver job, the
  * gold job, then the five Athena queries over freshly registered views.
  *
  * Why: this is the data-volume-dominated path. A day's silver MERGE has
  * far more than `spark.graft.mergeProbeInMax` (10,000) keys, so it takes
  * the legacy shuffle probe and, its source being unbounded, the
  * distributed writer; the Validator and the gold aggregates run; the
  * manifests stay far below the checkpoint threshold, so pruning stays on
  * the driver loop. The gold job rescans all of silver, so the cost of a
  * day grows with the days before it: the day count is fixed (one untimed
  * warm-up day of [[CallCenterDaily.WarmupCalls]] calls, then one timed
  * day per 20 `--seconds`), never set by a time budget.
  *
  * Each day mixes in about 3 % DQ rejects covering the reference quirks
  * (NULL and non-numeric ids, negative ids, bad time formats, unknown
  * statuses, multi-rule failures) and about 3 % re-deliveries of earlier
  * days' call_ids with a new status. The warm-up day is processed in the
  * month before the timed days, so re-deliveries of its calls are
  * cross-partition updates.
  */
final class CallCenterDaily(spark: SparkSession, work: Path, seed: Long, seconds: Int)
    extends Workload {
  import CallCenterDaily._

  private val rng = new java.util.Random(seed * 1000003L + 17)
  private val input = work.resolve("cc_input")
  val lakeRoot: Path = work.resolve("cc_lake")
  private val paths = CallCenterPipeline.LakePaths(lakeRoot.toString)
  private val timedDays = math.max(1, math.round(seconds / 20.0).toInt)
  private val dates: Seq[LocalDate] =
    FirstDate +: (0 until timedDays).map(i => FirstDate.plusDays(1L + i))

  // model: the latest valid status of every call_id silver must hold, and
  // its processing month
  private val status = mutable.HashMap.empty[Int, String]
  private val month = mutable.HashMap.empty[Int, Int]
  /** Valid ids of every day generated so far: re-delivery candidates. */
  private val generatedIds = mutable.ArrayBuffer.empty[Int]
  private var nextId = 1
  private var nextRejectId = 900000000
  private var rejects = 0L
  var inputBytes = 0L
  /** Expected gold_call_daily_summary row per processed date. */
  private val expectedGold = mutable.LinkedHashMap.empty[LocalDate, (Long, Long, Long, Long)]
  private val mergeKeys = mutable.ArrayBuffer.empty[Int]
  private val partitionRows = mutable.ArrayBuffer.empty[Long]
  private val queryChecks = mutable.ArrayBuffer.empty[String]

  private def tables =
    (CallCenterPipeline.silverTable(paths) +:
      CallCenterPipeline.goldTables(paths).values.map(_._1).toSeq).filter(_.exists)

  def commits: Long = tables.map(_.currentVersion + 1).sum

  def filesLive: Long = tables.map(t => t.filesOf(t.currentVersion).size.toLong).sum


  private def generate(date: LocalDate, calls: Int): Day = {
    Files.createDirectories(input)
    val csv = input.resolve(s"calls_$date.csv")
    val valid = mutable.LinkedHashMap.empty[Int, String]
    val lines = new Array[String](calls)
    val redeliverable = generatedIds.length
    var dayRejects = 0L
    var i = 0
    while (i < calls) {
      val r = rng.nextDouble()
      lines(i) =
        if (r < RejectShare) { dayRejects += 1; rejectRow() }
        else {
          val id =
            if (r < RejectShare + RedeliveryShare && redeliverable > 0) {
              // an earlier day's call, re-sent once per day at most
              var c = generatedIds(rng.nextInt(redeliverable))
              while (valid.contains(c)) c = generatedIds(rng.nextInt(redeliverable))
              c
            } else { nextId += 1; generatedIds += nextId - 1; nextId - 1 }
          val st = statusOf(rng.nextDouble())
          valid(id) = st
          validRow(id, st)
        }
      i += 1
    }
    val w: BufferedWriter = Files.newBufferedWriter(csv, StandardCharsets.UTF_8)
    try {
      w.write(graft.pipeline.Fixture.header); w.newLine()
      lines.foreach { l => w.write(l); w.newLine() }
    } finally w.close()
    inputBytes += Files.size(csv)
    Day(date, csv, valid.toMap, dayRejects, calls)
  }

  private def statusOf(r: Double): String =
    if (r < 0.55) "COMPLETED" else if (r < 0.75) "DROPPED" else if (r < 0.95) "FAILED"
    else if (r < 0.98) "dropped" // quirk Q2: valid, counted in no gold bucket
    else "completed"

  private def hms(sec: Int): String = f"${sec / 3600}%02d:${sec / 60 % 60}%02d:${sec % 60}%02d"

  private def validRow(id: Int, st: String): String = {
    val q = rng.nextDouble()
    val (start, end) =
      if (q < 0.01) ("23:58:00", "00:03:00") // quirk Q5: midnight wrap
      else if (q < 0.02) ("99:99:99", "10:00:00") // quirk Q4: pattern-valid, unparseable
      else {
        val s = rng.nextInt(80000)
        (hms(s), hms(s + 20 + rng.nextInt(3000)))
      }
    s"$id,${1 + rng.nextInt(500000)},${1 + rng.nextInt(400)},$start,$end,$st"
  }

  private def rejectRow(): String = {
    nextRejectId += 1
    val id = nextRejectId
    rng.nextInt(6) match {
      case 0 => s"$id,,17,09:00:00,09:05:00,COMPLETED" // NULL caller_id
      case 1 => s"$id,abc,17,09:00:00,09:05:00,COMPLETED" // non-numeric → NULL
      case 2 => s"-$id,5007,17,09:00:00,09:05:00,COMPLETED" // quirk Q1: negative id
      case 3 => s"$id,5008,18,9:00:00,09:05:00,COMPLETED" // bad time format
      case 4 => s"$id,5009,19,09:00:00,09:05:00,BUSY" // unknown status
      case _ => s"$id,5010,,bad,also-bad," // several rules at once
    }
  }

  /** Apply a committed silver day to the model. */
  private def applySilver(d: Day): Unit = {
    val m = d.date.getYear * 100 + d.date.getMonthValue
    d.valid.foreach { case (id, st) =>
      status(id) = st
      month(id) = m
    }
    rejects += d.rejects
  }

  private def goldRow(): (Long, Long, Long, Long) = {
    val byStatus = status.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    (status.size.toLong, byStatus.getOrElse("COMPLETED", 0L),
      byStatus.getOrElse("DROPPED", 0L), byStatus.getOrElse("FAILED", 0L))
  }

  /** One day: silver + gold is the write op; the views are registered and
    * each Athena query runs [[QueryRounds]] times as read ops.
    */
  private def runDay(d: Day, loop: Loop, tr: Tracer): Unit = {
    val ok = loop.run("day", Loop.Write, rows = d.calls.toLong) {
      tr.span("pipeline.silverJob")(CallCenterPipeline.silverJob(spark, d.csv.toString, paths, d.date))
      applySilver(d)
      tr.span("pipeline.goldJob")(CallCenterPipeline.goldJob(spark, paths, d.date))
    }
    if (ok) expectedGold(d.date) = goldRow()
    mergeKeys += d.valid.size
    val m = d.date.getYear * 100 + d.date.getMonthValue
    partitionRows += month.values.count(_ == m).toLong
    loop.run("registerViews", Loop.Meta) {
      tr.span("sqlapi.registerViews")(AthenaQueries.registerViews(spark, paths))
    }
    (1 to QueryRounds).foreach { _ =>
      Queries.foreach { q =>
        loop.run(q, Loop.Read) {
          val rows = tr.span("sqlapi.run")(AthenaQueries.run(spark, q).collect())
          if (q == "daily_call_summary" && ok) {
            val top = rows.head
            val exp = expectedGold(d.date)
            val got = (top.getAs[Any]("total_calls").toString.toLong,
              top.getAs[Any]("completed_calls").toString.toLong,
              top.getAs[Any]("dropped_calls").toString.toLong,
              top.getAs[Any]("failed_calls").toString.toLong)
            if (top.getAs[java.sql.Date]("call_date").toLocalDate != d.date || got != exp)
              queryChecks += s"daily_call_summary on ${d.date}: got ${top.mkString(",")}, want $exp"
          } else if (rows.isEmpty) queryChecks += s"$q on ${d.date} returned no rows"
        }
      }
    }
  }

  private var days: Seq[Day] = Nil

  def setup(): Unit = {
    days = generate(dates.head, WarmupCalls) +: dates.tail.map(generate(_, CallsPerDay))
    Main.note("inputs generated")
    // warm-up: the first, smaller day runs the same ops, untimed
    val warm = new Loop(new JobCounter)
    runDay(days.head, warm, new Tracer(spark, enabled = false))
    if (warm.failed > 0) System.err.println(s"perfbench: warm-up day failed: ${warm.failures}")
    mergeKeys.clear(); partitionRows.clear()
  }

  def timed(loop: Loop, tr: Tracer): Unit = days.tail.foreach(runDay(_, loop, tr))

  /** Silver rows and rejects against the model (which applied only the
    * days whose silver job committed), and gold daily totals against both
    * the model and silver.
    */
  def check(): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String] ++= queryChecks
    val silver = CallCenterPipeline.silverTable(paths).read(spark)
    val n = silver.count()
    if (n != status.size) out += s"silver rows: got $n, want ${status.size}"
    val ex = spark.read.parquet(paths.exception).count()
    if (ex != rejects) out += s"rejected rows: got $ex, want $rejects"
    val gold = CallCenterPipeline.goldTables(paths)("gold_call_daily_summary")._1.read(spark)
      .select(col("call_date"), col("total_calls").cast("long"),
        col("completed_calls").cast("long"), col("dropped_calls").cast("long"),
        col("failed_calls").cast("long"))
      .collect().map(r => r.getDate(0).toLocalDate -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    expectedGold.foreach { case (d, exp) =>
      if (!gold.get(d).contains(exp)) out += s"gold daily summary $d: got ${gold.get(d)}, want $exp"
    }
    // gold totals against silver itself, not only against the model
    val last = expectedGold.keys.lastOption
    last.foreach { d =>
      if (gold.get(d).map(_._1).exists(_ != n)) out += s"gold total_calls on $d != silver rows $n"
    }
    out.toSeq
  }

  def regime: Map[String, Any] = Map(
    "calls_per_day" -> CallsPerDay, "timed_days" -> timedDays,
    "silver_merge_keys" -> mergeKeys.toSeq, "silver_partition_rows" -> partitionRows.toSeq,
    "silver_rows" -> status.size, "rejects" -> rejects)

  /** The operators layer rides here: one incremental-dedup round (see
    * [[DedupLayerProbe]]). The 1,024-key merge probe is lake_upserts'
    * alone; -1 marks it as not run.
    */
  override def tracedProbes(tr: Tracer): (Seq[(String, Double)], Seq[String]) = {
    val mismatches = new DedupLayerProbe(spark, work.resolve("dedup"), seed).run(tr)
    (Seq("lake.merge_1024.failed" -> -1.0, "lake.merge_1024.ms" -> 0.0), mismatches)
  }
}

object CallCenterDaily {
  /** One day's CSV, plus the model changes it implies once silver commits. */
  private final case class Day(date: LocalDate, csv: Path, valid: Map[Int, String],
                               rejects: Long, calls: Int)
  val CallsPerDay = 100000
  /** The warm-up day compiles the same plans at a fifth of the volume. */
  val WarmupCalls = 20000
  val RejectShare = 0.03
  val RedeliveryShare = 0.03
  /** The first round after a day's commit reads a new snapshot and runs
    * slower than the rest; four rounds put the median past it.
    */
  val QueryRounds = 4
  val FirstDate: LocalDate = LocalDate.of(2026, 2, 28)
  val Queries: Seq[String] = AthenaQueries.queries.keys.toSeq.sorted
}
