package perfbench

import java.nio.file.Path
import java.time.LocalDate
import java.util.zip.CRC32
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.chaining._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.lake.MergeTable

/** CDC-style micro-batch DML against one keyed, date-partitioned
  * MergeTable of [[LakeUpserts.InitialFiles]] live files.
  *
  * Why: this is the fixed-overhead path at the file counts the engine
  * claims to handle — snapshot resolution, pruning over a checkpointed
  * manifest (past `spark.graft.checkpointThreshold`, 1,024 files, every
  * key-list probe takes `pruneFilesDistributed`), the bounded merge probe,
  * the driver-side direct writer, stats and commit, with reads beside
  * writes on one table. Rows per file are few on purpose: an op's cost
  * here is per-file and per-op overhead, not data volume.
  *
  * Set-up writes 20,480 rows from 20 range partitions that each hold all
  * 64 days: 1,280 files whatever the core count. Merges rewrite their
  * touched files into one file per day, so the count falls as they run;
  * the margin over 1,024 keeps every timed op on the checkpointed path.
  * Then one merge runs untimed. Each timed cycle (one per 20 `--seconds`)
  * is six ops in a fixed order, each on a freshly opened table handle (the
  * `lake.snapshot` span): a merge of 76–81 keys, a point read, a predicate
  * delete of 8 consecutive ids, a merge of 186–197 keys, a time-travel
  * read of the cycle's first version, and `compactPartitions` over the 3
  * newest days. The two merges sit on either side of the key count past
  * which the pruning filter no longer compiles. Merges of 600 keys and
  * more have crashed the engine (stack or heap exhaustion), so the timed
  * mix stays below them; the traced run probes that zone once with a
  * 1,024-key merge (`lake.merge_1024.*`).
  */
final class LakeUpserts(spark: SparkSession, work: Path, seed: Long, seconds: Int)
    extends Workload {
  import LakeUpserts._

  private val rng = new java.util.Random(seed * 7919L + 3)
  val lakeRoot: Path = work.resolve("upserts_lake")
  private val root = lakeRoot.resolve("events").toString
  private val cycles = math.max(1, math.round(seconds / 20.0).toInt)

  private val model = mutable.HashMap.empty[Long, Rec]
  /** Ids ever written per day index: key candidates (deleted ones re-insert). */
  private val idsByDay = Array.fill(Days)(mutable.ArrayBuffer.empty[Long])
  private var nextId = InitialRows.toLong
  private var opNo = 0
  var inputBytes = 0L
  private var filesAtStart = -1L
  private var timing = false
  private var merge1024 = "not run"

  private def date(d: Int): java.sql.Date = java.sql.Date.valueOf(FirstDay.plusDays(d.toLong))
  private def line(id: Long, r: Rec): String = s"$id,${FirstDay.plusDays(r.day.toLong)},${r.v},${r.payload}"

  private def table = new MergeTable(root, Seq("day"))

  def commits: Long = if (table.exists) table.currentVersion + 1 else 0L
  def filesLive: Long = { val t = table; t.filesOf(t.currentVersion).size.toLong }

  def setup(): Unit = {
    val seedMod = Math.floorMod(seed, 1000003L)
    // each of the Tasks range partitions holds every day (day = id mod
    // Days), so the write leaves exactly Tasks × Days files
    val df = spark.range(0, InitialRows, 1, Tasks).select(
      col("id"),
      date_add(lit(date(0)), (col("id") % Days).cast("int")).as("day"),
      pmod(col("id") * 7919L + seedMod, lit(1000003L)).as("v"),
      concat(lit(s"s$seed-"), col("id").cast("string")).as("payload"))
    table.overwrite(df)
    Main.note("table written")
    (0L until InitialRows).foreach { id =>
      val r = Rec(dayOfKey(id), Math.floorMod(id * 7919L + seedMod, 1000003L), s"s$seed-$id")
      model(id) = r
      idsByDay(r.day) += id
      inputBytes += line(id, r).length + 1
    }
    val warm = new Loop(new JobCounter)
    val off = new Tracer(spark, enabled = false)
    mergeOp(warm, off, 60)
    if (warm.failed > 0) System.err.println(s"perfbench: warm-up failed: ${warm.failures}")
  }

  /** A fresh handle resolving the current snapshot, as a new client would. */
  private def open(tr: Tracer): MergeTable = tr.span("lake.snapshot") {
    val t = new MergeTable(root, Seq("day"))
    val n = t.filesOf(t.currentVersion).size
    if (timing && filesAtStart < 0) filesAtStart = n
    t
  }

  private def pickKeys(n: Int): Seq[Long] = {
    val keys = mutable.LinkedHashSet.empty[Long]
    while (keys.size < n) {
      val r = rng.nextDouble()
      if (r < NewShare) { keys += nextId; nextId += 1 }
      else {
        val d =
          if (r < NewShare + OldShare) rng.nextInt(Days - RecentDays)
          else Days - RecentDays + rng.nextInt(RecentDays)
        val ids = idsByDay(d)
        if (ids.nonEmpty) keys += ids(rng.nextInt(ids.length))
      }
    }
    keys.toSeq
  }

  private val srcSchema = StructType(Seq(
    StructField("id", LongType), StructField("day", DateType),
    StructField("v", LongType), StructField("payload", StringType)))

  private def dayOfKey(id: Long): Int = model.get(id).map(_.day).getOrElse {
    if (id < InitialRows) (id % Days).toInt else Days - 1
  }

  private def mergeOp(loop: Loop, tr: Tracer, n: Int): Unit = {
    opNo += 1
    val rows = pickKeys(n).map(id => id -> Rec(dayOfKey(id), rng.nextInt(1000000).toLong, s"m$opNo-$id"))
    rows.foreach { case (id, r) => inputBytes += line(id, r).length + 1 }
    val src = spark.createDataFrame(
      rows.map { case (id, r) => Row(id, date(r.day), r.v, r.payload) }.asJava, srcSchema)
    loop.run(s"merge$n", Loop.Write, rows = n.toLong) {
      val t = open(tr)
      tr.span("lake.merge")(t.merge(spark, src, Seq("id")))
    }.tap { ok =>
      if (ok) rows.foreach { case (id, r) =>
        if (!model.contains(id) && !idsByDay(r.day).contains(id)) idsByDay(r.day) += id
        model(id) = r
      }
    }
  }

  private def idRange(): (Long, Long) = {
    val d = Days - RecentDays + rng.nextInt(RecentDays)
    val lo = idsByDay(d)(rng.nextInt(idsByDay(d).length))
    (lo, lo + 7)
  }

  private def deleteOp(loop: Loop, tr: Tracer): Unit = {
    val (lo, hi) = idRange()
    val hit = model.keys.filter(k => k >= lo && k <= hi).toSeq
    loop.run("delete", Loop.Write, rows = hit.size.toLong) {
      val t = open(tr)
      tr.span("lake.delete")(t.delete(spark, col("id").between(lo, hi)))
    }.tap(ok => if (ok) hit.foreach(model.remove))
  }

  private val readMismatches = mutable.ArrayBuffer.empty[String]

  private def pointRead(loop: Loop, tr: Tracer): Unit = {
    val k =
      if (rng.nextDouble() < 0.8) {
        val ids = idsByDay(Days - RecentDays + rng.nextInt(RecentDays))
        ids(rng.nextInt(ids.length))
      } else (rng.nextDouble() * nextId).toLong
    val want = model.get(k).map(r => (FirstDay.plusDays(r.day.toLong), r.v, r.payload)).toSeq
    loop.run("point_read", Loop.Read) {
      val t = open(tr)
      val got = tr.span("lake.read")(t.read(spark).filter(col("id") === k)
        .select("day", "v", "payload").collect())
        .map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getString(2))).toSeq
      if (got != want) readMismatches += s"point read of id $k: got $got, want $want"
    }
  }

  private def dayAgg(rows: Array[Row]): (Long, Long) =
    (rows.head.getLong(0), if (rows.head.isNullAt(1)) 0L else rows.head.getLong(1))

  private def modelAgg(day: Int): (Long, Long) = {
    val rs = model.values.filter(_.day == day)
    (rs.size.toLong, rs.map(_.v).sum)
  }

  private def timeTravel(loop: Loop, tr: Tracer, version: Long, d: Int, want: (Long, Long)): Unit =
    loop.run("read_version", Loop.Read) {
      val t = open(tr)
      val got = dayAgg(tr.span("lake.readVersion")(t.readVersion(spark, version)
        .filter(col("day") === lit(date(d)))
        .agg(count(lit(1)), sum("v")).collect()))
      if (got != want) readMismatches += s"day $d as of version $version: got $got, want $want"
    }

  private def compactOp(loop: Loop, tr: Tracer): Unit =
    loop.run("compact", Loop.Write) {
      val t = open(tr)
      tr.span("lake.compactPartitions")(
        t.compactPartitions(spark, col("day") >= lit(date(Days - 3))))
    }

  def timed(loop: Loop, tr: Tracer): Unit = (1 to cycles).foreach { _ =>
    timing = true
    val v0 = table.currentVersion
    val asOf = modelAgg(TimeTravelDay)
    // log-uniform over the middle fifth of the lower and upper thirds of
    // [50, 300]: 76–81 and 186–197 keys. Narrow bands keep the per-seed
    // work nearly equal; their placement puts one merge on each side of
    // the codegen cliff.
    val small = 50.0 * math.pow(6.0, (1.4 + 0.2 * rng.nextDouble()) / 6.0)
    val large = 50.0 * math.pow(6.0, (4.4 + 0.2 * rng.nextDouble()) / 6.0)
    // a fixed order: which op runs first after set-up (and so pays what
    // the warm-up left cold) is the same for every seed, and the reads
    // never follow the garbage-heavy large merge
    mergeOp(loop, tr, small.toInt)
    pointRead(loop, tr)
    timeTravel(loop, tr, v0, TimeTravelDay, asOf)
    deleteOp(loop, tr)
    mergeOp(loop, tr, large.toInt)
    compactOp(loop, tr)
  }

  def check(): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String] ++= readMismatches
    val r = table.read(spark).agg(count(lit(1)),
      sum(crc32(concat_ws("|", col("id").cast("string"), col("day").cast("string"),
        col("v").cast("string"), col("payload")).cast("binary")))).collect().head
    val got = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    val crc = new CRC32
    val want = (model.size.toLong, model.iterator.map { case (id, rec) =>
      crc.reset()
      crc.update(s"$id|${FirstDay.plusDays(rec.day.toLong)}|${rec.v}|${rec.payload}"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      crc.getValue
    }.sum)
    if (got != want) out += s"live rows and key/value checksum: got $got, want $want"
    out.toSeq
  }

  def regime: Map[String, Any] = Map(
    "files_at_first_timed_op" -> filesAtStart, "cycles" -> cycles,
    "live_rows" -> model.size, "merge_1024" -> merge1024)

  /** One 1,024-key merge, past the crash zone, on a worker thread so a hang
    * cannot outlive the run: its outcome class and wall time are recorded.
    */
  override def tracedProbes(tr: Tracer): (Seq[(String, Double)], Seq[String]) = {
    val keys = pickKeys(1024)
    val src = spark.createDataFrame(keys.map(id =>
      Row(id, date(dayOfKey(id)), 1L, s"probe-$id")).asJava, srcSchema)
    val result = new java.util.concurrent.atomic.AtomicReference[String]("timeout")
    val t0 = System.nanoTime()
    val th = new Thread(() => {
      result.set(
        try { table.merge(spark, src, Seq("id")); "ok" }
        catch { case t: Throwable => t.getClass.getName })
    }, "merge-1024")
    th.setDaemon(true)
    th.start()
    th.join(ProbeTimeoutMs)
    val ms = (System.nanoTime() - t0) / 1e6
    merge1024 = result.get
    System.err.println(s"perfbench: 1024-key merge: ${result.get} after $ms ms")
    (Seq("lake.merge_1024.failed" -> (if (result.get == "ok") 0.0 else 1.0),
      "lake.merge_1024.ms" -> ms), Nil)
  }
}

object LakeUpserts {
  private final case class Rec(day: Int, v: Long, payload: String)
  val InitialRows = 20480
  val Tasks = 20
  val Days = 64
  /** Every task writes one file per day: the live file count set-up leaves. */
  val InitialFiles: Int = Tasks * Days
  val RecentDays = 7
  val NewShare = 0.1
  val OldShare = 0.1
  val FirstDay: LocalDate = LocalDate.of(2026, 1, 1)
  val ProbeTimeoutMs = 40000L
  /** The day the time-travel read aggregates: an old one, so the cycle's
    * merges rarely touch it and every seed reads the same shape.
    */
  val TimeTravelDay = 10
}
