package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import java.nio.file.Files

/** Columnar checkpoint (Delta checkpoint.parquet + `_last_checkpoint`
  * analog): full-manifest commits above `spark.graft.checkpointThreshold`
  * files also write a parquet checkpoint, and pruned reads route through a
  * distributed Catalyst filter over it instead of the per-file driver
  * loop. The invariant under test: BOTH paths select the same files for
  * the same filters (the checkpoint path may only ever be equally or less
  * aggressive — never skip a file the driver path keeps AND would match).
  */
class CheckpointSpec extends SparkSpec {
  import spark.implicits._

  private def withThreshold[A](n: Int)(body: => A): A = {
    val key = MergeTable.CheckpointThresholdConf
    val old = spark.conf.getOption(key)
    spark.conf.set(key, n.toString)
    try body
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** 3 partitions × several files with k/v stats; k disjoint per file. */
  private def seeded(name: String): MergeTable = {
    val df = spark.range(30).select(
      col("id").as("k"),
      concat(lit("v"), lpad(col("id").cast("string"), 2, "0")).as("v"),
      (col("id") / 10).cast("int").cast("string").as("p"))
    val t = new MergeTable(scratch(name), Seq("p"), statsCols = Seq("k", "v"))
    t.overwrite(df.repartition(1))
    t
  }

  test("full-manifest commit above threshold writes checkpoint + pointer") {
    withThreshold(1) {
      val t = seeded("cp_write")
      assert(Files.exists(t.checkpointDir(0).resolve("_SUCCESS")),
        "v0 is a full manifest — the checkpoint must exist")
      // incremental commits do NOT checkpoint; the pointer stays at v0
      t.append(Seq((100L, "vx", "9")).toDF("k", "v", "p"))
      assert(!Files.exists(t.checkpointDir(1)))
    }
  }

  test("distributed prune ≡ driver prune across filter shapes, adds and removes applied") {
    withThreshold(1) {
      val t = seeded("cp_prune")
      // tail churn after the v0 checkpoint: an append (add) and a
      // partition delete (removes) — both incremental commits
      t.append(Seq((40L, "v40", "3"), (41L, (null: String), "3")).toDF("k", "v", "p")
        .repartition(1))
      t.delete(spark, col("p") === "0")
      val v = t.currentVersion
      val filterSets: Seq[Seq[sources.Filter]] = Seq(
        Seq(sources.EqualTo("p", "1")),                       // partition eq
        Seq(sources.EqualTo("k", 15L)),                       // stats point
        Seq(sources.GreaterThan("k", 25L)),                   // stats range
        Seq(sources.In("k", Array[Any](5L, 40L))),            // stats IN
        Seq(sources.LessThanOrEqual("v", "v09")),             // string bounds
        Seq(sources.IsNull("v")),                             // null-count skip
        Seq(sources.IsNotNull("k")),
        Seq(sources.EqualTo("p", "3"), sources.GreaterThan("k", 39L)), // mixed
        Seq(sources.EqualTo("p", "0")))                       // removed partition
      for (fs <- filterSets) {
        val viaCp = t.pruneFilesFor(spark, v, fs)
        assert(t.lastPruneVia === "checkpoint",
          s"distributed path must engage for $fs")
        val viaDriver = withThreshold(Int.MaxValue)(t.pruneFilesFor(spark, v, fs))
        assert(t.lastPruneVia === "driver")
        assert(viaCp === viaDriver, s"paths disagree for $fs")
      }
      // and the filtered READ answers identically through both paths
      val q = t.readVersionWhere(spark, v, Seq(sources.EqualTo("p", "1")))
        .select("k").as[Long].collect().sorted
      assert(q === (10L to 19L).toArray)
    }
  }

  test("a filter no engine can prune by starts no Spark job and keeps every file") {
    withThreshold(1) {
      // stats on v only: an IN on k (unstatted, not a partition column)
      // can drop no file, so the checkpoint job would only keep them all
      val t = new MergeTable(scratch("cp_noprune"), Seq("p"), statsCols = Seq("v"))
      t.overwrite(spark.range(30).select(col("id").as("k"),
        col("id").cast("string").as("v"), (col("id") % 3).cast("string").as("p"))
        .repartition(2))
      val v = t.currentVersion
      assert(Files.exists(t.checkpointDir(v).resolve("_SUCCESS")))
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      val kept =
        try {
          val r = t.pruneFilesFor(spark, v, Seq(sources.In("k", Array[Any](1L, 2L, 40L))))
          org.apache.spark.sql.GraftSqlShims.waitForListenerBus(spark)
          r
        } finally spark.sparkContext.removeSparkListener(l)
      assert(jobs.get === 0)
      assert(t.lastPruneVia === "none")
      assert(kept === t.filesOf(v))
      // a statted conjunct still engages the checkpoint path
      t.pruneFilesFor(spark, v, Seq(sources.EqualTo("v", "7")))
      assert(t.lastPruneVia === "checkpoint")
    }
  }

  test("no usable checkpoint or non-incremental tail: silent driver fallback") {
    // threshold never met → no checkpoint written → driver path
    val t = seeded("cp_fallback")
    t.pruneFilesFor(spark, t.currentVersion, Seq(sources.EqualTo("p", "1")))
    assert(t.lastPruneVia === "driver")
    // checkpoint exists but the pointer is corrupt → directory scan finds it
    withThreshold(1) {
      val t2 = seeded("cp_badptr")
      Files.writeString(
        java.nio.file.Paths.get(t2.root, "_graft_log", "_last_checkpoint"), "garbage")
      t2.pruneFilesFor(spark, t2.currentVersion, Seq(sources.EqualTo("p", "1")))
      assert(t2.lastPruneVia === "checkpoint",
        "a corrupt pointer must fall back to the directory scan, not to the driver loop")
    }
  }

  test("time travel: pruning an old version via an old checkpoint stays exact") {
    withThreshold(1) {
      val t = seeded("cp_travel")
      val v0 = t.currentVersion
      t.append(Seq((50L, "v50", "4")).toDF("k", "v", "p"))
      // pruning AT v0 uses the v0 checkpoint with an empty tail
      val got = t.pruneFilesFor(spark, v0, Seq(sources.EqualTo("p", "4")))
      assert(t.lastPruneVia === "checkpoint")
      assert(got.isEmpty, "partition 4 does not exist at v0")
      val now = t.pruneFilesFor(spark, t.currentVersion, Seq(sources.EqualTo("p", "4")))
      assert(now.nonEmpty)
    }
  }

  test("checkpoint-backed metadata aggregates ≡ driver statsLines path") {
    withThreshold(1) {
      val t = seeded("cp_agg")
      t.append(Seq((40L, (null: String), "3"), (41L, "v41", "3")).toDF("k", "v", "p")
        .repartition(1))
      t.delete(spark, col("p") === "0")
      val v = t.currentVersion
      val shapes: Seq[(Seq[String], Seq[(String, String)], Seq[sources.Filter])] = Seq(
        (Nil, Seq(("count", null)), Nil),                            // count(*)
        (Nil, Seq(("count", "v")), Nil),                             // null-aware count
        (Nil, Seq(("count", "p")), Nil),                             // partition count
        (Nil, Seq(("min", "k"), ("max", "k")), Nil),                 // data bounds
        (Nil, Seq(("min", "p"), ("max", "p")), Nil),                 // partition bounds
        (Nil, Seq(("sum", "k")), Nil),                               // exact sum
        (Nil, Seq(("avg", "k")), Nil),                               // sum / count
        (Seq("p"), Seq(("count", null), ("sum", "k")), Nil),         // grouped
        (Seq("p"), Seq(("avg", "k"), ("count", "k")), Nil),          // grouped avg
        (Nil, Seq(("count", null)), Seq(sources.EqualTo("p", "1"))), // filtered
        (Seq("p"), Seq(("min", "k")), Seq(sources.In("p", Array[Any]("1", "3")))),
        (Nil, Seq(("count", null), ("min", "k")),
          Seq(sources.EqualTo("p", "0"))))                           // empty scope
      for ((g, a, f) <- shapes) {
        val viaCp = t.aggregateFromCheckpointDF(spark, v, g, a, f)
        assert(viaCp.isDefined, s"checkpoint aggregate must engage for ($g, $a, $f)")
        val restrict =
          if (f.isEmpty) None else t.exactPartitionFiles(spark, v, f)
        val viaDriver = t.aggregateFromStats(v, g, a, restrict)
        assert(viaDriver.isDefined)
        assert(viaCp.get.map(_.toList) === viaDriver.get.map(_.toList),
          s"paths disagree for ($g, $a, $f)")
      }
      // shapes the checkpoint path must REFUSE (fall through, not answer):
      // string DATA-column bounds (truncated bounds are not values)
      assert(t.aggregateFromCheckpointDF(spark, v, Nil, Seq(("min", "v")), Nil).isEmpty)
    }
  }

  test("cadence checkpoints build incrementally from the previous; contents exact") {
    withThreshold(1) {
      val t = new MergeTable(scratch("cp_incr"), Seq("p"), statsCols = Seq("k"))
      t.overwrite(spark.range(10).select(col("id").as("k"),
        lit("0").as("p"))) // v0: full checkpoint build
      // v1..v10: incremental commits; v10's checkpoint derives from v0's
      // frame + the fold of deltas (O(churn), not O(files))
      (1 to 10).foreach(i =>
        t.append(Seq((i * 100L, (i % 3).toString)).toDF("k", "p")))
      t.delete(spark, col("p") === "2") // v11: incremental tail past the checkpoint
      assert(Files.exists(t.checkpointDir(10).resolve("_SUCCESS")),
        "the cadence version must have checkpointed")
      // the incrementally-built checkpoint lists EXACTLY v10's manifest
      val cpPaths = spark.read.parquet(t.checkpointDir(10).toString)
        .select("_graft_path").collect().map(_.getString(0)).toSet
      assert(cpPaths === t.filesOf(10).toSet)
      // and pruning through it (+ the v11 tail) equals the driver loop
      val fs = Seq(sources.EqualTo("p", "1"),
        sources.GreaterThanOrEqual("k", 300L))
      val viaCp = t.pruneFilesFor(spark, t.currentVersion, fs)
      assert(t.lastPruneVia === "checkpoint")
      val viaDriver = withThreshold(Int.MaxValue)(
        t.pruneFilesFor(spark, t.currentVersion, fs))
      assert(viaCp === viaDriver)
      // aggregates through the same incrementally-built frame stay exact
      val viaCpAgg = t.aggregateFromCheckpointDF(spark, t.currentVersion,
        Seq("p"), Seq(("count", null), ("sum", "k")), Nil)
      val viaDrvAgg = t.aggregateFromStats(t.currentVersion,
        Seq("p"), Seq(("count", null), ("sum", "k")), None)
      assert(viaCpAgg.isDefined && viaDrvAgg.isDefined)
      assert(viaCpAgg.get.map(_.toList) === viaDrvAgg.get.map(_.toList))
    }
  }

  test("DELETE→RESTORE in the checkpoint tail: one row per file, exact pushed count") {
    withThreshold(1) {
      val t = seeded("cp_readd")
      val v0 = t.currentVersion // full manifest above threshold → checkpointed
      t.delete(spark, col("p") === "0") // incremental: removes p=0's file
      t.restore(v0)                     // incremental: RE-ADDS the same path
      val v = t.currentVersion
      // the resolved frame must carry exactly ONE row per live file — a
      // re-added path's stale base-checkpoint row would double-count it
      // in every pushed aggregate below
      val frame = t.resolvedCheckpointFrame(spark, v)
      assert(frame.isDefined, "checkpoint chain must resolve across the tail")
      val paths = frame.get.select("_graft_path").as[String].collect().sorted
      assert(paths.length === paths.distinct.length,
        s"duplicate frame rows for re-added paths: ${paths.toSeq}")
      assert(paths.toSet === t.filesOf(v).toSet)
      // pushed count(*)/sum through the checkpoint ≡ the driver stats path
      for ((g, a) <- Seq(
          (Nil, Seq(("count", null: String))),
          (Seq("p"), Seq(("count", null: String), ("sum", "k"))))) {
        val viaCp = t.aggregateFromCheckpointDF(spark, v, g, a, Nil)
        val viaDriver = t.aggregateFromStats(v, g, a, None)
        assert(viaCp.isDefined && viaDriver.isDefined)
        assert(viaCp.get.map(_.toList) === viaDriver.get.map(_.toList),
          s"re-added file double-counted for ($g, $a)")
      }
      // and the inverse hazard: remove→re-add→REMOVE must not resurrect
      // the base row (the file is gone, whatever the tail's history)
      t.delete(spark, col("p") === "0")
      val v2 = t.currentVersion
      val kept = t.pruneFilesFor(spark, v2, Seq(sources.EqualTo("p", "0")))
      assert(t.lastPruneVia === "checkpoint")
      assert(kept.isEmpty, "re-add→remove resurrected a deleted file")
      val cnt = t.aggregateFromCheckpointDF(spark, v2, Nil,
        Seq(("count", null: String)), Nil)
      assert(cnt.isDefined && cnt.get.head.head === 20L)
      // the NEXT cadence checkpoint builds incrementally over this tail:
      // its persisted rows must also be duplicate-free and exact
      var ver = v2
      while (ver % 10 != 0) {
        t.append(Seq((1000L + ver, "vz", "9")).toDF("k", "v", "p")); ver += 1
      }
      assert(Files.exists(t.checkpointDir(ver).resolve("_SUCCESS")))
      val cpPaths = spark.read.parquet(t.checkpointDir(ver).toString)
        .select("_graft_path").as[String].collect().sorted
      assert(cpPaths.length === cpPaths.distinct.length,
        "incremental checkpoint persisted duplicate rows")
      assert(cpPaths.toSet === t.filesOf(ver).toSet)
    }
  }

  private def withDriverRowsMax[A](n: Int)(body: => A): A = {
    val key = MergeTable.CheckpointDriverRowsMaxConf
    val old = spark.conf.getOption(key)
    spark.conf.set(key, n.toString)
    try body
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("distributed full build ≡ driver row build; adoption checkpoints without driver rows") {
    withThreshold(4)(withDriverRowsMax(8) {
      // a CONVERT-adoption shape: one full-manifest commit carrying many
      // files (here 12 across 3 partitions, incl. a NULL stat column and a
      // partition value needing path-escaping) — its FIRST checkpoint has
      // no previous frame to fold from, so it must take the full-build path
      val df = spark.range(36).select(
        col("id").as("k"),
        when(col("id") % 7 === 0, null).otherwise(
          concat(lit("v"), col("id").cast("string"))).as("v"),
        when(col("id") < 12, "a b").when(col("id") < 24, "c=d")
          .otherwise((null: String)).as("p"))
      val t = new MergeTable(scratch("cp_dist"), Seq("p"), statsCols = Seq("k", "v"))
      t.overwrite(df.repartition(4))
      assert(t.lastCheckpointBuildVia === "distributed",
        "an above-threshold full build must run as a Spark job, not driver rows")
      assert(Files.exists(t.checkpointDir(0).resolve("_SUCCESS")))
      // frame equality between the two builders on the same manifest text
      val files = t.filesOf(0)
      val stats = t.statsLinesOf(0)
      assert(files.size >= 12)
      import scala.jdk.CollectionConverters._
      val viaDriver = spark.createDataFrame(
        t.checkpointRows(files, stats).asJava, t.checkpointSchema)
      val viaJob = t.checkpointFrameDistributed(spark, files, stats)
      assert(viaJob.schema === viaDriver.schema)
      def canon(d: org.apache.spark.sql.DataFrame): Seq[String] =
        d.collect().map(r => Seq(
          r.getString(0), String.valueOf(r.get(1)), String.valueOf(r.get(2)),
          r.getMap[String, org.apache.spark.sql.Row](3).toSeq
            .sortBy(_._1).mkString("|"),
          String.valueOf(r.get(4))).mkString("\t")).toSeq.sorted
      assert(canon(viaJob) === canon(viaDriver),
        "the two full builders must produce the identical frame")
      // and everything downstream of the distributed-built checkpoint
      // answers exactly: pruning ≡ driver loop, pushed aggregates ≡ stats
      for (fs <- Seq(
          Seq(sources.EqualTo("p", "a b")),
          Seq(sources.EqualTo("p", "c=d"), sources.GreaterThan("k", 17L)),
          Seq(sources.IsNull("p")),
          Seq(sources.IsNull("v")))) {
        val viaCp = t.pruneFilesFor(spark, 0, fs)
        assert(t.lastPruneVia === "checkpoint")
        val viaDrv = withThreshold(Int.MaxValue)(t.pruneFilesFor(spark, 0, fs))
        assert(viaCp === viaDrv, s"paths disagree for $fs")
      }
      val viaCpAgg = t.aggregateFromCheckpointDF(spark, 0, Seq("p"),
        Seq(("count", null: String), ("sum", "k"), ("count", "v")), Nil)
      val viaDrvAgg = t.aggregateFromStats(0, Seq("p"),
        Seq(("count", null: String), ("sum", "k"), ("count", "v")), None)
      assert(viaCpAgg.isDefined && viaDrvAgg.isDefined)
      assert(viaCpAgg.get.map(_.toList) === viaDrvAgg.get.map(_.toList))
      // below the threshold the driver full build remains in force
      val small = new MergeTable(scratch("cp_dist_small"), Seq("p"),
        statsCols = Seq("k"))
      withThreshold(1) {
        small.overwrite(Seq((1L, "0"), (2L, "1")).toDF("k", "p"))
      }
      assert(small.lastCheckpointBuildVia === "driver",
        "below the driver-rows cap the full build stays on the driver")
    })
  }

  test("VACUUM enumeration reads through the checkpoint; dry run ≡ deletion ≡ driver") {
    withThreshold(1) {
      import scala.jdk.CollectionConverters._
      def mk(name: String): MergeTable = {
        val t = seeded(name)
        t.delete(spark, col("p") === "0")         // dooms p=0's dir at retain 1
        t.overwrite(Seq((99L, "v99", "5")).toDF("k", "v", "p")) // dooms the rest
        t
      }
      // data-dir names embed per-attempt nonces, so two identically-built
      // tables compare by the VERSION-prefix shape of their reclaim sets
      def shape(rels: Seq[String]): Seq[String] =
        rels.map(_.takeWhile(_ != 'u')).sorted
      val t = mk("cp_vacuum")
      // the preview enumerates live dirs through the checkpoint frame —
      // O(data dirs) on the driver, never O(versions × files) path lists
      val preview = t.vacuumDryRun(retainVersions = 1, minAgeMs = 0)
      assert(t.lastVacuumEnumVia === "checkpoint",
        "above-threshold vacuum must enumerate through the checkpoint")
      assert(preview.nonEmpty)
      // an identically-built table with its checkpoint chain BROKEN falls
      // back to the driver fold — and previews the same reclaim shape
      val d = mk("cp_vacuum_drv")
      val dLog = java.nio.file.Paths.get(d.root, "_graft_log")
      Files.list(dLog).iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".checkpoint.parquet") ||
          p.getFileName.toString == "_last_checkpoint")
        .toSeq.foreach { p =>
          if (Files.isDirectory(p)) {
            Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete(_))
          } else Files.delete(p)
        }
      val viaDriver = d.vacuumDryRun(retainVersions = 1, minAgeMs = 0)
      assert(d.lastVacuumEnumVia === "driver",
        "a broken checkpoint chain must fall back to the driver fold")
      assert(shape(preview) === shape(viaDriver),
        "the two enumeration engines disagree")
      // and the DELETION reclaims exactly the previewed dirs, reads intact
      t.vacuum(retainVersions = 1, minAgeMs = 0)
      assert(t.lastVacuumEnumVia === "checkpoint")
      preview.foreach(rel => assert(
        !Files.exists(java.nio.file.Paths.get(t.root, rel)),
        s"previewed dir $rel survived the vacuum"))
      assert(t.read(spark).select("k").as[Long].collect().sorted === Array(99L))
    }
  }

  test("adversarial partition values: builders and prune engines agree") {
    withThreshold(2)(withDriverRowsMax(2) {
      // values chosen to stress every layer: path escaping (space, =, %),
      // empty string, and NULL (the Hive default partition) — the
      // stat-line URL-encoding, the dir-name escaping, and the checkpoint
      // frame's raw/typed split must all agree. (A unicode value is
      // excluded only because THIS container's C locale makes the JVM
      // reject non-ASCII file paths at sun.nio.fs.UnixPath — an
      // environment limit, not an engine one.)
      val vals = Seq("sp ace", "eq=ua=l", "pct%25raw", "semi;colon", "", null)
      val rows = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      val t = new MergeTable(scratch("cp_adversarial"), Seq("p"),
        statsCols = Seq("k"))
      t.overwrite(rows.toDF("k", "p").repartition(6))
      assert(t.lastCheckpointBuildVia === "distributed")
      // frame equality between the two full builders on this manifest
      import scala.jdk.CollectionConverters._
      val files = t.filesOf(0)
      val stats = t.statsLinesOf(0)
      val viaDriver = spark.createDataFrame(
        t.checkpointRows(files, stats).asJava, t.checkpointSchema)
      val viaJob = t.checkpointFrameDistributed(spark, files, stats)
      def canon(d: org.apache.spark.sql.DataFrame): Seq[String] =
        d.collect().map(r => Seq(
          r.getString(0), String.valueOf(r.get(1)), String.valueOf(r.get(2)),
          r.getMap[String, org.apache.spark.sql.Row](3).toSeq
            .sortBy(_._1).mkString("|"),
          String.valueOf(r.get(4))).mkString("\t")).toSeq.sorted
      assert(canon(viaJob) === canon(viaDriver))
      // both prune engines select the same files for every value; the
      // read through each returns exactly that value's rows. Hive-layout
      // convention: an EMPTY string partition value is stored as the
      // default-partition sentinel, so it CONFLATES with NULL — both rows
      // surface under IS NULL and neither under p = '' (Spark and Delta
      // behave identically; the engines must AGREE, not resurrect it)
      for (v <- vals) {
        val fs = Seq(if (v == null) sources.IsNull("p")
                     else sources.EqualTo("p", v): sources.Filter)
        val viaCp = t.pruneFilesFor(spark, 0, fs)
        assert(t.lastPruneVia === "checkpoint")
        val viaDrv = withThreshold(Int.MaxValue)(t.pruneFilesFor(spark, 0, fs))
        assert(viaCp === viaDrv, s"prune engines disagree for value '$v'")
        val got = t.readVersionWhere(spark, 0, fs)
          .select("k").as[Long].collect().toSeq.sorted
        val expect =
          if (v == null) Seq(4L, 5L)      // "" and NULL conflate (Hive)
          else if (v == "") Seq.empty[Long]
          else Seq(vals.indexOf(v).toLong)
        assert(got === expect,
          s"read through pruning lost or duplicated value '$v'")
      }
    })
  }

  test("checkpoint retention keeps the newest CheckpointKeep") {
    withThreshold(1) {
      val df = Seq((1L, "a", "0")).toDF("k", "v", "p")
      val t = new MergeTable(scratch("cp_retain"), Seq("p"), statsCols = Seq("k"))
      t.overwrite(df)
      // force many checkpoint-cadence commits (every 10th is full)
      (1 to 41).foreach(i => t.append(Seq((i.toLong + 1, "b", "0")).toDF("k", "v", "p")))
      val cps = Files.list(java.nio.file.Paths.get(t.root, "_graft_log"))
        .iterator()
      val names = new scala.collection.mutable.ArrayBuffer[String]
      while (cps.hasNext) { val p = cps.next(); names += p.getFileName.toString }
      val kept = names.filter(_.endsWith(".checkpoint.parquet"))
        .map(_.stripSuffix(".checkpoint.parquet").toLong).sorted
      assert(kept.size <= MergeTable.CheckpointKeep)
      assert(kept.contains(40L), s"newest checkpoint must survive (kept: $kept)")
    }
  }

  test("a 2,000-key merge on the checkpoint path equals the driver-loop merge") {
    // The key list prunes through a per-key Or chain over the checkpoint's
    // stats; at this depth planning it can overflow the stack, and the
    // merge must fall back to the driver loop instead of failing.
    def merged(threshold: Int): Set[(Long, String)] = withThreshold(threshold) {
      val t = new MergeTable(scratch(s"cp_deep_$threshold"), Seq("p"), statsCols = Seq("k"))
      t.overwrite(spark.range(4000).select(col("id").as("k"),
        concat(lit("v"), col("id").cast("string")).as("v"),
        (col("id") % 16).cast("string").as("p")).repartition(1))
      assert(t.filesOf(0).size === 16)
      t.merge(spark, spark.range(0, 4000, 2).select(col("id").as("k"),
        lit("m").as("v"), (col("id") % 16).cast("string").as("p")), Seq("k"))
      t.read(spark).select("k", "v").as[(Long, String)].collect().toSet
    }
    val viaCheckpoint = merged(4)
    assert(viaCheckpoint.size === 4000)
    assert(viaCheckpoint.count(_._2 == "m") === 2000)
    assert(viaCheckpoint === merged(Int.MaxValue))
  }
}
