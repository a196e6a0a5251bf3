package graft.sources

import graft.SparkSpec
import graft.lake.MergeTable
import org.apache.spark.sql.functions.col

/** The `format("graft")` connector — the reference's own integration
  * call-shape (`format("delta")` reads/writes in both Glue jobs) over
  * MergeTable: path-based read and write, partitioned bootstrap, append
  * vs overwrite modes, agreement with API handles on the same root, and
  * the API read's pushdown on the connector's scan.
  */
class GraftDataSourceSpec extends SparkSpec {
  import spark.implicits._

  private def rows3 = Seq((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"))

  /** The filters `df`'s graft scans push to Parquet, one string per scan. */
  private def pushedFilters(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.isInstanceOf[graft.lake.ManifestFileIndex] =>
        s.metadata.getOrElse("PushedFilters", "")
    }

  test("write bootstrap + read back by bare path; modes append and overwrite") {
    val root = scratch("dsv2_rw")
    rows3.toDF("k", "v", "p").write.format("graft").mode("overwrite").save(root)
    val back = spark.read.format("graft").load(root)
    assert(back.select("k", "v", "p").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet === rows3.toSet)
    // append through the connector — same commit protocol as the API
    Seq((4, "d", "p2")).toDF("k", "v", "p")
      .write.format("graft").mode("append").save(root)
    assert(spark.read.format("graft").load(root).count() === 4L)
    val api = new MergeTable(root)
    assert(api.currentVersion === 1L, "connector writes are commits, not file drops")
    // overwrite replaces the whole table in one new version
    Seq((9, "z", "p9")).toDF("k", "v", "p")
      .write.format("graft").mode("overwrite").save(root)
    assert(spark.read.format("graft").load(root)
      .select("k").as[Int].collect().toSeq === Seq(9))
    assert(api.currentVersion === 2L)
  }

  test("partitionBy bootstrap records the layout; later appends keep it") {
    val root = scratch("dsv2_part")
    rows3.toDF("k", "v", "p")
      .write.format("graft").partitionBy("p").mode("overwrite").save(root)
    val t = MergeTable.open(root)
    assert(t.partitionCols === Seq("p"), "layout must come from the write")
    assert(t.filesOf(t.currentVersion).exists(_.contains("p=p1")))
    assert(t.properties.get(MergeTable.PartitionColsProp).contains("p"))
    // a path-only append (no partitionBy) must NOT re-layout the table
    Seq((4, "d", "p2")).toDF("k", "v", "p")
      .write.format("graft").mode("append").save(root)
    val t2 = MergeTable.open(root)
    assert(t2.filesOf(t2.currentVersion).filter(_.contains("/d1u"))
      .forall(_.contains("p=")), "appended files must follow the recorded layout")
    assert(spark.read.format("graft").load(root).count() === 4L)
  }

  test("connector reads honor deletion vectors and API writes on the same root") {
    val root = scratch("dsv2_dv")
    rows3.toDF("k", "v", "p")
      .write.format("graft").partitionBy("p").mode("overwrite").save(root)
    val api = MergeTable.open(root)
    api.deleteVectorized(spark, col("k") === 2)
    assert(spark.read.format("graft").load(root)
      .select("k").as[Int].collect().toSet === Set(1, 3),
      "a dv-masked row must be invisible through the connector")
    api.merge(spark, Seq((5, "e", "p1")).toDF("k", "v", "p"), Seq("k"))
    assert(spark.read.format("graft").load(root).count() === 3L)
  }

  test("pushdown: pruned columns and filters reach the inner parquet scan") {
    val root = scratch("dsv2_push")
    (1 to 1000).map(k => (k, s"v$k", if (k % 2 == 0) "pe" else "po"))
      .toDF("k", "v", "p")
      .write.format("graft").partitionBy("p").mode("overwrite").save(root)
    val q = spark.read.format("graft").load(root)
      .filter(col("k") > 990).select("k", "v")
    assert(q.count() === 10L)
    val plan = q.queryExecution.executedPlan.toString
    // the connector scan pushes exactly what the API read of the same
    // query pushes
    val api = MergeTable.open(root).read(spark).filter(col("k") > 990).select("k", "v")
    assert(pushedFilters(q) === pushedFilters(api) && pushedFilters(q).size === 1,
      s"the connector must push the API read's filters:\n$plan")
    assert(pushedFilters(q).head.contains("GreaterThan(k,990)"),
      s"the filter must be pushed into the graft scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<k:int,v:string>"),
      s"the scan must prune to the projected columns (no p):\n$plan")
  }

  test("SaveMode.ErrorIfExists refuses an existing root; Ignore is a no-op") {
    val root = scratch("dsv2_modes")
    rows3.toDF("k", "v", "p").write.format("graft").mode("overwrite").save(root)
    intercept[Exception] {
      rows3.toDF("k", "v", "p").write.format("graft").save(root) // default errorifexists
    }
    Seq((9, "z", "p9")).toDF("k", "v", "p")
      .write.format("graft").mode("ignore").save(root)
    assert(spark.read.format("graft").load(root).count() === 3L, "ignore must not write")
  }

  test("reading a nonexistent path fails loudly, not with an empty frame") {
    intercept[Exception](
      spark.read.format("graft").load(scratch("dsv2_missing")).collect())
  }

  test("without GraftExtensions a batch read fails naming the extension") {
    val root = scratch("dsv2_noext")
    new MergeTable(root).overwrite(Seq((1, "a")).toDF("k", "v"))
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("path", root))
    val ds = new GraftDataSource
    val table = ds.getTable(ds.inferSchema(opts), Array.empty, opts)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
    val scan = table.newScanBuilder(opts).build()
    assert(scan.readSchema() === table.schema())
    val ex = intercept[UnsupportedOperationException](scan.toBatch)
    assert(ex.getMessage.contains("spark.sql.extensions=graft.functions.GraftExtensions"))
  }

  test("reader options: versionAsOf, timestampAsOf, readChangeFeed") {
    val root = scratch("dsv2_opts")
    rows3.toDF("k", "v", "p").write.format("graft").mode("overwrite").save(root) // v0
    val t = MergeTable.open(root)
    t.merge(spark, Seq((1, "A", "p1"), (4, "d", "p2")).toDF("k", "v", "p"),
      Seq("k"), changeFeed = true) // v1
    // time travel through the reader option (Delta's versionAsOf shape)
    assert(spark.read.format("graft").option("versionAsOf", "0").load(root)
      .count() === 3L)
    assert(spark.read.format("graft").load(root).count() === 4L)
    val ts0 = new java.sql.Timestamp(t.commitTimeMillis(0)).toString
    assert(spark.read.format("graft").option("timestampAsOf", ts0).load(root)
      .count() === 3L)
    // the change feed as a reader option (Delta's readChangeFeed shape)
    val cdf = spark.read.format("graft")
      .option("readChangeFeed", "true").option("startingVersion", "1").load(root)
    assert(cdf.columns.contains(MergeTable.ChangeType))
    val byType = cdf.groupBy(MergeTable.ChangeType).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType === Map(
      "update_preimage" -> 1L, "update_postimage" -> 1L, "insert" -> 1L))
    // a time-travel handle must refuse writes
    intercept[Exception] {
      Seq((9, "z", "p9")).toDF("k", "v", "p").write.format("graft")
        .option("versionAsOf", "0").mode("append").save(root)
    }
  }

  test("streaming source: snapshot, then appends only; rewrites fail loudly") {
    import org.apache.spark.sql.streaming.Trigger
    val root = scratch("dsv2_srcstream")
    rows3.toDF("k", "v", "p").write.format("graft").mode("overwrite").save(root)
    val ckpt = scratch("dsv2_srcstream_ckpt")
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    def drain(): Unit = {
      val q = spark.readStream.format("graft").option("path", root).load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          seen ++= b.select("k").collect().map(_.getInt(0)); ()
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
    }
    drain()
    assert(seen.sorted === Seq(1, 2, 3), "batch 0 is the full snapshot")
    MergeTable.open(root).append(Seq((4, "d", "p2")).toDF("k", "v", "p"))
    drain()
    assert(seen.sorted === Seq(1, 2, 3, 4), "the resume delivers only the append")
    // a rewrite (delete) breaks append-only — the source must refuse, not
    // silently re-deliver or skip
    MergeTable.open(root).delete(spark, col("k") === 2)
    MergeTable.open(root).append(Seq((5, "e", "p1")).toDF("k", "v", "p"))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException](drain())
    assert(ex.getMessage.contains("append-only") ||
      Option(ex.getCause).exists(_.getMessage.contains("append-only")))
  }

  test("maxFilesPerTrigger bounds each batch; restart from checkpoint stays exact") {
    val root = scratch("dsv2_rate")
    rows3.toDF("k", "v", "p").repartition(1)
      .write.format("graft").mode("overwrite").save(root)              // v0
    val t = MergeTable.open(root)
    (4 to 6).foreach(i =>
      t.append(Seq((i, s"x$i", "p9")).toDF("k", "v", "p").repartition(1))) // v1..v3
    val ckpt = scratch("dsv2_rate_ckpt")
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    var batches = 0
    def drain(stopAfter: Int): Unit = {
      val q = spark.readStream.format("graft").option("path", root)
        .option("maxFilesPerTrigger", "1").load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          batches += 1
          seen.synchronized { seen ++= b.select("k").collect().map(_.getInt(0)) }
          ()
        }
        .option("checkpointLocation", ckpt)
        .start()
      try {
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (batches < stopAfter && System.nanoTime() < deadline)
          Thread.sleep(50)
        if (stopAfter == Int.MaxValue) q.processAllAvailable()
      } finally q.stop()
    }
    // stop mid-backlog after ~2 batches, restart, drain the rest: the
    // rate walk resumes from the recovered committed offset — nothing is
    // lost or re-delivered
    drain(stopAfter = 2)
    drain(stopAfter = Int.MaxValue)
    // set-compare: a batch in flight at the stop may legitimately replay
    // after restart (foreachBatch is at-least-once; exactly-once is the
    // sink ledger's job) — but nothing may be LOST and nothing outside
    // the table may appear
    assert(seen.toSet === Set(1, 2, 3, 4, 5, 6))
    assert(batches >= 4,
      s"1 file per trigger over 4 single-file commits needs >= 4 batches, got $batches")
  }

  test("idempotent batch writes: txnAppId/txnVersion skip replayed versions") {
    val root = scratch("dsv2_txn")
    Seq(1).toDF("k").write.format("graft").mode("overwrite").save(root)
    def w(ver: Int, ks: Seq[Int]): Unit =
      ks.toDF("k").write.format("graft").mode("append")
        .option("txnAppId", "job").option("txnVersion", ver.toString).save(root)
    w(1, Seq(2))
    w(1, Seq(99)) // replayed version 1: a no-op, rows never land
    w(2, Seq(3))
    val t = MergeTable.open(root)
    assert(t.read(spark).select("k").collect().map(_.getInt(0)).sorted ===
      Array(1, 2, 3))
    assert(t.lastTxnVersion("job").contains(2L))
  }

  test("timestamp read options: streaming startingTimestamp, batch CDF bounds") {
    def ts(ms: Long): String = new java.sql.Timestamp(ms).toString
    val root = scratch("dsv2_sts")
    val t = new MergeTable(root)
    t.clock = () => 1000L
    t.overwrite(Seq(1).toDF("k").repartition(1))  // v0 @1000
    t.clock = () => 2000L
    t.append(Seq(2).toDF("k").repartition(1))     // v1 @2000
    t.clock = () => 3000L
    t.append(Seq(3).toDF("k").repartition(1))     // v2 @3000
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    val q = spark.readStream.format("graft").option("path", root)
      .option("startingTimestamp", ts(1500)).load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.synchronized { seen ++= b.select("k").collect().map(_.getInt(0)) }; ()
      }
      .option("checkpointLocation", scratch("dsv2_sts_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(seen.sorted === Seq(2, 3), "only commits at/after the instant stream")

    val cd = scratch("dsv2_cdfts")
    val t2 = new MergeTable(cd)
    t2.clock = () => 1000L
    t2.overwrite(Seq(1, 2, 3, 4).toDF("k"))
    t2.clock = () => 2000L
    t2.delete(spark, col("k") === 1, changeFeed = true) // v1 @2000
    t2.clock = () => 3000L
    t2.delete(spark, col("k") === 2, changeFeed = true) // v2 @3000
    val cdf = spark.read.format("graft").option("readChangeFeed", "true")
      .option("startingTimestamp", ts(1500)).option("endingTimestamp", ts(2500))
      .load(cd)
    assert(cdf.select("k").collect().map(_.getInt(0)).toSeq === Seq(1),
      "the timestamp window covers exactly the v1 delete")
  }

  test("streaming sink: keyed merge per batch; replayed batch ids are no-ops") {
    val root = scratch("dsv2_sink")
    val sink = new GraftStreamSink(root, Seq("p"), Seq("k"), "t1", complete = false)
    sink.addBatch(0, rows3.toDF("k", "v", "p"))
    val t = MergeTable.open(root)
    assert(t.lastTxnVersion("t1").contains(0L))
    // a replayed batch id (checkpoint restart) must not double-apply
    sink.addBatch(0, Seq((9, "z", "p9")).toDF("k", "v", "p"))
    assert(t.read(spark).count() === 3L)
    sink.addBatch(1, Seq((1, "A", "p1"), (4, "d", "p2")).toDF("k", "v", "p"))
    assert(t.read(spark).select("k", "v", "p").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet ===
      Set((1, "A", "p1"), (2, "b", "p1"), (3, "c", "p2"), (4, "d", "p2")))
    assert(t.lastTxnVersion("t1").contains(1L))
    // keyless sink appends; a second appId keeps its own ledger
    val app = new GraftStreamSink(root, Nil, Nil, "t2", complete = false)
    app.addBatch(0, Seq((5, "e", "p1")).toDF("k", "v", "p"))
    assert(t.read(spark).count() === 5L)
  }
}
