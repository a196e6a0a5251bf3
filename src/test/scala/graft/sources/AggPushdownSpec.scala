package graft.sources

import graft.SparkSpec
import graft.lake.MergeTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Metadata-only aggregates over `format("graft")` and API reads:
  * count(*)/min/max answered from the commit log's per-file row counts and
  * min/max stats — zero data files scanned, no Spark job — with exact
  * fallback to a real scan whenever the log cannot answer (no recorded
  * counts, deletion vectors under min/max, string bounds, non-partition
  * group-bys, data-column filters).
  */
class AggPushdownSpec extends SparkSpec {
  import spark.implicits._

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("count(*)/min/max answered from the log: pushed plan, no file scan") {
    val root = scratch("agg_basic")
    val t = new MergeTable(root, Seq("p"), statsCols = Seq("k", "d"))
    t.overwrite(Seq((1, java.sql.Date.valueOf("2024-01-05"), "p1"),
      (7, java.sql.Date.valueOf("2024-03-01"), "p1"),
      (3, java.sql.Date.valueOf("2023-12-31"), "p2")).toDF("k", "d", "p"))
    t.append(Seq((9, java.sql.Date.valueOf("2024-02-02"), "p2")).toDF("k", "d", "p"))

    val df = spark.read.format("graft").load(root)
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("cnt"),
        org.apache.spark.sql.functions.min("k").as("mn"),
        org.apache.spark.sql.functions.max("k").as("mx"),
        org.apache.spark.sql.functions.min("d").as("mnd"),
        org.apache.spark.sql.functions.max("d").as("mxd"))
    assert(answeredFromLog(df), s"expected a metadata answer in:\n${planOf(df)}")
    assert(!planOf(df).contains("FileScan"), "a metadata answer must not scan files")
    val r = df.collect().head
    assert((r.getLong(0), r.getInt(1), r.getInt(2)) === ((4L, 1, 9)))
    assert(r.getDate(3) === java.sql.Date.valueOf("2023-12-31"))
    assert(r.getDate(4) === java.sql.Date.valueOf("2024-03-01"))
    // df.count() is the same shape
    assert(spark.read.format("graft").load(root).count() === 4L)
  }

  test("group-by partition column: per-partition counts from the manifest") {
    val root = scratch("agg_group")
    val t = new MergeTable(root, Seq("p"), statsCols = Seq("k"))
    t.overwrite(Seq((1, "p1"), (2, "p1"), (3, "p2")).toDF("k", "p"))
    t.append(Seq((4, "p2"), (5, "p3")).toDF("k", "p"))
    val df = spark.read.format("graft").load(root).groupBy("p")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("cnt"),
        org.apache.spark.sql.functions.max("k").as("mx"))
    assert(answeredFromLog(df), s"expected a metadata answer in:\n${planOf(df)}")
    assert(df.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet ===
      Set(("p1", 2L, 2), ("p2", 2L, 4), ("p3", 1L, 5)))
    // min/max over the PARTITION column itself: exact from directory names
    val df2 = spark.read.format("graft").load(root)
      .agg(org.apache.spark.sql.functions.min("p").as("mn"),
        org.apache.spark.sql.functions.max("p").as("mx"))
    assert(answeredFromLog(df2))
    assert(df2.collect().head.toSeq === Seq("p1", "p3"))
  }

  test("deletion vectors: count subtracts masks, min/max falls back to a scan") {
    val root = scratch("agg_dv")
    val t = new MergeTable(root, Seq("p"), statsCols = Seq("k"))
    t.overwrite(Seq((1, "p1"), (2, "p1"), (3, "p2"), (4, "p2")).toDF("k", "p"))
    t.deleteVectorized(spark, col("k") === 4)
    val cnt = spark.read.format("graft").load(root)
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("cnt"))
    assert(answeredFromLog(cnt), s"count must be a metadata answer under dvs:\n${planOf(cnt)}")
    assert(cnt.collect().head.getLong(0) === 3L)
    val mx = spark.read.format("graft").load(root)
      .agg(org.apache.spark.sql.functions.max("k").as("mx"))
    assert(!answeredFromLog(mx), "a mask could hide the extremal row — must scan")
    assert(mx.collect().head.getInt(0) === 3, "fallback still answers correctly")
  }

  test("deletion vectors: a partition whose every row is masked is no group") {
    val root = scratch("agg_dv_group")
    val t = new MergeTable(root, Seq("p"), statsCols = Seq("k"))
    t.overwrite(Seq((1, "p1"), (2, "p1"), (3, "p2"), (4, "p2")).toDF("k", "p"))
    t.deleteVectorized(spark, col("p") === "p2")
    assert(t.deletionVectors.nonEmpty, "the masked files stay live")
    val scanned = t.read(spark).select("p").as[String].collect().groupBy(identity)
      .map { case (p, ps) => (p, ps.length.toLong) }.toSeq.sorted
    assert(scanned === Seq(("p1", 2L)))
    Seq("API" -> t.read(spark), "format(graft)" -> spark.read.format("graft").load(root))
      .foreach { case (what, df) =>
        val g = df.groupBy("p").count()
        assert(answeredFromLog(g), s"$what: expected a metadata answer in:\n${planOf(g)}")
        assert(g.as[(String, Long)].collect().toSeq.sorted === scanned, what)
      }
  }

  test("no recorded counts / string bounds / filters: exact fallback") {
    val root = scratch("agg_fallback")
    val t = new MergeTable(root) // NO statsCols: no counts in the log
    t.overwrite(Seq((1, "a"), (2, "b")).toDF("k", "v"))
    val cnt = spark.read.format("graft").load(root)
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("cnt"))
    assert(!answeredFromLog(cnt))
    assert(cnt.collect().head.getLong(0) === 2L)

    // string min/max: recorded bounds are truncated prefixes, never pushed
    val root2 = scratch("agg_str")
    val t2 = new MergeTable(root2, Nil, statsCols = Seq("v"))
    t2.overwrite(Seq((1, "aa"), (2, "zz")).toDF("k", "v"))
    val mn = spark.read.format("graft").load(root2)
      .agg(org.apache.spark.sql.functions.min("v").as("mn"))
    assert(!answeredFromLog(mn))
    assert(mn.collect().head.getString(0) === "aa")

    // a data-column WHERE under the aggregate keeps the real scan
    val filtered = spark.read.format("graft").load(root2).filter(col("k") > 1)
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("cnt"))
    assert(!answeredFromLog(filtered))
    assert(filtered.collect().head.getLong(0) === 1L)
  }

  test("time travel: versionAsOf answers from the pinned version's stats") {
    val root = scratch("agg_tt")
    val t = new MergeTable(root, Nil, statsCols = Seq("k"))
    t.overwrite(Seq(1, 2, 3).toDF("k"))
    t.append(Seq(10, 11).toDF("k"))
    val v0 = spark.read.format("graft").option("versionAsOf", 0).load(root)
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("cnt"),
        org.apache.spark.sql.functions.max("k").as("mx"))
    assert(answeredFromLog(v0))
    assert(v0.collect().head.toSeq === Seq(3L, 3))
    // ANALYZE retrofits counts onto a stats-less table
    val root2 = scratch("agg_analyze")
    val t2 = new MergeTable(root2)
    t2.overwrite(Seq((1, 5.5), (2, 7.25)).toDF("k", "x"))
    assert(!answeredFromLog(spark.read.format("graft").load(root2)
      .agg(org.apache.spark.sql.functions.max("x").as("mx"))))
    t2.analyze(spark, Seq("x"))
    val mx = spark.read.format("graft").load(root2)
      .agg(org.apache.spark.sql.functions.max("x").as("mx"))
    assert(answeredFromLog(mx))
    assert(mx.collect().head.getDouble(0) === 7.25)
  }

  test("partition-only WHERE: consumed exactly, aggregate stays a metadata answer") {
    val root = scratch("agg_pfilter")
    val t = new MergeTable(root, Seq("p"), statsCols = Seq("k"))
    t.overwrite(Seq((1, "p1"), (2, "p1"), (3, "p2"), (4, "p2"), (5, "p3")).toDF("k", "p"))
    // count(*) WHERE p = 'p1': the filter is partition-only, so the scan's
    // own partition pruning gives the exact file set
    val cnt = spark.read.format("graft").load(root).filter(col("p") === "p1")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("cnt"),
        org.apache.spark.sql.functions.max("k").as("mx"))
    assert(answeredFromLog(cnt), s"partition WHERE must stay a metadata answer:\n${planOf(cnt)}")
    assert(cnt.collect().head.toSeq === Seq(2L, 2))
    // compound partition predicates (IN / != / OR) prune exactly too
    val in = spark.read.format("graft").load(root)
      .filter(col("p").isin("p1", "p3"))
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("cnt"))
    assert(answeredFromLog(in))
    assert(in.collect().head.getLong(0) === 3L)
    // a data-column conjunct keeps the real scan and exact results
    val mixed = spark.read.format("graft").load(root)
      .filter(col("p") === "p1" && col("k") > 1)
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("cnt"))
    assert(!answeredFromLog(mixed))
    assert(mixed.collect().head.getLong(0) === 1L)
    // plain row reads under a partition filter stay exact
    assert(spark.read.format("graft").load(root).filter(col("p") =!= "p2")
      .select("k").as[Int].collect().toSet === Set(1, 2, 5))
    // group-by + partition WHERE: per-group metadata answer on the subset
    val grouped = spark.read.format("graft").load(root)
      .filter(col("p") =!= "p3").groupBy("p")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("cnt"))
    assert(answeredFromLog(grouped))
    assert(grouped.collect().map(r => (r.getString(0), r.getLong(1))).toSet ===
      Set(("p1", 2L), ("p2", 2L)))
  }

  test("API reads get the metadata answer; an unstatted column scans") {
    val root = scratch("agg_api")
    val t = new MergeTable(root, Seq("p"), statsCols = Seq("k"))
    t.overwrite(Seq((1, 10L, "p1"), (2, 20L, "p1"), (3, 30L, "p2")).toDF("k", "v", "p"))
    val cnt = t.read(spark).agg(org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)).as("cnt"))
    assert(answeredFromLog(cnt), s"expected a metadata answer in:\n${planOf(cnt)}")
    assert(cnt.collect().head.getLong(0) === 3L)
    // a partition filter with a sum over a column the log records no
    // stats for: the rule declines, the scan answers
    val sumV = t.readVersion(spark, t.currentVersion).filter(col("p") === "p1")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("cnt"),
        org.apache.spark.sql.functions.sum("v").as("sv"))
    assert(!answeredFromLog(sumV))
    assert(planOf(sumV).contains("FileScan"))
    assert(sumV.collect().head.toSeq === Seq(2L, 30L))
  }

  test("empty table: global aggregate emits its one row, grouped emits none") {
    val root = scratch("agg_empty")
    val t = new MergeTable(root, Seq("p"), statsCols = Seq("k"))
    t.overwrite(Seq((1, "p1")).toDF("k", "p"))
    t.delete(spark, col("k") === 1) // empties the table, keeps counts valid
    val g = spark.read.format("graft").load(root)
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("cnt"),
        org.apache.spark.sql.functions.max("k").as("mx"))
    assert(answeredFromLog(g))
    assert(g.collect().map(_.toSeq).toSeq === Seq(Seq(0L, null)))
    val grouped = spark.read.format("graft").load(root).groupBy("p")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("cnt"))
    assert(grouped.collect().isEmpty)
  }

  test("count(col) answers from recorded null counts; partition col from dirs") {
    val root = scratch("agg_countcol")
    val t = new MergeTable(root, Seq("p"), statsCols = Seq("x"))
    t.overwrite(Seq[(Int, Option[Int], String)]((1, Some(5), "p1"), (2, None, "p1"),
      (3, Some(7), "p2")).toDF("k", "x", "p"))
    t.append(Seq[(Int, Option[Int], String)]((4, None, "p2"), (5, Some(9), "p2"))
      .toDF("k", "x", "p"))
    val df = spark.read.format("graft").load(root)
      .agg(org.apache.spark.sql.functions.count(col("x")).as("nx"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("cnt"))
    assert(answeredFromLog(df), s"count(col) must be a metadata answer:\n${planOf(df)}")
    assert(df.collect().head.toSeq === Seq(3L, 5L))
    // count over the PARTITION column: the Hive DEFAULT dir holds the nulls
    val t2root = scratch("agg_countpart")
    val t2 = new MergeTable(t2root, Seq("p"), statsCols = Seq("k"))
    t2.overwrite(Seq[(Int, Option[String])]((1, Some("a")), (2, None), (3, Some("b")))
      .toDF("k", "p"))
    val pc = spark.read.format("graft").load(t2root)
      .agg(org.apache.spark.sql.functions.count(col("p")).as("np"))
    assert(answeredFromLog(pc))
    assert(pc.collect().head.getLong(0) === 2L)
    // a NULLABLE column with NO recorded stats falls back (a non-nullable
    // one would be rewritten to count(*) by Catalyst and legitimately push)
    val t3root = scratch("agg_countfb")
    val t3 = new MergeTable(t3root, Nil, statsCols = Seq("k"))
    t3.overwrite(Seq[(Int, Option[Int])]((1, Some(5)), (2, None)).toDF("k", "y"))
    val ny = spark.read.format("graft").load(t3root)
      .agg(org.apache.spark.sql.functions.count(col("y")).as("ny"))
    assert(!answeredFromLog(ny))
    assert(ny.collect().head.getLong(0) === 1L)
  }

  test("sum(col) answers exactly from recorded integral partial sums") {
    val root = scratch("agg_sum")
    val t = new MergeTable(root, Seq("p"), statsCols = Seq("x"))
    t.overwrite(Seq[(Option[Long], String)]((Some(5L), "p1"), (Some(-2L), "p1"),
      (None, "p2")).toDF("x", "p"))
    t.append(Seq[(Option[Long], String)]((Some(100L), "p2")).toDF("x", "p"))
    val df = spark.read.format("graft").load(root)
      .agg(org.apache.spark.sql.functions.sum("x").as("sx"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("cnt"))
    assert(answeredFromLog(df), s"sum must be a metadata answer:\n${planOf(df)}")
    assert(df.collect().head.toSeq === Seq(103L, 4L))
    // grouped + partition-filtered sums compose
    val g = spark.read.format("graft").load(root)
      .filter(col("p") === "p1").groupBy("p")
      .agg(org.apache.spark.sql.functions.sum("x").as("sx"))
    assert(answeredFromLog(g))
    assert(g.collect().map(r => (r.getString(0), r.getLong(1))).toSeq === Seq(("p1", 3L)))
    // an all-NULL column sums to NULL, still metadata-answered
    val t2root = scratch("agg_sumnull")
    val t2 = new MergeTable(t2root, Nil, statsCols = Seq("x"))
    t2.overwrite(Seq[Option[Long]](None, None).toDF("x"))
    val n = spark.read.format("graft").load(t2root)
      .agg(org.apache.spark.sql.functions.sum("x").as("sx"))
    assert(answeredFromLog(n))
    assert(n.collect().head.isNullAt(0))
    // DOUBLE columns never answer from the log (FP accumulation is order-dependent)
    val t3root = scratch("agg_sumdbl")
    val t3 = new MergeTable(t3root, Nil, statsCols = Seq("d"))
    t3.overwrite(Seq(1.5, 2.5).toDF("d"))
    val d = spark.read.format("graft").load(t3root)
      .agg(org.apache.spark.sql.functions.sum("d").as("sd"))
    assert(!answeredFromLog(d))
    assert(d.collect().head.getDouble(0) === 4.0)
  }

  test("all-null and null-mixed columns: min/max handles N-flagged files") {
    val root = scratch("agg_null")
    val t = new MergeTable(root, Nil, statsCols = Seq("x"))
    t.overwrite(Seq[(Int, Option[Int])]((1, None), (2, None)).toDF("k", "x"))
    val mn = spark.read.format("graft").load(root)
      .agg(org.apache.spark.sql.functions.min("x").as("mn"),
        org.apache.spark.sql.functions.max("x").as("mx"))
    assert(answeredFromLog(mn))
    assert(mn.collect().head.toSeq === Seq(null, null))
    t.append(Seq[(Int, Option[Int])]((3, Some(42)), (4, None)).toDF("k", "x"))
    val mixed = spark.read.format("graft").load(root)
      .agg(org.apache.spark.sql.functions.min("x").as("mn"),
        org.apache.spark.sql.functions.max("x").as("mx"))
    assert(answeredFromLog(mixed))
    assert(mixed.collect().head.toSeq === Seq(42, 42))
  }
}
