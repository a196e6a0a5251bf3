package graft.sources

import java.time.{Instant, ZoneId}
import java.time.format.DateTimeFormatter

import graft.SparkSpec
import graft.lake.MergeTable
import graft.sqlapi.LakeSql
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Every read surface of one table — `format("graft")` with its reader
  * options, catalog SQL with time travel, `LakeSql` snapshot views — gives
  * the schema and rows of `readVersion`/`changes`, and every snapshot read
  * plans the columnar scan over the table's `ManifestFileIndex`.
  */
class ReadSurfaceParitySpec extends SparkSpec {
  import spark.implicits._

  private lazy val cat: String = {
    val name = "parity"
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", scratch("parity_wh"))
    name
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema === want.schema, s"$what: schema")
    assert(rows(got) === rows(want), s"$what: rows")
  }

  private def assertManifestScan(df: DataFrame, what: String): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("FileScan parquet") &&
      l.contains("Batched: true") && l.contains("ManifestFileIndex")),
      s"$what must scan the manifest relation in batches:\n$plan")
    assert(!plan.contains("Scan graft.sources"), s"$what must not scan the V2 table:\n$plan")
  }

  private def stamp(ms: Long, zone: ZoneId): String =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(zone)
      .format(Instant.ofEpochMilli(ms))

  test("every read surface gives readVersion's schema, rows and manifest scan") {
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(wh, "ns"))
    val root = s"$wh/ns/t"
    val t = new MergeTable(root, Seq("p"), statsCols = Seq("k"))
    t.overwrite((1 to 6).map(k => (k, s"v$k", s"p${k % 2}")).toDF("k", "v", "p")) // v0
    t.merge(spark, Seq((2, "V2", "p0"), (7, "v7", "p1")).toDF("k", "v", "p"),
      Seq("k"), changeFeed = true)                                                  // v1
    t.deleteVectorized(spark, col("k") === 3, changeFeed = true)                    // v2
    t.renameColumn("v", "label")                                                    // v3
    val cur = t.currentVersion
    assert(cur === 3L && t.deletionVectors.nonEmpty)

    val reads = Seq(
      "format(graft)" -> (spark.read.format("graft").load(root), cur),
      "versionAsOf" -> (spark.read.format("graft").option("versionAsOf", "1").load(root), 1L),
      "timestampAsOf" -> (spark.read.format("graft")
        .option("timestampAsOf", stamp(t.commitTimeMillis(1), ZoneId.systemDefault()))
        .load(root), 1L),
      "catalog SELECT" -> (spark.sql(s"SELECT * FROM $cat.ns.t"), cur),
      "VERSION AS OF" -> (spark.sql(s"SELECT * FROM $cat.ns.t VERSION AS OF 2"), 2L),
      "TIMESTAMP AS OF" -> (spark.sql(s"SELECT * FROM $cat.ns.t TIMESTAMP AS OF '" +
        stamp(t.commitTimeMillis(1),
          ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))) + "'"), 1L),
      "LakeSql" -> (LakeSql.query(spark, "SELECT * FROM tbl", Map("tbl" -> t)), cur),
      "LakeSql VERSION AS OF" ->
        (LakeSql.query(spark, "SELECT * FROM tbl VERSION AS OF 2", Map("tbl" -> t)), 2L))
    reads.foreach { case (what, (df, v)) =>
      assertSame(df, t.readVersion(spark, v), what)
      assertManifestScan(df, what)
    }

    val feed = spark.read.format("graft").option("readChangeFeed", "true")
      .option("startingVersion", "1").load(root)
    assertSame(feed, t.changes(spark, 1, cur), "readChangeFeed")
    assert(rows(feed).nonEmpty)
  }

  test("an unpinned read reads the snapshot current at each execution") {
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(wh, "ns"))
    val root = s"$wh/ns/cur"
    val t = new MergeTable(root, Seq("p"), statsCols = Seq("k"))
    t.overwrite(Seq((1, "a", "p0"), (2, "b", "p1")).toDF("k", "v", "p"))
    val conn = spark.read.format("graft").load(root)
    val table = spark.table(s"$cat.ns.cur")
    val pinned = spark.read.format("graft").option("versionAsOf", "0").load(root)
    t.append(Seq((3, "c", "p1")).toDF("k", "v", "p"))
    t.deleteVectorized(spark, col("k") === 1)
    Seq("format(graft)" -> conn, "catalog table" -> table).foreach { case (what, df) =>
      assertSame(df, t.read(spark), what)
      assert(df.count() === 2L, what)
      assert(df.filter(col("v") =!= "b").count() === 1L, what)
    }
    assertSame(pinned, t.readVersion(spark, 0), "versionAsOf")
    // a column the read was defined with that the snapshot no longer has
    // fails the query instead of reading another column
    t.renameColumn("v", "label")
    val ex = intercept[Exception](conn.filter(col("k") > 0).collect())
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("read it again")), ex)
    assert(spark.read.format("graft").load(root).columns.toSeq === Seq("k", "label", "p"))
  }
}
