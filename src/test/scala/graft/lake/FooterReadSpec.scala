package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** [[MergeTable.readFooter]] reads a parquet footer straight from the
  * file's tail. It must decode to what parquet-hadoop's own reader sees —
  * row groups, row counts and per-column statistics — on every file shape
  * graft writes or adopts, and must answer None (not throw) for anything
  * that is not a readable parquet file, so the callers' fallbacks engage.
  */
class FooterReadSpec extends SparkSpec {
  import spark.implicits._

  /** parquet-hadoop's footer of `p`, through its own reader. */
  private def reference(p: Path): ParquetMetadata = {
    val in = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(p.toUri),
      new org.apache.hadoop.conf.Configuration())
    val r = ParquetFileReader.open(in)
    try r.getFooter finally r.close()
  }

  /** Schema, then per row group: row count and per column its path, type,
    * min, max and null count.
    */
  private def shape(m: ParquetMetadata): (String, Seq[(Long, Seq[String])]) =
    (m.getFileMetaData.getSchema.toString,
      m.getBlocks.asScala.toSeq.map(b => (b.getRowCount, b.getColumns.asScala.toSeq.map { c =>
        val s = c.getStatistics
        Seq(c.getPath.toDotString, c.getPrimitiveType.toString,
          String.valueOf(s.genericGetMin), String.valueOf(s.genericGetMax),
          if (s.isNumNullsSet) s.getNumNulls.toString else "?").mkString("|")
      })))

  private def parquetFiles(dir: String): Seq[Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator.asScala.filter(_.toString.endsWith(".parquet")).toSeq.sorted
    finally s.close()
  }

  private def assertMatchesReference(p: Path): ParquetMetadata = {
    val got = MergeTable.readFooter(p).getOrElse(fail(s"no footer read from $p"))
    assert(shape(got) === shape(reference(p)), s"footer of $p")
    got
  }

  private def rel(t: MergeTable, p: Path): String =
    Paths.get(t.root).toAbsolutePath.relativize(p.toAbsolutePath).toString

  private val rows = Seq(
    (1L, "a", 1.5, java.sql.Date.valueOf("2026-01-01")),
    (2L, null, -0.0, java.sql.Date.valueOf("2026-01-02")),
    (3L, "c", Double.NaN, null.asInstanceOf[java.sql.Date]))

  test("DataFrameWriter and direct-written files read as parquet-hadoop reads them") {
    val t = new MergeTable(scratch("footer_kinds"))
    t.overwrite(rows.toDF("k", "s", "d", "dt").repartition(1))
    val written = parquetFiles(t.root)
    assert(written.size === 1)
    written.foreach(assertMatchesReference)

    val before = MergeTable.directWrites.get
    t.merge(spark, Seq((2L, "b", 2.5, java.sql.Date.valueOf("2026-02-02")))
      .toDF("k", "s", "d", "dt"), Seq("k"))
    assert(MergeTable.directWrites.get === before + 1, "the merge must write directly")
    val direct = parquetFiles(t.root).filterNot(written.contains)
    assert(direct.nonEmpty)
    direct.foreach { p =>
      assertMatchesReference(p)
      assert(MergeTable.footerRowCount(t.root, rel(t, p)) === Some(3L))
    }
    // the stat derivation over the helper's footer sees the same rows
    val specs = Seq(("k", "k", org.apache.spark.sql.types.LongType),
      ("s", "s", org.apache.spark.sql.types.StringType))
    val stats = MergeTable.footerStatsOf(t.root, rel(t, direct.head), specs).get
    assert(stats.map(s => (s.col, s.mn, s.mx, s.nulls)).toSet === Set(
      (MergeTable.CountStatKey, "3", "3", None),
      ("k", "1", "3", Some(0L)), ("s", "a", "c", Some(0L))))
  }

  test("a file of several row groups: every group's counts and stats") {
    val dir = s"${scratch("footer_groups")}/data"
    spark.range(20000).select(col("id"), (col("id") % 97).cast("string").as("s"))
      .repartition(1)
      .write.option("parquet.block.size", "4096").parquet(dir)
    val Seq(p) = parquetFiles(dir)
    val m = assertMatchesReference(p)
    assert(m.getBlocks.size > 1, "the fixture must hold several row groups")
    assert(MergeTable.footerRowCount(dir, Paths.get(dir).relativize(p).toString) ===
      Some(20000L))
  }

  test("a zero-row file has a footer with no rows") {
    val dir = s"${scratch("footer_empty")}/data"
    spark.range(0).select(col("id"), col("id").cast("string").as("s"))
      .repartition(1).write.parquet(dir)
    val Seq(p) = parquetFiles(dir)
    assertMatchesReference(p)
    assert(MergeTable.footerRowCount(dir, p.getFileName.toString) === Some(0L))
  }

  test("truncated and non-parquet files: no footer, so no direct write") {
    val t = new MergeTable(scratch("footer_bad"))
    t.overwrite(rows.toDF("k", "s", "d", "dt").repartition(1))
    val Seq(good) = t.filesOf(t.currentVersion)
    assert(t.directWriteOk(spark, Seq(good)), "an intact file qualifies")
    val p = Paths.get(t.root, good)
    val bytes = Files.readAllBytes(p)

    Files.write(p, bytes.take(bytes.length / 2))
    assert(MergeTable.readFooter(p).isEmpty)
    assert(MergeTable.footerRowCount(t.root, good).isEmpty)
    assert(!t.directWriteOk(spark, Seq(good)))

    // the magic survives, the length points before the file start
    Files.write(p, bytes.take(4) ++ bytes.takeRight(8))
    assert(MergeTable.footerRowCount(t.root, good).isEmpty)
    assert(!t.directWriteOk(spark, Seq(good)))

    Files.writeString(p, "k,s\n1,a\n2,b\n")
    assert(MergeTable.footerRowCount(t.root, good).isEmpty)
    assert(MergeTable.footerStatsOf(t.root, good, Nil).isEmpty)
    assert(!t.directWriteOk(spark, Seq(good)))

    assert(MergeTable.footerRowCount(t.root, "no/such/file.parquet").isEmpty)
  }

  test("TIMESTAMP_MILLIS footers give bounds in micros, so a pruned read keeps the rows") {
    val dir = s"${scratch("footer_millis")}/data"
    val ts = Seq("2026-03-01 10:00:00", "2026-03-02 11:30:00.123").map(java.sql.Timestamp.valueOf)
    val outKey = "spark.sql.parquet.outputTimestampType"
    val prior = spark.conf.getOption(outKey)
    spark.conf.set(outKey, "TIMESTAMP_MILLIS")
    try Seq((1, ts(0)), (2, ts(1))).toDF("k", "ts").repartition(1).write.parquet(dir)
    finally prior.fold(spark.conf.unset(outKey))(spark.conf.set(outKey, _))
    val Seq(p) = parquetFiles(dir)
    assert(MergeTable.readFooter(p).get.getFileMetaData.getSchema.getFields.asScala
      .find(_.getName == "ts").get.asPrimitiveType.getLogicalTypeAnnotation.toString.contains("MILLIS"))

    val t = MergeTable.convertParquet(spark, dir)
    val minKey = MergeTable.FooterStatsMinBytesConf
    val priorMin = spark.conf.getOption(minKey)
    spark.conf.set(minKey, "0")
    try t.analyze(spark, Seq("ts"))
    finally priorMin.fold(spark.conf.unset(minKey))(spark.conf.set(minKey, _))
    val Seq(bounds) = t.statsOf(t.currentVersion).values.toSeq
    assert(bounds("ts") === ((ts(0).toString, ts(1).toString)))

    val since = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val want = t.read(spark).filter(col("ts") >= since)
    assert(want.count() === 2L)
    val pruned = readWhere(t, t.currentVersion,
      Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("ts", since)))
      .filter(col("ts") >= since)
    assert(pruned.count() === 2L)
  }
}
