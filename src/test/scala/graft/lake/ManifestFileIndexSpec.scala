package graft.lake

import graft.SparkSpec
import graft.plans.MvCatalog
import graft.sqlapi.LakeSql
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, GraftSqlShims}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.{col, concat, lit}
import org.apache.spark.sql.types.{LongType, StructType}
import scala.collection.mutable

/** [[ManifestFileIndex]]: every snapshot read scans ONE relation built from
  * the log's file list. Two properties:
  *  - no Spark job lists files for a read, time-travel read, delete or
  *    merge, even on a plain [[graft.Sessions]] session and with more
  *    files in one data dir than Spark's parallel-listing threshold (32);
  *  - the rows, `inputFiles`, `rootPaths` and size equal the per-data-dir
  *    `spark.read.option("basePath", dataDir).parquet(...)` union the
  *    index replaced, across the partition-value, column-mapping, deletion
  *    vector, row-id and time-travel shapes.
  */
class ManifestFileIndexSpec extends SparkSpec {
  import spark.implicits._

  /** Descriptions of the Spark jobs `body` started. */
  private def jobsDuring(body: => Unit): Seq[String] = {
    val seen = mutable.ArrayBuffer.empty[String]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.synchronized {
        seen += Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
      }
    }
    spark.sparkContext.addSparkListener(l)
    try { body; GraftSqlShims.waitForListenerBus(spark) }
    finally spark.sparkContext.removeSparkListener(l)
    seen.synchronized(seen.toList)
  }

  /** The read the index replaced: one `spark.read.parquet` per data dir
    * with that dir as `basePath`, each projected, then unioned.
    */
  private def viaSparkRead(t: MergeTable, files: Seq[String], physSchema: StructType,
                           select: Seq[Column]): DataFrame =
    files.groupBy(_.takeWhile(_ != '/')).toSeq.sortBy(_._1).map { case (dir, rel) =>
      spark.read.option("basePath", s"${t.root}/$dir").schema(physSchema)
        .parquet(rel.map(r => s"${t.root}/$r"): _*).select(select: _*)
    }.reduce(_ unionByName _)

  private def identitySelect(s: StructType): Seq[Column] = s.fieldNames.toSeq.map(col)

  private def rows(d: DataFrame): Seq[String] =
    d.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema === want.schema)
    val g = rows(got)
    assert(g.nonEmpty)
    assert(g === rows(want))
  }

  private def relations(d: DataFrame) =
    d.queryExecution.analyzed.collect { case r: LogicalRelation => r.relation }

  test("read, readVersion, delete and merge run no file-listing job") {
    val t = new MergeTable(scratch("mfi_nolist"), Seq("day"))
    def days(ids: Range, ds: Int*) = ids.map(i => (i.toLong, ds(i % ds.size), s"v$i"))
      .toDF("k", "day", "v").repartition(1)
    t.overwrite(days(0 until 360, 0 until 36: _*)) // 36 files in one data dir
    t.append(days(360 until 400, 36 until 40: _*))
    t.append(days(400 until 440, 40 until 44: _*))
    val files = t.filesOf(t.currentVersion)
    assert(files.size >= 40)
    assert(files.map(_.takeWhile(_ != '/')).distinct.size >= 3)
    assert(files.groupBy(_.takeWhile(_ != '/')).values.exists(_.size > 32),
      "one data dir must hold more files than Spark's parallel-listing threshold")

    val jobs = jobsDuring {
      assert(t.read(spark).count() === 440)
      assert(t.readVersion(spark, 0).count() === 360)
      t.delete(spark, col("k") === 7L)
      t.merge(spark, Seq((3L, 3, "m"), (1000L, 5, "new")).toDF("k", "day", "v"), Seq("k"))
    }
    assert(jobs.nonEmpty)
    val listing = jobs.filter(_.startsWith("Listing leaf files and directories"))
    assert(listing.isEmpty, s"listing jobs ran: ${listing.mkString("; ")}")
    assert(t.read(spark).count() === 440)
    assert(t.read(spark).filter(col("k") === 3L).select("v").as[String].collect() === Array("m"))
  }

  test("null and escaped partition values, pruning and index properties match spark.read") {
    val t = new MergeTable(scratch("mfi_parts"), Seq("p"))
    val values = Seq[String](null, "a b", "50%", "x:y", "s/t", "plain")
    t.overwrite(values.zipWithIndex.map { case (p, i) => (i, s"v$i", p) }.toDF("k", "v", "p"))
    t.append(values.zipWithIndex.map { case (p, i) => (i + 10, s"w$i", p) }.toDF("k", "v", "p"))
    val v = t.currentVersion
    val files = t.filesOf(v)
    assert(files.map(_.takeWhile(_ != '/')).distinct.size === 2)
    val schema = t.schemaOf(v)
    val got = t.read(spark)
    val want = viaSparkRead(t, files, schema, identitySelect(schema))
    assertSame(got, want)
    assert(got.select("p").distinct().as[String].collect().toSet === values.toSet)
    // index properties the MV matcher and planner read
    assert(got.inputFiles.toSet === want.inputFiles.toSet)
    assert(MvCatalog.rootPathsOf(got.queryExecution.analyzed) ===
      MvCatalog.rootPathsOf(want.queryExecution.analyzed))
    assert(relations(got).map(_.sizeInBytes).sum === relations(want).map(_.sizeInBytes).sum)
    assert(relations(got).size === 1)
    // partition filters prune in the index: 2 files per partition value
    for (pred <- Seq(col("p").isNull, col("p") === "a b", col("p") === "50%",
                     col("p") === "x:y", col("p") === "s/t")) {
      assertSame(got.filter(pred), want.filter(pred))
      assert(filesScanned(got.filter(pred)) === 2L, s"pruning for $pred")
    }
  }

  test("a renamed then dropped column reads as spark.read of the physical columns") {
    val t = new MergeTable(scratch("mfi_colmap"), Seq("p"))
    t.overwrite(Seq((1, "a", "x", "p1"), (2, "b", "y", "p2")).toDF("k", "v", "w", "p"))
    t.renameColumn("w", "w2")
    t.renameColumn("v", "label")
    t.dropColumn("label")
    t.addColumns(new StructType().add("v", "string"))
    t.append(Seq((3, "z", "p1", "fresh")).toDF("k", "w2", "p", "v"))
    val v = t.currentVersion
    val schema = t.schemaOf(v)
    val mapping = t.columnMapping
    assert(mapping.nonEmpty)
    val phys = StructType(schema.fields.map(f => f.copy(name = mapping.getOrElse(f.name, f.name))))
    val got = t.read(spark)
    assertSame(got, viaSparkRead(t, t.filesOf(v), phys,
      schema.fields.toSeq.map(f => col(mapping.getOrElse(f.name, f.name)).as(f.name))))
    // the dropped data never resurrects under the re-added name
    assert(got.filter(col("v").isNotNull).select("k").as[Int].collect() === Array(3))
  }

  test("a dv-masked delete reads as spark.read minus the deleted rows") {
    val t = new MergeTable(scratch("mfi_dv"), Seq("p"))
    t.overwrite(spark.range(60).select(col("id").as("k"),
      concat(lit("p"), (col("id") % 3).cast("string")).as("p")))
    t.append(spark.range(60, 90).select(col("id").as("k"),
      concat(lit("p"), (col("id") % 3).cast("string")).as("p")))
    val gone = col("k") % 4 === 0L
    t.deleteVectorized(spark, gone)
    val v = t.currentVersion
    assert(t.deletionVectors.nonEmpty)
    assert(t.filesOf(v) === t.filesOf(v - 1), "a dv delete rewrites no file")
    val schema = t.schemaOf(v)
    assertSame(t.read(spark),
      viaSparkRead(t, t.filesOf(v), schema, identitySelect(schema)).filter(!gone))
  }

  test("readWithRowIds and VERSION AS OF read as spark.read of the same files") {
    val t = new MergeTable(scratch("mfi_ids"), Seq("p"), rowTracking = true)
    t.overwrite(Seq((1, "a", "p1"), (2, "b", "p2"), (3, "c", "p1")).toDF("k", "v", "p"))
    t.append(Seq((4, "d", "p2")).toDF("k", "v", "p"))
    t.delete(spark, col("k") === 1)
    val v = t.currentVersion
    val schema = t.schemaOf(v)
    val withIds = schema.add(MergeTable.RowIdCol, LongType)
    assertSame(t.readWithRowIds(spark),
      viaSparkRead(t, t.filesOf(v), withIds, identitySelect(withIds)))

    val s1 = t.schemaOf(1)
    val want = viaSparkRead(t, t.filesOf(1), s1, identitySelect(s1))
    assertSame(t.readVersion(spark, 1), want)
    // the SQL surface applies the table's declared nullability on top
    val old = LakeSql.query(spark, "SELECT * FROM tbl VERSION AS OF 1", Map("tbl" -> t))
    assert(old.columns === want.columns)
    assert(rows(old) === rows(want))
    assert(old.count() === 4)
  }
}
