package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}

/** [[ManifestFileIndex]] skips files by their parquet footers at planning
  * time, on tables that record no stats in the log. Two properties:
  *  - rows and schema of `read().filter(p)` equal an unpruned
  *    `spark.read.parquet` of the same files, for every predicate shape the
  *    parquet reader pushes and across schema evolution, column mapping
  *    and deletion vectors;
  *  - the scan's `numFiles` is the number of files whose footer min/max
  *    (or null count) admits the predicate, and footers are read once per
  *    JVM, not once per handle.
  */
class FooterSkippingSpec extends SparkSpec {
  import spark.implicits._

  private def rows(d: DataFrame): Seq[String] =
    d.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  /** The same files through Spark's own file index: no planning-time skip. */
  private def unpruned(t: MergeTable, physSchema: StructType, select: Seq[Column]): DataFrame =
    spark.read.schema(physSchema)
      .parquet(t.filesOf(t.currentVersion).map(f => s"${t.root}/$f"): _*).select(select: _*)

  private def identity(t: MergeTable): DataFrame = {
    val s = t.schemaOf(t.currentVersion)
    unpruned(t, s, s.fieldNames.toSeq.map(col))
  }

  /** Same rows and schema as the reference, which must hold some rows
    * unless `empty`; returns the files the graft read scanned (counted on
    * the first run: a second run resets the scan's metrics).
    */
  private def check(got: DataFrame, want: DataFrame, empty: Boolean = false): Long = {
    val scanned = filesScanned(got)
    assert(got.schema === want.schema)
    val g = rows(got)
    assert(g === rows(want))
    assert(g.isEmpty === empty)
    scanned
  }

  private val day0 = java.time.LocalDate.parse("2026-01-01")
  private val ts0 = java.time.LocalDateTime.parse("2026-01-01T00:00:00")

  /** Ten files, file i holding ids 10i..10i+9; `n` is all-NULL in the even
    * files and non-null in the odd ones.
    */
  private def tenFiles(name: String): MergeTable = {
    val t = new MergeTable(scratch(name))
    for (i <- 0 until 10) {
      val df = (10 * i until 10 * i + 10).map { id =>
        (id.toLong, f"s$id%03d", java.sql.Date.valueOf(day0.plusDays(id)),
          java.sql.Timestamp.valueOf(ts0.plusHours(id)),
          if (i % 2 == 0) None else Some(id))
      }.toDF("id", "s", "d", "ts", "n").repartition(1)
      if (i == 0) t.overwrite(df) else t.append(df)
    }
    assert(t.filesOf(t.currentVersion).size === 10)
    assert(t.statsOf(t.currentVersion).values.forall(_.isEmpty),
      "the table must record no column stats")
    t
  }

  test("every pushed predicate shape: rows match spark.read, numFiles is the footer-admitted count") {
    val t = tenFiles("fskip_shapes")
    val got = t.read(spark)
    val want = identity(t)
    val date = (n: Int) => lit(java.sql.Date.valueOf(day0.plusDays(n)))
    val stamp = (n: Int) => lit(java.sql.Timestamp.valueOf(ts0.plusHours(n)))
    // predicate → files whose footer admits it
    val cases = Seq[(Column, Long)](
      (col("id") === 5L, 1L),
      (col("id") <=> 5L, 1L),
      (col("id") > 70L, 3L),
      (col("id").between(20L, 35L), 2L),
      (col("id").isin(3L, 45L), 2L),
      // more than 10 values push as the range min..max of the list
      (col("id").isin((21L to 32L): _*), 2L),
      (col("id").isin(((1L to 11L) :+ 95L): _*), 10L),
      (col("n").isNull, 5L),
      (col("n").isNotNull, 5L),
      (col("n") === 13, 1L),
      (col("s") === "s005", 1L),
      (col("s") >= "s090", 1L),
      (col("d") === date(42), 1L),
      (col("d") < date(10), 1L),
      (col("ts") >= stamp(85), 2L),
      (col("ts") === stamp(33), 1L),
      (col("id") === 5L && col("s") === "s005", 1L))
    for ((p, n) <- cases)
      assert(check(got.filter(p), want.filter(p)) === n, s"files scanned for $p")
    // no row matches: the relation scans no file at all
    assert(check(got.filter(col("id") === 1000L), want.filter(col("id") === 1000L),
      empty = true) === 0L)
    // no data filter: every file
    assert(filesScanned(got) === 10L)
  }

  test("MICROS and MILLIS timestamps of a converted table skip by their own unit") {
    for (unit <- Seq("TIMESTAMP_MICROS", "TIMESTAMP_MILLIS")) {
      val dir = s"${scratch(s"fskip_ts_${unit.toLowerCase}")}/data"
      val prior = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
      spark.conf.set("spark.sql.parquet.outputTimestampType", unit)
      try for (i <- 0 until 4)
        (0 until 5).map(j => (i * 5 + j, java.sql.Timestamp.valueOf(ts0.plusDays(i * 5 + j))))
          .toDF("k", "ts").repartition(1).write.mode("append").parquet(dir)
      finally prior.fold(spark.conf.unset("spark.sql.parquet.outputTimestampType"))(
        spark.conf.set("spark.sql.parquet.outputTimestampType", _))
      val t = MergeTable.convertParquet(spark, dir)
      assert(t.filesOf(t.currentVersion).size === 4)
      val got = t.read(spark)
      val want = identity(t)
      val at = (d: Int) => lit(java.sql.Timestamp.valueOf(ts0.plusDays(d)))
      assert(check(got.filter(col("ts") >= at(15)), want.filter(col("ts") >= at(15))) === 1L,
        unit)
      assert(check(got.filter(col("ts") === at(7)), want.filter(col("ts") === at(7))) === 1L,
        unit)
      assert(check(got.filter(col("ts") < at(10)), want.filter(col("ts") < at(10))) === 2L,
        unit)
    }
  }

  test("a sub-millisecond bound keeps a TIMESTAMP_MILLIS file of its rounded value") {
    // the file's one row holds 10 ms; `< 10.5 ms` used to push to the
    // row-group filter as `< 10 ms` and skip it
    val dir = s"${scratch("fskip_ts_submillis")}/data"
    withConf("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MILLIS")(
      Seq((1, java.sql.Timestamp.valueOf(ts0.plusNanos(10000000L)))).toDF("k", "ts")
        .repartition(1).write.parquet(dir))
    val t = MergeTable.convertParquet(spark, dir)
    val bound = lit(java.sql.Timestamp.valueOf(ts0.plusNanos(10500000L)))
    for (p <- Seq(col("ts") < bound, bound > col("ts"))) {
      assert(check(t.read(spark).filter(p), identity(t).filter(p)) === 1L, s"$p")
      assert(t.pruneFilesFor(spark, t.currentVersion,
        Seq(org.apache.spark.sql.sources.LessThan("ts", java.sql.Timestamp.valueOf(
          ts0.plusNanos(10500000L))))) === t.filesOf(t.currentVersion))
    }
  }

  test("an added column: files without it keep, files with it skip by its stats") {
    val t = new MergeTable(scratch("fskip_added"))
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(1))
    t.append(Seq((3L, "c")).toDF("id", "v").repartition(1))
    t.addColumns(new StructType().add("c", IntegerType))
    t.append(Seq((4L, "d", 10), (5L, "e", 11)).toDF("id", "v", "c").repartition(1))
    t.append(Seq((6L, "f", 20)).toDF("id", "v", "c").repartition(1))
    val got = t.read(spark)
    val want = identity(t)
    // the two old files cannot prove `c` absent from the predicate, so keep
    assert(check(got.filter(col("c") === 20), want.filter(col("c") === 20)) === 3L)
    assert(check(got.filter(col("c").isNull), want.filter(col("c").isNull)) === 2L)
    assert(check(got.filter(col("c") < 15 && col("id") > 3L),
      want.filter(col("c") < 15 && col("id") > 3L)) === 1L)
  }

  test("a renamed column skips by its physical name; the old name never resurrects") {
    val t = new MergeTable(scratch("fskip_colmap"))
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(1))
    t.append(Seq((3L, "x"), (4L, "y")).toDF("id", "v").repartition(1))
    t.renameColumn("v", "w")
    t.append(Seq((5L, "x")).toDF("id", "w").repartition(1))
    val s = t.schemaOf(t.currentVersion)
    val mapping = t.columnMapping
    assert(mapping.nonEmpty)
    val phys = StructType(s.fields.map(f => f.copy(name = mapping.getOrElse(f.name, f.name))))
    val want = unpruned(t, phys,
      s.fields.toSeq.map(f => col(mapping.getOrElse(f.name, f.name)).as(f.name)))
    val got = t.read(spark)
    assert(check(got.filter(col("w") === "x"), want.filter(col("w") === "x")) === 2L)
    assert(check(got.filter(col("w") < "b"), want.filter(col("w") < "b")) === 1L)
  }

  test("a dv-masked file: skipping composes with the mask") {
    val t = new MergeTable(scratch("fskip_dv"))
    t.overwrite(spark.range(0, 20).toDF("id").repartition(1))
    t.append(spark.range(20, 40).toDF("id").repartition(1))
    t.append(spark.range(40, 60).toDF("id").repartition(1))
    t.deleteVectorized(spark, col("id") === 25L || col("id") === 45L)
    assert(t.deletionVectors.nonEmpty)
    val want = identity(t).filter(col("id") =!= 25L && col("id") =!= 45L)
    val got = t.read(spark)
    assert(check(got.filter(col("id") === 25L), want.filter(col("id") === 25L),
      empty = true) === 1L)
    assert(check(got.filter(col("id").between(24L, 26L)),
      want.filter(col("id").between(24L, 26L))) === 1L)
    assert(check(got.filter(col("id") >= 45L), want.filter(col("id") >= 45L)) === 1L)
  }

  test("an int column widened to long: INT32 footers skip under long predicates") {
    val t = new MergeTable(scratch("fskip_widen"))
    t.overwrite(Seq((1, "a"), (2, "b")).toDF("k", "v").repartition(1))
    t.append(Seq((30, "c")).toDF("k", "v").repartition(1))
    t.alterColumnType("k", LongType)
    t.append(Seq((5000000000L, "w")).toDF("k", "v").repartition(1))
    val got = t.read(spark)
    val want = identity(t)
    assert(got.schema("k").dataType === LongType)
    assert(check(got.filter(col("k") === 30L), want.filter(col("k") === 30L)) === 1L)
    // a value beyond int range cannot push to an INT32 file: it keeps
    assert(check(got.filter(col("k") === 5000000000L),
      want.filter(col("k") === 5000000000L)) === 3L)
    assert(check(got.filter(col("k") > 10L), want.filter(col("k") > 10L)) === 2L)
  }

  test("footers are read once per JVM: a fresh handle's repeated scan reads none") {
    val t = tenFiles("fskip_cache")
    val p = col("id") === 42L
    val before = ManifestFileIndex.footerReads.get
    assert(filesScanned(new MergeTable(t.root).read(spark).filter(p)) === 1L)
    assert(ManifestFileIndex.footerReads.get - before === 10L)
    val again = ManifestFileIndex.footerReads.get
    assert(filesScanned(new MergeTable(t.root).read(spark).filter(p)) === 1L)
    assert(filesScanned(new MergeTable(t.root).read(spark).filter(col("id") > 70L)) === 3L)
    assert(ManifestFileIndex.footerReads.get === again, "a cached footer was read again")
    // a rewritten file is a new key: its footer is read, the others are not
    t.delete(spark, col("id") === 43L)
    val afterDelete = ManifestFileIndex.footerReads.get
    assert(filesScanned(new MergeTable(t.root).read(spark).filter(p)) === 1L)
    assert(ManifestFileIndex.footerReads.get - afterDelete <= 1L)
  }
}
