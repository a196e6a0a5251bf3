package graft.sqlapi

import graft.SparkSpec
import graft.lake.MergeTable
import org.apache.spark.sql.functions.col

/** LakeSql: the DELETE / UPDATE / VERSION AS OF statement surface over
  * MergeTable — parse discipline (loud failures outside the supported
  * shapes) and agreement with the API twins.
  */
class LakeSqlSpec extends SparkSpec {
  import spark.implicits._

  private def seeded(name: String): MergeTable = {
    val t = new MergeTable(scratch(name), Seq("p"))
    t.overwrite(Seq((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"))
      .toDF("k", "v", "p"))
    t
  }

  private def asSet(t: MergeTable) =
    t.read(spark).select("k", "v", "p").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet

  test("DELETE FROM removes predicate-TRUE rows via the statement path") {
    val t = seeded("lsql_del")
    LakeSql.run(spark, "DELETE FROM tbl WHERE p = 'p1' AND k < 2", Map("tbl" -> t))
    assert(asSet(t) === Set((2, "b", "p1"), (3, "c", "p2")))
  }

  test("UPDATE SET applies top-level-comma-split assignments with WHERE") {
    val t = seeded("lsql_upd")
    // a comma INSIDE a function call must not split the SET list
    LakeSql.run(spark,
      "UPDATE tbl SET v = concat(v, '!'), p = 'p9' WHERE k IN (1, 3)",
      Map("tbl" -> t))
    assert(asSet(t) === Set((1, "a!", "p9"), (2, "b", "p1"), (3, "c!", "p9")))
  }

  test("SELECT ... VERSION AS OF reads a snapshot; bare names read the tip") {
    val t = seeded("lsql_tt")
    t.delete(spark, col("k") === 1) // v1
    val old = LakeSql.query(spark,
      "SELECT count(*) AS n FROM tbl VERSION AS OF 0", Map("tbl" -> t))
    assert(old.head().getLong(0) === 3)
    // versioned and current reads compose in ONE statement
    val joined = LakeSql.query(spark,
      """SELECT count(*) AS gone FROM tbl VERSION AS OF 0 o
        |LEFT ANTI JOIN tbl c ON o.k = c.k""".stripMargin, Map("tbl" -> t))
    assert(joined.head().getLong(0) === 1)
  }

  test("DESCRIBE HISTORY and SHOW PARTITIONS route through query()") {
    val t = seeded("lsql_hist")
    t.delete(spark, col("p") === "p2") // v1: drops partition p2 entirely
    val hist = LakeSql.query(spark, "DESCRIBE HISTORY tbl", Map("tbl" -> t))
      .select("version", "operation").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(hist === Seq((1L, "DELETE"), (0L, "WRITE")))
    val parts = LakeSql.query(spark, "SHOW PARTITIONS tbl", Map("tbl" -> t))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(parts.map(_._1).toSeq === Seq("p1")) // deleted partition vanishes
    assert(parts.forall(_._2 >= 1L))            // manifest-consistent file counts
    // n_files agrees with the manifest, partition by partition
    val manifestFiles = t.filesOf(t.currentVersion).count(_.contains("p=p1"))
    assert(parts.head._2 === manifestFiles.toLong)
  }

  test("DESCRIBE DETAIL reports commit-log facts, through query() and spark.sql") {
    val t = seeded("lsql_detail")
    t.deleteVectorized(spark, col("k") === 1) // v1: one masked row
    val d = LakeSql.query(spark, "DESCRIBE DETAIL tbl", Map("tbl" -> t)).head()
    assert(d.getAs[String]("format") === "graft-parquet")
    assert(d.getAs[Long]("version") === 1L)
    assert(d.getAs[Long]("num_files") === t.filesOf(1).size.toLong)
    assert(d.getAs[Long]("size_bytes") > 0L)
    assert(d.getAs[Seq[String]]("partition_columns") === Seq("p"))
    assert(d.getAs[Long]("num_deletion_vectors") === 1L)
    assert(d.getAs[Long]("num_masked_rows") === 1L)
    assert(d.getAs[Long]("num_constraints") === 0L)
    // and as a rows-returning command through the injected parser
    LakeCatalog.register("detail_tbl", t)
    try {
      val row = spark.sql("DESCRIBE DETAIL detail_tbl").head()
      assert(row.getAs[Long]("num_masked_rows") === 1L)
      assert(row.getAs[Long]("version") === 1L)
    } finally LakeCatalog.unregister("detail_tbl")
  }

  test("INSERT INTO appends positionally with store-assignment casts") {
    val t = seeded("lsql_insert")
    val before = t.read(spark).count()
    // VALUES in table-column POSITION order (k, v, p); int → the k column
    LakeSql.run(spark, "INSERT INTO tbl VALUES (7, 'g', 'p9')", Map("tbl" -> t))
    assert(t.read(spark).count() === before + 1)
    assert(t.read(spark).filter(col("k") === 7).select("p").as[String](
      org.apache.spark.sql.Encoders.STRING).head() === "p9")
    // column-count mismatch fails loudly
    intercept[IllegalArgumentException] {
      LakeSql.run(spark, "INSERT INTO tbl VALUES (8, 'h')", Map("tbl" -> t))
    }
  }

  test("TBLPROPERTIES: SET / UNSET / SHOW, dotted and quoted keys, clone carry") {
    val t = seeded("lsql_props")
    // user-visible properties only: the engine records its own under the
    // graft. prefix (partition layout, row tracking, hwms)
    def userProps(m: Map[String, String]) = m.filterNot(_._1.startsWith("graft."))
    LakeSql.run(spark,
      "ALTER TABLE tbl SET TBLPROPERTIES ('owner.team' = 'data-eng', quality = 'gold')",
      Map("tbl" -> t))
    assert(userProps(t.properties) === Map("owner.team" -> "data-eng", "quality" -> "gold"))
    val shown = LakeSql.query(spark, "SHOW TBLPROPERTIES tbl", Map("tbl" -> t))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown === t.properties)
    LakeSql.run(spark, "ALTER TABLE tbl UNSET TBLPROPERTIES (quality, missing)",
      Map("tbl" -> t))
    assert(userProps(t.properties) === Map("owner.team" -> "data-eng"))
    // through the injected parser, and the value is stored verbatim
    LakeCatalog.register("props_tbl", t)
    try {
      spark.sql("ALTER TABLE props_tbl SET TBLPROPERTIES (stage = 'prod, v2')")
      val rows = spark.sql("SHOW TBLPROPERTIES props_tbl")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(userProps(rows) === Map("owner.team" -> "data-eng", "stage" -> "prod, v2"))
    } finally LakeCatalog.unregister("props_tbl")
    // clone carries properties; a data write carries them forward
    val c = t.cloneTo(t.root + "_props_clone")
    assert(c.properties === t.properties)
    t.update(spark, col("k") === 1, Map("v" -> org.apache.spark.sql.functions.lit("z")))
    assert(t.properties("owner.team") === "data-eng")
  }

  test("CTAS: CREATE TABLE USING GRAFT via spark.sql, partitioned + properties; DROP unregisters") {
    val t = seeded("lsql_ctas_src")
    LakeCatalog.register("ctas_src", t)
    try {
      // first lake statement of its kind: routed on the USING GRAFT tag even
      // though the target is unregistered
      spark.sql(s"""CREATE TABLE ctas_dst USING GRAFT PARTITIONED BY (p)
                   |LOCATION '${t.root}_ctas_dst' TBLPROPERTIES (origin = 'ctas_src')
                   |AS SELECT k, v, p FROM ctas_src WHERE k <= 2""".stripMargin)
      val dst = LakeCatalog.targets("ctas_dst")
      assert(dst.partitionCols === Seq("p"))
      assert(dst.properties.filterNot(_._1.startsWith("graft.")) ===
        Map("origin" -> "ctas_src"))
      assert(dst.properties.get(MergeTable.PartitionColsProp).contains("p"))
      assert(spark.sql("SELECT k FROM ctas_dst").collect().map(_.getInt(0)).toSet === Set(1, 2))
      // same name again: plain CREATE fails, IF NOT EXISTS is a no-op
      val ex = intercept[IllegalArgumentException] {
        spark.sql(s"CREATE TABLE ctas_dst USING GRAFT LOCATION '${t.root}_x' AS SELECT 1 AS a")
      }
      assert(ex.getMessage.contains("already registered"))
      spark.sql(s"CREATE TABLE IF NOT EXISTS ctas_dst USING GRAFT " +
        s"LOCATION '${t.root}_y' AS SELECT 1 AS a")
      assert(LakeCatalog.targets("ctas_dst").root === s"${t.root}_ctas_dst")
      // DROP unregisters the name; data stays on disk (external semantics)
      spark.sql("DROP TABLE ctas_dst")
      assert(!LakeCatalog.targets.contains("ctas_dst"))
      assert(new MergeTable(s"${t.root}_ctas_dst", Seq("p")).read(spark).count() === 2)
      // a non-GRAFT create is never intercepted
      assert(!LakeSql.isCreateStatement(
        "CREATE TABLE x USING parquet LOCATION '/tmp/x' AS SELECT 1"))
    } finally {
      LakeCatalog.unregister("ctas_src"); LakeCatalog.unregister("ctas_dst")
    }
  }

  test("RESTORE TABLE ... TO VERSION AS OF rolls back via the statement path") {
    val t = seeded("lsql_restore")
    val before = t.read(spark).collect().toSet
    LakeSql.run(spark, "DELETE FROM tbl WHERE k = 1", Map("tbl" -> t))
    assert(t.read(spark).collect().toSet !== before)
    LakeSql.run(spark, "RESTORE TABLE tbl TO VERSION AS OF 0", Map("tbl" -> t))
    assert(t.read(spark).collect().toSet === before)
  }

  test("OPTIMIZE ZORDER BY routes to zorderCompact") {
    val t = seeded("lsql_zorder")
    val rows = t.read(spark).collect().toSet
    LakeSql.run(spark, "OPTIMIZE tbl ZORDER BY (k)", Map("tbl" -> t))
    assert(t.read(spark).collect().toSet === rows)
    val ops = t.history(spark).select("operation").as[String](
      org.apache.spark.sql.Encoders.STRING).collect().toSeq
    assert(ops.contains("OPTIMIZE ZORDER"))
  }

  test("VACUUM and OPTIMIZE statements route to the API twins") {
    val t = seeded("lsql_vac")
    t.update(spark, col("k") === 1, Map("v" -> org.apache.spark.sql.functions.lit("z"))) // v1
    val before = asSet(t)
    LakeSql.run(spark, "OPTIMIZE tbl WHERE p = 'p1'", Map("tbl" -> t)) // v2
    assert(t.history(spark).select("operation").head().getString(0) === "OPTIMIZE")
    assert(asSet(t) === before) // rewrite, not a semantic change
    LakeSql.run(spark, "VACUUM tbl RETAIN 1 VERSIONS", Map("tbl" -> t))
    // horizon advanced: pre-vacuum versions are no longer readable
    intercept[Exception] { t.readVersion(spark, 0).count() }
    assert(asSet(t) === before)
  }

  test("LakeCatalog + injected parser: the whole lake surface through spark.sql") {
    val t = seeded("lsql_cat")
    LakeCatalog.register("cat_tbl", t)
    try {
      spark.sql("DELETE FROM cat_tbl WHERE k = 1")
      assert(asSet(t) === Set((2, "b", "p1"), (3, "c", "p2")))
      spark.sql("UPDATE cat_tbl SET v = 'Z' WHERE k = 3")
      assert(asSet(t) === Set((2, "b", "p1"), (3, "Z", "p2")))
      import spark.implicits._
      Seq((4, "d", "p1")).toDF("k", "v", "p").createOrReplaceTempView("cat_src")
      spark.sql("MERGE INTO cat_tbl USING cat_src ON cat_tbl.k = cat_src.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      assert(asSet(t) === Set((2, "b", "p1"), (3, "Z", "p2"), (4, "d", "p1")))
      // metadata statements return ROWS through spark.sql
      val ops = spark.sql("DESCRIBE HISTORY cat_tbl")
        .select("operation").collect().map(_.getString(0)).toSeq
      assert(ops === Seq("MERGE", "UPDATE", "DELETE", "WRITE"))
      val parts = spark.sql("SHOW PARTITIONS cat_tbl").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      assert(parts.map(_._1).toSeq.sorted === Seq("p1", "p2"))
      // versioned and current reads compose in ONE spark.sql SELECT
      val gone = spark.sql(
        """SELECT count(*) AS n FROM cat_tbl VERSION AS OF 0 o
          |LEFT ANTI JOIN cat_tbl c ON o.k = c.k""".stripMargin).head().getLong(0)
      assert(gone === 1L) // k=1 deleted since v0
      // an unregistered name falls through to Spark's own parser
      intercept[Exception] { spark.sql("DELETE FROM never_registered WHERE k = 1") }
    } finally LakeCatalog.unregister("cat_tbl")
  }

  test("ADD/DROP CONSTRAINT route to the API twins through the statement path") {
    val t = seeded("lsql_chk")
    LakeSql.run(spark, "ALTER TABLE tbl ADD CONSTRAINT k_pos CHECK (k > 0)",
      Map("tbl" -> t))
    assert(t.checkConstraints === Seq("k_pos" -> "k > 0"))
    // enforcement rides the write: a violating append fails
    intercept[Exception] { t.append(Seq((-1, "z", "p1")).toDF("k", "v", "p")) }
    LakeSql.run(spark, "ALTER TABLE tbl DROP CONSTRAINT k_pos", Map("tbl" -> t))
    assert(t.checkConstraints.isEmpty)
    t.append(Seq((-1, "z", "p1")).toDF("k", "v", "p")) // now accepted
    assert(asSet(t).contains((-1, "z", "p1")))
  }

  test("REORG/FSCK/ALTER COLUMN TYPE/VACUUM DRY RUN route through the SQL surface") {
    val t = seeded("lsql_r7")
    // widening via SQL, then a wide write
    LakeSql.run(spark, "ALTER TABLE tbl ALTER COLUMN k TYPE bigint", Map("tbl" -> t))
    assert(t.schemaOf(t.currentVersion)("k").dataType ===
      org.apache.spark.sql.types.LongType)
    // dv delete + REORG PURGE via SQL
    t.deleteVectorized(spark, col("v") === "a")
    assert(t.deletionVectors.nonEmpty)
    LakeSql.run(spark, "REORG TABLE tbl APPLY (PURGE)", Map("tbl" -> t))
    assert(t.deletionVectors.isEmpty)
    // dry run returns path rows and deletes nothing
    val planned = LakeSql.query(spark, "VACUUM tbl RETAIN 1 VERSIONS DRY RUN",
      Map("tbl" -> t)).collect().map(_.getString(0))
    planned.foreach(p => assert(
      java.nio.file.Files.exists(java.nio.file.Paths.get(t.root, p))))
    // out-of-band loss + FSCK via SQL
    val victim = t.filesOf(t.currentVersion).head
    java.nio.file.Files.delete(java.nio.file.Paths.get(t.root, victim))
    LakeSql.run(spark, "FSCK REPAIR TABLE tbl", Map("tbl" -> t))
    assert(!t.filesOf(t.currentVersion).contains(victim))
    t.read(spark).count() // scans clean
  }

  test("RESTORE ... TIMESTAMP AS OF resolves in-commit time and rolls back") {
    // clock injected BEFORE v0 — a later real-clock v0 would clamp the
    // injected ticks away (in-commit timestamps are strictly increasing)
    val t = new MergeTable(scratch("lsql_rts"), Seq("p"))
    val base = 1754006400000L
    var tick = 0L
    t.clock = () => { tick += 1; base + tick * 60000L }
    t.overwrite(Seq((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"))
      .toDF("k", "v", "p"))                             // v0 @ base+1m
    t.delete(spark, col("k") === 1)                     // v1 @ base+2m
    t.update(spark, col("k") === 2, Map("v" ->
      org.apache.spark.sql.functions.lit("Z")))         // v2 @ base+3m
    val tsLit = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneId.systemDefault())
      .format(java.time.Instant.ofEpochMilli(base + 150000L)) // between v1 and v2
    LakeSql.run(spark, s"RESTORE TABLE tbl TO TIMESTAMP AS OF '$tsLit'", Map("tbl" -> t))
    assert(asSet(t) === Set((2, "b", "p1"), (3, "c", "p2"))) // v1's state
  }

  test("CREATE/DROP BLOOMFILTER INDEX route through the SQL surface") {
    val t = seeded("lsql_bloom")
    LakeSql.run(spark, "CREATE BLOOMFILTER INDEX ON TABLE tbl FOR COLUMNS (v)",
      Map("tbl" -> t))
    val all = t.filesOf(t.currentVersion).size
    val cand = t.bloomCandidateFiles(spark, "v", "a")
    assert(cand.size < all, s"expected pruning, got ${cand.size}/$all")
    assert(t.readPoint(spark, "v", "a").count() === 1L)
    LakeSql.run(spark, "DROP BLOOMFILTER INDEX ON TABLE tbl FOR COLUMNS (v)",
      Map("tbl" -> t))
    // footer skipping off: only the (dropped) Bloom index could prune
    assert(withConf("spark.sql.parquet.filterPushdown" -> "false")(
      t.bloomCandidateFiles(spark, "v", "a")).size === all,
      "dropped index must stop pruning")
    assert(t.readPoint(spark, "v", "a").count() === 1L)
  }

  test("statements outside the supported shapes fail loudly") {
    val t = seeded("lsql_bad")
    val ex = intercept[IllegalArgumentException] {
      LakeSql.run(spark, "REFRESH TABLE tbl", Map("tbl" -> t))
    }
    assert(ex.getMessage.contains("unsupported"))
    val ex2 = intercept[IllegalArgumentException] {
      LakeSql.run(spark, "DELETE FROM nope WHERE k = 1", Map("tbl" -> t))
    }
    assert(ex2.getMessage.contains("unknown table"))
  }

  test("TIMESTAMP AS OF resolves the version live at that wall-clock instant") {
    val t = seeded("lsql_ts") // v0
    // commit mtimes can be coarse on some filesystems — separate the two
    // commits (and the probe instant) by more than a second
    Thread.sleep(1100)
    val betweenMillis = System.currentTimeMillis()
    Thread.sleep(1100)
    t.delete(spark, col("k") === 1) // v1
    assert(t.versionAt(betweenMillis) === 0L)
    assert(t.versionAt(System.currentTimeMillis()) === 1L)
    intercept[IllegalArgumentException] { t.versionAt(0L) } // before first commit
    val lit = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneId.systemDefault())
      .format(java.time.Instant.ofEpochMilli(betweenMillis))
    val n = LakeSql.query(spark,
      s"SELECT count(*) AS n FROM tbl TIMESTAMP AS OF '$lit'", Map("tbl" -> t))
      .head().getLong(0)
    assert(n === 3L) // pre-delete snapshot
    // an unregistered name inside the literal passes through untouched
    intercept[Exception] {
      LakeSql.query(spark,
        s"SELECT * FROM nope TIMESTAMP AS OF '$lit'", Map("tbl" -> t)).collect()
    }
  }

  test("CREATE TABLE ... SHALLOW CLONE clones zero-copy through spark.sql") {
    val t = seeded("lsql_clone_src")
    LakeCatalog.register("cat_csrc", t)
    try {
      spark.sql("CREATE TABLE cat_cl SHALLOW CLONE cat_csrc " +
        s"LOCATION '${scratch("lsql_clone_dst")}'")
      assert(spark.sql("SELECT count(*) AS n FROM cat_cl").head().getLong(0) === 3)
      // copy-on-write: mutating the clone leaves the source untouched
      spark.sql("DELETE FROM cat_cl WHERE k = 1")
      assert(spark.sql("SELECT count(*) AS n FROM cat_cl").head().getLong(0) === 2)
      assert(asSet(t).size === 3)
      // name collision fails loudly; IF NOT EXISTS is a no-op
      intercept[Exception] {
        spark.sql("CREATE TABLE cat_cl SHALLOW CLONE cat_csrc " +
          s"LOCATION '${scratch("lsql_clone_d2")}'")
      }
      spark.sql("CREATE TABLE IF NOT EXISTS cat_cl SHALLOW CLONE cat_csrc " +
        s"LOCATION '${scratch("lsql_clone_d3")}'")
      assert(spark.sql("SELECT count(*) AS n FROM cat_cl").head().getLong(0) === 2)
    } finally { LakeCatalog.unregister("cat_csrc"); LakeCatalog.unregister("cat_cl") }
  }

  test("parseSetList splits on top-level commas only, including strings") {
    assert(LakeSql.parseSetList("a = coalesce(x, y), b = 'p,q', c = 1 + 2") ===
      Seq("a" -> "coalesce(x, y)", "b" -> "'p,q'", "c" -> "1 + 2"))
    val ex = intercept[IllegalArgumentException] {
      LakeSql.parseSetList("t.a = 1")
    }
    assert(ex.getMessage.contains("plain column name"))
  }

  test("DELETE FROM / UPDATE without WHERE touch every row (Delta semantics)") {
    val t = seeded("lsql_delall")
    LakeSql.run(spark, "DELETE FROM tbl", Map("tbl" -> t))
    assert(t.read(spark).count() === 0L)
    assert(t.currentVersion === 1L, "the full delete is a recorded commit")
    val u = seeded("lsql_updall")
    LakeSql.run(spark, "UPDATE tbl SET v = 'x'", Map("tbl" -> u))
    assert(asSet(u) === Set((1, "x", "p1"), (2, "x", "p1"), (3, "x", "p2")))
  }

  test("splitSetsWhere: parens and string literals shield the WHERE keyword") {
    assert(LakeSql.splitSetsWhere("c = (SELECT max(x) FROM s WHERE y = 1) WHERE p = 2") ===
      ("c = (SELECT max(x) FROM s WHERE y = 1)", Some("p = 2")))
    assert(LakeSql.splitSetsWhere("v = 'where'") === ("v = 'where'", None))
    assert(LakeSql.splitSetsWhere("v = 'where', w = 2 WHERE k = 1") ===
      ("v = 'where', w = 2", Some("k = 1")))
    assert(LakeSql.splitSetsWhere("v = nowhere") === ("v = nowhere", None))
    // end-to-end: a 'where' STRING in the SET list must not eat the real WHERE
    val t = seeded("lsql_updtok")
    LakeSql.run(spark, "UPDATE tbl SET v = 'where' WHERE k = 2", Map("tbl" -> t))
    assert(asSet(t) === Set((1, "a", "p1"), (2, "where", "p1"), (3, "c", "p2")))
  }

  test("CREATE TABLE (cols) USING GRAFT creates an empty v0; INSERT INTO fills it") {
    val loc = scratch("lsql_emptyddl")
    try {
      LakeSql.run(spark,
        s"""CREATE TABLE etab (k INT, v STRING, p STRING) USING GRAFT
           |PARTITIONED BY (p) LOCATION '$loc'
           |TBLPROPERTIES ('owner' = 'graft')""".stripMargin, Map.empty)
      val t = LakeCatalog.targets("etab")
      assert(t.currentVersion === 1L) // v0 schema + v1 properties commit
      assert(t.read(spark).count() === 0L)
      assert(t.schemaOf(0).fieldNames.toSeq === Seq("k", "v", "p"))
      assert(t.properties.get("owner").contains("graft"))
      LakeSql.run(spark, "INSERT INTO etab VALUES (1, 'a', 'p1'), (2, 'b', 'p2')",
        Map("etab" -> t))
      assert(asSet(t) === Set((1, "a", "p1"), (2, "b", "p2")))
      // partition layout honored from the first data write
      assert(t.filesOf(t.currentVersion).exists(_.contains("p=p1")))
      // a second CREATE collides loudly; IF NOT EXISTS is a no-op
      intercept[Exception](LakeSql.run(spark,
        s"CREATE TABLE etab (k INT) USING GRAFT LOCATION '${scratch("lsql_e2")}'", Map.empty))
      LakeSql.run(spark,
        s"CREATE TABLE IF NOT EXISTS etab (k INT) USING GRAFT LOCATION '${scratch("lsql_e3")}'",
        Map.empty)
      assert(asSet(t).size === 2)
      // a bogus partition column fails at CREATE time, not first write
      intercept[IllegalArgumentException](LakeSql.run(spark,
        s"CREATE TABLE etab2 (k INT) USING GRAFT PARTITIONED BY (nope) LOCATION '${scratch("lsql_e4")}'",
        Map.empty))
    } finally LakeCatalog.unregister("etab")
  }

  test("INSERT with a column list NULL-fills unlisted; INSERT OVERWRITE replaces") {
    val t = seeded("lsql_inslist")
    LakeSql.run(spark, "INSERT INTO tbl (p, k) VALUES ('p3', 7)", Map("tbl" -> t))
    assert(asSet(t).contains((7, null, "p3")), s"got ${asSet(t)}")
    assert(t.read(spark).count() === 4L)
    val ex = intercept[IllegalArgumentException](LakeSql.run(spark,
      "INSERT INTO tbl (nope) VALUES (1)", Map("tbl" -> t)))
    assert(ex.getMessage.contains("not in the"))
    LakeSql.run(spark, "INSERT OVERWRITE tbl SELECT 9, 'z', 'p9'", Map("tbl" -> t))
    assert(asSet(t) === Set((9, "z", "p9")))
  }

  test("CREATE TABLE DDL with GENERATED and IDENTITY columns derives on insert") {
    val loc = scratch("lsql_genddl")
    try {
      LakeSql.run(spark,
        s"""CREATE TABLE gtab (
           |  id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 10 INCREMENT BY 2),
           |  amount DECIMAL(10,2),
           |  doubled DOUBLE GENERATED ALWAYS AS (amount * 2),
           |  note STRING
           |) USING GRAFT LOCATION '$loc'""".stripMargin, Map.empty)
      val t = LakeCatalog.targets("gtab")
      // unlisted id + doubled derive in the write; note NULL-fills
      LakeSql.run(spark, "INSERT INTO gtab (amount) VALUES (1.50), (2.25), (4.00)",
        Map("gtab" -> t))
      val out = t.read(spark).select("id", "amount", "doubled", "note").collect()
      assert(out.map(_.getLong(0)).sorted === Array(10L, 12L, 14L))
      assert(out.map(r => (r.getDecimal(1).toPlainString, r.getDouble(2))).toSet ===
        Set(("1.50", 3.0), ("2.25", 4.5), ("4.00", 8.0)))
      assert(out.forall(_.isNullAt(3)))
      // DESCRIBE HISTORY LIMIT n caps the audit rows
      assert(LakeSql.query(spark, "DESCRIBE HISTORY gtab LIMIT 1", Map("gtab" -> t))
        .count() === 1L)
    } finally LakeCatalog.unregister("gtab")
  }

  test("VACUUM ... RETAIN n HOURS routes time-based retention (injected clock)") {
    val t = new MergeTable(scratch("lsql_vach"), Seq("p"))
    import spark.implicits._
    val ticks = Iterator(1000L, 3600000L, 7200000L) ++ Iterator.continually(7300000L)
    t.clock = () => ticks.next()
    t.overwrite(Seq((1, "a", "p1")).toDF("k", "v", "p")) // v0 @ ≈0h
    t.overwrite(Seq((2, "b", "p1")).toDF("k", "v", "p")) // v1 @ 1h
    t.overwrite(Seq((3, "c", "p1")).toDF("k", "v", "p")) // v2 @ 2h
    // now ≈ 2.03h, window 1h → only v2's commit is inside it
    val preview = LakeSql.query(spark, "VACUUM tbl RETAIN 1 HOURS DRY RUN", Map("tbl" -> t))
    assert(preview.columns.toSeq === Seq("path"))
    LakeSql.run(spark, "VACUUM tbl RETAIN 1 HOURS", Map("tbl" -> t))
    assert(t.vacuumHorizon === 2L)
    intercept[IllegalArgumentException](t.readVersion(spark, 1))
    assert(t.read(spark).count() === 1L)
  }

  test("TRUNCATE TABLE empties in one commit; history keeps the data") {
    val t = seeded("lsql_trunc")
    LakeSql.run(spark, "TRUNCATE TABLE tbl", Map("tbl" -> t))
    assert(t.read(spark).count() === 0L)
    assert(t.readVersion(spark, 0).count() === 3L, "pre-truncate snapshot intact")
  }

  test("COMMENT ON TABLE stores/clears the comment property") {
    val t = seeded("lsql_comment")
    LakeSql.run(spark, "COMMENT ON TABLE tbl IS 'call records'", Map("tbl" -> t))
    assert(t.properties.get("comment").contains("call records"))
    LakeSql.run(spark, "COMMENT ON TABLE tbl IS NULL", Map("tbl" -> t))
    assert(!t.properties.contains("comment"))
  }

  test("SHOW CREATE TABLE reconstructs schema, layout, location, properties") {
    val t = seeded("lsql_showcreate")
    t.setProperties(Map("graft.enableChangeDataFeed" -> "true"))
    LakeSql.run(spark, "ALTER TABLE tbl ALTER COLUMN v SET NOT NULL", Map("tbl" -> t))
    val stmt = LakeSql.query(spark, "SHOW CREATE TABLE tbl", Map("tbl" -> t))
      .head().getString(0)
    assert(stmt.contains("CREATE TABLE tbl ("))
    assert(stmt.contains("k INT") && stmt.contains("v STRING NOT NULL"))
    assert(stmt.contains("USING GRAFT"))
    assert(stmt.contains("PARTITIONED BY (p)"))
    assert(stmt.contains(s"LOCATION '${t.root}'"))
    assert(stmt.contains("'graft.enableChangeDataFeed' = 'true'"))
  }

  test("CREATE OR REPLACE TABLE swaps schema+layout in one commit, history intact") {
    val t = seeded("lsql_cor")
    val loc = t.root
    LakeCatalog.register("cor_t", t)
    try {
      Seq((10, 1.5, "x"), (20, 2.5, "y")).toDF("id", "score", "grp")
        .createOrReplaceTempView("cor_src")
      LakeSql.run(spark,
        s"CREATE OR REPLACE TABLE cor_t USING GRAFT PARTITIONED BY (grp) " +
          s"LOCATION '$loc' AS SELECT * FROM cor_src",
        Map.empty)
      val replaced = LakeCatalog.targets("cor_t")
      assert(replaced.read(spark).columns.toSet === Set("id", "score", "grp"))
      assert(replaced.read(spark).count() === 2L)
      assert(replaced.partitionCols === Seq("grp"), "layout replaced")
      assert(replaced.currentVersion === 1L, "replace is a commit, not a reset")
      // pre-replace snapshot still time-travels with its own schema
      val v0 = replaced.readVersion(spark, 0)
      assert(v0.columns.toSet === Set("k", "v", "p") && v0.count() === 3L)
      // absent location = plain create
      val loc2 = scratch("lsql_cor2")
      LakeSql.run(spark,
        s"CREATE OR REPLACE TABLE cor_new USING GRAFT LOCATION '$loc2' " +
          "AS SELECT * FROM cor_src",
        Map.empty)
      assert(LakeCatalog.targets("cor_new").currentVersion === 0L)
    } finally {
      LakeCatalog.unregister("cor_t"); LakeCatalog.unregister("cor_new")
    }
  }

  test("spark.sql path: SHOW CREATE TABLE / COMMENT ON / TRUNCATE route via the parser") {
    val t = seeded("lsql_sqlpath")
    LakeCatalog.register("sqlp_t", t)
    try {
      spark.sql("COMMENT ON TABLE sqlp_t IS 'via parser'")
      val stmt = spark.sql("SHOW CREATE TABLE sqlp_t").head().getString(0)
      assert(stmt.contains("'comment' = 'via parser'") && stmt.contains("USING GRAFT"))
      spark.sql("TRUNCATE TABLE sqlp_t")
      assert(t.read(spark).count() === 0L)
    } finally LakeCatalog.unregister("sqlp_t")
  }

  test("SHOW CREATE TABLE output is executable and recreates the definition") {
    import org.apache.spark.sql.functions.lit
    val loc = scratch("lsql_rt_src")
    LakeSql.run(spark,
      s"""CREATE TABLE rt_src (
         |  id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 10 INCREMENT BY 2),
         |  k INT, v STRING, yr INT GENERATED ALWAYS AS (k % 10), p STRING)
         |USING GRAFT PARTITIONED BY (p) CLUSTER BY (k)
         |LOCATION '$loc' TBLPROPERTIES (quality = 'gold')""".stripMargin, Map.empty)
    try {
      val stmt = LakeSql.query(spark, "SHOW CREATE TABLE rt_src", LakeCatalog.targets)
        .head().getString(0)
      assert(stmt.contains("GENERATED ALWAYS AS IDENTITY (START WITH 10 INCREMENT BY 2)"))
      assert(stmt.contains("GENERATED ALWAYS AS (k % 10)"))
      assert(stmt.contains("CLUSTER BY (k)"))
      assert(stmt.contains("'quality' = 'gold'"))
      assert(!stmt.contains("graft.partitionCols"),
        "clause-expressible facts must not leak into TBLPROPERTIES")
      // the emitted DDL is runnable: retarget name + location, execute
      val loc2 = scratch("lsql_rt_dst")
      LakeSql.run(spark,
        stmt.replace("CREATE TABLE rt_src", "CREATE TABLE rt_dst")
          .replace(s"LOCATION '$loc'", s"LOCATION '$loc2'"), LakeCatalog.targets)
      val dst = LakeCatalog.targets("rt_dst")
      val src = LakeCatalog.targets("rt_src")
      assert(dst.partitionCols === src.partitionCols)
      assert(dst.schemaOf(0).fieldNames.toSeq === src.schemaOf(0).fieldNames.toSeq)
      assert(dst.properties.get("quality").contains("gold"))
      assert(dst.properties.get(graft.lake.MergeTable.ClusterByProp)
        === src.properties.get(graft.lake.MergeTable.ClusterByProp))
      assert(dst.properties.get(graft.lake.MergeTable.GeneratedColsProp)
        === src.properties.get(graft.lake.MergeTable.GeneratedColsProp))
      // identity + generated columns derive on insert, with the declared seed
      LakeSql.run(spark, "INSERT INTO rt_dst (k, v, p) VALUES (7, 'x', 'p1')",
        LakeCatalog.targets)
      val row = dst.read(spark).select("id", "yr").head()
      assert(row.getLong(0) === 10L && row.getInt(1) === 7)
    } finally {
      LakeCatalog.unregister("rt_src"); LakeCatalog.unregister("rt_dst")
    }
  }

  test("ALTER TABLE RENAME TO moves the registration, never data") {
    val t = seeded("lsql_rename")
    LakeCatalog.register("ren_a", t)
    try {
      spark.sql("ALTER TABLE ren_a RENAME TO ren_b")
      assert(!LakeCatalog.targets.contains("ren_a"))
      assert(LakeCatalog.targets("ren_b").root === t.root)
      assert(spark.sql("SELECT count(*) AS n FROM ren_b").head().getLong(0) === 3L)
      // collision is loud
      LakeCatalog.register("ren_c", t)
      val ex = intercept[IllegalArgumentException](
        spark.sql("ALTER TABLE ren_b RENAME TO ren_c"))
      assert(ex.getMessage.contains("already registered"))
    } finally {
      LakeCatalog.unregister("ren_b"); LakeCatalog.unregister("ren_c")
    }
  }

  test("SHOW CREATE TABLE escapes apostrophes in property values; DDL round-trips") {
    val loc = scratch("lsql_quote_src")
    LakeSql.run(spark,
      s"CREATE TABLE qt_src (k INT, v STRING) USING GRAFT LOCATION '$loc'",
      Map.empty)
    try {
      LakeSql.run(spark,
        "COMMENT ON TABLE qt_src IS 'the caller''s table'", LakeCatalog.targets)
      assert(LakeCatalog.targets("qt_src").properties("comment") === "the caller's table")
      val stmt = LakeSql.query(spark, "SHOW CREATE TABLE qt_src", LakeCatalog.targets)
        .head().getString(0)
      assert(stmt.contains("'comment' = 'the caller''s table'"),
        s"apostrophe must be ''-escaped in the emitted DDL, got:\n$stmt")
      // the emitted DDL stays executable and the value survives the round trip
      val loc2 = scratch("lsql_quote_dst")
      LakeSql.run(spark,
        stmt.replace("CREATE TABLE qt_src", "CREATE TABLE qt_dst")
          .replace(s"LOCATION '$loc'", s"LOCATION '$loc2'"), LakeCatalog.targets)
      assert(LakeCatalog.targets("qt_dst").properties("comment") === "the caller's table")
    } finally {
      LakeCatalog.unregister("qt_src"); LakeCatalog.unregister("qt_dst")
    }
  }
}
