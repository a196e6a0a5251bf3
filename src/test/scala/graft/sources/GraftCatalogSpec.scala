package graft.sources

import graft.SparkSpec
import graft.lake.MergeTable

/** The DSv2 catalog plugin (`spark.sql.catalog.x = GraftCatalog`) —
  * Spark's native multi-part-identifier SQL driving MergeTable: DDL,
  * DML, metadata commands, namespaces, renames, and catalog-routed
  * deletes, all with zero parser-extension involvement.
  */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  private lazy val cat: String = {
    val name = "gtest"
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", scratch("catalog_wh"))
    name
  }

  test("CREATE NAMESPACE / CREATE TABLE / INSERT / SELECT round-trip") {
    spark.sql(s"CREATE NAMESPACE $cat.lake")
    spark.sql(s"CREATE TABLE $cat.lake.t (k BIGINT, v STRING, p STRING) " +
      "PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO $cat.lake.t VALUES (1, 'a', 'p1'), (2, 'b', 'p2')")
    assert(spark.sql(s"SELECT k, v, p FROM $cat.lake.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq ===
      Seq((1L, "a", "p1"), (2L, "b", "p2")))
    // the catalog's state IS the commit log — an API handle on the same
    // warehouse path sees the identical table, partition layout included
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val api = MergeTable.open(s"$wh/lake/t")
    assert(api.partitionCols === Seq("p"))
    assert(api.filesOf(api.currentVersion).exists(_.contains("p=p1")))
  }

  test("CTAS, INSERT OVERWRITE, and DELETE FROM via SupportsDelete") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.dml")
    Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "x")
      .createOrReplaceTempView("ctas_src")
    spark.sql(s"CREATE TABLE $cat.dml.c AS SELECT * FROM ctas_src")
    assert(spark.sql(s"SELECT count(*) FROM $cat.dml.c").head.getLong(0) === 3L)
    spark.sql(s"DELETE FROM $cat.dml.c WHERE id = 2")
    assert(spark.sql(s"SELECT sum(x) FROM $cat.dml.c").head.getDouble(0) === 40.0)
    spark.sql(s"INSERT OVERWRITE $cat.dml.c SELECT * FROM ctas_src WHERE id = 1")
    assert(spark.sql(s"SELECT count(*) FROM $cat.dml.c").head.getLong(0) === 1L)
    spark.sql(s"TRUNCATE TABLE $cat.dml.c")
    assert(spark.sql(s"SELECT count(*) FROM $cat.dml.c").head.getLong(0) === 0L)
  }

  test("ALTER TABLE: add / rename / drop column and table properties") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.alter")
    spark.sql(s"CREATE TABLE $cat.alter.t (a INT, b STRING)")
    spark.sql(s"INSERT INTO $cat.alter.t VALUES (1, 'x')")
    spark.sql(s"ALTER TABLE $cat.alter.t ADD COLUMN c DOUBLE")
    spark.sql(s"INSERT INTO $cat.alter.t VALUES (2, 'y', 2.5)")
    assert(spark.sql(s"SELECT c FROM $cat.alter.t WHERE a = 1").head.isNullAt(0),
      "pre-evolution rows null-fill the added column")
    spark.sql(s"ALTER TABLE $cat.alter.t RENAME COLUMN b TO label")
    assert(spark.sql(s"SELECT label FROM $cat.alter.t WHERE a = 2")
      .head.getString(0) === "y")
    spark.sql(s"ALTER TABLE $cat.alter.t DROP COLUMN c")
    assert(!spark.table(s"$cat.alter.t").columns.contains("c"))
    spark.sql(s"ALTER TABLE $cat.alter.t SET TBLPROPERTIES ('graft.note' = 'hi')")
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    assert(MergeTable.open(s"$wh/alter/t").properties.get("graft.note")
      .contains("hi"))
    spark.sql(s"ALTER TABLE $cat.alter.t UNSET TBLPROPERTIES ('graft.note')")
    assert(!MergeTable.open(s"$wh/alter/t").properties.contains("graft.note"))
  }

  test("SHOW TABLES / SHOW NAMESPACES / RENAME TO / DROP TABLE") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.meta")
    spark.sql(s"CREATE TABLE $cat.meta.one (x INT)")
    assert(spark.sql(s"SHOW TABLES IN $cat.meta").select("tableName")
      .as[String].collect().contains("one"))
    assert(spark.sql(s"SHOW NAMESPACES IN $cat").select("namespace")
      .as[String].collect().contains("meta"))
    // the rename target is resolved inside the same catalog (Spark's
    // multi-part RENAME TO contract: no catalog prefix on the new name)
    spark.sql(s"ALTER TABLE $cat.meta.one RENAME TO meta.two")
    spark.sql(s"INSERT INTO $cat.meta.two VALUES (7)")
    assert(spark.sql(s"SELECT x FROM $cat.meta.two").head.getInt(0) === 7)
    assert(intercept[Exception](spark.table(s"$cat.meta.one").collect())
      .getMessage.toLowerCase.contains("table"))
    spark.sql(s"DROP TABLE $cat.meta.two")
    assert(spark.sql(s"SHOW TABLES IN $cat.meta").count() === 0L,
      "managed drop removes the table")
  }

  test("catalog DELETE routes through deletion vectors when the property is set") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.dv")
    spark.sql(s"CREATE TABLE $cat.dv.t (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('graft.enableDeletionVectors' = 'true')")
    spark.sql(s"INSERT INTO $cat.dv.t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val before = MergeTable.open(s"$wh/dv/t")
    val filesBefore = before.filesOf(before.currentVersion).toSet
    spark.sql(s"DELETE FROM $cat.dv.t WHERE id = 2")
    val after = MergeTable.open(s"$wh/dv/t")
    assert(after.filesOf(after.currentVersion).toSet === filesBefore,
      "dv-routed delete masks rows without rewriting any data file")
    assert(spark.sql(s"SELECT id FROM $cat.dv.t ORDER BY id").as[Long]
      .collect().toSeq === Seq(1L, 3L))
  }

  test("native time-travel SQL: VERSION AS OF / TIMESTAMP AS OF") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tt")
    spark.sql(s"CREATE TABLE $cat.tt.t (id BIGINT)")
    spark.sql(s"INSERT INTO $cat.tt.t VALUES (1)")       // v1
    spark.sql(s"INSERT INTO $cat.tt.t VALUES (2), (3)")  // v2
    assert(spark.sql(s"SELECT count(*) FROM $cat.tt.t VERSION AS OF 1")
      .head.getLong(0) === 1L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.tt.t VERSION AS OF 2")
      .head.getLong(0) === 3L)
    // a far-future timestamp resolves to the current version
    assert(spark.sql(s"SELECT count(*) FROM $cat.tt.t " +
      "TIMESTAMP AS OF '2100-01-01 00:00:00'").head.getLong(0) === 3L)
  }

  test("catalog-qualified UPDATE / MERGE INTO route through the lake DML surface") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.rdml")
    spark.sql(s"CREATE TABLE $cat.rdml.t (id BIGINT, v STRING, amt DOUBLE)")
    spark.sql(s"INSERT INTO $cat.rdml.t VALUES (1, 'a', 10.0), (2, 'b', 20.0)")
    // UPDATE has no native v2 executor — the parser resolves cat.ns.t
    // through the configured GraftCatalog and runs MergeTable.update
    spark.sql(s"UPDATE $cat.rdml.t SET amt = amt + 5 WHERE id = 2")
    assert(spark.sql(s"SELECT amt FROM $cat.rdml.t WHERE id = 2")
      .head.getDouble(0) === 25.0)
    Seq((2L, "B", 99.0), (3L, "c", 30.0)).toDF("id", "v", "amt")
      .createOrReplaceTempView("cat_merge_src")
    spark.sql(s"""MERGE INTO $cat.rdml.t AS t USING cat_merge_src AS s
                 |ON t.id = s.id
                 |WHEN MATCHED THEN UPDATE SET *
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql(s"SELECT id, v FROM $cat.rdml.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "a"), (2L, "B"), (3L, "c")))
    // maintenance + audit statements resolve the same way
    spark.sql(s"OPTIMIZE $cat.rdml.t")
    val hist = spark.sql(s"DESCRIBE HISTORY $cat.rdml.t")
    assert(hist.select("operation").as[String].collect().contains("MERGE"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.rdml.t").head.getLong(0) === 3L)
  }

  test("native ALTER COLUMN TYPE widens through the catalog") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.widen")
    spark.sql(s"CREATE TABLE $cat.widen.t (id INT, x INT)")
    spark.sql(s"INSERT INTO $cat.widen.t VALUES (1, 100)")
    spark.sql(s"ALTER TABLE $cat.widen.t ALTER COLUMN x TYPE BIGINT")
    spark.sql(s"INSERT INTO $cat.widen.t VALUES (2, 3000000000)")
    assert(spark.sql(s"SELECT sum(x) FROM $cat.widen.t").head.getLong(0) ===
      3000000100L)
  }

  test("INSERT OVERWRITE: dynamic mode replaces only touched partitions") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.dyn")
    spark.sql(s"CREATE TABLE $cat.dyn.t (k BIGINT, v STRING, p STRING) " +
      "PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO $cat.dyn.t VALUES (1, 'a', 'p1'), (2, 'b', 'p2')")
    val before = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // touches p1 only — p2 must survive (static mode would drop it)
      spark.sql(s"INSERT OVERWRITE $cat.dyn.t VALUES (9, 'z', 'p1')")
      assert(spark.sql(s"SELECT k, v, p FROM $cat.dyn.t ORDER BY k").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq ===
        Seq((2L, "b", "p2"), (9L, "z", "p1")))
    } finally before match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None    => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    // static PARTITION clause overwrite: SupportsOverwrite → overwriteWhere
    spark.sql(s"INSERT OVERWRITE $cat.dyn.t PARTITION (p = 'p2') " +
      "VALUES (7, 'q')")
    assert(spark.sql(s"SELECT k, v, p FROM $cat.dyn.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq ===
      Seq((7L, "q", "p2"), (9L, "z", "p1")))
  }

  test("column DEFAULT values: omitted columns and the DEFAULT keyword fill in") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.defs")
    spark.sql(s"CREATE TABLE $cat.defs.t (id BIGINT, status STRING DEFAULT 'new', " +
      "score INT DEFAULT 0)")
    spark.sql(s"INSERT INTO $cat.defs.t (id) VALUES (1)")
    spark.sql(s"INSERT INTO $cat.defs.t VALUES (2, DEFAULT, 9)")
    spark.sql(s"INSERT INTO $cat.defs.t VALUES (3, 'done', DEFAULT)")
    assert(spark.sql(s"SELECT id, status, score FROM $cat.defs.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq ===
      Seq((1L, "new", 0), (2L, "new", 9), (3L, "done", 0)))
    // the default survives the commit-log round trip, not just the session
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val meta = MergeTable.open(s"$wh/defs/t")
      .read(spark).schema("status").metadata
    assert(meta.contains("CURRENT_DEFAULT") || meta.contains("default"),
      s"default metadata must persist in the log, got $meta")
  }

  test("native GENERATED ALWAYS AS and IDENTITY column DDL through the catalog") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.gen")
    spark.sql(s"CREATE TABLE $cat.gen.t (" +
      "id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 10 INCREMENT BY 2), " +
      "amt DOUBLE, doubled DOUBLE GENERATED ALWAYS AS (amt * 2))")
    spark.sql(s"INSERT INTO $cat.gen.t (amt) VALUES (1.5), (4.0)")
    val rows = spark.sql(s"SELECT id, amt, doubled FROM $cat.gen.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(rows === Seq((10L, 1.5, 3.0), (12L, 4.0, 8.0)))
    // declarations persist in the log: a bare-path reopen keeps assigning
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val reopened = MergeTable.open(s"$wh/gen/t")
    assert(reopened.identityCol.map(_._1).contains("id"))
    assert(reopened.generatedCols.map(_._1) === Seq("doubled"))
    import spark.implicits._
    reopened.append(Seq(9.0).toDF("amt")
      .selectExpr("CAST(NULL AS BIGINT) AS id", "amt",
        "CAST(NULL AS DOUBLE) AS doubled"))
    val again = spark.sql(s"SELECT id, doubled FROM $cat.gen.t WHERE amt = 9.0")
      .head
    assert(again.getLong(0) === 14L && again.getDouble(1) === 18.0)
  }

  test("native ALTER COLUMN SET/DROP NOT NULL route through the CHECK machinery") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.nn")
    spark.sql(s"CREATE TABLE $cat.nn.t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.nn.t VALUES (1, 'a')")
    spark.sql(s"ALTER TABLE $cat.nn.t ALTER COLUMN v SET NOT NULL")
    val ex = intercept[Exception](
      spark.sql(s"INSERT INTO $cat.nn.t VALUES (2, CAST(NULL AS STRING))"))
    assert(ex.getMessage.contains("graft_notnull_v") ||
      Option(ex.getCause).exists(_.getMessage.contains("graft_notnull_v")))
    assert(spark.sql(s"SELECT count(*) FROM $cat.nn.t").head.getLong(0) === 1L)
    spark.sql(s"ALTER TABLE $cat.nn.t ALTER COLUMN v DROP NOT NULL")
    spark.sql(s"INSERT INTO $cat.nn.t VALUES (2, CAST(NULL AS STRING))")
    assert(spark.sql(s"SELECT count(*) FROM $cat.nn.t WHERE v IS NULL").head.getLong(0) === 1L)
    // DROP on a never-constrained column is a no-op, not an error
    spark.sql(s"ALTER TABLE $cat.nn.t ALTER COLUMN k DROP NOT NULL")
  }

  test("writes whose query reads the target commit one version each") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.self")
    spark.sql(s"CREATE TABLE $cat.self.t (k BIGINT, v STRING, p STRING) PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO $cat.self.t VALUES (1, 'a', 'p1'), (2, 'b', 'p2')")
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    def version: Long = MergeTable.open(s"$wh/self/t").currentVersion
    def step(sql: String, want: Seq[(Long, String, String)]): Unit = {
      val before = version
      spark.sql(sql)
      assert(version === before + 1, s"one commit for: $sql")
      assert(spark.sql(s"SELECT k, v, p FROM $cat.self.t").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sorted === want, sql)
    }
    step(s"INSERT INTO $cat.self.t SELECT * FROM $cat.self.t WHERE p = 'p1'",
      Seq((1L, "a", "p1"), (1L, "a", "p1"), (2L, "b", "p2")))
    step(s"INSERT OVERWRITE $cat.self.t PARTITION (p = 'p2') " +
      s"SELECT k + 10, v FROM $cat.self.t WHERE p = 'p2'",
      Seq((1L, "a", "p1"), (1L, "a", "p1"), (12L, "b", "p2")))
    withConf("spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      step(s"INSERT OVERWRITE $cat.self.t SELECT k + 100, v, p FROM $cat.self.t WHERE p = 'p1'",
        Seq((12L, "b", "p2"), (101L, "a", "p1"), (101L, "a", "p1")))
    }
    step(s"DELETE FROM $cat.self.t WHERE k > 100", Seq((12L, "b", "p2")))
  }

  test("the commit schema's NOT NULL columns stay enforced through the nullable read schema") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.nn2")
    spark.sql(s"CREATE TABLE $cat.nn2.t (k BIGINT NOT NULL, v STRING)")
    // a table whose commit schema declares NOT NULL and which has no
    // CHECK constraint, as written outside the catalog
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    new MergeTable(s"$wh/nn2/api").createEmpty(new org.apache.spark.sql.types.StructType()
      .add("k", "bigint", nullable = false).add("v", "string"))
    def violated(e: Throwable): Boolean = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(x => String.valueOf(x.getMessage).contains("NOT NULL constraint violated: column k"))
    for (name <- Seq("t", "api")) {
      val root = s"$wh/nn2/$name"
      assert(MergeTable.open(root).checkConstraints.isEmpty, name)
      spark.sql(s"INSERT INTO $cat.nn2.$name VALUES (1, 'a')")
      assert(spark.table(s"$cat.nn2.$name").schema.forall(_.nullable), name)
      assert(violated(intercept[Exception](
        spark.sql(s"INSERT INTO $cat.nn2.$name VALUES (CAST(NULL AS BIGINT), 'b')"))), name)
      assert(violated(intercept[Exception](Seq((Option.empty[Long], "c")).toDF("k", "v")
        .write.format("graft").mode("append").save(root))), name)
      assert(spark.sql(s"SELECT count(*) FROM $cat.nn2.$name").head.getLong(0) === 1L, name)
      spark.sql(s"ALTER TABLE $cat.nn2.$name ALTER COLUMN k DROP NOT NULL")
      spark.sql(s"INSERT INTO $cat.nn2.$name VALUES (CAST(NULL AS BIGINT), 'b')")
      assert(spark.sql(s"SELECT count(*) FROM $cat.nn2.$name WHERE k IS NULL")
        .head.getLong(0) === 1L, name)
    }
  }

  test("scan pruning and filter pushdown survive the catalog route") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.plan")
    spark.sql(s"CREATE TABLE $cat.plan.t (k BIGINT, v STRING, w STRING)")
    spark.sql(s"INSERT INTO $cat.plan.t VALUES (1, 'a', 'x'), (2, 'b', 'y')")
    val plan = spark.sql(s"SELECT v FROM $cat.plan.t WHERE k = 2")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("k"),
      s"catalog scans must push filters to parquet:\n$plan")
  }
}
