package graft.queries

import org.apache.spark.sql.functions._
import graft.lake.{MergeTable, MetadataOnlyAggregate}
import graft.queries.Registry.{t, scratchRoot}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** End-to-end MergeTable (Delta-MERGE replacement, SURVEY.md §7.3) exercised
  * ON DISK inside the correctness gate: build a target snapshot from
  * `orders`, merge a modified source, read the merged snapshot back. The
  * oracle expresses the same upsert as anti-join + UNION ALL — checking all
  * four MERGE clauses (update/insert/keep/partition-move) against DuckDB.
  */
object LakeQueries {

  import graft.queries.Registry.sanitize

  private def cleanDir(path: String): Unit = Registry.cleanDir(path)

  val all: Map[String, GraftQuery] = Map(

    // MERGE upsert: target = 75% of orders; source = even keys with status
    // rewritten to 'M' (a partition-moving update for matched rows, since
    // the table is partitioned by o_orderstatus) and price bumped by 1000
    // (one IEEE add — bit-exact).
    "m1_merge_upsert" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m1_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders.filter(col("o_orderkey") % 4 =!= 3))
        val source = orders.filter(col("o_orderkey") % 2 === 0)
          .withColumn("o_orderstatus", lit("M"))
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        table.merge(s, source, Seq("o_orderkey"))
        table.read(s).select("o_orderkey", "o_orderstatus", "o_totalprice")
      },
      Some("""WITH tgt AS (SELECT * FROM orders WHERE o_orderkey % 4 <> 3),
             |     src AS (SELECT o_orderkey, 'M' AS o_orderstatus,
             |                    o_totalprice + 1000.0 AS o_totalprice
             |             FROM orders WHERE o_orderkey % 2 = 0)
             |SELECT o_orderkey, o_orderstatus, o_totalprice FROM tgt
             |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
             |UNION ALL
             |SELECT o_orderkey, o_orderstatus, o_totalprice FROM src""".stripMargin),
      "Delta-style MERGE on disk: file-pruned rewrite + atomic manifest swap"),

    // RESTORE: roll the table back to v0 after a merge AND a delete mutated
    // it — the restore commit re-references v0's files (metadata-only), so
    // the read must equal the original orders exactly. History (v1, v2)
    // stays time-travel-readable (asserted in MergeTableSpec).
    "m13_restore" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m13_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders)                                          // v0
        table.merge(s, orders.filter(col("o_orderkey") % 2 === 0)
          .withColumn("o_orderstatus", lit("M")), Seq("o_orderkey"))     // v1
        table.delete(s, col("o_orderstatus") === "O")                    // v2
        table.restore(0)                                                 // v3 ≡ v0
        table.read(s).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM orders GROUP BY o_orderstatus""".stripMargin),
      "Delta RESTORE analog: metadata-only rollback commit, history preserved"),

    // CHECK constraints (Delta ADD CONSTRAINT analog): two constraints are
    // added (validating existing rows), then a merge runs with enforcement
    // FUSED into the write as a per-row raising filter. The read proves the
    // constrained write path produces exactly the unconstrained result;
    // rejection of violating writes is asserted in MergeTableSpec.
    "m14_constraints" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m14_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders)
        table.addCheckConstraint(s, "price_nonneg", "o_totalprice >= 0")
        table.addCheckConstraint(s, "valid_status",
          "o_orderstatus IN ('O','F','P','M')")
        table.merge(s, orders.filter(col("o_orderkey") % 2 === 0)
          .withColumn("o_orderstatus", lit("M"))
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0),
          Seq("o_orderkey"))
        table.read(s).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("price_sum"))
      },
      Some("""SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'M' ELSE o_orderstatus END
             |         AS o_orderstatus,
             |       count(*) AS n,
             |       round(sum(CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice + 1000.0
             |                      ELSE o_totalprice END), 2) AS price_sum
             |FROM orders GROUP BY 1""".stripMargin),
      "CHECK constraints: validated on add, enforced per-row inside every write"),

    // COPY INTO: file-level idempotent ingest. orders is staged as a
    // 3-file directory; the first copyInto loads 2 files, the second loads
    // the remaining 1 (already-loaded paths skipped via the commit-log
    // ledger), the third is a complete no-op. The final table must equal
    // orders exactly — any re-loaded file would double its rows and break
    // the count/sum.
    "m15_copy_into" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m15_${sanitize(dir)}"
        val stage = s"$scratchRoot/m15stage_${sanitize(dir)}"
        cleanDir(root); cleanDir(stage)
        t(s, dir, "orders").repartition(3).write.mode("overwrite").parquet(stage)
        val files = Files.list(Paths.get(stage)).iterator().asScala
          .map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
        val table = new MergeTable(root, Seq("o_orderstatus"))
        val n1 = table.copyInto(s, files.take(2))
        val n2 = table.copyInto(s, files)      // loads only the third file
        val n3 = table.copyInto(s, files)      // full no-op
        require(n1 == 2 && n2 == 1 && n3 == 0,
          s"copyInto idempotency broken: loaded $n1/$n2/$n3 of 2/1/0")
        table.read(s).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM orders GROUP BY o_orderstatus""".stripMargin),
      "COPY INTO analog: commit-log file ledger makes ingest exactly-once"),

    // Generated columns: the table derives o_year = year(o_orderdate) at
    // write time (the reference's own year/month-from-processing-date
    // pattern, lifted into the engine like Delta's generated columns).
    // Neither the initial load nor the merge source carries o_year — the
    // engine must synthesize it consistently on both paths.
    "m16_generated_cols" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m16_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_year"),
          generatedCols = Seq("o_year" -> "year(o_orderdate)"))
        table.overwrite(orders.filter(col("o_orderkey") % 4 =!= 3))
        table.merge(s, orders.filter(col("o_orderkey") % 2 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0),
          Seq("o_orderkey"))
        table.read(s).groupBy("o_year")
          .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
      },
      Some("""WITH tgt AS (SELECT * FROM orders WHERE o_orderkey % 4 <> 3),
             |     src AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
             |     final AS (
             |       SELECT o_orderkey, o_orderdate FROM tgt
             |       WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
             |       UNION ALL SELECT o_orderkey, o_orderdate FROM src)
             |SELECT year(o_orderdate) AS o_year, count(*) AS n,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM final GROUP BY 1""".stripMargin),
      "generated columns: derived at write time on load and merge paths"),

    // OPTIMIZE ... WHERE: compaction restricted to ONE partition's files;
    // the other partitions' files are carried forward by reference
    // (file-identity asserted in MergeTableSpec); the oracle checks the
    // rewrite changed nothing about the data.
    "m17_optimize_where" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m17_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders)
        table.merge(s, orders.filter(col("o_orderkey") % 3 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0),
          Seq("o_orderkey"))
        table.compactPartitions(s, col("o_orderstatus") === "F")
        table.read(s).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("price_sum"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |       round(sum(CASE WHEN o_orderkey % 3 = 0
             |                      THEN o_totalprice + 1000.0
             |                      ELSE o_totalprice END), 2) AS price_sum
             |FROM orders GROUP BY o_orderstatus""".stripMargin),
      "OPTIMIZE WHERE analog: partition-scoped compaction, manifest carry-forward"),

    // CLONE: hard-link zero-copy snapshot clone, then DIVERGE both sides
    // and vacuum the source with the no-writers promise — the clone must
    // read its own evolved state untouched (hard links outlive the
    // source's housekeeping, the property Delta's shallow clone lacks).
    "m18_clone" -> GraftQuery(
      (s, dir) => {
        val rootS = s"$scratchRoot/m18src_${sanitize(dir)}"
        val rootC = s"$scratchRoot/m18dst_${sanitize(dir)}"
        cleanDir(rootS); cleanDir(rootC)
        val orders = t(s, dir, "orders")
        val srcT = new MergeTable(rootS, Seq("o_orderstatus"))
        srcT.overwrite(orders)
        val cl = srcT.cloneTo(rootC)
        cl.merge(s, orders.filter(col("o_orderkey") % 2 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0),
          Seq("o_orderkey"))
        srcT.delete(s, col("o_orderstatus") === "O")
        srcT.vacuum(minAgeMs = 0)
        cl.read(s).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("price_sum"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |       round(sum(CASE WHEN o_orderkey % 2 = 0
             |                      THEN o_totalprice + 1000.0
             |                      ELSE o_totalprice END), 2) AS price_sum
             |FROM orders GROUP BY o_orderstatus""".stripMargin),
      "zero-copy CLONE: hard-linked snapshot, fully independent lifecycle"),

    // Time travel: after a partition-moving merge, version 0 must still
    // read as the ORIGINAL target (untouched files + superseded files both
    // remain addressable through the old manifest). Oracle = the pre-merge
    // state expressed directly.
    "m3_time_travel" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m3_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders.filter(col("o_orderkey") % 4 =!= 3))
        val source = orders.filter(col("o_orderkey") % 2 === 0)
          .withColumn("o_orderstatus", lit("M"))
        table.merge(s, source, Seq("o_orderkey"))
        table.readVersion(s, 0).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM orders WHERE o_orderkey % 4 <> 3
             |GROUP BY o_orderstatus""".stripMargin),
      "snapshot time travel: v0 unchanged after a partition-moving merge"),

    // Compaction: OPTIMIZE-style rewrite must preserve data exactly while
    // collapsing each partition dir to one file (file-count assertion lives
    // in MergeTableSpec; the oracle checks data identity).
    "m4_compact" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m4_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders)
        table.merge(s, orders.filter(col("o_orderkey") % 3 === 0)
          .withColumn("o_orderstatus", lit("X")), Seq("o_orderkey"))
        table.compact(s)
        table.vacuum()
        table.read(s).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM (
             |  SELECT CASE WHEN o_orderkey % 3 = 0 THEN 'X' ELSE o_orderstatus END
             |           AS o_orderstatus, o_orderkey
             |  FROM orders)
             |GROUP BY o_orderstatus""".stripMargin),
      "OPTIMIZE-style compaction + vacuum preserve the snapshot exactly"),

    // DELETE WHERE: file-pruned row deletion. Delete all 'F'-status orders
    // below a price threshold; survivors include rows where the predicate
    // is false AND every row of untouched files. Time-travel to v0 still
    // sees the deleted rows (checked in MergeTableSpec).
    "m5_delete_where" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m5_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders)
        table.delete(s, col("o_orderstatus") === "F" && col("o_totalprice") < 50000.0)
        table.read(s).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"),
               round(sum("o_totalprice"), 2).as("price_sum"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
             |       round(sum(o_totalprice), 2) AS price_sum
             |FROM orders
             |WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 50000.0)
             |GROUP BY o_orderstatus""".stripMargin),
      "Delta DELETE WHERE analog: file-pruned rewrite, snapshot commit"),

    // Schema evolution (Delta autoMerge analog): merge a source carrying a
    // NEW column. Untouched rows read back with the evolved schema as NULL
    // (their files are never rewritten); matched/inserted rows carry the
    // value. The oracle expresses the same evolution with a left-join NULL
    // fill.
    "m6_schema_evolution" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m6_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders)
        val source = orders.filter(col("o_orderkey") % 5 === 0)
          .withColumn("priority_flag", lit("HIGH"))
        table.merge(s, source, Seq("o_orderkey"), mergeSchema = true)
        table.read(s)
          .groupBy("o_orderstatus", "priority_flag")
          .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
      },
      Some("""SELECT o_orderstatus,
             |       CASE WHEN o_orderkey % 5 = 0 THEN 'HIGH' END AS priority_flag,
             |       count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM orders
             |GROUP BY 1, 2""".stripMargin),
      "schema-evolving MERGE: new column, untouched files null-fill unrewritten"),

    // Change data feed (Delta CDF / `table_changes` analog): a merge with
    // changeFeed=true records insert / update_preimage / update_postimage
    // rows at commit time from the already-pruned touched files — never by
    // diffing snapshots. The oracle re-derives all three change classes
    // relationally from target and source.
    "m7_change_feed" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m7_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders.filter(col("o_orderkey") % 4 =!= 3))
        val source = orders.filter(col("o_orderkey") % 2 === 0)
          .withColumn("o_orderstatus", lit("M"))
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        table.merge(s, source, Seq("o_orderkey"), changeFeed = true)
        table.changes(s, 1, 1)
          .select(col("o_orderkey"),
                  col("o_orderstatus"),
                  col("o_totalprice"),
                  col(MergeTable.ChangeType).as("change_type"),
                  col(MergeTable.CommitVersion).as("commit_version"))
      },
      Some("""WITH tgt AS (SELECT * FROM orders WHERE o_orderkey % 4 <> 3),
             |     src AS (SELECT o_orderkey, 'M' AS o_orderstatus,
             |                    o_totalprice + 1000.0 AS o_totalprice
             |             FROM orders WHERE o_orderkey % 2 = 0)
             |SELECT t.o_orderkey, t.o_orderstatus, t.o_totalprice,
             |       'update_preimage' AS change_type, CAST(1 AS BIGINT) AS commit_version
             |FROM tgt t WHERE t.o_orderkey IN (SELECT o_orderkey FROM src)
             |UNION ALL
             |SELECT s.o_orderkey, s.o_orderstatus, s.o_totalprice,
             |       'update_postimage', 1
             |FROM src s WHERE s.o_orderkey IN (SELECT o_orderkey FROM tgt)
             |UNION ALL
             |SELECT s.o_orderkey, s.o_orderstatus, s.o_totalprice, 'insert', 1
             |FROM src s WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM tgt)""".stripMargin),
      "change data feed: write-time CDF rows from the pruned touched set"),

    // Data skipping (Delta file-statistics analog): per-file min/max stats
    // recorded at commit time; a range read scans ONLY stats-overlapping
    // files (file-count assertion in MergeTableSpec — here the oracle pins
    // the semantics: readRange == plain BETWEEN). Range-partitioned layout
    // gives each file a tight key span, the precondition for skipping to
    // bite — at 100 TB this is the difference between a metadata lookup
    // and a full scan.
    "m8_data_skipping" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m8_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Nil, statsCols = Seq("o_orderkey"))
        table.overwrite(orders.repartitionByRange(16, col("o_orderkey")))
        table.readRange(s, "o_orderkey", 1000, 3000)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"),
               round(sum("o_totalprice"), 2).as("price_sum"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
             |       round(sum(o_totalprice), 2) AS price_sum
             |FROM orders WHERE o_orderkey BETWEEN 1000 AND 3000
             |GROUP BY o_orderstatus""".stripMargin),
      "file-stats data skipping: range read scans only overlapping files"),

    // Z-order clustering (OPTIMIZE ZORDER analog): interleaved-bit layout
    // over (o_custkey, o_totalprice) so data skipping prunes on EITHER
    // column — the range here is on the SECOND z column, where a plain sort
    // layout would skip nothing. Oracle pins semantics; pruning-effect
    // assertion lives in MergeTableSpec.
    "m9_zorder" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m9_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Nil,
          statsCols = Seq("o_custkey", "o_totalprice"))
        table.overwrite(orders)
        table.zorderCompact(s, Seq("o_custkey", "o_totalprice"), 16)
        table.readRange(s, "o_totalprice", 100000.0, 150000.0)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM orders WHERE o_totalprice BETWEEN 100000.0 AND 150000.0
             |GROUP BY o_orderstatus""".stripMargin),
      "z-order clustering: skipping works on every clustered column"),

    // Partition-pruned MERGE (opt-in): the table is partitioned by a value
    // the key functionally determines (bucket = o_orderkey % 8), so
    // keysDeterminePartitions=true restricts the touched-file probe AND the
    // rewrite to the source's partitions — here the source covers buckets
    // {0,2,4,6}, so buckets {1,3,5,7} are never probed (assertion in
    // MergeTableSpec); the oracle pins that the results are identical to an
    // unpruned merge.
    "m10_partition_pruned_merge" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m10_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
          .withColumn("bucket", col("o_orderkey") % 8)
        val table = new MergeTable(root, Seq("bucket"))
        table.overwrite(orders.filter(col("o_orderkey") % 4 =!= 3))
        val source = orders.filter(col("o_orderkey") % 2 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        table.merge(s, source, Seq("o_orderkey"), keysDeterminePartitions = true)
        table.read(s).select("o_orderkey", "bucket", "o_totalprice")
      },
      Some("""WITH tgt AS (SELECT o_orderkey, o_orderkey % 8 AS bucket, o_totalprice
             |             FROM orders WHERE o_orderkey % 4 <> 3),
             |     src AS (SELECT o_orderkey, o_orderkey % 8 AS bucket,
             |                    o_totalprice + 1000.0 AS o_totalprice
             |             FROM orders WHERE o_orderkey % 2 = 0)
             |SELECT o_orderkey, bucket, o_totalprice FROM tgt
             |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
             |UNION ALL
             |SELECT o_orderkey, bucket, o_totalprice FROM src""".stripMargin),
      "opt-in partition-pruned MERGE: probe+rewrite limited to the source's partitions"),

    // Vacuum retention window: after three versions and vacuum(retain=2),
    // version 1 must still time-travel-read exactly (its files survive),
    // while version 0 fails fast (MergeTableSpec asserts the error). The
    // oracle expresses version 1's state: original + first merge applied.
    "m11_vacuum_retention" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m11_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders)                                       // v0
        table.merge(s, orders.filter(col("o_orderkey") % 3 === 0)
          .withColumn("o_orderstatus", lit("X")), Seq("o_orderkey"))  // v1
        table.merge(s, orders.filter(col("o_orderkey") % 5 === 0)
          .withColumn("o_orderstatus", lit("Y")), Seq("o_orderkey"))  // v2
        table.vacuum(retainVersions = 2)
        table.readVersion(s, 1).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM (
             |  SELECT CASE WHEN o_orderkey % 3 = 0 THEN 'X' ELSE o_orderstatus END
             |           AS o_orderstatus, o_orderkey
             |  FROM orders)
             |GROUP BY o_orderstatus""".stripMargin),
      "VACUUM with retention: in-window time travel survives, out-of-window fails fast"),

    // SQL MERGE INTO surface (graft.sqlapi.MergeInto): the reference's
    // Delta merge expressed as a statement, executed over a MergeTable with
    // the source resolved from a temp view. Same data shape as m1 → the
    // oracle pins that the SQL path and the API path agree exactly.
    "m12_merge_sql" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m12_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders.filter(col("o_orderkey") % 4 =!= 3))
        orders.filter(col("o_orderkey") % 2 === 0)
          .withColumn("o_orderstatus", lit("M"))
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
          .createOrReplaceTempView("m12_src")
        graft.sqlapi.MergeInto.run(s,
          """MERGE INTO orders_lake AS t USING m12_src AS s
            |ON t.o_orderkey = s.o_orderkey
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin,
          Map("orders_lake" -> table))
        table.read(s).select("o_orderkey", "o_orderstatus", "o_totalprice")
      },
      Some("""WITH tgt AS (SELECT * FROM orders WHERE o_orderkey % 4 <> 3),
             |     src AS (SELECT o_orderkey, 'M' AS o_orderstatus,
             |                    o_totalprice + 1000.0 AS o_totalprice
             |             FROM orders WHERE o_orderkey % 2 = 0)
             |SELECT o_orderkey, o_orderstatus, o_totalprice FROM tgt
             |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
             |UNION ALL
             |SELECT o_orderkey, o_orderstatus, o_totalprice FROM src""".stripMargin),
      "SQL MERGE INTO statement over MergeTable — the Delta+Spark-SQL twin"),

    // SQL DELETE FROM (graft.sqlapi.LakeSql): same data shape as m5 so the
    // statement path and the API path are pinned to agree exactly —
    // file-pruned rewrite, NULL-predicate rows kept, snapshot commit.
    "m19_delete_sql" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m19_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders)
        graft.sqlapi.LakeSql.run(s,
          "DELETE FROM orders_lake WHERE o_orderstatus = 'F' AND o_totalprice < 50000.0",
          Map("orders_lake" -> table))
        table.read(s).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"),
               round(sum("o_totalprice"), 2).as("price_sum"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
             |       round(sum(o_totalprice), 2) AS price_sum
             |FROM orders
             |WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 50000.0)
             |GROUP BY o_orderstatus""".stripMargin),
      "SQL DELETE FROM statement over MergeTable — the Delta+Spark-SQL twin"),

    // SQL UPDATE ... SET (graft.sqlapi.LakeSql): multi-column SET with the
    // standard see-the-pre-update-row semantics, a partition-moving status
    // rewrite, and one IEEE add on the price (bit-exact cross-engine). The
    // oracle expresses the same update as CASE WHEN.
    "m20_update_sql" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m20_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders)
        graft.sqlapi.LakeSql.run(s,
          """UPDATE orders_lake
            |SET o_orderstatus = 'M', o_totalprice = o_totalprice + 1000.0
            |WHERE o_orderkey % 2 = 0""".stripMargin,
          Map("orders_lake" -> table))
        table.read(s).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"),
               round(sum("o_totalprice"), 2).as("price_sum"))
      },
      Some("""SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'M' ELSE o_orderstatus END
             |         AS o_orderstatus,
             |       count(*) AS n,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
             |       round(sum(CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice + 1000.0
             |                      ELSE o_totalprice END), 2) AS price_sum
             |FROM orders GROUP BY 1""".stripMargin),
      "SQL UPDATE SET statement: file-pruned partition-moving rewrite"),

    // DESCRIBE HISTORY analog: after a known operation sequence the audit
    // log must report exactly those operations in version order —
    // metadata-only reads, the surface an operator checks before RESTORE.
    // Timestamps are wall-clock (nondeterministic) so the gate pins
    // version/operation/txns; timestamp monotonicity is asserted in
    // MergeTableSpec.
    "m21_history" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m21_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders)                                          // v0
        table.merge(s, orders.filter(col("o_orderkey") % 2 === 0)
          .withColumn("o_orderstatus", lit("M")), Seq("o_orderkey"),
          txn = Some("etl" -> 7L))                                       // v1
        table.delete(s, col("o_orderstatus") === "O")                    // v2
        table.addCheckConstraint(s, "price_nonneg", "o_totalprice >= 0") // v3
        table.restore(1)                                                 // v4
        table.history(s).select("version", "operation", "txns")
      },
      Some("""SELECT * FROM (VALUES
             |  (CAST(4 AS BIGINT), 'RESTORE', 'etl=7'),
             |  (CAST(3 AS BIGINT), 'ADD CONSTRAINT', 'etl=7'),
             |  (CAST(2 AS BIGINT), 'DELETE', 'etl=7'),
             |  (CAST(1 AS BIGINT), 'MERGE', 'etl=7'),
             |  (CAST(0 AS BIGINT), 'WRITE', '')) AS h(version, operation, txns)""".stripMargin),
      "DESCRIBE HISTORY analog: per-commit audit rows from metadata lines only"),

    // ALTER TABLE ADD COLUMNS: metadata-only schema evolution — zero files
    // rewritten (file-identity asserted in MergeTableSpec); existing rows
    // read the new column as NULL via parquet projection, and a subsequent
    // merge fills it for matched/inserted keys only.
    "m22_add_columns" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m22_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders)
        table.addColumns(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("priority_flag",
            org.apache.spark.sql.types.StringType))))
        table.merge(s, orders.filter(col("o_orderkey") % 5 === 0)
          .withColumn("priority_flag", lit("HIGH")), Seq("o_orderkey"))
        table.read(s).groupBy("o_orderstatus", "priority_flag")
          .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
      },
      Some("""SELECT o_orderstatus,
             |       CASE WHEN o_orderkey % 5 = 0 THEN 'HIGH' END AS priority_flag,
             |       count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM orders
             |GROUP BY 1, 2""".stripMargin),
      "ALTER TABLE ADD COLUMNS analog: metadata-only evolution, NULL-fill reads"),

    // SHOW PARTITIONS analog: the partition listing is answered from the
    // MANIFEST (metadata-only — at 100 TB a storage listing is the slowest
    // call in the system), so a partition whose last row was deleted must
    // vanish from the listing even though its empty directory may linger
    // until vacuum. The gate deletes one whole status partition and pins
    // the survivors; per-partition file counts are layout-dependent, so
    // they're asserted (>0, manifest-consistent) in LakeSqlSpec instead.
    "m23_show_partitions" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m23_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders)
        graft.sqlapi.LakeSql.run(s, "DELETE FROM orders_lake WHERE o_orderstatus = 'F'",
          Map("orders_lake" -> table))
        graft.sqlapi.LakeSql.query(s, "SHOW PARTITIONS orders_lake",
          Map("orders_lake" -> table))
          .select("o_orderstatus")
      },
      Some("""SELECT DISTINCT o_orderstatus FROM orders
             |WHERE o_orderstatus <> 'F' ORDER BY 1""".stripMargin),
      "SHOW PARTITIONS analog: manifest-derived listing, deleted partition vanishes"),

    // replaceWhere analog (Delta `option("replaceWhere", p)` / INSERT
    // OVERWRITE PARTITION): the canonical partition-backfill — one slice of
    // the table is atomically swapped for corrected data in a single
    // commit, every other partition carried forward by manifest reference.
    // The gate replaces the 'O' partition with a filtered+repriced reload
    // and checks the other partitions are byte-identical to the source.
    "m24_replace_where" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m24_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders)
        val backfill = orders.filter(col("o_orderstatus") === "O")
          .filter(col("o_orderkey") % 2 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 10.0)
        table.overwriteWhere(s, col("o_orderstatus") === "O", backfill)
        table.read(s).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"),
               round(sum("o_totalprice"), 2).as("price_sum"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
             |       round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice + 10.0
             |                      ELSE o_totalprice END), 2) AS price_sum
             |FROM orders
             |WHERE o_orderstatus <> 'O' OR o_orderkey % 2 = 0
             |GROUP BY o_orderstatus""".stripMargin),
      "replaceWhere partition backfill: one-commit slice swap, rest carried by reference"),

    // The injected-parser surface end-to-end: a MergeTable registered in
    // LakeCatalog is driven ENTIRELY through spark.sql — DELETE, UPDATE,
    // and the final aggregate SELECT over the bare name (rewritten at parse
    // time to a snapshot view) — no LakeSql/API calls in sight. This is the
    // Delta integration shape: the statement surface lives in the session's
    // SQL entry point, and unregistered names can never be intercepted.
    "m25_sql_catalog" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m25_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders)
        val name = s"orders_cat_${sanitize(dir)}"
        graft.sqlapi.LakeCatalog.register(name, table)
        try {
          s.sql(s"DELETE FROM $name WHERE o_totalprice < 50000.0")
          s.sql(s"UPDATE $name SET o_totalprice = o_totalprice + 1000.0 " +
            "WHERE o_orderstatus = 'F'")
          // parsed (and rewritten to a snapshot view) HERE — evaluation may
          // happen after unregister, the plan no longer needs the catalog
          s.sql(s"""SELECT o_orderstatus, count(*) AS n,
                   |       sum(o_orderkey) AS key_sum,
                   |       round(sum(o_totalprice), 2) AS price_sum
                   |FROM $name GROUP BY o_orderstatus""".stripMargin)
        } finally graft.sqlapi.LakeCatalog.unregister(name)
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
             |       round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice + 1000.0
             |                      ELSE o_totalprice END), 2) AS price_sum
             |FROM orders WHERE o_totalprice >= 50000.0
             |GROUP BY o_orderstatus""".stripMargin),
      "lake DML + reads driven purely through spark.sql via the injected parser"),

    // Wall-clock time travel: TIMESTAMP AS OF must resolve the snapshot a
    // reader at that instant would have seen (commit publish times) — here
    // the pre-merge v0, captured between the two commits.
    "m33_timestamp_travel" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m33_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders.filter(col("o_orderkey") % 4 =!= 3))
        val ts = System.currentTimeMillis() // v0 is published; v1 is not
        table.merge(s, orders.filter(col("o_orderkey") % 2 === 0)
          .withColumn("o_orderstatus", lit("M")), Seq("o_orderkey"))
        val tsLit = java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
          .withZone(java.time.ZoneId.systemDefault())
          .format(java.time.Instant.ofEpochMilli(ts))
        graft.sqlapi.LakeSql.query(s,
          s"""SELECT o_orderstatus, count(*) AS n, sum(o_orderkey) AS key_sum
             |FROM tbl TIMESTAMP AS OF '$tsLit'
             |GROUP BY o_orderstatus""".stripMargin, Map("tbl" -> table))
      },
      Some("""SELECT o_orderstatus, count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM orders WHERE o_orderkey % 4 <> 3
             |GROUP BY o_orderstatus""".stripMargin),
      "wall-clock time travel: TIMESTAMP AS OF reads the pre-merge snapshot"),

    // SQL SHALLOW CLONE: zero-copy create through spark.sql, then verify
    // copy-on-write isolation — a DELETE on the clone must not leak into
    // the source, whose final aggregate is the checked output.
    "m34_clone_sql" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m34_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root + "/src", Seq("o_orderstatus"))
        table.overwrite(orders)
        val src = s"m34_src_${sanitize(dir)}"
        val cl = s"m34_clone_${sanitize(dir)}"
        graft.sqlapi.LakeCatalog.register(src, table)
        try {
          s.sql(s"CREATE TABLE $cl SHALLOW CLONE $src LOCATION '$root/clone'")
          s.sql(s"DELETE FROM $cl WHERE o_orderkey % 2 = 0")
          // join clone vs source THROUGH spark.sql: the deleted half is
          // present only on the source side
          s.sql(s"""SELECT o.o_orderstatus, count(*) AS n, sum(o.o_orderkey) AS key_sum
                   |FROM $src o LEFT ANTI JOIN $cl c ON o.o_orderkey = c.o_orderkey
                   |GROUP BY o.o_orderstatus""".stripMargin)
        } finally {
          graft.sqlapi.LakeCatalog.unregister(src)
          graft.sqlapi.LakeCatalog.unregister(cl)
        }
      },
      Some("""SELECT o_orderstatus, count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM orders WHERE o_orderkey % 2 = 0
             |GROUP BY o_orderstatus""".stripMargin),
      "SQL SHALLOW CLONE: zero-copy create + copy-on-write isolation via spark.sql"),

    // Delta's FULL conditional-clause MERGE in one statement: a conditional
    // partial-column UPDATE, a conditional DELETE, and a conditional
    // column-list INSERT — first-true-wins dispatch, unmatched rows
    // untouched/dropped per Delta semantics. The oracle replays every
    // clause as plain joins. Source = matched keys (price doubled) plus
    // offset-shifted new keys; output = per-status aggregate with marker
    // counts proving which clause claimed which rows.
    "m35_conditional_merge" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m35_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders)
        val src = orders.filter(col("o_orderkey") % 3 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .unionByName(orders.filter(col("o_orderkey") % 5 === 2)
            .withColumn("o_orderkey", col("o_orderkey") + 100000000L))
        import MergeTable.{MatchedDelete, MatchedUpdate, NotMatchedInsert}
        table.mergeClauses(s, src, Seq("o_orderkey"), Seq(
          MatchedUpdate(Some("s.o_totalprice > 300000"), Seq(
            "o_totalprice"    -> "s.o_totalprice",
            "o_orderpriority" -> "'BULK-UPDATED'")),
          MatchedDelete(Some("t.o_orderpriority = '1-URGENT'")),
          NotMatchedInsert(Some("s.o_totalprice > 100000"), Seq(
            "o_orderkey"      -> "s.o_orderkey",
            "o_custkey"       -> "s.o_custkey",
            "o_orderstatus"   -> "s.o_orderstatus",
            "o_totalprice"    -> "s.o_totalprice",
            "o_orderdate"     -> "s.o_orderdate",
            "o_orderpriority" -> "'LATE-ARRIVAL'"))))
        table.read(s).groupBy("o_orderstatus").agg(
          count(lit(1)).as("n"),
          sum("o_orderkey").as("key_sum"),
          sum(when(col("o_orderpriority") === "BULK-UPDATED", 1).otherwise(0)).as("n_updated"),
          sum(when(col("o_orderpriority") === "LATE-ARRIVAL", 1).otherwise(0)).as("n_inserted"))
      },
      Some("""WITH src AS (
             |  SELECT o_orderkey, o_totalprice * 2 AS o_totalprice
             |  FROM orders WHERE o_orderkey % 3 = 0
             |  UNION ALL
             |  SELECT o_orderkey + 100000000, o_totalprice
             |  FROM orders WHERE o_orderkey % 5 = 2
             |),
             |matched AS (
             |  SELECT t.o_orderkey, t.o_orderstatus, t.o_orderpriority,
             |         s.o_totalprice AS s_price
             |  FROM orders t JOIN src s ON t.o_orderkey = s.o_orderkey
             |),
             |final AS (
             |  SELECT o_orderkey, o_orderstatus, 'BULK-UPDATED' AS o_orderpriority
             |  FROM matched WHERE s_price > 300000
             |  UNION ALL
             |  SELECT o_orderkey, o_orderstatus, o_orderpriority
             |  FROM matched WHERE NOT (s_price > 300000)
             |    AND o_orderpriority <> '1-URGENT'
             |  UNION ALL
             |  SELECT o_orderkey, o_orderstatus, o_orderpriority
             |  FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
             |  UNION ALL
             |  SELECT s.o_orderkey, o.o_orderstatus, 'LATE-ARRIVAL'
             |  FROM (SELECT o_orderkey, o_totalprice FROM src
             |        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM orders)
             |          AND o_totalprice > 100000) s
             |  JOIN orders o ON o.o_orderkey = s.o_orderkey - 100000000
             |)
             |SELECT o_orderstatus, count(*) AS n,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
             |       CAST(sum(CASE WHEN o_orderpriority = 'BULK-UPDATED' THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
             |       CAST(sum(CASE WHEN o_orderpriority = 'LATE-ARRIVAL' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted
             |FROM final GROUP BY o_orderstatus""".stripMargin),
      "Delta's full conditional-clause MERGE: cond update/delete/insert, one pass"),

    // Identity columns (Delta GENERATED ALWAYS AS IDENTITY): gap-free
    // start/step assignment continuing across commits from the
    // property-carried high-water mark — two metadata-cheap passes
    // (per-partition counts + the write), no global sort. The gap-free
    // guarantee is what makes this hash-oracled: with start=100, step=2
    // over n rows the id set is EXACTLY {100, 102, …, 100+2(n-1)}, so
    // count/distinct/min/max are all closed-form in DuckDB.
    "m36_identity" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m36_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"),
          identityCol = Some(("row_id", 100L, 2L)))
        table.overwrite(orders.filter(col("o_orderkey") % 2 === 0))
        table.append(orders.filter(col("o_orderkey") % 2 =!= 0))
        table.read(s).agg(
          count(lit(1)).as("n"),
          countDistinct(col("row_id")).as("n_ids"),
          min("row_id").as("first_id"),
          max("row_id").as("last_id"))
      },
      Some("""SELECT count(*) AS n, count(*) AS n_ids,
             |       CAST(100 AS BIGINT) AS first_id,
             |       CAST(100 + 2 * (count(*) - 1) AS BIGINT) AS last_id
             |FROM orders""".stripMargin),
      "identity columns: gap-free start/step ids from a commit-carried high-water mark"),

    // In-commit timestamps (Delta's inCommitTimestamp): every commit
    // records its own wall clock in the log (clamped strictly-increasing
    // by [[MergeTable.commit]]), so TIMESTAMP AS OF and DESCRIBE HISTORY
    // are immune to log-file mtime churn (clones, backup restores) and to
    // clock skew between writers. The clock is INJECTED here (the same
    // pattern as the pipeline's processing date), which makes wall-clock
    // travel fully deterministic — unlike m33, nothing depends on how
    // fast the two writes actually ran. The gate travels to an instant
    // BETWEEN the two injected ticks and must see exactly the v0 snapshot;
    // the in-gate requires pin history()'s timestamps to the injected
    // values (proving the mtime fallback was NOT used).
    "m37_commit_timestamps" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m37_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        val base = 1754006400000L // 2025-08-01T00:00:00Z
        var tick = 0L
        table.clock = () => { tick += 1; base + tick * 60000L }
        table.overwrite(orders.filter(col("o_orderkey") % 4 =!= 3)) // v0 @ base+1m
        table.merge(s, orders.filter(col("o_orderkey") % 2 === 0)
          .withColumn("o_orderstatus", lit("M")), Seq("o_orderkey")) // v1 @ >= base+2m
        require(table.versionAt(base + 90000L) == 0L,
          "an instant between the injected ticks must resolve to v0")
        val recorded = table.history(s).orderBy("version")
          .collect().map(_.getTimestamp(1).getTime).toSeq
        require(recorded.head == base + 60000L && recorded.forall(_ > base),
          s"history must surface the injected in-commit timestamps, got $recorded")
        val tsLit = java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
          .withZone(java.time.ZoneId.systemDefault())
          .format(java.time.Instant.ofEpochMilli(base + 90000L))
        graft.sqlapi.LakeSql.query(s,
          s"""SELECT o_orderstatus, count(*) AS n, sum(o_orderkey) AS key_sum
             |FROM tbl TIMESTAMP AS OF '$tsLit'
             |GROUP BY o_orderstatus""".stripMargin, Map("tbl" -> table))
      },
      Some("""SELECT o_orderstatus, count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM orders WHERE o_orderkey % 4 <> 3
             |GROUP BY o_orderstatus""".stripMargin),
      "in-commit timestamps: injected-clock TIMESTAMP AS OF, mtime-free history"),

    // Delta's REORG TABLE ... APPLY (PURGE): after dv deletes, rewrite ONLY
    // the files carrying masks (materializing survivors, shedding the
    // sidecar bindings); clean files carry forward by manifest REFERENCE —
    // both properties are required in-gate. The delete predicate is
    // restricted to one partition, so most of the table's files stay
    // untouched: the purge costs O(masked files), the OPTIMIZE WHERE scale
    // argument applied to dv compaction.
    "m38_reorg_purge" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m38_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders)
        table.deleteVectorized(s,
          col("o_orderstatus") === "F" && col("o_totalprice") < 50000.0)
        require(table.deletionVectors.nonEmpty, "expected dv bindings to purge")
        val before = table.filesOf(table.currentVersion)
        val masked = table.deletionVectors.map(_._1).toSet
        require(masked.size < before.size,
          "the partition-scoped delete must leave clean files to carry forward")
        val name = s"m38_${sanitize(dir)}"
        graft.sqlapi.LakeCatalog.register(name, table)
        try s.sql(s"REORG TABLE $name APPLY (PURGE)")
        finally graft.sqlapi.LakeCatalog.unregister(name)
        val after = table.filesOf(table.currentVersion).toSet
        require(table.deletionVectors.isEmpty, "purge must shed every dv binding")
        require(before.filterNot(masked).forall(after.contains),
          "clean files must carry forward by reference, not rewrite")
        require(masked.forall(f => !after.contains(f)),
          "every masked file must be rewritten")
        table.read(s).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"),
               round(sum("o_totalprice"), 2).as("price_sum"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
             |       round(sum(o_totalprice), 2) AS price_sum
             |FROM orders
             |WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 50000.0)
             |GROUP BY o_orderstatus""".stripMargin),
      "REORG APPLY (PURGE): dv-masked files rewritten, clean files carried by reference"),

    // Delta type widening: ALTER COLUMN ... TYPE is METADATA-ONLY — v0's
    // files keep storing INT and are never rewritten (asserted); the
    // widened snapshot reads them upcast (Spark 4 parquet readers widen at
    // scan time) alongside post-widening BIGINT files holding values far
    // beyond int range. Time travel still reads v0 under its own narrow
    // schema.
    "m39_type_widening" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m39_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders.filter(col("o_orderkey") % 2 === 0)
          .withColumn("o_custkey", col("o_custkey").cast("int")))     // v0: INT files
        val v0Files = table.filesOf(0)
        val name = s"m39_${sanitize(dir)}"
        graft.sqlapi.LakeCatalog.register(name, table)
        try s.sql(s"ALTER TABLE $name ALTER COLUMN o_custkey TYPE bigint") // v1: metadata-only
        finally graft.sqlapi.LakeCatalog.unregister(name)
        require(table.filesOf(1) == v0Files, "widening must not rewrite any file")
        require(table.schemaOf(1)("o_custkey").dataType ==
          org.apache.spark.sql.types.LongType, "schema must declare the wide type")
        require(table.schemaOf(0)("o_custkey").dataType ==
          org.apache.spark.sql.types.IntegerType, "time travel keeps the narrow schema")
        table.append(orders.filter(col("o_orderkey") % 2 =!= 0)
          .withColumn("o_custkey", col("o_custkey").cast("bigint") + 5000000000L))
        table.read(s).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
               sum("o_custkey").as("cust_sum"),
               sum("o_orderkey").as("key_sum"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |       CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN o_custkey
             |                     ELSE o_custkey + 5000000000 END) AS BIGINT) AS cust_sum,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM orders GROUP BY o_orderstatus""".stripMargin),
      "type widening: metadata-only ALTER COLUMN TYPE, INT files upcast beside BIGINT files"),

    // Delta's FSCK REPAIR TABLE: after out-of-band file loss, the tip is
    // repaired by a metadata-only commit dropping the dead references —
    // the table reads again without a rewrite. compact() first packs each
    // partition into ONE file, so deleting exactly the 'F' partition's
    // file makes the surviving row set deterministic (orders minus
    // status F) and the oracle purely relational.
    "m40_fsck" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m40_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders)
        table.compact(s) // one file per o_orderstatus partition
        val victims = table.filesOf(table.currentVersion)
          .filter(_.contains("o_orderstatus=F"))
        require(victims.size == 1, s"expected one packed F file, got $victims")
        victims.foreach(f => java.nio.file.Files.delete(
          java.nio.file.Paths.get(root, f)))
        val name = s"m40_${sanitize(dir)}"
        graft.sqlapi.LakeCatalog.register(name, table)
        try s.sql(s"FSCK REPAIR TABLE $name")
        finally graft.sqlapi.LakeCatalog.unregister(name)
        require(table.filesOf(table.currentVersion).forall(f =>
          java.nio.file.Files.exists(java.nio.file.Paths.get(root, f))),
          "fsck must leave only existing files referenced")
        table.read(s).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM orders WHERE o_orderstatus <> 'F'
             |GROUP BY o_orderstatus""".stripMargin),
      "FSCK REPAIR TABLE: metadata-only repair after out-of-band file loss"),

    // Row tracking (Delta row-tracking analog): ids assigned once at first
    // write from a commit-carried high-water mark, hidden from default
    // reads, PRESERVED verbatim by the merge's rewrite (updated rows keep
    // the target row's id even across a partition move), fresh for
    // inserts. The gate proves preservation RELATIONALLY: per final
    // status, n_preserved counts rows whose post-merge id equals their
    // pre-merge id (exactly the v0 rows), n_fresh the rows with no v0 id
    // (exactly the inserts) — both replayed by the oracle from the key
    // structure alone. n_ids = n pins per-group uniqueness; the in-gate
    // require pins it globally.
    "m41_row_tracking" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m41_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"), rowTracking = true)
        table.overwrite(orders.filter(col("o_orderkey") % 2 === 0))
        val before = table.readWithRowIds(s)
          .select(col("o_orderkey"), col(MergeTable.RowIdCol).as("rid0"))
        table.merge(s,
          orders.filter(col("o_orderkey") % 4 === 0)
            .withColumn("o_orderstatus", lit("M"))
            .unionByName(orders.filter(col("o_orderkey") % 2 =!= 0)),
          Seq("o_orderkey"))
        val after = table.readWithRowIds(s)
          .select(col("o_orderkey"), col(MergeTable.RowIdCol).as("rid1"),
            col("o_orderstatus"))
        require(after.select("rid1").distinct().count() == after.count(),
          "row ids must be globally unique")
        after.join(before, Seq("o_orderkey"), "left")
          .groupBy("o_orderstatus").agg(
            count(lit(1)).as("n"),
            countDistinct(col("rid1")).as("n_ids"),
            sum(when(col("rid0") === col("rid1"), 1).otherwise(0)).as("n_preserved"),
            sum(when(col("rid0").isNull, 1).otherwise(0)).as("n_fresh"))
      },
      Some("""WITH final AS (
             |  SELECT o_orderkey,
             |         CASE WHEN o_orderkey % 4 = 0 THEN 'M' ELSE o_orderstatus END
             |           AS o_orderstatus,
             |         o_orderkey % 2 = 0 AS preserved
             |  FROM orders)
             |SELECT o_orderstatus, count(*) AS n, count(*) AS n_ids,
             |       CAST(sum(CASE WHEN preserved THEN 1 ELSE 0 END) AS BIGINT) AS n_preserved,
             |       CAST(sum(CASE WHEN preserved THEN 0 ELSE 1 END) AS BIGINT) AS n_fresh
             |FROM final GROUP BY o_orderstatus""".stripMargin),
      "row tracking: merge-stable hidden row ids, fresh for inserts, unique globally"),

    // Per-file Bloom index (Delta bloom-filter-index analog, as sidecar
    // files): the table is laid out so every file spans the FULL key range
    // (repartition by key hash → min/max stats prune nothing) — the exact
    // case Delta ships bloom indexes for. The in-gate require proves the
    // sidecars admit fewer files than the manifest; the result is the
    // point lookup itself, hash-checked against the relational answer.
    "m42_bloom_index" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m42_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"),
          statsCols = Seq("o_orderkey"))
        table.overwrite(orders.repartition(8, col("o_orderkey")))
        val k = orders.agg(max("o_orderkey")).head().get(0)
        table.buildBloomIndex(s, "o_orderkey")
        val all = table.filesOf(table.currentVersion).size
        val cand = table.bloomCandidateFiles(s, "o_orderkey", k).size
        require(cand < all, s"bloom sidecars must prune files ($cand of $all admitted)")
        table.readPoint(s, "o_orderkey", k)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
             |FROM orders WHERE o_orderkey = (SELECT max(o_orderkey) FROM orders)""".stripMargin),
      "per-file Bloom sidecar index: point-lookup file skipping where min/max can't prune"),

    // Delta's table_changes('t', from, to) TVF through spark.sql: the CDF
    // range read as a SQL-composable rewrite (temp view over changes()),
    // here aggregated INSIDE the same statement — proving the TVF result
    // joins the full SELECT surface, not just a bare scan. Same change
    // rows as m7; the oracle replays the merge's pre/post/insert images
    // relationally and aggregates identically.
    "m43_table_changes" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m43_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders.filter(col("o_orderkey") % 4 =!= 3))
        val source = orders.filter(col("o_orderkey") % 2 === 0)
          .withColumn("o_orderstatus", lit("M"))
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        table.merge(s, source, Seq("o_orderkey"), changeFeed = true)
        val name = s"m43_${sanitize(dir)}"
        graft.sqlapi.LakeCatalog.register(name, table)
        try s.sql(
          s"""SELECT _change_type AS change_type, count(*) AS n,
             |       sum(o_orderkey) AS key_sum
             |FROM table_changes('$name', 1, 1)
             |GROUP BY _change_type""".stripMargin)
        finally graft.sqlapi.LakeCatalog.unregister(name)
      },
      Some("""WITH tgt AS (SELECT * FROM orders WHERE o_orderkey % 4 <> 3),
             |     src AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0),
             |changes AS (
             |  SELECT 'update_preimage' AS change_type, o_orderkey FROM tgt
             |  WHERE o_orderkey IN (SELECT o_orderkey FROM src)
             |  UNION ALL
             |  SELECT 'update_postimage', o_orderkey FROM src
             |  WHERE o_orderkey IN (SELECT o_orderkey FROM tgt)
             |  UNION ALL
             |  SELECT 'insert', o_orderkey FROM src
             |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM tgt))
             |SELECT change_type, count(*) AS n,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM changes GROUP BY change_type""".stripMargin),
      "table_changes TVF: the CDF range as SQL, composable inside a full SELECT"),

    // Liquid-clustering shape: CLUSTER BY declared ONCE at CREATE time as
    // a table property; every later parameterless OPTIMIZE re-clusters by
    // those columns (Z-order) instead of plain bin-packing — layout
    // maintenance follows the table, not the maintenance job. The in-gate
    // require proves the re-clustered layout actually prunes: after
    // OPTIMIZE + ANALYZE, a narrow key-range read admits fewer files than
    // the manifest holds.
    "m44_cluster_by" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m44_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val src = s"m44_src_${sanitize(dir)}"
        orders.createOrReplaceTempView(src)
        val name = s"m44_${sanitize(dir)}"
        try {
          s.sql(s"""CREATE TABLE $name USING GRAFT CLUSTER BY (o_orderkey)
                   |LOCATION '$root/tbl' AS SELECT * FROM $src""".stripMargin)
          s.sql(s"OPTIMIZE $name") // property-driven: Z-orders on o_orderkey
          val table = graft.sqlapi.LakeCatalog.targets(name)
          table.analyze(s, Seq("o_orderkey"))
          val all = table.filesOf(table.currentVersion).size
          val cand = table.candidateFiles("o_orderkey", 1, 100).size
          require(all > 1 && cand < all,
            s"clustered layout must prune range reads ($cand of $all admitted)")
          table.read(s).groupBy("o_orderstatus")
            .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
        } finally graft.sqlapi.LakeCatalog.unregister(name)
      },
      Some("""SELECT o_orderstatus, count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM orders GROUP BY o_orderstatus""".stripMargin),
      "CLUSTER BY: declared once, parameterless OPTIMIZE re-clusters, range reads prune"),

    // DSv2 connector (graft.sources.GraftDataSource): the reference's OWN
    // integration call-shape — glue_jobs/01_silver_delta_upsert.py:115-121
    // writes `format("delta")`, 02_gold_analytics.py:33 reads it — mirrored
    // as `format("graft")` over MergeTable: partitioned write bootstrap,
    // bare-path append, bare-path load. Every write is a commit (the
    // in-gate require pins the version count), and the read path is THE
    // MergeTable snapshot read (dvs, column mapping, type widening all
    // compose — see GraftDataSourceSpec for those axes).
    "m45_dsv2" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m45_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        orders.filter(col("o_orderkey") % 2 === 0)
          .write.format("graft").partitionBy("o_orderstatus")
          .mode("overwrite").save(root)
        orders.filter(col("o_orderkey") % 2 =!= 0)
          .write.format("graft").mode("append").save(root)
        val table = MergeTable.open(root)
        require(table.currentVersion == 1L,
          "two connector writes must be exactly two commits")
        require(table.partitionCols == Seq("o_orderstatus"),
          "partitionBy must land in the table layout")
        s.read.format("graft").load(root)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM orders GROUP BY o_orderstatus""".stripMargin),
      "DSv2 connector: spark.read/write.format(\"graft\") — the reference's format(\"delta\") shape"),

    // Empty-table DDL (Delta's tutorial-first statement): CREATE TABLE with
    // a column list and NO data — a schema-only v0 commit — then INSERT
    // INTO fills it. The in-gate require pins that v0 really is empty.
    "m46_create_empty" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m46_${sanitize(dir)}"
        cleanDir(root)
        val name = s"m46_${sanitize(dir)}"
        val src = s"m46_src_${sanitize(dir)}"
        t(s, dir, "orders").createOrReplaceTempView(src)
        try {
          s.sql(s"""CREATE TABLE $name (o_orderkey BIGINT, o_orderstatus STRING,
                   |o_totalprice DOUBLE) USING GRAFT
                   |PARTITIONED BY (o_orderstatus) LOCATION '$root/tbl'""".stripMargin)
          val table = graft.sqlapi.LakeCatalog.targets(name)
          require(table.read(s).count() == 0L, "CREATE TABLE (cols) must be empty")
          s.sql(s"INSERT INTO $name SELECT o_orderkey, o_orderstatus, o_totalprice FROM $src")
          s.sql(s"""SELECT o_orderstatus, count(*) AS n,
                   |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
                   |       round(sum(o_totalprice), 2) AS price_sum
                   |FROM $name GROUP BY o_orderstatus""".stripMargin)
        } finally graft.sqlapi.LakeCatalog.unregister(name)
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
             |       round(sum(o_totalprice), 2) AS price_sum
             |FROM orders GROUP BY o_orderstatus""".stripMargin),
      "CREATE TABLE (cols) USING GRAFT: schema-only v0, filled by INSERT INTO"),

    // MERGE WITH SCHEMA EVOLUTION (Delta's clause, m6's API twin in SQL):
    // the source carries a column the target lacks; the statement evolves
    // the committed schema to target ∪ source — survivors read NULL for
    // the new column, matched/inserted rows carry its values.
    "m47_merge_evolution_sql" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m47_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders)
        val name = s"m47_${sanitize(dir)}"
        val src = s"m47_src_${sanitize(dir)}"
        orders.filter(col("o_orderkey") % 5 === 0)
          .withColumn("o_flag", lit(1)).createOrReplaceTempView(src)
        graft.sqlapi.LakeCatalog.register(name, table)
        try {
          s.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $name USING $src
                   |ON $name.o_orderkey = $src.o_orderkey
                   |WHEN MATCHED THEN UPDATE SET *
                   |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          table.read(s).groupBy("o_orderstatus")
            .agg(count(lit(1)).as("n"),
              count(col("o_flag")).as("n_flagged"),
              sum("o_orderkey").as("key_sum"))
        } finally graft.sqlapi.LakeCatalog.unregister(name)
      },
      Some("""WITH final AS (
             |  SELECT o_orderkey, o_orderstatus,
             |         CASE WHEN o_orderkey % 5 = 0 THEN 1 END AS o_flag
             |  FROM orders)
             |SELECT o_orderstatus, count(*) AS n,
             |       count(o_flag) AS n_flagged,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM final GROUP BY o_orderstatus""".stripMargin),
      "MERGE INTO ... WITH SCHEMA EVOLUTION: the SQL clause over merge(mergeSchema)"),

    // Time-based VACUUM (Delta's RETAIN n HOURS, the production form) on
    // the m37 in-commit timestamps with the injected clock: versions
    // committed inside the window stay readable, older ones are reclaimed
    // — the in-gate requires pin the horizon and the dead read.
    "m48_vacuum_hours" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m48_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        val ticks = Iterator(1000L, 3600000L, 7200000L) ++
          Iterator.continually(7300000L)
        table.clock = () => ticks.next()
        table.overwrite(orders.filter(col("o_orderkey") % 3 === 0)) // v0 @ ~0h
        table.overwrite(orders.filter(col("o_orderkey") % 3 =!= 0)) // v1 @ 1h
        table.overwrite(orders)                                     // v2 @ 2h
        val name = s"m48_${sanitize(dir)}"
        graft.sqlapi.LakeCatalog.register(name, table)
        try s.sql(s"VACUUM $name RETAIN 1 HOURS")
        finally graft.sqlapi.LakeCatalog.unregister(name)
        require(table.vacuumHorizon == 2L,
          s"1h window at t≈2h must retain only v2 (horizon ${table.vacuumHorizon})")
        require(scala.util.Try(table.readVersion(s, 1)).isFailure,
          "a vacuumed version must fail loudly, not read stale data")
        table.read(s).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM orders GROUP BY o_orderstatus""".stripMargin),
      "VACUUM ... RETAIN n HOURS: time-window retention on in-commit timestamps"),

    // Full-table DML + statement tokenizing: UPDATE whose SET list contains
    // a quoted 'where' (the tokenizer must split at the REAL keyword),
    // UPDATE with no WHERE at all (every row), and DELETE FROM with no
    // WHERE (table reset, required empty in-gate).
    "m49_full_table_dml" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m49_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders)
        val tgts = Map("orders_lake" -> table)
        graft.sqlapi.LakeSql.run(s,
          "UPDATE orders_lake SET o_orderpriority = 'where' WHERE o_orderkey % 2 = 0", tgts)
        graft.sqlapi.LakeSql.run(s,
          "UPDATE orders_lake SET o_custkey = o_custkey + 1", tgts) // no WHERE: all rows
        val reset = new MergeTable(s"$root/reset", Nil)
        reset.overwrite(orders.limit(100))
        graft.sqlapi.LakeSql.run(s, "DELETE FROM r_lake", Map("r_lake" -> reset))
        require(reset.read(s).count() == 0L, "DELETE FROM without WHERE must empty the table")
        table.read(s).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(when(col("o_orderpriority") === "where", 1).otherwise(0)).as("n_where"),
            sum("o_custkey").as("cust_sum"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |       CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_where,
             |       CAST(sum(o_custkey + 1) AS BIGINT) AS cust_sum
             |FROM orders GROUP BY o_orderstatus""".stripMargin),
      "full-table UPDATE/DELETE (no WHERE) + tokenized SET/WHERE split"),

    // Generated + identity columns declared in SQL DDL (Delta's
    // `GENERATED ALWAYS AS (expr)` / `... AS IDENTITY`), filled by an
    // INSERT with a COLUMN LIST that names neither: the write path derives
    // the generated value, mints gap-free identity ids, and NULL-fills the
    // unlisted plain column. Identity assignment order is partition-
    // dependent, so the result hashes its ORDER-FREE facts: id count,
    // min/max (exactly start..start+(n-1)·step), and the generated values
    // keyed by their inputs.
    "m50_generated_ddl" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m50_${sanitize(dir)}"
        cleanDir(root)
        val src = s"m50_src_${sanitize(dir)}"
        t(s, dir, "orders").createOrReplaceTempView(src)
        val name = s"m50_${sanitize(dir)}"
        try {
          s.sql(s"""CREATE TABLE $name (
                   |  rid BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 10 INCREMENT BY 2),
                   |  o_orderkey BIGINT,
                   |  key_bucket INT GENERATED ALWAYS AS (CAST(o_orderkey % 7 AS INT)),
                   |  note STRING
                   |) USING GRAFT LOCATION '$root/tbl'""".stripMargin)
          s.sql(s"INSERT INTO $name (o_orderkey) SELECT o_orderkey FROM $src")
          s.sql(s"""SELECT key_bucket, count(*) AS n,
                   |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
                   |       count(DISTINCT rid) AS n_ids,
                   |       CAST(min(rid) IS NOT NULL AND min(rid) >= 10 AS BOOLEAN) AS ids_floored,
                   |       CAST(count(note) AS BIGINT) AS n_notes
                   |FROM $name GROUP BY key_bucket""".stripMargin)
        } finally graft.sqlapi.LakeCatalog.unregister(name)
      },
      Some("""SELECT CAST(o_orderkey % 7 AS INT) AS key_bucket, count(*) AS n,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
             |       count(*) AS n_ids,
             |       TRUE AS ids_floored,
             |       CAST(0 AS BIGINT) AS n_notes
             |FROM orders GROUP BY 1""".stripMargin),
      "DDL generated + identity columns: derived values, gap-free ids, NULL-filled rest"),

    // Connector reader options (Delta's read-side option surface):
    // `versionAsOf` pins a snapshot, `readChangeFeed`+`startingVersion`
    // reads the CDF range, and a bare load reads the tip — all three
    // through `spark.read.format("graft")`, folded into one row so the
    // hash pins every mode at once.
    "m51_reader_options" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m51_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders.filter(col("o_orderkey") % 2 === 0))   // v0
        table.merge(s, orders.filter(col("o_orderkey") % 2 =!= 0),
          Seq("o_orderkey"), changeFeed = true)                        // v1: inserts
        val v0 = s.read.format("graft").option("versionAsOf", "0").load(root)
        val cdf = s.read.format("graft").option("readChangeFeed", "true")
          .option("startingVersion", "1").load(root)
        val cur = s.read.format("graft").load(root)
        v0.agg(count(lit(1)).as("n_v0"))
          .crossJoin(cdf.filter(col(MergeTable.ChangeType) === "insert")
            .agg(count(lit(1)).as("n_cdf_inserts")))
          .crossJoin(cur.agg(count(lit(1)).as("n_cur"),
            sum("o_orderkey").as("key_sum")))
      },
      Some("""SELECT (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0) AS n_v0,
             |       (SELECT count(*) FROM orders WHERE o_orderkey % 2 <> 0) AS n_cdf_inserts,
             |       count(*) AS n_cur,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM orders""".stripMargin),
      "connector reader options: versionAsOf time travel + readChangeFeed CDF range"),

    // Deletion-vector MERGE (Delta's DV-enabled MERGE — its flagship
    // write-amplification fix): the table property routes MERGE INTO
    // through mask-based upsert — matched rows are dv-masked, all source
    // rows land in ONE new dir, and EVERY pre-merge file survives in the
    // manifest (the in-gate require pins exactly that: zero rewritten
    // files). Result and CDF semantics are identical to the rewriting
    // merge, which is what the hash proves.
    "m52_dv_merge" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m52_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders)
        table.setProperties(Map(MergeTable.DeletionVectorsProp -> "true"))
        val before = table.filesOf(table.currentVersion).toSet
        val src = s"m52_src_${sanitize(dir)}"
        orders.filter(col("o_orderkey") % 3 === 0)
          .withColumn("o_orderpriority", lit("DV"))
          .createOrReplaceTempView(src)
        val name = s"m52_${sanitize(dir)}"
        graft.sqlapi.LakeCatalog.register(name, table)
        try s.sql(s"""MERGE INTO $name USING $src ON $name.o_orderkey = $src.o_orderkey
                     |WHEN MATCHED THEN UPDATE SET *
                     |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        finally graft.sqlapi.LakeCatalog.unregister(name)
        val after = table.filesOf(table.currentVersion).toSet
        require(before.subsetOf(after),
          "dv merge must keep every pre-merge file in the manifest (no rewrite)")
        require((after -- before).nonEmpty, "the source rows need a new file")
        table.read(s).groupBy("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
      },
      Some("""SELECT o_orderstatus,
             |       CASE WHEN o_orderkey % 3 = 0 THEN 'DV' ELSE o_orderpriority END
             |         AS o_orderpriority,
             |       count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM orders GROUP BY 1, 2""".stripMargin),
      "deletion-vector MERGE: mask-based upsert, zero file rewrites, O(matched rows)"),

    // DV-routed SQL DML: with graft.enableDeletionVectors set, DELETE and
    // UPDATE statements run the mask-based writers — same answers as the
    // rewriting twins (the hash), zero old-file rewrites (the require).
    "m53_dv_dml_sql" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m53_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders)
        table.setProperties(Map(MergeTable.DeletionVectorsProp -> "true"))
        val before = table.filesOf(table.currentVersion).toSet
        val tgts = Map("orders_lake" -> table)
        graft.sqlapi.LakeSql.run(s,
          "DELETE FROM orders_lake WHERE o_orderkey % 10 = 3", tgts)
        graft.sqlapi.LakeSql.run(s,
          "UPDATE orders_lake SET o_orderpriority = 'DVU' WHERE o_orderkey % 10 = 4",
          tgts)
        require(before.subsetOf(table.filesOf(table.currentVersion).toSet),
          "dv-routed DML must keep every original file in the manifest")
        table.read(s).groupBy("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
      },
      Some("""SELECT o_orderstatus,
             |       CASE WHEN o_orderkey % 10 = 4 THEN 'DVU' ELSE o_orderpriority END
             |         AS o_orderpriority,
             |       count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM orders WHERE o_orderkey % 10 <> 3
             |GROUP BY 1, 2""".stripMargin),
      "DV-routed SQL DELETE/UPDATE: property-driven mask writers, zero rewrites"),

    // Property-driven CDF (Delta's delta.enableChangeDataFeed): once the
    // table property is set, every SQL DML statement records change rows
    // with no per-call flag — proven by replaying a DELETE + UPDATE +
    // MERGE through table_changes over exactly those commits.
    "m54_cdf_property" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m54_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders.filter(col("o_orderkey") % 4 =!= 3))      // v0
        table.setProperties(Map(MergeTable.ChangeFeedProp -> "true"))    // v1
        val name = s"m54_${sanitize(dir)}"
        val src = s"m54_src_${sanitize(dir)}"
        orders.filter(col("o_orderkey") % 4 === 3).createOrReplaceTempView(src)
        graft.sqlapi.LakeCatalog.register(name, table)
        try {
          s.sql(s"DELETE FROM $name WHERE o_orderkey % 10 = 7")          // v2
          s.sql(s"UPDATE $name SET o_orderpriority = 'CDF' WHERE o_orderkey % 10 = 2") // v3
          s.sql(s"""MERGE INTO $name USING $src ON $name.o_orderkey = $src.o_orderkey
                   |WHEN MATCHED THEN UPDATE SET *
                   |WHEN NOT MATCHED THEN INSERT *""".stripMargin)       // v4
          s.sql(s"""SELECT _change_type AS change_type, count(*) AS n,
                   |       sum(o_orderkey) AS key_sum
                   |FROM table_changes('$name', 2, 4)
                   |GROUP BY _change_type""".stripMargin)
        } finally graft.sqlapi.LakeCatalog.unregister(name)
      },
      Some("""WITH base AS (SELECT * FROM orders WHERE o_orderkey % 4 <> 3),
             |changes AS (
             |  SELECT 'delete' AS change_type, o_orderkey FROM base
             |  WHERE o_orderkey % 10 = 7
             |  UNION ALL
             |  SELECT 'update_preimage', o_orderkey FROM base WHERE o_orderkey % 10 = 2
             |  UNION ALL
             |  SELECT 'update_postimage', o_orderkey FROM base WHERE o_orderkey % 10 = 2
             |  UNION ALL
             |  SELECT 'insert', o_orderkey FROM orders WHERE o_orderkey % 4 = 3)
             |SELECT change_type, count(*) AS n,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM changes GROUP BY change_type""".stripMargin),
      "property-driven CDF: enableChangeDataFeed turns the feed on for all SQL DML"),

    // CONVERT TO GRAFT (Delta's CONVERT TO DELTA): an existing hive-
    // partitioned plain-parquet directory becomes a MergeTable in place —
    // zero-copy links, no data rewrite — and is immediately a full lake
    // table: the gate follows the convert with a MERGE and a time-travel
    // read of the pre-merge snapshot. The require pins that conversion
    // added no data bytes (same file count in the v0 manifest as on disk).
    "m55_convert" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m55_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        // the pre-existing plain parquet lake (hive-partitioned)
        orders.write.partitionBy("o_orderstatus").parquet(root)
        s.sql(s"CONVERT TO GRAFT parquet.`$root` AS m55_${sanitize(dir)}")
        graft.sqlapi.LakeCatalog.unregister(s"m55_${sanitize(dir)}")
        val table = MergeTable.open(root)
        require(table.currentVersion == 0L && table.partitionCols == Seq("o_orderstatus"),
          "convert must commit v0 with the hive layout as partition columns")
        // a converted table is a FULL lake table: merge + time travel work
        table.merge(s, orders.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_orderpriority", lit("CONV")), Seq("o_orderkey"))
        val v0 = table.readVersion(s, 0).agg(count(lit(1)).as("n0"),
          sum("o_orderkey").as("ks0"))
        table.read(s).groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
          .crossJoin(v0)
      },
      Some("""WITH cur AS (
             |  SELECT CASE WHEN o_orderkey % 7 = 0 THEN 'CONV' ELSE o_orderpriority END
             |           AS o_orderpriority, o_orderkey
             |  FROM orders)
             |SELECT o_orderpriority, count(*) AS n,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
             |       (SELECT count(*) FROM orders) AS n0,
             |       (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM orders) AS ks0
             |FROM cur GROUP BY o_orderpriority""".stripMargin),
      "CONVERT TO GRAFT: zero-copy adoption of a plain-parquet lake, then full DML"),

    // The DSv2 catalog plugin (Delta's DeltaCatalog integration shape):
    // Spark-native CREATE NAMESPACE / CREATE TABLE / INSERT INTO / SELECT
    // over multi-part identifiers, zero parser extension involved. The
    // read side must agree with DuckDB on the source table exactly.
    "m56_catalog" -> GraftQuery(
      (s, dir) => {
        val tag = sanitize(dir)
        val cat = s"gc56_$tag"
        val wh = s"$scratchRoot/m56_$tag"
        cleanDir(wh)
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.lake")
        s.sql(s"""CREATE TABLE $cat.lake.ords (
                 |  o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
                 |  o_totalprice DOUBLE, o_orderpriority STRING)
                 |PARTITIONED BY (o_orderstatus)""".stripMargin)
        t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderpriority")
          .createOrReplaceTempView(s"m56_src_$tag")
        s.sql(s"INSERT INTO $cat.lake.ords SELECT * FROM m56_src_$tag")
        s.sql(s"""SELECT o_orderstatus, count(*) AS n,
                 |       round(sum(o_totalprice), 2) AS revenue,
                 |       sum(o_orderkey) AS key_sum
                 |FROM $cat.lake.ords GROUP BY o_orderstatus""".stripMargin)
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |       round(sum(o_totalprice), 2) AS revenue,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM orders GROUP BY o_orderstatus""".stripMargin),
      "DSv2 catalog plugin: native CREATE TABLE/INSERT/SELECT through spark.sql.catalog"),

    // Catalog-routed DML: CTAS then DELETE FROM through SupportsDelete —
    // the delete must route through the same predicate semantics as the
    // rewriting DML surface (oracle = the complement aggregate).
    "m57_catalog_dml" -> GraftQuery(
      (s, dir) => {
        val tag = sanitize(dir)
        val cat = s"gc57_$tag"
        val wh = s"$scratchRoot/m57_$tag"
        cleanDir(wh)
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.dml")
        t(s, dir, "lineitem")
          .select("l_orderkey", "l_partkey", "l_quantity",
            "l_extendedprice", "l_returnflag")
          .createOrReplaceTempView(s"m57_src_$tag")
        s.sql(s"CREATE TABLE $cat.dml.li AS SELECT * FROM m57_src_$tag")
        s.sql(s"DELETE FROM $cat.dml.li WHERE l_returnflag = 'R'")
        s.sql(s"""SELECT l_returnflag, count(*) AS n,
                 |       round(sum(l_extendedprice), 2) AS revenue,
                 |       sum(l_quantity) AS sum_qty
                 |FROM $cat.dml.li GROUP BY l_returnflag""".stripMargin)
      },
      Some("""SELECT l_returnflag, count(*) AS n,
             |       round(sum(l_extendedprice), 2) AS revenue,
             |       sum(l_quantity) AS sum_qty
             |FROM lineitem WHERE l_returnflag <> 'R'
             |GROUP BY l_returnflag""".stripMargin),
      "catalog DML: CTAS + DELETE FROM via SupportsDelete, complement-aggregate oracle"),

    // Catalog-routed UPDATE and MERGE INTO: the statements Spark has no
    // native v2 executor for resolve their `cat.ns.t` targets through the
    // configured GraftCatalog and run the lake DML surface — the oracle
    // replays both mutations as a CASE over the source.
    "m58_catalog_upsert" -> GraftQuery(
      (s, dir) => {
        val tag = sanitize(dir)
        val cat = s"gc58_$tag"
        val wh = s"$scratchRoot/m58_$tag"
        cleanDir(wh)
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.lake")
        t(s, dir, "customer")
          .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
          .createOrReplaceTempView(s"m58_src_$tag")
        s.sql(s"CREATE TABLE $cat.lake.cust AS SELECT * FROM m58_src_$tag")
        s.sql(s"UPDATE $cat.lake.cust SET c_acctbal = c_acctbal + 100.0 " +
          "WHERE c_mktsegment = 'BUILDING'")
        s.sql(s"""SELECT c_custkey, c_name, c_acctbal, 'VIP' AS c_mktsegment
                 |FROM m58_src_$tag WHERE c_custkey % 10 = 0""".stripMargin)
          .createOrReplaceTempView(s"m58_delta_$tag")
        s.sql(s"""MERGE INTO $cat.lake.cust AS t USING m58_delta_$tag AS s
                 |ON t.c_custkey = s.c_custkey
                 |WHEN MATCHED THEN UPDATE SET *
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        s.sql(s"""SELECT c_mktsegment, count(*) AS n,
                 |       round(sum(c_acctbal), 2) AS bal
                 |FROM $cat.lake.cust GROUP BY c_mktsegment
                 |ORDER BY c_mktsegment""".stripMargin)
      },
      Some("""SELECT seg AS c_mktsegment, count(*) AS n,
             |       round(sum(bal), 2) AS bal
             |FROM (SELECT CASE WHEN c_custkey % 10 = 0 THEN 'VIP'
             |                  ELSE c_mktsegment END AS seg,
             |             CASE WHEN c_custkey % 10 = 0 THEN c_acctbal
             |                  WHEN c_mktsegment = 'BUILDING' THEN c_acctbal + 100.0
             |                  ELSE c_acctbal END AS bal
             |      FROM customer)
             |GROUP BY 1 ORDER BY 1""".stripMargin),
      "catalog-routed UPDATE + MERGE INTO on cat.ns.t names, CASE-replay oracle"),

    // Delta's autoOptimize pair as table properties: optimizeWrite
    // (AQE-REBALANCE-shuffled appends — advisory-sized files, not one
    // sliver per write task) and autoCompact (post-append bin-packing of
    // the touched partitions at minNumFiles). The gate proves the
    // layout invariant in-query (every partition dir ends packed) and
    // the oracle proves the content is untouched by the rewrites.
    "m59_auto_optimize" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m59_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.createEmpty(orders.schema)
        table.setProperties(Map(
          MergeTable.OptimizeWriteProp -> "true",
          MergeTable.AutoCompactProp -> "true",
          MergeTable.AutoCompactMinFilesProp -> "3"))
        // three scattered appends: 8 upstream tasks each, so without
        // optimizeWrite every append would write up to 8 slivers per
        // partition dir and nothing would ever pack them
        (0 to 2).foreach { i =>
          table.append(orders.filter(col("o_orderkey") % 3 === i).repartition(8))
        }
        val perDir = table.filesOf(table.currentVersion).groupBy { f =>
          val segs = f.split('/'); segs.slice(1, segs.length - 1).mkString("/")
        }.map { case (d, fs) => d -> fs.size }
        require(perDir.values.forall(_ <= 2),
          s"auto-optimize must leave every partition packed, got $perDir")
        table.read(s).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"),
            round(sum("o_totalprice"), 2).as("revenue"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
             |       round(sum(o_totalprice), 2) AS revenue
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
      "autoOptimize properties: rebalanced writes + touched-partition auto-compact"),

    // Native column DDL through the catalog: GENERATED ALWAYS AS
    // IDENTITY (gap-free 1,2,…,n → id_sum = n(n+1)/2, order-free),
    // GENERATED ALWAYS AS (expr) derivation, and DEFAULT fill for an
    // omitted column — all three declared in one CREATE and exercised by
    // a column-list INSERT … SELECT.
    "m60_catalog_columns" -> GraftQuery(
      (s, dir) => {
        val tag = sanitize(dir)
        val cat = s"gc60_$tag"
        val wh = s"$scratchRoot/m60_$tag"
        cleanDir(wh)
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.lake")
        s.sql(s"""CREATE TABLE $cat.lake.n (
                 |  id BIGINT GENERATED ALWAYS AS IDENTITY,
                 |  n_name STRING,
                 |  region STRING DEFAULT 'unknown',
                 |  name_len INT GENERATED ALWAYS AS (length(n_name)))""".stripMargin)
        t(s, dir, "nation").createOrReplaceTempView(s"m60_src_$tag")
        s.sql(s"INSERT INTO $cat.lake.n (n_name) " +
          s"SELECT n_name FROM m60_src_$tag")
        s.sql(s"""SELECT count(*) AS n, sum(id) AS id_sum,
                 |       sum(name_len) AS len_sum, max(region) AS region
                 |FROM $cat.lake.n""".stripMargin)
      },
      Some("""SELECT count(*) AS n,
             |       CAST(count(*) * (count(*) + 1) / 2 AS BIGINT) AS id_sum,
             |       CAST(sum(length(n_name)) AS BIGINT) AS len_sum,
             |       'unknown' AS region
             |FROM nation""".stripMargin),
      "native identity + generated + DEFAULT columns through the catalog DDL"),

    // MERGE idempotency: applying the same source twice must equal applying
    // it once (README.md:105-118 re-run semantics). Output = final snapshot
    // aggregated per status for a compact, order-free compare.
    "m2_merge_idempotent" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m2_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders)
        val source = orders.filter(col("o_orderkey") % 3 === 0)
          .withColumn("o_orderstatus", lit("X"))
        table.merge(s, source, Seq("o_orderkey"))
        table.merge(s, source, Seq("o_orderkey")) // re-run: must be a no-op
        table.read(s).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM (
             |  SELECT CASE WHEN o_orderkey % 3 = 0 THEN 'X' ELSE o_orderstatus END
             |           AS o_orderstatus, o_orderkey
             |  FROM orders)
             |GROUP BY o_orderstatus""".stripMargin),
      "MERGE re-run idempotency — the reference's late-data story"),

    // Deletion vectors (Delta DV analog): two consecutive deletes mask row
    // POSITIONS in sidecar files — the data files are never rewritten
    // (asserted: the manifest is byte-identical across both deletes), and
    // reads drop masked positions with one broadcast anti-join against the
    // scan's own _metadata row positions. The 100 TB point: deleting 0.1%
    // of rows costs O(deleted rows), not a rewrite of every touched file.
    // The second delete exercises mask ACCUMULATION (union-on-rebind), and
    // the overlap between the two predicates exercises duplicate-position
    // tolerance.
    "m26_deletion_vectors" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m26_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders)
        val v0Files = table.filesOf(0)
        table.deleteVectorized(s, col("o_totalprice") < 30000.0)
        table.deleteVectorized(s,
          col("o_orderpriority") === "1-URGENT" && col("o_totalprice") < 60000.0)
        require(table.filesOf(table.currentVersion) == v0Files,
          "deletion vectors must not rewrite data files")
        require(table.deletionVectors.nonEmpty, "expected dv bindings")
        table.read(s).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"),
               round(sum("o_totalprice"), 2).as("price_sum"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
             |       round(sum(o_totalprice), 2) AS price_sum
             |FROM orders
             |WHERE NOT (o_totalprice < 30000.0)
             |  AND NOT (o_orderpriority = '1-URGENT' AND o_totalprice < 60000.0)
             |GROUP BY o_orderstatus""".stripMargin),
      "Delta deletion-vectors analog: delete masks positions, zero rewrite"),

    // DESCRIBE DETAIL (driven through spark.sql via the injected parser).
    // The gate projects ONLY the data-derivable facts — version is the
    // commit count, num_masked_rows is exactly the deleted-row count, the
    // partition spec is declared — so the DuckDB oracle can recompute them;
    // layout-dependent facts (num_files, size_bytes, location, timestamps)
    // stay on the API/SQL surface and are covered by the spec instead.
    "m27_describe_detail" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m27_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders)                                   // v0
        table.deleteVectorized(s, col("o_totalprice") < 30000.0)  // v1
        val name = s"orders_detail_${sanitize(dir)}"
        graft.sqlapi.LakeCatalog.register(name, table)
        try {
          s.sql(s"DESCRIBE DETAIL $name")
            .select(col("format"), col("version"),
              array_join(col("partition_columns"), ",").as("partition_columns"),
              col("num_masked_rows"), col("num_constraints"))
        } finally graft.sqlapi.LakeCatalog.unregister(name)
      },
      Some("""SELECT 'graft-parquet' AS format, CAST(1 AS BIGINT) AS version,
             |       'o_orderstatus' AS partition_columns,
             |       (SELECT count(*) FROM orders WHERE o_totalprice < 30000.0)
             |         AS num_masked_rows,
             |       CAST(0 AS BIGINT) AS num_constraints""".stripMargin),
      "DESCRIBE DETAIL analog over the commit log, via spark.sql"),

    // Column mapping (Delta column-mapping analog): RENAME and DROP COLUMN
    // are metadata-only commits — data files keep their physical column
    // names, scans project physical→logical, and a column re-added after a
    // DROP gets a fresh physical name so dropped bytes can never
    // resurrect. The query exercises the whole lifecycle: rename, drop, a
    // MERGE through the mapping (new files store physical names), re-add
    // of the dropped name (must read NULL everywhere), then an aggregate
    // over logical names. SQL statements drive the DDL (ALTER TABLE via
    // the registered-parser path is covered by ColumnMappingSpec).
    "m28_column_mapping" -> GraftQuery(
      (s, dir) => {
        import org.apache.spark.sql.types.{LongType, StructField, StructType}
        val root = s"$scratchRoot/m28_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders)                             // v0
        table.renameColumn("o_orderpriority", "priority")   // v1: metadata-only
        table.dropColumn("o_custkey")                       // v2: metadata-only
        require(table.filesOf(2) == table.filesOf(0),
          "rename/drop must not rewrite data files")
        // write THROUGH the mapping: merged files store physical o_orderpriority
        val source = orders.filter(col("o_orderkey") % 10 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1.0)
          .withColumnRenamed("o_orderpriority", "priority")
          .drop("o_custkey")
        table.merge(s, source, Seq("o_orderkey"))           // v3
        table.addColumns(StructType(Seq(StructField("o_custkey", LongType)))) // v4
        require(table.columnMapping.get("o_custkey").exists(_ != "o_custkey"),
          "re-added column must get a fresh physical name")
        table.read(s).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
               round(sum("o_totalprice"), 2).as("price_sum"),
               count(col("o_custkey")).as("custkey_nonnull"),
               countDistinct("priority").as("priorities"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |       round(sum(o_totalprice +
             |                 CASE WHEN o_orderkey % 10 = 0 THEN 1.0 ELSE 0.0 END), 2)
             |         AS price_sum,
             |       CAST(0 AS BIGINT) AS custkey_nonnull,
             |       count(DISTINCT o_orderpriority) AS priorities
             |FROM orders
             |GROUP BY o_orderstatus""".stripMargin),
      "Delta column-mapping analog: metadata-only RENAME/DROP COLUMN"),

    // WHEN NOT MATCHED BY SOURCE THEN DELETE (Delta's full-sync MERGE
    // clause), partition-scoped: the source carries only status-'O' rows
    // (every third, price+5), and keysDeterminePartitions prunes the sync
    // to that partition — 'O' becomes exactly the source (updates +
    // deletions of the other two thirds), every other partition's files
    // carry forward untouched. Driven through the SQL statement.
    "m29_sync_merge" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m29_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders)
        orders.filter(col("o_orderstatus") === "O" && col("o_orderkey") % 3 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 5.0)
          .createOrReplaceTempView("m29_src")
        graft.sqlapi.MergeInto.run(s,
          """MERGE INTO tbl AS t USING m29_src AS src ON t.o_orderkey = src.o_orderkey
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *
            |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin,
          Map("tbl" -> table), keysDeterminePartitions = true)
        table.read(s).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("price_sum"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |       round(sum(o_totalprice), 2) AS price_sum
             |FROM (SELECT o_orderstatus, o_totalprice + 5.0 AS o_totalprice
             |      FROM orders WHERE o_orderstatus = 'O' AND o_orderkey % 3 = 0
             |      UNION ALL
             |      SELECT o_orderstatus, o_totalprice
             |      FROM orders WHERE o_orderstatus <> 'O')
             |GROUP BY o_orderstatus""".stripMargin),
      "Delta WHEN NOT MATCHED BY SOURCE THEN DELETE: scoped full sync"),

    // INSERT INTO (Delta-style positional SQL append): the statement's
    // SELECT re-reads the registered table itself at VERSION AS OF 0 —
    // time travel composing inside a DML source — so the table ends as
    // orders ∪ (every 7th order), appended without any rewrite of v0
    // files (append commits carry prior files forward by reference).
    "m30_insert_into" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m30_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders)
        graft.sqlapi.LakeSql.run(s,
          "INSERT INTO tbl SELECT * FROM tbl VERSION AS OF 0 WHERE o_orderkey % 7 = 0",
          Map("tbl" -> table))
        require(table.filesOf(0).forall(table.filesOf(1).contains),
          "append must carry prior files forward by reference")
        table.read(s).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM (SELECT o_orderstatus, o_orderkey FROM orders
             |      UNION ALL
             |      SELECT o_orderstatus, o_orderkey FROM orders
             |      WHERE o_orderkey % 7 = 0)
             |GROUP BY o_orderstatus""".stripMargin),
      "INSERT INTO over MergeTable: positional SQL append, time-travel source"),

    // CTAS end-to-end through spark.sql: the USING GRAFT provider tag
    // routes the statement to the injected parser even with the target
    // unregistered; the new table lands partitioned, carries its
    // TBLPROPERTIES, and answers follow-up SELECTs by name. DROP TABLE
    // unregisters (data stays on disk — external-table semantics).
    "m31_ctas" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m31_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val src = new MergeTable(s"$root/src")
        src.overwrite(orders)
        val srcName = s"ctas_src_${sanitize(dir)}"
        val dstName = s"ctas_dst_${sanitize(dir)}"
        graft.sqlapi.LakeCatalog.register(srcName, src)
        try {
          s.sql(s"""CREATE TABLE $dstName USING GRAFT
                   |PARTITIONED BY (o_orderstatus) LOCATION '$root/dst'
                   |TBLPROPERTIES (source = '$srcName')
                   |AS SELECT o_orderstatus, o_custkey,
                   |          count(*) AS n, sum(o_orderkey) AS key_sum
                   |   FROM $srcName GROUP BY o_orderstatus, o_custkey""".stripMargin)
          val created = graft.sqlapi.LakeCatalog.targets(dstName)
          require(created.partitionCols == Seq("o_orderstatus"),
            "CTAS must apply PARTITIONED BY")
          require(created.properties.filterNot(_._1.startsWith("graft.")) ==
              Map("source" -> srcName),
            "CTAS must record TBLPROPERTIES")
          s.sql(s"SELECT o_orderstatus, o_custkey, n, key_sum FROM $dstName WHERE n >= 2")
        } finally {
          s.sql(s"DROP TABLE IF EXISTS $dstName")
          graft.sqlapi.LakeCatalog.unregister(srcName)
        }
      },
      Some("""SELECT o_orderstatus, o_custkey, n, key_sum FROM (
             |  SELECT o_orderstatus, o_custkey, CAST(count(*) AS BIGINT) AS n,
             |         CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |  FROM orders GROUP BY o_orderstatus, o_custkey)
             |WHERE n >= 2""".stripMargin),
      "CREATE TABLE ... USING GRAFT AS SELECT via spark.sql; DROP TABLE unregisters"),

    // ANALYZE TABLE retrofits data skipping: the table is created WITHOUT
    // statsCols (no stats collected at write time), range-partitioned by
    // key so files cover disjoint key ranges; one ANALYZE pass records
    // per-file min/max, after which the range read provably prunes files.
    "m32_analyze" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m32_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root) // NO statsCols
        table.overwrite(orders.repartitionByRange(8, col("o_orderkey")))
        require(table.statsOf(0).isEmpty, "no stats before analyze")
        graft.sqlapi.LakeSql.run(s,
          "ANALYZE TABLE tbl COMPUTE STATISTICS FOR COLUMNS o_orderkey",
          Map("tbl" -> table))
        val all = table.filesOf(table.currentVersion)
        val cand = table.candidateFiles("o_orderkey", 100, 200)
        require(cand.nonEmpty && cand.size < all.size,
          s"analyze must enable pruning (${cand.size} of ${all.size})")
        table.readRange(s, "o_orderkey", 100, 200)
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
      },
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
             |WHERE o_orderkey BETWEEN 100 AND 200""".stripMargin),
      "ANALYZE TABLE: stats backfill on a stats-less table, then pruned range read"),

    // AUTOMATIC data skipping (Delta's manifest-level file pruning on
    // every read): a selective filter on a connector scan prunes the file
    // list through partition values AND per-file min/max stats with zero
    // caller opt-in — the in-gate requires pin that the pruner admits a
    // strict subset on both axes, and the hash proves the pruned scan
    // returns exactly the rows the predicate selects.
    "m61_data_skipping" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m61_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"),
          statsCols = Seq("o_orderkey"))
        // range-partitioned upstream → each partition dir gets several
        // files covering DISJOINT key ranges: stats pruning has to act
        // within partitions, partition pruning across them
        table.overwrite(orders.repartitionByRange(8, col("o_orderkey")))
        // scale-relative key range (a quarter of the key domain) so the
        // within-partition prune bites at every test sf — both engines
        // derive identical integer bounds from max(o_orderkey)
        val maxKey = orders.agg(max(col("o_orderkey")).cast("long")).head.getLong(0)
        val (lo, hi) = (maxKey / 4, maxKey / 2)
        val all = table.filesOf(table.currentVersion)
        val pruned = table.pruneFilesFor(s, table.currentVersion, Seq(
          org.apache.spark.sql.sources.EqualTo("o_orderstatus", "F"),
          org.apache.spark.sql.sources.GreaterThanOrEqual("o_orderkey", lo),
          org.apache.spark.sql.sources.LessThanOrEqual("o_orderkey", hi)))
        require(pruned.nonEmpty && pruned.size < all.size &&
          pruned.forall(_.contains("o_orderstatus=F")),
          s"data skipping must prune on both axes (${pruned.size} of ${all.size})")
        require(pruned.size < all.count(_.contains("o_orderstatus=F")),
          "stats must prune within the admitted partition")
        s.read.format("graft").load(root)
          .filter(col("o_orderstatus") === "F" &&
            col("o_orderkey").between(lo, hi))
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
      },
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
             |WHERE o_orderstatus = 'F'
             |  AND o_orderkey BETWEEN (SELECT max(o_orderkey) // 4 FROM orders)
             |                     AND (SELECT max(o_orderkey) // 2 FROM orders)""".stripMargin),
      "automatic data skipping: partition + stats file pruning on every connector scan"),

    // GENERATE symlink_format_manifest (Delta's Presto/Trino/Athena
    // compatibility surface — the reference's own read side is Athena):
    // per-partition manifest files list the snapshot's data files as
    // absolute paths, regenerated in LOCKSTEP with every commit once the
    // property is set. The gate then plays the EXTERNAL ENGINE: plain
    // parquet reads over exactly the manifest-listed paths, partition
    // values recovered from the manifest's Hive dirs — and the hash
    // proves that read equals the logical table.
    "m62_symlink_manifest" -> GraftQuery(
      (s, dir) => {
        import java.nio.file.{Files, Paths}
        import scala.jdk.CollectionConverters._
        val root = s"$scratchRoot/m62_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders.filter(col("o_orderkey") % 2 === 0))
        table.setProperties(Map(MergeTable.SymlinkManifestProp -> "true"))
        graft.sqlapi.LakeSql.run(s, "GENERATE symlink_format_manifest FOR TABLE tbl",
          Map("tbl" -> table))
        table.merge(s, orders.filter(col("o_orderkey") % 2 =!= 0), Seq("o_orderkey"))
        val mroot = Paths.get(root, MergeTable.SymlinkManifestDir)
        val manifests = Files.walk(mroot).iterator().asScala
          .filter(p => p.getFileName.toString == "manifest").toSeq
        val listed = manifests.flatMap(p => Files.readAllLines(p).asScala)
        val snapshot = table.filesOf(table.currentVersion)
          .map(f => Paths.get(root).toAbsolutePath.normalize.resolve(f).toString).toSet
        require(listed.toSet == snapshot && listed.size == snapshot.size,
          s"manifests must track the post-merge snapshot in lockstep " +
            s"(${listed.size} listed vs ${snapshot.size} files)")
        manifests.map { m =>
          val part = mroot.relativize(m.getParent).toString
          var df = s.read.parquet(Files.readAllLines(m).asScala.toSeq: _*)
          if (part.nonEmpty) part.split('/').foreach { seg =>
            val Array(k, v) = seg.split("=", 2)
            df = df.withColumn(k,
              lit(org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
                .unescapePathName(v)))
          }
          df
        }.reduce(_ unionByName _)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"),
            round(sum("o_totalprice"), 2).as("revenue"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
             |       round(sum(o_totalprice), 2) AS revenue
             |FROM orders GROUP BY o_orderstatus""".stripMargin),
      "symlink manifests for external engines: per-partition file lists, commit-lockstep"),

    // Generated-column partition pruning (Delta's derived partition
    // filters — the reference's own year/month-from-date layout): the
    // table partitions on y GENERATED AS year(od), the query filters on
    // od alone, and the pruner derives y-bounds through the generation
    // expression — `WHERE od IN 1994` scans only y=1994 directories with
    // zero caller opt-in. The require pins the derivation; the hash
    // proves the pruned connector scan returns exactly the year's rows.
    "m63_generated_partition_pruning" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m63_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
          .withColumn("od", to_date(col("o_orderdate"))).drop("o_orderdate")
        val table = new MergeTable(root, Seq("y"),
          generatedCols = Seq("y" -> "year(od)"))
        table.overwrite(orders)
        // scale-independent target year: min(year) + 1, derived by both
        // engines from the data
        val yr = orders.agg((min(year(col("od"))) + 1).cast("int")).head.getInt(0)
        val all = table.filesOf(table.currentVersion)
        val pruned = table.pruneFilesFor(s, table.currentVersion, Seq(
          org.apache.spark.sql.sources.GreaterThanOrEqual("od",
            java.sql.Date.valueOf(s"$yr-01-01")),
          org.apache.spark.sql.sources.LessThanOrEqual("od",
            java.sql.Date.valueOf(s"$yr-12-31"))))
        require(pruned.nonEmpty && pruned.size < all.size &&
          pruned.forall(_.contains(s"y=$yr")),
          s"the od range must derive y=$yr pruning (${pruned.size} of ${all.size})")
        s.read.format("graft").load(root)
          .filter(col("od").between(s"$yr-01-01", s"$yr-12-31"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"),
            round(sum("o_totalprice"), 2).as("revenue"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
             |       round(sum(o_totalprice), 2) AS revenue
             |FROM orders
             |WHERE year(CAST(o_orderdate AS DATE)) =
             |      (SELECT min(year(CAST(o_orderdate AS DATE))) + 1 FROM orders)
             |GROUP BY o_orderstatus""".stripMargin),
      "generated-column partition pruning: base-column filters derive partition bounds"),

    // Bloom index MAINTENANCE (Delta builds filters at write time once an
    // index exists): files written AFTER the one-shot build — appends and
    // merge rewrites alike — index themselves, so point-lookup pruning
    // never decays with table churn. The require pins that EVERY snapshot
    // file carries a sidecar post-append; the hash proves the pruned
    // point read returns exactly the key's row.
    "m64_bloom_maintenance" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m64_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders.filter(col("o_orderkey") % 2 === 0))
        graft.sqlapi.LakeSql.run(s,
          "CREATE BLOOMFILTER INDEX ON TABLE tbl FOR COLUMNS (o_orderkey)",
          Map("tbl" -> table))
        table.append(orders.filter(col("o_orderkey") % 2 =!= 0)) // post-build files
        val probe = orders.filter(col("o_orderkey") % 2 =!= 0)
          .agg(max(col("o_orderkey")).cast("long")).head.getLong(0)
        val enc = (f: String) => java.net.URLEncoder
          .encode(f, java.nio.charset.StandardCharsets.UTF_8)
        require(table.filesOf(table.currentVersion).forall(f => Files.exists(
          Paths.get(root, "bloomidx", "o_orderkey", enc(f) + ".bloom"))),
          "every snapshot file must carry a sidecar after the append")
        require(table.bloomCandidateFiles(s, "o_orderkey", probe).size <
          table.filesOf(table.currentVersion).size,
          "the fresh sidecars must prune the point lookup")
        table.readPoint(s, "o_orderkey", probe)
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
      },
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
             |WHERE o_orderkey = (SELECT max(o_orderkey) FROM orders
             |                    WHERE o_orderkey % 2 <> 0)""".stripMargin),
      "bloom index maintenance: post-build writes self-index, lookups never decay"),

    // NOT NULL column constraints (Delta's `ALTER COLUMN ... SET NOT
    // NULL`), carried on the CHECK machinery: existing data validates on
    // add, enforcement is the same fused per-row raising filter every
    // write already runs, a violating write fails ATOMICALLY (no commit),
    // and DROP NOT NULL lifts it. The final state — original rows plus
    // one post-drop NULL row — is the hash.
    "m65_not_null" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m65_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders)
        graft.sqlapi.LakeSql.run(s,
          "ALTER TABLE tbl ALTER COLUMN o_orderpriority SET NOT NULL",
          Map("tbl" -> table))
        val minKey = orders.agg(min(col("o_orderkey")).cast("long")).head.getLong(0)
        val bad = orders.filter(col("o_orderkey") === minKey)
          .withColumn("o_orderpriority", lit(null).cast("string"))
        val before = table.currentVersion
        val failed =
          try { table.append(bad); false }
          catch { case scala.util.control.NonFatal(_) => true }
        require(failed && table.currentVersion == before,
          "a NULL insert must fail atomically under SET NOT NULL")
        graft.sqlapi.LakeSql.run(s,
          "ALTER TABLE tbl ALTER COLUMN o_orderpriority DROP NOT NULL",
          Map("tbl" -> table))
        table.append(bad) // allowed again
        table.read(s)
          .groupBy(col("o_orderpriority").isNull.as("pri_null"))
          .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
      },
      Some("""WITH aug AS (SELECT o_orderkey, o_orderpriority FROM orders
             |             UNION ALL
             |             SELECT o_orderkey, NULL FROM orders
             |             WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders))
             |SELECT o_orderpriority IS NULL AS pri_null, count(*) AS n,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM aug GROUP BY 1""".stripMargin),
      "NOT NULL column constraints: validated on add, fused enforcement, atomic failure"),

    // Stats-column PERSISTENCE: the collection set is table state pinned
    // in the log (graft.statsCols), so a bare-path reopen — here the
    // connector's append — keeps collecting and data skipping never
    // decays as the table churns. The require pins full stat coverage
    // after the connector write; the hash proves the pruned read over
    // BOTH halves stays exact.
    "m66_stats_pinning" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m66_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"),
          statsCols = Seq("o_orderkey"))
        table.overwrite(orders.filter(col("o_orderkey") % 2 === 0)
          .repartitionByRange(4, col("o_orderkey")))
        // the CONNECTOR appends — a bare-path reopen with no statsCols arg
        orders.filter(col("o_orderkey") % 2 =!= 0)
          .repartitionByRange(4, col("o_orderkey"))
          .write.format("graft").mode("append").save(root)
        val stats = table.statsOf(table.currentVersion)
        require(table.filesOf(table.currentVersion).forall(f =>
          stats.get(f).exists(_.contains("o_orderkey"))),
          "the connector append must keep collecting the pinned stats columns")
        val maxKey = orders.agg(max(col("o_orderkey")).cast("long")).head.getLong(0)
        val (lo, hi) = (maxKey / 4, maxKey / 2)
        val all = table.filesOf(table.currentVersion)
        val pruned = table.pruneFilesFor(s, table.currentVersion, Seq(
          org.apache.spark.sql.sources.GreaterThanOrEqual("o_orderkey", lo),
          org.apache.spark.sql.sources.LessThanOrEqual("o_orderkey", hi)))
        require(pruned.nonEmpty && pruned.size < all.size,
          s"stats from both writes must prune (${pruned.size} of ${all.size})")
        s.read.format("graft").load(root)
          .filter(col("o_orderkey").between(lo, hi))
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
      },
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
             |WHERE o_orderkey BETWEEN (SELECT max(o_orderkey) // 4 FROM orders)
             |                     AND (SELECT max(o_orderkey) // 2 FROM orders)""".stripMargin),
      "stats-column persistence: connector reopens keep collecting, skipping never decays"),

    // Idempotent batch writes (Delta's txnAppId/txnVersion WRITER
    // options): a restart-replayed write with an already-applied version
    // is a NO-OP — the marker commits atomically with the data, so batch
    // jobs get exactly-once with zero external state. The replay inside
    // the gate would double every odd key if the option were ignored;
    // the hash proves it did not.
    "m67_idempotent_writes" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m67_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        orders.filter(col("o_orderkey") % 2 === 0)
          .write.format("graft").mode("overwrite").save(root)
        def appendOdds(): Unit = orders.filter(col("o_orderkey") % 2 =!= 0)
          .write.format("graft").mode("append")
          .option("txnAppId", "m67").option("txnVersion", "1").save(root)
        appendOdds()
        appendOdds() // the restart replay: must be a no-op
        val table = MergeTable.open(root)
        require(table.lastTxnVersion("m67").contains(1L),
          "the txn marker must ride the applied commit")
        table.read(s).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM orders GROUP BY o_orderstatus""".stripMargin),
      "idempotent writer options: replayed txnVersion is a no-op, marker atomic"),

    // Metadata-only aggregate (Delta's OptimizeMetadataOnlyDeltaQuery):
    // count(*)/min/max grouped by the partition column answered ENTIRELY
    // from the commit log's per-file row counts and min/max stats — the
    // require() pins the plan (the rule's local relation, zero FileScans),
    // so at 100 TB this query reads manifests, not data. Two commits prove
    // the counts compose across carried + fresh files.
    "m68_agg_pushdown" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m68_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"),
          statsCols = Seq("o_orderkey", "o_totalprice"))
        table.overwrite(orders.filter(col("o_orderkey") % 2 === 0))
        table.append(orders.filter(col("o_orderkey") % 2 =!= 0))
        val df = s.read.format("graft").load(root)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("cnt"),
            min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"),
            sum("o_orderkey").as("key_sum"),
            min("o_totalprice").as("min_price"), max("o_totalprice").as("max_price"))
        val plan = df.queryExecution.executedPlan.toString
        require(MetadataOnlyAggregate.answered(df),
          s"aggregate must be answered from the log, got:\n$plan")
        require(!plan.contains("FileScan"),
          "a metadata answer must not scan any data file")
        df
      },
      Some("""SELECT o_orderstatus, count(*) AS cnt,
             |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
             |       min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
             |FROM orders GROUP BY o_orderstatus""".stripMargin),
      "metadata aggregate: count/min/max per partition from the log, zero data files read"),

    // Metadata-only aggregate UNDER a partition predicate: the file set is
    // the scan's own partition pruning of the filter, which is exact for a
    // partition-only predicate — `count(*) WHERE part IN (…)` stays a
    // metadata answer. The require() proves the filtered aggregate was
    // answered from the log.
    "m69_filtered_agg" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m69_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"),
          statsCols = Seq("o_custkey"))
        table.overwrite(orders)
        val df = s.read.format("graft").load(root)
          .filter(col("o_orderstatus").isin("F", "O"))
          .agg(count(lit(1)).as("cnt"),
            min("o_custkey").as("min_cust"), max("o_custkey").as("max_cust"),
            min("o_orderstatus").as("min_status"), max("o_orderstatus").as("max_status"))
        val plan = df.queryExecution.executedPlan.toString
        require(MetadataOnlyAggregate.answered(df),
          s"partition-filtered aggregate must stay a metadata answer:\n$plan")
        require(!plan.contains("FileScan"),
          "a metadata answer must not scan any data file")
        df
      },
      Some("""SELECT count(*) AS cnt,
             |       min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
             |       min(o_orderstatus) AS min_status, max(o_orderstatus) AS max_status
             |FROM orders WHERE o_orderstatus IN ('F', 'O')""".stripMargin),
      "filtered metadata aggregate: partition WHERE pruned exactly, count/min/max from the log"),

    // DDL lifecycle closeout, all through spark.sql (the parser-extension
    // path): CREATE OR REPLACE swaps schema AND partition layout in one
    // commit with history intact; COMMENT ON + SHOW CREATE TABLE round-trip
    // the table's DDL; TRUNCATE TABLE empties a SHALLOW CLONE without
    // touching the original (copy-on-write isolation).
    "m70_ddl_lifecycle" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m70_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val tName = s"m70t_${sanitize(dir)}"
        val cName = s"m70c_${sanitize(dir)}"
        val srcView = s"m70_orders_${sanitize(dir)}"
        orders.createOrReplaceTempView(srcView)
        try {
          s.sql(s"""CREATE TABLE $tName USING GRAFT
                   |PARTITIONED BY (o_orderstatus) LOCATION '$root/t'
                   |AS SELECT o_orderkey, o_orderstatus FROM $srcView""".stripMargin)
          // replace: different columns AND a different partition layout
          s.sql(s"""CREATE OR REPLACE TABLE $tName USING GRAFT
                   |PARTITIONED BY (o_orderpriority) LOCATION '$root/t'
                   |AS SELECT o_orderkey, o_totalprice, o_orderpriority
                   |   FROM $srcView WHERE o_orderkey % 3 = 0""".stripMargin)
          val replaced = graft.sqlapi.LakeCatalog.targets(tName)
          require(replaced.currentVersion == 1L,
            "REPLACE must be one more commit on the existing log")
          require(replaced.readVersion(s, 0).columns.toSeq ==
              Seq("o_orderkey", "o_orderstatus"),
            "the pre-replace snapshot must keep its own schema")
          s.sql(s"COMMENT ON TABLE $tName IS 'orders slice'")
          val stmt = s.sql(s"SHOW CREATE TABLE $tName").head().getString(0)
          require(stmt.contains("PARTITIONED BY (o_orderpriority)") &&
              stmt.contains("'comment' = 'orders slice'") &&
              stmt.contains("USING GRAFT"),
            s"SHOW CREATE TABLE must reflect the replaced layout, got:\n$stmt")
          // clone + truncate: the clone empties, the original is untouched
          s.sql(s"CREATE TABLE $cName SHALLOW CLONE $tName LOCATION '$root/c'")
          s.sql(s"TRUNCATE TABLE $cName")
          require(s.sql(s"SELECT count(*) AS n FROM $cName").head().getLong(0) == 0L,
            "TRUNCATE must empty the clone")
          s.sql(s"""SELECT o_orderpriority, count(*) AS cnt,
                   |       sum(o_orderkey) AS key_sum
                   |FROM $tName GROUP BY o_orderpriority""".stripMargin)
        } finally {
          s.sql(s"DROP TABLE IF EXISTS $cName")
          s.sql(s"DROP TABLE IF EXISTS $tName")
          s.catalog.dropTempView(srcView)
        }
      },
      Some("""SELECT o_orderpriority, count(*) AS cnt,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM orders WHERE o_orderkey % 3 = 0
             |GROUP BY o_orderpriority""".stripMargin),
      "CREATE OR REPLACE + COMMENT ON + SHOW CREATE + TRUNCATE via spark.sql"),

    // The metadata-only aggregate reaching plain SQL: a registered lake
    // name inside spark.sql resolves to a view over the snapshot's read, so
    // `SELECT count(*)/count(c)/min/max ... WHERE <partition filter>`
    // is answered FROM THE LOG — the "how big is this 100 TB table"
    // query as a metadata read, through the exact SQL a user would type.
    "m71_sql_metadata_agg" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m71_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"),
          statsCols = Seq("o_custkey"))
        table.overwrite(orders.filter(col("o_orderkey") % 2 === 0))
        table.append(orders.filter(col("o_orderkey") % 2 =!= 0))
        val name = s"m71t_${sanitize(dir)}"
        graft.sqlapi.LakeCatalog.register(name, table)
        try {
          val df = s.sql(
            s"""SELECT count(*) AS cnt, count(o_custkey) AS n_cust,
               |       min(o_custkey) AS min_cust, max(o_custkey) AS max_cust
               |FROM $name WHERE o_orderstatus IN ('F', 'O')""".stripMargin)
          val plan = df.queryExecution.executedPlan.toString
          require(MetadataOnlyAggregate.answered(df),
            s"the SQL aggregate must be answered from the log, got:\n$plan")
          require(!plan.contains("FileScan"),
            "a SQL metadata answer must not scan any data file")
          df
        } finally graft.sqlapi.LakeCatalog.unregister(name)
      },
      Some("""SELECT count(*) AS cnt, count(o_custkey) AS n_cust,
             |       min(o_custkey) AS min_cust, max(o_custkey) AS max_cust
             |FROM orders WHERE o_orderstatus IN ('F', 'O')""".stripMargin),
      "SQL metadata aggregates: count/min/max under a partition WHERE, from the log"),

    // Log-level file pruning past a full-manifest commit: a v0 full
    // manifest, then an incremental append in the tail, pruned on a
    // partition column AND a statted data column in one driver pass over
    // the resolved manifest. The gate proves (a) the prune acts on both
    // axes and (b) the tail append is reflected (a file it added is kept);
    // the connector read through the same prune gives the hashed rows.
    "m72_checkpoint_prune" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m72_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"),
          statsCols = Seq("o_orderkey"))
        table.overwrite(orders.filter(col("o_orderkey") % 8 =!= 0)
          .repartitionByRange(16, col("o_orderkey")))
        val base = table.filesOf(table.currentVersion).toSet
        table.append(orders.filter(col("o_orderkey") % 8 === 0)
          .repartitionByRange(4, col("o_orderkey")))
        val maxKey = orders.agg(max(col("o_orderkey")).cast("long")).head.getLong(0)
        val (lo, hi) = (maxKey / 4, maxKey / 2)
        val filters = Seq(
          org.apache.spark.sql.sources.EqualTo("o_orderstatus", "F"),
          org.apache.spark.sql.sources.GreaterThanOrEqual("o_orderkey", lo),
          org.apache.spark.sql.sources.LessThanOrEqual("o_orderkey", hi))
        val all = table.filesOf(table.currentVersion)
        val pruned = table.pruneFilesFor(s, table.currentVersion, filters)
        require(pruned.nonEmpty && pruned.size < all.size &&
          pruned.forall(_.contains("o_orderstatus=F")) &&
          all.filter(_.contains("o_orderstatus=F")).size > pruned.size,
          s"pruning must act on both axes (${pruned.size} of ${all.size})")
        require(pruned.exists(f => !base.contains(f)),
          "pruning must see the tail append's files")
        s.read.format("graft").load(root)
          .filter(col("o_orderstatus") === "F" &&
            col("o_orderkey").between(lo, hi))
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
      },
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
             |WHERE o_orderstatus = 'F'
             |  AND o_orderkey BETWEEN (SELECT max(o_orderkey) // 4 FROM orders)
             |                     AND (SELECT max(o_orderkey) // 2 FROM orders)""".stripMargin),
      "log-level file pruning on partition and stats axes past an incremental tail"),

    // Partition-disjoint OCC (Delta WriteSerializable conflict resolution):
    // two merges scoped to DIFFERENT partitions race one commit slot; the
    // loser's read set (its keysDeterminePartitions scope dirs) is disjoint
    // from the winner's adds, so its already-written output RE-COMMITS
    // against the tip — zero recomputation. The gate asserts zero thrown
    // conflicts, both merges landing as their own commits, and exactly one
    // data dir per writer on disk (an orphan dir would mean the loser
    // re-derived); the hash proves the combined result.
    "m73_occ_merge" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m73_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders)
        import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
        val pool = Executors.newFixedThreadPool(2)
        val go = new CountDownLatch(1)
        val failures = new java.util.concurrent.atomic.AtomicInteger
        Seq(("F", 1000.0), ("O", 2000.0)).foreach { case (st, bump) =>
          pool.execute { () =>
            go.await()
            try table.merge(s,
              orders.filter(col("o_orderstatus") === st &&
                col("o_orderkey") % 3 === 0)
                .withColumn("o_totalprice", col("o_totalprice") + bump),
              Seq("o_orderkey"), keysDeterminePartitions = true)
            catch { case _: Throwable => failures.incrementAndGet() }
          }
        }
        go.countDown()
        pool.shutdown()
        require(pool.awaitTermination(300, TimeUnit.SECONDS), "merge race timed out")
        require(failures.get == 0,
          "a partition-disjoint merge losing the race must rebase, not throw")
        require(table.currentVersion == 2L, "both merges must land as commits")
        val dataDirs = Files.list(Paths.get(root)).iterator().asScala
          .map(_.getFileName.toString).filter(_.startsWith("d")).toSeq
        require(dataDirs.size == 3,
          s"zero re-derivation: one data dir per writer, got $dataDirs")
        table.read(s).select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").as("price"))
      },
      Some("""SELECT o_orderkey, o_orderstatus,
             |  CASE WHEN o_orderstatus = 'F' AND o_orderkey % 3 = 0 THEN o_totalprice + 1000
             |       WHEN o_orderstatus = 'O' AND o_orderkey % 3 = 0 THEN o_totalprice + 2000
             |       ELSE o_totalprice END AS price
             |FROM orders""".stripMargin),
      "WriteSerializable OCC: partition-disjoint merges rebase a lost race with zero recomputation"),

    // Table features (Delta's readerFeatures protocol action): every
    // commit NAMES the capabilities its snapshot depends on, derived from
    // the committed content itself; a feature accrues on FIRST USE and is
    // carried forward forever (history still holds commits that need it —
    // proven here by purging every deletion vector and observing
    // `deletionVectors` survive). Readers reject commits naming features
    // outside MergeTable.SupportedFeatures (spec-covered: a doctored
    // future-feature commit fails loudly, naming the feature).
    "m74_table_features" -> GraftQuery(
      (s, dir) => {
        import s.implicits._
        val root = s"$scratchRoot/m74_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders)                                        // v0
        require(table.features(0L) == Seq("inCommitTimestamps"),
          s"a plain table declares only inCommitTimestamps, got ${table.features(0L)}")
        table.addCheckConstraint(s, "pos_price", "o_totalprice >= 0.0") // v1
        table.deleteVectorized(s, col("o_totalprice") < 30000.0)        // v2
        require(table.features(2L).contains("deletionVectors"),
          "masked commit must declare deletionVectors")
        table.renameColumn("o_orderpriority", "priority")               // v3
        table.reorgPurge(s)                                             // v4: masks gone
        val feats = table.features(table.currentVersion)
        require(feats.contains("deletionVectors"),
          "features carry forward past REORG PURGE — history still holds masked commits")
        feats.toDF("feature").orderBy("feature")
      },
      Some("""SELECT * FROM (VALUES ('checkConstraints'), ('columnMapping'),
             |  ('deletionVectors'), ('inCommitTimestamps')) t(feature)
             |ORDER BY feature""".stripMargin),
      "table features: capability accrual from committed content, carried forever"),

    // The feature lifecycle's OTHER half (Delta's ALTER TABLE ... DROP
    // FEATURE): dropping is refused while any retained version still
    // depends on the capability; after purging the content AND vacuuming
    // the history past it (Delta's TRUNCATE HISTORY), the SQL drop lands
    // as its own commit — and the data is bit-identical through
    // purge + vacuum + drop (the oracle recomputes it from source).
    "m75_drop_feature" -> GraftQuery(
      (s, dir) => {
        import s.implicits._
        val root = s"$scratchRoot/m75_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders)                                        // v0
        table.deleteVectorized(s, col("o_totalprice") < 30000.0)       // v1
        table.reorgPurge(s)                                            // v2
        val refused =
          try { table.dropFeature(s, "deletionVectors"); false }
          catch { case _: IllegalArgumentException => true }
        require(refused, "drop must refuse while history depends on the feature")
        table.vacuum(retainVersions = 1)
        graft.sqlapi.LakeSql.run(s,
          "ALTER TABLE t DROP FEATURE deletionVectors", Map("t" -> table))
        require(!table.features(table.currentVersion).contains("deletionVectors"),
          "the drop commit must shed the feature")
        table.read(s)
          .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("key_sum"))
          .crossJoin(table.features(table.currentVersion).toDF("feature"))
          .select("feature", "n_rows", "key_sum")
      },
      Some("""SELECT feature,
             |  (SELECT CAST(count(*) AS BIGINT) FROM orders
             |   WHERE o_totalprice >= 30000.0) AS n_rows,
             |  (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM orders
             |   WHERE o_totalprice >= 30000.0) AS key_sum
             |FROM (VALUES ('inCommitTimestamps')) t(feature)""".stripMargin),
      "DROP FEATURE lifecycle: refused until purge+vacuum, data identical through it"),

    // AVG from the log: exact integral sum / non-null count, both already
    // in the log — `avg(col)` on a 100 TB table joins count/min/max/sum as
    // a metadata answer (Delta's stats stop short of this). Deterministic
    // where a scan's double-accumulated Average is only exact while its
    // running sum stays below 2^53; beyond that the scan is
    // order-dependent and the log's answer is the canonical one. The
    // require() pins the local-relation, no-FileScan plan shape.
    "m76_avg_pushdown" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m76_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"),
          statsCols = Seq("o_orderkey", "o_custkey"))
        table.overwrite(orders.filter(col("o_orderkey") % 2 === 0))
        table.append(orders.filter(col("o_orderkey") % 2 =!= 0))
        val df = s.read.format("graft").load(root)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("cnt"),
            avg("o_orderkey").as("avg_key"),
            avg("o_custkey").as("avg_cust"))
        val plan = df.queryExecution.executedPlan.toString
        require(MetadataOnlyAggregate.answered(df),
          s"avg must be answered from the log, got:\n$plan")
        require(!plan.contains("FileScan"),
          "an avg metadata answer must not scan any data file")
        df
      },
      Some("""SELECT o_orderstatus, count(*) AS cnt,
             |       avg(o_orderkey) AS avg_key, avg(o_custkey) AS avg_cust
             |FROM orders GROUP BY o_orderstatus""".stripMargin),
      "avg from the log: exact sum over non-null count, zero data files read"),

    // The CANONICAL concurrent pair, in the correctness gate: background
    // compaction racing ingest into the same partition. Whichever writer
    // loses the commit race rebases (append via the blind-append rebase,
    // compaction via the adds-never-conflict pure-rewrite rebase) — both
    // land, nothing re-derives, no row lost or duplicated; the oracle is
    // the plain union. One log race, two commits, zero failures required.
    "m77_occ_compaction" -> GraftQuery(
      (s, dir) => {
        val root = s"$scratchRoot/m77_${sanitize(dir)}"
        cleanDir(root)
        val orders = t(s, dir, "orders")
        val table = new MergeTable(root, Seq("o_orderstatus"))
        table.overwrite(orders)
        val extra = orders.filter(col("o_orderstatus") === "O")
          .orderBy("o_orderkey").limit(50) // ordered: both engines pick the same 50
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
        import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
        val pool = Executors.newFixedThreadPool(2)
        val go = new CountDownLatch(1)
        val failures = new java.util.concurrent.atomic.AtomicInteger
        pool.execute { () =>
          go.await()
          try table.compactPartitions(s, col("o_orderstatus") === "O")
          catch { case _: Throwable => failures.incrementAndGet() }
        }
        pool.execute { () =>
          go.await()
          try table.append(extra)
          catch { case _: Throwable => failures.incrementAndGet() }
        }
        go.countDown()
        pool.shutdown()
        require(pool.awaitTermination(300, TimeUnit.SECONDS), "race timed out")
        require(failures.get == 0,
          "compaction racing ingest must rebase on either side, never throw")
        require(table.currentVersion == 2L, "both writers must land as commits")
        table.read(s).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"))
      },
      Some("""WITH allrows AS (
             |  SELECT o_orderstatus, o_orderkey FROM orders
             |  UNION ALL
             |  SELECT o_orderstatus, o_orderkey + 10000000 FROM (
             |    SELECT * FROM orders WHERE o_orderstatus = 'O'
             |    ORDER BY o_orderkey LIMIT 50))
             |SELECT o_orderstatus, count(*) AS n,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM allrows GROUP BY o_orderstatus""".stripMargin),
      "compaction racing ingest: both rebase paths land, union-exact, zero failures"),
  )
}
