package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** The driver-side direct write ([[MergeTable.writeDirectInto]]) must be
  * indistinguishable from the distributed DataFrameWriter path: same table
  * contents, same change feed, same partition directory names (null and
  * escaping-sensitive values included), same read-back types — and it must
  * fall back (not fail, not corrupt) when the row cap is exceeded.
  */
class DirectWriteSpec extends SparkSpec {
  import spark.implicits._

  private def baseRows: DataFrame = Seq(
    (1L, "aa", Timestamp.valueOf("2026-01-01 10:00:00.123456"), Some(1.5), Seq("x", "y"), "p 1:a"),
    (2L, "ab", Timestamp.valueOf("2026-01-02 11:00:00"), None, Seq.empty[String], "p 1:a"),
    (3L, "ba", null.asInstanceOf[Timestamp], Some(-2.0), null.asInstanceOf[Seq[String]], "q2"),
    (4L, "bb", Timestamp.valueOf("2026-03-01 00:00:00"), Some(0.0), Seq("z"), null.asInstanceOf[String])
  ).toDF("id", "h", "ts", "v", "tags", "b")

  private def mutSrc: DataFrame = Seq(
    (2L, "zz", Timestamp.valueOf("2026-05-05 05:05:05.5"), Some(9.0), Seq("u"), "q2"),     // update, moves partition
    (5L, "nn", Timestamp.valueOf("2026-06-06 06:06:06"), None, Seq("n1", "n2"), "p 1:a"),  // insert
    (6L, "n2", null.asInstanceOf[Timestamp], Some(3.25), Seq.empty[String], null.asInstanceOf[String]) // insert, null partition
  ).toDF("id", "h", "ts", "v", "tags", "b")

  private def build(root: String, direct: Boolean): MergeTable = {
    val t = new MergeTable(root, partitionCols = Seq("b"))
    withConf("spark.graft.directWriteMaxBytes" -> (if (direct) "16777216" else "0")) {
      t.overwrite(baseRows)
      t.setProperties(Map(MergeTable.OptimizeWriteProp -> "true"))
      t.merge(spark, mutSrc, Seq("id"), changeFeed = true)
    }
    t
  }

  private def canon(df: DataFrame): Seq[Row] =
    df.orderBy("id").collect().toSeq

  test("direct merge write is byte-equivalent to the distributed path (data + CDF + dirs)") {
    val before = MergeTable.directWrites.get()
    val dTab = build(scratch("dw_direct"), direct = true)
    assert(MergeTable.directWrites.get() >= before + 2,
      "expected the data write AND the change-feed write to take the direct path")
    val rTab = build(scratch("dw_ref"), direct = false)

    assert(canon(dTab.read(spark)) === canon(rTab.read(spark)))
    assert(dTab.read(spark).schema === rTab.read(spark).schema)
    def feed(t: MergeTable): Seq[Row] =
      t.changes(spark, t.currentVersion, t.currentVersion)
        .orderBy("id", MergeTable.ChangeType).collect().toSeq
    assert(feed(dTab) === feed(rTab))

    // partition directory names must match the distributed writer's
    // escaping exactly (space, colon, and the null partition)
    def dirs(t: MergeTable): Set[String] =
      t.filesOf(t.currentVersion).map { f =>
        val segs = f.split('/'); segs.slice(1, segs.length - 1).mkString("/")
      }.toSet
    assert(dirs(dTab) === dirs(rTab))
    assert(dirs(dTab).contains("b=__HIVE_DEFAULT_PARTITION__"))
    assert(dirs(dTab).contains("b=p 1%3Aa")) // ':' escaped, space kept — Hive rules
  }

  test("row-cap overflow falls back to the distributed writer, same result") {
    val before = MergeTable.directWrites.get()
    val t = new MergeTable(scratch("dw_cap"), partitionCols = Seq("b"))
    withConf("spark.graft.directWriteMaxRows" -> "2") {
      t.overwrite(baseRows)
      t.merge(spark, mutSrc, Seq("id"), changeFeed = true)
    }
    // the merge rewrite (4 survivors + 3 source rows > 2) must overflow the
    // cap and fall back; CDF (5 rows) overflows too
    assert(MergeTable.directWrites.get() === before)
    val r = build(scratch("dw_cap_ref"), direct = false)
    assert(canon(t.read(spark)) === canon(r.read(spark)))
  }

  test("direct write respects column mapping (renamed column round-trips)") {
    val t = new MergeTable(scratch("dw_cmap"))
    t.overwrite(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "name", "n"))
    t.renameColumn("name", "label")
    val before = MergeTable.directWrites.get()
    t.merge(spark, Seq((2L, "B", 21L), (3L, "c", 30L)).toDF("id", "label", "n"), Seq("id"))
    assert(MergeTable.directWrites.get() === before + 1)
    assert(canon(t.read(spark)) ===
      Seq(Row(1L, "a", 10L), Row(2L, "B", 21L), Row(3L, "c", 30L)))
  }

  test("an EMPTY direct change feed stays schema-readable (one empty file)") {
    val t = new MergeTable(scratch("dw_emptycdf"))
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "h"))
    // matched rows, but the only clause's condition never fires → the
    // commit records a feed with ZERO rows; reading it back must infer the
    // schema exactly like the distributed writer's empty-file output
    t.mergeClauses(spark, Seq((1L, "a2")).toDF("id", "h"), Seq("id"),
      Seq(MergeTable.MatchedDelete(Some("1 = 0"))), changeFeed = true)
    val ch = t.changes(spark, t.currentVersion, t.currentVersion)
    assert(ch.count() === 0L)
    assert(ch.columns.contains(MergeTable.ChangeType))
  }

  test("mergeClauses takes the direct path and matches the distributed result") {
    def run(root: String, direct: Boolean): MergeTable = {
      val t = new MergeTable(root, partitionCols = Seq("b"))
      withConf("spark.graft.directWriteMaxBytes" -> (if (direct) "16777216" else "0")) {
        t.overwrite(baseRows)
        t.mergeClauses(spark,
          mutSrc.withColumn("kind", when(col("id") === 2L, "del").otherwise("put")),
          Seq("id"),
          Seq(MergeTable.MatchedDelete(Some("s.kind = 'del'")),
              MergeTable.MatchedUpdate(Some("s.kind = 'put'"), Seq("h" -> "s.h")),
              MergeTable.NotMatchedInsert(Some("s.kind = 'put'"),
                Seq("id" -> "s.id", "h" -> "s.h", "ts" -> "s.ts",
                    "v" -> "s.v", "tags" -> "s.tags", "b" -> "s.b"))),
          changeFeed = true)
      }
      t
    }
    val before = MergeTable.directWrites.get()
    val d = run(scratch("dw_mc_direct"), direct = true)
    assert(MergeTable.directWrites.get() >= before + 2)
    val r = run(scratch("dw_mc_ref"), direct = false)
    assert(canon(d.read(spark)) === canon(r.read(spark)))
    val dCh = d.changes(spark, 1, 1).orderBy("id", MergeTable.ChangeType).collect().toSeq
    val rCh = r.changes(spark, 1, 1).orderBy("id", MergeTable.ChangeType).collect().toSeq
    assert(dCh === rCh)
  }
}
