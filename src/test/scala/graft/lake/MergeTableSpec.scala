package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, upper}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import scala.jdk.CollectionConverters._

/** MergeTable (the Delta-MERGE replacement, SURVEY.md §7.3) semantics:
  * update/insert/keep clauses, partition-moving updates, duplicate-source
  * rejection, re-run idempotency — plus a scalacheck property over random
  * key sets (merged = source ∪ (target ∖ source-keys), source wins).
  * Gen is sampled with fixed seeds (the scalatest-scalacheck bridge artifact
  * is not in the offline cache): deterministic, replayable cases.
  */
class MergeTableSpec extends SparkSpec {
  import spark.implicits._

  private def df(rows: Seq[(Int, String, String)]): DataFrame =
    rows.toDF("k", "v", "p")

  private def asSet(d: DataFrame): Set[(Int, String, String)] =
    d.select("k", "v", "p").collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet

  test("merge = update-all + insert-all + keep; updates may move partitions") {
    val t = new MergeTable(scratch("mt_basic"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"))))
    // 2 updated AND moved p1→p2; 4 inserted; 1,3 kept untouched.
    t.merge(spark, df(Seq((2, "B", "p2"), (4, "d", "p3"))), Seq("k"))
    assert(asSet(t.read(spark)) ===
      Set((1, "a", "p1"), (2, "B", "p2"), (3, "c", "p2"), (4, "d", "p3")))
  }

  test("merge into a table that doesn't exist yet takes the initial-load branch") {
    val t = new MergeTable(scratch("mt_fresh"), Seq("p"))
    assert(!t.exists) // the reference's isDeltaTable probe (S6)
    t.merge(spark, df(Seq((1, "a", "p1"), (2, "b", "p2"))), Seq("k"))
    assert(t.exists && t.currentVersion === 0)
    assert(asSet(t.read(spark)) === Set((1, "a", "p1"), (2, "b", "p2")))
  }

  test("re-running the same merge is a no-op (late-data idempotency)") {
    val t = new MergeTable(scratch("mt_idem"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"), (2, "b", "p2"))))
    val src = df(Seq((2, "B", "p1"), (9, "z", "p1")))
    t.merge(spark, src, Seq("k"))
    val once = asSet(t.read(spark))
    t.merge(spark, src, Seq("k"))
    assert(asSet(t.read(spark)) === once)
  }

  test("duplicate source keys are rejected (Delta MERGE semantics §2.6.4)") {
    val t = new MergeTable(scratch("mt_dup"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"))))
    val ex = intercept[IllegalArgumentException] {
      t.merge(spark, df(Seq((1, "x", "p1"), (1, "y", "p2"))), Seq("k"))
    }
    assert(ex.getMessage.contains("duplicate keys"))
  }

  test("delete removes only predicate-TRUE rows; NULL predicate rows are kept") {
    val t = new MergeTable(scratch("mt_del"), Seq("p"))
    val rows = Seq((1, "a", "p1"), (2, null, "p1"), (3, "a", "p2"), (4, "b", "p2"))
      .toDF("k", "v", "p")
    t.overwrite(rows)
    t.delete(spark, col("v") === "a") // v NULL on k=2 → predicate NULL → keep
    assert(asSet2(t.read(spark)) === Set((2, null), (4, "b")))
    // time travel: v0 still has the deleted rows
    assert(t.readVersion(spark, 0).count() === 4)
  }

  test("delete matching nothing commits a metadata-only new version") {
    val t = new MergeTable(scratch("mt_del_noop"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"))))
    val v = t.currentVersion
    t.delete(spark, col("v") === "zzz")
    assert(t.currentVersion === v + 1)
    assert(t.filesOf(v + 1) === t.filesOf(v))
  }

  test("mergeSchema=true evolves the schema; untouched files read as NULL unrewritten") {
    val t = new MergeTable(scratch("mt_evo"), Seq("p"))
    // two partitions → at least two files; source touches only p1's key
    t.overwrite(df(Seq((1, "a", "p1"), (3, "c", "p2"))))
    val filesBefore = t.filesOf(t.currentVersion)
    val src = Seq((1, "A", "p1", 9L), (5, "e", "p3", 7L)).toDF("k", "v", "p", "extra")
    t.merge(spark, src, Seq("k"), mergeSchema = true)
    val got = t.read(spark).select("k", "v", "p", "extra")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    assert(got === Set(
      (1, "A", "p1", Some(9L)), // updated, carries the new column
      (3, "c", "p2", None),     // untouched file, null-filled at read
      (5, "e", "p3", Some(7L)), // inserted
    ))
    // the p2 file was carried forward by reference, not rewritten
    val carried = t.filesOf(t.currentVersion).toSet.intersect(filesBefore.toSet)
    assert(carried.nonEmpty, "expected at least one untouched file carried forward")
  }

  test("without mergeSchema a new source column is not silently persisted") {
    val t = new MergeTable(scratch("mt_noevo"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"))))
    t.merge(spark, Seq((1, "A", "p1", 9L)).toDF("k", "v", "p", "extra"), Seq("k"))
    assert(!t.read(spark).columns.contains("extra"))
  }

  private def asSet2(d: DataFrame): Set[(Int, String)] =
    d.select("k", "v").collect().map(r => (r.getInt(0), r.getString(1))).toSet

  test("vacuum drops stale versions but the live snapshot stays readable") {
    val t = new MergeTable(scratch("mt_vac"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"), (2, "b", "p2"))))
    t.merge(spark, df(Seq((2, "B", "p2"))), Seq("k"))
    t.vacuum()
    assert(asSet(t.read(spark)) === Set((1, "a", "p1"), (2, "B", "p2")))
  }

  test("compact collapses each partition dir to one file, data unchanged") {
    val t = new MergeTable(scratch("mt_compact"), Seq("p"))
    t.overwrite(df((1 to 40).map(k => (k, s"v$k", if (k % 2 == 0) "pe" else "po"))))
    t.merge(spark, df(Seq((1, "V1", "pe"), (41, "v41", "po"))), Seq("k"))
    val before = asSet(t.read(spark))
    t.compact(spark)
    assert(asSet(t.read(spark)) === before)
    val files = t.filesOf(t.currentVersion)
    val perDir = files.groupBy(f => f.substring(0, f.lastIndexOf('/')))
    assert(perDir.values.forall(_.size == 1), s"expected 1 file/dir, got $perDir")
    t.vacuum()
    assert(asSet(t.read(spark)) === before) // still readable post-vacuum
  }

  test("change feed records insert/update pre+post images; delete rows") {
    val t = new MergeTable(scratch("mt_cdf"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"))))
    // 2 updated (moves partition), 4 inserted, 1/3 untouched
    t.merge(spark, df(Seq((2, "B", "p2"), (4, "d", "p3"))), Seq("k"), changeFeed = true)
    val cdf = t.changes(spark, 1, 1)
      .select("k", "v", "p", MergeTable.ChangeType, MergeTable.CommitVersion)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSet
    assert(cdf === Set(
      (2, "b", "p1", "update_preimage", 1L),
      (2, "B", "p2", "update_postimage", 1L),
      (4, "d", "p3", "insert", 1L)))
    // untouched rows (1, 3) never appear in the feed
    assert(!cdf.exists(c => c._1 == 1 || c._1 == 3))

    t.delete(spark, col("k") === 1, changeFeed = true)
    val del = t.changes(spark, 2, 2)
      .select("k", MergeTable.ChangeType).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(del === Set((1, "delete")))
    // range read spans both recorded versions
    assert(t.changes(spark, 1, 2).count() === 4)
  }

  test("data skipping: stats recorded, range reads prune files, stats survive merge") {
    import spark.implicits._
    val t = new MergeTable(scratch("mt_skip"), Nil, statsCols = Seq("k"))
    val data = (1 to 1000).map(k => (k, s"v$k")).toDF("k", "v")
    t.overwrite(data.repartitionByRange(10, col("k")))
    val all = t.filesOf(t.currentVersion)
    assert(all.size >= 8) // range layout produced many files
    // a narrow range hits a strict subset of files
    val cand = t.candidateFiles("k", 100, 150)
    assert(cand.nonEmpty && cand.size < all.size, s"${cand.size} of ${all.size}")
    // pruned read == unpruned filter
    val got = t.readRange(spark, "k", 100, 150).select("k", "v").collect().toSet
    val want = t.read(spark).filter(col("k").between(100, 150))
      .select("k", "v").collect().toSet
    assert(got === want)

    // merge updates a few keys; carried-forward files keep their stats,
    // pruning still works and reflects the rewrite
    t.merge(spark, Seq((120, "NEW"), (1001, "ins")).toDF("k", "v"), Seq("k"))
    val cand2 = t.candidateFiles("k", 100, 150)
    assert(cand2.size < t.filesOf(t.currentVersion).size)
    val row = t.readRange(spark, "k", 120, 120).select("v").collect().map(_.getString(0))
    assert(row.toSeq === Seq("NEW"))
  }

  test("z-order clustering prunes on every clustered column") {
    import spark.implicits._
    val t = new MergeTable(scratch("mt_z"), Nil, statsCols = Seq("x", "y"))
    // x and y independent: a sort by x alone leaves y unclustered
    val rows = (0 until 4096).map(i => (i % 64, i / 64, i))
    t.overwrite(rows.toDF("x", "y", "id"))
    t.zorderCompact(spark, Seq("x", "y"), 16)
    val all = t.filesOf(t.currentVersion).size
    val candX = t.candidateFiles("x", 0, 7).size
    val candY = t.candidateFiles("y", 0, 7).size
    assert(candX < all, s"x: $candX of $all")
    assert(candY < all, s"y: $candY of $all")
    // data unchanged by the rewrite
    assert(t.read(spark).count() === 4096)
    val got = t.readRange(spark, "y", 0, 7)
      .agg(org.apache.spark.sql.functions.sum("id")).collect().head.getLong(0)
    val want = rows.filter(r => r._2 >= 0 && r._2 <= 7).map(_._3.toLong).sum
    assert(got === want)
  }

  test("keysDeterminePartitions=true probes only the source's partitions") {
    val t = new MergeTable(scratch("mt_pp"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"), (4, "d", "p2"))))
    val p2FilesBefore = t.filesOf(t.currentVersion).filter(_.contains("/p=p2/")).toSet
    assert(p2FilesBefore.nonEmpty)
    // source touches only p1 → p2's files must be carried forward by
    // reference (same manifest entries — never probed, never rewritten)
    t.merge(spark, df(Seq((2, "B", "p1"), (5, "e", "p1"))), Seq("k"),
      keysDeterminePartitions = true)
    val p2FilesAfter = t.filesOf(t.currentVersion).filter(_.contains("/p=p2/")).toSet
    assert(p2FilesAfter === p2FilesBefore, "untouched partition was rewritten")
    assert(asSet(t.read(spark)) ===
      Set((1, "a", "p1"), (2, "B", "p1"), (3, "c", "p2"), (4, "d", "p2"), (5, "e", "p1")))

    // The restriction is REAL: a key whose target row sits outside the
    // source's partitions is (by design) not found — the documented unsound
    // case when the caller's functional-dependency promise is broken. The
    // old p2 row survives next to the new p1 row.
    t.merge(spark, df(Seq((3, "C", "p1"))), Seq("k"), keysDeterminePartitions = true)
    val rows = asSet(t.read(spark))
    assert(rows.contains((3, "c", "p2")) && rows.contains((3, "C", "p1")),
      "probe unexpectedly reached a partition outside the source's set")
  }

  test("vacuum retention: in-window time travel survives, older reads fail fast") {
    val t = new MergeTable(scratch("mt_vac_ret"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"), (2, "b", "p2"))))          // v0
    t.merge(spark, df(Seq((2, "B", "p2"))), Seq("k"))             // v1
    t.merge(spark, df(Seq((1, "A", "p1"))), Seq("k"))             // v2
    t.vacuum(retainVersions = 2)
    assert(t.vacuumHorizon === 1)
    // v1 (inside the window) reads exactly
    assert(asSet(t.readVersion(spark, 1)) === Set((1, "a", "p1"), (2, "B", "p2")))
    // v0 (outside) fails fast with a clear message
    val ex = intercept[IllegalArgumentException] { t.readVersion(spark, 0) }
    assert(ex.getMessage.contains("vacuumed"))
    // the live snapshot is untouched
    assert(asSet(t.read(spark)) === Set((1, "A", "p1"), (2, "B", "p2")))
  }

  test("changesStream without a recorded feed fails with a pointed error") {
    val t = new MergeTable(scratch("mt_nostream"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"))))
    val ex = intercept[IllegalArgumentException] { t.changesStream(spark) }
    assert(ex.getMessage.contains("changeFeed"))
  }

  test("vacuum spares fresh unreferenced dirs (in-flight writer safeguard)") {
    val t = new MergeTable(scratch("mt_vac_age"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"))))
    t.merge(spark, df(Seq((1, "A", "p1"))), Seq("k")) // v1; v0's dir now stale
    // a concurrent writer mid-attempt: data written, commit not yet published
    val inflight = java.nio.file.Paths.get(t.root, "d9uinflight")
    java.nio.file.Files.createDirectories(inflight)
    java.nio.file.Files.writeString(inflight.resolve("part-0.parquet"), "x")
    t.vacuum() // default min age: BOTH unreferenced dirs are too young to touch
    assert(java.nio.file.Files.exists(inflight),
      "vacuum deleted a fresh unreferenced dir — would corrupt an in-flight commit")
    t.vacuum(minAgeMs = 0) // explicit no-writers promise reclaims them
    assert(!java.nio.file.Files.exists(inflight))
    assert(asSet(t.read(spark)) === Set((1, "A", "p1"))) // live snapshot intact
  }

  test("a corrupted vacuum-horizon file degrades to 0 instead of bricking reads") {
    val t = new MergeTable(scratch("mt_vac_corrupt"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"))))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(t.root, "_graft_log", "_VACUUM_HORIZON"), "")
    assert(t.vacuumHorizon === 0)
    assert(asSet(t.read(spark)) === Set((1, "a", "p1")))
  }

  test("pruned merge probes timestamp partitions with Spark's own stringification") {
    import java.sql.Timestamp
    val ts1 = Timestamp.valueOf("2024-01-01 00:00:00")
    val ts2 = Timestamp.valueOf("2024-02-01 00:00:00")
    // JVM Timestamp.toString renders '... 00:00:00.0'; Spark's partition dir
    // is the Cast-to-string form — a probe using toString would miss the dir
    // and silently duplicate k=1
    val t = new MergeTable(scratch("mt_pp_ts"), Seq("ts"))
    t.overwrite(Seq((1, "a", ts1), (2, "b", ts2)).toDF("k", "v", "ts"))
    t.merge(spark, Seq((1, "A", ts1)).toDF("k", "v", "ts"), Seq("k"),
      keysDeterminePartitions = true)
    val got = t.read(spark).select("k", "v", "ts").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getTimestamp(2))).toSet
    assert(got === Set((1, "A", ts1), (2, "b", ts2)),
      "timestamp partition dir was not probed — key duplicated or update lost")
  }

  test("a commit that recorded a change feed fails loudly if the feed is missing") {
    val t = new MergeTable(scratch("mt_cdf_loss"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"))))
    t.merge(spark, df(Seq((2, "b", "p1"))), Seq("k"), changeFeed = true)
    assert(t.changes(spark, 1, 1).count() === 1)
    // simulate external data loss of the recorded feed directory
    val cdfRoot = java.nio.file.Paths.get(t.root, "cdf")
    java.nio.file.Files.walk(cdfRoot).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
    val ex = intercept[IllegalStateException] { t.changes(spark, 1, 1) }
    assert(ex.getMessage.contains("incomplete"))
  }

  test("changesStream schema tracks the latest snapshot through evolution") {
    val t = new MergeTable(scratch("mt_cdf_evo"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"))))
    t.merge(spark, df(Seq((2, "b", "p1"))), Seq("k"), changeFeed = true)
    t.merge(spark, Seq((3, "c", "p1", 7L)).toDF("k", "v", "p", "extra"),
      Seq("k"), mergeSchema = true, changeFeed = true)
    val fields = t.changesStream(spark).schema.fieldNames.toSet
    assert(fields.contains("extra"),
      "evolved column dropped — stream schema was pinned pre-evolution")
    assert(fields.contains(MergeTable.ChangeType) && fields.contains(MergeTable.CommitVersion))
    // and the DATA honors it: feed files written BEFORE the evolution
    // null-fill the evolved column (parquet projection), files written
    // after surface their values — the consumer-side contract st27 builds on
    val got = scala.collection.mutable.ArrayBuffer.empty[(Int, Option[Long])]
    val q = t.changesStream(spark).writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.filter(col(MergeTable.ChangeType) === "insert").select("k", "extra")
          .collect().foreach(r =>
            got.synchronized { got += ((r.getInt(0),
              if (r.isNullAt(1)) None else Some(r.getLong(1)))) })
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", scratch("mt_cdf_evo_ckpt"))
      .start()
    q.awaitTermination()
    assert(got.toSet == Set(2 -> None, 3 -> Some(7L)),
      s"pre-evolution rows must null-fill, post-evolution carry values: $got")
  }

  test("restore rolls back to an old snapshot as a metadata-only commit") {
    val t = new MergeTable(scratch("mt_restore"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"), (2, "b", "p2"))))              // v0
    t.merge(spark, df(Seq((2, "B", "p2"), (3, "c", "p1"))), Seq("k")) // v1
    t.delete(spark, col("k") === 1)                                   // v2
    val v0files = t.filesOf(0)
    t.restore(0)                                                      // v3 ≡ v0
    assert(t.currentVersion === 3)
    assert(asSet(t.read(spark)) === Set((1, "a", "p1"), (2, "b", "p2")))
    assert(t.filesOf(3) === v0files, "restore must re-reference, never copy")
    // the rolled-back history is preserved, not rewritten
    assert(asSet(t.readVersion(spark, 2)) === Set((2, "B", "p2"), (3, "c", "p1")))
    // restoring to a vacuumed version fails fast
    t.vacuum(retainVersions = 2, minAgeMs = 0)
    val ex = intercept[IllegalArgumentException] { t.restore(0) }
    assert(ex.getMessage.contains("vacuum"))
  }

  test("CHECK constraints: add validates, writes enforce per-row, drop lifts") {
    def msgChain(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    val t = new MergeTable(scratch("mt_check"), Seq("p"))
    t.overwrite(Seq((1, "a", "p1"), (2, null, "p1")).toDF("k", "v", "p"))
    t.addCheckConstraint(spark, "k_pos", "k > 0")
    t.addCheckConstraint(spark, "v_short", "length(v) <= 3") // NULL v → passes
    assert(t.checkConstraints.map(_._1) === Seq("k_pos", "v_short"))
    // a valid merge (incl. a NULL-predicate row) passes the fused check
    t.merge(spark, Seq((3, null, "p1")).toDF("k", "v", "p"), Seq("k"))
    assert(t.read(spark).count() === 3)
    // a violating merge raises mid-write and commits nothing
    val vBefore = t.currentVersion
    val ex = intercept[Exception] {
      t.merge(spark, Seq((-4, "x", "p1")).toDF("k", "v", "p"), Seq("k"))
    }
    assert(msgChain(ex).contains("k_pos"), s"unexpected error: ${msgChain(ex)}")
    assert(t.currentVersion === vBefore && t.read(spark).count() === 3)
    // adding a constraint existing rows violate is rejected
    val ex2 = intercept[IllegalArgumentException] {
      t.addCheckConstraint(spark, "impossible", "k > 100")
    }
    assert(ex2.getMessage.contains("violate"))
    // dropping the constraint lifts enforcement
    t.dropCheckConstraint("k_pos")
    t.merge(spark, Seq((-4, "x", "p1")).toDF("k", "v", "p"), Seq("k"))
    assert(t.read(spark).count() === 4)
  }

  test("append carries the old manifest forward and only scans new files for stats") {
    val t = new MergeTable(scratch("mt_append"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"), (2, "b", "p2"))))
    val before = t.filesOf(t.currentVersion).toSet
    t.append(df(Seq((3, "c", "p1"))))
    val after = t.filesOf(t.currentVersion).toSet
    assert(before.subsetOf(after), "append rewrote carried-forward files")
    assert(asSet(t.read(spark)) === Set((1, "a", "p1"), (2, "b", "p2"), (3, "c", "p1")))
  }

  test("copyInto loads each source file exactly once across re-runs") {
    val stage = scratch("mt_copy_stage")
    df(Seq((1, "a", "p1"), (2, "b", "p2"))).repartition(2)
      .write.mode("overwrite").parquet(stage)
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
      .iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    assert(files.size === 2)
    val t = new MergeTable(scratch("mt_copy"), Seq("p"))
    assert(t.copyInto(spark, files.take(1)) === 1)
    assert(t.copyInto(spark, files) === 1)        // only the second file
    assert(t.copyInto(spark, files) === 0)        // complete no-op
    assert(asSet(t.read(spark)) === Set((1, "a", "p1"), (2, "b", "p2")))
    assert(t.ingestedFiles.size === 2)
    // the ledger survives unrelated commits
    t.merge(spark, df(Seq((3, "c", "p1"))), Seq("k"))
    assert(t.ingestedFiles.size === 2)
    assert(t.copyInto(spark, files) === 0)
  }

  test("generated columns: derived when missing, validated when provided") {
    def msgChain(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    val t = new MergeTable(scratch("mt_gen"), Seq("kmod"),
      generatedCols = Seq("kmod" -> "k % 2"))
    t.overwrite(Seq((1, "a"), (2, "b")).toDF("k", "v")) // no kmod column
    assert(t.read(spark).columns.contains("kmod"))
    val got = t.read(spark).select("k", "kmod").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(got === Set((1, 1), (2, 0)))
    // merge with a source that also lacks the generated column
    t.merge(spark, Seq((3, "c")).toDF("k", "v"), Seq("k"))
    assert(t.read(spark).filter(col("k") === 3).select("kmod")
      .collect().head.getInt(0) === 1)
    // a provided-but-inconsistent value raises mid-write
    val ex = intercept[Exception] {
      t.merge(spark, Seq((4, "d", 7)).toDF("k", "v", "kmod"), Seq("k"))
    }
    assert(msgChain(ex).contains("generated column"), msgChain(ex))
    // a provided-and-consistent value passes
    t.merge(spark, Seq((4, "d", 0)).toDF("k", "v", "kmod"), Seq("k"))
    assert(t.read(spark).count() === 4)
  }

  test("compactPartitions rewrites only matching partitions (OPTIMIZE WHERE)") {
    val t = new MergeTable(scratch("mt_optwhere"), Seq("p"))
    t.overwrite(df((1 to 40).map(k => (k, s"v$k", if (k % 2 == 0) "pe" else "po"))))
    // fragment via APPEND (a second data dir per partition): the merge
    // rewrite no longer fragments — its direct path packs each touched
    // partition into exactly one file
    t.append(df(Seq((41, "V41", "po"), (42, "V42", "pe"))))
    t.merge(spark, df(Seq((2, "V2", "pe"), (3, "V3", "po"))), Seq("k"))
    val before = asSet(t.read(spark))
    val poBefore = t.filesOf(t.currentVersion).filter(_.contains("/p=po/")).toSet
    assert(t.filesOf(t.currentVersion).count(_.contains("/p=pe/")) > 1,
      "fixture must fragment pe before compaction")
    t.compactPartitions(spark, col("p") === "pe")
    val files = t.filesOf(t.currentVersion)
    assert(files.count(_.contains("/p=pe/")) === 1, "pe not compacted to one file")
    assert(files.filter(_.contains("/p=po/")).toSet === poBefore,
      "untouched partition's files must be carried forward by reference")
    assert(asSet(t.read(spark)) === before)
    // predicate matching nothing commits a metadata-only version
    val vv = t.currentVersion
    t.compactPartitions(spark, col("p") === "nope")
    assert(t.currentVersion === vv + 1 && t.filesOf(vv + 1) === t.filesOf(vv))
  }

  test("cloneTo is zero-copy and fully independent of the source afterwards") {
    val src = new MergeTable(scratch("mt_clone_src"), Seq("p"))
    src.overwrite(df(Seq((1, "a", "p1"), (2, "b", "p2"))))
    src.merge(spark, df(Seq((2, "B", "p2"))), Seq("k"), txn = Some("app" -> 3L))
    val clone = src.cloneTo(scratch("mt_clone_dst"))
    assert(asSet(clone.read(spark)) === Set((1, "a", "p1"), (2, "B", "p2")))
    // exactly-once writers stay exactly-once when pointed at the clone
    assert(clone.lastTxnVersion("app") === Some(3L))
    // divergence: each side evolves without touching the other
    clone.merge(spark, df(Seq((3, "c", "p1"))), Seq("k"))
    src.merge(spark, df(Seq((9, "z", "p2"))), Seq("k"))
    assert(asSet(clone.read(spark)) ===
      Set((1, "a", "p1"), (2, "B", "p2"), (3, "c", "p1")))
    assert(asSet(src.read(spark)) ===
      Set((1, "a", "p1"), (2, "B", "p2"), (9, "z", "p2")))
    // the strong property Delta's shallow clone lacks: DELETE the source
    // entirely — hard links keep the shared blocks alive for the clone
    java.nio.file.Files.walk(java.nio.file.Paths.get(src.root))
      .iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    assert(asSet(clone.read(spark)) ===
      Set((1, "a", "p1"), (2, "B", "p2"), (3, "c", "p1")))
  }

  test("txn versions make replayed writes exactly-once") {
    val t = new MergeTable(scratch("mt_txn"), Seq("p"))
    // the foreachBatch idempotency recipe: skip batches already recorded
    def applyBatch(id: Long, rows: Seq[(Int, String, String)]): Unit =
      if (!t.lastTxnVersion("app").exists(_ >= id))
        t.merge(spark, df(rows), Seq("k"), txn = Some("app" -> id))
    applyBatch(0, Seq((1, "a", "p1")))
    applyBatch(1, Seq((2, "b", "p1")))
    assert(t.lastTxnVersion("app") === Some(1L))
    val vBefore = t.currentVersion
    applyBatch(1, Seq((2, "DOUBLE", "p1"))) // replay after a crash: skipped
    assert(t.currentVersion === vBefore)
    assert(asSet(t.read(spark)) === Set((1, "a", "p1"), (2, "b", "p1")))
    // other apps don't interfere; versions carry forward across commits
    t.merge(spark, df(Seq((3, "c", "p2"))), Seq("k"), txn = Some("other" -> 7L))
    assert(t.lastTxnVersion("app") === Some(1L))
    assert(t.lastTxnVersion("other") === Some(7L))
    assert(t.lastTxnVersion("nope") === None)
  }

  test("restore rolls back constraints, ingest ledger, and txn versions too") {
    val t = new MergeTable(scratch("mt_restore_meta"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"))))                                      // v0
    t.merge(spark, df(Seq((2, "b", "p1"))), Seq("k"), txn = Some("app" -> 5L)) // v1
    t.addCheckConstraint(spark, "k_small", "k < 100")                          // v2
    assert(t.checkConstraints.nonEmpty && t.lastTxnVersion("app") === Some(5L))
    t.restore(0)
    assert(t.checkConstraints.isEmpty,
      "constraint survived a restore to pre-constraint state")
    assert(t.lastTxnVersion("app") === None,
      "txn mark survived rollback of its effects — replayed batches would be skipped")
    // writes no longer trip the dropped constraint
    t.merge(spark, df(Seq((500, "big", "p1"))), Seq("k"))
    assert(t.read(spark).count() === 2)
  }

  test("append fails loudly on columns outside the table schema") {
    val t = new MergeTable(scratch("mt_append_extra"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"))))
    val ex = intercept[IllegalArgumentException] {
      t.append(Seq((2, "b", "p1", 9L)).toDF("k", "v", "p", "extra"))
    }
    assert(ex.getMessage.contains("extra"))
    assert(t.read(spark).count() === 1)
  }

  test("changes() heals a feed stranded in staging by a publish-rename crash") {
    import java.nio.file.{Files => F, Paths => P}
    val t = new MergeTable(scratch("mt_cdf_heal"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"))))
    t.merge(spark, df(Seq((2, "b", "p1"))), Seq("k"), changeFeed = true)
    val cdfRoot = P.get(t.root, "cdf")
    val d = F.list(cdfRoot).iterator().asScala
      .map(_.getFileName.toString).toSeq.head
    // simulate a crash between commit link and publish rename
    val staged = P.get(t.root, MergeTable.stagingOf(s"cdf/$d"))
    F.createDirectories(staged.getParent)
    F.move(cdfRoot.resolve(d), staged)
    assert(t.changes(spark, 1, 1).count() === 1) // reader self-heals
    assert(F.exists(cdfRoot.resolve(d)) && !F.exists(staged))
  }

  test("changesStream heals stranded committed feeds at stream start") {
    import java.nio.file.{Files => F, Paths => P}
    val t = new MergeTable(scratch("mt_cdf_stream_heal"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"))))
    t.merge(spark, df(Seq((2, "b", "p1"))), Seq("k"), changeFeed = true)
    val cdfRoot = P.get(t.root, "cdf")
    val d = F.list(cdfRoot).iterator().asScala
      .map(_.getFileName.toString).toSeq.head
    val staged = P.get(t.root, MergeTable.stagingOf(s"cdf/$d"))
    F.createDirectories(staged.getParent)
    F.move(cdfRoot.resolve(d), staged) // publish-rename crash
    // a stream started now must not have a silent, permanent gap: the
    // builder reconciles every recorded feed before globbing
    t.changesStream(spark)
    assert(F.exists(cdfRoot.resolve(d)) && !F.exists(staged),
      "stranded committed feed was not published at stream start")
  }

  test("a staged (uncommitted) feed is invisible to cdf readers") {
    import java.nio.file.{Files => F, Paths => P}
    val t = new MergeTable(scratch("mt_cdf_stage_vis"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"))))
    t.merge(spark, df(Seq((2, "b", "p1"))), Seq("k"), changeFeed = true)
    // an in-flight writer's staged feed: fully written, commit not published
    df(Seq((99, "UNCOMMITTED", "p1")))
      .withColumn(MergeTable.ChangeType, org.apache.spark.sql.functions.lit("insert"))
      .withColumn(MergeTable.CommitVersion, org.apache.spark.sql.functions.lit(2L))
      .write.parquet(P.get(t.root, MergeTable.stagingOf("cdf/d2uinflight")).toString)
    // the changesStream glob must not see it (empirically, `cdf/*` DOES
    // match dot-prefixed children — hence the sibling staging tree)
    val globbed = spark.read
      .schema(t.changesStream(spark).schema)
      .parquet(s"${t.root}/cdf/*")
    assert(globbed.filter(col("k") === 99).count() === 0,
      "glob read ingested rows of an attempt that never committed")
    assert(t.changes(spark, 1, 1).filter(col("k") === 99).count() === 0)
    // vacuum reclaims the orphaned staging dir under the no-writers promise
    t.vacuum(minAgeMs = 0)
    assert(!F.exists(P.get(t.root, MergeTable.stagingOf("cdf/d2uinflight"))))
    // ...but keeps the committed feed
    assert(t.changes(spark, 1, 1).count() === 1)
  }

  test("commit races: one winner per version, every committed snapshot stays intact") {
    val t = new MergeTable(scratch("mt_occ"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"), (2, "b", "p2"))))
    val src = df(Seq((2, "B", "p2"), (3, "c", "p1")))
    // four writers race the same merge; losers of any per-version race must
    // throw the conflict — and must NOT have clobbered a winner's committed
    // files (unique per-attempt data dirs)
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(4)
    val go = new CountDownLatch(1)
    val conflicts = new java.util.concurrent.atomic.AtomicInteger
    (1 to 4).foreach { _ =>
      pool.execute { () =>
        go.await()
        try t.merge(spark, src, Seq("k"), changeFeed = true)
        catch { case _: java.util.ConcurrentModificationException => conflicts.incrementAndGet() }
      }
    }
    go.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    // every committed version is fully readable — no winner's data was
    // overwritten by a losing attempt
    (0L to t.currentVersion).foreach { v =>
      assert(t.readVersion(spark, v).count() >= 2, s"version $v unreadable")
    }
    // the merge is idempotent, so however many attempts won, the tip agrees
    assert(asSet(t.read(spark)) ===
      Set((1, "a", "p1"), (2, "B", "p2"), (3, "c", "p1")))
    // losers wrote change feeds BEFORE their failed commits — conflict
    // handling must have cleaned them, leaving no orphan dir for
    // changesStream's glob to replay
    val cdfDirs = java.nio.file.Files.list(java.nio.file.Paths.get(t.root, "cdf"))
      .iterator().asScala.map(_.getFileName.toString).toSet
    assert(cdfDirs.size === (t.currentVersion - 0).toInt,
      s"orphan change-feed dirs survived a commit race: $cdfDirs")
    assert(t.changes(spark, 1, t.currentVersion).count() >= 2)
  }

  test("merge commits preserve field metadata (comments/defaults), racing or not") {
    import org.apache.spark.sql.types.MetadataBuilder
    val meta = new MetadataBuilder()
      .putString("comment", "the v column")
      .putString("CURRENT_DEFAULT", "'dflt'").build()
    val t = new MergeTable(scratch("mt_schemameta"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"), (2, "b", "p2")))
      .select(col("k"), col("v").as("v", meta), col("p")))
    assert(t.schemaOf(0L)("v").metadata.contains("comment"),
      "precondition: overwrite must persist field metadata")
    // a single same-shape merge must not strip the declared metadata
    t.merge(spark, df(Seq((1, "A", "p1"))), Seq("k"),
      keysDeterminePartitions = true)
    assert(t.schemaOf(t.currentVersion)("v").metadata.contains("comment"),
      "a lone merge stripped column metadata from the committed schema")
    // and neither may a REBASED merge: race two partition-disjoint merges —
    // whichever loses re-commits against the winner's tip and must carry
    // the tip's schema object (COMMENT/DEFAULT intact), not its own
    // plan-derived one
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val go = new CountDownLatch(1)
    val failures = new java.util.concurrent.atomic.AtomicInteger
    Seq(("p1", 1, "A1"), ("p2", 2, "B2")).foreach { case (p, k, v) =>
      pool.execute { () =>
        go.await()
        try t.merge(spark, df(Seq((k, v, p))), Seq("k"),
          keysDeterminePartitions = true)
        catch { case _: Throwable => failures.incrementAndGet() }
      }
    }
    go.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(failures.get === 0)
    val m = t.schemaOf(t.currentVersion)("v").metadata
    assert(m.contains("comment") && m.getString("comment") == "the v column",
      "the rebased merge reverted the schema's column COMMENT")
    assert(m.contains("CURRENT_DEFAULT"),
      "the rebased merge reverted the schema's column DEFAULT")
  }

  test("blind appends auto-rebase on a lost race: all land, zero rewrites") {
    val t = new MergeTable(scratch("mt_apprebase"), Seq("p"))
    t.overwrite(df(Seq((0, "z", "p0"))))
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(4)
    val go = new CountDownLatch(1)
    val failures = new java.util.concurrent.atomic.AtomicInteger
    (1 to 4).foreach { i =>
      pool.execute { () =>
        go.await()
        try t.append(df(Seq((i, s"v$i", s"p$i"))))
        catch { case _: Throwable => failures.incrementAndGet() }
      }
    }
    go.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(failures.get === 0,
      "a blind append losing the race must re-commit, not throw")
    assert(t.currentVersion === 4L, "each append lands as its own commit")
    assert(asSet(t.read(spark)) === Set((0, "z", "p0"), (1, "v1", "p1"),
      (2, "v2", "p2"), (3, "v3", "p3"), (4, "v4", "p4")))
    // every intermediate version stays readable (rebases reference, never
    // clobber, the winners' files)
    (0L to 4L).foreach(v => assert(t.readVersion(spark, v).count() === v + 1))
  }

  test("partition-disjoint merges auto-rebase on a lost race: zero recomputation") {
    val t = new MergeTable(scratch("mt_mergerebase"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"), (2, "b", "p2"), (3, "c", "p3"))))
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val go = new CountDownLatch(1)
    val failures = new java.util.concurrent.atomic.AtomicInteger
    // two merges, each scoped to ITS OWN partition (keysDeterminePartitions):
    // read sets are disjoint, so the race loser must re-commit its written
    // files against the winner's tip — never recompute, never throw
    Seq(("p1", 1, "A1", 11), ("p2", 2, "B2", 12)).foreach { case (p, k, v, nk) =>
      pool.execute { () =>
        go.await()
        try t.merge(spark, df(Seq((k, v, p), (nk, s"n$v", p))), Seq("k"),
          keysDeterminePartitions = true)
        catch { case _: Throwable => failures.incrementAndGet() }
      }
    }
    go.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(failures.get === 0,
      "a partition-disjoint merge losing the race must rebase, not throw")
    assert(t.currentVersion === 2L)
    assert(asSet(t.read(spark)) === Set((1, "A1", "p1"), (11, "nA1", "p1"),
      (2, "B2", "p2"), (12, "nB2", "p2"), (3, "c", "p3")))
    // ZERO recomputation: each writer wrote exactly one data dir (plus v0's)
    val dataDirs = java.nio.file.Files.list(java.nio.file.Paths.get(t.root))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("d")).toSeq
    assert(dataDirs.size === 3,
      s"an orphan data dir means the loser re-derived instead of rebasing: $dataDirs")
    // intermediate versions stay readable (the rebase references, never
    // clobbers, the winner's files)
    (0L to 2L).foreach(v => assert(t.readVersion(spark, v).count() >= 3))
  }

  test("overlapping-scope merge race re-derives (no unsound rebase), result exact") {
    val t = new MergeTable(scratch("mt_mergeconflict"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"), (2, "b", "p1"))))
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val go = new CountDownLatch(1)
    val failures = new java.util.concurrent.atomic.AtomicInteger
    // both merges write INTO p1: the loser's read set includes the winner's
    // adds, so rebase must refuse and mergeWithRetry re-derives instead
    Seq((1, "A"), (2, "B")).foreach { case (k, v) =>
      pool.execute { () =>
        go.await()
        try t.mergeWithRetry(spark, df(Seq((k, v, "p1"))), Seq("k"),
          maxAttempts = 5, keysDeterminePartitions = true)
        catch { case _: Throwable => failures.incrementAndGet() }
      }
    }
    go.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(failures.get === 0)
    assert(asSet(t.read(spark)) === Set((1, "A", "p1"), (2, "B", "p1")),
      "both same-partition merges must apply exactly (serialized re-derivation)")
  }

  test("merge rebase honors txn replay: racing duplicate batches land once") {
    val t = new MergeTable(scratch("mt_mergetxn"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"))))
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(3)
    val go = new CountDownLatch(1)
    val failures = new java.util.concurrent.atomic.AtomicInteger
    (1 to 3).foreach { _ =>
      pool.execute { () =>
        go.await()
        try {
          if (!t.lastTxnVersion("mtxn").exists(_ >= 1L))
            t.merge(spark, df(Seq((7, "dup", "p7"))), Seq("k"),
              keysDeterminePartitions = true, txn = Some("mtxn" -> 1L))
        } catch {
          case _: java.util.ConcurrentModificationException => ()
          case _: Throwable => failures.incrementAndGet()
        }
      }
    }
    go.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(failures.get === 0)
    assert(t.read(spark).filter(col("k") === 7).count() === 1L,
      "the raced duplicate merge batch must land exactly once")
    assert(t.lastTxnVersion("mtxn").contains(1L))
  }

  test("append rebase honors txn replay: a raced duplicate batch lands once") {
    val t = new MergeTable(scratch("mt_apptxn"), Seq("p"))
    t.overwrite(df(Seq((0, "z", "p0"))))
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(3)
    val go = new CountDownLatch(1)
    // three writers race the SAME logical batch (same txn marker), each
    // with the standard caller discipline (check-then-append): the race
    // window between check and commit is closed by the rebase's in-race
    // marker check, so the rows land exactly once
    (1 to 3).foreach { _ =>
      pool.execute { () =>
        go.await()
        try {
          if (!t.lastTxnVersion("apptxn").exists(_ >= 1L))
            t.append(df(Seq((7, "dup", "p7"))), txn = Some("apptxn" -> 1L))
        } catch { case _: java.util.ConcurrentModificationException => () }
      }
    }
    go.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(t.read(spark).filter(col("k") === 7).count() === 1L,
      "the raced duplicate batch must land exactly once")
    assert(t.lastTxnVersion("apptxn").contains(1L))
  }

  test("protocol guard: a future-version commit is refused, not half-read") {
    val t = new MergeTable(scratch("mt_protocol"))
    t.overwrite(df(Seq((1, "a", "p1"))).drop("p"))
    // every commit records the protocol line
    import java.nio.file.{Files => F, Paths => P}
    val log = P.get(t.root, "_graft_log", "0.commit")
    val content = F.readString(log)
    assert(content.contains("protocol\t1"))
    // forge a future-version commit: the reader must refuse LOUDLY
    F.writeString(log, content.replace("protocol\t1", "protocol\t99"))
    val ex = intercept[IllegalArgumentException](t.read(spark))
    assert(ex.getMessage.contains("reader protocol 99"))
  }

  test("a lost _LATEST update is recovered by forward-scanning commits") {
    val t = new MergeTable(scratch("mt_tipscan"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"))))
    t.merge(spark, df(Seq((2, "b", "p2"))), Seq("k"))
    assert(t.currentVersion === 1)
    // simulate a crash between the commit publish and the tip-cache update
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(t.root, "_graft_log", "_LATEST"), "0")
    assert(t.currentVersion === 1, "tip cache must be fast-forwarded over commits")
    assert(asSet(t.read(spark)) === Set((1, "a", "p1"), (2, "b", "p2")))
  }

  test("pruned merge matches Spark's partition-path escaping for hostile values") {
    // 'p 1:a+b' needs escaping in a path ('+' additionally distinguishes
    // URI decoding from form decoding in the probe's file-key derivation);
    // the probe must still find its dir
    val t = new MergeTable(scratch("mt_pp_esc"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p 1:a+b"), (2, "b", "p2"))))
    t.merge(spark, df(Seq((1, "A", "p 1:a+b"))), Seq("k"), keysDeterminePartitions = true)
    assert(asSet(t.read(spark)) === Set((1, "A", "p 1:a+b"), (2, "b", "p2")),
      "escaped partition dir was not probed — key duplicated or update lost")
  }

  test("property: pruned merge ≡ unpruned merge when keys determine partitions") {
    // partition derived deterministically from the key ⇒ the opt-in's
    // precondition holds by construction; both paths must agree exactly.
    def part(k: Int): String = s"p${k % 3}"
    val keySet: Gen[List[Int]] = Gen.listOfN(10, Gen.chooseNum(0, 40)).map(_.distinct)
    val params = Gen.Parameters.default
    (0 until 3).foreach { i =>
      val tks = keySet.apply(params, Seed(7L + i)).get
      val sks = keySet.apply(params, Seed(707L + i)).get
      val target = tks.map(k => (k, s"t$k", part(k)))
      val source = sks.map(k => (k, s"s$k", part(k)))
      val plain = new MergeTable(scratch("mt_pp_plain"), Seq("p"))
      val pruned = new MergeTable(scratch("mt_pp_pruned"), Seq("p"))
      plain.overwrite(df(target)); pruned.overwrite(df(target))
      plain.merge(spark, df(source), Seq("k"))
      pruned.merge(spark, df(source), Seq("k"), keysDeterminePartitions = true)
      assert(asSet(pruned.read(spark)) === asSet(plain.read(spark)),
        s"case $i: target=$tks source=$sks")
    }
  }

  test("update applies SET to predicate-TRUE rows only; NULL predicate rows untouched") {
    val t = new MergeTable(scratch("mt_update"), Seq("p"))
    t.overwrite(Seq((1, "a", "p1"), (2, "b", "p1"), (3, null, "p2"))
      .toDF("k", "v", "p"))
    // predicate is NULL for k=3 (null v) — SQL UPDATE must not touch it;
    // matched rows move partitions
    t.update(spark, col("v") < "c", Map("v" -> upper(col("v")), "p" -> lit("p9")))
    val got = t.read(spark).select("k", "v", "p").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    assert(got === Set((1, "A", "p9"), (2, "B", "p9"), (3, null, "p2")))
    // time travel still sees the pre-update rows
    assert(asSet(t.readVersion(spark, 0).na.fill("·")) ===
      asSet(Seq((1, "a", "p1"), (2, "b", "p1"), (3, "·", "p2")).toDF("k", "v", "p")))
  }

  test("update SET expressions see the PRE-update row (swap semantics)") {
    val t = new MergeTable(scratch("mt_update_swap"))
    t.overwrite(Seq((1, 10L, 20L)).toDF("k", "a", "b"))
    t.update(spark, col("k") === 1, Map("a" -> col("b"), "b" -> col("a")))
    val r = t.read(spark).select("a", "b").head()
    assert((r.getLong(0), r.getLong(1)) === ((20L, 10L)), "SET must not chain")
  }

  test("update re-derives generated columns and records CDF pre/post images") {
    val t = new MergeTable(scratch("mt_update_gen"), Seq("kmod"),
      generatedCols = Seq("kmod" -> "k % 2"))
    t.overwrite(Seq((1, "a"), (2, "b")).toDF("k", "v"))
    t.update(spark, col("k") === 1, Map("k" -> (col("k") + 1)), changeFeed = true)
    // k=1 became k=2 (kmod must follow: 1 → 0); the original k=2 row is
    // untouched — two (2, 0) rows total
    val got = t.read(spark).select("k", "kmod").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq.sorted
    assert(got === Seq((2, 0), (2, 0)),
      "generated column not re-derived after SET on its input")
    val ch = t.changes(spark, 1, 1).select(MergeTable.ChangeType, "k").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(ch === Set(("update_preimage", 1), ("update_postimage", 2)))
  }

  test("update touching no file commits a metadata-only new version") {
    val t = new MergeTable(scratch("mt_update_noop"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"))))
    val files = t.filesOf(0)
    t.update(spark, col("k") === 99, Map("v" -> lit("x")))
    assert(t.currentVersion === 1 && t.filesOf(1) === files)
  }

  test("mergeWithRetry: concurrent writers both land via OCC retry") {
    val t = new MergeTable(scratch("mt_retry"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"))))
    val gate = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq((2, "b"), (3, "c")).map { case (k, v) =>
      new Thread(() => {
        gate.await()
        try t.mergeWithRetry(spark, df(Seq((k, v, "p1"))), Seq("k"), maxAttempts = 8)
        catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
    assert(errs.isEmpty, s"a retried merge still failed: ${errs.asScala.headOption}")
    assert(asSet(t.read(spark)) === Set((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p1")))
  }

  test("history reports version/operation/txns; timestamps are monotonic") {
    val t = new MergeTable(scratch("mt_history"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"))))                                // v0 WRITE
    t.merge(spark, df(Seq((2, "b", "p1"))), Seq("k"),
      txn = Some("app" -> 3L))                                          // v1 MERGE
    t.delete(spark, col("k") === 1)                                     // v2 DELETE
    t.update(spark, col("k") === 2, Map("v" -> lit("B")))               // v3 UPDATE
    t.compact(spark)                                                    // v4 OPTIMIZE
    val h = t.history(spark).orderBy("version").collect()
    assert(h.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L, 3L, 4L))
    assert(h.map(_.getString(2)).toSeq ===
      Seq("WRITE", "MERGE", "DELETE", "UPDATE", "OPTIMIZE"))
    assert(h.map(_.getString(3)).toSeq === Seq("", "app=3", "app=3", "app=3", "app=3"))
    val times = h.map(_.getTimestamp(1).getTime).toSeq
    assert(times === times.sorted, "commit timestamps must be non-decreasing")
    // the audit surface RESTORE begs for: pick a version from history, roll
    // back to it, and the restore itself appears in history
    t.restore(h.find(_.getString(2) == "MERGE").get.getLong(0))
    val ops = t.history(spark).orderBy("version").collect().map(_.getString(2))
    assert(ops.last === "RESTORE")
    assert(asSet(t.read(spark)) === Set((1, "a", "p1"), (2, "b", "p1")))
  }

  test("a replayed LOWER txn version never regresses the recorded marker") {
    val t = new MergeTable(scratch("mt_txn_max"))
    t.overwrite(Seq((1, "a")).toDF("k", "v"), txn = Some("app" -> 5L))
    // a crashed upstream replaying an old batch writes a lower version
    t.overwrite(Seq((2, "b")).toDF("k", "v"), txn = Some("app" -> 3L))
    assert(t.lastTxnVersion("app") === Some(5L),
      "marker regressed — exactly-once gates would re-apply batches 4..5")
  }

  test("copyInto ledger is stored incrementally, not carried into every commit") {
    val stage = scratch("mt_ledger_stage")
    df(Seq((1, "a", "p1"), (2, "b", "p2"))).repartition(2)
      .write.mode("overwrite").parquet(stage)
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
      .iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    val t = new MergeTable(scratch("mt_ledger"), Seq("p"))
    t.copyInto(spark, files)
    t.merge(spark, df(Seq((3, "c", "p1"))), Seq("k"))
    t.merge(spark, df(Seq((4, "d", "p1"))), Seq("k"))
    // the ledger still answers the union (paths are normalized absolute)...
    assert(t.ingestedFiles.toSet ===
      files.map(f => java.nio.file.Paths.get(f).toAbsolutePath.toString).toSet)
    assert(t.copyInto(spark, files) === 0)
    // ...but non-ingest commits carry ZERO ingest lines — at scale a
    // carried-forward ledger would grow every commit by O(files ever
    // ingested)
    val lastCommit = java.nio.file.Files.readString(java.nio.file.Paths.get(
      t.root, "_graft_log", s"${t.currentVersion}.commit"))
    assert(!lastCommit.contains("ingest\t"),
      "non-ingest commit re-serialized the copyInto ledger")
  }

  test("changesStream fails loudly when a recorded feed is truly missing") {
    val t = new MergeTable(scratch("mt_stream_loss"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"))))
    t.merge(spark, df(Seq((2, "b", "p1"))), Seq("k"), changeFeed = true)
    // external data loss: the recorded feed vanishes from cdf/ AND cdf_stage/
    val cdfRoot = java.nio.file.Paths.get(t.root, "cdf")
    java.nio.file.Files.walk(cdfRoot).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
    val ex = intercept[IllegalStateException] { t.changesStream(spark) }
    assert(ex.getMessage.contains("incomplete"),
      "stream started over a permanent feed gap — batch changes() throws here")
  }

  test("addColumns is metadata-only: same files, NULL-fill reads, evolved writes") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val t = new MergeTable(scratch("mt_addcol"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"), (2, "b", "p2"))))
    val files = t.filesOf(0)
    t.addColumns(StructType(Seq(StructField("extra", LongType))))
    assert(t.filesOf(1) === files, "schema evolution must not rewrite data files")
    val r = t.read(spark)
    // partition columns surface last in read output regardless of the
    // committed schema order — compare as a set
    assert(r.columns.toSet === Set("k", "v", "p", "extra"))
    assert(r.select("extra").collect().forall(_.isNullAt(0)),
      "pre-evolution rows must read the new column as NULL")
    // name collision fails loudly — silent type replacement would corrupt readers
    val ex = intercept[IllegalArgumentException] {
      t.addColumns(StructType(Seq(StructField("v", LongType))))
    }
    assert(ex.getMessage.contains("already exist"))
    // a merge fills the evolved column for its keys only
    t.merge(spark, Seq((2, "B", "p2", 7L), (3, "c", "p1", 9L))
      .toDF("k", "v", "p", "extra"), Seq("k"))
    val got = t.read(spark).select("k", "extra").collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(got === Set((1, -1L), (2, 7L), (3, 9L)))
  }

  test("overwriteWhere swaps exactly the slice in one commit; rejects out-of-slice rows") {
    val t = new MergeTable(scratch("mt_rw"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"))))
    val filesBefore = t.filesOf(t.currentVersion).toSet
    t.overwriteWhere(spark, col("p") === "p1",
      df(Seq((9, "z", "p1"))), changeFeed = true)
    // ONE version: readers never observe the deleted-but-not-reloaded gap
    assert(t.currentVersion === 1L)
    assert(asSet(t.read(spark)) === Set((9, "z", "p1"), (3, "c", "p2")))
    // the untouched partition's file is carried forward by reference
    assert(t.filesOf(1L).toSet.intersect(filesBefore).nonEmpty,
      "untouched partition was rewritten")
    // CDF records the swap as deletes + inserts of the slice only
    val ch = t.changes(spark, 1L, 1L)
      .select("k", MergeTable.ChangeType).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(ch === Set((1, "delete"), (2, "delete"), (9, "insert")))
    // incoming rows outside the slice are rejected, and nothing commits
    intercept[IllegalArgumentException] {
      t.overwriteWhere(spark, col("p") === "p1", df(Seq((8, "y", "p2"))))
    }
    assert(t.currentVersion === 1L, "failed replaceWhere must not commit")
  }

  test("commit log is incremental between checkpoints and chain-resolves exactly") {
    val t = new MergeTable(scratch("mt_inc"), Seq("p"), statsCols = Seq("k"))
    def commitText(v: Long): String =
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(t.root, "_graft_log", s"$v.commit"))
    // 6 partitions → enough files that a one-key merge's delta beats the
    // full manifest; v0 is always a full checkpoint
    t.overwrite(df((1 to 12).map(k => (k, s"a$k", s"p${k % 6}"))))
    assert(commitText(0).contains("file\t") && !commitText(0).contains("base\t"))
    val snapshots = scala.collection.mutable.Map(0L -> asSet(t.read(spark)))
    (1 to 12).foreach { i =>
      t.merge(spark, df(Seq((i % 12 + 1, s"m$i", s"p${(i % 12 + 1) % 6}"))), Seq("k"))
      snapshots(t.currentVersion) = asSet(t.read(spark))
    }
    assert(t.currentVersion === 12L)
    // between checkpoints: a base reference + add/remove delta, never the
    // full file list; at the checkpoint cadence: the reverse
    (1L to 12L).foreach { v =>
      val txt = commitText(v)
      if (v % MergeTable.CheckpointEvery == 0) {
        assert(txt.contains("file\t") && !txt.contains("base\t"),
          s"v$v must be a full checkpoint")
      } else {
        assert(txt.contains(s"base\t${v - 1}") && !txt.contains("file\t"),
          s"v$v must be an incremental commit")
      }
    }
    // chain resolution reproduces every snapshot exactly (time travel
    // through incremental commits, across the v10 checkpoint)
    (0L to 12L).foreach { v =>
      assert(asSet(t.readVersion(spark, v)) === snapshots(v), s"time travel to v$v")
    }
    // per-file stats survive the chain: data skipping still prunes and
    // range reads stay exact
    val all = t.filesOf(12L)
    val cand = t.candidateFiles("k", 3, 3)
    assert(cand.nonEmpty && cand.size < all.size, "stats must prune through a chain")
    assert(t.readRange(spark, "k", 3, 3).collect().map(_.getInt(0)).toSeq === Seq(3))
    // a metadata-only commit is a one-line delta, not a manifest copy
    t.setProperties(Map("owner" -> "x"))
    val metaTxt = commitText(13L)
    assert(metaTxt.contains("base\t12") && !metaTxt.contains("file\t")
      && !metaTxt.contains("add\t") && !metaTxt.contains("remove\t"))
    assert(asSet(t.read(spark)) === snapshots(12L))
  }

  test("a column rename restats retained files and falls back to a full manifest") {
    val t = new MergeTable(scratch("mt_inc_rename"), Nil, statsCols = Seq("k"))
    t.overwrite(df((1 to 8).map(k => (k, s"a$k", "p1"))))
    t.append(df(Seq((100, "z", "p1")))) // v1: incremental (adds only)
    val v1 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(t.root, "_graft_log", "1.commit"))
    assert(v1.contains("base\t0") && !v1.contains("file\t"))
    t.renameColumn("k", "kk") // restats every retained file → delta can't express it
    val v2 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(t.root, "_graft_log", "2.commit"))
    assert(v2.contains("file\t") && !v2.contains("base\t"))
    assert(t.read(spark).columns.contains("kk"))
    assert(t.readRange(spark, "kk", 100, 100).count() === 1L)
  }

  test("in-commit timestamps are strictly increasing even under a backwards clock") {
    val t = new MergeTable(scratch("mt_ict"), Seq("p"))
    // a clock that steps BACKWARDS between commits (NTP step / skewed
    // second writer) — the table must still record a total order
    val ticks = Iterator(5000L, 3000L, 3000L, 9000L)
    t.clock = () => ticks.next()
    t.overwrite(df(Seq((1, "a", "p1"))))                       // ts = 5000
    t.append(df(Seq((2, "b", "p1"))))                          // clock 3000 → clamped 5001
    t.append(df(Seq((3, "c", "p1"))))                          // clock 3000 → clamped 5002
    t.append(df(Seq((4, "d", "p1"))))                          // ts = 9000
    val ts = (0L to 3L).map(t.commitTimeMillis)
    assert(ts === Seq(5000L, 5001L, 5002L, 9000L))
    // TIMESTAMP AS OF resolution follows the recorded order, not mtimes
    assert(t.versionAt(5001L) === 1L)
    assert(t.versionAt(8999L) === 2L)
    assert(t.versionAt(9000L) === 3L)
    intercept[IllegalArgumentException](t.versionAt(4999L))
    // history surfaces the in-commit values (no mtime fallback)
    val hist = t.history(spark).orderBy("version").collect()
      .map(_.getTimestamp(1).getTime).toSeq
    assert(hist === ts)
  }

  test("type widening: metadata-only, mixed files read upcast, non-widening rejected") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val t = new MergeTable(scratch("mt_widen"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"), (2, "b", "p2")))) // k stored as INT
    val v0Files = t.filesOf(0)
    t.alterColumnType("k", LongType)
    assert(t.filesOf(1) === v0Files, "widening must not rewrite any file")
    // a post-widening merge lands a value far beyond int range; the old
    // INT file and the new BIGINT file read together under one schema
    t.merge(spark, Seq((5000000000L, "w", "p1")).toDF("k", "v", "p"), Seq("k"))
    val out = t.read(spark).select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out === Set((1L, "a"), (2L, "b"), (5000000000L, "w")))
    // time travel reads v0 under its own narrow schema
    assert(t.readVersion(spark, 0).schema("k").dataType === IntegerType)
    // stats carried across the widening still prune numerically
    // (narrowing, non-numeric, and partition columns all fail loudly)
    intercept[IllegalArgumentException](t.alterColumnType("k", IntegerType))
    intercept[IllegalArgumentException](t.alterColumnType("v", LongType))
    intercept[IllegalArgumentException](t.alterColumnType("p", LongType))
    intercept[IllegalArgumentException](t.alterColumnType("nope", LongType))
  }

  test("fsck drops references to out-of-band-deleted files; no-op on clean tables") {
    val t = new MergeTable(scratch("mt_fsck"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"), (2, "b", "p2"))))
    assert(t.fsck() === 0)
    assert(t.currentVersion === 0, "a clean fsck must not commit")
    val victim = t.filesOf(0).find(_.contains("p=p2")).get
    java.nio.file.Files.delete(java.nio.file.Paths.get(t.root, victim))
    assert(t.fsck() === 1)
    assert(asSet(t.read(spark)) === Set((1, "a", "p1")))
    import spark.implicits._
    assert(t.history(spark).select("operation").as[String].collect().contains("FSCK"))
  }

  test("rewrite probes prune by partition predicate, fall back on data columns") {
    val t = new MergeTable(scratch("mt_probe_prune"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"), (2, "b", "p2"), (3, "c", "p3"))))
    val files = t.filesOf(0)
    // partition-only predicate: only the matching partition's files probed
    val pruned = t.partitionCandidates(spark, files, t.schemaOf(0), col("p") === "p2")
    assert(pruned.nonEmpty && pruned.forall(_.contains("p=p2")), pruned)
    // compound partition predicates still prune
    val pr2 = t.partitionCandidates(spark, files, t.schemaOf(0),
      col("p").isin("p1", "p3") && col("p") =!= "p1")
    assert(pr2.nonEmpty && pr2.forall(_.contains("p=p3")), pr2)
    // a data-column reference disables pruning (conservative fallback)
    assert(t.partitionCandidates(spark, files, t.schemaOf(0), col("v") === "a") === files)
    // the rewrite operators stay exact through the pruned probe
    t.delete(spark, col("p") === "p2")
    assert(asSet(t.read(spark)) === Set((1, "a", "p1"), (3, "c", "p3")))
    t.update(spark, col("p") === "p3", Map("v" -> lit("C")))
    assert(asSet(t.read(spark)) === Set((1, "a", "p1"), (3, "C", "p3")))
  }

  test("history surfaces per-commit operation metrics (file deltas)") {
    val t = new MergeTable(scratch("mt_opm"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"), (2, "b", "p2"))))        // v0: all added
    t.merge(spark, df(Seq((2, "B", "p2"))), Seq("k"))           // v1: p2 rewritten
    t.setProperties(Map("x" -> "1"))                            // v2: metadata-only
    val h = t.history(spark).orderBy("version")
      .select("version", "num_added_files", "num_removed_files", "num_files")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(h(0)._2 > 0 && h(0)._3 === 0L)
    assert(h(1)._2 > 0 && h(1)._3 > 0, s"merge must add and remove files: ${h(1)}")
    assert(h(2)._2 === 0L && h(2)._3 === 0L && h(2)._4 === h(1)._4,
      s"a metadata-only commit has no file delta: ${h(2)}")
  }

  test("bloom index prunes point lookups; missing sidecars degrade, never lie") {
    val t = new MergeTable(scratch("mt_bloom"), Seq("p"))
    t.overwrite(df((1 to 200).map(k => (k, s"v$k", if (k % 2 == 0) "pe" else "po")))
      .repartition(4, col("k")))
    t.buildBloomIndex(spark, "v")
    val all = t.filesOf(t.currentVersion).size
    val cand = t.bloomCandidateFiles(spark, "v", "v17")
    assert(cand.nonEmpty && cand.size < all, s"expected pruning, got ${cand.size}/$all")
    assert(t.readPoint(spark, "v", "v17").collect().map(_.getInt(0)).toSeq === Seq(17))
    // an unindexed column: no sidecars → everything admitted, result exact
    assert(t.readPoint(spark, "k", 17).count() === 1L)
    // a rewrite invalidates nothing: the write path re-indexes its new
    // files (and a missing sidecar would only degrade to "keep") —
    // lookups stay exact either way
    t.merge(spark, df(Seq((17, "V17", "po"), (201, "v17", "pe"))), Seq("k"))
    assert(t.readPoint(spark, "v", "v17").collect().map(_.getInt(0)).toSeq === Seq(201))
    assert(t.readPoint(spark, "v", "V17").collect().map(_.getInt(0)).toSeq === Seq(17))
  }

  test("property: merged = source ∪ (target ∖ source-keys)") {
    val keySet: Gen[List[Int]] = Gen.listOfN(8, Gen.chooseNum(0, 30)).map(_.distinct)
    val params = Gen.Parameters.default
    (0 until 5).foreach { i =>
      val tks = keySet.apply(params, Seed(42L + i)).get
      val sks = keySet.apply(params, Seed(1042L + i)).get
      val t = new MergeTable(scratch("mt_prop"), Seq("p"))
      val target = tks.map(k => (k, s"t$k", if (k % 2 == 0) "pe" else "po"))
      val source = sks.map(k => (k, s"s$k", if (k % 3 == 0) "pe" else "po"))
      t.overwrite(df(target))
      t.merge(spark, df(source), Seq("k"))
      val expected = (source ++ target.filterNot(r => sks.contains(r._1))).toSet
      assert(asSet(t.read(spark)) === expected, s"case $i: target=$tks source=$sks")
    }
  }

  test("mergeVectorized: masked updates, one new file, rewrite fallback on mass match") {
    val t = new MergeTable(scratch("mt_dvmerge"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"))))
    val before = t.filesOf(t.currentVersion).toSet
    t.mergeVectorized(spark, df(Seq((2, "B", "p2"), (4, "d", "p3"))), Seq("k"),
      changeFeed = true)
    // identical semantics to merge(): source wins, partition move included
    assert(asSet(t.read(spark)) ===
      Set((1, "a", "p1"), (2, "B", "p2"), (3, "c", "p2"), (4, "d", "p3")))
    // zero rewrites: every old file survives; the CDF speaks merge's language
    assert(before.subsetOf(t.filesOf(t.currentVersion).toSet))
    val changes = t.changes(spark, 1, 1)
      .select("k", MergeTable.ChangeType).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(changes === Set((2, "update_preimage"), (2, "update_postimage"),
      (4, "insert")))
    // a second dv merge composes with the existing masks
    t.mergeVectorized(spark, df(Seq((1, "A", "p1"))), Seq("k"))
    assert(asSet(t.read(spark)).contains((1, "A", "p1")))
    assert(t.read(spark).count() === 4L)
    // a mass match (every row) falls back to the rewriting merge
    val mass = new MergeTable(scratch("mt_dvmerge_mass"), Seq("p"))
    mass.overwrite(df((1 to 50).map(k => (k, s"v$k", "p1"))))
    val massBefore = mass.filesOf(mass.currentVersion).toSet
    mass.mergeVectorized(spark, df((1 to 50).map(k => (k, "X", "p1"))), Seq("k"),
      maxNewDvRows = 10)
    assert(mass.read(spark).select("v").distinct().collect().map(_.getString(0)).toSeq === Seq("X"))
    assert(mass.filesOf(mass.currentVersion).toSet.intersect(massBefore).isEmpty,
      "past the dv bound the touched files must be rewritten, not masked")
    // compaction drops the masks: same data, no dv bindings
    t.compact(spark)
    assert(t.read(spark).count() === 4L)
  }

  test("convertParquet adopts flat and hive layouts zero-copy; DML works after") {
    import spark.implicits._
    // hive-partitioned source
    val hive = scratch("mt_convert_hive")
    df(Seq((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2")))
      .write.mode("overwrite").partitionBy("p").parquet(hive)
    val t = MergeTable.convertParquet(spark, hive)
    assert(t.partitionCols === Seq("p") && t.currentVersion === 0L)
    assert(asSet(t.read(spark)) === Set((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2")))
    // the original loose parquet files still read as plain parquet
    assert(spark.read.parquet(s"$hive/p=p1").count() === 2L)
    t.delete(spark, col("k") === 2)
    assert(asSet(t.read(spark)) === Set((1, "a", "p1"), (3, "c", "p2")))
    assert(asSet(t.readVersion(spark, 0)).size === 3)
    // flat (unpartitioned) source
    val flat = scratch("mt_convert_flat")
    Seq((1, "x"), (2, "y")).toDF("k", "v").repartition(2).write.mode("overwrite").parquet(flat)
    val f = MergeTable.convertParquet(spark, flat)
    assert(f.partitionCols.isEmpty && f.read(spark).count() === 2L)
    // double-convert and empty dirs fail loudly
    intercept[IllegalArgumentException](MergeTable.convertParquet(spark, hive))
    intercept[IllegalArgumentException](
      MergeTable.convertParquet(spark, scratch("mt_convert_empty")))
  }

  test("updateVectorized: masked pre-images, one new file, fallbacks") {
    val t = new MergeTable(scratch("mt_dvupdate"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"))))
    val before = t.filesOf(t.currentVersion).toSet
    t.updateVectorized(spark, col("k") <= 2, Map("v" -> upper(col("v"))),
      changeFeed = true)
    assert(asSet(t.read(spark)) ===
      Set((1, "A", "p1"), (2, "B", "p1"), (3, "c", "p2")))
    assert(before.subsetOf(t.filesOf(t.currentVersion).toSet),
      "dv update must not rewrite any old file")
    val changes = t.changes(spark, 1, 1)
      .select("k", "v", MergeTable.ChangeType).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    assert(changes === Set((1, "a", "update_preimage"), (2, "b", "update_preimage"),
      (1, "A", "update_postimage"), (2, "B", "update_postimage")))
    // no-match: metadata-only commit; NULL predicate rows untouched
    t.updateVectorized(spark, col("k") > 99, Map("v" -> lit("z")))
    assert(t.currentVersion === 2L && t.read(spark).count() === 3L)
    // mass update past the bound falls back to the rewrite
    t.updateVectorized(spark, lit(true), Map("v" -> lit("w")), maxNewDvRows = 1)
    assert(t.read(spark).select("v").distinct().collect().map(_.getString(0)).toSeq === Seq("w"))
  }

  test("vacuumRetainHours resolves the window against in-commit timestamps") {
    val t = new MergeTable(scratch("mt_vac_hours"), Seq("p"))
    val ticks = Iterator(1000L, 3600000L, 7200000L) ++ Iterator.continually(7300000L)
    t.clock = () => ticks.next()
    t.overwrite(df(Seq((1, "a", "p1"))))  // v0 @ t≈0
    t.overwrite(df(Seq((2, "b", "p1"))))  // v1 @ 1h
    t.overwrite(df(Seq((3, "c", "p1"))))  // v2 @ 2h
    // now ≈ 2.03h, window 1.5h → v1 (1h) and v2 retained, v0 reclaimable
    assert(t.vacuumDryRunRetainHours(1.5, minAgeMs = 0).nonEmpty)
    t.vacuumRetainHours(1.5, minAgeMs = 0)
    assert(t.vacuumHorizon === 1L)
    intercept[IllegalArgumentException](t.readVersion(spark, 0))
    assert(asSet(t.read(spark)) === Set((3, "c", "p1")))
    // a window wider than the table's whole life reclaims nothing more
    t.vacuumRetainHours(100.0, minAgeMs = 0)
    assert(t.vacuumHorizon === 1L)
    assert(asSet(t.readVersion(spark, 1)) === Set((2, "b", "p1")))
  }

  test("first post-upgrade commit clamps to the previous commit's mtime") {
    val t = new MergeTable(scratch("mt_ict_upgrade"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"))))
    // simulate a PRE-FEATURE table: strip v0's recorded in-commit ts, so
    // commitTimeMillis(0) resolves through the mtime fallback (now-ish)
    val c0 = java.nio.file.Paths.get(t.root, "_graft_log", "0.commit")
    val stripped = java.nio.file.Files.readString(c0)
      .linesIterator.filterNot(_.startsWith("ts\t")).mkString("\n")
    java.nio.file.Files.writeString(c0, stripped)
    val mtime = t.commitTimeMillis(0)
    // an upgrading writer with an ancient clock must not record a ts
    // BEFORE the boundary — versionAt would become ambiguous
    t.clock = () => 1234L
    t.append(df(Seq((2, "b", "p1"))))
    assert(t.commitTimeMillis(1) === mtime + 1)
    assert(t.versionAt(mtime) === 0L)
    assert(t.versionAt(mtime + 1) === 1L)
  }

  test("partitionCandidates never prunes on a non-deterministic predicate") {
    val t = new MergeTable(scratch("mt_probe_rand"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"), (2, "b", "p2"))))
    val files = t.filesOf(0)
    // rand() evaluated once per partition TUPLE is a different sample than
    // the per-row scan — pruning on it would unsoundly skip files
    assert(t.partitionCandidates(spark, files, t.schemaOf(0),
      org.apache.spark.sql.functions.rand() < lit(0.5) && col("p") === "p1") === files)
  }

  test("compact bin-packs to the file-size budget, not one-file-per-partition") {
    val t = new MergeTable(scratch("mt_binpack"), Seq("p"))
    // ~200 rows per partition across 8 small files each
    t.overwrite(df((1 to 400).map(k => (k, "v" * 50, if (k % 2 == 0) "pe" else "po")))
      .repartition(8))
    val before = t.filesOf(t.currentVersion)
    assert(before.size > 4, s"seed should be fragmented, got ${before.size}")
    val perPartBytes = before.filter(_.contains("p=pe"))
      .map(f => java.nio.file.Files.size(java.nio.file.Paths.get(t.root, f))).sum
    // budget ≈ half a partition's bytes → expect ~2-3 files per partition
    t.compact(spark, targetFileBytes = perPartBytes / 2)
    val after = t.filesOf(t.currentVersion)
    val pe = after.count(_.contains("p=pe"))
    val po = after.count(_.contains("p=po"))
    assert(pe >= 2 && pe <= 4, s"pe should split to ~2-3 files, got $pe")
    assert(po >= 2 && po <= 4, s"po should split to ~2-3 files, got $po")
    assert(asSet(t.read(spark)).size === 400, "compaction preserves the data")
    // a huge budget still collapses each partition to one file
    t.compact(spark, targetFileBytes = 1L << 30)
    val one = t.filesOf(t.currentVersion)
    assert(one.count(_.contains("p=pe")) === 1 && one.count(_.contains("p=po")) === 1)
    assert(t.read(spark).count() === 400L)
  }

  test("OPTIMIZE validates a tampered graft.clusterBy property loudly") {
    import spark.implicits._
    val t = new MergeTable(scratch("mt_clprop"), Nil)
    t.overwrite(Seq((1, "a", Seq(1, 2)), (2, "b", Seq(3))).toDF("k", "v", "arr"))
    // ALTER ... SET TBLPROPERTIES can plant anything — optimize() must
    // fail with a targeted message, not degrade inside the rank math
    t.setProperties(Map(MergeTable.ClusterByProp -> "nope"))
    val e1 = intercept[IllegalArgumentException](t.optimize(spark))
    assert(e1.getMessage.contains("absent from the table schema"))
    t.setProperties(Map(MergeTable.ClusterByProp -> "arr"))
    val e2 = intercept[IllegalArgumentException](t.optimize(spark))
    assert(e2.getMessage.contains("no Z-orderable projection"))
    // strings ARE z-orderable (8-byte lexicographic prefix projection)
    t.setProperties(Map(MergeTable.ClusterByProp -> "v"))
    t.optimize(spark)
    t.setProperties(Map(MergeTable.ClusterByProp -> "k"))
    t.optimize(spark) // valid property re-clusters fine
    assert(t.read(spark).select("k").as[Int].collect().toSet === Set(1, 2))
  }

  test("partition-disjoint deletes auto-rebase on a lost race: both land") {
    val t = new MergeTable(scratch("mt_delrebase"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"), (4, "d", "p2"))))
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val go = new CountDownLatch(1)
    val failures = new java.util.concurrent.atomic.AtomicInteger
    // mixed predicates: the partition conjunct alone decides the conflict
    Seq(("p1", 1), ("p2", 3)).foreach { case (part, key) =>
      pool.execute { () =>
        go.await()
        try t.delete(spark, col("p") === part && col("k") === key)
        catch { case _: Throwable => failures.incrementAndGet() }
      }
    }
    go.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(failures.get === 0,
      "a partition-disjoint delete losing the race must rebase, not throw")
    assert(t.currentVersion === 2L)
    assert(asSet(t.read(spark)) === Set((2, "b", "p1"), (4, "d", "p2")))
    // history records both as DELETE commits (the rebase keeps the op)
    val ops = t.history(spark).filter(col("version") >= 1)
      .select("operation").collect().map(_.getString(0)).toSeq
    assert(ops.forall(_ == "DELETE"), s"expected DELETE ops, got $ops")
  }

  test("partition-disjoint updates and dv-deletes auto-rebase on a lost race") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    // UPDATE racing UPDATE on disjoint partitions
    val t = new MergeTable(scratch("mt_updrebase"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"), (2, "b", "p2"))))
    val pool = Executors.newFixedThreadPool(2)
    val go = new CountDownLatch(1)
    val failures = new java.util.concurrent.atomic.AtomicInteger
    Seq("p1", "p2").foreach { part =>
      pool.execute { () =>
        go.await()
        try t.update(spark, col("p") === part,
          Map("v" -> org.apache.spark.sql.functions.upper(col("v"))))
        catch { case _: Throwable => failures.incrementAndGet() }
      }
    }
    go.countDown(); pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(failures.get === 0, "disjoint updates must both land")
    assert(asSet(t.read(spark)) === Set((1, "A", "p1"), (2, "B", "p2")))

    // DV-DELETE racing DV-DELETE on disjoint partitions: masks re-bind,
    // zero data work, no masked row resurrected
    val t2 = new MergeTable(scratch("mt_dvrebase"), Seq("p"))
    t2.overwrite(df(Seq((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"), (4, "d", "p2"))))
    val pool2 = Executors.newFixedThreadPool(2)
    val go2 = new CountDownLatch(1)
    val failures2 = new java.util.concurrent.atomic.AtomicInteger
    Seq(("p1", 1), ("p2", 3)).foreach { case (part, key) =>
      pool2.execute { () =>
        go2.await()
        try t2.deleteVectorized(spark, col("p") === part && col("k") === key)
        catch { case _: Throwable => failures2.incrementAndGet() }
      }
    }
    go2.countDown(); pool2.shutdown()
    assert(pool2.awaitTermination(120, TimeUnit.SECONDS))
    assert(failures2.get === 0, "disjoint dv-deletes must both land")
    assert(t2.currentVersion === 2L)
    assert(asSet(t2.read(spark)) === Set((2, "b", "p1"), (4, "d", "p2")))
  }

  test("disjoint replaceWhere backfills and dv-updates auto-rebase") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    // replaceWhere racing replaceWhere on disjoint partitions
    val t = new MergeTable(scratch("mt_rwrebase"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"), (2, "b", "p2"))))
    val pool = Executors.newFixedThreadPool(2)
    val go = new CountDownLatch(1)
    val failures = new java.util.concurrent.atomic.AtomicInteger
    Seq(("p1", df(Seq((11, "x", "p1")))), ("p2", df(Seq((22, "y", "p2"))))).foreach {
      case (part, data) =>
        pool.execute { () =>
          go.await()
          try t.overwriteWhere(spark, col("p") === part, data)
          catch { case _: Throwable => failures.incrementAndGet() }
        }
    }
    go.countDown(); pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(failures.get === 0, "disjoint backfills must both land")
    assert(asSet(t.read(spark)) === Set((11, "x", "p1"), (22, "y", "p2")))

    // dv-UPDATE racing dv-UPDATE on disjoint partitions
    val t2 = new MergeTable(scratch("mt_dvurebase"), Seq("p"))
    t2.overwrite(df(Seq((1, "a", "p1"), (2, "b", "p2"))))
    val pool2 = Executors.newFixedThreadPool(2)
    val go2 = new CountDownLatch(1)
    val failures2 = new java.util.concurrent.atomic.AtomicInteger
    Seq("p1", "p2").foreach { part =>
      pool2.execute { () =>
        go2.await()
        try t2.updateVectorized(spark, col("p") === part,
          Map("v" -> org.apache.spark.sql.functions.upper(col("v"))))
        catch { case _: Throwable => failures2.incrementAndGet() }
      }
    }
    go2.countDown(); pool2.shutdown()
    assert(pool2.awaitTermination(120, TimeUnit.SECONDS))
    assert(failures2.get === 0, "disjoint dv-updates must both land")
    assert(asSet(t2.read(spark)) === Set((1, "A", "p1"), (2, "B", "p2")))
  }

  test("compaction rebases around concurrent ingest: appended files survive") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val t = new MergeTable(scratch("mt_optrebase"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"))))
    val pool = Executors.newFixedThreadPool(2)
    val go = new CountDownLatch(1)
    val failures = new java.util.concurrent.atomic.AtomicInteger
    // background compaction of p1 races an append INTO p1: whichever
    // loses must rebase (append via rebaseAppend, compaction via the
    // adds-never-conflict rebase) — neither throws, no row lost
    pool.execute { () =>
      go.await()
      try t.compactPartitions(spark, col("p") === "p1")
      catch { case _: Throwable => failures.incrementAndGet() }
    }
    pool.execute { () =>
      go.await()
      try t.append(df(Seq((9, "z", "p1"))))
      catch { case _: Throwable => failures.incrementAndGet() }
    }
    go.countDown(); pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(failures.get === 0, "compaction racing ingest must not throw")
    assert(t.currentVersion === 2L)
    assert(asSet(t.read(spark)) ===
      Set((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"), (9, "z", "p1")))
  }

  test("table features accrue from content, carry forward, and gate readers") {
    val root = scratch("mt_features")
    val t = new MergeTable(root, Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"), (2, "b", "p2"))))
    assert(t.features(0L) === Seq("inCommitTimestamps"))
    t.addCheckConstraint(spark, "k_pos", "k > 0")
    assert(t.features(1L) === Seq("checkConstraints", "inCommitTimestamps"))
    t.deleteVectorized(spark, col("k") === 1)
    assert(t.features(2L).contains("deletionVectors"))
    // purging every mask must NOT drop the feature: history still holds
    // commits a reader needs deletion-vector support to interpret
    t.reorgPurge(spark)
    assert(t.features(t.currentVersion).contains("deletionVectors"))
    // a commit naming a feature this build doesn't implement fails loudly,
    // naming the feature — never a half-read snapshot
    val tip = t.currentVersion
    val p = java.nio.file.Paths.get(root, "_graft_log", s"$tip.commit")
    java.nio.file.Files.writeString(p,
      java.nio.file.Files.readString(p) + "\nfeature\tvectorIndexV9")
    val fresh = new MergeTable(root, Seq("p"))
    val e = intercept[IllegalArgumentException](fresh.read(spark).count())
    assert(e.getMessage.contains("vectorIndexV9"))
  }

  test("DROP FEATURE: refused while history depends on it, works after vacuum") {
    val t = new MergeTable(scratch("mt_dropfeat"), Seq("p"))
    t.overwrite(df(Seq((1, "a", "p1"), (2, "b", "p2"))))
    t.deleteVectorized(spark, col("k") === 1)   // v1: masks → deletionVectors
    t.reorgPurge(spark)                          // v2: content purged
    // history still holds the masked v1 — the drop must refuse
    val e = intercept[IllegalArgumentException](
      t.dropFeature(spark, "deletionVectors"))
    assert(e.getMessage.contains("VACUUM"))
    t.vacuum(retainVersions = 1)                 // truncate history past v1
    t.dropFeature(spark, "deletionVectors")      // v3
    assert(!t.features(t.currentVersion).contains("deletionVectors"))
    // a later dv write re-accrues the feature
    t.deleteVectorized(spark, col("k") === 2)    // v4
    assert(t.features(t.currentVersion).contains("deletionVectors"))
    // the permanent one can never be dropped
    val e2 = intercept[IllegalArgumentException](
      t.dropFeature(spark, "inCommitTimestamps"))
    assert(e2.getMessage.contains("cannot be dropped"))
    // and the SQL spelling routes to the same engine path
    t.reorgPurge(spark); t.vacuum(retainVersions = 1)
    graft.sqlapi.LakeSql.run(spark, "ALTER TABLE tbl DROP FEATURE deletionVectors",
      Map("tbl" -> t))
    assert(!t.features(t.currentVersion).contains("deletionVectors"))
  }

  test("legacy columnar checkpoint entries in the log are inert") {
    // Earlier releases also wrote `<v>.checkpoint.parquet/` (with a
    // `_SUCCESS` marker) and a `_last_checkpoint` pointer beside the text
    // log. Nothing reads them now: every operation works unchanged.
    val t = new MergeTable(scratch("mt_legacy_cp"), Seq("p"), statsCols = Seq("k"))
    t.overwrite(df(Seq((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"))))
    val log = java.nio.file.Paths.get(t.root, "_graft_log")
    val cp = log.resolve("0.checkpoint.parquet")
    t.filesOf(0).map(f => (f, 1L, true, f.split('/')(1).stripPrefix("p=")))
      .toDF("_graft_path", "_graft_rows", "_graft_pok", "_graft_raw_p")
      .write.parquet(cp.toString)
    java.nio.file.Files.write(cp.resolve("_SUCCESS"), Array.emptyByteArray)
    java.nio.file.Files.writeString(log.resolve("_last_checkpoint"), "0")
    def legacy: Map[String, Long] = java.nio.file.Files.walk(log).iterator().asScala
      .filter(p => p.toString.contains("checkpoint") && java.nio.file.Files.isRegularFile(p))
      .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
    val before = legacy
    assert(before.keySet.exists(_.endsWith("_SUCCESS")))

    t.merge(spark, df(Seq((2, "B", "p2"), (4, "d", "p3"))), Seq("k"))
    val want = Set((1, "a", "p1"), (2, "B", "p2"), (3, "c", "p2"), (4, "d", "p3"))
    assert(asSet(t.read(spark)) === want)
    assert(asSet(new MergeTable(t.root).read(spark)) === want)
    assert(t.pruneFilesFor(spark, t.currentVersion,
      Seq(org.apache.spark.sql.sources.EqualTo("p", "p1"))).size === 1)
    graft.sqlapi.LakeCatalog.register("mt_legacy_cp", t)
    try assert(asSet(spark.sql("SELECT * FROM mt_legacy_cp VERSION AS OF 0")) ===
      Set((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2")))
    finally graft.sqlapi.LakeCatalog.unregister("mt_legacy_cp")
    t.vacuum(retainVersions = 1, minAgeMs = 0)
    assert(asSet(t.read(spark)) === want)
    assert(legacy === before, "no operation touches the legacy entries")
  }
}
