package graft.lake

import java.util.ConcurrentModificationException

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, upper}

/** The shared lost-race rebase ([[MergeTable.rebaseMerge]]) under
  * DETERMINISTIC races. [[race]] commits the winner at the instant the
  * loser's commit is about to publish — from inside the loser's commit
  * clock, which [[MergeTable]] reads after it resolved its base and before
  * the put-if-absent link — so the loser always sees
  * `ConcurrentModificationException` and takes its real rebase path. The
  * cases cover what the thread-pool race specs cannot pin down: winners
  * that overlap the loser's masked files, its read set or its constraint
  * set, for the dv-delete, dv-update and dv-merge writers.
  */
class RebaseConflictSpec extends SparkSpec {
  import spark.implicits._

  /** One file per partition dir (a single write task), so rows of one
    * partition share one data file.
    */
  private def seed(name: String): MergeTable = {
    val t = new MergeTable(scratch(name), Seq("p"))
    t.overwrite(Seq((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"), (4, "d", "p2"))
      .toDF("k", "v", "p").coalesce(1))
    t
  }

  private def src(rows: (Int, String, String)*): DataFrame = rows.toDF("k", "v", "p")

  private def asSet(t: MergeTable): Set[(Int, String, String)] =
    t.read(spark).select("k", "v", "p").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet

  /** Run `loser` on `t`; `winner` commits through its own handle on the
    * same root when the loser's first commit reads its clock.
    */
  private def race(t: MergeTable)(winner: MergeTable => Unit)(loser: => Unit): Unit = {
    val w = new MergeTable(t.root, t.partitionCols)
    val old = t.clock
    var fired = false
    t.clock = () => {
      if (!fired) { fired = true; winner(w) }
      old()
    }
    try loser finally t.clock = old
    assert(fired, "the loser never reached its commit")
  }

  private def fileOf(t: MergeTable, part: String): String =
    t.filesOf(t.currentVersion).filter(_.contains(s"/p=$part/")).head

  private val loserOps: Seq[(String, MergeTable => Unit)] = Seq(
    "dv-delete" -> (t => t.deleteVectorized(spark, col("p") === "p1" && col("k") === 1)),
    "dv-update" -> (t => t.updateVectorized(spark, col("p") === "p1" && col("k") === 1,
      Map("v" -> upper(col("v"))))),
    "dv-merge" -> (t => t.mergeVectorized(spark, src((1, "A", "p1")), Seq("k"),
      keysDeterminePartitions = true)))

  loserOps.foreach { case (name, loser) =>
    test(s"$name: a winner masking the loser's masked file makes the loser rethrow") {
      val t = seed(s"rb_mask_$name")
      val masked = fileOf(t, "p1")
      intercept[ConcurrentModificationException] {
        race(t)(w => w.deleteVectorized(spark, col("k") === 2))(loser(t))
      }
      // only the winner landed; its mask is the file's only binding
      assert(t.currentVersion === 1L)
      assert(asSet(t) === Set((1, "a", "p1"), (3, "c", "p2"), (4, "d", "p2")))
      assert(t.deletionVectors.map(_._1) === Seq(masked))
    }

    test(s"$name: a winner rewriting the loser's masked file makes the loser rethrow") {
      val t = seed(s"rb_rewrite_$name")
      val masked = fileOf(t, "p1")
      intercept[ConcurrentModificationException] {
        race(t)(w => w.update(spark, col("k") === 2, Map("v" -> upper(col("v")))))(loser(t))
      }
      assert(t.currentVersion === 1L)
      assert(!t.filesOf(1L).contains(masked))
      assert(asSet(t) === Set((1, "a", "p1"), (2, "B", "p1"), (3, "c", "p2"), (4, "d", "p2")))
      assert(t.deletionVectors.isEmpty)
    }

    test(s"$name: a winner adding a file in the loser's read set makes the loser rethrow") {
      val t = seed(s"rb_add_$name")
      intercept[ConcurrentModificationException] {
        race(t)(w => w.append(src((9, "z", "p1"))))(loser(t))
      }
      assert(t.currentVersion === 1L)
      assert(asSet(t) ===
        Set((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"), (4, "d", "p2"), (9, "z", "p1")))
      assert(t.deletionVectors.isEmpty)
    }

    test(s"$name: a disjoint winner rebases the loser and both masks stay bound") {
      val t = seed(s"rb_disjoint_$name")
      val (f1, f2) = (fileOf(t, "p1"), fileOf(t, "p2"))
      race(t)(w => w.deleteVectorized(spark, col("p") === "p2" && col("k") === 3))(loser(t))
      assert(t.currentVersion === 2L)
      assert(t.deletionVectors.map(_._1).sorted === Seq(f1, f2).sorted)
      assert(t.deletionVectors.map(_._3).sum === 2L)
      val loserRow: Set[(Int, String, String)] = name match {
        case "dv-delete" => Set.empty
        case _           => Set((1, "A", "p1"))
      }
      assert(asSet(t) === Set((2, "b", "p1"), (4, "d", "p2")) ++ loserRow)
      val op = t.history(spark).filter(col("version") === 2L)
        .select("operation").head.getString(0)
      assert(op.endsWith("(DV)"), s"the rebased commit keeps the loser's op, got $op")
    }

    test(s"$name: a winner adding a CHECK constraint " +
        (if (name == "dv-delete") "does not block the loser" else "blocks the loser")) {
      val t = seed(s"rb_check_$name")
      val addCheck = (w: MergeTable) => w.addCheckConstraint(spark, "k_pos", "k > 0")
      if (name == "dv-delete") {
        // masking rows can never violate a constraint: the masks re-bind
        race(t)(addCheck)(loser(t))
        assert(t.currentVersion === 2L)
        assert(t.checkConstraints === Seq("k_pos" -> "k > 0"))
        assert(asSet(t) === Set((2, "b", "p1"), (3, "c", "p2"), (4, "d", "p2")))
      } else {
        // the loser's new rows were validated under the base's constraints
        intercept[ConcurrentModificationException](race(t)(addCheck)(loser(t)))
        assert(t.currentVersion === 1L)
        assert(asSet(t) === Set((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"), (4, "d", "p2")))
      }
    }
  }

  test("dv-merge: a replayed txn batch is dropped before the read-set and feed checks") {
    // unscoped (no read set) AND with a change feed: either alone makes a
    // lost race rethrow — but when the winner already applied the same
    // txn batch, the loser's write is dropped first
    val t = seed("rb_txn_dvmerge")
    val batch = src((1, "A", "p1"), (5, "e", "p2"))
    race(t)(w => w.mergeVectorized(spark, batch, Seq("k"), txn = Some("app" -> 7L))) {
      t.mergeVectorized(spark, batch, Seq("k"), changeFeed = true, txn = Some("app" -> 7L))
    }
    assert(t.currentVersion === 1L, "the replayed batch must not commit again")
    assert(t.lastTxnVersion("app") === Some(7L))
    assert(asSet(t) ===
      Set((1, "A", "p1"), (2, "b", "p1"), (3, "c", "p2"), (4, "d", "p2"), (5, "e", "p2")))
  }

  test("rebaseMerge called directly: replay check first, then the read set") {
    val t = seed("rb_direct")
    t.merge(spark, src((1, "A", "p1")), Seq("k"), txn = Some("app" -> 3L))
    val v = t.currentVersion
    val first = new ConcurrentModificationException("lost race")
    // the tip carries app=3: the batch was applied — return, commit nothing
    t.rebaseMerge(v, Nil, Nil, Nil, t.schemaOf(v), t.columnMapping, None, first,
      "MERGE (DV)", txn = Some("app" -> 3L), cdfDefined = true)
    assert(t.currentVersion === v)
    // a new batch with no read set: the original exception rethrows
    val thrown = intercept[ConcurrentModificationException] {
      t.rebaseMerge(v, Nil, Nil, Nil, t.schemaOf(v), t.columnMapping, None, first,
        "MERGE (DV)", txn = Some("app" -> 4L))
    }
    assert(thrown eq first)
    assert(t.currentVersion === v)
  }
}
