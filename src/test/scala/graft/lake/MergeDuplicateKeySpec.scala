package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A merge's duplicate-source check decides on the driver, from the one
  * bounded key collect, whenever the key types group there as Spark's
  * `groupBy` does, and falls back to the `groupBy` otherwise. Either way
  * the verdict is the `groupBy`'s: NULL keys form one group, `0.0` and
  * `-0.0` are one key, every NaN is one key, and a source over the
  * `mergeProbeInMax` cap is still checked in full.
  */
class MergeDuplicateKeySpec extends SparkSpec {
  import spark.implicits._

  /** The check as a Spark `groupBy` states it. */
  private def groupByHasDup(src: DataFrame, keys: Seq[String]): Boolean =
    src.groupBy(keys.map(col): _*).count().filter(col("count") > 1).limit(1).count() > 0

  private def message(keys: Seq[String]) =
    s"merge source has duplicate keys on (${keys.mkString(",")}) — Delta MERGE would " +
      "fail (multiple source rows matched one target row)"

  /** Merges `src` into a fresh table seeded with `seed`, through `how`,
    * and checks the outcome against the `groupBy` verdict.
    */
  private def check(name: String, seed: DataFrame, src: DataFrame, keys: Seq[String],
                    expectDup: Boolean,
                    how: (MergeTable, DataFrame, Seq[String]) => Unit =
                      (t, s, ks) => t.merge(spark, s, ks)): Unit = {
    assert(groupByHasDup(src, keys) === expectDup, s"$name: fixture")
    val t = new MergeTable(scratch(name))
    t.overwrite(seed)
    val v = t.currentVersion
    if (expectDup) {
      val e = intercept[IllegalArgumentException](how(t, src, keys))
      assert(e.getMessage === s"requirement failed: ${message(keys)}", name)
      assert(t.currentVersion === v, s"$name: nothing committed")
    } else {
      how(t, src, keys)
      assert(t.currentVersion === v + 1, name)
    }
  }

  test("single key: duplicates rejected, distinct keys merge") {
    val seed = Seq((1, "a"), (2, "b")).toDF("k", "v")
    check("dup_single", seed, Seq((2, "x"), (2, "y"), (3, "z")).toDF("k", "v"), Seq("k"), true)
    check("dup_single_ok", seed, Seq((2, "x"), (3, "z")).toDF("k", "v"), Seq("k"), false)
    check("dup_string", Seq(("a", 1)).toDF("k", "v"),
      Seq(("a", 1), ("b", 2), ("a", 3)).toDF("k", "v"), Seq("k"), true)
    check("dup_ts", Seq((java.sql.Timestamp.valueOf("2026-01-01 00:00:00"), 1)).toDF("k", "v"),
      Seq((java.sql.Timestamp.valueOf("2026-01-01 00:00:00.000001"), 1),
        (java.sql.Timestamp.valueOf("2026-01-01 00:00:00.000002"), 2)).toDF("k", "v"),
      Seq("k"), false)
  }

  test("multi-key: only a repeated tuple is a duplicate") {
    val seed = Seq((1, 1, "a")).toDF("k1", "k2", "v")
    check("dup_multi_ok", seed, Seq((1, 1, "x"), (1, 2, "y"), (2, 1, "z")).toDF("k1", "k2", "v"),
      Seq("k1", "k2"), false)
    check("dup_multi", seed, Seq((1, 2, "x"), (1, 2, "y")).toDF("k1", "k2", "v"),
      Seq("k1", "k2"), true)
    // NULLs group together inside a tuple too
    val nulls = Seq[(Integer, Integer, String)]((1, null, "x"), (1, null, "y"))
      .toDF("k1", "k2", "v")
    check("dup_multi_null", seed, nulls, Seq("k1", "k2"), true)
    val crossed = Seq[(Integer, Integer, String)]((1, null, "x"), (null, 1, "y"))
      .toDF("k1", "k2", "v")
    check("dup_multi_null_ok", seed, crossed, Seq("k1", "k2"), false)
  }

  test("NULL keys form one group, as in groupBy") {
    val seed = Seq[(Integer, String)]((1, "a")).toDF("k", "v")
    check("dup_null", seed, Seq[(Integer, String)]((null, "x"), (null, "y"), (2, "z"))
      .toDF("k", "v"), Seq("k"), true)
    check("dup_null_one", seed, Seq[(Integer, String)]((null, "x"), (2, "z"))
      .toDF("k", "v"), Seq("k"), false)
  }

  test("double keys: 0.0 and -0.0 are one key, so are two NaNs") {
    val seed = Seq((1.0, "a")).toDF("k", "v")
    check("dup_zero", seed, Seq((0.0, "x"), (-0.0, "y")).toDF("k", "v"), Seq("k"), true)
    check("dup_nan", seed, Seq((Double.NaN, "x"), (Double.NaN, "y")).toDF("k", "v"),
      Seq("k"), true)
    check("dup_float_zero", Seq((1.0f, "a")).toDF("k", "v"),
      Seq((0.0f, "x"), (-0.0f, "y")).toDF("k", "v"), Seq("k"), true)
    check("dup_double_ok", seed, Seq((0.0, "x"), (1.0, "y"), (Double.NaN, "z")).toDF("k", "v"),
      Seq("k"), false)
  }

  test("keys the driver cannot group exactly keep the groupBy check") {
    // decimals of one value at different scales are one group
    val seed = Seq((BigDecimal("1.0"), "a")).toDF("k", "v")
    val src = Seq((BigDecimal("2.0"), "x"), (BigDecimal("2.00"), "y")).toDF("k", "v")
    check("dup_decimal", seed, src, Seq("k"), true)
  }

  test("a source over the cap is checked in full") {
    withConf("spark.graft.mergeProbeInMax" -> "2") {
      val seed = Seq((1, "a")).toDF("k", "v")
      // the duplicate sits past the first cap + 1 rows
      val dup = Seq((5, "p"), (6, "q"), (7, "r"), (8, "s"), (5, "t")).toDF("k", "v")
        .repartition(1)
      check("dup_capped", seed, dup, Seq("k"), true)
      check("dup_capped_ok", seed, Seq((5, "p"), (6, "q"), (7, "r"), (8, "s")).toDF("k", "v"),
        Seq("k"), false)
      // NULL keys in a capped source: the probe still decides on the
      // non-null rows alone, and the merge still lands
      check("dup_capped_null", seed, Seq[(Integer, String)]((null, "p"), (6, "q"), (1, "r"))
        .toDF("k", "v").repartition(1), Seq("k"), false)
    }
  }

  test("mergeClauses and mergeVectorized share the check") {
    val seed = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val src = Seq((2, "x"), (2, "y")).toDF("k", "v")
    check("dup_clauses", seed, src, Seq("k"), true, (t, s, ks) =>
      t.mergeClauses(spark, s, ks,
        Seq(MergeTable.MatchedUpdate(None, Nil), MergeTable.NotMatchedInsert(None, Nil))))
    check("dup_vectorized", seed, src, Seq("k"), true,
      (t, s, ks) => t.mergeVectorized(spark, s, ks))
    check("dup_vectorized_ok", seed, Seq((2, "x"), (3, "y")).toDF("k", "v"), Seq("k"), false,
      (t, s, ks) => t.mergeVectorized(spark, s, ks))
  }
}
