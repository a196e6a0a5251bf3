package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources

/** Automatic data skipping ([[MergeTable.pruneFilesFor]] /
  * [[MergeTable.readVersionWhere]]) — Delta's manifest-level file pruning
  * applied to every connector scan with zero caller opt-in. The invariant
  * under test everywhere: pruning selects FILES, never rows — for any
  * filter set, (pruned scan + exact predicate) ≡ (full scan + exact
  * predicate), and a file is dropped only when no row in it can match.
  */
class DataSkippingSpec extends SparkSpec {
  import spark.implicits._

  /** A 3-partition table with per-file k/v stats: k is file-disjoint by
    * construction (one file per partition, k ranges 0-9 / 10-19 / 20-29).
    */
  private def statsTable(name: String): MergeTable = {
    val root = scratch(name)
    val df = spark.range(30).select(
      col("id").as("k"),
      concat(lit("v"), col("id")).as("v"),
      (col("id") / 10).cast("int").cast("string").as("p"))
    val t = new MergeTable(root, Seq("p"), statsCols = Seq("k", "v"))
    t.overwrite(df.repartition(1))
    t
  }

  test("stats ranges prune files; results match the unpruned scan exactly") {
    val t = statsTable("skip_stats")
    val all = t.filesOf(t.currentVersion)
    assert(all.size === 3)

    val eq = t.pruneFilesFor(spark, t.currentVersion,
      Seq(sources.EqualTo("k", 15L)))
    assert(eq.size === 1 && eq.head.contains("p=1"))

    val range = t.pruneFilesFor(spark, t.currentVersion,
      Seq(sources.GreaterThanOrEqual("k", 9L), sources.LessThan("k", 11L)))
    assert(range.size === 2)

    val in = t.pruneFilesFor(spark, t.currentVersion,
      Seq(sources.In("k", Array(3L, 25L))))
    assert(in.size === 2 && in.forall(f => f.contains("p=0") || f.contains("p=2")))

    // equivalence: pruned read + predicate == full read + predicate
    val full = t.read(spark).filter(col("k") >= 9 && col("k") < 11)
      .select("k", "v", "p").collect().map(_.toString).sorted.toSeq
    val pruned = t.readVersionWhere(spark, t.currentVersion,
        Seq(sources.GreaterThanOrEqual("k", 9L), sources.LessThan("k", 11L)))
      .filter(col("k") >= 9 && col("k") < 11)
      .select("k", "v", "p").collect().map(_.toString).sorted.toSeq
    assert(pruned === full)
  }

  test("string stats prune lexically; boundary values stay admitted") {
    val t = statsTable("skip_str")
    // v ranges are lexical per file: p=0 holds v0..v9, p=1 v10..v19 —
    // lexically v10 < v2, so "v15" admits BOTH p=0 (v0..v9 ∋? v15 > v9?
    // lexically "v15" < "v9" → yes) and p=1; the point is soundness, not
    // tightness: no admitted-file check may drop a matching row
    val hit = t.pruneFilesFor(spark, t.currentVersion,
      Seq(sources.EqualTo("v", "v15")))
    val viaRead = t.readVersionWhere(spark, t.currentVersion,
      Seq(sources.EqualTo("v", "v15"))).filter(col("v") === "v15").count()
    assert(viaRead === 1L)
    assert(hit.nonEmpty)
  }

  test("files without stats and undecidable filters are kept (conservative)") {
    val root = scratch("skip_nostats")
    val t = new MergeTable(root, Nil) // no statsCols → no stat lines
    t.overwrite(spark.range(10).select(col("id").as("k")))
    val kept = t.pruneFilesFor(spark, t.currentVersion,
      Seq(sources.EqualTo("k", 5L)))
    assert(kept === t.filesOf(t.currentVersion))
    // untranslatable / unsupported filters: no pruning either
    val t2 = statsTable("skip_weird")
    val kept2 = t2.pruneFilesFor(spark, t2.currentVersion,
      Seq(sources.Or(sources.EqualTo("k", 1L), sources.EqualTo("v", "v25"))))
    assert(kept2 === t2.filesOf(t2.currentVersion))
  }

  test("all-NULL files are skipped for null-rejecting predicates only") {
    val root = scratch("skip_nulls")
    val t = new MergeTable(root, Seq("p"), statsCols = Seq("k"))
    val df = Seq((Some(1L), "a"), (Some(2L), "a")).toDF("k", "p")
      .union(Seq((Option.empty[Long], "b"), (Option.empty[Long], "b")).toDF("k", "p"))
    t.overwrite(df.repartition(1))
    val forEq = t.pruneFilesFor(spark, t.currentVersion, Seq(sources.EqualTo("k", 1L)))
    assert(forEq.size === 1 && forEq.head.contains("p=a"))
    val forNotNull = t.pruneFilesFor(spark, t.currentVersion, Seq(sources.IsNotNull("k")))
    assert(forNotNull.size === 1 && forNotNull.head.contains("p=a"))
    // IS NULL prunes on the recorded NULL COUNTS (not min/max): the
    // nulls-free p=a file is proven out, the all-NULL p=b file stays
    val forIsNull = t.pruneFilesFor(spark, t.currentVersion, Seq(sources.IsNull("k")))
    assert(forIsNull.size === 1 && forIsNull.head.contains("p=b"))
    assert(t.readVersionWhere(spark, t.currentVersion, Seq(sources.IsNull("k")))
      .filter(col("k").isNull).count() === 2L)
  }

  test("timestamp and date stats prune after parsing their stringified forms") {
    val root = scratch("skip_ts")
    val t = new MergeTable(root, Seq("p"), statsCols = Seq("ts", "d"))
    val df = spark.range(4).select(
      expr("timestamp_micros(1700000000000000 + id * 86400000000)").as("ts"),
      expr("date_add(date'2026-01-01', cast(id as int))").as("d"),
      (col("id") % 2).cast("string").as("p")) // p=0: id 0,2; p=1: id 1,3
    t.overwrite(df.repartition(1))
    val cutTs = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(1700000000L + 3 * 86400 - 1))
    val lateTs = t.pruneFilesFor(spark, t.currentVersion,
      Seq(sources.GreaterThan("ts", cutTs)))
    assert(lateTs.size === 1 && lateTs.head.contains("p=1")) // only id=3 is later
    val lateD = t.pruneFilesFor(spark, t.currentVersion,
      Seq(sources.GreaterThan("d", java.sql.Date.valueOf("2026-01-03"))))
    assert(lateD.size === 1 && lateD.head.contains("p=1"))
    // equivalence on the timestamp cut
    assert(t.readVersionWhere(spark, t.currentVersion,
        Seq(sources.GreaterThan("ts", cutTs)))
      .filter(col("ts") > lit(cutTs)).count() ===
      t.read(spark).filter(col("ts") > lit(cutTs)).count())
  }

  test("bloom sidecars prune equality scans beyond min/max overlap") {
    val root = scratch("skip_bloom")
    val t = new MergeTable(root, Seq("p"), statsCols = Seq("v"))
    // v values INTERLEAVE across files (stats ranges fully overlap), so
    // only the Bloom sidecar can distinguish the files
    val df = spark.range(200).select(
      concat(lit("key"), col("id")).as("v"),
      (col("id") % 2).cast("string").as("p"))
    t.overwrite(df.repartition(1))
    t.buildBloomIndex(spark, "v")
    val hit = t.pruneFilesFor(spark, t.currentVersion,
      Seq(sources.EqualTo("v", "key42")))
    assert(hit.size === 1 && hit.head.contains("p=0"))
    assert(t.readVersionWhere(spark, t.currentVersion,
        Seq(sources.EqualTo("v", "key42")))
      .filter(col("v") === "key42").count() === 1L)
  }

  test("bloom sidecars stay fresh: writes after the build index their own files") {
    val root = scratch("skip_bloom_fresh")
    val t = new MergeTable(root, Seq("p"))
    t.overwrite(spark.range(100)
      .select(concat(lit("k"), col("id")).as("v"), lit("a").as("p")).repartition(1))
    t.buildBloomIndex(spark, "v")
    // a write AFTER the build: its file must index itself
    t.append(spark.range(100, 200)
      .select(concat(lit("k"), col("id")).as("v"), lit("b").as("p")).repartition(1))
    val hit = t.pruneFilesFor(spark, t.currentVersion, Seq(sources.EqualTo("v", "k150")))
    assert(hit.size === 1 && hit.head.contains("p=b"))
    // a merge rewrite: the rewritten and inserted files re-index too
    t.merge(spark, Seq(("k5", "zz")).toDF("v", "p"), Seq("v"))
    val hit2 = t.pruneFilesFor(spark, t.currentVersion, Seq(sources.EqualTo("v", "k7")))
    assert(hit2.size === 1 && hit2.head.contains("p=a"))
    val moved = t.pruneFilesFor(spark, t.currentVersion, Seq(sources.EqualTo("v", "k5")))
    assert(moved.size === 1 && moved.head.contains("p=zz"))
    // every snapshot file carries a sidecar — the index never decays
    val enc = (f: String) =>
      java.net.URLEncoder.encode(f, java.nio.charset.StandardCharsets.UTF_8)
    assert(t.filesOf(t.currentVersion).forall(f => java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "bloomidx", "v", enc(f) + ".bloom"))))
  }

  test("vacuum reclaims bloom sidecars of vanished files; live ones survive") {
    val root = scratch("skip_bloom_vac")
    val t = new MergeTable(root, Nil)
    t.overwrite(spark.range(50).select(concat(lit("k"), col("id")).as("v")))
    t.buildBloomIndex(spark, "v")
    t.overwrite(spark.range(50, 100).select(concat(lit("k"), col("id")).as("v"))) // v1
    val dir = java.nio.file.Paths.get(root, "bloomidx", "v")
    val before = java.nio.file.Files.list(dir).count()
    t.vacuum(retainVersions = 1, minAgeMs = 0)
    val after = java.nio.file.Files.list(dir).count()
    assert(after < before, s"orphaned sidecars must be reclaimed ($before -> $after)")
    // the live snapshot's sidecars stay and still prune
    val enc = (f: String) =>
      java.net.URLEncoder.encode(f, java.nio.charset.StandardCharsets.UTF_8)
    assert(t.filesOf(t.currentVersion).forall(f =>
      java.nio.file.Files.exists(dir.resolve(enc(f) + ".bloom"))))
    assert(t.readPoint(spark, "v", "k75").count() === 1L)
  }

  test("the connector scan prunes automatically and stays exact") {
    val t = statsTable("skip_conn")
    val root = t.root
    val viaConn = spark.read.format("graft").load(root)
      .filter(col("k") === 15).select("k", "v", "p")
    assert(viaConn.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq === Seq((15L, "v15", "1")))
    // the bridged plan's parquet scan reads ONLY the admitted file: the
    // pruned frame is what the V1 bridge wraps, so its inputFiles are the
    // file-skipping result, not the full manifest
    val pruned = t.readVersionWhere(spark, t.currentVersion,
      Seq(sources.EqualTo("k", 15L)))
    assert(pruned.inputFiles.length === 1)
    assert(t.read(spark).inputFiles.length === 3)
  }

  test("empty-string minimum is a value, not a null marker") {
    val root = scratch("skip_empty")
    val t = new MergeTable(root, Seq("p"), statsCols = Seq("v"))
    // p=a's min v IS the empty string — the file must stay admitted for
    // any value predicate (the old ""-means-null encoding would skip it)
    val df = Seq(("", "a"), ("zebra", "a"), ("mm", "b"), ("nn", "b")).toDF("v", "p")
    t.overwrite(df.repartition(1))
    val forEq = t.pruneFilesFor(spark, t.currentVersion, Seq(sources.EqualTo("v", "zebra")))
    assert(forEq.exists(_.contains("p=a")), "the empty-min file holds 'zebra'")
    assert(t.readVersionWhere(spark, t.currentVersion,
      Seq(sources.EqualTo("v", "zebra"))).filter(col("v") === "zebra").count() === 1L)
    assert(t.readVersionWhere(spark, t.currentVersion,
      Seq(sources.EqualTo("v", ""))).filter(col("v") === "").count() === 1L)
    // and candidateFiles (the readRange path) agrees
    assert(t.candidateFiles("v", "zebra", "zebra").exists(_.contains("p=a")))
  }

  test("long string bounds truncate soundly and stay off the log") {
    val root = scratch("skip_trunc")
    val t = new MergeTable(root, Seq("p"), statsCols = Seq("v"))
    val longA = "a" * 500 + "END"
    val longZ = "z" * 500 + "END"
    val df = Seq((longA, "a"), (longZ, "a"), ("k" * 500, "b"), ("m", "b")).toDF("v", "p")
    t.overwrite(df.repartition(1))
    // stored bounds are truncated, never document-sized
    val bounds = t.statsOf(t.currentVersion).values.flatMap(_.get("v")).toSeq
    assert(bounds.nonEmpty && bounds.forall { case (mn, mx) =>
      mn.length <= MergeTable.StatsMaxLen && mx.length <= MergeTable.StatsMaxLen + 1 })
    // soundness: every stored value is still found through a pruned read
    for (v <- Seq(longA, longZ, "k" * 500, "m"))
      assert(t.readVersionWhere(spark, t.currentVersion,
        Seq(sources.EqualTo("v", v))).filter(col("v") === v).count() === 1L, s"lost $v")
    // tightness: "j" sits inside p=a's a..z span but below p=b's
    // truncated "kkk…" minimum — truncation still prunes p=b
    val only = t.pruneFilesFor(spark, t.currentVersion, Seq(sources.EqualTo("v", "j")))
    assert(only.size === 1 && only.head.contains("p=a"))
  }

  test("unorderable column types are never collected; analyze refuses them") {
    val root = scratch("skip_types")
    val t = new MergeTable(root, Nil, statsCols = Seq("b", "k"))
    val df = spark.range(4).select(col("id").as("k"),
      expr("cast(concat('x', id) as binary)").as("b"))
    t.overwrite(df)
    // binary silently skipped, numeric collected
    val cols = t.statsOf(t.currentVersion).values.flatMap(_.keys).toSet
    assert(cols === Set("k"))
    val ex = intercept[IllegalArgumentException](t.analyze(spark, Seq("b")))
    assert(ex.getMessage.contains("cannot order"))
  }

  test("stats columns persist in the log: reopened handles keep collecting") {
    val root = scratch("skip_statspin")
    val t = new MergeTable(root, Seq("p"), statsCols = Seq("k"))
    t.overwrite(spark.range(10).select(col("id").as("k"), lit("a").as("p")))
    // bare-path reopen — exactly what the connector/catalog do
    val reopened = MergeTable.open(root)
    reopened.append(spark.range(100, 110).select(col("id").as("k"), lit("b").as("p")))
    val stats = reopened.statsOf(reopened.currentVersion)
    val bFiles = reopened.filesOf(reopened.currentVersion).filter(_.contains("p=b"))
    assert(bFiles.nonEmpty && bFiles.forall(f => stats.get(f).exists(_.contains("k"))),
      "the reopened handle must keep collecting for the pinned columns")
    val hit = reopened.pruneFilesFor(spark, reopened.currentVersion,
      Seq(sources.EqualTo("k", 105L)))
    assert(hit.nonEmpty && hit.forall(_.contains("p=b")))
  }

  test("dataSkippingNumIndexedCols collects for the first N supported columns") {
    val root = scratch("skip_numidx")
    val t = new MergeTable(root, Nil)
    t.overwrite(spark.range(5).select(col("id").as("a"), col("id").as("b"),
      col("id").as("c")))
    t.setProperties(Map(MergeTable.NumIndexedColsProp -> "2"))
    t.append(spark.range(100, 105).select(col("id").as("a"), col("id").as("b"),
      col("id").as("c")))
    val collected = t.statsOf(t.currentVersion).values.flatMap(_.keys).toSet
    assert(collected === Set("a", "b"))
  }

  test("analyze pins its columns: later writes keep collecting them") {
    val root = scratch("skip_anpin")
    val t = new MergeTable(root, Nil)
    t.overwrite(spark.range(10).select(col("id").as("k")))
    t.analyze(spark, Seq("k"))
    t.append(spark.range(10, 20).select(col("id").as("k")))
    val stats = t.statsOf(t.currentVersion)
    assert(t.filesOf(t.currentVersion).forall(f => stats.get(f).exists(_.contains("k"))),
      "post-analyze writes must keep collecting for the analyzed columns")
  }

  test("string z-order clusters lexicographically; range reads prune after it") {
    val root = scratch("skip_zstr")
    val t = new MergeTable(root, Nil, statsCols = Seq("v"))
    // shuffled interleaved strings: before clustering every file spans the
    // whole range, after OPTIMIZE ZORDER BY (v) files cover tight slices
    val shuffled = spark.range(400).select(
      concat(lit("u"), lpad(expr("cast((id * 7919) % 400 as string)"), 4, "0")).as("v"))
      .repartition(4)
    t.overwrite(shuffled)
    val before = t.candidateFiles("v", "u0100", "u0150").size
    t.zorderCompact(spark, Seq("v"), parallelism = 4)
    val after = t.candidateFiles("v", "u0100", "u0150")
    assert(after.size < t.filesOf(t.currentVersion).size,
      s"string z-order must let stats prune (${after.size} admitted)")
    // exactness through the pruned read
    assert(t.readRange(spark, "v", "u0100", "u0150").count() ===
      t.read(spark).filter(col("v").between("u0100", "u0150")).count())
    assert(before >= after.size || before == 4) // clustering never worsens pruning
  }

  test("generated partition columns derive pruning from base-column filters") {
    val root = scratch("skip_gen")
    val t = new MergeTable(root, Seq("y", "m"),
      generatedCols = Seq("y" -> "year(d)", "m" -> "month(d)"))
    val df = spark.range(36).select(
      expr("add_months(date'2024-01-15', cast(id as int))").as("d"),
      col("id").as("k"))
    t.overwrite(df) // y, m derive in the write path
    // equality on the BASE column prunes through BOTH generated columns
    val eq = t.pruneFilesFor(spark, t.currentVersion,
      Seq(sources.EqualTo("d", java.sql.Date.valueOf("2025-06-15"))))
    assert(eq.nonEmpty && eq.forall(f => f.contains("y=2025") && f.contains("m=6")))
    // a range derives only through year (month is cyclic — no range shape)
    val rg = t.pruneFilesFor(spark, t.currentVersion,
      Seq(sources.GreaterThanOrEqual("d", java.sql.Date.valueOf("2026-01-01"))))
    assert(rg.nonEmpty && rg.forall(_.contains("y=2026")))
    // soundness: pruned read + exact predicate ≡ full read + predicate
    val pred = col("d") >= lit(java.sql.Date.valueOf("2026-01-01"))
    assert(t.readVersionWhere(spark, t.currentVersion,
        Seq(sources.GreaterThanOrEqual("d", java.sql.Date.valueOf("2026-01-01"))))
      .filter(pred).count() === t.read(spark).filter(pred).count())
    // IN derives a value set PER generated column — the admitted files are
    // the cross product of the derived sets (sound; per-column derivation
    // cannot know which (y, m) pairs co-occur)
    val in = t.pruneFilesFor(spark, t.currentVersion,
      Seq(sources.In("d", Array[Any](java.sql.Date.valueOf("2024-02-15"),
        java.sql.Date.valueOf("2026-09-15")))))
    assert(in.nonEmpty && in.size <= 4 &&
      in.forall(f => (f.contains("y=2024") || f.contains("y=2026")) &&
        (f.contains("m=2") || f.contains("m=9"))))
  }

  test("DML probes prune through partition-only and generated conjuncts") {
    val root = scratch("skip_dmlgen")
    val t = new MergeTable(root, Seq("y"), generatedCols = Seq("y" -> "year(d)"))
    val df = spark.range(24).select(
      expr("add_months(date'2024-01-15', cast(id as int))").as("d"),
      col("id").as("k"))
    t.overwrite(df)
    val all = t.filesOf(t.currentVersion)
    val schema = t.schemaOf(t.currentVersion)
    // a data-column predicate cannot evaluate over partition tuples — but
    // the derived y-conjunct can: the rewrite probe scans one year
    val eq = t.partitionCandidates(spark, all, schema,
      col("d") === lit(java.sql.Date.valueOf("2025-06-15")) && col("k") >= 0)
    assert(eq.nonEmpty && eq.forall(_.contains("y=2025")))
    // mixed predicate with an explicit partition conjunct still prunes
    // through that conjunct even when the rest reads data columns
    val mixed = t.partitionCandidates(spark, all, schema,
      col("y") === 2024 && col("k") % 2 === 0)
    assert(mixed.nonEmpty && mixed.forall(_.contains("y=2024")))
    // end-to-end: the delete is correct (the probe is only an optimization)
    t.delete(spark, col("d") === lit(java.sql.Date.valueOf("2025-06-15")))
    assert(t.read(spark).count() === 23)
  }

  test("pruning survives rename (re-keyed stats) and stays off for dropped columns") {
    val t = statsTable("skip_rename")
    t.renameColumn("k", "kk")
    val hit = t.pruneFilesFor(spark, t.currentVersion,
      Seq(sources.EqualTo("kk", 15L)))
    assert(hit.size === 1 && hit.head.contains("p=1"))
    assert(t.readVersionWhere(spark, t.currentVersion,
        Seq(sources.EqualTo("kk", 15L)))
      .filter(col("kk") === 15).count() === 1L)
  }
  test("IsNull skipping: a zero null count proves the file out") {
    import spark.implicits._
    val t = new MergeTable(scratch("ds_isnull"), Nil, statsCols = Seq("x"))
    t.overwrite(Seq[(Int, Option[Int])]((1, Some(5)), (2, Some(6))).toDF("k", "x")
      .repartition(1))
    t.append(Seq[(Int, Option[Int])]((3, None), (4, Some(8))).toDF("k", "x")
      .repartition(1))
    val all = t.filesOf(t.currentVersion)
    val pruned = t.pruneFilesFor(spark, t.currentVersion,
      Seq(org.apache.spark.sql.sources.IsNull("x")))
    assert(pruned.size === 1 && all.size === 2,
      s"the nulls-free file must be skipped (kept: $pruned)")
    // the read over the pruned scan still answers exactly
    assert(t.read(spark).filter(col("x").isNull).count() === 1L)
  }

  test("partitionCandidatesExact: Some only when the WHOLE predicate evaluated exactly") {
    val t = statsTable("skip_exact")
    val v = t.currentVersion
    val files = t.filesOf(v)
    val schema = t.schemaOf(v)
    // exact partition predicate → exactly the one matching partition's file
    val exact = t.partitionCandidatesExact(spark, files, schema, col("p") === "1")
    assert(exact.isDefined && exact.get.forall(_.contains("p=1")) && exact.get.nonEmpty)
    // data-column references: the tuple probe cannot evaluate the WHOLE
    // predicate — exact mode must refuse (the pruning path would fall back
    // to keeping everything, which is sound for pruning but NOT exact)
    assert(t.partitionCandidatesExact(spark, files, schema,
      col("p") === "1" && col("k") > 5).isEmpty)
    // nondeterministic predicates can never be exact over tuples
    assert(t.partitionCandidatesExact(spark, files, schema,
      rand() < 0.5).isEmpty)
    // the pruning-mode companion keeps its conservative fallback on the
    // same inputs (subset-prunes via the implied partition conjunct)
    val pruned = t.partitionCandidates(spark, files, schema,
      col("p") === "1" && col("k") > 5)
    assert(pruned.forall(_.contains("p=1")))
    // exactPartitionFiles: partition-only filters answer exactly; any
    // data-column filter refuses so metadata aggregates fall back to a scan
    assert(t.exactPartitionFiles(spark, v, Seq(sources.EqualTo("p", "1")))
      .exists(_.forall(_.contains("p=1"))))
    assert(t.exactPartitionFiles(spark, v, Seq(sources.GreaterThan("k", 5))).isEmpty)
  }

  /** The driver admit before `In` keys were parsed once: every key parsed
    * and compared per file, an undecidable key or bound keeping the file.
    */
  private def perKeyAdmit(dt: org.apache.spark.sql.types.DataType, keys: Seq[Any],
                          mn: String, mx: String): Boolean = {
    val admits = keys.map(v =>
      for (l <- MergeTable.statCmp(dt, mn, v.toString);
           u <- MergeTable.statCmp(dt, v.toString, mx)) yield l <= 0 && u <= 0)
    admits.exists(_.isEmpty) || admits.flatten.exists(identity)
  }

  test("a 10^5-value IN prunes exactly as the per-key admit") {
    val files = 40
    val t = new MergeTable(scratch("skip_in_1e5"), Seq("p"), statsCols = Seq("k"))
    // file i holds k in [i * 10^7, i * 10^7 + 950], step 50
    t.overwrite(spark.range(files * 20).select(
      ((col("id") / 20).cast("long") * 10000000L + (col("id") % 20) * 50L).as("k"),
      (col("id") / 20).cast("int").as("p")).repartition(1))
    val v = t.currentVersion
    assert(t.filesOf(v).size === files)
    val rnd = new scala.util.Random(17)
    // random keys plus both bounds of file 3, so inclusive ends are tested
    val keys = (Seq(30000000L, 30000950L) ++
      Seq.fill(100000 - 2)(rnd.nextLong(files * 10000000L))).map(Long.box)
    assert(keys.size === 100000)
    val got = t.pruneFilesFor(spark, v, Seq(sources.In("k", keys.toArray[Any])))
    assert(t.lastPruneVia === "driver")
    val stats = t.statsDetail(v)
    val want = t.filesOf(v).filter { f =>
      val (mn, mx, _) = stats(f)("k")
      perKeyAdmit(org.apache.spark.sql.types.LongType, keys, mn, mx)
    }
    assert(got === want)
    assert(got.nonEmpty && got.size < files, s"kept ${got.size} of $files")
    assert(got.exists(_.contains("p=3/")))
  }

  test("IN keys parsed once decide each range as the per-key admit, per type") {
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(5)
    val day = java.time.LocalDate.parse("2026-01-01")
    val cases: Seq[(DataType, Seq[Any], Seq[String])] = Seq(
      (LongType, Seq.fill(300)(rnd.nextInt(1000).toLong),
        (0 until 1000 by 29).map(_.toString) :+ "x"),
      (DoubleType, Seq.fill(300)(rnd.nextDouble() * 100),
        (0 until 100 by 3).map(i => (i * 1.01).toString)),
      (StringType, Seq.fill(300)(s"k${rnd.nextInt(1000)}") :+ "\uE000" :+ "\uD83D\uDE00",
        (0 until 1000 by 29).map(i => s"k$i") :+ "\uE000" :+ "\uD83D\uDE00"),
      (DateType, Seq.fill(300)(java.sql.Date.valueOf(day.plusDays(rnd.nextInt(400)))),
        (0 until 400 by 11).map(i => day.plusDays(i).toString) :+ "not-a-date"),
      (TimestampType, Seq.fill(300)(java.sql.Timestamp.valueOf(
          day.atStartOfDay.plusMinutes(rnd.nextInt(10000)))),
        (0 until 10000 by 293).map(i => java.sql.Timestamp.valueOf(
          day.atStartOfDay.plusMinutes(i)).toString)),
      // one unparsable key: the per-key admit keeps every file
      (LongType, Seq[Any](1L, "nope"), Seq("0", "5", "9")),
      (BooleanType, Seq[Any](true), Seq("false", "true")))
    for ((dt, keys, bounds) <- cases) {
      val in = new MergeTable.InKeys(dt, keys)
      for (mn <- bounds; mx <- bounds)
        assert(in.admits(mn, mx).getOrElse(true) === perKeyAdmit(dt, keys, mn, mx),
          s"$dt [$mn, $mx]")
    }
  }

  /** The partition values of a file list, as written in the dir names. */
  private def parts(files: Seq[String]): Set[String] =
    files.map(f => f.split('/').find(_.startsWith("p=")).get.stripPrefix("p=")).toSet

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("k", "v", "p").collect().map(_.toString).toSeq.sorted

  test("nine filter shapes prune past an append and a partition delete") {
    val t = statsTable("skip_tail")
    // a tail past the v0 full manifest: an append (adds) and a partition
    // delete (removes), both incremental commits
    t.append(Seq((40L, "v40", "3"), (41L, (null: String), "3")).toDF("k", "v", "p")
      .repartition(1))
    t.delete(spark, col("p") === "0")
    val v = t.currentVersion
    assert(parts(t.filesOf(v)) === Set("1", "2", "3"))
    val shapes: Seq[(Seq[sources.Filter], org.apache.spark.sql.Column, Set[String])] = Seq(
      (Seq(sources.EqualTo("p", "1")), col("p") === "1", Set("1")),
      (Seq(sources.EqualTo("k", 15L)), col("k") === 15L, Set("1")),
      (Seq(sources.GreaterThan("k", 25L)), col("k") > 25L, Set("2", "3")),
      (Seq(sources.In("k", Array[Any](5L, 40L))), col("k").isin(5L, 40L), Set("3")),
      (Seq(sources.LessThanOrEqual("v", "v09")), col("v") <= "v09", Set()),
      (Seq(sources.IsNull("v")), col("v").isNull, Set("3")),
      (Seq(sources.IsNotNull("k")), col("k").isNotNull, Set("1", "2", "3")),
      (Seq(sources.EqualTo("p", "3"), sources.GreaterThan("k", 39L)),
        col("p") === "3" && col("k") > 39L, Set("3")),
      (Seq(sources.EqualTo("p", "0")), col("p") === "0", Set()))
    for ((fs, pred, want) <- shapes) {
      val kept = t.pruneFilesFor(spark, v, fs)
      assert(t.lastPruneVia === "driver", s"$fs")
      assert(parts(kept) === want, s"kept partitions for $fs")
      // pruned scan + predicate ≡ full scan + predicate
      assert(rowsOf(t.readVersionFiles(spark, v, kept).filter(pred)) ===
        rowsOf(t.read(spark).filter(pred)), s"rows for $fs")
    }
    assert(t.readVersionWhere(spark, v, Seq(sources.EqualTo("p", "1")))
      .select("k").as[Long].collect().sorted === (10L to 19L).toArray)
  }

  test("pruning an older version sees that version's files only") {
    val t = statsTable("skip_travel")
    val v0 = t.currentVersion
    t.append(Seq((50L, "v50", "4")).toDF("k", "v", "p"))
    val fs = Seq(sources.EqualTo("p", "4"))
    assert(t.pruneFilesFor(spark, v0, fs).isEmpty, "partition 4 does not exist at v0")
    assert(t.lastPruneVia === "driver")
    assert(t.readVersionWhere(spark, v0, fs).count() === 0L)
    val now = t.pruneFilesFor(spark, t.currentVersion, fs)
    assert(parts(now) === Set("4"))
    assert(t.readVersionWhere(spark, t.currentVersion, fs)
      .select("k").as[Long].collect().toSeq === Seq(50L))
  }

  test("DELETE, RESTORE, DELETE: pushed count is exact, no file comes back") {
    val t = statsTable("skip_readd")
    val v0 = t.currentVersion
    t.delete(spark, col("p") === "0") // removes p=0's file
    t.restore(v0)                     // re-adds the same path
    val restored = t.currentVersion
    assert(t.filesOf(restored).toSet === t.filesOf(v0).toSet)
    assert(t.filesOf(restored).distinct.size === t.filesOf(restored).size)
    assert(t.aggregateFromStats(restored, Nil, Seq(("count", null: String)))
      .map(_.map(_.toList)) === Some(Seq(List(30L))))
    t.delete(spark, col("p") === "0") // and removes it again
    val v = t.currentVersion
    assert(t.aggregateFromStats(v, Nil, Seq(("count", null: String)))
      .map(_.map(_.toList)) === Some(Seq(List(20L))))
    assert(t.aggregateFromStats(v, Seq("p"), Seq(("count", null: String), ("sum", "k")))
      .map(_.map(_.toList)) === Some(Seq(List("1", 10L, 145L), List("2", 10L, 245L))))
    val kept = t.pruneFilesFor(spark, v, Seq(sources.EqualTo("p", "0")))
    assert(t.lastPruneVia === "driver")
    assert(kept.isEmpty, "remove, re-add, remove resurrected a deleted file")
    assert(t.read(spark).count() === 20L)
    assert(t.read(spark).filter(col("p") === "0").count() === 0L)
  }

  test("adversarial partition values prune and read exactly") {
    // path escaping (space, =, %), a separator, the empty string and NULL
    // (the Hive default partition). A unicode value is left out: under a
    // C locale the JVM rejects non-ASCII file paths.
    val vals = Seq("sp ace", "eq=ua=l", "pct%25raw", "semi;colon", "", null)
    val t = new MergeTable(scratch("skip_adversarial"), Seq("p"),
      statsCols = Seq("k"))
    t.overwrite(vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("k", "p").repartition(6))
    for (v <- vals) {
      val fs = Seq(if (v == null) sources.IsNull("p")
                   else sources.EqualTo("p", v): sources.Filter)
      t.pruneFilesFor(spark, 0, fs)
      assert(t.lastPruneVia === "driver")
      val got = t.readVersionWhere(spark, 0, fs)
        .select("k").as[Long].collect().toSeq.sorted
      // Hive layout stores an EMPTY string as the default partition, so it
      // reads back as NULL: both rows surface under IS NULL, none under
      // p = '' (Spark and Delta behave the same)
      val expect =
        if (v == null) Seq(4L, 5L)
        else if (v == "") Seq.empty[Long]
        else Seq(vals.indexOf(v).toLong)
      assert(got === expect, s"value '$v'")
    }
  }

  test("an unprunable IN starts no Spark job and keeps every file") {
    // stats on v only: an IN on k (unstatted, not a partition column)
    // can drop no file
    val t = new MergeTable(scratch("skip_noprune"), Seq("p"), statsCols = Seq("v"))
    t.overwrite(spark.range(30).select(col("id").as("k"),
      col("id").cast("string").as("v"), (col("id") % 3).cast("string").as("p"))
      .repartition(2))
    val v = t.currentVersion
    val (jobs, kept) = jobCount(
      t.pruneFilesFor(spark, v, Seq(sources.In("k", Array[Any](1L, 2L, 40L)))))
    assert(jobs === 0)
    assert(t.lastPruneVia === "none")
    assert(kept === t.filesOf(v))
    // a statted conjunct runs the driver loop, still with no job
    val (jobs2, _) = jobCount(t.pruneFilesFor(spark, v, Seq(sources.EqualTo("v", "7"))))
    assert(jobs2 === 0)
    assert(t.lastPruneVia === "driver")
  }
}
