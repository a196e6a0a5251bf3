package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources

/** Automatic data skipping: [[ManifestFileIndex]]'s `listFiles`, and the
  * entry points that read its kept set ([[MergeTable.pruneFilesFor]],
  * filtered `readVersion`s, `candidateFiles`, `readRange`,
  * `readPoint`, `bloomCandidateFiles`, the connector scan) — Delta's
  * manifest-level file pruning applied to every scan with zero caller
  * opt-in. The invariant under test everywhere: pruning selects FILES,
  * never rows — for any filter set, (pruned scan + exact predicate) ≡
  * (full scan + exact predicate), and a file is dropped only when no row
  * in it can match.
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
    val pruned = readWhere(t, t.currentVersion,
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
    val viaRead = readWhere(t, t.currentVersion,
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
    // untranslatable / unsupported filters: no pruning either (footer
    // skipping off: only the log decides here)
    val t2 = statsTable("skip_weird")
    val kept2 = withConf("spark.sql.parquet.filterPushdown" -> "false")(
      t2.pruneFilesFor(spark, t2.currentVersion,
        Seq(sources.Or(sources.EqualTo("k", 1L), sources.EqualTo("v", "v25")))))
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
    assert(readWhere(t, t.currentVersion, Seq(sources.IsNull("k")))
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
    assert(readWhere(t, t.currentVersion,
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
    assert(readWhere(t, t.currentVersion,
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

  test("widening a Bloom-indexed column keeps equality reads exact") {
    // sidecars hash the values as INT; after the widening a lookup hashes
    // the same value as LONG, which xxhash64 tells apart
    val t = new MergeTable(scratch("skip_bloom_widen"), Nil)
    t.overwrite(spark.range(40).select(col("id").cast("int").as("k")).repartition(2))
    t.buildBloomIndex(spark, "k")
    val narrow = t.currentVersion
    t.alterColumnType("k", org.apache.spark.sql.types.LongType)
    t.append(spark.range(40, 60).select(col("id").as("k")).repartition(1))
    for (k <- Seq(7L, 45L)) {
      assert(t.read(spark).filter(col("k") === k).count() === 1L, s"read().filter($k)")
      assert(t.readPoint(spark, "k", k).count() === 1L, s"readPoint($k)")
    }
    // an index rebuilt as LONG does not serve the version that reads k as INT
    t.buildBloomIndex(spark, "k")
    assert(t.bloomCandidateFiles(spark, "k", 45L).size === 1)
    assert(t.readVersion(spark, narrow).filter(col("k") === 7).count() === 1L, "time travel")
  }

  test("a Bloom index follows renames: a reused logical name reads its own data") {
    // a -> b, then c -> a: the index built on the first `a` hashed what is
    // now `b`, and must neither skip files for the new `a` nor stop
    // serving `b` or time travel to the first `a`
    val t = new MergeTable(scratch("skip_bloom_rename"), Nil)
    t.overwrite(spark.range(40).select(col("id").as("a"), (col("id") + 1000).as("c"))
      .repartition(4))
    t.buildBloomIndex(spark, "a")
    val v0 = t.currentVersion
    t.renameColumn("a", "b")
    t.renameColumn("c", "a")
    assert(t.read(spark).filter(col("a") === 1005L).count() === 1L, "read().filter")
    assert(t.readPoint(spark, "a", 1005L).count() === 1L, "readPoint")
    assert(t.bloomCandidateFiles(spark, "b", 5L).size === 1, "the index still serves b")
    assert(t.readVersion(spark, v0).filter(col("a") === 5L).count() === 1L, "time travel")
    t.buildBloomIndex(spark, "a")
    assert(t.bloomCandidateFiles(spark, "a", 1006L).size === 1, "a rebuilt on the new a")
    assert(t.readVersion(spark, v0).filter(col("a") === 6L).count() === 1L, "time travel")
    t.delete(spark, col("a") === 1005L)
    assert(t.read(spark).filter(col("b") === 5L).count() === 0L, "delete")
    t.merge(spark, Seq((77L, 1007L)).toDF("b", "a"), Seq("a"))
    assert(t.read(spark).filter(col("a") === 1007L).select("b").as[Long].collect().toSeq ===
      Seq(77L), "merge")
    assert(t.read(spark).count() === 39L)
  }

  test("the connector scan prunes automatically and stays exact") {
    val t = statsTable("skip_conn")
    val root = t.root
    val viaConn = spark.read.format("graft").load(root)
      .filter(col("k") === 15).select("k", "v", "p")
    assert(viaConn.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq === Seq((15L, "v15", "1")))
    // the connector read is the snapshot's own scan: its file index keeps
    // the file-skipping result, not the full manifest
    assert(filesScanned(spark.read.format("graft").load(root).filter(col("k") === 15)) === 1L)
    assert(filesScanned(t.read(spark)) === 3L)
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
    assert(readWhere(t, t.currentVersion,
      Seq(sources.EqualTo("v", "zebra"))).filter(col("v") === "zebra").count() === 1L)
    assert(readWhere(t, t.currentVersion,
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
      assert(readWhere(t, t.currentVersion,
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
    assert(readWhere(t, t.currentVersion,
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

  test("DML probes reach partition pruning in listFiles: footers of other partitions stay unread") {
    // no stats: a data conjunct is tested on footers, so the footers read
    // by each DML are those of the files its partition conjunct kept
    val t = new MergeTable(scratch("skip_dmlparts"), Seq("p"))
    t.overwrite(spark.range(60).select(col("id").as("k"),
      (col("id") % 3).cast("string").as("p")).repartition(2))
    def partFiles(p: String) = t.filesOf(t.currentVersion).count(_.contains(s"p=$p/"))
    def footersRead(body: => Unit): Long = {
      val before = ManifestFileIndex.footerReads.get
      body
      ManifestFileIndex.footerReads.get - before
    }
    val in1 = partFiles("1")
    assert(in1 > 0 && in1 < t.filesOf(t.currentVersion).size)
    assert(footersRead(t.delete(spark, col("p") === "1" && col("k") > 40L)) === in1)
    val in2 = partFiles("2")
    assert(footersRead(t.deleteVectorized(spark, col("p") === "2" && col("k") > 50L)) === in2)
    val in0 = partFiles("0")
    assert(footersRead(t.updateVectorized(spark, col("p") === "0" && col("k") > 50L,
      Map("k" -> (col("k") + 1000L)))) === in0)
    assert(t.read(spark).count() === 60L - 6L - 3L)
    assert(t.read(spark).filter(col("k") > 1000L).count() === 3L)
  }

  test("pruning survives rename (re-keyed stats) and stays off for dropped columns") {
    val t = statsTable("skip_rename")
    t.renameColumn("k", "kk")
    val hit = t.pruneFilesFor(spark, t.currentVersion,
      Seq(sources.EqualTo("kk", 15L)))
    assert(hit.size === 1 && hit.head.contains("p=1"))
    assert(readWhere(t, t.currentVersion,
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

  test("exact partition sets answer from the log; other filters scan") {
    val t = statsTable("skip_exact")
    val v = t.currentVersion
    val files = t.filesOf(v)
    val schema = t.schemaOf(v)
    def rows(filter: org.apache.spark.sql.Column) = t.read(spark).filter(filter).agg(count(lit(1)))
    // a partition-only filter: the scan's own pruning is the exact file set
    val exact = rows(col("p") === "1")
    assert(answeredFromLog(exact))
    assert(exact.head.getLong(0) === 10L)
    // a data-column or nondeterministic conjunct keeps the scan, exactly
    val mixed = rows(col("p") === "1" && col("k") > 15)
    assert(!answeredFromLog(mixed) && mixed.head.getLong(0) === 4L)
    assert(!graft.lake.MetadataOnlyAggregate.answered(rows(col("p") === "1" && rand() < 0.5)))
    // a filter that fails to evaluate over the partition values declines
    // to the scan, which reports the failure itself
    val failing = rows(col("p").cast("date") === lit("2024-01-01").cast("date"))
    assert(!graft.lake.MetadataOnlyAggregate.answered(failing))
    intercept[Exception](failing.collect())
    // the rebase read set keeps its conservative fallback on the same
    // inputs (subset-prunes via the implied partition conjunct)
    assert(t.partitionCandidates(spark, files, schema,
      col("p") === "1" && col("k") > 5).forall(_.contains("p=1")))
    assert(t.partitionCandidates(spark, files, schema, rand() < 0.5) === files)
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
    val footers = ManifestFileIndex.footerReads.get
    val (jobs, got) = jobCount(t.pruneFilesFor(spark, v, Seq(sources.In("k", keys.toArray[Any]))))
    assert(jobs === 0)
    assert(ManifestFileIndex.footerReads.get === footers, "the log decides every file")
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
      val (jobs, kept) = jobCount(t.pruneFilesFor(spark, v, fs))
      assert(jobs === 0, s"$fs")
      assert(parts(kept) === want, s"kept partitions for $fs")
      // pruned scan + predicate ≡ full scan + predicate
      assert(rowsOf(t.readVersionFiles(spark, v, kept).filter(pred)) ===
        rowsOf(t.read(spark).filter(pred)), s"rows for $fs")
    }
    assert(readWhere(t, v, Seq(sources.EqualTo("p", "1")))
      .select("k").as[Long].collect().sorted === (10L to 19L).toArray)
  }

  test("pruning an older version sees that version's files only") {
    val t = statsTable("skip_travel")
    val v0 = t.currentVersion
    t.append(Seq((50L, "v50", "4")).toDF("k", "v", "p"))
    val fs = Seq(sources.EqualTo("p", "4"))
    val (jobs, atV0) = jobCount(t.pruneFilesFor(spark, v0, fs))
    assert(atV0.isEmpty, "partition 4 does not exist at v0")
    assert(jobs === 0)
    assert(readWhere(t, v0, fs).count() === 0L)
    val now = t.pruneFilesFor(spark, t.currentVersion, fs)
    assert(parts(now) === Set("4"))
    assert(readWhere(t, t.currentVersion, fs)
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
    val (jobs, kept) = jobCount(t.pruneFilesFor(spark, v, Seq(sources.EqualTo("p", "0"))))
    assert(jobs === 0)
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
      val (jobs, kept) = jobCount(t.pruneFilesFor(spark, 0, fs))
      assert(jobs === 0)
      val got = readWhere(t, 0, fs)
        .select("k").as[Long].collect().toSeq.sorted
      // Hive layout stores an EMPTY string as the default partition, so it
      // reads back as NULL: both rows surface under IS NULL, none under
      // p = '' (Spark and Delta behave the same)
      val expect =
        if (v == null) Seq(4L, 5L)
        else if (v == "") Seq.empty[Long]
        else Seq(vals.indexOf(v).toLong)
      assert(got === expect, s"value '$v'")
      assert(kept.isEmpty === expect.isEmpty, s"kept files for '$v'")
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
    // only footers could drop a file: nothing is planned and no footer read
    val footers = ManifestFileIndex.footerReads.get
    val (jobs, kept) = jobCount(
      t.pruneFilesFor(spark, v, Seq(sources.In("k", Array[Any](1L, 2L, 40L)))))
    assert(jobs === 0)
    assert(kept === t.filesOf(v))
    assert(ManifestFileIndex.footerReads.get === footers)
    // a statted conjunct is decided from the log, still with no job and
    // no footer read
    val (jobs2, hit) = jobCount(t.pruneFilesFor(spark, v, Seq(sources.EqualTo("v", "7"))))
    assert(jobs2 === 0)
    assert(hit.nonEmpty && hit.size < kept.size)
    assert(ManifestFileIndex.footerReads.get === footers)
  }

  test("U+FFFD beside a supplementary character: every entry point keeps the row") {
    // bounds are in UTF-8 byte order, where U+1F600 (a surrogate pair in
    // UTF-16) sorts after U+FFFD; in UTF-16 order it sorts before
    val t = new MergeTable(scratch("skip_utf8"), Nil, statsCols = Seq("ts", "s"))
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val v = "\uFFFD"
    t.overwrite(Seq((ts, "a"), (ts, v), (ts, "\uD83D\uDE00")).toDF("ts", "s").repartition(1))
    val all = t.filesOf(t.currentVersion)
    assert(all.size === 1)
    assert(t.statsOf(t.currentVersion)(all.head)("s") === (("a", "\uD83D\uDE00")))
    def found(d: org.apache.spark.sql.DataFrame, via: String): Unit =
      assert(d.select("s").as[String].collect().toSeq === Seq(v), via)
    found(t.read(spark).filter(col("s") === v), "read().filter")
    found(t.readRange(spark, "s", v, v), "readRange")
    found(t.readPoint(spark, "s", v), "readPoint")
    assert(t.candidateFiles("s", v, v) === all, "candidateFiles")
    assert(t.pruneFilesFor(spark, t.currentVersion, Seq(sources.EqualTo("s", v))) === all,
      "pruneFilesFor")
    found(readWhere(t, t.currentVersion, Seq(sources.EqualTo("s", v)))
      .filter(col("s") === v), "readWhere")
    found(spark.read.format("graft").load(t.root).filter(col("s") === v), "format(graft)")
  }

  test("log stats and a Bloom index: point and 100-key IN reads open no footer, run one job") {
    // file i holds the keys ≡ i (mod 8): every file's [min, max] spans the
    // whole key range, so only the Bloom sidecars tell the files apart
    val t = new MergeTable(scratch("skip_onejob"), Nil, statsCols = Seq("k"))
    t.overwrite(spark.range(0, 800, 1, 8)
      .select(((col("id") % 100) * 8 + col("id") / 100).cast("long").as("k"),
        concat(lit("v"), col("id")).as("v")))
    val v = t.currentVersion
    val all = t.filesOf(v)
    assert(all.size === 8)
    t.buildBloomIndex(spark, "k")
    val holding3 = t.read(spark).filter(col("k") === 3L)
      .select(input_file_name()).as[String].collect().toSeq
    assert(holding3.size === 1)
    val footers = ManifestFileIndex.footerReads.get
    val (bloomJobs, bloomKept) = jobCount(t.bloomCandidateFiles(spark, "k", 3L))
    assert(bloomJobs === 0)
    assert(bloomKept.size === 1 && holding3.head.endsWith(bloomKept.head))
    val keys = (0 until 100).map(i => 3L + 8 * i) // all in file 3
    for ((pred, filter) <- Seq(
        (col("k") === 3L, sources.EqualTo("k", 3L): sources.Filter),
        (col("k").isin(keys: _*), sources.In("k", keys.toArray[Any])))) {
      val kept = t.pruneFilesFor(spark, v, Seq(filter))
      assert(kept === bloomKept, s"admitted for $pred")
      val (jobs, scanned) = jobCount(filesScanned(t.read(spark).filter(pred)))
      assert(jobs === 1, s"jobs for $pred")
      assert(scanned === 1L, s"files scanned for $pred")
    }
    assert(ManifestFileIndex.footerReads.get === footers, "no footer read")
    assert(t.read(spark).filter(col("k").isin(keys: _*)).count() === 100L)
  }

  test("a partition-set predicate of 10^5 tuples builds, analyzes, evaluates and prunes") {
    import org.apache.spark.sql.types.{IntegerType, StringType}
    val cols = Seq("p" -> StringType, "q" -> IntegerType)
    // typed values (dynamic partition overwrite) and directory strings
    // cast to the column type (auto-compaction), NULL for the default
    // partition
    val typed = (0 until 100000).map(i => Seq[Any](s"p$i", if (i % 1000 == 0) null else i))
    val dirStrings = typed.map(t => Seq[Any](t(0), Option(t(1)).map(_.toString).orNull))
    val rows = Seq(("p5", Some(5)), ("p1000", None), ("p7", Some(8)), ("x", Some(1)),
      ("p2000", Some(2000))).toDF("p", "q")
    for (tuples <- Seq(typed, dirStrings)) {
      val pred = MergeTable.partitionSetPredicate(cols, tuples)
      assert(rows.filter(pred).as[(String, Option[Int])].collect().toSet ===
        Set(("p5", Some(5)), ("p1000", None)))
    }
    // as a partition filter: compaction rewrites exactly the listed partitions
    val t = new MergeTable(scratch("skip_partset"), Seq("p", "q"))
    t.overwrite(rows.withColumn("k", lit(1)).repartition(2))
    t.append(rows.withColumn("k", lit(2)).repartition(2))
    val before = t.filesOf(t.currentVersion)
    t.compactPartitions(spark, MergeTable.partitionSetPredicate(cols, dirStrings))
    val after = t.filesOf(t.currentVersion)
    val listed = Set("p=p5/q=5", "p=p1000/q=__HIVE_DEFAULT_PARTITION__")
    def dir(f: String) = f.split('/').slice(1, 3).mkString("/")
    assert((before.toSet -- after).map(dir) === listed)
    assert(after.filterNot(before.toSet).map(dir).sorted === listed.toSeq.sorted)
    assert(t.read(spark).count() === 10L)
  }

  test("property: every file-selecting entry point keeps every file holding a match") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import org.scalacheck.{Gen, Prop, Test}
    val strings = Gen.oneOf("", "a", "z", "\uFFFD", "\uE000", "\uFFFF", "\uD83D\uDE00",
      "a\uD83D\uDE00", "\uE000b", "\uD83D\uDC00")
    val doubles = Gen.oneOf(
      Gen.oneOf(Double.NaN, 0.0, -0.0, 1.5, -1.5, Double.PositiveInfinity,
        Double.NegativeInfinity, Double.MaxValue),
      Gen.choose(-3, 3).map(_.toDouble))
    val t0 = java.time.LocalDateTime.parse("2026-03-01T00:00:00")
    // 1.5 ms steps: half the values lose their last 500 µs when written as MILLIS
    val stamps = Gen.choose(0, 12).map(n => java.sql.Timestamp.valueOf(t0.plusNanos(n * 1500000L)))
    val kinds: Map[String, (DataType, Gen[Any])] = Map(
      "string" -> (StringType, strings), "double" -> (DoubleType, doubles),
      "TIMESTAMP_MILLIS" -> (TimestampType, stamps), "TIMESTAMP_MICROS" -> (TimestampType, stamps))
    case class SkipCase(kind: String, statted: Boolean, bloom: Boolean,
                              rows: Seq[(Option[Any], Int)], probes: Seq[Any])
    val genCase = for {
      kind <- Gen.oneOf(kinds.keys.toSeq.sorted)
      statted <- Gen.oneOf(true, false)
      bloom <- Gen.oneOf(true, false)
      rows <- Gen.choose(2, 12).flatMap(Gen.listOfN(_,
        Gen.zip(Gen.option(kinds(kind)._2), Gen.choose(0, 2))))
      probes <- Gen.listOfN(2, kinds(kind)._2)
    } yield SkipCase(kind, statted, bloom, rows, probes)
    var runs = 0
    val prop = Prop.forAllNoShrink(genCase) { c =>
      runs += 1
      val (dt, _) = kinds(c.kind)
      val t = new MergeTable(scratch(s"skip_prop$runs"), Seq("f"),
        statsCols = if (c.statted) Seq("c") else Nil)
      val schema = StructType(Seq(StructField("c", dt), StructField("f", IntegerType)))
      val df = spark.createDataFrame(
        java.util.Arrays.asList(c.rows.map { case (v, f) => Row(v.orNull, f) }: _*), schema)
      withConf((if (dt == TimestampType) Seq("spark.sql.parquet.outputTimestampType" -> c.kind)
          else Nil): _*)(t.overwrite(df.repartition(2)))
      if (c.bloom) t.buildBloomIndex(spark, "c")
      val v = t.currentVersion
      val Seq(p, q) = c.probes
      val x = col("c")
      val preds: Seq[(org.apache.spark.sql.Column, sources.Filter)] = Seq(
        (x === lit(p), sources.EqualTo("c", p)),
        (x <=> lit(p), sources.EqualNullSafe("c", p)),
        (x < lit(p), sources.LessThan("c", p)),
        (x >= lit(q), sources.GreaterThanOrEqual("c", q)),
        (x.between(lit(p), lit(q)),
          sources.And(sources.GreaterThanOrEqual("c", p), sources.LessThanOrEqual("c", q))),
        (x.isin(p, q), sources.In("c", Array(p, q))),
        (x.isNull, sources.IsNull("c")),
        (x.isNotNull, sources.IsNotNull("c")))
      // the truth, from Spark's own reader over every file: per predicate,
      // the files holding a TRUE row and the number of such rows
      val truth = spark.read.schema(schema.fields(0).toDDL)
        .parquet(t.filesOf(v).map(f => s"${t.root}/$f"): _*)
        .select(input_file_name() +: preds.map(pr => coalesce(pr._1, lit(false))): _*)
        .collect()
      def holding(i: Int): Set[String] =
        truth.filter(_.getBoolean(i + 1)).map(_.getString(0)).toSet
      def keeps(kept: Seq[String], i: Int, via: String): Unit =
        holding(i).foreach(f => assert(kept.exists(f.endsWith), s"$via dropped $f for ${preds(i)._1}"))
      def rowsOf(d: org.apache.spark.sql.DataFrame): Int = d.select("c").collect().length
      for (((pred, filter), i) <- preds.zipWithIndex) {
        val want = truth.count(_.getBoolean(i + 1))
        keeps(t.pruneFilesFor(spark, v, Seq(filter)), i, "pruneFilesFor")
        assert(rowsOf(t.read(spark).filter(pred)) === want, s"read().filter($pred)")
      }
      keeps(t.bloomCandidateFiles(spark, "c", p), 0, "bloomCandidateFiles")
      keeps(t.candidateFiles("c", p, q), 4, "candidateFiles")
      assert(rowsOf(t.readPoint(spark, "c", p)) === truth.count(_.getBoolean(1)), "readPoint")
      assert(rowsOf(t.readRange(spark, "c", p, q)) === truth.count(_.getBoolean(5)), "readRange")
      assert(rowsOf(readWhere(t, v, Seq(preds(2)._2)).filter(preds(2)._1)) ===
        truth.count(_.getBoolean(3)), "readWhere")
      assert(rowsOf(spark.read.format("graft").load(t.root).filter(preds(5)._1)) ===
        truth.count(_.getBoolean(6)), "format(graft)")
      true
    }
    // the forked test JVM inherits the environment, not sbt's -D flags
    val seed = sys.env.get("GRAFT_SKIP_SEED").map(_.toLong).getOrElse(System.nanoTime())
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(16).withWorkers(1)
      .withInitialSeed(org.scalacheck.rng.Seed(seed)), prop)
    assert(res.passed, s"failing seed $seed (rerun with GRAFT_SKIP_SEED=$seed): " +
      org.scalacheck.util.Pretty.pretty(res))
  }
}
