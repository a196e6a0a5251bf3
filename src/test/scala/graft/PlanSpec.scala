package graft

import graft.lake.MergeTable
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Plan-shape assertions: the physical plans behind the registry queries
  * carry the properties that make them survive a 100 TB scale-up —
  * predicate pushdown into the parquet scan, partition pruning (including
  * through MergeTable's explicit-file-list reads), broadcast of small join
  * sides, top-k instead of full sort, and whole-stage codegen over the hot
  * aggregation path. Correctness gates prove the small-SF answers; these
  * prove the *plans* are the ones we'd want on a 1000-executor cluster.
  */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  /** All parquet scans in the (possibly adaptive) executed plan. */
  private def scans(df: org.apache.spark.sql.DataFrame): Seq[FileSourceScanExec] = {
    val plan = df.queryExecution.executedPlan
    val root = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }
    root.collect { case s: FileSourceScanExec => s }
  }

  test("filter + projection push down to the parquet scan") {
    val dir = scratch("pushdown")
    (1 to 1000).map(i => (i.toLong, i % 7, s"name$i", s"pad$i"))
      .toDF("id", "bucket", "name", "pad")
      .write.mode("overwrite").parquet(s"$dir/t")

    val q = spark.read.parquet(s"$dir/t").filter($"id" > 900).select("id", "name")
    val s = scans(q)
    assert(s.nonEmpty)
    val pushed = s.head.metadata("PushedFilters")
    assert(pushed.contains("GreaterThan(id,900)"), s"filter not pushed: $pushed")
    val readSchema = s.head.metadata("ReadSchema")
    assert(!readSchema.contains("pad"), s"projection not pruned: $readSchema")
    assert(q.count() === 100)
  }

  test("partition pruning reaches a partitioned parquet scan") {
    val dir = scratch("prune")
    (1 to 1200).map(i => (i, 2024 + i % 3, 1 + i % 12))
      .toDF("v", "year", "month")
      .write.mode("overwrite").partitionBy("year", "month").parquet(s"$dir/t")

    // year = 2024 + i%3, month = 1 + i%12: (year,month)=(2025,5) ⇔ i ≡ 4 (mod 12) — 100 rows
    val q = spark.read.parquet(s"$dir/t").filter($"year" === 2025 && $"month" === 5)
    val scan = scans(q).head
    // 36 physical partitions exist; the scan must touch exactly 1.
    assert(scan.relation.location.inputFiles.length > 30)
    assert(scan.metadata("PartitionFilters").contains("year"), "no partition filter")
    val selected = scan.selectedPartitions.partitionCount
    assert(selected === 1, s"expected 1 pruned partition, scanned $selected")
  }

  test("MergeTable reads keep partition pruning through the manifest file list") {
    val dir = scratch("mtprune")
    val t = new MergeTable(s"$dir/lake", Seq("year", "month"))
    t.overwrite((1 to 600).map(i => (i.toLong, 2025, 1 + i % 6)).toDF("id", "year", "month"))
    // a second version whose untouched files are carried forward by reference
    t.merge(spark, Seq((1L, 2025, 1)).toDF("id", "year", "month"), Seq("id"))

    val q = t.read(spark).filter($"month" === 4)
    val perScan = scans(q).map(_.selectedPartitions.partitionCount)
    assert(perScan.nonEmpty)
    // ONE scan over the snapshot's file list, pruned to the single matching
    // partition (month=4 lives only in the first data dir)
    assert(perScan === Seq(1), s"partitions scanned: $perScan")
    assert(q.count() === 100)
  }

  test("small dimension side of a join is broadcast") {
    val dir = scratch("bcast")
    (1 to 100000).map(i => (i.toLong, i % 25L, i * 2L)).toDF("id", "dim_id", "v")
      .write.mode("overwrite").parquet(s"$dir/fact")
    (0L to 24L).map(k => (k, s"dim$k")).toDF("dim_id", "attr")
      .write.mode("overwrite").parquet(s"$dir/dim")

    val q = spark.read.parquet(s"$dir/fact")
      .join(spark.read.parquet(s"$dir/dim"), "dim_id")
      .groupBy("attr").agg(sum("v").as("sv"))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"))
  }

  test("ORDER BY + LIMIT plans as top-k, not a full sort") {
    val df = (1 to 10000).map(i => (i.toLong, i % 97)).toDF("id", "score")
    val q = df.orderBy(desc("score"), asc("id")).limit(5)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$plan")
  }

  test("QUALIFY desugars to ONE window over one exchange, schema untouched") {
    val df = (1 to 1000).map(i => (i.toLong % 10, i.toLong, (i * 7 % 100).toLong))
      .toDF("grp", "id", "score")
    df.createOrReplaceTempView("qualify_plan_v")
    val q = spark.sql(
      """SELECT grp, id, score FROM qualify_plan_v
        |QUALIFY row_number() OVER (PARTITION BY grp ORDER BY score DESC, id) <= 2
        |ORDER BY grp, score DESC, id""".stripMargin)
    assert(q.columns.toSeq == Seq("grp", "id", "score"),
      "the helper column must not leak into the output schema")
    val root = q.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }
    val windows = root.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.size == 1, s"expected exactly one Window operator:\n$root")
    // the window's hash partitioning is the ONLY shuffle before the
    // final ordering — the rewrite must not add one
    val exchanges = root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning
            .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e }
    assert(exchanges.size == 1,
      s"expected one hash exchange, saw ${exchanges.size}:\n$root")
    assert(q.count() == 20)
  }

  test("sketch candidate generation never plans a cartesian/nested-loop join") {
    val dir = scratch("sketch_plans")
    Seq.tabulate(60)(i => (i.toLong,
        s"w${i % 5} x${i % 7} y${i % 3} z$i a b c d e f g h", "en", "fx", 30L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq.tabulate(40)(i => (i.toLong, Seq.tabulate(64)(d => math.sin(i * 13 + d).toFloat), i % 3))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    Seq("d4_minhash_lsh", "d5_simhash", "v4_lsh_buckets", "d8_dedup_clusters").foreach { name =>
      val q = graft.queries.Registry.all(name).fn(spark, dir)
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"$name fell back to an all-pairs join:\n$plan")
    }
  }

  test("d10 bloom dedup probes the filter and matches d6 exactly") {
    val dir = "/root/testdata/sf0.001"
    val q = graft.queries.Registry.all("d10_bloom_dedup").fn(spark, dir)
    val got = q.collect().map(_.toString).sorted.toSeq
    // the bloom probe must survive into the physical plan — if the scalar
    // subquery or the might_contain predicate is optimized away, d10 has
    // silently degraded into a plain anti-join over the full batch
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"bloom probe missing from plan:\n$plan")
    assert(plan.contains("bloom_filter_agg"), s"bloom build missing from plan:\n$plan")
    // no false negatives ⇒ identical output to the plain anti-join (d6)
    val want = graft.queries.Registry.all("d6_incremental_dedup").fn(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(got === want, "bloom bypass changed incremental-dedup results")
  }

  test("t12 decontamination broadcasts the benchmark shingle set") {
    val q = graft.queries.Registry.all("t12_contamination")
      .fn(spark, "/root/testdata/sf0.001")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark set not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus side shuffled for the benchmark join:\n$plan")
  }

  test("t10 sequence packing shuffles exactly once (the lang window)") {
    val q = graft.queries.Registry.all("t10_sequence_pack")
      .fn(spark, "/root/testdata/sf0.001")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    // window partitioning on lang; the groupBy reuses it (same key prefix)
    assert(exchanges <= 2, s"expected ≤2 hash exchanges, got $exchanges:\n$plan")
  }

  /** The FINAL adaptive plan only — AdaptiveSparkPlanExec.toString also
    * renders the pre-AQE initial plan, whose join picks are superseded.
    */
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String =
    (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }).toString

  test("t16 mixture sampling broadcasts the census, never shuffles the corpus") {
    val q = graft.queries.Registry.all("t16_mixture_sample")
      .fn(spark, "/root/testdata/sf0.001")
    q.collect()
    val plan = finalPlan(q)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"census/totals not broadcast to the corpus scan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus side shuffled for a sources-sized join:\n$plan")
  }

  test("t17 chunking is map-only: zero exchanges over the corpus") {
    val q = graft.queries.Registry.all("t17_chunk_windows")
      .fn(spark, "/root/testdata/sf0.001")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"chunking introduced a shuffle — must stay map-only:\n$plan")
  }

  test("t18's hot-set broadcast is guarded: oversized census degrades to a plain join") {
    // the broadcast path (default bound) and the forced-fallback path
    // (bound 0) must produce identical rows — the guard changes the plan,
    // never the answer
    import graft.queries.TextQueries
    val hot = Seq("a", "b").toDF("line").withColumn("hot", lit(1))
    val lines = Seq((1L, 0, "a"), (1L, 1, "x"), (2L, 0, "b"), (2L, 1, "y"))
      .toDF("doc_id", "idx", "line")
    def kept(hotSide: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
      lines.join(hotSide, Seq("line"), "left").filter($"hot".isNull)
        .select("doc_id", "line").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    val small = TextQueries.broadcastIfSmall(hot)
    val forced = TextQueries.broadcastIfSmall(hot, maxRows = 0)
    assert(kept(small) === kept(forced))
    assert(kept(forced) === Seq((1L, "x"), (2L, "y")))
    // plan shapes: small side hinted ⇒ BroadcastHashJoin; over-bound ⇒ no
    // forced broadcast hint survives (Catalyst/AQE may still choose one at
    // toy scale, so assert on the HINT, i.e. the analyzed plan)
    val hinted = lines.join(small, Seq("line"), "left")
      .queryExecution.analyzed.toString
    val unhinted = lines.join(forced, Seq("line"), "left")
      .queryExecution.analyzed.toString
    assert(hinted.contains("ResolvedHint"), s"guard dropped the small-case hint:\n$hinted")
    assert(!unhinted.contains("ResolvedHint"),
      s"oversized census still force-broadcast — driver OOM at corpus scale:\n$unhinted")
  }

  test("d8 label propagation keeps plan depth bounded across iterations") {
    // a 13-node path graph forces ~12 propagation rounds — far past the
    // checkpoint cadence. Without lineage truncation the final plan nests
    // one self-join PER ROUND; with it, depth stays a small constant.
    import graft.queries.DedupQueries
    val edges = (0L until 12L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
      .toDF("src", "dst")
    val labels = DedupQueries.propagateMinLabels(edges, maxIter = 20)
    // every node converges to the component minimum (0)
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.size === 13 && got.values.forall(_ === 0L))
    // with checkpoint cadence 5, at most ~4 un-truncated rounds (~15 nodes
    // each) sit atop the last LogicalRDD; without truncation all ~13 rounds
    // nest (≈200 nodes, growing with diameter)
    val depth = labels.queryExecution.logical.collect { case p => p }.size
    assert(depth < 100,
      s"plan has $depth nodes after 12 rounds — lineage is not being truncated")
  }

  test("v9 hamming search broadcasts the probe and plans top-k, never a shuffle sort") {
    val q = graft.queries.Registry.all("v9_hamming_search")
      .fn(spark, "/root/testdata/sf0.001")
    q.collect()
    val plan = finalPlan(q)
    // the 1-row probe must be broadcast to the corpus scan …
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"probe row not broadcast:\n$plan")
    // … and both limit stages must plan as top-k, not global sorts
    assert(plan.contains("TakeOrderedAndProject"), s"no top-k plan:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"full sort shuffle in a top-k pipeline:\n$plan")
  }

  test("v11 matryoshka search broadcasts the probe and plans both stages as top-k") {
    val q = graft.queries.Registry.all("v11_matryoshka_search")
      .fn(spark, "/root/testdata/sf0.001")
    q.collect()
    val plan = finalPlan(q)
    // the 1-row probe (prefix + full vector) broadcasts to the corpus scan
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"probe row not broadcast:\n$plan")
    // prefix-scan top-50 and re-rank top-10 both plan as top-k
    assert(plan.contains("TakeOrderedAndProject"), s"no top-k plan:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"full sort shuffle in a top-k pipeline:\n$plan")
  }

  test("v13 filtered search pushes the predicate below the dot product") {
    val q = graft.queries.Registry.all("v13_filtered_topk")
      .fn(spark, "/root/testdata/sf0.001")
    // inspect the INITIAL plan (materialized AQE stages are leaf nodes —
    // scans inside them are invisible to a tree collect)
    val s = scans(q)
    assert(s.exists(_.metadata("PushedFilters").contains("EqualTo(label,3)")),
      s.map(_.metadata("PushedFilters")).mkString("; "))
    q.collect()
    val plan = finalPlan(q)
    assert(plan.contains("TakeOrderedAndProject"), s"no top-k plan:\n$plan")
  }

  test("t20 span dedup: census semi-join without cartesian fallback or forced broadcast") {
    val q = graft.queries.Registry.all("t20_span_dedup")
      .fn(spark, "/root/testdata/sf0.001")
    q.collect()
    val plan = finalPlan(q)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"span census degenerated to all-pairs:\n$plan")
    // the hot-span set is corpus-sized-unbounded: the ANALYZED plan must not
    // carry a forced broadcast hint (AQE may still pick broadcast at toy
    // scale, which is fine — the point is we don't FORCE it)
    val analyzed = q.queryExecution.analyzed.toString
    assert(!analyzed.contains("ResolvedHint"),
      s"hot-span set force-broadcast — unbounded at corpus scale:\n$analyzed")
  }

  test("t23 CDC chunking is map-only: zero exchanges over the corpus") {
    val q = graft.queries.Registry.all("t23_cdc_chunking")
      .fn(spark, "/root/testdata/sf0.001")
    q.collect()
    // the orderBy is presentation-only; assert the CHUNKING stages (all but
    // the final sort) introduce no shuffle: exactly one exchange total
    val plan = finalPlan(q)
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 1, s"chunking itself shuffled (found $exchanges exchanges):\n$plan")
  }

  test("t41 classifier scoring is map-only: the dot product never shuffles the corpus") {
    val q = graft.queries.Registry.all("t41_quality_classifier")
      .fn(spark, "/root/testdata/sf0.001")
    q.collect()
    // the hashed-bigram × pinned-weights dot product runs inside ONE
    // projection (aggregate() over the shingle array, element_at into a
    // literal weight vector) — no explode, no groupBy. The only exchange
    // allowed is the presentation orderBy's range partitioning.
    val plan = finalPlan(q)
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 1,
      s"classifier scoring shuffled the corpus (found $exchanges exchanges):\n$plan")
    assert(!plan.contains("Generate"),
      s"feature scoring must not explode the corpus:\n$plan")
  }

  test("v18 batch ANN reads the codes table ONCE for all queries") {
    val q = graft.queries.Registry.all("v18_batch_ann")
      .fn(spark, "/root/testdata/sf0.001")
    q.collect()
    // the one-pass claim IS the operator: Q queries share a single
    // partition-pruned codes scan (a search() loop would show Q scans)
    val plan = finalPlan(q)
    val scans = plan.linesIterator.filter(l => l.contains("FileScan parquet") &&
      l.contains("ManifestFileIndex") && "[\\[,]codes#\\d+".r.findFirstIn(l).isDefined).toSeq
    assert(scans.size == 1, s"expected ONE codes scan, found ${scans.size}:\n$plan")
    // and the probed-cell union reached the codes scan as a partition filter
    assert("PartitionFilters: \\[cell#\\d+ IN".r.findFirstIn(scans.head).isDefined,
      s"cell pruning not pushed into the codes scan:\n$plan")
  }

  test("d15 bloom prescreen: the probe is map-only, only maybes reach the join") {
    val q = graft.queries.Registry.all("d15_bloom_prescreen")
      .fn(spark, "/root/testdata/sf0.001")
    q.collect()
    val plan = finalPlan(q)
    // the bloom probe must run inside the scan's projection (no exchange
    // between the parquet read and the maybe-split), and the exact
    // anti-join must exist for the maybe side only
    assert(plan.contains("bloom_might_contain"),
      s"probe expression missing from the physical plan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"maybe-side anti-join should stay broadcast-sized here:\n$plan")
  }

  test("t21 dataset card computes all rollup grains in one Expand pass") {
    val q = graft.queries.Registry.all("t21_dataset_card")
      .fn(spark, "/root/testdata/sf0.001")
    q.collect()
    val plan = finalPlan(q)
    assert(plan.contains("Expand"), s"rollup did not plan an Expand:\n$plan")
    // one corpus scan — three grains must not mean three reads (AQE hides
    // scans inside query stages, so count on the rendered plan)
    val scanCount = "Scan parquet".r.findAllIn(plan).size
    assert(scanCount === 1, s"expected 1 documents scan, found $scanCount:\n$plan")
  }

  test("t22 DSIR selection broadcasts the bounded census, never shuffles it back") {
    val q = graft.queries.Registry.all("t22_dsir_selection")
      .fn(spark, "/root/testdata/sf0.001")
    q.collect()
    val plan = finalPlan(q)
    // the 256-bucket enriched set and the 1-row totals are broadcast — the
    // bigram stream must never sort-merge against census-sized sides
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"census not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"bigram stream shuffled against a bounded census:\n$plan")
  }

  test("v14 maxsim broadcasts the query tokens and combines map-side") {
    val q = graft.queries.Registry.all("v14_maxsim")
      .fn(spark, "/root/testdata/sf0.001")
    q.collect()
    val plan = finalPlan(q)
    // the 5-token query side broadcasts; the cross product never shuffles
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query tokens not broadcast:\n$plan")
    // both aggregations combine map-side: the shuffle carries per-(doc,
    // token) maxima, then per-doc partial sums — never the cross product
    assert(plan.contains("partial_max"), s"no map-side max before the shuffle:\n$plan")
    assert(plan.contains("partial_sum"), s"no map-side sum before the shuffle:\n$plan")
  }

  test("SQL snapshot views route through the connector: filters prune files") {
    val root = scratch("plan_sqlskip")
    val t = new MergeTable(root, Seq("p"), statsCols = Seq("k"))
    t.overwrite(spark.range(30).select(col("id").as("k"),
      (col("id") / 10).cast("int").cast("string").as("p")).repartition(1))
    graft.sqlapi.LakeCatalog.register("plan_skip_t", t)
    try {
      val q = spark.sql("SELECT k FROM plan_skip_t WHERE p = '1' AND k = 15")
      assert(q.collect().map(_.getLong(0)).toSeq === Seq(15L))
      // the rewritten view is the snapshot's own scan over its manifest,
      // and BOTH predicates reach it — the partition conjunct as a
      // partition filter, the stats conjunct as a pushed filter — so the
      // manifest-level pruning opens one file
      val plan = finalPlan(q)
      assert(plan.contains("ManifestFileIndex"),
        s"SQL view did not read the snapshot's manifest:\n$plan")
      assert(plan.contains("EqualTo(k,15)") &&
        "PartitionFilters: \\[[^\\]]*\\(p#\\d+ = 1\\)".r.findFirstIn(plan).isDefined,
        s"predicates not pushed to the snapshot scan:\n$plan")
      assert(filesScanned(spark.sql("SELECT k FROM plan_skip_t WHERE p = '1' AND k = 15")) === 1L)
    } finally graft.sqlapi.LakeCatalog.unregister("plan_skip_t")
  }

  test("aggregation pipeline runs inside WholeStageCodegen") {
    val df = (1 to 5000).map(i => (i % 10, i.toLong)).toDF("g", "v")
    val q = df.filter($"v" > 10).groupBy("g")
      .agg(count(lit(1)).as("n"), sum("v").as("s"), avg("v").as("a"))
    q.collect()
    // executedPlan.toString renders codegen stages as "*(n) Op" prefixes
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"agg path fell out of codegen:\n$plan")
    assert(plan.contains("*(") && plan.indexOf("*(") < plan.indexOf("HashAggregate"),
      s"final HashAggregate not codegen'd:\n$plan")
    // map-side combine: a partial_ aggregate must feed the exchange
    assert(plan.contains("partial_count"), s"no partial aggregation before shuffle:\n$plan")
    assert(plan.contains("Exchange hashpartitioning"), s"no hash exchange on group keys:\n$plan")
  }

  test("e20 funnel: every corpus shuffle keys on user_id, windows share one exchange") {
    val q = graft.queries.Registry.all("e20_funnel")
      .fn(spark, "/root/testdata/sf0.001")
    q.collect()
    val plan = finalPlan(q)
    // four windows + the per-user collapse all partition by user_id and
    // share ONE exchange; only the final 4-column census crosses a
    // SinglePartition exchange. Nothing may Expand the corpus.
    val hashKeys = "Exchange hashpartitioning\\(([^,]+)".r
      .findAllMatchIn(plan).map(_.group(1).takeWhile(_ != '#')).toSeq
    assert(hashKeys == Seq("user_id"),
      s"expected exactly one user_id hash exchange, got $hashKeys:\n$plan")
    assert(!plan.contains("Expand"),
      s"funnel census must not Expand the corpus:\n$plan")
  }

  test("t38 terciles: no global sort, no single-partition window, threshold broadcast") {
    val q = graft.queries.Registry.all("t38_ccnet_buckets")
      .fn(spark, "/root/testdata/sf0.001")
    q.collect()
    val plan = finalPlan(q)
    // ntile/global rank would plan `Exchange SinglePartition + Window` —
    // the tercile split must not (the 1-row threshold aggregate's own
    // SinglePartition exchange is fine; a Window over one is not)
    assert(!plan.contains("Window"),
      s"tercile assignment must be value-based, not a window:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"the 1-row threshold frame must broadcast:\n$plan")
  }

  test("t39 curation composes without cartesian joins or corpus Expand") {
    val q = graft.queries.Registry.all("t39_curation_pipeline")
      .fn(spark, "/root/testdata/sf0.001")
    q.collect()
    val plan = finalPlan(q)
    assert(!plan.contains("CartesianProduct"),
      s"five-stage curation must never plan a cartesian join:\n$plan")
    assert(!plan.contains("Expand"),
      s"no grouping-set/distinct Expand over the corpus:\n$plan")
  }

  test("mm8 frame sampling is map-only: zero exchanges over the media") {
    val q = graft.queries.Registry.all("mm8_video_frames")
      .fn(spark, "/root/testdata/sf0.001")
    q.collect()
    val plan = finalPlan(q)
    assert(!plan.contains("Exchange"),
      s"media encode→decode→sample must not shuffle payload bytes:\n$plan")
  }
}
