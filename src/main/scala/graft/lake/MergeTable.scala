package graft.lake

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/** Versioned-snapshot Parquet table with a Delta-style MERGE upsert,
  * built with zero Delta jars.
  *
  * Re-implements the Delta Lake surface the reference uses
  * (`DeltaTable.isDeltaTable` / `forPath` / `merge.whenMatchedUpdateAll.
  * whenNotMatchedInsertAll` / `format("delta").mode("overwrite")` at
  * glue_jobs/01_silver_delta_upsert.py:99-121 and
  * glue_jobs/02_gold_analytics.py:147-209).
  *
  * Layout:
  * {{{
  *   <root>/d<version>u<attempt>/[<p>=<v>/...]part-*.parquet  data directories
  *                                                   (unique per write attempt)
  *   <root>/_graft_log/<version>.commit              THE commit: schema DDL +
  *                                                   manifest — either the full
  *                                                   file list + per-file stats
  *                                                   (a CHECKPOINT, forced every
  *                                                   [[MergeTable.CheckpointEvery]]
  *                                                   versions) or an incremental
  *                                                   add/remove delta against a
  *                                                   `base` version (Delta's
  *                                                   add/remove actions) —
  *                                                   published atomically by
  *                                                   hard-link put-if-absent
  *   <root>/_graft_log/_LATEST                       tip cache (atomic swap;
  *                                                   readers forward-scan)
  *   <root>/cdf/<dataDir>/                           change-feed rows (optional):
  *                                                   written BEFORE the commit
  *                                                   into <root>/cdf_stage/<dataDir>
  *                                                   (invisible to the cdf glob),
  *                                                   renamed here atomically after
  *                                                   the commit records them (`cdf`)
  *   <root>/dv/<attempt>/                            deletion-vector sidecars
  *                                                   (`dv` commit lines bind them
  *                                                   per data file; see
  *                                                   deleteVectorized)
  * }}}
  *
  * Scale design (100 TB): MERGE rewrites ONLY the data files that contain a
  * key matched by the source (same file-pruning idea as Delta's MERGE
  * rewrite): a left-semi join of target×source marks touched files via
  * `input_file_name()`; untouched files are carried forward by manifest
  * reference, never copied. Commits are an atomic one-line `_LATEST` swap,
  * so readers always see a complete snapshot and re-runs are idempotent.
  * The collected file list is metadata (~file count strings), never data.
  *
  * Why the touched-file probe does NOT partition-prune on the source's
  * partition values: matched target rows may live in ANY partition — the
  * key join is not partition-aligned, and updates are allowed to MOVE rows
  * across partitions (the silver re-delivery case: a re-sent call_id
  * carries the new processing date's year/month while its old row sits in
  * last month's partition). Restricting the probe to the source's partition
  * set would miss that old row and duplicate the key. Partition pruning is
  * only sound when the merge keys functionally determine the partition
  * values (e.g. gold tables keyed on call_date and partitioned by
  * year/month derived from it) — callers that can vouch for that functional
  * dependency opt in via `merge(..., keysDeterminePartitions = true)`; the
  * engine stays correct by default.
  */
final class MergeTable(val root: String, val partitionCols: Seq[String] = Nil,
                       val statsCols: Seq[String] = Nil,
                       val generatedCols: Seq[(String, String)] = Nil,
                       val identityCol: Option[(String, Long, Long)] = None,
                       rowTracking: Boolean = false) {

  /** Row tracking IN FORCE: the constructor flag OR the persisted
    * `graft.rowTracking` table property. Delta records row tracking as a
    * table feature in the log precisely so the flag cannot be dropped by
    * accident — a handle opened WITHOUT the constructor flag on a tracked
    * table must still write id-bearing files, or later tracked readers
    * would see NULL ids and the uniqueness/stability invariants would
    * degrade silently. The property is persisted by the first commit a
    * tracking handle publishes (see [[commit]]); derived once per handle
    * (the property is never unset by any supported operation).
    */
  lazy val rowTrackingEnabled: Boolean =
    rowTracking || (exists && readMeta(currentVersion).props.toMap
      .get(MergeTable.RowTrackingProp).contains("true"))

  private val logDir: Path = Paths.get(root, "_graft_log")
  private def latestPath: Path = logDir.resolve("_LATEST")
  private def commitPath(version: Long): Path = logDir.resolve(s"$version.commit")

  /** Commit wall-clock source — injectable for deterministic tests (the
    * same pattern as the pipeline's injected processing date). Production
    * callers never touch it. [[commit]] records `max(clock(), prev+1)`, so
    * even a clock running backwards (NTP step, cross-host writers) yields
    * strictly increasing in-commit timestamps — Delta's inCommitTimestamp
    * monotonicity rule, which is what makes `TIMESTAMP AS OF` well-defined.
    */
  private[graft] var clock: () => Long = () => System.currentTimeMillis()

  /** One commit = ONE log file (`<version>.commit`: schema + file list +
    * per-file stats), published atomically by hard-link put-if-absent — the
    * commit either fully exists or doesn't, there is no window where a
    * version's schema and file list can disagree, and a crashed writer
    * leaves only an unreferenced temp file. `_LATEST` is merely a tip CACHE
    * (readers forward-scan from it), so losing the `_LATEST` update to a
    * crash costs a few `exists` probes, never correctness — the commit
    * file itself is the source of truth, exactly Delta's N.json protocol.
    */
  private case class Commit(schema: StructType, files: Seq[String],
                            statsLines: Seq[String], cdfDir: Option[String],
                            constraints: Seq[(String, String)],
                            txns: Map[String, Long],
                            dvs: Seq[(String, String, Long)],
                            colmap: Seq[(String, String)],
                            retired: Seq[String],
                            props: Seq[(String, String)],
                            tsMillis: Option[Long],
                            features: Seq[String]) {
    /** Columns with at least one recorded stats line in this snapshot. A
      * conjunct on any other column keeps every file, so the log admit of
      * [[ManifestFileIndex]] leaves it out.
      */
    lazy val statsColumns: Set[String] =
      statsLines.iterator.map { l =>
        val i = l.indexOf('\t')
        val j = l.indexOf('\t', i + 1)
        if (j < 0) l.substring(i + 1) else l.substring(i + 1, j)
      }.toSet.map(dec) - MergeTable.CountStatKey

    /** [[statsDetail]] and [[nullCounts]], parsed once per resolved commit:
      * every filtered read of the snapshot consults them.
      */
    lazy val statsDetail: Map[String, Map[String, (String, String, Char)]] =
      statsLines.map { line =>
        val parts = line.split("\t", -1)
        val flag = if (parts.length >= 5 && parts(4).nonEmpty) parts(4).charAt(0) else '?'
        (dec(parts(0)), dec(parts(1)), dec(parts(2)), dec(parts(3)), flag)
      }.filterNot(_._2 == MergeTable.CountStatKey) // row counts are not column bounds
        .groupBy(_._1).map { case (f, rows) =>
          f -> rows.map(r => r._2 -> ((r._3, r._4, r._5))).toMap
        }

    lazy val nullCounts: Map[(String, String), Long] =
      statsLines.flatMap { line =>
        val parts = line.split("\t", -1)
        if (parts.length >= 6 && dec(parts(1)) != MergeTable.CountStatKey)
          parts(5).toLongOption.map(n => (dec(parts(0)), dec(parts(1))) -> n)
        else None
      }.toMap
  }

  /** Single-slot resolved-snapshot cache. SOUND because a published commit
    * file is immutable (put-if-absent link; vacuum deletes whole versions,
    * and a vacuumed version fails the existence probe before the cache is
    * consulted... it is keyed by version and never served for a different
    * one). One operation typically asks the SAME version for files,
    * schema, colmap and dvs back to back — four full manifest decodes
    * collapse to one. Deliberately ONE slot: the driver holds at most one
    * extra resolved manifest, not a growing history of them.
    */
  @volatile private var commitCache: (Long, Commit) = null

  private def readCommit(version: Long): Commit = {
    val cached = commitCache
    if (cached != null && cached._1 == version) return cached._2
    val resolved = readCommitUncached(version)
    commitCache = (version, resolved)
    resolved
  }

  private def readCommitUncached(version: Long): Commit = Timing.time("readCommit") {
    val lines = Files.readString(commitPath(version)).split("\n").toSeq
    // protocol guard (Delta's protocol action): a commit written by a
    // FUTURE format version must fail loudly here, not be half-read —
    // pre-feature commits carry no line and read as version 1
    lines.find(_.startsWith("protocol\t")).foreach { l =>
      val v = l.stripPrefix("protocol\t").trim.takeWhile(_.isDigit)
      require(v.nonEmpty && v.toInt <= MergeTable.ReaderVersion,
        s"commit $version of $root requires reader protocol $v, this build " +
          s"supports <= ${MergeTable.ReaderVersion} — upgrade the library to read this table")
    }
    val schema = MergeTable.parseSchema(dec(lines.head.stripPrefix("schema\t")))
    // An INCREMENTAL commit (Delta add/remove-action analog) records a
    // `base` version plus this commit's file delta instead of the full
    // manifest; the base chain is bounded by the full-manifest cadence
    // ([[MergeTable.CheckpointEvery]]), so resolution reads at most that
    // many log files — the O(last full manifest + tail) read, vs the
    // O(total files) PER COMMIT a full manifest would cost writers at
    // 100 TB file counts.
    val baseV = lines.collectFirst {
      case l if l.startsWith("base\t") => l.stripPrefix("base\t").toLong
    }
    val (files, stats) = baseV match {
      case None =>
        (lines.collect { case l if l.startsWith("file\t") => dec(l.stripPrefix("file\t")) },
         lines.collect { case l if l.startsWith("stat\t") => l.stripPrefix("stat\t") })
      case Some(bv) =>
        val b = readCommit(bv)
        val removed = lines.collect {
          case l if l.startsWith("remove\t") => dec(l.stripPrefix("remove\t"))
        }.toSet
        val added = lines.collect {
          case l if l.startsWith("add\t") => dec(l.stripPrefix("add\t"))
        }
        // stat lines in an incremental commit belong ONLY to added files;
        // retained files keep the base's lines, removed files drop theirs
        val addedStats = lines.collect {
          case l if l.startsWith("stat\t") => l.stripPrefix("stat\t")
        }
        (b.files.filterNot(removed) ++ added,
         b.statsLines.filterNot(l => removed.contains(dec(l.takeWhile(_ != '\t')))) ++ addedStats)
    }
    // metadata lines share ONE parser with readMeta — the two readers can
    // never drift on the line format
    val meta = parseMeta(lines.iterator)
    Commit(schema, files, stats, meta.cdfDir, meta.constraints, meta.txns, meta.dvs,
      meta.colmap, meta.retired, meta.props, meta.tsMillis, meta.features)
  }

  /** The non-file metadata of a commit (cdf dir, constraints, this commit's
    * ingest-ledger lines, txns, operation name) WITHOUT materializing the
    * file/stat lines — manifests are the dominant part of a commit (10^5+
    * lines at scale), and the metadata readers on the hot write path
    * (constraint lookup, txn lookup, carry-forward) must not pay a
    * full-manifest decode per call.
    *
    * `ingested` holds only the files THIS commit added to the COPY INTO
    * ledger (Delta's add-action shape — per-commit deltas, unioned at read
    * time by [[ledgerAt]]); `ingestReset` marks a commit whose lines
    * REPLACE the whole ledger (restore/clone roll it back wholesale).
    *
    * `dvs` are the snapshot's deletion-vector bindings
    * `(dataFile, dvDir, deletedRowCount)` — one line per data file that
    * carries masked-out rows (Delta's DV add-action analog). Sparse in
    * practice (only files with un-compacted deletes), but bounded by the
    * manifest size, not by a constant — still metadata, never data.
    *
    * `colmap` is the column-mapping (Delta column-mapping analog): the
    * snapshot's logical column name → the PHYSICAL name under which data
    * files store it. Only non-identity entries are recorded. `retired` is
    * the set of physical names abandoned by DROP COLUMN — still present in
    * old data files, so they may never be handed to a new column (a reused
    * physical name would resurrect dropped data).
    */
  private case class CommitMeta(cdfDir: Option[String],
                                constraints: Seq[(String, String)],
                                ingested: Seq[String],
                                ingestReset: Boolean,
                                txns: Map[String, Long],
                                operation: String,
                                dvs: Seq[(String, String, Long)],
                                colmap: Seq[(String, String)],
                                retired: Seq[String],
                                props: Seq[(String, String)],
                                tsMillis: Option[Long],
                                opMetrics: Option[(Long, Long, Long)],
                                features: Seq[String])

  private def parseMeta(lines: Iterator[String]): CommitMeta = {
    var cdf: Option[String] = None
    val checks = Seq.newBuilder[(String, String)]
    val ingested = Seq.newBuilder[String]
    var ingestReset = false
    val txns = Map.newBuilder[String, Long]
    var op = "UNKNOWN"
    val dvs = Seq.newBuilder[(String, String, Long)]
    val colmap = Seq.newBuilder[(String, String)]
    val retired = Seq.newBuilder[String]
    val props = Seq.newBuilder[(String, String)]
    var tsMillis: Option[Long] = None
    var opMetrics: Option[(Long, Long, Long)] = None
    val feats = Seq.newBuilder[String]
    lines.foreach {
      case l if l.startsWith("cdf\t") => cdf = Some(dec(l.stripPrefix("cdf\t")))
      case l if l.startsWith("ts\t") => tsMillis = Some(l.stripPrefix("ts\t").toLong)
      case l if l.startsWith("opm\t") =>
        val Array(a, r, n) = l.stripPrefix("opm\t").split("\t", 3)
        opMetrics = Some((a.toLong, r.toLong, n.toLong))
      case l if l.startsWith("check\t") =>
        val Array(n, p) = l.stripPrefix("check\t").split("\t", 2)
        checks += (dec(n) -> dec(p))
      case l if l.startsWith("ingest\t") => ingested += dec(l.stripPrefix("ingest\t"))
      case l if l.startsWith("ingestreset") => ingestReset = true
      case l if l.startsWith("op\t") => op = dec(l.stripPrefix("op\t"))
      case l if l.startsWith("txn\t") =>
        val Array(a, ver) = l.stripPrefix("txn\t").split("\t", 2)
        txns += (dec(a) -> ver.toLong)
      case l if l.startsWith("dv\t") =>
        val Array(f, d, n) = l.stripPrefix("dv\t").split("\t", 3)
        dvs += ((dec(f), dec(d), n.toLong))
      case l if l.startsWith("colmap\t") =>
        val Array(lg, ph) = l.stripPrefix("colmap\t").split("\t", 2)
        colmap += (dec(lg) -> dec(ph))
      case l if l.startsWith("retired\t") =>
        retired += dec(l.stripPrefix("retired\t"))
      case l if l.startsWith("prop\t") =>
        val Array(k, vl) = l.stripPrefix("prop\t").split("\t", 2)
        props += (dec(k) -> dec(vl))
      case l if l.startsWith("feature\t") => feats += dec(l.stripPrefix("feature\t"))
      case _ => ()
    }
    // Table-feature gate (Delta's readerFeatures): a commit NAMING a
    // feature this build doesn't implement must fail loudly here — on the
    // shared parse path, so neither a reader nor a carrying-forward writer
    // can half-process a table whose semantics it doesn't understand
    // (the protocol VERSION line is the coarse cross-format guard; features
    // are the per-capability one, and they only ever accrue).
    val features = feats.result().distinct
    val unknown = features.filterNot(MergeTable.SupportedFeatures)
    require(unknown.isEmpty,
      s"table requires features ${unknown.mkString(", ")} not supported by this " +
        s"build (supported: ${MergeTable.SupportedFeatures.toSeq.sorted.mkString(", ")}) — " +
        "upgrade the library to read this table")
    CommitMeta(cdf, checks.result(), ingested.result(), ingestReset, txns.result(), op,
      dvs.result(), colmap.result(), retired.result(), props.result(), tsMillis,
      opMetrics, features)
  }

  private def readMeta(version: Long): CommitMeta = Timing.time("readMeta") {
    val s = Files.lines(commitPath(version))
    try parseMeta(s.iterator().asScala) finally s.close()
  }

  /** Reference's `DeltaTable.isDeltaTable` probe (01:99; 02:147,172,197). */
  def exists: Boolean = Files.exists(latestPath) || Files.exists(commitPath(0))

  /** The committed tip: the `_LATEST` cache fast-forwarded over any commit
    * files whose cache update was lost to a crash.
    */
  def currentVersion: Long = {
    require(exists, s"MergeTable at $root does not exist")
    var v = if (Files.exists(latestPath)) Files.readString(latestPath).trim.toLong else 0L
    while (Files.exists(commitPath(v + 1))) v += 1
    v
  }

  /** A commit's publish time: the in-commit timestamp when recorded
    * (every commit since the feature landed), else the commit file's mtime
    * (pre-feature tables — files are never rewritten after publish, so
    * mtime is a faithful fallback). The single time source for
    * `TIMESTAMP AS OF`, `DESCRIBE HISTORY`, and `DESCRIBE DETAIL`.
    */
  def commitTimeMillis(version: Long): Long =
    readMeta(version).tsMillis
      .getOrElse(Files.getLastModifiedTime(commitPath(version)).toMillis)

  /** Latest version whose commit was published at or before `tsMillis`
    * (Delta's `TIMESTAMP AS OF` resolution rule: the snapshot a reader at
    * that wall-clock instant would have seen). In-commit timestamps are
    * strictly increasing ([[commit]] clamps), so a linear scan over
    * metadata lines resolves it unambiguously. Fails when the timestamp
    * precedes the first commit.
    */
  def versionAt(tsMillis: Long): Long = {
    require(exists, s"MergeTable at $root does not exist")
    val vs = (0L to currentVersion)
      .filter(v => Files.exists(commitPath(v)) && commitTimeMillis(v) <= tsMillis)
    require(vs.nonEmpty,
      s"no version of $root existed at timestamp $tsMillis — the first commit " +
        s"was published at ${commitTimeMillis(0)}")
    vs.max
  }

  def schemaOf(version: Long): StructType = readCommit(version).schema

  def filesOf(version: Long): Seq[String] = readCommit(version).files

  def read(spark: SparkSession): DataFrame = readVersion(spark, currentVersion)

  /** Current snapshot WITH the row-tracking id column
    * ([[MergeTable.RowIdCol]]) projected — the audit/lineage surface of
    * `rowTracking`: ids are unique, assigned once at first write, and
    * survive merge/update/compaction rewrites verbatim (fresh rows get
    * fresh ids). Requires a `rowTracking = true` table.
    */
  def readWithRowIds(spark: SparkSession): DataFrame = {
    require(rowTrackingEnabled, s"MergeTable at $root was not created with rowTracking = true")
    val v = currentVersion
    readVersionFiles(spark, v, filesOf(v), withRowIds = true)
  }

  /** Rows ADDED between `fromVersion` (exclusive; pass -1 for "nothing
    * yet" — the whole snapshot becomes the first batch, Delta's
    * initial-snapshot semantics) and `toVersion` (inclusive), for the
    * append-only streaming source: the files `toVersion` lists that
    * `fromVersion` didn't, read under `toVersion`'s schema. A range that
    * is NOT append-only — files removed (merge/delete/compact rewrote
    * them) or dv bindings changed — fails loudly unless `ignoreChanges`
    * (Delta's own readStream contract: updates need the change feed,
    * [[changesStream]]).
    */
  private[graft] def addedBetween(spark: SparkSession, fromVersion: Long,
                                  toVersion: Long,
                                  ignoreChanges: Boolean = false,
                                  pruneWith: Seq[sources.Filter] = Nil): DataFrame = {
    val newFiles = filesOf(toVersion)
    val oldFiles = if (fromVersion < 0) Seq.empty[String] else filesOf(fromVersion)
    val oldSet = oldFiles.toSet
    if (!ignoreChanges) {
      val removed = oldFiles.filterNot(newFiles.toSet)
      val dvMoved = fromVersion >= 0 && dvsOf(fromVersion) != dvsOf(toVersion)
      require(removed.isEmpty && !dvMoved,
        s"stream source on $root: versions $fromVersion→$toVersion rewrote or " +
          "dv-masked existing files — an append-only stream cannot represent " +
          "updates/deletes; read the change feed (changesStream) or set " +
          "ignoreChanges to skip rewritten data")
    }
    val added = newFiles.filterNot(oldSet)
    // Stream-side data skipping: when the source carries a `where` option,
    // its translatable conjuncts prune THIS BATCH's files through the same
    // partition/stats machinery as batch reads — a consumer of
    // one partition of a firehose table reads that partition's files, not
    // every commit's. Sound because the source ALSO applies the predicate
    // to the surviving rows (pruning is an optimization, never the filter).
    val selected =
      if (pruneWith.isEmpty) added
      else {
        val kept = pruneFilesFor(spark, toVersion, pruneWith, Some(added))
        MergeTable.lastStreamPrune = (added.size.toLong, kept.size.toLong)
        kept
      }
    readVersionFiles(spark, toVersion, selected)
  }

  /** The translatable conjuncts of a SQL predicate string, resolved
    * against `version`'s schema — the streaming source's `where` option
    * parses through here ONCE at query start. Conjuncts Spark cannot
    * translate to v1 filters simply don't prune (the predicate itself is
    * still applied to every batch row); a non-deterministic predicate is
    * rejected loudly rather than silently mis-pruning.
    */
  private[graft] def eligibleFilters(spark: SparkSession, version: Long,
                                     whereSql: String): Seq[sources.Filter] = {
    val cond = MergeTable.conditionOf(spark, schemaOf(version), expr(whereSql))
    require(cond.deterministic,
      s"stream source on $root: where option must be deterministic, got: $whereSql")
    translatedConjuncts(cond)
  }

  /** A resolved condition's top-level conjuncts as `sources.Filter`s; one
    * Spark cannot translate is left out.
    */
  private def translatedConjuncts(
      cond: org.apache.spark.sql.catalyst.expressions.Expression): Seq[sources.Filter] =
    cond match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        translatedConjuncts(l) ++ translatedConjuncts(r)
      case x => org.apache.spark.sql.GraftSqlShims.translateFilter(x).toSeq
    }

  /** Time-travel read of any retained snapshot: that version's file list,
    * schema, column mapping and deletion vectors, scanned as one relation
    * over the log's file list (see [[readFiles]]) — no file listing, at any
    * version. Versions older than the vacuum horizon fail fast with a
    * clear error instead of a mid-scan missing-file failure.
    */
  def readVersion(spark: SparkSession, version: Long): DataFrame = {
    val horizon = vacuumHorizon
    require(version >= horizon,
      s"version $version of $root was vacuumed (oldest retained version is $horizon) — " +
        "re-run vacuum with a larger retainVersions to keep longer time-travel windows")
    readVersionFiles(spark, version, filesOf(version))
  }

  /** The subset of `version`'s files (or of `among`, a subset of them: the
    * streaming source prunes each micro-batch's added files) that
    * [[ManifestFileIndex]] keeps for a read filtered by `filters` ([[keptBy]]),
    * or all of them when no conjunct names a partition column, a statted
    * column or a Bloom-indexed one.
    */
  private[graft] def pruneFilesFor(spark: SparkSession, version: Long,
                                   filters: Seq[sources.Filter],
                                   among: Option[Seq[String]] = None): Seq[String] =
    Timing.time("pruneFilesFor") {
      val all = among.getOrElse(filesOf(version))
      val conjuncts = MergeTable.flattenAnd(filters)
      val names = schemaOf(version).fieldNames
      // with nothing the partitions, the log or a Bloom index decide, only
      // footers could drop a file: keep them all and plan nothing
      if (!ManifestFileIndex.mayDecide(spark, root, logOf(version), partitionCols, conjuncts)) all
      else conjuncts // one naming a column the version lacks could only keep files
        .filter(_.references.forall(r => names.exists(_.equalsIgnoreCase(r))))
        .flatMap(MergeTable.translateFilter).reduceOption(_ && _)
        .fold(all)(keptBy(spark, version, all, _))
    }

  /** The files of `files` (of snapshot `version`) that the scan of their
    * read filtered by `predicate` keeps ([[ManifestFileIndex.keptFiles]]),
    * found by planning it with no Spark job; none when the plan has no scan.
    */
  private def keptBy(spark: SparkSession, version: Long, files: Seq[String],
                     predicate: Column): Seq[String] =
    readFiles(spark, files, schemaOf(version), colmapOf(version), log = Some(logOf(version)))
      .filter(predicate).queryExecution.sparkPlan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s.relation.location
          .asInstanceOf[ManifestFileIndex].keptFiles(s.partitionFilters, s.dataFilters)
      }.getOrElse(Nil)

  /** Files a commit ADDED vs its predecessor — the recorded per-commit
    * operation metrics when present (one metadata-line parse), a manifest
    * diff otherwise. The streaming source's rate-limit walk
    * (`maxFilesPerTrigger`) runs on this, so it must stay metadata-sized.
    */
  private[graft] def addedFilesCount(version: Long): Long =
    readMeta(version).opMetrics.map(_._1).getOrElse {
      val prev = if (version == 0) Set.empty[String] else filesOf(version - 1).toSet
      filesOf(version).count(f => !prev.contains(f))
    }

  /** Bytes a commit ADDED (sum of its new files' sizes) — the
    * `maxBytesPerTrigger` walk's unit. O(added files) size probes per
    * version, metadata-speed; a vanished file counts zero (vacuumed
    * history behind the stream's position).
    */
  private[graft] def addedBytes(version: Long): Long = {
    val prev = if (version == 0) Set.empty[String] else filesOf(version - 1).toSet
    filesOf(version).filterNot(prev.contains).map { f =>
      try Files.size(Paths.get(root, f)) catch { case _: java.io.IOException => 0L }
    }.sum
  }

  /** The (file count, byte) footprint of a commit's CHANGE-FEED dir —
    * the CDF stream's rate-limit unit; (0, 0) when the commit recorded no
    * feed.
    */
  private[graft] def cdfFootprint(version: Long): (Long, Long) =
    readMeta(version).cdfDir match {
      case None => (0L, 0L)
      case Some(d) =>
        val p = Paths.get(root, d)
        if (!Files.exists(p)) (0L, 0L)
        else {
          val files = Files.walk(p).iterator().asScala
            .filter(f => Files.isRegularFile(f) &&
              f.getFileName.toString.endsWith(".parquet")).toSeq
          (files.size.toLong, files.map(f =>
            try Files.size(f) catch { case _: java.io.IOException => 0L }).sum)
        }
    }

  /** The snapshot's deletion-vector bindings: data file → (dv dir, count). */
  private def dvsOf(version: Long): Map[String, (String, Long)] =
    readCommit(version).dvs.map { case (f, d, n) => f -> (d, n) }.toMap

  /** The snapshot's column mapping: logical name → physical name, identity
    * entries omitted (see [[renameColumn]]/[[dropColumn]]).
    */
  private def colmapOf(version: Long): Map[String, String] =
    readCommit(version).colmap.toMap

  /** Public view of the column mapping (audit/test surface). */
  def columnMapping: Map[String, String] = colmapOf(currentVersion)

  private def physOf(colmap: Map[String, String], logical: String): String =
    colmap.getOrElse(logical, logical)

  /** Public view of a snapshot's deletion-vector bindings
    * `(dataFile, dvDir, maskedRowCount)` — the audit/test surface for
    * [[deleteVectorized]] (DESCRIBE DETAIL-style introspection).
    */
  def deletionVectors(version: Long): Seq[(String, String, Long)] =
    readCommit(version).dvs

  def deletionVectors: Seq[(String, String, Long)] = deletionVectors(currentVersion)

  /** The scan-side dv key: the row's source file as a ROOT-RELATIVE path —
    * the exact string the manifest records. Every data file sits at
    * `dataDir/<one dir per partition column>/<part file>` under the root
    * ([[writeData]] is the single writer), so the relative path is the last
    * `partitionCols.size + 2` components of the scan's `_metadata.file_path`
    * — no dependence on the root's absolute location or URI scheme, which
    * is what lets dv sidecars travel verbatim under CLONE. (Partition
    * VALUES cannot smuggle extra slashes: Spark percent-escapes `/` in
    * partition path names.)
    *
    * `file_path` is additionally URI-ENCODED over the on-disk name
    * (space → `%20`, and the `%` of Spark's own partition escaping →
    * `%25`: on-disk `p=p 1%3Aa` scans as `p=p%201%253Aa`), so the key is
    * url-decoded back to the exact manifest string. `url_decode` is
    * form-decoding (`+` → space), while URI encoding leaves literal `+`
    * bare — pre-escaping `+` to `%2B` makes the decode a true inverse.
    */
  private def relPathCol: Column =
    url_decode(regexp_replace(
      substring_index(col("_metadata.file_path"), "/", -(partitionCols.size + 2)),
      "\\+", "%2B"))

  /** Files `fs` of snapshot `version` (all of them, or a subset such as
    * [[pruneFilesFor]] keeps), read ([[readFiles]]) with the version's
    * schema, column mapping, deletion vectors and log skipping.
    */
  private[graft] def readVersionFiles(spark: SparkSession, version: Long, fs: Seq[String],
                                      keepPos: Boolean = false, fileCol: Option[String] = None,
                                      withRowIds: Boolean = false): DataFrame =
    readFiles(spark, fs, schemaOf(version), colmapOf(version), dvsOf(version), keepPos,
      fileCol, withRowIds, Some(logOf(version)))

  /** What snapshot `version`'s log records for file skipping. */
  private def logOf(version: Long): ManifestFileIndex.Log = {
    val c = readCommit(version)
    new ManifestFileIndex.Log(version, c.schema.fields.map(f => f.name -> f.dataType).toMap,
      c.colmap.toMap, c.statsColumns,
      generatedCols.filter { case (p, _) => partitionCols.contains(p) },
      c.statsDetail, c.nullCounts)
  }

  /** Read a subset of a snapshot's files with its schema, as ONE parquet
    * relation over a [[ManifestFileIndex]] of exactly those files. The log
    * already names every live file, so nothing is listed: each file costs
    * one driver-side stat, with no Spark job. Files may span several data
    * directories (untouched files are carried forward across versions);
    * the index parses each directory's partition values with that data
    * dir as base path, so partition columns and partition pruning come out
    * as they would from a per-data-dir `basePath` read.
    *
    * `dvs` (the snapshot's deletion-vector map, restricted here to the files
    * actually read) masks out deleted row positions: the read attaches the
    * scan's `_metadata` file/row-position columns — evaluated
    * at the scan itself, zero cost beyond two extra columns — and one
    * LEFT ANTI join against the referenced dv rows drops masked positions.
    * The dv side is broadcast when the commit-recorded counts bound it
    * (v3/t18-style guard: a table that accretes dv rows past the bound
    * degrades to a shuffled anti-join instead of dying at the driver).
    * `keepPos` exposes the position columns to [[deleteVectorized]], which
    * must record positions of newly-deleted live rows.
    *
    * `fileCol` attaches each row's source file (root-relative, manifest
    * form) under the given name — the touched-file probes' replacement for
    * `input_file_name()`, which Spark refuses to resolve above the dv
    * anti-join (two file sources in one plan); `_metadata.file_path` binds
    * to its own scan, so it stays unambiguous.
    *
    * `log` is what the snapshot's log records for skipping; files no
    * snapshot records yet (a write's own output) are read without it.
    */
  private def readFiles(spark: SparkSession, fs: Seq[String], schema: StructType,
                        colmap: Map[String, String],
                        dvs: Map[String, (String, Long)] = Map.empty,
                        keepPos: Boolean = false,
                        fileCol: Option[String] = None,
                        withRowIds: Boolean = false,
                        log: Option[ManifestFileIndex.Log] = None): DataFrame = {
    import MergeTable.{DvFileCol, DvIdxCol, RowIdCol}
    val hit = fs.filter(dvs.contains)
    val needPos = keepPos || hit.nonEmpty
    // data files store PHYSICAL column names (see writeData); scan with
    // the physical schema, project back to logical right above the scan.
    // A renamed column reads its original physical data; a column added
    // after a DROP asks for its fresh physical name, so dropped data can
    // never resurrect (old files simply lack the fresh name → NULL).
    // The hidden row-id column (never in `schema`, never colmapped) is
    // appended to the scan only when the caller asked for it.
    val physSchema0 =
      if (colmap.isEmpty) schema
      else StructType(schema.fields.map(f => f.copy(name = physOf(colmap, f.name))))
    val physSchema =
      if (withRowIds) physSchema0.add(RowIdCol, org.apache.spark.sql.types.LongType)
      else physSchema0
    // ONE relation over the snapshot's file list (see ManifestFileIndex),
    // an empty snapshot's included: it scans no file.
    // The dv key is the MANIFEST-relative path (see relPathCol): both join sides derive
    // from this same expression, so keys match by construction — and a
    // bare basename would be ambiguous (dynamic partitioning gives every
    // partition dir of one task the SAME part-file name).
    val df = ManifestFileIndex.read(spark, root, fs, physSchema, log)
    val posCols =
      (if (needPos)
        Seq(relPathCol.as(DvFileCol),
          col("_metadata.row_index").as(DvIdxCol))
      else Nil) ++
        fileCol.map(c => relPathCol.as(c)).toSeq
    // always project to the COMMIT schema's column order — the raw scan
    // appends partition columns last, which would diverge from the
    // declared schema once ADD COLUMNS places one mid-schema
    val logicalCols =
      schema.fields.toSeq.map(f => col(physOf(colmap, f.name)).as(f.name)) ++
        (if (withRowIds) Seq(col(RowIdCol)) else Nil)
    val base = df.select(logicalCols ++ posCols: _*)
    if (hit.isEmpty) base
    else {
      val dirs = hit.map(f => dvs(f)._1).distinct.sorted
      // dv dirs may hold rows for files not being read (shared dirs,
      // superseded duplicates from the union-on-rebind invariant) —
      // harmless under LEFT ANTI, their keys match no scanned row
      val rows = spark.read.schema(MergeTable.DvSchema)
        .parquet(dirs.map(d => s"$root/$d"): _*)
      val total = hit.map(f => dvs(f)._2).sum
      val side = if (total <= MergeTable.MaxBroadcastDvRows) broadcast(rows) else rows
      val joined = base.join(side, Seq(DvFileCol, DvIdxCol), "left_anti")
      if (keepPos) joined else joined.drop(DvFileCol, DvIdxCol)
    }
  }

  /** Initial load — reference's `format("delta").mode("overwrite").
    * partitionBy("year","month").save(path)` branch (01:115-121).
    *
    * `txn` (Delta's `txn` action / `txnAppId`+`txnVersion` analog) records
    * an application-level transaction version ATOMICALLY with the data
    * commit: an exactly-once writer (e.g. a foreachBatch sink) checks
    * [[lastTxnVersion]] and skips batches already applied — replay after a
    * crash can never double-apply, because the marker and the data are one
    * atomic commit.
    */
  def overwrite(df: DataFrame, txn: Option[(String, Long)] = None,
                boundedRows: Option[Long] = None): Unit = {
    val v = if (exists) currentVersion + 1 else 0L
    // generated columns must exist BEFORE the schema is committed — the
    // commit's DDL and the written files must agree. `boundedRows` is a
    // caller's row-count guarantee (e.g. a maintenance operator's
    // already-counted batch size) that lets a small state-table bootstrap
    // take the driver-side direct write — see [[writeVersion]].
    writeVersion(optimizeWriteIfEnabled(applyGenerated(df)), v, txn = txn,
      boundedRows = boundedRows)
  }

  /** Create the table EMPTY: a version-0 commit holding the schema and no
    * data files (Delta's `CREATE TABLE t (c1 INT, …) USING delta` — the
    * standard first statement of any tutorial; data arrives later via
    * INSERT INTO / append / merge). Purely a metadata write: no Spark job
    * runs. Declared partition / generated / identity columns are validated
    * against the schema here, since no write path will get the chance
    * before the first data lands.
    */
  def createEmpty(schema: StructType): Unit = {
    require(!exists, s"MergeTable at $root already exists")
    val names = schema.fieldNames.toSet
    val missingParts = partitionCols.filterNot(names.contains)
    require(missingParts.isEmpty,
      s"createEmpty on $root: partition column(s) ${missingParts.mkString(", ")} " +
        s"not in the declared schema (${schema.fieldNames.mkString(", ")})")
    val missingGen = generatedCols.map(_._1).filterNot(names.contains)
    require(missingGen.isEmpty,
      s"createEmpty on $root: generated column(s) ${missingGen.mkString(", ")} " +
        "not in the declared schema")
    identityCol.foreach { case (c, _, _) =>
      require(names.contains(c),
        s"createEmpty on $root: identity column '$c' not in the declared schema") }
    commit(0L, Nil, schema, Nil, op = "CREATE TABLE")
  }

  /** Highest transaction version recorded for `appId` (see [[overwrite]]'s
    * `txn` doc), or None if the app never committed here.
    */
  def lastTxnVersion(appId: String): Option[Long] =
    if (exists) readMeta(currentVersion).txns.get(appId) else None

  /** The COMMIT VERSION that recorded transaction `(appId, txnVersion)` —
    * the inverse of [[lastTxnVersion]], for consumers that must locate a
    * replayed batch's own commit (e.g. to re-read its change feed during
    * crash recovery). Txn markers carry forward cumulatively, so the
    * recording commit is the EARLIEST version whose marker equals
    * `txnVersion`; the walk is metadata-only and stops as soon as the
    * marker drops below the target (markers never regress).
    */
  private[graft] def txnCommitVersion(appId: String, txnVersion: Long): Option[Long] = {
    if (!exists) return None
    val horizon = vacuumHorizon
    var v = currentVersion
    var found: Option[Long] = None
    while (v >= horizon) {
      val t = readMeta(v).txns.get(appId)
      if (t.forall(_ < txnVersion)) return found
      if (t.contains(txnVersion)) found = Some(v)
      v -= 1
    }
    found
  }

  /** Touched-file probe shared by [[merge]] / [[mergeClauses]]: which of
    * `probeRel`'s data files hold at least one row whose key tuple appears
    * in the source. Two engines (guide §2.4/§3.2/§6):
    *
    *  - BOUNDED source (≤ `spark.graft.mergeProbeInMax` non-null key rows,
    *    simple key types): the collected keys become per-column `In`
    *    filters that (a) prune candidate FILES through the manifest stats
    *    and (b) push into the parquet scan for row-group skipping, and the
    *    exact tuple match is a map-only semi-join against a BROADCAST
    *    local relation of those keys — zero shuffles, and at 100 TB the
    *    probe opens only the files whose min/max admit a source key
    *    (Delta's data-skipping MERGE shape) instead of scanning the scope.
    *  - UNBOUNDED source: the original shuffle semi-join over the full
    *    scope — always correct, never collects more than cap + 1 rows to
    *    decide.
    *
    * Either engine returns the identical touched set: the In filters are
    * a sound superset (stats pruning + per-column membership) and the
    * broadcast semi-join applies the exact tuple equality the legacy join
    * applied. NULL source keys match nothing under `===` and are dropped
    * before sampling.
    *
    * Returns (touched file set, source-bounded flag). The touched names
    * are [[relPathCol]]'s, i.e. exactly the manifest's strings. The flag
    * is true iff the FAST probe path fired — the source key set collected
    * under the `mergeProbeInMax` cap — which doubles as the merge's
    * eligibility signal for the driver-side direct write
    * ([[writeDirectInto]]): a probe-bounded source plus a byte-bounded
    * touched set bounds the merge OUTPUT, so collecting it to the driver
    * is safe by construction.
    */
  private def probeTouchedFiles(spark: SparkSession, keyRows: MergeTable.SourceKeys,
                                keys: Seq[String], version: Long,
                                probeRel: Seq[String]): (Set[String], Boolean) =
    Timing.time("merge.probe") {
      import org.apache.spark.sql.types._
      def simple(dt: DataType): Boolean = dt match {
        case ByteType | ShortType | IntegerType | LongType | FloatType |
             DoubleType | StringType | BooleanType | DateType | TimestampType => true
        case _ => false
      }
      // plan evidence for the optimization record: when graft.planDumpDir
      // is set (graft.tools.Plans), the probe's physical plan is written
      // beside the query plans so the fast-path claims are checkable
      def dumpPlan(tag: String, df: DataFrame): Unit =
        sys.props.get("graft.planDumpDir").foreach { dir =>
          val p = Paths.get(dir, s"$tag.txt")
          Files.createDirectories(p.getParent)
          Files.writeString(p, df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        }
      val srcKeys = keyRows.df
      val cap = keyRows.cap
      val schema = schemaOf(version)
      val fastTypesOk = keys.forall(k => simple(schema(k).dataType))
      // the non-null key rows, from the merge's one bounded key collect;
      // only a capped collect holding NULL keys cannot tell whether the
      // non-null rows fit under the cap, and collects them on their own
      val sample: Array[Row] =
        if (!fastTypesOk) Array.empty
        else {
          val nonNull = keyRows.rows.filter(r => keys.indices.forall(i => !r.isNullAt(i)))
          if (keyRows.complete || nonNull.length > cap) nonNull
          else srcKeys
            .filter(keys.map(col(_).isNotNull).reduce(_ && _))
            .limit(cap + 1).collect()
        }
      val fast = fastTypesOk && sample.length <= cap
      if (fast && (sample.isEmpty || probeRel.isEmpty)) (Set.empty, true) // no job
      else if (fast) {
        val tuples = sample.distinct
        // one In per key column: the scan's file index skips every file
        // that cannot hold one of the keys
        val inFilter = keys.indices
          .map(i => col(keys(i)).isin(tuples.map(_.get(i)).distinct.toIndexedSeq: _*))
          .reduce(_ && _)
        val scan = readVersionFiles(spark, version, probeRel, fileCol = Some("_graft_file"))
          .filter(inFilter)
        val exact =
          if (keys.size == 1) scan // single key: the In filter IS the tuple match
          else {
            val keyDf = spark.createDataFrame(
              java.util.Arrays.asList(tuples: _*), srcKeys.schema)
            scan.join(broadcast(keyDf), keys, "left_semi")
          }
        dumpPlan("merge_probe_fast", exact)
        (exact.agg(collect_set(col("_graft_file"))).head
          .getSeq[String](0).toSet, true)
      } else {
        val legacy = readVersionFiles(spark, version, probeRel, fileCol = Some("_graft_file"))
          .join(srcKeys, keys, "left_semi")
        dumpPlan("merge_probe_legacy", legacy)
        (legacy
          .select("_graft_file").distinct()
          .collect().map(_.getString(0)).toSet, false)
      }
    }

  // ---- DML steps: each step the DML entry points share, once ----

  /** Delta's MERGE duplicate-source check: a key appearing twice in the
    * source would match one target row twice. A source whose key rows all
    * fit in the merge's one bounded key collect ([[MergeTable.SourceKeys]])
    * is checked on the driver, with no Spark job, when every key type
    * groups on the driver exactly as Spark's `groupBy` does
    * ([[MergeTable.driverGroupKey]]); any other source keeps the `groupBy`.
    */
  private def requireUniqueKeys(src: DataFrame, keyRows: MergeTable.SourceKeys,
                                keys: Seq[String]): Unit = {
    val dup = Timing.time("merge.dupCheck") {
      MergeTable.driverGroupKey(keyRows.df.schema) match {
        case Some(group) if keyRows.complete =>
          val seen = new java.util.HashSet[Seq[Any]]()
          keyRows.rows.exists(r => !seen.add(group(r)))
        case _ =>
          src.groupBy(keys.map(col): _*).count().filter(col("count") > 1).limit(1).count() > 0L
      }
    }
    require(!dup,
      s"merge source has duplicate keys on (${keys.mkString(",")}) — Delta MERGE would fail (multiple source rows matched one target row)")
  }

  /** A manifest file's partition directory (`a=1/b=2`, "" unpartitioned):
    * every data file sits at `dataDir/<partition dirs>/<file>` (see
    * [[relPathCol]]).
    */
  private def partDirOf(f: String): String = {
    val segs = f.split('/')
    segs.slice(1, segs.length - 1).mkString("/")
  }

  /** A partition directory's values, unescaped, NULL for the default
    * partition.
    */
  private def partValuesOf(dir: String): Seq[String] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    dir.split('/').toSeq.map { seg =>
      val raw = seg.substring(seg.indexOf('=') + 1)
      if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
      else ExternalCatalogUtils.unescapePathName(raw)
    }
  }

  /** The files of `files` inside the partition directories `dirs` — one
    * set lookup per file.
    */
  private def inScope(files: Seq[String], dirs: Set[String]): Seq[String] =
    files.filter(f => dirs.contains(partDirOf(f)))

  /** The partition DIRECTORIES a `keysDeterminePartitions` write can
    * touch: the source's distinct partition tuples, stringified by Spark's
    * own cast-to-string and escaped/null-mapped by Spark's partition-path
    * rules — exactly the directories the write path produces.
    */
  private def sourceScopeDirs(src: DataFrame): Set[String] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    src.select(partitionCols.map(c => col(c).cast("string")): _*)
      .distinct().collect().map(r =>
        partitionCols.indices.map { i =>
          val seg = ExternalCatalogUtils.getPartitionValueString(r.getString(i))
          s"${partitionCols(i)}=$seg"
        }.mkString("/")).toSet
  }

  /** A key merge's read scope over `files`: (scope dirs, in-scope files).
    *
    * Opt-in partition pruning of the probe (see class doc for why it is
    * NOT the default): when the caller vouches that the merge keys
    * functionally determine the partition values — every row of a given
    * key always lands in the same partition — a matched target row can
    * only live in one of the SOURCE's partitions, so the touched-file
    * probe (and therefore the rewrite) needs to scan only those
    * partitions' files. At 100 TB this turns a full-table semi-join into
    * a probe of the day/month being merged. The source must carry the
    * partition columns; values are stringified by SPARK's cast-to-string
    * (session timezone, same Cast the parquet write path feeds into its
    * partition-path expression — JVM toString diverges for Timestamp's
    * trailing ".0" and decimal scales) and escaped/null-mapped by
    * Spark's own partition-path rules, so the probe resolves exactly
    * the directories Spark actually wrote.
    *
    * The scope dirs double as the merge's READ-SET record for conflict
    * resolution: a race-winning commit whose adds are disjoint from
    * these directories provably could not change what this merge read,
    * so the already-written output re-commits against the tip with zero
    * recomputation (see [[rebaseMerge]]). None = the whole table.
    */
  private def mergeScope(src: DataFrame, files: Seq[String],
                         keysDeterminePartitions: Boolean): (Option[Set[String]], Seq[String]) =
    if (keysDeterminePartitions && partitionCols.nonEmpty) {
      val dirs = sourceScopeDirs(src)
      (Some(dirs), inScope(files, dirs))
    } else (None, files)

  /** Snapshot `v`'s files split for a key merge: [[mergeScope]], then the
    * touched-file probe over the scope ([[probeTouchedFiles]]). Only file
    * *names* are collected — metadata, not data. `wholeScope` (a full
    * sync, or BY SOURCE clauses) skips the probe: every in-scope file is
    * rewritten regardless of matches, because any may hold now-unmatched
    * rows.
    *
    * The flag is the rewrite's driver-side direct-write eligibility (see
    * [[writeDirectInto]]): a probe-bounded source (≤ mergeProbeInMax keys)
    * over a byte-bounded touched set bounds the rewrite output, so both
    * the data write AND the change feed skip the distributed write
    * machinery entirely.
    */
  private def splitByKeys(spark: SparkSession, src: DataFrame, keyRows: MergeTable.SourceKeys,
                          keys: Seq[String], v: Long, keysDeterminePartitions: Boolean,
                          wholeScope: Boolean): (MergeTable.TouchedSplit, Boolean) = {
    val oldFiles = filesOf(v)
    val (scopeDirs, probeRel) = mergeScope(src, oldFiles, keysDeterminePartitions)
    val (touched, bounded) =
      if (wholeScope) (probeRel.toSet, false)
      else probeTouchedFiles(spark, keyRows, keys, v, probeRel)
    val (t, k) = oldFiles.partition(touched.contains)
    val direct = bounded && directWriteOk(spark, t, extraRows = keyRows.cap.toLong)
    (MergeTable.TouchedSplit(t, k, scopeDirs.map(scopeConflict)), direct)
  }

  /** Snapshot `v`'s files split for a predicate DML ([[delete]],
    * [[update]], [[overwriteWhere]]): the files holding at least one
    * predicate-TRUE row — a filtered read, so the scan's file index skips
    * the files that cannot hold one — then the rest. The predicate doubles
    * as the read set.
    */
  private def splitByPredicate(spark: SparkSession, v: Long,
                               predicate: Column): MergeTable.TouchedSplit = {
    val schema = schemaOf(v)
    val touched = readVersionFiles(spark, v, filesOf(v), fileCol = Some("_graft_file"))
      .filter(predicate)
      .select("_graft_file").distinct()
      .collect().map(_.getString(0)).toSet
    val (t, k) = filesOf(v).partition(touched.contains)
    MergeTable.TouchedSplit(t, k, Some(predicateConflict(spark, schema, predicate)))
  }

  /** Read set of a scoped merge: a winner-added file conflicts iff it
    * lies in one of the scope directories.
    */
  private def scopeConflict(dirs: Set[String]): Seq[String] => Boolean =
    adds => inScope(adds, dirs).nonEmpty

  /** Read set of a predicate DML: a winner-added file conflicts iff its
    * partition tuple could satisfy the predicate ([[partitionCandidates]]
    * is conservative: an undecidable predicate keeps files → treated as a
    * conflict → full re-run by the caller, never a wrong rebase).
    */
  private def predicateConflict(spark: SparkSession, schema: StructType,
                                predicate: Column): Seq[String] => Boolean =
    adds => partitionCandidates(spark, adds, schema, predicate).nonEmpty

  /** Touched-file rows of snapshot `v`, read once and dv-masked (a rewrite
    * must never resurrect deleted rows); the row-tracking id column rides
    * the read. `pin` caches them: on the byte-bounded direct path the
    * rewrite and the change feed each consume these rows.
    */
  private def readTouched(spark: SparkSession, v: Long, touchedRel: Seq[String],
                          pin: Boolean): DataFrame = {
    val td = readVersionFiles(spark, v, touchedRel, withRowIds = rowTrackingEnabled)
    if (pin) td.cache() else td
  }

  /** A merge's data write for version `v + 1`, with its change feed
    * written CONCURRENTLY (guide §2.6: overlap independent jobs; the two
    * small writes back-fill each other's task tails). The feed derives
    * only from the OLD files and the cached source, so it is independent
    * of the data write; it is staged before the commit that records it
    * (see [[writeChanges]]). `pinned` (the direct path's cached touched
    * rows) is released once both writes are done. Returns the feed dir.
    */
  private def writeWithFeed(v: Long, data: DataFrame, feed: Option[DataFrame],
                            dataDir: String, direct: Boolean,
                            pinned: Option[DataFrame]): Option[String] = {
    val cdfTask = feed.map(f => MergeTable.startAsync(() =>
      // the feed speaks user columns only
      writeChanges(f.drop(MergeTable.RowIdCol), v + 1, dataDir, direct)))
    try {
      // a direct write packs one file per partition dir itself, so the
      // rebalance hint (an exchange) would be pure overhead
      writeData(if (direct) data else optimizeWriteIfEnabled(data),
        dataDir, colmapOf(v), direct)
      cdfTask.map(MergeTable.awaitAsync)
    } catch { case e: Throwable =>
      cdfTask.foreach(_.cancel(false)); throw e
    } finally if (direct) pinned.foreach(_.unpersist())
  }

  /** The dv writers' shared mask step: stage `matched`'s (file, position)
    * rows under `dv/<attempt>` (one scan; counts then come from the staged
    * rows at metadata cost), append the prior masks of every touched file,
    * and count the result per file. Returns None above `maxNewDvRows` (a
    * mass change is cheaper rewritten once than carried as a huge mask on
    * every scan — the caller falls back to its rewriting twin) and empty
    * masks when nothing matched; both remove the staging dir. An abandoned
    * attempt dir (lost commit race, crash) is unreferenced and vacuumed
    * like any orphan data dir. repartition (not coalesce) keeps the scan
    * parallel — only the position rows shuffle, and there are at most
    * maxNewDvRows.
    *
    * Union-on-rewrite invariant: a touched file's binding points at ONE
    * dir holding ALL its masked positions, so prior masks for touched
    * files are appended into the new dir. Older dirs may retain stale
    * subsets of these rows for OTHER still-bound files' sake — duplicates
    * are harmless under the read path's LEFT ANTI.
    */
  private def stageMasks(spark: SparkSession, matched: DataFrame, attempt: String,
                         dvs: Map[String, (String, Long)],
                         maxNewDvRows: Long): Option[MergeTable.DvMasks] = {
    import MergeTable.{DvFileCol, DvIdxCol}
    val dvRel = s"dv/$attempt"
    matched.select(DvFileCol, DvIdxCol)
      .repartition(1).write.parquet(s"$root/$dvRel")
    def staged = spark.read.schema(MergeTable.DvSchema).parquet(s"$root/$dvRel")
    val newCnt = staged.count()
    if (newCnt == 0L || newCnt > maxNewDvRows) {
      deleteRecursively(Paths.get(root, dvRel))
      return if (newCnt == 0L) Some(MergeTable.DvMasks(dvRel, Nil, Map.empty)) else None
    }
    val touchedFiles = staged.select(DvFileCol).distinct()
      .collect().map(_.getString(0)).toSeq
    val priorBound = touchedFiles.filter(dvs.contains)
    if (priorBound.nonEmpty) {
      val oldDirs = priorBound.map(f => dvs(f)._1).distinct.sorted
      spark.read.schema(MergeTable.DvSchema)
        .parquet(oldDirs.map(d => s"$root/$d"): _*)
        .filter(col(DvFileCol).isin(priorBound: _*))
        .repartition(1).write.mode("append").parquet(s"$root/$dvRel")
    }
    val cum = staged.groupBy(DvFileCol).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Some(MergeTable.DvMasks(dvRel, touchedFiles, cum))
  }

  /** A DML that changed nothing still records its operation: a
    * metadata-only version with the same file list (Delta's no-op commit).
    */
  private def commitUnchanged(v: Long, op: String): Unit =
    commit(v + 1, filesOf(v), schemaOf(v), carryStats(v, filesOf(v)), op = op)

  /** Every data-writing DML's commit of version `v + 1`: `split.kept` plus
    * the files written under `dataDir` (stats collected here), or — for a
    * dv write, whose `split.kept` is every file — the same manifest with
    * `masks` bound. A lost race goes to [[rebaseMerge]] with the split's
    * read set and the caller's rules.
    */
  private def commitOrRebase(spark: SparkSession, v: Long, split: MergeTable.TouchedSplit,
                             dataDir: Option[String], schema: StructType,
                             cdfDir: Option[String], op: String,
                             txn: Option[(String, Long)] = None,
                             rowHwm: Option[Long] = None,
                             masks: Option[MergeTable.DvMasks] = None,
                             checkConstraints: Boolean = true,
                             allowRowTracking: Boolean = false): Unit = {
    val cmap = colmapOf(v)
    val newFiles = dataDir.toSeq.flatMap(d => listParquet(Paths.get(root, d)).map(relativize))
    val newStats = collectStats(spark, newFiles, schema, cmap)
    try commit(v + 1, split.kept ++ newFiles, schema,
      carryStats(v, split.kept) ++ newStats, cdfDir, txn = txn,
      dvsOverride = masks.map(_.bind(split.kept, dvsOf(v))),
      propsOverride = propsWith(
        rowHwm.toSeq.map(h => MergeTable.RowIdHwmProp -> h.toString)),
      op = op)
    catch {
      case e: java.util.ConcurrentModificationException =>
        rebaseMerge(v, split.touched, newFiles, newStats, schema, cmap, split.readConflict,
          e, op, txn, cdfDefined = cdfDir.isDefined, usedIds = rowHwm.isDefined,
          allowRowTracking = allowRowTracking, checkConstraints = checkConstraints,
          masks = masks)
    }
  }

  /** Delta MERGE semantics (SURVEY.md §2.6): UPDATE-ALL / INSERT-ALL
    * equi-key upsert — "source wins":
    *  - target rows matching a source key are replaced by the source row
    *    (even if that moves them to another partition — quirk §2.6.5);
    *  - unmatched source rows are inserted;
    *  - unmatched target rows are untouched (their files are not rewritten);
    *  - duplicate keys in the source are an error, like Delta
    *    (§2.6.4), unless `checkUniqueSource=false`.
    *
    * `deleteNotMatchedBySource` adds Delta's
    * `WHEN NOT MATCHED BY SOURCE THEN DELETE` clause: target rows whose
    * key has no source row are DELETED, making the merge a full
    * synchronization — the scanned scope becomes exactly the source.
    * The cost is honest about the semantics: every in-scope file is
    * rewritten (any file may hold now-unmatched rows), so there is no
    * touched-file probe — but the SCOPE still prunes: with
    * `keysDeterminePartitions`, only the source's partitions are
    * synchronized and every other partition's files carry forward
    * untouched (Delta users scope the clause with a condition for the
    * same reason; an unscoped full sync rewrites the table by
    * definition). Incompatible with `mergeSchema` (a full sync dictates
    * the schema; evolve first with [[addColumns]]).
    */
  def merge(spark: SparkSession, source: DataFrame, keys: Seq[String],
            checkUniqueSource: Boolean = true,
            mergeSchema: Boolean = false,
            changeFeed: Boolean = false,
            keysDeterminePartitions: Boolean = false,
            txn: Option[(String, Long)] = None,
            deleteNotMatchedBySource: Boolean = false): Unit = {
    require(!(deleteNotMatchedBySource && mergeSchema),
      "deleteNotMatchedBySource is a full synchronization of the scanned scope — " +
        "it cannot combine with mergeSchema; evolve the schema with addColumns first")
    require(identityCol.isEmpty,
      s"merge into $root: the table declares an identity column — id assignment is " +
        "wired into overwrite/append/copyInto; use append for pure inserts")
    require(keys.nonEmpty, "merge requires at least one key column")
    if (!exists) {
      val gen = applyGenerated(source)
      val cdf =
        if (changeFeed) Some(gen.withColumn(MergeTable.ChangeType, lit("insert")))
        else None
      writeVersion(gen, 0L, cdf, txn, op = "MERGE")
      return
    }

    val src = applyGenerated(source).cache()
    try {
      val srcKeys = src.select(keys.map(col): _*)
      val keyRows = MergeTable.SourceKeys(spark, srcKeys)
      if (checkUniqueSource) requireUniqueKeys(src, keyRows, keys)

      val v = currentVersion
      val cmap = colmapOf(v)

      // File pruning: find the data files that contain at least one matched
      // key, within the merge's scope ([[mergeScope]]). A full sync
      // (deleteNotMatchedBySource) skips the probe: every in-scope file is
      // rewritten, because any may hold now-unmatched rows to delete.
      val (split, direct) = splitByKeys(spark, src, keyRows, keys, v,
        keysDeterminePartitions, wholeScope = deleteNotMatchedBySource)

      // Touched-file rows, read once ([[readTouched]]); survivors of those
      // files + all source rows form the rewrite. Rewritten files shed
      // their dv bindings in the new commit (the carry-forward keeps
      // bindings only for files the manifest still lists). Row tracking
      // rides the same read: the hidden id column travels with survivors,
      // matched source rows INHERIT the target row's id through one extra
      // (key, id) join, and inserts (id NULL) get fresh ids right before
      // the write. Pinned on the direct path: consumed by the rewrite AND
      // up to three change-feed derivations.
      val touchedData =
        if (split.touched.isEmpty) None
        else Some(readTouched(spark, v, split.touched, pin = direct))
      val survivors = touchedData.map(_.join(srcKeys, keys, "left_anti"))
      val srcIded =
        if (!rowTrackingEnabled) src
        else touchedData match {
          // One inherited id per key, NEVER a fan-out join: duplicate target
          // keys would otherwise multiply matched source rows (changing the
          // merge's own row count vs rowTracking=false), and duplicate source
          // keys would mint several rows sharing one id — min() per key keeps
          // the join 1:1 on the target side and deterministic, so the global
          // row-id uniqueness invariant survives non-unique inputs too (the
          // duplicate source rows themselves are still rejected by
          // checkUniqueSource when enabled, matching Delta's multiple-match
          // error).
          case Some(td) => src.join(
            td.groupBy(keys.map(col): _*)
              .agg(min(MergeTable.RowIdCol).as(MergeTable.RowIdCol)),
            keys, "left")
          case None => src.withColumn(MergeTable.RowIdCol, lit(null).cast("long"))
        }
      val newData =
        if (deleteNotMatchedBySource) {
          // full sync: the in-scope content becomes exactly the source
          // (matched rows take the source version, unmatched target rows
          // are deleted, unmatched source rows are inserted)
          val missing = schemaOf(v).fieldNames.toSet -- src.columns
          require(missing.isEmpty,
            s"merge(deleteNotMatchedBySource) on $root: source lacks target " +
              s"columns ${missing.mkString(", ")}")
          srcIded.select((schemaOf(v).fieldNames.toIndexedSeq ++
            (if (rowTrackingEnabled) Seq(MergeTable.RowIdCol) else Nil)).map(col): _*)
        } else if (mergeSchema) {
          // Schema evolution (Delta autoMerge analog): the committed schema
          // becomes target ∪ source — survivors are null-filled for columns
          // only the source has, inserted/updated rows for columns only the
          // target has. Untouched files are NOT rewritten: readVersion
          // applies the evolved snapshot schema uniformly, and parquet reads
          // yield NULL for columns a file predates. A zero-row frame of the
          // snapshot schema anchors the old column set when no file was
          // touched.
          // evolution introduces columns under their own PHYSICAL name — a
          // name retired by DROP COLUMN or serving as a renamed column's
          // physical would resurrect/alias old bytes; addColumns mints
          // fresh physicals for exactly these, so route through it first
          val unavailable = readCommit(v).retired.toSet ++ cmap.values
          val clash = (src.columns.toSet -- schemaOf(v).fieldNames).intersect(unavailable)
          require(clash.isEmpty,
            s"merge(mergeSchema) on $root: new columns ${clash.mkString(", ")} collide " +
              "with retired/mapped physical names — add them via addColumns first")
          val anchor = survivors.getOrElse(
            readFiles(spark, Nil, schemaOf(v), cmap, withRowIds = rowTrackingEnabled))
          anchor.unionByName(srcIded, allowMissingColumns = true)
        } else survivors match {
          case Some(s) => s.unionByName(srcIded.select(s.columns.map(col): _*))
          case None    => srcIded
        }

      val (newDataIded, rowHwm) = assignRowIds(newData)
      val dataDir = newDataDir(v + 1)

      // Change data feed (Delta CDF analog): recorded AT WRITE TIME from the
      // already-pruned touched-file rows, never by diffing full snapshots —
      // at 100 TB a snapshot diff is a second full-table join, while this
      // reuses the same small touched set the merge itself rewrites.
      // Written BEFORE the commit is published so a crash between the two
      // can never leave a committed version with silently-missing change
      // rows; the commit records the feed directory, and a losing/crashed
      // attempt's orphan dir is referenced by no commit (cleaned on commit
      // conflict, reconciled by vacuum).
      val feed =
        if (!changeFeed) None
        else {
          import MergeTable.ChangeType
          val matchedKeys = touchedData.map(
            _.join(srcKeys, keys, "left_semi").select(keys.map(col): _*))
          val pre = touchedData.map(
            _.join(srcKeys, keys, "left_semi").withColumn(ChangeType, lit("update_preimage")))
          val post = matchedKeys.map(mk =>
            src.join(mk, keys, "left_semi").withColumn(ChangeType, lit("update_postimage")))
          val ins = (matchedKeys match {
            case Some(mk) => src.join(mk, keys, "left_anti")
            case None     => src
          }).withColumn(ChangeType, lit("insert"))
          // full sync also deletes in-scope target rows with no source key
          val del =
            if (deleteNotMatchedBySource)
              touchedData.map(_.join(srcKeys, keys, "left_anti")
                .withColumn(ChangeType, lit("delete")))
            else None
          Some((pre.toSeq ++ post.toSeq ++ del.toSeq :+ ins)
            .reduce(_.unionByName(_, allowMissingColumns = true)))
        }
      val cdfDir = writeWithFeed(v, newDataIded, feed, dataDir, direct, touchedData)

      val commitSchema = StructType(
        newData.schema.fields.filterNot(_.name == MergeTable.RowIdCol))
      commitOrRebase(spark, v, split, Some(dataDir), commitSchema, cdfDir, "MERGE",
        txn = txn, rowHwm = rowHwm)
    } finally src.unpersist()
  }

  /** Delta's WriteSerializable conflict resolution for every DML that
    * lost the commit race: when the winner's changes are provably disjoint
    * from everything this write READ, the already-written output re-commits
    * against the winner's tip — zero recomputation, the same resolution
    * [[rebaseAppend]] gives blind appends. `readConflict` is the read set,
    * as a test over the winner's ADDED files: a scoped merge's partition
    * directories ([[scopeConflict]]), a predicate DML's predicate
    * ([[predicateConflict]]), or `_ => false` for a pure rewrite
    * (compaction), whose output no winner add can invalidate.
    * None is an unscoped merge: it read the whole table, so any winner add
    * conflicts and the original exception rethrows for mergeWithRetry's
    * full re-derivation. Compatible iff:
    *
    *  - no winner-added file falls in the read set (a new in-scope file
    *    could hold rows matching the loser's keys that its probe never saw);
    *  - every file the loser REWROTE or MASKED is still live at the tip (a
    *    winner rewriting/deleting one means both writers changed the same
    *    rows — the lost-update case that MUST re-derive);
    *  - no deletion-vector binding changed on those files (a dv is a
    *    row-level rewrite in disguise — and a winner's extra masks on a
    *    file this write masks would be lost by its cumulative union,
    *    silently resurrecting rows);
    *  - schema, column mapping, and — when `checkConstraints` — CHECK
    *    constraints are unchanged (the written bytes/validation would be
    *    stale otherwise; a pure mask write passes `checkConstraints =
    *    false`, since masking rows can never violate one);
    *  - the write assigned no row-tracking ids (the winner may have
    *    consumed the same high-water range) and recorded no change feed
    *    (its rows are stamped with the lost version number);
    *  - the txn marker was not applied meanwhile (then the whole merge is
    *    a replayed batch: drop it — the written dir is vacuum's orphan).
    *
    * A rewrite's rebased manifest is tip − rewritten + new: winner deletes
    * of UNTOUCHED in-scope files are honored automatically (those files
    * held no matching key, so the loser's output never depended on them).
    * A dv write (`masks`) keeps its masked files live: the manifest is
    * tip + new, and its masks re-bind against the tip's bindings.
    */
  private[lake] def rebaseMerge(baseV: Long, touchedRel: Seq[String], newFiles: Seq[String],
                                newStats: Seq[String], commitSchema: StructType,
                                cmapUsed: Map[String, String],
                                readConflict: Option[Seq[String] => Boolean],
                                first: java.util.ConcurrentModificationException,
                                op: String,
                                txn: Option[(String, Long)] = None,
                                cdfDefined: Boolean = false,
                                usedIds: Boolean = false,
                                allowRowTracking: Boolean = false,
                                checkConstraints: Boolean = true,
                                masks: Option[MergeTable.DvMasks] = None,
                                maxAttempts: Int = 10): Unit = {
    // a REPLAYED BATCH is dropped before ANY conflict classification —
    // including the read-set requirement below: if the tip already
    // carries this merge's txn marker, the logical batch was fully
    // applied by the race winner (two maintenance instances racing the
    // same micro-batch), and this writer's output — change feed, ids and
    // all — is discarded wholesale, so the stamped-version and id-range
    // concerns never arise (the written dir is vacuum's orphan). For
    // same-batch races this is deterministic: the loser only sees
    // ConcurrentModificationException BECAUSE the winner's commit
    // (marker included) already landed, and currentVersion fast-forwards
    // over commit files whose _LATEST swap is still in flight.
    txn.foreach { case (app, ver) =>
      if (readCommit(currentVersion).txns.get(app).exists(_ >= ver)) return
    }
    // does a winner's ADDED file set invalidate what this writer read?
    val conflictsWith = readConflict.getOrElse(throw first)
    // row-tracking tables normally conflict (a re-derivation could mint
    // different ids) — EXCEPT writes that carry every id verbatim and mint
    // none (compaction, a dv delete), which opt in via allowRowTracking
    if (cdfDefined || usedIds || (rowTrackingEnabled && !allowRowTracking)) throw first
    val base = readCommit(baseV)
    val baseSet = base.files.toSet
    val touchedSet = touchedRel.toSet
    val baseDvs = dvsOf(baseV).view.filterKeys(touchedSet).toMap
    var attempt = 0
    while (true) {
      attempt += 1
      val tip = currentVersion
      val cTip = readCommit(tip)
      txn.foreach { case (app, ver) =>
        if (cTip.txns.get(app).exists(_ >= ver)) return // replayed batch
      }
      // schema compatibility is by SHAPE (names + types): merge commits
      // union-derived schemas whose nullability flags drift from the
      // declared ones, and a nullability-only difference invalidates
      // nothing about the written files
      def shape(s: StructType): Seq[(String, org.apache.spark.sql.types.DataType)] =
        s.fields.map(f => (f.name, f.dataType)).toSeq
      if (shape(cTip.schema) != shape(base.schema) || colmapOf(tip) != cmapUsed ||
          (checkConstraints && cTip.constraints.toSet != base.constraints.toSet))
        throw first
      val tipSet = cTip.files.toSet
      if (!touchedRel.forall(tipSet.contains)) throw first
      val winnerAdds = cTip.files.filterNot(baseSet)
      if (winnerAdds.nonEmpty && conflictsWith(winnerAdds)) throw first
      val tipDvs = dvsOf(tip)
      if (tipDvs.view.filterKeys(touchedSet).toMap != baseDvs)
        throw first
      // carry the TIP's schema object whenever this write didn't evolve
      // the shape: a race winner's metadata-only schema change (column
      // COMMENT, CURRENT_DEFAULT/EXISTS_DEFAULT — which commit() JSON-
      // round-trips precisely to preserve) must not be reverted by the
      // rebased commit. commitSchema only wins for genuine evolution
      // (its shape differs).
      val rebasedSchema =
        if (shape(commitSchema) == shape(cTip.schema)) cTip.schema
        else commitSchema
      val (files, stats) =
        if (masks.isDefined) (cTip.files ++ newFiles, cTip.statsLines ++ newStats)
        else (cTip.files.filterNot(touchedSet) ++ newFiles,
          cTip.statsLines.filterNot(l =>
            touchedSet.contains(dec(l.takeWhile(_ != '\t')))) ++ newStats)
      try {
        commit(tip + 1, files, rebasedSchema, stats, txn = txn,
          dvsOverride = masks.map(_.bind(cTip.files, tipDvs)), op = op)
        return
      } catch {
        case _: java.util.ConcurrentModificationException
          if attempt < maxAttempts => // another race — reclassify and retry
      }
    }
  }

  /** [[merge]] with optimistic-concurrency retry (Delta's conflict-retry
    * analog): a lost commit race throws `ConcurrentModificationException`
    * from the put-if-absent publish; this helper re-reads the new tip and
    * re-runs the whole merge — the touched-file probe, rewrite, and CDF all
    * re-derive from the winner's snapshot, so the retried merge is exactly
    * as correct as a first-try one. Idempotency: MERGE by key is a no-op
    * re-applied, and the `txn` marker (checked by exactly-once callers)
    * commits atomically with whichever attempt wins.
    */
  def mergeWithRetry(spark: SparkSession, source: DataFrame, keys: Seq[String],
                     maxAttempts: Int = 3,
                     checkUniqueSource: Boolean = true,
                     mergeSchema: Boolean = false,
                     changeFeed: Boolean = false,
                     keysDeterminePartitions: Boolean = false,
                     txn: Option[(String, Long)] = None): Unit = {
    require(maxAttempts >= 1, "mergeWithRetry needs at least one attempt")
    var attempt = 0
    var done = false
    while (!done) {
      attempt += 1
      try {
        merge(spark, source, keys, checkUniqueSource, mergeSchema,
          changeFeed, keysDeterminePartitions, txn)
        done = true
      } catch {
        case e: java.util.ConcurrentModificationException =>
          if (attempt >= maxAttempts) throw e
      }
    }
  }

  /** [[mergeClauses]] with Delta's `WITH SCHEMA EVOLUTION`: source-only
    * columns first evolve the table schema through [[addColumns]] (which
    * mints fresh physical names past retired/mapped ones), then the
    * standard clause merge runs against the evolved schema — update-all
    * and insert-all clauses pick the new columns up, untouched files
    * null-fill via parquet projection. Two atomic commits, not one:
    * a crash between them leaves an evolved schema over old data, which
    * reads as all-NULL new columns — benign, and the retry completes.
    */
  def mergeClausesEvolve(spark: SparkSession, source: DataFrame, keys: Seq[String],
                         clauses: Seq[MergeTable.MergeClause],
                         targetAlias: String = "t", sourceAlias: String = "s",
                         checkUniqueSource: Boolean = true,
                         changeFeed: Boolean = false,
                         keysDeterminePartitions: Boolean = false,
                         txn: Option[(String, Long)] = None): Unit = {
    require(exists, s"MergeTable at $root does not exist")
    val have = schemaOf(currentVersion).fieldNames.toSet
    val fresh = source.schema.fields.filterNot(f => have.contains(f.name))
    if (fresh.nonEmpty) addColumns(StructType(fresh))
    mergeClauses(spark, source, keys, clauses, targetAlias, sourceAlias,
      checkUniqueSource, changeFeed, keysDeterminePartitions, txn)
  }

  /** Delta's FULL conditional-clause MERGE surface (the richer shape the
    * reference's update-all/insert-all call-sites are a special case of):
    * {{{
    *   WHEN MATCHED [AND c] THEN UPDATE SET col = expr, … | UPDATE SET * | DELETE
    *   WHEN NOT MATCHED [AND c] THEN INSERT (cols) VALUES (exprs) | INSERT *
    *   WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET … | DELETE
    * }}}
    * Semantics are Delta's exactly: within each clause group the FIRST
    * clause whose condition holds claims the row; a row no clause claims is
    * left unchanged (matched / by-source) or dropped (not-matched source
    * row). All but the last clause of a group must carry a condition — an
    * unconditional non-last clause is dead code and Delta rejects it too.
    *
    * Scale shape: identical to [[merge]] — the touched-file probe confines
    * the rewrite to files holding at least one matched key (broadcast
    * semi-join on file names, metadata-sized collect), untouched files
    * carry forward by manifest reference, and the whole clause dispatch is
    * ONE pass over the touched rows: a codegen'd first-true-wins action
    * column, then per-column `when` chains — never one join per clause.
    * BY SOURCE clauses widen the scope to every in-scope file (any file
    * may hold now-unmatched rows — the same honesty as
    * `deleteNotMatchedBySource`), still partition-pruned under
    * `keysDeterminePartitions`.
    *
    * Generated columns: inserts derive unspecified generated columns from
    * their expressions; updates VALIDATE them (a clause updating a
    * dependency must set the generated column consistently, or the write
    * raises — Delta's consistency check, without its silent recompute).
    *
    * The target must exist (Delta likewise refuses MERGE into nothing —
    * the reference's bootstrap path is [[merge]]'s).
    */
  def mergeClauses(spark: SparkSession, source: DataFrame, keys: Seq[String],
                   clauses: Seq[MergeTable.MergeClause],
                   targetAlias: String = "t", sourceAlias: String = "s",
                   checkUniqueSource: Boolean = true,
                   changeFeed: Boolean = false,
                   keysDeterminePartitions: Boolean = false,
                   txn: Option[(String, Long)] = None): Unit = {
    import MergeTable.{ActionCol, BySourceDelete, BySourceUpdate, ChangeType,
      MatchedDelete, MatchedUpdate, MergeClause, NotMatchedInsert}
    require(exists, s"mergeClauses target $root does not exist — bootstrap with overwrite/merge")
    require(identityCol.isEmpty,
      s"mergeClauses into $root: the table declares an identity column — id assignment " +
        "is wired into overwrite/append/copyInto; use append for pure inserts")
    require(keys.nonEmpty, "merge requires at least one key column")
    require(clauses.nonEmpty, "mergeClauses requires at least one WHEN clause")
    require(targetAlias.toLowerCase != sourceAlias.toLowerCase,
      s"target and source aliases collide ('$targetAlias') — alias one side")

    val matched: Seq[MergeClause] =
      clauses.filter(c => c.isInstanceOf[MatchedUpdate] || c.isInstanceOf[MatchedDelete])
    val inserts: Seq[NotMatchedInsert] =
      clauses.collect { case c: NotMatchedInsert => c }
    val bySource: Seq[MergeClause] =
      clauses.filter(c => c.isInstanceOf[BySourceUpdate] || c.isInstanceOf[BySourceDelete])
    Seq("MATCHED" -> matched, "NOT MATCHED" -> inserts, "NOT MATCHED BY SOURCE" -> bySource)
      .foreach { case (group, cs) =>
        cs.dropRight(1).foreach(c => require(c.condition.isDefined,
          s"only the last WHEN $group clause may omit its condition — " +
            "an unconditional earlier clause makes the rest dead code"))
      }

    val v = currentVersion
    val schema = schemaOf(v)
    val tCols = schema.fieldNames.toSeq
    val typeOf = schema.fields.map(f => f.name -> f.dataType).toMap
    // star expansion resolves source columns under the SESSION's resolver
    // (case-insensitive by default) — a source column differing only in
    // case must still assign, exactly as Spark's own analysis would bind it
    val resolver = spark.sessionState.conf.resolver
    def sourceColFor(c: String): Option[String] = source.columns.find(resolver(_, c))
    (matched ++ bySource).foreach {
      case MatchedUpdate(_, set)  => set.foreach { case (c, _) =>
        require(typeOf.contains(c), s"UPDATE SET targets unknown column '$c'") }
      case BySourceUpdate(_, set) => set.foreach { case (c, _) =>
        require(typeOf.contains(c), s"UPDATE SET targets unknown column '$c'") }
      case _ =>
    }
    inserts.foreach(i => i.values.foreach { case (c, _) =>
      require(typeOf.contains(c), s"INSERT targets unknown column '$c'") })

    // first-true-wins dispatch over a clause group: ONE codegen'd column
    def actionOf(cs: Seq[MergeClause]): Column =
      cs.zipWithIndex.foldRight(lit(-1): Column) { case ((cl, i), els) =>
        when(cl.condition.map(expr).getOrElse(lit(true)), lit(i)).otherwise(els)
      }
    def deleteIdx(cs: Seq[MergeClause]): Seq[Int] = cs.zipWithIndex.collect {
      case (_: MatchedDelete, i)  => i
      case (_: BySourceDelete, i) => i
    }
    def updateIdx(cs: Seq[MergeClause]): Seq[Int] = cs.zipWithIndex.collect {
      case (_: MatchedUpdate, i)  => i
      case (_: BySourceUpdate, i) => i
    }
    // the updated value of target column `c` under the claimed clause:
    // nested whens over the action column, base = the unchanged target value
    def outColumn(c: String, cs: Seq[MergeClause]): Column = {
      val base: Column = col(s"$targetAlias.$c")
      cs.zipWithIndex.foldRight(base) {
        case ((MatchedUpdate(_, set), i), els) =>
          val value =
            if (set.isEmpty)
              // UPDATE SET * expands over the SOURCE's columns (Delta's
              // star semantics): a target column the source lacks — e.g.
              // one added by an earlier schema evolution — keeps its value
              sourceColFor(c).fold(base)(sc => col(s"$sourceAlias.$sc"))
            else set.find(_._1 == c).map(p => expr(p._2)).getOrElse(base)
          when(col(ActionCol) === i, value).otherwise(els)
        case ((BySourceUpdate(_, set), i), els) =>
          val value = set.find(_._1 == c).map(p => expr(p._2)).getOrElse(base)
          when(col(ActionCol) === i, value).otherwise(els)
        case (_, els) => els
      }.cast(typeOf(c)).as(c)
    }
    def dropClaimedDeletes(df: DataFrame, cs: Seq[MergeClause]): DataFrame = {
      val del = deleteIdx(cs)
      if (del.isEmpty) df else df.filter(!col(ActionCol).isin(del.map(Int.box): _*))
    }

    val src = source.cache()
    try {
      val srcKeys = src.select(keys.map(col): _*)
      val keyRows = MergeTable.SourceKeys(spark, srcKeys)
      if (checkUniqueSource) requireUniqueKeys(src, keyRows, keys)
      val cmap = colmapOf(v)

      // scope + touched-file probe + direct-write eligibility: the same
      // steps as [[merge]]; BY SOURCE clauses rewrite every in-scope file.
      // As in [[merge]], the scope records the READ SET for the lost-race
      // rebase ([[rebaseMerge]]) — which extends WriteSerializable
      // conflict resolution to the SQL MERGE INTO surface too.
      val (split, direct) = splitByKeys(spark, src, keyRows, keys, v,
        keysDeterminePartitions, wholeScope = bySource.nonEmpty)

      // pinned on the direct path: consumed by matched / unmatched /
      // insert frames plus the change-feed images
      val touchedData =
        if (split.touched.isEmpty) None
        else Some(readTouched(spark, v, split.touched, pin = direct))
      val joinCond = keys.map(k =>
        col(s"$targetAlias.$k") === col(s"$sourceAlias.$k")).reduce(_ && _)
      // row tracking: updated rows keep the TARGET row's id; insert-claimed
      // rows carry NULL and get fresh ids right before the write
      val tId: Seq[Column] =
        if (rowTrackingEnabled) Seq(col(s"$targetAlias.${MergeTable.RowIdCol}")
          .as(MergeTable.RowIdCol))
        else Nil

      // matched pairs: one inner join, one action column, one select
      val matchedOut: Option[DataFrame] = touchedData.map { td =>
        val withA = td.as(targetAlias).join(src.as(sourceAlias), joinCond, "inner")
          .withColumn(ActionCol, actionOf(matched))
        val rows = dropClaimedDeletes(withA, matched)
          .select(tCols.map(c => outColumn(c, matched)) ++ tId: _*)
        applyGenerated(rows) // all columns present → consistency validation
      }

      // target rows with no source match: unchanged, unless BY SOURCE claims them
      val unmatchedOut: Option[DataFrame] = touchedData.map { td =>
        val ut = td.join(srcKeys, keys, "left_anti")
        if (bySource.isEmpty) ut
        else {
          val withA = ut.as(targetAlias).withColumn(ActionCol, actionOf(bySource))
          val rows = dropClaimedDeletes(withA, bySource)
            .select(tCols.map(c => outColumn(c, bySource)) ++ tId: _*)
          applyGenerated(rows)
        }
      }

      // unmatched source rows: first-true insert clause, or dropped.
      // Per-clause frames (each with its own column list) — clause counts
      // are tiny, and each frame stays one codegen'd select.
      val unmatchedS: DataFrame = touchedData match {
        case Some(td) => src.join(td.select(keys.map(col): _*), keys, "left_anti")
        case None     => src
      }
      val insertOut: Seq[DataFrame] =
        if (inserts.isEmpty) Nil
        else {
          val withA = unmatchedS.as(sourceAlias)
            .withColumn(ActionCol, actionOf(inserts))
          inserts.zipWithIndex.map { case (NotMatchedInsert(_, values), i) =>
            val rows = withA.filter(col(ActionCol) === i)
            val named =
              if (values.isEmpty) // INSERT * — star expands over the
                // SOURCE's columns; target-only columns null-fill below
                rows.select(tCols.flatMap(c =>
                  sourceColFor(c).map(sc => col(s"$sourceAlias.$sc").as(c))): _*)
              else rows.select(values.map { case (c, e) =>
                expr(e).cast(typeOf(c)).as(c) }: _*)
            val gen = applyGenerated(named) // derives unspecified generated cols
            val full = tCols.foldLeft(gen) { (d, c) =>
              if (d.columns.contains(c)) d
              else d.withColumn(c, lit(null).cast(typeOf(c)))
            }
            val idCol =
              if (rowTrackingEnabled) Seq(lit(null).cast("long").as(MergeTable.RowIdCol))
              else Nil
            full.select(tCols.map(c => col(c).cast(typeOf(c)).as(c)) ++ idCol: _*)
          }
        }

      val pieces = matchedOut.toSeq ++ unmatchedOut.toSeq ++ insertOut
      val newData = pieces.reduceOption(_ unionByName _)
        .getOrElse(readFiles(spark, Nil, schema, cmap, withRowIds = rowTrackingEnabled))

      val (newDataIded, rowHwm) = assignRowIds(newData)
      val dataDir = newDataDir(v + 1)

      // CDF at write time from the already-pruned frames (same discipline
      // as [[merge]] — never a snapshot diff). Only when asked: the extra
      // passes below re-derive pre/post/delete images from touched rows.
      // Independent of the data write (reads only OLD files + the cached
      // source), so the two writes run CONCURRENTLY ([[writeWithFeed]]).
      val feed =
        if (!changeFeed) None
        else {
          def images(td: DataFrame, cs: Seq[MergeClause], paired: Boolean): Seq[DataFrame] = {
            val base =
              if (paired) td.as(targetAlias).join(src.as(sourceAlias), joinCond, "inner")
              else td.join(srcKeys, keys, "left_anti").as(targetAlias)
            val withA = base.withColumn(ActionCol, actionOf(cs))
            val upd = updateIdx(cs)
            val del = deleteIdx(cs)
            val tSel = tCols.map(c => col(s"$targetAlias.$c").as(c))
            val pre =
              if (upd.isEmpty) None
              else Some(withA.filter(col(ActionCol).isin(upd.map(Int.box): _*))
                .select(tSel: _*).withColumn(ChangeType, lit("update_preimage")))
            val post =
              if (upd.isEmpty) None
              else Some(withA.filter(col(ActionCol).isin(upd.map(Int.box): _*))
                .select(tCols.map(c => outColumn(c, cs)): _*)
                .withColumn(ChangeType, lit("update_postimage")))
            val dele =
              if (del.isEmpty) None
              else Some(withA.filter(col(ActionCol).isin(del.map(Int.box): _*))
                .select(tSel: _*).withColumn(ChangeType, lit("delete")))
            pre.toSeq ++ post.toSeq ++ dele.toSeq
          }
          val matchedImgs = touchedData.toSeq.flatMap(td => images(td, matched, paired = true))
          val bySourceImgs =
            if (bySource.isEmpty) Nil
            else touchedData.toSeq.flatMap(td => images(td, bySource, paired = false))
          val insertImgs = insertOut.map(_.withColumn(ChangeType, lit("insert")))
          (matchedImgs ++ bySourceImgs ++ insertImgs)
            .reduceOption(_.unionByName(_, allowMissingColumns = true))
        }
      val cdfDir = writeWithFeed(v, newDataIded, feed, dataDir, direct, touchedData)
      commitOrRebase(spark, v, split, Some(dataDir), schema, cdfDir, "MERGE",
        txn = txn, rowHwm = rowHwm)
    } finally src.unpersist()
  }

  /** Change-data-feed reader (Delta `table_changes` analog): the change rows
    * recorded by `changeFeed = true` commits with version in
    * `[fromVersion, toVersion]`. Rows carry [[MergeTable.ChangeType]]
    * (`insert` / `update_preimage` / `update_postimage` / `delete`) and
    * [[MergeTable.CommitVersion]]. Versions committed without a change feed
    * contribute nothing; at least one recorded version must exist.
    */
  def changes(spark: SparkSession, fromVersion: Long, toVersion: Long): DataFrame = {
    val dirs = (fromVersion to toVersion).flatMap { ver =>
      if (!Files.exists(commitPath(ver))) None
      else readMeta(ver).cdfDir.map { d =>
        // the commit PROMISED a feed — a missing directory is data loss the
        // consumer must see, never a silently-shorter feed
        if (!healFeed(d)) throw new IllegalStateException(
          s"version $ver of $root recorded a change feed at $d but the directory is " +
            "missing — the change feed for this range is incomplete")
        Paths.get(root, d)
      }
    }
    require(dirs.nonEmpty,
      s"no change feed recorded in versions $fromVersion..$toVersion of $root")
    dirs.map(d => spark.read.parquet(d.toString))
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** [[changes]] with each row stamped by its COMMIT VERSION
    * ([[MergeTable.CommitVersion]]), and None instead of an error when the
    * range recorded no feed — the shape the streaming CDF source needs
    * (an offset range may span feed-less metadata commits).
    */
  private[graft] def changesWithVersion(spark: SparkSession, fromVersion: Long,
                                        toVersion: Long): Option[DataFrame] = {
    val frames = (fromVersion to toVersion).flatMap { ver =>
      if (!Files.exists(commitPath(ver))) None
      else readMeta(ver).cdfDir.map { d =>
        if (!healFeed(d)) throw new IllegalStateException(
          s"version $ver of $root recorded a change feed at $d but the directory is " +
            "missing — the change feed for this range is incomplete")
        spark.read.parquet(Paths.get(root, d).toString)
          .withColumn(MergeTable.CommitVersion, lit(ver))
      }
    }
    frames.reduceOption(_.unionByName(_, allowMissingColumns = true))
  }

  /** STREAMING read of the change feed (the Delta `readChangeFeed`
    * streaming-source analog): a file source over the cdf directories, so
    * the rows of every future `changeFeed = true` commit arrive as a new
    * micro-batch — the standard way to fan a lakehouse table's changes out
    * to downstream incremental consumers without re-diffing snapshots.
    * The schema is the LATEST committed snapshot's schema plus the CDF
    * marker columns — change files written before a `mergeSchema` evolution
    * null-fill the evolved columns (parquet projection), and files written
    * after it surface them, instead of a stream-start pin silently dropping
    * whatever columns evolve later. At least one changeFeed commit must
    * exist before the stream starts. Orphan feed dirs from a hard-crashed
    * attempt are possible until the next vacuum reconciles them (a losing
    * racer cleans its own dir at commit-conflict time).
    */
  def changesStream(spark: SparkSession,
                    maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    // a committed feed stranded in staging by a publish-rename crash would
    // otherwise be a silent, PERMANENT gap in the stream — batch changes()
    // heals on read, but the stream's glob never looks in staging, so
    // reconcile every recorded feed once at stream start (O(versions)
    // metadata reads)
    // a commit-recorded feed missing from BOTH cdf/ and cdf_stage/ is
    // genuine data loss — the stream must fail loudly exactly like batch
    // changes() does, never start with a silent permanent gap
    if (exists)
      (0L to currentVersion)
        .filter(ver => Files.exists(commitPath(ver)))
        .flatMap(ver => readMeta(ver).cdfDir.map(ver -> _))
        .foreach { case (ver, d) =>
          if (!healFeed(d)) throw new IllegalStateException(
            s"version $ver of $root recorded a change feed at $d but the directory is " +
              "missing — the change feed is incomplete; streaming it would silently gap")
        }
    require(Files.exists(Paths.get(root, "cdf")),
      s"no change feed recorded at $root — commit with changeFeed = true before streaming changes")
    import org.apache.spark.sql.types.{LongType, StringType}
    val schema = schemaOf(currentVersion)
      .add(MergeTable.ChangeType, StringType)
      .add(MergeTable.CommitVersion, LongType)
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(s"$root/cdf/*")
  }

  /** The table as a full STREAMING SOURCE (Delta streaming-source
    * semantics): the starting snapshot's rows arrive first as `insert`
    * change rows stamped with the snapshot version, then the change feed
    * of every LATER commit follows incrementally — `readStream` =
    * "initial snapshot + CDF tail", where [[changesStream]] alone is only
    * the tail. Output schema = snapshot schema + change type + commit
    * version, so a downstream `foreachBatch` can bootstrap state and stay
    * incremental forever with one query.
    *
    * Scale shape: the snapshot is staged as HARD LINKS into
    * `stream_init/v<version>/` — O(files) metadata, zero data copy — laid
    * out as one uniform partition tree (the per-attempt data-dir level is
    * folded into the file NAME), so Spark's file source reads it with one
    * `basePath` and partition pruning intact. Because links pin file
    * content, a VACUUM that drops rolled-over data dirs cannot break a
    * running stream (Delta's streams fail exactly there). A snapshot that
    * carries deletion-vector masks is instead MATERIALIZED dv-masked into
    * the staging dir (one snapshot write; compact first to avoid it).
    *
    * Caveats: the staged tree is per-version and persists for checkpoint
    * restarts (links hold no data bytes; remove `stream_init/v<n>` once no
    * checkpointed query reads it). To RESTART a query whose table tip has
    * advanced, pass the original `snapshotVersion` — the file-source
    * checkpoint is bound to that staging path. Feeds of commits ≤ the
    * snapshot version are glob-matched but row-filtered by commit version;
    * schema changes after stream start require a restart (the source
    * schema is fixed at start, like every Spark file stream).
    */
  def readStream(spark: SparkSession,
                 maxFilesPerTrigger: Option[Int] = None,
                 snapshotVersion: Option[Long] = None): DataFrame = {
    require(exists, s"MergeTable at $root does not exist")
    import MergeTable.{ChangeType, CommitVersion}
    val v = snapshotVersion.getOrElse(currentVersion)
    val schema = schemaOf(v)
    val cmap = colmapOf(v)
    val dvs = dvsOf(v)
    val initRel = s"stream_init/v$v"
    val initDir = Paths.get(root, initRel)

    if (dvs.isEmpty) {
      // zero-copy: link every snapshot file under ONE partition tree;
      // <dataDir>/<p=..>/<name> → stream_init/v<v>/<p=..>/<dataDir>__<name>
      filesOf(v).foreach { rel =>
        val segs = rel.split('/')
        val dst = Paths.get(
          (Seq(root, initRel) ++ segs.slice(1, segs.length - 1) :+
            s"${segs.head}__${segs.last}").mkString("/"))
        Files.createDirectories(dst.getParent)
        try Files.createLink(dst, Paths.get(root, rel))
        catch {
          case _: java.nio.file.FileAlreadyExistsException => () // restart/race
          case _: UnsupportedOperationException | _: java.io.IOException
              if !Files.exists(dst) => Files.copy(Paths.get(root, rel), dst)
        }
      }
    } else if (!Files.exists(initDir)) {
      // dv-masked snapshot: links would resurrect masked rows (the mask is
      // an anti-join, not a file property) — materialize the masked rows
      // once; tmp + atomic move keeps concurrent starters safe
      val tmp = Paths.get(root, s"stream_init/tmp${System.nanoTime()}")
      readVersion(spark, v).write.parquet(tmp.toString)
      Files.createDirectories(initDir.getParent)
      try Files.move(tmp, initDir, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileAlreadyExistsException |
                   _: java.nio.file.DirectoryNotEmptyException =>
        deleteRecursively(tmp) }
    }

    // snapshot rows as inserts: physical-name scan + logical projection
    // (links store physical names; a materialized dv snapshot is logical)
    val linked = dvs.isEmpty
    val physSchema =
      if (!linked || cmap.isEmpty) schema
      else StructType(schema.fields.map(f => f.copy(name = physOf(cmap, f.name))))
    val snapReader0 = spark.readStream
      .option("basePath", s"$root/$initRel").schema(physSchema)
    val snapReader = maxFilesPerTrigger.fold(snapReader0)(n =>
      snapReader0.option("maxFilesPerTrigger", n))
    val snap = snapReader.parquet(s"$root/$initRel")
      .select(schema.fields.toSeq.map(f =>
        (if (linked) col(physOf(cmap, f.name)) else col(f.name)).as(f.name)): _*)
      .withColumn(ChangeType, lit("insert"))
      .withColumn(CommitVersion, lit(v))

    // the CDF tail: feeds of commits AFTER the snapshot version. The glob
    // must exist before any feed is recorded so future commits are picked
    // up from an initially-feedless table.
    Files.createDirectories(Paths.get(root, "cdf"))
    val tail = changesStream(spark, maxFilesPerTrigger)
      .filter(col(CommitVersion) > v)
    snap.unionByName(tail, allowMissingColumns = true)
  }

  /** Delta `DELETE WHERE` analog: remove the rows matching `predicate`,
    * rewriting ONLY the data files that contain at least one matching row
    * (same file-pruning shape as merge); untouched files are carried
    * forward by manifest reference. Rows where the predicate is NULL are
    * KEPT (SQL DELETE removes only predicate-is-TRUE rows). A predicate
    * matching nothing commits a metadata-only version (same file list) —
    * the operation is still recorded, like Delta's no-op DELETE commit.
    */
  def delete(spark: SparkSession, predicate: Column, changeFeed: Boolean = false): Unit = {
    val v = currentVersion
    val split = splitByPredicate(spark, v, predicate)
    val touchedRel = split.touched
    if (touchedRel.isEmpty) { commitUnchanged(v, "DELETE"); return }

    // the rewrite and the feed are both subsets of the touched rows, so
    // touched bytes alone bound the driver-side direct write. Surviving
    // rows keep their row-tracking ids (the id column rides the read).
    val direct = directWriteOk(spark, touchedRel)
    val tdf = readTouched(spark, v, touchedRel, pin = direct)
    // survivors: predicate FALSE or NULL (NOT(pred) alone would drop NULLs)
    val survivors = tdf.filter(coalesce(predicate, lit(false)) =!= true)

    val dataDir = newDataDir(v + 1)
    val cdfDir =
      try {
        writeData(survivors, dataDir, colmapOf(v), direct)
        // CDF before the commit that records it — see merge()
        if (changeFeed) Some(writeChanges(
          tdf.filter(coalesce(predicate, lit(false)) === true)
            .drop(MergeTable.RowIdCol)
            .withColumn(MergeTable.ChangeType, lit("delete")),
          v + 1, dataDir, direct))
        else None
      } finally if (direct) tdf.unpersist()
    // WriteSerializable for DELETE: the read set is the PREDICATE's
    // partition scope ([[predicateConflict]])
    commitOrRebase(spark, v, split, Some(dataDir), schemaOf(v), cdfDir, "DELETE")
  }

  /** Deletion-vector DELETE (Delta deletion-vectors analog): instead of
    * rewriting every data file that contains a matching row ([[delete]]),
    * record the POSITIONS of deleted rows in a sidecar (`dv/<attempt>/`,
    * rows of `(manifest-relative file path, row position)`) and commit the SAME file
    * list with per-file dv bindings. Reads mask bound positions with one
    * anti-join against the scan's own `_metadata` row positions (see
    * [[readFiles]]). The 100 TB motivation: deleting 0.1% of rows
    * spread across a petabyte of files must cost O(deleted rows), not a
    * full rewrite of every touched file — Delta ships exactly this trade.
    *
    * Semantics are identical to [[delete]] (predicate-TRUE rows go,
    * FALSE/NULL stay; optional CDF `delete` rows). File stats carry
    * forward un-tightened — deletion only narrows a file's live values,
    * so recorded min/max stay sound (possibly loose) pruning bounds.
    *
    * Bounds, v3/t18-style: when the delete matches more than
    * `maxNewDvRows` rows this falls back to the rewriting [[delete]] —
    * a mass delete is cheaper rewritten once than carried as a huge mask
    * on every subsequent scan. Accumulated dv rows are similarly bounded
    * at read time ([[readFiles]] broadcast guard), and any rewrite of a
    * file (merge / update / compact / zorder) re-materializes its
    * survivors and drops its binding, so masks never outlive compaction.
    *
    * Positions key on the MANIFEST-relative file path (see [[relPathCol]]):
    * sidecar rows never mention the root's absolute location, so clone and
    * restore re-bind them verbatim, and the driver-side bookkeeping below
    * joins against manifest entries with no path parsing at all.
    */
  def deleteVectorized(spark: SparkSession, predicate: Column,
                       changeFeed: Boolean = false,
                       maxNewDvRows: Long = MergeTable.DefaultMaxDvRows): Unit = {
    import MergeTable.{ChangeType, DvFileCol, DvIdxCol}
    val v = currentVersion
    val schema = schemaOf(v)
    require(!schema.fieldNames.contains(DvFileCol) && !schema.fieldNames.contains(DvIdxCol),
      s"deleteVectorized on $root: schema collides with reserved columns $DvFileCol/$DvIdxCol")
    val files = filesOf(v)
    val dvs = dvsOf(v)

    // the bare predicate, not `coalesce(p, false) === true` (the same rows):
    // Spark pushes it to the scan, so its file index can skip files
    val live = readVersionFiles(spark, v, files, keepPos = true)
    val matched = live.filter(predicate)

    val attempt = newDataDir(v + 1)
    val masks = stageMasks(spark, matched, attempt, dvs, maxNewDvRows) match {
      case None => delete(spark, predicate, changeFeed); return
      case Some(m) if m.touched.isEmpty => commitUnchanged(v, "DELETE"); return
      case Some(m) => m
    }
    // CDF before the commit that records it — see merge()
    val cdfDir =
      if (changeFeed) Some(writeChanges(
        matched.drop(DvFileCol, DvIdxCol).withColumn(ChangeType, lit("delete")),
        v + 1, attempt))
      else None
    // WriteSerializable rebase for the HIGH-FREQUENCY concurrent operation
    // at scale: a dv-delete writes only position sidecars, so a lost race
    // re-BINDS them against the winner's tip — zero recomputation — under
    // the predicate's read set. CHECK constraints need no guard: masking
    // rows can never violate one; and it mints no row ids.
    commitOrRebase(spark, v, MergeTable.TouchedSplit(masks.touched, files,
        Some(predicateConflict(spark, schema, predicate))),
      None, schema, cdfDir, "DELETE (DV)", masks = Some(masks),
      checkConstraints = false, allowRowTracking = true)
  }

  /** MERGE with DELETION VECTORS (Delta's DV-enabled MERGE, its flagship
    * write-amplification fix): instead of REWRITING every file that holds
    * a matched key, the matched target rows are masked out by dv sidecar
    * positions and ALL source rows land in one new data dir — the commit
    * keeps every old file. Cost goes from O(touched file bytes) to
    * O(matched rows + source rows): a 10-row upsert into a 100 TB table
    * writes KBs of positions + one small file, where [[merge]] re-writes
    * every touched file whole. The trade is read-side masks until the
    * next compaction — exactly Delta's, and the same [[deleteVectorized]]
    * bounds apply: more than `maxNewDvRows` matches falls back to the
    * rewriting [[merge]] (a mass update is cheaper rewritten once than
    * carried as a huge mask on every scan).
    *
    * Same semantics as [[merge]] (source wins, unmatched target untouched,
    * duplicate-source rejection, CDF, txn markers). Not available for
    * `rowTracking` tables — matched rows get fresh ids in the new file,
    * which would break id stability; those tables use the rewriting merge
    * (which preserves ids). `mergeSchema` likewise routes to [[merge]].
    */
  def mergeVectorized(spark: SparkSession, source: DataFrame, keys: Seq[String],
                      checkUniqueSource: Boolean = true,
                      changeFeed: Boolean = false,
                      txn: Option[(String, Long)] = None,
                      maxNewDvRows: Long = MergeTable.DefaultMaxDvRows,
                      keysDeterminePartitions: Boolean = false): Unit = {
    import MergeTable.{ChangeType, DvFileCol, DvIdxCol}
    require(keys.nonEmpty, "merge requires at least one key column")
    require(!rowTrackingEnabled,
      s"mergeVectorized on $root: row tracking requires the rewriting merge() — " +
        "a dv-masked update cannot preserve the matched rows' ids")
    require(identityCol.isEmpty,
      s"merge into $root: the table declares an identity column — use append for pure inserts")
    if (!exists) { merge(spark, source, keys, checkUniqueSource, changeFeed = changeFeed,
      txn = txn); return }
    val v = currentVersion
    val schema = schemaOf(v)
    require(!schema.fieldNames.contains(DvFileCol) && !schema.fieldNames.contains(DvIdxCol),
      s"mergeVectorized on $root: schema collides with reserved columns $DvFileCol/$DvIdxCol")
    val src = applyGenerated(source).cache()
    try {
      val srcKeys = src.select(keys.map(col): _*)
      if (checkUniqueSource)
        requireUniqueKeys(src, MergeTable.SourceKeys(spark, srcKeys), keys)
      val files = filesOf(v)
      val dvs = dvsOf(v)

      // same opt-in partition pruning as [[merge]]: the position probe
      // scans the scope's files, and the scope is the READ SET for the
      // lost-race rebase
      val (scopeDirs, probeRel) = mergeScope(src, files, keysDeterminePartitions)

      // matched target rows WITH their file/position — these become masks
      val live = readVersionFiles(spark, v, probeRel, keepPos = true)
      val matched = live.join(srcKeys, keys, "left_semi").cache()

      val attempt = newDataDir(v + 1)
      val masks = stageMasks(spark, matched, attempt, dvs, maxNewDvRows).getOrElse {
        // a mass update: one rewrite now beats a giant mask on every scan
        matched.unpersist()
        merge(spark, source, keys, checkUniqueSource, changeFeed = changeFeed,
          keysDeterminePartitions = keysDeterminePartitions, txn = txn)
        return
      }

      // ALL source rows land in one new dir (updates + inserts alike —
      // their old images are masked, so no join splits them)
      val dataDir = s"${attempt}m"
      writeData(src.select(schema.fieldNames.toIndexedSeq.map(col): _*),
        dataDir, colmapOf(v))

      val cdfDir =
        if (changeFeed) {
          val pre = matched.drop(DvFileCol, DvIdxCol)
            .withColumn(ChangeType, lit("update_preimage"))
          val matchedKeys = matched.select(keys.map(col): _*).distinct()
          val post = src.join(matchedKeys, keys, "left_semi")
            .withColumn(ChangeType, lit("update_postimage"))
          val ins = src.join(matchedKeys, keys, "left_anti")
            .withColumn(ChangeType, lit("insert"))
          Some(writeChanges(
            pre.unionByName(post, allowMissingColumns = true)
              .unionByName(ins, allowMissingColumns = true), v + 1, dataDir))
        } else None

      matched.unpersist()
      // dv-merge rebase (the dv-delete shape plus a data dir): masks
      // re-bind and the source's new file re-commits against the winner's
      // tip when the winner is provably outside this merge's read scope.
      // Constraints must MATCH — the new rows were validated under the
      // base's constraint set.
      commitOrRebase(spark, v, MergeTable.TouchedSplit(masks.touched, files,
          scopeDirs.map(scopeConflict)),
        Some(dataDir), schema, cdfDir, "MERGE (DV)", txn = txn, masks = Some(masks))
    } finally src.unpersist()
  }

  /** UPDATE with DELETION VECTORS (the [[mergeVectorized]] shape for
    * predicate updates): predicate-TRUE rows are dv-masked in place and
    * their post-SET images land in one new data dir — no touched file is
    * rewritten, so the commit costs O(updated rows), not O(touched file
    * bytes). Same semantics as [[update]] (NULL predicate rows untouched,
    * SET sees the pre-update row, generated columns re-derived, CHECK
    * constraints enforced in the write); same bounds and fallbacks as the
    * other dv writers (`maxNewDvRows` → rewriting [[update]]); not
    * available on rowTracking tables (masked rows' ids cannot survive
    * into the new file).
    */
  def updateVectorized(spark: SparkSession, predicate: Column, set: Map[String, Column],
                       changeFeed: Boolean = false,
                       maxNewDvRows: Long = MergeTable.DefaultMaxDvRows): Unit = {
    import MergeTable.{ChangeType, DvFileCol, DvIdxCol}
    require(set.nonEmpty, "update requires at least one SET column")
    require(!rowTrackingEnabled,
      s"updateVectorized on $root: row tracking requires the rewriting update() — " +
        "a dv-masked update cannot preserve the matched rows' ids")
    val v = currentVersion
    val schema = schemaOf(v)
    val unknown = set.keySet -- schema.fieldNames
    require(unknown.isEmpty,
      s"update on $root: SET columns ${unknown.mkString(", ")} are not in the table schema")
    require(!schema.fieldNames.contains(DvFileCol) && !schema.fieldNames.contains(DvIdxCol),
      s"updateVectorized on $root: schema collides with reserved columns $DvFileCol/$DvIdxCol")
    val files = filesOf(v)
    val dvs = dvsOf(v)
    val live = readVersionFiles(spark, v, files, keepPos = true)
    val matched = live.filter(predicate).cache() // bare: see deleteVectorized

    val attempt = newDataDir(v + 1)
    val masks = stageMasks(spark, matched, attempt, dvs, maxNewDvRows) match {
      case None =>
        matched.unpersist(); update(spark, predicate, set, changeFeed); return
      case Some(m) if m.touched.isEmpty =>
        matched.unpersist(); commitUnchanged(v, "UPDATE"); return
      case Some(m) => m
    }

    // post-SET images of exactly the masked rows (pre-update row visible
    // to every SET expression in one select), generated columns re-derived
    val pre = matched.drop(DvFileCol, DvIdxCol)
    val applied = pre.select(schema.fieldNames.map { c =>
      set.get(c).fold(col(c))(e => e.cast(schema(c).dataType)).as(c)
    }.toIndexedSeq: _*)
    val regen = generatedCols.foldLeft(applied) {
      case (acc, (name, genExpr)) if !set.contains(name) =>
        acc.withColumn(name, expr(genExpr))
      case (acc, _) => acc
    }
    val dataDir = s"${attempt}u"
    writeData(regen, dataDir, colmapOf(v))

    val cdfDir =
      if (changeFeed) Some(writeChanges(
        pre.withColumn(ChangeType, lit("update_preimage"))
          .unionByName(regen.withColumn(ChangeType, lit("update_postimage")),
            allowMissingColumns = true), v + 1, dataDir))
      else None
    matched.unpersist()
    // the dv-delete rebase shape plus a data dir: re-bind the masks and
    // re-commit the post-SET file against the winner's tip under the
    // predicate's read set; constraints must match (the post-SET rows were
    // validated under the base's set)
    commitOrRebase(spark, v, MergeTable.TouchedSplit(masks.touched, files,
        Some(predicateConflict(spark, schema, predicate))),
      Some(dataDir), schema, cdfDir, "UPDATE (DV)", masks = Some(masks))
  }

  /** Delta `UPDATE SET` analog: apply `set` (column → new-value expression)
    * to every row matching `predicate`, rewriting ONLY the data files that
    * contain at least one matching row — the same file-pruned shape as
    * [[delete]]; untouched files are carried forward by manifest reference.
    * Rows where the predicate is NULL are NOT updated (SQL UPDATE touches
    * only predicate-is-TRUE rows). SET expressions see the PRE-update row
    * (standard SQL: `SET a = b, b = a` swaps). Updates may move rows across
    * partitions (the write re-partitions by value). Generated columns are
    * re-derived after the SET — an update to a column a generated column
    * depends on can never leave the pair inconsistent — and CHECK
    * constraints are enforced inside the rewrite like every write.
    */
  def update(spark: SparkSession, predicate: Column, set: Map[String, Column],
             changeFeed: Boolean = false): Unit = {
    require(set.nonEmpty, "update requires at least one SET column")
    val v = currentVersion
    val schema = schemaOf(v)
    val unknown = set.keySet -- schema.fieldNames
    require(unknown.isEmpty,
      s"update on $root: SET columns ${unknown.mkString(", ")} are not in the table schema")

    val split = splitByPredicate(spark, v, predicate)
    val touchedRel = split.touched
    if (touchedRel.isEmpty) { commitUnchanged(v, "UPDATE"); return }

    // the rewrite is the touched rows re-projected and the feed ≤ 2× the
    // matched rows, so touched bytes bound the direct write here too
    val direct = directWriteOk(spark, touchedRel)
    val tdf = readTouched(spark, v, touchedRel, pin = direct)
    val hit = coalesce(predicate, lit(false)) === true
    // all SET expressions evaluate against the pre-update row in ONE select
    // (the row-tracking id passes through untouched — an UPDATE may never
    // re-identify a row)
    val applySet = (d: DataFrame) => d.select((schema.fieldNames.map { c =>
      set.get(c).fold(col(c))(e => when(hit, e.cast(schema(c).dataType)).otherwise(col(c))).as(c)
    } ++ (if (rowTrackingEnabled) Seq(col(MergeTable.RowIdCol)) else Nil)).toIndexedSeq: _*)
    // re-derive generated columns not explicitly SET: identity on untouched
    // rows, consistency on updated ones
    val regen = (d: DataFrame) => generatedCols.foldLeft(d) {
      case (acc, (name, genExpr)) if !set.contains(name) =>
        acc.withColumn(name, expr(genExpr))
      case (acc, _) => acc
    }
    val rewritten = regen(applySet(tdf))

    val dataDir = newDataDir(v + 1)
    val cdfDir =
      try {
        writeData(rewritten, dataDir, colmapOf(v), direct)
        // CDF before the commit that records it — see merge()
        if (changeFeed) {
          import MergeTable.ChangeType
          val pre = tdf.filter(hit).drop(MergeTable.RowIdCol)
            .withColumn(ChangeType, lit("update_preimage"))
          val post = regen(applySet(tdf.filter(hit))).drop(MergeTable.RowIdCol)
            .withColumn(ChangeType, lit("update_postimage"))
          Some(writeChanges(pre.unionByName(post), v + 1, dataDir, direct))
        } else None
      } finally if (direct) tdf.unpersist()
    // same WriteSerializable rebase as [[delete]]: the read set is the
    // predicate's partition scope; updated rows may land in OTHER
    // partitions (SET on a partition column) — irrelevant to the
    // conflict check, which guards what was READ, not where the
    // rewrite lands (the same property merge's partition-move relies on)
    commitOrRebase(spark, v, split, Some(dataDir), schema, cdfDir, "UPDATE")
  }

  /** Delta `replaceWhere` analog (`df.write.option("replaceWhere", p)` /
    * `INSERT OVERWRITE ... PARTITION`): atomically replace exactly the rows
    * matching `predicate` with `data` — a delete and a load in ONE commit,
    * so no reader can observe the gap between them (two commits would
    * expose an empty slice to a concurrent read). Every incoming row must
    * satisfy the predicate, enforced like Delta does — otherwise "replace
    * this slice" would silently write outside the slice it deletes.
    * File-pruned like [[delete]]: only files containing a matching row are
    * rewritten (their non-matching survivors are carried into the new
    * files), untouched files ride along by manifest reference. The classic
    * use is partition backfill — a predicate on partition columns prunes
    * at metadata speed and swaps whole partitions, which is what makes
    * daily re-loads affordable on a 100 TB table.
    */
  def overwriteWhere(spark: SparkSession, predicate: Column, data: DataFrame,
                     changeFeed: Boolean = false): Unit = {
    require(exists,
      s"MergeTable at $root does not exist — use overwrite for the initial load")
    val v = currentVersion
    val schema = schemaOf(v)
    val gen = applyGenerated(data)
    require(gen.columns.sorted.sameElements(schema.fieldNames.sorted),
      s"overwriteWhere on $root: data columns (${gen.columns.sorted.mkString(", ")}) " +
        s"must match the table schema (${schema.fieldNames.sorted.mkString(", ")})")
    val aligned = gen.select(schema.fieldNames.map(c =>
      col(c).cast(schema(c).dataType).as(c)).toIndexedSeq: _*)
    val outside = aligned.filter(coalesce(predicate, lit(false)) =!= true).limit(1).count()
    require(outside == 0L,
      s"overwriteWhere on $root: incoming rows do not all satisfy the replace " +
        "predicate — they would land outside the slice being replaced")

    val split = splitByPredicate(spark, v, predicate)
    val touchedRel = split.touched
    val survivors =
      if (touchedRel.isEmpty) None
      else Some(readTouched(spark, v, touchedRel, pin = false)
        .filter(coalesce(predicate, lit(false)) =!= true))
    // survivors keep their ids; the replacement rows are all fresh
    val alignedIded =
      if (!rowTrackingEnabled) aligned
      else aligned.withColumn(MergeTable.RowIdCol, lit(null).cast("long"))
    val (outData, rowHwm) =
      assignRowIds(survivors.fold(alignedIded)(_ unionByName alignedIded))
    val dataDir = newDataDir(v + 1)
    writeData(outData, dataDir, colmapOf(v))
    // CDF before the commit that records it — see merge()
    val cdfDir =
      if (changeFeed) {
        import MergeTable.ChangeType
        val deleted =
          if (touchedRel.isEmpty) None
          else Some(readVersionFiles(spark, v, touchedRel)
            .filter(coalesce(predicate, lit(false)) === true)
            .withColumn(ChangeType, lit("delete")))
        val inserted = aligned.withColumn(ChangeType, lit("insert"))
        Some(writeChanges(deleted.fold(inserted)(_ unionByName inserted),
          v + 1, dataDir))
      } else None
    // the DELETE rebase shape: replaceWhere's read set is the predicate's
    // partition scope (the incoming rows all satisfy the predicate, so the
    // written file lands inside it); a backfill of yesterday's partition
    // must not re-derive because today's ingest won its race
    commitOrRebase(spark, v, split, Some(dataDir), schema, cdfDir, "REPLACE WHERE",
      rowHwm = rowHwm)
  }

  /** Parameterless OPTIMIZE with clustering awareness (the liquid-
    * clustering shape): when the table carries a
    * [[MergeTable.ClusterByProp]] property (comma-joined numeric columns,
    * set at CREATE time or any ALTER ... SET TBLPROPERTIES), optimize
    * re-clusters by Z-ordering on those columns — layout maintenance is a
    * TABLE property, not something every maintenance job must re-specify;
    * without the property it is a plain bin-packing compaction.
    */
  def optimize(spark: SparkSession, parallelism: Int = 8): Unit =
    properties.get(MergeTable.ClusterByProp) match {
      case Some(cols) =>
        val requested = cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        // the property is free text settable by ALTER TABLE SET
        // TBLPROPERTIES (only the CTAS path validates) — verify against the
        // CURRENT schema here or every later parameterless OPTIMIZE fails
        // deep inside zorderCompact's rank math with no usable error
        val fields = schemaOf(currentVersion).fields.map(f => f.name -> f.dataType).toMap
        val missing = requested.filterNot(fields.contains)
        require(missing.isEmpty,
          s"OPTIMIZE on $root: ${MergeTable.ClusterByProp} names column(s) " +
            s"${missing.mkString(", ")} absent from the table schema — fix the " +
            "property with ALTER TABLE ... SET TBLPROPERTIES or unset it")
        val unorderable = requested.filter { c =>
          import org.apache.spark.sql.types._
          fields(c) match {
            case _: NumericType => false
            case TimestampType | TimestampNTZType | DateType | StringType |
                 BooleanType => false
            case _ => true
          }
        }
        require(unorderable.isEmpty,
          s"OPTIMIZE on $root: ${MergeTable.ClusterByProp} column(s) " +
            s"${unorderable.mkString(", ")} have no Z-orderable projection " +
            "(supported: numeric, timestamp, date, string, boolean)")
        zorderCompact(spark, requested, parallelism)
      case None => compact(spark, parallelism)
    }

  /** Compaction (Delta OPTIMIZE analog): rewrite the CURRENT snapshot
    * BIN-PACKED to a file-size budget — each partition directory ends up
    * with ceil(partitionBytes / targetFileBytes) files (Delta's 1 GiB
    * default), so a 100 TB table compacts to ~10⁵ right-sized files
    * instead of one unwritable file per partition, while a toy-scale
    * partition still collapses to a single file. Current sizes come from
    * one stat pass over the manifest (metadata, no data read); rows route
    * to sub-files by a DETERMINISTIC hash salt (a rand() salt would break
    * the shuffle-retry contract). MERGE leaves behind whatever file count
    * the shuffle produced; on a long-lived table that accretes small
    * files until scan/listing overhead dominates — compaction amortizes
    * it away. Readers are unaffected mid-compact (snapshot isolation via
    * `_LATEST`).
    */
  def compact(spark: SparkSession, parallelism: Int = 8,
              targetFileBytes: Long = MergeTable.DefaultTargetFileBytes): Unit = {
    require(parallelism > 0, "parallelism must be positive")
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val v = currentVersion
    val files = filesOf(v)
    val data = readVersionFiles(spark, v, files,
      withRowIds = rowTrackingEnabled) // row ids survive the rewrite verbatim
    def size(f: String): Long =
      try Files.size(Paths.get(root, f)) catch { case _: java.io.IOException => 0L }
    // files-per-partition budget from CURRENT on-disk bytes (one stat pass)
    val nFilesByDir: Map[String, Int] = files.groupBy(partDirOf).map { case (d, fs) =>
      d -> math.max(1L, (fs.map(size).sum + targetFileBytes - 1) / targetFileBytes).toInt
    }
    if (partitionCols.isEmpty) {
      val n = nFilesByDir.values.headOption.getOrElse(1)
      writeVersion(data.repartition(n), v + 1, op = "OPTIMIZE", assignIds = false)
    } else {
      // dir "p=a/q=b" → the same key a row's values build below: decoded
      // partition values joined on \u0001, null encoded as \u0000 — both
      // sides go through Spark's own cast-to-string, so they agree
      val nByKey: Map[String, Int] = nFilesByDir.map { case (d, n) =>
        partValuesOf(d).map(v => if (v == null) "\u0000" else v).mkString("\u0001") -> n
      }
      val rowKey = concat_ws("\u0001",
        partitionCols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
      val nFiles = coalesce(
        element_at(typedLit(nByKey), rowKey).cast("long"), lit(1L))
      // deterministic sub-file bucket — stable under task retries
      val salt = pmod(xxhash64(struct(data.columns.map(col).toIndexedSeq: _*)), nFiles)
      val total = math.max(parallelism, nFilesByDir.values.sum)
      val packed = data.withColumn("_graft_bucket", salt)
        .repartition(total, (partitionCols.map(col) :+ col("_graft_bucket")): _*)
        .drop("_graft_bucket")
      writeVersion(packed, v + 1, op = "OPTIMIZE", assignIds = false)
    }
  }

  /** Zero-copy CLONE (Delta CLONE analog): the current snapshot's data
    * files are HARD-LINKED into `targetRoot` — same filesystem ⇒ O(files)
    * metadata operations, no data movement — and committed as the clone's
    * version 0 together with the source's stats, constraints, and ingest
    * ledger. Delta's shallow clone breaks when the source is vacuumed; the
    * links keep shared blocks alive instead, so either table can merge,
    * vacuum, or be deleted entirely without affecting the other, while
    * unmodified files still share storage (writes never mutate files in
    * place — every write lands in a fresh attempt dir). Falls back to a
    * copy per file if the target sits on another filesystem.
    */
  def cloneTo(targetRoot: String): MergeTable = {
    val v = currentVersion
    val c = readCommit(v)
    val target = new MergeTable(targetRoot, partitionCols, statsCols, generatedCols,
      identityCol, rowTrackingEnabled)
    require(!target.exists, s"clone target $targetRoot already exists")
    // dv sidecars travel with the data files they mask (same zero-copy link)
    val dvFiles = c.dvs.map(_._2).distinct.sorted
      .flatMap(d => listParquet(Paths.get(root, d)).map(relativize))
    (c.files ++ dvFiles).foreach { rel =>
      val srcP = Paths.get(root, rel)
      val dstP = Paths.get(targetRoot, rel)
      Files.createDirectories(dstP.getParent)
      // a crashed earlier clone attempt may have left links behind (no
      // commit was published, so the target still reads as nonexistent) —
      // relink rather than fail the retry
      Files.deleteIfExists(dstP)
      try Files.createLink(dstP, srcP)
      catch { case _: UnsupportedOperationException | _: java.io.IOException
                if !Files.exists(dstP) => Files.copy(srcP, dstP) }
    }
    target.commit(0L, c.files, c.schema, c.statsLines,
      constraintsOverride = Some(c.constraints),
      ingestReset = Some(ledgerAt(v)),
      txnsOverride = Some(c.txns), // exactly-once writers stay exactly-once on the clone
      dvsOverride = Some(c.dvs),   // masks key on rel paths: same layout on the clone
      colmapOverride = Some(c.colmap), retiredOverride = Some(c.retired),
      propsOverride = Some(c.props),
      op = "CLONE")
    target
  }

  /** Partition-scoped compaction (Delta `OPTIMIZE ... WHERE` analog):
    * rewrite only the files of partitions whose VALUES satisfy
    * `partitionPredicate` (a deterministic predicate over partition
    * columns only); every other file is carried forward by manifest
    * reference, stats included. At 100 TB compaction is routinely
    * restricted to the recently-written hot partitions — a full-table
    * OPTIMIZE is neither affordable nor needed. The files come from
    * Spark's partition pruning over the manifest's partition values
    * ([[ManifestFileIndex]]) — metadata-sized, never a data scan.
    */
  def compactPartitions(spark: SparkSession, partitionPredicate: Column,
                        parallelism: Int = 8): Unit = {
    require(partitionCols.nonEmpty, "compactPartitions requires a partitioned table")
    require(parallelism > 0, "parallelism must be positive")
    val v = currentVersion
    val schema = schemaOf(v)
    val oldFiles = filesOf(v)
    val cond = MergeTable.conditionOf(spark, schema, partitionPredicate)
    require(cond.deterministic && cond.references.forall(a => partitionCols.contains(a.name)),
      s"compactPartitions on $root: not a deterministic partition predicate: $partitionPredicate")
    val matching = keptBy(spark, v, oldFiles, partitionPredicate).toSet
    val (touchedRel, keptRel) = oldFiles.partition(matching)
    if (touchedRel.isEmpty) { commitUnchanged(v, "OPTIMIZE"); return }
    val packed = readTouched(spark, v, touchedRel, pin = false)
      .repartition(parallelism, partitionCols.map(col): _*)
    val dataDir = newDataDir(v + 1)
    writeData(packed, dataDir, colmapOf(v))
    // Background compaction racing ingest is THE canonical concurrent
    // pair at scale — a lost race must not re-read and re-write the
    // partition. Winner ADDS never conflict (their files simply stay
    // uncompacted in the rebased manifest); only a winner that
    // rewrote/removed/re-masked one of our INPUT files invalidates the
    // packed output. Row tracking is safe here: a pure rewrite carries
    // every id verbatim and mints none.
    commitOrRebase(spark, v, MergeTable.TouchedSplit(touchedRel, keptRel, Some(_ => false)),
      Some(dataDir), schema, None, "OPTIMIZE", allowRowTracking = true)
  }

  /** Delta's `REORG TABLE ... APPLY (PURGE)` analog: rewrite ONLY the
    * files that carry deletion-vector masks, materializing their surviving
    * rows and shedding the bindings; every clean file is carried forward
    * by manifest reference, stats included. The 100 TB point mirrors
    * OPTIMIZE WHERE: dv deletes touch a sliver of a big table, so purging
    * them must cost O(masked files), never a full-table rewrite. After the
    * commit the sidecars are unreferenced by the NEW version (old versions
    * still bind them — time travel stays exact) and are reclaimed by
    * vacuum once the horizon passes.
    */
  def reorgPurge(spark: SparkSession, parallelism: Int = 8): Unit = {
    require(parallelism > 0, "parallelism must be positive")
    val v = currentVersion
    val c = readCommit(v)
    if (c.dvs.isEmpty) return // nothing masked — a no-op, not a new version
    val masked = c.dvs.map(_._1).toSet
    val (touchedRel, keptRel) = c.files.partition(masked.contains)
    val survivors = readTouched(spark, v, touchedRel, pin = false)
    val packed =
      if (partitionCols.nonEmpty)
        survivors.repartition(parallelism, partitionCols.map(col): _*)
      else survivors.repartition(parallelism)
    val dataDir = newDataDir(v + 1)
    writeData(packed, dataDir, colmapOf(v))
    // Every masked file is purged, so the new snapshot carries no masks:
    // carry-forward drops the bindings of files that left the manifest.
    // Same pure-rewrite rebase as compaction: carry-forward keeps a
    // concurrent writer's NEW masks on files we didn't purge (a later
    // write, legitimately retained — WriteSerializable), while a changed
    // binding ON a purged file still conflicts inside rebaseMerge (our
    // survivors would be stale).
    commitOrRebase(spark, v, MergeTable.TouchedSplit(touchedRel, keptRel, Some(_ => false)),
      Some(dataDir), c.schema, None, "REORG", allowRowTracking = true)
  }

  // ---- data skipping (Delta file-statistics analog) ----

  /** Per-file min/max statistics of `statsCols` for a snapshot:
    * `relPath → column → (min, max)` as stringified values. Collected by one
    * metadata-sized aggregation at commit time and CARRIED FORWARD with
    * unrewritten files — reading 100 TB to re-derive stats for files a merge
    * never touched would defeat the point.
    */
  def statsOf(version: Long): Map[String, Map[String, (String, String)]] =
    statsDetail(version).map { case (f, m) =>
      f -> m.map { case (c, (mn, mx, _)) => c -> (mn, mx) }
    }

  /** [[statsOf]] plus each entry's null flag: `N` = the column is
    * all-NULL in the file, `V` = non-null values present, `?` = legacy
    * 4-field line (pre-flag commits) where an empty bound is ambiguous —
    * the pruners keep those files rather than guess.
    */
  private[lake] def statsDetail(version: Long)
      : Map[String, Map[String, (String, String, Char)]] = readCommit(version).statsDetail

  /** Per-file ROW COUNTS recorded in the commit log (the count stat lines
    * [[collectStatsFor]] writes alongside min/max — Delta's
    * `stats.numRecords`). Files committed before count collection (or on a
    * table that never collected stats) are simply absent — callers decide
    * whether partial coverage is usable. `ANALYZE TABLE` retrofits counts
    * onto any table.
    */
  def fileRowCounts(version: Long): Map[String, Long] =
    readCommit(version).statsLines.flatMap { line =>
      val parts = line.split("\t", -1)
      if (parts.length >= 3 && dec(parts(1)) == MergeTable.CountStatKey)
        parts(2).toLongOption.map(dec(parts(0)) -> _)
      else None
    }.toMap

  /** Answer `count(*)` / `min(c)` / `max(c)` — optionally grouped by
    * partition columns — ENTIRELY from the commit log, reading ZERO data
    * files. This is what makes `SELECT count(*) FROM t` on a 100 TB table
    * a metadata operation (Delta answers the same shapes from its
    * `stats.numRecords`/min/max; the [[MetadataOnlyAggregate]] optimizer
    * rule routes here). Returns `None` whenever the log cannot answer
    * EXACTLY, and the caller falls back to a real scan — the metadata answer
    * is an optimization, never a correctness dependency:
    *
    *  - `count`: every live file must carry a recorded row count
    *    ([[fileRowCounts]]); deletion-vector masked rows are subtracted
    *    per file (the commit records exact masked-position counts).
    *  - `min`/`max`: every live file must carry a `V`/`N`-flagged stats
    *    line for the column (legacy `?` lines reject), the snapshot must
    *    have NO deletion vectors (a mask could hide the extremal row), and
    *    the column's type must round-trip exactly — strings are REJECTED
    *    because their recorded bounds are truncated ([[truncStatMin]]:
    *    sound for pruning, not actual values). A min/max over a PARTITION
    *    column is answered from the directory values instead (exact at any
    *    type, restricted to files with a recorded count > 0 so an empty
    *    file's directory can't fabricate an extremum).
    *  - `groupBy` columns must be partition columns: groups and their
    *    member files come from the manifest's directory tuples.
    *
    * Aggs are `(op, column)` with op ∈ count|min|max|sum|avg (column null
    * for count(*)). Result rows are `groupBy values ++ agg values` in external
    * JVM types (the caller builds Rows/schema).
    */
  def aggregateFromStats(version: Long, groupBy: Seq[String],
                         aggs: Seq[(String, String)],
                         restrictTo: Option[Set[String]] = None): Option[Seq[Seq[Any]]] = {
    import org.apache.spark.sql.types._
    val schema = schemaOf(version)
    // `restrictTo` is an EXACT file subset the caller derived from
    // partition-only predicates (the scan's own partition pruning): the
    // per-file math composes unchanged over any subset of the snapshot
    val files = restrictTo match {
      case Some(keep) => filesOf(version).filter(keep)
      case None       => filesOf(version)
    }
    val dvs = dvsOf(version)
    val counts = fileRowCounts(version)
    lazy val stats = statsDetail(version)
    lazy val nulls = nullCounts(version)
    lazy val sums = fileSums(version)

    if (!groupBy.forall(partitionCols.contains)) return None
    if (aggs.isEmpty) return None

    // external-string → external JVM value, by the CURRENT schema type
    // (type widening is lossless, so an INT-era "5" parses as the widened
    // LONG exactly); every returned value is Comparable within its type
    def parse(s: String, dt: DataType): Option[Any] = try dt match {
      case ByteType      => Some(java.lang.Byte.valueOf(s))
      case ShortType     => Some(java.lang.Short.valueOf(s))
      case IntegerType   => Some(java.lang.Integer.valueOf(s))
      case LongType      => Some(java.lang.Long.valueOf(s))
      case FloatType     => Some(java.lang.Float.valueOf(s))
      case DoubleType    => Some(java.lang.Double.valueOf(s))
      case _: DecimalType => Some(new java.math.BigDecimal(s))
      case DateType      => Some(java.sql.Date.valueOf(s))
      case TimestampType => Some(java.sql.Timestamp.valueOf(s))
      case TimestampNTZType => Some(java.time.LocalDateTime.parse(s))
      case StringType    => Some(s)
      case BooleanType   => Some(java.lang.Boolean.valueOf(s))
      case _             => None
    } catch { case scala.util.control.NonFatal(_) => None }

    // rel file → partition column → external value (null for the Hive
    // DEFAULT partition); None when a partition dir is missing from the
    // path or its value fails to parse as the column's type — either way
    // the log can't answer exactly, so the caller falls back to a scan
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    def partVals(f: String): Option[Map[String, Any]] = {
      val segs = f.split('/')
      val pairs = segs.slice(1, segs.length - 1).toSeq.filter(_.contains('='))
        .map(seg => seg.takeWhile(_ != '=') ->
          seg.substring(seg.indexOf('=') + 1)).toMap
      val resolved = partitionCols.map { c =>
        pairs.get(c) match {
          case None => return None // layout anomaly
          case Some(raw) if raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME =>
            c -> (null: Any)
          case Some(raw) =>
            parse(ExternalCatalogUtils.unescapePathName(raw),
              schema(c).dataType) match {
              case None    => return None // unparsable dir value
              case Some(v) => c -> v
            }
        }
      }
      Some(resolved.toMap)
    }

    // Spark orders StringType by UTF-8 BINARY (UTF8String), not UTF-16
    // code units (String.compareTo) — the two disagree when supplementary
    // characters (surrogate pairs ≥ U+10000) mix with U+E000–U+FFFF, so
    // partition-string min/max must compare the way the real scan would
    def cmp(a: Any, b: Any): Int = (a, b) match {
      case (x: String, y: String) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(x)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y))
      case _ => a.asInstanceOf[Comparable[Any]].compareTo(b)
    }

    // ---- per-agg feasibility over the in-scope files ----
    val countable = files.forall(counts.contains)
    val masked = files.exists(dvs.contains) // dvs outside the scope are moot
    def minMaxFeasible(c: String): Boolean =
      schema.fieldNames.contains(c) && {
        val dt = schema(c).dataType
        if (partitionCols.contains(c))
          // dir-derived: exact for any parseable type, but needs counts to
          // exclude empty files, and no masks on any in-scope file
          countable && !masked && (dt match {
            case _: NumericType | StringType | DateType | TimestampType |
                 TimestampNTZType | BooleanType => true
            case _ => false
          })
        else (dt match {
          case StringType => false // truncated bounds are not values
          case _: NumericType | DateType | TimestampType | TimestampNTZType => true
          case _ => false
        }) && !masked &&
          files.forall(f => stats.get(f).flatMap(_.get(c)).exists(_._3 != '?'))
      }
    // count(col) = rows minus recorded nulls: needs row counts AND a
    // null count for every in-scope file, and no masks (a masked row's
    // null-ness is unknown to the log). A PARTITION column's null count
    // derives from the directory itself (the Hive DEFAULT dir holds
    // exactly the NULL rows).
    def countColFeasible(c: String): Boolean =
      schema.fieldNames.contains(c) && countable && !masked &&
        (partitionCols.contains(c) ||
          files.forall(f => nulls.contains((f, c))))
    // sum(col): integral columns only (the recorded partial sums are exact
    // decimal(38,0) arithmetic — order-independent, unlike FP); every
    // in-scope file must record either a sum or an all-NULL flag, and no
    // file may be masked
    def sumFeasible(c: String): Boolean =
      schema.fieldNames.contains(c) && !masked && (schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }) && files.forall(f => sums.contains((f, c)) ||
        stats.get(f).flatMap(_.get(c)).exists(_._3 == 'N'))
    val ok = aggs.forall {
      case ("count", null) => countable
      case ("count", c)    => countColFeasible(c)
      case ("min", c)      => minMaxFeasible(c)
      case ("max", c)      => minMaxFeasible(c)
      case ("sum", c)      => sumFeasible(c)
      // avg = exact sum / non-null count: both sub-answers must be exact
      case ("avg", c)      => sumFeasible(c) && countColFeasible(c)
      case _               => false
    }
    if (!ok) return None

    // ---- group files by the groupBy partition tuple ----
    val filePartVals: Map[String, Map[String, Any]] =
      if (groupBy.isEmpty && !aggs.exists(a => a._2 != null &&
          partitionCols.contains(a._2))) Map.empty.withDefaultValue(Map.empty)
      else {
        val parsed = files.map(f => f -> partVals(f))
        if (parsed.exists(_._2.isEmpty)) return None
        parsed.map { case (f, v) => f -> v.get }.toMap
      }
    // a GLOBAL aggregate over zero files must still emit ITS one row
    // (count(*) = 0, min/max = NULL — SQL's no-group-by semantics); a
    // grouped aggregate over zero files correctly emits none
    val groups: Map[Seq[Any], Seq[String]] =
      if (files.isEmpty && groupBy.isEmpty) Map(Seq.empty[Any] -> Seq.empty)
      else files.groupBy(f => groupBy.map(c => filePartVals(f).getOrElse(c, null)))

    def liveCount(f: String): Long =
      counts(f) - dvs.get(f).map(_._2).getOrElse(0L)
    // a group exists only while a row of it does: the scan returns no
    // group for a partition whose every row a deletion vector masks
    val liveGroups =
      if (groupBy.isEmpty) groups
      else groups.filter { case (_, m) => !m.forall(counts.contains) || m.map(liveCount).sum > 0 }

    // raised when a value-level check (sum overflow) proves the log cannot
    // answer exactly — the caller falls back to the real scan
    object Unanswerable extends RuntimeException

    def aggValue(op: String, c: String, members: Seq[String]): Any = op match {
      case "count" if c == null => java.lang.Long.valueOf(members.map(liveCount).sum)
      case "sum" =>
        // Spark's Sum over integrals keeps a LONG buffer: a result beyond
        // Long range would make the real scan raise/wrap — fall back to it
        // rather than answer differently
        val contrib = members.flatMap(f => sums.get((f, c)))
        if (contrib.isEmpty) null
        else {
          val total = contrib.sum
          if (total.isValidLong) java.lang.Long.valueOf(total.toLong)
          else throw Unanswerable
        }
      case "avg" =>
        // exact integral sum over exact non-null count — deterministic
        // where a scan's double-accumulated Average is only exact while
        // its running sum stays below 2^53
        val nn = aggValue("count", c, members).asInstanceOf[java.lang.Long]
        if (nn == 0L) null
        else {
          val total = members.flatMap(f => sums.get((f, c))).sum
          if (!total.isValidLong) throw Unanswerable
          java.lang.Double.valueOf(total.toDouble / nn.toDouble)
        }
      case "count" =>
        // non-null count per file: partition columns from the dir value
        // (NULL dir => zero non-nulls), data columns from the recorded
        // null counts
        java.lang.Long.valueOf(members.map { f =>
          if (partitionCols.contains(c))
            (if (filePartVals(f).getOrElse(c, null) == null) 0L else counts(f))
          else counts(f) - nulls((f, c))
        }.sum)
      case _ =>
        val vals: Seq[Any] =
          if (partitionCols.contains(c))
            members.filter(f => counts(f) > 0)
              .flatMap(f => Option(filePartVals(f).getOrElse(c, null)))
          else members.flatMap { f =>
            stats.get(f).flatMap(_.get(c)) match {
              case Some((_, _, 'N'))  => None
              case Some((mn, mx, _)) =>
                parse(if (op == "min") mn else mx, schema(c).dataType)
              case None => None
            }
          }
        if (vals.isEmpty) null
        else if (op == "min") vals.reduce((a, b) => if (cmp(a, b) <= 0) a else b)
        else vals.reduce((a, b) => if (cmp(a, b) >= 0) a else b)
    }

    // pre-flight min/max bounds: an unparsable V-flagged bound makes the
    // answer inexact (silently dropping it could miss the extremum) → None
    val boundsParse = aggs.forall {
      case (op, c) if (op == "min" || op == "max") && !partitionCols.contains(c) =>
        files.forall(f => stats.get(f).flatMap(_.get(c)) match {
          case Some((_, _, 'N'))  => true
          case Some((mn, mx, _)) =>
            parse(mn, schema(c).dataType).isDefined &&
              parse(mx, schema(c).dataType).isDefined
          case None => false
        })
      case _ => true
    }
    if (!boundsParse) return None

    try Some(liveGroups.toSeq.sortBy(_._1.mkString("\u0000")).map { case (gv, members) =>
      gv ++ aggs.map { case (op, c) => aggValue(op, c, members) }
    }) catch { case e: RuntimeException if e eq Unanswerable => None }
  }

  /** ANALYZE TABLE analog: (re)compute per-file min/max statistics of
    * `cols` over every file of the current snapshot and commit them —
    * retrofits data skipping onto a table created without `statsCols`
    * (or extends it to new columns) without rewriting any data. One
    * file-grouped aggregation pass over the snapshot (the same scan
    * [[collectStats]] runs per-write, here across all files once); the
    * commit is metadata-only. Subsequent writes still collect stats for
    * the constructor's `statsCols` only — re-run analyze after large
    * ingests if the analyzed columns differ, or construct the table with
    * the right `statsCols` to keep them fresh automatically.
    * [[ManifestFileIndex]] treats files lacking a column's stats
    * conservatively (kept), so mixed coverage degrades pruning, never
    * correctness.
    */
  def analyze(spark: SparkSession, cols: Seq[String]): Unit = {
    require(exists, s"MergeTable at $root does not exist")
    val v = currentVersion
    val c = readCommit(v)
    val missing = cols.filterNot(c.schema.fieldNames.contains)
    require(cols.nonEmpty && missing.isEmpty,
      s"analyze of $root: columns ${missing.mkString(", ")} not in schema " +
        s"(${c.schema.fieldNames.mkString(", ")})")
    val unorderable = cols.filter(cl => !MergeTable.statsSupported(c.schema(cl).dataType))
    require(unorderable.isEmpty,
      s"analyze of $root: column(s) ${unorderable.mkString(", ")} have types the " +
        "pruner cannot order (binary/array/struct) — min/max stats would never skip a file")
    val stats = collectStatsFor(spark, c.files, c.schema, colmapOf(v), cols)
    // pin the analyzed columns forward: subsequent writes keep collecting
    // for them (without this, analyze covers one snapshot and then decays)
    commit(v + 1, c.files, c.schema, stats, op = "ANALYZE",
      propsOverride = propsWith(Seq(MergeTable.StatsColsProp ->
        cols.map(java.net.URLEncoder.encode(_, "UTF-8")).mkString(","))))
  }

  /** The current snapshot's files that MIGHT contain a row with
    * `column ∈ [lo, hi]`: the files [[readRange]]'s scan keeps
    * ([[ManifestFileIndex]]), found by planning it with no Spark job.
    */
  def candidateFiles(column: String, lo: Any, hi: Any): Seq[String] = {
    val v = currentVersion
    keptBy(SparkSession.active, v, filesOf(v), col(column).between(lit(lo), lit(hi)))
  }

  /** Range read with file skipping: `read(spark).filter(col BETWEEN lo
    * AND hi)`, whose scan skips every file that cannot hold a row in range.
    */
  def readRange(spark: SparkSession, column: String, lo: Any, hi: Any): DataFrame =
    read(spark).filter(col(column).between(lit(lo), lit(hi)))

  /** The subset of `files` whose PARTITION VALUES could satisfy
    * `predicate` — the read set of a predicate DML's lost-race rebase
    * ([[predicateConflict]]): the FULL predicate is evaluated over the
    * files' distinct partition tuples (metadata-sized, no data scan), and
    * a file is dropped only when its partition's rows cannot be
    * predicate-TRUE. A predicate that reads data columns falls back to
    * its partition-only and generated-column conjuncts, and to every file
    * when there are none (the conservative default: a kept file is a
    * conflict, never a wrong rebase).
    */
  private[lake] def partitionCandidates(spark: SparkSession, files: Seq[String],
                                        schema: StructType,
                                        predicate: Column): Seq[String] = {
    if (files.isEmpty || partitionCols.isEmpty) return files
    import org.apache.spark.sql.types.{StringType, StructField}
    val rows = files.map(partDirOf).distinct.map(d =>
      org.apache.spark.sql.Row.fromSeq(d +: partValuesOf(d)))
    val strSchema = StructType(StructField("_dir", StringType) +:
      partitionCols.map(c => StructField(c, StringType)))
    val typed = spark.createDataFrame(rows.asJava, strSchema)
      .select(col("_dir") +: partitionCols.map(c =>
        col(c).cast(schema(c).dataType).as(c)): _*)
    // A NON-DETERMINISTIC predicate (rand() < p, …) evaluated once per
    // distinct partition tuple is a different sample than the per-row scan
    // the caller is about to run — pruning on it would be UNSOUND (a file
    // the scan would touch could be skipped). Deterministic-only, checked
    // on the resolved plan.
    val deterministic =
      try Some(typed.filter(predicate).queryExecution.analyzed.expressions.forall(_.deterministic))
      catch { case _: org.apache.spark.sql.AnalysisException => None } // data-column refs
    // rows act only when the predicate is TRUE (NULL keeps/skips rows in
    // every caller), so a partition is needed only if it can be TRUE.
    // The catch is deliberately broad: runtime evaluation failures (ANSI
    // cast errors that the full scan would surface per-row, with its own
    // error context) fall back to no pruning — the probe is an
    // optimization and must never be the place an error first appears.
    def probe(p: Column): Seq[String] =
      (try Some(typed.filter(coalesce(p, lit(false)) === true)
        .select("_dir").collect().map(_.getString(0)).toSet)
      catch { case scala.util.control.NonFatal(_) => None }) match {
        case None       => files
        case Some(dirs) => files.filter(f => dirs.contains(partDirOf(f)))
      }
    deterministic match {
      case Some(false) => files // nondeterministic: pruning would be unsound
      case Some(true)  => probe(predicate)
      case None =>
        // the WHOLE predicate reads data columns — but its partition-only
        // conjuncts, plus conjuncts DERIVED through generated partition
        // columns (`DELETE WHERE d = X` on a y = year(d) layout), are
        // still implied by it and probe the tuples soundly. This is what
        // partition-prunes the DML rewrite probes with zero opt-in.
        derivedTuplePredicate(spark, schema, predicate).fold(files)(probe)
    }
  }

  /** The partition-column predicate IMPLIED by `predicate` when the whole
    * predicate cannot evaluate over partition tuples: its top-level
    * conjuncts that reference partition columns alone, plus conjuncts
    * derived through the generated-column shapes
    * ([[MergeTable.derivedPartitionConjuncts]]). None when nothing
    * translates — callers then skip pruning.
    */
  private def derivedTuplePredicate(spark: SparkSession, schema: StructType,
                                    predicate: Column): Option[Column] =
    try {
      val cond = MergeTable.conditionOf(spark, schema, predicate)
      if (!cond.deterministic) None
      else {
        val fs = translatedConjuncts(cond)
        val types = schema.fields.map(f => f.name -> f.dataType).toMap
        val partOnly = fs.filter(f =>
          f.references.nonEmpty && f.references.forall(partitionCols.contains))
        val derived =
          if (generatedCols.isEmpty) Nil
          else MergeTable.derivedPartitionConjuncts(spark, fs,
            generatedCols.filter { case (p, _) => partitionCols.contains(p) }, types)
        (partOnly ++ derived).flatMap(MergeTable.translateFilter).reduceOption(_ && _)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  // ---- per-file Bloom index (Delta bloom-filter-index analog) ----

  /** Build (or rebuild) a per-file Bloom filter index over `colName` —
    * point-lookup file skipping for high-cardinality columns min/max
    * stats can't prune (Delta's bloom filter index, as SIDECAR files:
    * `bloomidx/<physical col>/<flattened file path>.bloom`, one per data
    * file, beside a `_type.json` naming the column's type; nothing in the
    * commit log). Keyed by physical name, an index follows
    * [[renameColumn]] and serves time travel to any version giving the
    * column the same type. One file-grouped aggregation pass
    * (the [[collectStats]] shape): xxhash64 per value, `bloom_agg` per
    * file, KB-sized filters collected driver-side — metadata, never data.
    * A file REWRITTEN after indexing simply has no sidecar and is kept by
    * the lookups unpruned — degradation, never wrong answers;
    * re-run after large rewrites. Requires a session with GraftExtensions
    * (the library's standard session — `bloom_agg` is registered there).
    */
  def buildBloomIndex(spark: SparkSession, colName: String,
                      estItemsPerFile: Long = 100000L): Unit = {
    require(exists, s"MergeTable at $root does not exist")
    val v = currentVersion
    val c = readCommit(v)
    require(c.schema.fieldNames.contains(colName),
      s"buildBloomIndex on $root: no column '$colName' in " +
        s"(${c.schema.fieldNames.mkString(", ")})")
    val dir = Paths.get(root, "bloomidx", physOf(colmapOf(v), colName))
    if (Files.exists(dir)) deleteRecursively(dir) // rebuild covers the snapshot
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(ManifestFileIndex.BloomTypeFile), c.schema(colName).dataType.json)
    // Sidecars are written EXECUTOR-SIDE, straight out of the grouped
    // aggregate — at 100 TB (~10⁶ files) collecting one KB-sized filter
    // per file would put GBs on the driver and serialize 10⁶ Files.write
    // calls; foreachPartition keeps the driver at zero filter bytes and
    // writes with the aggregation's own parallelism. Sidecars live outside
    // the commit log, so executor-side (non-atomic, per-file) publication
    // loses no atomicity — a torn run is just an unindexed/partially
    // indexed column, which bloomCandidateFiles already treats as
    // "keep the file" (degradation, never wrong answers).
    // Local copies only: the closure must not capture `this` (MergeTable
    // is not serializable — by design, handles are driver objects).
    buildBloomSidecars(spark, c.files, c.schema, colmapOf(v), Seq(colName),
      dvsOf(v), estItemsPerFile)
  }

  /** Sidecar builder shared by the one-shot [[buildBloomIndex]] and the
    * write path's INCREMENTAL maintenance ([[writeData]]): once an index
    * exists for a column, every newly-written file gets its sidecar at
    * write time (Delta's arrangement — the index stays fresh instead of
    * silently degrading to "keep" for post-build files). One scan of just
    * the given files, all indexed columns aggregated together.
    */
  private def buildBloomSidecars(spark: SparkSession, relFiles: Seq[String],
                                 schema: StructType, colmap: Map[String, String],
                                 cols: Seq[String],
                                 dvs: Map[String, (String, Long)] = Map.empty,
                                 estItemsPerFile: Long = 100000L): Unit = {
    if (cols.isEmpty || relFiles.isEmpty) return
    // Local copies only: the closure must not capture `this` (MergeTable
    // is not serializable — by design, handles are driver objects).
    val rootStr = root
    val colsStr = cols.map(c => c -> physOf(colmap, c))
    val aggs = cols.map(c => expr(s"bloom_agg(`h_$c`, ${estItemsPerFile}L)").as(s"bf_$c"))
    readFiles(spark, relFiles, schema, colmap, dvs, fileCol = Some("_graft_file"))
      .select(col("_graft_file") +: cols.map(c => xxhash64(col(c)).as(s"h_$c")): _*)
      .groupBy("_graft_file")
      .agg(aggs.head, aggs.tail: _*)
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        rows.foreach { r =>
          // _graft_file is relPathCol — already the manifest-relative string
          colsStr.foreach { case (c, phys) =>
            val p = Paths.get(rootStr, "bloomidx", phys,
              java.net.URLEncoder.encode(r.getAs[String]("_graft_file"),
                StandardCharsets.UTF_8) + ".bloom")
            Files.write(p, r.getAs[Array[Byte]](s"bf_$c"))
          }
        }
      }
  }

  /** Drop the Bloom sidecar index for `column` — or every column's when
    * none is given (`DROP BLOOMFILTER INDEX`). Pure sidecar deletion:
    * no commit, and lookups simply stop pruning.
    */
  def dropBloomIndex(column: Option[String] = None): Unit = {
    val base = Paths.get(root, "bloomidx")
    val colmap = if (exists) columnMapping else Map.empty[String, String]
    val target = column.fold(base)(c => base.resolve(physOf(colmap, c)))
    if (Files.exists(target)) deleteRecursively(target)
  }

  /** The current snapshot's files that MIGHT contain `column = value`:
    * the files [[readPoint]]'s scan keeps, found by planning it with no
    * Spark job. A file is skipped when its Bloom sidecar excludes the
    * value's hash, or when its partition, log stats or footer rule it out
    * ([[ManifestFileIndex]]); a file without a sidecar (never indexed, or
    * rewritten since) is kept by the Bloom step.
    */
  def bloomCandidateFiles(spark: SparkSession, column: String, value: Any): Seq[String] = {
    val v = currentVersion
    keptBy(spark, v, filesOf(v), col(column) === lit(value))
  }

  /** Point lookup with file skipping: `read(spark).filter(col === value)`,
    * whose scan reads only the files that partitions, log stats, Bloom
    * sidecars and footers admit — on a high-cardinality key with a built
    * index, typically one file per lookup instead of a full scan.
    */
  def readPoint(spark: SparkSession, column: String, value: Any): DataFrame =
    read(spark).filter(col(column) === lit(value))

  /** Z-order clustering compaction (Delta OPTIMIZE ZORDER analog): rewrite
    * the current snapshot ordered by the interleaved bits of the rank-
    * normalized `zCols`, so each output file covers a tight hyper-rectangle
    * of the clustered space and [[readRange]] prunes effectively on ANY of
    * the clustered columns — a plain sort would serve only its leading
    * column. Normalization bounds come from one metadata-sized min/max agg;
    * 16 bits per column (files ≫ 2^16 never happens per snapshot here).
    * NULLs rank lowest. Any orderable column type works — numerics and
    * timestamps directly, dates by day number, strings through their
    * zero-padded 8-byte lexicographic prefix, booleans as 0/1.
    */
  def zorderCompact(spark: SparkSession, zCols: Seq[String], parallelism: Int = 8): Unit = {
    require(zCols.nonEmpty, "zorderCompact requires at least one column")
    require(parallelism > 0, "parallelism must be positive")
    val v = currentVersion
    val data = readVersionFiles(spark, v, filesOf(v),
      withRowIds = rowTrackingEnabled) // row ids survive the rewrite verbatim
    // Per-type ORDER-PRESERVING projection to double (the rank-normalize
    // input): numerics/timestamps cast directly; dates via their day
    // number; strings via their zero-padded first-8-bytes as an integer —
    // monotone with the lexicographic order (the padding matters: without
    // it "b" > "ab" numerically reverses), precise enough for 16-bit
    // bucketing. This is what makes OPTIMIZE ZORDER BY work on ANY
    // orderable column, not silently only on numerics.
    val schemaV = schemaOf(v)
    def zkey(c: String): Column = {
      import org.apache.spark.sql.types._
      schemaV(c).dataType match {
        case StringType =>
          expr(s"conv(hex(rpad(cast(`$c` as binary), 8, x'00')), 16, 10)").cast("double")
        case DateType    => expr(s"unix_date(`$c`)").cast("double")
        case BooleanType => col(c).cast("int").cast("double")
        case _           => col(c).cast("double")
      }
    }
    val bounds = data.agg(
      zCols.flatMap(c => Seq(min(zkey(c)).as(s"mn_$c"),
                             max(zkey(c)).as(s"mx_$c"))).head,
      zCols.flatMap(c => Seq(min(zkey(c)).as(s"mn_$c"),
                             max(zkey(c)).as(s"mx_$c"))).tail: _*)
      .collect().head
    val n = zCols.length
    val zBits = zCols.zipWithIndex.map { case (c, k) =>
      val mn = Option(bounds.getAs[Any](s"mn_$c")).fold(0.0)(_.asInstanceOf[Double])
      val mx = Option(bounds.getAs[Any](s"mx_$c")).fold(1.0)(_.asInstanceOf[Double])
      val span = if (mx > mn) mx - mn else 1.0
      // rank-normalize to 16 bits; NULL → 0 (lowest)
      val scaled = coalesce(
        ((zkey(c) - lit(mn)) / lit(span) * lit(65535.0)).cast("long"),
        lit(0L))
      (0 until 16).map(i =>
        shiftleft(shiftright(scaled, i).bitwiseAND(lit(1L)), i * n + k))
        .reduce(_ bitwiseOR _)
    }.reduce(_ bitwiseOR _)
    val packed = data
      .withColumn("_graft_z", zBits)
      .repartitionByRange(parallelism, col("_graft_z"))
      .sortWithinPartitions("_graft_z")
      .drop("_graft_z")
    writeVersion(packed, v + 1, op = "OPTIMIZE ZORDER", assignIds = false)
  }

  /** Finish a crashed publish rename (see [[writeChanges]]) on a reader's
    * behalf: the feed was fully written BEFORE its commit, so a
    * still-staged dir is complete. Losing the rename race (to the writer
    * itself or another healer — ENOENT or EEXIST depending on timing) is
    * fine iff the final dir exists afterwards; a move that failed while
    * the staged dir is still present is a genuine I/O fault and rethrows
    * rather than masquerading as data loss. Returns whether the final dir
    * exists.
    */
  private def healFeed(rel: String): Boolean = {
    val p = Paths.get(root, rel)
    if (!Files.exists(p)) {
      val staged = Paths.get(root, MergeTable.stagingOf(rel))
      if (Files.exists(staged)) {
        Files.createDirectories(p.getParent)
        try Files.move(staged, p, StandardCopyOption.ATOMIC_MOVE)
        catch { case e: java.io.IOException =>
          if (!Files.exists(p) && Files.exists(staged)) throw e
        }
      }
    }
    Files.exists(p)
  }

  /** Append rows as a new commit: a new data directory plus the previous
    * manifest carried forward by reference — the write-side complement of
    * merge/overwrite for pure-insert loads (COPY INTO, streaming appends).
    * Stats for carried files are inherited; only the appended files are
    * scanned for theirs. Columns are aligned by name to the table schema.
    */
  def append(df: DataFrame, txn: Option[(String, Long)] = None): Unit = {
    if (!exists) { overwrite(df, txn); return }
    appendAligned(df, ingestDelta = Nil, op = "APPEND", txn = txn)
  }

  /** Optimized write (Delta's `autoOptimize.optimizeWrite`): an AQE
    * REBALANCE hint pre-shuffles the rows so each partition dir receives
    * advisory-sized files instead of one sliver per upstream task. The
    * hint — not a plain `repartition(partitionCols)` — is deliberate:
    * AQE splits skewed partition values across tasks
    * (optimizeSkewsInRebalancePartitions), so one hot partition can't
    * OOM a writer, which is exactly the failure mode of the naive
    * repartition at 100 TB. Applies to append/overwrite AND the merge
    * rewrites (Delta's optimized writes cover MERGE for the same reason:
    * a merge's join output lands one sliver per shuffle task in every
    * touched partition dir — a maintained state table would accumulate a
    * micro-file per partition per batch without it). Compaction paths are
    * excluded: they pack files themselves, and a rebalance would destroy
    * Z-order's in-file row ordering.
    */
  private def optimizeWriteIfEnabled(df: DataFrame): DataFrame =
    if (!exists || !properties.get(MergeTable.OptimizeWriteProp).contains("true")) df
    else if (partitionCols.nonEmpty) df.hint("rebalance", partitionCols: _*)
    else df.hint("rebalance")

  /** Post-append auto-compaction (Delta's `autoOptimize.autoCompact`),
    * scoped to the partitions THIS append touched: any of them holding
    * ≥ minNumFiles files is bin-packed via [[compactPartitions]];
    * untouched partitions are never rewritten — at scale the hot
    * ingest partitions stay packed while the cold ones stay untouched.
    */
  private def autoCompactIfEnabled(spark: SparkSession,
                                   newFiles: Seq[String]): Unit = {
    val props = properties
    if (!props.get(MergeTable.AutoCompactProp).contains("true")) return
    val minN = props.get(MergeTable.AutoCompactMinFilesProp)
      .map(_.toInt).getOrElse(50)
    if (partitionCols.isEmpty) {
      if (filesOf(currentVersion).size >= minN) compact(spark)
    } else {
      val v = currentVersion
      val byDir = filesOf(v).groupBy(partDirOf)
      val hot = newFiles.map(partDirOf).distinct
        .filter(d => byDir.getOrElse(d, Nil).size >= minN)
      if (hot.nonEmpty) {
        val schema = schemaOf(v)
        compactPartitions(spark, MergeTable.partitionSetPredicate(
          partitionCols.map(c => c -> schema(c).dataType), hot.map(partValuesOf)))
      }
    }
  }

  /** Shared exists-path of [[append]] and [[copyInto]]: align columns to
    * the table schema (extra source columns FAIL LOUDLY — silently
    * dropping ingested data is worse than an error; evolve with
    * `merge(mergeSchema = true)` instead), write a new data dir, and
    * commit it alongside the carried-forward manifest.
    */
  private def appendAligned(df: DataFrame, ingestDelta: Seq[String],
                            op: String,
                            txn: Option[(String, Long)] = None): Unit = {
    val v = currentVersion
    val c = readCommit(v) // ONE manifest decode; every old file is carried
    val (withId, newHwm) = assignIdentity(applyGenerated(df))
    val extra = withId.columns.toSet -- c.schema.fieldNames
    require(extra.isEmpty,
      s"append into $root: columns ${extra.mkString(", ")} are not in the table schema — " +
        "use merge(mergeSchema = true) to evolve the schema")
    // store-assignment casts: a derived column's expression type (e.g. a
    // generated decimal product) must land under the DECLARED schema type,
    // or the parquet bytes and the committed DDL disagree on read
    val aligned = withId.select(c.schema.fields.toIndexedSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)
    val (ided, rowHwm) = assignRowIds(aligned) // appended rows are all fresh
    val newVersion = v + 1
    val dataDir = newDataDir(newVersion)
    val cmapUsed = colmapOf(v)
    writeData(optimizeWriteIfEnabled(ided), dataDir, cmapUsed)
    val newFiles = listParquet(Paths.get(root, dataDir)).map(relativize)
    val newStats = collectStats(df.sparkSession, newFiles, c.schema, cmapUsed)
    val hwmProps = propsWith(
      newHwm.toSeq.map(h => MergeTable.IdentityHwmProp -> h.toString) ++
        rowHwm.toSeq.map(h => MergeTable.RowIdHwmProp -> h.toString))
    try commit(newVersion, c.files ++ newFiles, c.schema, c.statsLines ++ newStats,
      ingestDelta = ingestDelta, txn = txn, propsOverride = hwmProps, op = op)
    catch {
      case e: java.util.ConcurrentModificationException =>
        rebaseAppend(v, c, newFiles, newStats, cmapUsed, ingestDelta, txn, op,
          usedIds = newHwm.isDefined || rowHwm.isDefined, first = e)
    }
    autoCompactIfEnabled(df.sparkSession, newFiles)
  }

  /** Delta-style conflict-classified retry for a BLIND APPEND that lost
    * the commit race: the rows read nothing, so when the winner is
    * COMPATIBLE the already-written files are simply RE-COMMITTED against
    * the winner's tip — zero data rewrite, the WriteSerializable append
    * behavior (Delta auto-resolves blind appends the same way). The winner
    * is compatible iff nothing it changed could invalidate the written
    * bytes or their validation:
    *
    *  - same schema and column mapping (the files store physical names
    *    under the base's mapping);
    *  - same CHECK constraints (a concurrently-added constraint was never
    *    validated against these rows);
    *  - no identity / row-tracking ids were assigned (the winner may have
    *    consumed the same high-water-mark range — re-running is the only
    *    sound resolution there);
    *  - the txn marker (if any) was not already applied by another writer
    *    (then the whole append is a duplicate replay: drop it, done).
    *
    * Anything else rethrows the original conflict — the caller decides
    * whether to re-run (mergeWithRetry-style full re-derivation).
    */
  private def rebaseAppend(baseV: Long, base: Commit, newFiles: Seq[String],
                           newStats: Seq[String], cmapUsed: Map[String, String],
                           ingestDelta: Seq[String], txn: Option[(String, Long)],
                           op: String, usedIds: Boolean,
                           first: java.util.ConcurrentModificationException,
                           maxAttempts: Int = 10): Unit = {
    var attempt = 0
    while (true) {
      attempt += 1
      val tip = currentVersion
      val cTip = readCommit(tip)
      txn.foreach { case (app, ver) =>
        if (cTip.txns.get(app).exists(_ >= ver)) {
          // another writer already applied this exact batch — the append
          // is a replay; the written dir is an unreferenced orphan vacuum
          // reclaims
          return
        }
      }
      if (usedIds || cTip.schema != base.schema ||
          colmapOf(tip) != cmapUsed ||
          cTip.constraints.toSet != base.constraints.toSet)
        throw first
      try {
        commit(tip + 1, cTip.files ++ newFiles, cTip.schema,
          cTip.statsLines ++ newStats,
          ingestDelta = ingestDelta, txn = txn, op = op)
        return
      } catch {
        case _: java.util.ConcurrentModificationException
          if attempt < maxAttempts => // another race — reclassify and retry
      }
    }
  }

  /** COPY INTO analog (Delta/Databricks `COPY INTO`, Auto Loader's batch
    * twin): load source FILES into the table exactly once. The set of
    * already-ingested file paths is recorded in the commit log and carried
    * forward, so re-running after a crash, a partial load, or on an
    * unchanged directory is a no-op — file-level idempotency without any
    * key-based dedup on the data itself. Returns the number of files
    * actually loaded. The ledger is file PATHS (metadata-sized), never
    * content hashes — at 100 TB hashing source bytes to decide idempotency
    * would read the corpus twice.
    */
  def copyInto(spark: SparkSession, files: Seq[String]): Long = {
    val normalized = files.map(f => Paths.get(f).toAbsolutePath.toString).sorted
    val already = ingestedFiles.toSet
    val fresh = normalized.filterNot(already)
    if (fresh.isEmpty) return 0L
    val df = spark.read.parquet(fresh: _*)
    if (!exists) {
      val (gen, newHwm) = assignIdentity(applyGenerated(df))
      val (genIded, rowHwm) = assignRowIds(gen)
      val v0dir = newDataDir(0L)
      writeData(genIded, v0dir, Map.empty)
      val newFiles = listParquet(Paths.get(root, v0dir)).map(relativize)
      commit(0L, newFiles, gen.schema, collectStats(spark, newFiles, gen.schema, Map.empty),
        ingestDelta = fresh,
        propsOverride = propsWith(
          newHwm.toSeq.map(h => MergeTable.IdentityHwmProp -> h.toString) ++
            rowHwm.toSeq.map(h => MergeTable.RowIdHwmProp -> h.toString)),
        op = "COPY INTO")
      return fresh.size.toLong
    }
    appendAligned(df, ingestDelta = fresh, op = "COPY INTO")
    fresh.size.toLong
  }

  /** Source files already loaded by [[copyInto]]: the union of every
    * commit's per-commit ingest lines since the last ledger reset (see
    * [[ledgerAt]]).
    */
  def ingestedFiles: Seq[String] =
    if (exists) ledgerAt(currentVersion) else Nil

  /** The COPY INTO ledger as of `version`: commits record only the files
    * THEY ingested (Delta's per-commit add-action shape — a carried-forward
    * full ledger would make every commit O(total files ever ingested) and
    * every metadata read scan it), so the ledger is the union of the
    * per-commit deltas walking back from `version` to the nearest commit
    * with a reset marker (restore/clone write one to roll the ledger back
    * wholesale). O(versions) metadata reads, never a manifest decode.
    */
  private def ledgerAt(version: Long): Seq[String] = {
    val acc = scala.collection.mutable.HashSet.empty[String]
    var v = version
    var done = false
    while (v >= 0 && !done) {
      if (Files.exists(commitPath(v))) {
        val m = readMeta(v)
        acc ++= m.ingested
        if (m.ingestReset) done = true
      }
      v -= 1
    }
    acc.toSeq.sorted
  }

  /** Delta RESTORE analog: roll the table BACK to the state of `version`
    * by committing a NEW version that references the old snapshot's files,
    * schema, and stats — history is preserved (the rolled-back versions
    * remain time-travel-readable), and no data is copied: restore is a
    * metadata-only commit at any scale, exactly like Delta's RESTORE which
    * re-adds the old files in a new log entry. The FULL logical state of
    * that version is restored, not just its rows: CHECK constraints, the
    * copyInto ledger, table properties (including the identity high-water
    * mark), and txn versions all roll back with it — carrying
    * the tip's forward would strand constraints on columns the restored
    * schema lacks (every later write fails to resolve), silently refuse to
    * re-ingest rolled-back files, and make exactly-once sinks skip batches
    * whose effects were just rolled back. The restored version must be
    * inside the vacuum horizon — its files must still exist.
    *
    * CHANGE-FEED CAVEAT: restore commits NO change-feed entry — it is a
    * metadata-only operation and the row-level delta it implies (undo of
    * every rolled-back commit) is not recorded. CDF consumers (e.g. the
    * incremental-view-maintenance pattern) that maintained state from
    * commits being rolled back MUST be rebuilt from the restored snapshot;
    * continuing their feed subscription after a restore silently diverges
    * from the table. This matches Delta, whose RESTORE likewise emits no
    * CDF rows for the rollback itself.
    */
  def restore(version: Long): Unit = {
    val horizon = vacuumHorizon
    require(version >= horizon,
      s"cannot restore $root to version $version: it was vacuumed " +
        s"(oldest retained version is $horizon)")
    val cur = currentVersion
    require(version <= cur, s"cannot restore $root to future version $version (tip is $cur)")
    val c = readCommit(version)
    commit(cur + 1, c.files, c.schema, c.statsLines,
      constraintsOverride = Some(c.constraints),
      ingestReset = Some(ledgerAt(version)),
      txnsOverride = Some(c.txns),
      // properties roll back too — the identity high-water mark rides
      // them, and a carried-forward mark would leak rolled-back ids
      propsOverride = Some(c.props),
      dvsOverride = Some(c.dvs), // deletion masks roll back with the rows
      // the restored version's OWN mapping (the tip's may bind different
      // physicals); its retired set pairs with it — a physical revived by
      // the rollback is in use again, not retired
      colmapOverride = Some(c.colmap), retiredOverride = Some(c.retired),
      op = "RESTORE")
  }

  /** `DESCRIBE HISTORY` analog: one row per commit — version, commit
    * timestamp (in-commit timestamp, mtime fallback for pre-feature
    * commits — see [[commitTimeMillis]]), operation name, and the txn
    * markers recorded as of that version (`appId=version`, comma-joined).
    * Built from metadata lines only — O(versions) reads, never a manifest
    * decode — so it stays affordable on any table. The audit surface
    * RESTORE begs for: read it to pick the version to roll back to.
    */
  def history(spark: SparkSession): DataFrame = {
    require(exists, s"MergeTable at $root does not exist")
    import spark.implicits._
    (0L to currentVersion)
      .filter(ver => Files.exists(commitPath(ver)))
      .map { ver =>
        val m = readMeta(ver)
        val ts = new java.sql.Timestamp(m.tsMillis.getOrElse(
          Files.getLastModifiedTime(commitPath(ver)).toMillis))
        // operation metrics (Delta's operationMetrics): nullable for
        // commits that predate the feature
        (ver, ts, m.operation,
          m.txns.toSeq.sortBy(_._1).map { case (a, t) => s"$a=$t" }.mkString(","),
          m.opMetrics.map(_._1), m.opMetrics.map(_._2), m.opMetrics.map(_._3))
      }
      .toDF("version", "timestamp", "operation", "txns",
        "num_added_files", "num_removed_files", "num_files")
      .orderBy(col("version").desc)
  }

  /** Delta's `GENERATE symlink_format_manifest`: write
    * `_symlink_format_manifest/[<p>=<v>/...]manifest` text files listing
    * the CURRENT snapshot's data files as absolute paths — the format
    * Presto/Trino/Athena external tables consume to read a
    * versioned-manifest lake without understanding its log (the
    * reference's own read side is Athena). One manifest file per
    * partition directory, mirroring the Hive layout, so `MSCK`-style
    * partition discovery and partition pruning work unchanged on the
    * external side; the whole write is manifest-sized metadata.
    *
    * Refuses snapshots an external raw-file reader would MISREAD:
    * deletion vectors (masked rows would resurrect — `REORG TABLE …
    * APPLY (PURGE)` first) and column mapping, current or historical
    * (files store physical names / dropped-column data the external
    * schema must not see).
    */
  def generateSymlinkManifest(): Unit = {
    require(exists, s"MergeTable at $root does not exist")
    val v = currentVersion
    val c = readCommit(v)
    require(c.dvs.isEmpty,
      s"generateSymlinkManifest on $root: the snapshot carries deletion vectors — " +
        "an external engine reading raw files would resurrect masked rows; run " +
        "REORG TABLE ... APPLY (PURGE) first")
    require(c.colmap.isEmpty && c.retired.isEmpty,
      s"generateSymlinkManifest on $root: column mapping is (or was) active — " +
        "data files store physical column names an external schema would misread")
    val base = Paths.get(root).toAbsolutePath.normalize
    val mroot = base.resolve(MergeTable.SymlinkManifestDir)
    if (Files.exists(mroot)) deleteRecursively(mroot) // stale partitions must vanish
    c.files.groupBy(partDirOf).foreach { case (part, fs) =>
      val dir = if (part.isEmpty) mroot else mroot.resolve(part)
      Files.createDirectories(dir)
      Files.writeString(dir.resolve("manifest"),
        fs.sorted.map(f => base.resolve(f).toString).mkString("", "\n", "\n"))
    }
  }

  /** Table features (Delta readerFeatures analog) the snapshot at
    * `version` depends on — accrued on first use by [[commit]], carried
    * forward forever, enforced against [[MergeTable.SupportedFeatures]] on
    * every commit parse. Pre-feature commits simply report none.
    */
  def features(version: Long): Seq[String] = readMeta(version).features

  /** Delta's `ALTER TABLE ... DROP FEATURE` analog — the only way a
    * feature leaves the accrue-forever set, and exactly as restrictive as
    * Delta makes it: every RETAINED version must be free of the feature's
    * content (readers of any reachable snapshot must never need it), so
    * the path is purge the content, VACUUM the history past it (Delta's
    * `TRUNCATE HISTORY`), then drop. The drop is its own commit; a later
    * write that uses the capability again simply re-accrues it.
    */
  def dropFeature(spark: SparkSession, name: String): Unit = {
    val tip = currentVersion
    val current = readMeta(tip).features
    require(current.contains(name),
      s"table at $root does not declare feature $name (has: ${current.mkString(", ")})")
    require(name != "inCommitTimestamps",
      "inCommitTimestamps cannot be dropped — every commit records one")
    def uses(v: Long): Boolean = {
      val m = readMeta(v)
      name match {
        case "deletionVectors"  => m.dvs.nonEmpty
        case "columnMapping"    => m.colmap.nonEmpty || m.retired.nonEmpty
        case "checkConstraints" => m.constraints.nonEmpty
        case "changeDataFeed"   => m.cdfDir.isDefined
        case "rowTracking" =>
          m.props.toMap.get(MergeTable.RowTrackingProp).contains("true")
        case "generatedColumns" => m.props.toMap.contains(MergeTable.GeneratedColsProp)
        case "identityColumns"  => m.props.toMap.contains(MergeTable.IdentityColProp)
        case "columnDefaults" => readCommit(v).schema.fields.exists(f =>
          f.metadata.contains("CURRENT_DEFAULT") || f.metadata.contains("EXISTS_DEFAULT"))
        case _ => true // a feature this drop logic can't audit is never dropped
      }
    }
    (vacuumHorizon to tip).filter(v => Files.exists(commitPath(v))).foreach { v =>
      require(!uses(v),
        s"version $v of $root still depends on $name — purge the content and " +
          "VACUUM the history past it first (Delta's TRUNCATE HISTORY)")
    }
    val c = readCommit(tip)
    commit(tip + 1, c.files, c.schema, c.statsLines,
      featuresOverride = Some(current.filterNot(_ == name)), op = "DROP FEATURE")
  }

  /** `DESCRIBE DETAIL` analog: one row of table-level facts — format,
    * location, tip version, last-modified (tip commit's publish time),
    * file/byte counts, partition columns, deletion-vector totals, and the
    * number of CHECK constraints. Everything is answered from the commit
    * log plus O(files) driver-side `Files.size` probes — metadata, never a
    * data scan (Delta likewise answers DESCRIBE DETAIL from the log; at
    * 100 TB a storage listing would be the slowest call in the system).
    */
  def detail(spark: SparkSession): DataFrame = {
    require(exists, s"MergeTable at $root does not exist")
    import spark.implicits._
    val v = currentVersion
    val c = readCommit(v)
    val sizeBytes = c.files.map(f => Files.size(Paths.get(root, f))).sum
    val lastMod = new java.sql.Timestamp(commitTimeMillis(v))
    Seq((
      "graft-parquet", root, v, lastMod, c.files.size.toLong, sizeBytes,
      partitionCols, c.dvs.size.toLong, c.dvs.map(_._3).sum,
      c.constraints.size.toLong, c.features))
      .toDF("format", "location", "version", "last_modified", "num_files",
        "size_bytes", "partition_columns", "num_deletion_vectors",
        "num_masked_rows", "num_constraints", "table_features")
  }

  /** `SHOW PARTITIONS` analog: the partition values present in the current
    * snapshot with per-partition file counts — parsed from the manifest's
    * hive-style paths and typed via the table schema. Metadata-only:
    * O(files) string ops on the driver, never a data scan or directory
    * listing (the same reason Delta answers SHOW PARTITIONS from the log —
    * at 100 TB a storage listing is the slowest call in the system).
    */
  def partitions(spark: SparkSession): DataFrame = {
    require(exists, s"MergeTable at $root does not exist")
    require(partitionCols.nonEmpty, s"MergeTable at $root is not partitioned")
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    val schema = schemaOf(currentVersion)
    val byDir = filesOf(currentVersion).groupBy(partDirOf)
    val rows = byDir.toSeq.map { case (d, fs) =>
      org.apache.spark.sql.Row.fromSeq(partValuesOf(d) :+ fs.size.toLong)
    }
    val strSchema = StructType(
      partitionCols.map(c => StructField(c, StringType)) :+
        StructField("n_files", LongType))
    spark.createDataFrame(rows.asJava, strSchema)
      .select(partitionCols.map(c =>
        col(c).cast(schema(c).dataType).as(c)) :+ col("n_files"): _*)
      .orderBy(partitionCols.map(col): _*)
  }

  /** CHECK constraints (Delta `ALTER TABLE ADD CONSTRAINT` analog): a named
    * SQL predicate every row of every future write must satisfy (violated
    * only when the predicate is FALSE — NULL passes, like SQL CHECK).
    * Existing data is validated first, then the constraint is recorded in a
    * metadata-only commit and carried forward by every subsequent commit.
    * Enforcement is FUSED into each write as a codegen'd per-row filter
    * that raises on violation — no second validation pass over the data,
    * which is the only enforcement shape that survives 100 TB writes.
    */
  def addCheckConstraint(spark: SparkSession, name: String, predicate: String): Unit = {
    require(exists, s"MergeTable at $root does not exist")
    val v = currentVersion
    val existing = readCommit(v).constraints
    require(!existing.exists(_._1 == name),
      s"constraint '$name' already exists on $root")
    val violating = read(spark).filter(expr(predicate) === lit(false)).limit(1).count()
    require(violating == 0L,
      s"cannot add CHECK constraint '$name' ($predicate) to $root: existing rows violate it")
    val c = readCommit(v)
    commit(v + 1, c.files, c.schema, c.statsLines,
      constraintsOverride = Some(existing :+ (name -> predicate)),
      op = "ADD CONSTRAINT")
  }

  /** `ALTER TABLE ADD COLUMNS` analog: extend the schema with new NULLABLE
    * fields in a METADATA-ONLY commit — no data file is touched at any
    * scale. Existing files simply predate the columns and read back NULL
    * (the same parquet-projection property `merge(mergeSchema = true)`
    * relies on); subsequent writes carry the evolved schema. Fails loudly
    * on name collisions — silently replacing a column's type would corrupt
    * every reader's expectations.
    */
  def addColumns(newFields: StructType): Unit = {
    require(exists, s"MergeTable at $root does not exist")
    require(newFields.nonEmpty, "addColumns requires at least one field")
    val v = currentVersion
    val c = readCommit(v)
    val clash = newFields.fieldNames.toSet.intersect(c.schema.fieldNames.toSet)
    require(clash.isEmpty,
      s"addColumns on $root: ${clash.mkString(", ")} already exist — " +
        "changing an existing column's type is not supported")
    // a new column may not reuse a physical name old data files still
    // carry (retired by DROP, or serving as another column's physical
    // under a rename) — that would resurrect unrelated bytes. Mint a
    // version-stamped fresh physical name instead (Delta mints UUIDs).
    val cmap = c.colmap.toMap
    val unavailable = c.retired.toSet ++ c.schema.fieldNames.map(n => physOf(cmap, n))
    val newEntries = newFields.fieldNames.toSeq.collect {
      case n if unavailable.contains(n) => n -> s"${n}_v${v + 1}"
    }
    val evolved = StructType(c.schema.fields ++ newFields.fields.map(_.copy(nullable = true)))
    commit(v + 1, c.files, evolved, c.statsLines,
      colmapOverride = Some(c.colmap ++ newEntries), op = "ADD COLUMNS")
  }

  /** `ALTER TABLE ALTER COLUMN c TYPE t` analog (Delta type widening): a
    * METADATA-ONLY commit — the new schema declares the wider type, no
    * data file is touched at any scale. Spark 4's parquet readers upcast
    * a file's narrower stored type to the declared type at scan time
    * ([[readFiles]] scans every file group with the snapshot's uniform
    * schema), so files written before and after the widening coexist in
    * one snapshot; writes after the widening store the wide type. Only
    * WIDENING conversions are allowed (byte→short→int→long, float→double,
    * byte/short/int→double) — anything else would corrupt or truncate on
    * read. Partition columns cannot be widened: their values live in
    * directory names, typed by the schema at parse time, and a width
    * change would silently re-type every historical directory. Time
    * travel still reads old versions under their own (narrow) schema, and
    * carried-forward min/max stats compare numerically, so data skipping
    * keeps pruning across the change. A Bloom index on the column is
    * dropped: its sidecars hash the narrow type, which a lookup under the
    * wide type would miss.
    */
  def alterColumnType(colName: String, newType: org.apache.spark.sql.types.DataType): Unit = {
    require(exists, s"MergeTable at $root does not exist")
    val v = currentVersion
    val c = readCommit(v)
    val field = c.schema.fields.find(_.name == colName).getOrElse(
      throw new IllegalArgumentException(
        s"alterColumnType on $root: no column '$colName' in " +
          s"(${c.schema.fieldNames.mkString(", ")})"))
    require(!partitionCols.contains(colName),
      s"alterColumnType on $root: '$colName' is a partition column — " +
        "partition values are directory names and cannot be re-typed")
    require(MergeTable.widens(field.dataType, newType),
      s"alterColumnType on $root: ${field.dataType.simpleString} → " +
        s"${newType.simpleString} is not a widening conversion (supported: " +
        "byte→short→int→long, float→double, byte/short/int→double)")
    val evolved = StructType(c.schema.fields.map(f =>
      if (f.name == colName) f.copy(dataType = newType) else f))
    dropBloomIndex(Some(colName))
    commit(v + 1, c.files, evolved, c.statsLines, op = "ALTER COLUMN")
  }

  /** Delta's `FSCK REPAIR TABLE`: drop manifest references to data files
    * that are physically GONE (out-of-band deletion, storage loss), so
    * scans stop failing mid-read on the missing files. Returns the number
    * of references removed; 0 leaves the table untouched (no empty
    * commit). The repair is a metadata-only commit — surviving files keep
    * their stats and dv bindings (commit's carry-forward sheds bindings of
    * dropped files automatically), and prior versions still reference the
    * lost files, so time travel to them fails at scan time exactly as
    * before the repair — fsck repairs the TIP, it cannot resurrect data.
    * O(files) driver-side existence probes: metadata-sized, same cost
    * class as DESCRIBE DETAIL.
    */
  def fsck(): Int = {
    require(exists, s"MergeTable at $root does not exist")
    val v = currentVersion
    val c = readCommit(v)
    val missing = c.files.filterNot(f => Files.exists(Paths.get(root, f)))
    if (missing.isEmpty) return 0
    val keep = c.files.filterNot(missing.toSet)
    commit(v + 1, keep, c.schema, carryStats(v, keep), op = "FSCK")
    missing.size
  }

  /** `ALTER TABLE RENAME COLUMN` analog (Delta column-mapping rename): a
    * METADATA-ONLY commit — no data file is touched at any scale. The
    * column keeps its PHYSICAL name in every data file; the commit records
    * the new logical name and the logical→physical mapping, and reads
    * project physical back to logical right above the scan
    * ([[readFiles]]). Time travel still shows the old name for old
    * versions (each commit carries its own mapping).
    *
    * Guards: partition columns cannot be renamed (their name is baked into
    * every hive-style directory path — a metadata rename cannot reach
    * them; Delta's column mapping has the same carve-out for its
    * partition-schema handling), and a column referenced by a CHECK
    * constraint or a generated-column expression cannot be renamed (the
    * recorded expression text would silently break — Delta blocks this
    * too). File-level min/max stats are re-keyed in the commit (metadata-
    * sized). Caveats: change-feed rows written before the rename keep the
    * old name ([[changes]] unions with `allowMissingColumns`), and this
    * instance's `statsCols`/`generatedCols` constructor parameters still
    * speak the old name — re-instantiate to resume stats collection on
    * the renamed column.
    */
  def renameColumn(oldName: String, newName: String): Unit = {
    require(exists, s"MergeTable at $root does not exist")
    val v = currentVersion
    val c = readCommit(v)
    require(c.schema.fieldNames.contains(oldName),
      s"renameColumn on $root: no column '$oldName' in the schema")
    require(!c.schema.fieldNames.contains(newName),
      s"renameColumn on $root: column '$newName' already exists")
    require(!partitionCols.contains(oldName),
      s"renameColumn on $root: '$oldName' is a partition column — partition " +
        "columns name every data directory and cannot be renamed in metadata")
    val refs = c.constraints.filter { case (_, pred) => mentionsColumn(pred, oldName) }
      .map { case (n, _) => s"CHECK constraint '$n'" } ++
      generatedCols.filter { case (_, e) => mentionsColumn(e, oldName) }
        .map { case (g, _) => s"generated column '$g'" }
    require(refs.isEmpty,
      s"renameColumn on $root: '$oldName' is referenced by ${refs.mkString(", ")} — " +
        "drop the referencing definition first (its expression text would break)")
    val cmap = c.colmap.toMap
    val phys = physOf(cmap, oldName)
    val newMap = (cmap - oldName) ++ (if (newName != phys) Seq(newName -> phys) else Nil)
    val newSchema = StructType(c.schema.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    // stats lines key on LOGICAL names — re-key them with the rename
    // (metadata-sized: the commit rewrites these lines anyway)
    val restat = c.statsLines.map { l =>
      val parts = l.split("\t", -1)
      if (parts.length >= 4 && dec(parts(1)) == oldName)
        (Seq(parts(0), enc(newName)) ++ parts.drop(2)).mkString("\t")
      else l
    }
    // the PINNED stats columns follow the rename too — otherwise every
    // later write silently stops collecting for the renamed column and
    // data skipping decays (the same staleness class as unpinned
    // rowTracking). The CONSTRUCTOR's statsCols list cannot be rewritten;
    // statsColsEffective prefers it, so handles constructed with the old
    // name keep a stale list until reopened — the pinned property covers
    // every bare-path reopen.
    val props = readMeta(v).props.toMap
    val restatProps = props.get(MergeTable.StatsColsProp).flatMap { enc0 =>
      val renamed = enc0.split(",").toSeq.map(dec).filter(_.nonEmpty)
        .map(n => if (n == oldName) newName else n)
      propsWith(Seq(MergeTable.StatsColsProp ->
        renamed.map(java.net.URLEncoder.encode(_, "UTF-8")).mkString(",")))
    }
    commit(v + 1, c.files, newSchema, restat,
      colmapOverride = Some(newMap.toSeq.sortBy(_._1)),
      propsOverride = restatProps, op = "RENAME COLUMN")
  }

  /** `ALTER TABLE DROP COLUMN` analog (Delta column-mapping drop): a
    * METADATA-ONLY commit — the column vanishes from the schema, its
    * physical name is RETIRED, and scans never project it again (parquet
    * column pruning: the dropped bytes are not even read, let alone
    * rewritten). A later [[addColumns]] of the same logical name gets a
    * FRESH physical name, so the dropped data can never resurrect. Same
    * guards as [[renameColumn]]; the last column cannot be dropped.
    */
  def dropColumn(name: String): Unit = {
    require(exists, s"MergeTable at $root does not exist")
    val v = currentVersion
    val c = readCommit(v)
    require(c.schema.fieldNames.contains(name),
      s"dropColumn on $root: no column '$name' in the schema")
    require(!partitionCols.contains(name),
      s"dropColumn on $root: '$name' is a partition column — dropping it would " +
        "orphan every data directory's layout")
    require(c.schema.fields.length > 1,
      s"dropColumn on $root: cannot drop the only column")
    val refs = c.constraints.filter { case (_, pred) => mentionsColumn(pred, name) }
      .map { case (n, _) => s"CHECK constraint '$n'" } ++
      generatedCols.filter { case (_, e) => mentionsColumn(e, name) }
        .map { case (g, _) => s"generated column '$g'" }
    require(refs.isEmpty,
      s"dropColumn on $root: '$name' is referenced by ${refs.mkString(", ")} — " +
        "drop the referencing definition first")
    val cmap = c.colmap.toMap
    val phys = physOf(cmap, name)
    val newSchema = StructType(c.schema.fields.filterNot(_.name == name))
    val kept = c.statsLines.filter { l =>
      val parts = l.split("\t", -1)
      !(parts.length >= 4 && dec(parts(1)) == name)
    }
    commit(v + 1, c.files, newSchema, kept,
      colmapOverride = Some((cmap - name).toSeq.sortBy(_._1)),
      retiredOverride = Some(c.retired :+ phys),
      op = "DROP COLUMN")
  }

  /** Does the expression text reference the column? Word-boundary,
    * case-insensitive — conservative (a string literal containing the name
    * also matches), which errs on the side of refusing a rename/drop.
    */
  private def mentionsColumn(exprText: String, column: String): Boolean =
    ("(?i)(?<![\\w`])" + java.util.regex.Pattern.quote(column) + "(?![\\w`])").r
      .findFirstIn(exprText).nonEmpty

  /** Table properties (Delta TBLPROPERTIES analog): free-form key/value
    * metadata recorded in the commit log and carried forward — ownership
    * tags, retention hints, pipeline markers. Metadata-only commits.
    * RESTORE keeps the CURRENT properties (configuration is not data —
    * Delta's RESTORE likewise leaves table configuration alone); CLONE
    * copies them.
    */
  def setProperties(props: Map[String, String]): Unit = {
    require(exists, s"MergeTable at $root does not exist")
    require(props.nonEmpty, "setProperties requires at least one property")
    val v = currentVersion
    val c = readCommit(v)
    val merged = (c.props.toMap ++ props).toSeq.sortBy(_._1)
    commit(v + 1, c.files, c.schema, c.statsLines,
      propsOverride = Some(merged), op = "SET TBLPROPERTIES")
  }

  /** Remove properties by key (missing keys are ignored, like Delta's
    * `UNSET TBLPROPERTIES IF EXISTS`); metadata-only commit.
    */
  def unsetProperties(keys: Seq[String]): Unit = {
    require(exists, s"MergeTable at $root does not exist")
    require(keys.nonEmpty, "unsetProperties requires at least one key")
    val v = currentVersion
    val c = readCommit(v)
    val drop = keys.toSet
    commit(v + 1, c.files, c.schema, c.statsLines,
      propsOverride = Some(c.props.filterNot { case (k, _) => drop.contains(k) }),
      op = "UNSET TBLPROPERTIES")
  }

  /** The properties in force on the current version. */
  def properties: Map[String, String] =
    if (exists) readMeta(currentVersion).props.toMap else Map.empty

  /** Drop a CHECK constraint by name (metadata-only commit). */
  def dropCheckConstraint(name: String): Unit = {
    require(exists, s"MergeTable at $root does not exist")
    val v = currentVersion
    val c = readCommit(v)
    require(c.constraints.exists(_._1 == name), s"no constraint '$name' on $root")
    commit(v + 1, c.files, c.schema, c.statsLines,
      constraintsOverride = Some(c.constraints.filterNot(_._1 == name)),
      op = "DROP CONSTRAINT")
  }

  /** `ALTER COLUMN c DROP NOT NULL` on a column the commit schema declares
    * NOT NULL: a metadata-only commit marking it nullable. A no-op when it
    * already is.
    */
  def dropNotNull(colName: String): Unit = {
    require(exists, s"MergeTable at $root does not exist")
    val v = currentVersion
    val c = readCommit(v)
    if (c.schema.fields.exists(f => f.name == colName && !f.nullable))
      commit(v + 1, c.files, StructType(c.schema.fields.map(f =>
        if (f.name == colName) f.copy(nullable = true) else f)), c.statsLines,
        op = "ALTER COLUMN")
  }

  /** The CHECK constraints in force on the current version. */
  def checkConstraints: Seq[(String, String)] =
    if (exists) readMeta(currentVersion).constraints else Nil

  /** Delete data directories referenced by NO retained snapshot (Delta
    * VACUUM analog with a retention window): the newest `retainVersions`
    * snapshots stay time-travel-readable; older versions' reads fail with a
    * clear error afterwards (their manifests survive, but files they alone
    * reference may be gone — the vacuum horizon records the boundary).
    * Default keeps only the live snapshot, Delta's
    * `VACUUM ... RETAIN 0 HOURS` analog.
    *
    * An unreferenced directory is only reclaimed once it is older than
    * `minAgeMs` (Delta's mtime-based VACUUM safeguard): a CONCURRENT writer
    * has written its per-attempt data/cdf dirs but not yet published its
    * commit, and is indistinguishable from a crashed attempt by reference
    * alone — deleting its fresh files would let the subsequent commit
    * succeed over vanished data. Pass `minAgeMs = 0` only when no writer
    * can be in flight. Orphan change-feed dirs (referenced by no commit at
    * all) are reclaimed under the same age rule; feed dirs recorded by any
    * commit are kept so `changes()` over historical versions stays intact.
    */
  def vacuum(retainVersions: Int = 1,
             minAgeMs: Long = MergeTable.DefaultVacuumMinAgeMs): Unit = {
    require(retainVersions >= 1, "vacuum must retain at least the current version")
    if (!exists) return
    val (floor, doomed) = reclaimable(retainVersions, minAgeMs)
    // dir deletions are independent and I/O-bound — run them concurrently
    // (a doomed version dir can hold 10^5 files at scale; serial unlink
    // would make VACUUM driver-bound for no reason)
    doomed.asJava.parallelStream().forEach(p => deleteRecursively(p))
    // reclaim bloom sidecars of files whose data dirs just vanished —
    // sidecars are keyed by URL-encoded root-relative path, so a sidecar
    // whose decoded path starts with a doomed dir is an orphan (without
    // this, a churning indexed table leaks one sidecar per rewritten
    // file forever). Metadata-sized: one directory listing per column.
    val doomedDirs = doomed.map(_.getFileName.toString).toSet
    val bloomRoot = Paths.get(root, "bloomidx")
    if (doomedDirs.nonEmpty && Files.exists(bloomRoot))
      Files.list(bloomRoot).iterator().asScala.filter(Files.isDirectory(_)).foreach { colDir =>
        Files.list(colDir).iterator().asScala
          .filter { p =>
            val rel = dec(p.getFileName.toString.stripSuffix(".bloom"))
            doomedDirs.contains(rel.takeWhile(_ != '/'))
          }
          .foreach(Files.deleteIfExists(_))
      }
    // same tmp + ATOMIC_MOVE care as _LATEST: a torn horizon write must not
    // brick every subsequent read with an unparseable file
    val ht = logDir.resolve(s"_VACUUM_HORIZON.tmp${System.nanoTime()}")
    Files.writeString(ht, floor.toString)
    Files.move(ht, logDir.resolve("_VACUUM_HORIZON"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Delta's `VACUUM ... RETAIN n HOURS` (the common production form):
    * time-based retention resolved against the IN-COMMIT timestamps —
    * every version committed within the window stays time-travel-readable,
    * plus always the current snapshot. The same injectable [[clock]] that
    * stamps commits resolves "now", so the window is exact (and testable)
    * rather than mtime-approximate; pre-feature commits fall back to their
    * mtime, the same resolution `TIMESTAMP AS OF` uses.
    */
  def vacuumRetainHours(hours: Double,
                        minAgeMs: Long = MergeTable.DefaultVacuumMinAgeMs): Unit = {
    require(hours >= 0, "vacuumRetainHours requires a non-negative window")
    if (!exists) return
    vacuum(retainVersionsFor(hours), minAgeMs)
  }

  /** [[vacuumDryRun]] for the time-based form — same shared enumeration. */
  def vacuumDryRunRetainHours(hours: Double,
                              minAgeMs: Long = MergeTable.DefaultVacuumMinAgeMs): Seq[String] = {
    require(hours >= 0, "vacuumRetainHours requires a non-negative window")
    if (!exists) return Nil
    vacuumDryRun(retainVersionsFor(hours), minAgeMs)
  }

  /** The version-count equivalent of an hours window: how many newest
    * versions have a commit time inside it (at least 1 — the current
    * snapshot is always retained, Delta's rule too).
    */
  private def retainVersionsFor(hours: Double): Int = {
    val cur = currentVersion
    val cutoff = clock() - (hours * 3600000.0).toLong
    val oldestRetained = (math.max(0L, vacuumHorizon) to cur)
      .filter(ver => Files.exists(commitPath(ver)))
      .find(ver => commitTimeMillis(ver) >= cutoff)
      .getOrElse(cur)
    math.max(1L, cur - oldestRetained + 1).toInt
  }

  /** Delta's `VACUUM ... DRY RUN` analog: the root-relative paths a
    * [[vacuum]] with the same arguments would reclaim, WITHOUT deleting
    * anything or moving the horizon. One shared enumeration
    * ([[reclaimable]]) backs both, so the preview can never drift from
    * the deletion — the whole point of a dry run.
    */
  def vacuumDryRun(retainVersions: Int = 1,
                   minAgeMs: Long = MergeTable.DefaultVacuumMinAgeMs): Seq[String] = {
    require(retainVersions >= 1, "vacuum must retain at least the current version")
    if (!exists) return Nil
    reclaimable(retainVersions, minAgeMs)._2
      .map(p => Paths.get(root).relativize(p).toString).sorted
  }

  /** The vacuum plan: the new horizon plus every directory the retention
    * arguments doom — unreferenced data dirs, unreferenced dv sidecar
    * dirs, and orphan change-feed dirs, each under the min-age safeguard.
    */
  private def reclaimable(retainVersions: Int, minAgeMs: Long): (Long, Seq[Path]) = {
    val cur = currentVersion
    // the horizon is MONOTONIC: a later vacuum with a larger retention
    // cannot move it backwards past versions whose files are already gone —
    // that would re-open reads onto deleted data
    val floor = math.max(vacuumHorizon, math.max(0L, cur - retainVersions + 1))
    val cutoff = System.currentTimeMillis() - minAgeMs
    def oldEnough(p: Path): Boolean =
      Files.getLastModifiedTime(p).toMillis <= cutoff
    val live = liveDataDirs(floor, cur)
    val rootP = Paths.get(root)
    val doomed = Seq.newBuilder[Path]
    Files.list(rootP).iterator().asScala
      .filter { p =>
        val n = p.getFileName.toString
        // "dv" (deletion-vector root) shares the d prefix but is
        // reconciled per-subdir below, like cdf — never as one data dir
        Files.isDirectory(p) && n.startsWith("d") && n != "dv"
      }
      .filterNot(p => live.contains(p.getFileName.toString))
      .filter(oldEnough)
      .foreach(doomed += _)
    // reconcile dv sidecar dirs under the cdf rule: any commit's reference
    // keeps a dir (commits are never deleted; a restore may re-bind old
    // masks), unreferenced old-enough dirs are crashed/raced attempts
    val dvRoot = rootP.resolve("dv")
    if (Files.exists(dvRoot)) {
      val referenced: Set[String] = Files.list(logDir).iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.endsWith(".commit"))
        .flatMap(n => n.stripSuffix(".commit").toLongOption)
        .flatMap(ver => readMeta(ver).dvs.map(_._2))
        .map(_.stripPrefix("dv/")).toSet
      Files.list(dvRoot).iterator().asScala
        .filter(Files.isDirectory(_))
        .filterNot(p => referenced.contains(p.getFileName.toString))
        .filter(oldEnough)
        .foreach(doomed += _)
    }
    // reconcile orphan change-feed dirs: a feed dir no commit references is
    // a crashed/lost attempt's leftover; one any commit references must
    // outlive data-dir vacuuming. The staging tree is reconciled under the
    // same rule — a committed feed still parked there (publish-rename
    // crash, not yet healed by a reader) is referenced and kept.
    val cdfRoots = Seq(rootP.resolve("cdf"), rootP.resolve("cdf_stage"))
    if (cdfRoots.exists(Files.exists(_))) {
      val referenced: Set[String] = Files.list(logDir).iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.endsWith(".commit"))
        .flatMap(n => n.stripSuffix(".commit").toLongOption)
        .flatMap(ver => readMeta(ver).cdfDir)
        .map(_.stripPrefix("cdf/")).toSet
      cdfRoots.filter(Files.exists(_)).foreach { cr =>
        Files.list(cr).iterator().asScala
          .filter(Files.isDirectory(_))
          .filterNot(p => referenced.contains(p.getFileName.toString))
          .filter(oldEnough)
          .foreach(doomed += _)
      }
    }
    (floor, doomed.result())
  }

  /** The distinct data-dir prefixes any retained version references — the
    * unit VACUUM reconciles (one dir per write attempt, not one per file).
    * A lazy fold: the driver holds one resolved manifest at a time plus
    * the set of dirs, never a versions × files list of prefixes.
    */
  private def liveDataDirs(floor: Long, cur: Long): Set[String] =
    (floor to cur).iterator.filter(ver => Files.exists(commitPath(ver)))
      .flatMap(ver => filesOf(ver).map(_.takeWhile(_ != '/'))).toSet

  /** Oldest version still guaranteed readable (0 when never vacuumed).
    * An unparseable horizon file (possible only under pre-atomic-write
    * corruption) degrades to 0 — reads of vacuumed versions then fail at
    * scan time instead of fast, but the table is never bricked.
    */
  def vacuumHorizon: Long = {
    val p = logDir.resolve("_VACUUM_HORIZON")
    if (Files.exists(p)) Files.readString(p).trim.toLongOption.getOrElse(0L) else 0L
  }

  // ---- internals ----

  /** Data directories are unique PER ATTEMPT, not per version: a writer
    * that loses the commit race (or crashes) must never have touched the
    * winner's files — `mode("overwrite")` into a shared `d<version>` dir
    * would delete a committed snapshot's data before the commit conflict
    * even fires. Losers' orphan dirs are unreferenced by any commit and
    * reclaimed by vacuum.
    */
  private def newDataDir(version: Long): String =
    s"d${version}u${java.lang.Long.toHexString(System.nanoTime())}"

  /** GENERATED ALWAYS AS IDENTITY assignment (Delta identity-columns
    * analog, declared per handle like `generatedCols`): when the declared
    * column is absent from a write, every row gets `start + step·k` with
    * GAP-FREE, strictly monotone k continuing from the commit-carried
    * high-water mark. Two metadata-cheap passes, no global sort and no
    * driver data: (1) per-partition row counts (collected — one long per
    * partition), (2) the write itself, where each row's id is the
    * partition's cumulative offset plus its within-partition index
    * (`monotonically_increasing_id`'s low 33 bits). The count pass assumes
    * the frame's partitioning is deterministic across the two evaluations
    * — true of file scans and deterministic transforms; cache the frame
    * first otherwise. Explicit values are refused (Delta's ALWAYS
    * contract). Returns the frame with ids and the new high-water mark.
    */
  private def assignIdentity(df0: DataFrame): (DataFrame, Option[Long]) = identityCol match {
    case None => (df0, None)
    case Some((name, start, step)) =>
      require(step != 0, s"identity column '$name': step must be non-zero")
      // an all-NULL identity column counts as absent — Spark's analyzer
      // null-fills omitted columns before a v2 write reaches the
      // connector (INSERT INTO t (other_cols) …), and those NULLs mean
      // "assign", not "store NULL"; any non-NULL value is still refused
      // (Delta's GENERATED ALWAYS contract). The probe is a
      // short-circuit limit(1) scan, not a full pass.
      val df =
        if (!df0.columns.contains(name)) df0
        else {
          require(df0.filter(col(name).isNotNull).limit(1).count() == 0L,
            s"column '$name' is GENERATED ALWAYS AS IDENTITY — explicit values " +
              "are not accepted")
          df0.drop(name)
        }
      val last: Long =
        if (exists) properties.get(MergeTable.IdentityHwmProp).map(_.toLong)
          .getOrElse(start - step)
        else start - step
      val withPid = df.withColumn("_graft_pid", spark_partition_id())
      val counts = withPid.groupBy("_graft_pid").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
      val offsets = counts.map(_._1)
        .zip(counts.scanLeft(0L)(_ + _._2).init).toMap
      val total = counts.map(_._2).sum
      val assigned = withPid.withColumn(name,
        lit(last) + lit(step) * (element_at(typedLit(offsets), col("_graft_pid")) +
          monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)) + lit(1L)))
        .drop("_graft_pid")
      (assigned, Some(last + step * total))
  }

  /** Row-tracking assignment (Delta row-ids analog): every row whose
    * [[MergeTable.RowIdCol]] is NULL (or absent) receives a fresh unique id
    * continuing from the commit-carried high-water mark; rows that already
    * carry an id keep it VERBATIM — that is the whole feature (merge /
    * update / compact preserve identity of surviving rows). The mechanics
    * are [[assignIdentity]]'s: per-partition counts (one long per
    * partition collected), then offset + within-partition index — no
    * global sort, no driver data. Ids are unique and stable, NOT dense or
    * ordered (Delta's are neither). Returns the df with the column fully
    * populated plus the new hwm when anything was assigned.
    */
  private def assignRowIds(df: DataFrame): (DataFrame, Option[Long]) = {
    if (!rowTrackingEnabled) return (df, None)
    import MergeTable.RowIdCol
    val base: Long =
      if (exists) properties.get(MergeTable.RowIdHwmProp).map(_.toLong).getOrElse(0L)
      else 0L
    val withCol =
      if (df.columns.contains(RowIdCol)) df
      else df.withColumn(RowIdCol, lit(null).cast("long"))
    val keep = withCol.filter(col(RowIdCol).isNotNull)
    val need = withCol.filter(col(RowIdCol).isNull)
    val withPid = need.withColumn("_graft_pid", spark_partition_id())
    val counts = withPid.groupBy("_graft_pid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    if (counts.isEmpty) return (withCol, None)
    val offsets = counts.map(_._1)
      .zip(counts.scanLeft(0L)(_ + _._2).init).toMap
    val total = counts.map(_._2).sum
    val assigned = withPid.withColumn(RowIdCol,
      lit(base) + element_at(typedLit(offsets), col("_graft_pid")) +
        monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)))
      .drop("_graft_pid")
    (keep.unionByName(assigned), Some(base + total))
  }

  /** Current properties with the given keys replaced — the propsOverride a
    * data-writing commit passes when it advanced one or more high-water
    * marks (identity ids, row-tracking ids).
    */
  private def propsWith(updates: Seq[(String, String)]): Option[Seq[(String, String)]] =
    if (updates.isEmpty) None
    else {
      val cur = if (exists) readCommit(currentVersion).props
                else Seq.empty[(String, String)]
      Some(cur.filterNot(p => updates.exists(_._1 == p._1)) ++ updates)
    }

  /** Current properties with the identity high-water mark replaced — the
    * propsOverride a data-writing commit passes when it assigned ids.
    */
  private def hwmProps(newHwm: Option[Long]): Option[Seq[(String, String)]] =
    propsWith(newHwm.toSeq.map(h => MergeTable.IdentityHwmProp -> h.toString))

  /** Writes a full snapshot and commits it. Callers must have ALREADY
    * applied [[applyGenerated]] where the data could be missing or
    * violating generated columns (overwrite, merge bootstrap) — this path
    * does NOT re-apply it, so full-table rewrites whose input is the table
    * itself (compact / zorder, already validated at original write time)
    * never pay a redundant per-row generation re-evaluation.
    */
  private def writeVersion(df: DataFrame, version: Long,
                           changes: Option[DataFrame] = None,
                           txn: Option[(String, Long)] = None,
                           op: String = "WRITE",
                           assignIds: Boolean = true,
                           boundedRows: Option[Long] = None): Unit = {
    // OPTIMIZE-family rewrites re-shuffle EXISTING rows — their ids must
    // survive verbatim, never be re-assigned (assignIds = false; row ids
    // ride along in the df the rewrite read with withRowIds)
    val (data0, newHwm) =
      if (assignIds) assignIdentity(df) else (df, None)
    val (data, rowHwm) =
      if (assignIds) assignRowIds(data0) else (data0, None)
    // the committed schema NEVER includes the hidden row-id column — it is
    // physical-file state, like the colmap's physical names
    val commitSchema = StructType(
      data.schema.fields.filterNot(_.name == MergeTable.RowIdCol))
    // the mapping carried into this commit, restricted to columns the new
    // schema keeps (commit() applies the same filter to the recorded lines)
    val cmap =
      if (version > 0 && Files.exists(commitPath(version - 1)))
        colmapOf(version - 1).filter { case (lg, _) => commitSchema.fieldNames.contains(lg) }
      else Map.empty[String, String]
    val dataDir = newDataDir(version)
    // a snapshot whose LOGICAL plan is row-preserving transforms over a
    // LocalRelation sits in driver memory (the ANN model tables and the
    // CC labels bootstrap are the canonical cases: a few KB each); and a
    // caller-vouched `boundedRows` (a maintenance operator's
    // already-counted batch size — narrow state rows) is the same
    // guarantee for derived frames. Either way, spending a full write job
    // is pure overhead. The RAW logical plan is walked deliberately:
    // probing optimizedPlan would force an extra full Catalyst pass on
    // every big overwrite just to answer "no".
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter,
      LocalRelation, LogicalPlan, Project, SubqueryAlias}
    def localBound(p: LogicalPlan): Option[Long] = p match {
      case l: LocalRelation => Some(l.data.length.toLong)
      case pr: Project => localBound(pr.child) // 1:1 (generators live in Generate)
      case f: LFilter => localBound(f.child)   // row-reducing
      case s: SubqueryAlias => localBound(s.child)
      case _ => None
    }
    val bound = localBound(data.queryExecution.logical).orElse(boundedRows)
    val direct = bound.exists(_ <= data.sparkSession.conf
      .get("spark.graft.directWriteMaxRows", "262144").toLong)
    writeData(data, dataDir, cmap, direct)
    val files = listParquet(Paths.get(root, dataDir)).map(relativize)
    val cdfDir = changes.map(c => writeChanges(c, version, dataDir, direct))
    commit(version, files, commitSchema,
      collectStats(data.sparkSession, files, commitSchema, cmap), cdfDir, txn = txn,
      propsOverride = propsWith(
        newHwm.toSeq.map(h => MergeTable.IdentityHwmProp -> h.toString) ++
          rowHwm.toSeq.map(h => MergeTable.RowIdHwmProp -> h.toString)),
      op = op)
  }

  /** One metadata-sized job: per-file min/max of every stats column the
    * schema carries. Output rows = files × columns — never data-sized.
    */
  private def collectStats(spark: SparkSession, relFiles: Seq[String],
                           schema: StructType,
                           colmap: Map[String, String]): Seq[String] =
    Timing.time("collectStats")(
      collectStatsFor(spark, relFiles, schema, colmap, statsColsEffective(schema)))

  /** Stats columns IN FORCE for a write: the constructor's, else the
    * log-pinned `graft.statsCols` (bare-path reopens keep collecting —
    * see the property pinning in [[commit]]), else the first
    * `graft.dataSkippingNumIndexedCols` supported columns of the current
    * schema (Delta's `delta.dataSkippingNumIndexedCols` shape: one
    * TBLPROPERTY turns data skipping on for a table created without
    * explicit stats columns).
    */
  private def statsColsEffective(schema: StructType): Seq[String] =
    if (statsCols.nonEmpty || !exists) statsCols
    else {
      val props = readMeta(currentVersion).props.toMap
      props.get(MergeTable.StatsColsProp)
        .map(_.split(",").toSeq.map(dec).filter(_.nonEmpty))
        .orElse(props.get(MergeTable.NumIndexedColsProp).flatMap(_.toIntOption).map { n =>
          schema.fields.filter(f => MergeTable.statsSupported(f.dataType))
            .take(n).map(_.name).toSeq
        })
        .getOrElse(Nil)
    }

  /** Stat line format: `file \t col \t min \t max \t flag` with flag `N`
    * (column is all-NULL in the file) or `V` (non-null values present) —
    * the flag is what makes an empty-string MINIMUM distinguishable from
    * "no values" (encoding null as "" alone is ambiguous, and resolving
    * the ambiguity toward skip would be unsound). Legacy 4-field lines
    * (no flag) are read conservatively: an empty bound keeps the file.
    *
    * String bounds are TRUNCATED to [[MergeTable.StatsMaxLen]] chars the
    * sound way (Delta's): min to a prefix (≤ every value), max to the
    * prefix with its last incrementable char bumped (> every value) — so
    * a `documents`-scale text column costs the log 64 chars per file, not
    * the document. Only types the pruner can order are collected at all.
    */
  private def collectStatsFor(spark: SparkSession, relFiles: Seq[String],
                              schema: StructType,
                              colmap: Map[String, String],
                              wantCols: Seq[String]): Seq[String] = {
    val colsAll = wantCols.filter(c => schema.fieldNames.contains(c) &&
      MergeTable.statsSupported(schema(c).dataType))
    if (colsAll.isEmpty || relFiles.isEmpty) return Nil
    // Crossover, measured: below ~hundreds of MB the ONE aggregation scan
    // (a single Spark job that also computes the sums) beats per-file
    // footer opens + a separate sum job on fixed overhead alone; above it,
    // re-reading the data loses to metadata reads by orders of magnitude.
    // A 100 TB load always takes the footer path; a 2 MB gate table never
    // pays its fixed costs.
    val bytes = relFiles.iterator.map { f =>
      try Files.size(Paths.get(root, f)) catch { case _: java.io.IOException => 0L }
    }.sum
    if (bytes < MergeTable.footerStatsMinBytes(spark))
      scanStatsFor(spark, relFiles, schema, colmap, colsAll)
    else footerStatLines(spark, relFiles, schema, colmap, colsAll)
      .getOrElse(scanStatsFor(spark, relFiles, schema, colmap, colsAll))
  }

  /** Row counts, min/max bounds, and null counts from the parquet FOOTERS
    * of just-written files — METADATA reads, zero data scan, so a 100 TB
    * load is scanned exactly once (by its own write). Distributed above
    * [[MergeTable.FooterDriverMax]] files, a driver loop below. Integral
    * SUMS (the agg-pushdown extension — Delta's stats stop at
    * numRecords/min/max/nullCount) are not in footers; they ride ONE
    * column-pruned scan over only the integral stats columns, and tables
    * without integral stats columns pay no post-write scan at all.
    *
    * None ⇒ some wanted column's type cannot be recovered from footer
    * primitives exactly (decimal scales, timestamp_ntz, INT96 legacy
    * timestamps) — the caller falls back to the aggregation scan. A FILE
    * whose footer lacks usable statistics for a column (parquet omits
    * oversized binary bounds, NaN-poisoned float ranges in some writer
    * versions) just omits that line — readers treat missing stats as
    * unknown and keep the file, the same degradation the scan path has
    * for unparsable bounds.
    */
  private def footerStatLines(spark: SparkSession, relFiles: Seq[String],
                              schema: StructType,
                              colmap: Map[String, String],
                              cols: Seq[String]): Option[Seq[String]] = {
    import org.apache.spark.sql.types._
    val footerOk = cols.forall(c => schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | StringType | DateType | TimestampType => true
      case _ => false // decimal / timestamp_ntz: exact recovery is writer-dependent
    })
    if (!footerOk) return None
    val colSpecs: Seq[(String, String, DataType)] =
      cols.map(c => (c, colmap.getOrElse(c, c), schema(c).dataType))
    val rootStr = root
    val partial: Seq[(String, Option[Seq[MergeTable.FooterStat]])] =
      if (relFiles.size <= MergeTable.FooterDriverMax)
        relFiles.map(rel => rel -> MergeTable.footerStatsOf(rootStr, rel, colSpecs))
      else {
        val specs = colSpecs // avoid capturing `this`
        val slices = math.min(relFiles.size, 64)
        spark.sparkContext.parallelize(relFiles, slices)
          .map(rel => rel -> MergeTable.footerStatsOf(rootStr, rel, specs))
          .collect().toSeq
      }
    if (partial.exists(_._2.isEmpty)) return None // unreadable footer: rescan
    val intCols = cols.filter(c => schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }).toSet
    // the one remaining data pass: exact integral sums, pruned to exactly
    // the integral columns (+ the file name) — nothing else is read
    val sums: Map[(String, String), String] =
      if (intCols.isEmpty) Map.empty
      else {
        val aggs = intCols.toSeq.sorted.map(c =>
          sum(col(c).cast("decimal(38,0)")).as(s"sm_$c"))
        readFiles(spark, relFiles, schema, colmap)
          .select(intCols.toSeq.sorted.map(col): _*)
          .withColumn("_graft_file", input_file_name())
          .groupBy("_graft_file")
          .agg(aggs.head, aggs.tail: _*)
          .collect().toSeq.flatMap { r =>
            val rel = relativize(normalize(r.getString(0)))
            intCols.toSeq.sorted.flatMap(c =>
              Option(r.getAs[java.math.BigDecimal](s"sm_$c"))
                .map(v => (rel, c) -> v.toBigInteger.toString))
          }.toMap
      }
    Some(partial.flatMap { case (rel, stats) =>
      stats.get.map { st =>
        if (st.col == MergeTable.CountStatKey)
          s"${enc(rel)}\t${enc(st.col)}\t${st.mn}\t${st.mx}\tV"
        else {
          val sm =
            if (!intCols.contains(st.col) || st.flag == "N") ""
            else sums.getOrElse((rel, st.col), "")
          st.nulls match {
            case Some(n) =>
              s"${enc(rel)}\t${enc(st.col)}\t${enc(st.mn)}\t${enc(st.mx)}\t${st.flag}\t$n\t${enc(sm)}"
            case None => // unknown null count: legacy 5-field line
              s"${enc(rel)}\t${enc(st.col)}\t${enc(st.mn)}\t${enc(st.mx)}\t${st.flag}"
          }
        }
      }
    })
  }

  private def scanStatsFor(spark: SparkSession, relFiles: Seq[String],
                           schema: StructType,
                           colmap: Map[String, String],
                           cols: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.types.StringType
    val strCols = cols.filter(c => schema(c).dataType == StringType).toSet
    // the per-file ROW COUNT rides the same per-file aggregation pass for
    // free (Delta's stats.numRecords) — it is what lets count(*) be
    // answered from the log alone ([[aggregateFromStats]]); recorded as a
    // stat line under the reserved pseudo-column [[MergeTable.CountStatKey]]
    val intCols = cols.filter(c => schema(c).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }).toSet
    val aggs = count(lit(1)).as("_graft_cnt") +:
      cols.flatMap(c => Seq(min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c"),
        count(col(c)).as(s"nn_$c")) ++
        // exact per-file SUM for integral columns (decimal(38,0): no
        // overflow, order-independent) — sum(col) pushdown reads it
        (if (intCols(c)) Seq(sum(col(c).cast("decimal(38,0)")).as(s"sm_$c")) else Nil))
    readFiles(spark, relFiles, schema, colmap)
      .withColumn("_graft_file", input_file_name())
      .groupBy("_graft_file")
      .agg(aggs.head, aggs.tail: _*)
      .collect().toSeq.flatMap { r =>
        val rel = relativize(normalize(r.getString(0)))
        val cnt = r.getAs[Long]("_graft_cnt")
        val cntLine = s"${enc(rel)}\t${enc(MergeTable.CountStatKey)}\t$cnt\t$cnt\tV"
        cntLine +: cols.map { c =>
          val mnV = Option(r.getAs[Any](s"mn_$c")).map(_.toString)
          val mxV = Option(r.getAs[Any](s"mx_$c")).map(_.toString)
          val flag = if (mnV.isEmpty) "N" else "V"
          val mn = mnV.map(s => if (strCols(c)) MergeTable.truncStatMin(s) else s).getOrElse("")
          val mx = mxV.map(s => if (strCols(c)) MergeTable.truncStatMax(s) else s).getOrElse("")
          // 6th field: NULL COUNT (Delta's stats.nullCount) — count(col)
          // pushdown and IsNull file skipping read it; 7th: the exact
          // integral SUM ("" for non-integral/all-NULL) — sum(col)
          // pushdown reads it; old lines simply lack the fields (readers
          // treat missing as unknown)
          val nulls = cnt - r.getAs[Long](s"nn_$c")
          val sm =
            if (!intCols(c)) ""
            else Option(r.getAs[java.math.BigDecimal](s"sm_$c"))
              .map(_.toBigInteger.toString).getOrElse("")
          s"${enc(rel)}\t${enc(c)}\t${enc(mn)}\t${enc(mx)}\t$flag\t$nulls\t${enc(sm)}"
        }
      }
  }

  /** Per-(file, column) NULL counts recorded in the stats lines' 6th
    * field — absent for pre-feature lines (callers treat missing as
    * unknown and fall back).
    */
  private[lake] def nullCounts(version: Long): Map[(String, String), Long] =
    readCommit(version).nullCounts

  /** Per-(file, column) EXACT integral sums from the stats lines' 7th
    * field; a file whose column is all-NULL records "" and is absent here
    * (its contribution to a sum is vacuous).
    */
  private[lake] def fileSums(version: Long): Map[(String, String), BigInt] =
    readCommit(version).statsLines.flatMap { line =>
      val parts = line.split("\t", -1)
      if (parts.length >= 7 && dec(parts(1)) != MergeTable.CountStatKey &&
          dec(parts(6)).nonEmpty)
        scala.util.Try(BigInt(dec(parts(6)))).toOption
          .map(v => (dec(parts(0)), dec(parts(1))) -> v)
      else None
    }.toMap

  /** Stats lines of a previous version restricted to the files a new commit
    * carries forward unrewritten.
    */
  private def carryStats(version: Long, keptRel: Seq[String]): Seq[String] = {
    val kept = keptRel.toSet
    readCommit(version).statsLines
      .filter(l => kept.contains(dec(l.takeWhile(_ != '\t'))))
  }

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)

  /** Change rows live beside (not inside) data dirs, keyed PER ATTEMPT
    * (`<root>/cdf/<dataDir>`) like the data dirs themselves: two writers
    * racing to one version never overwrite each other's feed, and a
    * crashed attempt leaves only an unreferenced dir. Written before the
    * commit that records the returned relative path — but into the
    * SIBLING staging tree (`cdf_stage/<dataDir>`, see
    * [[MergeTable.stagingOf]]) that the readers' glob over cdf/ cannot
    * match, so a live [[changesStream]] can never consume change rows of
    * an attempt that hasn't committed (a racing loser's rows, or a
    * crashed writer's). [[commit]] publishes the staged dir with one
    * atomic rename AFTER the version link succeeds: the uncommitted-data
    * window closes entirely, and the old crash window (committed version,
    * missing feed) shrinks from a full dataset write to a single rename —
    * and is LOUD, because `changes()` fails on a recorded-but-missing dir
    * while the staged data survives for repair.
    */
  private def writeChanges(df: DataFrame, version: Long, attemptDir: String,
                           direct: Boolean = false): String = {
    Timing.time("writeChanges") {
      val out = df.withColumn(MergeTable.CommitVersion, lit(version))
      val dest = MergeTable.stagingOf(s"cdf/$attemptDir")
      // the feed of a direct-eligible merge is bounded the same way its
      // data is (≤ 2×touched + 2×source rows) — one driver-written file
      if (!direct || !writeDirectInto(out, dest, Nil))
        out.write.mode("overwrite").parquet(s"$root/$dest")
    }
    s"cdf/$attemptDir"
  }

  /** Generated columns (Delta generated-columns analog, declared per table
    * handle like `partitionCols`): a missing column is DERIVED from its
    * expression at write time; a provided one is VALIDATED against it with
    * a per-row raising filter (Delta enforces the same consistency) — both
    * fused into the write, never a second scan.
    */
  private def applyGenerated(df: DataFrame): DataFrame =
    generatedCols.foldLeft(df) { case (d, (name, genExpr)) =>
      if (!d.columns.contains(name)) d.withColumn(name, expr(genExpr))
      else
        // a NULL means "derive" — Spark's analyzer null-fills omitted
        // columns before a v2 write reaches the connector, so NULLs here
        // are column-list INSERTs, not stored values; explicit non-NULL
        // values must still match the expression (Delta's contract)
        d.filter(
          when(col(name).isNull || (col(name) <=> expr(genExpr)), lit(true))
            .otherwise(raise_error(concat(
              lit(s"generated column '$name' != $genExpr on row: "),
              to_json(struct(d.columns.map(col): _*)))).cast("boolean")))
          .withColumn(name, coalesce(col(name), expr(genExpr)))
    }

  /** All writers route here AFTER [[applyGenerated]] ran at their entry
    * point (writeVersion / merge source / appendAligned / copyInto) —
    * re-applying it here would re-evaluate every generation expression
    * per row a second time on the hot write path for no added safety.
    */
  private def writeData(df0: DataFrame, dataDir: String,
                        colmap: Map[String, String],
                        direct: Boolean = false): Unit =
    Timing.time("writeData")(writeData0(df0, dataDir, colmap, direct))

  /** True iff a rewrite over `touchedRel` qualifies for the driver-side
    * direct write: every touched file's bytes are known (local metadata)
    * and sum under `spark.graft.directWriteMaxBytes` (default 16 MB
    * compressed; 0 disables), AND the touched files' FOOTER row counts
    * plus `extraRows` (the caller's source bound) stay under
    * `spark.graft.directWriteMaxRows` — the row precheck is what keeps a
    * dense just-under-the-byte-cap table (600 k narrow rows fit in 16 MB)
    * from paying a doomed collect + distributed rerun (measured: m1's
    * merge 1.25 → 2.29 s without it). Footer reads are driver-side
    * metadata, only paid once the byte cap already passed (a handful of
    * files). [[writeDirectInto]] keeps its own collect-time cap as the
    * final defense. At 100 TB only genuinely tiny micro-batch commits
    * qualify — exactly the writes whose cost is 100% fixed job overhead.
    */
  private[lake] def directWriteOk(spark: SparkSession, touchedRel: Seq[String],
                                  extraRows: Long = 0L): Boolean = {
    val maxBytes = spark.conf.get("spark.graft.directWriteMaxBytes",
      (16L * 1024 * 1024).toString).toLong
    val maxRows = spark.conf.get("spark.graft.directWriteMaxRows", "262144").toLong
    maxBytes > 0 && {
      var sum = 0L
      touchedRel.forall { f =>
        try { sum += Files.size(Paths.get(root, f)); sum <= maxBytes }
        catch { case _: java.io.IOException => false }
      }
    } && {
      var rows = extraRows
      touchedRel.forall { f =>
        MergeTable.footerRowCount(root, f) match {
          case Some(n) => rows += n; rows <= maxRows
          case None => false
        }
      }
    }
  }

  /** Collect `df` (bounded by `spark.graft.directWriteMaxRows`) and write
    * it DRIVER-SIDE as one parquet file per partition directory under
    * `destRel`, byte-compatible with the DataFrameWriter output
    * ([[DirectParquet]]). Replaces, for small maintained-state commits:
    * the write job (plan + committer + tasks), the optimize-write
    * rebalance exchange, and the dynamic-partition sort — with ONE collect
    * job plus driver-side encoding. Partition directory names render
    * through Spark's own Cast-to-string + escaping (the same pair the
    * distributed write path uses — see the `keysDeterminePartitions` probe
    * note), so readers resolve identical paths. Returns false (having
    * written nothing durable) when the row cap is exceeded — the caller
    * falls back to the distributed write, whose `overwrite` mode clears
    * any partial output.
    */
  private def writeDirectInto(df: DataFrame, destRel: String,
                              parts: Seq[String]): Boolean =
    Timing.time("writeData.direct") {
      val spark = df.sparkSession
      val maxRows = spark.conf.get("spark.graft.directWriteMaxRows", "262144").toInt
      val dataCols = df.columns.filterNot(parts.contains)
      val sel = dataCols.map(col) ++ parts.map(c => col(c).cast("string"))
      // partition strings ride BEHIND the data columns: ParquetWriteSupport
      // consumes exactly the file schema's ordinals, so the trailing fields
      // are grouping metadata only
      val rows = Timing.time("writeData.direct.collect")(
        df.select(sel.toIndexedSeq: _*).limit(maxRows + 1)
          .queryExecution.executedPlan.executeCollect())
      if (rows.length > maxRows) false
      else Timing.time("writeData.direct.encode") {
        val fileSchema = StructType(dataCols.map(c => df.schema(c)))
        val conf = Timing.time("writeData.direct.prep")(
          DirectParquet.prepare(spark, fileSchema))
        val (codec, infix) = DirectParquet.codecOf(spark)
        val name = s"part-00000-${java.util.UUID.randomUUID()}.c000$infix.parquet"
        Files.createDirectories(Paths.get(root, destRel))
        val proj = Timing.time("writeData.direct.proj")(
          org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(fileSchema))
        val nd = dataCols.length
        val grouped = rows.groupBy { r =>
          parts.indices.map { i =>
            if (r.isNullAt(nd + i)) null else r.getUTF8String(nd + i).toString
          }
        }
        // parity with the distributed writer on EMPTY input: a
        // non-partitioned write still produces one schema-bearing empty
        // file (schema inference on the dir must keep working — the CDF
        // reader depends on it); a partitioned write produces none
        val groups =
          if (grouped.isEmpty && parts.isEmpty)
            Map(IndexedSeq.empty[String] ->
              Array.empty[org.apache.spark.sql.catalyst.InternalRow])
          else grouped
        groups.foreach { case (pvals, group) =>
          import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          val segs = parts.indices.map(i =>
            s"${parts(i)}=${ExternalCatalogUtils.getPartitionValueString(pvals(i))}")
          val dir = Paths.get((Seq(root, destRel) ++ segs).mkString("/"))
          Files.createDirectories(dir)
          DirectParquet.writeFile(conf, codec, proj, group.iterator, dir.resolve(name))
        }
        MergeTable.directWrites.incrementAndGet()
        true
      }
    }

  private def writeData0(df0: DataFrame, dataDir: String,
                         colmap: Map[String, String],
                         direct: Boolean = false): Unit = {
    // the hidden row-id column is RESERVED: only rowTracking tables may
    // store it (a user column under that name would silently vanish from
    // the committed schema)
    require(rowTrackingEnabled || !df0.columns.contains(MergeTable.RowIdCol),
      s"column ${MergeTable.RowIdCol} is reserved for rowTracking tables")
    val df = df0
    // constraint enforcement rides the write itself: a per-row codegen'd
    // filter whose violation branch raises — never a second scan
    val checked = checkConstraints.foldLeft(df) { case (d, (name, pred)) =>
      d.filter(
        when(coalesce(expr(pred), lit(true)), lit(true))
          .otherwise(raise_error(concat(
            lit(s"CHECK constraint '$name' ($pred) violated by row: "),
            to_json(struct(d.columns.map(col): _*)))).cast("boolean")))
    }
    // the LAST step before the write: store columns under their PHYSICAL
    // names (constraints/generated columns above all speak logical names).
    // Partition columns are never mapped (rename/drop forbids them), so
    // partitionBy and the hive-style dir names stay stable.
    val physical =
      if (colmap.isEmpty) checked
      else checked.select(checked.columns.toSeq.map(c =>
        col(c).as(colmap.getOrElse(c, c))): _*)
    // bounded micro-batch commits write DRIVER-SIDE (one collect job, no
    // write job / committer / rebalance — see [[writeDirectInto]]); the
    // row-cap fallback lands on the distributed writer below, whose
    // overwrite mode clears any partial direct output first
    val wroteDirect = direct && writeDirectInto(physical, dataDir, partitionCols)
    if (!wroteDirect) {
      val w = physical.write.mode("overwrite")
      val pw = if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w
      Timing.time("writeData.job")(pw.parquet(s"$root/$dataDir"))
    }
    // Bloom index freshness: once an index exists for a column (the
    // bloomidx/<physical col> dir), every write builds sidecars for ITS new files
    // right here — one extra scan of just-written data, the price Delta
    // pays inline too. Without this, post-build files silently degrade to
    // "keep" on every point lookup and the index decays with table churn.
    if (Files.exists(Paths.get(root, "bloomidx"))) {
      val logical = StructType(df0.schema.fields.filterNot(_.name == MergeTable.RowIdCol))
      val bloomCols = logical.fields.toSeq.filter(f =>
        ManifestFileIndex.bloomIndexType(root, physOf(colmap, f.name)).contains(f.dataType))
        .map(_.name)
      if (bloomCols.nonEmpty) {
        val newRel = listParquet(Paths.get(root, dataDir)).map(relativize)
        buildBloomSidecars(df0.sparkSession, newRel, logical, colmap, bloomCols)
      }
    }
  }

  /** Atomic commit with optimistic concurrency, Delta's N-th-log-file
    * protocol made crash-safe on a filesystem: the fully-written commit
    * content (schema + files + stats, one file) is PUBLISHED by hard-link
    * put-if-absent — a single atomic operation that both claims the version
    * and exposes complete content, so
    *  - two writers racing to the same next version get one winner and one
    *    clear `ConcurrentModificationException` (the loser's data dirs are
    *    unique — see [[newDataDir]] — and unreferenced, reclaimed by the
    *    next vacuum);
    *  - a writer crashing mid-commit leaves only a temp file and possibly
    *    its own data dirs, never a partial or orphaned commit that would
    *    block future writers;
    *  - readers can never observe a version whose schema and file list
    *    disagree.
    * `_LATEST` is updated afterwards as a best-effort tip cache
    * ([[currentVersion]] forward-scans past a lost update).
    */
  private def commit(version: Long, files: Seq[String], schema: StructType,
                     statsLines: Seq[String] = Nil,
                     cdfDir: Option[String] = None,
                     constraintsOverride: Option[Seq[(String, String)]] = None,
                     ingestDelta: Seq[String] = Nil,
                     ingestReset: Option[Seq[String]] = None,
                     txn: Option[(String, Long)] = None,
                     txnsOverride: Option[Map[String, Long]] = None,
                     dvsOverride: Option[Seq[(String, String, Long)]] = None,
                     colmapOverride: Option[Seq[(String, String)]] = None,
                     retiredOverride: Option[Seq[String]] = None,
                     propsOverride: Option[Seq[(String, String)]] = None,
                     featuresOverride: Option[Seq[String]] = None,
                     op: String = "WRITE"): Unit = Timing.time("commit") {
    Files.createDirectories(logDir)
    // CHECK constraints and txn versions carry forward automatically
    // (commits are never deleted, so version-1 is always readable). The
    // copyInto ledger is NOT carried forward: each commit records only its
    // own newly-ingested files (plus an optional reset marker), and readers
    // union the deltas — at scale a carried-forward ledger would grow every
    // commit by O(total files ever ingested). The FULL previous commit
    // (manifest included) is resolved here because the manifest delta
    // decides the commit's encoding below; callers resolved the same
    // snapshot to compute `files`, so this doubles a metadata read, never
    // adds a data read.
    val prev: Option[Commit] =
      if (version > 0 && Files.exists(commitPath(version - 1)))
        Some(readCommit(version - 1))
      else None
    val constraints = constraintsOverride.getOrElse(prev.fold(Seq.empty[(String, String)])(_.constraints))
    val ingested = ingestReset.getOrElse(ingestDelta)
    // a replayed lower txn version must never regress the recorded marker —
    // exactly-once gates compare against the HIGHEST version ever applied
    val txnBase = txnsOverride.getOrElse(prev.fold(Map.empty[String, Long])(_.txns))
    val txns = txn.fold(txnBase) { case (a, ver) =>
      txnBase.updated(a, txnBase.get(a).fold(ver)(math.max(_, ver)))
    }
    // dv bindings carry forward ONLY for files this commit still lists —
    // a rewritten file's survivors were materialized dv-masked, so its
    // binding must die with the old file reference
    val fileSet = files.toSet
    val dvLines = dvsOverride
      .getOrElse(prev.fold(Seq.empty[(String, String, Long)])(_.dvs))
      .filter { case (f, _, _) => fileSet.contains(f) }
    // the column mapping carries forward only for columns this commit's
    // schema still declares (an overwrite with a narrower schema sheds the
    // mapping with the column); the retired-physical-name set only grows
    val schemaNames = schema.fieldNames.toSet
    val colmapLines = colmapOverride
      .getOrElse(prev.fold(Seq.empty[(String, String)])(_.colmap))
      .filter { case (lg, ph) => schemaNames.contains(lg) && lg != ph }
    val retiredLines = retiredOverride.getOrElse(prev.fold(Seq.empty[String])(_.retired))
    val propLines0 = propsOverride.getOrElse(prev.fold(Seq.empty[(String, String)])(_.props))
    // row tracking and the partition layout are TABLE properties, not
    // handle state: the first commit pins them in the log, so every later
    // handle — a constructor with different args, or the DSv2 connector
    // opening by bare path — derives the same in-force values
    val propLines1 =
      if (rowTrackingEnabled && !propLines0.exists(_._1 == MergeTable.RowTrackingProp))
        propLines0 :+ (MergeTable.RowTrackingProp -> "true")
      else propLines0
    val propLines2 =
      if (partitionCols.nonEmpty && !propLines1.exists(_._1 == MergeTable.PartitionColsProp))
        propLines1 :+ (MergeTable.PartitionColsProp -> partitionCols.mkString(","))
      else propLines1
    // generated / identity DECLARATIONS are table state exactly like the
    // partition layout: a handle reopened by bare path (the catalog, the
    // connector) must re-derive them or later writes would silently skip
    // derivation / id assignment. Components are URL-encoded, so the
    // expression text can contain any delimiter.
    def urlenc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")
    val propLines3 =
      if (generatedCols.nonEmpty &&
          !propLines2.exists(_._1 == MergeTable.GeneratedColsProp))
        propLines2 :+ (MergeTable.GeneratedColsProp ->
          generatedCols.map { case (n, e) => urlenc(n) + "=" + urlenc(e) }.mkString(","))
      else propLines2
    val propLines4 = identityCol match {
      case Some((n, start, step))
          if !propLines3.exists(_._1 == MergeTable.IdentityColProp) =>
        propLines3 :+ (MergeTable.IdentityColProp -> s"${urlenc(n)},$start,$step")
      case _ => propLines3
    }
    // stats columns are table state too: a bare-path reopen (connector,
    // catalog) must KEEP collecting or data skipping silently decays as
    // the table churns — the same class of bug as unpinned row tracking
    val propLines =
      if (statsCols.nonEmpty && !propLines4.exists(_._1 == MergeTable.StatsColsProp))
        propLines4 :+ (MergeTable.StatsColsProp -> statsCols.map(urlenc).mkString(","))
      else propLines4
    // Manifest encoding: FULL (every `file`/`stat` line) on version 0, on
    // every CheckpointEvery-th version (bounds the reader's base chain),
    // and whenever the delta wouldn't be smaller or a retained file's
    // stats changed (column rename/drop restats unrewritten files — a
    // delta of add/removes cannot express that). Otherwise INCREMENTAL:
    // `base` + this commit's add/remove lines + stats for added files
    // only. Metadata lines above are always written in full (they are
    // bounded by constraints/txns/columns, never by file count), so
    // readMeta stays a single-file read on every commit.
    val fullManifest = files.map(f => s"file\t${enc(f)}") ++ statsLines.map(l => s"stat\t$l")
    // the commit's own file delta vs its predecessor — drives the
    // incremental manifest encoding
    val deltaInfo: Option[(Seq[String], Seq[String], Boolean)] = prev.map { p =>
      val prevSet = p.files.toSet
      val added = files.filterNot(prevSet)
      val removed = p.files.filterNot(fileSet)
      def byFile(ls: Seq[String]): Map[String, Seq[String]] =
        ls.groupBy(_.takeWhile(_ != '\t'))
      val addedEnc = added.map(enc).toSet
      val removedEnc = removed.map(enc).toSet
      val retainedUnchanged =
        (byFile(statsLines) -- addedEnc) == (byFile(p.statsLines) -- removedEnc)
      (added, removed, retainedUnchanged)
    }
    val manifest = deltaInfo match {
      case Some((added, removed, retainedUnchanged))
          if version % MergeTable.CheckpointEvery != 0 =>
        val addedEnc = added.map(enc).toSet
        val addedStatLines = statsLines.filter(l => addedEnc.contains(l.takeWhile(_ != '\t')))
        val incremental = Seq(s"base\t${version - 1}") ++
          added.map(f => s"add\t${enc(f)}") ++
          removed.map(f => s"remove\t${enc(f)}") ++
          addedStatLines.map(l => s"stat\t$l")
        if (retainedUnchanged && incremental.size < fullManifest.size) incremental
        else fullManifest
      case _ => fullManifest
    }
    // In-commit timestamp (Delta's inCommitTimestamp): the commit's OWN
    // record of when it happened, immune to log-file copies/mtime churn
    // (CLONE copies a log; a restored backup rewrites mtimes). Clamped to
    // strictly-after the previous commit's EFFECTIVE publish time — its
    // in-commit ts when recorded, else its mtime fallback (the same
    // resolution commitTimeMillis/versionAt use) — so the first
    // post-upgrade commit of a pre-feature table cannot record a time
    // earlier than the mtime its predecessor already resolves to, and
    // TIMESTAMP AS OF stays total-ordered across the feature boundary.
    val tsMillis = math.max(clock(),
      (if (prev.isDefined) commitTimeMillis(version - 1) else Long.MinValue) + 1)
    // operation metrics (Delta's operationMetrics): file-delta counts
    // recorded AT COMMIT TIME (both lists are already in hand — set ops
    // over names, never a data read), surfaced by DESCRIBE HISTORY
    val prevFileSet = prev.fold(Seq.empty[String])(_.files).toSet
    val numAdded = files.count(f => !prevFileSet.contains(f))
    val numRemoved = prevFileSet.size - (files.size - numAdded)
    // Table features (Delta's readerFeatures/writerFeatures in the
    // protocol action): the commit NAMES every capability the snapshot
    // depends on, derived from what is actually being committed — never
    // declared by callers, so the list can't drift from the content. A
    // feature accrues on first use and is carried forward FOREVER (union
    // with the predecessor's): even after the last deletion vector is
    // purged, history still holds masked commits, so a reader must keep
    // understanding them — exactly why Delta makes feature removal a
    // separate history-truncating operation rather than an automatic drop.
    // featuresOverride ([[dropFeature]]) REPLACES the carried-forward set,
    // but the content-implied union below still applies — a drop can never
    // strip a feature the commit being written actually uses
    val features = (featuresOverride.getOrElse(
      prev.fold(Seq.empty[String])(_.features)) ++ Seq(
      "inCommitTimestamps" -> true,
      "deletionVectors" -> dvLines.nonEmpty,
      "columnMapping" -> (colmapLines.nonEmpty || retiredLines.nonEmpty),
      "checkConstraints" -> constraints.nonEmpty,
      "changeDataFeed" -> cdfDir.isDefined,
      "rowTracking" -> propLines.exists(p =>
        p._1 == MergeTable.RowTrackingProp && p._2 == "true"),
      "generatedColumns" -> propLines.exists(_._1 == MergeTable.GeneratedColsProp),
      "identityColumns" -> propLines.exists(_._1 == MergeTable.IdentityColProp),
      "columnDefaults" -> schema.fields.exists(f =>
        f.metadata.contains("CURRENT_DEFAULT") || f.metadata.contains("EXISTS_DEFAULT")),
    ).collect { case (n, true) => n }).distinct.sorted
    // JSON, not toDDL: field METADATA must survive the round-trip —
    // column DEFAULT values (CURRENT_DEFAULT/EXISTS_DEFAULT, what makes
    // the catalog's SUPPORT_COLUMN_DEFAULT_VALUE real) and COMMENTs ride
    // in metadata that DDL strings drop. parseSchema still reads the DDL
    // form, so every pre-existing commit stays readable.
    val content = (s"schema\t${enc(schema.json)}" +:
      (Seq(s"protocol\t${MergeTable.ReaderVersion}",
        s"op\t${enc(op)}", s"ts\t$tsMillis",
        s"opm\t$numAdded\t$numRemoved\t${files.size}") ++
        features.map(f => s"feature\t${enc(f)}") ++
        cdfDir.map(d => s"cdf\t${enc(d)}").toSeq ++
        constraints.map { case (n, p) => s"check\t${enc(n)}\t${enc(p)}" } ++
        ingestReset.map(_ => "ingestreset").toSeq ++
        ingested.map(f => s"ingest\t${enc(f)}") ++
        txns.toSeq.sortBy(_._1).map { case (a, ver) => s"txn\t${enc(a)}\t$ver" } ++
        dvLines.map { case (f, d, n) => s"dv\t${enc(f)}\t${enc(d)}\t$n" } ++
        colmapLines.map { case (lg, ph) => s"colmap\t${enc(lg)}\t${enc(ph)}" } ++
        retiredLines.map(ph => s"retired\t${enc(ph)}") ++
        propLines.map { case (k, vl) => s"prop\t${enc(k)}\t${enc(vl)}" } ++
        manifest))
      .mkString("\n")
    val tmp = logDir.resolve(s"$version.commit.tmp${System.nanoTime()}")
    Files.writeString(tmp, content)
    try Files.createLink(commitPath(version), tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        // the loser's STAGED change feed is invisible to readers but must
        // not leak disk until vacuum
        cdfDir.map(d => Paths.get(root, MergeTable.stagingOf(d)))
          .filter(Files.exists(_)).foreach(deleteRecursively)
        throw new java.util.ConcurrentModificationException(
          s"concurrent write to $root: version $version was already committed by " +
            "another writer — re-read the table and retry the operation")
    } finally Files.deleteIfExists(tmp)
    // the commit is published — expose its change feed with one atomic
    // rename out of the reader-invisible staging tree (see writeChanges).
    // A concurrent changes() reader may have healed (performed this very
    // rename) first — losing that benign race must not fail a durably
    // committed write, so verify the destination before propagating.
    cdfDir.foreach { d =>
      val dst = Paths.get(root, d)
      Files.createDirectories(dst.getParent)
      try Files.move(Paths.get(root, MergeTable.stagingOf(d)), dst,
        StandardCopyOption.ATOMIC_MOVE)
      catch { case e: java.io.IOException => if (!Files.exists(dst)) throw e }
    }
    val t2 = logDir.resolve(s"_LATEST.tmp${System.nanoTime()}")
    Files.write(t2, version.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(t2, latestPath, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    // Delta's delta.compatibility.symlinkFormatManifest.enabled: keep the
    // external-engine manifests in lockstep with every commit. Skipped —
    // never failed — when the snapshot isn't externally readable (dvs /
    // column mapping): the commit is already published, so raising here
    // would report a durable write as failed; a manual generate gives the
    // loud explanation instead.
    if (propLines.exists { case (k, vl) =>
          k == MergeTable.SymlinkManifestProp && vl == "true" } &&
        dvLines.isEmpty && colmapLines.isEmpty && retiredLines.isEmpty)
      generateSymlinkManifest()
  }

  private def listParquet(dir: Path): Seq[String] =
    Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(_.toString).toSeq.sorted

  private def relativize(abs: String): String =
    Paths.get(root).toAbsolutePath.relativize(Paths.get(abs).toAbsolutePath).toString

  private def normalize(fileUri: String): String =
    if (fileUri.startsWith("file:")) Paths.get(java.net.URI.create(fileUri)).toString else fileUri

  private def deleteRecursively(p: Path): Unit = {
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
  }
}

object MergeTable {
  /** Change-feed marker column: `insert` / `update_preimage` /
    * `update_postimage` / `delete` (the Delta CDF vocabulary).
    */
  val ChangeType = "_change_type"

  /** Count of successful driver-side direct writes ([[writeDirectInto]]) —
    * observability for specs asserting the path fires (never read by the
    * engine itself).
    */
  private[graft] val directWrites = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Run `f` on a fresh daemon thread (guide §2.6 — overlap independent
    * Spark jobs so one write's task tail back-fills the other's). A new
    * thread per call (not a shared pool) so Spark's inheritable
    * thread-local job properties are captured from the CALLING thread at
    * the moment of submission; thread creation is microseconds against
    * the hundreds of milliseconds a small write job costs.
    */
  private[graft] def startAsync[T](f: () => T): java.util.concurrent.FutureTask[T] = {
    val task = new java.util.concurrent.FutureTask[T](() => f())
    val th = new Thread(task, "graft-async-write")
    th.setDaemon(true)
    th.start()
    task
  }

  /** Await [[startAsync]]'s result, unwrapping the ExecutionException so
    * callers see the original failure.
    */
  private[graft] def awaitAsync[T](t: java.util.concurrent.FutureTask[T]): T =
    try t.get()
    catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }

  /** A DML's split of its base snapshot: the `touched` files it rewrites
    * (or, for a dv write, masks), the `kept` files it carries forward, and
    * its read set for the lost-race rebase — a test over a race
    * winner's added files, None when the write read the whole table.
    */
  private[lake] final case class TouchedSplit(touched: Seq[String], kept: Seq[String],
                                              readConflict: Option[Seq[String] => Boolean])

  /** A merge source's key rows (`df`, the key columns in key order),
    * collected at most once and at most `cap + 1` of them
    * (`spark.graft.mergeProbeInMax + 1`): the one bounded collect behind
    * both the duplicate-key check and the touched-file probe's key
    * sample. `complete` = every source key row was collected.
    */
  private[lake] final class SourceKeys(val df: DataFrame, val cap: Int) {
    lazy val rows: Array[Row] = df.limit(cap + 1).collect()
    def complete: Boolean = rows.length <= cap
  }

  private[lake] object SourceKeys {
    def apply(spark: SparkSession, df: DataFrame): SourceKeys =
      new SourceKeys(df, spark.conf.get("spark.graft.mergeProbeInMax", "10000").toInt)
  }

  /** A driver-side grouping key for collected rows of `schema` that is
    * equal exactly when Spark's `groupBy` puts two rows in one group, or
    * None when some column's type cannot promise that. NULLs form one
    * group; floats and doubles fold -0.0 into 0.0 and every NaN into one
    * (Spark normalizes both before grouping); strings qualify only under
    * the default binary collation.
    */
  private[lake] def driverGroupKey(schema: StructType): Option[Row => Seq[Any]] = {
    import org.apache.spark.sql.types._
    val norms: Seq[Option[Any => Any]] = schema.fields.toSeq.map(_.dataType match {
      case ByteType | ShortType | IntegerType | LongType | BooleanType |
           DateType | TimestampType => Some(v => v)
      case dt if dt == StringType => Some(v => v) // the UTF8_BINARY collation only
      // floatToIntBits/doubleToLongBits map every NaN to one bit pattern
      case FloatType => Some { v =>
        val f = v.asInstanceOf[Float]
        java.lang.Float.floatToIntBits(if (f == 0.0f) 0.0f else f)
      }
      case DoubleType => Some { v =>
        val d = v.asInstanceOf[Double]
        java.lang.Double.doubleToLongBits(if (d == 0.0d) 0.0d else d)
      }
      case _ => None
    })
    if (norms.exists(_.isEmpty)) None
    else {
      val ns = norms.flatten
      Some(r => ns.indices.map(i => if (r.isNullAt(i)) null else ns(i)(r.get(i))))
    }
  }

  /** One dv write's staged masks: `dvRel` holds every masked position of
    * the `touched` files — this write's and their prior masks — and `cum`
    * counts them per file.
    */
  private[lake] final case class DvMasks(dvRel: String, touched: Seq[String],
                                         cum: Map[String, Long]) {
    /** Bindings for a manifest: touched files bind `dvRel`, every other
      * file keeps its `prior` binding.
      */
    def bind(files: Seq[String],
             prior: Map[String, (String, Long)]): Seq[(String, String, Long)] =
      files.flatMap { f =>
        cum.get(f) match {
          case Some(n) => Some((f, dvRel, n))
          case None    => prior.get(f).map { case (d, n) => (f, d, n) }
        }
      }
  }

  /** One parquet file's footer, read straight from the file's tail: the
    * last 8 bytes (the footer length, little-endian, then the `PAR1`
    * magic), then the footer bytes, decoded by parquet's own metadata
    * converter: two positioned reads of one channel, with no Hadoop
    * `Configuration`, `FileSystem` or `ParquetFileReader` to build per
    * file (~13–28 ms each). None = not a plain parquet footer (an
    * encrypted `PARE` tail, a truncated or non-parquet file) or any read
    * error; callers then fall back as for any unreadable footer. Static:
    * also runs on executors.
    */
  private[lake] def readFooter(path: Path)
      : Option[org.apache.parquet.hadoop.metadata.ParquetMetadata] =
    try {
      import java.nio.{ByteBuffer, ByteOrder}
      val ch = java.nio.channels.FileChannel.open(path)
      try {
        def readAt(pos: Long, n: Int): ByteBuffer = {
          val buf = ByteBuffer.allocate(n)
          while (buf.hasRemaining)
            if (ch.read(buf, pos + buf.position()) < 0) throw new java.io.EOFException(path.toString)
          buf.flip()
          buf
        }
        val size = ch.size()
        // leading magic + footer length + trailing magic
        if (size < 12) None
        else {
          val tail = readAt(size - 8, 8).order(ByteOrder.LITTLE_ENDIAN)
          val len = tail.getInt(0)
          val magic = new String(tail.array, 4, 4, StandardCharsets.US_ASCII)
          if (magic != "PAR1" || len <= 0 || len > size - 12) None
          else Some(new org.apache.parquet.format.converter.ParquetMetadataConverter()
            .readParquetMetadata(
              new java.io.ByteArrayInputStream(readAt(size - 8 - len, len).array),
              org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER))
        }
      } finally ch.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Order two stat strings under the column's type — None = refuse to
    * decide (the pruner then keeps the file). Dates/timestamps parse the
    * exact stringifications their external JVM values produce
    * (`java.sql.Date`/`LocalDate`, `java.sql.Timestamp`/`Instant`/
    * `LocalDateTime`), normalized to epoch numbers before comparing.
    */
  private[lake] def statCmp(dt: org.apache.spark.sql.types.DataType,
                             a: String, b: String): Option[Int] = {
    import org.apache.spark.sql.types._
    dt match {
      // the recorded bounds are Spark min/max extremes, i.e. UTF-8 BINARY
      // order — compare the same way (String.compareTo is UTF-16 code-unit
      // order, which disagrees for supplementary chars vs U+E000–U+FFFF;
      // deciding a skip under the wrong order would be UNSOUND)
      case StringType => Some(
        org.apache.spark.unsafe.types.UTF8String.fromString(a)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)))
      case _ => for (x <- statKey(dt, a); y <- statKey(dt, b)) yield x.compare(y)
    }
  }

  private def statKey(dt: org.apache.spark.sql.types.DataType,
                      s: String): Option[BigDecimal] = {
    import org.apache.spark.sql.types._
    def tsMicros: BigDecimal =
      try {
        val t = java.sql.Timestamp.valueOf(s)
        BigDecimal(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
      } catch {
        case _: IllegalArgumentException =>
          val i = try java.time.Instant.parse(s)
                  catch {
                    case _: java.time.format.DateTimeParseException =>
                      java.time.LocalDateTime.parse(s).toInstant(java.time.ZoneOffset.UTC)
                  }
          BigDecimal(i.getEpochSecond * 1000000L + i.getNano / 1000)
      }
    try dt match {
      case _: NumericType => Some(BigDecimal(s))
      case DateType =>
        val d = try java.time.LocalDate.parse(s)
                catch { case _: java.time.format.DateTimeParseException =>
                  java.sql.Date.valueOf(s).toLocalDate }
        Some(BigDecimal(d.toEpochDay))
      case TimestampType | TimestampNTZType => Some(tsMicros)
      case _ => None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** An `In` list's non-null keys for the driver prune, parsed ONCE under
    * the column type and sorted, so each file's [min, max] costs one
    * binary search instead of a [[statCmp]] parse per key. `admits` answers
    * exactly as the per-key test (`mn <= v <= mx` for any key, under
    * [[statCmp]]): None, i.e. keep the file, when any key or either bound
    * does not parse.
    */
  private[lake] final class InKeys(dt: org.apache.spark.sql.types.DataType, keys: Seq[Any]) {
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    // a string compares as UTF-8 bytes, everything else as its statKey
    private val strings: Option[Array[UTF8String]] =
      if (dt == StringType) Some(keys.map(v => UTF8String.fromString(v.toString)).sorted.toArray)
      else None
    private val numbers: Option[Array[BigDecimal]] = {
      val parsed = if (dt == StringType) Nil else keys.map(v => statKey(dt, v.toString))
      if (parsed.exists(_.isEmpty)) None else Some(parsed.flatten.sorted.toArray)
    }

    def admits(mn: String, mx: String): Option[Boolean] = strings match {
      case Some(ks) => Some(covers(ks, UTF8String.fromString(mn), UTF8String.fromString(mx)))
      case None => for (ks <- numbers; lo <- statKey(dt, mn); hi <- statKey(dt, mx))
        yield covers(ks, lo, hi)
    }

    /** Some key in [lo, hi]: the first key >= lo, by binary search, is <= hi. */
    private def covers[T](ks: Array[T], lo: T, hi: T)(implicit ord: Ordering[T]): Boolean = {
      var l = 0
      var h = ks.length
      while (l < h) {
        val m = (l + h) >>> 1
        if (ord.lt(ks(m), lo)) l = m + 1 else h = m
      }
      l < ks.length && ord.lteq(ks(l), hi)
    }
  }

  /** Total row count from one parquet file's footer ([[readFooter]]) —
    * driver-side metadata read, the direct-write eligibility row bound.
    */
  private[lake] def footerRowCount(root: String, rel: String): Option[Long] =
    readFooter(Paths.get(root, rel)).map(_.getBlocks.asScala.map(_.getRowCount).sum)

  /** Row-tracking id column (Delta row-tracking analog, see the
    * constructor's `rowTracking`): the HIDDEN physical column data files
    * store ids under. Never part of the committed schema — default reads
    * don't see it; [[MergeTable.readWithRowIds]] projects it.
    */
  val RowIdCol = "_graft_row_id"

  /** Commit-carried row-id high-water mark (next id = hwm). */
  val RowIdHwmProp = "graft.rowid.hwm"

  /** Table property pinning row tracking in the log (Delta persists the
    * feature in the protocol for the same reason — see
    * [[MergeTable.rowTrackingEnabled]]).
    */
  val RowTrackingProp = "graft.rowTracking"

  /** Table property pinning the GENERATED ALWAYS AS declarations
    * (`urlenc(name)=urlenc(expr)`, comma-joined) — persisted by the first
    * commit of a declaring handle so bare-path reopens keep deriving.
    */
  val GeneratedColsProp = "graft.generatedCols"

  /** Table property pinning the identity-column declaration
    * (`urlenc(name),start,step`) — the declaration twin of
    * [[IdentityHwmProp]]'s running state.
    */
  val IdentityColProp = "graft.identityCol"

  /** CONVERT TO GRAFT (Delta's `CONVERT TO DELTA parquet.\`path\``):
    * adopt an EXISTING plain-parquet directory — hive-partitioned or flat
    * — as a MergeTable, in place and zero-copy: every data file is
    * HARD-LINKED into a version-0 data directory (O(files) metadata ops,
    * no bytes move; per-file copy fallback off-filesystem) and committed
    * as the initial snapshot. The original loose files stay untouched, so
    * plain-parquet readers of the directory keep working — storage is
    * shared through the links, exactly the cloneTo discipline. From the
    * commit on, the directory is a full MergeTable: MERGE/DELETE/time
    * travel/OPTIMIZE all apply; a 100 TB parquet lake converts without
    * rewriting a byte.
    *
    * Partition columns come from `partitionColsHint` when given, else
    * from the `k=v` directory segments of the first data file; their
    * TYPES (and the schema) come from Spark's own read of the directory,
    * so the committed DDL matches what any parquet reader infers.
    */
  def convertParquet(spark: SparkSession, root: String,
                     partitionColsHint: Seq[String] = Nil): MergeTable = {
    import scala.jdk.CollectionConverters._
    val rootP = Paths.get(root)
    require(Files.isDirectory(rootP), s"CONVERT TO GRAFT: $root is not a directory")
    val srcFiles = Files.walk(rootP).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")
        && !p.getFileName.toString.startsWith("."))
      .map(p => rootP.toAbsolutePath.relativize(p.toAbsolutePath).toString)
      .toSeq.sorted
    require(srcFiles.nonEmpty, s"CONVERT TO GRAFT: no parquet files under $root")
    val pcols =
      if (partitionColsHint.nonEmpty) partitionColsHint
      else srcFiles.head.split('/').dropRight(1).toSeq
        .takeWhile(_.contains('=')).map(_.takeWhile(_ != '='))
    val table = new MergeTable(root, pcols)
    require(!table.exists, s"CONVERT TO GRAFT: $root is already a MergeTable")
    // depth must be exactly the partition dirs + the file: a nested
    // NON-hive subdir would break the manifest-relative dv keying
    // (relPathCol takes partitionCols+2 trailing segments)
    require(srcFiles.forall(_.split('/').length == pcols.size + 1),
      s"CONVERT TO GRAFT: $root mixes directory depths — the layout must be " +
        "flat or uniformly hive-partitioned (k=v directories)")
    val schema = spark.read.parquet(root).schema // partition types inferred
    val missing = pcols.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"CONVERT TO GRAFT: partition column(s) ${missing.mkString(", ")} not found " +
        s"in the directory layout of $root")
    val dataDir = table.newDataDir(0L)
    srcFiles.foreach { rel =>
      val dst = rootP.resolve(dataDir).resolve(rel)
      Files.createDirectories(dst.getParent)
      val srcP = rootP.resolve(rel)
      try Files.createLink(dst, srcP)
      catch { case _: UnsupportedOperationException | _: java.io.IOException
                if !Files.exists(dst) => Files.copy(srcP, dst) }
    }
    table.commit(0L, srcFiles.map(rel => s"$dataDir/$rel"), schema, Nil, op = "CONVERT")
    table
  }

  /** Table property turning the change data feed ON for every SQL DML
    * statement against the table (Delta's `delta.enableChangeDataFeed`):
    * DELETE / UPDATE / MERGE INTO record their CDF rows without each call
    * site opting in. API callers keep the explicit `changeFeed` flag.
    */
  val ChangeFeedProp = "graft.enableChangeDataFeed"

  /** Table property opting MERGE INTO into the dv path (Delta's
    * `delta.enableDeletionVectors` analog): when `true`, the SQL simple
    * upsert routes through [[MergeTable.mergeVectorized]] instead of the
    * rewriting merge (unless row tracking or schema evolution force the
    * rewrite).
    */
  val DeletionVectorsProp = "graft.enableDeletionVectors"

  /** OPTIMIZE's bin-packing budget (Delta's optimize.maxFileSize default):
    * partitions compact to ceil(bytes / this) files.
    */
  val DefaultTargetFileBytes: Long = 1L << 30

  /** Table property enabling optimized writes (Delta's
    * `delta.autoOptimize.optimizeWrite`): appends/overwrites pre-shuffle
    * with an AQE REBALANCE so each partition dir receives
    * advisory-sized files instead of one small file per write task —
    * THE small-files defense at 100 TB ingest rates.
    */
  val OptimizeWriteProp = "graft.autoOptimize.optimizeWrite"

  /** Table property enabling post-append auto-compaction (Delta's
    * `delta.autoOptimize.autoCompact`): after an append commits, any
    * TOUCHED partition holding ≥ [[AutoCompactMinFilesProp]] files is
    * bin-packed in place (untouched partitions are never rewritten).
    */
  val AutoCompactProp = "graft.autoOptimize.autoCompact"

  /** Auto-compact trigger threshold (files per touched partition, or
    * whole-table count when unpartitioned). Delta's
    * `autoCompact.minNumFiles`, default 50.
    */
  val AutoCompactMinFilesProp = "graft.autoCompact.minNumFiles"

  /** Commit-log schema decode: JSON (the current format — preserves field
    * metadata: column DEFAULTs, comments) with a DDL fallback for commits
    * written before the format carried metadata. A JSON schema string
    * always starts with '{', a DDL column list never does, so the branch
    * is unambiguous — no try/catch control flow.
    */
  private[lake] def parseSchema(s: String): StructType =
    if (s.startsWith("{"))
      org.apache.spark.sql.types.DataType.fromJson(s).asInstanceOf[StructType]
    else StructType.fromDDL(s)

  /** Table property recording the partition columns (Delta stores them in
    * the metaData action): lets a handle opened by BARE PATH — the DSv2
    * connector's `spark.read/write.format("graft").load/save(path)` —
    * reconstruct the layout without the caller re-declaring it.
    */
  val PartitionColsProp = "graft.partitionCols"

  /** Open an existing table by path alone, deriving partition columns
    * (and thereby row tracking, which is log-derived) from the commit log:
    * the property when recorded, else a probe of the manifest's directory
    * shapes (pre-property tables). The DSv2 entry point.
    */
  def open(root: String): MergeTable = {
    val probe = new MergeTable(root)
    require(probe.exists, s"MergeTable at $root does not exist")
    val props = probe.properties
    val pcols = props.get(PartitionColsProp) match {
      case Some(s) => s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      case None =>
        // manifest probe: partition dirs are the k=v segments between the
        // data dir and the file name — identical across files by layout
        probe.filesOf(probe.currentVersion).headOption.toSeq.flatMap { f =>
          val segs = f.split('/')
          segs.slice(1, segs.length - 1).toSeq.takeWhile(_.contains('='))
            .map(_.takeWhile(_ != '='))
        }
    }
    def urldec(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")
    // generated / identity declarations restore from the log alongside the
    // layout — a bare-path handle writes exactly like the creating one
    val gens = props.get(GeneratedColsProp).toSeq
      .flatMap(_.split(',')).filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('=')
        urldec(kv.substring(0, i)) -> urldec(kv.substring(i + 1))
      }
    val ident = props.get(IdentityColProp).map { s =>
      val parts = s.split(',')
      (urldec(parts(0)), parts(1).toLong, parts(2).toLong)
    }
    if (pcols.isEmpty && gens.isEmpty && ident.isEmpty) probe
    else new MergeTable(root, pcols, generatedCols = gens, identityCol = ident)
  }

  /** Table property naming the clustering columns (comma-joined) a
    * parameterless OPTIMIZE re-clusters by — the liquid-clustering shape:
    * declared once on the table, honored by every maintenance run.
    */
  val ClusterByProp = "graft.clusterBy"

  /** Table property that keeps [[MergeTable.generateSymlinkManifest]]
    * output in lockstep with every commit (Delta's
    * `delta.compatibility.symlinkFormatManifest.enabled`).
    */
  val SymlinkManifestProp = "graft.compatibility.symlinkFormatManifest.enabled"

  /** Root directory of the generated external-engine manifests. */
  val SymlinkManifestDir = "_symlink_format_manifest"

  /** Log-pinned stats columns (comma-joined, URL-encoded names) — set by
    * the first commit of a `statsCols` constructor and by ANALYZE, or
    * directly via ALTER TABLE SET TBLPROPERTIES.
    */
  val StatsColsProp = "graft.statsCols"

  /** Reserved pseudo-column under which each file's ROW COUNT is recorded
    * as a stat line (Delta's `stats.numRecords`). The colon keeps it out
    * of any legal unquoted column namespace; [[statsDetail]] filters it
    * from the min/max view, [[MergeTable.fileRowCounts]] reads it.
    */
  val CountStatKey = "_graft:count"

  /** The log format version this build reads/writes (Delta's protocol
    * action analog): every commit records it, and [[readCommit]] refuses
    * commits stamped by a future version instead of half-reading them.
    * Bump when a change would make old readers return WRONG results
    * (not merely miss an optimization — optional fields like null counts
    * and sums degrade gracefully and do not bump it).
    */
  val ReaderVersion = 1

  /** Every table feature this build implements (Delta's readerFeatures
    * vocabulary, graft's spellings). [[parseMeta]] rejects any commit
    * naming a feature outside this set — the fine-grained companion of the
    * [[ReaderVersion]] guard: version gates the LINE FORMAT, features gate
    * the SEMANTICS a snapshot depends on (a masked file is silently wrong
    * to read without deletion-vector support; a column-mapped file's
    * physical names misresolve without mapping support).
    */
  val SupportedFeatures: Set[String] = Set(
    "inCommitTimestamps", "deletionVectors", "columnMapping",
    "checkConstraints", "changeDataFeed", "rowTracking",
    "generatedColumns", "identityColumns", "columnDefaults")

  /** (files in the last stream micro-batch, files kept after its `where`
    * pruning) — observability for gates/specs asserting stream-side data
    * skipping engaged; never read by the engine. Companion-level because
    * the streaming source opens its own internal handle.
    */
  @volatile private[graft] var lastStreamPrune: (Long, Long) = (0L, 0L)

  /** Delta's `delta.dataSkippingNumIndexedCols` analog: when set (and no
    * explicit stats columns exist), writes collect min/max for the first
    * N supported columns of the schema.
    */
  val NumIndexedColsProp = "graft.dataSkippingNumIndexedCols"

  /** True when `from → to` is a lossless widening Spark's parquet readers
    * perform at scan time (the Delta type-widening allow-list this engine
    * supports): strictly-wider integrals, float→double, and
    * byte/short/int→double (every int32 value is exact in a double;
    * long→double is NOT — it would silently lose precision past 2^53).
    */
  private[lake] def widens(from: org.apache.spark.sql.types.DataType,
                           to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    val ints = Seq[DataType](ByteType, ShortType, IntegerType, LongType)
    (from, to) match {
      case (f, t) if ints.contains(f) && ints.contains(t) =>
        ints.indexOf(f) < ints.indexOf(t)
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case _ => false
    }
  }

  /** Above this file count, footer stats collection fans out over the
    * cluster (`parallelize(files).map(readFooter)`) instead of a driver
    * loop — 10^6 footers are still metadata, but not DRIVER metadata.
    */
  val FooterDriverMax = 64

  /** One stat line's worth of footer-derived data: `col` is the LOGICAL
    * column (or [[CountStatKey]] with the row count riding mn/mx), bounds
    * already stringified in the scan path's exact external formats.
    */
  private[lake] final case class FooterStat(col: String, mn: String, mx: String,
                                            flag: String, nulls: Option[Long])

  /** Read ONE file's parquet footer ([[readFooter]]) and derive its stat
    * entries. Runs on the driver or inside `parallelize` (static —
    * captures nothing). None = footer unreadable (caller rescans); a
    * column with unusable statistics simply yields no entry (readers keep
    * the file).
    */
  private[lake] def footerStatsOf(root: String, rel: String,
      cols: Seq[(String, String, org.apache.spark.sql.types.DataType)])
      : Option[Seq[FooterStat]] = {
    import org.apache.spark.sql.types._
    readFooter(Paths.get(root, rel)).flatMap { footer =>
      try {
        val blocks = footer.getBlocks.asScala.toSeq
        val rowCount = blocks.map(_.getRowCount).sum
        val countStat = FooterStat(CountStatKey, rowCount.toString,
          rowCount.toString, "V", None)
        val colStats = cols.flatMap { case (logical, physical, dt) =>
          val chunks = blocks.map(_.getColumns.asScala
            .find(_.getPath.toDotString == physical))
          if (chunks.exists(_.isEmpty)) None // column absent in this file: no entry
          else {
            val metas = chunks.map(_.get)
            // INT96 legacy timestamps carry no usable statistics
            if (metas.exists(_.getPrimitiveType.getPrimitiveTypeName ==
                org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT96)) None
            else {
              val stats = metas.map(_.getStatistics)
              if (stats.exists(s => s == null ||
                  (!s.isNumNullsSet && !s.hasNonNullValue)) || rowCount == 0L) None
              else {
                val nulls =
                  if (stats.forall(_.isNumNullsSet)) Some(stats.map(_.getNumNulls).sum)
                  else None
                val hasValues = stats.exists(_.hasNonNullValue)
                if (!hasValues) {
                  // no recorded values: provably all-NULL only when the
                  // null count covers every row
                  if (nulls.contains(rowCount))
                    Some(FooterStat(logical, "", "", "N", nulls))
                  else None
                } else {
                  // a block with values but dropped bounds (oversized
                  // binary, NaN-poisoned floats) makes the merged range
                  // unknowable — no entry
                  if (stats.exists(s => s.hasNonNullValue &&
                      (s.genericGetMin == null || s.genericGetMax == null))) None
                  else {
                    val withVals = stats.filter(_.hasNonNullValue)
                    // an INT64 timestamp counts in its footer's own unit;
                    // Spark's is micros, and any other annotation gives no
                    // entry
                    val toMicros: Option[Long => Long] = {
                      import org.apache.parquet.schema.LogicalTypeAnnotation.{
                        TimeUnit, TimestampLogicalTypeAnnotation}
                      metas.head.getPrimitiveType.getLogicalTypeAnnotation match {
                        case t: TimestampLogicalTypeAnnotation => t.getUnit match {
                          case TimeUnit.MILLIS => Some(Math.multiplyExact(_: Long, 1000L))
                          case TimeUnit.MICROS => Some(identity[Long])
                          case TimeUnit.NANOS  => Some(Math.floorDiv(_: Long, 1000L))
                        }
                        case _ => None
                      }
                    }
                    def ext(v: Any): Option[String] = try {
                      dt match {
                        case ByteType | ShortType | IntegerType =>
                          Some(v.asInstanceOf[Number].intValue.toString)
                        case LongType => Some(v.asInstanceOf[Number].longValue.toString)
                        case FloatType | DoubleType => Some(v.toString)
                        case StringType => Some(v.asInstanceOf[
                          org.apache.parquet.io.api.Binary].toStringUsingUTF8)
                        case DateType => Some(
                          org.apache.spark.sql.catalyst.util.DateTimeUtils
                            .toJavaDate(v.asInstanceOf[Number].intValue).toString)
                        case TimestampType => toMicros.map(micros =>
                          org.apache.spark.sql.catalyst.util.DateTimeUtils
                            .toJavaTimestamp(micros(v.asInstanceOf[Number].longValue)).toString)
                        case _ => None
                      }
                    } catch { case scala.util.control.NonFatal(_) => None }
                    def pick(vals: Seq[Any], takeMin: Boolean): Any = dt match {
                      case StringType =>
                        val bs = vals.map(_.asInstanceOf[org.apache.parquet.io.api.Binary])
                        val ord = Ordering.fromLessThan[
                          org.apache.parquet.io.api.Binary]((a, b) =>
                          org.apache.spark.unsafe.types.UTF8String.fromBytes(a.getBytes)
                            .compareTo(org.apache.spark.unsafe.types.UTF8String
                              .fromBytes(b.getBytes)) < 0)
                        if (takeMin) bs.min(ord) else bs.max(ord)
                      case FloatType =>
                        val ds = vals.map(_.asInstanceOf[java.lang.Float].floatValue)
                        if (takeMin) ds.min else ds.max
                      case DoubleType =>
                        val ds = vals.map(_.asInstanceOf[java.lang.Double].doubleValue)
                        if (takeMin) ds.min else ds.max
                      case DateType | ByteType | ShortType | IntegerType =>
                        val is = vals.map(_.asInstanceOf[Number].intValue)
                        if (takeMin) is.min else is.max
                      case _ =>
                        val ls = vals.map(_.asInstanceOf[Number].longValue)
                        if (takeMin) ls.min else ls.max
                    }
                    for {
                      mn <- ext(pick(withVals.map(_.genericGetMin), takeMin = true))
                      mx <- ext(pick(withVals.map(_.genericGetMax), takeMin = false))
                    } yield FooterStat(logical,
                      if (dt == StringType) truncStatMin(mn) else mn,
                      if (dt == StringType) truncStatMax(mx) else mx,
                      "V", nulls)
                  }
                }
              }
            }
          }
        }
        Some(countStat +: colStats)
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** Stats are collected only for types the pruner can order back from
    * their stringified form — anything else (binary, arrays, structs)
    * would record JVM `toString` garbage that can never prune soundly.
    */
  private[lake] def statsSupported(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: NumericType => true
      case StringType | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
  }

  /** Max stored length of a STRING stat bound (Delta truncates at 32;
    * 64 keeps a little more pruning power at still-negligible log cost).
    */
  private[lake] val StatsMaxLen = 64

  /** Sound lower bound under truncation: a prefix is lexically ≤ every
    * string it prefixes.
    */
  private[lake] def truncStatMin(s: String): String =
    if (s.length <= StatsMaxLen) s else s.take(StatsMaxLen)

  /** Sound upper bound under truncation: bump the last incrementable char
    * of the prefix and drop the tail — strictly greater than every string
    * sharing the prefix. A prefix of all U+FFFF (no bump possible) keeps
    * the full value: correctness over compactness in the pathological
    * case.
    */
  private[lake] def truncStatMax(s: String): String =
    if (s.length <= StatsMaxLen) s
    else {
      val p = s.take(StatsMaxLen)
      // bump only chars whose successor is still a valid non-surrogate BMP
      // scalar: incrementing U+D7FF yields a lone high surrogate ('?' under
      // UTF-8 encoding \u2014 SMALLER than the original, an unsound max), and a
      // surrogate-pair half must never be bumped (its neighbor would be
      // orphaned). Under code-point (= UTF-8 binary) order the bumped
      // prefix stays > every value extending the untouched prefix.
      def bumpable(c: Char): Boolean = c < '\ud7ff' || (c >= '\ue000' && c < '\uffff')
      val i = p.lastIndexWhere(bumpable)
      if (i < 0) s else p.substring(0, i) + (p.charAt(i) + 1).toChar
    }

  /** One whitelisted generated-partition-expression shape: the regex
    * (over the normalized expr text) captures the base column, `monotone`
    * says whether the shape is order-preserving AND null-safe for the
    * base column's type — the precondition for deriving RANGE conjuncts.
    * Equality derivation needs neither: `c = v ⇒ p = E(v)` holds for any
    * deterministic E (and every whitelisted shape is), provided E(v)
    * itself evaluates non-null.
    */
  private final case class GenShape(
      re: scala.util.matching.Regex,
      monotone: org.apache.spark.sql.types.DataType => Boolean)

  private val genShapes: Seq[GenShape] = {
    import org.apache.spark.sql.types._
    val onDate: DataType => Boolean =
      dt => dt == DateType || dt == TimestampType || dt == TimestampNTZType
    val onString: DataType => Boolean = _ == StringType
    val onNumeric: DataType => Boolean = _.isInstanceOf[NumericType]
    val never: DataType => Boolean = _ => false
    Seq(
      GenShape("""^year\((\w+)\)$""".r, onDate),
      GenShape("""^(?:month|day|dayofmonth|hour)\((\w+)\)$""".r, never), // cyclic
      GenShape("""^to_date\((\w+)\)$""".r, onDate),
      GenShape("""^cast\((\w+)asdate\)$""".r, onDate),
      GenShape("""^date_trunc\('(?:year|quarter|month|week|day|hour)',(\w+)\)$""".r, onDate),
      GenShape("""^trunc\((\w+),'(?:year|yyyy|yy|quarter|month|mm|mon|week)'\)$""".r, onDate),
      GenShape("""^date_format\((\w+),'yyyy(?:-mm(?:-dd)?)?'\)$""".r, onDate),
      GenShape("""^substr(?:ing)?\((\w+),1,\d+\)$""".r, onString),
      GenShape("""^floor\((\w+)/\d+(?:\.\d+)?\)$""".r, onNumeric))
  }

  /** Partition conjuncts DERIVED from base-column conjuncts through the
    * table's generated-column definitions (Delta's generated-column
    * partition pruning). Sound by construction:
    *  - equality: `c = v ⇒ p = E(v)` for the deterministic whitelisted
    *    shapes, skipped when E(v) evaluates NULL (those rows live in the
    *    null partition the derived equality would wrongly exclude);
    *  - ranges: only for shapes monotone (and non-null-for-non-null) over
    *    the base column's actual type, and always widened to inclusive
    *    bounds (E need not be injective).
    * E(v) evaluates through Spark itself on a one-row local frame — the
    * exact semantics the write path used to derive the partition values,
    * folded on the driver with no Spark job.
    */
  private[lake] def derivedPartitionConjuncts(
      spark: SparkSession, conjuncts: Seq[sources.Filter],
      gens: Seq[(String, String)],
      types: Map[String, org.apache.spark.sql.types.DataType]): Seq[sources.Filter] = {
    def eval(exprText: String, c: String, v: Any): Option[Any] =
      try {
        val dt = types(c)
        Option(spark.createDataFrame(java.util.List.of(Row()), new StructType())
          .select(lit(v).cast(dt).as(c)).select(expr(exprText).as("r")).head.get(0))
      } catch { case scala.util.control.NonFatal(_) => None }
    gens.flatMap { case (p, exprText) =>
      val t = exprText.toLowerCase.replaceAll("[\\s`]", "")
      genShapes.flatMap { shape =>
        t match {
          case shape.re(c) if types.contains(c) =>
            val monotone = shape.monotone(types(c))
            // a range bound on c derives an inclusive one on p
            def bound(v: Any, mk: (String, Any) => sources.Filter): Seq[sources.Filter] =
              if (v == null || !monotone) Nil else eval(exprText, c, v).map(mk(p, _)).toSeq
            conjuncts.flatMap {
              case sources.EqualTo(`c`, v) if v != null =>
                eval(exprText, c, v).map(r => sources.EqualTo(p, r)).toSeq
              case sources.EqualNullSafe(`c`, v) if v != null =>
                eval(exprText, c, v).map(r => sources.EqualTo(p, r)).toSeq
              case sources.In(`c`, vs) if vs.nonEmpty && vs.forall(_ != null) =>
                val rs = vs.toSeq.map(v => eval(exprText, c, v))
                if (rs.exists(_.isEmpty)) Nil
                else Seq(sources.In(p, rs.flatten.distinct.toArray))
              case sources.GreaterThan(`c`, v) => bound(v, sources.GreaterThanOrEqual)
              case sources.GreaterThanOrEqual(`c`, v) => bound(v, sources.GreaterThanOrEqual)
              case sources.LessThan(`c`, v) => bound(v, sources.LessThanOrEqual)
              case sources.LessThanOrEqual(`c`, v) => bound(v, sources.LessThanOrEqual)
              case _ => Nil
            }
          case _ => Nil
        }
      }
    }
  }

  /** Re-bind every bare reference to column `from` inside the SQL
    * expression `genExpr` to `to` (e.g. a generated-column expression
    * `CAST(pmod(h, 16) AS INT)` rebased onto a merge source alias:
    * h → s.h) by PARSING the expression and transforming its attribute
    * nodes — never string surgery: a word-boundary regex would also
    * rewrite occurrences inside string literals, or column names that
    * merely contain the word. Resolution is the session resolver's
    * (case-insensitive by default), matching how the expression would
    * bind at evaluation time.
    */
  private[graft] def rebindExpr(spark: SparkSession, genExpr: String,
                                from: String, to: String): String = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    val resolver = spark.sessionState.conf.resolver
    spark.sessionState.sqlParser.parseExpression(genExpr).transform {
      case a: UnresolvedAttribute
          if a.nameParts.size == 1 && resolver(a.name, from) =>
        UnresolvedAttribute(to.split('.').toSeq)
    }.sql
  }

  /** Rows whose partition tuple is one of `tuples` (values in `cols`'
    * order, each cast to its column's type, NULL for the default
    * partition): ONE `struct(cols) INSET {...}` at any set size, where an
    * `Or` of per-tuple equalities grows as deep as the set and a literal
    * `IN` list as long. The set orders its structs with NULL fields equal,
    * so a NULL value keeps `IS NULL` semantics. Partition columns only, so
    * it reaches Spark's partition pruning in [[ManifestFileIndex.listFiles]].
    */
  private[graft] def partitionSetPredicate(cols: Seq[(String, org.apache.spark.sql.types.DataType)],
                                           tuples: Seq[Seq[Any]]): Column = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, GenericInternalRow, InSet, Literal}
    val tz = Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    val set: Set[Any] = tuples.map(t => new GenericInternalRow(
      cols.lazyZip(t).map { case ((_, dt), v) => Cast(Literal(v), dt, tz).eval() }.toArray)).toSet
    org.apache.spark.sql.GraftSqlShims.column(InSet(
      org.apache.spark.sql.GraftSqlShims.expression(struct(cols.map(c => col(c._1)): _*)), set))
  }

  /** `predicate` resolved against `schema`: its analyzed filter condition. */
  private[lake] def conditionOf(spark: SparkSession, schema: StructType,
                                predicate: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema).filter(predicate)
      .queryExecution.analyzed.asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Filter]
      .condition

  /** Top-level conjuncts of a pushed-filter array (Spark hands a scan the
    * predicate as an implicitly-ANDed array whose elements may themselves
    * be `And` trees).
    */
  private[graft] def flattenAnd(fs: Seq[sources.Filter]): Seq[sources.Filter] =
    fs.flatMap {
      case sources.And(l, r) => flattenAnd(Seq(l, r))
      case f                 => Seq(f)
    }

  /** `sources.Filter` → `Column` — the ONE translation shared by the
    * filtered reads of [[MergeTable.pruneFilesFor]], the connector's
    * `canDeleteWhere`/`canOverwrite` guards and the writes behind them. Partial on
    * purpose: an untranslatable filter is simply not pushed/pruned — Spark
    * always re-evaluates the full predicate above the scan.
    */
  private[graft] def translateFilter(f: sources.Filter): Option[Column] = f match {
    case sources.EqualTo(a, v)            => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v)        => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v)           => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
    case sources.In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
    case sources.IsNull(a)                => Some(col(a).isNull)
    case sources.IsNotNull(a)             => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, v)   => Some(col(a).startsWith(v))
    case sources.StringEndsWith(a, v)     => Some(col(a).endsWith(v))
    case sources.StringContains(a, v)     => Some(col(a).contains(v))
    case sources.And(l, r) =>
      for (lc <- translateFilter(l); rc <- translateFilter(r)) yield lc && rc
    case sources.Or(l, r) =>
      for (lc <- translateFilter(l); rc <- translateFilter(r)) yield lc || rc
    case sources.Not(c)        => translateFilter(c).map(!_)
    case sources.AlwaysTrue()  => Some(lit(true))
    case sources.AlwaysFalse() => Some(lit(false))
    case _                     => None
  }

  // ---- conditional-clause MERGE (see [[MergeTable.mergeClauses]]) ----

  /** One WHEN clause of Delta's full MERGE surface. `condition` and the
    * assignment/value expressions are SQL strings resolved against the
    * merge's aliased frames: matched clauses see BOTH aliases (default
    * `t`/`s`), NOT-MATCHED inserts see only the source alias, and
    * NOT-MATCHED-BY-SOURCE clauses see only the target alias.
    */
  sealed trait MergeClause { def condition: Option[String] }

  /** `WHEN MATCHED [AND cond] THEN UPDATE SET …` — empty `set` means
    * `UPDATE SET *` (every target column takes the same-named source
    * column, Delta's update-all).
    */
  final case class MatchedUpdate(condition: Option[String] = None,
                                 set: Seq[(String, String)] = Nil) extends MergeClause

  /** `WHEN MATCHED [AND cond] THEN DELETE`. */
  final case class MatchedDelete(condition: Option[String] = None) extends MergeClause

  /** `WHEN NOT MATCHED [AND cond] THEN INSERT …` — empty `values` means
    * `INSERT *` (source columns by name). Columns a clause leaves
    * unspecified insert as NULL, except generated columns, which derive
    * from their expressions.
    */
  final case class NotMatchedInsert(condition: Option[String] = None,
                                    values: Seq[(String, String)] = Nil) extends MergeClause

  /** `WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET …`. */
  final case class BySourceUpdate(condition: Option[String] = None,
                                  set: Seq[(String, String)] = Nil) extends MergeClause

  /** `WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE`. */
  final case class BySourceDelete(condition: Option[String] = None) extends MergeClause

  /** Internal clause-dispatch column used while a [[MergeTable.mergeClauses]]
    * computes which WHEN clause claims each row.
    */
  private[lake] val ActionCol = "_graft_merge_action"

  /** Commit-carried table property holding an identity column's high-water
    * mark (the LAST value assigned). Riding the property channel makes the
    * mark atomic with the data commit, rolled back by RESTORE, and carried
    * by CLONE — exactly the lifecycle Delta gives its identity metadata.
    */
  val IdentityHwmProp = "graft.identity.highWaterMark"

  /** Change-feed commit-version column. */
  val CommitVersion = "_commit_version"

  /** Reader-invisible staging location of a change-feed dir: a SIBLING
    * tree (`cdf_stage/`) that the readers' glob over cdf/ structurally
    * cannot match. NOT a dot-prefixed name inside `cdf/` — Hadoop glob
    * expansion matches hidden names (verified empirically: both batch and
    * streaming reads of the cdf glob ingest `.stage-*` children), and a rename
    * WITHIN the glob scope would make a file stream deliver the same rows
    * twice (new path = new file to the source's seen-files map). A feed
    * parks here until its commit publishes, then one atomic rename moves
    * it into the glob scope — appearing exactly once.
    */
  private[lake] def stagingOf(rel: String): String =
    s"cdf_stage/${rel.stripPrefix("cdf/")}"

  /** Default vacuum in-flight-writer safeguard: an unreferenced directory
    * younger than this is assumed to belong to a writer that has not yet
    * published its commit and is left alone (Delta's VACUUM retention
    * serves the same purpose; 30 min comfortably exceeds any single write
    * attempt here, where Delta's 7-day default targets long cloud jobs).
    */
  val DefaultVacuumMinAgeMs: Long = 30L * 60 * 1000

  /** Full-manifest cadence: every N-th version writes the whole file
    * list even when a delta would be smaller, bounding the base chain an
    * incremental-commit reader must resolve to < N log files (Delta's
    * checkpoint interval, default 10, serves the same role).
    */
  val CheckpointEvery: Long = 10L

  /** Session conf: minimum total written bytes at which the write-path
    * stat collection switches from the single aggregation scan to parquet
    * footer reads (+ a column-pruned sum scan). See [[collectStatsFor]]'s
    * crossover note.
    */
  val FooterStatsMinBytesConf = "spark.graft.footerStatsMinBytes"
  val FooterStatsMinBytesDefault: Long = 256L * 1024 * 1024

  private[graft] def footerStatsMinBytes(spark: SparkSession): Long =
    spark.conf.getOption(FooterStatsMinBytesConf)
      .flatMap(_.toLongOption).getOrElse(FooterStatsMinBytesDefault)

  // ---- deletion vectors ----

  /** Position columns of a deletion-vector sidecar row (and the internal
    * scan-position columns the read path joins them against).
    */
  val DvFileCol = "_graft_dv_file"
  val DvIdxCol = "_graft_dv_idx"

  private[lake] val DvSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField(DvFileCol,
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField(DvIdxCol,
      org.apache.spark.sql.types.LongType)))

  /** Above this many newly-matched rows, [[MergeTable.deleteVectorized]]
    * falls back to the rewriting delete — a mass delete carried as a mask
    * taxes every later scan, while one rewrite amortizes immediately.
    */
  val DefaultMaxDvRows: Long = 4L * 1000 * 1000

  /** Broadcast bound for the read path's dv anti-join: the commit-recorded
    * counts are summed BEFORE planning (driver-side metadata), and a table
    * whose accumulated masks exceed the bound degrades to a shuffled
    * anti-join instead of an unbounded driver broadcast.
    */
  val MaxBroadcastDvRows: Long = 4L * 1000 * 1000
}
