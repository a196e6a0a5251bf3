package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.GraftDatasourceShims
import org.apache.spark.sql.functions.{lit, raise_error, when}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, Filter, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.lake.MergeTable

/** `format("graft")` — the connector call-shape the reference uses for its
  * Delta tables (`spark.read.format("delta").load(path)` at
  * glue_jobs/02_gold_analytics.py:33, `df.write.format("delta")` at
  * glue_jobs/01_silver_delta_upsert.py:115-121), over [[MergeTable]].
  *
  * Architecture = Delta's own: a DataSource V2 [[TableProvider]] whose
  * table is resolved, for batch reads, to the plan [[MergeTable]] itself
  * builds — the [[GraftReadResolution]] optimizer rule replaces the V2
  * relation, on every execution, with `readVersion` at the pinned version
  * (the current one when none is pinned) or `changes` for the change feed:
  * one Parquet relation over the snapshot's
  * [[graft.lake.ManifestFileIndex]] with the column-mapping projection and
  * the deletion-vector anti-join above it, as Delta's `DeltaAnalysis` turns
  * `DeltaTableV2` into a `LogicalRelation`. Column pruning, filter pushdown,
  * file skipping and columnar batches are then Spark's own, and aggregates
  * the log can answer become a local relation
  * ([[graft.lake.MetadataOnlyAggregate]]). Writes stay on the V2 table
  * ([[V1Write]]).
  *
  * Registered under the short name `graft` via the standard
  * `DataSourceRegister` service file, so `format("graft")` resolves with
  * zero session configuration. Batch READS need the rule, so the session
  * must install `spark.sql.extensions=graft.functions.GraftExtensions`
  * (`Sessions.builder` does); without it a read fails with an error naming
  * that setting. Writes and streams need no extension. Also implements the V1
  * [[CreatableRelationProvider]] — Spark routes `ErrorIfExists`/`Ignore`
  * path saves (and `partitionBy` writes, which path-based V2 tables reject)
  * through the V1 API, Delta's arrangement too.
  *
  * Partition layout on first write resolves, in order: explicit
  * `partitionBy(...)` (V1 route), a `partitionCols` option
  * (comma-separated), else unpartitioned; on an EXISTING table the layout
  * always comes from the commit log ([[MergeTable.open]]) — a write can
  * never silently re-layout a table.
  */
final class GraftDataSource extends TableProvider with DataSourceRegister
    with CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with org.apache.spark.sql.sources.StreamSourceProvider {

  override def shortName(): String = "graft"

  /** `readStream.format("graft")` — Delta's streaming-source call-shape:
    * the current snapshot as the first micro-batch, then every later
    * commit's APPENDED files incrementally (offsets are table versions,
    * so restarts resume exactly). Rewrites/deletes in the offset range
    * fail loudly — append-only is the contract, Delta's too; updates
    * stream through the change feed ([[graft.lake.MergeTable.changesStream]])
    * or `option("ignoreChanges", true)`.
    */
  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    val table = MergeTable.open(parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "readStream.format(\"graft\") requires .option(\"path\", <table root>)")))
    val base = schema.getOrElse(table.schemaOf(table.currentVersion))
    val s =
      if (parameters.get("readChangeFeed").exists(_.toBoolean))
        base.add(MergeTable.ChangeType, org.apache.spark.sql.types.StringType)
          .add(MergeTable.CommitVersion, org.apache.spark.sql.types.LongType)
      else base
    (shortName(), s)
  }

  override def createSource(ctx: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val path = parameters.getOrElse("path", throw new IllegalArgumentException(
      "readStream.format(\"graft\") requires .option(\"path\", <table root>)"))
    // Delta's startingVersion: begin the tail AT that version (no initial
    // snapshot); "latest" = only commits after stream start.
    // startingTimestamp (Delta's twin): the first commit published AT or
    // AFTER the instant; earlier than the first commit = everything.
    val startFrom = parameters.get("startingVersion") match {
      case Some(v) if v.equalsIgnoreCase("latest") => MergeTable.open(path).currentVersion
      case Some(v)                                 => v.toLong - 1
      case None =>
        parameters.get("startingTimestamp").map { ts =>
          val t = MergeTable.open(path)
          val ms = graft.sqlapi.LakeSql.parseTsMillis(ts)
          try {
            val v = t.versionAt(ms)
            if (t.commitTimeMillis(v) >= ms) v - 1 else v
          } catch { case _: IllegalArgumentException => -1L } // before first commit
        }.getOrElse(-1L)
    }
    val maxFiles = parameters.get("maxFilesPerTrigger")
      .orElse(parameters.get("maxfilespertrigger")).map(_.toInt)
    val maxBytes = parameters.get("maxBytesPerTrigger")
      .orElse(parameters.get("maxbytespertrigger")).map(_.toLong)
    if (parameters.get("readChangeFeed").exists(_.toBoolean))
      new GraftCdfStreamSource(ctx.sparkSession, path, startFrom,
        maxFilesPerTrigger = maxFiles)
    else new GraftStreamSource(ctx.sparkSession, path,
      ignoreChanges = parameters.get("ignoreChanges").exists(_.toBoolean),
      startFrom = startFrom,
      maxFilesPerTrigger = maxFiles, maxBytesPerTrigger = maxBytes,
      where = parameters.get("where").orElse(parameters.get("WHERE")))
  }

  /** `writeStream.format("graft")` — Delta's streaming-sink call-shape.
    * Exactly-once by construction: every micro-batch commits with a
    * `(appId, batchId)` txn marker atomic with the data (the same
    * mechanism the foreachBatch recipes in StreamQueries use), so a
    * restarted query re-offering a committed batch is a no-op. Options:
    * `keys` (comma-separated) switches the per-batch write from append to
    * MERGE upsert; `txnAppId` overrides the exactly-once ledger id
    * (defaults to one derived from the checkpoint's queryId at runtime is
    * not available here, so the sink falls back to the table path —
    * override when two independent queries feed one table).
    */
  override def createSink(ctx: SQLContext, parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val root = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "writeStream.format(\"graft\") requires .option(\"path\", <table root>)"))
    val keys = parameters.get("keys").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    val pcols =
      if (partitionColumns.nonEmpty) partitionColumns
      else parameters.get("partitionCols").toSeq
        .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    val appId = parameters.getOrElse("txnAppId", s"graft-sink-$root")
    new GraftStreamSink(root, pcols, keys, appId,
      complete = outputMode == org.apache.spark.sql.streaming.OutputMode.Complete())
  }

  override def supportsExternalMetadata(): Boolean = false

  private def pathOf(options: java.util.Map[String, String]): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "format(\"graft\") requires a path: .load(<table root>) / .save(<table root>)")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val root = pathOf(options)
    val probe = new MergeTable(root)
    if (!probe.exists) new StructType() // write bootstrap: schema arrives with the data
    else new GraftTable(root, Nil, new StructType(), options.asScala.toMap)
      .resolvedSchema // honors versionAsOf / timestampAsOf / readChangeFeed
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val root = pathOf(properties)
    val declared = partitioning.toSeq
      .flatMap(t => t.references().headOption.map(_.fieldNames().mkString(".")))
    val optioned = Option(properties.get("partitionCols")).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    new GraftTable(root, if (declared.nonEmpty) declared else optioned, schema,
      properties.asScala.toMap).asV2
  }

  // ---- V1 route (ErrorIfExists/Ignore saves, partitionBy writes) ----

  override def createRelation(ctx: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val root = parameters.getOrElse("path",
      throw new IllegalArgumentException("format(\"graft\") requires a path"))
    // reader-only options must never silently target a write (a
    // versionAsOf append would write to the CURRENT version regardless)
    val readerOnly = Seq("versionasof", "timestampasof", "readchangefeed")
      .filter(k => parameters.keys.exists(_.equalsIgnoreCase(k)))
    require(readerOnly.isEmpty,
      s"cannot write to $root with reader option(s) ${readerOnly.mkString(", ")} — " +
        "time travel and the change feed are read-side features")
    val probe = new MergeTable(root)
    val exists = probe.exists
    // partitionBy lands V1 writes here with the columns in this option
    // (Spark's path for sources that also implement TableProvider);
    // honor an explicit partitionCols option the same way
    val pcols = parameters.get("__partition_columns")
      .map(GraftDataSource.parseJsonStringArray)
      .orElse(parameters.get("partitionCols")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq))
      .getOrElse(Nil)
    val table =
      if (exists) MergeTable.open(root)
      else new MergeTable(root, pcols)
    // Delta's idempotent-writer options (txnAppId + txnVersion): an
    // already-applied version is a NO-OP, and an applied write records
    // the marker atomically with its commit — restart-safe batch jobs
    // with zero external state
    val txn = for (a <- parameters.get("txnAppId"); v <- parameters.get("txnVersion"))
      yield a -> v.toLong
    val alreadyApplied = txn.exists { case (a, ver) =>
      exists && table.lastTxnVersion(a).exists(_ >= ver)
    }
    if (!alreadyApplied) mode match {
      case SaveMode.Overwrite                 => table.overwrite(data, txn)
      case SaveMode.Append                    =>
        table.append(GraftWriteBuilder.notNullChecked(table, data), txn)
      case SaveMode.ErrorIfExists if exists   =>
        throw new IllegalArgumentException(
          s"a graft table already exists at $root (SaveMode.ErrorIfExists)")
      case SaveMode.ErrorIfExists             => table.overwrite(data, txn)
      case SaveMode.Ignore if exists          => () // no-op by contract
      case SaveMode.Ignore                    => table.overwrite(data, txn)
    }
    // Spark only reads the returned relation's schema
    val written = GraftDatasourceShims.asNullable(table.schemaOf(table.currentVersion))
    new BaseRelation {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = written
    }
  }
}

object GraftDataSource {

  /** `["a","b"]` — the JSON shape Spark serializes `partitionBy` columns
    * into for V1 path writes. Minimal parse, loud on anything else.
    */
  private[sources] def parseJsonStringArray(s: String): Seq[String] = {
    val t = s.trim
    require(t.startsWith("[") && t.endsWith("]"),
      s"expected a JSON string array of partition columns, got: $s")
    t.substring(1, t.length - 1).split(",").map(_.trim)
      .filter(_.nonEmpty).map(_.stripPrefix("\"").stripSuffix("\"")).toSeq
  }

}

/** The V2 [[Table]] over one MergeTable root: batch reads resolve to the
  * MergeTable plan of the pinned snapshot or change feed
  * ([[GraftReadResolution]]); append/truncate/overwrite writes and deletes
  * run through the commit protocol. `ACCEPT_ANY_SCHEMA` delegates
  * write-schema validation to MergeTable's own append/overwrite checks
  * (extra columns fail loudly, alignment is by name) — necessary because a
  * bootstrap write targets a table whose schema does not exist yet.
  */
final class GraftTable(root: String, declaredParts: Seq[String],
                       declaredSchema: StructType,
                       options: Map[String, String] = Map.empty) {
  private val opts = options.map { case (k, v) => k.toLowerCase -> v }

  private def handle: MergeTable = {
    val probe = new MergeTable(root)
    if (probe.exists) MergeTable.open(root) else new MergeTable(root, declaredParts)
  }

  /** The snapshot version the reader options pin — `versionAsOf` /
    * `timestampAsOf` (Delta's reader-option time travel) — or the version
    * current at this call, so each execution of an unpinned read sees the
    * latest commit. CDF mode (`readChangeFeed`) reads the commit range
    * `startingVersion..endingVersion` of the feed instead.
    */
  private def pinnedVersion(t: MergeTable): Long =
    opts.get("versionasof").map(_.toLong)
      .orElse(opts.get("timestampasof")
        .map(ts => t.versionAt(graft.sqlapi.LakeSql.parseTsMillis(ts))))
      .getOrElse(t.currentVersion)

  private def cdfMode: Boolean = opts.get("readchangefeed").exists(_.toBoolean)

  /** What a batch read of the table is: the pinned snapshot's read, or the
    * change feed.
    */
  private[sources] def baseFrame(spark: SparkSession): DataFrame = {
    val t = MergeTable.open(root)
    if (cdfMode) {
      // Delta's CDF range options: version bounds directly, or timestamp
      // bounds resolved against the commit clock (start = first commit AT
      // or AFTER the instant, end = last commit AT or BEFORE it)
      def tsVer(ts: String): Long =
        t.versionAt(graft.sqlapi.LakeSql.parseTsMillis(ts))
      val from = opts.get("startingversion").map(_.toLong)
        .orElse(opts.get("startingtimestamp").map { s =>
          try {
            val v = tsVer(s)
            if (t.commitTimeMillis(v) >= graft.sqlapi.LakeSql.parseTsMillis(s)) v
            else v + 1
          } catch { case _: IllegalArgumentException => 0L }
        })
        .getOrElse(0L)
      val to = opts.get("endingversion").map(_.toLong)
        .orElse(opts.get("endingtimestamp").map(tsVer))
        .getOrElse(t.currentVersion)
      t.changes(spark, from, to)
    }
    else t.readVersion(spark, pinnedVersion(t))
  }

  /** The schema the read reports: the snapshot's, nullable as
    * `readVersion` reports it (writes enforce the commit schema's NOT NULL
    * columns themselves, see [[GraftWriteBuilder]]), or the feed's own.
    */
  private[sources] def resolvedSchema: StructType = {
    val probe = new MergeTable(root)
    if (!probe.exists) declaredSchema
    else if (cdfMode)
      // feed frames carry the user columns plus the CDF markers; resolve
      // the exact shape from the feed itself (metadata-sized analysis)
      baseFrame(SparkSession.active).schema
    else GraftDatasourceShims.asNullable(probe.schemaOf(pinnedVersion(probe)))
  }

  private[sources] def asV2: Table = new Table
      with SupportsRead with SupportsWrite with GraftV2Marker
      with org.apache.spark.sql.connector.catalog.SupportsDelete {

    override def graftRoot: String = root

    override def readFrame(spark: SparkSession): DataFrame = baseFrame(spark)

    override def name(): String = s"graft.`$root`"

    /** `DELETE FROM <catalog table> WHERE p` / `TRUNCATE TABLE` (Spark
      * plans the latter as a delete-all through [[truncateTable]]'s
      * default). Only fully-translatable predicates are accepted —
      * Spark then fails loudly instead of silently deleting the wrong
      * rows. Routing mirrors the SQL DML surface: the
      * `graft.enableDeletionVectors` property masks instead of
      * rewriting, `graft.enableChangeDataFeed` records change rows.
      */
    override def canDeleteWhere(filters: Array[Filter]): Boolean =
      !cdfMode && opts.get("versionasof").isEmpty &&
        opts.get("timestampasof").isEmpty &&
        filters.forall(f => MergeTable.translateFilter(f).isDefined)

    override def deleteWhere(filters: Array[Filter]): Unit = {
      val spark = SparkSession.active
      val t = MergeTable.open(root)
      val pred = filters.flatMap(MergeTable.translateFilter(_))
        .reduceOption(_ && _).getOrElse(lit(true))
      val cdf = t.properties.get(MergeTable.ChangeFeedProp).contains("true")
      val dv = t.properties.get(MergeTable.DeletionVectorsProp).contains("true") &&
        !t.rowTrackingEnabled
      if (dv) t.deleteVectorized(spark, pred, cdf)
      else t.delete(spark, pred, cdf)
    }

    override def schema(): StructType = resolvedSchema

    // surfaced so native DESCRIBE TABLE EXTENDED / catalog inspection
    // sees the persisted table properties (Delta does the same)
    override def properties(): util.Map[String, String] = {
      val probe = new MergeTable(root)
      if (!probe.exists) java.util.Collections.emptyMap()
      else probe.properties.asJava
    }

    override def partitioning(): Array[Transform] =
      handle.partitionCols.map(Expressions.identity).toArray

    override def capabilities(): util.Set[TableCapability] = {
      val caps = util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
        TableCapability.OVERWRITE_BY_FILTER)
      // ACCEPT_ANY_SCHEMA only while the table has no schema yet (write
      // bootstrap): once one exists, Spark's own by-name/position output
      // resolution must run — it is what gives INSERT ... VALUES its
      // column names and implicit casts. Advertising it unconditionally
      // would hand every insert raw col1/col2/... names.
      if (!new MergeTable(root).exists) caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
      caps
    }

    // reads never plan this scan when GraftReadResolution is installed: it
    // replaces them first. DELETE FROM plans its target as a scan it never
    // runs (filters go to deleteWhere), so the scan has a schema and no batch
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      () => new Scan {
        override def readSchema(): StructType = schema()
        override def toBatch(): org.apache.spark.sql.connector.read.Batch =
          throw new UnsupportedOperationException(s"reading graft table $root needs the " +
            "graft read rule: start the session with " +
            "spark.sql.extensions=graft.functions.GraftExtensions")
      }

    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
      require(!cdfMode && opts.get("versionasof").isEmpty &&
          opts.get("timestampasof").isEmpty,
        s"cannot write to $root through a time-travel/change-feed read option")
      val wopts = opts ++ info.options.asScala.map { case (k, v) => k.toLowerCase -> v }
      val txn = for (a <- wopts.get("txnappid"); v <- wopts.get("txnversion"))
        yield a -> v.toLong
      new GraftWriteBuilder(handle, txn)
    }
  }
}

/** The streaming source behind `readStream.format("graft")`: offsets are
  * COMMIT VERSIONS (no bespoke bookkeeping — the table's own log is the
  * offset space, Delta's reservoir-version design), each batch is the
  * files added in the offset range read under the range-end schema, and
  * the initial batch is the full snapshot. Per-batch work is
  * O(new files), never a table rescan, which is what makes a 100 TB
  * table streamable: the tail costs only what each commit appended.
  */
final class GraftStreamSource(spark: org.apache.spark.sql.SparkSession,
                              root: String, ignoreChanges: Boolean,
                              startFrom: Long = -1L,
                              maxFilesPerTrigger: Option[Int] = None,
                              maxBytesPerTrigger: Option[Long] = None,
                              where: Option[String] = None)
    extends org.apache.spark.sql.execution.streaming.Source
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxFiles}
  import org.apache.spark.sql.execution.streaming.Offset
  import org.apache.spark.sql.execution.streaming.runtime.LongOffset

  private val table = MergeTable.open(root)

  override val schema: StructType = table.schemaOf(table.currentVersion)

  /** `option("where", <predicate>)` — a graft extension: the predicate is
    * applied to every batch's ROWS (semantic filter) and its translatable
    * conjuncts prune every batch's FILES through the table's data-skipping
    * machinery before any read. A tail consumer of one partition of a
    * firehose table pays for that partition's files, not the firehose.
    * Derived once at query start against the start schema.
    */
  private val whereFilters: Seq[org.apache.spark.sql.sources.Filter] =
    where.map(w => table.eligibleFilters(spark, table.currentVersion, w))
      .getOrElse(Nil)

  /** High-water mark of offsets the engine has consumed — advanced by
    * every getBatch and by commit (which MicroBatchExecution also replays
    * for recovered offsets on restart), so the rate-limit walk below
    * never re-counts versions an earlier trigger already took.
    */
  @volatile private var lastEnd: Long = startFrom

  /** `Trigger.AvailableNow` drain target: the tip CAPTURED at query start
    * (`prepareForTriggerAvailableNow`, the FileStreamSource shape). Each
    * batch advances toward it under the rate limit and never beyond —
    * commits landing mid-drain wait for the next scheduled run — so the
    * query terminates by itself once the captured backlog is consumed.
    */
  @volatile private var availableNowTip: Long = -1L

  private def versionOf(o: org.apache.spark.sql.connector.read.streaming.Offset): Long =
    o match {
      case LongOffset(v) => v
      case other         => other.json().trim.toLong // SerializedOffset replay
    }

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTip = table.currentVersion

  override def getDefaultReadLimit: ReadLimit = {
    val limits = maxFilesPerTrigger.map(ReadLimit.maxFiles).toSeq ++
      maxBytesPerTrigger.map(ReadLimit.maxBytes).toSeq
    limits match {
      case Seq()  => ReadLimit.allAvailable()
      case Seq(l) => l
      case ls     => ReadLimit.compositeLimit(ls.toArray)
    }
  }

  /** Delta's `maxFilesPerTrigger` / `maxBytesPerTrigger`: cap each
    * micro-batch at the largest version range whose ADDED file count and
    * bytes stay within the limits (always at least one version, or a
    * single commit could never be consumed). The walk reads per-commit
    * metadata only — O(versions) commit-line parses plus size probes of
    * the walked versions' new files, no manifest scans. Without a limit:
    * the tip, one batch per trigger covering everything new.
    */
  override def latestOffset(start: org.apache.spark.sql.connector.read.streaming.Offset,
                            limit: ReadLimit): org.apache.spark.sql.connector.read.streaming.Offset = {
    val from = Option(start).map(versionOf).getOrElse(lastEnd)
    val tip =
      if (availableNowTip >= 0) math.min(availableNowTip, table.currentVersion)
      else table.currentVersion
    def caps(l: ReadLimit): (Option[Long], Option[Long]) = l match {
      case f: ReadMaxFiles     => (Some(f.maxFiles().toLong), None)
      case b: ReadMaxBytes     => (None, Some(b.maxBytes()))
      case c: CompositeReadLimit =>
        c.getReadLimits.map(caps).reduce { (a, b) =>
          (Seq(a._1, b._1).flatten.minOption, Seq(a._2, b._2).flatten.minOption)
        }
      case _: ReadAllAvailable => (None, None)
      case _                   => (None, None)
    }
    val (fileCap, byteCap) = caps(limit)
    val end =
      if (fileCap.isEmpty && byteCap.isEmpty) tip
      else {
        var v = from
        var nf = 0L
        var nb = 0L
        var fits = true
        while (v < tip && fits) {
          val df = table.addedFilesCount(v + 1)
          val db = if (byteCap.isDefined) table.addedBytes(v + 1) else 0L
          fits = (nf == 0L && nb == 0L) ||
            (fileCap.forall(nf + df <= _) && byteCap.forall(nb + db <= _))
          if (fits) { nf += df; nb += db; v += 1 }
        }
        v
      }
    LongOffset(end)
  }

  override def reportLatestOffset(): org.apache.spark.sql.connector.read.streaming.Offset =
    LongOffset(table.currentVersion)

  /** Superseded by [[latestOffset]] (admission control) — the engine never
    * calls getOffset on a SupportsAdmissionControl source; kept as its
    * unlimited equivalent for direct callers.
    */
  override def getOffset: Option[Offset] =
    Some(LongOffset(versionOf(latestOffset(null, ReadLimit.allAvailable()))))

  override def commit(end: Offset): Unit =
    lastEnd = math.max(lastEnd, versionOf(end))

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    lastEnd = math.max(lastEnd, versionOf(end))
    val batch0 = table.addedBetween(spark,
      start.map(versionOf).getOrElse(startFrom), versionOf(end), ignoreChanges,
      pruneWith = whereFilters)
    val batch = where.fold(batch0)(w =>
      batch0.filter(org.apache.spark.sql.functions.expr(w)))
    // MicroBatchExecution asserts the returned plan carries the streaming
    // flag — rewrap the batch plan's rows (lazy; nothing executes here)
    org.apache.spark.sql.GraftSqlShims.streamingDataFrame(
      spark, batch.queryExecution.toRdd, batch.schema)
  }

  override def stop(): Unit = ()

  override def toString: String = s"GraftStreamSource[$root]"
}

/** The streaming CDF source (`readStream.format("graft")
  * .option("readChangeFeed", true)` — Delta's streaming CDF shape):
  * offsets are commit versions, each batch is the change rows the offset
  * range's commits recorded, stamped with their commit version.
  * Feed-less commits (metadata, non-CDF writes) contribute nothing;
  * per-batch cost is O(changed rows), never a snapshot diff.
  */
final class GraftCdfStreamSource(spark: org.apache.spark.sql.SparkSession,
                                 root: String, startFrom: Long,
                                 maxFilesPerTrigger: Option[Int] = None)
    extends org.apache.spark.sql.execution.streaming.Source
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxFiles}
  import org.apache.spark.sql.execution.streaming.Offset
  import org.apache.spark.sql.execution.streaming.runtime.LongOffset

  private val table = MergeTable.open(root)

  // the LATEST snapshot's columns plus the CDF markers — early feed files
  // null-fill columns a later schema evolution added (parquet projection)
  override val schema: StructType = {
    var s = table.schemaOf(table.currentVersion)
    s = s.add(MergeTable.ChangeType, org.apache.spark.sql.types.StringType)
    s.add(MergeTable.CommitVersion, org.apache.spark.sql.types.LongType)
  }

  private def versionOf(o: org.apache.spark.sql.connector.read.streaming.Offset): Long =
    o match {
      case LongOffset(v) => v
      case other         => other.json().trim.toLong
    }

  @volatile private var lastEnd: Long = startFrom
  @volatile private var availableNowTip: Long = -1L

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTip = table.currentVersion

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  /** Rate limit in FEED files ([[MergeTable.cdfFootprint]]) — the CDF
    * twin of the snapshot source's walk: the batch covers the largest
    * commit range whose change-feed file count fits (at least one commit
    * per batch), and `Trigger.AvailableNow` clamps at the tip captured at
    * query start so the drain self-terminates.
    */
  override def latestOffset(start: org.apache.spark.sql.connector.read.streaming.Offset,
                            limit: ReadLimit): org.apache.spark.sql.connector.read.streaming.Offset = {
    val from = Option(start).map(versionOf).getOrElse(lastEnd)
    val tip =
      if (availableNowTip >= 0) math.min(availableNowTip, table.currentVersion)
      else table.currentVersion
    val end = limit match {
      case f: ReadMaxFiles =>
        val cap = f.maxFiles().toLong
        var v = from
        var n = 0L
        var fits = true
        while (v < tip && fits) {
          val df = table.cdfFootprint(v + 1)._1
          fits = n == 0L || n + df <= cap
          if (fits) { n += df; v += 1 }
        }
        v
      case _ => tip
    }
    LongOffset(end)
  }

  override def reportLatestOffset(): org.apache.spark.sql.connector.read.streaming.Offset =
    LongOffset(table.currentVersion)

  override def commit(end: Offset): Unit =
    lastEnd = math.max(lastEnd, versionOf(end))

  override def getOffset: Option[Offset] = Some(LongOffset(table.currentVersion))

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    lastEnd = math.max(lastEnd, versionOf(end))
    val from = start.map(versionOf).getOrElse(startFrom)
    // an empty anchor of the source schema pins column order and
    // null-fills pre-evolution feed files
    val anchor = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val batch = table.changesWithVersion(spark, from + 1, versionOf(end))
      .map(df => anchor.unionByName(df, allowMissingColumns = true))
      .getOrElse(anchor)
    org.apache.spark.sql.GraftSqlShims.streamingDataFrame(
      spark, batch.queryExecution.toRdd, batch.schema)
  }

  override def stop(): Unit = ()

  override def toString: String = s"GraftCdfStreamSource[$root]"
}

/** The streaming sink behind `writeStream.format("graft")`: one
  * MergeTable commit per micro-batch, carrying the `(appId, batchId)`
  * txn marker ATOMICALLY with the data — replayed batches (restart from
  * checkpoint, speculative re-offer) are detected by the ledger and
  * skipped, Delta's idempotent-sink contract. `keys` nonEmpty upserts
  * (late/duplicate events fold in by key); empty appends; Complete mode
  * overwrites the table with each batch (aggregate results).
  *
  * The incoming frame is detached through its rdd before writing —
  * Sink.addBatch hands over a plan wired to the incremental execution,
  * which MergeTable's multi-action writes (probe + write) must not
  * re-trigger.
  */
final class GraftStreamSink(root: String, pcols: Seq[String], keys: Seq[String],
                            appId: String, complete: Boolean)
    extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val probe = new MergeTable(root)
    val table = if (probe.exists) MergeTable.open(root) else new MergeTable(root, pcols)
    if (table.exists && table.lastTxnVersion(appId).exists(_ >= batchId)) return
    val spark = data.sparkSession
    // the handed-over frame is wired to the INCREMENTAL execution (its
    // logical plan still carries the streaming flag, so .rdd refuses);
    // detach by deserializing the already-planned physical rows — stays
    // fully distributed, and MergeTable's multi-action writes (probe +
    // rewrite) re-evaluate the detached plan, not the stream
    import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
    val enc = ExpressionEncoder(RowEncoder.encoderFor(data.schema)).resolveAndBind()
    val rows = data.queryExecution.toRdd.mapPartitions { it =>
      val de = enc.createDeserializer()
      it.map(r => de(r.copy()))
    }
    val batch = spark.createDataFrame(rows, data.schema)
    if (complete) table.overwrite(batch, txn = Some(appId -> batchId))
    else if (keys.nonEmpty)
      table.merge(spark, batch, keys, txn = Some(appId -> batchId))
    else table.append(batch, txn = Some(appId -> batchId))
  }

  override def toString: String = s"GraftStreamSink[$root]"
}

/** Marks the V2 table as graft's, with enough state for the analyzer
  * rules ([[GraftReadResolution]], [[GraftWriteRewrites]]) to reach the
  * MergeTable underneath — the pattern Delta uses to claim plan nodes.
  */
trait GraftV2Marker {
  def graftRoot: String

  /** What a batch read of the table resolves to. */
  def readFrame(spark: SparkSession): DataFrame
}

/** Append by default; `truncate()` (Spark's overwrite-mode hook for
  * path-based saves) swaps the commit to a full overwrite; an
  * `overwrite(filters)` — `INSERT OVERWRITE t PARTITION (p = v)` in
  * static mode, `df.writeTo(t).overwrite(cond)` — runs
  * [[MergeTable.overwriteWhere]]: the matching slice is deleted and the
  * new rows land in ONE atomic commit. All paths run the standard
  * MergeTable writes: identity/generated columns, CHECK constraints,
  * row-id assignment, and the atomic `_LATEST` publish apply exactly as
  * API writes. Columns the commit schema declares NOT NULL are checked
  * here, in the write itself: the table reports every column nullable, so
  * Spark adds no null assertion of its own.
  */
final class GraftWriteBuilder(table: MergeTable,
                              txn: Option[(String, Long)] = None)
    extends WriteBuilder with SupportsTruncate
    with org.apache.spark.sql.connector.write.SupportsOverwrite {

  private var overwriteAll = false
  private var overwriteFilters: Array[Filter] = Array.empty

  override def truncate(): WriteBuilder = { overwriteAll = true; this }

  override def canOverwrite(filters: Array[Filter]): Boolean =
    filters.forall(f => MergeTable.translateFilter(f).isDefined)

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.isEmpty || filters.forall(_ == sources.AlwaysTrue()))
      overwriteAll = true
    else overwriteFilters = filters
    this
  }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data0: DataFrame, legacyOverwrite: Boolean): Unit = {
          // Delta's idempotent-writer options: an already-applied
          // (txnAppId, txnVersion) is a NO-OP; otherwise the marker
          // commits atomically with the data
          if (txn.exists { case (a, ver) =>
                table.exists && table.lastTxnVersion(a).exists(_ >= ver) }) return
          val data = GraftWriteBuilder.notNullChecked(table, data0)
          if (overwriteFilters.nonEmpty) {
            require(txn.isEmpty,
              "txnAppId/txnVersion are not supported on filtered overwrites — " +
                "use append/overwrite, or the API's replaceWhere")
            val pred = overwriteFilters.flatMap(MergeTable.translateFilter(_))
              .reduce(_ && _) // canOverwrite vouched every filter translates
            table.overwriteWhere(data.sparkSession, pred, data)
          }
          else if (overwriteAll || legacyOverwrite) table.overwrite(data, txn)
          else table.append(data, txn)
        }
      }
  }
}

object GraftWriteBuilder {

  /** `data` with a per-row check on every column `table`'s current commit
    * schema declares NOT NULL: a NULL there fails the write. Fused into
    * the write's own plan, never a second scan.
    */
  private[sources] def notNullChecked(table: MergeTable, data: DataFrame): DataFrame = {
    val required =
      if (!table.exists) Set.empty[String]
      else table.schemaOf(table.currentVersion).fields.filterNot(_.nullable).map(_.name).toSet
    if (!data.columns.exists(required)) data
    else data.select(data.columns.toSeq.map { c =>
      val v = data.col(s"`${c.replace("`", "``")}`")
      if (!required(c)) v
      else when(v.isNull, raise_error(lit(s"NOT NULL constraint violated: column $c is NULL")))
        .otherwise(v).as(c)
    }: _*)
  }
}
