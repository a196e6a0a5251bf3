package graft.lake

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.filter2.compat.{FilterCompat, RowGroupFilter}
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{DataFrame, GraftSqlShims, SparkSession, sources}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, Expression, Literal,
  XxHash64}
import org.apache.spark.sql.execution.datasources.{GraftDatasourceShims, HadoopFsRelation,
  PartitionDirectory, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.util.sketch.BloomFilter
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** A Spark `FileIndex` over ONE snapshot's file list, taken from the table
  * log instead of a file listing (Delta's `TahoeLogFileIndex` idea, and the
  * shape of Spark's own log-backed `MetadataLogFileIndex`), and graft's one
  * file-skipping engine: every read, probe and kept-file query of a
  * snapshot decides "can this file hold a matching row?" here.
  *
  * `spark.read.parquet(paths)` hands its paths to an `InMemoryFileIndex`,
  * which stats every one of them again — past
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) paths as a
  * Spark job with one task per path — although the log already names every
  * live file. Here each file costs one driver-side `java.nio` stat (length
  * and mtime, no Spark job), and everything else is inherited from Spark's
  * `PartitioningAwareFileIndex`: partition pruning in `listFiles`, file
  * metadata filters, `inputFiles`, `sizeInBytes` and the empty-file rule.
  *
  * Equal, by construction, to a per-data-dir `spark.read.option("basePath",
  * dataDir).parquet(...)` read of the same files:
  *  - `rootPaths` are the file paths qualified the way `DataSource`
  *    qualifies them, in manifest order, so `inputFiles` and `rootPaths`
  *    give the same strings;
  *  - partition values come from Spark's own `PartitioningUtils.
  *    parsePartitions`, run once per data dir with that dir as the only
  *    base path and `userSchema` typing the values (Spark refuses several
  *    base paths in one parse).
  *
  * `listFiles` skips files in four steps, each keeping a file it cannot
  * decide, so a dropped file holds no row satisfying the scan's filters:
  *  1. Spark's partition pruning, plus the partition conjuncts generated
  *     columns derive from data filters ([[MergeTable.derivedPartitionConjuncts]]);
  *  2. the log's stat line per file ([[ManifestFileIndex.Log]]): typed
  *     `[min, max]` ([[MergeTable.statCmp]], [[MergeTable.InKeys]]), the
  *     all-NULL flag and the null count, under logical column names;
  *  3. `bloomidx/<physical col>` sidecars for `=`, `<=>` and `IN`, the
  *     values hashed on the driver by Spark's own `xxhash64`;
  *  4. for a file the log does not decide, the row-group statistics test
  *     the scan task runs, over the predicate that task would build from
  *     the file's own schema. Footers come from a JVM-wide cache keyed by
  *     (path, length, mtime) ([[ManifestFileIndex.cachedFooter]]); a call
  *     reads at most `FooterReadsPerCall` uncached ones and keeps the rest.
  *
  * `files` are root-relative manifest paths (`<dataDir>/[<p>=<v>/...]part-*`);
  * `snapshot` is what the log records about the snapshot of `root` they
  * belong to, and is absent for files no snapshot records yet (a write's own
  * output).
  */
final class ManifestFileIndex(spark: SparkSession, val root: String, files: Seq[String],
                              userSchema: StructType, val snapshot: Option[ManifestFileIndex.Log])
    extends PartitioningAwareFileIndex(spark, Map.empty, Some(userSchema)) {

  // every file sits under `root`, so one file system serves them all
  private val fs = new Path(root).getFileSystem(hadoopConf)

  private def qualify(rel: String): Path =
    new Path(s"$root/$rel").makeQualified(fs.getUri, fs.getWorkingDirectory)

  override val rootPaths: Seq[Path] = files.map(qualify)

  // A status carries its path as the local file system's listing renders
  // it (`file:///abs`, where the qualified root path reads `file:/abs`):
  // the two are equal as Paths, but `inputFiles` shows the listing's string.
  private val statuses: Seq[FileStatus] = {
    val blockSize = fs.getDefaultBlockSize(new Path(root))
    files.lazyZip(rootPaths).map { (rel, path) =>
      val a = Files.readAttributes(Paths.get(root, rel), classOf[BasicFileAttributes])
      new FileStatus(a.size, false, 1, blockSize, a.lastModifiedTime.toMillis,
        fs.makeQualified(new Path(path.toUri.getPath)))
    }
  }

  override protected val leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
    mutable.LinkedHashMap.from(statuses.map(s => s.getPath -> s))

  private lazy val relOf: Map[Path, String] =
    statuses.lazyZip(files).map((s, rel) => s.getPath -> rel).toMap

  override protected val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    statuses.toArray.groupBy(_.getPath.getParent)

  private lazy val spec: PartitionSpec = {
    val byDataDir = files.indices.groupBy(i => files(i).takeWhile(_ != '/')).toSeq.sortBy(_._1)
    val specs = byDataDir.map { case (dataDir, idx) =>
      GraftDatasourceShims.parsePartitions(spark,
        idx.map(i => statuses(i).getPath.getParent).distinct, Set(qualify(dataDir)),
        userSchema, ignoreInvalidPartitionPaths)
    }
    val columns = specs.map(_.partitionColumns).distinct
    require(columns.size <= 1,
      s"data dirs of $root disagree on partition columns: ${columns.mkString(" vs ")}")
    PartitionSpec(columns.headOption.getOrElse(new StructType()), specs.flatMap(_.partitions))
  }

  override def partitionSpec(): PartitionSpec = spec

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    import ManifestFileIndex.{bloomTests, logDecidable}
    // the data conjuncts under the log's logical column names
    val conjuncts = snapshot.fold(Seq.empty[sources.Filter]) { l =>
      MergeTable.flattenAnd(dataFilters.flatMap(e => GraftSqlShims.translateFilter(e.transform {
        case a: AttributeReference => a.withName(l.logicalOf.getOrElse(a.name, a.name))
      })))
    }
    val dirs = super.listFiles(partitionFilters ++ derivedPartitionFilters(conjuncts), dataFilters)
    val pushed = if (dataFilters.isEmpty) Nil
      else GraftDatasourceShims.parquetPushedFilters(spark, dataFilters)
    val logTests = snapshot.fold(Seq.empty[String => Option[Boolean]])(l =>
      logDecidable(l, conjuncts).map(logTest(l, _)))
    val blooms = snapshot.fold(Seq.empty[String => Boolean])(bloomTests(spark, root, _, conjuncts))
    if (logTests.isEmpty && blooms.isEmpty && pushed.isEmpty) dirs
    else {
      val footerAdmits = if (pushed.isEmpty) None else Some(rowGroupsMayMatch(pushed))
      val logCoversAll = logTests.nonEmpty && logTests.size == conjuncts.size
      def keep(status: FileStatus): Boolean = {
        val rel = relOf(status.getPath)
        val decided = logTests.map(_(rel))
        !decided.contains(Some(false)) && blooms.forall(_(rel)) && footerAdmits.forall(ok =>
          (logCoversAll && decided.forall(_.isDefined)) || ok(status))
      }
      dirs.map(d => d.copy(files = d.files.filter(f => keep(f.fileStatus))))
    }
  }

  /** The manifest paths `listFiles` keeps for these filters, in manifest
    * order: what a scan planned with them would read.
    */
  def keptFiles(partitionFilters: Seq[Expression], dataFilters: Seq[Expression]): Seq[String] = {
    val kept = listFiles(partitionFilters, dataFilters).flatMap(_.files.map(_.getPath)).toSet
    statuses.lazyZip(files).collect { case (s, rel) if kept(s.getPath) => rel }.toSeq
  }

  /** Step 1's extra partition conjunct: what generated partition columns
    * derive from `conjuncts`, resolved against the partition schema.
    */
  private def derivedPartitionFilters(conjuncts: Seq[sources.Filter]): Seq[Expression] =
    snapshot.filter(_.generated.nonEmpty).toSeq.flatMap { l =>
      MergeTable.derivedPartitionConjuncts(spark, conjuncts, l.generated, l.types)
        .flatMap(MergeTable.translateFilter).reduceOption(_ && _).flatMap(p =>
          try Some(MergeTable.conditionOf(spark, partitionSchema, p))
          catch { case NonFatal(_) => None })
    }

  /** Step 2 for one conjunct: per file, whether its log entry proves that
    * some row may satisfy `c` (Some(true)) or that none can (Some(false)),
    * None when the log cannot decide (no stats, no type, an unparsable
    * stat string, a legacy `?` line whose empty bound is ambiguous, or a
    * shape it does not test). All-NULL files (flag `N`) fail every
    * null-rejecting predicate. An `In` parses and sorts its keys once.
    */
  private def logTest(l: ManifestFileIndex.Log, c: sources.Filter): String => Option[Boolean] = {
    import MergeTable.statCmp
    def entry(f: String, a: String): Option[(String, String, Char)] =
      l.stats.get(f).flatMap(_.get(a)).filter(e => e._3 != '?' || (e._1.nonEmpty && e._2.nonEmpty))
    def range(f: String, a: String)(
        check: (String, String, DataType) => Option[Boolean]): Option[Boolean] =
      entry(f, a).flatMap {
        case (_, _, 'N') => Some(false)
        case (mn, mx, _) => l.types.get(a).flatMap(dt => check(mn, mx, dt))
      }
    def point(a: String, v: Any): String => Option[Boolean] =
      f => range(f, a)((mn, mx, dt) =>
        for (lo <- statCmp(dt, mn, v.toString); hi <- statCmp(dt, v.toString, mx))
          yield lo <= 0 && hi <= 0)
    c match {
      case sources.EqualTo(a, v) if v != null => point(a, v)
      case sources.EqualNullSafe(a, v) if v != null => point(a, v)
      case sources.In(a, vs) =>
        val nn = vs.filter(_ != null).toSeq
        val keys = l.types.get(a).map(new MergeTable.InKeys(_, nn))
        f => if (nn.isEmpty) Some(false)
          else range(f, a)((mn, mx, _) => keys.flatMap(_.admits(mn, mx)))
      case sources.GreaterThan(a, v) if v != null =>
        f => range(f, a)((_, mx, dt) => statCmp(dt, v.toString, mx).map(_ < 0))
      case sources.GreaterThanOrEqual(a, v) if v != null =>
        f => range(f, a)((_, mx, dt) => statCmp(dt, v.toString, mx).map(_ <= 0))
      case sources.LessThan(a, v) if v != null =>
        f => range(f, a)((mn, _, dt) => statCmp(dt, mn, v.toString).map(_ < 0))
      case sources.LessThanOrEqual(a, v) if v != null =>
        f => range(f, a)((mn, _, dt) => statCmp(dt, mn, v.toString).map(_ <= 0))
      case sources.IsNotNull(a) => f => entry(f, a).map(_._3 != 'N')
      case sources.IsNull(a) => f => l.nulls.get((f, a)).map(_ > 0L) // a zero count proves none
      case _ => _ => None
    }
  }

  /** False only for a file whose footer proves that no row group can
    * satisfy `filters`, as `RowGroupFilter` decides at the statistics
    * level over the predicate the scan task would build for that file.
    * Unreadable footers, files past this call's read budget and any
    * failure keep the file.
    */
  private def rowGroupsMayMatch(filters: Seq[sources.Filter]): FileStatus => Boolean = {
    import ManifestFileIndex._
    val predicates = mutable.HashMap.empty[(MessageType, Map[String, String]),
      Option[FilterCompat.Filter]]
    var budget = FooterReadsPerCall
    status => {
      val key = FooterKey(status.getPath.toString, status.getLen, status.getModificationTime)
      val footer = cachedFooter(key).orElse {
        if (budget <= 0) None
        else { budget -= 1; Some(loadFooter(key, Paths.get(root, relOf(status.getPath)))) }
      }
      footer.flatten.forall { f =>
        try {
          val predicate = predicates.getOrElseUpdate((f.schema, f.meta),
            GraftDatasourceShims.parquetPredicate(spark, f.schema, f.meta.getOrElse(_, null),
              filters).map(FilterCompat.get))
          predicate.forall(p => !RowGroupFilter.filterRowGroups(p, f.blocks, f.schema).isEmpty)
        } catch { case NonFatal(_) => true }
      }
    }
  }

  /** The snapshot is immutable: there is nothing to re-list. */
  override def refresh(): Unit = ()

  // InMemoryFileIndex's identity (the cache manager matches relations by it)
  override def equals(other: Any): Boolean = other match {
    case m: ManifestFileIndex => rootPaths.toSet == m.rootPaths.toSet
    case _ => false
  }

  override def hashCode(): Int = rootPaths.toSet.hashCode()
}

object ManifestFileIndex {

  /** What the table log records about one snapshot's files, for skipping
    * and metadata answers: its version, logical column types, the logical →
    * physical name map (non-identity entries), the statted columns, the
    * generated partition columns and, parsed on first use, the per-file stat
    * entries and null counts.
    */
  final class Log(val version: Long, val types: Map[String, DataType], val physicalOf: Map[String, String],
                  val statted: Set[String], val generated: Seq[(String, String)],
                  stats0: => Map[String, Map[String, (String, String, Char)]],
                  nulls0: => Map[(String, String), Long]) {
    val logicalOf: Map[String, String] = physicalOf.map(_.swap)
    lazy val stats: Map[String, Map[String, (String, String, Char)]] = stats0
    lazy val nulls: Map[(String, String), Long] = nulls0
  }

  /** The conjuncts (logical names) step 2 tests: a conjunct on a column
    * without stat lines cannot be decided by the log, so an unstatted
    * snapshot parses no stats; `IN` over only NULLs is never TRUE.
    */
  private def logDecidable(l: Log, conjuncts: Seq[sources.Filter]): Seq[sources.Filter] =
    conjuncts.filter {
      case sources.In(_, vs) if vs.forall(_ == null) => true
      case c => c.references.forall(l.statted)
    }

  /** The file in a `bloomidx/<physical col>` dir naming its column's type. */
  private[lake] val BloomTypeFile = "_type.json"

  /** The type `root`'s Bloom index on the physical column `physical` was
    * built under; None without a readable [[BloomTypeFile]] (no index, or
    * a dir an earlier release keyed by logical name, which a rename can
    * leave naming another column's data).
    */
  private[lake] def bloomIndexType(root: String, physical: String): Option[DataType] =
    try Some(DataType.fromJson(Files.readString(
      Paths.get(root, "bloomidx", physical, BloomTypeFile))))
    catch { case NonFatal(_) => None }

  /** Step 3: one test per `=`, `<=>` or `IN` conjunct (logical names) on a
    * column whose physical name has a Bloom index built under the type
    * this snapshot gives the column. Sidecars are keyed by physical name,
    * which a rename keeps and no later column reuses, so they describe the
    * same data at every version. The values are hashed as
    * [[MergeTable.buildBloomIndex]] hashed the column, with no Spark job. A
    * file without a readable sidecar keeps.
    */
  private def bloomTests(spark: SparkSession, root: String, l: Log,
                         conjuncts: Seq[sources.Filter]): Seq[String => Boolean] = {
    val lookups = conjuncts.collect {
      case sources.EqualTo(a, v) if v != null => a -> Seq(v)
      case sources.EqualNullSafe(a, v) if v != null => a -> Seq(v)
      case sources.In(a, vs) if vs.exists(_ != null) => a -> vs.toSeq.filter(_ != null)
    }
    if (lookups.isEmpty || !Files.isDirectory(Paths.get(root, "bloomidx"))) Nil
    else {
      val tz = Some(spark.conf.get("spark.sql.session.timeZone"))
      lookups.flatMap { case (a, vs) =>
        val phys = l.physicalOf.getOrElse(a, a)
        val hashes = l.types.get(a).filter(bloomIndexType(root, phys).contains).flatMap { dt =>
          try Some(vs.map(v => new XxHash64(Seq(Cast(Literal(v), dt, tz)))
            .eval().asInstanceOf[Long]).toArray)
          catch { case NonFatal(_) => None }
        }
        hashes.map { hs => (rel: String) =>
          try {
            val in = Files.newInputStream(Paths.get(root, "bloomidx", phys,
              java.net.URLEncoder.encode(rel, StandardCharsets.UTF_8) + ".bloom"))
            try {
              val bloom = BloomFilter.readFrom(in)
              hs.exists(bloom.mightContainLong)
            } finally in.close()
          } catch { case NonFatal(_) => true }
        }
      }
    }
  }

  /** False when only the footer step could drop a file for `conjuncts`
    * (logical names) in snapshot `l` of `root`.
    */
  private[lake] def mayDecide(spark: SparkSession, root: String, l: Log,
                              partitionCols: Seq[String],
                              conjuncts: Seq[sources.Filter]): Boolean =
    l.generated.nonEmpty ||
      conjuncts.exists(c => c.references.nonEmpty && c.references.forall(partitionCols.contains)) ||
      logDecidable(l, conjuncts).nonEmpty || bloomTests(spark, root, l, conjuncts).nonEmpty

  /** A file's footer-cache identity: a rewritten file never reuses its
    * (length, mtime), so an entry cannot outlive the bytes it describes.
    */
  private final case class FooterKey(path: String, length: Long, mtime: Long)

  /** What the planning-time row-group test needs of one footer: the file
    * schema, the key-value metadata the datetime rebase spec reads (Spark's
    * row-schema JSON left out), and the row groups with their statistics.
    */
  private final class Footer(val schema: MessageType, val meta: Map[String, String],
                             val blocks: java.util.List[BlockMetaData])

  /** Uncached footer reads per `listFiles` call; files past it are kept.
    * At ~35 µs per tail read (4 cores), 8,192 footers cost ~0.3 s, as much
    * as a Spark job over the same files: the crossover of the two footer
    * stats paths ([[MergeTable.FooterDriverMax]]).
    */
  private val FooterReadsPerCall = 8192

  /** Cached footers, least recently used evicted first. */
  private val FooterCacheMax = 16384

  // Every DML and read opens a fresh handle, so the cache is JVM-wide.
  // None caches an unreadable footer (the file is kept).
  private val footers = new java.util.LinkedHashMap[FooterKey, Option[Footer]](256, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[FooterKey, Option[Footer]]): Boolean =
      size > FooterCacheMax
  }

  /** Footers read from disk by the planning-time skip, for tests. */
  private[lake] val footerReads = new AtomicLong

  private def cachedFooter(key: FooterKey): Option[Option[Footer]] =
    footers.synchronized(Option(footers.get(key)))

  private def loadFooter(key: FooterKey, file: java.nio.file.Path): Option[Footer] = {
    footerReads.incrementAndGet()
    val footer = MergeTable.readFooter(file).map { m =>
      val fm = m.getFileMetaData
      new Footer(fm.getSchema,
        fm.getKeyValueMetaData.asScala.toMap - "org.apache.spark.sql.parquet.row.metadata",
        m.getBlocks)
    }
    footers.synchronized(footers.put(key, footer))
    footer
  }

  /** The snapshot subset `files` as ONE parquet relation, exactly as
    * `DataSource.resolveRelation` builds it for `spark.read.schema(s)
    * .parquet(...)`: partition columns as the index parsed them, the
    * remaining `schema` columns (nullable) as the data schema.
    */
  def read(spark: SparkSession, root: String, files: Seq[String],
           schema: StructType, log: Option[Log]): DataFrame = {
    val index = new ManifestFileIndex(spark, root, files, schema, log)
    val partitionSchema = index.partitionSchema
    val same = GraftDatasourceShims.nameEquality(spark)
    val dataSchema = StructType(schema.filterNot(f =>
      partitionSchema.exists(p => same(p.name, f.name))))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partitionSchema,
      GraftDatasourceShims.asNullable(dataSchema), None, new ParquetFileFormat,
      Map.empty)(spark))
  }
}
