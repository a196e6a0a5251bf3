package graft.lake

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.filter2.compat.{FilterCompat, RowGroupFilter}
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{DataFrame, SparkSession, sources}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{GraftDatasourceShims, HadoopFsRelation,
  PartitionDirectory, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A Spark `FileIndex` over ONE snapshot's file list, taken from the table
  * log instead of a file listing (Delta's `TahoeLogFileIndex` idea, and the
  * shape of Spark's own log-backed `MetadataLogFileIndex`).
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
  * `listFiles` also skips files by their parquet footers: after Spark's
  * partition pruning it drops every file in which no row group can satisfy
  * the scan's pushed data filters. That is the statistics-level row-group
  * test the scan task runs on each file, moved to planning time, so a
  * dropped file is one whose task would have read zero rows, and results
  * are unchanged by construction: the predicate is built per file from its
  * own schema (a file lacking a column, or an INT32 file under a widened
  * long column, gets the filter the task would build, or none and keeps),
  * the relation is over physical names (column mapping), and the deletion
  * vector anti-join above keys on positions inside each kept file. Footers
  * come from a JVM-wide cache keyed by (path, length, mtime)
  * ([[ManifestFileIndex.cachedFooter]]); a call reads at most
  * `FooterReadsPerCall` uncached ones and keeps the files past it.
  *
  * `files` are root-relative manifest paths (`<dataDir>/[<p>=<v>/...]part-*`).
  */
final class ManifestFileIndex(spark: SparkSession, root: String, files: Seq[String],
                              userSchema: StructType)
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

  private lazy val localPaths: Map[Path, java.nio.file.Path] =
    statuses.lazyZip(files).map((s, rel) => s.getPath -> Paths.get(root, rel)).toMap

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
    val dirs = super.listFiles(partitionFilters, dataFilters)
    val pushed =
      if (dataFilters.isEmpty) Nil
      else GraftDatasourceShims.parquetPushedFilters(spark, dataFilters)
    if (pushed.isEmpty) dirs
    else {
      val mayMatch = rowGroupsMayMatch(pushed)
      dirs.map(d => d.copy(files = d.files.filter(f => mayMatch(f.fileStatus))))
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
        else { budget -= 1; Some(loadFooter(key, localPaths(status.getPath))) }
      }
      footer.flatten.forall { f =>
        try {
          val predicate = predicates.getOrElseUpdate((f.schema, f.meta),
            GraftDatasourceShims.parquetPredicate(spark, f.schema, f.meta.getOrElse(_, null),
              filters).map(FilterCompat.get))
          predicate.forall(p => !RowGroupFilter.filterRowGroups(p, f.blocks, f.schema).isEmpty)
        } catch { case scala.util.control.NonFatal(_) => true }
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
           schema: StructType): DataFrame = {
    val index = new ManifestFileIndex(spark, root, files, schema)
    val partitionSchema = index.partitionSchema
    val same = GraftDatasourceShims.nameEquality(spark)
    val dataSchema = StructType(schema.filterNot(f =>
      partitionSchema.exists(p => same(p.name, f.name))))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partitionSchema,
      GraftDatasourceShims.asNullable(dataSchema), None, new ParquetFileFormat,
      Map.empty)(spark))
  }
}
