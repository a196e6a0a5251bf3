package graft.lake

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.BasicFileAttributes
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{GraftDatasourceShims, HadoopFsRelation,
  PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import scala.collection.mutable

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
