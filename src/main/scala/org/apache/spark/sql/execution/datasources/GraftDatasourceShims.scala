package org.apache.spark.sql.execution.datasources

import java.util.Locale
import org.apache.hadoop.fs.Path
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{SparkSession, sources}
import org.apache.spark.sql.catalyst.expressions.{Expression, FileSourceConstantMetadataAttribute}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFilters,
  ParquetOptions}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.Utils

/** The `private[datasources]` / `private[spark]` calls a file index built
  * from a table log needs to resolve partitions and schemas EXACTLY as
  * `spark.read.parquet` does — the same reason [[org.apache.spark.sql.GraftSqlShims]]
  * exists one package up, and the two steps of a parquet scan's row-group
  * filter (which filters the scan pushes, and the predicate each file gets).
  * Nothing else from the private surface is touched.
  */
object GraftDatasourceShims {

  private def conf(spark: SparkSession): SQLConf =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf

  /** Spark's own partition-directory parsing (`PartitioningAwareFileIndex.
    * inferPartitioning` calls the same function with the same session
    * settings): hive-style `p=v` segments below one of `basePaths`, typed by
    * `userSchema`, `__HIVE_DEFAULT_PARTITION__` → NULL, escaped names
    * unescaped. All `leafDirs` must sit below ONE base path (Spark rejects
    * "conflicting directory structures" otherwise).
    */
  def parsePartitions(spark: SparkSession, leafDirs: Seq[Path], basePaths: Set[Path],
                      userSchema: StructType,
                      ignoreInvalidPartitionPaths: Boolean): PartitionSpec = {
    val conf = this.conf(spark)
    PartitioningUtils.parsePartitions(
      leafDirs,
      typeInference = conf.partitionColumnTypeInferenceEnabled,
      basePaths = basePaths,
      userSpecifiedSchema = Some(userSchema),
      caseSensitive = conf.caseSensitiveAnalysis,
      validatePartitionColumns = conf.validatePartitionColumns,
      timeZoneId = conf.sessionLocalTimeZone,
      ignoreInvalidPartitionPaths = ignoreInvalidPartitionPaths)
  }

  /** The session's column-name resolver (case sensitivity as configured). */
  def nameEquality(spark: SparkSession): (String, String) => Boolean =
    conf(spark).resolver

  /** `StructType.asNullable` — `DataSource.resolveRelation` relaxes every
    * file data schema this way before building its relation.
    */
  def asNullable(schema: StructType): StructType = schema.asNullable

  /** The filters a parquet `FileSourceScanExec` hands its reader
    * (`pushedDownFilters`), from the same `dataFilters` the scan passes
    * its file index, translated as the scan translates them: constant
    * file-metadata filters left out, nested columns as the session's
    * nested-pushdown source list allows. Empty when
    * `spark.sql.parquet.filterPushdown` is off, as the reader then pushes
    * nothing.
    */
  def parquetPushedFilters(spark: SparkSession,
                           dataFilters: Seq[Expression]): Seq[sources.Filter] = {
    val c = conf(spark)
    if (!c.parquetFilterPushDown) Nil
    else {
      val nested = Utils.stringToSeq(c.getConf(SQLConf.NESTED_PREDICATE_PUSHDOWN_FILE_SOURCE_LIST)
        .toLowerCase(Locale.ROOT)).contains(new ParquetFileFormat().shortName())
      dataFilters.filterNot(_.references.exists {
        case FileSourceConstantMetadataAttribute(_) => true
        case _ => false
      }).flatMap(DataSourceStrategy.translateFilter(_, nested))
    }
  }

  /** The row-group predicate `ParquetFileFormat.buildReaderWithPartitionValues`
    * builds for one file: `ParquetFilters` over the file's own schema and
    * datetime rebase spec (from its key-value metadata, `null` when a key
    * is absent), with the session's pushdown settings. None = no filter
    * converts, so the reader keeps every row group.
    */
  def parquetPredicate(spark: SparkSession, fileSchema: MessageType,
                       keyValueMeta: String => String,
                       filters: Seq[sources.Filter]): Option[FilterPredicate] = {
    val c = conf(spark)
    val rebase = DataSourceUtils.datetimeRebaseSpec(keyValueMeta,
      new ParquetOptions(Map.empty[String, String], c).datetimeRebaseModeInRead)
    val pf = new ParquetFilters(fileSchema, c.parquetFilterPushDownDate,
      c.parquetFilterPushDownTimestamp, c.parquetFilterPushDownDecimal,
      c.parquetFilterPushDownStringPredicate, c.parquetFilterPushDownInFilterThreshold,
      c.caseSensitiveAnalysis, rebase)
    filters.flatMap(pf.createFilter(_)).reduceOption(FilterApi.and)
  }
}
