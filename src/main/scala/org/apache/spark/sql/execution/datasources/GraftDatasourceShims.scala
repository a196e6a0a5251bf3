package org.apache.spark.sql.execution.datasources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** The `private[datasources]` / `private[spark]` calls a file index built
  * from a table log needs to resolve partitions and schemas EXACTLY as
  * `spark.read.parquet` does — the same reason [[org.apache.spark.sql.GraftSqlShims]]
  * exists one package up. Nothing else from the private surface is touched.
  */
object GraftDatasourceShims {

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
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf
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
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf.resolver

  /** `StructType.asNullable` — `DataSource.resolveRelation` relaxes every
    * file data schema this way before building its relation.
    */
  def asNullable(schema: StructType): StructType = schema.asNullable
}
