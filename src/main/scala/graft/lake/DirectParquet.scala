package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.types.StructType

/** Driver-side parquet writing of SMALL row sets through Spark's own
  * `ParquetWriteSupport` — the exact record layout `DataFrameWriter`
  * produces (same logical-type annotations, same timestamp encoding, same
  * compression), minus the entire distributed write machinery: no write
  * job, no AQE rebalance stage, no output committer setup/commit, no
  * `_temporary` rename dance. A maintained-state micro-batch commit is a
  * few thousand rows; the fixed cost of a Spark write job (~hundreds of
  * ms) dwarfs encoding them on the driver (guide §1.2 — remove whole jobs
  * before tuning what is left). Callers are responsible for bounding the
  * row count BEFORE collecting (MergeTable gates on probe-bounded sources
  * plus touched-file bytes, then a hard row cap at collect time).
  */
private[lake] object DirectParquet {

  private final class RowBuilder(path: org.apache.hadoop.fs.Path)
    extends ParquetWriter.Builder[InternalRow, RowBuilder](path) {
    override def self(): RowBuilder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }

  /** Hadoop conf carrying everything `ParquetWriteSupport.init` asserts
    * on, mirrored from the live session exactly the way
    * `ParquetFileFormat.prepareWrite` seeds the task conf (write schema,
    * legacy-format flag, output timestamp type, field ids, rebase modes).
    * `spark.conf.get` resolves registered defaults, so unset keys still
    * yield the session-effective value.
    */
  def prepare(spark: SparkSession, fileSchema: StructType): Configuration = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    ParquetWriteSupport.setSchema(fileSchema, conf)
    // each key falls back to its Spark-4.1 default when the session yields
    // nothing usable (an optional entry's missing default stringifies as
    // "null" through RuntimeConfig — seen on the variant-annotation key)
    Seq("spark.sql.parquet.writeLegacyFormat" -> "false",
        "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
        "spark.sql.parquet.fieldId.write.enabled" -> "true",
        "spark.sql.parquet.variant.annotateLogicalType.enabled" -> "false",
        "spark.sql.parquet.ignoreVariantAnnotation" -> "false",
        "spark.sql.parquet.datetimeRebaseModeInWrite" -> "EXCEPTION",
        "spark.sql.parquet.int96RebaseModeInWrite" -> "EXCEPTION",
        "spark.sql.legacy.parquet.nanosAsLong" -> "false")
      .foreach { case (k, d) =>
        val v = try spark.conf.get(k, d) catch { case _: Exception => d }
        conf.set(k, if (v == null || v == "null") d else v)
      }
    conf
  }

  /** The session's parquet codec, as the parquet-hadoop enum plus the
    * Spark-style file-name infix (`part-...c000<infix>.parquet`).
    */
  def codecOf(spark: SparkSession): (CompressionCodecName, String) =
    spark.conf.get("spark.sql.parquet.compression.codec", "snappy")
      .toLowerCase(java.util.Locale.ROOT) match {
      case "uncompressed" | "none" => (CompressionCodecName.UNCOMPRESSED, "")
      case "gzip" => (CompressionCodecName.GZIP, ".gz")
      case "lz4" => (CompressionCodecName.LZ4, ".lz4")
      case "zstd" => (CompressionCodecName.ZSTD, ".zstd")
      case "brotli" => (CompressionCodecName.BROTLI, ".br")
      case "lzo" => (CompressionCodecName.LZO, ".lzo")
      case _ => (CompressionCodecName.SNAPPY, ".snappy")
    }

  /** Write `rows` as ONE parquet file at `path`. Each row's first
    * `fileSchema.length` fields must match the write schema; trailing
    * fields — e.g. stringified partition values used for grouping — are
    * stripped by `proj`, an `UnsafeProjection` over the file schema
    * (`ParquetWriteSupport.writeFields` walks the ROW's arity, so extra
    * fields must not reach it). The caller builds `proj` once per write
    * and passes it to every file: its codegen costs ~2 ms.
    */
  def writeFile(conf: Configuration, codec: CompressionCodecName,
                proj: UnsafeProjection,
                rows: Iterator[InternalRow], path: java.nio.file.Path): Unit = {
    val writer = Timing.time("writeData.direct.build")(
      new RowBuilder(new org.apache.hadoop.fs.Path(path.toString))
        .withConf(conf)
        .withCompressionCodec(codec)
        .build())
    // the projection's output buffer is reused row to row — safe, the
    // write support consumes each record before the next is produced
    try Timing.time("writeData.direct.rows")(
      rows.foreach(r => writer.write(proj(r))))
    finally Timing.time("writeData.direct.close")(writer.close())
  }
}
