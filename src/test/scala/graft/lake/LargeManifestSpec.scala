package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources

/** Log-level pruning on a table of more than 1,024 files with stats on
  * the key: a prune runs on the driver over the resolved manifest at any
  * file count, so it starts no Spark job and reads no footer, and a merge
  * at the `mergeProbeInMax` key cap prunes through the same file index.
  */
class LargeManifestSpec extends SparkSpec {
  import spark.implicits._

  private val FileCount = 1040
  private val RowsPerFile = 10

  /** `FileCount` files of `RowsPerFile` consecutive keys each, 16 files per
    * partition: file i holds k in [i * 10, i * 10 + 9].
    */
  private lazy val table: MergeTable = {
    val t = new MergeTable(scratch("large_manifest"), Seq("p"), statsCols = Seq("k"))
    // one input partition per file: range() splits its ids evenly
    t.overwrite(spark.range(0, FileCount * RowsPerFile, 1, FileCount).select(
      col("id").as("k"),
      concat(lit("v"), col("id").cast("string")).as("v"),
      (col("id") / (16 * RowsPerFile)).cast("int").as("p")))
    assert(t.filesOf(t.currentVersion).size === FileCount)
    t
  }

  private def keysIn(t: MergeTable, files: Seq[String]): Set[Long] =
    t.readVersionFiles(spark, t.currentVersion, files).select("k").as[Long].collect().toSet

  test("a point and a range conjunct on the key prune with no Spark job") {
    val t = table
    val v = t.currentVersion
    val footers = ManifestFileIndex.footerReads.get
    val (pointJobs, point) = jobCount(
      t.pruneFilesFor(spark, v, Seq(sources.EqualTo("k", 5005L))))
    assert(pointJobs === 0)
    assert(point.size === 1)
    assert(keysIn(t, point) === (5000L to 5009L).toSet)
    val (rangeJobs, range) = jobCount(t.pruneFilesFor(spark, v,
      Seq(sources.GreaterThanOrEqual("k", 5005L), sources.LessThan("k", 5030L))))
    assert(rangeJobs === 0)
    assert(ManifestFileIndex.footerReads.get === footers, "the log stats decide every file")
    assert(range.size === 3)
    assert(keysIn(t, range) === (5000L to 5029L).toSet)
  }

  test("a 10,000-key merge prunes to the touched files and equals a model") {
    val t = table
    val before = t.read(spark).select("k", "v", "p").as[(Long, String, Int)].collect()
    val model = scala.collection.mutable.Map(before.map(r => r._1 -> (r._2, r._3)): _*)
    val maxKey = before.map(_._1).max
    // 100 updates in files 500..509, and 9,900 inserts past every file's range
    val updates = (5000L until 5100L).map(k => (k, "m", (k / (16 * RowsPerFile)).toInt))
    val inserts = (1L to 9900L).map(i => maxKey + i)
      .map(k => (k, "n", (k / (16 * RowsPerFile)).toInt))
    val src = updates ++ inserts
    assert(src.size === spark.conf.get("spark.graft.mergeProbeInMax", "10000").toInt)
    val prev = t.filesOf(t.currentVersion).toSet
    t.merge(spark, src.toDF("k", "v", "p").repartition(4), Seq("k"))
    src.foreach { case (k, v, p) => model(k) = (v, p) }
    val got = t.read(spark).select("k", "v", "p").as[(Long, String, Int)].collect()
    assert(got.length === model.size)
    assert(got.map(r => r._1 -> (r._2, r._3)).toMap === model.toMap)
    // only the 10 files holding an updated key were rewritten
    assert((prev -- t.filesOf(t.currentVersion)).size === 10)
  }
}
