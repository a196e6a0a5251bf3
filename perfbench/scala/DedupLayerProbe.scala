package perfbench

import java.nio.file.Path
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.lake.MergeTable
import graft.operators.{IncrementalCc, IncrementalNearDup}

/** The operators layer, measured once per traced run: a seeded corpus of
  * [[DedupLayerProbe.Docs]] docs (about 10 % near-copies of earlier docs)
  * in a change-feed MergeTable, its near-dup state (LSH index, edges,
  * labels) built untimed, then one round as in the paper's training-data
  * engine: a mutation batch (inserts with near-copies, text updates,
  * deletes) committed with `mergeClauses`, `IncrementalNearDup.applyBatch`
  * over that commit's `changes`, and a read of sampled docs' cluster
  * labels.
  *
  * A round costs about 13 s on 4 cores whatever the corpus size — many
  * tiny commits over four tables — so it does not fit the end-to-end runs'
  * time budget as a workload of its own; its spans still land in the
  * per-layer record. Checks: no deleted doc in any edge, and every label
  * is its component's minimum id.
  */
final class DedupLayerProbe(spark: SparkSession, dir: Path, seed: Long) {
  import DedupLayerProbe._

  private val rng = new java.util.Random(seed * 31L + 11)
  private val vocab = Array.tabulate(Vocabulary)(i => s"w$i")
  private def doc(): String =
    Seq.fill(12 + rng.nextInt(10))(vocab(rng.nextInt(Vocabulary))).mkString(" ")
  private def nearCopy(t: String): String = t + " " + vocab(rng.nextInt(Vocabulary))

  def run(tr: Tracer): Seq[String] = {
    val texts = mutable.ArrayBuffer.empty[String]
    (0 until Docs).foreach { i =>
      texts += (if (i > 0 && rng.nextDouble() < NearCopyShare) nearCopy(texts(rng.nextInt(i))) else doc())
    }
    val corpus = new MergeTable(dir.resolve("corpus").toString)
    val index = new MergeTable(dir.resolve("index").toString, Seq("band"))
    val edges = IncrementalCc.edgesTable(spark, dir.resolve("edges").toString)
    val labels = IncrementalCc.labelsTable(spark, dir.resolve("labels").toString)
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    corpus.merge(spark, spark.createDataFrame(
      texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }.asJava, docSchema),
      Seq("doc_id"), changeFeed = true)
    IncrementalNearDup.applyBatch(corpus.changes(spark, 0, 0), 0L, index, edges, labels, App)

    // the mutation batch: ids are distinct, deletes and updates hit live docs
    var next = Docs.toLong
    val live = (0 until Docs).map(_.toLong).toArray
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < Updates + Deletes) picked += live(rng.nextInt(live.length))
    val (upd, del) = picked.toSeq.splitAt(Updates)
    val ins = (0 until Inserts).map { i =>
      next += 1
      Row(next - 1, "ins", if (i % 2 == 0) nearCopy(texts(rng.nextInt(Docs))) else doc())
    }
    val mut = ins ++ upd.map(id => Row(id, "upd", doc())) ++ del.map(id => Row(id, "del", ""))
    val mutSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("kind", StringType), StructField("new_text", StringType)))
    val src = spark.createDataFrame(mut.asJava, mutSchema)

    tr.span("lake.mergeClauses")(corpus.mergeClauses(spark, src, Seq("doc_id"),
      Seq(MergeTable.MatchedDelete(Some("s.kind = 'del'")),
        MergeTable.MatchedUpdate(Some("s.kind = 'upd'"), Seq("text" -> "s.new_text")),
        MergeTable.NotMatchedInsert(Some("s.kind = 'ins'"),
          Seq("doc_id" -> "s.doc_id", "text" -> "s.new_text"))),
      changeFeed = true))
    val v = corpus.currentVersion
    val feed = tr.span("lake.changes")(corpus.changes(spark, v, v))
    tr.span("operators.applyBatch")(
      IncrementalNearDup.applyBatch(feed, 1L, index, edges, labels, App))
    val sample = Seq.fill(SampledLabels)(rng.nextInt(Docs + Inserts).toLong).distinct
    tr.span("lake.read")(labels.read(spark).filter(col("id").isin(sample: _*)).collect())

    val out = mutable.ArrayBuffer.empty[String]
    val deleted = del.toSet
    val e = edges.read(spark).select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    if (e.isEmpty) out += "dedup probe: no near-duplicate edges at all"
    e.filter { case (a, b) => deleted(a) || deleted(b) }.take(3)
      .foreach(p => out += s"dedup probe: deleted doc in edge $p")
    val bad = labels.read(spark).groupBy("label").agg(min("id").as("mn"))
      .filter(col("label") =!= col("mn")).count()
    if (bad > 0) out += s"dedup probe: $bad components whose label is not their minimum id"
    out.toSeq
  }
}

object DedupLayerProbe {
  val Docs = 4000
  val Vocabulary = 2000
  val NearCopyShare = 0.1
  val Inserts = 40
  val Updates = 20
  val Deletes = 10
  val SampledLabels = 50
  val App = "perfbench-dedup"
}
