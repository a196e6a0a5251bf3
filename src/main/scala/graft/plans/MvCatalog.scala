package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import graft.lake.MergeTable

/** One aggregate column of a materialized-view definition.
  *
  * `func` ∈ {"sum", "count", "min", "max"}; `inputCol` is the base column
  * the aggregate reads (None for count(*)); `mvCol` names the stored
  * result column in the MV table.
  */
final case class MvAgg(func: String, inputCol: Option[String], mvCol: String)

/** A registered materialized view: a single-table GROUP BY aggregate over
  * a parquet directory OR a graft [[MergeTable]], stored at `mvPath`,
  * valid for automatic query rewrite while the base is byte-identical to
  * the snapshot it was built from.
  *
  *  - `baseRootPaths`: the base relation's resolved root paths, captured
  *    at registration — [[MvRewrite]] matches scan nodes against these
  *    (string equality on resolved paths, never prefix heuristics);
  *  - `baseFingerprint`: the staleness anchor. For a graft-table base it
  *    is `graft:v<commitVersion>` — ONE `_LATEST` read per freshness
  *    consult, O(1) regardless of file count. For a plain directory it is
  *    a digest of the data-file listing (relative path, length, mtime)
  *    taken through the Hadoop FileSystem API (so it covers exactly the
  *    paths Spark can read — object stores included). ANY base mutation
  *    changes the fingerprint and silently disables the rewrite until
  *    [[MvRewrite.refresh]]; correctness never depends on refresh cadence.
  */
final case class MvDef(
    name: String,
    basePath: String,
    baseRootPaths: Set[String],
    groupCols: Seq[String],
    aggs: Seq[MvAgg],
    mvPath: String,
    baseFingerprint: String)

/** Session-global registry of materialized views consulted by
  * [[MvRewrite]], optionally BACKED BY A COMMIT LOG: [[attach]] binds the
  * registry to a [[MergeTable]] of definitions, after which every
  * register/unregister is an ACID upsert/delete and a fresh session
  * recovers the full catalog with one attach — the same
  * state-lives-in-the-log discipline as every other piece of engine
  * state. Unattached, the registry is process-local (tests, throwaways).
  * An empty catalog keeps the optimizer rule a constant-time no-op.
  */
object MvCatalog {

  private val defs = scala.collection.concurrent.TrieMap.empty[String, MvDef]
  @volatile private var store: Option[MergeTable] = None

  /** Did the last [[fingerprint]] call pay a directory listing? Specs pin
    * that graft-table bases never do (their freshness is one version read).
    */
  @volatile var lastFingerprintWalked: Boolean = false

  def isEmpty: Boolean = defs.isEmpty
  def all: Seq[MvDef] = defs.values.toSeq
  def get(name: String): Option[MvDef] = defs.get(name)

  def unregister(name: String): Unit = synchronized {
    defs.remove(name)
    store.foreach { t =>
      if (t.exists)
        t.delete(SparkSession.active, col("name") === name)
    }
  }

  def clear(): Unit = defs.clear()

  /** Bind the registry to a definitions table at `path` (created on the
    * first persisted register) and load every definition already
    * committed there — the fresh-session recovery path.
    */
  def attach(spark: SparkSession, path: String): Unit = synchronized {
    val t = new MergeTable(path)
    store = Some(t)
    // create the definitions table EAGERLY (one empty commit) so every
    // register takes the merge (ACID-upsert) path — two first-time
    // registers racing on a fresh catalog would otherwise both take an
    // overwrite branch and one definition would be lost
    if (!t.exists) t.overwrite(emptyDefs(spark))
    if (t.exists) t.read(spark).collect().foreach { r =>
      val aggs = r.getAs[scala.collection.Seq[String]]("agg_funcs")
        .zip(r.getAs[scala.collection.Seq[String]]("agg_inputs"))
        .zip(r.getAs[scala.collection.Seq[String]]("agg_mvcols"))
        .map { case ((f, in), m) => MvAgg(f, Option(in).filter(_.nonEmpty), m) }
        .toSeq
      defs.put(r.getAs[String]("name"), MvDef(
        r.getAs[String]("name"), r.getAs[String]("base_path"),
        r.getAs[scala.collection.Seq[String]]("base_root_paths").toSet,
        r.getAs[scala.collection.Seq[String]]("group_cols").toSeq,
        aggs, r.getAs[String]("mv_path"), r.getAs[String]("base_fingerprint")))
    }
  }

  /** Unbind the definitions table (in-memory defs stay). */
  def detach(): Unit = synchronized { store = None }

  /** Zero-row definitions frame through the SAME encoder as [[register]]'s
    * rows — eager creation and later merges must agree on the schema.
    */
  private def emptyDefs(spark: SparkSession) = {
    import spark.implicits._
    Seq.empty[(String, String, Seq[String], Seq[String], Seq[String],
        Seq[String], Seq[String], String, String)]
      .toDF("name", "base_path", "base_root_paths", "group_cols",
        "agg_funcs", "agg_inputs", "agg_mvcols", "mv_path", "base_fingerprint")
  }

  /** Record a definition whose MV table ALREADY holds the aggregate of
    * the CURRENT base snapshot (the contract [[MvRewrite.buildAndRegister]]
    * guarantees by construction — prefer it). When a definitions table is
    * attached, the definition is upserted there in the same call.
    */
  def register(spark: SparkSession, d: MvDef): MvDef = synchronized {
    require(d.aggs.forall(a => Set("sum", "count", "min", "max").contains(a.func)),
      s"unsupported MV aggregate in ${d.aggs}")
    require(d.aggs.forall(a => (a.func == "count") == a.inputCol.isEmpty),
      "count takes no input column; sum/min/max require one")
    defs.put(d.name, d)
    store.foreach { t =>
      import spark.implicits._
      val row = Seq((d.name, d.basePath, d.baseRootPaths.toSeq.sorted,
        d.groupCols, d.aggs.map(_.func), d.aggs.map(_.inputCol.getOrElse("")),
        d.aggs.map(_.mvCol), d.mvPath, d.baseFingerprint))
        .toDF("name", "base_path", "base_root_paths", "group_cols",
          "agg_funcs", "agg_inputs", "agg_mvcols", "mv_path", "base_fingerprint")
      if (t.exists) t.merge(spark, row, Seq("name"))
      else t.overwrite(row)
    }
    d
  }

  /** Resolved root paths of every file-source leaf under `plan`. */
  def rootPathsOf(plan: LogicalPlan): Set[String] =
    plan.collectLeaves().flatMap {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.map(_.toString)
      case _ => Nil
    }.toSet

  /** Staleness anchor of a base path. A graft table answers with its
    * commit version — one `_LATEST` read, O(1) at any file count, safe on
    * any filesystem. A plain directory answers with a digest of its
    * data-file listing (relative path + length + mtime of every
    * non-hidden file, sorted) through the Hadoop FileSystem API —
    * metadata-only, but O(files) per consult: the price of a correct
    * staleness answer without a commit log. An unlistable or absent base
    * returns "absent", which [[isFresh]] treats as NEVER fresh (a base we
    * cannot see is a base we cannot prove unchanged).
    */
  def fingerprint(path: String): String = {
    val t = new MergeTable(path)
    if (t.exists) return s"graft:v${t.currentVersion}"
    lastFingerprintWalked = true
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      // the SESSION's Hadoop conf, not a bare new Configuration(): plain-dir
      // bases on object stores need spark.hadoop.* (credentials, fs impls)
      // to resolve the FileSystem at all — a bare conf would throw, map to
      // "absent", and leave such a base permanently never-fresh
      val conf = SparkSession.getActiveSession
        .map(_.sessionState.newHadoopConf())
        .getOrElse(new org.apache.hadoop.conf.Configuration())
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) return "absent"
      val rootUri = fs.makeQualified(p).toUri
      val it = fs.listFiles(p, true)
      val parts = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val st = it.next()
        val rel = rootUri.relativize(st.getPath.toUri).getPath
        val hidden = rel.split('/').exists(s => s.startsWith(".") || s.startsWith("_"))
        if (!hidden)
          parts += s"$rel:${st.getLen}:${st.getModificationTime}"
      }
      java.security.MessageDigest.getInstance("MD5")
        .digest(parts.sorted.mkString("\n").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    } catch { case e: Exception =>
      // fail-stale, but LOUDLY: an unlistable base disables the rewrite
      // (never fresh), and silence here would read as "MV mysteriously
      // stopped firing" to an operator
      log.warn(s"MV base fingerprint failed for $path (treating as absent, " +
        s"rewrite disabled): $e")
      "absent"
    }
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Is the MV still byte-exact — i.e. has the base not changed since
    * the build? Consulted once per candidate Aggregate by [[MvRewrite]],
    * AFTER the structural match. "absent" on EITHER side declines: an
    * unreadable base must fail stale, never fail wrong.
    */
  def isFresh(d: MvDef): Boolean = {
    if (d.baseFingerprint == "absent") return false
    val now = fingerprint(d.basePath)
    now != "absent" && now == d.baseFingerprint
  }

  /** Hidden MV bookkeeping columns (graft-table MVs only): `__rows` is
    * the group's row count — it detects group disappearance under deletes;
    * `__nn_<mvCol>` is a sum column's non-null input count — it decides
    * when an incrementally-maintained sum must return to NULL. Invisible
    * to the rewrite (it projects only referenced columns).
    */
  private[plans] val RowsCol = "__rows"
  private[plans] def nnColOf(mvCol: String): String = s"__nn_$mvCol"

  /** The min/max VALUE CENSUS table of one MV input column: one row per
    * (group, value) with the count of base rows holding it — what makes a
    * min/max MV incremental under RETRACTION (a delete decrements its
    * value's count; the new extremum is re-derived from the group's
    * surviving census rows, never the base). Maintained by
    * [[MvRewrite.refresh]] alongside the MV; sized by the per-group
    * distinct-value count — the inherent price of exact extrema under
    * deletes (second-extremum bookkeeping bounds memory but not
    * worst-case correctness).
    */
  private[plans] def censusPath(mvPath: String, inputCol: String): String =
    s"${mvPath}__census__$inputCol"

  /** min/max input columns that NEED a census: a min/max over one of the
    * GROUPING columns is the group key itself (uniform within the group),
    * so it never needs recomputation.
    */
  private[plans] def censusCols(groupCols: Seq[String], aggs: Seq[MvAgg]): Seq[String] =
    aggs.collect { case MvAgg("min" | "max", Some(c), _) => c }
      .distinct.filterNot(groupCols.contains)

  /** Census row count column. */
  private[plans] val CensusCnt = "__cnt"

  /** The aggregate columns of one MV build over `base` — the visible agg
    * columns plus (when `withHidden`) the bookkeeping columns above.
    */
  private[plans] def aggColsOf(aggs: Seq[MvAgg], withHidden: Boolean) = {
    val visible = aggs.map {
      case MvAgg("sum", Some(c), m)   => sum(col(c)).as(m)
      case MvAgg("count", None, m)    => count(lit(1)).as(m)
      case MvAgg("min", Some(c), m)   => min(col(c)).as(m)
      case MvAgg("max", Some(c), m)   => max(col(c)).as(m)
      case a => throw new IllegalArgumentException(s"unsupported MV aggregate $a")
    }
    val hidden =
      if (!withHidden) Nil
      else count(lit(1)).as(RowsCol) +: aggs.collect {
        case MvAgg("sum", Some(c), m) => count(col(c)).as(nnColOf(m))
      }
    visible ++ hidden
  }

  /** Build the MV table from the definition and register it — the only
    * path that guarantees table-matches-definition. A graft-table base is
    * read at a PINNED version (time travel), so the fingerprint and the
    * aggregated snapshot are the same commit by construction — no
    * append-between-listing-and-read race is possible. A plain-directory
    * base takes the fingerprint BEFORE constructing the DataFrame: a file
    * landing in between flips the fingerprint relative to the data
    * aggregated, so the rewrite correctly never fires (fail-stale, never
    * fail-wrong). Graft-table bases store the MV as a graft table too —
    * the shape [[MvRewrite.refresh]] maintains incrementally.
    */
  private[plans] def build(spark: SparkSession, name: String, basePath: String,
                           groupCols: Seq[String], aggs: Seq[MvAgg],
                           mvPath: String): MvDef = {
    val baseT = new MergeTable(basePath)
    if (baseT.exists) {
      val v = baseT.currentVersion
      val base = baseT.readVersion(spark, v)
      val aggCols = aggColsOf(aggs, withHidden = true)
      val mv = new MergeTable(mvPath)
      // the MV overwrite carries its marker at the snapshot version, like
      // the censuses below: a build that crashes before register() leaves
      // the fingerprint behind the rebuilt table, and the retrying
      // refresh's fold anchor must see that the MV already reflects v —
      // re-folding the window onto it would double-apply the deltas
      // min/max value censuses, UNCONDITIONALLY overwritten from the
      // snapshot (a rebuild is deterministic, so re-running it is
      // idempotent by construction — and a guard would let a leftover
      // census from a PRIOR lifecycle at this path, carrying a higher
      // marker, survive with stale contents). The marker records the base
      // version the census reflects — the fold anchor MvRewrite.refresh
      // resumes from. Census builds are INDEPENDENT of the MV overwrite
      // (separate tables, both derived from the same pinned snapshot), so
      // they run concurrently with it (guide §2.6) — each build scans the
      // base once either way, the scans just overlap now. Any crash
      // interleaving converges because refresh folds each artifact from
      // ITS OWN txn marker.
      val censusTasks = censusCols(groupCols, aggs).map { c =>
        graft.lake.MergeTable.startAsync { () =>
          new MergeTable(censusPath(mvPath, c)).overwrite(
            base.filter(col(c).isNotNull)
              .groupBy((groupCols :+ c).map(col): _*)
              .agg(count(lit(1)).as(CensusCnt)),
            txn = Some(s"mvc_$name" -> v))
        }
      }
      mv.overwrite(base.groupBy(groupCols.map(col): _*)
        .agg(aggCols.head, aggCols.tail: _*), txn = Some(s"mv_$name" -> v))
      censusTasks.foreach(graft.lake.MergeTable.awaitAsync)
      val rootPaths = rootPathsOf(base.queryExecution.analyzed)
      register(spark, MvDef(name, basePath, rootPaths, groupCols, aggs,
        mvPath, s"graft:v$v"))
    } else {
      // fingerprint FIRST: the listing the fingerprint digests must be no
      // NEWER than the listing the DataFrame captures
      val fp = fingerprint(basePath)
      val base = spark.read.parquet(basePath)
      val aggCols = aggColsOf(aggs, withHidden = false)
      val rootPaths = rootPathsOf(base.queryExecution.analyzed)
      base.groupBy(groupCols.map(col): _*)
        .agg(aggCols.head, aggCols.tail: _*)
        .write.mode("overwrite").parquet(mvPath)
      register(spark, MvDef(name, basePath, rootPaths, groupCols, aggs, mvPath, fp))
    }
  }
}
