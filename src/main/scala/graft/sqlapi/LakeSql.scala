package graft.sqlapi

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import graft.lake.MergeTable

/** The rest of the "Delta Lake + Spark SQL" DML surface over [[MergeTable]]
  * (the reference's tables are Delta, and Delta ships these as SQL —
  * glue_jobs/01_silver_delta_upsert.py:99-112 uses the API twin):
  *
  * {{{
  *   CREATE TABLE [IF NOT EXISTS] t USING GRAFT [PARTITIONED BY (...)]
  *     [CLUSTER BY (...)] LOCATION '<path>' [TBLPROPERTIES (k = v, ...)]
  *     AS <SELECT ...>
  *   CREATE TABLE [IF NOT EXISTS] t (c1 T1 [GENERATED ALWAYS AS (expr)
  *     | GENERATED ALWAYS AS IDENTITY [(START WITH n INCREMENT BY m)]], ...)
  *     USING GRAFT [PARTITIONED BY ...] LOCATION '<path>' [TBLPROPERTIES ...]
  *                                                -- schema-only empty v0
  *   DROP TABLE [IF EXISTS] t                     -- unregisters; data stays
  *   DELETE FROM t [WHERE <predicate>]            -- no WHERE = all rows
  *   UPDATE t SET c1 = <expr> [, ...] [WHERE <predicate>]
  *     -- both route through deletion vectors when the table sets
  *     -- graft.enableDeletionVectors, and record CDF rows when it sets
  *     -- graft.enableChangeDataFeed (Delta's property routing)
  *   VACUUM t [RETAIN <n> VERSIONS | RETAIN <n> HOURS]
  *   VACUUM t [RETAIN ...] DRY RUN           -- reclaim preview (query())
  *   REORG TABLE t APPLY (PURGE)             -- rewrite ONLY dv-masked files
  *   FSCK REPAIR TABLE t                     -- drop refs to missing files
  *   CREATE BLOOMFILTER INDEX ON [TABLE] t FOR COLUMNS (c)
  *   DROP BLOOMFILTER INDEX ON [TABLE] t [FOR COLUMNS (c)]
  *   OPTIMIZE t [WHERE <partition predicate>]
  *   OPTIMIZE t ZORDER BY (c1 [, c2 ...])
  *   RESTORE [TABLE] t TO VERSION AS OF <n>
  *   RESTORE [TABLE] t TO TIMESTAMP AS OF '<ts>'
  *   INSERT INTO t [(c1, c2, ...)] <SELECT ...|VALUES ...>
  *     -- positional; unlisted columns NULL-fill, generated/identity derive
  *   INSERT OVERWRITE [TABLE] t [(c1, ...)] <SELECT ...|VALUES ...>
  *   ALTER TABLE t ADD COLUMNS (c1 type1 [, ...])
  *   ALTER TABLE t RENAME COLUMN a TO b           -- metadata-only (column mapping)
  *   ALTER TABLE t ALTER COLUMN c TYPE t          -- metadata-only type widening
  *   ALTER TABLE t DROP COLUMN a                  -- metadata-only (column mapping)
  *   ANALYZE TABLE t COMPUTE STATISTICS FOR COLUMNS c1 [, ...]
  *   ALTER TABLE t SET TBLPROPERTIES (k = v [, ...])
  *   ALTER TABLE t UNSET TBLPROPERTIES (k [, ...])
  *   ALTER TABLE t ADD CONSTRAINT name CHECK (predicate)
  *   ALTER TABLE t DROP CONSTRAINT name
  *   ALTER TABLE t DROP FEATURE name              -- after purge + vacuum
  *   ALTER TABLE t ALTER COLUMN c SET NOT NULL   -- validated, then fused
  *   ALTER TABLE t ALTER COLUMN c DROP NOT NULL
  *   GENERATE symlink_format_manifest FOR TABLE t -- external-engine manifests
  *   SHOW TBLPROPERTIES t                         -- key/value rows (query())
  *   SELECT ... FROM t VERSION AS OF <n> ...      -- time travel
  *   SELECT ... FROM t TIMESTAMP AS OF '<ts>' ... -- time travel by wall clock
  *   SELECT ... FROM table_changes('t', from, to) -- the CDF range as a TVF
  *   CREATE TABLE t2 SHALLOW CLONE t LOCATION '<path>'  -- zero-copy clone
  *   DESCRIBE HISTORY t [LIMIT n]                 -- audit log (query())
  *   DESCRIBE DETAIL t                            -- table facts (query())
  *   SHOW PARTITIONS t                            -- manifest partitions (query())
  *   CREATE OR REPLACE TABLE t USING GRAFT ... AS <SELECT>  -- atomic swap
  *   TRUNCATE TABLE t                             -- delete-all, one commit
  *   COMMENT ON TABLE t IS 'text' | NULL          -- comment property
  *   SHOW CREATE TABLE t                          -- DDL row (query())
  *   ALTER TABLE t RENAME TO t2                   -- registry rename
  * }}}
  *
  * Targets resolve through a caller-supplied registry exactly like
  * [[MergeInto]] (MergeTables are paths, not catalog entries). Predicates
  * and SET expressions are handed to Spark's own SQL expression parser
  * (`expr(...)`) — anything Spark SQL can evaluate over the table's columns
  * works. Statement shapes outside the three above fail loudly rather than
  * half-parsing.
  *
  * Time travel rewrites every `name VERSION AS OF n` table reference in an
  * arbitrary SELECT to a temp view over that snapshot's `readVersion` and
  * runs the rewritten statement through `spark.sql` — the full SELECT
  * surface (joins, windows, aggregates) composes with versioned reads, and
  * the outer query's filters reach MergeTable's automatic data skipping
  * exactly like API reads.
  */
object LakeSql {

  // WHERE is optional in both shapes (Delta semantics: no predicate = all
  // rows — `DELETE FROM t` is the standard table reset). UPDATE captures
  // everything after SET as one blob and splits SET list from WHERE with a
  // real tokenizer ([[splitSetsWhere]]) — a regex split on the first WHERE
  // would mis-parse `SET c = (SELECT … WHERE …) WHERE p`.
  private val DeleteShape =
    """(?is)^\s*DELETE\s+FROM\s+([\w.]+)(?:\s+WHERE\s+(.+?))?\s*;?\s*$""".r

  private val UpdateShape =
    """(?is)^\s*UPDATE\s+([\w.]+)\s+SET\s+(.+?)\s*;?\s*$""".r

  private val TimeTravelRef =
    """(?i)([\w.]+)\s+VERSION\s+AS\s+OF\s+(\d+)""".r

  private val TimestampTravelRef =
    """(?i)([\w.]+)\s+TIMESTAMP\s+AS\s+OF\s+(?:'([^']+)'|"([^"]+)")""".r

  /** Delta's `CREATE TABLE t2 SHALLOW CLONE t1` — zero-copy: the clone's
    * first commit references the source's live data files by path; both
    * tables are copy-on-write afterwards, so neither's subsequent writes
    * affect the other.
    */
  private val CloneShape =
    ("""(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s+""" +
     """SHALLOW\s+CLONE\s+([\w.]+)\s+LOCATION\s+'([^']+)'\s*;?\s*$""").r

  private val DescribeHistoryShape =
    """(?is)^\s*DESCRIBE\s+HISTORY\s+([\w.]+)(?:\s+LIMIT\s+(\d+))?\s*;?\s*$""".r

  private val DescribeDetailShape =
    """(?is)^\s*DESCRIBE\s+DETAIL\s+([\w.]+)\s*;?\s*$""".r

  private val ShowPropertiesShape =
    """(?is)^\s*SHOW\s+TBLPROPERTIES\s+([\w.]+)\s*;?\s*$""".r

  private val SetPropsShape =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+SET\s+TBLPROPERTIES\s*\((.+?)\)\s*;?\s*$""".r

  private val UnsetPropsShape =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+UNSET\s+TBLPROPERTIES\s*\(([^)]+)\)\s*;?\s*$""".r

  private val ShowPartitionsShape =
    """(?is)^\s*SHOW\s+PARTITIONS\s+([\w.]+)\s*;?\s*$""".r

  private val VacuumShape =
    """(?is)^\s*VACUUM\s+([\w.]+)(?:\s+RETAIN\s+(\d+)\s+(VERSIONS|HOURS))?\s*;?\s*$""".r

  private val VacuumDryRunShape =
    """(?is)^\s*VACUUM\s+([\w.]+)(?:\s+RETAIN\s+(\d+)\s+(VERSIONS|HOURS))?\s+DRY\s+RUN\s*;?\s*$""".r

  private val ReorgShape =
    """(?is)^\s*REORG\s+TABLE\s+([\w.]+)\s+APPLY\s*\(\s*PURGE\s*\)\s*;?\s*$""".r

  private val FsckShape =
    """(?is)^\s*FSCK\s+REPAIR\s+TABLE\s+([\w.]+)\s*;?\s*$""".r

  private val GenerateManifestShape =
    """(?is)^\s*GENERATE\s+symlink_format_manifest\s+FOR\s+TABLE\s+([\w.]+)\s*;?\s*$""".r

  private val CreateBloomShape =
    ("""(?is)^\s*CREATE\s+BLOOMFILTER\s+INDEX\s+ON\s+(?:TABLE\s+)?([\w.]+)\s+""" +
     """FOR\s+COLUMNS\s*\(\s*(\w+)\s*\)\s*;?\s*$""").r

  private val DropBloomShape =
    ("""(?is)^\s*DROP\s+BLOOMFILTER\s+INDEX\s+ON\s+(?:TABLE\s+)?([\w.]+)""" +
     """(?:\s+FOR\s+COLUMNS\s*\(\s*(\w+)\s*\))?\s*;?\s*$""").r

  private val OptimizeShape =
    """(?is)^\s*OPTIMIZE\s+([\w.]+)(?:\s+WHERE\s+(.+?))?\s*;?\s*$""".r

  private val RestoreShape =
    """(?is)^\s*RESTORE\s+(?:TABLE\s+)?([\w.]+)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*$""".r

  private val RestoreTsShape =
    ("""(?is)^\s*RESTORE\s+(?:TABLE\s+)?([\w.]+)\s+TO\s+TIMESTAMP\s+AS\s+OF\s+""" +
     """(?:'([^']+)'|"([^"]+)")\s*;?\s*$""").r

  private val ZorderShape =
    """(?is)^\s*OPTIMIZE\s+([\w.]+)\s+ZORDER\s+BY\s*\(([^)]+)\)\s*;?\s*$""".r

  // optional column list (Spark/Delta's `INSERT INTO t (c1, c2) ...`):
  // listed columns arrive by position, unlisted ones NULL-fill (generated
  // and identity columns instead derive in the write path)
  private val InsertShape =
    """(?is)^\s*INSERT\s+INTO\s+([\w.]+)\s*(?:\(([\w\s,]*)\)\s*)?((?:SELECT|VALUES|TABLE|FROM)\b.+?)\s*;?\s*$""".r

  private val InsertOverwriteShape =
    """(?is)^\s*INSERT\s+OVERWRITE\s+(?:TABLE\s+)?([\w.]+)\s*(?:\(([\w\s,]*)\)\s*)?((?:SELECT|VALUES|TABLE|FROM)\b.+?)\s*;?\s*$""".r

  private val AddColumnsShape =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+COLUMNS\s*\((.+?)\)\s*;?\s*$""".r

  private val RenameColumnShape =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)\s*;?\s*$""".r

  private val AlterColumnTypeShape =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+ALTER\s+COLUMN\s+(\w+)\s+TYPE\s+([\w()., ]+?)\s*;?\s*$""".r

  private val DropColumnShape =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+COLUMN\s+(\w+)\s*;?\s*$""".r

  private val AddConstraintShape =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.+)\)\s*;?\s*$""".r

  private val DropConstraintShape =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+CONSTRAINT\s+(\w+)\s*;?\s*$""".r

  private val DropFeatureShape =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+FEATURE\s+(\w+)\s*;?\s*$""".r

  // Delta's NOT NULL column constraints, carried on the one CHECK
  // machinery (validated against existing data on add, enforcement fused
  // into every write, surviving overwrites): SET NOT NULL is sugar for a
  // reserved-name CHECK, DROP NOT NULL drops it.
  private val SetNotNullShape =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+ALTER\s+COLUMN\s+(\w+)\s+SET\s+NOT\s+NULL\s*;?\s*$""".r

  private val DropNotNullShape =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+ALTER\s+COLUMN\s+(\w+)\s+DROP\s+NOT\s+NULL\s*;?\s*$""".r

  /** CTAS with an explicit `USING GRAFT` provider tag (Delta's
    * `USING DELTA` shape) — the tag is what makes parser interception
    * unambiguous: a real catalog `CREATE TABLE … AS` can never match, so
    * the injected parser may route on the SHAPE alone even when no lake
    * table is registered yet.
    */
  private val CreateTableShape =
    ("""(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s+USING\s+GRAFT""" +
     """(?:\s+PARTITIONED\s+BY\s*\(([^)]*)\))?(?:\s+CLUSTER\s+BY\s*\(([^)]*)\))?""" +
     """\s+LOCATION\s+'([^']+)'""" +
     """(?:\s+TBLPROPERTIES\s*\((.+?)\))?\s+AS\s+(.+?)\s*;?\s*$""").r

  /** Schema-only DDL (Delta's `CREATE TABLE t (c1 INT, …) USING delta` —
    * the tutorial-first statement): a column list instead of AS SELECT,
    * creating an EMPTY version-0 table whose data arrives via later
    * INSERT INTO / MERGE. The column list may nest parens (decimal(10,2)),
    * so it is captured lazily up to the distinctive `) USING GRAFT`.
    */
  private val CreateEmptyShape =
    ("""(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*\((.+?)\)\s+USING\s+GRAFT""" +
     """(?:\s+PARTITIONED\s+BY\s*\(([^)]*)\))?(?:\s+CLUSTER\s+BY\s*\(([^)]*)\))?""" +
     """\s+LOCATION\s+'([^']+)'""" +
     """(?:\s+TBLPROPERTIES\s*\((.+?)\))?\s*;?\s*$""").r

  /** Delta's `CONVERT TO DELTA parquet.\`path\``: adopt a plain-parquet
    * directory in place (zero-copy link into a v0 layout). An optional
    * `AS <name>` registers the converted table for follow-up statements.
    */
  private val ConvertShape =
    ("""(?is)^\s*CONVERT\s+TO\s+GRAFT\s+parquet\s*\.\s*`([^`]+)`""" +
     """(?:\s+PARTITIONED\s+BY\s*\(([^)]*)\))?(?:\s+AS\s+([\w.]+))?\s*;?\s*$""").r

  private val DropTableShape =
    """(?is)^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([\w.]+)\s*;?\s*$""".r

  /** Spark's `TRUNCATE TABLE` over a lake table: delete-all as one commit
    * (the same routing as a WHERE-less DELETE FROM, Delta's table reset).
    */
  private val TruncateShape =
    """(?is)^\s*TRUNCATE\s+TABLE\s+([\w.]+)\s*;?\s*$""".r

  /** `COMMENT ON TABLE t IS 'text'` — stored as the standard `comment`
    * table property (Delta's description slot); `IS NULL` clears it.
    */
  private val CommentShape =
    // the literal admits SQL-standard '' escapes: ('')* pairs inside the body
    """(?is)^\s*COMMENT\s+ON\s+TABLE\s+([\w.]+)\s+IS\s+(?:'((?:[^']|'')*)'|(NULL))\s*;?\s*$""".r

  private val ShowCreateShape =
    """(?is)^\s*SHOW\s+CREATE\s+TABLE\s+([\w.]+)\s*;?\s*$""".r

  /** `ALTER TABLE t RENAME TO t2` — a REGISTRY rename (MergeTables are
    * paths; the name is the session-level handle, so renaming moves the
    * registration, never data).
    */
  private val RenameTableShape =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+RENAME\s+TO\s+([\w.]+)\s*;?\s*$""".r

  /** Delta's `CREATE OR REPLACE TABLE … AS SELECT`: an existing table is
    * REPLACED in one commit — schema, data, even the partition layout —
    * with full history preserved (time travel still reads the pre-replace
    * versions); a missing one is created. The atomic-swap alternative to
    * DROP + CREATE.
    */
  private val CreateOrReplaceShape =
    ("""(?is)^\s*CREATE\s+OR\s+REPLACE\s+TABLE\s+([\w.]+)\s+USING\s+GRAFT""" +
     """(?:\s+PARTITIONED\s+BY\s*\(([^)]*)\))?(?:\s+CLUSTER\s+BY\s*\(([^)]*)\))?""" +
     """\s+LOCATION\s+'([^']+)'""" +
     """(?:\s+TBLPROPERTIES\s*\((.+?)\))?\s+AS\s+(.+?)\s*;?\s*$""").r

  private val AnalyzeShape =
    ("""(?is)^\s*ANALYZE\s+TABLE\s+([\w.]+)\s+COMPUTE\s+STATISTICS\s+""" +
     """FOR\s+COLUMNS\s+\(?\s*([^);]+?)\s*\)?\s*;?\s*$""").r

  /** Execute a `DELETE FROM` or `UPDATE` statement against a registered
    * MergeTable. All of the API twins' semantics apply: file-pruned
    * rewrite, NULL-predicate rows kept (DELETE) / untouched (UPDATE),
    * constraint enforcement and generated-column re-derivation fused into
    * the write, atomic snapshot commit.
    */
  def run(spark: SparkSession, sql: String, targets: Map[String, MergeTable]): Unit =
    sql match {
      case CreateTableShape(ifNotExists, name, parts, clusterBy, loc, propKvs, query) =>
        val known = targets.keySet ++ LakeCatalog.targets.keySet
        if (known.contains(name)) {
          require(ifNotExists != null,
            s"CREATE TABLE $name: the name is already registered — " +
              "use CREATE TABLE IF NOT EXISTS for create-if-absent semantics")
        } else {
          // the source SELECT composes with registered tables (bare or
          // VERSION AS OF) exactly like INSERT INTO's source
          val rows = spark.sql(rewriteReads(spark, query, targets).getOrElse(query))
          val pcols = Option(parts).toSeq
            .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
          pcols.foreach(c => require(rows.columns.contains(c),
            s"CREATE TABLE $name: partition column '$c' is not in the query output " +
              s"(${rows.columns.mkString(", ")})"))
          val ccols = Option(clusterBy).toSeq
            .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
          ccols.foreach(c => require(rows.columns.contains(c),
            s"CREATE TABLE $name: cluster column '$c' is not in the query output " +
              s"(${rows.columns.mkString(", ")})"))
          val created = new MergeTable(loc, pcols)
          require(!created.exists,
            s"CREATE TABLE $name: a MergeTable already exists at $loc")
          created.overwrite(rows)
          // CLUSTER BY lands as the liquid-clustering property: every
          // later parameterless OPTIMIZE re-clusters by these columns
          if (ccols.nonEmpty) created.setProperties(
            Map(MergeTable.ClusterByProp -> ccols.mkString(",")))
          Option(propKvs).foreach(kvs => created.setProperties(parsePropList(kvs)))
          // registered so follow-up statements resolve the new name through
          // the same session — the whole point of a CTAS
          LakeCatalog.register(name, created)
        }
      case ConvertShape(path, parts, name) =>
        val pcols = Option(parts).toSeq
          .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
        val converted = MergeTable.convertParquet(spark, path, pcols)
        Option(name).foreach(LakeCatalog.register(_, converted))
      case CloneShape(ifNotExists, name, src, loc) =>
        val known = targets.keySet ++ LakeCatalog.targets.keySet
        if (known.contains(name)) {
          require(ifNotExists != null,
            s"CREATE TABLE $name: the name is already registered — " +
              "use CREATE TABLE IF NOT EXISTS for create-if-absent semantics")
        } else {
          LakeCatalog.register(name, resolve(src, targets).cloneTo(loc))
        }
      case DropTableShape(ifExists, name) =>
        // external-table DROP semantics (Delta's for external tables too):
        // the NAME is dropped from the registry; data and commit log stay
        // on disk and can be re-registered or vacuumed independently
        require(ifExists != null || targets.contains(name) ||
            LakeCatalog.targets.contains(name),
          s"DROP TABLE $name: not a registered lake table — " +
            "use DROP TABLE IF EXISTS for drop-if-present semantics")
        LakeCatalog.unregister(name)
      case CreateEmptyShape(ifNotExists, name, colsDdl, parts, clusterBy, loc, propKvs) =>
        val known = targets.keySet ++ LakeCatalog.targets.keySet
        if (known.contains(name)) {
          require(ifNotExists != null,
            s"CREATE TABLE $name: the name is already registered — " +
              "use CREATE TABLE IF NOT EXISTS for create-if-absent semantics")
        } else {
          val (schema, gens, ident) = parseColumnDefs(name, colsDdl)
          val pcols = Option(parts).toSeq
            .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
          val ccols = Option(clusterBy).toSeq
            .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
          ccols.foreach(c => require(schema.fieldNames.contains(c),
            s"CREATE TABLE $name: cluster column '$c' is not in the declared schema " +
              s"(${schema.fieldNames.mkString(", ")})"))
          val created = new MergeTable(loc, pcols,
            generatedCols = gens, identityCol = ident)
          require(!created.exists,
            s"CREATE TABLE $name: a MergeTable already exists at $loc")
          created.createEmpty(schema) // validates pcols against the schema
          if (ccols.nonEmpty) created.setProperties(
            Map(MergeTable.ClusterByProp -> ccols.mkString(",")))
          Option(propKvs).foreach(kvs => created.setProperties(parsePropList(kvs)))
          LakeCatalog.register(name, created)
        }
      case CreateOrReplaceShape(name, parts, clusterBy, loc, propKvs, query) =>
        val rows = spark.sql(rewriteReads(spark, query, targets).getOrElse(query))
        val pcols = Option(parts).toSeq
          .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
        pcols.foreach(c => require(rows.columns.contains(c),
          s"CREATE OR REPLACE TABLE $name: partition column '$c' is not in the " +
            s"query output (${rows.columns.mkString(", ")})"))
        val ccols = Option(clusterBy).toSeq
          .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
        ccols.foreach(c => require(rows.columns.contains(c),
          s"CREATE OR REPLACE TABLE $name: cluster column '$c' is not in the " +
            s"query output (${rows.columns.mkString(", ")})"))
        // replace = one more commit on the existing log (history intact);
        // create = a fresh v0 — either way the same overwrite call
        val table = new MergeTable(loc, pcols)
        table.overwrite(rows)
        if (ccols.nonEmpty) table.setProperties(
          Map(MergeTable.ClusterByProp -> ccols.mkString(",")))
        Option(propKvs).foreach(kvs => table.setProperties(parsePropList(kvs)))
        LakeCatalog.register(name, table)
      case RenameTableShape(tgt, to) =>
        // a per-call `targets` binding is caller state this statement
        // cannot mutate — renaming such a table would leave BOTH names
        // addressing it (the old one through the caller's map), so refuse
        // unless the name is also registry-backed (the spark.sql parser
        // path passes a SNAPSHOT of the registry as the per-call map)
        require(!targets.contains(tgt) || LakeCatalog.targets.contains(tgt),
          s"ALTER TABLE $tgt RENAME TO $to: '$tgt' is bound through the " +
            "per-call targets map, which RENAME cannot rewrite — register " +
            "the table in the LakeCatalog (or re-invoke without the binding) to rename it")
        val table = resolve(tgt, targets)
        val known = targets.keySet ++ LakeCatalog.targets.keySet
        require(!known.contains(to),
          s"ALTER TABLE $tgt RENAME TO $to: the new name is already registered")
        LakeCatalog.register(to, table)
        LakeCatalog.unregister(tgt)
      case TruncateShape(tgt) =>
        val table = resolve(tgt, targets)
        table.delete(spark, org.apache.spark.sql.functions.lit(true), cdfOn(table))
      case CommentShape(tgt, text, nul) =>
        val table = resolve(tgt, targets)
        if (nul != null) table.unsetProperties(Seq("comment"))
        else table.setProperties(Map("comment" -> text.replace("''", "'")))
      case DeleteShape(tgt, pred) =>
        // no WHERE = all rows (Delta's DELETE FROM t table reset); the
        // graft.enableDeletionVectors property routes through the mask-
        // based writer (Delta's DV routing), rewrite otherwise
        val table = resolve(tgt, targets)
        val predicate =
          Option(pred).map(expr).getOrElse(org.apache.spark.sql.functions.lit(true))
        if (dvRouted(table)) table.deleteVectorized(spark, predicate, cdfOn(table))
        else table.delete(spark, predicate, cdfOn(table))
      case UpdateShape(tgt, rest) =>
        val (sets, pred) = splitSetsWhere(rest)
        // no WHERE = every row updated (Delta semantics)
        val table = resolve(tgt, targets)
        val predicate =
          pred.map(expr).getOrElse(org.apache.spark.sql.functions.lit(true))
        val assignments =
          parseSetList(sets).map { case (c, e) => c -> expr(e) }.toMap
        if (dvRouted(table)) table.updateVectorized(spark, predicate, assignments,
          cdfOn(table))
        else table.update(spark, predicate, assignments, cdfOn(table))
      case VacuumShape(tgt, retain, unit) =>
        val table = resolve(tgt, targets)
        if (retain != null && unit != null && unit.equalsIgnoreCase("HOURS"))
          table.vacuumRetainHours(retain.toDouble)
        else table.vacuum(retainVersions = Option(retain).map(_.toInt).getOrElse(1))
      case ReorgShape(tgt) =>
        resolve(tgt, targets).reorgPurge(spark)
      case FsckShape(tgt) =>
        resolve(tgt, targets).fsck()
      case GenerateManifestShape(tgt) =>
        resolve(tgt, targets).generateSymlinkManifest()
      case CreateBloomShape(tgt, colName) =>
        resolve(tgt, targets).buildBloomIndex(spark, colName)
      case DropBloomShape(tgt, colName) =>
        resolve(tgt, targets).dropBloomIndex(Option(colName))
      case RestoreShape(tgt, ver) =>
        resolve(tgt, targets).restore(ver.toLong)
      case RestoreTsShape(tgt, q1, q2) =>
        // Delta's RESTORE ... TIMESTAMP AS OF: resolve the wall-clock
        // instant against the in-commit timestamps, then roll back
        val table = resolve(tgt, targets)
        table.restore(table.versionAt(
          parseTsMillis(Option(q1).getOrElse(q2))))
      case ZorderShape(tgt, cols) =>
        resolve(tgt, targets).zorderCompact(spark,
          cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      case InsertOverwriteShape(tgt, colList, query) =>
        runInsert(spark, tgt, resolve(tgt, targets), colList, query, targets,
          overwrite = true)
      case InsertShape(tgt, colList, query) =>
        runInsert(spark, tgt, resolve(tgt, targets), colList, query, targets,
          overwrite = false)
      case OptimizeShape(tgt, pred) =>
        val table = resolve(tgt, targets)
        Option(pred) match {
          case Some(p) => table.compactPartitions(spark, expr(p))
          // clustering-aware: a CLUSTER BY table re-Z-orders, others pack
          case None    => table.optimize(spark)
        }
      case AddColumnsShape(tgt, ddl) =>
        resolve(tgt, targets).addColumns(
          org.apache.spark.sql.types.StructType.fromDDL(ddl))
      case SetPropsShape(tgt, kvs) =>
        resolve(tgt, targets).setProperties(parsePropList(kvs))
      case UnsetPropsShape(tgt, ks) =>
        resolve(tgt, targets).unsetProperties(
          ks.split(",").map(k => stripQuotes(k.trim)).filter(_.nonEmpty).toSeq)
      case AnalyzeShape(tgt, cols) =>
        resolve(tgt, targets).analyze(spark,
          cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      case RenameColumnShape(tgt, from, to) =>
        resolve(tgt, targets).renameColumn(from, to)
      case AlterColumnTypeShape(tgt, colName, typeDdl) =>
        resolve(tgt, targets).alterColumnType(colName,
          org.apache.spark.sql.types.DataType.fromDDL(typeDdl.trim))
      case DropColumnShape(tgt, colName) =>
        resolve(tgt, targets).dropColumn(colName)
      case AddConstraintShape(tgt, name, pred) =>
        resolve(tgt, targets).addCheckConstraint(spark, name, pred.trim)
      case DropConstraintShape(tgt, name) =>
        resolve(tgt, targets).dropCheckConstraint(name)
      case DropFeatureShape(tgt, name) =>
        resolve(tgt, targets).dropFeature(spark, name)
      case SetNotNullShape(tgt, colName) =>
        resolve(tgt, targets)
          .addCheckConstraint(spark, s"graft_notnull_$colName", s"$colName IS NOT NULL")
      case DropNotNullShape(tgt, colName) =>
        // drops the SET NOT NULL constraint and relaxes a NOT NULL the
        // commit schema declares; on a never-constrained column it is a
        // no-op, not an error (Delta's tolerance — the desired end state
        // already holds)
        val nn = resolve(tgt, targets)
        if (nn.checkConstraints.exists(_._1 == s"graft_notnull_$colName"))
          nn.dropCheckConstraint(s"graft_notnull_$colName")
        nn.dropNotNull(colName)
      case _ =>
        throw new IllegalArgumentException(
          "unsupported statement — supported shapes: DELETE FROM t WHERE p; " +
            "UPDATE t SET c = e [, ...] WHERE p; VACUUM t [RETAIN n VERSIONS]; " +
            "OPTIMIZE t [WHERE p]; ALTER TABLE t ADD COLUMNS (...) / " +
            "RENAME COLUMN a TO b / DROP COLUMN a / ADD CONSTRAINT n CHECK (p) / " +
            "DROP CONSTRAINT n (MERGE INTO lives in MergeInto; " +
            "time-travel SELECT and DESCRIBE HISTORY / SHOW PARTITIONS in LakeSql.query)")
    }

  /** Run a SELECT whose FROM clause may reference registered MergeTables
    * with `name VERSION AS OF n` (Delta's time-travel SQL). Each versioned
    * reference becomes a temp view over that table's snapshot read; plain
    * (unversioned) references to registered names resolve to the CURRENT
    * snapshot. Unregistered names pass through to the session catalog.
    */
  def query(spark: SparkSession, sql: String, targets: Map[String, MergeTable]): DataFrame = {
    sql match {
      case DescribeHistoryShape(tgt, limit) =>
        val h = resolve(tgt, targets).history(spark)
        return Option(limit).map(n => h.limit(n.toInt)).getOrElse(h)
      case DescribeDetailShape(tgt)  => return resolve(tgt, targets).detail(spark)
      case ShowPartitionsShape(tgt)  => return resolve(tgt, targets).partitions(spark)
      case ShowPropertiesShape(tgt)  =>
        import spark.implicits._
        return resolve(tgt, targets).properties.toSeq.sortBy(_._1)
          .toDF("key", "value")
      case ShowCreateShape(tgt) =>
        import spark.implicits._
        val table = resolve(tgt, targets)
        val schema = table.schemaOf(table.currentVersion)
        val props0 = table.properties
        def dec0(x: String) = java.net.URLDecoder.decode(x, "UTF-8")
        // column decorations reconstructed from the log-pinned properties —
        // the emitted DDL is EXECUTABLE (CreateEmptyShape parses it back;
        // see the round-trip test), so every clause-expressible fact is a
        // clause and stays OUT of TBLPROPERTIES
        val gens: Map[String, String] = props0.get(MergeTable.GeneratedColsProp)
          .toSeq.flatMap(_.split(',')).filter(_.nonEmpty).map { kv =>
            val i = kv.indexOf('=')
            dec0(kv.substring(0, i)) -> dec0(kv.substring(i + 1))
          }.toMap
        val ident: Option[(String, Long, Long)] =
          props0.get(MergeTable.IdentityColProp).map { v =>
            val p = v.split(',')
            (dec0(p(0)), p(1).toLong, p(2).toLong)
          }
        val cols = schema.fields.map { f =>
          val deco =
            if (ident.exists(_._1 == f.name)) {
              val (_, st, inc) = ident.get
              s" GENERATED ALWAYS AS IDENTITY (START WITH $st INCREMENT BY $inc)"
            } else gens.get(f.name).map(e => s" GENERATED ALWAYS AS ($e)").getOrElse("")
          val nn = if (table.checkConstraints.exists(_._1 == s"graft_notnull_${f.name}"))
            " NOT NULL" else ""
          s"  ${f.name} ${f.dataType.sql}$deco$nn"
        }.mkString(",\n")
        val parts =
          if (table.partitionCols.isEmpty) ""
          else s"\nPARTITIONED BY (${table.partitionCols.mkString(", ")})"
        val cluster = props0.get(MergeTable.ClusterByProp)
          .map(c => s"\nCLUSTER BY ($c)").getOrElse("")
        // layout/definition props are emitted as clauses above; mutable
        // high-water marks are table STATE, not definition — both stay out
        val asClauses = Set(MergeTable.PartitionColsProp, MergeTable.ClusterByProp,
          MergeTable.GeneratedColsProp, MergeTable.IdentityColProp,
          MergeTable.IdentityHwmProp, MergeTable.RowIdHwmProp)
        // SQL-standard quote escaping ('' = embedded ') keeps the emitted
        // DDL executable when a comment/property value holds an apostrophe;
        // parsePropList mirrors the unescape on the way back in
        def q(s: String): String = s"'${s.replace("'", "''")}'"
        val props = props0.filterNot(p => asClauses(p._1)).toSeq.sortBy(_._1)
          .map { case (k, v) => s"${q(k)} = ${q(v)}" }
        val propsClause =
          if (props.isEmpty) "" else s"\nTBLPROPERTIES (${props.mkString(", ")})"
        val stmt = s"CREATE TABLE $tgt (\n$cols\n) USING GRAFT$parts$cluster" +
          s"\nLOCATION '${table.root}'$propsClause"
        return Seq(stmt).toDF("createtab_stmt")
      case VacuumDryRunShape(tgt, retain, unit) =>
        import spark.implicits._
        val table = resolve(tgt, targets)
        val paths =
          if (retain != null && unit != null && unit.equalsIgnoreCase("HOURS"))
            table.vacuumDryRunRetainHours(retain.toDouble)
          else table.vacuumDryRun(retainVersions = Option(retain).map(_.toInt).getOrElse(1))
        return paths.toDF("path")
      case _                         => ()
    }
    spark.sql(rewriteReads(spark, sql, targets).getOrElse(sql))
  }

  /** Rewrite every `name VERSION AS OF n` and bare registered-name
    * reference in `sql` to a temp view over the corresponding snapshot.
    * Returns None when the statement references no registered table —
    * callers (query(), the injected parser) then leave the SQL untouched.
    */
  private val TableChangesRef =
    """(?i)table_changes\s*\(\s*'([\w.]+)'\s*,\s*(\d+)\s*,\s*(\d+)\s*\)""".r

  private[sqlapi] def rewriteReads(spark: SparkSession, sql: String,
                                   targets: Map[String, MergeTable]): Option[String] = {
    var any = false
    // Delta's table_changes('t', from, to) TVF: the change-data-feed rows
    // of the commit range, as a rewrite to a temp view over changes() —
    // composable inside arbitrary SELECTs like the time-travel dialects
    var rewritten = TableChangesRef.replaceAllIn(sql, m => {
      val name = m.group(1)
      targets.get(name) match {
        case None => java.util.regex.Matcher.quoteReplacement(m.matched)
        case Some(table) =>
          val (from, to) = (m.group(2).toLong, m.group(3).toLong)
          val view = s"${name.replace('.', '_')}__c${from}_$to"
          table.changes(spark, from, to).createOrReplaceTempView(view)
          any = true
          java.util.regex.Matcher.quoteReplacement(view)
      }
    })
    // Snapshot views are the snapshot's own read (version pinned at
    // rewrite time, so semantics stay eager; the handle re-opened so the
    // layout comes from the log): the outer query's predicates reach its
    // ManifestFileIndex, and its aggregates the log's metadata answer, as
    // on any MergeTable read.
    def snapshotView(table: MergeTable, ver: Long, view: String): Unit =
      MergeTable.open(table.root).readVersion(spark, ver).createOrReplaceTempView(view)
    rewritten = TimeTravelRef.replaceAllIn(rewritten, m => {
      val (name, ver) = (m.group(1), m.group(2).toLong)
      val table = resolve(name, targets)
      val view = s"${name.replace('.', '_')}__v$ver"
      snapshotView(table, ver, view)
      any = true
      java.util.regex.Matcher.quoteReplacement(view)
    })
    // TIMESTAMP AS OF: resolve to the version live at that instant
    // (commit publish times). Unregistered names are left untouched —
    // Spark's own parser owns time travel over real catalog tables.
    rewritten = TimestampTravelRef.replaceAllIn(rewritten, m => {
      val name = m.group(1)
      targets.get(name) match {
        case None => java.util.regex.Matcher.quoteReplacement(m.matched)
        case Some(table) =>
          val millis = parseTsMillis(Option(m.group(2)).getOrElse(m.group(3)))
          val ver = table.versionAt(millis)
          val view = s"${name.replace('.', '_')}__t$ver"
          snapshotView(table, ver, view)
          any = true
          java.util.regex.Matcher.quoteReplacement(view)
      }
    })
    // bare references to registered tables → current snapshot views
    targets.foreach { case (name, table) =>
      val bare = s"""(?i)(?<![\\w.])${java.util.regex.Pattern.quote(name)}(?![\\w.])""".r
      if (bare.findFirstIn(rewritten).isDefined) {
        val view = s"${name.replace('.', '_')}__cur"
        snapshotView(table, table.currentVersion, view)
        any = true
        rewritten = bare.replaceAllIn(rewritten,
          java.util.regex.Matcher.quoteReplacement(view))
      }
    }
    if (any) Some(rewritten) else None
  }

  /** Target table name of a `run`-shaped statement (DELETE / UPDATE /
    * VACUUM / OPTIMIZE), if `sql` parses as one — used by the injected
    * parser to decide interception WITHOUT executing anything.
    */
  private[sqlapi] def runStatementTarget(sql: String): Option[String] = sql match {
    case DeleteShape(tgt, _)    => Some(tgt)
    case UpdateShape(tgt, _)    => Some(tgt)
    // routed on the SOURCE: the clone's own name is by definition not
    // registered yet, but a registered source marks the statement ours
    case CloneShape(_, _, src, _)  => Some(src)
    case VacuumShape(tgt, _, _)    => Some(tgt)
    case ReorgShape(tgt)           => Some(tgt)
    case FsckShape(tgt)            => Some(tgt)
    case GenerateManifestShape(tgt) => Some(tgt)
    case CreateBloomShape(tgt, _)  => Some(tgt)
    case DropBloomShape(tgt, _)    => Some(tgt)
    case RestoreShape(tgt, _)      => Some(tgt)
    case RestoreTsShape(tgt, _, _) => Some(tgt)
    case ZorderShape(tgt, _)       => Some(tgt)
    case InsertShape(tgt, _, _)    => Some(tgt)
    case InsertOverwriteShape(tgt, _, _) => Some(tgt)
    case OptimizeShape(tgt, _)     => Some(tgt)
    case AddColumnsShape(tgt, _)   => Some(tgt)
    case RenameColumnShape(tgt, _, _) => Some(tgt)
    case AlterColumnTypeShape(tgt, _, _) => Some(tgt)
    case DropColumnShape(tgt, _)   => Some(tgt)
    case AddConstraintShape(tgt, _, _) => Some(tgt)
    case DropConstraintShape(tgt, _) => Some(tgt)
    case DropFeatureShape(tgt, _)  => Some(tgt)
    case SetNotNullShape(tgt, _)   => Some(tgt)
    case DropNotNullShape(tgt, _)  => Some(tgt)
    case SetPropsShape(tgt, _)     => Some(tgt)
    case UnsetPropsShape(tgt, _)   => Some(tgt)
    case DropTableShape(_, tgt)    => Some(tgt)
    case AnalyzeShape(tgt, _)      => Some(tgt)
    case TruncateShape(tgt)        => Some(tgt)
    case CommentShape(tgt, _, _)   => Some(tgt)
    case RenameTableShape(tgt, _)  => Some(tgt)
    case _                         => None
  }

  /** Target of a statement Spark has NO native executor for on a v2
    * catalog table — the set eligible for catalog-name routing through
    * the injected parser. Deliberately EXCLUDES everything the native
    * catalog surface already runs (INSERT, DELETE via SupportsDelete,
    * ALTER column/property DDL, DROP TABLE): those must keep reaching
    * Spark's own analyzer, which owns name resolution and casts there.
    */
  private[sqlapi] def catalogRoutableTarget(sql: String): Option[String] = sql match {
    case UpdateShape(tgt, _)       => Some(tgt)
    case CloneShape(_, _, src, _)  => Some(src)
    case VacuumShape(tgt, _, _)    => Some(tgt)
    case ReorgShape(tgt)           => Some(tgt)
    case FsckShape(tgt)            => Some(tgt)
    case GenerateManifestShape(tgt) => Some(tgt)
    case CreateBloomShape(tgt, _)  => Some(tgt)
    case DropBloomShape(tgt, _)    => Some(tgt)
    case RestoreShape(tgt, _)      => Some(tgt)
    case RestoreTsShape(tgt, _, _) => Some(tgt)
    case ZorderShape(tgt, _)       => Some(tgt)
    case OptimizeShape(tgt, _)     => Some(tgt)
    case AddConstraintShape(tgt, _, _) => Some(tgt)
    case DropConstraintShape(tgt, _)   => Some(tgt)
    case DropFeatureShape(tgt, _)      => Some(tgt)
    case SetNotNullShape(tgt, _)   => Some(tgt)
    case DropNotNullShape(tgt, _)  => Some(tgt)
    case AnalyzeShape(tgt, _)      => Some(tgt)
    case _                         => metaStatementTarget(sql)
  }

  /** True for `CREATE TABLE … USING GRAFT … AS SELECT` — the provider tag
    * means the statement is ours even though its target is (by definition)
    * not registered yet, so the injected parser routes on shape alone.
    */
  private[sqlapi] def isCreateStatement(sql: String): Boolean = sql match {
    case CreateTableShape(_, _, _, _, _, _, _)      => true
    case CreateEmptyShape(_, _, _, _, _, _, _)      => true
    // CONVERT routes on shape alone too: its target is a PATH, never a
    // registered name
    case ConvertShape(_, _, _)                      => true
    // CREATE OR REPLACE carries the provider tag too — routable on shape
    // alone whether or not the name is registered yet
    case CreateOrReplaceShape(_, _, _, _, _, _)     => true
    case _                                          => false
  }

  /** Target of a rows-returning metadata statement (DESCRIBE HISTORY /
    * SHOW PARTITIONS / SHOW TBLPROPERTIES), if `sql` is one.
    */
  private[sqlapi] def metaStatementTarget(sql: String): Option[String] = sql match {
    case DescribeHistoryShape(tgt, _)  => Some(tgt)
    case DescribeDetailShape(tgt)      => Some(tgt)
    case ShowPartitionsShape(tgt)      => Some(tgt)
    case ShowPropertiesShape(tgt)      => Some(tgt)
    case VacuumDryRunShape(tgt, _, _)  => Some(tgt)
    case ShowCreateShape(tgt)          => Some(tgt)
    case _                             => None
  }

  /** True when the metadata statement is VACUUM ... DRY RUN (path rows). */
  private[sqlapi] def isDryRunStatement(sql: String): Boolean = sql match {
    case VacuumDryRunShape(_, _, _) => true
    case _                          => false
  }

  /** True when the metadata statement is SHOW TBLPROPERTIES (fixed k/v schema). */
  private[sqlapi] def isPropertiesStatement(sql: String): Boolean = sql match {
    case ShowPropertiesShape(_) => true
    case _                      => false
  }

  /** True when the metadata statement is SHOW CREATE TABLE (one DDL row). */
  private[sqlapi] def isShowCreateStatement(sql: String): Boolean = sql match {
    case ShowCreateShape(_) => true
    case _                  => false
  }

  /** Strip one layer of matching quotes from a literal-ish token; bare
    * tokens pass through — property VALUES are stored verbatim, never
    * evaluated as expressions.
    */
  /** Parse a time-travel literal — `yyyy-MM-dd` or `yyyy-MM-dd HH:mm:ss[.SSS]`
    * — to epoch millis in the JVM default zone: commit publish times are
    * local-filesystem mtimes, so the same clock must read both sides of
    * the comparison.
    */
  private[graft] def parseTsMillis(s: String): Long = {
    val t = s.trim
    val local =
      if (t.length <= 10) java.time.LocalDate.parse(t).atStartOfDay()
      else java.time.LocalDateTime.parse(t.replace(' ', 'T'))
    local.atZone(java.time.ZoneId.systemDefault()).toInstant.toEpochMilli
  }

  private def stripQuotes(s0: String): String = {
    val t = s0.trim
    if (t.length >= 2 && ((t.head == '\'' && t.last == '\'') ||
        (t.head == '"' && t.last == '"'))) t.substring(1, t.length - 1)
    else t
  }

  /** True when the metadata statement is DESCRIBE HISTORY (fixed schema)
    * rather than SHOW PARTITIONS (table-dependent schema).
    */
  private[sqlapi] def isHistoryStatement(sql: String): Boolean = sql match {
    case DescribeHistoryShape(_, _) => true
    case _                          => false
  }

  /** True when the metadata statement is DESCRIBE DETAIL (fixed schema). */
  private[sqlapi] def isDetailStatement(sql: String): Boolean = sql match {
    case DescribeDetailShape(_) => true
    case _                      => false
  }

  private val IdentityColDef =
    ("""(?is)^\s*(\w+)\s+([\w()., ]+?)\s+GENERATED\s+ALWAYS\s+AS\s+IDENTITY""" +
     """(?:\s*\(\s*START\s+WITH\s+(-?\d+)\s+INCREMENT\s+BY\s+(-?\d+)\s*\))?\s*$""").r

  private val GeneratedColDef =
    """(?is)^\s*(\w+)\s+([\w()., ]+?)\s+GENERATED\s+ALWAYS\s+AS\s+\((.+)\)\s*$""".r

  /** Parse a CREATE TABLE column list with Delta's generated/identity
    * column syntax: plain `name TYPE` entries pass to Spark's DDL parser;
    * `GENERATED ALWAYS AS (expr)` lands as a generated column (derived on
    * every write, validated on update); `GENERATED ALWAYS AS IDENTITY
    * [(START WITH n INCREMENT BY m)]` as the identity column (gap-free
    * ids minted by the write path, explicit values refused). Split on
    * top-level commas — a decimal(10,2) or an expression comma must not
    * split an entry.
    */
  private[sqlapi] def parseColumnDefs(name: String, colsDdl: String)
      : (org.apache.spark.sql.types.StructType,
         Seq[(String, String)], Option[(String, Long, Long)]) = {
    import org.apache.spark.sql.types.StructType
    val entries = splitTopLevel(colsDdl).map(_.trim).filter(_.nonEmpty)
    var gens = Seq.empty[(String, String)]
    var ident: Option[(String, Long, Long)] = None
    val plain = entries.map {
      case IdentityColDef(c, tpe, start, step) =>
        require(ident.isEmpty,
          s"CREATE TABLE $name: at most one IDENTITY column is supported")
        ident = Some((c, Option(start).map(_.toLong).getOrElse(1L),
          Option(step).map(_.toLong).getOrElse(1L)))
        s"$c $tpe"
      case GeneratedColDef(c, tpe, genExpr) =>
        gens :+= c -> genExpr.trim
        s"$c $tpe"
      case other => other
    }
    (StructType.fromDDL(plain.mkString(", ")), gens, ident)
  }

  /** Delta-style INSERT INTO / INSERT OVERWRITE: by POSITION with
    * store-assignment casts; with a column list, listed columns arrive by
    * position, unlisted plain columns NULL-fill, and unlisted GENERATED /
    * IDENTITY columns are left absent so the write path derives them (a
    * NULL there would defeat the feature and trip the ALWAYS contract).
    * The source query may reference registered tables (bare or VERSION AS
    * OF) — rewriteReads resolves them to snapshot views.
    */
  private def runInsert(spark: SparkSession, tgt: String, table: MergeTable,
                        colList: String, query: String,
                        targets: Map[String, MergeTable],
                        overwrite: Boolean): Unit = {
    val rows = spark.sql(rewriteReads(spark, query, targets).getOrElse(query))
    val schema = table.schemaOf(table.currentVersion)
    val aligned = Option(colList)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq) match {
      case None =>
        require(rows.columns.length == schema.fields.length,
          s"INSERT INTO $tgt: query produces ${rows.columns.length} columns, " +
            s"table has ${schema.fields.length}")
        rows.toDF(schema.fieldNames.toIndexedSeq: _*)
          .select(schema.fields.toIndexedSeq.map(f =>
            col(f.name).cast(f.dataType).as(f.name)): _*)
      case Some(listed) =>
        val unknown = listed.filterNot(schema.fieldNames.contains)
        require(unknown.isEmpty,
          s"INSERT INTO $tgt: column(s) ${unknown.mkString(", ")} not in the " +
            s"table schema (${schema.fieldNames.mkString(", ")})")
        require(rows.columns.length == listed.length,
          s"INSERT INTO $tgt: query produces ${rows.columns.length} columns, " +
            s"the column list names ${listed.length}")
        val auto = table.generatedCols.map(_._1).toSet ++ table.identityCol.map(_._1)
        val renamed = rows.toDF(listed.toIndexedSeq: _*)
        renamed.select(schema.fields.toIndexedSeq.flatMap { f =>
          if (listed.contains(f.name)) Some(col(f.name).cast(f.dataType).as(f.name))
          else if (auto.contains(f.name)) None // derived inside the write
          else Some(org.apache.spark.sql.functions.lit(null).cast(f.dataType).as(f.name))
        }: _*)
    }
    if (overwrite) table.overwrite(aligned) else table.append(aligned)
  }

  /** Split an UPDATE's post-SET blob into (SET list, optional WHERE
    * predicate) at the FIRST top-level `WHERE` keyword — "top-level"
    * meaning outside parens and string literals, so
    * `SET c = (SELECT max(x) FROM s WHERE y = 1) WHERE p` splits at the
    * second WHERE, and a `'where'` inside a string literal never splits.
    * No top-level WHERE means the update applies to every row.
    */
  private[sqlapi] def splitSetsWhere(rest: String): (String, Option[String]) = {
    var depth = 0
    var inStr: Option[Char] = None
    var i = 0
    def isWordChar(c: Char): Boolean = Character.isLetterOrDigit(c) || c == '_'
    while (i < rest.length) {
      val ch = rest.charAt(i)
      inStr match {
        case Some(q) => if (ch == q) inStr = None
        case None => ch match {
          case '\'' | '"' => inStr = Some(ch)
          case '('        => depth += 1
          case ')'        => depth -= 1
          case 'w' | 'W' if depth == 0 && i + 5 <= rest.length &&
              rest.substring(i, i + 5).equalsIgnoreCase("where") &&
              (i == 0 || !isWordChar(rest.charAt(i - 1))) &&
              (i + 5 == rest.length || !isWordChar(rest.charAt(i + 5))) =>
            return (rest.take(i).trim, Some(rest.drop(i + 5).trim))
          case _ => ()
        }
      }
      i += 1
    }
    (rest.trim, None)
  }

  /** Split `c1 = e1, c2 = e2, ...` on top-level commas only — a comma
    * inside a function call (`coalesce(a, b)`) or string literal must not
    * split the assignment list.
    */
  private[sqlapi] def splitTopLevel(sets: String): Seq[String] = {
    val parts = Seq.newBuilder[String]
    var depth = 0
    var inStr: Option[Char] = None
    val cur = new StringBuilder
    sets.foreach { ch =>
      inStr match {
        case Some(q) =>
          cur += ch
          if (ch == q) inStr = None
        case None => ch match {
          case '\'' | '"' => inStr = Some(ch); cur += ch
          case '(' => depth += 1; cur += ch
          case ')' => depth -= 1; cur += ch
          case ',' if depth == 0 => parts += cur.result(); cur.clear()
          case _ => cur += ch
        }
      }
    }
    parts += cur.result()
    parts.result()
  }

  private[sqlapi] def parseSetList(sets: String): Seq[(String, String)] = {
    splitTopLevel(sets).map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"unsupported SET assignment '${a.trim}': expected col = expr")
      val colName = a.take(i).trim
      require(colName.matches("\\w+"),
        s"unsupported SET target '$colName': must be a plain column name")
      colName -> a.drop(i + 1).trim
    }
  }

  /** `k = v` property pairs: keys may be dotted or quoted; values are
    * stored VERBATIM (one quote layer stripped, SQL-standard doubled
    * quotes inside it unescaped — the inverse of SHOW CREATE TABLE's
    * emission), never evaluated.
    */
  private def parsePropList(kvs: String): Map[String, String] = {
    def unq(s0: String): String = {
      val t = s0.trim
      if (t.length >= 2 && t.head == '\'' && t.last == '\'')
        t.substring(1, t.length - 1).replace("''", "'")
      else if (t.length >= 2 && t.head == '"' && t.last == '"')
        t.substring(1, t.length - 1).replace("\"\"", "\"")
      else t
    }
    splitTopLevel(kvs).map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"unsupported TBLPROPERTIES entry '${a.trim}': expected k = v")
      unq(a.take(i).trim) -> unq(a.drop(i + 1).trim)
    }.toMap
  }

  /** Delta's `delta.enableDeletionVectors` routing: the property opts the
    * table's SQL DELETE/UPDATE (and MERGE, see [[MergeInto.run]]) into the
    * mask-based writers; rowTracking tables stay on the id-preserving
    * rewrites.
    */
  private def dvRouted(table: MergeTable): Boolean =
    table.properties.get(MergeTable.DeletionVectorsProp).contains("true") &&
      !table.rowTrackingEnabled

  /** Delta's `delta.enableChangeDataFeed`: the property turns the CDF on
    * for every SQL DML statement against the table.
    */
  private[sqlapi] def cdfOn(table: MergeTable): Boolean =
    table.properties.get(MergeTable.ChangeFeedProp).contains("true")

  private def resolve(name: String, targets: Map[String, MergeTable]): MergeTable =
    targets.getOrElse(name,
      LakeCatalog.resolveViaCatalog(org.apache.spark.sql.SparkSession.active, name)
        .getOrElse(throw new IllegalArgumentException(
          s"unknown table '$name' — registered targets: " +
            targets.keys.toSeq.sorted.mkString(", "))))
}
