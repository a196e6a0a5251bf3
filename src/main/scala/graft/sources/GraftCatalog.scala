package graft.sources

import java.util
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, NonEmptyNamespaceException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.lake.MergeTable

/** The DSv2 catalog plugin — Delta's ACTUAL integration architecture
  * (`spark.sql.catalog.x = DeltaCatalog`), here as
  * `spark.sql.catalog.<name> = graft.sources.GraftCatalog` plus
  * `spark.sql.catalog.<name>.warehouse = <dir>`. Once configured, the
  * whole of Spark's NATIVE multi-part-identifier SQL surface drives
  * MergeTable with no parser extension involved:
  *
  * {{{
  *   CREATE NAMESPACE cat.lake;
  *   CREATE TABLE cat.lake.t (id BIGINT, v STRING) PARTITIONED BY (v);
  *   CREATE TABLE cat.lake.c AS SELECT ...;          -- CTAS
  *   INSERT INTO cat.lake.t SELECT ...;              -- AppendData
  *   INSERT OVERWRITE cat.lake.t SELECT ...;         -- truncate + append
  *   SELECT ... FROM cat.lake.t;                     -- the MergeTable read
  *   DELETE FROM cat.lake.t WHERE p;                 -- SupportsDelete
  *   TRUNCATE TABLE cat.lake.t;
  *   ALTER TABLE cat.lake.t ADD COLUMN c INT;        -- log-only commits
  *   ALTER TABLE cat.lake.t RENAME COLUMN a TO b;    -- column mapping
  *   ALTER TABLE cat.lake.t DROP COLUMN c;
  *   ALTER TABLE cat.lake.t SET TBLPROPERTIES (...);
  *   ALTER TABLE cat.lake.t RENAME TO cat.lake.u;    -- O(1) dir move
  *   SHOW TABLES IN cat.lake;  SHOW NAMESPACES IN cat;
  *   DROP TABLE cat.lake.t;                          -- managed: data too
  * }}}
  *
  * Layout: `warehouse/<ns>/.../<table>` — a directory is a table iff it
  * holds a `_graft_log`, a namespace otherwise. No sidecar metastore
  * exists: the commit logs under the warehouse ARE the catalog state, so
  * two sessions (or 1000 executors' drivers) pointed at the same
  * warehouse see one consistent catalog with no coordination beyond the
  * tables' own atomic commit protocol. `renameTable` is a single
  * directory move — sound because every path a commit records is
  * root-relative by design.
  *
  * Scale: every listing is one directory's entries (metadata-sized);
  * loads open only the tip commit; nothing here touches data files.
  *
  * Reference: the reference's tables live in a Glue/Athena catalog as
  * `callcenter_analytics.<table>` (sql/athena_queries.sql qualifies every
  * name); this plugin is that catalog layer for graft tables, expressed
  * through Spark's own connector API rather than an external metastore.
  */
final class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var warehouse: Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val w = options.get("warehouse")
    require(w != null && w.nonEmpty,
      s"GraftCatalog '$name' requires spark.sql.catalog.$name.warehouse=<dir>")
    warehouse = Paths.get(w)
    Files.createDirectories(warehouse)
  }

  override def name(): String = catalogName

  /** Column DEFAULT values are accepted at CREATE time: Spark encodes
    * `c INT DEFAULT 5` as field metadata (CURRENT_DEFAULT /
    * EXISTS_DEFAULT), the commit log persists it (schemas serialize as
    * JSON precisely for this), and the analyzer then fills omitted
    * columns and the DEFAULT keyword on every INSERT natively.
    */
  override def capabilities(): util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] = {
    import org.apache.spark.sql.connector.catalog.TableCatalogCapability._
    util.EnumSet.of(SUPPORT_COLUMN_DEFAULT_VALUE,
      SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS)
  }

  private def dirOf(ns: Seq[String]): Path = ns.foldLeft(warehouse)(_ resolve _)
  private def tableDir(ident: Identifier): Path =
    dirOf(ident.namespace.toIndexedSeq).resolve(ident.name)
  private def isTable(p: Path): Boolean = Files.isDirectory(p.resolve("_graft_log"))

  private def openAt(ident: Identifier): MergeTable = {
    val p = tableDir(ident)
    if (!isTable(p)) throw new NoSuchTableException(ident)
    MergeTable.open(p.toString)
  }

  // ---- tables ----

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = dirOf(namespace.toIndexedSeq)
    if (!Files.isDirectory(d)) throw new NoSuchNamespaceException(namespace)
    Files.list(d).iterator().asScala
      .filter(isTable)
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray.sortBy(_.name())
  }

  override def loadTable(ident: Identifier): Table = graftTable(ident, Map.empty)

  override def tableExists(ident: Identifier): Boolean = isTable(tableDir(ident))

  /** `SELECT … FROM cat.ns.t VERSION AS OF n` — Spark's native
    * time-travel SQL resolves through this overload; the pinned version
    * rides the same reader option as the connector's `versionAsOf`.
    */
  override def loadTable(ident: Identifier, version: String): Table =
    graftTable(ident, Map("versionAsOf" -> version))

  /** `TIMESTAMP AS OF ts` — Spark hands the timestamp as MICROSECONDS
    * since the epoch; resolution against the commit timeline (in-commit
    * timestamps when present, mtime fallback) happens here so the scan
    * pins a concrete version.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    graftTable(ident, Map("versionAsOf" ->
      openAt(ident).versionAt(timestamp / 1000L).toString))

  private def graftTable(ident: Identifier, options: Map[String, String]): Table = {
    val p = tableDir(ident)
    if (!isTable(p)) throw new NoSuchTableException(ident)
    new GraftTable(p.toString, Nil, new StructType(), options + ("path" -> p.toString)).asV2
  }

  /** Spark-managed reserved properties that must not leak into the commit
    * log as user table properties (they arrive on every CREATE).
    */
  private val reservedProps: Set[String] = Set(
    TableCatalog.PROP_LOCATION, TableCatalog.PROP_IS_MANAGED_LOCATION,
    TableCatalog.PROP_EXTERNAL, TableCatalog.PROP_TABLE_TYPE,
    TableCatalog.PROP_COMMENT, TableCatalog.PROP_COLLATION,
    TableCatalog.PROP_PROVIDER, TableCatalog.PROP_OWNER)

  /** Native `GENERATED ALWAYS AS (expr)` / `AS IDENTITY` column DDL: the
    * Column[] variant carries the declarations, which map onto
    * MergeTable's own generated/identity machinery and persist in the
    * commit log (so any later handle keeps deriving/assigning).
    */
  override def createTable(ident: Identifier,
                           columns: Array[org.apache.spark.sql.connector.catalog.Column],
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val gens = columns.toSeq.filter(_.generationExpression() != null)
      .map(c => c.name() -> c.generationExpression())
    val identity = columns.toSeq.find(_.identityColumnSpec() != null).map { c =>
      val s = c.identityColumnSpec()
      (c.name(), s.getStart, s.getStep)
    }
    createTableImpl(ident,
      org.apache.spark.sql.GraftSqlShims.v2ColumnsToStructType(columns),
      partitions, properties, gens, identity)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table =
    createTableImpl(ident, schema, partitions, properties, Nil, None)

  private def createTableImpl(ident: Identifier, schema: StructType,
                              partitions: Array[Transform],
                              properties: util.Map[String, String],
                              gens: Seq[(String, String)],
                              identity: Option[(String, Long, Long)]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val nsDir = dirOf(ident.namespace.toIndexedSeq)
    if (!Files.isDirectory(nsDir)) throw new NoSuchNamespaceException(ident.namespace)
    val pcols = partitions.toSeq.map { t =>
      require(t.name == "identity",
        s"GraftCatalog supports identity PARTITIONED BY columns only, got: $t")
      t.references().head.fieldNames().mkString(".")
    }
    // external LOCATION is honored (Delta's external tables); otherwise the
    // table is managed under the warehouse and DROP removes its data
    val root = Option(properties.get(TableCatalog.PROP_LOCATION))
      .getOrElse(tableDir(ident).toString)
    val created = new MergeTable(root, pcols,
      generatedCols = gens, identityCol = identity)
    require(!created.exists,
      s"CREATE TABLE ${ident.name}: a MergeTable already exists at $root")
    created.createEmpty(schema)
    val user = properties.asScala.toMap.filter { case (k, _) =>
      !reservedProps.contains(k) && !k.startsWith(TableCatalog.OPTION_PREFIX)
    }
    if (user.nonEmpty) created.setProperties(user)
    loadTable(ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = openAt(ident)
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          s"ALTER TABLE ${ident.name}: nested column adds are not supported " +
            s"(got ${a.fieldNames.mkString(".")})")
        t.addColumns(new StructType().add(a.fieldNames.head, a.dataType))
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          s"ALTER TABLE ${ident.name}: nested column renames are not supported")
        t.renameColumn(r.fieldNames.head, r.newName)
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1,
          s"ALTER TABLE ${ident.name}: nested column drops are not supported")
        t.dropColumn(d.fieldNames.head)
      case w: TableChange.UpdateColumnType =>
        require(w.fieldNames.length == 1,
          s"ALTER TABLE ${ident.name}: nested column type changes are not supported")
        t.alterColumnType(w.fieldNames.head, w.newDataType)
      case s: TableChange.SetProperty =>
        t.setProperties(Map(s.property -> s.value))
      case rm: TableChange.RemoveProperty =>
        t.unsetProperties(Seq(rm.property))
      case n: TableChange.UpdateColumnNullability =>
        // NOT NULL rides the CHECK machinery exactly like the LakeSql
        // sugar: SET validates existing data then fuses enforcement into
        // every write. DROP removes that constraint and relaxes a NOT NULL
        // the commit schema declares (CREATE TABLE's); on a column never
        // constrained it is a no-op (Delta's tolerance)
        require(n.fieldNames.length == 1,
          s"ALTER TABLE ${ident.name}: nested column nullability changes are not supported")
        val c = n.fieldNames.head
        val cname = s"graft_notnull_$c"
        if (!n.nullable)
          t.addCheckConstraint(org.apache.spark.sql.SparkSession.active, cname,
            s"$c IS NOT NULL")
        else {
          if (t.checkConstraints.exists(_._1 == cname)) t.dropCheckConstraint(cname)
          t.dropNotNull(c)
        }
      case other =>
        throw new UnsupportedOperationException(
          s"ALTER TABLE ${ident.name}: unsupported change $other")
    }
    loadTable(ident)
  }

  /** Managed-table semantics: the directory (data + log) goes with the
    * drop — the catalog owns the layout, unlike the path-registered
    * external tables of [[graft.sqlapi.LakeSql]]'s DROP TABLE.
    */
  override def dropTable(ident: Identifier): Boolean = {
    val p = tableDir(ident)
    if (!isTable(p)) false
    else { deleteRecursively(p); true }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = tableDir(oldIdent)
    if (!isTable(from)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    val to = tableDir(newIdent)
    if (!Files.isDirectory(to.getParent))
      throw new NoSuchNamespaceException(newIdent.namespace)
    // commit logs record root-relative paths, so the move IS the rename
    Files.move(from, to)
  }

  // ---- namespaces ----

  private def childNamespaces(d: Path): Seq[String] =
    if (!Files.isDirectory(d)) Nil
    else Files.list(d).iterator().asScala
      .filter(p => Files.isDirectory(p) && !isTable(p))
      .map(_.getFileName.toString).toSeq.sorted

  override def listNamespaces(): Array[Array[String]] =
    childNamespaces(warehouse).map(Array(_)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val d = dirOf(namespace.toIndexedSeq)
    if (namespace.nonEmpty && !Files.isDirectory(d))
      throw new NoSuchNamespaceException(namespace)
    childNamespaces(d).map(c => namespace :+ c).toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || {
      val d = dirOf(namespace.toIndexedSeq)
      Files.isDirectory(d) && !isTable(d)
    }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map(SupportsNamespaces.PROP_LOCATION ->
      dirOf(namespace.toIndexedSeq).toString).asJava
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    if (namespaceExists(namespace) && namespace.nonEmpty)
      throw new NamespaceAlreadyExistsException(namespace)
    Files.createDirectories(dirOf(namespace.toIndexedSeq))
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "GraftCatalog namespaces carry no mutable metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace) || namespace.isEmpty)
      throw new NoSuchNamespaceException(namespace)
    val d = dirOf(namespace.toIndexedSeq)
    val empty = !Files.list(d).iterator().hasNext
    if (!empty && !cascade) throw new NonEmptyNamespaceException(namespace)
    deleteRecursively(d)
    true
  }

  private def deleteRecursively(p: Path): Unit = {
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
  }
}
