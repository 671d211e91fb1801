package graft.sql

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{CatalogPlugin, Identifier, NamespaceChange, SupportsNamespaces, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The `graft` CATALOG PLUGIN (VERDICT r14 #2/#5): registers the lake
  * engine where Spark resolves every other table — the catalog manager —
  * so `graft.<ns>.<table>` names route here instead of tripping the
  * session catalog's single-part-namespace check. Registered by
  * GraftSession as `spark.sql.catalog.graft=graft.sql.GraftTableCatalog`
  * (a runtime conf — spark-submit or `spark.conf.set` work too).
  *
  * What this buys, all through STANDARD Spark grammar with no parser
  * involvement:
  *
  *   - `SELECT … FROM graft.ns.t` — resolution calls [[loadTable]], which
  *     returns a [[GraftTable]] MARKER (schema + time-travel spec);
  *     [[GraftRelationRule]] then swaps the marker relation for the real
  *     catalog-read plan during analysis. Side-effect-free: no temp
  *     views, nothing survives an EXPLAIN;
  *   - `VERSION AS OF n` / `TIMESTAMP AS OF ts` — Spark's native
  *     time-travel grammar calls the [[loadTable]] overloads (so the
  *     clauses now work in ANY relation position, subqueries included,
  *     not just the façade regex's FROM/JOIN sites);
  *   - `SHOW NAMESPACES IN graft`, `SHOW TABLES IN graft.ns`,
  *     `DESCRIBE [EXTENDED] graft.ns.t`, `DROP TABLE graft.ns.t` — the
  *     standard v2 catalog verbs over [[graft.lake.LakeCatalog]]'s
  *     metadata, SQL-reachable (VERDICT r14 #5). All metadata-only:
  *     namespace/table listing is directory listing, DESCRIBE's row
  *     count comes from the per-commit stats sidecars, no data IO.
  *
  * The lake root resolves per call from [[GraftSqlParser.RootConf]]
  * (falling back to the catalog option `spark.sql.catalog.graft.root`) —
  * loud when neither is set. Mutation verbs that have richer façade/API
  * spellings (CREATE TABLE AS, MERGE, UPDATE/DELETE) are intercepted by
  * [[GraftSqlParser]] before ever reaching this catalog; the bare v2
  * `createTable`/`alterTable` refuse loudly rather than silently creating
  * an empty non-graft layout.
  */
class GraftTableCatalog extends CatalogPlugin with TableCatalog with SupportsNamespaces {

  private var catalogName: String = "graft"
  private var optionRoot: Option[String] = None

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    optionRoot = Option(options.get("root"))
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  private def lake: graft.lake.LakeCatalog = {
    val root = spark.conf.getOption(GraftSqlParser.RootConf)
      .orElse(optionRoot)
      .getOrElse(sys.error(
        s"set ${GraftSqlParser.RootConf} (or catalog option " +
          s"spark.sql.catalog.$catalogName.root) to the lake root before " +
          s"using $catalogName.<ns>.<table> SQL"))
    graft.lake.LakeCatalog(spark, root)
  }

  private def nsOf(ident: Identifier): String = {
    require(ident.namespace.length == 1,
      s"$catalogName tables are $catalogName.<ns>.<table>, got " +
        (ident.namespace :+ ident.name).mkString("."))
    ident.namespace.head
  }

  // ----- namespaces --------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] =
    lake.listNamespaces().sorted.map(Array(_)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && lake.listNamespaces().contains(namespace.head)

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    util.Collections.emptyMap()
  }

  override def createNamespace(
      namespace: Array[String], metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      s"$catalogName namespaces appear with their first table (CTAS) — " +
        "there is no empty-namespace object to create")

  override def alterNamespace(
      namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      s"$catalogName namespaces carry no mutable metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException(
      s"drop $catalogName tables individually (DROP TABLE $catalogName.ns.t)")

  // ----- tables ------------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    lake.listTables(namespace.head).sorted
      .map(t => Identifier.of(namespace, t)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace.length == 1 && !ident.name.startsWith("@") &&
      lake.tableExists(nsOf(ident), ident.name)

  override def loadTable(ident: Identifier): Table = {
    // the façade's `@stream` suffix arrives here as a 4-part name whose
    // final segment is the spec; refusing lets the relation stay
    // UNRESOLVED so GraftRelationRule can claim it
    if (ident.name.startsWith("@") || ident.namespace.length != 1 ||
        !lake.tableExists(ident.namespace.head, ident.name))
      throw new NoSuchTableException(ident)
    GraftTable(nsOf(ident), ident.name, lake, None, None)
  }

  override def loadTable(ident: Identifier, version: String): Table = {
    val ns = nsOf(ident)
    if (!lake.tableExists(ns, ident.name))
      throw new NoSuchTableException(ident)
    GraftTable(ns, ident.name, lake, Some(version.toInt), None)
  }

  /** `TIMESTAMP AS OF` — Spark hands the evaluated timestamp in
    * MICROseconds (session TZ is pinned UTC, so SQL time travel and
    * [[graft.lake.LakeCatalog.readAsOf]]'s epoch-ms clock agree).
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val ns = nsOf(ident)
    if (!lake.tableExists(ns, ident.name))
      throw new NoSuchTableException(ident)
    GraftTable(ns, ident.name, lake, None, Some(timestamp / 1000L))
  }

  override def createTable(
      ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException(
      s"create $catalogName tables with data: CREATE TABLE " +
        s"$catalogName.<ns>.<t> AS SELECT … (or the LakeCatalog/TableMerger API)")

  /** `ALTER TABLE graft.ns.t ADD COLUMN(S) …` (r16, VERDICT r15 #5): the
    * add-nullable-top-level-column case lands as a METADATA-ONLY `col/`
    * manifest declaration ([[graft.lake.LakeCatalog.addColumn]]) — reads
    * null-fill the column until data carries it, prior snapshots keep the
    * pre-evolution schema. Everything else (drops, renames, type changes,
    * nested fields, NOT NULL) still refuses loudly: the engine's
    * union-by-name evolution has no sound semantics for them.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val ns = nsOf(ident)
    if (!lake.tableExists(ns, ident.name)) throw new NoSuchTableException(ident)
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          s"$catalogName ALTER TABLE adds TOP-LEVEL columns only; nested " +
            s"field ${add.fieldNames.mkString(".")} has no graft spelling")
        require(add.isNullable,
          s"$catalogName ALTER TABLE ADD COLUMN must be nullable — " +
            "pre-evolution rows are null-filled on read")
        lake.addColumn(ns, ident.name, add.fieldNames.head, add.dataType())
        ()
      case other => throw new UnsupportedOperationException(
        s"$catalogName ALTER TABLE supports ADD COLUMN (nullable, " +
          s"top-level) only — got ${other.getClass.getSimpleName}; drops/" +
          "renames/type changes have no graft spelling (copy via CTAS)")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val exists = tableExists(ident)
    if (exists) lake.dropTable(nsOf(ident), ident.name)
    exists
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      s"$catalogName tables are identified by their storage path; " +
        "copy via CTAS instead of renaming")
}

/** Marker [[Table]] the catalog returns: schema + time-travel spec only.
  * It deliberately reports NO capabilities — [[GraftRelationRule]] swaps
  * its relation for the real multi-commit read plan (parquet relations,
  * deletion-vector anti-joins) during analysis, so the marker never
  * executes; if the rule is not installed (extensions missing), analysis
  * fails loudly with an unsupported-scan error instead of silently
  * reading wrong bytes. DESCRIBE works off the marker alone.
  */
final case class GraftTable(
    ns: String,
    table: String,
    lake: graft.lake.LakeCatalog,
    pinnedVersion: Option[Int],
    asOfMs: Option[Long]) extends Table {

  override def name(): String = s"graft.$ns.$table"

  /** The real read plan this marker stands for — built ONCE per marker
    * (loadTable's schema() and the resolution rule's swap share it; the
    * multi-commit plan construction costs manifest and commit-record
    * reads, and a self-join statement would otherwise pay it four times).
    */
  private lazy val realRead: org.apache.spark.sql.DataFrame =
    (pinnedVersion, asOfMs) match {
      case (Some(v), _) => lake.read(ns, table, Some(v))
      case (_, Some(ms)) => lake.readAsOf(ns, table, ms)
      case _ => lake.read(ns, table)
    }

  def read(): org.apache.spark.sql.DataFrame = realRead

  override lazy val schema: StructType = realRead.schema

  override def capabilities(): util.Set[TableCapability] =
    util.Collections.emptySet()

  override lazy val properties: util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    m.put("format", "graft (parquet + versioned manifests)")
    m.put("rows", lake.rowCount(ns, table).toString)
    m.put("version",
      pinnedVersion.orElse(lake.versions(ns, table).lastOption).getOrElse(0).toString)
    m
  }
}
