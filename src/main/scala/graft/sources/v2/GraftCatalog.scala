package graft.sources.v2

import java.util
import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Minimal TableCatalog exposing [[GraftParquetTable]]s so SQL DDL/DML —
  * including literal `MERGE INTO` (via SupportsRowLevelOperations) — runs
  * against the engine: `spark.sql.catalog.graft =
  * graft.sources.v2.GraftCatalog`. Every table is a parquet directory
  * named by `CREATE TABLE … LOCATION '<dir>'`; the catalog itself holds
  * only the name → table map, in driver memory (SURVEY §7.3 MERGE INTO
  * parity; [[graft.operators.ParquetTableStore.sqlTable]] registers the
  * store's tables this way). */
class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private val tables = new TrieMap[Identifier, Table]()

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  override def listTables(namespace: Array[String]): Array[Identifier] =
    tables.keys.filter(_.namespace().sameElements(namespace)).toArray

  override def loadTable(ident: Identifier): Table =
    tables.getOrElse(ident, throw new NoSuchTableException(ident))

  override def createTable(ident: Identifier, columns: Array[Column],
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val schema = StructType(columns.map(c =>
      StructField(c.name(), c.dataType(), c.nullable())))
    createTable(ident, schema, partitions, properties)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    // fail fast rather than silently creating an unpartitioned table
    if (partitions.nonEmpty) throw new UnsupportedOperationException(
      "GraftCatalog tables do not support PARTITIONED BY")
    val loc = Option(properties.get(TableCatalog.PROP_LOCATION)).getOrElse(
      throw new UnsupportedOperationException(s"GraftCatalog table $ident " +
        "needs a LOCATION: its rows live in a parquet directory " +
        "(CREATE TABLE … LOCATION '<dir>')"))
    val t = new GraftParquetTable(ident.toString, loc, schema)
    // atomic: a contains-then-put race would let two CREATEs both succeed
    if (tables.putIfAbsent(ident, t).isDefined)
      throw new TableAlreadyExistsException(ident)
    t
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("ALTER TABLE not supported by GraftCatalog")

  override def dropTable(ident: Identifier): Boolean = tables.remove(ident).isDefined

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    // TableCatalog contract: missing source and existing destination are
    // errors, not silent no-op / clobber
    val t = tables.getOrElse(oldIdent, throw new NoSuchTableException(oldIdent))
    if (tables.putIfAbsent(newIdent, t).isDefined)
      throw new TableAlreadyExistsException(newIdent)
    tables.remove(oldIdent)
  }

  // SupportsNamespaces: flat, everything exists under any namespace
  override def listNamespaces(): Array[Array[String]] = Array(Array("default"))
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    Array.empty
  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    new util.HashMap[String, String]()
  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = ()
  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit = ()
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = true
  override def namespaceExists(namespace: Array[String]): Boolean = true
}
