package graft.streaming.source

import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.log.{Catalog, StreamStore}
import graft.model.StreamConfig

/** Spark TableCatalog over a graft root: basins are namespaces,
  * streams are tables, so the whole store is first-class SQL —
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.graft",
  *   "graft.streaming.source.GraftCatalogPlugin")
  * spark.conf.set("spark.sql.catalog.graft.root", "/data/graft-root")
  * spark.sql("SHOW TABLES IN graft.`prod-basin-1`")
  * spark.sql("SELECT count(*) FROM graft.`prod-basin-1`.orders")
  * }}}
  *
  * Reads resolve through the same DSv2 table as
  * `spark.read.format("graft-stream")`: one planner with footer-stat
  * pruning, masked by [[graft.log.Visibility]] (manifest trim point and
  * tail, retention cutoff) exactly like `StreamStore.read`.
  * CREATE/DROP TABLE map to control-plane create/delete-stream; the
  * record schema is fixed by the engine (`StreamStore.RecordSchema`),
  * so CREATE TABLE accepts only an empty or matching schema.
  */
class GraftCatalogPlugin extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var root: String = _
  private lazy val catalog = new Catalog(root)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires spark.sql.catalog.$name.root"))
  }
  override def name(): String = catalogName

  private def basinOf(namespace: Array[String]): String = namespace match {
    case Array(b) => b
    case _ => throw new NoSuchNamespaceException(catalogName +: namespace)
  }

  // ---- namespaces = basins ----

  override def listNamespaces(): Array[Array[String]] =
    catalog.listBasins().items.map(b => Array(b.name)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else throw new NoSuchNamespaceException(catalogName +: namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && catalog.getBasin(namespace(0)).isDefined

  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] = {
    val b = basinOf(namespace)
    catalog.getBasin(b) match {
      case Some(e) => e.config.asJava
      case None => throw new NoSuchNamespaceException(catalogName +: namespace)
    }
  }

  override def createNamespace(namespace: Array[String],
                               metadata: JMap[String, String]): Unit = {
    catalog.createBasin(basinOf(namespace)).left.foreach(e =>
      throw new IllegalStateException(s"createBasin failed: $e"))
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "alter basin via Catalog.reconfigureBasin")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val b = basinOf(namespace)
    if (!cascade && catalog.listStreams(b, limit = 1).items.nonEmpty)
      throw new IllegalStateException(
        s"basin $b is not empty; use DROP NAMESPACE ... CASCADE " +
          "(streams are soft-deleted and reclaimed by maintenance)")
    catalog.markBasinDeleted(b); true
  }

  // ---- tables = streams ----

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val b = basinOf(namespace)
    catalog.listStreams(b).items
      .map(s => Identifier.of(Array(b), s.name)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace.length == 1 &&
      catalog.getStream(ident.namespace()(0), ident.name).isDefined

  override def loadTable(ident: Identifier): Table = {
    val b = basinOf(ident.namespace)
    if (catalog.getStream(b, ident.name).isEmpty)
      throw new NoSuchTableException(ident.namespace.toSeq :+ ident.name)
    new GraftStreamTable(Map(
      "root" -> root, "basin" -> b, "stream" -> ident.name))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table = {
    if (schema.nonEmpty && schema != StreamStore.RecordSchema)
      throw new IllegalArgumentException(
        "graft streams have a fixed record schema; omit the column list")
    val b = basinOf(ident.namespace)
    // TBLPROPERTIES speak the catalog's flattened config codec, so
    //   CREATE TABLE g.b.s TBLPROPERTIES('retention_age_secs'='3600')
    // configures the stream like a control-plane create would
    // (Spark injects bookkeeping keys like 'owner'; only codec keys
    // are honored)
    val config = graft.log.ConfigCodec.decode(properties.asScala.toMap)
    catalog.createStream(b, ident.name, config).left.foreach(e =>
      throw new IllegalStateException(s"createStream failed: $e"))
    loadTable(ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      "alter stream via Catalog.reconfigureStream")

  override def dropTable(ident: Identifier): Boolean = {
    val b = basinOf(ident.namespace)
    if (catalog.getStream(b, ident.name).isEmpty) false
    else { catalog.markStreamDeleted(b, ident.name); true }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("streams cannot be renamed")
}
