package graft.sources

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.catalog.{Identifier, View, ViewInfo}
import org.apache.spark.sql.types.StructType

/** PERSISTENT SQL VIEW storage for [[GraftCatalog]] — the
  * `CREATE VIEW cat.ns.v AS SELECT ...` half of the catalog surface
  * (Spark 4's DSv2 `ViewCatalog`). A view is pure metadata: the SQL
  * text plus the resolution context Spark needs to re-expand it
  * (current catalog/namespace at creation, the analyzed schema,
  * output names, optional column aliases/comments, properties) — so
  * the storage is one tiny record file per view,
  * `warehouse/<ns…>/<name>.view.json`, written atomically
  * (temp + rename, the same single-writer publication pattern the
  * manifest format uses). Table directories and view files share a
  * namespace directory without colliding: a table IS a directory, a
  * view IS a `.view.json` file. The record format is [[MetaJson]]'s.
  * At 100 TB none of this matters and that is the point: views add
  * query-text indirection with zero data-path cost.
  */
private[sources] object GraftViews {

  private val Suffix = ".view.json"

  def viewPath(warehouse: String, ident: Identifier): Path =
    new Path((warehouse +: ident.namespace()).mkString("/"),
      ident.name() + Suffix)

  def exists(conf: Configuration, warehouse: String,
      ident: Identifier): Boolean = {
    val p = viewPath(warehouse, ident)
    p.getFileSystem(conf).exists(p)
  }

  def write(conf: Configuration, warehouse: String, info: ViewInfo,
      orReplace: Boolean): Unit = {
    val p = viewPath(warehouse, info.ident())
    val body = MetaJson.encodeView(info)
    if (orReplace) MetaJson.replace(conf, p.getParent, p.getName, body)
    else if (!MetaJson.claim(conf, p.getParent, p.getName, body))
      throw new java.io.IOException(s"view publish failed: $p exists")
  }

  def read(conf: Configuration, warehouse: String,
      ident: Identifier): Option[View] =
    MetaJson.read(conf, viewPath(warehouse, ident))
      .map(MetaJson.decodeView(ident, _))

  def list(conf: Configuration, warehouse: String,
      namespace: Array[String]): Array[Identifier] = {
    val ns = new Path((warehouse +: namespace).mkString("/"))
    val fs = ns.getFileSystem(conf)
    if (!fs.exists(ns)) return Array.empty
    fs.listStatus(ns).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(Suffix))
      .map(st => Identifier.of(namespace,
        st.getPath.getName.dropRight(Suffix.length)))
      .toArray
  }

  def drop(conf: Configuration, warehouse: String,
      ident: Identifier): Boolean = {
    val p = viewPath(warehouse, ident)
    val fs = p.getFileSystem(conf)
    fs.exists(p) && fs.delete(p, false)
  }
}

private[sources] final class GraftView(
    viewName: String, viewSql: String, catalog: String,
    namespace: Array[String], viewSchema: StructType,
    queryCols: Array[String], aliases: Array[String],
    comments: Array[String], props: util.Map[String, String])
    extends View {
  override def name(): String = viewName
  override def query(): String = viewSql
  override def currentCatalog(): String = catalog
  override def currentNamespace(): Array[String] = namespace
  override def schema(): StructType = viewSchema
  override def queryColumnNames(): Array[String] =
    if (queryCols == null) Array.empty else queryCols
  override def columnAliases(): Array[String] =
    if (aliases == null) Array.empty else aliases
  override def columnComments(): Array[String] =
    if (comments == null) Array.empty else comments
  override def properties(): util.Map[String, String] = props
}
