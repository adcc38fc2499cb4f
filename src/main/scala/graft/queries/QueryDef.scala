package graft.queries

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named engine query: the DataFrame program plus (when the
  * semantics are ANSI-SQL-expressible) the equivalent DuckDB oracle
  * text the driver hash-compares against. `oracle = None` → the driver
  * records a weaker rows-only check (used for sketches, ML scoring,
  * streaming). */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def queriesOf(qs: Seq[QueryDef]): Map[String, (SparkSession, String) => DataFrame] =
    qs.map(q => q.name -> q.fn).toMap
  def oraclesOf(qs: Seq[QueryDef]): Map[String, String] =
    qs.collect { case QueryDef(n, _, Some(sql)) => n -> sql }.toMap

  /** A query's own table path under the session warehouse dir, keyed
    * by (sf dir, tag). */
  def tablePath(spark: SparkSession, dir: String, tag: String): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dir#$tag".getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"${spark.conf.get("spark.sql.warehouse.dir")}/graft-wh/$tag/$key"
  }

  /** [[tablePath]], deleted before the run: every table is a version
    * log, so a rerun that only overwrote it would add a version and
    * keep the superseded parts. */
  def freshTable(spark: SparkSession, dir: String, tag: String): String = {
    val path = tablePath(spark, dir, tag)
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    path
  }

  /** [[freshTable]] created as an empty directory, as a plain local
    * path for bodies that also touch it through java.io / java.nio. */
  def freshDir(spark: SparkSession, dir: String, tag: String): String = {
    val p = new Path(freshTable(spark, dir, tag))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p)
    p.toUri.getPath
  }
}
