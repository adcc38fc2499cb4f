package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException
import org.apache.spark.sql.connector.catalog.{Identifier, StagedTable, SupportsWrite, TableCapability}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

/** Atomic `CREATE TABLE … AS SELECT` / `REPLACE TABLE … AS SELECT`
  * ([[GraftCatalog]] as a `StagingTableCatalog`): the produce-and-
  * publish-in-one-step shape — the reference's K1 writes its output
  * and publishes it as one target
  * (`/root/reference/queue_time_predictions/preprocess_image.py:139-151`);
  * at warehouse scale the same contract is "the query's rows and the
  * table's existence commit together".
  *
  * The commit-point rule of the manifest format does the heavy
  * lifting: data parts written into the table directory are INVISIBLE
  * until a manifest snapshot lists them, so
  *
  *  - CTAS writes every part first and publishes ONE snapshot
  *    (schema + parts, `op=ctas`) at the end — a failed query leaves
  *    no table (no manifest ⇒ not a table; abort removes the debris);
  *  - RTAS writes its parts next to the LIVE table's (unreferenced),
  *    then publishes ONE truncate-style snapshot that lists only the
  *    new parts under the new schema with a FRESH column mapping —
  *    readers see the old table until that commit lands, a failed
  *    query leaves the old head untouched, and every pre-replace
  *    version stays time-travelable (`VERSION AS OF`).
  *
  * Layout transforms (`PARTITIONED BY (bucket(n, col))` / identity
  * split) route the staged write through the same clustered
  * distribution + bucketed/split writers a live table uses, so a CTAS
  * target is born with its layout — no create-then-insert two-step. */
private[sources] class GraftStagedTable(
    ident: Identifier, path: String, tableSchema: StructType,
    bucketSpec: Option[(Int, String, Option[String])], replace: Boolean,
    tableProps: Map[String, String] = Map.empty)
    extends StagedTable with SupportsWrite {

  private val conf = ManifestSink.driverConf()
  private val sconf = new SerializableConfiguration(conf)

  /** Parts the staged query produced, stashed by the BatchWrite's
    * driver-side commit; published only in [[commitStagedChanges]]. */
  @volatile private var staged: Seq[PartMeta] = Seq.empty
  @volatile private var publishSchema: StructType = tableSchema

  override def name(): String = ident.toString
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate {
      // REPLACE's write arrives as a truncate of the (notionally
      // fresh) staged table — truncation is inherent to staging
      override def truncate(): WriteBuilder = this
      override def build(): Write = bucketSpec match {
        case None => new Write {
          override def toBatch: BatchWrite = new StagingWrite(info.schema())
        }
        case Some((0, c, tf)) => new Write with RequiresDistributionAndOrdering {
          override def requiredDistribution(): Distribution =
            Distributions.clustered(Array(tf match {
              case Some(TimeSplit.Days) => Expressions.days(c)
              case Some(TimeSplit.Hours) => Expressions.hours(c)
              case _ => Expressions.identity(c)
            }))
          override def requiredOrdering(): Array[SortOrder] = Array.empty
          override def toBatch: BatchWrite =
            new StagingWrite(info.schema(), splitBy = Some(c),
              splitTransform = tf)
        }
        case Some((n, c, _)) => new Write with RequiresDistributionAndOrdering {
          override def requiredDistribution(): Distribution =
            Distributions.clustered(Array(Expressions.bucket(n, c)))
          override def requiredOrdering(): Array[SortOrder] =
            Array(Expressions.sort(Expressions.column(c),
              SortDirection.ASCENDING))
          override def toBatch: BatchWrite =
            new StagingWrite(info.schema(), buckets = Some(n))
        }
      }
    }

  /** Same task-side writers as a live table ([[ManifestWriterFactory]]
    * — stats, blooms, bucket/split routing); the DRIVER-side commit
    * only stashes the part list. Nothing is published until
    * [[commitStagedChanges]]. */
  private class StagingWrite(writeSchema: StructType,
      buckets: Option[Int] = None, splitBy: Option[String] = None,
      splitTransform: Option[String] = None)
      extends BatchWrite {
    private val token = java.util.UUID.randomUUID().toString.take(8)

    override def createBatchWriterFactory(
        info: PhysicalWriteInfo): DataWriterFactory = {
      val dir = new Path(path)
      dir.getFileSystem(sconf.value).mkdirs(dir)
      new ManifestWriterFactory(path, writeSchema, token, sconf,
        buckets, splitBy, splitTransform)
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      staged = ManifestSink.committedParts(messages.toSeq, buckets)
      publishSchema = writeSchema
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      val fs = new Path(path).getFileSystem(sconf.value)
      messages.foreach {
        case m: PartMeta => fs.delete(new Path(m.path), false)
        case m: MultiPartCommit =>
          m.parts.foreach(p => fs.delete(new Path(p.path), false))
        case _ => ()
      }
    }
  }

  override def commitStagedChanges(): Unit = {
    // defaults arrive as field metadata (like createTable); store in
    // the colmap header, publish the schema clean
    val defaults: Map[Int, (String, String)] =
      publishSchema.fields.zipWithIndex.collect {
        case (f, i) if f.metadata.contains("CURRENT_DEFAULT") ||
            f.metadata.contains("EXISTS_DEFAULT") =>
          def key(k: String) =
            if (f.metadata.contains(k)) f.metadata.getString(k) else ""
          i -> (key("CURRENT_DEFAULT"), key("EXISTS_DEFAULT"))
      }.toMap
    val clean = StructType(publishSchema.fields.map { f =>
      val g = StructField(f.name, f.dataType, f.nullable)
      f.getComment().fold(g)(g.withComment)
    })
    val cm =
      if (defaults.isEmpty) None
      else Some(ColMap.identity(clean.fields.length).copy(defaults = defaults))
    bucketSpec match {
      case Some((n, c, tf)) =>
        ManifestSink.writeTableSpec(conf, path,
          TableSpec(Some((n, c)), transform = tf))
      case None if replace =>
        // the replaced table's layout does not survive into the new
        // one: an unpartitioned RTAS over a bucketed table must not
        // keep routing inserts through the dead spec
        ManifestSink.clearTableSpec(conf, path)
      case None => ()
    }
    // TBLPROPERTIES travel with the definition: CTAS persists them,
    // RTAS REPLACES them (stale comments must not describe new data)
    if (replace || tableProps.nonEmpty)
      ManifestSink.writeTableProps(conf, path, tableProps)
    if (replace)
      // one truncate-style snapshot: new schema, only the staged
      // parts, FRESH identity mapping (old field ids described the
      // replaced schema) — history keeps every pre-replace version
      ManifestSink.publishRebase(conf, path, clean,
        rebase = _ => staged, strictBase = None,
        colmapOverride = Some(cm.getOrElse(
          ColMap.identity(clean.fields.length))),
        stampNew = false, op = "replace")
    else {
      if (ManifestSink.readSchema(conf, path).isDefined)
        throw new TableAlreadyExistsException(ident)
      ManifestSink.publishSnapshot(conf, path, clean, staged,
        colmap = cm, op = "ctas")
    }
  }

  override def abortStagedChanges(): Unit = {
    val fs = new Path(path).getFileSystem(conf)
    // parts stashed by a committed-but-unpublished write are ours to
    // reclaim; a mid-write failure's files were already dropped by
    // the BatchWrite abort
    staged.foreach(p => fs.delete(new Path(p.path), false))
    staged = Seq.empty
    // a failed CREATE leaves no table — if no manifest was ever
    // committed here, the directory is pure staging debris
    if (!replace && ManifestSink.readSchema(conf, path).isEmpty)
      fs.delete(new Path(path), true)
  }
}
