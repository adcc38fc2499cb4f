package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException
import org.apache.spark.sql.connector.catalog.{Identifier, StagedTable, SupportsWrite, TableCapability}
import org.apache.spark.sql.catalyst.plans.logical.AppendData
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftbridge.GraftDatasets
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
  *    (schema, table record + parts, `op=ctas`) at the end — a failed
  *    query leaves no table (no manifest ⇒ not a table; abort removes
  *    the debris);
  *  - RTAS writes its parts next to the LIVE table's (unreferenced),
  *    then publishes ONE truncate-style snapshot that lists only the
  *    new parts under the new schema and record with a FRESH column
  *    mapping — readers see the old table until that commit lands, a
  *    failed query leaves the old head untouched, and every
  *    pre-replace version stays time-travelable (`VERSION AS OF`).
  *
  * The layout (`PARTITIONED BY (…)` / `CLUSTER BY (c)`, the record's
  * [[TableSpec]]) plans the staged write through the same
  * [[ManifestSink.writePlan]] and routed writer a live table uses, so
  * a CTAS target is born with its layout — no create-then-insert
  * two-step. Compaction and REPLACE WHERE stage their rewrites through
  * the same write ([[GraftStagedTable.stageRewrite]]), and a
  * materialized view its rollup ([[GraftStagedTable.stage]]). */
private[sources] class GraftStagedTable(
    ident: Identifier, path: String, tableSchema: StructType,
    table: TableRecord, replace: Boolean,
    resolvesTransforms: Boolean = true,
    onto: Option[ManifestHeader] = None)
    extends StagedTable with SupportsWrite {

  private def spec = table.spec

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

  // REPLACE's write arrives as a truncate of the (notionally fresh)
  // staged table — truncation is inherent to staging
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new ManifestWriteBuilder((_, _) =>
      ManifestSink.writePlan(spec, resolvesTransforms)(
        () => new StagingWrite(info.schema())))

  /** Same task-side writers as a live table ([[ManifestWriterFactory]]
    * — stats, blooms, layout routing); the DRIVER-side commit only
    * stashes the part list. Nothing is published until
    * [[commitStagedChanges]]. A CTAS/RTAS writes onto the table it
    * publishes (fresh identity mapping, its own record); a staged
    * rewrite `onto` the header of the snapshot it rewrites. */
  private class StagingWrite(writeSchema: StructType) extends BatchWrite {
    private val token = java.util.UUID.randomUUID().toString.take(8)

    override def createBatchWriterFactory(
        info: PhysicalWriteInfo): DataWriterFactory = {
      val dir = new Path(path)
      dir.getFileSystem(sconf.value).mkdirs(dir)
      new ManifestWriterFactory(path, writeSchema, token, sconf, spec,
        onto.getOrElse(ManifestHeader(table = table)))
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      staged = ManifestSink.committedParts(messages.toSeq, spec)
      publishSchema = writeSchema
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      ManifestSink.abortParts(sconf.value, messages.toSeq)
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
    // a FRESH identity mapping (a replaced table's field ids described
    // the replaced schema) and the new definition's record: the
    // replaced table's layout, properties and constraints do not
    // survive into the new one — an unpartitioned RTAS over a bucketed
    // table must not keep routing inserts through the dead spec, nor
    // stale comments describe new data
    val restate = HeaderChange.Restate(clean,
      ColMap.identity(clean.fields.length).copy(defaults = defaults), table)
    // RTAS: one truncate-style snapshot — new schema, only the staged
    // parts; history keeps every pre-replace version
    if (!replace && ManifestLog(conf, path).snapshot().schema.isDefined)
      throw new TableAlreadyExistsException(ident)
    ManifestSink.publishRebase(conf, path, _ => staged, restate,
      op = if (replace) "replace" else "ctas")
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
    if (!replace && ManifestLog(conf, path).snapshot().schema.isEmpty)
      fs.delete(new Path(path), true)
  }
}

private[sources] object GraftStagedTable {

  /** THE STAGED REWRITE shared by compaction and the REPLACE WHERE
    * survivor rewrite: publish a by-reference read snapshot
    * `<dir>/<prefix>read-<token>` over `parts` (with the table's
    * column mapping, so mixed-generation parts decode — and through
    * the masking source, so deletion vectors apply), read it, apply
    * `f`, and stage the result straight into `dir` through the CTAS
    * staged write under `spec`. There is no function catalog behind
    * the rewrite, so bucket and days/hours layouts declare no
    * distribution: the caller pre-clusters. The parts are written
    * onto the `base` snapshot they come from (its mapping and bloom
    * settings), which the caller's commit pins. Returns the staged parts,
    * UNPUBLISHED — invisible until the caller's own
    * `publishRebase` lists them. After a crash, vacuum reclaims the
    * orphaned parts and `expire_snapshots` the stale read snapshot
    * (by its prefix). */
  def stageRewrite(spark: SparkSession, dir: String, base: Snapshot,
      schema: StructType, parts: Seq[PartMeta], prefix: String,
      spec: TableSpec)(
      f: DataFrame => DataFrame): Seq[PartMeta] = {
    val conf = ManifestSink.driverConf()
    val read = new Path(dir,
      s"${prefix}read-${java.util.UUID.randomUUID().toString.take(8)}")
    val fs = read.getFileSystem(conf)
    try {
      ManifestSink.publishReadCopy(conf, read.toString, base, schema, parts)
      stage(spark, dir, f(spark.read.format("graft.sources.ManifestSource")
        .option("path", read.toString).load()), spec, Some(base.header))
    } finally fs.delete(read, true)
  }

  /** Stage `df`'s rows into `dir` through the CTAS staged write under
    * `spec`, written onto the header `onto` (its mapping and bloom
    * settings; None = a fresh identity mapping). Returns the staged
    * parts, UNPUBLISHED — the caller's `publishRebase` lists them. */
  def stage(spark: SparkSession, dir: String, df: DataFrame,
      spec: TableSpec, onto: Option[ManifestHeader]): Seq[PartMeta] = {
    val table = new GraftStagedTable(Identifier.of(Array.empty, dir), dir,
      df.schema, TableRecord(spec), replace = true,
      resolvesTransforms = false, onto = onto)
    GraftDatasets.ofRows(spark, AppendData.byPosition(
      DataSourceV2Relation.create(table, None, None),
      df.queryExecution.logical))
    table.staged
  }
}
