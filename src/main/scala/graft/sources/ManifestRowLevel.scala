package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.catalog.MetadataColumn
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** The manifest format's one METADATA COLUMN: `_part`, the committed
  * part file a row was read from — the provenance column (Delta's
  * `_metadata.file_path` analog), and the GROUP IDENTITY the
  * row-level rewrite rides: Spark resolves the operation's
  * requiredMetadataAttributes against this, which switches the
  * ReplaceData write onto the projection path that strips the
  * internal `__row_operation` column and hands the connector clean
  * (metadata, row) pairs. */
private[sources] object PartMetaColumn extends MetadataColumn {
  val Name = "_part"
  override def name(): String = Name
  override def dataType(): DataType = StringType
  override def isNullable: Boolean = false
  override def comment(): String =
    "committed part file this row was read from"
}

/** `_pos` — the row's ordinal within its part file (row position).
  * (`_part`, `_pos`) is a stable physical row address: the
  * merge-on-read DELETE builds its deletion vectors from exactly
  * these two columns (Delta's `_metadata.row_index` analog). */
private[sources] object PosMetaColumn extends MetadataColumn {
  val Name = "_pos"
  override def name(): String = Name
  override def dataType(): DataType = org.apache.spark.sql.types.LongType
  override def isNullable: Boolean = false
  override def comment(): String =
    "row ordinal within its part file"
}

/** GROUP-BASED (copy-on-write) row-level operations for the manifest
  * format — what turns SQL `UPDATE`, `MERGE INTO`, and every `DELETE`
  * not answered from metadata into first-class DML on catalog tables
  * (the Iceberg copy-on-write shape; Spark's `RewriteUpdateTable` /
  * `RewriteMergeIntoTable` / `RewriteDeleteFromTable` plan a
  * ReplaceData over this operation when canDeleteWhere declines). A
  * DELETE whose scan finds a part wholly matched re-emits nothing for
  * it, so the part simply leaves the snapshot.
  *
  * The "group" is the PART FILE. The contract with Spark's
  * group-based rewrite:
  *
  *  1. the operation's scan reads candidate parts — pruned STATICALLY
  *     by whatever command predicates reference the key column, and
  *     at RUNTIME by the matched-key dynamic filter
  *     (`RowLevelOperationRuntimeGroupFiltering` feeds the scan's
  *     SupportsRuntimeV2Filtering, so parts that provably hold no
  *     matched row are never read OR rewritten) — except a DELETE
  *     whose key range or points already bound the parts, which
  *     declines that second scan;
  *  2. Spark re-emits EVERY surviving row of the scanned parts
  *     (changed and carried-over alike) into this operation's write;
  *  3. commit publishes `head − scannedParts + newParts` as the next
  *     snapshot — unscanned parts carry forward BY REFERENCE, the
  *     superseded files stay on disk for time travel (vacuum owns
  *     their retirement).
  *
  * Concurrency: the rewrite is planned against one snapshot, so the
  * commit pins it (`base` + the scanned parts as footprint) — a commit
  * racing the rewrite over the same parts, or a DDL, fails THIS
  * operation loudly instead of silently dropping either side's rows.
  *
  * At 100 TB this is the difference between "UPDATE rewrites the
  * table" and "UPDATE rewrites the handful of parts that contain
  * matched keys": the dynamic group filter + manifest stats/bloom
  * bound the rewrite by the MATCH footprint, not the table size.
  */
private[sources] class ManifestRowLevelOp(
    path: String, schema: StructType,
    cmd: RowLevelOperation.Command,
    val branch: Option[String] = None) extends RowLevelOperation {

  // (scanned parts, base snapshot) recorded by the scan at plan time —
  // volatile: planInputPartitions runs on a scheduler thread.
  // The base is the snapshot ManifestScanBuilder.build() planned the
  // part list from — re-reading the log here (execution time) could
  // observe a commit that landed after the plan, pinning the WRONG
  // (newer) snapshot and silently voiding the lost-update guard. The
  // writers are built onto its header for the same reason.
  @volatile private var scanState: Option[(Seq[PartMeta], Snapshot)] = None

  private[sources] def recordScan(parts: Seq[PartMeta], base: Snapshot): Unit =
    scanState = Some((parts, base))

  private[sources] def scannedOrFail: (Seq[PartMeta], Snapshot) =
    scanState.getOrElse(throw new IllegalStateException(
      s"row-level write on $path committed before its scan planned"))

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"graft.rowlevel($cmd, $path)"

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(PartMetaColumn.Name))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ManifestScanBuilder(path, schema,
      new SerializableConfiguration(ManifestSink.driverConf()),
      Ref.of(None, branch), rowLevelOwner = Some(this))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new ManifestReplaceWrite(path, info.schema(), ManifestRowLevelOp.this,
            new SerializableConfiguration(ManifestSink.driverConf()))
      }
    }
}

/** The replacement-data commit: stages parts exactly like a normal
  * write, then swaps the scanned parts for the new ones in a single
  * snapshot pinned to the rewrite's base version. */
private[sources] class ManifestReplaceWrite(
    path: String, schema: StructType, op: ManifestRowLevelOp,
    conf: SerializableConfiguration) extends BatchWrite {

  private val token = java.util.UUID.randomUUID().toString.take(8)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    val dir = new Path(path)
    dir.getFileSystem(conf.value).mkdirs(dir)
    val head = op.scannedOrFail._2.header
    val f = new ManifestWriterFactory(path, schema, token, conf, TableSpec(),
      head)
    // MERGE INSERT cannot generate identity/generated values on this
    // path; a NULL in a computed slot refuses rather than landing. A
    // DELETE only carries committed rows back, whose generated slots
    // may hold a computed NULL (`x * 2` of a NULL x): no guard
    val guard =
      if (op.command() == RowLevelOperation.Command.DELETE) Seq.empty
      else ComputedColumns.guardSlots(head.table.props, schema)
    if (guard.isEmpty) f else ComputedNullGuardFactory(f, schema, guard)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // an all-deleted group re-emits nothing, and its task stages no part
    val newParts = ManifestSink.committedParts(messages.toSeq)
    val (replaced, base) = op.scannedOrFail
    // nothing scanned and nothing inserted changes nothing: no empty
    // version
    if (replaced.isEmpty && newParts.isEmpty) return
    val replacedPaths = replaced.map(_.path).toSet
    // footprint = the scanned (replaced) parts: a concurrent commit
    // that only touched OTHER parts composes — its parts carry
    // forward through the head-aware rebase; one that dropped or
    // re-vectored a scanned part conflicts loudly
    ManifestSink.publishRebase(conf.value, path,
      head => head.filterNot(p => replacedPaths.contains(p.path)) ++ newParts,
      HeaderChange.Keep, base = Some(base), footprint = Some(replacedPaths),
      branch = op.branch,
      op = op.command().toString.toLowerCase)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    ManifestSink.abortParts(conf.value, messages.toSeq)
}
