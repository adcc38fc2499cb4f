package graft.sources

import java.util.{Collections, Iterator => JIterator}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL STORED PROCEDURES for the manifest table format — Spark 4's
  * native DSv2 procedure API ([[org.apache.spark.sql.connector.catalog.ProcedureCatalog]],
  * SPARK-44167), the same shape Iceberg ships its maintenance surface
  * in. Every lifecycle operation [[ManifestMaintenance]] implements
  * becomes SQL-addressable:
  *
  * {{{
  *   CALL graftcat.system.compact(table => 'wh.t', target_parts => 4,
  *                                cluster_by => 'event_id')
  *   CALL graftcat.system.compact_vectors(table => 'wh.t')
  *   CALL graftcat.system.expire_snapshots(table => 'wh.t', keep_last => 2)
  *   CALL graftcat.system.rollback(table => 'wh.t', version => 1)
  *   CALL graftcat.system.fast_forward(table => 'wh.t', branch => 'audit')
  *   CALL graftcat.system.drop_branch(table => 'wh.t', branch => 'audit')
  * }}}
  *
  * Each CALL returns a one-row result relation (what happened: new
  * version, parts rewritten, files reclaimed) served through a
  * [[org.apache.spark.sql.connector.read.LocalScan]] — the stats are
  * driver-side metadata, there is nothing to distribute. The heavy
  * procedures (compact, compact_vectors) launch DISTRIBUTED rewrites
  * through the active SparkSession; the metadata procedures
  * (rollback, fast_forward, expire) touch only manifests. `SHOW
  * PROCEDURES` / `DESCRIBE PROCEDURE` work against the catalog via
  * the same registry (ProcedureSpec pins both).
  *
  * At 100 TB this is how table maintenance actually runs: an
  * operations scheduler issuing CALLs against the catalog, not a
  * library user importing engine internals — the procedure layer is
  * the privilege boundary between "can run SQL" and "can link the
  * jar".
  */
private[sources] object GraftProcedures {

  /** Registry order is the SHOW PROCEDURES order. */
  val names: Seq[String] = Seq("compact", "compact_vectors",
    "expire_snapshots", "remove_orphan_files", "rollback",
    "fast_forward", "cherrypick_snapshot", "drop_branch",
    "tag", "drop_tag", "create_mv", "refresh_mv", "clone", "analyze",
    "set_layout", "txn_commit", "txn_recover")

  def load(name: String, warehouse: String): Option[UnboundProcedure] =
    name.toLowerCase match {
      case "analyze"          => Some(new AnalyzeProcedure(warehouse))
      case "set_layout"       => Some(new SetLayoutProcedure(warehouse))
      case "compact"          => Some(new CompactProcedure(warehouse))
      case "compact_vectors"  => Some(new CompactVectorsProcedure(warehouse))
      case "expire_snapshots" => Some(new ExpireSnapshotsProcedure(warehouse))
      case "remove_orphan_files" =>
        Some(new RemoveOrphanFilesProcedure(warehouse))
      case "rollback"         => Some(new RollbackProcedure(warehouse))
      case "fast_forward"     => Some(new FastForwardProcedure(warehouse))
      case "cherrypick_snapshot" =>
        Some(new CherrypickProcedure(warehouse))
      case "drop_branch"      => Some(new DropBranchProcedure(warehouse))
      case "tag"              => Some(new TagProcedure(warehouse))
      case "drop_tag"         => Some(new DropTagProcedure(warehouse))
      case "create_mv"        => Some(new CreateMvProcedure(warehouse))
      case "refresh_mv"       => Some(new RefreshMvProcedure(warehouse))
      case "clone"            => Some(new CloneProcedure(warehouse))
      case "txn_commit"       => Some(new TxnCommitProcedure(warehouse))
      case "txn_recover"      => Some(new TxnRecoverProcedure(warehouse))
      case _                  => None
    }
}

/** Base: every graft procedure is self-binding (parameter types are
  * fixed, nothing depends on the call-site input schema) and returns
  * exactly one local result row. */
private[sources] abstract class GraftProcedure(
    procName: String, warehouse: String)
  extends UnboundProcedure with BoundProcedure {

  override def name(): String = procName
  override def bind(inputType: StructType): BoundProcedure = this
  // maintenance procedures mutate table state — never cacheable
  override def isDeterministic: Boolean = false

  /** Output schema of the single result row. */
  protected def outputSchema: StructType

  /** `table => 'ns.tbl'` resolves against the catalog warehouse with
    * the same identifier→path mapping as table loads. */
  protected def tableDir(table: String): String = {
    require(table.nonEmpty, s"$procName: 'table' must be non-empty")
    val dir = (warehouse +: table.split('.').toSeq).mkString("/")
    require(ManifestLog(ManifestSink.driverConf(), dir).snapshot().schema.isDefined,
      s"$procName: no manifest table '$table' under $warehouse")
    dir
  }

  protected def result(values: Any*): JIterator[Scan] =
    Collections.singletonList[Scan](
      LocalRowsScan(outputSchema, Seq(values))).iterator()
}

/** Driver-side metadata rows; Spark plans a LocalTableScan over them.
  * Shared by procedure results and the metadata tables
  * ([[ManifestMetaTable]]) — in both cases the content IS driver
  * metadata (KBs), so a distributed scan would only add scheduling
  * overhead. */
private[sources] final class LocalRowsScan(
    schema: StructType, rowData: Array[InternalRow]) extends LocalScan {
  override def rows(): Array[InternalRow] = rowData
  override def readSchema(): StructType = schema
}

private[sources] object LocalRowsScan {
  /** Rows of plain cells: a String cell becomes UTF8String, every
    * other cell is already its internal value. */
  def apply(schema: StructType, rows: Seq[Seq[Any]]): LocalRowsScan =
    new LocalRowsScan(schema, rows.map(r => InternalRow.fromSeq(r.map {
      case s: String => UTF8String.fromString(s)
      case v => v
    })).toArray)
}

/** Bin-packing OPTIMIZE: rewrite the head's data parts into
  * `target_parts` files (range-clustered by `cluster_by` when given),
  * applying any deletion-vector masks along the way. */
private[sources] final class CompactProcedure(warehouse: String)
  extends GraftProcedure("compact", warehouse) {

  override def description(): String =
    "Rewrite the head snapshot's data parts into target_parts files " +
      "(range-clustered by cluster_by when given); applies and clears " +
      "deletion vectors; commits one snapshot"

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType)
      .comment("table identifier relative to the catalog warehouse").build(),
    ProcedureParameter.in("target_parts", IntegerType).defaultValue("0")
      .comment("number of part files after the rewrite (set exactly " +
        "one of target_parts / target_bytes)").build(),
    ProcedureParameter.in("cluster_by", StringType).defaultValue("''")
      .comment("range-cluster column; '' = hash distribution").build(),
    ProcedureParameter.in("zorder", StringType).defaultValue("''")
      .comment("comma-separated numeric/date columns for an OPTIMIZE " +
        "ZORDER rewrite (Morton-interleaved multi-dimensional layout " +
        "— per-part stats become tight on every listed column); " +
        "mutually exclusive with cluster_by").build(),
    ProcedureParameter.in("split_value", StringType).defaultValue("''")
      .comment("identity-partitioned tables only: rewrite ONLY this " +
        "partition's parts (Delta OPTIMIZE WHERE) — every other part " +
        "carries by reference").build(),
    ProcedureParameter.in("target_bytes", LongType).defaultValue("0")
      .comment("size-targeted alternative to target_parts (how real " +
        "OPTIMIZE is sized): part count derived as " +
        "ceil(committed physical bytes / target_bytes) from the head " +
        "manifest's per-part byte stats — O(parts) driver metadata, " +
        "no file listing").build())

  override def outputSchema: StructType = StructType(Seq(
    StructField("parts_before", IntegerType, nullable = false),
    StructField("parts_after", IntegerType, nullable = false),
    StructField("version", IntegerType, nullable = false)))

  override def call(input: InternalRow): JIterator[Scan] = {
    val dir = tableDir(input.getUTF8String(0).toString)
    val targetParts = input.getInt(1)
    val clusterBy =
      if (input.isNullAt(2)) None
      else Some(input.getUTF8String(2).toString).filter(_.nonEmpty)
    val zorder =
      if (input.isNullAt(3)) Nil
      else input.getUTF8String(3).toString
        .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val splitValue =
      if (input.isNullAt(4)) None
      else Some(input.getUTF8String(4).toString).filter(_.nonEmpty)
    val targetBytes = if (input.isNullAt(5)) 0L else input.getLong(5)
    require((targetParts > 0) != (targetBytes > 0),
      "compact: set exactly one of target_parts / target_bytes")
    val resolved =
      if (targetParts > 0) targetParts
      else {
        // derive the file count from the HEAD's committed byte stats
        // (legacy parts without a bytes field contribute 0 — the
        // derived count only shrinks, never inflates)
        val head = ManifestLog(ManifestSink.driverConf(), dir).snapshot().parts
        val total = head.map(p => math.max(0L, p.bytes)).sum
        math.min(Int.MaxValue.toLong,
          math.max(1L, (total + targetBytes - 1) / targetBytes)).toInt
      }
    val stats = ManifestMaintenance.compactFiles(
      SparkSession.active, dir, resolved, clusterBy, zorder,
      splitValue)
    result(stats.partsBefore, stats.partsAfter, stats.version)
  }
}

/** Stats refresh after heavy DML — see
  * [[ManifestMaintenance.analyzeTable]]. */
private[sources] final class AnalyzeProcedure(warehouse: String)
  extends GraftProcedure("analyze", warehouse) {

  override def description(): String =
    "Recompute per-part column statistics from the VISIBLE rows " +
      "(deletion vectors applied) and publish one metadata commit; " +
      "restores tight pruning after wide MOR deletes without a rewrite"

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType)
      .comment("table identifier relative to the catalog warehouse").build(),
    ProcedureParameter.in("rebuild_blooms", BooleanType)
      .defaultValue("false")
      .comment("also rebuild per-part key blooms over the visible " +
        "rows (one extra shuffle of the keys)").build(),
    ProcedureParameter.in("histograms", BooleanType)
      .defaultValue("false")
      .comment("also collect equi-depth histograms per long column " +
        "for CBO range selectivity (two extra mergeable passes)").build())

  override def outputSchema: StructType = StructType(Seq(
    StructField("parts_analyzed", IntegerType, nullable = false),
    StructField("version", IntegerType, nullable = false)))

  override def call(input: InternalRow): JIterator[Scan] = {
    val dir = tableDir(input.getUTF8String(0).toString)
    val blooms = !input.isNullAt(1) && input.getBoolean(1)
    val hists = !input.isNullAt(2) && input.getBoolean(2)
    val (n, v) = ManifestMaintenance.analyzeTable(SparkSession.active, dir,
      rebuildBlooms = blooms, histograms = hists)
    result(n, v)
  }
}

/** The MOR debt settlement: rewrite exactly the vectored parts. */
private[sources] final class CompactVectorsProcedure(warehouse: String)
  extends GraftProcedure("compact_vectors", warehouse) {

  override def description(): String =
    "Rewrite exactly the parts carrying a deletion vector (visible " +
      "rows copy into fresh parts, vectors disappear); commits one snapshot"

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType)
      .comment("table identifier relative to the catalog warehouse").build())

  override def outputSchema: StructType = StructType(Seq(
    StructField("parts_rewritten", IntegerType, nullable = false)))

  override def call(input: InternalRow): JIterator[Scan] = {
    val dir = tableDir(input.getUTF8String(0).toString)
    result(ManifestMaintenance.compactVectors(SparkSession.active, dir))
  }
}

/** Expire old snapshots + reclaim unreferenced files (VACUUM). */
private[sources] final class ExpireSnapshotsProcedure(warehouse: String)
  extends GraftProcedure("expire_snapshots", warehouse) {

  override def description(): String =
    "Expire all but the newest keep_last snapshots (optionally only " +
      "those committed before older_than), then delete data files no " +
      "retained snapshot or branch references (orphans only after " +
      "orphan_grace_ms)"

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType)
      .comment("table identifier relative to the catalog warehouse").build(),
    ProcedureParameter.in("keep_last", IntegerType).defaultValue("1")
      .comment("number of newest snapshot versions to retain").build(),
    ProcedureParameter.in("orphan_grace_ms", LongType)
      .defaultValue(ManifestMaintenance.DefaultOrphanGraceMs.toString)
      .comment("age gate before a never-referenced file is reclaimed").build(),
    ProcedureParameter.in("dry_run", BooleanType).defaultValue("false")
      .comment("report what would be expired/reclaimed; touch nothing")
      .build(),
    ProcedureParameter.in("older_than",
        org.apache.spark.sql.types.TimestampType)
      .defaultValue("CAST(NULL AS TIMESTAMP)")
      .comment("expire only snapshots committed before this instant " +
        "(the Iceberg retention-policy shape); composes with " +
        "keep_last and tag pins").build())

  override def outputSchema: StructType = StructType(Seq(
    StructField("versions_expired", IntegerType, nullable = false),
    StructField("files_deleted", IntegerType, nullable = false),
    StructField("versions_retained", IntegerType, nullable = false)))

  override def call(input: InternalRow): JIterator[Scan] = {
    val dir = tableDir(input.getUTF8String(0).toString)
    val stats = ManifestMaintenance.expireSnapshots(
      ManifestSink.driverConf(), dir, input.getInt(1), input.getLong(2),
      dryRun = !input.isNullAt(3) && input.getBoolean(3),
      olderThanMs =
        if (input.isNullAt(4)) None else Some(input.getLong(4) / 1000L))
    result(stats.versionsExpired, stats.filesDeleted, stats.versionsRetained)
  }
}

/** Orphan cleanup WITHOUT retention change (Iceberg's
  * remove_orphan_files): reclaims crash debris and aborted-write
  * stages older than the grace gate while every snapshot stays
  * readable — the janitor pass operators schedule independently of
  * retention policy. Internally the same reference-counting sweep as
  * expire_snapshots with zero versions expired. */
private[sources] final class RemoveOrphanFilesProcedure(warehouse: String)
  extends GraftProcedure("remove_orphan_files", warehouse) {

  override def description(): String =
    "Delete files referenced by NO snapshot or branch and older than " +
      "older_than_ms; expires nothing — all snapshots stay readable"

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType)
      .comment("table identifier relative to the catalog warehouse").build(),
    ProcedureParameter.in("older_than_ms", LongType)
      .defaultValue(ManifestMaintenance.DefaultOrphanGraceMs.toString)
      .comment("minimum file age before a never-referenced file is " +
        "reclaimed (guards in-flight writers' staged parts)").build(),
    ProcedureParameter.in("dry_run", BooleanType).defaultValue("false")
      .comment("report what would be reclaimed; touch nothing").build())

  override def outputSchema: StructType = StructType(Seq(
    StructField("files_deleted", IntegerType, nullable = false),
    StructField("versions_retained", IntegerType, nullable = false)))

  override def call(input: InternalRow): JIterator[Scan] = {
    val dir = tableDir(input.getUTF8String(0).toString)
    val conf = ManifestSink.driverConf()
    val keepAll =
      math.max(1, ManifestLog(conf, dir).versions.length)
    val stats = ManifestMaintenance.expireSnapshots(conf, dir,
      keepLast = keepAll, orphanGraceMs = input.getLong(1),
      dryRun = !input.isNullAt(2) && input.getBoolean(2))
    result(stats.filesDeleted, stats.versionsRetained)
  }
}

/** RESTORE/rollback: re-commit snapshot `version` as the new head. */
private[sources] final class RollbackProcedure(warehouse: String)
  extends GraftProcedure("rollback", warehouse) {

  override def description(): String =
    "Re-commit snapshot `version`'s schema and part list as a new " +
      "head version (append-only history; no data copied)"

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType)
      .comment("table identifier relative to the catalog warehouse").build(),
    ProcedureParameter.in("version", IntegerType)
      .comment("snapshot version to restore").build())

  override def outputSchema: StructType = StructType(Seq(
    StructField("version", IntegerType, nullable = false)))

  override def call(input: InternalRow): JIterator[Scan] = {
    val dir = tableDir(input.getUTF8String(0).toString)
    result(ManifestMaintenance.restore(
      ManifestSink.driverConf(), dir, input.getInt(1)))
  }
}

/** The publish step of write-audit-publish. */
private[sources] final class FastForwardProcedure(warehouse: String)
  extends GraftProcedure("fast_forward", warehouse) {

  override def description(): String =
    "Fast-forward main to a branch head (metadata-only WAP publish); " +
      "fails loudly on a branch with no commits"

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType)
      .comment("table identifier relative to the catalog warehouse").build(),
    ProcedureParameter.in("branch", StringType)
      .comment("branch whose head becomes the new main version").build())

  override def outputSchema: StructType = StructType(Seq(
    StructField("version", IntegerType, nullable = false)))

  override def call(input: InternalRow): JIterator[Scan] = {
    val dir = tableDir(input.getUTF8String(0).toString)
    result(ManifestMaintenance.fastForward(
      ManifestSink.driverConf(), dir, input.getUTF8String(1).toString))
  }
}

/** The OTHER publish step of write-audit-publish — for a main line
  * that ADVANCED since the fork (fast_forward would drop the
  * interleaved commits). See [[ManifestMaintenance.cherrypick]] for
  * the pure-append safety contract. */
private[sources] final class CherrypickProcedure(warehouse: String)
  extends GraftProcedure("cherrypick_snapshot", warehouse) {

  override def description(): String =
    "Re-apply one branch snapshot's append delta onto the current " +
      "main head (metadata-only; refuses non-append snapshots)"

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType)
      .comment("table identifier relative to the catalog warehouse").build(),
    ProcedureParameter.in("branch", StringType)
      .comment("branch holding the staged snapshot").build(),
    ProcedureParameter.in("version", IntegerType).defaultValue("-1")
      .comment("branch snapshot to pick; -1 = the branch head").build())

  override def outputSchema: StructType = StructType(Seq(
    StructField("version", IntegerType, nullable = false),
    StructField("parts_added", IntegerType, nullable = false),
    StructField("rows_added", LongType, nullable = false)))

  override def call(input: InternalRow): JIterator[Scan] = {
    val dir = tableDir(input.getUTF8String(0).toString)
    val st = ManifestMaintenance.cherrypick(ManifestSink.driverConf(),
      dir, input.getUTF8String(1).toString, input.getInt(2))
    result(st.version, st.partsAdded, st.rowsAdded)
  }
}

/** Post-publish branch cleanup. */
private[sources] final class DropBranchProcedure(warehouse: String)
  extends GraftProcedure("drop_branch", warehouse) {

  override def description(): String =
    "Delete a branch's version files (data files stay until vacuum)"

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType)
      .comment("table identifier relative to the catalog warehouse").build(),
    ProcedureParameter.in("branch", StringType)
      .comment("branch to drop").build())

  override def outputSchema: StructType = StructType(Seq(
    StructField("versions_removed", IntegerType, nullable = false)))

  override def call(input: InternalRow): JIterator[Scan] = {
    val dir = tableDir(input.getUTF8String(0).toString)
    result(ManifestMaintenance.dropBranch(
      ManifestSink.driverConf(), dir, input.getUTF8String(1).toString))
  }
}

/** Pin a snapshot under an immutable name: `VERSION AS OF 'name'`
  * resolves it, expire_snapshots retains it until the tag drops. */
private[sources] final class TagProcedure(warehouse: String)
  extends GraftProcedure("tag", warehouse) {

  override def description(): String =
    "Create an immutable named ref to snapshot `version` (default: " +
      "the head); tagged snapshots survive expire_snapshots"

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType)
      .comment("table identifier relative to the catalog warehouse").build(),
    ProcedureParameter.in("name", StringType)
      .comment("tag name (ASCII letters, digits, '_', '-')").build(),
    ProcedureParameter.in("version", IntegerType).defaultValue("-1")
      .comment("snapshot version to pin; -1 = current head").build())

  override def outputSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("version", IntegerType, nullable = false)))

  override def call(input: InternalRow): JIterator[Scan] = {
    val dir = tableDir(input.getUTF8String(0).toString)
    val tagName = input.getUTF8String(1).toString
    val log = ManifestLog(ManifestSink.driverConf(), dir)
    val v = input.getInt(2) match {
      case -1 => log.versions.lastOption.getOrElse(
        throw new IllegalStateException(s"no snapshots to tag at $dir"))
      case n => n
    }
    log.createTag(tagName, v)
    result(tagName, v)
  }
}

/** Release a tag's pin; the snapshot becomes expirable again. */
private[sources] final class DropTagProcedure(warehouse: String)
  extends GraftProcedure("drop_tag", warehouse) {

  override def description(): String =
    "Drop a tag (the pinned snapshot becomes expirable again); " +
      "fails loudly on an unknown tag"

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType)
      .comment("table identifier relative to the catalog warehouse").build(),
    ProcedureParameter.in("name", StringType)
      .comment("tag to drop").build())

  override def outputSchema: StructType = StructType(Seq(
    StructField("dropped", StringType, nullable = false)))

  override def call(input: InternalRow): JIterator[Scan] = {
    val dir = tableDir(input.getUTF8String(0).toString)
    val tagName = input.getUTF8String(1).toString
    if (!ManifestLog(ManifestSink.driverConf(), dir).dropTag(tagName))
      throw new IllegalArgumentException(
        s"no tag '$tagName' on table at $dir")
    result(tagName)
  }
}

/** Materialize a per-key (count, exact decimal sum) rollup of a
  * catalog table as its own snapshot-logged table (see
  * [[ManifestMv]]). The MV is a normal manifest table — readable,
  * time-travelable, vacuumable — plus a refresh watermark. */
private[sources] final class CreateMvProcedure(warehouse: String)
  extends GraftProcedure("create_mv", warehouse) {

  override def description(): String =
    "Materialize per-key (count, exact decimal sum) of source_table " +
      "into mv_table and record the refresh watermark"

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("mv_table", StringType)
      .comment("MV table identifier relative to the catalog warehouse")
      .build(),
    ProcedureParameter.in("source_table", StringType)
      .comment("source table identifier").build(),
    ProcedureParameter.in("key_col", StringType).defaultValue("''")
      .comment("grouping column(s), comma-separated for a multi-key MV; " +
        "'' when key_expr is given instead").build(),
    ProcedureParameter.in("sum_col", StringType).defaultValue("''")
      .comment("numeric column to sum (exact decimal); required").build(),
    ProcedureParameter.in("scale", IntegerType).defaultValue("6")
      .comment("decimal scale of the sum").build(),
    ProcedureParameter.in("minmax_col", StringType).defaultValue("''")
      .comment("optional BIGINT column whose exact per-group MIN/MAX " +
        "the MV also maintains (appends fold; deletes recompute only " +
        "the affected groups); '' = counts and sums only").build(),
    ProcedureParameter.in("distinct_col", StringType).defaultValue("''")
      .comment("optional BIGINT/STRING column whose per-group " +
        "approx-distinct HLL sketch the MV also maintains (appends " +
        "union-fold; deletes recompute only the affected groups); " +
        "'' = none").build(),
    ProcedureParameter.in("dim_table", StringType).defaultValue("''")
      .comment("JOIN-shaped MV: dim table to equi-join the source " +
        "(fact) against; key_col then names a DIM attribute and the " +
        "MV materializes fact⋈dim GROUP BY key_col; fact deltas " +
        "refresh FK-locally against the broadcast dim").build(),
    ProcedureParameter.in("fk_col", StringType).defaultValue("''")
      .comment("fact-side equi-join column (join MVs only)").build(),
    ProcedureParameter.in("dim_key_col", StringType).defaultValue("''")
      .comment("dim-side equi-join column (join MVs only)").build(),
    ProcedureParameter.in("key_expr", StringType).defaultValue("''")
      .comment("EXPRESSION-KEYED (time-grain) MV: a derived grouping " +
        "key of the form date_trunc('<grain>', <ts_col>); the MV " +
        "stores it as 'key_value' and MvRewrite matches the user's " +
        "own date_trunc spelling structurally; composes with " +
        "count/sum only; '' = use key_col").build())

  override def outputSchema: StructType = StructType(Seq(
    StructField("source_version", IntegerType, nullable = false),
    StructField("groups", LongType, nullable = false)))

  override def call(input: InternalRow): JIterator[Scan] = {
    // the MV table does not exist yet — resolve its path WITHOUT the
    // tableDir existence check
    val mvRel = input.getUTF8String(0).toString
    require(mvRel.nonEmpty, "create_mv: 'mv_table' must be non-empty")
    val mvDir = (warehouse +: mvRel.split('.').toSeq).mkString("/")
    val srcDir = tableDir(input.getUTF8String(1).toString)
    def strAt(i: Int): Option[String] =
      if (input.numFields <= i || input.isNullAt(i)) None
      else Some(input.getUTF8String(i).toString).filter(_.nonEmpty)
    val mmCol = strAt(5)
    val ndvCol = strAt(6)
    val keyExpr = strAt(10)
    val keyColIn = strAt(2)
    require(strAt(3).isDefined, "create_mv: 'sum_col' is required")
    require(keyExpr.isDefined != keyColIn.isDefined,
      "create_mv: give exactly one of key_col / key_expr")
    val (v, groups) = strAt(7) match {
      case Some(dimRel) =>
        require(mmCol.isEmpty && ndvCol.isEmpty,
          "create_mv: minmax_col/distinct_col are not supported on " +
            "join MVs (counts and exact sums only)")
        require(keyExpr.isEmpty,
          "create_mv: key_expr is not supported on join MVs")
        val fk = strAt(8).getOrElse(
          throw new IllegalArgumentException("create_mv: fk_col required"))
        val dimKey = strAt(9).getOrElse(throw
          new IllegalArgumentException("create_mv: dim_key_col required"))
        ManifestMv.createJoin(SparkSession.active, mvDir, srcDir,
          tableDir(dimRel), fk, dimKey,
          input.getUTF8String(2).toString, input.getUTF8String(3).toString,
          input.getInt(4))
      case None =>
        ManifestMv.create(SparkSession.active, mvDir, srcDir,
          keyColIn.getOrElse("key_value"),
          input.getUTF8String(3).toString,
          input.getInt(4), mmCol, ndvCol, keyExpr)
    }
    result(v, groups)
  }
}

/** Fold the source's snapshot delta since the watermark into the MV —
  * O(changed parts) + O(groups), never a source rescan. */
private[sources] final class RefreshMvProcedure(warehouse: String)
  extends GraftProcedure("refresh_mv", warehouse) {

  override def description(): String =
    "Incrementally fold the source's snapshot delta since the last " +
      "refresh into the MV (O(changed parts), never a rescan); " +
      "caught-up refreshes commit nothing"

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("mv_table", StringType)
      .comment("MV table identifier relative to the catalog warehouse")
      .build())

  override def outputSchema: StructType = StructType(Seq(
    StructField("from_version", IntegerType, nullable = false),
    StructField("to_version", IntegerType, nullable = false),
    StructField("plus_parts", IntegerType, nullable = false),
    StructField("minus_parts", IntegerType, nullable = false),
    StructField("groups", LongType, nullable = false)))

  override def call(input: InternalRow): JIterator[Scan] = {
    val dir = tableDir(input.getUTF8String(0).toString)
    val s = ManifestMv.refresh(SparkSession.active, dir)
    result(s.fromVersion, s.toVersion, s.plusParts, s.minusParts, s.groups)
  }
}

/** ZERO-COPY SHALLOW CLONE — `CALL cat.system.clone(source_table,
  * target_table[, version])`: publish a NEW table whose first
  * snapshot REFERENCES the source's part files (absolute paths, the
  * same by-reference mechanism every staged read uses) — no data is
  * copied, the clone of a 100 TB table is one manifest write. The
  * clone is a full table from there: it appends, deletes, compacts,
  * time-travels, and is vacuumed INDEPENDENTLY (vacuum reclaims only
  * files physically under its own directory, so a clone's vacuum can
  * never touch source data). The Delta/Iceberg shallow-clone caveat
  * applies symmetrically and is the user's retention contract:
  * expiring + vacuuming the SOURCE can reclaim files the clone still
  * references — retain the cloned snapshot (tag it) for as long as
  * clones of it live. The clone copies the snapshot's table record
  * with its schema and column mapping — layout, properties (identity
  * and generated columns included) and CHECK constraints, Delta's
  * shallow-clone semantics — so it writes like the source did at
  * that version. Tags are NOT copied: they name the source's
  * history, not the clone's.
  * The dev/test fork workflow this buys at scale: clone prod, run
  * the migration against the clone, diff, drop — minutes, not a
  * 100 TB copy. */
private[sources] final class CloneProcedure(warehouse: String)
  extends GraftProcedure("clone", warehouse) {

  override def description(): String =
    "Zero-copy shallow clone: publish target_table whose first " +
      "snapshot references source_table's parts at `version` (0 = " +
      "head) — one manifest write, no data copied"

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("source_table", StringType)
      .comment("source table identifier").build(),
    ProcedureParameter.in("target_table", StringType)
      .comment("new table identifier (must not exist)").build(),
    ProcedureParameter.in("version", IntegerType).defaultValue("0")
      .comment("source snapshot to clone (0 = head)").build())

  override def outputSchema: StructType = StructType(Seq(
    StructField("source_version", IntegerType, nullable = false),
    StructField("parts_referenced", IntegerType, nullable = false),
    StructField("rows", LongType, nullable = false)))

  override def call(input: InternalRow): JIterator[Scan] = {
    val conf = ManifestSink.driverConf()
    val srcDir = tableDir(input.getUTF8String(0).toString)
    val targetRel = input.getUTF8String(1).toString
    require(targetRel.nonEmpty, "clone: 'target_table' must be non-empty")
    val targetDir = (warehouse +: targetRel.split('.').toSeq).mkString("/")
    require(ManifestLog(conf, targetDir).snapshot().schema.isEmpty,
      s"clone: target table '$targetRel' already exists")
    val log = ManifestLog(conf, srcDir)
    val src = log.snapshot(input.getInt(2) match {
      case 0 => Ref.Head
      case n =>
        require(log.versions.contains(n),
          s"clone: source has no snapshot $n (history: ${log.versions})")
        Ref.At(n)
    })
    val (schema, cm) = src.header.schemaCm.getOrElse(
      throw new IllegalStateException(
        s"clone: unreadable source schema at $srcDir"))
    ManifestSink.publishRebase(conf, targetDir, _ => src.parts,
      HeaderChange.Restate(schema, cm, src.header.table), op = "clone")
    result(src.version, src.parts.size, src.parts.map(_.visibleRows).sum)
  }
}

/** PARTITION-SPEC / LAYOUT EVOLUTION (Iceberg `ALTER TABLE … ADD
  * PARTITION FIELD` / `WRITE ORDERED BY`, Delta `ALTER TABLE …
  * CLUSTER BY`): replace the table's layout spec WITHOUT touching a
  * single data file.
  *
  * {{{
  *   CALL cat.system.set_layout(table => 'ns.t', spec => 'bucket(8,k)')
  *   CALL cat.system.set_layout(table => 'ns.t', spec => 'k')  -- identity
  *   CALL cat.system.set_layout(table => 'ns.t', spec => 'none',
  *                              order_by => 'ts')  -- WRITE ORDERED BY
  *   CALL cat.system.set_layout(table => 'ns.t', spec => 'none')
  * }}}
  *
  * Semantics at 100 TB (why this is metadata-only): re-laying out
  * the existing data eagerly would be an O(table) rewrite inside a
  * DDL statement — every format that survived production makes spec
  * changes O(1) instead. New writes route through the NEW spec from
  * the next INSERT; parts written under the OLD spec stay readable
  * exactly as committed (each part records the generation it was
  * written under), the scan DEMOTES storage-partitioned reporting
  * while generations are mixed (correctness first — a shuffle-free
  * join over half-bucketed data would be wrong), and `CALL compact`
  * MIGRATES data to the head spec — after which SPJ re-arms. The
  * validation rules match CREATE TABLE's: bucket column = the
  * table's first BIGINT column (routing and stats pruning share
  * it), identity column BIGINT or STRING, order column a stats-
  * tracked type so the sorted layout actually feeds pruning. */
private[sources] final class SetLayoutProcedure(warehouse: String)
  extends GraftProcedure("set_layout", warehouse) {

  override def description(): String =
    "Replace the table's layout spec (bucket(n,col) | identity col | " +
      "none [+ order_by]) as a metadata-only change; existing parts " +
      "keep their generation, compaction migrates them to the head spec"

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType)
      .comment("table identifier relative to the catalog warehouse").build(),
    ProcedureParameter.in("spec", StringType)
      .comment("'bucket(n,col)', a bare column (identity split), or " +
        "'none'").build(),
    ProcedureParameter.in("order_by", StringType).defaultValue("''")
      .comment("WRITE ORDERED BY column for the unpartitioned layout; " +
        "'' = unordered; only valid with spec => 'none'").build())

  override def outputSchema: StructType = StructType(Seq(
    StructField("old_layout", StringType, nullable = false),
    StructField("new_layout", StringType, nullable = false)))

  private val BucketRe = """(?i)bucket\s*\(\s*(\d+)\s*,\s*([^)\s]+)\s*\)""".r
  private val TimeRe = """(?i)(days|hours)\s*\(\s*([^)\s]+)\s*\)""".r

  private def render(spec: TableSpec): String =
    spec.layout match {
      case Some((0, c)) => spec.transform.fold(s"identity($c)")(tf => s"$tf($c)")
      case Some((n, c)) => s"bucket($n,$c)"
      case None => spec.orderBy.map(c => s"ordered($c)").getOrElse("none")
    }

  override def call(input: InternalRow): JIterator[Scan] = {
    val conf = ManifestSink.driverConf()
    val dir = tableDir(input.getUTF8String(0).toString)
    val spec = input.getUTF8String(1).toString.trim
    val orderBy =
      if (input.isNullAt(2)) None
      else Some(input.getUTF8String(2).toString.trim).filter(_.nonEmpty)
    val base = ManifestLog(conf, dir).snapshot()
    val head = base.header
    val (schema, cm) = head.schemaCm.get
    // metadata-only like every layout change — one commit of the new
    // record, pinned to the head it read: existing parts keep their
    // generation (scans stay correct; DROP PARTITION refuses while
    // straddlers exist), the next compact migrates them, and every
    // later INSERT routes by the new spec. order_by only composes
    // with spec => 'none' (every other layout already places rows),
    // which the layout check refuses.
    val layout = spec match {
      case TimeRe(kind, col) => TableSpec(Some((0, col)),
        transform = Some(kind.toLowerCase(java.util.Locale.ROOT)))
      case BucketRe(n, col) => TableLayout.bucket(n.toInt, col)
      case "none" | "NONE" => TableSpec()
      case col => TableSpec(Some((0, col)))
    }
    val checked = TableLayout.check(layout.copy(orderBy = orderBy), schema)
    if (checked != head.table.spec)
      ManifestSink.publishRebase(conf, dir, parts => parts,
        HeaderChange.Restate(schema, cm, head.table.copy(spec = checked)),
        base = Some(base), op = "set-layout")
    result(render(head.table.spec), render(checked))
  }
}

/** Multi-table atomic commit — see [[ManifestTxn]]: verify every
  * declared table's staged txn branch, claim ONE catalog-level marker
  * (the commit point), then roll each table forward with the
  * `txn:<id>` op label. All-or-nothing: any failure before the marker
  * leaves every table at its prior snapshot. */
private[sources] final class TxnCommitProcedure(warehouse: String)
  extends GraftProcedure("txn_commit", warehouse) {

  override def description(): String =
    "Publish N tables' changes staged on branch txn-<id> as one " +
      "catalog-level transaction: one atomic marker is the commit " +
      "point; each table then rolls forward labeled txn:<id>"

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("id", StringType)
      .comment("transaction id; stages must be on branch txn-<id>").build(),
    ProcedureParameter.in("tables", StringType)
      .comment("comma-separated table identifiers relative to the " +
        "catalog warehouse").build())

  override def outputSchema: StructType = StructType(Seq(
    StructField("tables_published", IntegerType, nullable = false)))

  override def call(input: InternalRow): JIterator[Scan] = {
    val id = input.getUTF8String(0).toString
    val dirs = input.getUTF8String(1).toString.split(",")
      .map(_.trim).filter(_.nonEmpty).toSeq.map(tableDir)
    result(ManifestTxn.commit(ManifestSink.driverConf(), warehouse,
      id, dirs))
  }
}

/** Crash recovery for a committed-but-unapplied transaction: re-run
  * [[ManifestTxn.rollForward]] for the marker — idempotent (tables
  * already carrying the txn label are skipped; a fully-applied or
  * unknown txn returns 0). */
private[sources] final class TxnRecoverProcedure(warehouse: String)
  extends GraftProcedure("txn_recover", warehouse) {

  override def description(): String =
    "Complete the roll-forward of a committed multi-table " +
      "transaction after a crash; idempotent, 0 when nothing to do"

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("id", StringType)
      .comment("transaction id to recover").build())

  override def outputSchema: StructType = StructType(Seq(
    StructField("tables_published", IntegerType, nullable = false)))

  override def call(input: InternalRow): JIterator[Scan] = {
    val id = input.getUTF8String(0).toString
    result(ManifestTxn.rollForward(ManifestSink.driverConf(),
      warehouse, id))
  }
}
