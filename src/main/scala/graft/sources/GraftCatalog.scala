package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchTableException, NoSuchViewException, TableAlreadyExistsException, ViewAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.types.{ByteType, DataType, DecimalType, IntegerType, LongType, ShortType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 `TableCatalog` over a directory of manifest tables —
  * the piece that makes the engine's own table format SQL-ADDRESSABLE:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graftcat", "graft.sources.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.graftcat.warehouse", "/path/wh")
  *   spark.sql("SELECT * FROM graftcat.wh.orders WHERE k > 10")
  *   spark.sql("INSERT INTO graftcat.wh.orders SELECT ...")
  * }}}
  *
  * Identifier → path mapping is `warehouse/<namespace…>/<table>`; a
  * table EXISTS iff a committed manifest (with schema header) is
  * present — the same commit-point rule every reader in this format
  * follows, so a half-created directory is simply not a table yet.
  * Loaded tables support batch reads (with all of [[ManifestSource]]'s
  * stats/bloom pruning and pushdown), streaming micro-batch reads
  * (snapshot-version offsets), and batch writes through the snapshot
  * log (`INSERT INTO` = append commit, `INSERT OVERWRITE` = logical
  * truncate commit) — so SQL DML lands in the same versioned,
  * time-travelable history the DataFrame writer produces.
  *
  * At 100 TB the catalog is pure metadata: createTable publishes one
  * schema-only snapshot; listTables is a directory listing; nothing
  * ever touches data files.
  */
class GraftCatalog extends TableCatalog with FunctionCatalog
  with ProcedureCatalog with ViewCatalog with StagingTableCatalog
  with SupportsNamespaces {

  private var catalogName: String = _
  private var warehouse: String = _

  // ---- NAMESPACE DDL (SupportsNamespaces): a namespace is a
  // warehouse directory that is NOT a table (no committed manifest
  // schema). CREATE NAMESPACE materializes the directory plus a
  // `_PROPS.json` properties file (a namespace has no version log to
  // carry them), so empty namespaces survive listing; DROP refuses a
  // non-empty namespace unless CASCADE. All operations are
  // O(children) driver metadata — no data moves.
  private def nsPath(ns: Array[String]): Path =
    new Path((warehouse +: ns).mkString("/"))

  private val NsPropsFile = "_PROPS.json"

  private def readNsProps(dir: Path): Map[String, String] =
    MetaJson.read(conf, new Path(dir, NsPropsFile))
      .fold(Map.empty[String, String])(MetaJson.decodeProps)

  private def writeNsProps(dir: Path, props: Map[String, String]): Unit =
    MetaJson.replace(conf, dir, NsPropsFile, MetaJson.encodeProps(props))

  private def isTableDir(ns: Array[String]): Boolean =
    isTable((warehouse +: ns).mkString("/"))

  private def nsExists(ns: Array[String]): Boolean = {
    val p = nsPath(ns)
    ns.nonEmpty && p.getFileSystem(conf).exists(p) && !isTableDir(ns)
  }

  override def listNamespaces(): Array[Array[String]] =
    listNamespaces(Array.empty)

  override def listNamespaces(parent: Array[String]): Array[Array[String]] = {
    if (parent.nonEmpty && !nsExists(parent))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(parent)
    val p = nsPath(parent)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return Array.empty
    fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith("."))
      .filter(n => !isTableDir(parent :+ n))
      .sorted
      .map(n => parent :+ n)
      .toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    nsExists(namespace)

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    if (!nsExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(namespace)
    readNsProps(nsPath(namespace)).asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    require(namespace.nonEmpty && namespace.forall(_.nonEmpty),
      "namespace must be non-empty")
    if (nsExists(namespace) || isTableDir(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NamespaceAlreadyExistsException(namespace)
    val p = nsPath(namespace)
    p.getFileSystem(conf).mkdirs(p)
    // persist properties (an empty map still writes the file — the
    // marker is what makes a fresh empty namespace listable)
    writeNsProps(p,
      metadata.asScala.toMap -- Seq(SupportsNamespaces.PROP_OWNER))
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = {
    if (!nsExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(namespace)
    val dir = nsPath(namespace)
    val props = changes.foldLeft(readNsProps(dir)) {
      case (m, s: NamespaceChange.SetProperty) =>
        m + (s.property() -> s.value())
      case (m, r: NamespaceChange.RemoveProperty) => m - r.property()
      case (_, other) => throw new UnsupportedOperationException(
        s"namespace change $other is not supported")
    }
    writeNsProps(dir, props)
  }

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    if (!nsExists(namespace)) return false
    val hasChildren = listTables(namespace).nonEmpty ||
      listNamespaces(namespace).nonEmpty
    if (hasChildren && !cascade)
      throw new org.apache.spark.sql.catalyst.analysis
        .NonEmptyNamespaceException(namespace)
    val p = nsPath(namespace)
    p.getFileSystem(conf).delete(p, true)
  }

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = options.get("warehouse")
    require(warehouse != null && warehouse.nonEmpty,
      s"catalog '$name' requires option 'warehouse'")
  }

  override def name(): String = catalogName

  /** CHECK constraints are a first-class table change (see
    * [[GraftTable.constraints]]). */
  override def capabilities(): util.Set[TableCatalogCapability] =
    Set(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS)
      .asJava

  private def conf = ManifestSink.driverConf()

  /** Does `dir` hold a table (a committed snapshot with a schema)? */
  private def isTable(dir: String): Boolean =
    ManifestLog(conf, dir).snapshot().schema.isDefined

  private def tablePath(ident: Identifier): String =
    (warehouse +: ident.namespace() :+ ident.name()).mkString("/")

  override def tableExists(ident: Identifier): Boolean =
    isTable(tablePath(ident))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = new Path((warehouse +: namespace).mkString("/"))
    val fs = ns.getFileSystem(conf)
    if (!fs.exists(ns)) return Array.empty
    fs.listStatus(ns).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(t => isTable((warehouse +: namespace :+ t).mkString("/")))
      .map(t => Identifier.of(namespace, t))
      .toArray
  }

  override def loadTable(ident: Identifier): Table =
    GraftTable(Some(ident), tablePath(ident)).getOrElse {
      // METADATA TABLES (the Iceberg `db.table.history` shape):
      // `SELECT * FROM cat.ns.t.history|files|branches` parses as
      // namespace (ns, t) + the metadata name — if the parent IS a
      // table, serve the requested metadata relation. Pure
      // metadata: each reads version manifests (KBs), never data
      // files.
      if (ident.namespace().nonEmpty) {
        val parent = (warehouse +: ident.namespace()).mkString("/")
        if (isTable(parent))
          MetaTables.forName(parent, ident.name()).foreach(t => return t)
      }
      throw new NoSuchTableException(ident)
    }

  /** SQL time travel: `SELECT … FROM graftcat.ns.t VERSION AS OF 2`
    * resolves the immutable snapshot manifest — schema AND part list
    * as of that commit; `VERSION AS OF 'release-1'` resolves a TAG
    * (immutable named ref, pinned against expiry) to its version;
    * `VERSION AS OF 'audit'` resolves a live BRANCH to its staged
    * head — the pure-SQL audit read of write-audit-publish (same
    * answer as `option("branch", ...)`, no DataFrame API needed).
    * A pinned version is read-only (history is not writable). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val log = ManifestLog(conf, tablePath(ident))
    val ref = try Ref.At(version.toInt) catch {
      case _: NumberFormatException =>
        if (log.tags.contains(version)) Ref.Tag(version)
        else if (log.branches.contains(version)) Ref.Branch(version)
        else throw new IllegalArgumentException(
          s"'$version' is neither a snapshot version, a tag, nor a " +
            s"branch of $ident (tags: ${log.tags.keys.mkString(", ")}; " +
            s"branches: ${log.branches.mkString(", ")})")
    }
    timeTravel(ident, ref)
  }

  /** The table of one resolved snapshot: read-only at a pinned
    * version, the branch line at a branch head. */
  private def timeTravel(ident: Identifier, ref: Ref): Table =
    GraftTable(Some(ident), tablePath(ident), ref)
      .getOrElse(throw new NoSuchTableException(ident))

  /** SQL time travel by TIME: `… TIMESTAMP AS OF '2026-01-01 00:00:00'`
    * resolves the newest snapshot committed at or before the instant
    * (Delta/Iceberg semantics). Version files are immutable once
    * claimed, so their modification time IS the commit time; an
    * instant older than the first commit fails loudly rather than
    * serving an empty table. Spark hands micros since epoch. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    timeTravel(ident, Ref.AsOf(timestampMicros / 1000L))

  /** The v2 `Column[]` create path: Spark delivers identity specs as
    * first-class [[Column]] attributes (NOT re-encoded into field
    * metadata by the default bridge), so capture them here before
    * delegating to the StructType path. */
  override def createTable(
      ident: Identifier, columns: Array[Column],
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val base =
      org.apache.spark.sql.graftbridge.GraftCatalogV2.toStructType(columns)
    val withIdent = StructType(base.fields.zip(columns).map {
      case (f, c) =>
        val b = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        Option(c.identityColumnSpec()).foreach { s =>
          b.putLong(ManifestIdentity.MetaStart, s.getStart)
          b.putLong(ManifestIdentity.MetaStep, s.getStep)
          b.putBoolean(ManifestIdentity.MetaAllow, s.isAllowExplicitInsert)
        }
        Option(c.generationExpression()).foreach(e =>
          b.putString(MetaGenerated, e))
        f.copy(metadata = b.build())
    })
    createTable(ident, withIdent, partitions, properties)
  }

  /** Field-metadata key this catalog uses to thread a generated
    * column's expression from the v2 create to the StructType path. */
  private val MetaGenerated = "graft.generation.expression"

  override def createTable(
      ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    validateStructDepth(schema)
    val spec = TableLayout.fromDdl(partitions, schema)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    // COLUMN DEFAULTS at create: Spark delivers them as the field-
    // metadata pair (CURRENT_DEFAULT, EXISTS_DEFAULT) — capture into
    // the snapshot's colmap header keyed by field id, then store the
    // schema CLEAN (the DDL codec carries no metadata)
    val defaults: Map[Int, (String, String)] =
      schema.fields.zipWithIndex.collect {
        case (f, i) if f.metadata.contains("CURRENT_DEFAULT") ||
            f.metadata.contains("EXISTS_DEFAULT") =>
          def key(k: String) =
            if (f.metadata.contains(k)) f.metadata.getString(k) else ""
          i -> (key("CURRENT_DEFAULT"), key("EXISTS_DEFAULT"))
      }.toMap
    // IDENTITY COLUMNS at create (GENERATED [ALWAYS | BY DEFAULT] AS
    // IDENTITY): capture the spec from field metadata into the table
    // props; the stored schema keeps the column NULLABLE on purpose —
    // an INSERT that omits or NULLs the slot is the generate request,
    // and the sink guarantees no NULL ever lands (ManifestIdentity).
    val identCols = schema.fields.filter(
      _.metadata.contains(ManifestIdentity.MetaStart))
    require(identCols.length <= 1,
      s"at most one identity column per table, got " +
        identCols.map(_.name).mkString(", "))
    val identSpec: Option[ManifestIdentity.Spec] = identCols.headOption
      .map { f =>
        require(f.dataType == LongType,
          s"identity column '${f.name}' must be BIGINT, " +
            s"got ${f.dataType.simpleString}")
        ManifestIdentity.Spec(f.name,
          f.metadata.getLong(ManifestIdentity.MetaStart),
          f.metadata.getLong(ManifestIdentity.MetaStep),
          f.metadata.getBoolean(ManifestIdentity.MetaAllow))
      }
    // GENERATED COLUMNS at create (GENERATED ALWAYS AS (expr)):
    // validate now — parse/analyze against the table schema, refuse
    // nondeterminism, generated-/identity-column references, and type
    // drift — then persist the expression SQL in the table props.
    // Stored NULLABLE like identity columns: omission IS the compute
    // request; the sink guarantees no NULL lands (ManifestGenerated).
    val genSpecs: Seq[(String, String)] = schema.fields.collect {
      case f if f.metadata.contains(MetaGenerated) =>
        f.name -> f.metadata.getString(MetaGenerated)
    }.toSeq
    if (genSpecs.nonEmpty) {
      val banned = genSpecs.map(_._1).toSet ++ identSpec.map(_.col)
      val session = org.apache.spark.sql.SparkSession.active
      val plain = StructType(schema.fields.map(f =>
        StructField(f.name, f.dataType, f.nullable)))
      genSpecs.foreach { case (c, e) =>
        ManifestGenerated.bind(session, plain, c, e, banned)
      }
    }
    val computed = genSpecs.map(_._1).toSet ++ identSpec.map(_.col)
    val clean = StructType(schema.fields.map { f =>
      val g = StructField(f.name, f.dataType,
        f.nullable || computed.contains(f.name))
      f.getComment().fold(g)(g.withComment)
    })
    // TBLPROPERTIES at create: persist the user's keys (and the
    // COMMENT, which Spark delivers as the 'comment' property);
    // engine-reserved keys are not table metadata
    val userProps = (properties.asScala.toMap -- Seq(
      TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
      TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL)) ++
      identSpec.map(s => ManifestIdentity.PropKey -> s.render) ++
      (if (genSpecs.isEmpty) Map.empty[String, String]
       else Map(ManifestGenerated.PropKey ->
         ManifestGenerated.render(genSpecs)))
    // a table is born as a schema-only snapshot carrying its record:
    // same commit protocol, zero parts — readers see an empty
    // versioned table immediately
    ManifestSink.publishRebase(conf, tablePath(ident), _ => Seq.empty,
      HeaderChange.Restate(clean, ColMap.identity(clean.fields.length)
        .copy(defaults = defaults), TableRecord(spec, userProps)),
      op = "create")
    loadTable(ident)
  }

  /** Atomic CTAS / RTAS ([[GraftStagedTable]]): `CREATE TABLE … AS
    * SELECT` and `REPLACE TABLE … AS SELECT` stage the query's parts
    * first and publish ONE snapshot at the end — a failed query
    * leaves no new table (CTAS) / the old table untouched and
    * readable (RTAS). Spark routes here automatically because the
    * catalog implements StagingTableCatalog. */
  /** STRUCT columns are supported at DEPTH 1 (atomic sub-fields
    * only — column mapping names one level of nested ids). Deeper
    * nesting is rejected at CREATE TIME — shared by CREATE TABLE and
    * every staged CTAS/RTAS path, so no create spelling can smuggle
    * such a schema into a committed snapshot (the write path re-checks in
    * [[ManifestBatchWrite]] for the path-based spelling).
    * Generalizes the reference's progressively-enriched prediction
    * record (estimate_queue.py:80-88) to a typed, evolvable struct
    * column. */
  private def validateStructDepth(schema: StructType): Unit =
    ManifestSink.validateStructDepth(schema)

  /** CTAS/RTAS define every row inline, so "generated" has no
    * meaning there — refuse rather than silently not generating. */
  private def refuseStagedIdentity(columns: Array[Column]): Unit =
    columns.find(c => c.identityColumnSpec() != null ||
        c.generationExpression() != null).foreach { c =>
      throw new UnsupportedOperationException(
        s"identity/generated column '${c.name()}' is not supported in " +
          "CTAS/RTAS — CREATE the table first, then INSERT")
    }

  override def stageCreate(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    refuseStagedIdentity(columns)
    val schema = org.apache.spark.sql.graftbridge.GraftCatalogV2.toStructType(columns)
    validateStructDepth(schema)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    new GraftStagedTable(ident, tablePath(ident), schema,
      stagedRecord(partitions, schema, properties), replace = false)
  }

  override def stageReplace(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    refuseStagedIdentity(columns)
    val schema = org.apache.spark.sql.graftbridge.GraftCatalogV2.toStructType(columns)
    validateStructDepth(schema)
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    new GraftStagedTable(ident, tablePath(ident), schema,
      stagedRecord(partitions, schema, properties), replace = true)
  }

  override def stageCreateOrReplace(ident: Identifier,
      columns: Array[Column], partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    refuseStagedIdentity(columns)
    val schema = org.apache.spark.sql.graftbridge.GraftCatalogV2.toStructType(columns)
    validateStructDepth(schema)
    new GraftStagedTable(ident, tablePath(ident), schema,
      stagedRecord(partitions, schema, properties),
      replace = tableExists(ident))
  }

  /** The record a staged CTAS/RTAS publishes: its layout and its
    * user-facing TBLPROPERTIES (engine-reserved keys stripped, COMMENT
    * kept on its 'comment' key). A replaced table's layout,
    * properties and constraints do not survive into the new one. */
  private def stagedRecord(partitions: Array[Transform], schema: StructType,
      properties: util.Map[String, String]): TableRecord =
    TableRecord(TableLayout.fromDdl(partitions, schema),
      properties.asScala.toMap -- Seq(
        TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
        TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL))

  /** `ALTER TABLE t ADD | RENAME | DROP COLUMN` — the DDL face of the
    * format's schema evolution, every variant a METADATA-ONLY commit
    * (no data file is read or written):
    *
    *  - ADD publishes the head's part list under the widened schema;
    *    existing parts read back NULL for the new column. The column
    *    gets a FRESH field id ([[ColMap]]), so re-adding a name at a
    *    previously-dropped column's position can never resurrect the
    *    dropped bytes still sitting in old parts.
    *  - RENAME changes the logical name only — field ids (and hence
    *    every part's layout) are untouched; the key's and the first
    *    string's per-part stats move to the new name in the same
    *    commit. The old name is RETIRED: reusing it is rejected, so
    *    per-part stats recorded under a name always describe the same
    *    physical column (pruning stays provably sound across renames).
    *  - DROP removes the field from the logical schema; parts keep
    *    their bytes (time travel still sees the column) and readers
    *    simply never resolve the dropped id. Guarded against the two
    *    stats-identity hazards: the stats key column (first BIGINT)
    *    and the string-stats column (first STRING) may only be
    *    dropped when no LATER column of the same type would silently
    *    inherit their per-part min/max.
    *
    * The whole ALTER folds into ONE commit of the new schema, mapping
    * and [[TableRecord]] (layout, properties, constraints), pinned to
    * the snapshot it read — a racing commit fails the DDL
    * loudly rather than composing a half-stale table, and a change
    * that fails mid-fold publishes nothing. Type changes stay
    * rejected: committed parts would be re-interpreted. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val p = tablePath(ident)
    val base = ManifestLog(conf, p).snapshot()
    val head = base.header
    val (schema, colmap0) = head.schemaCm
      .getOrElse(throw new NoSuchTableException(ident))
    var constraints = head.table.constraints
    var colmap = colmap0
    var props = head.table.props
    var spec = head.table.spec
    var schemaChanged = false
    // the operation label of each kind of change, in order
    var ops = Seq.empty[String]
    // renames (from, to) of the key / first string, in order: the
    // commit moves every head part's record of them to the new name
    // (see ManifestSink.keyAndFirstStr)
    var renames = Seq.empty[(String, String)]
    def constraintRefs(name: String): Seq[String] =
      constraints.collect { case (n, sql)
        if ("""\b""" + java.util.regex.Pattern.quote(name) + """\b""").r
          .findFirstIn(sql).isDefined => n
      }
    // NESTED DDL shared resolution: the parent must be a top-level
    // depth-1 struct column; returns (parent index, parent field id,
    // struct type, nested mapping). Nested evolution rides the same
    // stable-id machinery as the top level, one level down
    // ([[ColMap.nested]]): metadata-only commits, no data rewrite.
    def nestedTarget(s: StructType, parent: String)
        : (Int, Int, StructType, ColMap.Nested) = {
      // resolve against the FOLDED schema: colmap.ids is maintained in
      // lock-step with it by every change in this ALTER
      val pIdx = s.fieldNames.indexWhere(_.equalsIgnoreCase(parent))
      require(pIdx >= 0, s"no column '$parent' in $ident")
      val st = s.fields(pIdx).dataType match {
        case t: StructType => t
        case o => throw new IllegalArgumentException(
          s"'$parent' is ${o.simpleString}, not a struct — nested DDL " +
            "applies to struct fields")
      }
      val pid = colmap.ids.lift(pIdx).getOrElse(pIdx)
      (pIdx, pid, st, colmap.nestedOf(pid, st.fields.length))
    }
    def atomicType(dt: DataType): Boolean = dt match {
      case _: StructType | _: org.apache.spark.sql.types.ArrayType |
          _: org.apache.spark.sql.types.MapType => false
      case _ => true
    }
    val widened = changes.foldLeft(schema) {
      // ADD COLUMN parent.child — appended at the struct's end with a
      // FRESH nested id: parts written before read NULL for the new
      // sub-column, and a previously dropped sub-field's bytes can
      // never resurrect under the new name
      case (s, add: TableChange.AddColumn)
          if add.fieldNames().length == 2 =>
        val parent = add.fieldNames()(0)
        val child = add.fieldNames()(1)
        val (pIdx, pid, st, nm) = nestedTarget(s, parent)
        require(atomicType(add.dataType()),
          s"nested field '$parent.$child' must be an atomic type " +
            "(depth-1 structs only)")
        require(!st.fieldNames.exists(_.equalsIgnoreCase(child)),
          s"field '$parent.$child' already exists in $ident")
        require(!nm.isRetired(child),
          s"field name '$parent.$child' was previously dropped or " +
            s"renamed away on $ident and cannot be reused")
        require(add.isNullable,
          s"added field '$parent.$child' must be nullable " +
            "(existing rows have no value for it)")
        require(add.position() == null,
          "nested fields can only be added at the end")
        require(add.defaultValue() == null,
          "nested DEFAULT is not supported — added struct fields read " +
            "NULL for pre-existing rows")
        schemaChanged = true
        colmap = colmap.copy(nested = colmap.nested + (pid ->
          nm.copy(ids = nm.ids :+ nm.nextId, nextId = nm.nextId + 1)))
        val nf = StructField(child, add.dataType(), nullable = true)
        StructType(s.fields.updated(pIdx, s.fields(pIdx).copy(
          dataType = StructType(st.fields :+ nf))))
      case (s, add: TableChange.AddColumn) =>
        require(add.fieldNames().length == 1,
          "nested ADD COLUMN applies to depth-1 struct fields only " +
            "(parent.child)")
        val colName = add.fieldNames()(0)
        require(!s.fieldNames.exists(_.equalsIgnoreCase(colName)),
          s"column '$colName' already exists in $ident")
        require(!colmap.isRetired(colName),
          s"column name '$colName' was previously dropped or renamed " +
            s"away on $ident and cannot be reused (stats recorded under " +
            "it would describe a different column)")
        require(add.isNullable,
          s"added column '$colName' must be nullable " +
            "(existing rows have no value for it)")
        require(add.position() == null,
          "columns can only be added at the end (the stats key, the " +
            "first BIGINT, and the first STRING are found by position)")
        schemaChanged = true
        val newId = colmap.nextId
        colmap = colmap.copy(ids = colmap.ids :+ newId,
          nextId = colmap.nextId + 1)
        // ADD COLUMN ... DEFAULT v: the CURRENT default fills omitted
        // writes from now on; the EXISTS default (the literal, frozen
        // here) is what every pre-existing row reads for its missing
        // slot — a metadata-only backfill of the whole table
        Option(add.defaultValue()).foreach { dv =>
          val cur = dv.getSql
          val ex = Option(dv.getValue).map(l =>
            org.apache.spark.sql.catalyst.expressions.Literal(
              l.value(), l.dataType()).sql).getOrElse(cur)
          colmap = colmap.copy(
            defaults = colmap.defaults + (newId -> (cur, ex)))
        }
        val f = StructField(colName, add.dataType(), nullable = true)
        s.add(Option(add.comment()).fold(f)(f.withComment))
      // ALTER COLUMN TYPE — WIDENING only, metadata-only: the Parquet
      // reader widens a committed INT column to BIGINT, and a DECIMAL
      // at the same scale, value-exactly with no rewrite. Float→double
      // stays REJECTED: a widened float reads back by binary value,
      // which need not be the decimal value users saw, so the change
      // must not pretend to be free. Field ids are untouched (same
      // column, same file column); time travel reads each snapshot
      // under its own committed type.
      // ALTER COLUMN parent.child TYPE — the same value-exact WIDENING
      // set as the top level, metadata-only. Nested fields
      // carry NO per-part stats, so the top level's stats-identity
      // guards are vacuous here; nested ids are untouched (same
      // sub-column, same file column). Time travel reads each snapshot
      // under its own committed sub-type.
      case (s, ut: TableChange.UpdateColumnType)
          if ut.fieldNames().length == 2 =>
        val parent = ut.fieldNames()(0)
        val name = ut.fieldNames()(1)
        val (pIdx, _, st, _) = nestedTarget(s, parent)
        val fIdx = st.fieldNames.indexWhere(_.equalsIgnoreCase(name))
        require(fIdx >= 0, s"no field '$parent.$name' in $ident")
        val from = st.fields(fIdx).dataType
        val to = ut.newDataType()
        val widens = (from, to) match {
          case (ByteType, ShortType | IntegerType | LongType) => true
          case (ShortType, IntegerType | LongType)            => true
          case (IntegerType, LongType)                        => true
          case (da: DecimalType, db: DecimalType) =>
            db.scale == da.scale && db.precision >= da.precision
          case _ => false
        }
        require(widens,
          s"unsupported type change ${from.simpleString} -> " +
            s"${to.simpleString} on '$parent.$name': only integral " +
            "widening and same-scale DECIMAL precision growth are " +
            "value-exact without a rewrite")
        schemaChanged = true
        StructType(s.fields.updated(pIdx, s.fields(pIdx).copy(
          dataType = StructType(st.fields.updated(fIdx,
            st.fields(fIdx).copy(dataType = to))))))
      case (s, ut: TableChange.UpdateColumnType) =>
        require(ut.fieldNames().length == 1,
          "nested ALTER COLUMN TYPE applies to depth-1 struct fields " +
            "only (parent.child)")
        val name = ut.fieldNames()(0)
        val idx = s.fieldNames.indexWhere(_.equalsIgnoreCase(name))
        require(idx >= 0, s"no column '$name' in $ident")
        val from = s.fields(idx).dataType
        val to = ut.newDataType()
        val widens = (from, to) match {
          case (ByteType, ShortType | IntegerType | LongType) => true
          case (ShortType, IntegerType | LongType)            => true
          case (IntegerType, LongType)                        => true
          case (da: DecimalType, db: DecimalType) =>
            db.scale == da.scale && db.precision >= da.precision
          case _ => false
        }
        require(widens,
          s"unsupported type change ${from.simpleString} -> " +
            s"${to.simpleString} on '$name': only integral widening " +
            "and same-scale DECIMAL precision growth are value-exact " +
            "without a rewrite (committed parts are never rewritten)")
        // stats-identity guard: committed parts' key ranges/blooms
        // describe the first BIGINT column of their write schema — a
        // widening that CHANGES which column that is would misapply
        // them to different data
        if (to == LongType) {
          val keyIdx = s.fields.indexWhere(_.dataType == LongType)
          require(keyIdx >= 0 && keyIdx < idx,
            s"cannot widen '$name' to BIGINT: it would become the " +
              s"table's stats key column (first BIGINT) and committed " +
              "parts' key ranges describe other data — rewrite the " +
              "table instead")
        }
        schemaChanged = true
        StructType(s.fields.updated(idx, s.fields(idx).copy(dataType = to)))
      // RENAME COLUMN parent.child TO new — metadata-only: the nested
      // field id (and every committed sub-column) is untouched; only
      // the logical name changes. The old name retires so stats or
      // constraints recorded under it can never bind a different
      // physical sub-column later.
      case (s, rn: TableChange.RenameColumn)
          if rn.fieldNames().length == 2 =>
        val parent = rn.fieldNames()(0)
        val from = rn.fieldNames()(1)
        val to = rn.newName()
        val (pIdx, pid, st, nm) = nestedTarget(s, parent)
        val fIdx = st.fieldNames.indexWhere(_.equalsIgnoreCase(from))
        require(fIdx >= 0, s"no field '$parent.$from' in $ident")
        require(!st.fieldNames.exists(_.equalsIgnoreCase(to)),
          s"field '$parent.$to' already exists in $ident")
        require(!nm.isRetired(to),
          s"field name '$parent.$to' was previously dropped or renamed " +
            s"away on $ident and cannot be reused")
        // conservative: a CHECK constraint mentioning either the bare
        // sub-name or the dotted path blocks the rename
        (constraintRefs(from) ++ constraintRefs(s"$parent.$from"))
          .distinct match {
          case Seq() => ()
          case refs => throw new IllegalArgumentException(
            s"cannot rename '$parent.$from': referenced by CHECK " +
              s"constraint(s) ${refs.mkString(", ")} — drop them first")
        }
        schemaChanged = true
        colmap = colmap.copy(nested = colmap.nested + (pid ->
          nm.copy(retired = nm.retired :+ st.fields(fIdx).name)))
        StructType(s.fields.updated(pIdx, s.fields(pIdx).copy(
          dataType = StructType(st.fields.updated(fIdx,
            st.fields(fIdx).copy(name = to))))))
      case (s, rn: TableChange.RenameColumn) =>
        require(rn.fieldNames().length == 1,
          "nested RENAME COLUMN applies to depth-1 struct fields only " +
            "(parent.child)")
        val from = rn.fieldNames()(0)
        val to = rn.newName()
        val idx = s.fieldNames.indexWhere(_.equalsIgnoreCase(from))
        require(idx >= 0, s"no column '$from' in $ident")
        require(!s.fieldNames.exists(_.equalsIgnoreCase(to)),
          s"column '$to' already exists in $ident")
        require(!colmap.isRetired(to),
          s"column name '$to' was previously dropped or renamed away " +
            s"on $ident and cannot be reused")
        constraintRefs(from) match {
          case Seq() => ()
          case refs => throw new IllegalArgumentException(
            s"cannot rename '$from': referenced by CHECK constraint(s) " +
              s"${refs.mkString(", ")} — drop them first")
        }
        // the layout routes (bucket, split) and orders (CLUSTER BY) by
        // this name in the write distribution and the reported
        // partitioning — follow it
        def moved(c: String) = if (c.equalsIgnoreCase(from)) to else c
        spec = spec.copy(
          layout = spec.layout.map { case (n, c) => (n, moved(c)) },
          orderBy = spec.orderBy.map(moved))
        schemaChanged = true
        colmap = colmap.copy(retired = colmap.retired :+ s.fields(idx).name)
        if (ManifestSink.keyAndFirstStr(s).contains(s.fields(idx).name))
          renames :+= (s.fields(idx).name -> to)
        StructType(s.fields.updated(idx, s.fields(idx).copy(name = to)))
      // DROP COLUMN parent.child — metadata-only: the sub-field's id
      // leaves the nested mapping, so readers never resolve its slot
      // again (committed sub-bytes stay in old parts for time travel;
      // they can never resurrect because a later ADD gets a fresh id).
      case (s, del: TableChange.DeleteColumn)
          if del.fieldNames().length == 2 =>
        val parent = del.fieldNames()(0)
        val name = del.fieldNames()(1)
        val (pIdx, pid, st, nm) = nestedTarget(s, parent)
        val fIdx = st.fieldNames.indexWhere(_.equalsIgnoreCase(name))
        if (fIdx < 0) {
          if (del.ifExists()) s
          else throw new IllegalArgumentException(
            s"no field '$parent.$name' in $ident")
        } else {
          require(st.fields.length > 1,
            s"cannot drop '$parent.$name': it is the only field of " +
              s"struct '$parent' — drop the column instead")
          (constraintRefs(name) ++ constraintRefs(s"$parent.$name"))
            .distinct match {
            case Seq() => ()
            case refs => throw new IllegalArgumentException(
              s"cannot drop '$parent.$name': referenced by CHECK " +
                s"constraint(s) ${refs.mkString(", ")} — drop them first")
          }
          schemaChanged = true
          colmap = colmap.copy(nested = colmap.nested + (pid ->
            nm.copy(ids = nm.ids.patch(fIdx, Nil, 1),
              retired = nm.retired :+ st.fields(fIdx).name)))
          StructType(s.fields.updated(pIdx, s.fields(pIdx).copy(
            dataType = StructType(st.fields.patch(fIdx, Nil, 1)))))
        }
      case (s, del: TableChange.DeleteColumn) =>
        require(del.fieldNames().length == 1,
          "nested DROP COLUMN applies to depth-1 struct fields only " +
            "(parent.child)")
        val name = del.fieldNames()(0)
        val idx = s.fieldNames.indexWhere(_.equalsIgnoreCase(name))
        if (idx < 0) {
          if (del.ifExists()) s
          else throw new IllegalArgumentException(
            s"no column '$name' in $ident")
        } else {
          require(s.fields.length > 1,
            s"cannot drop '$name': it is the only column of $ident")
          constraintRefs(name) match {
            case Seq() => ()
            case refs => throw new IllegalArgumentException(
              s"cannot drop '$name': referenced by CHECK constraint(s) " +
                s"${refs.mkString(", ")} — drop them first")
          }
          spec.layout.foreach { case (_, c) =>
            require(!c.equalsIgnoreCase(name),
              s"cannot drop '$name': it is the bucket column of $ident")
          }
          spec.orderBy.foreach { c =>
            require(!c.equalsIgnoreCase(name),
              s"cannot drop '$name': it is the CLUSTER BY column of " +
                s"$ident — ALTER TABLE … CLUSTER BY NONE first")
          }
          // stats-identity guards: committed parts carry key (first
          // BIGINT) and string (first STRING) min/max positionally —
          // a LATER column of the same type would inherit them and
          // prune WRONG after the drop
          val f = s.fields(idx)
          if (f.dataType == LongType &&
              s.fields.indexWhere(_.dataType == LongType) == idx)
            require(!s.fields.drop(idx + 1).exists(_.dataType == LongType),
              s"cannot drop '$name': it is the stats key column (first " +
                s"BIGINT) of $ident and a later BIGINT column would " +
                "inherit its per-part key range — rewrite the table first")
          if (f.dataType == StringType &&
              s.fields.indexWhere(_.dataType == StringType) == idx)
            require(!s.fields.drop(idx + 1).exists(_.dataType == StringType),
              s"cannot drop '$name': it is the string-stats column " +
                s"(first STRING) of $ident and a later STRING column " +
                "would inherit its per-part min/max — rewrite the table first")
          schemaChanged = true
          colmap = colmap.copy(
            ids = colmap.ids.patch(idx, Nil, 1),
            retired = colmap.retired :+ f.name,
            defaults = colmap.defaults - colmap.ids(idx))
          StructType(s.fields.patch(idx, Nil, 1))
        }
      // ALTER COLUMN ... SET/DROP DEFAULT: changes only the CURRENT
      // (write-time) default; the EXISTS default stays frozen — rows
      // that predate the column keep reading the value promised when
      // it was added, exactly Delta/Iceberg's split
      case (s, ud: TableChange.UpdateColumnDefaultValue) =>
        require(ud.fieldNames().length == 1,
          "nested ALTER COLUMN is not supported")
        val name = ud.fieldNames()(0)
        val idx = s.fieldNames.indexWhere(_.equalsIgnoreCase(name))
        require(idx >= 0, s"no column '$name' in $ident")
        val id = colmap.ids.lift(idx).getOrElse(idx)
        val ex = colmap.defaults.get(id).map(_._2).getOrElse("")
        val cur = Option(ud.newCurrentDefault()).map(_.getSql).getOrElse("")
        schemaChanged = true
        colmap = colmap.copy(defaults =
          if (cur.isEmpty && ex.isEmpty) colmap.defaults - id
          else colmap.defaults + (id -> (cur, ex)))
        s
      // ALTER TABLE ADD CONSTRAINT … CHECK (…): Spark has already
      // validated the EXISTING rows (AddCheckConstraintExec scans the
      // table and fails the command on a violation) before this call
      // — we only persist; enforcement of FUTURE writes is the
      // engine's (ResolveTableConstraints reads constraints() and
      // wraps every write in a CheckInvariant)
      case (s, ac: TableChange.AddConstraint) =>
        ac.constraint() match {
          case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
            require(!constraints.exists(_._1.equalsIgnoreCase(c.name())),
              s"constraint '${c.name()}' already exists on $ident")
            constraints = constraints :+ (c.name() -> c.predicateSql())
            ops :+= "add-constraint"
            s
          case other => throw new UnsupportedOperationException(
            s"only CHECK constraints are supported, got ${other.toDDL}")
        }
      case (s, dc: TableChange.DropConstraint) =>
        val exists = constraints.exists(_._1.equalsIgnoreCase(dc.name()))
        if (!exists && !dc.ifExists()) throw new IllegalArgumentException(
          s"no constraint '${dc.name()}' on $ident " +
            s"(have: ${constraints.map(_._1).mkString(", ")})")
        if (exists) {
          constraints = constraints.filterNot(_._1.equalsIgnoreCase(dc.name()))
          ops :+= "drop-constraint"
        }
        s
      // ALTER TABLE SET/UNSET TBLPROPERTIES (COMMENT ON TABLE rides
      // the 'comment' key): operational key-value metadata in the
      // table record — a metadata-only commit, data untouched
      case (s, sp: TableChange.SetProperty) =>
        props = props + (sp.property -> sp.value)
        ops :+= "set-properties"
        s
      case (s, rp: TableChange.RemoveProperty) =>
        props = props - rp.property
        ops :+= "unset-properties"
        s
      // ALTER TABLE ... CLUSTER BY (c) / CLUSTER BY NONE: the
      // clustering lifecycle's other half — replaces (or clears) the
      // write-ordered layout in the table record; existing parts keep
      // their committed placement (compaction migrates), new INSERTs
      // range-distribute + sort on the new column. Same machinery as
      // CALL set_layout(spec => 'none', order_by => c).
      case (s, cb: TableChange.ClusterBy) =>
        spec = TableLayout.check(spec.copy(orderBy = TableLayout.clusterCol(
          cb.clusteringColumns().map(_.fieldNames().mkString(".")))), s)
        ops :+= "cluster-by"
        s
      case (_, c) => throw new UnsupportedOperationException(
        s"unsupported ALTER TABLE change $c — schema evolves " +
          "additively (ADD COLUMN / append commits) only")
    }
    val table = head.table.copy(spec = spec, props = props,
      constraints = constraints)
    if (schemaChanged || table != head.table)
      ManifestSink.publishRebase(conf, p,
        rebase = parts => parts.map(m => m.copy(cstats =
          renames.foldLeft(m.cstats) { case (cs, (from, to)) =>
            cs.get(from).fold(cs)(st => cs - from + (to -> st))
          })),
        HeaderChange.Restate(widened, colmap, table), base = Some(base),
        op = ((if (schemaChanged) Seq("alter") else Nil) ++ ops).distinct
          .mkString(","))
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = new Path(tablePath(ident))
    val fs = p.getFileSystem(conf)
    tableExists(ident) && fs.delete(p, true)
  }

  /** `ALTER TABLE t RENAME TO u` — one filesystem rename plus an
    * O(versions) manifest re-point: every table artifact (version
    * manifests with their table records, part files, branch/tag refs)
    * lives INSIDE the table directory, so the move
    * itself carries everything — but manifests record part and
    * sidecar paths ABSOLUTELY (shallow clones depend on that), so
    * after the move each version/branch/head manifest has the `path`
    * and `dvref` of its part records re-pointed to the new directory
    * (user values such as string stats are left alone; KB-sized
    * files, metadata-only; a rename is not concurrent-safe against
    * in-flight commits by nature, same as any engine). Hazards,
    * documented not hidden: a SHALLOW CLONE of the renamed table
    * still references the old path and breaks (as in Delta), and an
    * MV fed by it fails its next refresh loudly naming the old path
    * — recreate against the new name. */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    val src = new Path(tablePath(oldIdent))
    val dst = new Path(tablePath(newIdent))
    val fs = src.getFileSystem(conf)
    fs.mkdirs(dst.getParent)
    if (fs.exists(dst)) throw new TableAlreadyExistsException(newIdent)
    if (!fs.rename(src, dst))
      throw new java.io.IOException(
        s"rename $oldIdent -> $newIdent failed at $src")
    // re-point the recorded absolute part and sidecar paths (`path`
    // and `dvref` of every part record) in every manifest; nothing
    // else in a record names the table directory
    val forms = Seq(src.toString -> dst.toString,
      src.toUri.getPath -> dst.toUri.getPath)
    def repoint(p: String): String =
      forms.collectFirst { case (from, to)
          if p == from || p.startsWith(from + "/") =>
        to + p.substring(from.length)
      }.getOrElse(p)
    ManifestLog(conf, dst.toString).files.foreach { f =>
      val body = MetaJson.read(conf, f).getOrElse("")
      val repointed = MetaJson.lines(body)
        .map(MetaJson.repointLine(_, repoint)).mkString("", "\n", "\n")
      if (repointed != body) MetaJson.replace(conf, dst, f.getName, repointed)
    }
  }

  // --- FunctionCatalog: the engine's cross-engine hash as a SQL
  // function — `SELECT graftcat.ns.h64(expr)` computes exactly
  // [[graft.functions.OracleHash.h64]] (top 60 bits of md5), so
  // SQL-authored pipelines share the hash contract the DataFrame
  // operators are built on.
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "h64"), Identifier.of(namespace, "bucket"),
      Identifier.of(namespace, "days"), Identifier.of(namespace, "hours"))

  override def loadFunction(ident: Identifier): UnboundFunction =
    ident.name() match {
      case "h64"    => H64Function
      case "bucket" => GraftBucketFunction
      case "days" => GraftTimeOrdinalFunction.Days
      case "hours" => GraftTimeOrdinalFunction.Hours
      case _        => throw new NoSuchFunctionException(ident)
    }

  // --- ProcedureCatalog: the table-maintenance lifecycle as SQL
  // `CALL graftcat.system.<proc>(...)` (Spark 4's native DSv2
  // procedure API — see [[GraftProcedures]] for the registry and the
  // at-scale rationale).
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftProcedures.names.map(Identifier.of(namespace, _)).toArray
    else Array.empty

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    if (!ident.namespace().sameElements(Array("system")))
      throw new IllegalArgumentException(
      s"procedures live in the 'system' namespace " +
        s"(got ${ident.namespace().mkString(".")}.${ident.name()})")
    GraftProcedures.load(ident.name(), warehouse).getOrElse(
      throw new IllegalArgumentException(
        s"unknown procedure '${ident.name()}' " +
          s"(known: ${GraftProcedures.names.mkString(", ")})"))
  }

  // --- ViewCatalog: `CREATE VIEW cat.ns.v AS SELECT ...` persisted
  // as one metadata record per view (see [[GraftViews]] for the
  // storage contract). Spark re-expands the stored SQL text at
  // resolution, so a view composes with every table feature — time
  // travel, metadata tables, pushdown — for free.
  override def listViews(namespace: String*): Array[Identifier] =
    GraftViews.list(conf, warehouse, namespace.toArray)

  override def loadView(ident: Identifier): View =
    GraftViews.read(conf, warehouse, ident)
      .getOrElse(throw new NoSuchViewException(ident))

  override def viewExists(ident: Identifier): Boolean =
    GraftViews.exists(conf, warehouse, ident)

  override def createView(info: ViewInfo): View = {
    require(!tableExists(info.ident()),
      s"cannot create view ${info.ident()}: a table with that name exists")
    if (GraftViews.exists(conf, warehouse, info.ident()))
      throw new ViewAlreadyExistsException(info.ident())
    GraftViews.write(conf, warehouse, info, orReplace = false)
    loadView(info.ident())
  }

  override def replaceView(info: ViewInfo, orCreate: Boolean): View = {
    if (!orCreate && !GraftViews.exists(conf, warehouse, info.ident()))
      throw new NoSuchViewException(info.ident())
    GraftViews.write(conf, warehouse, info, orReplace = true)
    loadView(info.ident())
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val v = loadView(ident)
    val props = new util.HashMap[String, String](v.properties())
    changes.foreach {
      case s: ViewChange.SetProperty    => props.put(s.property(), s.value())
      case r: ViewChange.RemoveProperty => props.remove(r.property())
      case c => throw new UnsupportedOperationException(
        s"unsupported ALTER VIEW change $c")
    }
    GraftViews.write(conf, warehouse, new ViewInfo(ident, v.query(),
      v.currentCatalog(), v.currentNamespace(), v.schema(),
      v.queryColumnNames(), v.columnAliases(), v.columnComments(), props),
      orReplace = true)
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean =
    GraftViews.drop(conf, warehouse, ident)

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val v = GraftViews.read(conf, warehouse, oldIdent)
      .getOrElse(throw new NoSuchViewException(oldIdent))
    if (GraftViews.exists(conf, warehouse, newIdent) || tableExists(newIdent))
      throw new ViewAlreadyExistsException(newIdent)
    GraftViews.write(conf, warehouse, new ViewInfo(newIdent, v.query(),
      v.currentCatalog(), v.currentNamespace(), v.schema(),
      v.queryColumnNames(), v.columnAliases(), v.columnComments(),
      v.properties()), orReplace = false)
    GraftViews.drop(conf, warehouse, oldIdent)
  }
}

/** SQL-callable twin of [[graft.functions.OracleHash.h64]]: top 60
  * bits of md5 of the UTF-8 string rendering, as non-negative BIGINT —
  * bit-identical to both the Column helper and the DuckDB oracle
  * formula (CatalogSpec pins all three). */
private[sources] object H64Function extends UnboundFunction {
  override def name(): String = "h64"
  override def description(): String =
    "h64(string): top 60 bits of md5 as non-negative BIGINT"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 1 &&
      inputType.fields(0).dataType == StringType,
      s"h64 takes one STRING argument, got ${inputType.simpleString}")
    new ScalarFunction[java.lang.Long] {
      override def inputTypes(): Array[DataType] = Array(StringType)
      override def resultType(): DataType = LongType
      override def name(): String = "h64"
      override def canonicalName(): String = "graft.h64"
      override def isResultNullable: Boolean = false
      override def produceResult(input: InternalRow): java.lang.Long = {
        val s = input.getUTF8String(0)
        if (s == null) null
        else {
          val d = java.security.MessageDigest.getInstance("MD5")
            .digest(s.getBytes)
          // first 15 hex digits = top 7.5 bytes; build the value
          // nibble-by-nibble to avoid string round-trips
          var v = 0L
          var i = 0
          while (i < 15) {
            val b = d(i / 2) & 0xff
            val nibble = if (i % 2 == 0) b >>> 4 else b & 0xf
            v = (v << 4) | nibble
            i += 1
          }
          java.lang.Long.valueOf(v)
        }
      }
    }
  }
}

/** THE LAYOUT RULES: one [[TableSpec]] names a table's row placement
  * (hash buckets, an identity or days/hours split, or a write order),
  * and [[check]] is the one place it is validated against a schema —
  * for CREATE / CTAS / RTAS, ALTER … CLUSTER BY, `set_layout` and the
  * path write's `buckets` / `splitBy` / `clusterBy` options alike. The
  * spellings only parse into a spec; every write then plans from it
  * ([[ManifestSink.writePlan]]). */
private[sources] object TableLayout {
  import org.apache.spark.sql.types.TimestampType

  /** `bucket(n, col)`: 0 buckets encodes the identity split, so a
    * bucket spelling is refused here, before its count is encoded. */
  def bucket(n: Int, col: String): TableSpec = {
    require(n >= 1, s"bucket count must be >= 1, got $n")
    TableSpec(Some((n, col)))
  }

  /** The column of a `CLUSTER BY` list: none clears, one orders. */
  def clusterCol(cols: Seq[String]): Option[String] = {
    require(cols.length <= 1,
      s"CLUSTER BY supports exactly one column here (multi-dimension " +
        s"clustering is CALL system.compact(zorder => '...')), got " +
        cols.mkString("(", ", ", ")"))
    cols.headOption
  }

  /** The DDL spelling — `PARTITIONED BY (bucket(n, col) | col |
    * days(col) | hours(col))` and `CLUSTER BY (col)` — checked
    * against the table schema. */
  def fromDdl(partitions: Array[Transform], schema: StructType): TableSpec = {
    def colOf(t: Transform, e: expressions.Expression): String = e match {
      case r: expressions.NamedReference => r.fieldNames().mkString(".")
      case a => throw new IllegalArgumentException(
        s"${t.name()}: expected a column reference, got $a")
    }
    val (cluster, placement) = partitions.partition(_.name() == "cluster_by")
    val layout = placement.toSeq match {
      case Seq() => TableSpec()
      case Seq(t) if TimeSplit.valid(t.name()) && t.arguments().length == 1 =>
        TableSpec(Some((0, colOf(t, t.arguments()(0)))),
          transform = Some(t.name()))
      case Seq(t) if t.name() == "identity" && t.arguments().length == 1 =>
        TableSpec(Some((0, colOf(t, t.arguments()(0)))))
      case Seq(t) if t.name() == "bucket" && t.arguments().length == 2 =>
        bucket(t.arguments()(0) match {
          case l: expressions.Literal[_] =>
            l.value().asInstanceOf[Number].intValue()
          case a => throw new IllegalArgumentException(
            s"bucket(n, col): n must be a literal, got $a")
        }, colOf(t, t.arguments()(1)))
      case other => throw new UnsupportedOperationException(
        s"graft tables support PARTITIONED BY (bucket(n, col)), " +
          s"PARTITIONED BY (days(col) | hours(col)), " +
          s"PARTITIONED BY (col) or CLUSTER BY (col), got " +
          other.mkString(", "))
    }
    check(layout.copy(orderBy = clusterCol(cluster.toSeq.flatMap(
      t => t.arguments().toSeq.map(colOf(t, _))))), schema)
  }

  /** The spec with its column names resolved (case-insensitively) to
    * the schema's, or a refusal: at most one layout; a bucket column
    * is the first BIGINT (bucket routing and stats pruning share it);
    * an identity-split or order column is BIGINT or STRING; a
    * days/hours split column is TIMESTAMP. */
  def check(spec: TableSpec, schema: StructType): TableSpec = {
    def cols = schema.fieldNames.mkString("(", ",", ")")
    def field(c: String) = schema.fields.find(_.name.equalsIgnoreCase(c))
    def keyLike(c: String, role: String): String = {
      val f = field(c)
      require(f.exists(x => x.dataType == LongType || x.dataType == StringType),
        s"$role column '$c' must be a BIGINT or STRING column of $cols")
      f.get.name
    }
    require(spec.layout.isEmpty || spec.orderBy.isEmpty,
      "one layout owns row placement: a bucket, identity-partitioned or " +
        "time-split layout cannot combine with a write order " +
        "(CLUSTER BY / order_by) — replace the layout via CALL set_layout")
    require(spec.transform.isEmpty || spec.layout.exists(_._1 == 0),
      s"time transform ${spec.transform.get} needs a split column")
    val layout = spec.layout.map {
      case (0, c) => spec.transform match {
        case Some(tf) =>
          require(TimeSplit.valid(tf),
            s"time transform must be 'days' or 'hours', got '$tf'")
          val f = field(c)
          require(f.exists(_.dataType == TimestampType),
            s"$tf-partition column '$c' must be a TIMESTAMP column of $cols")
          (0, f.get.name)
        case None => (0, keyLike(c, "identity-partition"))
      }
      case (n, c) =>
        require(n >= 1, s"bucket count must be >= 1, got $n")
        val key = schema.fields.find(_.dataType == LongType).map(_.name)
        require(key.exists(_.equalsIgnoreCase(c)),
          s"bucket column '$c' must be the table's first BIGINT column " +
            s"(${key.getOrElse("none present")}) — bucket routing and " +
            "stats pruning share that column")
        (n, key.get)
    }
    TableSpec(layout, spec.transform, spec.orderBy.map(keyLike(_, "order")))
  }
}

/** THE MANIFEST TABLE — the one `Table` over a version log, whichever
  * way it was reached: the catalog (`cat.ns.t`, time travel included)
  * or a path ([[ManifestSource]]'s `read`, `readStream` and `write`).
  * Built by [[GraftTable.apply]] from one snapshot, it serves batch
  * reads (full pushdown surface), streaming reads (snapshot offsets),
  * versioned batch and streaming writes (INSERT INTO / `append`
  * publish a snapshot; INSERT OVERWRITE / `overwrite` is a logical
  * truncate commit), row-level DML and METADATA-ONLY `DELETE FROM`.
  * Every write obeys the snapshot's [[TableRecord]]: its layout, its
  * identity and generated columns, its bloom columns and its CHECK
  * constraints, so a path write lands exactly like an INSERT.
  *
  * DELETE accepts a predicate only when every part is DECIDABLE from
  * manifest stats alone — provably all-match (part's [min, max] lies
  * inside the deleted key range, key column non-nullable) or provably
  * none-match (ranges disjoint). The commit is then one new snapshot
  * that simply stops listing the dropped parts: no data file is read,
  * written, or removed, and time travel still sees the deleted rows —
  * the Iceberg/Delta "metadata delete" fast path. An undecidable
  * predicate (straddling a part, non-key column, nullable key) is
  * REJECTED at analysis via canDeleteWhere rather than half-applied;
  * a copy-on-write rewrite is the documented escalation a row-level
  * delete would take. On a range-partitioned layout (each part owns a
  * disjoint key range) retention deletes are decidable by
  * construction — CatalogSpec pins both paths.
  *
  * `ident` is the catalog identifier (None for a path): only a catalog
  * resolves the `bucket`/`days`/`hours` transforms a write
  * distribution names. `ref` is the snapshot read: the main head, a
  * branch head, or a pinned version; a pinned version and a change
  * feed (`cdf`) are read-only. */
private[sources] class GraftTable(
    ident: Option[Identifier], path: String, tableSchema: StructType,
    table: TableRecord, ref: Ref, cdf: Boolean)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with TruncatableTable {

  /** The table directory, for [[MvRewrite.readsManifestDir]]. */
  private[sources] def tableDir: String = path

  /** The table dir when a relation over this table reads the plain
    * MAIN head — no time travel, change feed, branch or stream start —
    * the only read shape [[MvRewrite]] may substitute before scan
    * planning. */
  private[sources] def headDir(options: CaseInsensitiveStringMap): Option[String] =
    if (ref == Ref.Head && !cdf &&
        Seq("branch", "startingVersion").forall(k =>
          Option(options.get(k)).forall(_.isEmpty))) Some(path)
    else None

  /** Writes land on a head: the main head or a branch's. */
  private def writable: Boolean = !cdf && (ref match {
    case Ref.Head | Ref.Branch(_, None) => true
    case _ => false
  })

  /** SQL `TRUNCATE TABLE` — a LOGICAL truncate: one empty-part-list
    * snapshot (same schema), so pre-truncate versions stay
    * time-travelable and the data files stay until vacuum. Same
    * semantics as INSERT OVERWRITE of zero rows. */
  override def truncateTable(): Boolean = {
    ManifestSink.publishRebase(ManifestSink.driverConf(), path,
      _ => Seq.empty, HeaderChange.Keep, op = "truncate")
    true
  }

  import org.apache.spark.sql.connector.write.{RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo}

  /** `_part`/`_pos` — physical row address (see [[PartMetaColumn]],
    * [[PosMetaColumn]]); `_part` is also the group identity the
    * row-level rewrites require, and (`_part`, `_pos`) is what the
    * merge-on-read DELETE builds its deletion vectors from. A change
    * feed's schema carries its own metadata columns instead. */
  override def metadataColumns(): Array[MetadataColumn] =
    if (cdf) Array.empty else Array(PartMetaColumn, PosMetaColumn)

  /** SQL UPDATE / MERGE INTO / every DELETE not answered from
    * metadata land here as group-based copy-on-write rewrites
    * ([[ManifestRowLevelOp]]) by default, or as MERGE-ON-READ deltas
    * ([[ManifestDeltaOp]], Spark's SupportsDelta) under
    * `graft.delete.mode=mor` — matched rows become deletion-vector
    * bits + appended row images instead of part rewrites, the
    * Iceberg-v2/Delta-DV shape for sparse DML against wide tables.
    * Equality deletes and stats-decidable DELETEs still take their
    * commit-only paths — Spark's OptimizeMetadataOnlyDeleteFromTable
    * consults canDeleteWhere before falling back to the rewrite. */
  /** BRANCH-SCOPED DML (`spark.conf.set("graft.branch", "audit")` —
    * Iceberg's `spark.wap.branch` session routing): with a branch
    * set, UPDATE / DELETE / MERGE read the BRANCH head and commit to
    * the branch line — the audit half of write-audit-publish gains
    * full DML, main stays untouched until fast_forward. Conflict
    * detection (base + footprint) pins the branch's own
    * version line. Resolved per OPERATION, not per table load, so
    * one session can interleave branch and main statements. */
  private def sessionBranch: Option[String] =
    try org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(s => Option(s.conf.get("graft.branch", "")))
      .filter(_.nonEmpty)
    catch { case scala.util.control.NonFatal(_) => None }

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation = {
        val branch = sessionBranch
        if (ManifestDeltaOp.morEnabled(
            org.apache.spark.sql.SparkSession.active))
          new ManifestDeltaOp(path, tableSchema, info.command, branch)
        else new ManifestRowLevelOp(path, tableSchema, info.command, branch)
      }
    }

  import org.apache.spark.sql.sources.{Filter => V1Filter}
  /** The retained part list over `parts`, when every part is
    * decidable; None when the predicate cannot be proven part-whole
    * from stats. Pure in `parts` so the commit loop can RE-APPLY it
    * against a freshly-read head on claim retry. */
  private def decideOn(parts: Seq[PartMeta],
      filters: Array[V1Filter]): Option[Seq[PartMeta]] = {
    val key = tableSchema.fields.find(_.dataType == LongType)
      .getOrElse(return None).name
    // every conjunct must be a range on the key (none = delete all)
    val (lo, hi) =
      if (filters.isEmpty) (Long.MinValue, Long.MaxValue)
      else LongRange.conjunction(key, filters.toSeq) match {
        case Some((l, h, true)) => (l, h)
        case _ => return None
      }
    val classes = parts.map(LongRange.classify(_, key, lo, hi))
    if (classes.contains('m')) None
    else Some(parts.zip(classes).collect { case (p, 'u') => p })
  }

  private def decide(filters: Array[V1Filter]): Option[Seq[PartMeta]] =
    decideOn(ManifestLog(ManifestSink.driverConf(), path).snapshot().parts,
      filters)

  /** The DELETEs answered by a commit alone: equality deletes under
    * `graft.delete.mode=eq`, and the metadata fast path when every
    * part is stats-decidable. Every other DELETE is declined here and
    * Spark plans the row-level rewrite ([[newRowLevelOperationBuilder]]),
    * which also rejects unsupported shapes at analysis. */
  override def canDeleteWhere(filters: Array[V1Filter]): Boolean =
    // branch-routed sessions decline the metadata fast path (it
    // commits to MAIN); the row-level rewrite routes to the branch
    // line. EQUALITY deletes are the exception — their commit is
    // branch-aware, so they accept under a session branch too.
    ManifestEq.canDelete(org.apache.spark.sql.SparkSession.active,
      tableSchema, filters) ||
      (sessionBranch.isEmpty && decide(filters).isDefined)

  override def deleteWhere(filters: Array[V1Filter]): Unit = {
    if (ManifestEq.canDelete(org.apache.spark.sql.SparkSession.active,
        tableSchema, filters)) {
      ManifestEq.deleteWhere(path, tableSchema, filters, sessionBranch)
      return
    }
    // the keep list is recomputed from the head INSIDE the commit
    // loop, so a commit racing this delete keeps its parts; if the
    // new head makes the delete stats-undecidable, fail loudly rather
    // than half-apply (the caller re-plans → row-level rewrite)
    ManifestSink.publishRebase(ManifestSink.driverConf(), path,
      rebase = head => decideOn(head, filters).getOrElse(
        throw new java.util.ConcurrentModificationException(
          s"metadata DELETE on $path no longer stats-decidable " +
            "after a concurrent commit; re-plan (row-level rewrite)")),
      HeaderChange.Keep, op = "delete")
  }

  override def name(): String = ident.fold {
    val at = ref match {
      case Ref.At(v) => s"@v$v"
      case Ref.Branch(b, v) => s"@$b" + v.fold("")(n => s"@v$n")
      case _ => ""
    }
    s"manifest($path$at${if (cdf) "@changes" else ""})"
  }(_.toString)
  override def schema(): StructType = tableSchema

  /** Stored TBLPROPERTIES (`SHOW TBLPROPERTIES` / `DESCRIBE EXTENDED`
    * read this; `COMMENT ON TABLE` rides the 'comment' key). */
  override def properties(): util.Map[String, String] =
    table.props.asJava

  // AUTOMATIC_SCHEMA_EVOLUTION opts into Spark's
  // ResolveMergeIntoSchemaEvolution: `MERGE … WITH SCHEMA EVOLUTION`
  // funnels the source's new columns through this catalog's OWN
  // alterTable (AddColumn at end, fresh field id, metadata-only) —
  // no parallel evolution path exists
  override def capabilities(): util.Set[TableCapability] = {
    val read = Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
    (if (!writable) read
     else read ++ Set(TableCapability.BATCH_WRITE,
       TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE,
       TableCapability.OVERWRITE_BY_FILTER,
       TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)).asJava
  }

  /** The scan of this table's snapshot; on a main-head table
    * `option("branch", "audit")` reads the branch head — the
    * audit-side read of write-audit-publish. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val conf = ManifestSink.driverConf()
    new ManifestScanBuilder(path, tableSchema,
      new SerializableConfiguration(conf),
      if (ref == Ref.Head)
        Ref.of(None, Option(options.get("branch")).filter(_.nonEmpty))
      else ref,
      cdf,
      startingVersion = StreamOptions.resolveStarting(options, conf, path),
      maxPartsPerTrigger = StreamOptions.maxPartsPerTrigger(options))
  }

  /** Bucketed / identity-partitioned tables advertise their layout
    * (bucket count 0 encodes the identity split spec). */
  override def partitioning(): Array[Transform] =
    table.spec.layout.map {
      case (0, c) => expressions.Expressions.identity(c)
      case (n, c) => expressions.Expressions.bucket(n, c)
    }.toArray

  /** The record's CHECK constraints, reported ENFORCED — Spark's
    * ResolveTableConstraints wraps every write to this table (INSERT,
    * UPDATE, MERGE and path writes alike) in a CheckInvariant over
    * these predicates, so a violating write fails before any part
    * commits. VALID because ALTER TABLE ADD CONSTRAINT validated the
    * existing rows before the constraint was committed. */
  override def constraints():
      Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    table.constraints.map { case (n, sql) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint
        .check(n).predicateSql(sql).enforced(true)
        .validationStatus(org.apache.spark.sql.connector.catalog
          .constraints.Constraint.ValidationStatus.VALID)
        .rely(true).build()
        : org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  /** Identity-column spec parsed once from the record's props —
    * the write side generates values (see [[ManifestIdentity]]). */
  private val identitySpec: Option[ManifestIdentity.Spec] =
    ManifestIdentity.parse(table.props)

  /** Generated-column expression SQL, parsed once from the record's
    * props; bound per write against the write schema (see
    * [[ManifestGenerated]]). */
  private val generatedSpecs: Seq[(String, String)] =
    ManifestGenerated.parse(table.props)

  /** The layout and exchange width a path write plans: the record's
    * layout, or — on a table that records none — the write's own
    * spelling of one: `buckets` hashes the first BIGINT column,
    * `splitBy` splits by value, `clusterBy` orders the write;
    * `writePartitions` fixes the width. An option that disagrees with
    * a recorded layout is refused: the record owns row placement. */
  private def pathSpec(options: CaseInsensitiveStringMap,
      schema: StructType): (TableSpec, Option[Int]) = {
    def opt(k: String) = Option(options.get(k)).filter(_.nonEmpty)
    val layouts =
      opt("buckets").map(n => TableLayout.bucket(n.toInt, schema.fields
        .find(_.dataType == LongType).fold("")(_.name))).toSeq ++
        opt("splitBy").map(c => TableSpec(Some((0, c)))) ++
        opt("clusterBy").map(c => TableSpec(orderBy = Some(c)))
    require(layouts.length <= 1,
      "options 'buckets', 'clusterBy' and 'splitBy' are mutually " +
        "exclusive (hash-bucketed vs range-clustered vs " +
        "identity-partitioned layout)")
    val spec = layouts.headOption.map(TableLayout.check(_, schema)) match {
      case Some(s) if table.spec != TableSpec() && s != table.spec =>
        throw new IllegalArgumentException(s"${name()} records the " +
          s"layout ${table.spec}; the write's layout option asks for $s " +
          "— drop the option, or change the layout with CALL set_layout")
      case s => s.getOrElse(table.spec)
    }
    (spec, opt("writePartitions").map(_.toInt))
  }

  /** `df.writeTo(...).option("branch", "audit").append()` (or a path
    * write with the option) stages the commit on the branch —
    * invisible to main readers until
    * [[ManifestMaintenance.fastForward]] publishes it. Every write
    * plans from the layout ([[pathSpec]] on a path): a bucketed
    * catalog table (a) requires a distribution clustered by
    * `bucket(n, col)` —
    * resolved through the catalog's own function, so Spark plans one
    * exchange that co-locates each bucket's rows in one task and the
    * writer emits ~one file per bucket — and (b) routes rows through
    * the layout writer, which records the bucket ordinals the
    * SPJ-reporting scan needs; a path has no function catalog, so it
    * routes without the exchange. INSERT INTO / OVERWRITE / REPLACE
    * WHERE arrive through [[ManifestWriteBuilder]], streaming appends
    * through [[ManifestStreamingWrite]]. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val (spec, width) = ident.fold(pathSpec(info.options, info.schema()))(
      _ => (table.spec, None))
    new ManifestWriteBuilder((doTruncate, replaceFilters) => {
      val branch = Option(info.options.get("branch")).filter(_.nonEmpty)
      val sconf = new SerializableConfiguration(ManifestSink.driverConf())
      // generated columns bind against THIS write's schema (insert
      // projections land in table order) on the driver, once
      val genFills: Seq[(Int, org.apache.spark.sql.catalyst.expressions.Expression)] =
        if (generatedSpecs.isEmpty) Seq.empty
        else {
          val session = org.apache.spark.sql.SparkSession.active
          val banned = generatedSpecs.map(_._1).toSet ++
            identitySpec.map(_.col)
          generatedSpecs.flatMap { case (c, e) =>
            val slot = info.schema().fields.indexWhere(f =>
              ManifestGenerated.sameName(f.name, c))
            require(slot >= 0, s"generated column '$c' missing from " +
              s"the write schema ${info.schema().simpleString} — " +
              "select it as NULL (the sink computes it)")
            Seq(slot -> ManifestGenerated.bind(session, info.schema(),
              c, e, banned))
          }
        }
      // df.writeStream.toTable: exactly-once epoch appends through
      // [[ManifestStreamingWrite]] — append-mode only (a streaming
      // truncate/replace-where is not a log-structured sink shape)
      def streaming()
          : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
        require(!doTruncate && replaceFilters.isEmpty,
          "streaming writes append only (use foreachBatch for " +
            "overwrite/replace-where shapes)")
        require(branch.isEmpty,
          "streaming writes target main (stage on a branch in batch)")
        require(identitySpec.isEmpty && generatedSpecs.isEmpty,
          "streaming writes into identity/generated-column tables " +
            "are not " +
            "supported (epoch replay would need the idempotence " +
            "marker to carry the issued range); generate ids in " +
            "foreachBatch or write to a staging table")
        new ManifestStreamingWrite(path, info.schema(), info.queryId(),
          sconf, spec)
      }
      ManifestSink.writePlan(spec, resolvesTransforms = ident.isDefined,
        width)(
        () => new ManifestBatchWrite(path, info.schema(), doTruncate,
          sconf, branch, spec, replaceFilters = replaceFilters,
          identity = identitySpec, generated = genFills),
        () => streaming())
    })
  }
}

private[sources] object GraftTable {
  /** THE TABLE FACTORY: the table `ref` names in the log at `dir`,
    * built from one [[Snapshot]] — its record, and its schema unless
    * the caller states one (a path write states the DataFrame's, a
    * path read the schema it inferred). A change feed widens the
    * snapshot's schema with the change columns. None when neither
    * gives a schema: no table is committed there. The schema carries
    * the snapshot's column defaults (`CURRENT_DEFAULT` /
    * `EXISTS_DEFAULT`, which Spark's default resolution reads) and
    * identity spec (which DESCRIBE and write validation read) as
    * field metadata; the DDL codec stores schemas clean, the column
    * mapping and the record's props being their canonical store.
    * Split tables get the partition-management face
    * ([[GraftPartitionedTable]]). */
  def apply(ident: Option[Identifier], dir: String, ref: Ref = Ref.Head,
      cdf: Boolean = false,
      schema: Option[StructType] = None): Option[GraftTable] = {
    require(!cdf || !ref.isInstanceOf[Ref.Branch],
      "the change feed follows the MAIN snapshot line; 'branch' and " +
        "'changeFeed' are mutually exclusive")
    val snap = ManifestLog(ManifestSink.driverConf(), dir).snapshot(ref)
    val table = snap.header.table
    // a tag or an instant resolves to the version it names
    val read = ref match {
      case Ref.Tag(_) | Ref.AsOf(_) => Ref.At(snap.version)
      case r => r
    }
    schema.orElse(snap.schema.map(s =>
      if (cdf) StructType(s.fields ++ ManifestCdf.MetaFields) else s))
      .map { s =>
        val loaded = decorate(s, snap.header)
        GraftPartitionedTable.of(ident, dir, loaded, table)
          .filter(_ => read == Ref.Head && !cdf)
          .getOrElse(new GraftTable(ident, dir, loaded, table, read, cdf))
      }
  }

  private def decorate(schema: StructType, head: ManifestHeader): StructType = {
    val defaults = head.schemaCm.fold(Map.empty[String, (String, String)]) {
      case (s, cm) => s.fieldNames.zip(cm.ids)
        .flatMap { case (n, id) => cm.defaults.get(id).map(n -> _) }.toMap
    }
    val identity = ManifestIdentity.parse(head.table.props)
    StructType(schema.fields.map { f =>
      val b = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
      defaults.get(f.name).foreach { case (cur, ex) =>
        if (cur.nonEmpty) b.putString("CURRENT_DEFAULT", cur)
        if (ex.nonEmpty) b.putString("EXISTS_DEFAULT", ex)
      }
      identity.filter(_.col == f.name).foreach { s =>
        b.putLong(ManifestIdentity.MetaStart, s.start)
        b.putLong(ManifestIdentity.MetaStep, s.step)
        b.putBoolean(ManifestIdentity.MetaAllow, s.allowExplicit)
      }
      f.copy(metadata = b.build())
    })
  }
}

/** Split tables with Spark's PARTITION MANAGEMENT surface, one class
  * for both split layouts; they differ only in three parameters:
  *
  *  - `valueOf`, the partition value a part PROVABLY holds: an
  *    identity split's single value (min == max, zero nulls,
  *    [[MetaTables.singleValue]]), or a `days`/`hours` split's DERIVED
  *    ordinal (the column's micros stats fall inside one UTC
  *    day/hour, [[TimeSplit.partOrdinal]]) — the user never maintains
  *    a date column, so a query on `ts` itself prunes;
  *  - `codec`, the partition column and its row form: the split
  *    column itself, `<col>_day DATE` (epoch day IS the DATE's
  *    internal value) or `<col>_hour BIGINT`;
  *  - `mayHold`, the straddler veto: could a part whose value is not
  *    provable (a pre-layout generation) still hold the value?
  *
  * `SHOW PARTITIONS t [PARTITION (c = v)]` lists the distinct
  * provable values straight off the head manifest (no data file
  * opened), and `ALTER TABLE t DROP PARTITION (c = v)` is a
  * METADATA-ONLY delete: one snapshot that stops listing the value's
  * parts (time travel intact, files stay until vacuum — the Hive DROP
  * PARTITION idiom on the snapshot log). While a straddler may still
  * hold the value the drop REFUSES and names the fix (compact
  * migrates the layout) rather than half-applying. Partitions are
  * derived from data by design — INSERT rows instead of creating
  * them. */
private[sources] class GraftPartitionedTable[V: Ordering](
    ident: Option[Identifier], path: String, tableSchema: StructType,
    table: TableRecord, valueOf: PartMeta => Option[V],
    codec: GraftPartitionedTable.Codec[V],
    mayHold: (PartMeta, V) => Boolean)
    extends GraftTable(ident, path, tableSchema, table, Ref.Head, cdf = false)
    with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement {

  private def conf = ManifestSink.driverConf()
  private def partCol: String = codec.field.name

  override def partitionSchema(): StructType = StructType(Seq(codec.field))

  override def listPartitionIdentifiers(names: Array[String],
      id: InternalRow): Array[InternalRow] = {
    val vals = ManifestLog(conf, path).snapshot().parts
      .flatMap(valueOf(_)).distinct.sorted
    val filtered =
      if (names.isEmpty) vals
      else {
        require(names.length == 1 && names(0).equalsIgnoreCase(partCol),
          s"unknown partition column(s) ${names.mkString(", ")} — the " +
            s"layout partitions by '$partCol' only")
        val want = codec.fromRow(id)
        vals.filter(_ == want)
      }
    filtered.map(codec.toRow).toArray
  }

  override def dropPartition(id: InternalRow): Boolean = {
    val want = codec.fromRow(id)
    var dropped = false
    ManifestSink.publishRebase(conf, path,
      rebase = head => {
        val straddlers = head.filter(m => valueOf(m).isEmpty && mayHold(m, want))
        require(straddlers.isEmpty,
          s"DROP PARTITION ($partCol = $want): ${straddlers.size} " +
            "pre-layout part(s) may still hold it — CALL " +
            "system.compact to migrate the layout first")
        val (hit, keep) = head.partition(m => valueOf(m).contains(want))
        dropped = dropped || hit.nonEmpty
        keep
      },
      HeaderChange.Keep, op = "drop-partition")
    dropped
  }

  override def createPartition(id: InternalRow,
      props: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "split partitions are derived from data — INSERT rows carrying " +
        "the new value instead")
  override def replacePartitionMetadata(id: InternalRow,
      props: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "split partitions carry no mutable metadata")
  override def loadPartitionMetadata(id: InternalRow)
      : util.Map[String, String] =
    java.util.Collections.emptyMap[String, String]()
}

private[sources] object GraftPartitionedTable {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.unsafe.types.UTF8String

  /** The partition column and the row form of its values. */
  final case class Codec[V](field: StructField, toRow: V => InternalRow,
      fromRow: InternalRow => V)

  private def row(v: Any): InternalRow = new GenericInternalRow(Array[Any](v))

  /** The partition-management face of a split layout, None for every
    * other layout. */
  def of(ident: Option[Identifier], path: String, schema: StructType,
      table: TableRecord): Option[GraftTable] =
    table.spec.layout.collect { case (0, splitCol) =>
      val field = schema.fields.find(_.name.equalsIgnoreCase(splitCol))
        .getOrElse(throw new IllegalStateException(
          s"split column '$splitCol' missing from ${schema.sql}"))
      table.spec.transform match {
        case Some(tf) =>
          val isDays = tf == TimeSplit.Days
          val codec = Codec[Long](
            if (isDays) StructField(s"${field.name}_day",
              org.apache.spark.sql.types.DateType, nullable = false)
            else StructField(s"${field.name}_hour", LongType, nullable = false),
            d => row(if (isDays) d.toInt else d),
            id => if (isDays) id.getInt(0).toLong else id.getLong(0))
          new GraftPartitionedTable[Long](ident, path, schema, table,
            m => if (m.rows > 0)
              TimeSplit.partOrdinal(m.cstats.get(field.name), m.rows, tf)
            else None,
            codec,
            (m, want) => m.rows > 0 && TimeSplit.mayHoldOrdinal(
              m.cstats.get(field.name), m.rows, want, tf))
        case None =>
          val isLong = field.dataType == LongType
          val codec = Codec[String](
            StructField(field.name, field.dataType, field.nullable),
            raw => row(if (isLong) raw.toLong else UTF8String.fromString(raw)),
            id => if (isLong) id.getLong(0).toString
              else id.getUTF8String(0).toString)
          new GraftPartitionedTable[String](ident, path, schema, table,
            MetaTables.singleValue(_, field.name), codec,
            // stats get a veto; an untracked column cannot exonerate
            (m, want) => m.cstats.get(field.name) match {
              case Some(st) if st.kind == 'l' => st.mayContain(want.toLong)
              case Some(st) => st.mayContainStr(want)
              case None => true
            })
      }
    }
}

/** A METADATA TABLE (`SELECT * FROM cat.ns.t.<suffix>`, the Iceberg
  * `db.table.history` shape): rows built on the driver from version
  * manifests alone (KBs) and served through a [[LocalRowsScan]] — zero
  * data files opened at any table size. */
private[sources] class ManifestMetaTable(path: String, suffix: String,
    ddl: String, rows: MetaTables.Rows)
    extends Table with SupportsRead {
  private val metaSchema = StructType.fromDDL(ddl)
  override def name(): String = s"manifest($path).$suffix"
  override def schema(): StructType = metaSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => LocalRowsScan(metaSchema, rows(ManifestSink.driverConf(), path))
}

/** The metadata tables by name suffix, plus their shared helpers. */
private[sources] object MetaTables {
  /** The part's PROVABLY single value on column `c` (min == max, zero
    * nulls), or None. */
  def singleValue(m: PartMeta, c: String): Option[String] =
    m.cstats.get(c).flatMap(_.single)

  /** The key: the first BIGINT column. */
  def keyOf(schema: Option[StructType]): Option[String] =
    schema.flatMap(_.fields.find(_.dataType == LongType)).map(_.name)

  /** The metadata table `suffix` of the table at `path`, if one exists
    * by that name. */
  def forName(path: String, suffix: String): Option[Table] =
    defs.get(suffix).map { case (ddl, rows) =>
      new ManifestMetaTable(path, suffix, ddl, rows) }

  /** (conf, table dir) -> rows of plain cells (see [[LocalRowsScan]]). */
  type Rows = (org.apache.hadoop.conf.Configuration, String) => Seq[Seq[Any]]

  private def table(ddl: String)(rows: Rows): (String, Rows) = (ddl, rows)

  private val defs: Map[String, (String, Rows)] = Map(
    // the snapshot log (Delta's DESCRIBE HISTORY): one row per
    // committed version with its part count, VISIBLE row count
    // (deletion vectors subtracted), vectored-part count, data bytes
    // and commit time. Expired versions stop appearing (their
    // manifests are gone). `commit_time_ms` is the version file's
    // mtime — the clock TIMESTAMP AS OF resolves against.
    "history" -> table("version INT, operation STRING, n_parts BIGINT, " +
      "n_rows BIGINT, n_vectored BIGINT, total_bytes BIGINT, " +
      "commit_time_ms BIGINT") { (conf, path) =>
      val log = ManifestLog(conf, path)
      log.versions.map { v =>
        val snap = log.snapshot(Ref.At(v))
        val parts = snap.parts
        Seq(v, snap.op, parts.size.toLong, parts.map(_.visibleRows).sum,
          parts.count(_.hasDv).toLong, parts.map(_.bytes).sum,
          log.commitTime(v))
      }
    },
    // per data part of the head snapshot (Iceberg's `.files`): physical
    // and mask-aware visible row counts, key range, deletion-vector
    // state, bytes — "which parts carry vectors, how skewed is the
    // layout". New stat columns APPEND at the schema end, so ordinal
    // consumers never see earlier columns shift:
    //  - key_sum: the key's exact sum (NULL = untracked or a per-part
    //    Long overflow), the stat behind metadata-only SUM pushdown;
    //  - split_value: on an identity-partitioned table, the single
    //    value the part PROVABLY holds on the split column (stats
    //    min == max, zero nulls), else NULL — Iceberg's
    //    `.files.partition`;
    //  - is_sorted: the writer's key-sortedness flag (the WRITE
    //    ORDERED BY / compaction layout audit q_write_ordered folds).
    // visible_rows is NULL (unknown) while equality-delete clauses are
    // pending — honesty over an over-estimate in an audit view.
    "files" -> table("part INT, file STRING, n_rows BIGINT, " +
      "visible_rows BIGINT, key_min BIGINT, key_max BIGINT, " +
      "has_dv BOOLEAN, dv_count BIGINT, bytes BIGINT, bucket INT, " +
      "col_stats STRING, key_sum BIGINT, split_value STRING, " +
      "eq_clauses INT, is_sorted BOOLEAN") { (conf, path) =>
      val snap = ManifestLog(conf, path).snapshot()
      val (parts, head) = (snap.parts, snap.header)
      val splitCol = head.table.spec.layout.collect { case (0, c) => c }
      val key = keyOf(head.schema)
      // the key and first string have their own view columns
      val ownCols = head.schema.fold(Set.empty[String])(
        ManifestSink.keyAndFirstStr)
      parts.zipWithIndex.map { case (m, i) =>
        val k = key.flatMap(m.cstats.get)
        Seq(i, new Path(m.path).getName, m.rows,
          if (m.countsExact) m.visibleRows else null,
          k.fold(Long.MaxValue)(_.lMin), k.fold(Long.MinValue)(_.lMax),
          m.hasDv, m.dvCount, m.bytes, m.bucket,
          // the other columns' stats, name-sorted ("c:[min..max] …")
          // so the view is deterministic
          m.cstats.toSeq.sortBy(_._1)
            .collect { case (c, st) if st.hasValues && !ownCols.contains(c) =>
              s"$c:[${st.min}..${st.max}]" }
            .mkString(" "),
          k.flatMap(_.sum).map(java.lang.Long.valueOf).orNull,
          splitCol.flatMap(singleValue(m, _)).orNull, m.eq.size, m.sorted)
      }
    },
    // per-PARTITION rollup of the head (Iceberg's `.partitions`): one
    // row per layout value — a bucket id, a PROVABLY single split
    // value (the `.files.split_value` rule), or the NULL/"none" row
    // of unpartitioned-generation parts — with part count, physical
    // and VISIBLE rows, bytes, key range and merge-on-read debt.
    // Under layout EVOLUTION the `spec` column separates generations,
    // so a migration's progress is itself queryable. visible_rows
    // goes NULL as soon as one part carries a pending eq clause.
    "partitions" -> table("partition STRING, spec STRING, parts INT, " +
      "n_rows BIGINT, visible_rows BIGINT, bytes BIGINT, key_min BIGINT, " +
      "key_max BIGINT, dv_parts INT, eq_parts INT") { (conf, path) =>
      val snap = ManifestLog(conf, path).snapshot()
      val (metas, head) = (snap.parts, snap.header)
      val splitCol = head.table.spec.layout.collect { case (0, c) => c }
      val key = keyOf(head.schema)
      def keyStat(m: PartMeta) = key.flatMap(m.cstats.get)
      def ident(m: PartMeta): (String, String) =
        if (m.nbuckets > 0)
          (s"bucket=${m.bucket}", s"bucket(${m.nbuckets})")
        else splitCol.flatMap(c => singleValue(m, c)
            .map(v => (s"$c=$v", s"identity($c)")))
          .getOrElse((null, "none"))
      metas.groupBy(ident).toSeq
        .sortBy { case ((p, s), _) => (s, Option(p).getOrElse("")) }
        .map { case ((part, spec), ms) =>
          Seq(part, spec, ms.size, ms.map(_.rows).sum,
            if (ms.forall(_.countsExact)) ms.map(_.visibleRows).sum
            else null,
            ms.map(_.bytes).sum,
            ms.map(keyStat(_).fold(Long.MaxValue)(_.lMin)).min,
            ms.map(keyStat(_).fold(Long.MinValue)(_.lMax)).max,
            ms.count(_.hasDv), ms.count(_.eq.nonEmpty))
        }
    },
    // one row per live branch with its head version and the staged
    // snapshot's part/visible-row counts — "what is waiting to
    // publish" in write-audit-publish
    "branches" -> table("branch STRING, head_version INT, n_parts BIGINT, " +
      "n_rows BIGINT") { (conf, path) =>
      val log = ManifestLog(conf, path)
      log.branches.map { b =>
        val snap = log.snapshot(Ref.Branch(b))
        Seq(b, snap.version, snap.parts.size.toLong,
          snap.parts.map(_.visibleRows).sum)
      }
    },
    // one row per tag (immutable named ref) with its pinned version and
    // that snapshot's visible row count
    "tags" -> table("name STRING, version INT, n_rows BIGINT") { (conf, path) =>
      val log = ManifestLog(conf, path)
      log.tags.toSeq.map { case (n, v) =>
        Seq(n, v, log.snapshot(Ref.Tag(n)).parts.map(_.visibleRows).sum)
      }
    },
    // ALL named refs (Iceberg's `.refs`): branches and tags side by
    // side, with `main` listed explicitly at the head version so the
    // view is total
    "refs" -> table("name STRING, type STRING, version INT") { (conf, path) =>
      val log = ManifestLog(conf, path)
      val main = log.versions.lastOption.map(v => ("main", "branch", v)).toSeq
      val branches = log.branches.map(b =>
        (b, "branch", log.branchVersions(b).last))
      val tags = log.tags.map { case (t, v) => (t, "tag", v) }
      (main ++ branches ++ tags).sortBy { case (n, t, _) => (t, n) }
        .map { case (n, t, v) => Seq(n, t, v) }
    },
    // the column-mapping ledger: one row per LIVE column (position,
    // name, type, stable field id, stats role) plus one per RETIRED
    // name (dropped or renamed-away — unreusable forever): "which
    // physical column does this name bind to, which names are burned"
    "columns" -> table("position INT, name STRING, type STRING, " +
      "field_id INT, stats_role STRING, retired BOOLEAN") { (conf, path) =>
      val (schema, cm) = ManifestLog(conf, path).snapshot().header.schemaCm
        .getOrElse(throw new IllegalStateException(
          s"no committed schema at $path"))
      val keyIdx = schema.fields.indexWhere(_.dataType == LongType)
      val strIdx = schema.fields.indexWhere(_.dataType == StringType)
      val live = schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
        val role =
          if (i == keyIdx) "key"
          else if (i == strIdx) "string"
          else if (f.dataType == LongType || f.dataType == StringType)
            "column" // tracked via ColStat when within the writer cap
          else ""
        Seq(i, f.name, f.dataType.simpleString, cm.ids(i), role, false)
      }
      live ++ cm.retired.sorted.map(n => Seq(null, n, null, null, "", true))
    })
}

/** The catalog face of [[graft.functions.GraftBucket]] — what Spark's
  * V2ExpressionUtils resolves the scan-reported `bucket(n, key)`
  * transform through when it validates storage-partitioned join
  * compatibility (both sides resolve to THIS bound function, equal
  * `canonicalName`, hence provably the same partitioning). Also
  * callable directly: `SELECT cat.ns.bucket(8, k)`. */
private[sources] object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, key): storage bucket ordinal of a BIGINT key " +
      "(splitmix64 then floor-mod; NULL keys -> bucket 0)"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2 &&
      inputType.fields(0).dataType == org.apache.spark.sql.types.IntegerType &&
      inputType.fields(1).dataType == LongType,
      s"bucket takes (INT numBuckets, BIGINT key), got ${inputType.simpleString}")
    new ScalarFunction[java.lang.Integer] {
      override def inputTypes(): Array[DataType] =
        Array(org.apache.spark.sql.types.IntegerType, LongType)
      override def resultType(): DataType =
        org.apache.spark.sql.types.IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String = "graft.bucket"
      override def isResultNullable: Boolean = false
      override def produceResult(input: InternalRow): java.lang.Integer =
        java.lang.Integer.valueOf(
          if (input.isNullAt(1)) 0
          else graft.functions.GraftBucket.id(input.getLong(1), input.getInt(0)))
    }
  }
}

/** The catalog face of the days()/hours() HIDDEN-PARTITIONING
  * transforms ([[TimeSplit]]): Spark resolves a clustered write
  * distribution's `days(ts)` through this FunctionCatalog, so the
  * ingest exchange co-locates each UTC day's (hour's) rows in one
  * task and the layout writer commits one single-ordinal part per
  * ordinal per write — the Iceberg hidden-partition write shape.
  * Deterministic pure arithmetic (floorDiv of the internal micros),
  * identical to the writer's routing and the DDL faces' derivation,
  * so plan-time, write-time and metadata views can never disagree. */
private[sources] class GraftTimeOrdinalFunction(transform: String)
    extends UnboundFunction {
  override def name(): String = transform
  override def description(): String =
    s"$transform(ts): UTC epoch-$transform ordinal of a TIMESTAMP " +
      "(floorDiv of micros; NULL in -> NULL out)"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 1 &&
      inputType.fields(0).dataType ==
        org.apache.spark.sql.types.TimestampType,
      s"$transform takes (TIMESTAMP), got ${inputType.simpleString}")
    val unit = TimeSplit.unit(transform)
    val tname = transform
    new ScalarFunction[java.lang.Long] {
      override def inputTypes(): Array[DataType] =
        Array(org.apache.spark.sql.types.TimestampType)
      override def resultType(): DataType = LongType
      override def name(): String = tname
      override def canonicalName(): String = s"graft.$tname"
      override def isResultNullable: Boolean = true
      override def produceResult(input: InternalRow): java.lang.Long =
        if (input.isNullAt(0)) null
        else java.lang.Long.valueOf(Math.floorDiv(input.getLong(0), unit))
    }
  }
}

private[sources] object GraftTimeOrdinalFunction {
  val Days = new GraftTimeOrdinalFunction(TimeSplit.Days)
  val Hours = new GraftTimeOrdinalFunction(TimeSplit.Hours)
}
