package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.types.StructType

/** GENERATED COLUMNS (`c T GENERATED ALWAYS AS (expr)` — the Delta
  * shape on Spark 4's DSv2 create plumbing): the catalog stores the
  * expression SQL at CREATE; the SINK computes values at write time —
  * Spark leaves computation to the connector, exactly like identity
  * columns.
  *
  * Contract (GeneratedSpec-pinned):
  *  - an incoming NULL in a generated slot is COMPUTED from the same
  *    row's other columns; a non-NULL value is REFUSED loudly
  *    (GENERATED ALWAYS semantics — a caller-supplied value that
  *    disagrees with the expression would silently corrupt every
  *    downstream read);
  *  - the expression is validated at CREATE: parsed and analyzed
  *    against the table schema, DETERMINISTIC, no reference to
  *    itself or another generated column, result type EXACTLY the
  *    declared type (spell the cast in the expression);
  *  - computation is a per-row interpreted projection inside the
  *    writer — embarrassingly parallel, no shuffle, no driver
  *    round-trips; at 100 TB the cost is one expression eval per row
  *    on the write path that was already encoding the row.
  *
  * Row-level DML: an INSERT-ONLY merge plans as a plain append and
  * DOES compute; a mixed MERGE takes the row-level path which cannot
  * — a NULL computed slot there refuses loudly ([[ComputedColumns]])
  * instead of landing a silent NULL. Same contract as identity
  * columns; IdentitySpec pins both paths in both COW and MOR modes.
  */
private[sources] object ManifestGenerated {

  /** Table-property key: `;`-joined `urlenc(col)=urlenc(exprSql)`
    * pairs. BOTH sides are encoded: a column name containing ';' or
    * '=' would otherwise corrupt the round-trip (parse splits on ';'
    * then the first '='), silently mis-binding expressions to the
    * wrong columns. */
  val PropKey = "graft.generated"

  private def enc(s: String): String = ManifestSink.encodeString(s)
  private def dec(s: String): String = ManifestSink.decodeString(s)

  def render(specs: Seq[(String, String)]): String =
    specs.map { case (c, e) => s"${enc(c)}=${enc(e)}" }.mkString(";")

  def parse(props: Map[String, String]): Seq[(String, String)] =
    props.get(PropKey).toSeq.flatMap(_.split(";").toSeq.filter(_.nonEmpty)
      .map { kv =>
        val i = kv.indexOf('=')
        (dec(kv.substring(0, i)), dec(kv.substring(i + 1)))
      })

  /** Name equality for generated/identity plumbing. Spark's analyzer
    * resolves case-insensitively by default, so every ban check and
    * write-schema slot lookup here must too — a reference spelled
    * 'GROSS' against a generated column 'gross' must not slip past
    * the self-reference ban, and a write schema delivering 'Gross'
    * must still find its fill slot. (Tables created under
    * spark.sql.caseSensitive=true with case-colliding names are
    * refused at CREATE by Spark's own schema checks long before this
    * code runs, so case-insensitive matching is safe here.) */
  def sameName(a: String, b: String): Boolean = a.equalsIgnoreCase(b)

  /** Parse + analyze + bind `exprSql` against `schema` (write order =
    * table order). Validation refuses what would corrupt or surprise:
    * nondeterminism, self/generated references, type drift. */
  def bind(spark: SparkSession, schema: StructType, col: String,
      exprSql: String, generatedCols: Set[String]): Expression = {
    val parsed = spark.sessionState.sqlParser.parseExpression(exprSql)
    val refs = parsed.collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.name
    }.toSet
    val banned = refs.filter(r => generatedCols.exists(sameName(_, r)))
    require(banned.isEmpty,
      s"generated column '$col': expression may not reference " +
        s"generated column(s) ${banned.mkString(", ")}")
    val rel = LocalRelation(DataTypeUtils.toAttributes(schema))
    val analyzed = spark.sessionState.analyzer.execute(
      Project(Seq(Alias(parsed, col)()), rel))
    val alias = analyzed.asInstanceOf[Project].projectList.head
      .asInstanceOf[Alias]
    require(alias.child.resolved,
      s"generated column '$col': cannot resolve ($exprSql) against " +
        s"${schema.fieldNames.mkString("(", ", ", ")")}")
    require(alias.child.deterministic,
      s"generated column '$col': expression must be deterministic, " +
        s"got $exprSql")
    val declared = schema.fields.find(f => sameName(f.name, col))
      .map(_.dataType)
      .getOrElse(throw new IllegalArgumentException(
        s"generated column '$col' missing from ${schema.simpleString}"))
    require(alias.child.dataType == declared,
      s"generated column '$col': expression type " +
        s"${alias.child.dataType.simpleString} must equal the declared " +
        s"${declared.simpleString} — spell the CAST in the expression")
    BindReferences.bindReference(alias.child, rel.output)
  }
}

/** COMPUTED-COLUMN GUARD for the row-level DML paths (COW rewrite /
  * MOR delta): those writers bypass the batch INSERT's fill, so a
  * MERGE INSERT row arriving with NULL in an identity/generated slot
  * would land as a SILENT NULL in a never-NULL column. Carried and
  * updated rows always hold their committed (non-null) values, so a
  * NULL here is exactly a generated-value request the row-level path
  * cannot serve — refused loudly, naming the batch-INSERT escape
  * hatch. O(slots) per row, zero cost on tables without computed
  * columns (the factory is not wrapped at all). */
private[sources] object ComputedColumns {
  /** Write-schema slots of identity + generated columns, resolved
    * from the table record's `props`; empty when none apply. */
  def guardSlots(props: Map[String, String], schema: StructType): Seq[Int] = {
    val names = ManifestIdentity.parse(props).map(_.col).toSeq ++
      ManifestGenerated.parse(props).map(_._1)
    names.map(n => schema.fields.indexWhere(f =>
      ManifestGenerated.sameName(f.name, n))).filter(_ >= 0)
  }

  def refuse(schema: StructType, slot: Int): Nothing =
    throw new IllegalArgumentException(
      s"column '${schema.fields(slot).name}' is GENERATED: the " +
        "row-level MERGE INSERT path cannot generate values — " +
        "batch INSERT the new rows (the sink generates there), or " +
        "supply explicit values under GENERATED BY DEFAULT identity")
}

private[sources] final case class ComputedNullGuardFactory(
    inner: DataWriterFactory, schema: StructType, slots: Seq[Int])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] = {
    val w = inner.createWriter(partitionId, taskId)
    val arr = slots.toArray
    new DataWriter[InternalRow] {
      override def write(row: InternalRow): Unit = {
        var i = 0
        while (i < arr.length) {
          if (row.isNullAt(arr(i))) ComputedColumns.refuse(schema, arr(i))
          i += 1
        }
        w.write(row)
      }
      override def commit(): WriterCommitMessage = w.commit()
      override def abort(): Unit = w.abort()
      override def close(): Unit = w.close()
    }
  }
}

/** Wraps the real writer factory: each writer computes NULL generated
  * slots from the row's other columns. Bound expressions serialize to
  * the tasks (deterministic catalyst trees). */
private[sources] final case class GeneratedFillFactory(
    inner: DataWriterFactory, schema: StructType,
    fills: Seq[(Int, Expression)])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new GeneratedFillWriter(inner.createWriter(partitionId, taskId),
      schema, fills)
}

private[sources] final class GeneratedFillWriter(
    inner: DataWriter[InternalRow], schema: StructType,
    fills: Seq[(Int, Expression)])
    extends DataWriter[InternalRow] {
  private val types = schema.fields.map(_.dataType)
  private val fillArr = fills.toArray

  override def write(row: InternalRow): Unit = {
    var i = 0
    while (i < fillArr.length) {
      val slot = fillArr(i)._1
      if (!row.isNullAt(slot)) throw new IllegalArgumentException(
        s"column '${schema.fields(slot).name}' is GENERATED ALWAYS AS " +
          "(...): explicit values are refused — write NULL or omit " +
          "the column")
      i += 1
    }
    if (fillArr.isEmpty) { inner.write(row); return }
    val g = new GenericInternalRow(types.length)
    var j = 0
    while (j < types.length) {
      g.update(j, if (row.isNullAt(j)) null else row.get(j, types(j)))
      j += 1
    }
    var k = 0
    while (k < fillArr.length) {
      val (slot, expr) = fillArr(k)
      g.update(slot, expr.eval(row))
      k += 1
    }
    inner.write(g)
  }

  override def commit(): WriterCommitMessage = inner.commit()
  override def abort(): Unit = inner.abort()
  override def close(): Unit = inner.close()
}
