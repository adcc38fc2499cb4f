package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.types.StructType

/** IDENTITY COLUMNS (`id BIGINT GENERATED ALWAYS AS IDENTITY (START
  * WITH s INCREMENT BY k)` — the Delta-shaped surrogate-key surface,
  * SPARK-48404's DSv2 plumbing): the catalog stores the spec at
  * CREATE, and the SINK generates values at write time — Spark
  * deliberately leaves generation to the connector, exactly like
  * Delta.
  *
  * Generation contract (all spec-pinned in IdentitySpec):
  *  - an incoming NULL in the identity slot is GENERATED; a non-NULL
  *    value is kept under `GENERATED BY DEFAULT` and REFUSED loudly
  *    under `GENERATED ALWAYS` (the SQL-standard split);
  *  - values are UNIQUE and step-aligned but NOT gap-free — each
  *    write task owns the disjoint range `base + step * (pid·2³³ +
  *    i)` (the monotonically_increasing_id shape Delta uses), so
  *    tasks never coordinate: generation is embarrassingly parallel
  *    at any executor count;
  *  - the high-water mark is DERIVED, not stored: the next write's
  *    `base` reads the committed parts' min/max stats for the
  *    identity column (every BIGINT column is stats-tracked at
  *    write), so crash between commit and any side-file update can
  *    never replay ids, restore/rollback restore the mark for free,
  *    and the mark costs O(parts) driver metadata to resolve.
  *
  * Documented edges (honesty ledger): the derived mark follows the
  * HEAD part list, so RESTORE rewinds it (Delta restore semantics)
  * and a logical TRUNCATE rewinds it to START — ids may repeat
  * across truncation epochs but stay unique WITHIN every snapshot,
  * the uniqueness a surrogate key needs (IdentitySpec pins both);
  * ANALYZE after deleting the maximal rows tightens stats to visible
  * rows and may re-issue ids the deleted rows held (physical stats
  * normally prevent reuse); an INSERT-ONLY merge plans as a plain
  * append and DOES generate, while a mixed MERGE (update + insert)
  * takes the row-level path which cannot — a NULL computed slot
  * there refuses loudly ([[ComputedColumns]]) instead of landing a
  * silent NULL; streaming sinks refuse identity tables (the
  * streaming writer factory is built once per query, so a derived
  * per-epoch base cannot ride it safely); CONCURRENT identity
  * appends are serialized by a commit-time base pin — the mark is
  * derived once at plan time, so the commit pins the snapshot it
  * read ([[ManifestBatchWrite.identityBaseVersion]]) and a racing
  * commit fails with ConcurrentModificationException (retry
  * re-derives the mark) rather than optimistically merging two
  * appends that issued overlapping ids.
  */
private[sources] object ManifestIdentity {

  /** Table-property key carrying `name,start,step,allowExplicit`. */
  val PropKey = "graft.identity"

  final case class Spec(col: String, start: Long, step: Long,
      allowExplicit: Boolean) {
    def render: String = s"$col,$start,$step,$allowExplicit"
  }

  def parse(props: Map[String, String]): Option[Spec] =
    props.get(PropKey).map { v =>
      val Array(c, s, k, a) = v.split(",", 4)
      Spec(c, s.toLong, k.toLong, a.toBoolean)
    }

  /** Metadata keys Spark attaches to identity StructFields (mirrors
    * catalyst's IdentityColumn object; spelled here so the catalog
    * does not depend on a private helper). */
  val MetaStart = "identity.start"
  val MetaStep = "identity.step"
  val MetaAllow = "identity.allowExplicitInsert"

  /** The committed high-water (step>0) / low-water (step<0) of the
    * identity column over `parts`, from the column's write-time
    * [[ColStat]] only. Parts predating the column contribute nothing. */
  def committedMark(parts: Seq[PartMeta], spec: Spec): Option[Long] = {
    val marks = parts.flatMap(_.cstats.get(spec.col).collect {
      case st if st.kind == 'l' && st.hasValues =>
        if (spec.step > 0) st.lMax else st.lMin
    })
    if (marks.isEmpty) None
    else Some(if (spec.step > 0) marks.max else marks.min)
  }

  /** First value the next write may issue. */
  def nextBase(parts: Seq[PartMeta], spec: Spec): Long =
    committedMark(parts, spec).map(_ + spec.step)
      .getOrElse(spec.start)
}

/** Wraps the real writer factory: each task's writer fills NULL
  * identity slots from its own disjoint range. Serializable payload
  * is (slot, step, allowExplicit, base) — the base was resolved on
  * the driver against the committed head. */
private[sources] final case class IdentityFillFactory(
    inner: DataWriterFactory, schema: StructType, slot: Int,
    step: Long, allowExplicit: Boolean, base: Long)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new IdentityFillWriter(inner.createWriter(partitionId, taskId),
      schema, slot, step, allowExplicit,
      base + step * (partitionId.toLong << 33))
}

private[sources] final class IdentityFillWriter(
    inner: DataWriter[InternalRow], schema: StructType, slot: Int,
    step: Long, allowExplicit: Boolean, taskBase: Long)
    extends DataWriter[InternalRow] {
  private val types = schema.fields.map(_.dataType)
  private var seq = 0L

  override def write(row: InternalRow): Unit =
    if (row.isNullAt(slot)) {
      val g = new GenericInternalRow(types.length)
      var i = 0
      while (i < types.length) {
        g.update(i, if (row.isNullAt(i)) null else row.get(i, types(i)))
        i += 1
      }
      g.update(slot, taskBase + step * seq)
      seq += 1
      inner.write(g)
    } else {
      if (!allowExplicit) throw new IllegalArgumentException(
        s"column '${schema.fields(slot).name}' is GENERATED ALWAYS AS " +
          "IDENTITY: explicit values are refused (write NULL or omit " +
          "the column; declare GENERATED BY DEFAULT to allow explicit)")
      inner.write(row)
    }

  override def commit(): WriterCommitMessage = inner.commit()
  override def abort(): Unit = inner.abort()
  override def close(): Unit = inner.close()
}
