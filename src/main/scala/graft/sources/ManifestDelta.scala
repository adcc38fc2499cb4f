package graft.sources

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** DELTA-BASED (merge-on-read) row-level operations — what
  * `graft.delete.mode=mor` routes SQL UPDATE / MERGE INTO / every
  * DELETE not answered from metadata through instead of
  * [[ManifestRowLevelOp]]'s copy-on-write part rewrite; the engine's
  * one deletion-vector writer. This is Spark's `SupportsDelta`
  * contract (the Iceberg v2 position-delta shape): the rewrite plans
  * a WriteDelta that hands the connector ONLY the changed rows, each
  * addressed by the row ID (`_part`, `_pos`), with updates split into
  * delete + reinsert pairs (`representUpdateAsDeleteAndInsert`).
  *
  * Cost shape vs COW: a sparse MERGE touching 100k parts rewrites
  * NOTHING — matched rows become deletion-vector bits, new/updated
  * row images append as fresh parts, and the commit is one snapshot
  * whose touched parts gain a sidecar reference. Reads pay the mask
  * until compaction ([[ManifestMaintenance.compactVectors]]) clears
  * the vectors; the change feed replays the commit as precise
  * row-level delete + insert events (the vector-diff path).
  *
  * Scale discipline (the whole point of the delta path):
  *  - executors stream delete ordinals into per-part bitmaps and
  *    write them as FRAGMENT sidecar files — commit messages carry
  *    references + cardinalities, never ordinals;
  *  - the driver merges fragments ONE PART AT A TIME into the final
  *    sidecar (union with the part's existing vector), so driver
  *    memory is O(one bitmap) regardless of how many rows or parts
  *    the statement touched;
  *  - insert rows stream through the normal part writer with all its
  *    stats/bloom bookkeeping — no required clustering, so an
  *    insert-heavy MERGE parallelizes like any append.
  *
  * Isolation is the same snapshot-isolation contract as the COW path:
  * the commit pins the planned base and proves its touched-part
  * footprint unchanged (publishRebase footprint guard), so disjoint
  * concurrent DML composes and overlapping DML fails loudly.
  *
  * The change feed replays a vector commit as exactly the
  * newly-flagged ordinals ('delete' rows); time travel reads the old
  * manifest and therefore the old (or no) vector.
  */
private[sources] object ManifestDeltaOp {

  /** Session conf choosing the DELETE mode: unset = copy-on-write,
    * `mor` = deletion vectors through this operation, `eq` =
    * equality-delete clauses ([[ManifestEq]]). */
  val ModeConf = "graft.delete.mode"

  /** The session's DELETE mode, lower-cased; None = copy-on-write. */
  def deleteMode(spark: org.apache.spark.sql.SparkSession): Option[String] =
    spark.conf.getOption(ModeConf).map(_.toLowerCase(java.util.Locale.ROOT))

  def morEnabled(spark: org.apache.spark.sql.SparkSession): Boolean =
    deleteMode(spark).contains("mor")
}

private[sources] class ManifestDeltaOp(
    path: String, schema: StructType,
    cmd: RowLevelOperation.Command,
    branch0: Option[String] = None)
    extends ManifestRowLevelOp(path, schema, cmd, branch0)
    with SupportsDelta {

  override def description(): String = s"graft.rowlevel.delta($cmd, $path)"

  /** (`_part`, `_pos`) — the stable physical row address every MOR
    * structure in this format is keyed by. */
  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(PartMetaColumn.Name),
    Expressions.column(PosMetaColumn.Name))

  /** UPDATE = delete(old address) + reinsert(new image): the vector
    * flags the old row, the new image appends — exactly how a format
    * with immutable data files represents an in-place change. */
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def toBatch: DeltaBatchWrite =
          // a pure DELETE projects no data columns (empty write
          // schema): its writers are prepared over the TABLE schema
          new ManifestDeltaBatchWrite(path,
            if (info.schema().fields.isEmpty) schema else info.schema(),
            ManifestDeltaOp.this,
            new SerializableConfiguration(ManifestSink.driverConf()))
      }
    }
}

/** Per-task commit: the new data part staged by this task's inserts
  * (if any) plus one (part path, fragment sidecar, cardinality)
  * triple per part this task recorded deletes against. */
private[sources] case class DeltaCommit(
    newPart: Option[PartMeta],
    frags: Seq[(String, String, Long)]) extends WriterCommitMessage

private[sources] class ManifestDeltaBatchWrite(
    path: String, schema: StructType, op: ManifestRowLevelOp,
    conf: SerializableConfiguration) extends DeltaBatchWrite {

  private val token = java.util.UUID.randomUUID().toString.take(8)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DeltaWriterFactory = {
    val dir = new Path(path)
    dir.getFileSystem(conf.value).mkdirs(dir)
    // MERGE INSERT cannot generate identity/generated values on this
    // path; a NULL in a computed slot refuses rather than landing
    val head = op.scannedOrFail._2.header
    new ManifestDeltaWriterFactory(path, schema, token, conf, head,
      ComputedColumns.guardSlots(head.table.props, schema).toArray)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val commits = messages.toSeq.map { case m: DeltaCommit => m }
    val newParts = commits.flatMap(_.newPart)
    val (scanned, base) = op.scannedOrFail
    val byPath = scanned.map(m => m.path -> m).toMap
    val fs = new Path(path).getFileSystem(conf.value)

    // fragments grouped by part; merged ONE PART AT A TIME — driver
    // memory stays O(single bitmap) no matter how wide the statement
    val updated: Map[String, (String, Long)] = commits.flatMap(_.frags)
      .groupBy(_._1).map { case (p, frags) =>
        val meta = byPath.getOrElse(p, throw new IllegalStateException(
          s"delta write touched unscanned part $p"))
        var bits = DeleteVector.load(conf.value, meta)
        frags.foreach { case (_, ref, _) =>
          bits = DeleteVector.union(bits, DeleteVector.readRef(conf.value, ref))
        }
        // size to the part so isDeleted never under-reads
        val sized = DeleteVector.union(bits,
          new Array[Long]((((meta.rows - 1) >>> 6) + 1).toInt))
        val card = DeleteVector.popCount(sized)
        require(card <= meta.rows,
          s"delta delete flagged $card of ${meta.rows} rows in $p")
        val name = DeleteVector.SidecarPrefix + token + "-" +
          new Path(p).getName + ".hex"
        p -> (DeleteVector.writeRef(conf.value, path, name, sized), card)
      }

    // a statement that flagged and inserted nothing changes nothing:
    // no empty version
    if (updated.nonEmpty || newParts.nonEmpty)
      ManifestSink.publishRebase(conf.value, path,
        head => head.map(p => updated.get(p.path)
          .map { case (ref, card) =>
            p.copy(dvRef = ref, dvCard = card)
          }.getOrElse(p)) ++ newParts,
        HeaderChange.Keep, base = Some(base),
        footprint = Some(updated.keySet),
        branch = op.branch,
        op = op.command().toString.toLowerCase)

    // fragments are never referenced by a manifest — reclaim eagerly
    commits.flatMap(_.frags).foreach { case (_, ref, _) =>
      fs.delete(new Path(ref), false)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(conf.value)
    messages.foreach {
      case m: DeltaCommit =>
        m.newPart.foreach(p => fs.delete(new Path(p.path), false))
        m.frags.foreach { case (_, ref, _) => fs.delete(new Path(ref), false) }
      case _ => ()
    }
  }
}

private[sources] class ManifestDeltaWriterFactory(
    path: String, schema: StructType, token: String,
    conf: SerializableConfiguration, head: ManifestHeader,
    guardSlots: Array[Int] = Array.empty) extends DeltaWriterFactory {
  // constructed on the driver from the head it writes onto: prepare
  // the part format and resolve declared secondary-bloom columns
  // once, so MOR-appended image parts are written and indexed exactly
  // like batch appends
  private val format = PartFormat(conf.value, schema,
    ManifestSink.writeColMap(head, schema))
  private val bloomCols: Seq[String] = ManifestSink.bloomCols(head.table.props)
  private val bloomBitsN: Int = ManifestSink.bloomBits(head.table.props)
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new ManifestDeltaWriter(path, schema, token, partitionId, taskId, conf,
      format, guardSlots, bloomCols, bloomBitsN)
}

/** Executor-side delta writer: deletes accumulate into per-part
  * bitmaps (grown to the highest ordinal seen — the driver sizes the
  * final vector to the part), inserts stream through a lazily-created
  * [[ManifestDataWriter]]. At commit each touched part's bitmap lands
  * as a fragment sidecar; the message carries references only. */
private[sources] class ManifestDeltaWriter(
    dir: String, schema: StructType, token: String,
    partitionId: Int, taskId: Long, conf: SerializableConfiguration,
    format: PartFormat, guardSlots: Array[Int] = Array.empty,
    bloomCols: Seq[String] = Nil,
    bloomBits: Int = PartBloom.MaxBits)
    extends DeltaWriter[InternalRow] {

  private val bitmaps = mutable.Map.empty[String, mutable.ArrayBuffer[Long]]
  private var inserts: ManifestDataWriter = _

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    val part = id.getUTF8String(0).toString
    val pos = id.getLong(1)
    require(pos >= 0, s"negative row ordinal $pos in $part")
    val bits = bitmaps.getOrElseUpdate(part, mutable.ArrayBuffer.empty[Long])
    val w = (pos >>> 6).toInt
    while (bits.length <= w) bits += 0L
    bits(w) |= 1L << (pos & 63)
  }

  override def update(metadata: InternalRow, id: InternalRow,
      row: InternalRow): Unit = {
    // representUpdateAsDeleteAndInsert=true means Spark never calls
    // this; keep the faithful decomposition anyway
    delete(metadata, id)
    insert(row)
  }

  override def insert(row: InternalRow): Unit = {
    // NOT-MATCHED inserts land here: a NULL computed slot is a
    // generation request this path cannot serve — refuse loudly.
    // (reinsert — the carried half of an update decomposition —
    // bypasses the guard: it re-writes committed, non-null values.)
    var i = 0
    while (i < guardSlots.length) {
      if (row.isNullAt(guardSlots(i)))
        ComputedColumns.refuse(schema, guardSlots(i))
      i += 1
    }
    doInsert(row)
  }

  private def doInsert(row: InternalRow): Unit = {
    if (inserts == null)
      inserts = new ManifestDataWriter(
        dir, schema, s"$token-d", partitionId, taskId, format,
        bloomCols = bloomCols, bloomBits = bloomBits)
    inserts.write(row)
  }

  override def reinsert(metadata: InternalRow, row: InternalRow): Unit =
    doInsert(row)

  override def commit(): WriterCommitMessage = {
    val frags = bitmaps.toSeq.sortBy(_._1).zipWithIndex.map {
      case ((part, bits), i) =>
        val arr = bits.toArray
        val name = s"${DeleteVector.SidecarPrefix}frag-$token-" +
          s"$partitionId-$taskId-$i.hex"
        val ref = DeleteVector.writeRef(conf.value, dir, name, arr)
        (part, ref, DeleteVector.popCount(arr))
    }
    val newPart = Option(inserts).flatMap(_.finish())
    DeltaCommit(newPart, frags)
  }

  override def abort(): Unit = {
    if (inserts != null) inserts.abort()
    // fragments are only written at commit; nothing else staged
  }

  override def close(): Unit =
    if (inserts != null) inserts.close()
}
