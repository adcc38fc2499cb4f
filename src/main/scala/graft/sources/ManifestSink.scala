package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{DataType, LongType, Metadata, MetadataBuilder, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

/** Per-part bloom filter over the key column, stored hex-encoded in
  * the manifest line — the point-lookup companion to the (min, max)
  * zone map: a hash-layout part spans nearly the full key range, so
  * range stats never prune it, but a `key = v` / `key IN (...)` probe
  * can still skip every part whose bloom proves absence. False
  * positives only cost an extra part read; absence proofs are exact,
  * so pruning is never a correctness decision (the filters stay
  * residual regardless).
  *
  * Sizing: built at [[MaxBits]] during the streaming write (the
  * writer can't know its final row count up front), then FOLDED to
  * `clamp(nextPow2(10·rows), MinBits, MaxBits)` at commit — all sizes
  * are powers of two and indices are `h & (bits−1)`, so OR-ing the
  * two halves of a 2m-bit filter yields EXACTLY the m-bit filter a
  * direct build would produce ((x mod 2m) mod m = x mod m). At
  * ~10 bits/key the fp rate is ~1%; beyond [[MaxBits]]/10 keys per
  * part the filter saturates GRACEFULLY (mightContain → true ≈
  * no-index behavior, never wrong). A production format would spill
  * big filters to side files (Iceberg's puffin shape) rather than
  * inline them; the manifest stays metadata-small at this cap
  * (≤16 KiB hex per part). */
private[sources] object PartBloom {
  val MaxBits = 1 << 16
  val MinBits = 1 << 10
  val HashCount = 3

  /** splitmix64 finalizer — well-mixed 64-bit hash of the key, one
    * stream per hash index. */
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
  private def hash(key: Long, i: Int): Long = mix(key + i * 0xc2b2ae3d27d4eb4fL)

  def newBits(): Array[Long] = new Array[Long](MaxBits / 64)
  /** Power-of-two sized allocation for declared-size secondary
    * blooms; shrinkFor folds down from whatever was allocated. */
  def newBits(bits: Int): Array[Long] = new Array[Long](bits / 64)

  def add(bits: Array[Long], key: Long): Unit = {
    val nbits = bits.length * 64
    var i = 0
    while (i < HashCount) {
      val idx = (hash(key, i) & (nbits - 1)).toInt
      bits(idx >> 6) |= 1L << (idx & 63)
      i += 1
    }
  }

  /** Stable FNV-1a 64-bit hash of a string's UTF-8 bytes — the key
    * form secondary-column STRING blooms feed to add/mightContain.
    * Deterministic across JVMs and releases (the hex survives in
    * committed manifests), unlike String.hashCode's 32 bits. */
  def strKey(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }
  def strKey(s: String): Long =
    strKey(org.apache.spark.unsafe.types.UTF8String.fromString(s))

  def mightContain(bits: Array[Long], key: Long): Boolean = {
    val nbits = bits.length * 64
    var i = 0
    while (i < HashCount) {
      val idx = (hash(key, i) & (nbits - 1)).toInt
      if ((bits(idx >> 6) & (1L << (idx & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** Fold to the commit-time target size for `rows` keys — capped at
    * whatever was ALLOCATED (so declared-size secondary blooms keep
    * their larger width when the key count warrants it). */
  def shrinkFor(bits: Array[Long], rows: Long): Array[Long] = {
    val want = math.min((bits.length * 64).toLong,
      math.max(MinBits.toLong, java.lang.Long.highestOneBit(
        math.max(1L, 10L * rows - 1)) * 2)).toInt
    var cur = bits
    while (cur.length * 64 > want) {
      val half = new Array[Long](cur.length / 2)
      var i = 0
      while (i < half.length) { half(i) = cur(i) | cur(i + half.length); i += 1 }
      cur = half
    }
    cur
  }

  def toHex(bits: Array[Long]): String = {
    val sb = new StringBuilder(bits.length * 16)
    bits.foreach(w => sb.append(f"$w%016x"))
    sb.toString
  }

  /** "" (absent field / legacy manifest) → empty array = "no filter". */
  def fromHex(s: String): Array[Long] =
    if (s == null || s.isEmpty) Array.empty
    else Array.tabulate(s.length / 16)(i =>
      java.lang.Long.parseUnsignedLong(s.substring(i * 16, i * 16 + 16), 16))
}

/** UTF-8 byte-order string comparison — the ONE collation every side
  * of string-stats pruning uses. The writer tracks string min/max with
  * UTF8String.compareTo (UTF-8 byte order); Java String's natural
  * order is UTF-16 code-unit order, which DISAGREES for supplementary
  * characters (U+10000+, surrogate pairs 0xD800–0xDFFF as code units)
  * vs chars in U+E000–U+FFFF — comparing stats with String operators
  * could prune a part that actually contains matching rows. Both
  * [[ColStat.strOverlaps]] and the scan builder's bound intersection
  * route through here so stats and predicates always agree. */
private[sources] object StrBin {
  import org.apache.spark.unsafe.types.UTF8String
  def cmp(a: String, b: String): Int =
    UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))
  def min(a: String, b: String): String = if (cmp(a, b) <= 0) a else b
  def max(a: String, b: String): String = if (cmp(a, b) >= 0) a else b
}

/** PER-COLUMN part statistics — the one data-skipping record a part
  * keeps for each tracked column, keyed by column name in
  * [[PartMeta.cstats]] (the per-file min/max/null-count record of
  * Delta and Iceberg). The writer tracks the columns
  * [[ManifestSink.statCols]] picks: BIGINT and TIMESTAMP columns as
  * 'l' (TIMESTAMP as epoch micros), STRING columns as 's' in UTF-8
  * byte order ([[StrBin]]).
  *  - `min`/`max` bound the part's NON-NULL values (comparisons are
  *    never TRUE for NULL, so skipping is 3VL-safe). Both are null
  *    when the part holds no non-null value of the column (recorded
  *    for the key and first string only, see
  *    [[ManifestSink.keyAndFirstStr]]); every range or point probe
  *    then excludes the part.
  *  - `nulls` = -1 means untracked. `sum` is the exact sum of an 'l'
  *    column's non-null values (None = untracked, or the part's sum
  *    overflowed a Long while streaming).
  *  - `bloom` is the column's point-lookup filter as hex ("" = none):
  *    always built for the key (the first BIGINT), and for STRING
  *    columns declared in `graft.bloom_cols` (see [[PartBloom]]).
  * A column with no entry (no value in the part, the part predates
  * it, or it is beyond the tracking cap) is never pruned on. Deletion
  * vectors only narrow a part's live set, so recorded bounds stay
  * conservative (wider-than-live is always prune-safe). The long
  * bounds and the bloom bits are parsed once per record. */
private[sources] final case class ColStat(kind: Char, min: String,
    max: String, nulls: Long = -1L, sum: Option[Long] = None,
    bloom: String = "") {
  def hasValues: Boolean = min != null
  lazy val lMin: Long = if (hasValues) min.toLong else Long.MaxValue
  lazy val lMax: Long = if (hasValues) max.toLong else Long.MinValue
  lazy val bloomBits: Array[Long] = PartBloom.fromHex(bloom)
  /** Can the part hold the 'l' value `v`? Range, then bloom. */
  def mayContain(v: Long): Boolean =
    v >= lMin && v <= lMax &&
      (bloomBits.isEmpty || PartBloom.mightContain(bloomBits, v))
  /** Can the part hold the 's' value `v`? Range, then bloom. */
  def mayContainStr(v: String): Boolean =
    strOverlaps(Some(v), Some(v)) && (bloomBits.isEmpty ||
      PartBloom.mightContain(bloomBits, PartBloom.strKey(v)))
  /** Can the part hold an 's' value within [lo, hi] (inclusive, in
    * [[StrBin]] order; None = open)? */
  def strOverlaps(lo: Option[String], hi: Option[String]): Boolean =
    hasValues && hi.forall(h => StrBin.cmp(min, h) <= 0) &&
      lo.forall(l => StrBin.cmp(max, l) >= 0)
  /** The part's provably single value: min == max and zero nulls. */
  def single: Option[String] =
    if (hasValues && nulls == 0L && min == max) Some(min) else None
}

/** BIGINT/TIMESTAMP predicates as canonical INCLUSIVE intervals, and a
  * part's place against one — the single rule the scan, the
  * metadata-only DELETE path, the REPLACE WHERE kernel and range
  * equality deletes share. An empty interval (lo > hi) matches nothing:
  * `c > Long.MaxValue` and `c < Long.MinValue` map to it, never to the
  * one-point interval at the extreme, which would skip (or delete) the
  * rows stored there. */
private[sources] object LongRange {
  import org.apache.spark.sql.sources.{And, EqualNullSafe, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}

  /** (column, lo, hi) of a `<`/`<=`/`>`/`>=`/`=`/`<=>` comparison
    * with a BIGINT or TIMESTAMP literal, or an AND of them on one
    * column; None for any other filter. */
  def of(f: Filter): Option[(String, Long, Long)] = f match {
    case GreaterThan(c, v) => value(v).map(b =>
      if (b == Long.MaxValue) (c, 1L, 0L) else (c, b + 1, Long.MaxValue))
    case GreaterThanOrEqual(c, v) => value(v).map(b => (c, b, Long.MaxValue))
    case LessThan(c, v) => value(v).map(b =>
      if (b == Long.MinValue) (c, 1L, 0L) else (c, Long.MinValue, b - 1))
    case LessThanOrEqual(c, v) => value(v).map(b => (c, Long.MinValue, b))
    case EqualTo(c, v) => value(v).map(b => (c, b, b))
    case EqualNullSafe(c, v) => value(v).map(b => (c, b, b))
    case And(a, b) => for {
      x <- of(a); y <- of(b) if x._1 == y._1
    } yield (x._1, math.max(x._2, y._2), math.min(x._3, y._3))
    case _ => None
  }

  /** A filter literal as the long the column's stats record: a BIGINT
    * value, or a TIMESTAMP's epoch micros (java.sql.Timestamp by
    * default, java.time.Instant under the java8 datetime API). */
  def value(v: Any): Option[Long] = v match {
    case l: Long => Some(l)
    case t: java.sql.Timestamp => Some(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case i: java.time.Instant => Some(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i))
    case _ => None
  }

  /** The interval a conjunction admits on `col` and whether EVERY
    * conjunct is such a comparison on `col`; None when no conjunct
    * bounds `col`. */
  def conjunction(col: String,
      filters: Seq[Filter]): Option[(Long, Long, Boolean)] = {
    val legs = filters.map(f => of(f).filter(_._1 == col))
    val ls = legs.flatten
    if (ls.isEmpty) None
    else Some((ls.map(_._2).max, ls.map(_._3).min, legs.forall(_.isDefined)))
  }

  /** Part `p` against [lo, hi] on column `col`: 'u' = no row can
    * match, 'd' = every row provably matches (values inside, zero
    * nulls), 'm' = straddles or undecidable. NULL never matches a
    * range, so a part with no non-null value is 'u'. */
  def classify(p: PartMeta, col: String, lo: Long, hi: Long): Char =
    if (lo > hi || p.rows == 0L) 'u'
    else p.cstats.get(col) match {
      case Some(st) if st.kind == 'l' =>
        if (!st.hasValues || st.lMax < lo || st.lMin > hi) 'u'
        else if (st.lMin >= lo && st.lMax <= hi && st.nulls == 0L) 'd'
        else 'm'
      case _ => 'm'
    }
}

/** DELETION VECTOR codec: a bitmap over a part's row ORDINALS (row
  * positions 0..rows-1 in the part file) — the merge-on-read DELETE representation
  * (Delta deletion vectors / Iceberg positional deletes): a delete is
  * a METADATA commit that flips bits instead of rewriting data files;
  * every reader masks the flagged ordinals. A committed vector lives
  * in a hex SIDECAR file next to the part; the manifest line carries
  * only its reference and cardinality ([[PartMeta.dvRef]]). */
private[sources] object DeleteVector {
  def empty: Array[Long] = Array.empty

  def isDeleted(bits: Array[Long], ordinal: Long): Boolean = {
    val w = (ordinal >>> 6).toInt
    w < bits.length && (bits(w) & (1L << (ordinal & 63))) != 0L
  }

  def popCount(bits: Array[Long]): Long =
    bits.foldLeft(0L)((acc, w) => acc + java.lang.Long.bitCount(w))

  /** Bitwise OR — merging a new delete into an existing vector. */
  def union(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = new Array[Long](math.max(a.length, b.length))
    a.indices.foreach(i => out(i) |= a(i))
    b.indices.foreach(i => out(i) |= b(i))
    out
  }

  /** Ordinals in `next` but not `prev` — the precise row-level CDC
    * delta a deletion-vector commit produces. */
  def minus(next: Array[Long], prev: Array[Long]): Array[Long] =
    next.zipWithIndex.map { case (w, i) =>
      w & ~(if (i < prev.length) prev(i) else 0L)
    }

  def toHex(bits: Array[Long]): String = PartBloom.toHex(bits)
  def fromHex(s: String): Array[Long] = PartBloom.fromHex(s)

  /** Sidecar file prefix — vacuum recognizes vector sidecars by it. */
  val SidecarPrefix = "dv-"

  /** Write a vector SIDECAR file (hex text) atomically: stage under a
    * dot-temp name, rename in. Executors call this — the 100 TB MOR
    * shape is "executors write DV side files, the manifest carries
    * references", so driver memory never scales with deleted rows.
    * Returns the sidecar's absolute path. */
  def writeRef(conf: Configuration, dir: String, name: String,
      bits: Array[Long]): String = {
    MetaJson.replace(conf, new Path(dir), name, toHex(bits))
    new Path(dir, name).toString
  }

  /** Read a sidecar back into a bitmap. */
  def readRef(conf: Configuration, ref: String): Array[Long] = {
    val p = new Path(ref)
    val in = p.getFileSystem(conf).open(p)
    val hex = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
    fromHex(hex)
  }

  /** The part's committed vector: its sidecar, or empty when the part
    * has none. */
  def load(conf: Configuration, m: PartMeta): Array[Long] =
    if (m.hasDv) readRef(conf, m.dvRef) else empty
}

/** EQUALITY-DELETE clause pending on a part (the Iceberg v2
  * equality-delete shape): "rows where column <fieldId> equals any of
  * `values` are deleted" — committed as METADATA on the part line
  * with no data read or written, applied by every reader as a
  * row-level mask on top of the deletion vector. `col` is the logical
  * name AT COMMIT TIME (audit display only); resolution is by STABLE
  * FIELD ID so the mask survives later RENAME/DROP (a part never
  * gains clauses after commit, and ids are never reused). `values`
  * are RAW strings ('l' = canonical decimal for a BIGINT column, 's' =
  * the string itself); readers parse them once per part and compare
  * decoded column values. Kind 'L' is the RANGE clause (BIGINT only):
  * `values` = Seq(lo, hi), the canonical INCLUSIVE interval — "rows
  * whose value ∈ [lo, hi] are deleted" (the `ts < cutoff` retention
  * shape; see [[ManifestEq.translateRange]]). Clauses COMPOSE: each
  * eq DELETE appends one; compaction materializes and clears them. */
private[sources] final case class EqClause(
    col: String, fieldId: Int, kind: Char, values: Seq[String])

/** One committed part's full manifest record — what a writer task
  * commits (the driver only stamps `nbuckets`). Per-column
  * statistics live in `cstats`, one [[ColStat]] per tracked column
  * keyed by name. `bytes` is the part file's exact on-disk size (the
  * planner-facing size statistic); `sorted` certifies the rows arrived
  * in non-decreasing key order with no null key. `dvRef` is the part's
  * DELETION VECTOR sidecar ("" = nothing deleted) and `dvCard` its
  * cached cardinality, so metadata answers never open the sidecar;
  * `rows` stays the PHYSICAL row count — [[visibleRows]] is the
  * served count, and all other stats become safe OVER-approximations
  * once a vector exists (pruning may only over-include; exact
  * metadata answers must consult [[visibleRows]] or decline). */
private[sources] final case class PartMeta(
    path: String, rows: Long,
    dvRef: String = "", dvCard: Long = 0L,
    bytes: Long = 0L, bucket: Int = -1, nbuckets: Int = 0,
    sorted: Boolean = false,
    cstats: Map[String, ColStat] = Map.empty,
    /** The field ids the part's columns were written under, in write
      * order; empty = the identity `0 until n`. Stamped by the writer
      * when its mapping is not the identity, and read by
      * [[ManifestEq]] to tell which ids a part holds. */
    cols: Seq[Int] = Seq.empty,
    eq: Seq[EqClause] = Seq.empty) {
  def hasDv: Boolean = dvRef.nonEmpty
  def dvCount: Long = dvCard
  /** Served row count — EXACT unless equality-delete clauses are
    * pending ([[eq]] non-empty), in which case it is an
    * OVER-approximation (matches are unknown without a scan): safe
    * for budgets/limits/pruning, but exact metadata answers must
    * consult [[countsExact]] and decline. */
  def visibleRows: Long = rows - dvCount
  def countsExact: Boolean = eq.isEmpty
}

/** COLUMN MAPPING (the Delta column-mapping / Iceberg field-id shape):
  * every column carries a STABLE FIELD ID, allocated at creation and
  * never reused, so RENAME and DROP COLUMN become metadata-only
  * commits — no data file is read or written by either.
  *
  *  - `ids(i)` is the field id of logical field i of the snapshot's
  *    schema; a part stores that column as `c<id>`
  *    ([[ManifestSink.physicalSchema]]), so parts written under
  *    different schema generations read correctly side by side.
  *  - `nextId` is the allocation high-water mark: an ADD COLUMN after
  *    a DROP gets a FRESH id, so the dropped column's bytes still
  *    sitting in old parts can never resurrect under the new name.
  *  - `retired` is every name ever dropped or renamed-away: name
  *    reuse is rejected so per-part stats recorded under a name can
  *    never be consulted for a DIFFERENT physical column (pruning
  *    stays provably sound across renames).
  *
  * Absent header ⇒ identity (id = position), which is exactly what
  * additive-only evolution produced — every pre-mapping manifest
  * stays readable unchanged. */
private[sources] final case class ColMap(
    ids: Seq[Int], nextId: Int, retired: Seq[String],
    /** COLUMN DEFAULTS, keyed by STABLE FIELD ID: (currentSql,
      * existsSql). `currentSql` fills omitted columns on WRITE (may
      * be altered/dropped later); `existsSql` is the INITIAL default
      * frozen at ADD COLUMN time — parts written before the column
      * serve it for their missing slot, so adding a defaulted column
      * to a petabyte is a metadata commit, never a backfill. Rides
      * the colmap header, so it versions with the snapshot and
      * travels through every staged read. "" = none on either leg. */
    defaults: Map[Int, (String, String)] = Map.empty,
    /** NESTED FIELD IDS, keyed by the PARENT column's stable field
      * id: depth-1 struct columns evolve exactly like the top level,
      * one level down — `ids(k)` is the nested id of struct field k,
      * `nextId` the allocation high-water mark (nested ADD after a
      * nested DROP gets a fresh id, dropped sub-bytes never
      * resurrect), `retired` the sub-names ever dropped/renamed-away
      * within this struct. Absent entry = identity (nested id =
      * position) — a struct that never evolves costs nothing. The
      * reference's own record is a progressively-enriched struct
      * (estimate_queue.py:80-88); this is its DDL form. */
    nested: Map[Int, ColMap.Nested] = Map.empty) {
  def isIdentity: Boolean = ids == ids.indices
  def isRetired(name: String): Boolean =
    retired.exists(_.equalsIgnoreCase(name))
  /** The nested mapping of parent field id `pid` over an n-field
    * struct — identity when the struct never evolved. */
  def nestedOf(pid: Int, n: Int): ColMap.Nested =
    nested.getOrElse(pid, ColMap.Nested(0 until n, n, Seq.empty))
  /** Must this snapshot materialize a colmap header? */
  def isPlain: Boolean = isIdentity && defaults.isEmpty && nested.isEmpty
}

private[sources] object ColMap {
  def identity(n: Int): ColMap = ColMap(0 until n, n, Seq.empty)
  final case class Nested(ids: Seq[Int], nextId: Int, retired: Seq[String]) {
    def isRetired(name: String): Boolean =
      retired.exists(_.equalsIgnoreCase(name))
  }
}

/** A commit's ONE header change, applied to the head each attempt of
  * [[ManifestSink.publishRebase]] lands on (Delta's `metaData` action:
  * every commit inherits the head's or states its own). */
private[sources] sealed trait HeaderChange {
  /** The (schema DDL, column mapping, table record) to publish onto
    * a head with header `head`. */
  def onto(head: ManifestHeader, dir: Path): (String, ColMap, TableRecord)
}

private[sources] object HeaderChange {
  /** The head's schema, mapping and record, unchanged: row-level,
    * delta, compaction, metadata and equality DELETE, DROP PARTITION,
    * truncate and cherry-pick. */
  case object Keep extends HeaderChange {
    def onto(head: ManifestHeader, dir: Path): (String, ColMap, TableRecord) =
      head.schemaCm match {
        case Some((_, cm)) => (head.schemaDdl.get, cm, head.table)
        case None => throw new IllegalStateException(
          s"no committed schema at $dir")
      }
  }

  /** A write of `schema` onto the head: its columns must extend the
    * head's additively (equal, or trailing columns added — old parts
    * read those as NULL or their default, see
    * [[ManifestSink.physicalField]]), and the mapping is derived by
    * name (a new column gets a fresh id). `replace` (an overwrite)
    * drops every head row, so the write's schema replaces the head's. */
  final case class Append(schema: StructType, replace: Boolean = false)
      extends HeaderChange {
    /** The schema this write publishes onto `head`. */
    def published(head: ManifestHeader): StructType =
      head.schema.filterNot(_ => replace).fold(schema)(extend(_, schema))
    def onto(head: ManifestHeader, dir: Path): (String, ColMap, TableRecord) = {
      val s = published(head)
      (ddlOf(s), ManifestSink.deriveColMap(head.schemaCm, s), head.table)
    }
  }

  /** The exact schema, mapping and record: DDL, restore,
    * fast-forward, clone, txn roll-forward and ANALYZE. */
  final case class Restate(schema: StructType, cm: ColMap, table: TableRecord)
      extends HeaderChange {
    def onto(head: ManifestHeader, dir: Path): (String, ColMap, TableRecord) =
      (ddlOf(schema), cm, table)
  }

  /** The schema header is plain name+type(+comment): [[GraftTable]]
    * re-attaches CURRENT_DEFAULT/EXISTS_DEFAULT on load (Spark's
    * default resolution reads it), and Spark 4's toDDL renders that
    * metadata as a `DEFAULT v` clause that fromDDL cannot parse back.
    * The colmap header is the canonical default store. */
  private def ddlOf(schema: StructType): String =
    StructType(schema.fields.map { f =>
      if (f.metadata.contains("CURRENT_DEFAULT") ||
          f.metadata.contains("EXISTS_DEFAULT")) {
        val b = new MetadataBuilder().withMetadata(f.metadata)
        b.remove("CURRENT_DEFAULT")
        b.remove("EXISTS_DEFAULT")
        f.copy(metadata = b.build())
      } else f
    }).toDDL

  /** `old` extended by the write schema `incoming`: the name+type
    * prefix must match, and the committed schema never lets a write's
    * tighter nullability stomp the table's. An INSERT of literals
    * arrives with every field NOT NULL, but (a) nullability is STICKY —
    * rows committed under a nullable column may hold nulls forever —
    * and (b) a column the committed schema does not have yet is missing
    * from every old part and reads back NULL, so it publishes nullable
    * whatever the writer claims. */
  private def extend(old: StructType, incoming: StructType): StructType = {
    // struct columns compare nullability-INSENSITIVELY one level
    // down: an INSERT of named_struct literals arrives with every
    // sub-field NOT NULL, but the committed struct's sub-nullability
    // is the table's
    def sameType(a: DataType, b: DataType): Boolean = (a, b) match {
      case (x: StructType, y: StructType) =>
        x.fields.length == y.fields.length &&
          x.fields.zip(y.fields).forall { case (fa, fb) =>
            fa.name == fb.name && sameType(fa.dataType, fb.dataType)
          }
      case _ => a == b
    }
    val prefixOk = old.fields.length <= incoming.fields.length &&
      old.fields.zip(incoming.fields).forall { case (a, b) =>
        a.name == b.name && sameType(a.dataType, b.dataType)
      }
    if (!prefixOk) throw new IllegalArgumentException(
      s"append schema must extend the committed schema additively; " +
        s"committed=${old.toDDL} incoming=${incoming.toDDL}")
    StructType(incoming.fields.zipWithIndex.map {
      case (f, i) if i < old.fields.length =>
        // the committed DATATYPE is sticky, but nullability — at BOTH
        // levels — may only WIDEN with the write: a struct append
        // carrying genuinely-null sub-values must publish those
        // sub-fields nullable, or readers would decode NULL at a slot
        // the schema declares non-null (silently wrong under codegen)
        val merged = (old.fields(i).dataType, f.dataType) match {
          case (os: StructType, ns: StructType)
              if os.fields.length == ns.fields.length =>
            StructType(os.fields.zip(ns.fields).map { case (of, nf) =>
              of.copy(nullable = of.nullable || nf.nullable)
            })
          case (o, _) => o
        }
        if (old.fields(i).nullable) old.fields(i).copy(dataType = merged)
        else f.copy(dataType = merged)
      case (f, _) => f.copy(nullable = true)
    })
  }
}

/** THE WRITE SIDE of the manifest table format — the commit protocol
  * every write of a [[GraftTable]] goes through (path and catalog
  * writes, CTAS/RTAS, streaming, row-level DML and maintenance). It
  * models the reference pipeline's K1 keyed sink
  * (`queue_time_predictions/preprocess_image.py:139-151`, a save to a
  * well-known target) the way a cluster warehouse commits:
  *
  *  - every task stages its own uniquely-named part file
  *    ([[partFileName]]): task retries / speculative duplicates can
  *    never collide or corrupt committed data;
  *  - each task's DataWriter.commit() returns the part's
  *    [[PartMeta]] record (path, rows, per-column [[ColStat]]s) —
  *    statistics computed WHILE writing, the footer metadata every
  *    modern table format keeps;
  *  - the driver's BatchWrite.commit() claims the next immutable
  *    version file LAST ([[publishRebase]]), listing the table schema
  *    and record ([[TableRecord]]) plus exactly the committed attempts
  *    — the claim is the atomic publish point, so readers either see
  *    the full dataset or none of it, and orphaned files from failed
  *    attempts are invisible (abort() deletes what it can;
  *    correctness never depends on that cleanup).
  *
  * Filesystem access uses the SESSION Hadoop configuration end to end:
  * captured once on the driver ([[driverConf]]) and shipped to
  * executor writers via [[SerializableConfiguration]]. A bare
  * `new Configuration()` would silently drop the session's filesystem
  * settings (credentials, `fs.*` implementations, buffer sizing) — on
  * a real cluster that is the difference between writing the user's
  * warehouse and writing nothing.
  *
  * At 100 TB this protocol is the difference between "a job died and
  * the table is half-visible" and exactly-once table semantics. Part
  * files are Parquet, written by Spark's own Parquet writer with each
  * column named by its stable field id ([[PartFormat]]); the protocol,
  * not the encoding, is the operator. [[ManifestSource]] is the path
  * way in to the tables it commits. */
object ManifestSink {
  /** The session Hadoop conf, captured on the driver. This is the ONLY
    * conf constructor in the manifest code paths. */
  private[sources] def driverConf(): Configuration =
    SparkSession.active.sessionState.newHadoopConf()

  /** STRUCT columns carry atomic sub-fields only (column mapping
    * names one level of nested ids). Rejected wherever a schema can
    * first enter the format: CREATE TABLE, staged CTAS/RTAS, and the
    * write path itself ([[ManifestBatchWrite]]) — a deep-nested
    * struct must fail loudly at schema admission, never reach a
    * committed part. */
  private[sources] def validateStructDepth(schema: StructType): Unit =
    schema.fields.foreach { f =>
      f.dataType match {
        case st: StructType => st.fields.foreach { sf =>
          sf.dataType match {
            case _: StructType | _: org.apache.spark.sql.types.ArrayType |
                _: org.apache.spark.sql.types.MapType =>
              throw new IllegalArgumentException(
                s"unsupported type for '${f.name}.${sf.name}' " +
                  s"(${sf.dataType.simpleString}): struct fields must " +
                  "be atomic — depth-1 structs only")
            case _ => ()
          }
        }
        case _ => ()
      }
    }

  /** Names of the key (first BIGINT) and the first STRING column: the
    * two whose [[ColStat]] a part keeps even when it holds no non-null
    * value of them (their null counts prune IS [NOT] NULL and answer
    * COUNT/SUM on all-null parts), and whose records a RENAME COLUMN
    * carries to the new name. Any other column records nothing for an
    * all-null part — an absent entry never prunes and declines
    * metadata answers — and its records keep their write-time name,
    * which a rename retires (they stop resolving, which is sound). */
  private[sources] def keyAndFirstStr(schema: StructType): Set[String] = {
    import org.apache.spark.sql.types.StringType
    (schema.fields.find(_.dataType == LongType) ++
      schema.fields.find(_.dataType == StringType)).map(_.name).toSet
  }

  /** The parts a write's task messages committed, each bucketed part
    * stamped with the table's bucket count. */
  private[sources] def committedParts(messages: Seq[WriterCommitMessage],
      spec: TableSpec = TableSpec()): Seq[PartMeta] =
    messages.flatMap { case m: MultiPartCommit => m.parts }.map(m =>
      if (m.bucket >= 0) m.copy(nbuckets = spec.layout.fold(0)(_._1)) else m)

  /** Abort of a write that never published: delete the part files its
    * task messages staged (best effort — unreferenced parts are
    * invisible, and vacuum reclaims what this misses). */
  private[sources] def abortParts(conf: Configuration,
      messages: Seq[WriterCommitMessage]): Unit =
    messages.collect { case m: MultiPartCommit => m.parts }
      .flatten.foreach { p =>
      val f = new Path(p.path)
      f.getFileSystem(conf).delete(f, false)
    }

  /** The file name of a data part: `part-<stem>.parquet`, where the
    * stem is `<commit token>-<partition>-<task>[-<route>]`. */
  def partFileName(stem: String): String = s"part-$stem.parquet"

  /** Is `name` a data-part file name ([[partFileName]])? */
  def isPartFile(name: String): Boolean =
    name.startsWith("part-") && name.endsWith(".parquet")

  /** URL-encode a name for the `;`/`:`/`=`-separated property
    * encodings (`graft.ndv`, `graft.hist`, generated columns). */
  private[sources] def encodeString(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")

  private[sources] def decodeString(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  /** THE WRITE PLAN: the one mapping from a table's layout to the
    * Spark `Write` every manifest write goes through (path, catalog,
    * CTAS/RTAS, streaming, compaction and REPLACE WHERE staging). The
    * layout's distribution is Spark's RequiresDistributionAndOrdering
    * contract — layout policy lives with the TABLE, not with every
    * writer:
    *
    *  - `orderBy` c: a globally SORTED distribution plus a sort, so
    *    every part owns a disjoint, sorted key range (Iceberg's
    *    write.distribution-mode=range) — tight min/max pruning;
    *  - identity split c: CLUSTERED by c, so each value lands in one
    *    task and the routed writer commits one single-valued part per
    *    value (GROUP BY c answers from the manifest, `c = v` prunes to
    *    the value's parts);
    *  - `bucket(n, c)` plus a sort by c, and `days`/`hours(c)`:
    *    CLUSTERED by the transform, one exchange that co-locates each
    *    bucket's (ordinal's) rows — only where a function catalog
    *    resolves the transform (catalog and CTAS tables). A bare path
    *    has none, so it declares no distribution: the routed writer
    *    still commits correct per-bucket / per-ordinal parts, just
    *    possibly more of them (compaction pre-clusters its own).
    *
    * `writePartitions` (path option) fixes the exchange's width; 0 or
    * absent leaves it to the planner. */
  private[sources] def writePlan(spec: TableSpec, resolvesTransforms: Boolean,
      writePartitions: Option[Int] = None)(
      batch: () => BatchWrite,
      stream: () => streaming.StreamingWrite = () =>
        throw new UnsupportedOperationException("streaming write")): Write = {
    import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
    def asc(c: String): Array[SortOrder] =
      Array(Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))
    def clustered(t: Transform) = Distributions.clustered(Array(t))
    val plan: Option[(Distribution, Array[SortOrder])] =
      (spec.layout, spec.transform) match {
        case (None, _) =>
          spec.orderBy.map(c => (Distributions.ordered(asc(c)), asc(c)))
        case (Some((0, c)), None) =>
          Some((clustered(Expressions.identity(c)), Array.empty))
        case (Some((0, c)), Some(tf)) if resolvesTransforms =>
          Some((clustered(if (tf == TimeSplit.Days) Expressions.days(c)
            else Expressions.hours(c)), Array.empty))
        case (Some((n, c)), _) if n > 0 && resolvesTransforms =>
          Some((clustered(Expressions.bucket(n, c)), asc(c)))
        case _ => None
      }
    new Write with RequiresDistributionAndOrdering {
      override def requiredDistribution(): Distribution =
        plan.fold(Distributions.unspecified(): Distribution)(_._1)
      override def requiredOrdering(): Array[SortOrder] =
        plan.fold(Array.empty[SortOrder])(_._2)
      override def requiredNumPartitions(): Int =
        plan.flatMap(_ => writePartitions).getOrElse(0)
      override def toBatch: BatchWrite = batch()
      override def toStreaming: streaming.StreamingWrite = stream()
    }
  }

  /** The columns whose per-part [[ColStat]] the writer records, as
    * schema indices: ('l' columns, 's' columns). The key (first
    * BIGINT) and up to 8 more BIGINT/TIMESTAMP columns; the first
    * STRING and up to 8 more — the cap bounds manifest line width. */
  private[sources] def statCols(
      schema: StructType): (Array[Int], Array[Int]) = {
    import org.apache.spark.sql.types.{StringType, TimestampType}
    val keyIdx = schema.fields.indexWhere(_.dataType == LongType)
    val longs = schema.fields.indices.filter(i => i != keyIdx &&
      (schema.fields(i).dataType == LongType ||
        schema.fields(i).dataType == TimestampType)).take(8)
    ((if (keyIdx >= 0) keyIdx +: longs else longs).toArray,
      schema.fields.indices.filter(schema.fields(_).dataType == StringType)
        .take(9).toArray)
  }

  /** Declared secondary-bloom columns (the `graft.bloom_cols` table
    * property, comma-separated STRING column names): each listed
    * column gets a per-part membership bloom in its [[ColStat]],
    * consulted by point lookups where min/max ranges admit nearly
    * every part (high-cardinality strings: URLs, digests, UUIDs).
    * Capped at 4 — each bloom costs up to 8 KB of manifest line per
    * part, the key bloom's budget. */
  private[sources] val BloomColsProp = "graft.bloom_cols"
  private[sources] def bloomCols(props: Map[String, String]): Seq[String] =
    props.get(BloomColsProp).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).take(4)

  /** Optional secondary-bloom SIZE knob (`graft.bloom_bits`, bits,
    * clamped to [2^10, 2^20], default = the key bloom's 2^16 cap).
    * The filter is INLINE on the manifest line, so size is a direct
    * manifest-weight tradeoff: at 2^16 bits a part with ~12k distinct
    * values already runs ~8% false-positive (saturating toward
    * admit-all — sound, never wrong, just prunes less); tables whose
    * parts carry high-cardinality bloom columns declare a larger
    * filter knowingly (2^18 ≈ 64 KB hex per part per column). */
  private[sources] val BloomBitsProp = "graft.bloom_bits"
  private[sources] def bloomBits(props: Map[String, String]): Int = {
    val v = props.get(BloomBitsProp)
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
      .getOrElse(PartBloom.MaxBits)
    val clamped = math.max(PartBloom.MinBits, math.min(1 << 20, v))
    java.lang.Integer.highestOneBit(clamped) // power of two (mask math)
  }

  /** ANALYZE-collected TABLE-LEVEL NDV per tracked column
    * (`graft.ndv` property, `urlenc(col):ndv;…`): what Spark's CBO
    * (JoinEstimation / CostBasedJoinReorder) needs to size join
    * outputs and reorder a multi-join chain — surfaced through the
    * scan's DSv2 column stats. O(1) to read at plan time;
    * stale-until-reANALYZE like every engine's catalog stats. */
  private[sources] val NdvProp = "graft.ndv"
  private[sources] def encodeNdv(pairs: Seq[(String, Long)]): String =
    pairs.map { case (c, d) =>
      s"${encodeString(c)}:$d" }.mkString(";")
  private[sources] def ndv(props: Map[String, String]): Map[String, Long] =
    props.get(NdvProp).toSeq
      .flatMap(_.split(";")).filter(_.nonEmpty).map { kv =>
        val i = kv.lastIndexOf(':')
        decodeString(kv.substring(0, i)) ->
          kv.substring(i + 1).toLong
      }.toMap

  /** ANALYZE-collected EQUI-DEPTH HISTOGRAMS per tracked long column
    * (`graft.hist` property, `urlenc(col)=height:lo,hi,ndv|…;…`):
    * what Spark's FilterEstimation needs to size a RANGE predicate on
    * a SKEWED column — NDV + [min,max] assume uniformity, so a hot
    * value makes `col > hot` estimate the whole range. Surfaced
    * through the DSv2 scan's columnStats().histogram() (catalyst
    * converts it in transformV2Stats). Stale-until-reANALYZE like
    * every engine's histogram stats. */
  private[sources] val HistProp = "graft.hist"
  private[sources] def encodeHist(
      hists: Seq[(String, Double, Seq[(Long, Long, Long)])]): String =
    hists.map { case (c, height, bins) =>
      s"${encodeString(c)}=$height:" +
        bins.map { case (lo, hi, ndv) => s"$lo,$hi,$ndv" }.mkString("|")
    }.mkString(";")
  private[sources] def hist(props: Map[String, String])
      : Map[String, (Double, Seq[(Long, Long, Long)])] =
    props.get(HistProp).toSeq
      .flatMap(_.split(";")).filter(_.nonEmpty).flatMap { kv =>
        scala.util.Try {
          val eq = kv.indexOf('=')
          val c = decodeString(kv.substring(0, eq))
          val rest = kv.substring(eq + 1)
          val colon = rest.indexOf(':')
          val height = rest.substring(0, colon).toDouble
          val bins = rest.substring(colon + 1).split("\\|").toSeq
            .filter(_.nonEmpty).map { b =>
              val p = b.split(",")
              (p(0).toLong, p(1).toLong, p(2).toLong)
            }
          c -> (height, bins)
        }.toOption
      }.toMap

  /** The mapping a commit derives from the head by NAME (DDL and
    * restating commits hand theirs instead, see [[publishRebase]]) —
    * a field the head already maps keeps its id; a new field
    * (additive append evolution) allocates the next one. The identity default means tables that never rename or drop
    * never even materialize a header. */
  private[sources] def deriveColMap(headSchemaCm: Option[(StructType, ColMap)],
      published: StructType): ColMap = headSchemaCm match {
    case None => ColMap.identity(published.fields.length)
    case Some((hs, hcm)) =>
      val byName = hs.fields.map(_.name).zip(hcm.ids).toMap
      var next = hcm.nextId
      val ids = published.fields.map { f =>
        byName.getOrElse(f.name, { val id = next; next += 1; id })
      }.toSeq
      // defaults follow their field id; a dropped field's entry goes
      // (nested mappings follow their PARENT's id the same way)
      ColMap(ids, next, hcm.retired,
        hcm.defaults.filter { case (id, _) => ids.contains(id) },
        hcm.nested.filter { case (pid, _) => ids.contains(pid) })
  }

  /** Publish a by-reference READ COPY at `tmp`: `parts` of snapshot
    * `snap` under `schema`, with the snapshot's mapping aligned by name
    * (identity when it has none) so mixed-generation parts decode
    * through the staged read. */
  private[sources] def publishReadCopy(conf: Configuration, tmp: String,
      snap: Snapshot, schema: StructType, parts: Seq[PartMeta]): Int = {
    val snapCm = snap.header.schemaCm
    val cm = snapCm.collect { case (_, cm) if !cm.isPlain || cm.retired.nonEmpty =>
      alignColMap(snapCm, schema, tmp)
    }.getOrElse(ColMap.identity(schema.fields.length))
    publishRebase(conf, tmp, _ => parts,
      HeaderChange.Restate(schema, cm, TableRecord()))
  }

  /** A snapshot's mapping with its ids aligned BY NAME to `s` (the
    * identity when the snapshot has none). The `_part` / `_pos`
    * metadata columns map to -1: they are served by the reader, never
    * stored. */
  private[sources] def alignColMap(snapCm: Option[(StructType, ColMap)],
      s: StructType, dir: String): ColMap = snapCm match {
    case Some((snap, cm)) =>
      val byName = snap.fields.map(_.name).zip(cm.ids).toMap
      cm.copy(ids = s.fields.toSeq.map { f =>
        if (f.name == PartMetaColumn.Name || f.name == PosMetaColumn.Name) -1
        else byName.getOrElse(f.name, throw new IllegalStateException(
          s"column '${f.name}' has no field id in the snapshot mapping of $dir"))
      })
    case None => ColMap.identity(s.fields.length)
  }

  /** The mapping a write of `schema` stores its columns under, taken
    * at plan time from the `head` it writes onto: the head's mapping
    * aligned to the write schema — what the commit derives when no
    * DDL lands in between ([[publishRebase]] refuses the commit
    * otherwise). */
  private[sources] def writeColMap(head: ManifestHeader,
      schema: StructType): ColMap =
    deriveColMap(head.schemaCm, schema)

  /** The Parquet column of logical field `f` with field id `id`: named
    * `c<id>`, each depth-1 struct sub-field `c<nested id>`, nullable;
    * a column with an initial default carries it as `EXISTS_DEFAULT`,
    * which the Parquet reader serves for parts written before the
    * column existed. Ids are never reused, so one physical schema
    * reads every part generation: a RENAME changes no name, a dropped
    * id is never requested, a later id is missing from older files,
    * and INT -> BIGINT / same-scale DECIMAL growth is widened by the
    * reader. */
  private[sources] def physicalField(f: StructField, id: Int,
      cm: ColMap): StructField = {
    val dt = f.dataType match {
      case st: StructType =>
        StructType(st.fields.zip(cm.nestedOf(id, st.fields.length).ids)
          .map { case (sf, nid) => StructField(s"c$nid", sf.dataType) })
      case other => other
    }
    val exists = cm.defaults.get(id).map(_._2).filter(_.nonEmpty)
    StructField(s"c$id", dt, nullable = true, exists.fold(Metadata.empty)(
      new MetadataBuilder().putString("EXISTS_DEFAULT", _).build()))
  }

  /** [[physicalField]] of every column of `schema` (`cm` aligned to it). */
  private[sources] def physicalSchema(schema: StructType,
      cm: ColMap): StructType =
    StructType(schema.fields.zip(cm.ids).map { case (f, id) =>
      physicalField(f, id, cm) })

  /** The commit loop proper. `rebase` maps the CURRENT head's part
    * list to the list to publish, and is re-applied on EVERY claim
    * attempt against a freshly-resolved head — the Iceberg
    * refresh-and-reapply loop. This is what makes a racing append
    * safe: a committer that lands between our base-snapshot read and
    * our claim advances the head, our claim of its slot fails, and
    * the next attempt recomputes the part list ON TOP OF the winner's
    * snapshot instead of re-rendering a stale capture (which would
    * silently drop the winner's parts — the classic lost update).
    * Each attempt is one [[ManifestLog]] listing plus the claim.
    *
    * `header` is the commit's one header change ([[HeaderChange]]):
    * keep the head's schema, mapping and record, append trailing
    * columns to them, or restate them. Like the part list it applies
    * to the head of each attempt, so a commit that loses its slot to
    * a DDL keeps that DDL.
    *
    * `base = Some(s)`: the operation was planned against snapshot `s`
    * and CANNOT be mechanically re-applied (e.g. a copy-on-write
    * rewrite whose part classification is baked into already-written
    * files) — fail loudly if the head is no longer `s` rather than
    * publish a half-stale snapshot. A base that is an empty branch's
    * snapshot also pins its fork: main advancing moves what the first
    * branch commit forks from without moving the branch line.
    *
    * `footprint = Some(paths)` RELAXES the pin to snapshot-isolation
    * conflict detection (the Delta/Iceberg commit-conflict loop): when
    * the head has advanced past the base, the commit may still proceed
    * IF every part the operation read-and-modified is provably
    * untouched — listed in the new head with bit-identical metadata
    * (same stats, same deletion vector) — AND the head's header (schema,
    * mapping, record) is the base's. The rebase then re-applies against
    * the advanced head, carrying the interleaved commits' parts
    * forward; a footprint part that was dropped, rewritten, or
    * re-vectored by the interleaved commit, or an interleaved DDL,
    * conflicts loudly. Disjoint concurrent DML composes; overlapping
    * DML fails exactly one side. (Appends that add rows MATCHING the
    * operation's predicate are NOT conflicts — those rows were not in
    * the operation's snapshot: snapshot isolation, not
    * serializability, same as the lakehouse defaults.) */
  private[sources] def publishRebase(conf: Configuration, path: String,
      rebase: Seq[PartMeta] => Seq[PartMeta],
      header: HeaderChange,
      base: Option[Snapshot] = None,
      footprint: Option[Set[String]] = None,
      branch: Option[String] = None,
      op: String = ""): Int = {
    branch.foreach(b => require(ManifestLog.validBranch(b), s"invalid " +
      s"branch name '$b' (ASCII letters, digits, '_', '-' only)"))
    val dir = new Path(path)
    // OPTIMISTIC CONCURRENCY (the Iceberg commit loop): a commit
    // CLAIMS its immutable version file — exists-check + rename,
    // never an overwrite — so two racing committers cannot both land
    // on version N and silently drop a snapshot; the loser re-resolves
    // the head, RE-APPLIES its operation via `rebase`, and retries at
    // the next free slot. (On HDFS the rename itself refuses an
    // existing destination, making the claim fully atomic; on a raw
    // local fs the exists-check shrinks the window.) A branch with no
    // commits forks IMPLICITLY from the main head, and its first
    // commit records that main version.
    var attempts = 0
    var committed = -1
    while (committed < 0) {
      attempts += 1
      if (attempts > 1000) throw new java.io.IOException(
        s"cannot claim a snapshot version at $dir after $attempts attempts")
      val head = ManifestLog(conf, path).snapshot(Ref.of(None, branch))
      base.foreach(checkBase(dir, _, head, footprint))
      val (ddl, cm, table) = header.onto(head.header, dir)
      val parts = rebase(head.parts)
      // a NEWLY-ADDED part stores its columns under the ids its writer
      // took at plan time ([[writeColMap]], recorded in `cols`); a DDL
      // that landed since would read them under other ids, so the
      // commit refuses. Restated commits re-reference EXISTING parts,
      // written under earlier mappings.
      if (!header.isInstanceOf[HeaderChange.Restate]) {
        val headPaths = head.parts.map(_.path).toSet
        parts.find(p => !headPaths(p.path) &&
            (if (p.cols.isEmpty) cm.ids.indices else p.cols) != cm.ids)
          .foreach { p =>
            throw new java.util.ConcurrentModificationException(
              s"table $dir changed its column mapping while ${p.path} was " +
                "being written; re-run the write against the new head")
          }
      }
      val version = head.version + 1
      // the OPERATION KIND rides the version record (Delta's DESCRIBE
      // HISTORY `operation` / Iceberg's snapshot summary); a branch's
      // FIRST commit records the MAIN version it forked from, which
      // containment search could not tell from a branch commit that
      // rewrote every fork part (see ManifestMaintenance.cherrypick).
      // The mapping line is written only once non-trivial: a table
      // that never renames or drops carries none.
      val body = MetaJson.encodeManifest(ddl,
        Some(cm).filter(cm => !cm.isIdentity || cm.retired.nonEmpty ||
          cm.nextId != cm.ids.length || cm.defaults.nonEmpty ||
          cm.nested.nonEmpty),
        Some((version, op, if (branch.isDefined) head.fork else None)),
        parts, table)
      if (MetaJson.claim(conf, dir, ManifestLog.claimName(version, branch), body))
        committed = version
    }
    committed
  }

  /** The pinned commit's conflict check: the head must still be
    * `base`, or — with a footprint — have left every footprint part
    * and the header as `base` had them. */
  private def checkBase(dir: Path, base: Snapshot, head: Snapshot,
      footprint: Option[Set[String]]): Unit = {
    def advanced(why: String) = new java.util.ConcurrentModificationException(
      s"table $dir advanced from snapshot ${base.version} to ${head.version}" +
        why)
    if (head.version != base.version) footprint match {
      case None => throw advanced(" during an operation that cannot be " +
        "re-applied; re-plan against the new head")
      case Some(touched) =>
        val baseParts = base.parts.map(m => m.path -> m).toMap
        val headParts = head.parts.map(m => m.path -> m).toMap
        val conflicted = touched.filter(p =>
          !headParts.get(p).exists(baseParts.get(p).contains(_)))
        if (conflicted.nonEmpty) throw advanced(" and a concurrent commit " +
          s"touched ${conflicted.size} part(s) this operation " +
          s"read-and-modified (${conflicted.take(3).mkString(", ")}" +
          s"${if (conflicted.size > 3) ", …" else ""}); re-plan against " +
          "the new head")
        def state(h: ManifestHeader) = (h.schemaDdl, h.colmap, h.table)
        if (state(base.header) != state(head.header)) throw advanced(
          " and a concurrent commit changed its schema or table record; " +
            "re-plan against the new head")
    }
    for (fb <- base.fork; f <- head.fork if f != fb)
      throw new java.util.ConcurrentModificationException(
        s"main at $dir advanced from snapshot $fb to $f while staging " +
          "the branch's first commit; re-plan against the new fork base")
  }

}

/** The one write builder of the manifest tables: records a truncate
  * (INSERT OVERWRITE, `mode("overwrite")`) or a REPLACE WHERE
  * condition and hands both to `plan`. SQL `INSERT INTO t REPLACE
  * WHERE pred SELECT ...` / `df.writeTo(t).overwrite(cond)` arrive as
  * OverwriteByExpression: AlwaysTrue degenerates to the logical
  * truncate; anything else must be row-evaluable (same contract as
  * DELETE), so an untranslatable condition is rejected at ANALYSIS via
  * canOverwrite, never half-applied. */
private[sources] class ManifestWriteBuilder(
    plan: (Boolean, Option[Array[org.apache.spark.sql.sources.Filter]]) => Write)
    extends SupportsOverwrite {
  import org.apache.spark.sql.sources.{AlwaysTrue, Filter}
  private var doTruncate = false
  private var replaceFilters: Option[Array[Filter]] = None
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def canOverwrite(filters: Array[Filter]): Boolean =
    filters.forall {
      case _: AlwaysTrue => true
      case f => ManifestCow.translatable(f)
    }
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.forall(_.isInstanceOf[AlwaysTrue])) doTruncate = true
    else {
      require(canOverwrite(filters),
        "REPLACE WHERE condition not row-evaluable: " + filters.mkString(", "))
      replaceFilters = Some(filters)
    }
    this
  }
  override def build(): Write = plan(doTruncate, replaceFilters)
}

/** Driver-side commit coordinator.
  *
  * Every table is a log of versions: each commit claims an IMMUTABLE
  * `_MANIFEST.v<N>.json` snapshot (N = 1 + latest committed version),
  * and the newest one is the head. `overwrite` is a LOGICAL truncate —
  * the new snapshot just lists no prior parts; superseded part files
  * stay on disk, readable via `option("version", n)` until
  * [[ManifestMaintenance.expireSnapshots]] or orphan removal reclaims
  * them. This is the Iceberg/Delta snapshot-log shape: time travel
  * costs one small JSON file per commit, never a data copy.
  *
  * `append` (SaveMode.Append — no truncate) carries the current head's
  * part list into the new snapshot, so a commit is O(new data); the
  * incoming schema must extend the committed one additively (equal, or
  * adding trailing columns — old parts then read the missing columns
  * as NULL; see [[ManifestSink.physicalField]]).
  *
  * Part files are staged as `part-<commitToken>-<partition>-<task>`:
  * the per-commit token (chosen once on the driver) makes part names
  * unique ACROSS commits, so an appended or retained snapshot can
  * never have a later commit silently overwrite its data files — the
  * invariant snapshot isolation rests on. */
private[sources] class ManifestBatchWrite(
    path: String, schema: StructType, truncate: Boolean,
    conf: SerializableConfiguration, branch: Option[String] = None,
    spec: TableSpec = TableSpec(),
    replaceFilters: Option[Array[org.apache.spark.sql.sources.Filter]] = None,
    opLabel: Option[String] = None,
    identity: Option[ManifestIdentity.Spec] = None,
    generated: Seq[(Int, org.apache.spark.sql.catalyst.expressions.Expression)] =
      Seq.empty)
    extends BatchWrite {

  // last line of defense for the path-based write spelling (no
  // catalog in front of it): reject codec-unrepresentable schemas
  // before any part is staged
  ManifestSink.validateStructDepth(schema)

  private def opName: String = opLabel.getOrElse(
    if (replaceFilters.isDefined) "replace-where"
    else if (truncate) "overwrite" else "append")

  private val token = java.util.UUID.randomUUID().toString.take(8)

  /** The head this write plans onto, resolved once in
    * createBatchWriterFactory: its header prepares the writers, and an
    * identity-table append derives its id high-water mark from its
    * parts — so the commit must pin that exact snapshot. The optimistic
    * merge would otherwise interleave two concurrent identity appends
    * that both derived the same mark and issued OVERLAPPING ids,
    * breaking the uniqueness contract IdentitySpec pins; on an empty
    * branch the pin covers the main version the mark came from. */
  @volatile private var planned: Option[Snapshot] = None

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    // prepare the target dir on the DRIVER before tasks launch;
    // truncate is logical (snapshots own their part files)
    val dir = new Path(path)
    dir.getFileSystem(conf.value).mkdirs(dir)
    val head = ManifestLog(conf.value, path).snapshot(Ref.of(None, branch))
    planned = Some(head)
    val factory0 = new ManifestWriterFactory(path, schema, token, conf, spec,
      head.header)
    // generated wraps INNER (sees identity-filled rows were it to
    // reference them — banned at create, so order only matters for
    // the refusal messages); identity wraps OUTER so its fill sees
    // the raw incoming row
    val factory =
      if (generated.isEmpty) factory0
      else GeneratedFillFactory(factory0, schema, generated)
    identity match {
      case Some(spec) =>
        val slot = schema.fields.indexWhere(f =>
          ManifestGenerated.sameName(f.name, spec.col))
        // an append that omits the identity column entirely (schema
        // prefix without it) has nothing to fill — the reader serves
        // NULL for the missing slot, which the gate below refuses
        require(slot >= 0, s"identity column '${spec.col}' missing " +
          s"from the write schema ${schema.simpleString} — select it " +
          "as NULL (or a value, under GENERATED BY DEFAULT)")
        // high-water is DERIVED from committed stats at plan time —
        // head parts even under logical truncate, so ids never reuse
        // across a time-travelable overwrite
        IdentityFillFactory(factory, schema, slot, spec.step,
          spec.allowExplicit, ManifestIdentity.nextBase(head.parts, spec))
      case None => factory
    }
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // the write's columns extend the head's additively (checked and
    // nullability-widened against the head of every claim attempt);
    // an overwrite's replace the head's
    val header = HeaderChange.Append(schema, replace = truncate)
    val newParts = ManifestSink.committedParts(messages.toSeq, spec)
    replaceFilters match {
      case Some(filters) =>
        // REPLACE WHERE (OverwriteByExpression): ONE atomic snapshot
        // applies the delete-half and the append-half together —
        // parts provably disjoint from the predicate carry forward by
        // reference, provably-all-match parts drop metadata-only,
        // straddling parts get the COW survivor rewrite
        // (ManifestCow.rewriteSurvivors, FALSE/NULL rows survive),
        // and the staged new parts append. Pinned to the base read
        // HERE: the classification and the rewrite are valid only
        // against this exact head, so a racing commit fails this
        // overwrite loudly unless footprints are disjoint.
        require(branch.isEmpty, "REPLACE WHERE cannot target a branch " +
          "(its base pin and COW rewrite address the main version line); " +
          "replace on main, or stage plain appends on the branch")
        val base = ManifestLog(conf.value, path).snapshot()
        val (touched, rewritten) =
          ManifestCow.rewriteSurvivors(path, header.published(base.header),
            filters, base)
        ManifestSink.publishRebase(conf.value, path,
          head => head.filterNot(p => touched.contains(p.path)) ++
            rewritten ++ newParts,
          header, base = Some(base), footprint = Some(touched),
          branch = branch, op = opName)
      case None =>
        // The prior part list is NOT captured here: it is re-read from
        // the head inside the commit loop on every claim attempt, so an
        // append racing another committer re-applies `head ++ newParts`
        // on top of whatever actually won — never dropping the winner's
        // parts. EXCEPTION: identity tables pin the snapshot their id
        // mark was derived from — merging there would issue
        // overlapping ids, so the loser fails and retries with a
        // freshly-derived mark instead.
        val pin = planned.filter(_ => identity.isDefined)
        try ManifestSink.publishRebase(conf.value, path,
          head => (if (truncate) Seq.empty else head) ++ newParts,
          header, base = pin, branch = branch, op = opName)
        catch {
          case e: java.util.ConcurrentModificationException if pin.isDefined =>
            throw new java.util.ConcurrentModificationException(
              s"identity-column append to $path lost a commit race: the id " +
                "high-water mark was derived from snapshot " +
                s"${pin.get.version}, which is no longer the head — " +
                "retry the write (it re-derives the mark); committing anyway " +
                s"would issue overlapping ids. (${e.getMessage})")
        }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    ManifestSink.abortParts(conf.value, messages.toSeq)
}

/** NATIVE STREAMING SINK (`df.writeStream.toTable("cat.ns.t")` —
  * STREAMING_WRITE on the catalog table): each micro-batch epoch
  * appends ONE snapshot through the same commit protocol as a batch
  * write, with EXACTLY-ONCE delivery under micro-batch replay. The
  * idempotence marker IS the snapshot's operation label
  * (`stream:<queryId>:<epochId>` on the version record) — marker and
  * data commit atomically, so there is no crash window between
  * "published" and "marked" the way a sidecar marker file would have;
  * a replayed epoch finds its token on the version line and DROPS its
  * duplicate task output instead of committing (the Delta
  * txnAppId/txnVersion pattern, fused into the snapshot log).
  *
  * The replay check scans version ops BACKWARD from the head and
  * stops at the first of THIS query's stream commits with a lower
  * epoch — O(commits since this query's previous epoch), not
  * O(history), so a long-running stream pays a constant few KB-sized
  * manifest header reads per epoch.
  *
  * Same task-side writers as batch (stats/blooms/bucket/split
  * routing); distribution requirements ride the enclosing Write, so a
  * bucketed table's streaming appends cluster exactly like its batch
  * inserts. Append-mode only: Complete/truncate streaming output
  * replaces the table every epoch — that is a batch overwrite in a
  * foreachBatch, not a log-structured sink. */
private[sources] class ManifestStreamingWrite(
    path: String, schema: StructType, queryId: String,
    conf: SerializableConfiguration, spec: TableSpec)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  private def opToken(epochId: Long) = s"stream:$queryId:$epochId"

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
    val dir = new Path(path)
    dir.getFileSystem(conf.value).mkdirs(dir)
    // fresh file token per epoch attempt: replayed epochs write new
    // files, which the skipped commit then deletes
    ManifestStreamingWriterFactory(new ManifestWriterFactory(path, schema,
      java.util.UUID.randomUUID().toString.take(8), conf, spec,
      ManifestLog(conf.value, path).snapshot().header))
  }

  /** True iff some committed version already carries this epoch's
    * token (scanning backward, stopping at an earlier epoch of the
    * same query). */
  private def alreadyCommitted(epochId: Long): Boolean = {
    val prefix = s"stream:$queryId:"
    val log = ManifestLog(conf.value, path)
    log.versions.reverseIterator.map(v => log.snapshot(Ref.At(v)).op)
      .collectFirst {
        case op if op.startsWith(prefix) =>
          op.stripPrefix(prefix).toLong >= epochId
      }.getOrElse(false)
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    if (alreadyCommitted(epochId)) { abort(epochId, messages); return }
    val newParts = ManifestSink.committedParts(messages.toSeq, spec)
    ManifestSink.publishRebase(conf.value, path, head => head ++ newParts,
      HeaderChange.Append(schema), op = opToken(epochId))
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    ManifestSink.abortParts(conf.value, messages.toSeq)
}

/** Task-side adapter: streaming epochs reuse the batch writers
  * verbatim (the epoch id is already encoded in the factory's fresh
  * per-epoch file token, so writers stay epoch-ignorant). */
private[sources] final case class ManifestStreamingWriterFactory(
    batch: ManifestWriterFactory)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    batch.createWriter(partitionId, taskId)
}

/** A bucketed or split task commits one message carrying one part per
  * bucket or value it actually wrote. */
private[sources] case class MultiPartCommit(parts: Seq[PartMeta])
    extends WriterCommitMessage

/** The task-side writer factory of every manifest write, built on the
  * DRIVER from the `head` header the write plans onto: it prepares the
  * write's [[PartFormat]] over the plan-time field ids
  * ([[ManifestSink.writeColMap]]) and resolves the declared
  * secondary-bloom columns from the head's table record, so executors
  * never re-read table metadata. */
private[sources] class ManifestWriterFactory(
    path: String, schema: StructType, token: String,
    private[sources] val conf: SerializableConfiguration,
    spec: TableSpec, head: ManifestHeader)
    extends DataWriterFactory {
  private val format = PartFormat(conf.value, schema,
    ManifestSink.writeColMap(head, schema))
  // SECONDARY-COLUMN BLOOMS (`graft.bloom_cols` table property),
  // capped at 4 columns: each bloom costs up to 8 KB of manifest line
  // per part, the same budget as the key bloom.
  private val bloomCols: Seq[String] = ManifestSink.bloomCols(head.table.props)
  private val bloomBitsN: Int = ManifestSink.bloomBits(head.table.props)

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    if (spec.layout.isEmpty)
      new ManifestDataWriter(path, schema, token, partitionId, taskId,
        format, bloomCols = bloomCols, bloomBits = bloomBitsN)
    else new RoutedManifestWriter(path, schema, token, partitionId, taskId,
      format, spec, bloomCols, bloomBitsN)
}

/** The LAYOUT writer: routes each row to a sub-writer keyed by the
  * spec's routing key and writes ONE PART FILE PER KEY the task sees:
  *
  *  - `bucket(n, c)`: the row's [[graft.functions.GraftBucket]]
  *    ordinal (NULL keys → bucket 0); each part is stamped with its
  *    bucket — the storage layout behind scan-reported
  *    KeyGroupedPartitioning and hence storage-partitioned joins. An
  *    ingest pre-clustered by bucket writes exactly one file per
  *    bucket; any other layout still commits CORRECT bucket metadata,
  *    just more files (compaction packs them later);
  *  - identity split c: the column's VALUE (NULL is its own
  *    partition); with the write's clustered distribution the table
  *    commits one single-valued part per value per write, which the
  *    per-part stats prove (min == max);
  *  - `days`/`hours(c)`: the DERIVED day/hour ordinal of the
  *    TIMESTAMP (floorDiv of the internal micros, [[TimeSplit]]) —
  *    one ordinal spans one micros range, so the recorded stats prove
  *    each part single-ordinal.
  *
  * The split cardinality cap fails LOUDLY: identity-partitioning a
  * high-cardinality column is a layout bug at any scale (millions of
  * tiny files), not something to paper over. */
private[sources] class RoutedManifestWriter(
    dir: String, schema: StructType, token: String,
    partitionId: Int, taskId: Long, format: PartFormat, spec: TableSpec,
    bloomCols: Seq[String], bloomBits: Int)
    extends DataWriter[InternalRow] {

  private val MaxValuesPerTask = 512
  private val (buckets, col) = spec.layout.get
  private val idx = schema.fields.indexWhere(_.name == col)
  require(idx >= 0, s"layout column '$col' not in the write schema " +
    schema.fieldNames.mkString("(", ",", ")"))
  private val unit: Long = spec.transform.map(TimeSplit.unit).getOrElse(0L)
  private val isLong = schema.fields(idx).dataType == LongType
  private val writers = new java.util.HashMap[Any, ManifestDataWriter]()

  private def keyOf(row: InternalRow): Any =
    if (buckets > 0) {
      if (row.isNullAt(idx)) 0
      else graft.functions.GraftBucket.id(row.getLong(idx), buckets)
    } else if (row.isNullAt(idx)) null
    else if (unit > 0L) Math.floorDiv(row.getLong(idx), unit)
    else if (isLong) row.getLong(idx)
    else row.getUTF8String(idx).toString

  override def write(metadata: InternalRow, row: InternalRow): Unit =
    write(row)

  override def write(row: InternalRow): Unit = {
    val k = keyOf(row)
    var w = writers.get(k)
    if (w == null) {
      require(buckets > 0 || writers.size() < MaxValuesPerTask,
        s"splitBy column '$col' exceeded $MaxValuesPerTask distinct " +
          "values in one write task — identity partitioning needs a " +
          "low-cardinality column (bucket or cluster high-cardinality ones)")
      w = new ManifestDataWriter(dir, schema, token, partitionId, taskId,
        format, suffix = if (buckets > 0) s"-b$k" else s"-v${writers.size()}",
        bloomCols = bloomCols, bloomBits = bloomBits)
      writers.put(k, w)
    }
    w.write(row)
  }

  override def commit(): WriterCommitMessage = {
    val out = Seq.newBuilder[PartMeta]
    writers.forEach { (k, w) =>
      w.finish().foreach(p => out += (if (buckets > 0)
        p.copy(bucket = k.asInstanceOf[Int]) else p))
    }
    MultiPartCommit(out.result())
  }

  override def abort(): Unit = writers.values().forEach(_.abort())

  override def close(): Unit = ()
}

/** Executor-side writer: stages one part file (named by
  * [[ManifestSink.partFileName]]) through the write's [[PartFormat]]
  * and tracks the part's per-column [[ColStat]]s while writing. The
  * file is created on the first row: a writer that sees none stages
  * and commits nothing. */
private[sources] class ManifestDataWriter(
    dir: String, schema: StructType, token: String,
    partitionId: Int, taskId: Long, format: PartFormat,
    suffix: String = "", bloomCols: Seq[String] = Nil,
    bloomBits: Int = PartBloom.MaxBits)
    extends DataWriter[InternalRow] {
  import org.apache.spark.unsafe.types.UTF8String

  private val file = new Path(dir,
    ManifestSink.partFileName(s"$token-$partitionId-$taskId$suffix"))
  private var out: org.apache.spark.sql.execution.datasources.OutputWriter = _
  private val keyIdx = schema.fields.indexWhere(_.dataType == LongType)
  private var rows = 0L
  // DETECTED sortedness: the part is key-sorted iff every key arrived
  // non-decreasing and none was null — detection beats declaration
  // (any write path that happens to produce sorted runs gets the
  // sort-free-join credit, including compaction and clustered writes)
  private var sorted = true
  private var lastKey = Long.MinValue
  // the tracked columns (ManifestSink.statCols): a few `while` updates
  // per row over plain arrays, no per-row lookup or allocation
  // beyond the string min/max clones
  private val (longCols, strCols) = ManifestSink.statCols(schema)
  private val minL = Array.fill(longCols.length)(Long.MaxValue)
  private val maxL = Array.fill(longCols.length)(Long.MinValue)
  private val nullsL = new Array[Long](longCols.length)
  // EXACT sums (a per-part overflow marks the column's sum untracked
  // rather than wrapping) — what turns a global SUM into a
  // metadata-only pushed aggregate
  private val sumL = new Array[Long](longCols.length)
  private val sumOkL = Array.fill(longCols.length)(true)
  // string min/max in UTF8 BINARY order (the collation Spark's string
  // comparisons and the reader's pruning use), kept as UTF8String to
  // avoid per-row decode
  private val minS = new Array[UTF8String](strCols.length)
  private val maxS = new Array[UTF8String](strCols.length)
  private val nullsS = new Array[Long](strCols.length)
  // blooms (null = none): the key always; STRING columns declared in
  // `graft.bloom_cols`, fed the stable 64-bit hash of the value's
  // UTF-8 bytes. Built at max size while streaming (final row count
  // unknown), folded to the row-count-sized filter at commit.
  private val bloomL: Array[Array[Long]] = longCols.map(i =>
    if (i == keyIdx) PartBloom.newBits() else null)
  private val bloomS: Array[Array[Long]] = strCols.map(i =>
    if (bloomCols.exists(_.equalsIgnoreCase(schema.fields(i).name)))
      PartBloom.newBits(bloomBits)
    else null)

  /** Row-level rewrites deliver (metadata, row) pairs; the manifest
    * writer needs no per-row metadata (the rewrite's replaced-part
    * accounting lives on the scan side), so the metadata row is
    * simply dropped. */
  override def write(metadata: InternalRow, row: InternalRow): Unit =
    write(row)

  override def write(row: InternalRow): Unit = {
    if (out == null) out = format.open(file)
    out.write(row)
    rows += 1
    if (keyIdx >= 0) {
      if (row.isNullAt(keyIdx)) sorted = false
      else {
        val k = row.getLong(keyIdx)
        if (k < lastKey) sorted = false
        lastKey = k
      }
    }
    var i = 0
    while (i < longCols.length) {
      val idx = longCols(i)
      if (!row.isNullAt(idx)) {
        val v = row.getLong(idx)
        if (v < minL(i)) minL(i) = v
        if (v > maxL(i)) maxL(i) = v
        if (sumOkL(i))
          try sumL(i) = Math.addExact(sumL(i), v)
          catch { case _: ArithmeticException => sumOkL(i) = false }
        if (bloomL(i) != null) PartBloom.add(bloomL(i), v)
      } else nullsL(i) += 1
      i += 1
    }
    i = 0
    while (i < strCols.length) {
      val idx = strCols(i)
      if (!row.isNullAt(idx)) {
        val s = row.getUTF8String(idx)
        if (minS(i) == null || s.compareTo(minS(i)) < 0) minS(i) = s.clone()
        if (maxS(i) == null || s.compareTo(maxS(i)) > 0) maxS(i) = s.clone()
        if (bloomS(i) != null) PartBloom.add(bloomS(i), PartBloom.strKey(s))
      } else nullsS(i) += 1
      i += 1
    }
  }

  override def commit(): WriterCommitMessage = MultiPartCommit(finish().toSeq)

  /** The staged part's record; None when no row arrived. */
  def finish(): Option[PartMeta] = {
    if (out == null) return None
    out.close()
    // an all-null column writes no bloom
    def hexOf(bits: Array[Long]): String =
      if (bits == null || !bits.exists(_ != 0L)) ""
      else PartBloom.toHex(PartBloom.shrinkFor(bits, rows))
    val keep = ManifestSink.keyAndFirstStr(schema)
    val cstats: Map[String, ColStat] =
      (longCols.indices.collect {
        case i if minL(i) <= maxL(i) || keep(schema.fields(longCols(i)).name) =>
          val has = minL(i) <= maxL(i)
          // an all-null/empty part records Some(0): the sum over zero
          // non-null values is additively 0 (the NULL-vs-0 decision
          // for SQL SUM belongs to the fold, which sees hasValues)
          schema.fields(longCols(i)).name -> ColStat('l',
            if (has) minL(i).toString else null,
            if (has) maxL(i).toString else null, nullsL(i),
            if (sumOkL(i)) Some(sumL(i)) else None, hexOf(bloomL(i)))
      } ++ strCols.indices.collect {
        case i if minS(i) != null || keep(schema.fields(strCols(i)).name) =>
          schema.fields(strCols(i)).name -> ColStat('s',
            Option(minS(i)).map(_.toString).orNull,
            Option(maxS(i)).map(_.toString).orNull, nullsS(i),
            bloom = hexOf(bloomS(i)))
      }).toMap
    Some(PartMeta(file.toString, rows,
      bytes = file.getFileSystem(format.conf).getFileStatus(file).getLen,
      sorted = keyIdx >= 0 && sorted, cstats = cstats,
      cols = format.cols))
  }

  override def abort(): Unit =
    if (out != null) {
      out.close()
      file.getFileSystem(format.conf).delete(file, false)
    }

  override def close(): Unit = ()
}

/** How part files are written: Spark's own Parquet writer
  * (`ParquetFileFormat.prepareWrite`), prepared once on the driver over
  * the physical schema of the write ([[ManifestSink.physicalSchema]]:
  * columns named by field id) and shipped with its job conf. The file
  * encoding never follows session settings: the conf pins microsecond
  * timestamps and CORRECTED (proleptic, un-rebased) dates and
  * timestamps, which the writer reads when it opens. `cols` is what a
  * part records of its ids ([[PartMeta.cols]]). */
private[sources] final class PartFormat private (
    physical: StructType,
    factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    jobConf: SerializableConfiguration, val cols: Seq[Int])
    extends Serializable {
  import org.apache.spark.sql.internal.SQLConf

  def conf: Configuration = jobConf.value

  def open(file: Path): org.apache.spark.sql.execution.datasources.OutputWriter = {
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
    // the writer takes its rebase modes from the task's SQL conf
    val sql = new SQLConf
    PartFormat.Rebase.foreach(k => sql.setConfString(k, conf.get(k)))
    SQLConf.withExistingConf(sql)(
      factory.newInstance(file.toString, physical, ctx))
  }
}

private[sources] object PartFormat {
  import org.apache.spark.sql.internal.SQLConf

  private val Rebase = Seq(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
    SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key)

  def apply(conf: Configuration, schema: StructType, cm: ColMap): PartFormat = {
    val physical =
      ManifestSink.physicalSchema(schema, cm.copy(defaults = Map.empty))
    val job = org.apache.hadoop.mapreduce.Job.getInstance(conf)
    val factory = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetFileFormat().prepareWrite(SparkSession.active, job, Map.empty,
        physical)
    val jc = job.getConfiguration
    jc.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    Rebase.foreach(jc.set(_, "CORRECTED"))
    new PartFormat(physical, factory, new SerializableConfiguration(jc),
      if (cm.isIdentity) Seq.empty else cm.ids)
  }
}
