package graft.sources

import java.util
import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expression, Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** THE PATH WAY IN to a manifest table — `spark.read`,
  * `spark.readStream` and `df.write` with
  * `format("graft.sources.ManifestSource")` and a `path` option. It
  * loads the same [[GraftTable]] the catalog loads, so a path read
  * plans the same pruned scan and a path write obeys the table's
  * record (layout, identity and generated columns, CHECK constraints)
  * exactly like an INSERT. What one job commits (part files + a
  * version manifest carrying the schema and per-part statistics), a
  * later job scans with metadata-level pruning, never trusting the
  * directory listing.
  *
  *  - The schema comes from the manifest header, not from sampling
  *    files (self-describing table, like any modern table format); a
  *    write states the DataFrame's, which must extend the committed
  *    one additively.
  *  - Only files LISTED in the manifest are planned: orphans from
  *    failed attempts are invisible to readers by construction.
  *  - Range predicates on the key column (the first LongType field —
  *    the same convention the writer's min/max tracker uses) prune
  *    whole part files at planning time against the manifest's
  *    per-part (min, max): the DSv2 analog of data skipping on footer
  *    statistics. Pushed filters are also reported as residual, so
  *    Spark re-evaluates them row-level — a pruning bound mistake
  *    could only cost performance, never rows.
  *  - Point predicates (`=` / fully-typed `IN`) additionally consult
  *    the per-part BLOOM filter ([[PartBloom]]) both at planning and
  *    at runtime-filter time: on a hash layout, where every part
  *    spans the full key range and zone maps are useless, absence
  *    proofs still skip parts. Bloom answers are only ever "surely
  *    absent" — same residual-filter safety as the range stats.
  *  - Column pruning reaches the file: parts are Parquet, and an
  *    unused column is never read.
  *  - `estimateStatistics` reports the POST-PRUNING row count from the
  *    manifest, so the planner can (e.g.) pick a broadcast join for a
  *    selectively-scanned table.
  *
  * All filesystem access uses the session Hadoop configuration:
  * captured on the driver, shipped to readers via
  * [[SerializableConfiguration]] — same discipline as the writers.
  *
  * At 100 TB, manifest-listed planning + stats pruning is the
  * difference between "scan 100k files to answer a keyed lookup" and
  * "open the three parts whose range can match".
  *
  * Options: `version` (time travel: schema AND parts of that
  * immutable snapshot) or `branch` (the branch head — the
  * write-audit-publish staging line; a write commits to it);
  * `changeFeed` (the readChangeFeed shape); the stream options
  * `startingVersion`, `startingTimestamp` and `maxPartsPerTrigger`;
  * and, on a table that records no layout, the write's layout
  * `buckets`, `splitBy` or `clusterBy` with `writePartitions`.
  */
class ManifestSource extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    load(options, None).schema()
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    load(new CaseInsensitiveStringMap(properties), Some(schema))

  private def load(options: CaseInsensitiveStringMap,
      schema: Option[StructType]): GraftTable = {
    val path = options.get("path")
    require(path != null && path.nonEmpty, "option 'path' is required")
    val version = Option(options.get("version")).map(_.toInt)
    val branch = Option(options.get("branch")).filter(_.nonEmpty)
    require(branch.isEmpty || version.isEmpty,
      "options 'branch' and 'version' are mutually exclusive")
    GraftTable(None, path, Ref.of(version, branch),
      "true".equalsIgnoreCase(options.get("changeFeed")), schema)
      .getOrElse(throw new IllegalArgumentException(
        s"no committed manifest (with schema header) at $path"))
  }
}

private[sources] class ManifestScanBuilder(
    path: String, schema: StructType, conf: SerializableConfiguration,
    ref: Ref, cdf: Boolean = false,
    rowLevelOwner: Option[ManifestRowLevelOp] = None,
    startingVersion: Option[Int] = None,
    maxPartsPerTrigger: Option[Int] = None)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with SupportsPushDownAggregates
    with SupportsPushDownLimit
    with SupportsPushDownTopN {

  // the key (first BIGINT): the column parts are sorted and bucketed
  // by, so TopN and the pushed-filter report speak about it alone
  private val keyCol: Option[String] =
    schema.fields.find(_.dataType == LongType).map(_.name)

  private var required: StructType = schema
  // per-column bounds from pushed predicates, pruned against each
  // part's [[ColStat]]: BIGINT/TIMESTAMP intervals ([[LongRange]]),
  // STRING bounds (inclusive, [[StrBin]] order — open bounds stay
  // closed-for-pruning: exclusion only needs "can't overlap", row
  // exactness is the residual filter's job). A part with no stat for
  // a bounded column is kept (absent means "cannot prune").
  private var longBounds = Map.empty[String, (Long, Long)]
  private var strLo = Map.empty[String, String]
  private var strHi = Map.empty[String, String]
  // discrete point values per column (=, <=>, fully-typed IN),
  // intersected across conjuncts: a part survives when SOME value
  // passes the column's range AND bloom — a [min..max] range over an
  // IN list would admit every value between, and blooms are the only
  // pruning that works on hash layouts and high-cardinality strings
  private var longPoints = Map.empty[String, Set[Long]]
  private var strPoints = Map.empty[String, Set[String]]
  // IS [NOT] NULL predicates, pruned against the per-part NULL COUNTS;
  // unknown (-1) never prunes
  private var isNullCols = Set.empty[String]
  private var notNullCols = Set.empty[String]
  private var pushed: Array[Filter] = Array.empty
  private var sawFilters = false
  // the accepted metadata aggregate's (output schema, final rows) —
  // computed by [[computeMetaAgg]] at pushdown time from one manifest
  // read, served verbatim by [[ManifestAggScan]]
  private var aggResult: Option[(StructType, Seq[Array[Any]])] = None
  private var limit: Option[Int] = None

  // the one snapshot this builder plans: its metadata-aggregate
  // answer and its scan read the same resolution
  private lazy val snapshot: Snapshot =
    ManifestLog(conf.value, path).snapshot(ref)

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** METADATA-ONLY aggregation: a global COUNT(*) / COUNT(col) /
    * MIN / MAX / SUM is exactly what the manifest already stores per
    * part, so the scan answers it without opening a single data
    * file — the 100 TB "count a petabyte table from its footers" path
    * every real table format serves. Accepted ONLY when no filters
    * reached the scan (ours are residual, so Spark would re-filter
    * rows that no longer exist). GROUP BY is additionally accepted
    * when every live part is provably SINGLE-VALUED on every grouping
    * column (the identity-partitioned layout `option("splitBy", c)`
    * writes, recorded as min==max per-part stats) — the classic
    * "rows per day over 100k files" answered from the manifest alone,
    * one output row per group. SUM answers from the writer's exact
    * per-part sums ([[ColStat.sum]]); a fold that
    * would overflow a Long declines instead of wrapping. Complete
    * pushdown: emitted rows carry final values, not partials. */
  private def canPushAgg(a: Aggregation): Boolean = metaAggAnswer(a).isDefined

  // decision AND answer from ONE manifest read per Aggregation
  // instance, so accept/serve can never straddle a racing commit
  // (Spark calls supportCompletePushDown and pushAggregation with the
  // same object)
  private var aggCache:
      Option[(Aggregation, Option[(StructType, Seq[Array[Any]])])] = None
  private def metaAggAnswer(a: Aggregation)
      : Option[(StructType, Seq[Array[Any]])] = aggCache match {
    case Some((prev, r)) if prev eq a => r
    case _ =>
      val r = computeMetaAgg(a)
      aggCache = Some((a, r))
      r
  }

  /** The full metadata answer — `(output schema, final rows)` — or
    * None to decline and scan data. Output layout is the DSv2
    * complete-pushdown contract: grouping columns first (in
    * [[Aggregation.groupByExpressions]] order), then one column per
    * aggregate. */
  private def computeMetaAgg(a: Aggregation)
      : Option[(StructType, Seq[Array[Any]])] = {
    // a rewrite scan must yield ROWS, never a summary; residual
    // filters would make any summary over-wide
    if (rowLevelOwner.nonEmpty || sawFilters ||
        a.aggregateExpressions.isEmpty) return None
    def name(e: Expression): Option[String] = e match {
      case nr: NamedReference => Some(nr.fieldNames.mkString("."))
      case _ => None
    }
    def fieldOf(n: String): Option[StructField] =
      schema.fields.find(_.name == n)
    // a branch read must answer from the BRANCH head, never main's
    val meta: Seq[PartMeta] = snapshot.parts
    // MIN/MAX/SUM stats are stale once a deletion vector exists (the
    // extreme/summed rows may be the deleted ones) — COUNT(*) stays
    // exact via visibleRows, so it alone survives DVs
    val anyDv = meta.exists(_.hasDv)
    // pending EQUALITY-DELETE clauses make even row counts unknown
    // without a scan (matches are metadata-invisible): every
    // metadata answer declines until compaction settles the clauses
    if (meta.exists(_.eq.nonEmpty)) return None
    val live = meta.filter(_.rows > 0)

    // ---- grouping: every group expression must be a long/string
    // column on which every live part is provably SINGLE-VALUED —
    // min==max with zero nulls, or uniformly NULL — the layout
    // `option("splitBy", c)` writes. One straddling/unknown part
    // declines the whole answer.
    val groupNames: Seq[String] = a.groupByExpressions.toSeq.map { e =>
      name(e).filter(n => fieldOf(n).exists(f =>
        f.dataType == LongType || f.dataType == StringType)) match {
        case Some(n) => n
        case None => return None
      }
    }
    def groupValue(p: PartMeta, c: String): Option[Any] =
      p.cstats.get(c).flatMap { st =>
        if (st.hasValues) st.single.map(v =>
          if (st.kind == 'l') java.lang.Long.valueOf(v.toLong) else v)
        else if (st.nulls == p.rows) Some(null)
        else None
      }
    if (groupNames.nonEmpty && (anyDv ||
        live.exists(p => groupNames.exists(c => groupValue(p, c).isEmpty))))
      return None

    // ---- per-aggregate answerability (uniform across parts): every
    // column answers from its [[ColStat]] — but ONLY when every live
    // part carries one (a part with rows and no entry predates the
    // column or is beyond the writer's tracking cap). STRING stats
    // fold exactly: the writer records them in UTF8 binary order,
    // Spark's own string collation.
    def statType(n: String): Boolean = fieldOf(n).exists(f =>
      f.dataType == LongType || f.dataType == StringType ||
        f.dataType == TimestampType)
    def statAnswerable(n: String): Boolean = statType(n) &&
      meta.forall(p => p.visibleRows == 0 || p.cstats.contains(n))
    // COUNT(col) = Σ (rows − null count), answerable when every part
    // carries a null count for the column
    def countAnswerable(n: String): Boolean = statType(n) &&
      meta.forall(p => p.rows == 0 || p.cstats.get(n).exists(_.nulls >= 0))
    // SUM(col) answers from the writer's exact per-part sums; a part
    // whose own sum overflowed declines
    def sumAnswerable(n: String): Boolean =
      fieldOf(n).exists(_.dataType == LongType) &&
        meta.forall(p => p.rows == 0 ||
          p.cstats.get(n).exists(_.sum.isDefined))
    val ok = a.aggregateExpressions.forall {
      case _: CountStar => groupNames.isEmpty || !anyDv
      case m: Min => name(m.column).exists(statAnswerable) && !anyDv
      case m: Max => name(m.column).exists(statAnswerable) && !anyDv
      case c: Count =>
        !c.isDistinct && name(c.column).exists(countAnswerable) && !anyDv
      case s: Sum =>
        !s.isDistinct && name(s.column).exists(sumAnswerable) && !anyDv
      case _ => false
    }
    if (!ok) return None

    // ---- fold final values per group of parts
    def foldMM(g: Seq[PartMeta], c: String, wantMin: Boolean): Any = {
      val st = g.flatMap(_.cstats.get(c)).filter(_.hasValues)
      if (st.isEmpty) null
      else if (st.head.kind == 's') {
        if (wantMin) st.map(_.min).reduce(StrBin.min)
        else st.map(_.max).reduce(StrBin.max)
      } else java.lang.Long.valueOf(
        if (wantMin) st.map(_.lMin).min else st.map(_.lMax).max)
    }
    def countNonNull(g: Seq[PartMeta], c: String): Long = g.map { p =>
      p.cstats.get(c).map(st => p.rows - math.max(0L, st.nulls))
        .getOrElse(0L)
    }.sum
    // SQL SUM is NULL iff zero non-null inputs
    def foldSum(g: Seq[PartMeta], c: String): Any =
      if (!g.exists(_.cstats.get(c).exists(_.hasValues))) null
      else java.lang.Long.valueOf(g.foldLeft(0L) { (acc, p) =>
        // overflow → decline via the catch below
        Math.addExact(acc, p.cstats.get(c).flatMap(_.sum).getOrElse(0L))
      })
    def groupRow(key: Seq[Any], g: Seq[PartMeta]): Array[Any] =
      (key ++ a.aggregateExpressions.toSeq.map[Any] {
        // visibleRows: a deletion vector reduces the served count
        // with no data rewrite — the global metadata COUNT(*) stays
        // EXACT under MOR deletes
        case _: CountStar => java.lang.Long.valueOf(g.map(_.visibleRows).sum)
        case m: Min => foldMM(g, name(m.column).get, wantMin = true)
        case m: Max => foldMM(g, name(m.column).get, wantMin = false)
        case c: Count =>
          java.lang.Long.valueOf(countNonNull(g, name(c.column).get))
        case s: Sum => foldSum(g, name(s.column).get)
        case f => throw new IllegalStateException(s"unexpected pushed agg $f")
      }).toArray
    // the folds run INSIDE the try: a SUM whose total overflows a
    // Long throws addExact and the whole answer declines to a scan
    val rows: Seq[Array[Any]] =
      try {
        if (groupNames.isEmpty) Seq(groupRow(Seq.empty, meta))
        else live.groupBy(p => groupNames.map(c => groupValue(p, c).get))
          .toSeq.map { case (k, g) => groupRow(k, g) }
      } catch { case _: ArithmeticException => return None }
    val outSchema = StructType(
      groupNames.zipWithIndex.map { case (c, i) =>
        StructField(s"g_$i", fieldOf(c).get.dataType, nullable = true)
      } ++ a.aggregateExpressions.zipWithIndex.map {
        case (_: CountStar, i) =>
          StructField(s"agg_$i", LongType, nullable = false)
        case (_: Count, i) => StructField(s"agg_$i", LongType, nullable = false)
        case (_: Sum, i)   => StructField(s"agg_$i", LongType, nullable = true)
        case (f, i) =>
          val mmCol = f match {
            case m: Min => name(m.column).get
            case m: Max => name(m.column).get
            case _ => return None
          }
          StructField(s"agg_$i", fieldOf(mmCol).get.dataType, nullable = true)
      })
    Some((outSchema, rows))
  }

  override def supportCompletePushDown(a: Aggregation): Boolean = canPushAgg(a)
  override def pushAggregation(a: Aggregation): Boolean =
    metaAggAnswer(a) match {
      case Some(r) => aggResult = Some(r); true
      case None => false
    }

  /** LIMIT pushdown: plan only a prefix of parts whose manifest row
    * counts cover the limit, and cap each reader at `n` rows (any one
    * partition can satisfy at most the whole limit). Spark only pushes
    * a limit here when nothing filters between scan and limit, so the
    * prefix is sufficient; the default isPartiallyPushed=true keeps
    * Spark's own final limit in the plan. */
  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }

  // PARTIAL TopN pushdown (`ORDER BY key LIMIT k` on an ordered
  // layout): accepted only as a PART-PRUNING hint — isPartiallyPushed
  // stays true, so Spark keeps its Sort+Limit above the scan and
  // correctness never rests on the prune. When the planned parts are
  // all writer-certified key-sorted with PAIRWISE-DISJOINT key ranges
  // (CLUSTER BY / WRITE ORDERED layouts — the ranges a compacted
  // ordered table records) and exact visible counts, build() keeps
  // only the boundary prefix whose visible rows cover k: `ORDER BY k
  // LIMIT 10` on a 100k-part table opens O(1) parts instead of
  // sorting the table. Any ineligible part set (unsorted, overlapping,
  // pending equality deletes, empty) just declines the prune.
  private var topN: Option[(Boolean, Int)] = None
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    if (orders.length != 1 || n <= 0 || keyCol.isEmpty || cdf ||
        rowLevelOwner.nonEmpty) return false
    val o = orders(0)
    val colName = o.expression() match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
          if nr.fieldNames().length == 1 => nr.fieldNames()(0)
      case _ => return false
    }
    // only the stats key column carries the per-part (min, max) the
    // prune reasons over; eligibility implies no null keys exist
    // (the writer never certifies a part with null keys as sorted),
    // so the null ordering is vacuous
    if (!keyCol.get.equalsIgnoreCase(colName)) return false
    topN = Some((o.direction() ==
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING, n))
    true
  }
  override def isPartiallyPushed(): Boolean = true

  /** Accept range/point/null predicates on any stats-tracked column
    * for part pruning; report every filter as residual (Spark
    * re-evaluates row-level). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    if (filters.nonEmpty) sawFilters = true
    def isKey(c: String) = keyCol.contains(c)
    def addStrLo(c: String, v: String): Unit =
      strLo += c -> strLo.get(c).fold(v)(StrBin.max(v, _))
    def addStrHi(c: String, v: String): Unit =
      strHi += c -> strHi.get(c).fold(v)(StrBin.min(v, _))
    def addStrPoints(c: String, vs: Set[String]): Unit =
      strPoints += c -> strPoints.get(c).fold(vs)(_ intersect vs)
    def addLongPoints(c: String, vs: Seq[Any]): Unit = {
      val ls = vs.flatMap(LongRange.value)
      // only prune when ALL values are typed
      if (ls.length == vs.length) longPoints += c ->
        longPoints.get(c).fold(ls.toSet)(_ intersect ls.toSet)
    }
    filters.foreach { f =>
      LongRange.of(f).foreach { case (c, lo, hi) =>
        longBounds += c -> longBounds.get(c).fold((lo, hi)) {
          case (l, h) => (math.max(l, lo), math.min(h, hi))
        }
      }
      f match {
        case IsNull(c)    => isNullCols += c
        case IsNotNull(c) => notNullCols += c
        // <=> with a NON-NULL literal is exactly = for pruning (it
        // matches only that value; `c <=> NULL` arrives with a null
        // operand and stays unpruned)
        case EqualTo(c, v: String) => addStrPoints(c, Set(v))
        case EqualNullSafe(c, v: String) => addStrPoints(c, Set(v))
        case In(c, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
          addStrPoints(c, vs.map(_.asInstanceOf[String]).toSet)
        case EqualTo(c, v) => addLongPoints(c, Seq(v))
        case EqualNullSafe(c, v) => addLongPoints(c, Seq(v))
        case In(c, vs) if vs.nonEmpty => addLongPoints(c, vs.toSeq)
        case GreaterThan(c, v: String) => addStrLo(c, v)
        case GreaterThanOrEqual(c, v: String) => addStrLo(c, v)
        case LessThan(c, v: String) => addStrHi(c, v)
        case LessThanOrEqual(c, v: String) => addStrHi(c, v)
        // LIKE 'p%' — every match is >= p, and (when the last char can
        // increment byte-safely) < p-with-last-char-incremented, so an
        // INCLUSIVE hi of that successor is a conservative superset
        case StringStartsWith(c, v) if v.nonEmpty =>
          addStrLo(c, v)
          prefixUpper(v).foreach(addStrHi(c, _))
        case _ => ()
      }
    }
    pushed = filters.filter {
      case GreaterThan(c, _: Long)        => isKey(c)
      case GreaterThanOrEqual(c, _: Long) => isKey(c)
      case LessThan(c, _: Long)           => isKey(c)
      case LessThanOrEqual(c, _: Long)    => isKey(c)
      case EqualTo(c, _: Long)            => isKey(c)
      case In(c, _)                       => isKey(c)
      case _                              => false
    }
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** Byte-safe successor of a prefix for upper-bound pruning: only
    * when the last char is ASCII below 0x7F does incrementing it stay
    * a single-byte UTF-8 step (no surrogate/encoding hazards); other
    * prefixes just skip the upper bound — lo-only pruning is still
    * sound. */
  private def prefixUpper(v: String): Option[String] =
    if (v.nonEmpty && v.last < 0x7F) Some(v.init + (v.last + 1).toChar)
    else None

  override def build(): Scan = {
    // a change-feed read IS its stream: it plans snapshot DIFFS, not
    // head parts (filters stay residual — Spark re-applies them on the
    // emitted change rows)
    if (cdf) {
      val base = StructType(schema.fields.filterNot(f =>
        ManifestCdf.MetaNames.contains(f.name)))
      return new ManifestMicroBatchStream(path, base, required, conf,
        startingVersion, maxPartsPerTrigger,
        ManifestSink.alignColMap(ManifestLog(conf.value, path).snapshot()
          .header.schemaCm, base, path),
        changeFeed = true)
    }
    // plan against the manifest on the DRIVER: only committed parts,
    // and only those whose column stats can satisfy the pushed
    // predicates. NULL rows are safe to skip under a comparison
    // (three-valued logic: none is ever TRUE for NULL), so a part
    // whose column is all NULL is pruned by any bound on it; with no
    // pushed predicates nothing is pruned.
    //
    // The scan plans ONE snapshot (`snapshot`, shared with the
    // metadata-aggregate answer), so the part list a row-level rewrite
    // records and the base its commit pins are consistent — resolving
    // at execution time could capture a commit that landed after this
    // plan and void the lost-update guard. A branch read pins the
    // BRANCH head the same way.
    val all = snapshot.parts
    val head = snapshot.header
    aggResult match {
      case Some((aggSchema, aggRows)) =>
        new ManifestAggScan(aggSchema, aggRows)
      case None =>
        // a part survives unless SOME predicate column has a recorded
        // stat that proves no row can match (absent stat or kind
        // mismatch ⇒ keep — never wrong). NULL-count pruning: IS NULL
        // skips parts with provably ZERO nulls, IS NOT NULL provably
        // ALL-null parts. Counts are write-time PHYSICAL (or
        // ANALYZE-refreshed visible) totals — zero physical nulls ⇒
        // zero visible nulls, all physical null ⇒ all visible null —
        // so every skip stays sound under deletion vectors.
        def holds(m: PartMeta, c: String, kind: Char)(
            ok: ColStat => Boolean): Boolean =
          m.cstats.get(c).forall(st => st.kind != kind || ok(st))
        def nulls(m: PartMeta, c: String): Long =
          m.cstats.get(c).map(_.nulls).getOrElse(-1L)
        var kept = all.filter { m =>
          longBounds.forall { case (c, (lo, hi)) =>
            LongRange.classify(m, c, lo, hi) != 'u'
          } && (strLo.keySet ++ strHi.keySet).forall(c =>
            holds(m, c, 's')(_.strOverlaps(strLo.get(c), strHi.get(c)))) &&
            longPoints.forall { case (c, ps) =>
              holds(m, c, 'l')(st => ps.exists(st.mayContain)) } &&
            strPoints.forall { case (c, ps) =>
              holds(m, c, 's')(st => ps.exists(st.mayContainStr)) } &&
            isNullCols.forall(nulls(m, _) != 0L) &&
            notNullCols.forall { c =>
              val n = nulls(m, c)
              !(n >= 0 && m.rows > 0 && n >= m.rows)
            }
        }
        limit.foreach { n =>
          // keep the shortest part prefix whose VISIBLE row counts
          // cover n (deletion vectors shrink what a part can supply)
          var need = n.toLong
          kept = kept.takeWhile { p =>
            val take = need > 0; need -= p.visibleRows; take
          }
        }
        // TopN part pruning (see pushTopN): eligible iff every kept
        // part is writer-certified sorted (⇒ no null keys), counts
        // are exact (no pending equality deletes), and key ranges are
        // pairwise disjoint once ordered — then the boundary prefix
        // covering n visible rows provably contains a complete top-n
        // (every omitted row's key is ≥/≤ all prefix keys). Spark's
        // retained Sort+Limit finishes the job, so a decline is only
        // ever slower, never wrong.
        topN.foreach { case (asc, n) =>
          val ranged = kept.flatMap(p => p.cstats.get(keyCol.get)
            .filter(_ => p.sorted && p.countsExact).map(p -> _))
          val ordered = ranged.sortBy(_._2.lMin)
          val eligible = kept.nonEmpty && ranged.size == kept.size &&
            ordered.sliding(2).forall {
              case Seq(a, b) => a._2.lMax <= b._2.lMin
              case _ => true
            }
          if (eligible) {
            var need = n.toLong
            kept = (if (asc) ordered else ordered.reverse).map(_._1)
              .takeWhile { p =>
                val take = need > 0; need -= p.visibleRows; take
              }
          }
        }
        // a row-level DELETE whose key range or points already bound
        // the parts gains little from Spark's runtime group filter,
        // which costs a second scan of those parts: decline it
        val keyBoundDelete = rowLevelOwner.exists(_.command() ==
          org.apache.spark.sql.connector.write.RowLevelOperation.Command.DELETE) &&
          keyCol.exists(c => longBounds.contains(c) || longPoints.contains(c))
        new ManifestScan(kept, schema, required, conf, all.size, limit, keyCol,
          path, rowLevelOwner, startingVersion, snapshot,
          maxPartsPerTrigger, ManifestSink.alignColMap(head.schemaCm, schema, path),
          branched = ref.isInstanceOf[Ref.Branch],
          runtimeFiltered = !keyBoundDelete,
          tableProps = head.table.props)
    }
  }
}

/** Metadata-only scan: the FINAL aggregate rows were already computed
  * on the driver from one manifest read (see `computeMetaAgg`) — the
  * scan just serves them; no data file is ever opened. A global
  * aggregate is one partition/one row; a grouped aggregate chunks its
  * group rows (one per distinct part-constant value) across a few
  * partitions, each a thin array in the task closure. */
private[sources] class ManifestAggScan(
    aggSchema: StructType, rows: Seq[Array[Any]])
    extends Scan with Batch {

  override def toBatch: Batch = this
  override def description(): String =
    s"graft.ManifestAggScan(metadata-only, ${rows.length} rows, " +
      aggSchema.fieldNames.mkString(", ") + ")"

  override def readSchema(): StructType = aggSchema

  override def planInputPartitions(): Array[InputPartition] =
    if (rows.isEmpty) Array.empty
    else rows.grouped(4096).map(c => ManifestAggPartition(c.toArray)).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val all = p.asInstanceOf[ManifestAggPartition].rows
          private var i = -1
          override def next(): Boolean = { i += 1; i < all.length }
          override def get(): InternalRow =
            new GenericInternalRow(all(i).map[Any] {
              case null             => null
              case s: String       =>
                org.apache.spark.unsafe.types.UTF8String.fromString(s)
              case l: java.lang.Long => l.longValue()
            })
          override def close(): Unit = ()
        }
    }
}

private[sources] case class ManifestAggPartition(rows: Array[Array[Any]])
    extends InputPartition

private[sources] class ManifestScan(
    initialParts: Seq[PartMeta],
    schema: StructType, required: StructType,
    conf: SerializableConfiguration, totalParts: Int,
    limit: Option[Int] = None, keyCol: Option[String] = None,
    tablePath: String = "",
    rowLevelOwner: Option[ManifestRowLevelOp] = None,
    startingVersion: Option[Int] = None,
    base: Snapshot,
    maxPartsPerTrigger: Option[Int] = None,
    cm: ColMap,
    branched: Boolean = false,
    runtimeFiltered: Boolean = true,
    tableProps: Map[String, String] = Map.empty)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  /** The table directory this scan reads, regardless of pin flags —
    * for [[MvRewrite.readsManifestDir]]'s structural routing probe. */
  private[sources] def scanTableDir: String = tablePath

  /** SORT-FREE reads: each input partition is one part file, and the
    * writer DETECTED whether it streamed out key-sorted (monotone
    * non-decreasing, no null keys — recorded in the manifest), so
    * when every planned part is sorted — and, under KeyGrouped
    * reporting, no bucket holds two files whose concatenation would
    * break the order — the scan reports per-partition ordering on
    * the key. A co-bucketed join of compacted tables then runs with
    * NO exchange AND NO sort: pure zip-merge, the cheapest join
    * Spark can plan. Requires
    * spark.sql.sources.v2.bucketing.sorting.enabled. */
  override def outputOrdering():
      Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    val allSorted = parts.nonEmpty && keyCol.isDefined &&
      rowLevelOwner.isEmpty && parts.forall(_.sorted)
    val spec = parts.headOption.map(_.nbuckets).getOrElse(0)
    val keyGrouped = spec > 0 &&
      parts.forall(p => p.nbuckets == spec && p.bucket >= 0)
    val oneFilePerGroup =
      !keyGrouped || parts.groupBy(_.bucket).forall(_._2.size == 1)
    if (allSorted && oneFilePerGroup)
      Array(org.apache.spark.sql.connector.expressions.Expressions.sort(
        org.apache.spark.sql.connector.expressions.Expressions
          .column(keyCol.get),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
    else Array.empty
  }

  /** STORAGE-PARTITIONED reads: when every planned part carries a
    * consistent bucket spec (written with `option("buckets", n)`),
    * report `KeyGroupedPartitioning(bucket(n, key))` — Spark then
    * groups the parts by bucket ordinal, and (a) an aggregation on
    * the key runs with NO exchange (each bucket holds all rows of its
    * keys), (b) a join of two co-bucketed tables on the key zips the
    * bucket partitions pairwise with NO shuffle on either side — the
    * Iceberg storage-partitioned-join shape, and at 100 TB the
    * difference between "join = full-table exchange" and "join =
    * co-located merge". The transform resolves through the catalog's
    * `bucket` function ([[GraftBucketFunction]]), whose identity with
    * the writer's router is what makes the claim sound. A single
    * rewritten/compacted part without bucket metadata demotes the
    * scan to UnknownPartitioning — correctness never rests on the
    * report. Requires spark.sql.sources.v2.bucketing.enabled. */
  override def outputPartitioning():
      org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    val spec = parts.headOption.map(_.nbuckets).getOrElse(0)
    val bucketed = spec > 0 && keyCol.isDefined && rowLevelOwner.isEmpty &&
      parts.forall(p => p.nbuckets == spec && p.bucket >= 0)
    if (bucketed)
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(org.apache.spark.sql.connector.expressions.Expressions
          .bucket(spec, keyCol.get)),
        parts.map(_.bucket).distinct.size)
    else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
        parts.size)
  }

  /** (table dir, pinned base version) when this scan is a plain,
    * un-limited batch read of one committed snapshot — the only shape
    * [[MvRewrite]] may substitute with a materialized rollup. Every
    * narrowing the scan could have absorbed silently is excluded
    * structurally: LIMIT prefixes (limit), row-level rewrite scans
    * (rowLevelOwner), stream tails (startingVersion); pushed FILTERS
    * need no flag because this source reports all filters residual,
    * so a filtered query always keeps a Filter node above the scan
    * relation and the rewrite's adjacency match fails. */
  private[sources] def mvRewriteTarget: Option[(String, Int)] =
    if (tablePath.nonEmpty && limit.isEmpty && rowLevelOwner.isEmpty &&
      startingVersion.isEmpty && !branched) Some((tablePath, base.version))
    else None

  /** Streaming read: snapshot versions ARE the offsets (see
    * [[ManifestMicroBatchStream]]); the stream shares this scan's
    * pruned column set, so `readStream.select(...)` still prunes the
    * columns read. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ManifestMicroBatchStream(tablePath, schema, required, conf,
      startingVersion, maxPartsPerTrigger, cm, changeFeed = false)

  // narrowed in place by runtime filters before partition planning
  private var parts: Seq[PartMeta] = initialParts

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft.ManifestScan(parts=${parts.size}/$totalParts" +
      limit.map(n => s", limit=$n").getOrElse("") + ")"

  /** RUNTIME part pruning — the DSv2 analog of dynamic partition
    * pruning: when this table is the probe side of a broadcast join
    * on the key, Spark hands the build side's key set here AT
    * EXECUTION TIME and only parts whose manifest (min, max) range
    * can contain one of those keys are ever opened. Static planning
    * cannot see the join's key set; at 100 TB a selective dimension
    * turns a full fact scan into a handful of parts. Dropping a part
    * no build key can hit is safe by construction (Spark injects the
    * filter only where join semantics allow); the row-level join
    * still decides every surviving row.
    *
    * Advertised ONLY when the key survived column pruning: Spark's
    * PartitionPruning resolves these refs against the scan's PRUNED
    * output and throws on a miss — a scan projecting (event_type,
    * value) out of a keyed table must simply decline runtime
    * filtering, not break the query. */
  /** Runtime (DPP-style) pruning is advertised for every column some
    * planned part carries a [[ColStat]] for — a star join filtering on
    * ANY stats-tracked dimension column narrows the fact scan at
    * execution. Only columns surviving column pruning are advertised
    * (advertising a pruned-away column makes Spark's PartitionPruning
    * throw at resolution — pinned by ManifestSourceSpec). None when
    * the builder declined runtime filtering (`runtimeFiltered`).
    *
    * A ROW-LEVEL rewrite's scan advertises ONE column: the key when
    * it has stats (range + bloom), else the first column that does.
    * Spark's group filter then plans a single-column `IN` over the
    * matched target rows, which `BatchScanExec` translates into the
    * [[In]] that [[filter]] prunes by — a multi-column struct would
    * never translate. One column is enough: the subquery's rows ARE
    * the matched rows, so any column's values are consistent with
    * exactly the parts those rows live in. */
  override def filterAttributes(): Array[NamedReference] = {
    val cols =
      if (!runtimeFiltered) Seq.empty
      else initialParts.iterator.flatMap(_.cstats.keysIterator).distinct
        .filter(required.fieldNames.contains).toSeq
    val advertised =
      if (rowLevelOwner.isEmpty) cols
      else keyCol.filter(cols.contains)
        .orElse(required.fieldNames.find(cols.contains)).toSeq
    advertised.map(c => Expressions.column(c)).toArray
  }

  // runtime sets are point sets: each value must pass the column's
  // range AND bloom; a part with no entry is kept (absent ⇒ cannot
  // prune)
  override def filter(filters: Array[Filter]): Unit = filters.foreach {
    case In(c, vs) if vs.nonEmpty =>
      if (vs.forall(_.isInstanceOf[Long])) {
        val longs = vs.map(_.asInstanceOf[Long])
        parts = parts.filter(_.cstats.get(c).forall(st =>
          st.kind != 'l' || longs.exists(st.mayContain)))
      } else if (vs.forall(_.isInstanceOf[String])) {
        val strs = vs.map(_.asInstanceOf[String])
        parts = parts.filter(_.cstats.get(c).forall(st =>
          st.kind != 's' || strs.exists(st.mayContainStr)))
      }
    case EqualTo(c, v: Long) =>
      parts = parts.filter(_.cstats.get(c).forall(st =>
        st.kind != 'l' || st.mayContain(v)))
    case _ => ()
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // a row-level rewrite's commit must replace EXACTLY the parts its
    // scan planned (post static + runtime pruning) — record them on
    // the shared operation before tasks launch, paired with the
    // snapshot the part list was read from (see build())
    rowLevelOwner.foreach(_.recordScan(parts, base))
    parts.map(p =>
      ManifestPartition(p.path, p.rows, dvRef = p.dvRef, bucket = p.bucket,
        eq = p.eq)).toArray
  }

  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new PartsPlannedMetric, new PartsSkippedMetric,
      new DvMaskedRowsMetric, new EqMaskedRowsMetric)

  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(LongTaskMetric("partsPlanned", parts.size.toLong),
      LongTaskMetric("partsSkipped", (totalParts - parts.size).toLong))

  // ONE factory per scan: the planner asks again for every copy of
  // the scan node, and each factory broadcasts its reader's conf. It
  // covers every clause a planned part may carry (runtime filtering
  // only narrows `initialParts`)
  private lazy val readerFactory = new ManifestReaderFactory(schema,
    required, conf, cm, initialParts.flatMap(_.eq),
    limit.map(_.toLong).getOrElse(Long.MaxValue))
  override def createReaderFactory(): PartitionReaderFactory = readerFactory

  /** Post-pruning stats straight from the manifest — exact row count;
    * bytes from the parts' TRUE on-disk sizes (committed with each
    * part), scaled by the projected-column fraction and the visible
    * fraction under deletion vectors. This is what lets the planner
    * flip a pruned fact scan to the BROADCAST side of a join purely
    * from manifest metadata: a predicate that prunes 100k parts down
    * to three reports three parts' bytes, not a table-wide width
    * guess (ScaleSpec pins the SMJ→BHJ flip). Parts predating the
    * bytes field fall back to the width estimate — over-estimating
    * never breaks a plan, it only declines the broadcast. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val n = parts.map(_.visibleRows).sum
    private val colFraction =
      math.min(1.0, required.defaultSize.toDouble /
        math.max(1, schema.defaultSize))
    override def sizeInBytes(): OptionalLong = OptionalLong.of(math.max(1L,
      parts.map { p =>
        if (p.bytes > 0)
          (p.bytes * colFraction *
            (p.visibleRows.toDouble / math.max(1L, p.rows))).toLong
        else p.visibleRows * required.defaultSize
      }.sum))
    override def numRows(): OptionalLong = OptionalLong.of(n)
    // ANALYZE-collected NDV (graft.ndv props, O(1) read) + EXACT null
    // counts folded from this scan's planned parts — the column stats
    // Spark's CBO needs to size join outputs (JoinEstimation) and
    // reorder a multi-join chain (CostBasedJoinReorder under
    // spark.sql.cbo.enabled). NDV is capped at the post-pruning row
    // count; columns without an ANALYZE pass report nothing.
    override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val out = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      if (tablePath.isEmpty) return out
      def nullsFor(c: String): Long = {
        val ns = parts.map(_.cstats.get(c).map(_.nulls).getOrElse(-1L))
        if (ns.exists(_ < 0)) -1L else ns.sum
      }
      // LONG-column [min, max] folded from this scan's planned parts:
      // JoinEstimation intersects key ranges before applying the NDV
      // formula — without them it cannot size a join at all
      def rangeFor(c: String): Option[(Long, Long)] = {
        val st = parts.flatMap(_.cstats.get(c))
          .filter(st => st.kind == 'l' && st.hasValues)
        if (st.isEmpty) None
        else Some((st.map(_.lMin).min, st.map(_.lMax).max))
      }
      // ANALYZE-collected equi-depth histograms (graft.hist props):
      // per-bin ndv is what FilterEstimation needs to size a RANGE
      // predicate on a SKEWED column — NDV + [min,max] alone assume
      // uniformity. transformV2Stats converts these bins verbatim
      // into the catalyst Histogram the estimator reads.
      val hists = ManifestSink.hist(tableProps)
      ManifestSink.ndv(tableProps).foreach { case (c, d) =>
        if (schema.fields.exists(_.name == c)) {
          val nulls = nullsFor(c)
          val isLong = schema.fields.exists(f =>
            f.name == c &&
              f.dataType == org.apache.spark.sql.types.LongType)
          val range = if (isLong) rangeFor(c) else None
          val hist: Option[
              org.apache.spark.sql.connector.read.colstats.Histogram] =
            (if (isLong) hists.get(c) else None).map { case (h, hbins) =>
              new org.apache.spark.sql.connector.read.colstats.Histogram {
                override def height(): Double = h
                override def bins(): Array[
                    org.apache.spark.sql.connector.read.colstats.HistogramBin] =
                  hbins.map { case (blo, bhi, bndv) =>
                    new org.apache.spark.sql.connector.read.colstats
                      .HistogramBin {
                      override def lo(): Double = blo.toDouble
                      override def hi(): Double = bhi.toDouble
                      override def ndv(): Long = bndv
                    }: org.apache.spark.sql.connector.read.colstats
                      .HistogramBin
                  }.toArray
              }
            }
          out.put(
            org.apache.spark.sql.connector.expressions.Expressions.column(c),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def distinctCount(): OptionalLong =
                OptionalLong.of(math.max(1L, math.min(d, n)))
              override def nullCount(): OptionalLong =
                if (nulls >= 0) OptionalLong.of(nulls)
                else OptionalLong.empty()
              override def min(): java.util.Optional[Object] =
                range.fold(java.util.Optional.empty[Object]())(r =>
                  java.util.Optional.of(java.lang.Long.valueOf(r._1)))
              override def max(): java.util.Optional[Object] =
                range.fold(java.util.Optional.empty[Object]())(r =>
                  java.util.Optional.of(java.lang.Long.valueOf(r._2)))
              override def avgLen(): OptionalLong =
                if (isLong) OptionalLong.of(8L) else OptionalLong.empty()
              override def maxLen(): OptionalLong =
                if (isLong) OptionalLong.of(8L) else OptionalLong.empty()
              override def histogram(): java.util.Optional[
                  org.apache.spark.sql.connector.read.colstats.Histogram] =
                hist.fold(java.util.Optional.empty[
                  org.apache.spark.sql.connector.read.colstats.Histogram]())(
                  java.util.Optional.of(_))
            })
        }
      }
      out
    }
  }
}

/** One data part to decode, for a batch scan, the append stream or
  * the change feed. `dvRef` is the part's vector sidecar, read on the
  * executor; `dvHex` is an inline vector only the change feed fills
  * (the delta a vector commit added). `bucket` is the part's
  * storage-bucket ordinal (−1 = unbucketed); Spark only consults
  * [[org.apache.spark.sql.connector.read.HasPartitionKey]] when the
  * scan reported KeyGroupedPartitioning, which it does only when EVERY
  * planned part carries a consistent bucket.
  *
  * The change fields default to a plain read. On a change-feed part:
  *  - `changeType` / `commitVersion` are served as the constant
  *    `_change_type` / `_commit_version` columns;
  *  - `emitOnlyMask` inverts row selection to exactly the ordinals
  *    the vector flags — a vector commit's newly-deleted rows, whose
  *    DELTA vector the driver ships inline;
  *  - `eq` holds the clauses as of the REPLAYED state, so rows an
  *    earlier eq commit removed never replay;
  *  - a non-empty `emitOnlyEq` keeps only the rows its (new) clauses
  *    match — an eq commit's row-level deletes, found by evaluating
  *    the clauses against each row. */
private[sources] case class ManifestPartition(
    path: String, rows: Long, dvHex: String = "", dvRef: String = "",
    bucket: Int = -1, eq: Seq[EqClause] = Seq.empty,
    changeType: String = "", commitVersion: Int = 0,
    emitOnlyMask: Boolean = false, emitOnlyEq: Seq[EqClause] = Seq.empty)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
}

/** Micro-batch read over the snapshot log, for the append stream and
  * the change feed (`option("changeFeed", "true")`). OFFSETS ARE
  * SNAPSHOT VERSIONS: part files are immutable and a version file is
  * claimed only AFTER its parts, so a version `latestOffset` observes
  * is always fully readable — no listing races, no partially-visible
  * commits. Rewritten history (vacuumed versions below a checkpointed
  * offset) fails loudly via [[ManifestLog.snapshot]] rather than silently
  * re-serving the head; AvailableNow and continuous restarts resume
  * from the checkpointed version.
  *
  * Only the planner differs between the two feeds:
  *  - APPEND stream: batch (s, e] plans the parts snapshot e lists and
  *    snapshot s did not — append-driven like Delta's streaming reads.
  *    Parts an overwrite removed are never re-planned (their rows were
  *    delivered from the snapshot that introduced them); each batch
  *    costs O(new data), never O(table).
  *  - CHANGE FEED, the `readChangeFeed` analog: one diff per commit in
  *    (s, e], so every row carries ITS commit's `_commit_version`,
  *    tagged `_change_type` 'insert' | 'delete'. Added parts replay as
  *    inserts and removed parts as deletes — so a COW DELETE restates
  *    each rewritten part (deletes for all its rows, inserts for the
  *    survivors), the shape Delta serves from add/remove actions when
  *    no _change_data files exist; keyed consumers reconcile restated
  *    rows idempotently. A grown deletion vector or eq-clause list
  *    replays exactly the newly-deleted rows.
  *
  * ADMISSION CONTROL (`option("maxPartsPerTrigger", n)`, Delta's
  * maxFilesPerTrigger): a fresh consumer of a large table must not
  * plan its whole backlog as one micro-batch (one giant shuffle, no
  * incremental checkpoint). `latestOffset(start, limit)` advances the
  * end version only while the count of newly-added parts fits the
  * budget, always admitting at least ONE version — a commit cannot be
  * split, so an oversized one lands whole. Cost per trigger is one
  * small manifest per admitted version, never data files.
  * Trigger.AvailableNow pins the end version at query start and
  * drains it in budgeted batches (ManifestStreamSpec pins the batch
  * counts; q_stream_backfill gates the catch-up end to end).
  *
  * The change feed's [[ManifestScanBuilder.build]] returns this stream
  * as its scan; the append stream comes from
  * [[ManifestScan.toMicroBatchStream]]. Either way `required` is the
  * pushed column set, so `readStream.select(...)` prunes the columns read. */
private[sources] class ManifestMicroBatchStream(
    path: String, schema: StructType, required: StructType,
    conf: SerializableConfiguration, startingVersion: Option[Int],
    maxPartsPerTrigger: Option[Int], cm: ColMap, changeFeed: Boolean)
    extends Scan
    with org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles}

  private case class V(v: Int) extends Offset {
    override def json: String = v.toString
  }

  override def readSchema(): StructType = required
  override def description(): String =
    s"graft.ManifestMicroBatchStream($path${if (changeFeed) "@changes" else ""})"
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = this

  private var availableEnd: Option[Int] = None
  private def headVersion: Int = ManifestLog(conf.value, path).head
  // the part lists `latestOffset(start, limit)` read for the range it
  // admitted: planInputPartitions plans that range from them, so a
  // rate-limited trigger decodes each manifest once
  @volatile private var admitted: Map[Int, Seq[PartMeta]] = Map.empty
  private def metaAt(log: => ManifestLog, v: Int): Seq[PartMeta] =
    admitted.getOrElse(v, log.snapshot(Ref.At(v)).parts)

  /** Only consulted when no checkpoint exists; resume always wins. */
  override def initialOffset(): Offset =
    V(startingVersion.map(_ - 1).getOrElse(0))
  override def latestOffset(): Offset = V(headVersion)
  override def deserializeOffset(json: String): Offset = V(json.trim.toInt)

  override def prepareForTriggerAvailableNow(): Unit =
    availableEnd = Some(headVersion)

  override def getDefaultReadLimit: ReadLimit =
    maxPartsPerTrigger.map(n => ReadLimit.maxFiles(n))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val log = ManifestLog(conf.value, path)
    val head = availableEnd.getOrElse(log.head)
    val s = start.asInstanceOf[V].v
    admitted = Map.empty
    limit match {
      case f: ReadMaxFiles if s < head =>
        val read = Map.newBuilder[Int, Seq[PartMeta]]
        def pathsAt(v: Int): Set[String] = {
          val parts = log.snapshot(Ref.At(v)).parts
          read += v -> parts
          parts.map(_.path).toSet
        }
        var v = s
        var used = 0
        var prev = pathsAt(s)
        var full = false
        while (!full && v < head) {
          val next = pathsAt(v + 1)
          val added = (next -- prev).size
          // at least one version per batch; beyond that, stop BEFORE
          // the version that would blow the budget
          if (used + added > f.maxFiles && v > s) full = true
          else { used += added; v += 1; prev = next }
        }
        admitted = read.result()
        V(v)
      case _ => V(head)
    }
  }

  // the equality clauses of the batch planned last: Spark plans a
  // batch's partitions before it asks for their reader factory
  @volatile private var plannedClauses: Seq[EqClause] = Seq.empty

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val planned = plan(start.asInstanceOf[V].v, end.asInstanceOf[V].v)
    plannedClauses = planned.toSeq.flatMap {
      case m: ManifestPartition => m.eq ++ m.emitOnlyEq
    }.distinct
    planned
  }

  private def plan(s: Int, e: Int): Array[InputPartition] = {
    lazy val log = ManifestLog(conf.value, path)
    if (e <= s) Array.empty
    else if (changeFeed) {
      // each version's manifest is decoded once: it is `cur` for its
      // own diff and `prev` for the next
      var prev = metaAt(log, s)
      (s + 1 to e).flatMap { v =>
        val cur = metaAt(log, v)
        val out = changesAt(v, prev, cur)
        prev = cur
        out
      }.toArray
    } else {
      val before = metaAt(log, s).map(_.path).toSet
      metaAt(log, e).filterNot(m => before.contains(m.path))
        .map(m => ManifestPartition(m.path, m.rows, dvRef = m.dvRef,
          eq = m.eq): InputPartition)
        .toArray
    }
  }

  /** The change-feed diff of commit `v` (parts `cur`) against `v - 1`
    * (parts `prevParts`). Insert and delete replays mask with the
    * part's own vector (`dvRef`, read on the executor) and its clauses
    * as of the replayed state (`eq`), so they never leak rows an
    * earlier delete removed. */
  private def changesAt(v: Int, prevParts: Seq[PartMeta],
      cur: Seq[PartMeta]): Seq[InputPartition] = {
    val prev = prevParts.map(m => m.path -> m).toMap
    val curPaths = cur.map(_.path).toSet
    def replay(m: PartMeta, changeType: String) =
      ManifestPartition(m.path, m.rows, dvRef = m.dvRef, eq = m.eq,
        changeType = changeType, commitVersion = v)
    val inserts = cur.filterNot(m => prev.contains(m.path))
      .map(replay(_, "insert"))
    val deletes = prev.valuesIterator.filterNot(m => curPaths(m.path))
      .map(replay(_, "delete")).toSeq
    // a retained part whose DELETION VECTOR grew: replay exactly the
    // newly-flagged ordinals as deletes — true row-level CDC for
    // merge-on-read deletes, no restatement of survivors. The delta is
    // computed here; a sidecar is content-immutable once written (each
    // delete publishes a NEW token-named file), so "same `dvRef`" ⇔
    // "same vector". (A RESTORE that rolls a vector BACK emits
    // nothing for the un-deleted rows — restore is a head replacement,
    // not a change event; Delta's CDF has the same blind spot.)
    val dvDeletes = cur.flatMap { m =>
      prev.get(m.path) match {
        case Some(old) if m.dvRef != old.dvRef =>
          val delta = DeleteVector.minus(DeleteVector.load(conf.value, m),
            DeleteVector.load(conf.value, old))
          if (DeleteVector.popCount(delta) == 0) None
          else Some(replay(m, "delete").copy(dvHex = DeleteVector.toHex(delta),
            dvRef = "", eq = old.eq, emitOnlyMask = true))
        case _ => None
      }
    }
    // a retained part whose EQUALITY-DELETE clause list grew: the
    // newly-deleted rows are exactly those matching the NEW clauses
    // among the rows visible before. The row mask is the NEW vector:
    // if one commit grows both, the vector delta's rows are already
    // emitted by dvDeletes, so no row's delete double-emits
    val eqDeletes = cur.flatMap { m =>
      prev.get(m.path) match {
        case Some(old) if m.eq.size > old.eq.size =>
          Some(replay(m, "delete").copy(eq = old.eq,
            emitOnlyEq = m.eq.drop(old.eq.size)))
        case _ => None
      }
    }
    inserts ++ deletes ++ dvDeletes ++ eqDeletes
  }

  // `cm` is ONE mapping for the stream's whole life, captured with the
  // head its schema came from: a nested DROP COLUMN committed
  // mid-stream must not shift nested ids under this stream's fixed
  // schema. EXISTS defaults are frozen at ADD COLUMN, so the pinned
  // view stays valid for every replayed part. ONE reader per distinct
  // read schema: the clause columns are all a factory takes from the
  // batch (each partition carries its own clauses), and building a
  // reader broadcasts its Hadoop conf.
  private val factories =
    scala.collection.concurrent.TrieMap.empty[Set[(Int, Boolean)], ManifestReaderFactory]
  override def createReaderFactory(): PartitionReaderFactory =
    factories.getOrElseUpdate(
      plannedClauses.map(c => (c.fieldId, c.kind == 's')).toSet,
      new ManifestReaderFactory(schema, required, conf, cm, plannedClauses,
        changeFeed = changeFeed))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** The stream options of a table scan: `startingVersion` maps to
  * initial offset startingVersion-1, so 0 (or a negative) would plan
  * snapshot -1 on the first
  * trigger and surface as a raw FileNotFoundException — validate at
  * PARSE time with a message that names the option instead. */
private[sources] object StreamOptions {
  def startingVersion(options: CaseInsensitiveStringMap): Option[Int] = {
    val v = Option(options.get("startingVersion")).map(_.toInt)
    v.foreach(n => require(n >= 1,
      s"option 'startingVersion' must be >= 1 (snapshot versions are " +
        s"1-based), got $n"))
    v
  }

  /** `option("startingTimestamp", "yyyy-MM-dd HH:mm:ss[.S]")` — the
    * Delta-shaped time twin of startingVersion: a fresh consumer
    * tails from the EARLIEST snapshot committed at or after the
    * instant (version-file mtime, the same immutable commit clock
    * `TIMESTAMP AS OF` and `expire_snapshots(older_than)` resolve).
    * An instant past the head replays nothing historical and starts
    * with the next commit. Resolved ONCE here — resume from a
    * checkpoint ignores it, like startingVersion. */
  def resolveStarting(options: CaseInsensitiveStringMap,
      conf: org.apache.hadoop.conf.Configuration,
      path: String): Option[Int] = {
    val sv = startingVersion(options)
    val st = Option(options.get("startingTimestamp"))
    require(sv.isEmpty || st.isEmpty,
      "options 'startingVersion' and 'startingTimestamp' are " +
        "mutually exclusive")
    sv.orElse(st.map { s =>
      val ms = java.sql.Timestamp.valueOf(s.replace('T', ' ')).getTime
      val log = ManifestLog(conf, path)
      log.versions.find(log.commitTime(_) >= ms).getOrElse(log.head + 1)
    })
  }

  /** Streaming admission control (see [[ManifestMicroBatchStream]]). */
  def maxPartsPerTrigger(options: CaseInsensitiveStringMap): Option[Int] = {
    val v = Option(options.get("maxPartsPerTrigger")).map(_.toInt)
    v.foreach(n => require(n >= 1,
      s"option 'maxPartsPerTrigger' must be >= 1, got $n"))
    v
  }
}

/** The change feed's metadata columns (schema inference, the reader). */
private[sources] object ManifestCdf {
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"
  val MetaNames: Set[String] = Set(ChangeTypeCol, CommitVersionCol)
  val MetaFields: Array[StructField] = Array(
    StructField(ChangeTypeCol, StringType, nullable = false),
    StructField(CommitVersionCol, LongType, nullable = false))
}

/** OBSERVABILITY (DSv2 custom metrics, surfaced in the SQL UI next
  * to rows/bytes): the pruning a manifest scan performed is exactly
  * what an operator tunes at 100 TB, so the scan reports it —
  * `partsPlanned`/`partsSkipped` from the driver after static +
  * runtime pruning, `dvMaskedRows` summed from the readers (the
  * merge-on-read debt a compaction would settle). */
private[sources] class PartsPlannedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "partsPlanned"
  override def description(): String =
    "data parts planned (after static + runtime pruning)"
}

private[sources] class PartsSkippedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "partsSkipped"
  override def description(): String =
    "data parts skipped by manifest stats/bloom/runtime pruning"
}

private[sources] class DvMaskedRowsMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "dvMaskedRows"
  override def description(): String =
    "rows skipped by deletion vectors (merge-on-read debt)"
}

private[sources] class EqMaskedRowsMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "eqMaskedRows"
  override def description(): String =
    "rows skipped by equality-delete clauses (merge-on-read debt)"
}

private[sources] case class LongTaskMetric(metricName: String, v: Long)
    extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
  override def name(): String = metricName
  override def value(): Long = v
}

/** One equality clause compiled against a reader's row: the clause
  * column's index and its values parsed once per part — a Long or
  * UTF8 set ('l' / 's'), or the inclusive range [lo, hi] ('L'). A NULL
  * never matches (`c = v` and `ts < cutoff` are NULL for a NULL c). */
private[sources] final class EqMatch(c: EqClause, idx: Int) {
  private val longs: Set[Long] =
    if (c.kind == 'l') c.values.map(_.toLong).toSet else Set.empty
  private val strs: Set[UTF8String] =
    if (c.kind == 's') c.values.map(UTF8String.fromString).toSet else Set.empty
  private val (lo, hi) =
    if (c.kind == 'L') (c.values.head.toLong, c.values(1).toLong) else (0L, -1L)

  def matches(r: InternalRow): Boolean = !r.isNullAt(idx) && (c.kind match {
    case 's' => strs.contains(r.getUTF8String(idx))
    case 'l' => longs.contains(r.getLong(idx))
    case _ => val v = r.getLong(idx); v >= lo && v <= hi
  })
}

/** The one part reader: batch scans, the append stream and the change
  * feed all read parts through it, with Spark's own Parquet reader,
  * built once on the driver.
  *
  * Columns resolve by stable field id: logical field -> id (`cm`,
  * aligned to `schema`) -> the part's Parquet column `c<id>`, struct
  * sub-fields likewise by nested id ([[ManifestSink.physicalField]]).
  * The Parquet reader serves a column a part never wrote with its
  * initial default (or NULL) and widens INT -> BIGINT and same-scale
  * DECIMAL growth, so one read schema serves every part generation.
  *
  * Per row, in order: the deletion-vector test (a row replays when its
  * bit equals the partition's `emitOnlyMask`, so a plain read keeps
  * the unflagged rows), then the equality-clause masks ([[EqMatch]]).
  * `clauses` lists every clause a planned partition may carry; their
  * columns join the read schema. No filter reaches Parquet, so the
  * row position is the `_pos` ordinal and the vector's bit index.
  *
  * Constant columns come from the partition, never from the file
  * (negative slots): `_part` / `_pos` on a plain read, `_change_type`
  * / `_commit_version` on a change-feed factory. On the other kind of
  * read a column of that name is data. */
private[sources] class ManifestReaderFactory(
    schema: StructType, required: StructType,
    conf: SerializableConfiguration, cm: ColMap,
    clauses: Seq[EqClause] = Seq.empty, rowCap: Long = Long.MaxValue,
    changeFeed: Boolean = false)
    extends PartitionReaderFactory {

  private val fields = required.fields
  private val constants: Array[Int] = fields.map(_.name match {
    case PartMetaColumn.Name if !changeFeed => -1
    case PosMetaColumn.Name if !changeFeed => -2
    case ManifestCdf.ChangeTypeCol if changeFeed => -3
    case ManifestCdf.CommitVersionCol if changeFeed => -4
    case _ => 0
  })

  // the Parquet read schema: the required data columns, then each
  // clause column not among them
  private val read: StructType = {
    val data = fields.zip(constants).collect { case (f, 0) =>
      val i = schema.fieldIndex(f.name)
      val p = ManifestSink.physicalField(schema.fields(i), cm.ids(i), cm)
      (f.dataType, p.dataType, schema.fields(i).dataType) match {
        // a nested-pruned struct reads only its required sub-fields
        case (req: StructType, phys: StructType, full: StructType) =>
          p.copy(dataType = StructType(req.fields.map(sf =>
            phys.fields(full.fieldIndex(sf.name)))))
        case _ => p
      }
    }
    val extra = clauses.map(c => StructField(s"c${c.fieldId}",
      if (c.kind == 's') StringType else LongType)).distinct
      .filterNot(c => data.exists(_.name == c.name))
      .map(c => cm.ids.indexOf(c.name.drop(1).toInt) match {
        case -1 => c
        case i => ManifestSink.physicalField(schema.fields(i), cm.ids(i), cm)
      })
    StructType(data ++ extra)
  }
  // output slot j -> read column (constants stay negative)
  private val slots: Array[Int] = {
    var k = -1
    constants.map(c => if (c < 0) c else { k += 1; k })
  }
  private val types: Array[DataType] = fields.map(_.dataType)
  // the Parquet row IS the output row
  private val direct = constants.forall(_ == 0) && read.length == fields.length

  // built on the driver; it broadcasts its Hadoop conf
  private val parquet: PartitionedFile => Iterator[InternalRow] =
    new ParquetFileFormat().buildReaderWithPartitionValues(
      SparkSession.active, read, new StructType(), read, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      new Configuration(conf.value))

  private def compile(cs: Seq[EqClause]): Array[EqMatch] = cs.map { c =>
    val i = read.fieldIndex(s"c${c.fieldId}")
    new EqMatch(c, i)
  }.toArray

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[ManifestPartition]
    val path = new Path(part.path)
    val size = path.getFileSystem(conf.value).getFileStatus(path).getLen
    val rows = parquet(PartitionedFile(InternalRow.empty, SparkPath.fromPath(path),
      0L, size, Array.empty, 0L, size, Map.empty))
    new PartitionReader[InternalRow] {
      private val partConst = UTF8String.fromString(part.path)
      private val changeConst = UTF8String.fromString(part.changeType)
      private val versionConst = part.commitVersion.toLong
      // merge-on-read: the part's deletion vector masks flagged row
      // positions — data files are never rewritten by a MOR delete.
      // Sidecar vectors are read ON THE EXECUTOR (one small file next
      // to the part); a change-feed delta ships inline as `dvHex`.
      private val dv =
        if (part.dvRef.nonEmpty) DeleteVector.readRef(conf.value, part.dvRef)
        else DeleteVector.fromHex(part.dvHex)
      // EQUALITY-DELETE masking by stable field id; `onlyEq` is the
      // change feed's inverse mask
      private val eqMatchers = compile(part.eq)
      private val onlyEq = compile(part.emitOnlyEq)
      private val out = new GenericInternalRow(fields.length)
      private var current: InternalRow = _
      private var emitted = 0L
      private var pos = -1L
      private var masked = 0L
      private var eqMasked = 0L

      override def currentMetricsValues()
          : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
        Array(LongTaskMetric("dvMaskedRows", masked),
          LongTaskMetric("eqMaskedRows", eqMasked))

      override def next(): Boolean = {
        // a pushed limit caps every partition: one partition can
        // satisfy at most the whole limit, so stop reading past it
        if (emitted >= rowCap) return false
        var row: InternalRow = null
        while (row == null && rows.hasNext) {
          val r = rows.next()
          pos += 1
          if (DeleteVector.isDeleted(dv, pos) == part.emitOnlyMask) {
            if (eqMatchers.exists(_.matches(r))) eqMasked += 1
            else if (onlyEq.isEmpty || onlyEq.exists(_.matches(r))) row = r
          } else masked += 1
        }
        if (row == null) return false
        emitted += 1
        // the Parquet reader reuses its row: `current` is read before
        // the next call, never held past it
        current = if (direct) row else {
          var j = 0
          while (j < slots.length) {
            out.update(j, slots(j) match {
              case -1 => partConst
              case -2 => pos
              case -3 => changeConst
              case -4 => versionConst
              case k => if (row.isNullAt(k)) null else row.get(k, types(j))
            })
            j += 1
          }
          out
        }
        true
      }

      override def get(): InternalRow = current
      override def close(): Unit = rows match {
        case c: java.io.Closeable => c.close()
        case _ => ()
      }
    }
  }
}
