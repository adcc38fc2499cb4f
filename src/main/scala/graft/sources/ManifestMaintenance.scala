package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Table-maintenance operations over a [[GraftTable]] — the
  * VACUUM / expire-snapshots side of the snapshot log, the op
  * every production table format ships because time travel is a lease,
  * not a mortgage: superseded data must eventually be reclaimed or a
  * 100 TB table with daily rewrites stores every byte it ever held.
  *
  * Correctness contract (the same one Iceberg's `expireSnapshots` and
  * Delta's `VACUUM` state):
  *  - the head snapshot and the newest `keepLast` versions stay
  *    readable, bit-for-bit;
  *  - expired version manifests are deleted, so an expired time-travel
  *    read fails LOUDLY (it can never silently serve partial data —
  *    the manifest, not the directory listing, is the read plan);
  *  - a data file is deleted only when NO retained snapshot references
  *    it — reference counting over manifests decides WHAT is garbage;
  *    an age gate on never-referenced files decides WHEN it is safe
  *    (an in-flight writer's staged parts look identical to crash
  *    debris until its commit publishes);
  *  - unreferenced files include orphans from failed/aborted write
  *    attempts (staged but never committed), so vacuum is also the
  *    janitor for crash debris — after the grace period.
  *
  * Metadata-only: the decision reads manifests (KBs), never data
  * files, so the op costs O(snapshots + files-in-dir) driver work at
  * any table size.
  */
object ManifestMaintenance {

  /** Result of one expire run. */
  final case class ExpireStats(
      versionsExpired: Int, filesDeleted: Int, versionsRetained: Int)

  /** ANALYZE — recompute every part's statistics from its VISIBLE
    * rows and publish them in ONE metadata commit; no data file is
    * read twice or written at all. The use case is deletion-vector
    * staleness: stats are computed at WRITE time over the physical
    * rows, so after a wide MOR delete they are over-approximations —
    * sound for pruning but loose (a part whose surviving keys span
    * [300, 499] still advertises [250, 499] and keeps getting
    * planned). One ANALYZE after heavy DML restores tight zone maps
    * without compaction's rewrite cost — Iceberg's rewrite-statistics
    * shape.
    *
    * Distributed: one scan through the normal masking source, a
    * map-side-combined min/max aggregate per (part, tracked column),
    * and ONE small row per part back to the driver — O(parts), never
    * O(rows). Tracked columns follow the writer's selection exactly
    * ([[ManifestSink.statCols]]), so analyzed manifests are
    * indistinguishable from freshly-written ones to every pruning
    * path. Blooms are left in place: built over the physical values,
    * they stay supersets of the visible ones — sound, just not
    * tightened. A part with zero visible rows keeps only its key and
    * first-string records, with no value and no null (prunes against
    * any bound on them). Committed pinned to the analyzed snapshot
    * with its parts as footprint: stats computed
    * against this snapshot's vectors must not overwrite a
    * concurrently re-vectored part. Returns (parts updated, new
    * version). */
  def analyzeTable(spark: org.apache.spark.sql.SparkSession,
      dir: String, rebuildBlooms: Boolean = false,
      histograms: Boolean = false): (Int, Int) = {
    import org.apache.spark.sql.functions.{col, count, max, min}
    import org.apache.spark.sql.types.{LongType, StringType}
    val conf = ManifestSink.driverConf()
    val base = ManifestLog(conf, dir).snapshot()
    val baseVersion = base.version
    val (parts, head) = (base.parts, base.header)
    val (schema, cm) = head.schemaCm.getOrElse(
      throw new IllegalArgumentException(s"no manifest table at $dir"))
    if (parts.isEmpty) return (0, baseVersion)
    val (longCols, strCols) = ManifestSink.statCols(schema)
    val keepEmpty = ManifestSink.keyAndFirstStr(schema)
    val tracked: Seq[Int] = (longCols ++ strCols).toSeq
    if (tracked.isEmpty) return (0, baseVersion)
    val df = spark.read.format("graft.sources.ManifestSource")
      .option("path", dir).option("version", baseVersion.toString).load()
    // SUM refresh for every tracked long column rides the same pass,
    // APPENDED after the min/max/count triples so their offsets stay
    // positional. Computed in DecimalType(38,0) — exact, overflow-proof
    // — then stored as a Long only when it fits (a part whose visible
    // sum exceeds Long range records "untracked", same as the writer's
    // addExact overflow path).
    val longTracked = tracked.filter(schema.fields(_).dataType == LongType)
    // the part's SERVED row count comes from this same scan (not the
    // manifest's visibleRows): under pending equality-delete clauses
    // the manifest count is an over-approximation, and null counts
    // derived from it would be inflated
    val aggs = tracked.flatMap { i =>
      val c = schema.fields(i).name
      val e = if (schema.fields(i).dataType ==
          org.apache.spark.sql.types.TimestampType)
        org.apache.spark.sql.functions.unix_micros(col(c))
      else col(c)
      Seq(min(e).as(s"mn_$i"), max(e).as(s"mx_$i"),
        count(e).as(s"ct_$i"))
    } ++ longTracked.map { i =>
      val c = schema.fields(i).name
      org.apache.spark.sql.functions.sum(
        col(c).cast(org.apache.spark.sql.types.DecimalType(38, 0)))
        .as(s"sm_$i")
    } ++ Seq(count(org.apache.spark.sql.functions.lit(1)).as("vis"))
    val grouped = df
      .groupBy(col(PartMetaColumn.Name).as("_p"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // ONE row per part — the manifest-reference shape
    val fresh: Map[String, PartMeta] = grouped.map { r =>
      val path = r.getString(0)
      val base = parts.find(_.path == path).getOrElse(
        throw new IllegalStateException(s"scan reported unknown part $path"))
      def mnAt(j: Int): Int = 1 + 3 * j
      val smBase = 1 + 3 * tracked.length
      // the column's refreshed sum as a Long: NULL (no non-null
      // visible values) folds to the additive identity 0; a sum
      // outside Long range stays None = untracked
      def sumAt(i: Int): Option[Long] = {
        val j = longTracked.indexOf(i)
        if (j < 0) None
        else if (r.isNullAt(smBase + j)) Some(0L)
        else
          try Some(r.getDecimal(smBase + j).longValueExact())
          catch { case _: ArithmeticException => None }
      }
      val visCount = r.getLong(smBase + longTracked.length)
      // every tracked column gets a fresh record (or none, like the
      // writer's, when it has no visible value); the committed bloom
      // (built over PHYSICAL values) carries over, a sound superset of
      // the visible ones — rebuild_blooms recomputes it below
      path -> base.copy(cstats = tracked.zipWithIndex.foldLeft(base.cstats) {
        case (cs, (i, j)) =>
          val f = schema.fields(i)
          val (mn, mx, ct) = (mnAt(j), mnAt(j) + 1, mnAt(j) + 2)
          def bound(k: Int): String =
            if (r.isNullAt(k)) null
            else if (f.dataType == StringType) r.getString(k)
            else r.getLong(k).toString
          if (r.isNullAt(mn) && !keepEmpty(f.name)) cs - f.name
          else cs + (f.name -> ColStat(
            if (f.dataType == StringType) 's' else 'l', bound(mn), bound(mx),
            // null count over the SERVED rows = scanned count − non-null
            visCount - r.getLong(ct), sumAt(i),
            base.cstats.get(f.name).map(_.bloom).getOrElse("")))
      })
    }.toMap
    // a part with no group row has zero visible rows: its key and
    // first-string records hold no value and no null, which prunes it
    // against any bound on them
    val tightened: Map[String, PartMeta] = parts.map { p =>
      p.path -> fresh.getOrElse(p.path, p.copy(cstats =
        schema.fields.filter(f => keepEmpty(f.name)).map { f =>
          f.name -> ColStat(if (f.dataType == StringType) 's' else 'l',
            null, null, 0L,
            if (f.dataType == LongType) Some(0L) else None)
        }.toMap))
    }.toMap
    // OPT-IN bloom rebuild (`rebuild_blooms => true`): blooms are
    // built over PHYSICAL values at write time, so after a delete they
    // stay supersets — sound but useless against deleted point
    // lookups the RANGE still admits. One extra pass per bloom column
    // (the key, plus each declared STRING column, ≤4): visible values
    // clustered per part, bitmap built on an executor, one hex string
    // per part to the driver — restores point-lookup skipping on the
    // survivors.
    val withBlooms: Map[String, PartMeta] =
      if (!rebuildBlooms) tightened
      else {
        import spark.implicits._
        def rebuild(vals: org.apache.spark.sql.Dataset[(String, Long)],
            nbits: Int): Map[String, String] =
          vals.groupByKey(_._1).mapGroups { (p, it) =>
            val bits = PartBloom.newBits(nbits)
            var n = 0L
            it.foreach { kv => PartBloom.add(bits, kv._2); n += 1 }
            (p, PartBloom.toHex(PartBloom.shrinkFor(bits, n)))
          }.collect().toMap
        def visible(c: String) = df
          .select(col(PartMetaColumn.Name).as("_p"), col(c).as("_v"))
          .where(col("_v").isNotNull)
        // the key filter is built at the default width; declared
        // STRING blooms honor the table's `graft.bloom_bits` (shrinkFor
        // caps at the ALLOCATED size, so allocating the default here
        // would silently shrink a declared 2^18 filter on rebuild)
        val bloomBitsN = ManifestSink.bloomBits(head.table.props)
        val keyBloom = schema.fields.find(_.dataType == LongType).map(f =>
          f.name -> rebuild(visible(f.name).as[(String, Long)],
            PartBloom.MaxBits))
        val strBlooms = ManifestSink.bloomCols(head.table.props).flatMap(c =>
          schema.fields.find(f => f.name.equalsIgnoreCase(c) &&
            f.dataType == StringType)).map(_.name).distinct.map(c =>
          c -> rebuild(visible(c).as[(String, String)]
            .map(kv => (kv._1, PartBloom.strKey(kv._2))), bloomBitsN))
        (keyBloom.toSeq ++ strBlooms).foldLeft(tightened) {
          case (acc, (c, rebuilt)) => acc.map { case (path, m) =>
            path -> m.copy(cstats = m.cstats.get(c).fold(m.cstats)(st =>
              m.cstats + (c -> st.copy(bloom = rebuilt.getOrElse(path, "")))))
          }
        }
      }
    // TABLE-LEVEL NDV per tracked column (one approx_count_distinct
    // pass over the same visible rows) into the table record's props:
    // the CBO's join-reorder food — distinct counts size join outputs
    // (JoinEstimation), which rowCount alone cannot. O(1) to read at
    // plan time via ManifestSource.columnStats; refreshed here like
    // every engine's ANALYZE-maintained catalog stats.
    var props = head.table.props
    locally {
      import org.apache.spark.sql.functions.approx_count_distinct
      val ndvRow = df.select(tracked.map { i =>
        approx_count_distinct(col(schema.fields(i).name)).as(s"ndv_$i")
      }: _*).head()
      val pairs = tracked.zipWithIndex.map { case (i, j) =>
        schema.fields(i).name -> ndvRow.getLong(j) }
      props += ManifestSink.NdvProp -> ManifestSink.encodeNdv(pairs)
    }
    // OPT-IN equi-depth histograms (`histograms => true`) per tracked
    // LONG column: the CBO's range-selectivity food — NDV + [min,max]
    // assume uniformity, so a skewed column makes `col > hot`
    // estimate the whole range (FilterEstimation reads per-bin ndv
    // from exactly this). Two extra mergeable passes over the visible
    // rows: quantile endpoints (GK sketch, two-phase), then per-bin
    // NDV over a stack-unpivot (one shuffle on (col, bin), ≤
    // cols × bins rows to the driver). Spark's own ANALYZE ...
    // FOR COLUMNS histogram.enabled pays the same two passes.
    if (histograms) {
      import org.apache.spark.sql.functions.{approx_count_distinct,
        count => fcount, lit => flit, percentile_approx, size => fsize,
        filter => ffilter, when => fwhen}
      val k = 16
      val longCols = tracked
        .filter(i => schema.fields(i).dataType == LongType)
        .map(i => schema.fields(i).name)
      if (longCols.nonEmpty) {
        val fracs = (0 to k).map(j => j.toDouble / k).toArray
        val pctRow = df.agg(
          percentile_approx(col(longCols.head), flit(fracs), flit(10000))
            .as("p_0"),
          longCols.tail.zipWithIndex.map { case (c, j) =>
            percentile_approx(col(c), flit(fracs), flit(10000))
              .as(s"p_${j + 1}")
          }: _*).head()
        val endpoints: Map[String, Seq[Long]] = longCols.zipWithIndex
          .collect { case (c, j) if !pctRow.isNullAt(j) =>
            c -> pctRow.getSeq[Long](j).toSeq
          }.toMap
        if (endpoints.nonEmpty) {
          val withEnds = longCols.filter(endpoints.contains)
          val stackExpr = s"stack(${withEnds.length}, " + withEnds
            .map(c => s"'${c.replace("'", "''")}', `$c`").mkString(", ") +
            ") AS (hc, hv)"
          // bin index = interior endpoints strictly below the value
          // (0-based; a heavy hitter repeated across endpoints lands
          // whole in its first bin, the rest stay lo==hi markers)
          val binned = df.selectExpr(stackExpr).where("hv IS NOT NULL")
            .select(col("hc"),
              withEnds.foldLeft(flit(null).cast("int")) { (acc, c) =>
                val interior = endpoints(c).slice(1, k)
                fwhen(col("hc") === c,
                  if (interior.isEmpty) flit(0)
                  else fsize(ffilter(flit(interior.toArray),
                    e => e < col("hv")))).otherwise(acc)
              }.as("bin"), col("hv"))
            .groupBy(col("hc"), col("bin"))
            .agg(approx_count_distinct(col("hv")).as("bndv"),
              fcount(flit(1)).as("bn"))
            .collect()
          val byCol = binned.groupBy(_.getString(0))
          val hists = withEnds.flatMap { c =>
            byCol.get(c).map { rows =>
              val ends = endpoints(c)
              val ndvOf = rows.map(r => r.getInt(1) -> r.getLong(2)).toMap
              val total = rows.map(_.getLong(3)).sum
              val bins = (0 until k).map { b =>
                (ends(b), ends(b + 1), math.max(1L, ndvOf.getOrElse(b, 0L)))
              }
              (c, total.toDouble / k, bins)
            }
          }
          if (hists.nonEmpty)
            props += ManifestSink.HistProp -> ManifestSink.encodeHist(hists)
        }
      }
    }
    // the stats commit carries the record with the new NDV/histogram
    // keys; a concurrent schema or record change conflicts (see
    // publishRebase)
    val v = ManifestSink.publishRebase(conf, dir,
      ps => ps.map(p => withBlooms.getOrElse(p.path, p)),
      HeaderChange.Restate(schema, cm, head.table.copy(props = props)),
      base = Some(base), footprint = Some(parts.map(_.path).toSet),
      op = "analyze")
    (withBlooms.size, v)
  }

  /** COMPACT DELETION VECTORS — the rewrite-data-files half of
    * OPTIMIZE, and the back end of the merge-on-read lifecycle
    * (delete → mask → compact → vacuum): rewrites EXACTLY the parts
    * carrying a vector (their visible rows copy into fresh parts, the
    * vectors disappear) and commits one snapshot; vector-free parts
    * carry forward by reference. After compaction reads stop paying
    * the per-row mask and the superseded files become vacuumable like
    * any COW leftovers. The rewrite reads the vectored parts through
    * the normal masking source (staged temp manifest, the
    * [[ManifestCow]] pattern), so "visible rows" has exactly one
    * definition in the codebase. Pinned to the base snapshot: a
    * commit racing the compaction fails IT loudly —
    * compaction is always safe to retry. Returns the number of parts
    * rewritten. */
  def compactVectors(spark: org.apache.spark.sql.SparkSession,
      dir: String): Int = {
    val conf = ManifestSink.driverConf()
    val base = ManifestLog(conf, dir).snapshot()
    val parts = base.parts
    // merge-on-read debt = deletion vectors AND pending equality-
    // delete clauses; both settle the same way (read masked, write
    // plain parts)
    val vectored = parts.filter(p => p.hasDv || p.eq.nonEmpty)
    if (vectored.isEmpty) return 0
    rewriteAndSwap(spark, conf, dir, base, vectored, identity)
    vectored.size
  }

  /** Result of one file-compaction run. */
  final case class CompactStats(
      partsBefore: Int, partsAfter: Int, version: Int)

  /** COMPACT DATA FILES — the bin-packing half of OPTIMIZE: every
    * data part of the head snapshot is rewritten into `targetParts`
    * files (range-clustered by `clusterBy` when given, so the
    * compacted layout is strictly better for the source's min/max
    * part pruning; hash-distributed otherwise) and published as ONE
    * new snapshot. Deletion-vector masks are applied during the
    * rewrite (the staged read goes through the normal masking
    * source), so the compacted parts are vector-free — compaction is
    * simultaneously small-file packing AND the MOR debt settlement.
    * Superseded files stay on disk for time travel; vacuum owns
    * their retirement.
    *
    * Commit shape matches [[compactVectors]]: pinned to the base
    * version with the base parts as conflict footprint, so an
    * interleaved APPEND composes via the head-aware rebase (its
    * parts carry into the compacted snapshot untouched) while a
    * racing rewrite of a base part conflicts loudly — compaction is
    * always safe to retry. At 100 TB this is the op that keeps "a
    * million tiny files" from becoming the scheduler's problem, and
    * it never touches the driver with row data: the rewrite is a
    * distributed read→write, the commit is a metadata swap. */
  def compactFiles(spark: org.apache.spark.sql.SparkSession, dir: String,
      targetParts: Int, clusterBy: Option[String] = None,
      zorder: Seq[String] = Nil,
      splitValue: Option[String] = None): CompactStats = {
    require(targetParts >= 1, s"target_parts must be >= 1, got $targetParts")
    val conf = ManifestSink.driverConf()
    require(zorder.isEmpty || clusterBy.forall(_.isEmpty),
      "compact: zorder and cluster_by are mutually exclusive")
    val base = ManifestLog(conf, dir).snapshot()
    val allParts = base.parts
    val spec = base.header.table.spec
    require(zorder.isEmpty || spec.layout.isEmpty,
      "compact: OPTIMIZE ZORDER requires an unpartitioned table layout " +
        "(a bucket/identity spec owns the row placement — CALL " +
        "set_layout(spec => 'none') first)")
    // PARTITION-SCOPED compaction (Delta `OPTIMIZE ... WHERE part =
    // v` / Iceberg rewrite_data_files(where)): only the named
    // identity partition's parts rewrite; every other part carries by
    // reference, so maintenance cost is O(hot partition), not
    // O(table) — at 100 TB you compact yesterday's partition, never
    // the archive. Selection uses the provably-single-value rule
    // `.files.split_value` reports; a mixed-generation straddler is
    // simply not selected (compaction is an optimization — migrate
    // stragglers with an unscoped compact).
    val parts = splitValue match {
      case None => allParts
      case Some(v) =>
        val sc = spec.layout.collect { case (0, c) => c }
          .getOrElse(throw new IllegalArgumentException(
            "compact: split_value scoping requires an " +
              "identity-partitioned table layout"))
        // time-transform layouts scope by the DERIVED ordinal (the
        // value SHOW PARTITIONS speaks): "compact yesterday's day"
        spec.transform match {
          case Some(tf) => allParts.filter(m => TimeSplit.partOrdinal(
            m.cstats.get(sc), m.rows, tf).map(_.toString).contains(v))
          case None => allParts.filter(m =>
            MetaTables.singleValue(m, sc).contains(v))
        }
    }
    if (parts.isEmpty) return CompactStats(0, 0, base.version)
    val layout: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      if (zorder.nonEmpty) zorderLayout(zorder, targetParts)
      else clusterBy.filter(_.nonEmpty) match {
        // comma-separated multi-column range clustering: lexicographic
        // layout on (c1, c2, …) — the composite-key twin of the
        // single-column case, so compound-filter workloads get
        // part-level pruning on the leading column and locality on
        // the rest
        case Some(c) => _.repartitionByRange(targetParts,
          c.split(',').map(_.trim).filter(_.nonEmpty)
            .map(org.apache.spark.sql.functions.col).toSeq: _*)
        case None => spec.orderBy match {
          // WRITE ORDERED BY tables: compaction restores the global
          // range layout (disjoint sorted parts → tight min/max
          // pruning) that interleaved appends may have blurred
          case Some(c) => _.repartitionByRange(targetParts,
            org.apache.spark.sql.functions.col(c))
            .sortWithinPartitions(org.apache.spark.sql.functions.col(c))
          case None => _.repartition(targetParts)
        }
      }
    val (rewritten, v) =
      rewriteAndSwap(spark, conf, dir, base, parts, layout,
        forcePlainLayout = zorder.nonEmpty,
        scopedSplitLayout = splitValue.isDefined)
    CompactStats(parts.size, rewritten.size, v)
  }

  /** OPTIMIZE ZORDER layout (Delta `OPTIMIZE … ZORDER BY` / Iceberg
    * `rewrite_data_files(strategy => 'sort', sort_order => 'zorder
    * (…)')`): scale each dimension to an 8-bit code against its
    * GLOBAL min/max (one tiny agg pass — maintenance-time cost, read-
    * time payoff), interleave the bits into a Morton key, then range-
    * partition + sort by the key. Each output file then owns one
    * contiguous z-range = a bounded TILE in k-dimensional space, so
    * the per-part ColStats min/max become tight on EVERY zorder
    * dimension at once — a 2-D predicate prunes parts on either
    * column, where a plain sort by one column leaves the other's
    * bounds spanning every file. The interleave itself is a pure
    * narrow map of shifts/masks (codegen'd, no extra shuffle beyond
    * the range exchange any re-layout pays).
    *
    * STRING dimensions get SAMPLED RANGE-IDS (the (domain, ts) /
    * (url_host, ts) corpus-layout pairs): one maintenance-time pass
    * ranks the dimension's distinct values into ≤256 rank buckets
    * whose upper bounds become the boundary table; each row's 8-bit
    * code is its rank among the boundaries (≤255 comparisons, pure
    * codegen'd map). The ids only STEER clustering — any boundary
    * set yields a correct layout (pruning reads the parts' true
    * string min/max, never the ids) — so at 100 TB the ranking pass
    * runs over a deterministic sample without any correctness cost. */
  private def zorderLayout(zcols: Seq[String], targetParts: Int)
      : org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    df => {
      require(zcols.forall(c => df.schema.fieldNames.contains(c)),
        s"zorder columns ${zcols.mkString(",")} must exist in " +
          s"${df.schema.fieldNames.mkString("(", ",", ")")}")
      val isStr = zcols.map(c =>
        df.schema(c).dataType == org.apache.spark.sql.types.StringType)
      // string dims: one ranking pass each over the distinct domain
      // (binary collation — the same order string-stats pruning uses).
      // The single-partition ntile window is BOUNDED first: a
      // high-cardinality domain (url hosts, digests) is cut to
      // ~64k values by a DETERMINISTIC hash-sample before ranking —
      // sound because the boundaries only steer clustering (pruning
      // reads the parts' true string min/max), so a sampled boundary
      // set costs tile balance, never correctness.
      val strBounds: Map[String, Array[String]] =
        zcols.zip(isStr).collect { case (c, true) =>
          val dist = df.select(col(c).as("v")).na.drop().distinct()
          val ndv = dist.agg(approx_count_distinct(col("v")))
            .head.getLong(0)
          val keep = math.max(1L, ndv / 65536L)
          val dom = if (keep > 1)
            dist.filter(pmod(xxhash64(col("v")), lit(keep)) === 0)
          else dist
          val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
          c -> dom
            .withColumn("t", ntile(256).over(w))
            .groupBy(col("t")).agg(max(col("v")).as("hi"))
            .orderBy(col("t")).collect().map(_.getString(1))
            .dropRight(1) // boundaries BETWEEN buckets (≤255)
        }.toMap
      // numeric/date dims: one driver-side row of global bounds
      val numCols = zcols.zip(isStr).collect { case (c, false) => c }
      val numBounds: Map[String, (Double, Double)] =
        if (numCols.isEmpty) Map.empty
        else {
          val aggs = numCols.flatMap(c => Seq(
            min(col(c).cast("double")).as(s"mn_$c"),
            max(col(c).cast("double")).as(s"mx_$c")))
          val r = df.agg(aggs.head, aggs.tail: _*).head()
          numCols.map { c =>
            def at(n: String): Double = {
              val i = r.fieldIndex(n)
              if (r.isNullAt(i)) 0.0 else r.getDouble(i)
            }
            c -> (at(s"mn_$c"), at(s"mx_$c"))
          }.toMap
        }
      val codes = zcols.map { c =>
        strBounds.get(c) match {
          case Some(bs) if bs.isEmpty =>
            // ≤1 distinct value: constant dimension, constant code
            lit(0)
          case Some(bs) =>
            // rank among the boundaries = #{b : v > b} ∈ [0, nb]
            // (O(256) codegen'd comparisons), then SPREAD across the
            // full byte — a low-cardinality domain must still occupy
            // the HIGH interleave bits, or the Morton tiles would
            // split only on the other dimensions. NULL rows cluster
            // with the low corner (prune-correct: stats ignore nulls)
            val rank = org.apache.spark.sql.functions.aggregate(
              array(bs.map(lit(_)): _*), lit(0),
              (acc, b) => acc + when(col(c) > b, 1).otherwise(0))
            coalesce((rank * lit(255) / lit(bs.length)).cast("int"),
              lit(0))
          case None =>
            // all-null dimension → bounds NULL → constant code 0;
            // row-level NULLs coalesce to 0 (cluster with the low
            // corner — any fixed tile is prune-correct)
            val (mn, mx) = numBounds(c)
            val span = math.max(mx - mn, java.lang.Double.MIN_NORMAL)
            coalesce(least(greatest(
              ((col(c).cast("double") - lit(mn)) / lit(span) * lit(255.999))
                .cast("int"), lit(0)), lit(255)), lit(0))
        }
      }
      val k = codes.size
      val zval = (0 until 8).flatMap { bit =>
        codes.zipWithIndex.map { case (code, i) =>
          shiftright(code, bit).bitwiseAND(lit(1)).cast("bigint") *
            lit(1L << (bit * k + (k - 1 - i)))
        }
      }.reduce(_ + _)
      df.withColumn("__graft_z", zval)
        .repartitionByRange(targetParts, col("__graft_z"))
        .sortWithinPartitions(col("__graft_z"))
        .drop("__graft_z")
    }
  }

  /** Shared rewrite machinery for [[compactVectors]] and
    * [[compactFiles]]: stage `selected` (vectors included — the
    * masking read defines the surviving rows) re-laid out by `layout`
    * through [[GraftStagedTable.stageRewrite]], and publish
    * `head − selected + rewritten` pinned to `base` with `selected`
    * as the conflict footprint. Returns the rewritten part
    * metas and the committed version. */
  private def rewriteAndSwap(spark: org.apache.spark.sql.SparkSession,
      conf: Configuration, dir: String, base: Snapshot,
      selected: Seq[PartMeta],
      layout: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      forcePlainLayout: Boolean = false,
      scopedSplitLayout: Boolean = false)
      : (Seq[PartMeta], Int) = {
    import org.apache.spark.sql.functions.{col, expr}
    val head = base.header
    val schema = head.schema
      .getOrElse(throw new IllegalStateException(s"no schema at $dir"))
    // HEAD-SPEC-TARGETING: compaction is the layout MIGRATOR. The
    // target layout is the base version's record spec — after
    // `set_layout` evolves the spec, the very next compact rewrites
    // mixed-generation parts into the new layout and SPJ re-arms.
    // Tables without a spec keep the parts' own recorded bucketing
    // (path-written bucketed tables stay bucket-preserving:
    // compaction settles MOR debt and packs small files WITHOUT
    // demoting the table out of storage-partitioned joins). A write
    // order is laid out by `layout` itself, at the target part count.
    val keyCol = schema.fields.find(
      _.dataType == org.apache.spark.sql.types.LongType).map(_.name)
    val spec =
      if (forcePlainLayout) TableSpec()
      else {
        val target = head.table.spec.copy(orderBy = None)
        val n = selected.headOption.fold(0)(_.nbuckets)
        if (target.layout.isEmpty && n > 0 && keyCol.isDefined &&
            selected.forall(_.nbuckets == n)) TableSpec(Some((n, keyCol.get)))
        else target
      }
    // no function catalog behind the rewrite: pre-cluster what the
    // staged write cannot ask Spark for. Buckets: one task per bucket,
    // key-sorted, so the compacted layout is one sorted file per
    // bucket and co-bucketed joins skip their sorts. Time splits: by
    // the DERIVED ordinal, ~one part per ordinal. Identity splits get
    // the write's own identity clustering; a partition-SCOPED rewrite
    // applies the requested layout first (the scope holds one value,
    // so repartition(target) IS the file-count control).
    val laidOut: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      (spec.layout, spec.transform) match {
        case (Some((n, k)), _) if n > 0 =>
          _.repartition(n, graft.functions.GraftBucket.bucketId(col(k), n))
            .sortWithinPartitions(col(k))
        case (Some((_, c)), Some(tf)) if !scopedSplitLayout =>
          _.repartition(expr(s"unix_micros(`$c`) div ${TimeSplit.unit(tf)}"))
        case (Some(_), _) if !scopedSplitLayout => identity
        case _ => layout
      }
    val rewritten = GraftStagedTable.stageRewrite(spark, dir, base, schema,
      selected, "_compact-", spec)(laidOut)
    // footprint = the parts this compaction replaces: an interleaved
    // append (or DML on an unselected part) composes via the
    // head-aware rebase; one that touched a selected part mid-
    // compaction conflicts loudly — compaction is always safe to
    // retry
    val selectedPaths = selected.map(_.path).toSet
    val v = ManifestSink.publishRebase(conf, dir,
      head => head.filterNot(p => selectedPaths.contains(p.path)) ++ rewritten,
      HeaderChange.Keep, base = Some(base), footprint = Some(selectedPaths),
      op = "optimize")
    (rewritten, v)
  }

  /** Default orphan grace: a never-referenced staged file younger than
    * this survives vacuum (Iceberg's remove-orphans defaults to 3 days
    * for the same reason — see below). */
  val DefaultOrphanGraceMs: Long = 24L * 3600 * 1000

  /** RESTORE (Delta `RESTORE TABLE` / Iceberg rollback): re-commit
    * snapshot `version`'s schema and part list as a NEW head version.
    * History stays append-only — the rollback itself is
    * time-travelable, the rolled-back-over snapshots remain readable
    * until expired, and data files are referenced, never copied; the
    * commit rides the same optimistic-concurrency claim as any other.
    * A restore intentionally publishes a FIXED part list (no rebase):
    * "head becomes snapshot v" is the whole command, so a concurrent
    * commit landing mid-restore is superseded by design — it stays
    * readable in history like everything else the restore rolls over.
    * Returns the new head version. */
  def restore(conf: Configuration, dir: String, version: Int): Int = {
    // schema, column mapping and table record travel together: the
    // restored head is the old snapshot verbatim, never a derivation
    // from the current head (which may have renamed/dropped since)
    republish(conf, dir, ManifestLog(conf, dir).snapshot(Ref.At(version)),
      s"no snapshot $version at $dir", "restore")
  }

  /** FAST-FORWARD the main line to a branch head — the publish step of
    * write-audit-publish: a pipeline stages its commits on a branch
    * (`option("branch", "audit")`), a validation job reads the branch
    * and runs its quality gates, and only this call makes the audited
    * snapshot visible to main readers. Metadata-only: the new main
    * version references the branch head's schema and part list (the
    * part files were staged in the table directory all along); the
    * commit rides the normal optimistic claim, so a racing main commit
    * simply advances the version this publish lands on. Fails loudly
    * on a branch with no commits — publishing "nothing" silently would
    * hide a broken staging pipeline. Returns the new main version. */
  def fastForward(conf: Configuration, dir: String, branch: String): Int = {
    val log = ManifestLog(conf, dir)
    require(log.branchVersions(branch).nonEmpty,
      s"branch '$branch' has no commits at $dir — nothing to publish")
    republish(conf, dir, log.snapshot(Ref.Branch(branch)),
      s"branch '$branch' at $dir has no schema header", "publish")
  }

  /** Publish `snap` verbatim — parts, schema, mapping and record — as
    * the next main version. */
  private def republish(conf: Configuration, dir: String, snap: Snapshot,
      noSchema: String, op: String): Int = {
    val (schema, cm) = snap.header.schemaCm.getOrElse(
      throw new IllegalArgumentException(noSchema))
    ManifestSink.publishRebase(conf, dir, _ => snap.parts,
      HeaderChange.Restate(schema, cm, snap.header.table), op = op)
  }

  /** Result of one cherry-pick: the new main version, plus what the
    * picked delta contained. */
  final case class CherrypickStats(
      version: Int, partsAdded: Int, rowsAdded: Long)

  /** CHERRY-PICK one branch snapshot's APPEND delta onto the CURRENT
    * main head (Iceberg's `cherrypick_snapshot` / `publish_changes`) —
    * the WAP publish for when main has ADVANCED since the fork:
    * fast-forward would replace main wholesale and silently drop the
    * interleaved commits; cherry-pick re-applies only the parts the
    * branch snapshot ADDED, as a fresh commit on today's head.
    *
    * Safety contract (all refusals loud, spec-pinned):
    *  - only PURE-APPEND snapshots cherry-pick: a branch snapshot that
    *    dropped or restated any pre-existing line (branch DML, branch
    *    compaction) refuses — its delta is not expressible as an
    *    append onto a different base;
    *  - the delta base is the PREVIOUS branch snapshot when one
    *    exists; the branch's FIRST snapshot uses the fork version its
    *    commit RECORDED on the branch v1 manifest (exact, including a
    *    genuinely-empty fork base). Legacy branches without a
    *    recorded fork reconstruct it from the immutable main version
    *    log — the newest NON-EMPTY main snapshot whose every part
    *    line survives BIT-IDENTICAL inside the picked snapshot (empty
    *    snapshots are vacuously "contained" and would mask a branch
    *    commit that rewrote fork parts, so they never qualify — a
    *    legacy branch genuinely forked from empty refuses rather than
    *    risk a silent duplicate publish). No qualifying version (fork
    *    expired, fork parts rewritten, legacy empty fork) refuses; an
    *    older-than-fork false match is caught by the already-on-main
    *    guard below;
    *  - schema and column mapping must match main's EXACTLY (a
    *    diverged DDL cannot re-base silently);
    *  - a delta part already on main refuses (double-publish guard).
    *
    * Metadata-only: the staged part files have lived in the table
    * directory since the branch write; the pick is one manifest
    * commit riding the normal optimistic claim — O(parts) driver
    * work at any table size. */
  def cherrypick(conf: Configuration, dir: String, branch: String,
      version: Int = -1): CherrypickStats = {
    val log = ManifestLog(conf, dir)
    val bvs = log.branchVersions(branch)
    require(bvs.nonEmpty,
      s"branch '$branch' has no commits at $dir — nothing to cherry-pick")
    val v = if (version == -1) bvs.last else version
    require(bvs.contains(v),
      s"branch '$branch' has no snapshot $v at $dir " +
        s"(has: ${bvs.mkString(", ")})")
    val pickedSnap = log.snapshot(Ref.Branch(branch, Some(v)))
    val picked = pickedSnap.parts
    val (bSchema, bCm) = pickedSnap.header.schemaCm
      .getOrElse(throw new IllegalStateException(
        s"branch '$branch' snapshot $v at $dir has no schema header"))
    val (mSchema, mCm) = log.snapshot().header.schemaCm
      .getOrElse(throw new IllegalStateException(
        s"table $dir has no main schema header"))
    require(bSchema.toDDL == mSchema.toDDL && bCm == mCm,
      s"cherry-pick refused: branch '$branch' schema/column-mapping " +
        s"diverged from main at $dir — fast_forward or re-stage instead")
    val pickedByPath = picked.map(p => p.path -> p).toMap
    val prev: Seq[PartMeta] = bvs.filter(_ < v).lastOption match {
      case Some(pv) => log.snapshot(Ref.Branch(branch, Some(pv))).parts
      // the picked snapshot is the branch's first: it recorded its fork
      case None => pickedSnap.header.fork match {
        // RECORDED FORK (branch v1 carries the main version it forked
        // from): the exact base, no reconstruction — the pure-append
        // proof below is then the sole (and sufficient) guard against
        // branch commits that dropped or rewrote fork parts. fork=0
        // means main had no version files at fork time: a genuinely
        // empty base, which main version 0 reads as.
        case Some(f) => log.snapshot(Ref.At(f)).parts
        case None =>
          // LEGACY FORK-POINT RECONSTRUCTION (branches committed before
          // fork recording): main version manifests are immutable, so
          // the fork is the NEWEST main version every one of whose part
          // lines survives bit-identical in the picked snapshot. A main
          // version newer than the fork contains post-fork parts the
          // branch never saw (not contained); an accidental older match
          // only widens `delta` with parts already on main — refused by
          // the dup guard below. EMPTY main snapshots are NOT
          // candidates: every catalog table's schema-only birth
          // snapshot (and any post-TRUNCATE snapshot) is vacuously
          // "contained", which would collapse the base to empty and let
          // a branch commit that rewrote fork parts publish duplicate
          // rows silently (the dup guard is path-based and rewritten
          // parts carry new paths). A legacy branch genuinely forked
          // from empty is indistinguishable from that corruption case,
          // so it refuses too — re-stage or fast_forward.
          log.versions.reverse.map(m => log.snapshot(Ref.At(m)).parts)
            .find(ps => ps.nonEmpty &&
              ps.forall(p => pickedByPath.get(p.path).contains(p)))
            .getOrElse(throw new IllegalArgumentException(
              s"cherry-pick refused: no non-empty main snapshot of $dir " +
                s"is contained in branch '$branch' snapshot $v — the " +
                "fork point expired, the branch commit rewrote fork " +
                "parts, or this legacy branch (no recorded fork " +
                "version) forked from an empty main; fast_forward or " +
                "re-stage instead"))
      }
    }
    val prevByPath = prev.map(p => p.path -> p).toMap
    val delta = picked.filterNot(p => prevByPath.contains(p.path))
    // pure-append proof: every non-delta line of the picked snapshot
    // must be bit-identical to its base record — a dropped, rewritten
    // or re-vectored line means this snapshot is not an append
    val restated = picked.filter(p =>
      prevByPath.get(p.path).exists(_ != p))
    val dropped = prev.filterNot(p => picked.exists(_.path == p.path))
    require(restated.isEmpty && dropped.isEmpty,
      s"cherry-pick refused: branch '$branch' snapshot $v is not a " +
        s"pure append over its base (${restated.size} restated, " +
        s"${dropped.size} dropped part lines) — fast_forward or " +
        "compact instead")
    require(delta.nonEmpty,
      s"cherry-pick refused: branch '$branch' snapshot $v adds no " +
        s"parts over its base at $dir")
    // the pick lands on main's header as of its claim (a column main
    // gained since the check above stays)
    val newVersion = ManifestSink.publishRebase(conf, dir,
      rebase = head => {
        val headPaths = head.map(_.path).toSet
        val dup = delta.filter(p => headPaths(p.path))
        require(dup.isEmpty,
          s"cherry-pick refused: ${dup.size} delta part(s) already " +
            s"committed on main at $dir (double publish?)")
        head ++ delta
      },
      HeaderChange.Keep, op = "cherrypick")
    CherrypickStats(newVersion, delta.size, delta.map(_.rows).sum)
  }

  /** Drop a branch's version files (post-publish cleanup, or abandoning
    * a failed audit). Data files the branch staged stay until vacuum
    * decides they are unreferenced. Returns the number of version
    * files removed. */
  def dropBranch(conf: Configuration, dir: String, branch: String): Int =
    ManifestLog(conf, dir).dropBranch(branch)

  /** Expire all but the newest `keepLast` snapshot versions at `dir`,
    * then delete every `part-*` data file no retained manifest
    * references.
    *
    * Unreferenced files split into two safety classes:
    *  - files listed by an EXPIRED manifest were committed — their
    *    only readers (the expired snapshots) are gone, so they are
    *    reclaimed unconditionally;
    *  - files listed by NO manifest at all are either crash debris or
    *    the staged-but-not-yet-committed parts of an IN-FLIGHT write
    *    (part names carry a per-commit token, so a concurrent commit's
    *    stage is invisible to every manifest until it publishes).
    *    Deleting those eagerly would let vacuum race a live writer and
    *    publish a manifest pointing at deleted files, so true orphans
    *    are only reclaimed once older than `orphanGraceMs` — the same
    *    age gate Iceberg/Delta apply to orphan cleanup. */
  def expireSnapshots(conf: Configuration, dir: String, keepLast: Int,
      orphanGraceMs: Long = DefaultOrphanGraceMs,
      dryRun: Boolean = false,
      olderThanMs: Option[Long] = None): ExpireStats = {
    require(keepLast >= 1, "must retain at least the head snapshot")
    val fs = new Path(dir).getFileSystem(conf)
    // ONE listing serves the versions, the tag pins and the orphan sweep
    val log = ManifestLog(conf, dir)
    val versions = log.versions
    // a TAG is a promise its snapshot stays readable: tagged versions
    // are pulled out of the expiry set regardless of age (drop the
    // tag to release the pin — Iceberg tag semantics)
    val tagged: Set[Int] = log.tags.values.toSet
    val (old, newest) =
      versions.splitAt(math.max(0, versions.length - keepLast))
    // TIME-BASED retention (`older_than => timestamp`, Iceberg's
    // expire_snapshots shape): only snapshots COMMITTED before the
    // cutoff expire — a version file is immutable once claimed, so
    // its mtime IS the commit time (same clock SQL `TIMESTAMP AS OF`
    // resolves against). Composes with keep_last (the newest
    // keep_last survive regardless of age) and tag pins; a cutoff in
    // the future degenerates to pure keep_last retention.
    def committedBefore(v: Int): Boolean =
      olderThanMs.forall(log.commitTime(v) < _)
    val expire = old.filterNot(tagged.contains).filter(committedBefore)
    val retain = versions.filterNot(expire.contains)

    // files a snapshot references: its data parts AND any deletion-
    // vector sidecars its parts point at — a sidecar is as load-
    // bearing as the part it masks (deleting one un-deletes rows)
    def refs(metas: Seq[PartMeta]): Seq[String] =
      metas.flatMap(m =>
        new Path(m.path).getName +:
          (if (m.dvRef.isEmpty) Nil else Seq(new Path(m.dvRef).getName)))
    // set of files any retained snapshot (or the head) references —
    // plus every live BRANCH head's parts: a staged-but-unpublished
    // audit branch references files no main snapshot lists yet, and
    // vacuuming them would corrupt the branch before its publish
    val branchRefs: Seq[String] = log.branches.flatMap(b =>
      log.branchVersions(b).flatMap(v =>
        refs(log.snapshot(Ref.Branch(b, Some(v))).parts)))
    val referenced: Set[String] =
      ((retain :+ log.head).flatMap(v => refs(log.snapshot(Ref.At(v)).parts)) ++
        branchRefs).toSet
    // files the expired snapshots committed — read BEFORE deleting them
    val expiredRefs: Set[String] =
      expire.flatMap(v => refs(log.snapshot(Ref.At(v)).parts)).toSet

    // DRY RUN: report exactly what a real run would do — versions it
    // would expire, files it would reclaim — touching NOTHING. The
    // operational "how much does this retention policy buy, and does
    // it eat anything a reader still needs?" question answered before
    // committing to it.
    if (!dryRun) expire.foreach(log.expire)

    val now = System.currentTimeMillis()
    var deleted = 0
    log.listing.foreach { st =>
      val name = st.getPath.getName
      val reclaimable =
        name.startsWith("part-") ||
          (name.startsWith(DeleteVector.SidecarPrefix) && name.endsWith(".hex"))
      // crashed-maintenance DEBRIS: compaction / REPLACE WHERE / MV-
      // refresh staging directories are deleted by their own finally
      // blocks, so one still present is a crash leftover — reclaimable
      // once past the same grace gate. The gate is the NEWEST mtime
      // among the dir's children, not the dir's own (which only moves
      // on entry create/delete): a live compaction or MV refresh legitimately
      // running longer than a caller-shortened grace keeps touching
      // its staged files, and must not lose its stage mid-run.
      def liveliest(p: Path, own: Long): Long =
        try {
          val kids = fs.listStatus(p)
          if (kids.isEmpty) own
          else math.max(own, kids.map(_.getModificationTime).max)
        } catch {
          case scala.util.control.NonFatal(_) => now // racing: not stale
        }
      val staleTmpDir = st.isDirectory &&
        Seq("_compact-", "_cow-", "_mv-").exists(name.startsWith) &&
        now - liveliest(st.getPath, st.getModificationTime) > orphanGraceMs
      if (reclaimable && !referenced.contains(name) &&
          (expiredRefs.contains(name) ||
            now - st.getModificationTime > orphanGraceMs)) {
        if (dryRun) deleted += 1
        else if (fs.delete(st.getPath, false)) deleted += 1
      } else if (staleTmpDir) {
        if (dryRun) deleted += 1
        else if (fs.delete(st.getPath, true)) deleted += 1
      }
    }
    ExpireStats(expire.length, deleted, retain.length)
  }
}
