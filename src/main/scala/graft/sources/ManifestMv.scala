package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.util.Pin.PinOps

/** MATERIALIZED VIEWS with INCREMENTAL refresh over the manifest
  * format — the warehouse answer to "this rollup is asked a thousand
  * times a day over a table that changes a little": materialize the
  * keyed aggregate once, then bring it forward by folding each
  * refresh's SNAPSHOT DELTA instead of rescanning the source
  * (generalizing the q_mv_maintain algebra into a catalog-managed
  * lifecycle: `CALL cat.system.create_mv(...)` / `refresh_mv(...)`).
  *
  * The delta is computed from the snapshot algebra alone — no CDC
  * files, no log replay: between the last-refreshed source version
  * and the head,
  *   - parts only in the NEW snapshot contribute +rows (reads apply
  *     their current deletion vector),
  *   - parts only in the OLD snapshot contribute −rows (reads apply
  *     the OLD vector),
  *   - parts in BOTH whose deletion vector changed are restated:
  *     −old visible rows, +new visible rows (net = exactly the
  *     newly-masked rows).
  * That one rule covers EVERY mutation the format can express —
  * appends, COW deletes/updates, MOR vector commits, REPLACE WHERE,
  * truncate, restore — and compaction nets to zero by construction
  * (same rows, different parts). Both sides read by REFERENCE
  * through staged temp manifests (the ManifestCow staging trick):
  * no data is copied to compute a delta, and the fold costs
  * O(changed parts) + O(groups), never O(table).
  *
  * Counts are BIGINT and sums DECIMAL, so partial aggregation is
  * ASSOCIATIVE: incremental == full-recompute bit-for-bit at any
  * partitioning — the property that makes MV maintenance auditable
  * (MvSpec pins it after every mutation kind; the oracle-gated
  * q_mv_refresh restates the lifecycle end to end).
  *
  * Crash safety: the definition and the source (and dim) watermark
  * ride the MV's own version header ([[TableRecord]]`.mv`), so the
  * rows and the watermark describing them publish in ONE claim — a
  * crashed refresh leaves the previous head and its watermark intact
  * (the staged parts are orphans vacuum reclaims). A refresh folds
  * against the MV head snapshot it read and pins its commit to it: a
  * refresh that loses a race to another fails loudly instead of
  * publishing a stale watermark. MV maintenance (compaction, expiry)
  * carries the record forward like any table's. Expiring source
  * snapshots below the watermark fails the next refresh loudly (same
  * contract as the change feed across expired history); refresh more
  * often than you vacuum.
  */
private[sources] object ManifestMv {

  /** The pinned lgConfigK of every MV-maintained HLL sketch: routing
    * substitutes a query's `hll_sketch_agg(c)` with the stored sketch
    * ONLY when the query's lgConfigK equals the maintained one — a
    * different-precision sketch is a different answer. 12 is Spark's
    * own function default, so the spelling users type routes. */
  val NdvLgK = 12

  /** JOIN-shaped MV descriptor: the fact⋈dim half of an MV whose
    * defining query is `SELECT <keyCol(dim attr)>, count(*), sum(…)
    * FROM fact JOIN dim ON fact.fk = dim.dimKey GROUP BY 1`.
    * `dimVersion` is the dim snapshot the stored state was computed
    * against: fact deltas refresh FK-LOCALLY (delta ⋈ broadcast dim),
    * a moved dim head triggers the honest full recompute. */
  final case class MvJoin(dimSource: String, fk: String,
      dimKey: String, dimVersion: Int)

  final case class MvMeta(source: String, keyCol: String, sumCol: String,
      scale: Int, sourceVersion: Int,
      mmCol: Option[String] = None, ndvCol: Option[String] = None,
      join: Option[MvJoin] = None,
      /** EXPRESSION-KEYED (time-grain) MV: the defining derived-key
        * SQL (`date_trunc('day', ts)`) paired with the session
        * timezone it was materialized under — [[MvRewrite]] matches
        * the user's own date_trunc spelling STRUCTURALLY and declines
        * under any other grain, column, or session timezone (a
        * different tz truncates to different instants — a different
        * answer). keyCol is then the STORED key's column name. */
      keyExpr: Option[String] = None,
      keyTz: Option[String] = None) {
    /** MULTI-KEY grouping: `keyCol` is a comma-separated column list
      * (a column name containing a literal comma is rejected at
      * create). Single-key MVs are the 1-element case. */
    def keys: Seq[String] = keyCol.split(',').map(_.trim).filter(_.nonEmpty)
  }

  final case class RefreshStats(fromVersion: Int, toVersion: Int,
      plusParts: Int, minusParts: Int, groups: Long)

  /** The defining rollup: per-key exact (count, decimal sum). The sum
    * is pinned to the CANONICAL type DECIMAL(38, scale) — Spark's own
    * result type for sum over DECIMAL(30, scale) — so the MV schema
    * is identical at create and after every refresh (the merge below
    * re-pins it), and [[MvRewrite]]'s exact-type substitution guard
    * holds across the MV's whole lifecycle. */
  private def rollup(df: DataFrame, keyCol: String, sumCol: String,
      scale: Int, mmCol: Option[String] = None,
      ndvCol: Option[String] = None,
      keyExpr: Option[String] = None): DataFrame = {
    val aggs = Seq(count(lit(1)).as("n_rows"),
      sum(col(sumCol).cast(DecimalType(30, scale)))
        .cast(DecimalType(38, scale)).as("sum_value")) ++
      // optional MIN/MAX legs: exact in the group's own type — no
      // cast, so MV == recompute is bit-identity, not approximation
      mmCol.toSeq.flatMap(c =>
        Seq(min(col(c)).as("min_value"), max(col(c)).as("max_value"))) ++
      // optional APPROX-DISTINCT leg: a DataSketches HLL sketch per
      // group at the pinned lgConfigK. The HLL register state is a
      // pure per-register MAX over hashed inputs, so the union of
      // per-delta sketches covers exactly the union's registers: in
      // sparse mode estimates are exact and maintained == recompute
      // identically (MvSpec pins it); in dense mode DataSketches
      // estimates are merge-lineage-dependent (HIP vs composite
      // estimator), so the cross-lineage contract is closeness
      // within the sketch's error (q_mv_distinct gates 2% vs a
      // direct recompute, 5% vs exact); like MIN/MAX the
      // sketch folds under appends only, minus-side groups recompute
      ndvCol.toSeq.map(c => hll_sketch_agg(col(c), NdvLgK).as("ndv_sketch"))
    keyExpr match {
      // derived time-grain key: group by the expression, stored under
      // the single declared key name — the fold machinery then works
      // by-name exactly like a physical key column
      case Some(ke) => df.groupBy(expr(ke).as(keyCol))
        .agg(aggs.head, aggs.tail: _*)
      case None =>
        val keys = keyCol.split(',').map(_.trim).filter(_.nonEmpty)
        df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    }
  }

  /** PUBLISH `rows` as the MV's whole content with its record `m` in
    * one commit: the rollup stages through the CTAS staged write
    * ([[GraftStagedTable.stage]]), then one claim lists the parts and
    * carries the definition and watermark. A refresh pins `base`, the
    * MV head it folded against, and keeps the rest of its record (an
    * ALTER's properties). Returns the MV's group count.
    *
    * No forced repartition: the rollup/fold output arrives already
    * exchange-partitioned by the grouping keys and AQE-coalesced to
    * size — a fixed `repartition(4)` here (removed, optimization r20)
    * added one full exchange to EVERY create and refresh and pinned
    * the file count to a constant that is wrong in both directions
    * (4 tiny files locally, 4 giant files at scale). */
  private def publish(rows: DataFrame, mvDir: String, m: MvMeta,
      base: Option[Snapshot], op: String): Long = {
    val record = base.fold(TableRecord())(_.header.table).copy(mv = Some(m))
    val parts = GraftStagedTable.stage(rows.sparkSession, mvDir, rows,
      record.spec, onto = Some(ManifestHeader(table = record)))
    ManifestSink.publishRebase(ManifestSink.driverConf(), mvDir, _ => parts,
      HeaderChange.Restate(rows.schema, ColMap.identity(rows.schema.length),
        record),
      base = base, op = op)
    parts.map(_.rows).sum
  }

  /** The accepted derived-key shape: `date_trunc('<grain>', <col>)`.
    * Grains are the calendar set both the engine and the oracle
    * truncate identically; the column must be a TIMESTAMP of the
    * source. */
  private[sources] val KeyExprRe =
    """(?i)^date_trunc\(\s*'([A-Za-z]+)'\s*,\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)$""".r
  private val Grains = Set("year", "quarter", "month", "week", "day",
    "hour", "minute")
  private[sources] def parseKeyExpr(e: String): Option[(String, String)] =
    e.trim match {
      case KeyExprRe(g, c) if Grains.contains(
        g.toLowerCase(java.util.Locale.ROOT)) =>
        Some((g.toLowerCase(java.util.Locale.ROOT), c))
      case _ => None
    }

  def create(spark: SparkSession, mvDir: String, sourceDir: String,
      keyCol: String, sumCol: String, scale: Int,
      mmCol: Option[String] = None,
      ndvCol: Option[String] = None,
      keyExpr: Option[String] = None): (Int, Long) = {
    val conf = ManifestSink.driverConf()
    val srcVersion = ManifestLog(conf, sourceDir).versions.lastOption
      .getOrElse(throw new IllegalArgumentException(
        s"create_mv: source $sourceDir has no committed snapshot " +
          "(MVs track the snapshot log)"))
    val src = readAt(spark, sourceDir, srcVersion)
    keyExpr.foreach { ke =>
      // EXPRESSION-KEYED (time-grain) MV: the rollup groups by the
      // derived truncation — count + exact decimal sum only (the
      // min/max/sketch legs would need a group-scoped rescan keyed by
      // an expression the source has no column for)
      require(mmCol.isEmpty && ndvCol.isEmpty,
        "create_mv: key_expr composes with count/sum only " +
          "(no minmax_col/distinct_col)")
      val (_, c) = parseKeyExpr(ke).getOrElse(throw
        new IllegalArgumentException(
          s"create_mv: key_expr must be date_trunc('<grain>', <col>) " +
            s"with grain in ${Grains.toSeq.sorted.mkString("/")}, got '$ke'"))
      require(src.schema.fields.exists(f => f.name == c &&
        f.dataType == org.apache.spark.sql.types.TimestampType),
        s"create_mv: key_expr column '$c' must be a TIMESTAMP column of " +
          src.schema.fieldNames.mkString("(", ",", ")"))
    }
    val keys = keyCol.split(',').map(_.trim).filter(_.nonEmpty)
    require(keys.nonEmpty, "create_mv: key_col must name at least one column")
    require((keyExpr.isDefined || keys.forall(src.schema.fieldNames.contains)) &&
      src.schema.fieldNames.contains(sumCol),
      s"create_mv: source lacks '$keyCol'/'$sumCol' " +
        src.schema.fieldNames.mkString("(", ",", ")"))
    // a source column whose NAME contains a comma would mis-split the
    // key list — the forall-contains check above already rejects it
    require(keys.distinct.size == keys.size,
      s"create_mv: duplicate grouping column in '$keyCol'")
    mmCol.foreach { c =>
      require(src.schema.fields.exists(f => f.name == c &&
        f.dataType == org.apache.spark.sql.types.LongType),
        s"create_mv: minmax_col '$c' must be a BIGINT column of " +
          src.schema.fieldNames.mkString("(", ",", ")"))
    }
    ndvCol.foreach { c =>
      import org.apache.spark.sql.types.{LongType, StringType}
      require(src.schema.fields.exists(f => f.name == c &&
        (f.dataType == LongType || f.dataType == StringType)),
        s"create_mv: distinct_col '$c' must be a BIGINT or STRING " +
          "column of " + src.schema.fieldNames.mkString("(", ",", ")"))
    }
    (srcVersion, publish(
      rollup(src, keyCol, sumCol, scale, mmCol, ndvCol, keyExpr), mvDir,
      MvMeta(sourceDir, keyCol, sumCol, scale, srcVersion, mmCol, ndvCol,
        keyExpr = keyExpr,
        keyTz = keyExpr.map(_ =>
          spark.sessionState.conf.sessionLocalTimeZone)),
      base = None, "create-mv"))
  }

  /** Version `v` of the table at `dir`. */
  private[sources] def readAt(spark: SparkSession, dir: String,
      v: Int): DataFrame = spark.read.format("graft.sources.ManifestSource")
    .option("path", dir).option("version", v.toString).load()

  /** The pinned broadcast dim side of a join MV. */
  private def dimSide(spark: SparkSession, j: MvJoin,
      version: Int): DataFrame = broadcast(readAt(spark, j.dimSource, version))

  /** JOIN-shaped MV: materialize `fact ⋈ dim GROUP BY <dim attr>`
    * (count + exact decimal sum). `keyCol` is the DIM attribute the
    * rollup groups by; `fk`/`dimKey` are the equi-join columns.
    * Incremental refresh is FK-LOCAL: a fact delta joins only the
    * BROADCAST dim (pinned at the recorded dim version) — the fact
    * table is never rescanned; a moved dim head triggers the honest
    * full recompute (dim changes re-attribute arbitrarily many fact
    * rows, there is no local delta). At 100 TB this is the classic
    * star-schema MV: the dim is MBs, the fact is the 100 TB side,
    * and maintenance cost is O(fact delta). */
  def createJoin(spark: SparkSession, mvDir: String, factDir: String,
      dimDir: String, fk: String, dimKey: String, keyCol: String,
      sumCol: String, scale: Int): (Int, Long) = {
    val conf = ManifestSink.driverConf()
    def headOf(d: String, what: String): Int =
      ManifestLog(conf, d).versions.lastOption.getOrElse(
        throw new IllegalArgumentException(
          s"create_mv: $what $d has no committed snapshot"))
    val srcVersion = headOf(factDir, "fact source")
    val dimVersion = headOf(dimDir, "dim source")
    val fact = readAt(spark, factDir, srcVersion)
    val dim = readAt(spark, dimDir, dimVersion)
    require(fact.schema.fieldNames.contains(fk) &&
      fact.schema.fieldNames.contains(sumCol),
      s"create_mv: fact lacks '$fk'/'$sumCol'")
    require(dim.schema.fieldNames.contains(dimKey) &&
      dim.schema.fieldNames.contains(keyCol),
      s"create_mv: dim lacks '$dimKey'/'$keyCol'")
    // name-level joins/groupBys below need unambiguous resolution
    require(fk != dimKey, "create_mv: join columns must differ by name")
    require(!fact.schema.fieldNames.contains(keyCol),
      s"create_mv: key_col '$keyCol' must be dim-only")
    val joined = fact.join(
      org.apache.spark.sql.functions.broadcast(dim),
      col(fk) === col(dimKey))
    (srcVersion, publish(rollup(joined, keyCol, sumCol, scale), mvDir,
      MvMeta(factDir, keyCol, sumCol, scale, srcVersion,
        join = Some(MvJoin(dimDir, fk, dimKey, dimVersion))),
      base = None, "create-mv"))
  }

  def refresh(spark: SparkSession, mvDir: String): RefreshStats = {
    val conf = ManifestSink.driverConf()
    // the MV head this refresh folds against and pins its commit to
    val mvSnap = ManifestLog(conf, mvDir).snapshot()
    val m = mvSnap.header.table.mv.getOrElse(throw
      new IllegalArgumentException(s"no materialized view at $mvDir"))
    // a time-grain MV's derived key truncates in the SESSION timezone
    // it was created under — folding a delta computed under another
    // tz would merge different instants into one group
    m.keyExpr.foreach { _ =>
      val cur = spark.sessionState.conf.sessionLocalTimeZone
      require(m.keyTz.forall(_ == cur),
        s"refresh_mv: time-grain MV was materialized under session " +
          s"timezone ${m.keyTz.getOrElse("?")}, current is $cur — " +
          "refresh under the creating timezone")
    }
    val srcLog = ManifestLog(conf, m.source)
    val head = srcLog.head
    // a MOVED DIM re-attributes arbitrarily many fact rows: no local
    // delta exists, so the join MV recomputes fully (documented; the
    // dim is the broadcast-small side, the cost driver stays the fact
    // scan — exactly what a create paid)
    m.join.foreach { j =>
      val dimHead = ManifestLog(conf, j.dimSource).head
      if (dimHead != j.dimVersion) {
        val fact = readAt(spark, m.source, head)
        return RefreshStats(m.sourceVersion, head, -1, -1, publish(
          rollup(fact.join(dimSide(spark, j, dimHead),
            col(j.fk) === col(j.dimKey)), m.keyCol, m.sumCol, m.scale),
          mvDir, m.copy(sourceVersion = head,
            join = Some(j.copy(dimVersion = dimHead))),
          Some(mvSnap), "refresh-mv"))
      }
    }
    if (head == m.sourceVersion)
      return RefreshStats(m.sourceVersion, head, 0, 0,
        mvSnap.parts.map(_.rows).sum)

    val oldParts = srcLog.snapshot(Ref.At(m.sourceVersion)).parts
      .map(p => p.path -> p).toMap
    val headSnap = srcLog.snapshot(Ref.At(head))
    val newParts = headSnap.parts.map(p => p.path -> p).toMap
    // an EQUALITY-DELETE clause change is a restatement exactly like
    // a vector change: minus the old line's rows, plus the new
    // (eq-masked) read — the snapshot algebra needs no special case
    def vectorChanged(a: PartMeta, b: PartMeta): Boolean =
      a.dvRef != b.dvRef || a.eq != b.eq
    // plus = new-only parts + new state of vector-changed parts;
    // minus = old-only parts + OLD state of vector-changed parts
    val plus = newParts.valuesIterator.filter(p =>
      oldParts.get(p.path).forall(o => vectorChanged(o, p))).toSeq
    val minus = oldParts.valuesIterator.filter(p =>
      newParts.get(p.path).forall(n => vectorChanged(p, n))).toSeq

    val schema = headSnap.schema.get
    val fs = new Path(mvDir).getFileSystem(conf)
    val token = java.util.UUID.randomUUID().toString.take(8)
    val tmpPlus = s"$mvDir/_mv-plus-$token"
    val tmpMinus = s"$mvDir/_mv-minus-$token"
    try {
      def side(tmp: String, parts: Seq[PartMeta]): DataFrame = {
        // stage a read by REFERENCE (absolute paths, no data copied);
        // an empty side still needs the rollup's shape
        ManifestSink.publishReadCopy(conf, tmp, headSnap, schema, parts)
        val base = spark.read.format("graft.sources.ManifestSource")
          .option("path", tmp).load()
        // FK-LOCAL join-MV delta: the fact slice joins only the
        // BROADCAST dim pinned at the recorded version — dim
        // stability was verified above, so delta attribution is
        // exactly the stored state's
        val joined = m.join.fold(base)(j =>
          base.join(dimSide(spark, j, j.dimVersion),
            col(j.fk) === col(j.dimKey)))
        rollup(joined, m.keyCol, m.sumCol, m.scale,
          m.mmCol, m.ndvCol, m.keyExpr)
      }
      val keys = m.keys
      val pr0 = side(tmpPlus, plus)
      val pr = m.ndvCol.fold(pr0)(_ =>
        pr0.withColumnRenamed("ndv_sketch", "psk"))
      val p = m.mmCol.fold(pr)(_ => pr
          .withColumnRenamed("min_value", "pmin")
          .withColumnRenamed("max_value", "pmax"))
        .withColumnRenamed("n_rows", "pn")
        .withColumnRenamed("sum_value", "ps")
      val nr0 = side(tmpMinus, minus)
      val nr = m.ndvCol.fold(nr0)(_ => nr0.drop("ndv_sketch"))
      val n = m.mmCol.fold(nr)(_ => nr.drop("min_value", "max_value"))
        .withColumnRenamed("n_rows", "mn")
        .withColumnRenamed("sum_value", "ms")
      val zero = lit(0).cast(DecimalType(30, m.scale))
      // every key join is NULL-SAFE (<=> per column): a NULL grouping
      // value is a group like any other, on every key of the list
      def keyEq(l: DataFrame, r: DataFrame) =
        keys.map(k => l(k) <=> r(k)).reduce(_ && _)
      val delta = p.join(n, keyEq(p, n), "full_outer")
        .select(keys.map(k => coalesce(p(k), n(k)).as(k)) ++ Seq(
          (coalesce(col("pn"), lit(0L)) - coalesce(col("mn"), lit(0L)))
            .as("dn"),
          (coalesce(col("ps"), zero) - coalesce(col("ms"), zero)).as("ds"),
          // a key seen on the MINUS side lost rows (or had its vector
          // restated): its min/max can't be folded downward — flag it
          // for the group-scoped recompute below
          col("mn").isNotNull.as("affected")) ++
          m.mmCol.toSeq.flatMap(_ => Seq(col("pmin"), col("pmax"))) ++
          m.ndvCol.toSeq.map(_ => col("psk")): _*)
      // fold against the MV head this refresh read — the snapshot the
      // watermark describes and the commit pins (see scaladoc)
      val mv = readAt(spark, mvDir, mvSnap.version)
      // the fold can answer counts/sums under ANY delta, but an
      // extreme or a sketch only folds under appends: any group seen
      // on the minus side needs the group-scoped rescan below
      val needRecompute = m.mmCol.isDefined || m.ndvCol.isDefined
      val foldCols = keys.map(k => coalesce(mv(k), delta(k)).as(k)) ++ Seq(
        (coalesce(col("n_rows"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n_rows"),
        (coalesce(col("sum_value"), zero) + coalesce(col("ds"), zero))
          .cast(DecimalType(38, m.scale)).as("sum_value")) ++
        m.mmCol.toSeq.flatMap(_ => Seq(
          // append-only fold: MIN/MAX are monotone under +rows, so
          // least/greatest of (old extreme, plus-side extreme) is
          // exact — least/greatest skip NULLs (new group → plus
          // extreme; untouched group → old extreme)
          least(col("min_value"), col("pmin")).as("fmin"),
          greatest(col("max_value"), col("pmax")).as("fmax"))) ++
        m.ndvCol.toSeq.map(_ =>
          // sketch fold: register-wise union — hll_union is NULL-
          // poisoning, so the one-sided cases route around it (new
          // group → plus sketch; untouched group → stored sketch)
          when(col("psk").isNull, col("ndv_sketch"))
            .when(col("ndv_sketch").isNull, col("psk"))
            .otherwise(hll_union(col("ndv_sketch"), col("psk")))
            .as("fsk")) ++
        (if (needRecompute)
          Seq(coalesce(col("affected"), lit(false)).as("affected"))
        else Nil)
      val folded0 = mv.join(delta, keyEq(mv, delta), "full_outer")
        .select(foldCols: _*)
        .filter(col("n_rows") > 0)
      // the min/max/sketch path consumes `folded` TWICE (the affected-
      // key probe and the final left-outer merge) and its lineage
      // holds two staged delta reads + two joins — materialize the
      // O(groups) rows once instead of recomputing that subtree per
      // consumer (optimization r20; guide §5 localCheckpoint to cut
      // duplicated lineage)
      val folded = if (needRecompute) folded0.pinned()
        else folded0
      val merged = if (!needRecompute) folded else {
        // GROUP-SCOPED RESCAN for the affected keys only: a delete
        // may have removed the row that held the extreme (or a
        // distinct value), so those groups recompute from the LIVE
        // head — semi-joined (null-safely, so NULL-keyed groups
        // restate too) to the affected key set: the scan is
        // O(affected groups' parts) (stats/runtime pruning apply),
        // never O(table)
        val affectedKeys = folded.filter(col("affected"))
          .select(keys.map(k => col(k).as(s"__ak_$k")): _*)
        val headSrc = readAt(spark, m.source, head)
        val scoped = headSrc.join(affectedKeys,
          keys.map(k => headSrc(k) <=> col(s"__ak_$k")).reduce(_ && _),
          "left_semi")
        val rec = rollup(scoped, m.keyCol, m.sumCol, m.scale, m.mmCol,
            m.ndvCol)
          .select(keys.map(k => col(k).as(s"__rk_$k")) ++
            m.mmCol.toSeq.flatMap(_ => Seq(
              col("min_value").as("rmin"), col("max_value").as("rmax"))) ++
            m.ndvCol.toSeq.map(_ => col("ndv_sketch").as("rsk")) ++
            Seq(lit(true).as("rhit")): _*)
        folded.join(rec,
            keys.map(k => folded(k) <=> col(s"__rk_$k")).reduce(_ && _),
            "left_outer")
          .select(keys.map(folded(_)) ++ Seq(
            col("n_rows"), col("sum_value")) ++
            m.mmCol.toSeq.flatMap(_ => Seq(
              when(col("rhit"), col("rmin")).otherwise(col("fmin"))
                .as("min_value"),
              when(col("rhit"), col("rmax")).otherwise(col("fmax"))
                .as("max_value"))) ++
            m.ndvCol.toSeq.map(_ =>
              when(col("rhit"), col("rsk")).otherwise(col("fsk"))
                .as("ndv_sketch")): _*)
      }
      RefreshStats(m.sourceVersion, head, plus.size, minus.size,
        publish(merged, mvDir, m.copy(sourceVersion = head), Some(mvSnap),
          "refresh-mv"))
    } finally {
      fs.delete(new Path(tmpPlus), true)
      fs.delete(new Path(tmpMinus), true)
    }
  }
}
