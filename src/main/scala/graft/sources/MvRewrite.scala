package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, AttributeSet, Cast, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, HllSketchAgg, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.types.{DecimalType, LongType}

/** TRANSPARENT MATERIALIZED-VIEW ROUTING — the optimizer half of
  * [[ManifestMv]]: a query that re-asks the exact rollup an MV
  * already stores (`GROUP BY key` → `count(*)`, exact decimal
  * `sum`) is rewritten to read the MV instead of the source, turning
  * an O(table) scan + shuffle into an O(groups) metadata-table read.
  * At 100 TB this is the difference between "the daily dashboard
  * rescans a petabyte" and "it reads a 100-row table" — and because
  * the engine owns both the MV's freshness watermark and the scan's
  * version pin, the substitution is provably exact, never
  * best-effort.
  *
  * Enable with `spark.conf.set("graft.mv.rewrite", "<mvDir>[,...]")`
  * (the MVs created by `CALL cat.system.create_mv`). The rule is
  * injected by [[graft.plans.GraftExtensions]] and also works via
  * `spark.experimental.extraOptimizations` on a live session — it
  * matches BOTH plan generations it can meet: the pre-pushdown
  * [[DataSourceV2Relation]] (extension injection runs in the operator
  * batch) and the post-pushdown [[DataSourceV2ScanRelation]]
  * (extraOptimizations runs last).
  *
  * The rewrite fires only when EVERY exactness condition holds, and
  * silently declines otherwise — a declined rewrite is always merely
  * slower, never wrong:
  *
  *  - **Freshness**: the MV watermark equals the source's HEAD
  *    version at plan time (or, post-pushdown, the exact version the
  *    scan pinned — so `VERSION AS OF <watermark>` rewrites too). A
  *    stale MV falls back to the source; refresh first. The MV side
  *    is then read PINNED at the MV version whose header carries that
  *    watermark, so a concurrent `refresh_mv` cannot tear the answer.
  *  - **Shape**: the grouping columns are exactly the MV's key list
  *    (any order, bare attributes only); every
  *    aggregate in the output is `count(1)`/`count(*)` (→ `n_rows`)
  *    or `sum(CAST(col AS DECIMAL(30, scale)))` with the MV's column
  *    and scale (→ `sum_value`) — matched STRUCTURALLY inside
  *    arbitrary surrounding expressions, so the repo-idiomatic
  *    `CAST(CAST(sum(...) AS STRING) AS DOUBLE)` display shape
  *    rewrites intact. DISTINCT/FILTER aggregates decline. Decimal
  *    partials are associative, so MV == recompute bit-for-bit
  *    (MvSpec) and the substitution is hash-exact, not approximate.
  *  - **Adjacency**: the Aggregate sits directly on the scan relation
  *    (attribute-only Projects stripped). A Filter/Limit/branch/
  *    change-feed/time-travel-to-other-version read declines — the
  *    source reports filters residual, so a filtered query always
  *    keeps its Filter node and can never be silently absorbed.
  *
  * The replacement preserves the Aggregate's output `exprId`s
  * (aliases onto the MV attributes), so everything above the
  * aggregate — sorts, joins, further projections — binds unchanged.
  */
object MvRewrite extends Rule[LogicalPlan] {

  private def registered(spark: SparkSession): Seq[String] =
    spark.conf.getOption("graft.mv.rewrite").getOrElse("")
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq

  private def norm(p: String): String = new Path(p).toUri.getPath

  /** Structural routing probe (shared by the live gates — e.g.
    * q_mv_route_filter — and MvRewriteSpec): true iff the optimized
    * plan contains a manifest scan leaf reading `dir`. Unlike a
    * `plan.toString.contains(dir)` check this survives any change to
    * plan rendering: it walks the actual scan relations. */
  def readsManifestDir(plan: LogicalPlan, dir: String): Boolean =
    plan.exists {
      case sr: DataSourceV2ScanRelation => sr.scan match {
        case ms: ManifestScan => norm(ms.scanTableDir) == norm(dir)
        case _ => false
      }
      case r: DataSourceV2Relation => r.table match {
        case t: GraftTable => norm(t.tableDir) == norm(dir)
        case _ => false
      }
      case _ => false
    }

  /** A registered MV: its record and the MV version carrying it. */
  private final case class Target(meta: ManifestMv.MvMeta, mvDir: String,
      version: Int)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val spark = SparkSession.active
    val dirs = registered(spark)
    if (dirs.isEmpty || !plan.exists(_.isInstanceOf[Aggregate])) return plan
    val conf = ManifestSink.driverConf()
    // resolve each registered MV's head — its definition, watermark
    // and version from ONE snapshot — once per rule pass; a table
    // that is no MV, a corrupt record or an expired source declines
    val targets = dirs.flatMap { d =>
      try {
        val snap = ManifestLog(conf, d).snapshot()
        snap.header.table.mv.filter(_.sourceVersion > 0).map { m =>
          val head = ManifestLog(conf, m.source).head
          // join MVs also resolve the dim head once per pass
          val dimHead = m.join.fold(0)(j => ManifestLog(conf, j.dimSource).head)
          (Target(m, d, snap.version), head, dimHead)
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }
    if (targets.isEmpty) return plan
    plan.transformDown {
      case agg0: Aggregate =>
        // INVERSE PullOutGroupingExpressions: by the time this rule
        // runs, the optimizer has hoisted computed grouping
        // expressions (`GROUP BY date_trunc('day', ts)`) into a
        // Project below the Aggregate and grouped by the synthetic
        // attribute. Inline those aliases back so the matchers see
        // the user's own expression shape; if nothing routes, the
        // ORIGINAL node is returned untouched.
        val agg = unpull(agg0)
        // KEY-PREDICATE routing: a deterministic Filter between the
        // aggregate and the scan is CAPTURED here and validated in
        // substitute(): it routes iff its references are all MV KEY
        // columns — σ over key columns selects whole MV groups, so it
        // commutes with the exact projection AND with the coarser
        // re-aggregation (`WHERE key1 = x GROUP BY key2` folds only
        // the matching groups' state). A filter touching any non-key
        // column fails the rebind and the whole rewrite declines with
        // the original Filter intact — a wrong hoist there would be a
        // wrong answer, so the decline is load-bearing.
        val groupKeys = AttributeSet(agg.groupingExpressions.collect {
          case a: AttributeReference => a
        })
        val (keyFilter, aggChild) = strip(agg.child) match {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter
              if f.condition.deterministic =>
            (Some(f.condition), f.child)
          case other => (None, other)
        }
        (sourceOf(aggChild) match {
          case Some((dir, pinned)) =>
            targets.find { case (t, head, _) =>
              // a bare-scan aggregate is answered only by a bare MV
              t.meta.join.isEmpty &&
                norm(t.meta.source) == norm(dir) &&
                // pre-pushdown: fresh means watermark == head NOW;
                // post-pushdown: the scan already pinned its version —
                // rewrite iff it pinned exactly the watermark
                pinned.getOrElse(head) == t.meta.sourceVersion
            }.flatMap { case (t, _, _) =>
              substitute(spark, agg, t, keyFilter) }
          case None => None
        }).orElse(joinSourceOf(aggChild, groupKeys) match {
          // fact ⋈ dim GROUP BY <dim attr>: answered by a JOIN MV iff
          // both sides' versions equal the recorded watermark pair
          // and the equi-join columns are exactly the recorded pair
          // on the recorded sides (either join order)
          case Some((lDir, lPin, rDir, rPin, lCol, rCol, hoisted)) =>
            targets.find { case (t, head, dimHead) =>
              t.meta.join.exists { j =>
                val factLeft = norm(t.meta.source) == norm(lDir) &&
                  norm(j.dimSource) == norm(rDir) &&
                  lCol == j.fk && rCol == j.dimKey &&
                  lPin.getOrElse(head) == t.meta.sourceVersion &&
                  rPin.getOrElse(dimHead) == j.dimVersion
                val factRight = norm(t.meta.source) == norm(rDir) &&
                  norm(j.dimSource) == norm(lDir) &&
                  rCol == j.fk && lCol == j.dimKey &&
                  rPin.getOrElse(head) == t.meta.sourceVersion &&
                  lPin.getOrElse(dimHead) == j.dimVersion
                factLeft || factRight
              }
            }.flatMap { case (t, _, _) =>
              // the same key-predicate commutation holds over the
              // join MV: the filter reads only the dim grouping attr
              // (whether left above the aggregate or pushed onto a
              // join side, where stripJoinSide hoisted it). In the
              // JOIN path the name+type rebind inside substitute() is
              // NOT sufficient on its own: a fact-side column that
              // shares the dim key's name and type would rebind onto
              // the MV key and filter whole dim-keyed groups instead
              // of fact rows. Require the captured filter to resolve
              // by EXPRID to the aggregate's grouping attributes
              // (the guarantee stripJoinSide's hoist already
              // enforces for pushed filters) before accepting it.
              if (keyFilter.exists(f => !f.references.subsetOf(groupKeys)))
                None
              else substitute(spark, agg, t,
                (keyFilter.toSeq ++ hoisted.toSeq).reduceOption(
                  org.apache.spark.sql.catalyst.expressions.And(_, _))) }
          case None => None
        }).getOrElse(agg0)
    }
  }

  /** Reverse the optimizer's PullOutGroupingExpressions: a Project
    * directly under the Aggregate whose entries are attributes plus
    * DETERMINISTIC aliases folds back into the aggregate (alias
    * definitions substituted into grouping and output expressions,
    * exprIds preserved). Exact — the Project computed pure functions
    * of the child's columns; inlining is the identity the optimizer
    * itself applied in reverse. Declines (returns the aggregate
    * unchanged) if any reference would escape the child's output. */
  private def unpull(agg: Aggregate): Aggregate = agg.child match {
    case Project(list, child)
        if list.exists(!_.isInstanceOf[AttributeReference]) &&
          list.forall {
            case _: AttributeReference => true
            case a: Alias => a.child.deterministic
            case _ => false
          } =>
      val aliasMap: Map[org.apache.spark.sql.catalyst.expressions.ExprId,
          Expression] =
        list.collect { case a: Alias => a.exprId -> a.child }.toMap
      def subst(e: Expression): Expression = e.transformUp {
        case ar: AttributeReference if aliasMap.contains(ar.exprId) =>
          aliasMap(ar.exprId)
      }
      val g2 = agg.groupingExpressions.map(subst)
      val a2 = agg.aggregateExpressions.map {
        case ar: AttributeReference if aliasMap.contains(ar.exprId) =>
          Alias(aliasMap(ar.exprId), ar.name)(exprId = ar.exprId)
        case e => subst(e).asInstanceOf[NamedExpression]
      }
      val refs = AttributeSet(g2.flatMap(_.references) ++
        a2.flatMap(_.references))
      if (refs.subsetOf(child.outputSet)) Aggregate(g2, a2, child)
      else agg
    case _ => agg
  }

  /** An INNER equi-join of two bare manifest reads directly under the
    * aggregate: (leftDir, leftPin, rightDir, rightPin, left join col,
    * right join col, hoisted key predicate). Anything else — other
    * join types, compound or non-attribute conditions, hints —
    * declines. `groupKeys` are the aggregate's grouping attributes: a
    * deterministic filter PUSHED onto a join side whose references
    * are all grouping attributes hoists back above the join (exact —
    * σ over group keys commutes with both the inner join and the
    * grouping) and is returned for rebinding over the MV. */
  private def joinSourceOf(p: LogicalPlan, groupKeys: AttributeSet)
      : Option[(String, Option[Int], String, Option[Int], String,
          String, Option[Expression])] =
    strip(p) match {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.Inner &&
            j.hint == org.apache.spark.sql.catalyst.plans.logical
              .JoinHint.NONE =>
        // the analyzer wraps a narrower join key in an implicit Cast
        // (`fk = cast(dk as bigint)`); the MV's defining join got the
        // SAME implicit cast, so unwrapping is exact — but ONLY for
        // that shape: the cast must be a lossless up-cast landing on
        // the other side's type (what the analyzer itself inserts). A
        // user-written narrowing cast (`ON CAST(fk AS INT) = dk`) has
        // different semantics for out-of-range keys than the MV's
        // defining join, so it must NOT match the recorded pair.
        def unwrap(e: Expression, other: Expression)
            : Option[AttributeReference] = e match {
          case a: AttributeReference => Some(a)
          case Cast(a: AttributeReference, dt, _, _)
              if dt == other.dataType && Cast.canUpCast(a.dataType, dt) =>
            Some(a)
          case _ => None
        }
        j.condition match {
          case Some(org.apache.spark.sql.catalyst.expressions.EqualTo(
              le, re))
              if unwrap(le, re).isDefined && unwrap(re, le).isDefined =>
            val (a, b) = (unwrap(le, re).get, unwrap(re, le).get)
            val (la, ra) =
              if (j.left.outputSet.contains(a) &&
                  j.right.outputSet.contains(b)) (a, b)
              else if (j.left.outputSet.contains(b) &&
                  j.right.outputSet.contains(a)) (b, a)
              else return None
            val keys = Set(a.exprId, b.exprId)
            val (lPlan, lHoist) = stripJoinSide(j.left, keys, groupKeys)
            val (rPlan, rHoist) = stripJoinSide(j.right, keys, groupKeys)
            for {
              (ld, lp) <- sourceOf(lPlan)
              (rd, rp) <- sourceOf(rPlan)
            } yield (ld, lp, rd, rp, la.name, ra.name,
              (lHoist ++ rHoist).reduceOption(
                org.apache.spark.sql.catalyst.expressions.And(_, _)))
          case _ => None
        }
      case _ => None
    }

  /** Strip a join INPUT down to its bare relation, classifying every
    * Filter on the way (attribute-only Projects always strip):
    *  - `IsNotNull(<join key>)` conjunctions — constraint-inference
    *    debris an inner equi-join always carries — DROP (exact: the
    *    join drops null keys anyway);
    *  - DynamicPruning filters on a join key — DPP is derived FROM
    *    the join, redundant with it — DROP;
    *  - a deterministic filter whose references are all GROUPING
    *    attributes — the query's own pushed key predicate — HOIST
    *    (returned; re-applied above the MV);
    *  - anything else blocks (left in place → sourceOf declines). */
  private def stripJoinSide(p: LogicalPlan,
      keys: Set[org.apache.spark.sql.catalyst.expressions.ExprId],
      groupKeys: AttributeSet): (LogicalPlan, Seq[Expression]) = {
    import org.apache.spark.sql.catalyst.expressions.{And, DynamicPruning,
      IsNotNull}
    def legs(e: Expression): Seq[Expression] = e match {
      case And(l, r) => legs(l) ++ legs(r)
      case x => Seq(x)
    }
    p match {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        val (droppable, rest) = legs(f.condition).partition {
          case IsNotNull(a: AttributeReference) => keys.contains(a.exprId)
          // only the DPP this very join derived is redundant with it:
          // the pruned column must BE a join key. A DPP filter on any
          // other column (can't arise in the accepted bare-relation
          // shape today, but the contract is explicit) blocks.
          case d if d.isInstanceOf[DynamicPruning] =>
            d.references.nonEmpty &&
              d.references.forall(a => keys.contains(a.exprId))
          case _ => false
        }
        val (hoistable, blocking) = rest.partition(e =>
          e.deterministic && e.references.subsetOf(groupKeys))
        if (blocking.nonEmpty) (p, Seq.empty)
        else {
          val _ = droppable
          val (child, more) = stripJoinSide(f.child, keys, groupKeys)
          (child, hoistable ++ more)
        }
      case Project(es, child)
          if es.forall(_.isInstanceOf[AttributeReference]) =>
        stripJoinSide(child, keys, groupKeys)
      case other => (other, Seq.empty)
    }
  }

  /** The (table dir, pinned version) of a bare manifest-table read
    * under the aggregate, if it is one. `None` in the version slot
    * means "not planned yet" (pre-pushdown head read). */
  private def sourceOf(p: LogicalPlan): Option[(String, Option[Int])] =
    strip(p) match {
      case sr: DataSourceV2ScanRelation => sr.scan match {
        case ms: ManifestScan =>
          ms.mvRewriteTarget.map { case (d, v) => (d, Some(v)) }
        case _ => None
      }
      case r: DataSourceV2Relation => r.table match {
        case t: GraftTable => t.headDir(r.options).map(d => (d, None))
        case _ => None
      }
      case _ => None
    }

  @annotation.tailrec
  private def strip(p: LogicalPlan): LogicalPlan = p match {
    case Project(es, child) if es.forall(_.isInstanceOf[AttributeReference]) =>
      strip(child)
    case other => other
  }

  private def substitute(spark: SparkSession, agg: Aggregate,
      t: Target, keyFilter: Option[Expression] = None)
      : Option[LogicalPlan] = {
    // EXPRESSION-KEYED (time-grain) MVs route through their own
    // narrower matcher: the grouping is a derived date_trunc, not a
    // bare attribute, so the name-based key machinery below cannot
    // apply
    if (t.meta.keyExpr.isDefined)
      return substituteTimeGrain(spark, agg, t, keyFilter)
    // MULTI-KEY shape gate: every grouping expression a bare
    // attribute, no repeats, and the name set either
    //  - EXACTLY the MV's key list (any order — GROUP BY b, a still
    //    routes): answered by a Project over the MV, or
    //  - a nonempty STRICT SUBSET of the keys (the dashboard
    //    drill-up): answered by RE-AGGREGATING the MV's O(groups)
    //    state — counts and exact-decimal sums fold (both
    //    associative: sum of per-group counts/sums IS the coarser
    //    group's), min/max over the tracked column folds the stored
    //    extremes. Non-foldable aggregates (avg, DISTINCT, sketches
    //    at coarser grain) decline inside matchAgg.
    // A finer grouping (extra keys) is unanswerable and declines.
    val keys = t.meta.keys
    val groupAttrs = agg.groupingExpressions.collect {
      case a: AttributeReference => a
    }
    if (groupAttrs.size != agg.groupingExpressions.size ||
        groupAttrs.map(_.name).distinct.size != groupAttrs.size) return None
    val names = groupAttrs.map(_.name)
    val exact = names.sorted == keys.sorted
    val subset = !exact && names.nonEmpty &&
      names.toSet.subsetOf(keys.toSet)
    if (!exact && !subset) return None
    // the MV read is PINNED at the version carrying the watermark — the
    // freshness check and the data served are one snapshot pair
    val mvPlan = ManifestMv.readAt(spark, t.mvDir, t.version)
      .queryExecution.optimizedPlan
    val out = mvPlan.output
    val keyPairs = groupAttrs.flatMap { k =>
      out.find(a => a.name == k.name && a.dataType == k.dataType)
        .map(k -> _)
    }
    if (keyPairs.size != groupAttrs.size) return None
    // the captured filter must rebind ENTIRELY over MV key columns
    // (grouping or not — filtering a non-grouped key under a drill-up
    // still selects whole MV groups); any other reference declines
    val filterRebind: Option[Map[
        org.apache.spark.sql.catalyst.expressions.ExprId,
        org.apache.spark.sql.catalyst.expressions.Attribute]] =
      keyFilter match {
        case None => Some(Map.empty)
        case Some(cond) =>
          val pairs = cond.references.toSeq.map { a =>
            out.find(m => keys.contains(a.name) && m.name == a.name &&
              m.dataType == a.dataType).map(a.exprId -> _)
          }
          if (pairs.forall(_.isDefined)) Some(pairs.flatten.toMap)
          else None
      }
    if (filterRebind.isEmpty) return None
    for {
      mvN <- out.find(_.name == "n_rows")
      mvS <- out.find(_.name == "sum_value")
      if mvN.dataType == LongType
      mapped <- mapOutputs(agg.aggregateExpressions, keyPairs, mvN, mvS,
        // min/max legs exist only on MVs created with minmax_col,
        // the sketch leg only with distinct_col
        out.find(_.name == "min_value"), out.find(_.name == "max_value"),
        out.find(_.name == "ndv_sketch"),
        t.meta, mvPlan.outputSet, reAgg = subset)
    } yield {
      // key-predicate routing: every reference proved an MV key
      // above — rebind the filter over the MV's key columns and keep
      // it in the plan (below the re-aggregation in subset mode: the
      // selected groups fold, the rest are never read)
      val rebind = filterRebind.get
      val base: LogicalPlan = keyFilter.fold(mvPlan) { cond =>
        org.apache.spark.sql.catalyst.plans.logical.Filter(
          cond.transform {
            case a: AttributeReference if rebind.contains(a.exprId) =>
              rebind(a.exprId)
          }, mvPlan)
      }
      if (subset)
        // coarser rollup: one Aggregate over the MV's O(groups) rows
        // — the table is never rescanned; at 100 TB this turns the
        // drill-up from a petabyte scan into a shuffle of the MV
        Aggregate(keyPairs.map(_._2), mapped, base)
      else Project(mapped, base)
    }
  }

  /** TIME-GRAIN MV routing: the query re-asks the stored rollup
    * `GROUP BY date_trunc('<grain>', <ts>)` in the user's own
    * spelling, matched STRUCTURALLY (the catalyst [[TruncTimestamp]]
    * node with the recorded grain literal and source column — any
    * other grain, column, non-foldable format, or a differing SESSION
    * TIMEZONE declines: each of those is a different answer). The
    * substitution serves the exact stored key + count/sum state as a
    * Project over the MV — no Aggregate survives, the O(table) scan
    * becomes an O(days) metadata-table read. Filters and drill-ups
    * decline (the derived key admits no sound name-based filter
    * rebind or subset fold here). */
  private def substituteTimeGrain(spark: SparkSession, agg: Aggregate,
      t: Target, keyFilter: Option[Expression]): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.TruncTimestamp
    import org.apache.spark.unsafe.types.UTF8String
    if (keyFilter.isDefined) return None
    val (grain, colName) =
      ManifestMv.parseKeyExpr(t.meta.keyExpr.get).getOrElse(return None)
    if (!t.meta.keyTz.contains(
      spark.sessionState.conf.sessionLocalTimeZone)) return None
    if (agg.groupingExpressions.size != 1) return None
    val g = agg.groupingExpressions.head
    val matches = g match {
      case TruncTimestamp(Literal(f: UTF8String, _), a: AttributeReference,
          _) => f.toString.equalsIgnoreCase(grain) &&
        a.name.equalsIgnoreCase(colName)
      case _ => false
    }
    if (!matches) return None
    val mvPlan = ManifestMv.readAt(spark, t.mvDir, t.version)
      .queryExecution.optimizedPlan
    val out = mvPlan.output
    for {
      mvKey <- out.find(a => a.name == t.meta.keyCol &&
        a.dataType == g.dataType)
      mvN <- out.find(_.name == "n_rows")
      mvS <- out.find(_.name == "sum_value")
      if mvN.dataType == LongType
      mapped <- {
        val m: Seq[Option[NamedExpression]] =
          agg.aggregateExpressions.map {
            case al: Alias =>
              var ok = true
              val re = al.child.transformUp {
                case e if e.semanticEquals(g) => mvKey
                case ae: AggregateExpression =>
                  matchAgg(ae, t.meta, mvN, mvS, None, None, None,
                    reAgg = false).getOrElse { ok = false; ae }
              }
              if (ok && re.references.subsetOf(mvPlan.outputSet))
                Some(Alias(re, al.name)(exprId = al.exprId))
              else None
            case _ => None
          }
        if (m.forall(_.isDefined)) Some(m.map(_.get)) else None
      }
    } yield Project(mapped, mvPlan)
  }

  /** Re-express every aggregate-output expression over the MV's
    * attributes, preserving names and exprIds; None if ANY expression
    * contains an aggregate or column the MV cannot answer. */
  private def mapOutputs(aggExprs: Seq[NamedExpression],
      keyPairs: Seq[(AttributeReference, org.apache.spark.sql.catalyst.expressions.Attribute)],
      mvN: org.apache.spark.sql.catalyst.expressions.Attribute, mvS: org.apache.spark.sql.catalyst.expressions.Attribute,
      mvMin: Option[org.apache.spark.sql.catalyst.expressions.Attribute],
      mvMax: Option[org.apache.spark.sql.catalyst.expressions.Attribute],
      mvSk: Option[org.apache.spark.sql.catalyst.expressions.Attribute],
      meta: ManifestMv.MvMeta,
      mvOut: AttributeSet, reAgg: Boolean): Option[Seq[NamedExpression]] = {
    val keyById = keyPairs.map { case (k, mv) => k.exprId -> mv }.toMap
    val mapped: Seq[Option[NamedExpression]] = aggExprs.map {
      case a: AttributeReference if keyById.contains(a.exprId) =>
        Some(Alias(keyById(a.exprId), a.name)(exprId = a.exprId))
      case al: Alias =>
        var ok = true
        val re = al.child.transformUp {
          case ae: AggregateExpression =>
            matchAgg(ae, meta, mvN, mvS, mvMin, mvMax, mvSk, reAgg)
              .getOrElse { ok = false; ae }
          case a: AttributeReference if keyById.contains(a.exprId) =>
            keyById(a.exprId)
        }
        if (ok && re.references.subsetOf(mvOut))
          Some(Alias(re, al.name)(exprId = al.exprId))
        else None
      case _ => None
    }
    if (mapped.forall(_.isDefined)) Some(mapped.map(_.get)) else None
  }

  /** Exact mode (`reAgg=false`): each matched aggregate becomes the
    * MV's stored attribute. Re-aggregation mode (`reAgg=true`, the
    * coarser drill-up): each matched aggregate becomes a FURTHER FOLD
    * over the stored state — `count(1)` → `sum(n_rows)` (BIGINT sums
    * to BIGINT), the tracked decimal sum → `sum(sum_value)`
    * (DECIMAL(38,s) is already at max precision, the fold keeps the
    * type), tracked min/max → min/max of the stored extremes. Result
    * types are provably unchanged, so the plan above binds as-is.
    * The tracked HLL sketch folds as `hll_union_agg` of the stored
    * sketches (register state merges losslessly — see the case
    * below). DISTINCT/FILTER and everything unmatched decline — avg
    * never matches in either mode (its single-expression form is not
    * decomposable here; spelled as sum/count it folds leg-by-leg
    * soundly). */
  private def matchAgg(ae: AggregateExpression, meta: ManifestMv.MvMeta,
      mvN: org.apache.spark.sql.catalyst.expressions.Attribute, mvS: org.apache.spark.sql.catalyst.expressions.Attribute,
      mvMin: Option[org.apache.spark.sql.catalyst.expressions.Attribute],
      mvMax: Option[org.apache.spark.sql.catalyst.expressions.Attribute],
      mvSk: Option[org.apache.spark.sql.catalyst.expressions.Attribute],
      reAgg: Boolean): Option[Expression] =
    if (ae.isDistinct || ae.filter.isDefined) None
    else ae.aggregateFunction match {
      case Count(Seq(Literal(1, _))) if ae.dataType == LongType =>
        if (reAgg) Some(ae.copy(aggregateFunction = Sum(mvN)))
        else Some(mvN)
      case s: Sum => s.child match {
        case Cast(a: AttributeReference, dt: DecimalType, _, _)
            if a.name == meta.sumCol && dt.precision == 30 &&
              dt.scale == meta.scale && ae.dataType == mvS.dataType =>
          if (reAgg) {
            val folded = ae.copy(aggregateFunction = Sum(mvS))
            // DECIMAL(38,s) folds to DECIMAL(38,s): same result type
            if (folded.dataType == ae.dataType) Some(folded) else None
          } else Some(mvS)
        case _ => None
      }
      // bare-column MIN/MAX over the MV's tracked column routes to
      // the maintained extreme; the type equality is exact (the MV
      // stores the column's own type, never a cast)
      case Min(a: AttributeReference)
          if meta.mmCol.contains(a.name) &&
            mvMin.exists(_.dataType == ae.dataType) =>
        if (reAgg) mvMin.map(m => ae.copy(aggregateFunction = Min(m)))
        else mvMin
      case Max(a: AttributeReference)
          if meta.mmCol.contains(a.name) &&
            mvMax.exists(_.dataType == ae.dataType) =>
        if (reAgg) mvMax.map(m => ae.copy(aggregateFunction = Max(m)))
        else mvMax
      // `hll_sketch_agg(c)` over the MV's tracked distinct column at
      // the MAINTAINED lgConfigK routes to the stored sketch binary —
      // the usual spelling `hll_sketch_estimate(hll_sketch_agg(c))`
      // keeps its scalar estimate wrapper, now over the stored
      // sketch. A different lgConfigK is a different-precision
      // answer and declines; approx_count_distinct (HLL++, a
      // different sketch family) never matches.
      // exact-key: serve the stored sketch. Coarser drill-up: HLL
      // register state MERGES losslessly — the union of the finer
      // groups' sketches covers exactly the coarser group's input
      // multiset — so `hll_sketch_agg(c)` folds as
      // `hll_union_agg(ndv_sketch)` at the pinned lgConfigK (same
      // sketch family, same registers; the estimate differs from a
      // single-stream recompute only by the documented merge-lineage
      // bound q_mv_distinct already contracts, and is sparse-mode
      // EXACT — MvSpec pins it). A different lgConfigK still declines
      // in both modes.
      case h: HllSketchAgg => h.left match {
        case a: AttributeReference
            if meta.ndvCol.contains(a.name) && h.right.foldable &&
              h.lgConfigK == ManifestMv.NdvLgK =>
          if (reAgg) mvSk.map(m => ae.copy(aggregateFunction =
            org.apache.spark.sql.catalyst.expressions.aggregate
              .HllUnionAgg(m, Literal(false))))
          else mvSk
        case _ => None
      }
      case _ => None
    }
}
