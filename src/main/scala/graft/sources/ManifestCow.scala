package graft.sources

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, not}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{LongType, StructType}

/** Copy-on-write survivor kernel for REPLACE WHERE: a predicate that
  * straddles part boundaries, or touches non-key columns, rewrites
  * ONLY the parts whose stats overlap it (the Delta/Iceberg COW
  * shape; Armbrust et al., VLDB 2020 §4.1). The caller folds
  * `untouched ++ rewritten ++ itsNewParts` into one snapshot.
  *
  * Protocol (all through the format's own machinery):
  *   1. classify parts from manifest stats: `untouched` (key range
  *      provably disjoint from the predicate's key conjuncts — a
  *      NULL key never satisfies a range conjunct), `dropped` (pure
  *      key-range predicate, part fully inside with zero null keys —
  *      every row provably matches), `affected` (the rest),
  *   2. distributed rewrite ([[GraftStagedTable.stageRewrite]]): scan
  *      ONLY the affected parts through a by-reference read snapshot,
  *      keep rows where the predicate is FALSE or NULL (SQL DELETE
  *      semantics), and stage them into the table dir, unpublished.
  *
  * Time travel is untouched by construction: prior snapshots still
  * list the replaced part files (VACUUM owns their retirement).
  * SQL DELETE does not come here: it runs through the row-level
  * rewrite ([[ManifestRowLevelOp]]).
  */
private[sources] object ManifestCow {

  /** The V1 filter subset this path can evaluate row-wise. Kept in
    * sync with [[toColumn]]; canOverwrite advertises exactly this,
    * so unsupported predicates are rejected at ANALYSIS, not midway
    * through a rewrite. */
  def translatable(f: Filter): Boolean = f match {
    case _: EqualTo | _: EqualNullSafe | _: GreaterThan |
         _: GreaterThanOrEqual | _: LessThan | _: LessThanOrEqual |
         _: In | _: IsNull | _: IsNotNull |
         _: StringStartsWith | _: StringEndsWith | _: StringContains => true
    case And(l, r) => translatable(l) && translatable(r)
    case Or(l, r)  => translatable(l) && translatable(r)
    case Not(c)    => translatable(c)
    case _         => false
  }

  private[sources] def toColumn(f: Filter): Column = f match {
    case EqualTo(c, v)            => col(c) === lit(v)
    case EqualNullSafe(c, v)      => col(c) <=> lit(v)
    case GreaterThan(c, v)        => col(c) > lit(v)
    case GreaterThanOrEqual(c, v) => col(c) >= lit(v)
    case LessThan(c, v)           => col(c) < lit(v)
    case LessThanOrEqual(c, v)    => col(c) <= lit(v)
    case In(c, vs)                => col(c).isin(vs.toIndexedSeq: _*)
    case IsNull(c)                => col(c).isNull
    case IsNotNull(c)             => col(c).isNotNull
    case StringStartsWith(c, v)   => col(c).startsWith(v)
    case StringEndsWith(c, v)     => col(c).endsWith(v)
    case StringContains(c, v)     => col(c).contains(v)
    case And(l, r)                => toColumn(l) && toColumn(r)
    case Or(l, r)                 => toColumn(l) || toColumn(r)
    case Not(c)                   => !toColumn(c)
    case other => throw new UnsupportedOperationException(
      s"predicate not supported for copy-on-write: $other")
  }

  /** The REPLACE WHERE kernel: classify the pinned `base` snapshot's
    * parts against the predicate's key conjuncts, run the distributed
    * survivor rewrite for the straddling parts, and return (touched
    * part paths, rewritten survivor parts) — WITHOUT publishing. The
    * caller owns the commit, so a REPLACE WHERE can fold
    * `filterNot(touched) ++ rewritten ++ itsNewParts` into ONE atomic
    * snapshot (delete-half and append-half never visible separately). */
  private[sources] def rewriteSurvivors(path: String, schema: StructType,
      filters: Array[Filter], base: Snapshot): (Set[String], Seq[PartMeta]) = {
    val spark = SparkSession.active

    // Classify on the key interval of the TOP-LEVEL key conjuncts
    // (the filters array is a conjunction; see [[LongRange]]). It only
    // PRUNES the rewrite set, so looseness is safe: a conjunct it does
    // not understand just means "can't exclude this part". A part is
    // untouched when no row can satisfy the key conjuncts (a NULL key
    // satisfies none), and dropped when the predicate is a pure key
    // range every row of the part provably satisfies.
    val key = schema.fields.find(_.dataType == LongType).map(_.name)
    val range = key.flatMap(LongRange.conjunction(_, filters.toSeq))
    def disposition(p: PartMeta): Char = range match {
      case Some((lo, hi, pure)) =>
        LongRange.classify(p, key.get, lo, hi) match {
          case 'd' if !pure => 'm'
          case c => c
        }
      case None => 'm'
    }
    val (dropped, affected) = base.parts.filter(disposition(_) != 'u')
      .partition(disposition(_) == 'd')

    // head-aware rebases + footprints from here on: the parts this
    // delete DROPS or REWRITES are its conflict footprint — a racing
    // commit touching only other parts (an append, a vector on an
    // untouched part) composes, because the rebase maps the advanced
    // head rather than re-rendering the stale base capture
    val droppedPaths = dropped.map(_.path).toSet
    if (affected.isEmpty) return (droppedPaths, Seq.empty)
    // DELETE keeps rows where the predicate is FALSE or NULL — the
    // three-valued-logic contract a naive `!pred` breaks. Survivors
    // stage unlaid-out: REPLACE WHERE leaves placement to compaction.
    val pred = filters.map(toColumn).reduceOption(_ && _).getOrElse(lit(true))
    val rewritten = GraftStagedTable.stageRewrite(spark, path, base, schema,
      affected, "_cow-", TableSpec())(_.filter(not(coalesce(pred, lit(false)))))
    // dropped parts stay referenced only by prior snapshots
    (droppedPaths ++ affected.map(_.path), rewritten)
  }
}
