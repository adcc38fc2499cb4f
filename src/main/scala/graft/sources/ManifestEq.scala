package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources.{EqualTo => FEq, Filter => V1Filter, In => FIn}
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** EQUALITY DELETES (`graft.delete.mode=eq` — the Iceberg v2
  * equality-delete file shape, inlined on the manifest): `DELETE
  * WHERE col = v` / `col IN (...)` / a BIGINT range (`ts < cutoff`,
  * BETWEEN — the retention shape) commits as PURE METADATA — each
  * part that MAY contain a match (range/bloom/null stats cannot rule
  * it out) gets an [[EqClause]] appended to its line; provably-clean
  * parts are carried untouched; for RANGE deletes, parts provably
  * inside the interval additionally DROP from the part list
  * entirely (see [[rangeDisposition]]); NO data file is read or
  * written.
  *
  * This is the opposite cost trade from every other delete path:
  *  - COW rewrites matching parts (write cost O(matched parts)),
  *  - MOR DVs scan to find ordinals (read cost O(candidate parts)),
  *  - a metadata delete drops whole parts (free, but only when parts
  *    are entirely covered),
  *  - an EQ delete is O(parts) DRIVER METADATA regardless of table
  *    size — the GDPR/right-to-be-forgotten shape at 100 TB: deleting
  *    one user from a petabyte costs one manifest commit; READERS pay
  *    (a per-row value probe on clause-bearing parts) until
  *    compaction materializes the clauses away.
  *
  * Honesty ledger (what pending clauses DEMOTE, all spec-pinned):
  * exact metadata answers (COUNT/SUM/MIN/MAX pushdown) decline;
  * `.files`/`.partitions` report visible_rows as NULL on pending
  * parts; the change feed crosses an eq commit by EVALUATING the new
  * clauses at read time against the previously-visible rows — true
  * row-level deletes, no pre-compaction refusal (`q_stream_cdf_eq`
  * depends on this); stats stay safe OVER-approximations for
  * pruning, budgets and limits.
  * Snapshot algebra stays intact: the clause change IS a part-line
  * restatement, so MV refresh restates affected parts by reference
  * (minus the old line, plus the masked new one) like any DV commit.
  *
  * Time travel is unaffected (pre-delete snapshots list clause-free
  * lines); conflict detection composes through [[ManifestSink
  * .publishRebase]] — the clause re-marks against the freshly-read
  * head on claim retry, so a racing append's new parts are marked or
  * skipped by THEIR stats, never lost.
  */
private[sources] object ManifestEq {

  def eqEnabled(spark: SparkSession): Boolean =
    ManifestDeltaOp.deleteMode(spark).contains("eq")

  /** The single-column equality clause these deletes accept: exactly
    * one `=` or `IN` filter on a BIGINT/STRING column. Values are
    * canonicalized to raw form ('l' = decimal string); NULLs in an
    * IN-list drop (`col = NULL` never matches a row). Range deletes
    * take [[translateRange]] instead; anything else returns None and
    * the session falls back to the row-level rewrite. */
  def translate(schema: StructType,
      filters: Array[V1Filter]): Option[(String, Seq[Any])] =
    filters match {
      case Array(FEq(c, v)) if v != null => Some((c, Seq(v)))
      case Array(FIn(c, vs)) if vs.nonEmpty =>
        Some((c, vs.toSeq.filter(_ != null)))
      case _ => None
    }

  /** The RANGE clause shape (kind 'L'): a conjunction of `<`/`<=`/
    * `>`/`>=` (BETWEEN arrives as the GE+LE pair) on ONE BIGINT
    * column, canonicalized to the inclusive interval [lo, hi] —
    * `DELETE WHERE ts < cutoff`, the GDPR/TTL retention shape. Under
    * eq mode this commits as pure metadata with THREE part classes:
    * parts provably inside the range DROP from the part list
    * (min/max ⊆ range and zero nulls — the metadata-delete answer),
    * provably-outside parts carry forward untouched, and straddlers
    * gain the range clause (read-side per-row interval probe, one
    * Long parse per row, until compaction materializes it). At
    * 100 TB a retention delete is then one manifest commit whose
    * read-side debt is confined to the O(1) boundary parts —
    * time-ordered ingest makes almost every part provably-inside or
    * provably-outside. An empty canonical interval (lo > hi) means
    * the predicate matches nothing: the delete is a no-op. */
  def translateRange(schema: StructType,
      filters: Array[V1Filter]): Option[(String, Long, Long)] =
    filters.headOption.flatMap(LongRange.of).flatMap { case (col, _, _) =>
      LongRange.conjunction(col, filters.toSeq).collect {
        // vacuous single bound (`c >= Long.MinValue`): other paths own it
        case (lo, hi, true) if filters.length > 1 ||
            lo != Long.MinValue || hi != Long.MaxValue => (col, lo, hi)
      }
    }

  /** The clause kind column `col` takes — 'l' BIGINT, 's' STRING —
    * from its presence and type in `schema` alone; a range clause
    * takes BIGINT only (string-range retention deletes are not a
    * shape anyone ships). */
  private def kindOf(schema: StructType, col: String): Option[Char] =
    schema.fields.find(_.name == col).map(_.dataType).collect {
      case LongType => 'l'
      case StringType => 's'
    }

  /** Could this part hold a row matching the clause? Range, bloom and
    * null-count stats each get a veto; no stats = must mark (marking
    * a clean part is only a read-side cost, never a wrong answer).
    *
    * `defaultTok` is the clause column's evaluated initial default in
    * raw clause-value form, when one exists: a part whose recorded
    * layout never wrote the column serves EVERY row that frozen
    * default (see [[ColDefaults]]), so it must be marked exactly when
    * the default is a clause value — the stats branches below would
    * otherwise never-match it and the delete would silently skip its
    * rows. Without a default those rows read NULL, which a non-null
    * clause value never matches: exonerated. */
  private[sources] def mayMatch(p: PartMeta, c: EqClause,
      defaultTok: Option[String] = None): Boolean =
    if (p.rows == 0L) false
    else if (p.cols.nonEmpty && !p.cols.contains(c.fieldId))
      defaultTok.exists(c.values.contains)
    else p.cstats.get(c.col) match {
      case Some(st) if st.kind == 'l' =>
        c.values.exists(v => st.mayContain(v.toLong))
      case Some(st) => c.values.exists(st.mayContainStr)
      case None => true // untracked column: cannot exonerate
    }

  /** Part disposition under a range delete: 'd' = every visible row
    * provably matches (drop the line — the metadata-delete answer),
    * 'u' = no row can match (carried untouched), 'm' = straddler or
    * undecidable (mark with the clause — read-side cost only, never
    * a wrong answer); see [[LongRange.classify]]. */
  private[sources] def rangeDisposition(p: PartMeta, c: EqClause,
      lo: Long, hi: Long, defaultTok: Option[String] = None): Char =
    if (p.cols.nonEmpty && !p.cols.contains(c.fieldId)) {
      // layout never wrote the column: every row serves the frozen
      // initial default — all match when it lands inside the range,
      // none otherwise (no default = NULL = never matches)
      if (p.rows > 0L && defaultTok.flatMap(_.toLongOption)
          .exists(d => d >= lo && d <= hi)) 'd'
      else 'u'
    } else LongRange.classify(p, c.col, lo, hi)

  /** True when the session should take — and the predicate can take —
    * the equality-delete path (`=`/IN clause, or a BIGINT range). */
  def canDelete(spark: SparkSession, schema: StructType,
      filters: Array[V1Filter]): Boolean =
    eqEnabled(spark) && (
      translate(schema, filters).exists { case (col, _) =>
        kindOf(schema, col).isDefined
      } || translateRange(schema, filters).exists { case (col, _, _) =>
        kindOf(schema, col).contains('l')
      })

  /** Commit the clause: one metadata snapshot, no data I/O. With a
    * session branch the clause commits to the BRANCH line (the parts
    * marked are the branch head's; main stays untouched until
    * fast_forward) — the eq path joins COW/MOR/vector DML in the
    * write-audit-publish story. */
  def deleteWhere(path: String, schema: StructType,
      filters: Array[V1Filter],
      branch: Option[String] = None): Unit = {
    val conf = ManifestSink.driverConf()
    val snapCm = ManifestLog(conf, path).snapshot(Ref.of(None, branch))
      .header.schemaCm
    // the clause column's stable field id, from the snapshot the
    // delete commits onto (the session branch's, or main's)
    def fieldId(col: String): Int = snapCm.fold(schema.fieldIndex(col)) {
      case (snap, cm) =>
        val idx = snap.fieldIndex(col)
        if (cm.ids.nonEmpty) cm.ids(idx) else idx
    }
    // the clause column's frozen initial default, raw form — parts
    // whose layout predates the column serve it for every row
    def dfltTok(col: String): Option[String] =
      ColDefaults.byName(schema, snapCm).get(col).map(_.toString)
    translate(schema, filters) match {
      case Some((col, vs)) =>
        val kind = kindOf(schema, col).getOrElse(
          throw new IllegalArgumentException(
            s"equality delete: unsupported column '$col'"))
        val clause = EqClause(col, fieldId(col), kind,
          if (kind == 'l') vs.map(_.asInstanceOf[Number].longValue.toString)
          else vs.map(_.toString))
        val dflt = dfltTok(col)
        // an IN-list of only NULLs matches nothing: commit nothing
        if (clause.values.isEmpty) return
        ManifestSink.publishRebase(conf, path,
          rebase = head => head.map { p =>
            if (mayMatch(p, clause, dflt))
              p.copy(eq = p.eq :+ clause)
            else p
          },
          HeaderChange.Keep, branch = branch, op = "delete")
      case None =>
        // RANGE delete (`ts < cutoff`, BETWEEN): one metadata commit —
        // provably-inside parts DROP, straddlers gain the 'L' clause,
        // provably-outside parts carry forward untouched
        val (col, lo, hi) = translateRange(schema, filters).getOrElse(
          throw new IllegalArgumentException(
            "equality delete requires one '='/IN predicate on a " +
              "BIGINT/STRING column, or a range conjunction on one " +
              "BIGINT column"))
        if (lo > hi) return // empty interval: matches nothing
        require(kindOf(schema, col).contains('l'),
          s"range delete: unsupported column '$col' (BIGINT only)")
        val clause = EqClause(col, fieldId(col), 'L',
          Seq(lo.toString, hi.toString))
        val dflt = dfltTok(col)
        ManifestSink.publishRebase(conf, path,
          rebase = head => head.flatMap { p =>
            rangeDisposition(p, clause, lo, hi, dflt) match {
              case 'd' => None
              case 'm' => Some(p.copy(eq = p.eq :+ clause))
              case _   => Some(p)
            }
          },
          HeaderChange.Keep, branch = branch, op = "delete")
    }
  }
}

/** INITIAL column defaults (`EXISTS_DEFAULT`) as evaluated values: a
  * part written before a defaulted column was added serves the
  * default frozen at ADD COLUMN time for every row (the Parquet reader
  * fills it; see [[ManifestSink.physicalField]]), so an equality
  * delete must judge such parts by that value. Parsed and evaluated
  * once on the driver (literal SQL → internal value, cast to the
  * column type); a non-literal or unparsable default degrades to NULL
  * rather than failing the delete. */
private[sources] object ColDefaults {
  /** field name -> evaluated internal default value, from the
    * snapshot's colmap header. */
  def byName(schema: StructType,
      snapCm: Option[(StructType, ColMap)]): Map[String, Any] =
    snapCm match {
      case Some((snap, cm)) if cm.defaults.nonEmpty =>
        snap.fields.zipWithIndex.flatMap { case (f, i) =>
          val id = cm.ids.lift(i).getOrElse(i)
          cm.defaults.get(id).map(_._2).filter(_.nonEmpty)
            .flatMap(sql => eval(sql, f.dataType))
            .map(v => f.name -> v)
        }.toMap
      case _ => Map.empty
    }

  private def eval(sql: String,
      dt: org.apache.spark.sql.types.DataType): Option[Any] =
    try {
      val e = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(sql)
      if (!e.foldable) None
      else Option(org.apache.spark.sql.catalyst.expressions
        .Cast(e, dt, Some("UTC")).eval(null))
    } catch { case scala.util.control.NonFatal(_) => None }
}
