package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Equality deletes (graft.delete.mode=eq — [[ManifestEq]]): the
  * metadata-only delete's full honesty ledger beyond what the gated
  * q_delete_eq restates — DDL survival via stable field ids, the
  * change-feed refusal, MV refresh through an eq commit, time travel,
  * DV stacking, and ANALYZE's exact null counts over masked rows. */
class EqSpec extends SparkSpec {

  private lazy val wh = {
    val d = Files.createTempDirectory("graft-eqspec").toString
    spark.conf.set("spark.sql.catalog.geq", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.geq.warehouse", d)
    d
  }

  private def eqMode[A](body: => A): A = {
    spark.conf.set("graft.delete.mode", "eq")
    try body finally spark.conf.unset("graft.delete.mode")
  }

  private def mkTable(name: String): String = {
    val _ = wh // force the lazy catalog registration first
    spark.sql(s"CREATE TABLE geq.ns.$name (k BIGINT, s STRING, " +
      "u BIGINT, v DOUBLE)")
    import spark.implicits._
    (0L until 400L).map(i => (i, s"s${i % 5}", i % 23, i * 0.5))
      .toDF("k", "s", "u", "v").repartitionByRange(4, col("k"))
      .createOrReplaceTempView(s"geq_src_$name")
    spark.sql(s"INSERT INTO geq.ns.$name SELECT * FROM geq_src_$name")
    s"$wh/ns/$name"
  }

  test("eq delete survives RENAME and DROP COLUMN (stable field ids), " +
    "stacks under a later MOR vector, and time travel sees pre-delete " +
    "rows") {
    mkTable("t1")
    val before = spark.sql("SELECT count(*) FROM geq.ns.t1").head.getLong(0)
    eqMode { spark.sql("DELETE FROM geq.ns.t1 WHERE u IN (3, 7)") }
    val expectAfterEq = 400L - (0L until 400L).count(i =>
      i % 23 == 3 || i % 23 == 7)
    def n(): Long =
      spark.sql("SELECT count(*) FROM geq.ns.t1").head.getLong(0)
    assert(n() === expectAfterEq, "clause masks matching rows")
    // RENAME the clause column: resolution is by field id, the mask
    // must keep holding under the new name
    spark.sql("ALTER TABLE geq.ns.t1 RENAME COLUMN u TO uid")
    assert(n() === expectAfterEq, "mask survives RENAME COLUMN")
    // DROP it: the bytes are still in the lines; masking still applies
    spark.sql("ALTER TABLE geq.ns.t1 DROP COLUMN uid")
    assert(n() === expectAfterEq, "mask survives DROP COLUMN")
    // a MOR vector delete STACKS on eq-pending parts
    spark.conf.set("graft.delete.mode", "mor")
    try spark.sql("DELETE FROM geq.ns.t1 WHERE k < 10")
    finally spark.conf.unset("graft.delete.mode")
    val expectBoth = (10L until 400L).count(i =>
      i % 23 != 3 && i % 23 != 7).toLong
    assert(n() === expectBoth, "DV and eq masks compose")
    // time travel to v1 (the INSERT) sees every row
    val v1 = spark.read.format("graft.sources.ManifestSource")
      .option("path", s"$wh/ns/t1").option("version", "2").load()
    assert(v1.count() === before, "pre-delete snapshot (v2, the INSERT) unaffected")
  }

  test("change feed emits TRUE row-level deletes for an eq commit " +
    "(clause evaluated at read time), and compaction restatements " +
    "never leak eq-deleted rows") {
    val dir = mkTable("t2")
    eqMode { spark.sql("DELETE FROM geq.ns.t2 WHERE s = 's1'") }
    spark.sql("CALL geq.system.compact(table => 'ns.t2', target_parts => 2)")
    val q = spark.readStream.format("graft.sources.ManifestSource")
      .option("path", dir).option("changeFeed", "true").load()
      .writeStream.format("memory").queryName("geq_cdf")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000); q.stop()
    // v2 INSERT: 400 inserts. v3 eq commit: exactly the 80 's1' rows
    // as row-level deletes. v4 compaction: a restatement pair over
    // the TRULY visible 320 rows — the eq-deleted rows appear in
    // neither side of it.
    val byKind = spark.sql("SELECT _change_type, _commit_version, " +
      "count(*) n FROM geq_cdf GROUP BY 1, 2").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(byKind === Set(("insert", 2L, 400L), ("delete", 3L, 80L),
      ("delete", 4L, 320L), ("insert", 4L, 320L)),
      s"got $byKind")
    val eqDeleted = spark.sql("SELECT DISTINCT s FROM geq_cdf " +
      "WHERE _change_type = 'delete' AND _commit_version = 3").collect()
      .map(_.getString(0)).toSeq
    assert(eqDeleted === Seq("s1"), "the eq diff is exactly the matches")
    // net replay equals the live table
    val net = spark.sql("""SELECT
      count(CASE WHEN _change_type = 'insert' THEN 1 END) -
      count(CASE WHEN _change_type = 'delete' THEN 1 END) FROM geq_cdf""")
      .head.getLong(0)
    val live = spark.sql("SELECT count(*) FROM geq.ns.t2").head.getLong(0)
    assert(net === live, "inserts minus deletes reconcile to the head")
  }

  test("branch-scoped eq delete: the clause lands on the BRANCH line, " +
    "main is untouched until fast_forward") {
    mkTable("t4")
    val mainBefore =
      spark.sql("SELECT count(*) FROM geq.ns.t4").head.getLong(0)
    spark.conf.set("graft.branch", "audit")
    try eqMode { spark.sql("DELETE FROM geq.ns.t4 WHERE u = 5") }
    finally spark.conf.unset("graft.branch")
    assert(spark.sql("SELECT count(*) FROM geq.ns.t4")
      .head.getLong(0) === mainBefore, "main untouched mid-audit")
    val branchN = spark.read.format("graft.sources.ManifestSource")
      .option("path", s"$wh/ns/t4").option("branch", "audit").load().count()
    val expect = (0L until 400L).count(_ % 23 != 5).toLong
    assert(branchN === expect, "branch serves the eq-masked rows")
    // the pure-SQL audit read: VERSION AS OF resolves the branch name
    assert(spark.sql(
      "SELECT count(*) FROM geq.ns.t4 VERSION AS OF 'audit'")
      .head.getLong(0) === expect, "VERSION AS OF 'audit' reads the branch")
    spark.sql("CALL geq.system.fast_forward(table => 'ns.t4', " +
      "branch => 'audit')")
    assert(spark.sql("SELECT count(*) FROM geq.ns.t4")
      .head.getLong(0) === expect, "publish is one metadata flip")
  }

  test("eq delete on a defaulted later-added column drops the pre-ADD " +
    "rows serving the frozen EXISTS default (string + long kinds); a " +
    "non-default value exonerates them") {
    mkTable("t5")
    spark.sql("ALTER TABLE geq.ns.t5 ADD COLUMN tag STRING DEFAULT 'legacy'")
    spark.sql("ALTER TABLE geq.ns.t5 ADD COLUMN n BIGINT DEFAULT 7")
    spark.sql("INSERT INTO geq.ns.t5 VALUES " +
      (1000L until 1010L).map(i => s"($i, 'sx', 0, 0.0, 'fresh', 9)")
        .mkString(", "))
    def n(): Long =
      spark.sql("SELECT count(*) FROM geq.ns.t5").head.getLong(0)
    assert(n() === 410L)
    // non-default clause value: pre-ADD rows serve 7, must SURVIVE
    eqMode { spark.sql("DELETE FROM geq.ns.t5 WHERE n = 9") }
    assert(n() === 400L, "default 7 != 9 exonerates every pre-ADD row")
    // the default itself as the clause value: every pre-ADD row serves
    // 'legacy' from the frozen EXISTS default and MUST be dropped —
    // before the default-aware mask this delete committed fine but
    // left all 400 rows visible (the silent failed GDPR delete)
    eqMode { spark.sql("DELETE FROM geq.ns.t5 WHERE tag = 'legacy'") }
    assert(n() === 0L, "pre-ADD rows serving the default are deleted")

    // long kind, and the change feed's eq diff enumerates the
    // default-served rows with the served value materialized
    val dir6 = mkTable("t6")
    spark.sql("ALTER TABLE geq.ns.t6 ADD COLUMN m BIGINT DEFAULT 7")
    eqMode { spark.sql("DELETE FROM geq.ns.t6 WHERE m = 7") }
    assert(spark.sql("SELECT count(*) FROM geq.ns.t6").head.getLong(0)
      === 0L, "long default matches: whole table masked")
    val q = spark.readStream.format("graft.sources.ManifestSource")
      .option("path", dir6).option("changeFeed", "true").load()
      .writeStream.format("memory").queryName("geq_cdf_dflt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000); q.stop()
    val dels = spark.sql("SELECT count(*), min(m), max(m) FROM " +
      "geq_cdf_dflt WHERE _change_type = 'delete'").head
    assert(dels.getLong(0) === 400L, "eq diff enumerates all 400")
    assert(dels.getLong(1) === 7L && dels.getLong(2) === 7L,
      "emitted deletes carry the served default value")
  }

  test("routing contract: a RANGE delete under eq mode commits range " +
    "clauses as one metadata snapshot; = and IN stay eq") {
    mkTable("t7")
    // range predicate (r17): under eq mode this is now itself a
    // metadata commit — k<10 straddles only the first range part, so
    // exactly ONE part gains the 'L' clause and no part is rewritten
    val filesBefore = spark.sql(
      "SELECT count(*) FROM geq.ns.t7.files").head.getLong(0)
    eqMode { spark.sql("DELETE FROM geq.ns.t7 WHERE k < 10") }
    assert(spark.sql("SELECT count(*) FROM geq.ns.t7").head.getLong(0)
      === 390L)
    assert(spark.sql(
      "SELECT count(*) FROM geq.ns.t7.files WHERE eq_clauses > 0")
      .head.getLong(0) === 1L,
      "a range DELETE marks exactly the straddling part")
    assert(spark.sql("SELECT count(*) FROM geq.ns.t7.files")
      .head.getLong(0) === filesBefore,
      "k<10 covers no part fully: nothing drops, nothing rewrites")
    // ...and an = delete right after still takes the metadata-only
    // eq path (clauses appear, no part file rewritten)
    val partsBefore = spark.sql(
      "SELECT count(*) FROM geq.ns.t7.files").head.getLong(0)
    eqMode { spark.sql("DELETE FROM geq.ns.t7 WHERE u = 3") }
    assert(spark.sql("SELECT coalesce(sum(eq_clauses), 0) " +
      "FROM geq.ns.t7.files").head.getLong(0) > 0L,
      "the equality shape commits clauses")
    assert(spark.sql("SELECT count(*) FROM geq.ns.t7.files")
      .head.getLong(0) === partsBefore, "eq delete rewrites no part")
    assert(spark.sql("SELECT count(*) FROM geq.ns.t7").head.getLong(0)
      === (10L until 400L).count(_ % 23 != 3).toLong)
  }

  test("range delete lifecycle: drop/mark/untouch classes, CDC across " +
    "the range commit, compaction settles the clause") {
    val dir8 = mkTable("t8")
    // 4 range parts by k: [0,99] [100,199] [200,299] [300,399].
    // k < 150 → part1 provably inside (DROPS), part2 straddles
    // (gains the 'L' clause), parts 3-4 provably outside (untouched)
    val filesBefore = spark.sql(
      "SELECT count(*) FROM geq.ns.t8.files").head.getLong(0)
    assert(filesBefore === 4L)
    eqMode { spark.sql("DELETE FROM geq.ns.t8 WHERE k < 150") }
    assert(spark.sql("SELECT count(*) FROM geq.ns.t8").head.getLong(0)
      === 250L, "150 rows retention-deleted")
    assert(spark.sql("SELECT count(*) FROM geq.ns.t8.files")
      .head.getLong(0) === 3L, "the fully-covered part dropped")
    assert(spark.sql(
      "SELECT count(*) FROM geq.ns.t8.files WHERE eq_clauses > 0")
      .head.getLong(0) === 1L, "exactly the straddler is marked")
    // BETWEEN arrives as the GE+LE conjunction — one more clause
    eqMode {
      spark.sql("DELETE FROM geq.ns.t8 WHERE k BETWEEN 350 AND 360")
    }
    assert(spark.sql("SELECT count(*) FROM geq.ns.t8").head.getLong(0)
      === 239L)
    // time travel: the pre-delete snapshot still serves all 400 rows
    val v1 = spark.read.format("graft.sources.ManifestSource")
      .option("path", dir8).option("version", 2).load().count()
    assert(v1 === 400L, "pre-delete snapshot unaffected")
    // CDC across the range commits: the dropped part's rows AND the
    // straddler's in-range rows replay as true row-level deletes
    val q = spark.readStream.format("graft.sources.ManifestSource")
      .option("path", dir8).option("changeFeed", "true").load()
      .writeStream.format("memory").queryName("geq_cdf_range")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000); q.stop()
    val dels = spark.sql("SELECT count(*), min(k), max(k) FROM " +
      "geq_cdf_range WHERE _change_type = 'delete'").head
    assert(dels.getLong(0) === 161L,
      "100 dropped-part rows + 50 straddler rows + 11 BETWEEN rows")
    assert(dels.getLong(1) === 0L && dels.getLong(2) === 360L)
    assert(spark.sql("SELECT count(*) FROM geq_cdf_range WHERE " +
      "_change_type = 'delete' AND k >= 150 AND NOT " +
      "(k BETWEEN 350 AND 360)").head.getLong(0) === 0L,
      "no survivor row replays as deleted")
    // compaction settles the pending clauses: masked rows gone from
    // the data, clause lists cleared, answer unchanged
    spark.sql("CALL geq.system.compact_vectors(table => 'ns.t8')")
    assert(spark.sql(
      "SELECT coalesce(sum(eq_clauses), 0) FROM geq.ns.t8.files")
      .head.getLong(0) === 0L, "compaction cleared the clauses")
    assert(spark.sql("SELECT count(*) FROM geq.ns.t8").head.getLong(0)
      === 239L)
    // SECONDARY-column range delete: classification rides the
    // column's ColStat min/max + null count, not the key stats —
    // u = k % 23 spans [0,22] in every part, so u < 5 marks ALL
    // parts (no drop possible) and the mask is row-exact
    val partsNow = spark.sql("SELECT count(*) FROM geq.ns.t8.files")
      .head.getLong(0)
    eqMode { spark.sql("DELETE FROM geq.ns.t8 WHERE u < 5") }
    assert(spark.sql("SELECT count(*) FROM geq.ns.t8.files")
      .head.getLong(0) === partsNow,
      "u spans every part: nothing drops, nothing rewrites")
    val expect = (150L until 400L)
      .count(k => !(k >= 350L && k <= 360L) && k % 23 >= 5)
    assert(spark.sql("SELECT count(*) FROM geq.ns.t8").head.getLong(0)
      === expect.toLong, "secondary-column interval mask is row-exact")
  }

  test("MV refresh across an eq commit restates affected groups " +
    "(snapshot algebra intact); ANALYZE over masked rows records " +
    "exact null counts") {
    val dir = mkTable("t3")
    spark.sql("CALL geq.system.create_mv(mv_table => 'ns.mv3', " +
      "source_table => 'ns.t3', key_col => 's', sum_col => 'v', " +
      "scale => 2)")
    eqMode { spark.sql("DELETE FROM geq.ns.t3 WHERE u = 11") }
    spark.sql("CALL geq.system.refresh_mv(mv_table => 'ns.mv3')")
    def direct(): Set[(String, Long, java.math.BigDecimal)] =
      spark.sql("SELECT s, count(*) n, CAST(sum(CAST(v AS " +
        "DECIMAL(30,2))) AS DECIMAL(38,2)) sv FROM geq.ns.t3 GROUP BY s")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
        .toSet
    val mv = spark.sql("SELECT s, n_rows, sum_value FROM geq.ns.mv3")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
      .toSet
    assert(mv === direct(), "MV folds the eq restatement exactly")
    // ANALYZE: null counts over SERVED rows (not the over-approximate
    // manifest visibleRows) — v has no nulls, so every part's tracked
    // null count must be 0 and stats reflect only unmasked rows
    spark.sql("CALL geq.system.analyze(table => 'ns.t3')")
    val stats = spark.sql("SELECT col_stats FROM geq.ns.t3.files")
      .collect().map(_.getString(0))
    assert(stats.nonEmpty && stats.forall(_.nonEmpty))
    val metaCount = spark.sql("SELECT count(*) FROM geq.ns.t3")
    // clauses still pending: the metadata count path must decline
    assert(!metaCount.queryExecution.executedPlan.toString
      .contains("ManifestAggScan"), "pending clauses decline meta count")
    assert(metaCount.head.getLong(0) ===
      (0L until 400L).count(_ % 23 != 11).toLong)
  }

  test("change-feed projections equal the same projection of the full " +
    "feed across append, COW, MOR and eq commits") {
    val dir = mkTable("t9")
    spark.sql("DELETE FROM geq.ns.t9 WHERE k < 40")
    spark.conf.set("graft.delete.mode", "mor")
    try spark.sql("DELETE FROM geq.ns.t9 WHERE k BETWEEN 100 AND 119")
    finally spark.conf.unset("graft.delete.mode")
    eqMode { spark.sql("DELETE FROM geq.ns.t9 WHERE s = 's2'") }
    def feed(name: String, cols: String*): Seq[String] = {
      val q = spark.readStream.format("graft.sources.ManifestSource")
        .option("path", dir).option("changeFeed", "true").load()
        .selectExpr(cols: _*)
        .writeStream.format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000); q.stop()
      spark.table(name).selectExpr(cols: _*).collect().map(_.toString)
        .toSeq.sorted
    }
    feed("geq_cdf9_all", "*")
    def fullAs(cols: String*): Seq[String] =
      spark.table("geq_cdf9_all").selectExpr(cols: _*).collect()
        .map(_.toString).toSeq.sorted
    // v2 INSERT, v3 COW, v4 MOR (vector delta), v5 eq: each commit
    // feeds deletes
    val deletes = spark.sql("SELECT DISTINCT _commit_version FROM " +
      "geq_cdf9_all WHERE _change_type = 'delete'").collect()
      .map(_.getLong(0)).toSet
    assert(deletes === Set(3L, 4L, 5L), s"got $deletes")
    for ((name, cols) <- Seq(
        "geq_cdf9_meta" -> Seq("_change_type", "_commit_version"),
        "geq_cdf9_v" -> Seq("v", "_commit_version")))
      assert(feed(name, cols: _*) === fullAs(cols: _*), cols.mkString(", "))
  }

  test("a plain read serves a data column named _change_type as data") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cdfname").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "_change_type")
      .write.format("graft.sources.ManifestSource")
      .option("path", dir).mode("overwrite").save()
    val got = spark.read.format("graft.sources.ManifestSource")
      .option("path", dir).load().orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "a"), (2L, "b")))
  }

  test("translateRange at the Long extremes: x < MinValue / x > MaxValue " +
    "canonicalize to the EMPTY interval, never the one-point extreme") {
    import org.apache.spark.sql.sources.{GreaterThan, LessThan}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val sch = StructType(Seq(StructField("ts", LongType)))
    // x < MinValue matches NOTHING; the old clamp returned
    // [MinValue, MinValue], which would delete rows AT the extreme
    val lt = ManifestEq.translateRange(sch,
      Array(LessThan("ts", Long.MinValue)))
    assert(lt.exists { case (_, lo, hi) => lo > hi },
      s"x < Long.MinValue must be the empty interval, got $lt")
    val gt = ManifestEq.translateRange(sch,
      Array(GreaterThan("ts", Long.MaxValue)))
    assert(gt.exists { case (_, lo, hi) => lo > hi },
      s"x > Long.MaxValue must be the empty interval, got $gt")
    // empty is absorbing under conjunction (max-lo/min-hi intersection)
    val both = ManifestEq.translateRange(sch,
      Array(LessThan("ts", Long.MinValue), GreaterThan("ts", 5L)))
    assert(both.exists { case (_, lo, hi) => lo > hi },
      s"empty ∧ anything must stay empty, got $both")
    // the non-degenerate bounds still canonicalize exclusively
    val norm = ManifestEq.translateRange(sch,
      Array(LessThan("ts", 10L), GreaterThan("ts", 3L)))
    assert(norm.contains(("ts", 4L, 9L)))
  }
}
