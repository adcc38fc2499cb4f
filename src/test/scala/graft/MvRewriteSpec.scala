package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._

import graft.sources.MvRewrite

/** Transparent MV routing (sources/MvRewrite): a GROUP BY rollup the
  * MV already stores is answered from the MV — the optimized plan
  * loses its Aggregate and scans the MV table — while ANY exactness
  * hazard (stale watermark, extra filter, distinct, unknown column)
  * falls back to the source untouched. Fresh-path and fallback-path
  * answers are pinned equal to the direct rollup. */
class MvRewriteSpec extends SparkSpec {

  private lazy val wh = {
    val d = Files.createTempDirectory("graft-mvrw").toString
    spark.conf.set("spark.sql.catalog.gmvr", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmvr.warehouse", d)
    d
  }

  private def rows(k0: Long, k1: Long): DataFrame = {
    import spark.implicits._
    (k0 until k1).map(i => (i, s"g${i % 7}", i * 0.5)).toDF("k", "s", "v")
  }

  private def write(df: DataFrame, mode: String): Unit =
    df.repartition(4)
      .write.format("graft.sources.ManifestSource")
      .option("path", s"$wh/ns/src")
      .mode(mode).save()

  private val rollupSql =
    """SELECT s, count(*) AS n,
      |  CAST(CAST(sum(CAST(v AS DECIMAL(30,2))) AS STRING) AS DOUBLE) AS sv
      |FROM gmvr.ns.src GROUP BY s""".stripMargin

  private def collectSet(df: DataFrame): Set[(String, Long, Double)] =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet

  private def hasAggregate(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.isInstanceOf[Aggregate])

  private def scansMv(df: DataFrame): Boolean =
    MvRewrite.readsManifestDir(df.queryExecution.optimizedPlan,
      s"$wh/ns/mv")

  private def withRule[T](body: => T): T = {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ MvRewrite
    spark.conf.set("graft.mv.rewrite", s"$wh/ns/mv")
    try body finally {
      spark.conf.unset("graft.mv.rewrite")
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == MvRewrite)
    }
  }

  test("fresh MV answers the rollup; stale falls back; refresh re-arms") {
    write(rows(0, 800), "overwrite")
    spark.sql("CALL gmvr.system.create_mv(mv_table => 'ns.mv', " +
      "source_table => 'ns.src', key_col => 's', sum_col => 'v', " +
      "scale => 2)")
    val direct = collectSet(spark.sql(rollupSql)) // un-rewritten baseline

    withRule {
      val q = spark.sql(rollupSql)
      assert(!hasAggregate(q) && scansMv(q),
        s"fresh MV must replace the aggregate:\n${q.queryExecution.optimizedPlan}")
      assert(collectSet(q) === direct, "rewritten answer must be exact")

      // STALE: a source commit the MV has not folded → full fallback,
      // and the answer includes the new rows
      write(rows(800, 900), "append")
      val stale = spark.sql(rollupSql)
      assert(hasAggregate(stale) && !scansMv(stale),
        "stale MV must fall back to the source")
      assert(collectSet(stale) !== direct, "fallback sees the new rows")

      // refresh re-arms the rewrite at the new watermark
      spark.sql("CALL gmvr.system.refresh_mv(mv_table => 'ns.mv')")
      val again = spark.sql(rollupSql)
      assert(!hasAggregate(again) && scansMv(again))
      assert(collectSet(again) === collectSet(stale),
        "post-refresh rewrite equals the direct answer over the head")
    }
  }

  test("exactness hazards decline: filter, distinct, other aggregate, wrong scale") {
    // (source + MV as left by the previous test: fresh at v2)
    withRule {
      assert(hasAggregate(spark.sql(
        rollupSql.replace("FROM gmvr.ns.src", "FROM gmvr.ns.src WHERE k > 10"))),
        "a residual filter must block the rewrite")
      assert(hasAggregate(spark.sql(
        "SELECT s, count(DISTINCT k) AS n FROM gmvr.ns.src GROUP BY s")),
        "distinct aggregates must decline")
      assert(hasAggregate(spark.sql(
        "SELECT s, max(v) AS m FROM gmvr.ns.src GROUP BY s")),
        "aggregates the MV does not store must decline")
      assert(hasAggregate(spark.sql(
        """SELECT s, count(*) AS n,
          |  CAST(CAST(sum(CAST(v AS DECIMAL(30,4))) AS STRING) AS DOUBLE) AS sv
          |FROM gmvr.ns.src GROUP BY s""".stripMargin)),
        "a different decimal scale must decline")
    }
  }

  test("downstream operators bind unchanged over the substituted plan") {
    withRule {
      // ORDER BY + projection above the rewritten aggregate: the alias
      // exprIds are preserved, so the sort binds to the MV-backed attrs
      val q = spark.sql(rollupSql + " ORDER BY n DESC, s")
      assert(!hasAggregate(q) && scansMv(q))
      val top = q.limit(3).collect()
      assert(top.length === 3 && top.map(_.getLong(1)).toSeq.sorted.reverse
        === top.map(_.getLong(1)).toSeq, "sorted by the rewritten count")
    }
  }

  test("key-predicate routing: a filter over GROUPING columns rides " +
    "the rewrite (rebound over the MV); non-key filters still decline") {
    // source + MV are fresh from the first test (watermark v2)
    withRule {
      val q = spark.sql(rollupSql.replace("FROM gmvr.ns.src",
        "FROM gmvr.ns.src WHERE s IN ('g1', 'g3')"))
      assert(!hasAggregate(q) && scansMv(q),
        s"key-only filter must route:\n${q.queryExecution.optimizedPlan}")
      val direct = collectSet(spark.sql(rollupSql))
        .filter(r => r._1 == "g1" || r._1 == "g3")
      assert(collectSet(q) === direct,
        "filtered rewrite must equal the filtered direct rollup")
      // compound key-only predicates route too
      val q2 = spark.sql(rollupSql.replace("FROM gmvr.ns.src",
        "FROM gmvr.ns.src WHERE s >= 'g2' AND s <= 'g5' AND s != 'g4'"))
      assert(!hasAggregate(q2) && scansMv(q2))
      assert(collectSet(q2) === collectSet(spark.sql(rollupSql))
        .filter(r => r._1 >= "g2" && r._1 <= "g5" && r._1 != "g4"))
      // a filter touching a NON-key column cannot commute: decline
      assert(hasAggregate(spark.sql(rollupSql.replace(
        "FROM gmvr.ns.src", "FROM gmvr.ns.src WHERE s = 'g1' AND k > 0"))),
        "a non-key reference in the filter must decline")
      assert(!scansMv(spark.sql(rollupSql.replace(
        "FROM gmvr.ns.src", "FROM gmvr.ns.src WHERE s = 'g1' AND k > 0"))),
        "the declined filter query must scan the source, not the MV")
    }
  }

  test("join MV cast hygiene: the analyzer's implicit up-cast on the " +
    "join key routes; a user-written narrowing cast declines") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.Join
    def hasJoin(df: DataFrame): Boolean =
      df.queryExecution.optimizedPlan.exists(_.isInstanceOf[Join])
    (0L until 300L).map(i => (i, i % 4, i * 0.25))
      .toDF("k", "fk", "v").repartition(2)
      .write.format("graft.sources.ManifestSource")
      .option("path", s"$wh/ns/cfact")
      .mode("overwrite").save()
    // dk is INT while fk is BIGINT — the bare equi-join carries the
    // analyzer's implicit `CAST(dk AS BIGINT)`
    (0 until 4).map(i => (i, s"c$i")).toDF("dk", "attr")
      .coalesce(1).write.format("graft.sources.ManifestSource")
      .option("path", s"$wh/ns/cdim")
      .mode("overwrite").save()
    spark.sql("CALL gmvr.system.create_mv(mv_table => 'ns.cmv', " +
      "source_table => 'ns.cfact', key_col => 'attr', sum_col => 'v', " +
      "scale => 2, dim_table => 'ns.cdim', fk_col => 'fk', " +
      "dim_key_col => 'dk')")
    def q(on: String) = spark.sql(
      s"""SELECT attr, count(*) AS n,
        |  CAST(CAST(sum(CAST(v AS DECIMAL(30,2))) AS STRING) AS DOUBLE) AS sv
        |FROM gmvr.ns.cfact f JOIN gmvr.ns.cdim d ON $on
        |GROUP BY attr""".stripMargin)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ MvRewrite
    spark.conf.set("graft.mv.rewrite", s"$wh/ns/cmv")
    try {
      val direct = collectSet(q("f.fk = d.dk"))
      val up = q("f.fk = d.dk")
      assert(!hasJoin(up),
        s"implicit up-cast join must route:\n${up.queryExecution.optimizedPlan}")
      assert(collectSet(up) === direct)
      // `ON CAST(f.fk AS INT) = d.dk` has DIFFERENT semantics for
      // out-of-range fk than the MV's defining join — must decline
      val narrowing = q("CAST(f.fk AS INT) = d.dk")
      assert(hasJoin(narrowing),
        "a user-written narrowing cast on the join key must decline:\n" +
          narrowing.queryExecution.optimizedPlan)
    } finally {
      spark.conf.unset("graft.mv.rewrite")
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == MvRewrite)
    }
  }

  test("join MV: routes the fact⋈dim rollup; stale fact, moved dim " +
    "and wrong join columns all decline") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.Join
    def hasJoin(df: DataFrame): Boolean =
      df.queryExecution.optimizedPlan.exists(_.isInstanceOf[Join])
    def writeF(df: DataFrame, mode: String): Unit = df.repartition(2)
      .write.format("graft.sources.ManifestSource")
      .option("path", s"$wh/ns/jfact")
      .mode(mode).save()
    writeF((0L until 500L).map(i => (i, i % 5, i * 0.5))
      .toDF("k", "fk", "v"), "overwrite")
    (0L until 5L).map(i => (i, s"d$i")).toDF("dk", "attr")
      .coalesce(1).write.format("graft.sources.ManifestSource")
      .option("path", s"$wh/ns/jdim")
      .mode("overwrite").save()
    spark.sql("CALL gmvr.system.create_mv(mv_table => 'ns.jmv', " +
      "source_table => 'ns.jfact', key_col => 'attr', sum_col => 'v', " +
      "scale => 2, dim_table => 'ns.jdim', fk_col => 'fk', " +
      "dim_key_col => 'dk')")
    val jq = """SELECT attr, count(*) AS n,
      |  CAST(CAST(sum(CAST(v AS DECIMAL(30,2))) AS STRING) AS DOUBLE) AS sv
      |FROM gmvr.ns.jfact f JOIN gmvr.ns.jdim d ON f.fk = d.dk
      |GROUP BY attr""".stripMargin
    val direct = collectSet(spark.sql(jq))
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ MvRewrite
    spark.conf.set("graft.mv.rewrite", s"$wh/ns/jmv")
    try {
      val fresh = spark.sql(jq)
      assert(!hasAggregate(fresh) && !hasJoin(fresh) &&
        MvRewrite.readsManifestDir(
          fresh.queryExecution.optimizedPlan, s"$wh/ns/jmv"),
        s"fresh join MV must absorb Join+Aggregate:\n" +
          fresh.queryExecution.optimizedPlan)
      assert(collectSet(fresh) === direct)
      // reversed join order still routes
      val rev = spark.sql(jq.replace(
        "gmvr.ns.jfact f JOIN gmvr.ns.jdim d",
        "gmvr.ns.jdim d JOIN gmvr.ns.jfact f"))
      assert(!hasJoin(rev) && collectSet(rev) === direct)
      // wrong join columns decline (fk joined to itself via attr col)
      assert(hasJoin(spark.sql(jq.replace("f.fk = d.dk", "f.k = d.dk"))),
        "a different equi-join column pair must decline")
      // STALE FACT declines until refresh re-arms (FK-local fold)
      writeF((500L until 600L).map(i => (i, i % 5, i * 0.5))
        .toDF("k", "fk", "v"), "append")
      val stale = spark.sql(jq)
      assert(hasJoin(stale), "stale fact must fall back to the live join")
      val r = spark.sql(
        "CALL gmvr.system.refresh_mv(mv_table => 'ns.jmv')").head
      assert(r.getInt(2) > 0 && r.getInt(3) === 0,
        "append refresh is FK-local: plus-only, no restatement")
      val reArmed = spark.sql(jq)
      assert(!hasJoin(reArmed) && collectSet(reArmed) === collectSet(stale))
      // key-predicate routing composes with the JOIN shape: a filter
      // on the dim grouping attr rides the rewrite
      val jf = spark.sql(jq.replace("GROUP BY attr",
        "WHERE attr IN ('d1', 'd3') GROUP BY attr"))
      assert(!hasJoin(jf) && !hasAggregate(jf),
        s"key filter over the join MV must route:\n" +
          jf.queryExecution.optimizedPlan)
      assert(collectSet(jf) === collectSet(spark.sql(jq))
        .filter(r => r._1 == "d1" || r._1 == "d3"))
      // MOVED DIM declines; refresh recomputes fully and re-arms
      (5L until 6L).map(i => (i, s"d$i")).toDF("dk", "attr")
        .coalesce(1).write.format("graft.sources.ManifestSource")
        .option("path", s"$wh/ns/jdim")
        .mode("append").save()
      val dimMoved = spark.sql(jq)
      assert(hasJoin(dimMoved), "a moved dim head must decline")
      val r2 = spark.sql(
        "CALL gmvr.system.refresh_mv(mv_table => 'ns.jmv')").head
      assert(r2.getInt(2) === -1 && r2.getInt(3) === -1,
        "a moved dim triggers the full recompute path")
      val after = spark.sql(jq)
      assert(!hasJoin(after) && collectSet(after) === collectSet(dimMoved))
    } finally {
      spark.conf.unset("graft.mv.rewrite")
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == MvRewrite)
    }
  }

  test("time-grain MV: routes the user's date_trunc spelling; " +
      "different grain/column/tz decline") {
    import spark.implicits._
    val src = s"$wh/tg/src"
    (0 until 600).map(i =>
        (i.toLong, new java.sql.Timestamp(1704067200000L + i * 3600000L),
          i * 0.25))
      .toDF("k", "ts", "v")
      .repartition(3)
      .write.format("graft.sources.ManifestSource")
      .option("path", src)
      .mode("overwrite").save()
    spark.sql("CALL gmvr.system.create_mv(mv_table => 'tg.mv', " +
      "source_table => 'tg.src', " +
      "key_expr => \"date_trunc(\\'day\\', ts)\", " +
      "sum_col => 'v', scale => 2)")
    val grainSql =
      """SELECT date_trunc('day', ts) AS d, count(*) AS n,
        |  CAST(CAST(sum(CAST(v AS DECIMAL(30,2))) AS STRING) AS DOUBLE)
        |    AS sv
        |FROM gmvr.tg.src GROUP BY date_trunc('day', ts)""".stripMargin
    val direct = spark.sql(grainSql).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSet
    def scansTgMv(df: DataFrame): Boolean =
      MvRewrite.readsManifestDir(df.queryExecution.optimizedPlan,
        s"$wh/tg/mv")
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ MvRewrite
    spark.conf.set("graft.mv.rewrite", s"$wh/tg/mv")
    try {
      val q = spark.sql(grainSql)
      assert(!hasAggregate(q) && scansTgMv(q),
        s"time-grain MV must route:\n${q.queryExecution.optimizedPlan}")
      assert(q.collect().map(r =>
        (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSet === direct)
      // a DIFFERENT GRAIN is a different rollup — decline, stay exact
      val hourQ = spark.sql(grainSql.replace("'day'", "'hour'"))
      assert(hasAggregate(hourQ) && !scansTgMv(hourQ),
        "hour grain must not serve the day MV")
      // a filter between aggregate and scan declines (no sound rebind
      // onto a derived key)
      val filtered = spark.sql(grainSql.replace("GROUP BY",
        "WHERE k > 10 GROUP BY"))
      assert(hasAggregate(filtered) && !scansTgMv(filtered))
      // a DIFFERENT SESSION TIMEZONE truncates to different instants
      val savedTz = spark.conf.get("spark.sql.session.timeZone")
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      try {
        val tzQ = spark.sql(grainSql)
        assert(hasAggregate(tzQ) && !scansTgMv(tzQ),
          "a differing session timezone must decline")
      } finally spark.conf.set("spark.sql.session.timeZone", savedTz)
      // append → stale → fold re-arms; the folded state routes again
      Seq((9000L, new java.sql.Timestamp(1704067200000L + 700L * 3600000L),
          2.5))
        .toDF("k", "ts", "v")
        .write.format("graft.sources.ManifestSource")
        .option("path", src)
        .mode("append").save()
      assert(hasAggregate(spark.sql(grainSql)), "stale MV must decline")
      val st = spark.sql(
        "CALL gmvr.system.refresh_mv(mv_table => 'tg.mv')").head
      assert(st.getInt(2) === 1 && st.getInt(3) === 0,
        s"append must FOLD (plus-only): $st")
      val q2 = spark.sql(grainSql)
      assert(!hasAggregate(q2) && scansTgMv(q2))
      // folded state is exact: every source row accounted for
      assert(q2.agg(sum(col("n"))).head.getLong(0) === 601L)
    } finally {
      spark.conf.unset("graft.mv.rewrite")
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == MvRewrite)
    }
  }
}
