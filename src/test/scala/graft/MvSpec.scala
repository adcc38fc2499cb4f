package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Materialized views with incremental refresh (sources/ManifestMv +
  * the create_mv/refresh_mv procedures): after EVERY mutation kind
  * the format can express — append, MOR vector delete, compaction —
  * the refreshed MV must equal the direct rollup BIT-FOR-BIT
  * (decimal partials are associative), caught-up refreshes must
  * commit nothing, and a refresh that crashes or loses a race at its
  * claim must leave the MV and its watermark consistent. */
class MvSpec extends SparkSpec {

  private lazy val wh = {
    val d = Files.createTempDirectory("graft-mvspec").toString
    spark.conf.set("spark.sql.catalog.gmv", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmv.warehouse", d)
    d
  }

  private def conf0 = spark.sessionState.newHadoopConf()

  private def rows(k0: Long, k1: Long): DataFrame = {
    import spark.implicits._
    (k0 until k1).map(i => (i, s"g${i % 5}", i * 0.25)).toDF("k", "s", "v")
  }

  private def write(df: DataFrame, path: String, mode: String): Unit =
    df.repartition(4)
      .write.format("graft.sources.ManifestSource")
      .option("path", path).mode(mode).save()

  /** (group, n, sum) set from any frame with (s, v). */
  private def direct(df: DataFrame): Set[(String, Long, java.math.BigDecimal)] =
    df.groupBy(col("s"))
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast(DecimalType(30, 2))).as("sv"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2))).toSet

  private def mvContent(): Set[(String, Long, java.math.BigDecimal)] =
    spark.sql("SELECT s, n_rows, sum_value FROM gmv.ns.mv").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2))).toSet

  private def srcDf = spark.sql("SELECT k, s, v FROM gmv.ns.src")
  private def mvVersions: Seq[Int] =
    graft.sources.ManifestLog(conf0, s"$wh/ns/mv").versions

  test("create, refresh across append / MOR delete / compaction") {
    write(rows(0, 1000), s"$wh/ns/src", "overwrite")
    val created = spark.sql("CALL gmv.system.create_mv(" +
      "mv_table => 'ns.mv', source_table => 'ns.src', " +
      "key_col => 's', sum_col => 'v', scale => 2)").head
    assert(created.getInt(0) === 1, "created at source v1")
    assert(created.getLong(1) === 5L, "five groups")
    assert(mvContent() === direct(srcDf))

    // caught-up refresh: no delta, no new MV commit
    val v0 = mvVersions
    val noop = spark.sql("CALL gmv.system.refresh_mv(mv_table => 'ns.mv')").head
    assert(noop.getInt(0) === 1 && noop.getInt(1) === 1)
    assert(mvVersions === v0, "caught-up refresh must not commit")

    // APPEND: delta = the new parts only
    write(rows(1000, 1400), s"$wh/ns/src", "append")
    val r1 = spark.sql("CALL gmv.system.refresh_mv(mv_table => 'ns.mv')").head
    assert(r1.getInt(0) === 1 && r1.getInt(1) === 2)
    assert(r1.getInt(2) === 4 && r1.getInt(3) === 0,
      s"append folds 4 plus-parts, 0 minus: $r1")
    assert(mvContent() === direct(srcDf))

    // MOR DELETE: the vector-changed parts restate (−old, +new)
    spark.conf.set("graft.delete.mode", "mor")
    try spark.sql("DELETE FROM gmv.ns.src WHERE s = 'g1'")
    finally spark.conf.unset("graft.delete.mode")
    val r2 = spark.sql("CALL gmv.system.refresh_mv(mv_table => 'ns.mv')").head
    assert(r2.getInt(1) === 3)
    assert(r2.getInt(2) === r2.getInt(3),
      s"vector change restates the same parts on both sides: $r2")
    assert(mvContent() === direct(srcDf))
    assert(!mvContent().exists(_._1 == "g1"), "emptied group dropped")

    // COMPACTION: parts change, rows don't — the delta nets to zero
    spark.sql("CALL gmv.system.compact(table => 'ns.src', target_parts => 2)")
    val r3 = spark.sql("CALL gmv.system.refresh_mv(mv_table => 'ns.mv')").head
    assert(r3.getInt(1) === 4)
    assert(mvContent() === direct(srcDf))
  }

  test("minmax_col: appends FOLD, a delete of a group's extreme " +
    "recomputes only the affected groups — bit-exact vs recompute") {
    write(rows(0, 1000), s"$wh/ns/src3", "overwrite")
    spark.sql("CALL gmv.system.create_mv(" +
      "mv_table => 'ns.mv3', source_table => 'ns.src3', " +
      "key_col => 's', sum_col => 'v', scale => 2, minmax_col => 'k')")
    def directMM(df: DataFrame): Set[(String, Long, java.math.BigDecimal,
        Long, Long)] =
      df.groupBy(col("s"))
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast(DecimalType(30, 2))).as("sv"),
          min(col("k")).as("mn"), max(col("k")).as("mx"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2),
          r.getLong(3), r.getLong(4))).toSet
    def mv3(): Set[(String, Long, java.math.BigDecimal, Long, Long)] =
      spark.sql("SELECT s, n_rows, sum_value, min_value, max_value " +
        "FROM gmv.ns.mv3").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2),
          r.getLong(3), r.getLong(4))).toSet
    def src3 = spark.sql("SELECT k, s, v FROM gmv.ns.src3")
    assert(mv3() === directMM(src3), "create materializes min/max")

    // APPEND above the current maxima: pure fold (minus = 0), every
    // group's max moves, min stays
    write(rows(1000, 1400), s"$wh/ns/src3", "append")
    val r1 = spark.sql("CALL gmv.system.refresh_mv(mv_table => 'ns.mv3')").head
    assert(r1.getInt(3) === 0, s"append must fold, not restate: $r1")
    assert(mv3() === directMM(src3))
    assert(mv3().find(_._1 == "g0").exists(t => t._4 === 0L && t._5 === 1395L))

    // COW DELETE of g0's current MIN (k = 0): g0 must recompute its
    // min from the live head (5), untouched groups keep theirs
    spark.sql("DELETE FROM gmv.ns.src3 WHERE k = 0")
    val r2 = spark.sql("CALL gmv.system.refresh_mv(mv_table => 'ns.mv3')").head
    assert(r2.getInt(3) > 0, s"COW delete restates parts: $r2")
    assert(mv3() === directMM(src3))
    assert(mv3().find(_._1 == "g0").exists(_._4 === 5L),
      "deleted extreme must be recomputed away")
    assert(mv3().find(_._1 == "g1").exists(_._4 === 1L),
      "untouched group keeps its extreme")

    // MOR DELETE clearing a whole tail range: maxima recompute
    spark.conf.set("graft.delete.mode", "mor")
    try spark.sql("DELETE FROM gmv.ns.src3 WHERE k >= 1200")
    finally spark.conf.unset("graft.delete.mode")
    spark.sql("CALL gmv.system.refresh_mv(mv_table => 'ns.mv3')")
    assert(mv3() === directMM(src3))

    // COMPACTION nets to zero — min/max unchanged
    spark.sql("CALL gmv.system.compact(table => 'ns.src3', target_parts => 2)")
    spark.sql("CALL gmv.system.refresh_mv(mv_table => 'ns.mv3')")
    assert(mv3() === directMM(src3))
  }

  /** Arm [[MvClaimFs]] for the MV at `mvDir` around `body`. */
  private def withClaimHook[T](mvDir: String, hook: MvClaimFs.Hook)(
      body: => T): T = {
    spark.conf.set("fs.file.impl", classOf[MvClaimFs].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    MvClaimFs.dir = new org.apache.hadoop.fs.Path(mvDir).toUri.getPath
    MvClaimFs.hook.set(hook)
    try body finally {
      MvClaimFs.hook.set(null)
      spark.conf.unset("fs.file.impl")
      spark.conf.unset("fs.file.impl.disable.cache")
    }
  }

  private def mvHead(mv: String): graft.sources.Snapshot =
    graft.sources.ManifestLog(conf0, s"$wh/ns/$mv").snapshot()

  private def content(mv: String) =
    spark.sql(s"SELECT s, n_rows, sum_value FROM gmv.ns.$mv").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2))).toSet

  test("a refresh that fails its MV claim changes nothing; the next one catches up") {
    write(rows(0, 500), s"$wh/ns/src2", "overwrite")
    spark.sql("CALL gmv.system.create_mv(" +
      "mv_table => 'ns.mv2', source_table => 'ns.src2', " +
      "key_col => 's', sum_col => 'v', scale => 2)")
    val before = mvHead("mv2")
    val beforeRows = content("mv2")

    write(rows(500, 700), s"$wh/ns/src2", "append")
    // the crash window: the rollup is staged, the claim never lands
    val ex = intercept[Exception] {
      withClaimHook(s"$wh/ns/mv2", MvClaimFs.Hook(MvClaimFs.BeforeRename,
        () => throw new java.io.IOException("claim lost"))) {
        spark.sql("CALL gmv.system.refresh_mv(mv_table => 'ns.mv2')")
      }
    }
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage == "claim lost"), ex.toString)
    val after = mvHead("mv2")
    assert(after.version === before.version)
    assert(after.op === "create-mv")
    assert(content("mv2") === beforeRows)

    // the watermark the head carries is still the create's: source v1
    val r = spark.sql("CALL gmv.system.refresh_mv(mv_table => 'ns.mv2')").head
    assert(r.getInt(0) === 1 && r.getInt(1) === 2, s"$r")
    val src2 = spark.sql("SELECT k, s, v FROM gmv.ns.src2")
    assert(content("mv2") === direct(src2))
    assert(spark.sql("SELECT operation FROM gmv.ns.mv2.history " +
      "ORDER BY version").collect().map(_.getString(0)).toSeq ===
      Seq("create-mv", "refresh-mv"))
  }

  test("MV maintenance keeps the watermark: compact and expire_snapshots " +
    "on the MV, then refresh, equals the direct rollup") {
    write(rows(0, 500), s"$wh/ns/src7", "overwrite")
    spark.sql("CALL gmv.system.create_mv(" +
      "mv_table => 'ns.mv7', source_table => 'ns.src7', " +
      "key_col => 's', sum_col => 'v', scale => 2)")
    spark.sql("CALL gmv.system.compact(table => 'ns.mv7', target_parts => 1)")
    assert(mvHead("mv7").version === 2, "compaction must commit")
    spark.sql("CALL gmv.system.expire_snapshots(table => 'ns.mv7', " +
      "keep_last => 1)")
    assert(graft.sources.ManifestLog(conf0, s"$wh/ns/mv7").versions === Seq(2))
    write(rows(500, 700), s"$wh/ns/src7", "append")
    spark.sql("CALL gmv.system.refresh_mv(mv_table => 'ns.mv7')")
    assert(content("mv7") === direct(spark.sql("SELECT k, s, v FROM gmv.ns.src7")))
  }

  test("a refresh raced at its MV claim by an append and a second " +
    "refresh leaves the MV equal to the direct rollup") {
    write(rows(0, 500), s"$wh/ns/src8", "overwrite")
    spark.sql("CALL gmv.system.create_mv(" +
      "mv_table => 'ns.mv8', source_table => 'ns.src8', " +
      "key_col => 's', sum_col => 'v', scale => 2)")
    write(rows(500, 600), s"$wh/ns/src8", "append")
    withClaimHook(s"$wh/ns/mv8", MvClaimFs.Hook(MvClaimFs.AfterRename, { () =>
      write(rows(600, 700), s"$wh/ns/src8", "append")
      spark.sql("CALL gmv.system.refresh_mv(mv_table => 'ns.mv8')")
    })) {
      spark.sql("CALL gmv.system.refresh_mv(mv_table => 'ns.mv8')")
    }
    spark.sql("CALL gmv.system.refresh_mv(mv_table => 'ns.mv8')")
    assert(content("mv8") === direct(spark.sql("SELECT k, s, v FROM gmv.ns.src8")))
  }

  test("a refresh whose MV head moves before its claim fails loudly " +
    "and leaves the winner's MV, watermark and rows") {
    write(rows(0, 500), s"$wh/ns/src9", "overwrite")
    spark.sql("CALL gmv.system.create_mv(" +
      "mv_table => 'ns.mv9', source_table => 'ns.src9', " +
      "key_col => 's', sum_col => 'v', scale => 2)")
    write(rows(500, 600), s"$wh/ns/src9", "append")
    var won: Set[(String, Long, java.math.BigDecimal)] = Set.empty
    // between the refresh's MV head read and its claim, an append and
    // a second refresh land: the first refresh's fold (source v1→v2
    // onto MV v1) is stale
    val ex = intercept[Exception] {
      withClaimHook(s"$wh/ns/mv9", MvClaimFs.Hook(MvClaimFs.Probe, { () =>
        write(rows(600, 700), s"$wh/ns/src9", "append")
        spark.sql("CALL gmv.system.refresh_mv(mv_table => 'ns.mv9')")
        won = content("mv9")
      })) {
        spark.sql("CALL gmv.system.refresh_mv(mv_table => 'ns.mv9')")
      }
    }
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[java.util.ConcurrentModificationException]),
      ex.toString)
    val after = mvHead("mv9")
    assert(after.version === 2 && after.op === "refresh-mv")
    val src9 = spark.sql("SELECT k, s, v FROM gmv.ns.src9")
    assert(won === direct(src9))
    assert(content("mv9") === won)
    // the head's watermark is the winner's: source v3, nothing to fold
    val r = spark.sql("CALL gmv.system.refresh_mv(mv_table => 'ns.mv9')").head
    assert(r.getInt(0) === 3 && r.getInt(1) === 3, s"$r")
    assert(mvHead("mv9").version === 2, "a caught-up refresh commits nothing")
  }

  test("multi-key MV: per-key null-safe folds, group-scoped recompute " +
    "includes NULL-keyed groups, routing matches keys in any order") {
    import spark.implicits._
    // s is NULL for every fifth row — NULL is a real composite-group
    // member on both the fold and the recompute path
    def rows2(k0: Long, k1: Long): DataFrame =
      (k0 until k1).map { i =>
        (i, if (i % 5 == 4) null else s"g${i % 5}", i % 2, i * 0.25)
      }.toDF("k", "s", "p", "v")
    write(rows2(0, 1000), s"$wh/ns/src4", "overwrite")
    spark.sql("CALL gmv.system.create_mv(" +
      "mv_table => 'ns.mv4', source_table => 'ns.src4', " +
      "key_col => 's,p', sum_col => 'v', scale => 2, minmax_col => 'k')")
    def directMK(df: DataFrame): Set[(String, Long, Long,
        java.math.BigDecimal, Long, Long)] =
      df.groupBy(col("s"), col("p"))
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast(DecimalType(30, 2))).as("sv"),
          min(col("k")).as("mn"), max(col("k")).as("mx"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDecimal(3), r.getLong(4), r.getLong(5))).toSet
    def mv4(): Set[(String, Long, Long, java.math.BigDecimal, Long, Long)] =
      spark.sql("SELECT s, p, n_rows, sum_value, min_value, max_value " +
        "FROM gmv.ns.mv4").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDecimal(3), r.getLong(4), r.getLong(5))).toSet
    def src4 = spark.sql("SELECT k, s, p, v FROM gmv.ns.src4")
    assert(mv4() === directMK(src4), "create materializes composite groups")

    // append: pure fold, NULL-keyed composite groups fold too
    write(rows2(1000, 1400), s"$wh/ns/src4", "append")
    val r1 = spark.sql("CALL gmv.system.refresh_mv(mv_table => 'ns.mv4')").head
    assert(r1.getInt(3) === 0, s"append must fold, not restate: $r1")
    assert(mv4() === directMK(src4))

    // MOR delete of the tail: clips the MAX of every composite group
    // including (NULL, p) — the null-safe semi-join must pick those
    // groups up for the scoped recompute
    spark.conf.set("graft.delete.mode", "mor")
    try spark.sql("DELETE FROM gmv.ns.src4 WHERE k >= 1390")
    finally spark.conf.unset("graft.delete.mode")
    val r2 = spark.sql("CALL gmv.system.refresh_mv(mv_table => 'ns.mv4')").head
    assert(r2.getInt(3) > 0, s"vector delete restates parts: $r2")
    assert(mv4() === directMK(src4),
      "NULL-keyed groups must restate their extremes exactly")

    // routing: GROUP BY in REVERSED key order still routes; a SUBSET
    // of the keys must decline (coarser rollup needs re-aggregation)
    spark.conf.set("graft.mv.rewrite", s"$wh/ns/mv4")
    try {
      def hasAgg(df: DataFrame) = df.queryExecution.optimizedPlan.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate])
      val routed = spark.sql(
        "SELECT p, s, count(*) AS n, min(k) AS mn FROM gmv.ns.src4 " +
          "GROUP BY p, s")
      assert(!hasAgg(routed), "reversed key order must route")
      val expect = src4.groupBy(col("p"), col("s"))
        .agg(count(lit(1)).as("n"), min(col("k")).as("mn"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(routed.collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), r.getLong(3))).toSet === expect)
      // a SUBSET of the keys routes as a RE-AGGREGATION over the MV:
      // the plan keeps an Aggregate, but its input is the MV's
      // O(groups) state — the source table is absent from the plan —
      // and counts/sums/extremes fold exactly
      val subset = spark.sql(
        "SELECT s, count(*) AS n, min(k) AS mn, max(k) AS mx " +
          "FROM gmv.ns.src4 GROUP BY s")
      val subPlan = subset.queryExecution.optimizedPlan.toString
      assert(subPlan.contains("/ns/mv4") && !subPlan.contains("/ns/src4"),
        s"key-subset rollup must re-aggregate the MV:\n$subPlan")
      val subExpect = src4.groupBy(col("s"))
        .agg(count(lit(1)).as("n"), min(col("k")).as("mn"),
          max(col("k")).as("mx"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(subset.collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2), r.getLong(3))).toSet === subExpect,
        "re-aggregated drill-up equals the from-scratch restatement")
      // a GLOBAL rollup (empty grouping) still declines MV routing:
      // there is no key left to re-aggregate on, and an empty MV
      // would fold count to NULL instead of 0. (The plan may still
      // lose its Aggregate — to the engine's own metadata-count
      // pushdown, which answers from the manifest, never the MV.)
      assert(!spark.sql("SELECT count(*) AS n FROM gmv.ns.src4")
        .queryExecution.optimizedPlan.toString.contains("/ns/mv4"),
        "global rollup must not route to the MV")
      // DISTINCT at coarser grain must decline (not foldable)
      val subDistinct = spark.sql(
        "SELECT s, count(DISTINCT p) AS n FROM gmv.ns.src4 GROUP BY s")
      assert(!subDistinct.queryExecution.optimizedPlan.toString
        .contains("/ns/mv4"), "coarser DISTINCT must decline")
    } finally spark.conf.unset("graft.mv.rewrite")
  }

  test("sketch drill-up: a coarser grouping folds the stored sketches " +
    "via hll_union_agg (register union, sparse-mode exact) with the " +
    "source absent from the plan") {
    import spark.implicits._
    def rows6(k0: Long, k1: Long): DataFrame =
      (k0 until k1).map { i =>
        (i, s"g${i % 3}", i % 2, i % 53, i * 0.25)
      }.toDF("k", "s", "p", "d", "v")
    write(rows6(0, 900), s"$wh/ns/src6", "overwrite")
    spark.sql("CALL gmv.system.create_mv(mv_table => 'ns.mv6', " +
      "source_table => 'ns.src6', key_col => 's,p', sum_col => 'v', " +
      "scale => 2, distinct_col => 'd')")
    spark.conf.set("graft.mv.rewrite", s"$wh/ns/mv6")
    try {
      val q = spark.sql("SELECT s, count(*) AS n, " +
        "hll_sketch_estimate(hll_sketch_agg(d)) AS e " +
        "FROM gmv.ns.src6 GROUP BY s")
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("/ns/mv6") && !plan.contains("/ns/src6"),
        s"sketch drill-up must re-aggregate the MV:\n$plan")
      // truth side computed with routing disarmed
      spark.conf.unset("graft.mv.rewrite")
      val expect = try spark.sql("SELECT s, count(*) AS n, " +
        "hll_sketch_estimate(hll_sketch_agg(d)) AS e " +
        "FROM gmv.ns.src6 GROUP BY s").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      finally spark.conf.set("graft.mv.rewrite", s"$wh/ns/mv6")
      assert(q.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).toSet === expect,
        "sparse-mode union fold equals the direct estimate exactly")
    } finally spark.conf.unset("graft.mv.rewrite")
  }

  test("distinct_col sketch: maintained estimate equals direct recompute " +
    "after append-fold and delete-recompute; lgConfigK/COUNT DISTINCT " +
    "decline routing") {
    import spark.implicits._
    // d deliberately repeats within and ACROSS groups and deltas, and
    // s is NULL every fifth row so the NULL group rides the sketch
    // paths too
    def rows5(k0: Long, k1: Long): DataFrame =
      (k0 until k1).map { i =>
        (i, if (i % 5 == 4) null else s"g${i % 5}", i % 97, i * 0.25)
      }.toDF("k", "s", "d", "v")
    write(rows5(0, 1200), s"$wh/ns/src5", "overwrite")
    spark.sql("CALL gmv.system.create_mv(" +
      "mv_table => 'ns.mv5', source_table => 'ns.src5', " +
      "key_col => 's', sum_col => 'v', scale => 2, " +
      "distinct_col => 'd')")
    def directEst(): Map[String, Long] =
      spark.sql("SELECT s, hll_sketch_estimate(hll_sketch_agg(d)) e " +
        "FROM gmv.ns.src5 GROUP BY s").collect()
        .map(r => Option(r.getString(0)).getOrElse(" ") -> r.getLong(1))
        .toMap
    def mvEst(): Map[String, Long] =
      spark.sql("SELECT s, hll_sketch_estimate(ndv_sketch) e " +
        "FROM gmv.ns.mv5").collect()
        .map(r => Option(r.getString(0)).getOrElse(" ") -> r.getLong(1))
        .toMap
    assert(mvEst() === directEst(), "create materializes the sketches")

    // append: sketch fold is a register-wise union — estimate must
    // equal the from-scratch sketch exactly, not approximately
    write(rows5(1200, 1500), s"$wh/ns/src5", "append")
    val r1 = spark.sql("CALL gmv.system.refresh_mv(mv_table => 'ns.mv5')").head
    assert(r1.getInt(3) === 0, s"append must fold: $r1")
    assert(mvEst() === directEst(), "union-fold == direct recompute")

    // MOR delete: you cannot remove a value from an HLL — affected
    // groups (every group here, incl. NULL-keyed) recompute scoped
    spark.conf.set("graft.delete.mode", "mor")
    try spark.sql("DELETE FROM gmv.ns.src5 WHERE d >= 90")
    finally spark.conf.unset("graft.delete.mode")
    val r2 = spark.sql("CALL gmv.system.refresh_mv(mv_table => 'ns.mv5')").head
    assert(r2.getInt(3) > 0, s"vector delete restates parts: $r2")
    assert(mvEst() === directEst(),
      "post-delete sketches restate (group-scoped recompute)")

    // routing: the user's spelling routes; a different lgConfigK is a
    // different-precision answer and declines; COUNT(DISTINCT) is an
    // exact answer the sketch cannot serve and declines
    spark.conf.set("graft.mv.rewrite", s"$wh/ns/mv5")
    try {
      def hasAgg(df: DataFrame) = df.queryExecution.optimizedPlan.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate])
      val routed = spark.sql("SELECT s, count(*) n, " +
        "hll_sketch_estimate(hll_sketch_agg(d)) e " +
        "FROM gmv.ns.src5 GROUP BY s")
      assert(!hasAgg(routed), "default-lgK sketch estimate must route")
      // the truth side computes with routing DISARMED (conf unset
      // around the collect), so served-vs-direct is a real compare
      spark.conf.unset("graft.mv.rewrite")
      val expect = try spark.sql(
        "SELECT s, count(*) n, hll_sketch_estimate(hll_sketch_agg(d)) e " +
          "FROM gmv.ns.src5 GROUP BY s").collect()
        .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet
      finally spark.conf.set("graft.mv.rewrite", s"$wh/ns/mv5")
      assert(routed.collect().map(r =>
        (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet
        === expect)
      val otherK = spark.sql("SELECT s, " +
        "hll_sketch_estimate(hll_sketch_agg(d, 14)) e " +
        "FROM gmv.ns.src5 GROUP BY s")
      assert(hasAgg(otherK), "non-maintained lgConfigK must decline")
      val exact = spark.sql(
        "SELECT s, count(DISTINCT d) e FROM gmv.ns.src5 GROUP BY s")
      assert(hasAgg(exact), "COUNT(DISTINCT) must decline (exact answer)")
    } finally spark.conf.unset("graft.mv.rewrite")
  }
}

/** A checksummed local filesystem that runs one armed hook at a
  * version claim of the MV at [[MvClaimFs.dir]]: at its free-slot
  * probe (to move the head under it), before its rename (to fail the
  * claim) or after it (to run a second refresh once it landed). */
class MvClaimFs extends org.apache.hadoop.fs.LocalFileSystem {
  import MvClaimFs._
  private def armed(p: org.apache.hadoop.fs.Path, at: At): Option[Hook] =
    if (p.getName.matches("""_MANIFEST\.v\d+\.json""") &&
        p.getParent.toUri.getPath == dir &&
        Option(hook.get).exists(_.at == at))
      Option(hook.getAndSet(null))
    else None

  override def exists(f: org.apache.hadoop.fs.Path): Boolean = {
    if (!super.exists(f)) armed(f, Probe).foreach(_.run())
    super.exists(f)
  }
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = {
    armed(dst, BeforeRename).foreach(_.run())
    val hook = armed(dst, AfterRename)
    val renamed = super.rename(src, dst)
    hook.foreach(_.run())
    renamed
  }
}

object MvClaimFs {
  /** Where a hook runs: at the claim's probe for its free version
    * file (between the refresh's head read and its claim), or just
    * before or after the claim's rename. */
  sealed trait At
  case object Probe extends At
  case object BeforeRename extends At
  case object AfterRename extends At
  final case class Hook(at: At, run: () => Unit)
  @volatile var dir: String = ""
  val hook = new java.util.concurrent.atomic.AtomicReference[Hook]()
}
