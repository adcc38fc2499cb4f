package graft.sources

import java.nio.file.Files

import graft.SparkSpec

/** Multi-table atomic commit ([[ManifestTxn]]) — the catalog-level
  * transaction contract q_txn_multi's gate cannot pin alone:
  *
  *  - all-or-nothing: any pre-marker failure (unstaged table, fork
  *    base moved) leaves EVERY table at its prior snapshot;
  *  - the marker is the commit point: a crash after it is completed
  *    by an idempotent roll-forward (re-runs are no-ops);
  *  - each table's publish lands EXACTLY ONE version labeled
  *    `txn:<id>` on top of its fork base;
  *  - a foreign commit stealing the roll-forward slot fails recovery
  *    LOUDLY, never a silent partial publish.
  */
class TxnSpec extends SparkSpec {

  private def conf = spark.sessionState.newHadoopConf()

  private def freshWh(tag: String): String = {
    val wh = Files.createTempDirectory(s"graft-txn-$tag-").toString
    spark.conf.set(s"spark.sql.catalog.gtx$tag", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.gtx$tag.warehouse", wh)
    wh
  }

  /** Two tables, each with one main commit; returns their dirs. */
  private def fixture(cat: String, wh: String): (String, String) = {
    import spark.implicits._
    spark.sql(s"CREATE TABLE $cat.ns.ta (k BIGINT, v BIGINT)")
    spark.sql(s"CREATE TABLE $cat.ns.tb (k BIGINT, s STRING)")
    (0L until 100L).map(i => (i, i * 2)).toDF("k", "v")
      .createOrReplaceTempView(s"${cat}_a")
    (0L until 50L).map(i => (i, s"s$i")).toDF("k", "s")
      .createOrReplaceTempView(s"${cat}_b")
    spark.sql(s"INSERT INTO $cat.ns.ta SELECT * FROM ${cat}_a")
    spark.sql(s"INSERT INTO $cat.ns.tb SELECT * FROM ${cat}_b")
    (s"$wh/ns/ta", s"$wh/ns/tb")
  }

  private def stage(dir: String, branch: String, n: Long,
      str: Boolean): Unit = {
    import spark.implicits._
    val df = if (str) (1000L until 1000L + n).map(i => (i, s"s$i")).toDF("k", "s")
      else (1000L until 1000L + n).map(i => (i, i * 2)).toDF("k", "v")
    df.coalesce(1).write.format("graft.sources.ManifestSource")
      .option("path", dir)
      .option("branch", branch).mode("append").save()
  }

  private def headV(dir: String): Int =
    ManifestLog(conf, dir).versions.lastOption.getOrElse(0)

  test("happy path: one marker, both tables advance exactly one " +
    "txn-labeled version, branches cleaned") {
    val wh = freshWh("a")
    val (ta, tb) = fixture("gtxa", wh)
    stage(ta, "txn-e1", 10, str = false)
    stage(tb, "txn-e1", 5, str = true)
    val (vA, vB) = (headV(ta), headV(tb))
    val published = ManifestTxn.commit(conf, wh, "e1", Seq(ta, tb))
    assert(published === 2)
    assert(headV(ta) === vA + 1 && headV(tb) === vB + 1,
      "exactly one new version per table")
    assert(ManifestLog(conf, ta).snapshot(Ref.At(vA + 1)).op === "txn:e1")
    assert(ManifestLog(conf, tb).snapshot(Ref.At(vB + 1)).op === "txn:e1")
    assert(spark.sql("SELECT count(*) FROM gtxa.ns.ta").head.getLong(0)
      === 110L)
    assert(spark.sql("SELECT count(*) FROM gtxa.ns.tb").head.getLong(0)
      === 55L)
    assert(ManifestLog(conf, ta).branchVersions("txn-e1").isEmpty &&
      ManifestLog(conf, tb).branchVersions("txn-e1").isEmpty,
      "published txn branches are dropped")
    // the id cannot re-commit
    stage(ta, "txn-e1", 1, str = false)
    intercept[IllegalStateException] {
      ManifestTxn.commit(conf, wh, "e1", Seq(ta))
    }
  }

  test("pre-marker abort: a declared-but-unstaged table fails the " +
    "whole txn and NEITHER table advances") {
    val wh = freshWh("b")
    val (ta, tb) = fixture("gtxb", wh)
    val (vA, vB) = (headV(ta), headV(tb))
    stage(ta, "txn-e2", 10, str = false) // tb deliberately NOT staged
    val ex = intercept[IllegalArgumentException] {
      ManifestTxn.commit(conf, wh, "e2", Seq(ta, tb))
    }
    assert(ex.getMessage.contains("no staged commits"))
    assert(headV(ta) === vA && headV(tb) === vB,
      "pre-marker failure must leave every table at its prior snapshot")
    assert(ManifestTxn.rollForward(conf, wh, "e2") === 0,
      "no marker was claimed, so recovery has nothing to do")
  }

  test("pre-marker abort: a fork base moved by a concurrent main " +
    "commit aborts the txn with every table untouched by it") {
    import spark.implicits._
    val wh = freshWh("c")
    val (ta, tb) = fixture("gtxc", wh)
    val (vA, vB) = (headV(ta), headV(tb))
    stage(ta, "txn-e3", 10, str = false)
    stage(tb, "txn-e3", 5, str = true)
    // foreign main commit on tb between stage and commit
    (5000L until 5003L).map(i => (i, s"x$i")).toDF("k", "s")
      .coalesce(1).write.format("graft.sources.ManifestSource")
      .option("path", tb)
      .mode("append").save()
    intercept[java.util.ConcurrentModificationException] {
      ManifestTxn.commit(conf, wh, "e3", Seq(ta, tb))
    }
    assert(headV(ta) === vA, "ta must not publish when tb's fork moved")
    assert(headV(tb) === vB + 1)
  }

  test("crash between marker and roll-forward: recovery completes " +
    "both tables; a second recovery is a no-op") {
    val wh = freshWh("d")
    val (ta, tb) = fixture("gtxd", wh)
    val (vA, vB) = (headV(ta), headV(tb))
    stage(ta, "txn-e4", 10, str = false)
    stage(tb, "txn-e4", 5, str = true)
    // phase 2 only — the marker claims, then the process "crashes"
    ManifestTxn.stageMarker(conf, wh, "e4", Seq(ta, tb))
    assert(headV(ta) === vA && headV(tb) === vB,
      "marker alone publishes nothing table-side yet")
    assert(ManifestTxn.rollForward(conf, wh, "e4") === 2,
      "recovery completes the committed txn")
    assert(ManifestLog(conf, ta).snapshot(Ref.At(vA + 1)).op === "txn:e4")
    assert(ManifestLog(conf, tb).snapshot(Ref.At(vB + 1)).op === "txn:e4")
    assert(ManifestTxn.rollForward(conf, wh, "e4") === 0,
      "recovery is idempotent (marker archived)")
  }

  test("replayed epoch: abortStaged drops a crashed attempt's staged " +
    "branch so re-staging cannot double-publish; refuses once committed") {
    val wh = freshWh("f")
    val (ta, tb) = fixture("gtxf", wh)
    // crashed attempt staged ta only (crash before tb / commit point)
    stage(ta, "txn-e6", 10, str = false)
    // replay protocol: probe committed → abort stale → stage cleanly
    assert(!ManifestTxn.isCommitted(conf, wh, "e6"))
    assert(ManifestTxn.abortStaged(conf, wh, "e6", Seq(ta, tb)) === 1)
    assert(ManifestLog(conf, ta).branchVersions("txn-e6").isEmpty,
      "stale staging branch must be gone before the replay stages")
    stage(ta, "txn-e6", 10, str = false)
    stage(tb, "txn-e6", 5, str = true)
    assert(ManifestTxn.commit(conf, wh, "e6", Seq(ta, tb)) === 2)
    assert(spark.sql("SELECT count(*) FROM gtxf.ns.ta").head.getLong(0)
      === 110L, "crashed attempt's rows must not publish alongside the " +
        "replay's — without abortStaged this would read 120")
    // a committed txn's branches belong to roll-forward: abort refuses
    val ex = intercept[IllegalStateException] {
      ManifestTxn.abortStaged(conf, wh, "e6", Seq(ta, tb))
    }
    assert(ex.getMessage.contains("already committed"))
  }

  test("a foreign commit stealing the roll-forward slot fails " +
    "recovery loudly — never a silent partial publish") {
    import spark.implicits._
    val wh = freshWh("e")
    val (ta, tb) = fixture("gtxe", wh)
    stage(ta, "txn-e5", 10, str = false)
    stage(tb, "txn-e5", 5, str = true)
    ManifestTxn.stageMarker(conf, wh, "e5", Seq(ta, tb))
    // foreign commit lands on tb INSIDE the marker→roll-forward window
    (6000L until 6002L).map(i => (i, s"y$i")).toDF("k", "s")
      .coalesce(1).write.format("graft.sources.ManifestSource")
      .option("path", tb)
      .mode("append").save()
    val ex = intercept[java.util.ConcurrentModificationException] {
      ManifestTxn.rollForward(conf, wh, "e5")
    }
    assert(ex.getMessage.contains("durably committed but cannot complete"))
  }
}
