package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** NULL COUNTS — the third leg of the per-part stats triple
  * (min/max/null_count, the Iceberg/Delta file-stats contract):
  * writer-tracked for the key / first-string / every ColStat column,
  * IS [NOT] NULL part pruning, metadata-only COUNT(col), and the
  * ANALYZE refresh that re-tightens them over deletion-vector
  * survivors. */
class NullStatsSpec extends SparkSpec {

  private lazy val wh = {
    val d = Files.createTempDirectory("graft-nullstats").toString
    spark.conf.set("spark.sql.catalog.gns", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gns.warehouse", d)
    d
  }

  private def plannedParts(df: org.apache.spark.sql.DataFrame): Int = {
    val scans = df.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.size
    }
    assert(scans.nonEmpty, "no BatchScanExec in plan")
    scans.sum
  }

  test("IS NULL / IS NOT NULL prune on primary and secondary null counts") {
    wh
    import spark.implicits._
    // part 0: s all NULL, v no nulls; part 1: s no nulls, v all NULL
    spark.sql("CREATE TABLE gns.ns.t (k BIGINT, s STRING, v BIGINT)")
    (0L until 100L).map(k => (k, null: String, k)).toDF("k", "s", "v")
      .coalesce(1).write.format("graft.sources.ManifestSource")
      .option("path", s"$wh/ns/t")
      .mode("append").save()
    (100L until 200L).map(k => (k, s"s$k", null: java.lang.Long))
      .toDF("k", "s", "v")
      .coalesce(1).write.format("graft.sources.ManifestSource")
      .option("path", s"$wh/ns/t")
      .mode("append").save()
    // primary string column: sNulls == rows prunes IS NOT NULL,
    // sNulls == 0 prunes IS NULL
    val sNull = spark.sql("SELECT count(*) AS n FROM gns.ns.t WHERE s IS NULL")
    assert(plannedParts(sNull) === 1 && sNull.head.getLong(0) === 100L)
    val sSome = spark.sql(
      "SELECT count(*) AS n FROM gns.ns.t WHERE s IS NOT NULL")
    assert(plannedParts(sSome) === 1 && sSome.head.getLong(0) === 100L)
    // secondary long column: a ColStat entry records its null count;
    // part 0 has zero v-nulls, so IS NULL skips it; part 1 is all-null
    // (no entry — "cannot prune"), so it stays planned
    val vNull = spark.sql("SELECT count(*) AS n FROM gns.ns.t WHERE v IS NULL")
    assert(plannedParts(vNull) === 1 && vNull.head.getLong(0) === 100L)
    // the key column never has nulls here: IS NULL on it prunes ALL
    val kNull = spark.sql("SELECT count(*) AS n FROM gns.ns.t WHERE k IS NULL")
    assert(plannedParts(kNull) === 0 && kNull.head.getLong(0) === 0L)
  }

  test("COUNT(col) answers from metadata when null counts cover every " +
      "part; declines under deletion vectors and for untracked columns") {
    wh
    import spark.implicits._
    spark.sql("CREATE TABLE gns.ns.c (k BIGINT, s STRING, d DOUBLE)")
    (0L until 100L)
      .map(k => (k, if (k % 3 == 0) null else s"s$k", k * 0.5))
      .toDF("k", "s", "d")
      .repartition(4).write.format("graft.sources.ManifestSource")
      .option("path", s"$wh/ns/c")
      .mode("append").save()
    val agg = spark.sql(
      "SELECT count(s) AS ns, count(k) AS nk, count(*) AS n FROM gns.ns.c")
    assert(agg.queryExecution.executedPlan.toString
      .contains("ManifestAggScan"), "COUNT(col) must answer from metadata")
    val r = agg.head
    assert(r.getLong(0) === 66L && r.getLong(1) === 100L &&
      r.getLong(2) === 100L)
    // untracked double column → file path, still exact
    val dAgg = spark.sql("SELECT count(d) AS nd FROM gns.ns.c")
    assert(!dAgg.queryExecution.executedPlan.toString
      .contains("ManifestAggScan"))
    assert(dAgg.head.getLong(0) === 100L)
    // a deletion vector makes physical null counts non-authoritative
    spark.conf.set("graft.delete.mode", "mor")
    try spark.sql("DELETE FROM gns.ns.c WHERE s = 's7'")
    finally spark.conf.unset("graft.delete.mode")
    val post = spark.sql("SELECT count(s) AS ns FROM gns.ns.c")
    assert(!post.queryExecution.executedPlan.toString
      .contains("ManifestAggScan"), "COUNT(col) must decline under DVs")
    assert(post.head.getLong(0) === 65L)
  }

  test("ANALYZE refreshes null counts over the visible rows") {
    wh
    import spark.implicits._
    // one part whose only null-s rows get MOR-deleted
    spark.sql("CREATE TABLE gns.ns.a (k BIGINT, s STRING)")
    (0L until 100L)
      .map(k => (k, if (k < 10) null else s"s$k")).toDF("k", "s")
      .coalesce(1).write.format("graft.sources.ManifestSource")
      .option("path", s"$wh/ns/a")
      .mode("append").save()
    spark.conf.set("graft.delete.mode", "mor")
    try spark.sql("DELETE FROM gns.ns.a WHERE s IS NULL AND k < 10")
    finally spark.conf.unset("graft.delete.mode")
    // write-time count still says "10 nulls" → IS NULL keeps the part
    val pre = spark.sql("SELECT count(*) AS n FROM gns.ns.a WHERE s IS NULL")
    assert(plannedParts(pre) === 1 && pre.head.getLong(0) === 0L)
    spark.sql("CALL gns.system.analyze(table => 'ns.a')")
    // refreshed count says "0 visible nulls" → IS NULL prunes the part
    val post = spark.sql("SELECT count(*) AS n FROM gns.ns.a WHERE s IS NULL")
    assert(plannedParts(post) === 0 && post.head.getLong(0) === 0L)
  }
}
