package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sources.ManifestSink

/** `CALL system.analyze` (sources/ManifestMaintenance.analyzeTable):
  * per-part statistics recomputed from the VISIBLE rows in one
  * metadata commit. Pins the staleness story deletion vectors create
  * — write-time stats are physical-row over-approximations, ANALYZE
  * tightens them to the mask without a rewrite — plus the zero-data-IO
  * contract and the all-deleted sentinel. Oracle-gated face:
  * q_analyze_stats. */
class AnalyzeSpec extends SparkSpec {

  private lazy val wh = {
    val d = Files.createTempDirectory("graft-analyze").toString
    spark.conf.set("spark.sql.catalog.gan", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gan.warehouse", d)
    d
  }

  private def dataFiles(table: String): Seq[String] = {
    val dir = new java.io.File(s"$wh/ns/$table")
    dir.listFiles().toSeq.map(_.getName)
      .filter(ManifestSink.isPartFile).sorted
  }

  private def keyRanges(table: String): Seq[(Long, Long, Long)] =
    spark.sql(s"SELECT key_min, key_max, visible_rows FROM gan.ns.$table.files " +
      "ORDER BY key_min, key_max").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  // sparkPlan, not executedPlan: under AQE the adaptive wrapper only
  // materializes its children on execution — collect{BatchScanExec}
  // over an unexecuted executedPlan finds nothing
  private def plannedParts(df: org.apache.spark.sql.DataFrame): Int = {
    val scans = df.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.size
    }
    assert(scans.nonEmpty, "no BatchScanExec in plan")
    scans.sum
  }

  test("ANALYZE tightens key/string stats to the visible rows after a " +
      "MOR delete; pruning improves; no data file is touched") {
    wh
    import spark.implicits._
    // four range-disjoint parts of 250 keys each
    spark.sql("CREATE TABLE gan.ns.t (k BIGINT, s STRING, v BIGINT)")
    (0 until 4).foreach { i =>
      (i * 250L until (i + 1) * 250L)
        .map(k => (k, f"s$k%04d", k * 2)).toDF("k", "s", "v")
        .coalesce(1).write.format("graft.sources.ManifestSource")
        .option("path", s"$wh/ns/t")
        .mode("append").save()
    }
    // MOR-delete a range straddling parts 0 and 1 (the non-key
    // conjunct blocks the metadata fast path)
    spark.conf.set("graft.delete.mode", "mor")
    try spark.sql(
      "DELETE FROM gan.ns.t WHERE k >= 200 AND k < 300 AND s IS NOT NULL")
    finally spark.conf.unset("graft.delete.mode")
    // stats are still the write-time physical ranges
    assert(keyRanges("t") === Seq((0L, 249L, 200L), (250L, 499L, 200L),
      (500L, 749L, 250L), (750L, 999L, 250L)))
    val probe = spark.sql("SELECT count(*) AS n FROM gan.ns.t " +
      "WHERE k BETWEEN 210 AND 290")
    assert(plannedParts(probe) === 2 && probe.head.getLong(0) === 0L)
    val filesBefore = dataFiles("t")
    val out = spark.sql("CALL gan.system.analyze(table => 'ns.t')").collect()
    assert(out.head.getInt(0) === 4, "all four parts analyzed")
    assert(dataFiles("t") === filesBefore, "analyze must not write data")
    // ranges now describe the surviving rows
    assert(keyRanges("t") === Seq((0L, 199L, 200L), (300L, 499L, 200L),
      (500L, 749L, 250L), (750L, 999L, 250L)))
    val probe2 = spark.sql("SELECT count(*) AS n FROM gan.ns.t " +
      "WHERE k BETWEEN 210 AND 290")
    assert(plannedParts(probe2) === 0 && probe2.head.getLong(0) === 0L)
    // string stats tightened too: part 0's smax dropped from s0249
    // to s0199 — a string probe into the deleted range plans nothing
    val sProbe = spark.sql(
      "SELECT count(*) AS n FROM gan.ns.t WHERE s BETWEEN 's0210' AND 's0290'")
    assert(plannedParts(sProbe) === 0 && sProbe.head.getLong(0) === 0L)
    // secondary-long cstats follow the mask as well
    val vProbe = spark.sql(
      "SELECT count(*) AS n FROM gan.ns.t WHERE v BETWEEN 420 AND 580")
    assert(plannedParts(vProbe) === 0 && vProbe.head.getLong(0) === 0L)
    // values stay exactly right everywhere else
    assert(spark.sql("SELECT count(*) FROM gan.ns.t").head.getLong(0) === 900L)
    // time travel: the pre-delete snapshot is untouched by ANALYZE
    assert(spark.sql("SELECT count(*) FROM gan.ns.t VERSION AS OF 5")
      .head.getLong(0) === 1000L)
  }

  test("ANALYZE composes with column mapping: recomputed stats are " +
      "keyed by the CURRENT names and serve renamed-column pruning") {
    wh
    import spark.implicits._
    spark.sql("CREATE TABLE gan.ns.cm (k BIGINT, junk BIGINT, s STRING)")
    (0 until 2).foreach { i =>
      (i * 100L until (i + 1) * 100L).map(k => (k, k + 7, f"t$k%04d"))
        .toDF("k", "junk", "s")
        .coalesce(1).write.format("graft.sources.ManifestSource")
        .option("path", s"$wh/ns/cm")
        .mode("append").save()
    }
    spark.sql("ALTER TABLE gan.ns.cm DROP COLUMN junk")
    spark.sql("ALTER TABLE gan.ns.cm RENAME COLUMN s TO label")
    spark.conf.set("graft.delete.mode", "mor")
    try spark.sql(
      "DELETE FROM gan.ns.cm WHERE k >= 80 AND k < 120 AND label IS NOT NULL")
    finally spark.conf.unset("graft.delete.mode")
    spark.sql("CALL gan.system.analyze(table => 'ns.cm')")
    // tightened string stats under the NEW name prune the probe; the
    // dropped column neither breaks the scan nor resurrects
    val probe = spark.sql("SELECT count(*) AS n FROM gan.ns.cm " +
      "WHERE label BETWEEN 't0085' AND 't0115'")
    assert(plannedParts(probe) === 0 && probe.head.getLong(0) === 0L)
    assert(spark.sql("SELECT count(*) FROM gan.ns.cm").head.getLong(0) === 160L)
  }

  test("rebuild_blooms restores point-lookup skipping for deleted keys " +
      "on hash layouts where ranges cannot prune") {
    wh
    import spark.implicits._
    // hash layout: both parts span nearly the full key range, so only
    // the bloom can answer a point lookup
    spark.sql("CREATE TABLE gan.ns.bl (k BIGINT, s STRING)")
    (0 until 2).foreach { i =>
      (0L until 500L).filter(_ % 2 == i).map(k => (k, s"v$k")).toDF("k", "s")
        .coalesce(1).write.format("graft.sources.ManifestSource")
        .option("path", s"$wh/ns/bl")
        .mode("append").save()
    }
    spark.conf.set("graft.delete.mode", "mor")
    try spark.sql("DELETE FROM gan.ns.bl WHERE k = 123 AND s IS NOT NULL")
    finally spark.conf.unset("graft.delete.mode")
    // write-time bloom still contains the deleted key
    val pre = spark.sql("SELECT count(*) AS n FROM gan.ns.bl WHERE k = 123")
    assert(plannedParts(pre) === 1 && pre.head.getLong(0) === 0L)
    spark.sql(
      "CALL gan.system.analyze(table => 'ns.bl', rebuild_blooms => true)")
    val post = spark.sql("SELECT count(*) AS n FROM gan.ns.bl WHERE k = 123")
    assert(plannedParts(post) === 0 && post.head.getLong(0) === 0L)
    // surviving keys still probe their one part
    val live = spark.sql("SELECT count(*) AS n FROM gan.ns.bl WHERE k = 125")
    assert(plannedParts(live) === 1 && live.head.getLong(0) === 1L)
    assert(spark.sql("SELECT count(*) FROM gan.ns.bl").head.getLong(0) === 499L)
  }

  test("a fully-deleted part gets the all-null sentinels and prunes " +
      "against any real bound") {
    wh
    import spark.implicits._
    spark.sql("CREATE TABLE gan.ns.fd (k BIGINT, s STRING)")
    (0 until 2).foreach { i =>
      (i * 10L until (i + 1) * 10L).map(k => (k, s"x$k")).toDF("k", "s")
        .coalesce(1).write.format("graft.sources.ManifestSource")
        .option("path", s"$wh/ns/fd")
        .mode("append").save()
    }
    spark.conf.set("graft.delete.mode", "mor")
    try spark.sql("DELETE FROM gan.ns.fd WHERE k < 10 AND s IS NOT NULL")
    finally spark.conf.unset("graft.delete.mode")
    spark.sql("CALL gan.system.analyze(table => 'ns.fd')")
    val probe = spark.sql("SELECT count(*) AS n FROM gan.ns.fd WHERE k <= 5")
    assert(plannedParts(probe) === 0 && probe.head.getLong(0) === 0L)
    assert(spark.sql("SELECT count(*) FROM gan.ns.fd").head.getLong(0) === 10L)
  }
}
