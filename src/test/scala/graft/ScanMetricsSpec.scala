package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** DSv2 custom scan metrics (sources/ManifestSource.scala) and the
  * `.columns` mapping ledger (sources/GraftCatalog.scala): the
  * observability face of pruning and schema evolution — partsPlanned/
  * partsSkipped from the driver, dvMaskedRows summed from readers,
  * and one row per live/retired column with its stable field id. */
class ScanMetricsSpec extends SparkSpec {

  private lazy val wh = {
    val d = Files.createTempDirectory("graft-scanmetrics").toString
    spark.conf.set("spark.sql.catalog.gsm", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gsm.warehouse", d)
    d
  }

  private def scanMetrics(df: org.apache.spark.sql.DataFrame)
      : Map[String, Long] = {
    df.collect() // metrics populate on execution
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty, "no BatchScanExec in executed plan")
    scans.head.metrics.map { case (k, m) => k -> m.value }
  }

  test("partsPlanned/partsSkipped report static pruning; dvMaskedRows " +
      "reports merge-on-read debt") {
    wh
    import spark.implicits._
    // four range-disjoint parts of 100 keys
    spark.sql("CREATE TABLE gsm.ns.m (k BIGINT, s STRING)")
    (0 until 4).foreach { i =>
      (i * 100L until (i + 1) * 100L).map(k => (k, s"v$k")).toDF("k", "s")
        .coalesce(1).write.format("graft.sources.ManifestSource")
        .option("path", s"$wh/ns/m")
        .mode("append").save()
    }
    spark.conf.set("graft.delete.mode", "mor")
    try spark.sql("DELETE FROM gsm.ns.m WHERE k >= 110 AND k < 140 " +
      "AND s IS NOT NULL")
    finally spark.conf.unset("graft.delete.mode")
    // key range hits exactly one part (the vectored one): 3 skipped,
    // and its 30 masked rows are counted by the readers
    val m = scanMetrics(
      spark.sql("SELECT k, s FROM gsm.ns.m WHERE k BETWEEN 100 AND 199"))
    assert(m.get("partsPlanned").contains(1L), s"partsPlanned in $m")
    assert(m.get("partsSkipped").contains(3L), s"partsSkipped in $m")
    assert(m.get("dvMaskedRows").contains(30L), s"dvMaskedRows in $m")
    // an unfiltered scan plans everything and masks the same 30
    val full = scanMetrics(spark.sql("SELECT k FROM gsm.ns.m"))
    assert(full.get("partsPlanned").contains(4L))
    assert(full.get("partsSkipped").contains(0L))
    assert(full.get("dvMaskedRows").contains(30L))
    // EQUALITY-delete debt reports separately: the clause marks only
    // the parts whose key range admits its values (range-pruned to
    // one part here), and readers count exactly the matching rows
    spark.conf.set("graft.delete.mode", "eq")
    try spark.sql("DELETE FROM gsm.ns.m WHERE k IN (205, 206, 207)")
    finally spark.conf.unset("graft.delete.mode")
    val eq = scanMetrics(spark.sql("SELECT k FROM gsm.ns.m"))
    assert(eq.get("eqMaskedRows").contains(3L), s"eqMaskedRows in $eq")
    assert(eq.get("dvMaskedRows").contains(30L), "dv debt unchanged")
    assert(spark.sql("SELECT count(*) FROM gsm.ns.m.files " +
      "WHERE eq_clauses > 0").head.getLong(0) === 1L,
      "key-range stats exonerate the other three parts")
  }

  test(".columns ledger: positions, types, stable field ids, stats " +
      "roles, and retired names across rename/drop/add") {
    wh
    spark.sql("CREATE TABLE gsm.ns.c (k BIGINT, v STRING, x BIGINT)")
    spark.sql("INSERT INTO gsm.ns.c VALUES (1, 'a', 10)")
    spark.sql("ALTER TABLE gsm.ns.c RENAME COLUMN v TO label")
    spark.sql("ALTER TABLE gsm.ns.c DROP COLUMN x")
    spark.sql("ALTER TABLE gsm.ns.c ADD COLUMN note STRING")
    val live = spark.sql(
      """SELECT position, name, type, field_id, stats_role
         FROM gsm.ns.c.columns WHERE NOT retired ORDER BY position""")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getInt(3), r.getString(4))).toSeq
    assert(live === Seq(
      (0, "k", "bigint", 0, "key"),
      (1, "label", "string", 1, "string"),
      (2, "note", "string", 3, "column"))) // fresh id 3, never x's 2
    val retired = spark.sql(
      "SELECT name FROM gsm.ns.c.columns WHERE retired ORDER BY name")
      .collect().map(_.getString(0)).toSeq
    assert(retired === Seq("v", "x"))
  }
}
