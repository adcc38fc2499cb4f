package graft.sources

import java.nio.file.Files

import graft.SparkSpec

/** CLUSTER BY lifecycle — CREATE is gated end-to-end by q_cluster_by
  * (zero overlapping part ranges from `.files`); this spec pins the
  * ALTER half and the refusal matrix:
  *
  *  - ALTER TABLE … CLUSTER BY (c) arms the write-ordered layout on a
  *    plain table: post-ALTER inserts land with disjoint ranges;
  *  - CLUSTER BY NONE clears it;
  *  - a bucket/identity layout refuses (placement has one owner);
  *  - multi-column and non-key-typed columns refuse at CREATE and
  *    ALTER alike.
  */
class ClusterBySpec extends SparkSpec {

  private def freshCat(tag: String): String = {
    val wh = Files.createTempDirectory(s"graft-cb-$tag-").toString
    spark.conf.set(s"spark.sql.catalog.cb$tag",
      "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.cb$tag.warehouse", wh)
    s"cb$tag"
  }

  private def overlaps(c: String, t: String): Long =
    spark.sql(s"""SELECT count(*) FROM $c.wh.$t.files a
      JOIN $c.wh.$t.files b ON a.part < b.part
        AND a.key_min <= b.key_max AND b.key_min <= a.key_max""")
      .head.getLong(0)

  test("ALTER CLUSTER BY arms ordered writes; NONE clears; layouts refuse") {
    val c = freshCat("a")
    spark.sql(s"CREATE TABLE $c.wh.t (k BIGINT, v BIGINT)")
    spark.range(0, 4000).selectExpr("id AS k", "id * 2 AS v")
      .createOrReplaceTempView("graft_cbs_src")
    spark.sql(s"ALTER TABLE $c.wh.t CLUSTER BY (k)")
    // AQE would coalesce this tiny fixture into one range partition,
    // voiding the >1-part disjointness claim — hold it off here
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
      "false")
    try spark.sql(s"INSERT INTO $c.wh.t SELECT * FROM graft_cbs_src")
    finally spark.conf.unset(
      "spark.sql.adaptive.coalescePartitions.enabled")
    assert(overlaps(c, "t") === 0L,
      "post-ALTER insert must land disjoint key ranges")
    val nParts = spark.sql(s"SELECT count(*) FROM $c.wh.t.files")
      .head.getLong(0)
    assert(nParts > 1L, "the disjointness claim needs >1 part")
    spark.sql(s"ALTER TABLE $c.wh.t CLUSTER BY NONE")
    // cleared: next insert takes the plain path (no ordered
    // distribution requirement); correctness unchanged
    spark.sql(s"INSERT INTO $c.wh.t SELECT k + 10000, v FROM graft_cbs_src")
    assert(spark.sql(s"SELECT count(*) FROM $c.wh.t").head.getLong(0)
      === 8000L)
    // a bucketed table refuses: the bucket spec owns placement
    spark.sql(s"CREATE TABLE $c.wh.b (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    val ex = intercept[Exception] {
      spark.sql(s"ALTER TABLE $c.wh.b CLUSTER BY (k)")
    }
    assert(ex.getMessage.contains("set_layout"))
    // multi-column refuses with the zorder pointer
    val ex2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $c.wh.t CLUSTER BY (k, v)")
    }
    assert(ex2.getMessage.contains("zorder"))
  }

  test("CTAS … CLUSTER BY records the write order and lands sorted, " +
    "disjoint parts") {
    val c = freshCat("c")
    spark.range(0, 4000).selectExpr("id AS k", "id * 2 AS v")
      .createOrReplaceTempView("graft_cbs_ctas_src")
    // AQE would coalesce this tiny fixture into one range partition,
    // voiding the >1-part disjointness claim — hold it off here
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
      "false")
    try spark.sql(s"CREATE TABLE $c.wh.t CLUSTER BY (k) " +
      "AS SELECT * FROM graft_cbs_ctas_src")
    finally spark.conf.unset(
      "spark.sql.adaptive.coalescePartitions.enabled")
    val wh = spark.conf.get(s"spark.sql.catalog.$c.warehouse")
    val conf = spark.sessionState.newHadoopConf()
    assert(ManifestLog(conf, s"$wh/wh/t").snapshot().header.table.spec ===
      TableSpec(orderBy = Some("k")))
    assert(spark.sql(s"SELECT count(*) FROM $c.wh.t").head.getLong(0)
      === 4000L)
    assert(overlaps(c, "t") === 0L, "CTAS must land disjoint key ranges")
    val parts = ManifestLog(conf, s"$wh/wh/t").snapshot().parts
      .filter(_.rows > 0)
    assert(parts.size > 1, "the disjointness claim needs >1 part")
    assert(parts.forall(_.sorted), "CTAS parts must be key-sorted")
  }

  test("RENAME COLUMN moves the CLUSTER BY column; DROP COLUMN refuses it") {
    val c = freshCat("r")
    spark.sql(s"CREATE TABLE $c.wh.t (k BIGINT, v BIGINT) CLUSTER BY (k)")
    spark.sql(s"ALTER TABLE $c.wh.t RENAME COLUMN k TO k2")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
      "false")
    try spark.sql(s"INSERT INTO $c.wh.t SELECT id AS k2, id * 2 AS v " +
      "FROM range(0, 4000, 1, 4)")
    finally spark.conf.unset(
      "spark.sql.adaptive.coalescePartitions.enabled")
    assert(spark.sql(s"SELECT count(*) FROM $c.wh.t").head.getLong(0)
      === 4000L)
    assert(spark.sql(s"SELECT count(*) FROM $c.wh.t.files WHERE NOT is_sorted")
      .head.getLong(0) === 0L, "the insert still sorts by the renamed column")
    assert(overlaps(c, "t") === 0L)
    val e = intercept[Exception](
      spark.sql(s"ALTER TABLE $c.wh.t DROP COLUMN k2"))
    assert(e.getMessage.contains("CLUSTER BY NONE"), e.getMessage)
    assert(spark.table(s"$c.wh.t").columns.toSeq === Seq("k2", "v"))
  }
}
