package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** REPLACE WHERE — filter-scoped INSERT OVERWRITE
  * (OverwriteByExpression through SupportsOverwrite on catalog
  * tables): ONE atomic snapshot deletes the predicate's rows and
  * appends the incoming batch. Pins what the oracle equality
  * (q_replace_where) cannot see: the part-level cost shape (disjoint
  * parts carried by REFERENCE, fully-covered parts dropped
  * metadata-only, only straddlers rewritten), snapshot atomicity
  * (exactly one new version), three-valued predicate semantics
  * (NULL-key rows survive), analysis-time rejection of
  * untranslatable conditions, and time travel to the pre-replace
  * snapshot. */
class ReplaceWhereSpec extends SparkSpec {

  private lazy val wh = {
    val d = Files.createTempDirectory("graft-rwspec").toString
    spark.conf.set("spark.sql.catalog.grw", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.grw.warehouse", d)
    d
  }

  /** 1000 keys range-partitioned into 4 parts: [0,250) [250,500)
    * [500,750) [750,1000). */
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

  private def conf0 = spark.sessionState.newHadoopConf()
  private def headParts(path: String): Set[String] =
    graft.sources.ManifestLog(conf0, path).snapshot().partRanges.map(_._1).toSet
  private def versions(path: String): Seq[Int] =
    graft.sources.ManifestLog(conf0, path).versions

  test("part-aligned REPLACE WHERE drops metadata-only and appends") {
    import spark.implicits._
    val path = mkTable("aligned")
    val before = headParts(path)
    // [250, 500) is exactly one part's key range: provably all-match
    // → dropped from the manifest, NO data file read or rewritten
    Seq((300L, "r300"), (301L, "r301")).toDF("k", "s")
      .createOrReplaceTempView("rw_src")
    spark.sql("INSERT INTO grw.ns.aligned REPLACE WHERE k >= 250 AND k < 500 " +
      "SELECT k, s FROM rw_src")
    val after = headParts(path)
    assert((before intersect after).size === 3,
      "three disjoint parts carried by reference")
    assert((before -- after).size === 1, "the covered part dropped")
    // the only NEW parts are the appended batch (no survivor rewrite)
    val added = after -- before
    assert(added.nonEmpty)
    val meta = graft.sources.ManifestLog(conf0, path).snapshot().partRanges
      .filter(p => added.contains(p._1))
    assert(meta.map(_._2).sum === 2, "new parts carry only the batch")
    assert(spark.sql("SELECT count(*) FROM grw.ns.aligned").head.getLong(0)
      === 750 + 2)
    // atomicity: delete-half and append-half share ONE snapshot
    assert(versions(path) === Seq(1, 2))
    // time travel: pre-replace snapshot intact
    assert(spark.sql(
      "SELECT count(*) FROM grw.ns.aligned VERSION AS OF 1").head.getLong(0)
      === 1000)
  }

  test("straddling REPLACE WHERE rewrites only the straddled parts") {
    import spark.implicits._
    val path = mkTable("straddle")
    val before = headParts(path)
    // [200, 300) straddles parts 1 and 2; parts 0 and 3 are disjoint
    Seq((250L, "mid")).toDF("k", "s").createOrReplaceTempView("rw_src2")
    spark.sql(
      "INSERT INTO grw.ns.straddle REPLACE WHERE k >= 200 AND k < 300 " +
        "SELECT k, s FROM rw_src2")
    val after = headParts(path)
    assert((before intersect after).size === 2,
      "the two disjoint parts carry forward by reference")
    assert((before -- after).size === 2, "both straddled parts replaced")
    assert(spark.sql("SELECT count(*) FROM grw.ns.straddle").head.getLong(0)
      === 900 + 1)
    assert(spark.sql(
      "SELECT s FROM grw.ns.straddle WHERE k = 250").head.getString(0)
      === "mid")
    // survivors of the straddled parts kept their rows
    assert(spark.sql(
      "SELECT count(*) FROM grw.ns.straddle WHERE k >= 300 AND k < 500")
      .head.getLong(0) === 200)
  }

  test("NULL predicate rows survive a REPLACE WHERE (3VL)") {
    import spark.implicits._
    val path = s"$wh/ns/nullsafe"
    Seq((Some(1L), "a"), (None, "nullk"), (Some(5L), "b"))
      .toDF("k", "s")
      .write.format("graft.sources.ManifestSource")
      .option("path", path)
      .mode("overwrite").save()
    Seq((2L, "two")).toDF("k", "s").createOrReplaceTempView("rw_src3")
    spark.sql("INSERT INTO grw.ns.nullsafe REPLACE WHERE k < 3 " +
      "SELECT k, s FROM rw_src3")
    // k=1 deleted (TRUE); k=NULL survives (predicate NULL, not TRUE)
    val rows = spark.sql(
      "SELECT s FROM grw.ns.nullsafe ORDER BY s").collect().map(_.getString(0))
    assert(rows.toSeq === Seq("b", "nullk", "two"))
  }

  test("untranslatable REPLACE WHERE condition rejected at analysis") {
    mkTable("reject")
    val e = intercept[Exception] {
      spark.sql("INSERT INTO grw.ns.reject REPLACE WHERE k % 2 = 0 " +
        "SELECT 0L AS k, 'x' AS s")
    }
    // no half-applied state: table unchanged, no new snapshot
    assert(versions(s"$wh/ns/reject") === Seq(1))
    assert(spark.sql("SELECT count(*) FROM grw.ns.reject").head.getLong(0)
      === 1000)
    assert(e.getMessage != null)
  }

  test("writeTo(...).overwrite(cond) takes the same path") {
    import spark.implicits._
    mkTable("dfw")
    Seq((10L, "ten")).toDF("k", "s")
      .writeTo("grw.ns.dfw").overwrite(col("k") < lit(250L))
    assert(spark.sql("SELECT count(*) FROM grw.ns.dfw").head.getLong(0)
      === 750 + 1)
    assert(spark.sql("SELECT s FROM grw.ns.dfw WHERE k = 10")
      .head.getString(0) === "ten")
  }
}
