package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Merge-on-read DELETE via deletion vectors (the row-level delta
  * write in sources/ManifestDelta, DeleteVector sidecars): data files
  * untouched, one metadata snapshot per
  * delete, vectors merge across deletes, every read path masks
  * (batch, limit, metadata-COUNT, streaming CDF), and compaction/COW
  * clears the vectors. */
class MorSpec extends SparkSpec {

  private lazy val wh = {
    val d = Files.createTempDirectory("graft-morspec").toString
    spark.conf.set("spark.sql.catalog.gmor", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmor.warehouse", d)
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

  private def partFiles(path: String): Set[String] =
    new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getName).toSet

  private def withMor[T](body: => T): T = {
    spark.conf.set("graft.delete.mode", "mor")
    try body finally spark.conf.unset("graft.delete.mode")
  }

  test("MOR delete: correct answer, zero data files touched, vectors merge") {
    val path = mkTable("dv")
    val before = partFiles(path)
    withMor {
      // straddling-range delete: COW would rewrite a part; MOR must not
      spark.sql("DELETE FROM gmor.ns.dv WHERE k >= 600 AND k < 650")
    }
    assert(spark.sql("SELECT count(*) FROM gmor.ns.dv").head.getLong(0) === 950)
    assert(spark.sql("SELECT count(*) FROM gmor.ns.dv WHERE k = 625")
      .head.getLong(0) === 0)
    assert(partFiles(path) === before, "MOR must not touch data files")
    // second delete on the SAME part merges into the existing vector
    withMor {
      spark.sql("DELETE FROM gmor.ns.dv WHERE s = 'v700'")
    }
    assert(spark.sql("SELECT count(*) FROM gmor.ns.dv").head.getLong(0) === 949)
    assert(partFiles(path) === before)
    // snapshot log: base + 2 vector commits; time travel pre-delete
    assert(graft.sources.ManifestLog(spark.sessionState.newHadoopConf(), path).versions === Seq(1, 2, 3))
    assert(spark.sql("SELECT * FROM gmor.ns.dv VERSION AS OF 1").count() === 1000)
    assert(spark.sql("SELECT * FROM gmor.ns.dv VERSION AS OF 2").count() === 950)
    // metadata-only COUNT stays exact under vectors (visibleRows)
    val agg = spark.sql("SELECT count(*) AS n FROM gmor.ns.dv")
    assert(graft.sources.PlanProbes.aggPushedDown(agg.queryExecution.executedPlan),
      "COUNT must still answer from metadata")
    assert(agg.head.getLong(0) === 949)
    // ...but MIN/MAX decline the fast path (the extreme may be deleted)
    val mm = spark.sql("SELECT max(k) FROM gmor.ns.dv")
    assert(!graft.sources.PlanProbes.aggPushedDown(mm.queryExecution.executedPlan),
      "MIN/MAX must not serve possibly-stale stats")
    assert(mm.head.getLong(0) === 999)
  }

  test("vectors mask LIMIT planning and the append stream") {
    import spark.implicits._
    val path = s"$wh/ns/lim"
    (0L until 100L).map(i => (i, s"v$i")).toDF("k", "s")
      .coalesce(1)
      .write.format("graft.sources.ManifestSource")
      .option("path", path)
      .mode("overwrite").save()
    withMor { spark.sql("DELETE FROM gmor.ns.lim WHERE k < 90") }
    // one part, 100 physical rows, 10 visible: a LIMIT above the
    // visible count must still return every visible row
    assert(spark.sql("SELECT * FROM gmor.ns.lim LIMIT 50").count() === 10)
    assert(spark.read.format("graft.sources.ManifestSource")
      .option("path", path).load().limit(10).count() === 10)
  }

  test("change feed replays a vector commit as exactly the deleted ordinals") {
    val path = mkTable("dvcdf")
    val sink = Files.createTempDirectory("graft-morspec-sink").toString
    val ckpt = Files.createTempDirectory("graft-morspec-ckpt").toString
    def drain(): Unit = {
      val q = spark.readStream.format("graft.sources.ManifestSource")
        .option("path", path).option("changeFeed", "true").load()
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain() // v1: 1000 inserts
    withMor { spark.sql("DELETE FROM gmor.ns.dvcdf WHERE k >= 600 AND k < 650") }
    drain() // v2: PRECISE deletes — no survivor restatement
    val v2 = spark.read.parquet(sink).filter(col("_commit_version") === 2)
    assert(v2.filter(col("_change_type") =!= "delete").count() === 0,
      "a vector commit must replay no inserts")
    assert(v2.count() === 50, "exactly the newly-deleted rows replay")
    assert(v2.agg(min(col("k")), max(col("k"))).head.toSeq === Seq(600L, 649L))
  }

  test("compactVectors rewrites exactly the vectored parts and clears masks") {
    val path = mkTable("dvcompact")
    val before = partFiles(path)
    withMor {
      spark.sql("DELETE FROM gmor.ns.dvcompact WHERE k >= 600 AND k < 650")
      spark.sql("DELETE FROM gmor.ns.dvcompact WHERE k < 10")
    }
    val conf = spark.sessionState.newHadoopConf()
    val vectoredBefore = graft.sources.ManifestLog(conf, path).snapshot().partRanges.size
    assert(vectoredBefore === 4)
    val rewritten = graft.sources.ManifestMaintenance
      .compactVectors(spark, path)
    assert(rewritten === 2, "exactly the two vectored parts rewrite")
    // same answer, no vectors left, clean parts carried by reference
    assert(spark.sql("SELECT count(*) FROM gmor.ns.dvcompact")
      .head.getLong(0) === 940)
    // two untouched parts keep their files; two new files appeared
    assert((partFiles(path) -- before).size === 2)
    // MIN/MAX metadata fast path is exact again after compaction
    val mm = spark.sql("SELECT max(k) FROM gmor.ns.dvcompact")
    assert(graft.sources.PlanProbes.aggPushedDown(mm.queryExecution.executedPlan),
      "metadata extremes come back once vectors are gone")
    assert(mm.head.getLong(0) === 999)
    // time travel: pre-compaction snapshot still masks
    assert(spark.sql("SELECT * FROM gmor.ns.dvcompact VERSION AS OF 3")
      .count() === 940)
    assert(spark.sql("SELECT * FROM gmor.ns.dvcompact VERSION AS OF 1")
      .count() === 1000)
  }

  test("a COW rewrite after MOR reads through the mask and clears the vector") {
    val path = mkTable("dvcow")
    withMor { spark.sql("DELETE FROM gmor.ns.dvcow WHERE k >= 600 AND k < 650") }
    // translatable straddling delete WITHOUT mor mode → COW rewrite of
    // the [500,749] part; it must not resurrect the 50 masked rows
    spark.sql("DELETE FROM gmor.ns.dvcow WHERE k >= 700 AND k < 710")
    assert(spark.sql("SELECT count(*) FROM gmor.ns.dvcow").head.getLong(0) === 940)
    assert(spark.sql(
      "SELECT count(*) FROM gmor.ns.dvcow WHERE k >= 600 AND k < 650")
      .head.getLong(0) === 0, "COW must not resurrect vector-deleted rows")
    // the rewritten part carries no vector; untouched parts keep theirs
    val conf = spark.sessionState.newHadoopConf()
    val metas = graft.sources.ManifestLog(conf, path).snapshot().partRanges
    assert(metas.nonEmpty)
  }

  test("a DELETE that matches no row commits no version") {
    val path = mkTable("noop")
    def versions = graft.sources.ManifestLog(spark.sessionState.newHadoopConf(), path).versions
    val before = versions
    withMor {
      // scanned parts, no matched row: no vector to write
      spark.sql("DELETE FROM gmor.ns.noop WHERE s = 'v5000'")
      // the key range prunes every part before the scan
      spark.sql("DELETE FROM gmor.ns.noop WHERE k >= 5000 AND s = 'x'")
    }
    // copy-on-write: nothing scanned, nothing re-emitted
    spark.sql("DELETE FROM gmor.ns.noop WHERE k >= 5000 AND s = 'x'")
    assert(versions === before)
    assert(spark.sql("SELECT count(*) FROM gmor.ns.noop").head.getLong(0) === 1000)
  }

  test("a query that switches the delete mode puts the caller's back") {
    spark.conf.set("graft.delete.mode", "eq")
    try {
      graft.queries.Warehouse.all.find(_.name == "q_delete_mor").get
        .fn(spark, Sf0001).collect()
      assert(spark.conf.getOption("graft.delete.mode") === Some("eq"))
    } finally spark.conf.unset("graft.delete.mode")
  }
}
