package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** MERGE-ON-READ UPDATE / MERGE / DELETE through the SupportsDelta
  * operation (sources/ManifestDelta.scala), plus the wide-delete
  * scale pin for the sidecar MOR DELETE: matched rows
  * become deletion-vector bits + appended row images — ZERO data-file
  * rewrites — and no ordinal list ever crosses to the driver. */
class MorDeltaSpec extends graft.SparkSpec {

  private lazy val wh = {
    val d = Files.createTempDirectory("graft-mordelta").toString
    spark.conf.set("spark.sql.catalog.gmd", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmd.warehouse", d)
    d
  }

  private def conf = spark.sessionState.newHadoopConf()

  private def mkTable(name: String, rows: Long = 1000L): String = {
    import spark.implicits._
    val path = s"$wh/ns/$name"
    (0L until rows).map(i => (i, s"v$i")).toDF("k", "s")
      .repartitionByRange(4, col("k"))
      .write.format("graft.sources.ManifestSource")
      .option("path", path)
      .mode("overwrite").save()
    path
  }

  private def headMeta(path: String): Seq[PartMeta] =
    ManifestLog(conf, path).snapshot().parts

  private def withMor[T](body: => T): T = {
    spark.conf.set("graft.delete.mode", "mor")
    try body finally spark.conf.unset("graft.delete.mode")
  }

  test("MOR UPDATE: one vector + one appended image, zero part rewrites") {
    val path = mkTable("upd")
    val before = headMeta(path).map(_.path).toSet
    withMor { spark.sql("UPDATE gmd.ns.upd SET s = 'upd' WHERE k = 123") }
    val after = headMeta(path)
    assert(before.subsetOf(after.map(_.path).toSet),
      "every original part carries forward by reference — no rewrites")
    assert((after.map(_.path).toSet -- before).size === 1,
      "exactly one appended part holds the updated image")
    val vectored = after.filter(_.hasDv)
    assert(vectored.size === 1 && vectored.head.dvRef.nonEmpty &&
      vectored.head.dvCard === 1,
      "the old image is masked by a one-bit sidecar vector")
    assert(spark.sql("SELECT s FROM gmd.ns.upd WHERE k = 123")
      .head.getString(0) === "upd")
    assert(spark.sql("SELECT count(*) FROM gmd.ns.upd").head.getLong(0) === 1000)
    assert(spark.sql(
      "SELECT s FROM gmd.ns.upd VERSION AS OF 1 WHERE k = 123")
      .head.getString(0) === "v123", "time travel pre-update")
  }

  test("MOR MERGE INTO: update/delete/insert in one delta snapshot") {
    import spark.implicits._
    val path = mkTable("mrg")
    val before = headMeta(path).map(_.path).toSet
    Seq((50L, "m50", "U"), (200L, "gone", "D"), (1500L, "new", "U"))
      .toDF("k", "v", "op").createOrReplaceTempView("graft_md_src")
    withMor {
      spark.sql("""MERGE INTO gmd.ns.mrg t USING graft_md_src s ON t.k = s.k
        WHEN MATCHED AND s.op = 'D' THEN DELETE
        WHEN MATCHED THEN UPDATE SET s = s.v
        WHEN NOT MATCHED THEN INSERT (k, s) VALUES (s.k, s.v)""")
    }
    assert(spark.sql("SELECT s FROM gmd.ns.mrg WHERE k = 50")
      .head.getString(0) === "m50")
    assert(spark.sql("SELECT count(*) FROM gmd.ns.mrg WHERE k = 200")
      .head.getLong(0) === 0)
    assert(spark.sql("SELECT s FROM gmd.ns.mrg WHERE k = 1500")
      .head.getString(0) === "new")
    assert(spark.sql("SELECT count(*) FROM gmd.ns.mrg").head.getLong(0) === 1000)
    val after = headMeta(path)
    assert(before.subsetOf(after.map(_.path).toSet),
      "sparse MERGE rewrites nothing")
    // k=50 (update) and k=200 (delete) live in the same [0,250) part:
    // one vector with two bits; updated+inserted images appended
    assert(after.filter(_.hasDv).map(_.dvCount).sum === 2,
      "exactly the matched old images are masked")
    assert(ManifestLog(conf, path).versions === Seq(1, 2),
      "one MERGE = one snapshot")
    assert(spark.sql("SELECT * FROM gmd.ns.mrg VERSION AS OF 1").count() === 1000)
  }

  test("untranslatable DELETE under mor runs as a delta, not a rewrite") {
    val path = mkTable("del")
    val before = headMeta(path).map(_.path).toSet
    withMor { spark.sql("DELETE FROM gmd.ns.del WHERE k + 1 = 500") }
    val after = headMeta(path)
    assert(after.map(_.path).toSet === before,
      "a pure delete appends no parts and rewrites none")
    assert(after.filter(_.hasDv).map(_.dvCount).sum === 1)
    assert(spark.sql("SELECT count(*) FROM gmd.ns.del").head.getLong(0) === 999)
    assert(spark.sql("SELECT count(*) FROM gmd.ns.del WHERE k = 499")
      .head.getLong(0) === 0)
  }

  test("the change feed replays a MOR UPDATE as precise delete + insert") {
    val path = mkTable("cdf")
    withMor { spark.sql("UPDATE gmd.ns.cdf SET s = 'x' WHERE k = 7") }
    val sink = Files.createTempDirectory("graft-mordelta-sink").toString
    val ckpt = Files.createTempDirectory("graft-mordelta-ckpt").toString
    val q = spark.readStream.format("graft.sources.ManifestSource")
      .option("path", path).option("changeFeed", "true").load()
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val v2 = spark.read.parquet(sink).filter(col("_commit_version") === 2)
    assert(v2.count() === 2, "exactly one delete + one insert replay")
    assert(v2.filter(col("_change_type") === "delete")
      .select("k", "s").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq === Seq((7L, "v7")))
    assert(v2.filter(col("_change_type") === "insert")
      .select("k", "s").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq === Seq((7L, "x")))
  }

  test("two concurrent disjoint UPDATEs both commit (snapshot isolation)") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val path = mkTable("race")
    // two threads, disjoint key ranges (parts [0,249] and [750,999]):
    // whatever the interleaving, the footprint conflict check must let
    // BOTH commit — the loser of the version claim re-applies over the
    // winner's head instead of aborting
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def updater(k: Long, v: String): Runnable = () => {
      start.await()
      try spark.sql(s"UPDATE gmd.ns.race SET s = '$v' WHERE k = $k")
      catch { case t: Throwable => errors.add(t) }
    }
    pool.submit(updater(10L, "left"))
    pool.submit(updater(990L, "right"))
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(errors.isEmpty,
      s"disjoint UPDATEs must both commit: ${errors.peek()}")
    assert(spark.sql("SELECT s FROM gmd.ns.race WHERE k = 10")
      .head.getString(0) === "left")
    assert(spark.sql("SELECT s FROM gmd.ns.race WHERE k = 990")
      .head.getString(0) === "right")
    assert(spark.sql("SELECT count(*) FROM gmd.ns.race").head.getLong(0) === 1000)
    assert(ManifestLog(conf, path).versions === Seq(1, 2, 3),
      "each UPDATE lands its own snapshot")
  }

  test("vacuum reclaims superseded sidecars and protects live ones") {
    val path = mkTable("vac")
    withMor {
      spark.sql("DELETE FROM gmd.ns.vac WHERE k >= 600 AND k < 650") // v2
      spark.sql("DELETE FROM gmd.ns.vac WHERE k = 700")              // v3
    }
    def sidecars: Set[String] = new java.io.File(path).listFiles()
      .map(_.getName).filter(_.startsWith("dv-")).toSet
    assert(sidecars.size === 2, "each vector commit wrote one sidecar")
    val live = headMeta(path).filter(_.hasDv).map(m =>
      new org.apache.hadoop.fs.Path(m.dvRef).getName).toSet
    assert(live.size === 1, "the second delete's union superseded the first")
    // keep only the head: v2's sidecar is unreferenced -> reclaimed;
    // the head's union sidecar must survive
    ManifestMaintenance.expireSnapshots(conf, path, keepLast = 1,
      orphanGraceMs = 0L)
    assert(sidecars === live, "only the live sidecar survives vacuum")
    assert(spark.sql("SELECT count(*) FROM gmd.ns.vac").head.getLong(0) === 949,
      "the surviving sidecar still masks")
  }

  test("vacuum never reclaims parts staged on an unpublished branch") {
    import spark.implicits._
    val path = mkTable("branchvac")
    (5000L until 5100L).map(i => (i, s"b$i")).toDF("k", "s")
      .repartition(1)
      .write.format("graft.sources.ManifestSource")
      .option("path", path)
      .option("branch", "audit").mode("append").save()
    val staged = ManifestLog(conf, path).snapshot(Ref.Branch("audit")).parts
      .map(_.path).toSet -- headMeta(path).map(_.path).toSet
    assert(staged.size === 1)
    // aggressive vacuum (no orphan grace): the staged part is listed
    // by NO main snapshot — only the branch manifest protects it
    ManifestMaintenance.expireSnapshots(conf, path, keepLast = 1,
      orphanGraceMs = 0L)
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    staged.foreach(p => assert(
      fs.exists(new org.apache.hadoop.fs.Path(p)),
      s"branch-staged part $p must survive vacuum until published/dropped"))
    // publish, then the data is main's responsibility as usual
    ManifestMaintenance.fastForward(conf, path, "audit")
    assert(spark.read.format("graft.sources.ManifestSource")
      .option("path", path).load().count() === 1100)
  }

  test("catalog WAP: writeTo(...).option(branch) stages; read option reads it") {
    import spark.implicits._
    val path = mkTable("catwap")
    (5000L until 5200L).map(i => (i, s"b$i")).toDF("k", "s")
      .writeTo("gmd.ns.catwap").option("branch", "audit").append()
    // main untouched; the branch read sees base + staged
    assert(spark.table("gmd.ns.catwap").count() === 1000,
      "branch staging must be invisible to main readers")
    assert(spark.read.option("branch", "audit").table("gmd.ns.catwap")
      .count() === 1200)
    ManifestMaintenance.fastForward(conf, path, "audit")
    assert(spark.table("gmd.ns.catwap").count() === 1200,
      "fast-forward publishes the audited snapshot to main")
  }

  test(".history metadata table: mask-aware rows, bytes, monotone commit times") {
    val path = mkTable("hist")
    withMor { spark.sql("DELETE FROM gmd.ns.hist WHERE k >= 600 AND k < 650") }
    val h = spark.sql(
      "SELECT * FROM gmd.ns.hist.history ORDER BY version").collect()
    assert(h.map(_.getInt(0)).toSeq === Seq(1, 2))
    assert(h.map(_.getString(1)).toSeq === Seq("overwrite", "delete"),
      "each commit carries its operation kind")
    assert(h.map(_.getLong(3)).toSeq === Seq(1000L, 950L),
      "n_rows must be the VISIBLE count (vectors subtracted)")
    assert(h.map(_.getLong(4)).toSeq === Seq(0L, 1L), "one vectored part at v2")
    assert(h.forall(_.getLong(5) > 0L), "committed byte sizes flow through")
    assert(h(0).getLong(6) <= h(1).getLong(6), "commit times nondecreasing")
    // metadata-only: the scan works with every data file gone
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    headMeta(path).foreach(m =>
      fs.delete(new org.apache.hadoop.fs.Path(m.path), false))
    assert(spark.sql("SELECT count(*) FROM gmd.ns.hist.history")
      .head.getLong(0) === 2, "history reads zero data files")
  }

  test("a wide MOR DELETE (80% of rows) ships no ordinals to the driver") {
    val path = mkTable("wide", rows = 100000L)
    val dataBefore = headMeta(path).map(_.path).toSet
    // task result sizes during the delete: with executor-written
    // sidecars every task returns at most a (part, ref, cardinality)
    // row; the old collect-the-ordinals shape would return ~640 KB
    // (80k ordinals) through one task
    @volatile var maxResult = 0L
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          maxResult = math.max(maxResult, te.taskMetrics.resultSize)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      withMor { spark.sql("DELETE FROM gmd.ns.wide WHERE k < 80000") }
      // drain the async listener bus before reading maxResult
      org.apache.spark.graftbridge.TestBus.waitUntilEmpty(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(maxResult > 0L, "listener observed the delete's tasks")
    assert(maxResult < 100000L,
      s"task results must carry references, not ordinals (max $maxResult B)")
    val after = headMeta(path)
    assert(after.map(_.path).toSet === dataBefore, "no data file touched")
    assert(after.filter(_.hasDv).forall(_.dvRef.nonEmpty))
    assert(after.map(_.dvCount).sum === 80000L)
    assert(spark.sql("SELECT count(*) FROM gmd.ns.wide").head.getLong(0) === 20000)
    assert(spark.sql("SELECT min(k) FROM gmd.ns.wide").head.getLong(0) === 80000)
  }
}
