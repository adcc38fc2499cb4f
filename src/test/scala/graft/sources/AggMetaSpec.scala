package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** SUM stats + identity-partitioned layout + grouped metadata-only
  * aggregates: the writer records an exact per-part SUM for every
  * tracked long column (its ColStat.sum),
  * `option("splitBy", c)` commits single-valued parts per distinct
  * value of c, and the scan answers global SUM and single-valued
  * GROUP BY COUNT/MIN/MAX/SUM entirely from the manifest — declining
  * (never wrapping, never approximating) on deletion vectors, legacy
  * manifests, straddling parts, and Long-overflowing folds. */
class AggMetaSpec extends graft.SparkSpec {

  private def conf = spark.sessionState.newHadoopConf()

  private def readBack(t: String): DataFrame =
    spark.read.format("graft.sources.ManifestSource")
      .option("path", t).load()

  /** Catalog over a temp warehouse: vectored tables are written at
    * `$wh/ns/<name>` and deleted from through `gagg.ns.<name>`. */
  private lazy val wh = {
    val d = Files.createTempDirectory("graft-aggmeta").toString
    spark.conf.set("spark.sql.catalog.gagg", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gagg.warehouse", d)
    d
  }

  private def morDelete(sql: String): Unit = {
    spark.conf.set("graft.delete.mode", "mor")
    try spark.sql(sql) finally spark.conf.unset("graft.delete.mode")
  }

  private def metaOnly(df: DataFrame): Boolean =
    PlanProbes.aggPushedDown(df.queryExecution.executedPlan)

  private def write(df: DataFrame, t: String, mode: String = "append",
      opts: Map[String, String] = Map.empty): Unit = {
    var w = df.write.format("graft.sources.ManifestSource")
      .option("path", t)
    opts.foreach { case (k, v) => w = w.option(k, v) }
    w.mode(mode).save()
  }

  test("global SUM answers from per-part sums, metadata-only") {
    val t = Files.createTempDirectory("graft-aggmeta").toString + "/t"
    import spark.implicits._
    (0L until 1000L).map(k => (k, k % 7, s"s$k"))
      .toDF("k", "v", "s").repartition(4).createOrReplaceTempView("src")
    write(spark.table("src"), t)
    val q = readBack(t).agg(
      sum($"k").as("sk"), sum($"v").as("sv"),
      count(lit(1)).as("n"), min($"k").as("mk"))
    assert(metaOnly(q), q.queryExecution.executedPlan.toString)
    val r = q.head
    assert(r.getLong(0) === (0L until 1000L).sum)
    assert(r.getLong(1) === (0L until 1000L).map(_ % 7).sum)
    assert(r.getLong(2) === 1000L && r.getLong(3) === 0L)
  }

  test("SUM of an all-null / empty column set folds to NULL") {
    val t = Files.createTempDirectory("graft-aggmeta").toString + "/t"
    import spark.implicits._
    // key column present but every value NULL in one part; Some(0)
    // sums recorded — the fold must still return SQL NULL
    Seq[(java.lang.Long, String)]((null, "a"), (null, "b"))
      .toDF("k", "s").coalesce(1).pipe(df => write(df, t))
    val q = readBack(t).agg(sum($"k").as("sk"), count($"k").as("ck"))
    assert(metaOnly(q), q.queryExecution.executedPlan.toString)
    val r = q.head
    assert(r.isNullAt(0) && r.getLong(1) === 0L)
  }

  test("SUM declines on per-part overflow and under deletion vectors") {
    val t = Files.createTempDirectory("graft-aggmeta").toString + "/t"
    import spark.implicits._
    // one part whose running sum overflows a Long: the key's sum untracked
    Seq(Long.MaxValue, 5L).toDF("k").coalesce(1).pipe(df => write(df, t))
    val q = readBack(t).agg(sum($"k").as("sk"))
    assert(!metaOnly(q), "overflowed per-part sum must decline")
    // a fresh table with a DV: exact sums exist but are PHYSICAL
    val t2 = s"$wh/ns/sumdv"
    (0L until 100L).toDF("k").coalesce(1).pipe(df => write(df, t2))
    morDelete("DELETE FROM gagg.ns.sumdv WHERE k < 10")
    val q2 = readBack(t2).agg(sum($"k").as("sk"))
    assert(!metaOnly(q2), "DV must decline SUM")
    assert(q2.head.getLong(0) === (10L until 100L).sum)
  }

  test("fold overflow across parts declines instead of wrapping") {
    val t = Files.createTempDirectory("graft-aggmeta").toString + "/t"
    import spark.implicits._
    // two parts, each sum fits a Long, but their total does not
    Seq(Long.MaxValue - 1).toDF("k").coalesce(1).pipe(df => write(df, t))
    Seq(Long.MaxValue - 1).toDF("k").coalesce(1).pipe(df => write(df, t))
    val q = readBack(t).agg(sum($"k").as("sk"))
    assert(!metaOnly(q), "overflowing fold must decline to a data scan")
  }

  test("splitBy commits one single-valued part per distinct value") {
    val base = Files.createTempDirectory("graft-aggmeta").toString
    val t = s"$base/t"
    import spark.implicits._
    val df = (0L until 600L)
      .map(i => (i, Seq("a", "b", "c")(i.toInt % 3), i % 11))
      .toDF("k", "cat", "v").repartition(8)
    write(df, t, opts = Map("splitBy" -> "cat"))
    val parts = ManifestLog(conf, t).snapshot().parts
    assert(parts.length === 3, s"one part per value, got ${parts.length}")
    assert(parts.forall(p => p.cstats.get("cat").exists(st =>
      st.hasValues && st.min == st.max && st.nulls == 0L)),
      "every part single-valued on cat")
    // a point predicate on the split column prunes to its one part
    val one = readBack(t).filter($"cat" === "b")
    val planned = one.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.inputPartitions.length
    }.getOrElse(-1)
    assert(planned === 1 && one.count() === 200L)
  }

  test("GROUP BY the split column answers from the manifest alone") {
    val base = Files.createTempDirectory("graft-aggmeta").toString
    val t = s"$base/t"
    import spark.implicits._
    val df = (0L until 900L)
      .map(i => (i, Seq("x", "y", "z")(i.toInt % 3), i % 13))
      .toDF("k", "cat", "v").repartition(8)
    write(df, t, opts = Map("splitBy" -> "cat"))
    val q = readBack(t).groupBy($"cat")
      .agg(count(lit(1)).as("n"), min($"k").as("mk"), max($"k").as("xk"),
        sum($"v").as("sv"), count($"v").as("cv"))
      .orderBy($"cat")
    assert(metaOnly(q), q.queryExecution.executedPlan.toString)
    val expect = df.groupBy($"cat")
      .agg(count(lit(1)).as("n"), min($"k").as("mk"), max($"k").as("xk"),
        sum($"v").as("sv"), count($"v").as("cv"))
      .orderBy($"cat").collect().toSeq
    assert(q.collect().toSeq === expect)
  }

  test("GROUP BY groups a NULL split value like SQL does") {
    val base = Files.createTempDirectory("graft-aggmeta").toString
    val t = s"$base/t"
    import spark.implicits._
    val df = (0L until 300L)
      .map(i => (i, if (i % 3 == 0) null else s"g${i % 3}"))
      .toDF("k", "cat").repartition(5)
    write(df, t, opts = Map("splitBy" -> "cat"))
    val q = readBack(t).groupBy($"cat").agg(count(lit(1)).as("n"))
      .orderBy($"cat")
    assert(metaOnly(q), q.queryExecution.executedPlan.toString)
    val expect = df.groupBy($"cat").agg(count(lit(1)).as("n"))
      .orderBy($"cat").collect().toSeq
    assert(q.collect().toSeq === expect)
  }

  test("GROUP BY declines on straddling parts and under DVs") {
    val base = Files.createTempDirectory("graft-aggmeta").toString
    import spark.implicits._
    val df = (0L until 300L)
      .map(i => (i, Seq("x", "y", "z")(i.toInt % 3)))
      .toDF("k", "cat")
    // plain write: parts straddle cat values → decline, result exact
    val plain = s"$base/plain"
    write(df.repartition(4), plain)
    val qp = readBack(plain).groupBy($"cat").agg(count(lit(1)).as("n"))
    assert(!metaOnly(qp), "straddling parts must decline")
    assert(qp.orderBy($"cat").collect().map(_.getLong(1)).toSeq
      === Seq(100L, 100L, 100L))
    // split table with a DV: layout fine, counts now physical → decline
    val split = s"$wh/ns/split"
    write(df.repartition(4), split, opts = Map("splitBy" -> "cat"))
    morDelete("DELETE FROM gagg.ns.split WHERE k = 0")
    val qd = readBack(split).groupBy($"cat").agg(count(lit(1)).as("n"))
    assert(!metaOnly(qd), "deletion vectors must decline grouped aggs")
    assert(qd.orderBy($"cat").collect().map(_.getLong(1)).toSeq
      === Seq(99L, 100L, 100L))
  }

  test("legacy manifest (no sums) declines; ANALYZE restores pushdown") {
    val base = Files.createTempDirectory("graft-aggmeta").toString
    val t = s"$base/t"
    import spark.implicits._
    (0L until 500L).toDF("k").repartition(2).pipe(df => write(df, t))
    // simulate a pre-sum manifest: strip the key's sum from the
    // committed snapshot text (additive codec → still readable)
    val fs = new org.apache.hadoop.fs.Path(t).getFileSystem(conf)
    Seq(ManifestLog.versionFile(1)).foreach { f =>
      val p = new org.apache.hadoop.fs.Path(t, f)
      if (fs.exists(p)) {
        val in = fs.open(p)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val out = fs.create(p, true)
        try out.write(txt.replaceAll(""","sum":-?\d+""", "")
          .getBytes("UTF-8"))
        finally out.close()
      }
    }
    val q = readBack(t).agg(sum($"k").as("sk"))
    assert(!metaOnly(q), "legacy manifest must decline SUM")
    assert(q.head.getLong(0) === (0L until 500L).sum)
    ManifestMaintenance.analyzeTable(spark, t)
    val q2 = readBack(t).agg(sum($"k").as("sk"))
    assert(metaOnly(q2), "ANALYZE must restore the sum stats")
    assert(q2.head.getLong(0) === (0L until 500L).sum)
  }

  test("CREATE TABLE PARTITIONED BY (col): inserts split, compaction preserves") {
    val wh = Files.createTempDirectory("graft-aggmeta").toString
    spark.conf.set("spark.sql.catalog.gam", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gam.warehouse", wh)
    import spark.implicits._
    spark.sql(
      "CREATE TABLE gam.ns.t (k BIGINT, cat STRING) PARTITIONED BY (cat)")
    (0L until 300L).map(i => (i, Seq("p", "q", "r")(i.toInt % 3)))
      .toDF("k", "cat").repartition(6).createOrReplaceTempView("gam_src")
    spark.sql("INSERT INTO gam.ns.t SELECT k, cat FROM gam_src")
    spark.sql("INSERT INTO gam.ns.t SELECT k + 300, cat FROM gam_src")
    val t = s"$wh/ns/t"
    val before = ManifestLog(conf, t).snapshot().parts
    assert(before.length === 6, "two split inserts = 3 values x 2")
    assert(before.forall(p => p.cstats.get("cat").exists(st =>
      st.hasValues && st.min == st.max)))
    val q = spark.sql(
      "SELECT cat, count(*) AS n, sum(k) AS sk FROM gam.ns.t " +
        "GROUP BY cat ORDER BY cat")
    assert(metaOnly(q), q.queryExecution.executedPlan.toString)
    assert(q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1).map(x => (x._1, x._2)) ===
      Seq(("p", 200L), ("q", 200L), ("r", 200L)))
    // compaction re-packs per value — the layout survives maintenance
    spark.sql("CALL gam.system.compact(table => 'ns.t', target_parts => 1)")
    val after = ManifestLog(conf, t).snapshot().parts
    assert(after.length === 3, s"one part per value, got ${after.length}")
    assert(after.forall(p => p.cstats.get("cat").exists(st =>
      st.hasValues && st.min == st.max)))
    val q2 = spark.sql(
      "SELECT cat, count(*) AS n, sum(k) AS sk FROM gam.ns.t " +
        "GROUP BY cat ORDER BY cat")
    assert(metaOnly(q2), "grouped pushdown must survive compaction")
    assert(q2.collect().toSeq === q.collect().toSeq)
  }

  private implicit class Piped[A](a: A) {
    def pipe[B](f: A => B): B = f(a)
  }
}
