package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GraftBucket

/** Storage-partitioned execution over hash-bucketed manifest tables
  * (sink `option("buckets", n)` + ManifestScan's reported
  * KeyGroupedPartitioning + the catalog `bucket` function). Pins the
  * whole chain: writer-side routing == SQL function == Column
  * expression, bucket metadata in the manifest, the SHUFFLE-FREE
  * plans (co-bucketed join and keyed aggregation), and the safe
  * demotion to UnknownPartitioning when a part lacks bucket metadata.
  * The data answer of the join is oracle-gated via q_spj_join. */
class SpjSpec extends graft.SparkSpec {

  /** Structural shuffle probe (AQE-unwrapped) — rendering-proof twin
    * of the old `toString.contains("Exchange")` gate. */
  private def hasShuffle(
      p: org.apache.spark.sql.execution.SparkPlan): Boolean = {
    def walk(n: org.apache.spark.sql.execution.SparkPlan): Boolean =
      n.exists {
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => walk(a.executedPlan)
        case e => e.isInstanceOf[
          org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]
      }
    walk(p)
  }

  private lazy val wh = {
    val d = Files.createTempDirectory("graft-spjspec").toString
    spark.conf.set("spark.sql.catalog.gsp", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gsp.warehouse", d)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    d
  }

  /** The shared JVM-wide session outlives this suite — plan-shaping
    * confs (broadcast threshold) must be restored or they poison
    * other suites' plan pins. */
  private def withConf[T](kvs: (String, String)*)(f: => T): T =
    graft.util.SessionConf.withConf(spark, kvs: _*)(f)

  private def writeBucketed(name: String, df: DataFrame, n: Int): String = {
    val t = s"$wh/ns/$name"
    df.repartition(n, GraftBucket.bucketId(col("k"), n))
      .write.format("graft.sources.ManifestSource")
      .option("path", t)
      .option("buckets", n.toString)
      .mode("overwrite").save()
    t
  }

  private def rows(a: Long, b: Long) = {
    import spark.implicits._
    (a until b).map(i => (i, i * 7)).toDF("k", "v")
  }

  test("bucket function parity: writer router == catalog SQL == Column expr") {
    wh
    val keys = Seq(-5L, 0L, 1L, 42L, Long.MaxValue, Long.MinValue)
    import spark.implicits._
    val viaExpr = keys.toDF("k")
      .select(GraftBucket.bucketId(col("k"), 8).as("b"))
      .collect().map(_.getInt(0)).toSeq
    assert(viaExpr === keys.map(k => GraftBucket.id(k, 8)))
    val viaSql = keys.toDF("k").createOrReplaceTempView("spj_keys")
    val sqlRes = spark.sql("SELECT gsp.ns.bucket(8, k) AS b FROM spj_keys")
      .collect().map(_.getInt(0)).toSeq
    assert(sqlRes === keys.map(k => GraftBucket.id(k, 8)))
  }

  test("bucketed write: one part per bucket when pre-clustered; metadata present") {
    val t = writeBucketed("meta", rows(0, 1000), 4)
    val metas = ManifestLog(spark.sessionState.newHadoopConf(), t).snapshot().parts
    assert(metas.forall(_.nbuckets === 4))
    assert(metas.map(_.bucket).toSet === (0 until 4).toSet)
    assert(metas.length === 4, "pre-clustered write must emit one part per bucket")
    assert(metas.map(_.rows).sum === 1000L)
    // every row actually lives in its bucket's part
    val df = spark.read.format("graft.sources.ManifestSource")
      .option("path", t).load()
    assert(df.count() === 1000L)
  }

  test("keyed aggregation on a bucketed table runs with no exchange") {
    writeBucketed("agg", rows(0, 2000), 8)
    val agg = spark.sql(
      "SELECT k, sum(v) AS s FROM gsp.ns.agg GROUP BY k")
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed groupBy(k) must not shuffle:\n$plan")
    assert(agg.count() === 2000L)
  }

  test("co-bucketed join on the key is a storage-partitioned join (no shuffle)") {
    writeBucketed("fact", rows(0, 3000), 8)
    writeBucketed("dim", rows(0, 500), 8)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.sql(
        """SELECT f.k, f.v AS fv, d.v AS dv
           FROM gsp.ns.fact f JOIN gsp.ns.dim d ON f.k = d.k""")
      val got = j.collect()
      assert(got.length === 500)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-bucketed join must not shuffle either side:\n$plan")
      // answers identical to the unbucketed restatement
      assert(got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        === (0L until 500L).map(k => (k, k * 7, k * 7)).toSet)
    }
  }

  test("a part without bucket metadata demotes the scan (correct, shuffled)") {
    import spark.implicits._
    val t = writeBucketed("mixed", rows(0, 800), 4)
    // plain unbucketed append: correctness must survive, SPJ must not
    (800L until 900L).map(i => (i, i * 7)).toDF("k", "v")
      .coalesce(1)
      .write.format("graft.sources.ManifestSource")
      .option("path", t)
      .mode("append").save()
    val agg = spark.sql(
      "SELECT k, sum(v) AS s FROM gsp.ns.mixed GROUP BY k")
    assert(agg.count() === 900L)
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("Exchange"),
      "mixed bucketed/unbucketed parts must fall back to a shuffle")
  }

  test("bucket pruning still applies: point lookup reads one part") {
    val t = writeBucketed("prune", rows(0, 1000), 8)
    val df = spark.read.format("graft.sources.ManifestSource")
      .option("path", t).load().filter(col("k") === 123L)
    assert(df.collect().map(_.getLong(1)).toSeq === Seq(123L * 7))
    val scanDesc = df.queryExecution.executedPlan.toString
    // bloom + range stats prune to (at most) the one bucket part that
    // can hold the key
    assert(scanDesc.contains("parts=1/8") || scanDesc.contains("parts=1/"),
      s"expected single-part scan:\n$scanDesc")
  }

  test("SQL DDL end-to-end: PARTITIONED BY (bucket) tables join shuffle-free") {
    wh
    spark.sql("CREATE TABLE gsp.ns.ddl_f (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("CREATE TABLE gsp.ns.ddl_d (k BIGINT, w BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    // plain INSERTs — the table's layout policy routes + distributes;
    // no writer-side options, no manual pre-clustering
    rows(0, 1200).createOrReplaceTempView("spj_src")
    spark.sql("INSERT INTO gsp.ns.ddl_f SELECT k, v FROM spj_src")
    spark.sql("INSERT INTO gsp.ns.ddl_d SELECT k, v * 2 FROM spj_src WHERE k < 300")
    // clustered distribution => ~one file per bucket per insert
    val metas = ManifestLog(spark.sessionState.newHadoopConf(), s"$wh/ns/ddl_f").snapshot().parts
    assert(metas.forall(_.nbuckets === 4))
    assert(metas.length === 4)
    // table advertises its layout
    assert(spark.sql("DESCRIBE EXTENDED gsp.ns.ddl_f").collect()
      .map(_.toString).mkString.contains("bucket"))
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.sql("SELECT f.k, f.v, d.w FROM gsp.ns.ddl_f f " +
        "JOIN gsp.ns.ddl_d d ON f.k = d.k")
      assert(j.count() === 300)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"DDL-bucketed join must not shuffle:\n$plan")
    }
    // transforms the catalog can't lay out stay rejected (days/hours
    // became a supported hidden time layout — TimeLayoutSpec pins it)
    intercept[Exception] {
      spark.sql("CREATE TABLE gsp.ns.ddl_bad (k BIGINT, ts TIMESTAMP) " +
        "PARTITIONED BY (months(ts))")
    }
  }

  test("SQL DDL identity split: PARTITIONED BY (col) routes the split " +
    "writer, advertises its layout, and prunes point predicates") {
    wh
    spark.sql("CREATE TABLE gsp.ns.ddl_id (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (k)")
    // table advertises the identity layout
    val t = spark.sessionState.catalogManager.catalog("gsp")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("ns"), "ddl_id"))
    assert(t.partitioning().map(_.toString).toSeq === Seq("identity(k)"))
    // plain INSERT — layout policy clusters per value and the split
    // writer commits exactly one single-valued part per distinct value
    rows(0, 1000).createOrReplaceTempView("spj_id_src")
    spark.sql("INSERT INTO gsp.ns.ddl_id SELECT k % 5, v FROM spj_id_src")
    val metas = ManifestLog(spark.sessionState.newHadoopConf(), s"$wh/ns/ddl_id").snapshot().parts
    assert(metas.length === 5, "one part per distinct identity value")
    assert(metas.forall(m => m.nbuckets === 0))
    // point predicate on the split column plans exactly one part
    val point = spark.sql("SELECT sum(v) AS s FROM gsp.ns.ddl_id WHERE k = 3")
    val planned = point.queryExecution.sparkPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.length
    }.getOrElse(-1)
    assert(planned === 1, s"point predicate must prune to 1/5 parts, got $planned")
    assert(point.collect().head.getLong(0) ===
      (0L until 1000L).filter(_ % 5 == 3).map(_ * 7).sum)
    // identity column must exist with a splittable type
    intercept[Exception] {
      spark.sql("CREATE TABLE gsp.ns.ddl_id_bad (k BIGINT, f DOUBLE) " +
        "PARTITIONED BY (f)")
    }
  }

  test("bucket(0, k) is refused at CREATE and CTAS, leaving no layout record") {
    wh
    // 0 buckets is how the layout record encodes an identity split: a
    // bucket spelling that reached it would silently split per value
    val create = intercept[Exception] {
      spark.sql("CREATE TABLE gsp.ns.b0 (k BIGINT, v BIGINT) " +
        "PARTITIONED BY (bucket(0, k))")
    }
    assert(create.getMessage.contains("bucket count"), create.getMessage)
    val ctas = intercept[Exception] {
      spark.sql("CREATE TABLE gsp.ns.b0ctas PARTITIONED BY (bucket(0, k)) " +
        "AS SELECT id AS k, id AS v FROM range(40)")
    }
    assert(ctas.getMessage.contains("bucket count"), ctas.getMessage)
    for (t <- Seq("b0", "b0ctas")) {
      assert(ManifestLog(spark.sessionState.newHadoopConf(), s"$wh/ns/$t").versions.isEmpty,
        s"$t: a refused layout must leave no version, hence no record")
      assert(!spark.catalog.tableExists(s"gsp.ns.$t"))
    }
  }

  test("layout evolution: mixed generations demote SPJ safely; " +
    "compaction migrates to the head spec and SPJ re-arms") {
    wh
    spark.sql("CREATE TABLE gsp.ns.evo_f (k BIGINT, v BIGINT)")
    spark.sql("CREATE TABLE gsp.ns.evo_d (k BIGINT, w BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    rows(0, 800).createOrReplaceTempView("spj_evo_src")
    // generation 1: unpartitioned parts
    spark.sql("INSERT INTO gsp.ns.evo_f SELECT k, v FROM spj_evo_src WHERE k < 400")
    spark.sql("INSERT INTO gsp.ns.evo_d SELECT k, v * 2 FROM spj_evo_src")
    // evolve the spec — metadata-only, then generation 2 lands bucketed
    val r = spark.sql("CALL gsp.system.set_layout(" +
      "table => 'ns.evo_f', spec => 'bucket(4,k)')").head
    assert(r.getString(0) === "none" && r.getString(1) === "bucket(4,k)")
    spark.sql("INSERT INTO gsp.ns.evo_f SELECT k, v FROM spj_evo_src WHERE k >= 400")
    val metas = ManifestLog(spark.sessionState.newHadoopConf(), s"$wh/ns/evo_f").snapshot().parts
    assert(metas.exists(_.nbuckets === 0) && metas.exists(_.nbuckets === 4),
      "both generations must coexist after the spec change")
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // MID-MIGRATION: generations are mixed, so the scan must NOT
      // report KeyGroupedPartitioning — the join shuffles (correct)
      // rather than co-locating half-bucketed data (wrong)
      val mid = spark.sql("SELECT f.k, f.v, d.w FROM gsp.ns.evo_f f " +
        "JOIN gsp.ns.evo_d d ON f.k = d.k")
      assert(mid.count() === 800)
      assert(hasShuffle(mid.queryExecution.executedPlan),
        "mixed-generation join must demote to a shuffle")
      // MIGRATION: compact rewrites everything under the head spec
      spark.sql("CALL gsp.system.compact(table => 'ns.evo_f', " +
        "target_parts => 4)")
      val after = ManifestLog(spark.sessionState.newHadoopConf(), s"$wh/ns/evo_f").snapshot().parts
      assert(after.length === 4 && after.forall(_.nbuckets === 4),
        "compaction must migrate every part to the head spec")
      val post = spark.sql("SELECT f.k, f.v, d.w FROM gsp.ns.evo_f f " +
        "JOIN gsp.ns.evo_d d ON f.k = d.k")
      assert(post.count() === 800)
      assert(!hasShuffle(post.queryExecution.executedPlan),
        "post-migration co-bucketed join must not shuffle")
    }
  }

  test("WRITE ORDERED BY: ordered INSERT lands sorted disjoint parts; " +
    "range predicates prune; compaction restores the layout") {
    wh
    spark.sql("CREATE TABLE gsp.ns.ord (k BIGINT, v BIGINT)")
    val r = spark.sql("CALL gsp.system.set_layout(" +
      "table => 'ns.ord', spec => 'none', order_by => 'k')").head
    assert(r.getString(1) === "ordered(k)")
    rows(0, 1000).createOrReplaceTempView("spj_ord_src")
    // pin the range-exchange width: AQE would coalesce 1000 tiny rows
    // into one part and the layout property becomes unobservable
    withConf(
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "4") {
      spark.sql("INSERT INTO gsp.ns.ord SELECT * FROM spj_ord_src")
    }
    val conf = spark.sessionState.newHadoopConf()
    val metas = ManifestLog(conf, s"$wh/ns/ord").snapshot().parts
    assert(metas.forall(_.sorted), "ordered write must land sorted parts")
    // disjoint ranges: total overlap-free coverage of [0, 1000)
    val ranges = metas.map(m => (m.cstats("k").lMin, m.cstats("k").lMax))
      .sortBy(_._1)
    assert(ranges.sliding(2).forall {
      case Seq((_, aMax), (bMin, _)) => aMax < bMin
      case _ => true
    }, s"ordered parts must own disjoint key ranges: $ranges")
    // a narrow range predicate plans a strict subset of parts
    val q = spark.sql("SELECT sum(v) AS s FROM gsp.ns.ord " +
      "WHERE k >= 10 AND k <= 20")
    val planned = q.queryExecution.sparkPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.length
    }.getOrElse(-1)
    // a range-partitioner boundary may split the probe across two
    // parts — the pin is "a handful, not the table"
    assert(planned >= 1 && planned <= 2 && planned < metas.size,
      s"range probe must plan 1-2/${metas.size} parts, got $planned")
    assert(q.collect().head.getLong(0) === (10L to 20L).map(_ * 7).sum)
    // interleaved appends blur ranges; OPTIMIZE restores them
    spark.sql("INSERT INTO gsp.ns.ord SELECT k + 1000, v FROM spj_ord_src")
    spark.sql("CALL gsp.system.compact(table => 'ns.ord', target_parts => 4)")
    val after = ManifestLog(conf, s"$wh/ns/ord").snapshot().parts
    assert(after.length === 4 && after.forall(_.sorted))
    val ranges2 = after.map(m => (m.cstats("k").lMin, m.cstats("k").lMax))
      .sortBy(_._1)
    assert(ranges2.sliding(2).forall {
      case Seq((_, aMax), (bMin, _)) => aMax < bMin
      case _ => true
    }, s"compaction must restore disjoint ranges: $ranges2")
    assert(spark.sql("SELECT count(*) FROM gsp.ns.ord").head.getLong(0)
      === 2000L)
  }

  test("compaction preserves bucketing (SPJ survives OPTIMIZE + MOR settle)") {
    wh
    spark.sql("CREATE TABLE gsp.ns.opt (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    rows(0, 600).createOrReplaceTempView("spj_opt_src")
    spark.sql("INSERT INTO gsp.ns.opt SELECT * FROM spj_opt_src WHERE k < 300")
    spark.sql("INSERT INTO gsp.ns.opt SELECT * FROM spj_opt_src WHERE k >= 300")
    spark.conf.set("graft.delete.mode", "mor")
    try spark.sql("DELETE FROM gsp.ns.opt WHERE k % 3 = 0")
    finally spark.conf.unset("graft.delete.mode")
    val t = s"$wh/ns/opt"
    val conf = spark.sessionState.newHadoopConf()
    assert(ManifestLog(conf, t).snapshot().parts.length === 8)
    val stats = ManifestMaintenance.compactFiles(spark, t, targetParts = 4)
    val after = ManifestLog(conf, t).snapshot().parts
    assert(after.length === 4, "compaction must pack to one part per bucket")
    assert(after.forall(p => p.nbuckets === 4 && p.bucket >= 0 && !p.hasDv))
    // still shuffle-free after the rewrite
    val agg = spark.sql("SELECT k, sum(v) AS s FROM gsp.ns.opt GROUP BY k")
    assert(agg.count() === 400L)
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"post-compaction bucketed aggregation must not shuffle:\n$plan")
  }

  test("sorted buckets: compacted co-bucketed join has NO exchange and NO sort") {
    wh
    spark.sql("CREATE TABLE gsp.ns.srt_f (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("CREATE TABLE gsp.ns.srt_d (k BIGINT, w BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    rows(0, 1000).createOrReplaceTempView("spj_srt_src")
    // two inserts each -> two files per bucket -> compact to one
    spark.sql("INSERT INTO gsp.ns.srt_f SELECT k, v FROM spj_srt_src WHERE k < 500")
    spark.sql("INSERT INTO gsp.ns.srt_f SELECT k, v FROM spj_srt_src WHERE k >= 500")
    spark.sql("INSERT INTO gsp.ns.srt_d SELECT k, v * 3 FROM spj_srt_src WHERE k < 200")
    spark.sql("CALL gsp.system.compact(table => 'ns.srt_f', target_parts => 4)")
    spark.sql("CALL gsp.system.compact(table => 'ns.srt_d', target_parts => 4)")
    val conf = spark.sessionState.newHadoopConf()
    assert(ManifestLog(conf, s"$wh/ns/srt_f").snapshot().parts
      .forall(_.sorted), "compacted bucketed parts must be key-sorted")
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.sources.v2.bucketing.sorting.enabled" -> "true") {
      val j = spark.sql("SELECT f.k, f.v, d.w FROM gsp.ns.srt_f f " +
        "JOIN gsp.ns.srt_d d ON f.k = d.k")
      assert(j.count() === 200)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"sorted co-bucketed join must not shuffle:\n$plan")
      assert(!plan.contains("Sort "),
        s"sorted co-bucketed join must not re-sort:\n$plan")
      assert(j.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet === (0L until 200L).map(k => (k, k * 7, k * 21)).toSet)
    }
  }
}
