package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.RawLocalFileSystem
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.SupportsReportStatistics
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Tables
import graft.sources.ManifestSink

/** A local filesystem under a scheme that exists ONLY in the session
  * Hadoop configuration — the probe for the sink/source conf plumbing.
  * If any manifest code path built a bare `new Configuration()`, the
  * `graftfs` scheme would be unresolvable there and the operation
  * would throw ("No FileSystem for scheme"). Must be top-level: Hadoop
  * instantiates it reflectively from the conf value. */
class GraftTestFs extends RawLocalFileSystem {
  override def getScheme: String = "graftfs"
  override def getUri: URI = URI.create("graftfs:///")
}

/** DSv2 manifest READ-path guarantees: schema from the manifest
  * header, stats-based part pruning from pushed key bounds (with the
  * filters kept residual, so pruning is never a correctness
  * dependency), codec fidelity for every atomic type including
  * NULL-vs-empty and separator-hostile strings, post-pruning planner
  * statistics, and session-conf filesystem access end to end. */
class ManifestSourceSpec extends SparkSpec {

  private def writeEvents(target: String, parts: Int = 8): Unit =
    Tables.events(spark, Sf0001)
      .select(col("event_id"), col("event_type"), col("value"))
      .repartitionByRange(parts, col("event_id"))
      .write.format("graft.sources.ManifestSource")
      .option("path", target).mode("overwrite").save()

  private def readBack(target: String): DataFrame =
    spark.read.format("graft.sources.ManifestSource")
      .option("path", target).load()

  private def scanOf(df: DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get

  test("schema comes from the manifest header, not file sampling") {
    val target = Files.createTempDirectory("graft-src-spec-").toString
    writeEvents(target)
    val schema = readBack(target).schema
    assert(schema.fieldNames.toSeq === Seq("event_id", "event_type", "value"))
    assert(schema("event_id").dataType === LongType)
    assert(schema("event_type").dataType === StringType)
    assert(schema("value").dataType === DoubleType)
  }

  test("roundtrip preserves atomic types, NULL vs empty, hostile strings") {
    import spark.implicits._
    val target = Files.createTempDirectory("graft-src-spec-").toString
    val rows = Seq(
      (1L, Some("plain"), Some(1.5), Some(true)),
      (2L, Some("comma, inside"), Some(-0.25), Some(false)),
      (3L, Some("line\nbreak\tand tab"), None, None),
      (4L, Some(""), Some(Double.MinPositiveValue), Some(true)), // empty ≠ NULL
      (5L, None, Some(1.0e308), Some(false)),
      (6L, Some("unicode æøå 中文 🙂"), Some(0.1 + 0.2), None),
      (7L, Some("\\N"), Some(0.0), Some(true))) // the literal NULL token
    val df = rows.toDF("k", "s", "v", "b")
    df.write.format("graft.sources.ManifestSource")
      .option("path", target).mode("overwrite").save()
    val back = readBack(target)
    assert(back.except(df).isEmpty && df.except(back).isEmpty,
      "roundtrip must be lossless")
    // NULL and empty string stay distinct through the codec
    assert(back.filter(col("s").isNull).select("k").as[Long].collect().toSeq === Seq(5L))
    assert(back.filter(col("s") === "").select("k").as[Long].collect().toSeq === Seq(4L))

    // type extremes: integral bounds, NaN and -0.0, full-width
    // decimals, dates and timestamps before the 1582 Gregorian cutover
    // and at the ends of the range, empty and non-empty binaries, and
    // a struct with a NULL sub-field next to a NULL struct
    val extremes = spark.sql("""SELECT * FROM VALUES
      (1L, CAST(-128 AS TINYINT), CAST(-32768 AS SMALLINT), -2147483648,
        CAST('NaN' AS FLOAT), CAST('NaN' AS DOUBLE),
        CAST('-12345678901234567890.123456789012345678' AS DECIMAL(38,18)),
        DATE'0001-01-01', TIMESTAMP'0001-01-01 00:00:00',
        X'', named_struct('a', 1, 'b', CAST(NULL AS STRING))),
      (2L, CAST(127 AS TINYINT), CAST(32767 AS SMALLINT), 2147483647,
        CAST(-0.0 AS FLOAT), CAST(-0.0 AS DOUBLE),
        CAST('99999999999999999999.999999999999999999' AS DECIMAL(38,18)),
        DATE'9999-12-31', TIMESTAMP'9999-12-31 23:59:59.999999',
        X'00FF2C0A', CAST(NULL AS STRUCT<a: INT, b: STRING>)),
      (3L, CAST(0 AS TINYINT), CAST(0 AS SMALLINT), 0,
        CAST('Infinity' AS FLOAT), CAST('-Infinity' AS DOUBLE),
        CAST(NULL AS DECIMAL(38,18)),
        DATE'1000-03-01', TIMESTAMP'1500-06-15 12:34:56.789012',
        CAST(NULL AS BINARY), named_struct('a', CAST(NULL AS INT), 'b', 'x'))
      AS t(k, ti, si, i, f, d, dec, dt, ts, bin, st)""")
    val target2 = Files.createTempDirectory("graft-src-spec-").toString
    extremes.write.format("graft.sources.ManifestSource")
      .option("path", target2).mode("overwrite").save()
    val back2 = readBack(target2)
    assert(back2.schema.map(_.dataType.simpleString) ===
      extremes.schema.map(_.dataType.simpleString))
    assert(back2.orderBy("k").collect().toSeq ===
      extremes.orderBy("k").collect().toSeq, "extremes must round-trip")
  }

  test("key-range predicates prune part files against manifest stats") {
    val target = Files.createTempDirectory("graft-src-spec-").toString
    writeEvents(target, parts = 8)
    assert(scanOf(readBack(target)).inputPartitions.length === 8,
      "unfiltered scan plans every committed part")
    val minId = Tables.events(spark, Sf0001).agg(min("event_id")).head.getLong(0)
    // range-partitioned parts have disjoint key ranges: a point-sized
    // bound overlaps exactly the part holding the minimum
    val one = readBack(target).filter(col("event_id") <= minId)
    assert(scanOf(one).inputPartitions.length === 1)
    // an unsatisfiable bound prunes every part at planning time
    val none = readBack(target).filter(col("event_id") < minId)
    assert(scanOf(none).inputPartitions.length === 0)
    assert(none.count() === 0L)
  }

  test("string-column stats prune parts; vanished non-matching files prove it") {
    val target = Files.createTempDirectory("graft-src-strstats-").toString
    // layout clustered BY THE STRING column: each part owns a disjoint
    // event_type range, so smin/smax stats are selective
    Tables.events(spark, Sf0001)
      .select(col("event_id"), col("event_type"), col("value"))
      .repartitionByRange(4, col("event_type"))
      .write.format("graft.sources.ManifestSource")
      .option("path", target).mode("overwrite").save()
    val total = scanOf(readBack(target)).inputPartitions.length
    assert(total >= 3, s"range layout should yield several parts, got $total")
    val one = readBack(target).filter(col("event_type") === "purchase")
    val planned = scanOf(one).inputPartitions.length
    assert(planned < total,
      s"string point predicate must prune: planned $planned of $total")
    val expected = Tables.events(spark, Sf0001)
      .filter(col("event_type") === "purchase").count()
    assert(one.count() === expected)
    // the strongest proof: delete every part file OUTSIDE the pruned
    // plan — the scan must still answer correctly because it never
    // touches them
    val conf = spark.sessionState.newHadoopConf()
    val inPlan = scanOf(one).inputPartitions.map(_.toString).mkString
    graft.sources.ManifestLog(conf, target).snapshot().partRanges.foreach { p =>
      val name = new java.io.File(p._1).getName
      if (!inPlan.contains(name))
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(
          p._1.stripPrefix("file:")))
    }
    assert(readBack(target).filter(col("event_type") === "purchase")
      .count() === expected, "pruned scan must not touch vanished files")
  }

  test("string pruning is collation-safe for supplementary characters") {
    import spark.implicits._
    // UTF-16 code-unit order (Java String) and UTF-8 byte order
    // disagree here: U+E000 sorts BELOW an emoji (U+1F600) in UTF-8
    // but ABOVE its surrogate pair in UTF-16. The writer's stats are
    // UTF-8-ordered, so a reader comparing with String operators
    // would conclude sMin > predicate and silently prune the part
    // that holds the matching row.
    val emoji = "\uD83D\uDE00x" // U+1F600 GRINNING FACE, 4-byte UTF-8
    val pua = "\uE000x"           // U+E000 private-use, 3-byte UTF-8
    assert(emoji < pua, "Java String order must differ for this test")
    val target = Files.createTempDirectory("graft-src-collation-").toString
    Seq((1L, pua), (2L, emoji)).toDF("id", "s")
      .coalesce(1)
      .write.format("graft.sources.ManifestSource")
      .option("path", target).mode("overwrite").save()
    val hit = readBack(target).filter(col("s") === emoji)
    assert(hit.count() === 1,
      "part containing the emoji row must not be pruned by its own stats")
    assert(scanOf(hit).inputPartitions.length === 1)
    // and pruning still WORKS above the UTF-8 max: a probe beyond the
    // emoji (4-byte UTF-8) excludes the part
    val miss = readBack(target).filter(col("s") === "\uD83D\uDE01z")
    assert(scanOf(miss).inputPartitions.length === 0)
    assert(miss.count() === 0)
  }

  test("_part metadata column works on path reads and prunes with the scan") {
    val target = Files.createTempDirectory("graft-src-prov-").toString
    writeEvents(target, parts = 8)
    val conf = spark.sessionState.newHadoopConf()
    val manifest = graft.sources.ManifestLog(conf, target).snapshot().partRanges
      .map(p => (p._1, p._2)).toMap
    val byPart = readBack(target).selectExpr("_part")
      .groupBy(col("_part")).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byPart === manifest, "_part must agree with the manifest")
    // provenance respects pruning: a keyed probe reports parts only
    // from its pruned plan
    val minId = Tables.events(spark, Sf0001).agg(min("event_id")).head.getLong(0)
    val probe = readBack(target).filter(col("event_id") <= minId)
      .select(col("_part")).distinct().collect()
    assert(probe.length === 1, "one pruned part serves the point probe")
  }

  test("bloom index prunes point lookups on a hash layout where " +
      "min/max stats cannot") {
    val target = Files.createTempDirectory("graft-src-spec-").toString
    // HASH layout: every part spans nearly the full key range, so
    // range stats keep all 8 parts for any point probe — only the
    // per-part bloom can prove absence
    Tables.events(spark, Sf0001)
      .select(col("event_id"), col("event_type"), col("value"))
      .repartition(8, col("event_id"))
      .write.format("graft.sources.ManifestSource")
      .option("path", target).mode("overwrite").save()
    val ids = Tables.events(spark, Sf0001)
      .select("event_id").orderBy("event_id").collect().map(_.getLong(0))
    val probe = ids(ids.length / 2)
    val q = readBack(target).filter(col("event_id") === probe)
    val planned = scanOf(q).inputPartitions.length
    assert(planned <= 2,
      s"bloom should plan ~1 of 8 hash parts for a point probe, got $planned")
    assert(q.count() ===
      Tables.events(spark, Sf0001).filter(col("event_id") === probe).count(),
      "bloom pruning must never change results (absence proofs only)")
    // IN-list probe: union of per-value survivors, still ≪ 8
    val in3 = readBack(target)
      .filter(col("event_id").isin(ids.head, probe, ids.last))
    assert(scanOf(in3).inputPartitions.length <= 5)
    assert(in3.count() === 3)
  }

  test("residual filters trim straddling parts to the exact rows") {
    val target = Files.createTempDirectory("graft-src-spec-").toString
    writeEvents(target, parts = 8)
    val ids = Tables.events(spark, Sf0001)
      .select("event_id").orderBy("event_id").limit(2000)
      .collect().map(_.getLong(0))
    val (lo, hi) = (ids(ids.length / 3), ids(2 * ids.length / 3))
    val got = readBack(target)
      .filter(col("event_id") >= lo && col("event_id") < hi).count()
    val want = Tables.events(spark, Sf0001)
      .filter(col("event_id") >= lo && col("event_id") < hi).count()
    assert(got === want, "pruning must never change query results")
  }

  test("planner statistics report the post-pruning manifest row count") {
    val target = Files.createTempDirectory("graft-src-spec-").toString
    writeEvents(target, parts = 8)
    val total = Tables.events(spark, Sf0001).count()
    val full = scanOf(readBack(target)).scan.asInstanceOf[SupportsReportStatistics]
    assert(full.estimateStatistics().numRows().getAsLong === total)
    val minId = Tables.events(spark, Sf0001).agg(min("event_id")).head.getLong(0)
    val pruned = scanOf(readBack(target).filter(col("event_id") < minId))
      .scan.asInstanceOf[SupportsReportStatistics]
    assert(pruned.estimateStatistics().numRows().getAsLong === 0L)
  }

  test("COUNT/MIN/MAX are metadata-only: answered after data files vanish") {
    val target = Files.createTempDirectory("graft-src-spec-").toString
    writeEvents(target, parts = 8)
    val want = Tables.events(spark, Sf0001)
      .agg(count(lit(1)), min("event_id"), max("event_id"),
        min("event_type"), max("event_type")).head
    // remove every part file — only the version manifest remains
    Files.list(Paths.get(target)).toArray.map(_.toString)
      .filter(p => ManifestSink.isPartFile(Paths.get(p).getFileName.toString)).foreach(f => Files.delete(Paths.get(f)))
    val agg = readBack(target)
      .agg(count(lit(1)).as("n"), min("event_id").as("lo"),
        max("event_id").as("hi"),
        // the string column folds from sMin/sMax in the SAME UTF-8
        // binary order Spark's own MIN/MAX uses (null-skipping too)
        min("event_type").as("slo"), max("event_type").as("shi"))
    assert(scanOf(agg).inputPartitions.length === 1,
      "one synthetic metadata partition, no file parts")
    val got = agg.head
    assert(got.getLong(0) === want.getLong(0))
    assert(got.getLong(1) === want.getLong(1))
    assert(got.getLong(2) === want.getLong(2))
    assert(got.getString(3) === want.getString(3))
    assert(got.getString(4) === want.getString(4))
  }

  test("aggregate pushdown declines when it cannot be exact") {
    val target = Files.createTempDirectory("graft-src-spec-").toString
    writeEvents(target, parts = 8)
    // (plan shape read from the plan text: AQE wraps shuffle-agg plans
    // so BatchScanExec isn't reachable by tree collect here)
    // COUNT(col) on a TRACKED column answers from the per-part null
    // counts (the third leg of the stats triple) — metadata path
    val byKey = readBack(target).agg(count(col("event_id")).as("n"))
    assert(byKey.queryExecution.executedPlan.toString
      .contains("ManifestAggScan"))
    assert(byKey.head.getLong(0) === Tables.events(spark, Sf0001).count())
    // COUNT(col) on an UNTRACKED (double) column has no null count →
    // file path, exact result
    val byCol = readBack(target).agg(count(col("value")).as("n"))
    val pByCol = byCol.queryExecution.executedPlan.toString
    assert(pByCol.contains("graft.ManifestScan(parts=8/8")
      && !pByCol.contains("ManifestAggScan"), pByCol.linesIterator.mkString("|"))
    assert(byCol.head.getLong(0) === Tables.events(spark, Sf0001)
      .filter(col("value").isNotNull).count())
    // a filter makes stats non-authoritative → file path, exact result
    val filtered = readBack(target).filter(col("event_type") =!= "click")
      .agg(count(lit(1)).as("n"))
    val pFil = filtered.queryExecution.executedPlan.toString
    assert(pFil.contains("graft.ManifestScan(parts=8/8")
      && !pFil.contains("ManifestAggScan"))
    assert(filtered.head.getLong(0) === Tables.events(spark, Sf0001)
      .filter(col("event_type") =!= "click").count())
  }

  test("limit pushdown plans only a covering prefix of parts") {
    val target = Files.createTempDirectory("graft-src-spec-").toString
    writeEvents(target, parts = 8)
    val lim = readBack(target).limit(5)
    assert(scanOf(lim).inputPartitions.length === 1,
      "5 rows fit in the first part's manifest row count")
    assert(lim.count() === 5L)
  }

  test("runtime filtering: a broadcast join's key set prunes parts at execution") {
    import spark.implicits._
    val target = Files.createTempDirectory("graft-src-spec-").toString
    writeEvents(target, parts = 8)
    // two real keys from the lowest part's range — the build side
    // carries a selective predicate (the DPP injection heuristic
    // requires one on the filtering side)
    val keys = Tables.events(spark, Sf0001)
      .select("event_id").orderBy("event_id").limit(2)
      .as[Long].collect().toSeq
    val dim = spark.range(0, 1000000).select(col("id").as("k"))
      .filter(col("k").isin(keys: _*))
    val joined = readBack(target)
      .join(broadcast(dim), col("event_id") === col("k"))
    val rows = joined.collect()
    assert(rows.length === keys.length, "join result must be exact")
    val plan = joined.queryExecution.executedPlan.toString
    // the scan's description reads the narrowed part list: the build
    // side's two keys live in one range partition of eight
    assert(plan.contains("parts=1/8"),
      s"runtime filter should prune to 1 part:\n$plan")
  }

  test("runtime filtering declines when pruning drops the key column") {
    // regression: filterAttributes() used to advertise the key even
    // after column pruning removed it from the scan output; Spark's
    // PartitionPruning then resolved the ref against the pruned schema
    // and threw AnalysisException ("Unable to resolve event_id given
    // [event_type,value]") on ANY join over the keyless projection
    val target = Files.createTempDirectory("graft-src-spec-").toString
    writeEvents(target, parts = 4)
    val agg = readBack(target).select(col("event_type"), col("value"))
      .groupBy(col("event_type")).agg(sum(col("value")).as("s"))
    val dims = readBack(target).select(col("event_type")).distinct()
    val n = agg.join(dims, "event_type").count()
    assert(n > 0, "keyless-projection join must plan and run")
  }

  test("session Hadoop conf reaches every filesystem touch (graftfs)") {
    // the scheme resolves ONLY through the session conf (runtime SQL
    // confs are copied verbatim into sessionState.newHadoopConf(), so
    // the key carries no spark.hadoop. prefix); caching is off so a
    // stray `new Configuration()` anywhere in the write or read path
    // throws instead of borrowing a cached instance
    spark.conf.set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    spark.conf.set("fs.graftfs.impl.disable.cache", "true")
    try {
      val local = Files.createTempDirectory("graft-src-conf-").toString
      val target = s"graftfs:$local/table"
      writeEvents(target, parts = 4) // driver mkdir+commit, executor create
      val n = readBack(target).count() // driver manifest read, executor open
      assert(n === Tables.events(spark, Sf0001).count())
    } finally {
      spark.conf.unset("fs.graftfs.impl")
      spark.conf.unset("fs.graftfs.impl.disable.cache")
    }
  }
}
