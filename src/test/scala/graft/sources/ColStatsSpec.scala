package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** Generalized per-column min/max stats (ColStat on the manifest
  * line): the writer records bounds for EVERY additional long/string
  * column, the scan prunes parts on predicates over any of them, and
  * absence (all-null part / legacy manifest) degrades to "cannot
  * prune", never to a wrong answer. */
class ColStatsSpec extends graft.SparkSpec {

  private def conf = spark.sessionState.newHadoopConf()

  private def readBack(t: String): DataFrame =
    spark.read.format("graft.sources.ManifestSource")
      .option("path", t).load()

  /** Declare table properties on a path table before its first
    * write: a schema-only version carrying them in its record, which
    * the write plans onto and carries forward. */
  private def declare(dir: String, props: Map[String, String]): Unit =
    ManifestSink.publishRebase(conf, dir, _ => Seq.empty, HeaderChange.Restate(
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, u STRING"),
      ColMap.identity(2), TableRecord(props = props)))

  private def scanParts(df: DataFrame): Int =
    df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.inputPartitions.length
    }.getOrElse(sys.error("no BatchScanExec in plan"))

  test("codec: hostile column names and values roundtrip") {
    val dir = Files.createTempDirectory("graft-cstats").toString
    val stats = Map(
      "weird col,\"&=" -> ColStat('s', "", "z\"&:,€😀"),
      "k2" -> ColStat('l', "-9223372036854775808", "9223372036854775807"))
    val part = PartMeta(s"$dir/part-x.csv", 3L, cstats = stats)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    ManifestSink.publishRebase(conf, dir, _ => Seq(part),
      HeaderChange.Append(schema))
    val back = ManifestLog(conf, dir).snapshot().parts
    assert(back.head.cstats === stats)
  }

  test("codec: additive evolution — trailing tokens ignored, unknown-" +
    "null placeholder, sum never silently dropped") {
    def roundtrip(m: Map[String, ColStat]): Map[String, ColStat] =
      MetaJson.decodePart(MetaJson.encodePart(
        PartMeta("p", 1L, cstats = m))).cstats
    // a FUTURE writer's extra stat field must read fine here, minus
    // the field this version doesn't know
    val future = MetaJson.decodePart("""{"path":"p","rows":1,"min":0,""" +
      """"max":0,"cstats":{"c":{"kind":"l","min":"1","max":"9",""" +
      """"nulls":0,"sum":45,"bloom":"00ff","futureleg":"x"}}}""")
    assert(future.cstats("c") === ColStat('l', "1", "9", 0L, Some(45L), "00ff"))
    // a sum with an UNKNOWN null count survives the roundtrip
    // instead of being dropped
    val odd = Map("c" -> ColStat('l', "1", "9", nulls = -1L,
      sum = Some(45L)))
    assert(roundtrip(odd) === odd)
    // the bloom leg roundtrips with or without a known null count
    // (a string column has no sum)
    val withBloom = Map("u" -> ColStat('s', "a", "z", 0L, None, "00ff"))
    assert(roundtrip(withBloom) === withBloom)
    val bloomOnly = Map("u" -> ColStat('s', "a", "z", -1L, None, "00ff"))
    assert(roundtrip(bloomOnly) === bloomOnly)
  }

  test("graft.bloom_bits sizes the secondary filter: a declared 2^18 " +
    "filter keeps its width where the default 2^16 saturates") {
    import spark.implicits._
    def bloomHexLen(dir: String, extraProps: Map[String, String]): Int = {
      declare(dir, Map("graft.bloom_cols" -> "u") ++ extraProps)
      (0L until 20000L).map(i => (i, s"u$i")).toDF("k", "u")
        .coalesce(1)
        .write.format("graft.sources.ManifestSource")
        .option("path", dir)
        .mode("overwrite").save()
      ManifestLog(conf, dir).snapshot().parts
        .head.cstats("u").bloom.length
    }
    val small = bloomHexLen(
      Files.createTempDirectory("graft-bbits-a").toString, Map.empty)
    val big = bloomHexLen(
      Files.createTempDirectory("graft-bbits-b").toString,
      Map("graft.bloom_bits" -> "262144"))
    // 20k distinct values want ~200k bits: the default allocation
    // caps at 2^16 (16384 hex chars), the declared one keeps 2^18
    assert(small === PartBloom.MaxBits / 4, s"default width, got $small")
    assert(big === 262144 / 4, s"declared width, got $big")
  }

  test("rebuild_blooms honors graft.bloom_bits: an ANALYZE rebuild " +
    "keeps the declared 2^18 secondary width instead of shrinking it") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-bbits-rb").toString
    declare(dir,
      Map("graft.bloom_cols" -> "u", "graft.bloom_bits" -> "262144"))
    (0L until 20000L).map(i => (i, s"u$i")).toDF("k", "u")
      .coalesce(1)
      .write.format("graft.sources.ManifestSource")
      .option("path", dir)
      .mode("overwrite").save()
    assert(ManifestLog(conf, dir).snapshot().parts
      .head.cstats("u").bloom.length === 262144 / 4)
    ManifestMaintenance.analyzeTable(spark, dir, rebuildBlooms = true)
    // the rebuild allocates at the DECLARED width; since shrinkFor
    // caps at the allocated size, a default 2^16 allocation here
    // would silently fold the declared filter to a quarter width
    // and restore the fp saturation the knob exists to avoid
    val rebuilt = ManifestLog(conf, dir).snapshot().parts
      .head.cstats("u").bloom.length
    assert(rebuilt === 262144 / 4,
      s"rebuild must keep the declared 2^18 width, got $rebuilt hex chars")
  }

  test("secondary-column bloom: point lookup prunes parts the range " +
    "admits; absent value prunes everything; missing bloom never prunes") {
    val dir = Files.createTempDirectory("graft-cbloom").toString
    // declare the bloom BEFORE the write: the writer factory resolves
    // graft.bloom_cols from the head's table record on the driver
    declare(dir, Map("graft.bloom_cols" -> "u"))
    import spark.implicits._
    (0L until 400L).map(i => (i, "h" + ((i * 37) % 400)))
      .toDF("k", "u").repartition(4, col("k"))
      .write.format("graft.sources.ManifestSource")
      .option("path", dir)
      .mode("overwrite").save()
    // every part's u-range spans nearly [h0, h399] (hash layout), so
    // min/max admit all 4 parts — the bloom is what prunes
    val hit = readBack(dir).filter(col("u") === "h37")
    assert(hit.count() === 1L)
    assert(scanParts(hit) < 4,
      "bloom must prune at least one range-admitted part")
    val miss = readBack(dir).filter(col("u") === "absent-value")
    assert(miss.count() === 0L)
    assert(scanParts(miss) < 4)
    // a table WITHOUT the property plans all parts for the same lookup
    val dir2 = Files.createTempDirectory("graft-cbloom2").toString
    (0L until 400L).map(i => (i, "h" + ((i * 37) % 400)))
      .toDF("k", "u").repartition(4, col("k"))
      .write.format("graft.sources.ManifestSource")
      .option("path", dir2)
      .mode("overwrite").save()
    assert(scanParts(readBack(dir2).filter(col("u") === "h37")) === 4,
      "no declared bloom: range-only baseline keeps every part")
  }

  test("OPTIMIZE ZORDER: a 2-D box predicate plans strictly fewer " +
    "parts after the Morton rewrite") {
    val wh = Files.createTempDirectory("graft-zorder").toString
    spark.conf.set("spark.sql.catalog.gzo", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gzo.warehouse", wh)
    import spark.implicits._
    // uniform 2-D grid, hash-scattered into 8 parts: every part spans
    // BOTH full ranges, so the box predicate starts unprunable
    val n = 4096
    (0 until n).map { i => (i.toLong, ((i * 2654435761L) % n), i.toLong * 3) }
      .toDF("a", "b", "v")
      .repartition(8)
      .write.format("graft.sources.ManifestSource")
      .option("path", s"$wh/ns/zt").mode("overwrite").save()
    def box() = readBack(s"$wh/ns/zt")
      .filter(col("a") <= n / 4 && col("b") <= n / 4)
    assert(scanParts(box()) === 8, "hash layout: box predicate matches all")
    val expected = box().as[(Long, Long, Long)].collect().toSet
    spark.sql("CALL gzo.system.compact(table => 'ns.zt', " +
      "target_parts => 8, zorder => 'a,b')")
    val after = scanParts(box())
    assert(after < 8, s"z-order must tighten 2-D pruning, planned $after/8")
    assert(box().as[(Long, Long, Long)].collect().toSet === expected)
    // zorder on a spec-carrying table is rejected loudly (the spec
    // owns row placement)
    spark.sql("CREATE TABLE gzo.ns.zb (k BIGINT) PARTITIONED BY (bucket(2, k))")
    intercept[Exception] {
      spark.sql("CALL gzo.system.compact(table => 'ns.zb', " +
        "target_parts => 2, zorder => 'k')")
    }
  }

  test("predicates on secondary long and string columns prune parts") {
    val dir = Files.createTempDirectory("graft-cstats").toString
    import spark.implicits._
    // four appends = four parts with DISJOINT k2 ranges and s2 bands
    // (deterministic part boundaries — no range-partitioner sampling)
    (0 until 4).foreach { p =>
      (0 until 100).map { i =>
        val g = p * 1000 + i
        (i.toLong, s"s$i", g.toLong, f"band$p%02d-$i%03d")
      }.toDF("k", "s", "k2", "s2")
        .coalesce(1)
        .write.format("graft.sources.ManifestSource")
        .option("path", dir)
        .mode(if (p == 0) "overwrite" else "append").save()
    }
    val full = readBack(dir)
    assert(scanParts(full.filter(col("k") >= 0L)) === 4, "baseline: all parts")

    // k2 is NOT the primary key column (k is) — range prunes to 1 part
    val r = full.filter(col("k2") >= 2000L && col("k2") < 2100L)
    assert(scanParts(r) === 1, "k2 range must prune to its one part")
    assert(r.count() === 100L)
    // equality and IN on k2
    assert(scanParts(full.filter(col("k2") === 1050L)) === 1)
    assert(full.filter(col("k2") === 1050L).count() === 1L)
    assert(scanParts(full.filter(col("k2") <=> 1050L)) === 1,
      "null-safe equality with a non-null literal prunes like =")
    assert(scanParts(full.filter(col("k2").isin(3000L, 3004L))) === 1)
    // s2 is NOT the primary string column (s is) — band prefix prunes
    val s = full.filter(col("s2") >= "band03" && col("s2") <= "band03~")
    assert(scanParts(s) === 1, "s2 range must prune to its one part")
    assert(s.count() === 100L)
    // a predicate outside every range prunes everything
    assert(scanParts(full.filter(col("k2") === 99999L)) === 0)
    assert(full.filter(col("k2") === 99999L).count() === 0L)
    // LIKE 'prefix%' prunes through the same bounds (StringStartsWith
    // → [prefix, successor) — s2 bands are 'bandNN-…')
    val like = full.filter(col("s2").startsWith("band02"))
    assert(scanParts(like) === 1, "prefix predicate must prune to one part")
    assert(like.count() === 100L)
  }

  test("all-null secondary column: no stat, no prune, exact answer") {
    val dir = Files.createTempDirectory("graft-cstats").toString
    import spark.implicits._
    Seq((1L, Option.empty[Long]), (2L, Option.empty[Long]))
      .toDF("k", "k2").coalesce(1)
      .write.format("graft.sources.ManifestSource")
      .option("path", dir).mode("overwrite").save()
    Seq((3L, Some(10L)), (4L, Some(20L))).toDF("k", "k2").coalesce(1)
      .write.format("graft.sources.ManifestSource")
      .option("path", dir).mode("append").save()
    val df = readBack(dir).filter(col("k2") === 10L)
    // the all-null part has no k2 stat: kept (conservative), and the
    // residual filter still yields the exact answer
    assert(scanParts(df) === 2, "absent stat must read as cannot-prune")
    assert(df.collect().map(_.getLong(0)).toSeq === Seq(3L))
  }

  test("metadata MIN/MAX answers from secondary-column stats; all-null declines") {
    val dir = Files.createTempDirectory("graft-cstats").toString
    import spark.implicits._
    Seq((1L, Some(10L), "m"), (2L, Some(20L), "q")).toDF("k", "k2", "s2")
      .coalesce(1).write.format("graft.sources.ManifestSource")
      .option("path", dir).mode("overwrite").save()
    Seq((3L, Some(30L), "a"), (4L, Some(40L), "z")).toDF("k", "k2", "s2")
      .coalesce(1).write.format("graft.sources.ManifestSource")
      .option("path", dir).mode("append").save()
    // layout: k primary long, k2 SECONDARY long (the subject — its
    // extremes must come from the generalized ColStat record), s2
    // primary string
    val agg = readBack(dir).agg(min("k2").as("lo"), max("k2").as("hi"))
    assert(scanParts(agg) === 1, "secondary-long extremes are metadata-only")
    val got = agg.head
    assert(got.getLong(0) === 10L && got.getLong(1) === 40L)
    // a part whose k2 is ALL NULL has no stat entry → the pushdown
    // declines (absent could be legacy/capped) and the file path
    // still yields the exact null-skipping answer
    Seq((5L, Option.empty[Long], "x")).toDF("k", "k2", "s2")
      .coalesce(1).write.format("graft.sources.ManifestSource")
      .option("path", dir).mode("append").save()
    val agg2 = readBack(dir).agg(min("k2").as("lo"), max("k2").as("hi"))
    // (AQE wraps the declined shuffle-agg plan, so assert on plan
    // text rather than tree collect — the file scan plans all parts)
    val p2 = agg2.queryExecution.executedPlan.toString
    assert(p2.contains("graft.ManifestScan(parts=3/3")
      && !p2.contains("ManifestAggScan"),
      "all-null part must force the decline")
    val got2 = agg2.head
    assert(got2.getLong(0) === 10L && got2.getLong(1) === 40L)
  }

  test("runtime filtering: a join's value set prunes parts on a secondary column") {
    val dir = Files.createTempDirectory("graft-cstats").toString
    import spark.implicits._
    (0 until 4).foreach { p =>
      (0 until 100).map(i => (i.toLong, (p * 1000 + i).toLong))
        .toDF("k", "k2").coalesce(1)
        .write.format("graft.sources.ManifestSource")
        .option("path", dir)
        .mode(if (p == 0) "overwrite" else "append").save()
    }
    // the build side carries a selective predicate (the DPP injection
    // heuristic needs one) and its values live in ONE part's k2 range
    val dim = spark.range(0, 1000000).select(col("id").as("dk"))
      .filter(col("dk").isin(2010L, 2020L))
    val joined = readBack(dir).join(broadcast(dim), col("k2") === col("dk"))
    assert(joined.collect().length === 2, "join result must be exact")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("parts=1/4"),
      s"runtime value set should prune to 1 part via ColStat:\n$plan")
  }

  test("stats survive the COW carry-forward: untouched parts still prune") {
    val wh = Files.createTempDirectory("graft-cstats").toString
    val dir = s"$wh/ns/t"
    import spark.implicits._
    (0 until 2).foreach { p =>
      (0 until 50).map(i => ((p * 100 + i).toLong, (p * 1000 + i).toLong))
        .toDF("k", "k2").coalesce(1)
        .write.format("graft.sources.ManifestSource")
        .option("path", dir)
        .mode(if (p == 0) "overwrite" else "append").save()
    }
    // COW DELETE touches only part 0 (k < 10); part 1 carries forward
    // BY REFERENCE — its cstats must carry with it
    spark.conf.set("spark.sql.catalog.gcst", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcst.warehouse", wh)
    spark.sql("DELETE FROM gcst.ns.t WHERE k < 10")
    val df = readBack(dir).filter(col("k2") >= 1000L)
    assert(scanParts(df) === 1, "carried-forward part must still prune")
    assert(df.count() === 50L)
  }

  test("pruning is sound on generated BIGINT/TIMESTAMP predicates, " +
      "Long extremes and all-null parts included") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampType}
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val wh = Files.createTempDirectory("graft-cstats").toString
    spark.conf.set("spark.sql.catalog.gprn", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gprn.warehouse", wh)
    val t0 = 1700000000000000L // epoch micros
    val day = 86400000000L
    val (mn, mx) = (Long.MinValue, Long.MaxValue)
    type R = (Option[Long], Option[Long], Option[Long]) // (k, v, ts)
    // one part per append: the extremes, a v-all-null part, a part
    // with a NULL key and NULL timestamps
    val parts: Seq[Seq[R]] = Seq(
      Seq((Some(mn), Some(1L), Some(t0)), (Some(-5L), None, Some(t0 + 1)),
        (Some(0L), Some(3L), Some(t0 + day))),
      Seq((Some(1L), None, Some(t0 + 2 * day)), (Some(10L), None, None)),
      Seq((Some(mx), Some(mn), Some(t0 + 3 * day)),
        (Some(100L), Some(mx), None)),
      Seq((None, Some(7L), Some(t0)), (Some(50L), Some(8L), Some(t0 + 10))),
      Seq((Some(mx), Some(9L), Some(t0 + day)),
        (Some(mn), Some(-9L), Some(t0 + day))))
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", LongType), StructField("ts", TimestampType)))
    spark.sql("CREATE TABLE gprn.ns.p (k BIGINT, v BIGINT, ts TIMESTAMP)")
    parts.foreach { rs =>
      spark.createDataFrame(spark.sparkContext.parallelize(rs.map {
        case (k, v, ts) => Row(k.orNull, v.orNull,
          ts.map(DateTimeUtils.toJavaTimestamp).orNull)
      }, 1), schema)
        .write.format("graft.sources.ManifestSource")
        .option("path", s"$wh/ns/p")
        .mode("append").save()
    }
    val paths = ManifestLog(conf, s"$wh/ns/p").snapshot().parts
      .map(_.path)
    assert(paths.size === parts.size)
    // literals: every stored value, its neighbours, and the extremes
    def near(xs: Seq[Long]): Seq[Long] = xs.flatMap(x =>
      Seq(x, if (x == mn) x else x - 1, if (x == mx) x else x + 1))
    val rows = parts.flatten
    val longPool = near(rows.flatMap(r => r._1 ++ r._2) ++ Seq(mn, mx, 0L))
    val tsPool = near(rows.flatMap(_._3) :+ (t0 - day))
    // (SQL predicate, the in-memory row test it stands for)
    val pred: Gen[(String, R => Boolean)] = for {
      c <- Gen.oneOf(0, 1, 2)
      lit = if (c == 2) Gen.oneOf(tsPool) else Gen.oneOf(longPool)
      a <- lit
      b <- lit
      ins <- Gen.listOfN(3, lit)
      op <- Gen.oneOf("=", "IN", "<", "<=", ">", ">=", "BETWEEN")
    } yield {
      val name = Seq("k", "v", "ts")(c)
      def sql(x: Long) = if (c == 2) s"timestamp_micros(${x}L)" else s"${x}L"
      val (text, f): (String, Long => Boolean) = op match {
        case "IN" => (s"$name IN (${ins.map(sql).mkString(", ")})",
          ins.contains(_))
        case "BETWEEN" => (s"$name BETWEEN ${sql(a)} AND ${sql(b)}",
          x => a <= x && x <= b)
        case "=" => (s"$name = ${sql(a)}", _ == a)
        case "<" => (s"$name < ${sql(a)}", _ < a)
        case "<=" => (s"$name <= ${sql(a)}", _ <= a)
        case ">" => (s"$name > ${sql(a)}", _ > a)
        case _ => (s"$name >= ${sql(a)}", _ >= a)
      }
      // NULL never satisfies a comparison
      (text, (r: R) => Seq(r._1, r._2, r._3)(c).exists(f))
    }
    val cases = (0 until 25).flatMap(i =>
      pred.apply(Gen.Parameters.default, Seed(7L + i)))
    assert(cases.size === 25)
    cases.foreach { case (text, matches) =>
      val q = spark.sql(s"SELECT k FROM gprn.ns.p WHERE $text")
      val want = rows.count(matches)
      assert(spark.sql(s"SELECT count(*) FROM gprn.ns.p WHERE $text")
        .head.getLong(0) === want, text)
      val planned = q.queryExecution.sparkPlan.collect {
        case b: BatchScanExec => b.inputPartitions.collect {
          case m: ManifestPartition => m.path }
      }.flatten.toSet
      parts.zip(paths).foreach { case (rs, path) =>
        if (rs.exists(matches))
          assert(planned.contains(path), s"$text dropped matching part $path")
      }
    }
  }
}
