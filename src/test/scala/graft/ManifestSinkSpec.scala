package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.sources.{ManifestLog, ManifestSink}

/** DSv2 sink commit-protocol guarantees (the parts an oracle can't
  * see): staged files match the manifest exactly, the manifest is the
  * only visibility point, every write is a version, and overwrite is
  * logical until maintenance reclaims superseded parts. */
class ManifestSinkSpec extends SparkSpec {

  private def writeOnce(target: String, parts: Int): Unit =
    Tables.events(spark, Sf0001)
      .select(col("event_id"), col("event_type"), col("value"))
      .repartition(parts)
      .write.format("graft.sources.ManifestSource")
      .option("path", target).mode("overwrite").save()

  test("manifest totals equal the written data; every listed file exists") {
    val target = Files.createTempDirectory("graft-sink-spec-").toString
    writeOnce(target, 4)
    val m = ManifestLog(spark.sparkContext.hadoopConfiguration, target).snapshot().partRanges
    assert(m.size === 4, "one manifest entry per writer task")
    val expected = Tables.events(spark, Sf0001).count()
    assert(m.map(_._2).sum === expected)
    m.foreach { case (p, _, _, _) =>
      assert(Files.exists(Paths.get(p.stripPrefix("file:"))), s"missing $p")
    }
    val nonEmpty = m.filter(_._2 > 0)
    assert(nonEmpty.map(_._3).min === 0L, "global key min via per-file stats")
  }

  test("a task that writes no row commits no part") {
    val target = Files.createTempDirectory("graft-sink-spec-").toString
    spark.range(0, 3, 1, 8).write.format("graft.sources.ManifestSource")
      .option("path", target).mode("overwrite").save()
    val m = ManifestLog(spark.sparkContext.hadoopConfiguration, target).snapshot().partRanges
    assert(m.size === 3, m.toString)
    assert(m.forall(_._2 > 0), "no empty part is listed")
    assert(Files.list(Paths.get(target)).toArray.map(_.toString)
      .count(p => ManifestSink.isPartFile(Paths.get(p).getFileName.toString))
      === 3, "no empty part file is staged")
    assert(spark.read.format("graft.sources.ManifestSource")
      .option("path", target).load().count() === 3L)
  }

  test("orphan files are invisible: the manifest is the commit point") {
    val target = Files.createTempDirectory("graft-sink-spec-").toString
    writeOnce(target, 2)
    // simulate a failed/speculative attempt's leftover staging file
    Files.write(Paths.get(target, "part-9-999.csv"),
      "999999,ghost,1.0\n".getBytes("UTF-8"))
    val m = ManifestLog(spark.sparkContext.hadoopConfiguration, target).snapshot().partRanges
    assert(!m.exists(_._1.contains("part-9-999")),
      "uncommitted attempts must not appear in the manifest")
    assert(m.map(_._2).sum === Tables.events(spark, Sf0001).count(),
      "orphans must not change committed totals")
  }

  test("path writes are versions: v1, v2 and no head pointer") {
    val target = Files.createTempDirectory("graft-sink-spec-").toString
    val conf = spark.sparkContext.hadoopConfiguration
    val ev = Tables.events(spark, Sf0001)
      .select(col("event_id"), col("event_type"), col("value"))
    val first = ev.filter(col("event_id") % 2 === 0)
    first.write.format("graft.sources.ManifestSource")
      .option("path", target).mode("overwrite").save()
    ev.filter(col("event_id") % 2 === 1).write
      .format("graft.sources.ManifestSource")
      .option("path", target).mode("append").save()
    assert(ManifestLog(conf, target).versions === Seq(1, 2))
    val v1 = spark.read.format("graft.sources.ManifestSource")
      .option("path", target).option("version", 1).load()
    assert(v1.count() === first.count())
    assert(v1.filter(col("event_id") % 2 === 1).count() === 0L)
    assert(spark.read.format("graft.sources.ManifestSource")
      .option("path", target).load().count() === ev.count())
    // the version files are the table's only manifests: no head pointer
    val manifests = new java.io.File(target).list()
      .filter(_.startsWith("_MANIFEST")).toSet
    assert(manifests ===
      Set(ManifestLog.versionFile(1), ManifestLog.versionFile(2)))
  }

  test("overwrite is logical: expiry reclaims the superseded parts") {
    val target = Files.createTempDirectory("graft-sink-spec-").toString
    val conf = spark.sparkContext.hadoopConfiguration
    writeOnce(target, 4)
    writeOnce(target, 2)
    val m = ManifestLog(conf, target).snapshot().partRanges
    assert(m.size === 2)
    def onDisk = Files.list(Paths.get(target)).toArray.map(_.toString)
      .filter(p => ManifestSink.isPartFile(Paths.get(p).getFileName.toString)).toSet
    val listed = m.map(_._1.stripPrefix("file:")).toSet
    assert(onDisk.size === 6, "superseded parts stay until expiry")
    graft.sources.ManifestMaintenance.expireSnapshots(conf, target,
      keepLast = 1, orphanGraceMs = 0L)
    assert(onDisk === listed,
      s"disk/manifest divergence: disk=$onDisk manifest=$listed")
  }

  test("a fixed-path query table rerun starts over at version 1") {
    val q = SparkEntry.queries("q_sink_manifest")
    q(spark, Sf0001).collect()
    q(spark, Sf0001).collect()
    val target = graft.queries.QueryDef.tablePath(spark, Sf0001, "sink")
    assert(ManifestLog(spark.sparkContext.hadoopConfiguration, target).versions === Seq(1))
  }

  test("clusterBy: the SINK demands the sorted layout; parts own disjoint ranges") {
    import org.apache.spark.sql.functions._
    import graft.model.Tables
    val target = java.nio.file.Files
      .createTempDirectory("graft-sink-cluster-").toString
    // deliberately HASH-scrambled input: the layout must come from the
    // sink's required distribution, not from the caller
    Tables.events(spark, Sf0001)
      .select(col("event_id"), col("event_type"), col("value"))
      .repartition(7, col("event_type"))
      .write.format("graft.sources.ManifestSource")
      .option("path", target)
      .option("clusterBy", "event_id").option("writePartitions", "6")
      .mode("overwrite").save()
    val conf = spark.sessionState.newHadoopConf()
    val parts = graft.sources.ManifestLog(conf, target).snapshot().partRanges
      .sortBy(_._3)
    assert(parts.size === 6, s"writePartitions must hold: ${parts.size}")
    // disjoint, ordered key ranges — the stats-prunable layout
    parts.sliding(2).foreach {
      case Seq(a, b) => assert(a._4 < b._3,
        s"ranges must be disjoint: ${a._1}=[${a._3},${a._4}] vs " +
          s"${b._1}=[${b._3},${b._4}]")
      case _ => ()
    }
    // and the point probe proves it: one planned part
    val minId = parts.map(_._3).min
    val probe = spark.read.format("graft.sources.ManifestSource")
      .option("path", target).load()
      .filter(col("event_id") === minId)
    val planned = probe.queryExecution.executedPlan
      .collectFirst { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }
      .get.inputPartitions.length
    assert(planned === 1, s"clustered layout must prune to 1 part, got $planned")
    assert(probe.count() >= 1)
    // a clusterBy column absent from the schema fails loudly
    intercept[IllegalArgumentException] {
      Tables.events(spark, Sf0001).select(col("event_id"))
        .write.format("graft.sources.ManifestSource")
        .option("path", target).option("clusterBy", "nope")
        .mode("overwrite").save()
    }
  }
}
