package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.sources.{ManifestLog, ManifestMaintenance, ManifestSink, Ref}

/** Snapshot-history guarantees of the manifest table format: immutable
  * versioned commits (time travel), append as an O(new-data) manifest
  * merge, additive schema evolution without data rewrite, and
  * reference-counted VACUUM. These are commit-protocol properties a SQL
  * oracle can't see, so they're pinned here. */
class ManifestHistorySpec extends SparkSpec {

  // same conf constructor the sink/source use — session confs included
  private def conf = spark.sessionState.newHadoopConf()

  private def base: DataFrame =
    Tables.events(spark, Sf0001)
      .select(col("event_id"), col("value"))

  private def writeSlice(target: String, m: Int, mode: String,
      parts: Int = 4): Unit =
    base.filter(col("event_id") % 10 === m)
      .repartition(parts)
      .write.format("graft.sources.ManifestSource")
      .option("path", target).mode(mode).save()

  private def readVersion(target: String, v: Option[Int]): DataFrame = {
    val r = spark.read.format("graft.sources.ManifestSource")
      .option("path", target)
    v.fold(r)(n => r.option("version", n.toString)).load()
  }

  test("time travel: an overwritten snapshot stays readable at its version") {
    val target = Files.createTempDirectory("graft-hist-spec-").toString
    writeSlice(target, 0, "overwrite")
    writeSlice(target, 1, "overwrite")
    assert(ManifestLog(conf, target).versions === Seq(1, 2))
    val n0 = base.filter(col("event_id") % 10 === 0).count()
    val n1 = base.filter(col("event_id") % 10 === 1).count()
    assert(readVersion(target, Some(1)).count() === n0, "v1 = first write")
    assert(readVersion(target, Some(2)).count() === n1, "v2 = second write")
    assert(readVersion(target, None).count() === n1, "head = latest")
    // logical truncate: v1's data files remain on disk, owned by v1
    val v1Parts = ManifestLog(conf, target).snapshot(Ref.At(1)).partRanges
    assert(v1Parts.nonEmpty)
    v1Parts.foreach { case (p, _, _, _) =>
      assert(Files.exists(Paths.get(p.stripPrefix("file:"))),
        s"superseded part must survive a logical truncate: $p")
    }
  }

  test("append merges the head's parts: commit is O(new data)") {
    val target = Files.createTempDirectory("graft-hist-spec-").toString
    writeSlice(target, 0, "overwrite")
    val v1Parts = ManifestLog(conf, target).snapshot().partRanges.map(_._1).toSet
    writeSlice(target, 1, "append")
    val v2Parts = ManifestLog(conf, target).snapshot().partRanges.map(_._1).toSet
    assert(v1Parts.subsetOf(v2Parts), "appended snapshot reuses v1's files")
    assert(v2Parts.size === v1Parts.size + 4, "plus exactly the new parts")
    val expect = base.filter(col("event_id") % 10 === 0 ||
      col("event_id") % 10 === 1).count()
    assert(readVersion(target, None).count() === expect, "head = union")
    assert(readVersion(target, Some(1)).count() ===
      base.filter(col("event_id") % 10 === 0).count(), "v1 unchanged")
  }

  test("additive schema evolution: old parts read NULL for new columns") {
    val target = Files.createTempDirectory("graft-hist-spec-").toString
    writeSlice(target, 0, "overwrite")
    Tables.events(spark, Sf0001)
      .select(col("event_id"), col("value"), col("event_type"))
      .filter(col("event_id") % 10 === 1)
      .repartition(2)
      .write.format("graft.sources.ManifestSource")
      .option("path", target).mode("append").save()
    val head = readVersion(target, None)
    assert(head.schema.fieldNames.toSeq === Seq("event_id", "value", "event_type"))
    val byOrigin = head.groupBy(col("event_id") % 10 === 0)
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type").isNull, 1L).otherwise(0L)).as("n_null"))
      .collect().map(r => r.getBoolean(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byOrigin(true)._1 === byOrigin(true)._2,
      "every pre-evolution row reads the new column as NULL")
    assert(byOrigin(false)._2 === 0L,
      "post-evolution rows carry real values")
    // time travel to v1 sees v1's own (narrower) schema
    assert(readVersion(target, Some(1)).schema.fieldNames.toSeq ===
      Seq("event_id", "value"))
  }

  test("append rejects non-additive schema change loudly") {
    val target = Files.createTempDirectory("graft-hist-spec-").toString
    writeSlice(target, 0, "overwrite")
    val ex = intercept[Exception] {
      Tables.events(spark, Sf0001)
        .select(col("event_id"), col("event_type")) // value → string: not a prefix
        .filter(col("event_id") % 10 === 1)
        .write.format("graft.sources.ManifestSource")
        .option("path", target).mode("append").save()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(ex).exists(_.getMessage != null) &&
      causes(ex).exists(c => c.getMessage != null &&
        c.getMessage.contains("additively")),
      s"expected additive-evolution rejection, got $ex")
  }

  test("vacuum: expired versions fail loudly, retained bytes identical, orphans reclaimed") {
    val target = Files.createTempDirectory("graft-hist-spec-").toString
    writeSlice(target, 0, "overwrite")
    writeSlice(target, 1, "overwrite")
    writeSlice(target, 2, "overwrite")
    // crash debris: staged but never committed
    Files.write(Paths.get(target, "part-deadbeef-9-999.csv"),
      "999999,1.0\n".getBytes("UTF-8"))
    val headBefore = readVersion(target, None)
      .agg(count(lit(1)), sum(col("value"))).collect().head
    // grace 0: this run simulates "no writer is live", so the orphan
    // is reclaimable immediately
    val stats = ManifestMaintenance.expireSnapshots(conf, target,
      keepLast = 1, orphanGraceMs = 0L)
    assert(stats.versionsExpired === 2)
    assert(stats.versionsRetained === 1)
    assert(stats.filesDeleted === 9, "4 parts × 2 expired versions + 1 orphan")
    assert(ManifestLog(conf, target).versions === Seq(3))
    val headAfter = readVersion(target, None)
      .agg(count(lit(1)), sum(col("value"))).collect().head
    assert(headAfter === headBefore, "head must survive vacuum bit-for-bit")
    intercept[Exception] { readVersion(target, Some(1)).count() }
    // every retained part still on disk; nothing unreferenced remains
    val listed = ManifestLog(conf, target).snapshot().partRanges
      .map(p => Paths.get(p._1.stripPrefix("file:")).getFileName.toString).toSet
    val onDisk = Files.list(Paths.get(target)).toArray.map(_.toString)
      .filter(p => ManifestSink.isPartFile(Paths.get(p).getFileName.toString))
      .map(p => Paths.get(p).getFileName.toString).toSet
    assert(onDisk === listed)
  }

  test("COW delete then vacuum: superseded parts reclaimed, untouched files survive in place") {
    // the full retention lifecycle: range-partitioned table → COW
    // DELETE (straddling predicate: one part dropped whole, one
    // rewritten, two carried by reference) → expire the pre-delete
    // snapshot → exactly the replaced and dropped files are reclaimed
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-cowvac-").toString
    spark.conf.set("spark.sql.catalog.gcv", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcv.warehouse", wh)
    val target = s"$wh/ns/cowvac"
    (0L until 1000L).map(i => (i, s"v$i")).toDF("k", "s")
      .repartitionByRange(4, col("k"))
      .write.format("graft.sources.ManifestSource")
      .option("path", target)
      .mode("overwrite").save()
    val before = ManifestLog(conf, target).snapshot().partRanges
    assert(before.size === 4)
    val filesBefore = Files.list(Paths.get(target)).toArray.map(_.toString)
      .count(p => ManifestSink.isPartFile(Paths.get(p).getFileName.toString))

    spark.sql("DELETE FROM gcv.ns.cowvac WHERE k >= 600")
    assert(spark.sql("SELECT * FROM gcv.ns.cowvac").count() === 600)
    // COW never deletes: v1's files all still present, plus the rewrite
    assert(Files.list(Paths.get(target)).toArray.map(_.toString)
      .count(p => ManifestSink.isPartFile(Paths.get(p).getFileName.toString)) === filesBefore + 1)

    val stats = ManifestMaintenance.expireSnapshots(conf, target,
      keepLast = 1, orphanGraceMs = 0L)
    assert(stats.versionsExpired === 1)
    // reclaimed: the dropped part ([750,999]) and the replaced
    // straddler ([500,749]); the two untouched parts and the rewrite
    // survive, and they are exactly what the head lists
    assert(stats.filesDeleted === 2, stats.toString)
    assert(spark.sql("SELECT * FROM gcv.ns.cowvac").count() === 600)
    intercept[Exception] { readVersion(target, Some(1)).count() }
    val listed = ManifestLog(conf, target).snapshot().partRanges
      .map(p => Paths.get(p._1.stripPrefix("file:")).getFileName.toString).toSet
    val onDisk = Files.list(Paths.get(target)).toArray.map(_.toString)
      .filter(p => ManifestSink.isPartFile(Paths.get(p).getFileName.toString))
      .map(p => Paths.get(p).getFileName.toString).toSet
    assert(onDisk === listed)
    assert(listed.intersect(before.map(p =>
      Paths.get(p._1.stripPrefix("file:")).getFileName.toString).toSet).size === 2,
      "the two untouched v1 part files must survive in place")
  }

  test("RESTORE re-commits an old snapshot as the new head; history stays append-only") {
    val target = Files.createTempDirectory("graft-restore-").toString
    writeSlice(target, 0, "overwrite") // v1
    writeSlice(target, 1, "overwrite") // v2 (logical truncate + new slice)
    val n1 = base.filter(col("event_id") % 10 === 0).count()
    val n2 = base.filter(col("event_id") % 10 === 1).count()
    assert(readVersion(target, None).count() === n2)
    val v = ManifestMaintenance.restore(conf, target, 1)
    assert(v === 3)
    // head now serves v1's rows; the rolled-back-over v2 is intact
    assert(readVersion(target, None).count() === n1)
    assert(readVersion(target, Some(2)).count() === n2)
    // the restore is itself a snapshot: travel back to it explicitly
    assert(readVersion(target, Some(3)).count() === n1)
    // a restore references data files, never copies them
    val v1Parts = ManifestLog(conf, target).snapshot(Ref.At(1)).partRanges.map(_._1).toSet
    val v3Parts = ManifestLog(conf, target).snapshot(Ref.At(3)).partRanges.map(_._1).toSet
    assert(v1Parts === v3Parts)
  }

  test("commit claims its version exclusively; a raced slot is skipped, never clobbered") {
    // simulate the loser's view of a concurrent commit: another
    // writer has already CLAIMED the next version slot by the time
    // this commit tries to publish. The commit must retry at the next
    // free slot — the racer's snapshot survives bit-for-bit.
    val target = Files.createTempDirectory("graft-occ-").toString
    writeSlice(target, 0, "overwrite") // v1
    val v1Bytes = Files.readAllBytes(Paths.get(target,
      ManifestLog.versionFile(1)))
    // the "racer": v2 exists before our commit computes its slot
    Files.write(Paths.get(target, ManifestLog.versionFile(2)),
      new String(v1Bytes, "UTF-8").replace("\"version\":1", "\"version\":2")
        .getBytes("UTF-8"))
    writeSlice(target, 1, "append") // must land at v3, not overwrite v2
    assert(ManifestLog(conf, target).versions === Seq(1, 2, 3))
    assert(Files.readAllBytes(Paths.get(target, ManifestLog.versionFile(2)))
      .length > 0, "the raced snapshot must survive")
    val n1 = base.filter(col("event_id") % 10 === 0).count()
    val n2 = base.filter(col("event_id") % 10 === 1).count()
    assert(readVersion(target, Some(3)).count() === n1 + n2)
  }

  test("time travel to a never-committed version fails loudly") {
    val target = Files.createTempDirectory("graft-hist-spec-").toString
    writeSlice(target, 0, "overwrite")
    val ex = intercept[Exception] { readVersion(target, Some(7)).count() }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(ex).exists(c => c.getMessage != null &&
      c.getMessage.contains("no snapshot 7")), s"got $ex")
  }

  test("vacuum orphan grace: an in-flight write's staged parts survive; " +
      "committed-expired parts are still reclaimed") {
    val target = Files.createTempDirectory("graft-hist-spec-").toString
    writeSlice(target, 0, "overwrite")
    writeSlice(target, 1, "overwrite")
    // a concurrent writer's freshly staged, not-yet-committed part —
    // under the default grace it MUST survive vacuum, otherwise the
    // eventual commit would publish a manifest of deleted files
    Files.write(Paths.get(target, "part-cafebabe-0-7.csv"),
      "424242,1.0\n".getBytes("UTF-8"))
    val stats = ManifestMaintenance.expireSnapshots(conf, target, keepLast = 1)
    assert(stats.versionsExpired === 1)
    assert(stats.filesDeleted === 4,
      "exactly the expired snapshot's 4 committed parts — never the fresh stage")
    assert(Files.exists(Paths.get(target, "part-cafebabe-0-7.csv")),
      "staged part inside the grace window must survive vacuum")
  }

  test("a table path containing , \" and } round-trips the manifest format") {
    val hostile = Files.createTempDirectory("graft-hist-spec-").toString +
      "/we,ird\"na}me"
    writeSlice(hostile, 3, "overwrite")
    val got = readVersion(hostile, None)
      .agg(count(lit(1)).cast("long"), sum(col("value"))).collect().head
    val want = base.filter(col("event_id") % 10 === 3)
      .agg(count(lit(1)).cast("long"), sum(col("value"))).collect().head
    assert(got === want, "stats+paths must decode exactly from the manifest")
    // and the parsed manifest paths point at real files
    ManifestLog(conf, hostile).snapshot().partRanges.foreach { case (p, _, _, _) =>
      assert(Files.exists(Paths.get(p.stripPrefix("file:"))), s"bad path $p")
    }
  }
}
