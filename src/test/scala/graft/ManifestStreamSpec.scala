package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.model.Tables

/** Incremental-read guarantees of the manifest MicroBatchStream that
  * the oracle equality (q_stream_manifest_source) cannot see: resume
  * from a checkpointed version offset must read ONLY newly-committed
  * parts, and uncommitted files must stay invisible to the stream. */
class ManifestStreamSpec extends SparkSpec {

  private def freshDir(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").toString

  private def write(df: DataFrame, path: String, mode: String): Unit =
    df.repartition(2)
      .write.format("graft.sources.ManifestSource")
      .option("path", path).mode(mode).save()

  private def drain(table: String, sink: String, checkpoint: String): Long = {
    val q = spark.readStream
      .format("graft.sources.ManifestSource").option("path", table).load()
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.recentProgress.map(_.numInputRows).sum
  }

  test("resume from the checkpointed offset reads only the new snapshot's parts") {
    val table = freshDir("mstream-table")
    val sink = freshDir("mstream-sink")
    val checkpoint = freshDir("mstream-ckpt")
    val base = Tables.events(spark, Sf0001)
      .select(col("event_id"), col("user_id"), col("value"))

    val a = base.filter(col("event_id") % 2 === 0)
    write(a, table, "overwrite")
    val nA = a.count()
    val read1 = drain(table, sink, checkpoint)
    assert(read1 === nA, s"run 1 must deliver commit A: $read1 != $nA")
    assert(spark.read.parquet(sink).count() === nA)

    val b = base.filter(col("event_id") % 2 === 1)
    write(b, table, "append")
    val nB = b.count()
    val read2 = drain(table, sink, checkpoint)
    // the incremental pin: run 2 plans the manifest DIFF, not the table
    assert(read2 === nB, s"run 2 must deliver ONLY commit B: $read2 != $nB")
    assert(spark.read.parquet(sink).count() === nA + nB)
    // delivered rows must be exactly the table content, no dup/loss
    val sinkIds = spark.read.parquet(sink).select("event_id")
    assert(sinkIds.exceptAll(base.select("event_id")).isEmpty)
    assert(base.select("event_id").exceptAll(sinkIds).isEmpty)
  }

  test("a caught-up stream plans zero batches; staged orphans stay invisible") {
    val table = freshDir("mstream2-table")
    val sink = freshDir("mstream2-sink")
    val checkpoint = freshDir("mstream2-ckpt")
    val base = Tables.events(spark, Sf0001)
      .select(col("event_id"), col("user_id"), col("value")).limit(100)
    write(base, table, "overwrite")
    drain(table, sink, checkpoint)
    val n1 = spark.read.parquet(sink).count()

    // an orphan data file NOT listed by any manifest: crash debris or
    // an in-flight writer's stage — the stream must not see it
    Files.write(java.nio.file.Paths.get(table, "part-orphan-xyz.csv"),
      "999999,1,1.0\n".getBytes("UTF-8"))
    val read = drain(table, sink, checkpoint)
    assert(read === 0, s"caught-up stream re-read $read rows")
    assert(spark.read.parquet(sink).count() === n1)
  }

  test("a COW delete commit re-emits exactly the rewritten parts' surviving rows") {
    // DOCUMENTED SEMANTICS, pinned so a change is loud: the stream
    // plans "parts the new snapshot ADDED", so a copy-on-write DELETE
    // re-delivers the surviving rows of rewritten parts (an
    // upsert-shaped replay the consumer must tolerate) and never the
    // untouched parts — the same append-only incremental-read caveat
    // Iceberg documents for its changelog-less incremental scans;
    // true row-level CDC needs delete vectors or a changelog table.
    import spark.implicits._
    val wh = freshDir("mstream-cow")
    spark.conf.set("spark.sql.catalog.gsc", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gsc.warehouse", wh)
    val table = s"$wh/ns/t"
    val sink = freshDir("mstream-cow-sink")
    val checkpoint = freshDir("mstream-cow-ckpt")
    (0L until 1000L).map(i => (i, s"v$i")).toDF("k", "s")
      .repartitionByRange(4, col("k"))
      .write.format("graft.sources.ManifestSource")
      .option("path", table)
      .mode("overwrite").save()
    assert(drain(table, sink, checkpoint) === 1000)

    spark.sql("DELETE FROM gsc.ns.t WHERE k >= 600")
    val reEmitted = drain(table, sink, checkpoint)
    // parts: [0,249] [250,499] untouched (not re-emitted), [500,749]
    // rewritten -> its 100 survivors re-emitted, [750,999] dropped
    assert(reEmitted === 100,
      s"COW must re-emit only the rewritten part's survivors: $reEmitted")
    // the delivered union is append-shaped: original 1000 + 100 replays
    assert(spark.read.parquet(sink).count() === 1100)
  }

  test("change feed resumes across a COW delete: that commit's deletes + re-inserts only") {
    // the CDF twin of the append-only COW test above: with
    // changeFeed=true the stream ALSO emits the removed parts' rows
    // as deletes, so a checkpointed consumer that resumes after a
    // COW commit receives the full part-level restatement of exactly
    // that commit — deletes for every row of the dropped/rewritten
    // parts, inserts for the rewritten survivors — and nothing from
    // the untouched parts.
    import spark.implicits._
    val wh = freshDir("mstream-cdf")
    spark.conf.set("spark.sql.catalog.gsc2", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gsc2.warehouse", wh)
    val table = s"$wh/ns/t"
    val sink = freshDir("mstream-cdf-sink")
    val checkpoint = freshDir("mstream-cdf-ckpt")
    (0L until 1000L).map(i => (i, s"v$i")).toDF("k", "s")
      .repartitionByRange(4, col("k"))
      .write.format("graft.sources.ManifestSource")
      .option("path", table)
      .mode("overwrite").save()
    def drainCdf(): Unit = {
      val q = spark.readStream
        .format("graft.sources.ManifestSource")
        .option("path", table).option("changeFeed", "true").load()
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drainCdf()
    val run1 = spark.read.parquet(sink)
    assert(run1.count() === 1000)
    assert(run1.filter(col("_change_type") === "insert" &&
      col("_commit_version") === 1).count() === 1000,
      "first drain is pure inserts at v1")

    spark.sql("DELETE FROM gsc2.ns.t WHERE k >= 600")
    drainCdf()
    // parts: [0,249] [250,499] untouched — silent; [500,749]
    // rewritten — 250 deletes + 100 surviving re-inserts; [750,999]
    // dropped — 250 deletes
    val v2 = spark.read.parquet(sink).filter(col("_commit_version") === 2)
    val dels = v2.filter(col("_change_type") === "delete")
    val ins = v2.filter(col("_change_type") === "insert")
    assert(dels.count() === 500, "deletes = every row of the 2 removed parts")
    assert(dels.agg(min(col("k")), max(col("k"))).head.toSeq === Seq(500L, 999L))
    assert(ins.count() === 100, "inserts = the rewritten part's survivors")
    assert(ins.agg(min(col("k")), max(col("k"))).head.toSeq === Seq(500L, 599L))
  }

  test("startingVersion: a fresh consumer tails from the named snapshot") {
    import spark.implicits._
    val table = freshDir("mstream-sv")
    def commit(lo: Long, hi: Long, mode: String): Unit =
      (lo until hi).map(i => (i, s"v$i")).toDF("k", "s")
        .repartition(1)
        .write.format("graft.sources.ManifestSource")
        .option("path", table)
        .mode(mode).save()
    commit(0, 100, "overwrite")  // v1
    commit(100, 200, "append")   // v2
    commit(200, 300, "append")   // v3
    def drain(sink: String, ckpt: String, opts: Map[String, String],
        cdf: Boolean): Unit = {
      var r = spark.readStream.format("graft.sources.ManifestSource")
        .option("path", table)
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = (if (cdf) r.option("changeFeed", "true") else r).load()
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // append stream from v2: only commits 2 and 3 replay
    val s1 = freshDir("mstream-sv-s1"); val c1 = freshDir("mstream-sv-c1")
    drain(s1, c1, Map("startingVersion" -> "2"), cdf = false)
    val got = spark.read.parquet(s1)
    assert(got.count() === 200)
    assert(got.agg(min(col("k"))).head.getLong(0) === 100L,
      "v1's rows must not replay")
    // change feed from v3: only that commit's inserts, tagged v3
    val s2 = freshDir("mstream-sv-s2"); val c2 = freshDir("mstream-sv-c2")
    drain(s2, c2, Map("startingVersion" -> "3"), cdf = true)
    val feed = spark.read.parquet(s2)
    assert(feed.count() === 100)
    assert(feed.select(col("_commit_version")).distinct()
      .head.getLong(0) === 3L)
    // resume wins over startingVersion: re-drain on the same
    // checkpoint with an earlier start replays NOTHING new
    drain(s2, c2, Map("startingVersion" -> "1"), cdf = true)
    assert(spark.read.parquet(s2).count() === 100,
      "an existing checkpoint must override startingVersion")
  }

  test("changelog contract survives the full maintenance lifecycle: " +
      "startingVersion -> vector commit -> compaction, one resume chain") {
    import spark.implicits._
    val wh = freshDir("mstream-lifecycle")
    val table = s"$wh/ns/t"
    spark.conf.set("spark.sql.catalog.glc", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.glc.warehouse", wh)
    (0L until 1000L).map(i => (i, s"v$i")).toDF("k", "s")
      .repartitionByRange(4, col("k"))
      .write.format("graft.sources.ManifestSource")
      .option("path", table)
      .mode("overwrite").save() // v1: [0,249][250,499][500,749][750,999]
    spark.conf.set("graft.delete.mode", "mor")
    try spark.sql("DELETE FROM glc.ns.t WHERE k >= 600 AND k < 650")
    finally spark.conf.unset("graft.delete.mode") // v2: sidecar vector
    val sink = freshDir("mstream-lc-sink")
    val ckpt = freshDir("mstream-lc-ckpt")
    def drainCdf(): Unit = {
      val q = spark.readStream.format("graft.sources.ManifestSource")
        .option("path", table).option("changeFeed", "true")
        .option("startingVersion", "2").load()
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // fresh consumer from v2: exactly the vector commit's 50 precise
    // deletes — v1's 1000 inserts must NOT replay
    drainCdf()
    val run1 = spark.read.parquet(sink)
    assert(run1.count() === 50)
    assert(run1.select("_change_type").distinct().head.getString(0) === "delete")
    assert(run1.agg(min(col("k")), max(col("k"))).head.toSeq === Seq(600L, 649L))
    // v3: compaction rewrites the vectored [500,749] part (200 visible
    // rows into a fresh file), clearing the sidecar
    assert(graft.sources.ManifestMaintenance.compactVectors(spark, table) === 1)
    // RESUME across the compaction: only v3's part restatement replays
    // — 200 deletes (the old part's VISIBLE rows; masked rows must not
    // resurrect) + 200 identical re-inserts
    drainCdf()
    val v3 = spark.read.parquet(sink).filter(col("_commit_version") === 3)
    val dels = v3.filter(col("_change_type") === "delete")
    val ins = v3.filter(col("_change_type") === "insert")
    assert(dels.count() === 200, "old part restates only its visible rows")
    assert(dels.filter(col("k") >= 600 && col("k") < 650).count() === 0,
      "vector-deleted rows must not resurrect through compaction CDF")
    assert(ins.count() === 200)
    assert(ins.agg(min(col("k")), max(col("k"))).head.toSeq === Seq(500L, 749L))
    assert(dels.select("k").except(ins.select("k")).count() === 0,
      "restatement is delete+reinsert of the same keys")
    assert(spark.read.parquet(sink).count() === 50 + 400,
      "the resume added exactly the compaction commit's changes")
  }

  test("change feed fails loudly when its range straddles an expired snapshot") {
    // vacuum/retention interplay: a CDF consumer starting below the
    // oldest retained snapshot CANNOT silently re-serve the head as
    // if it were history — the version-diff read must throw the
    // missing-snapshot error. (Delta's CDF throws the equivalent
    // "changes no longer available" once the log is truncated.)
    import spark.implicits._
    val table = freshDir("mstream-cdf-exp")
    def commit(lo: Long, hi: Long, mode: String): Unit =
      (lo until hi).map(i => (i, s"v$i")).toDF("k", "s")
        .repartition(1)
        .write.format("graft.sources.ManifestSource")
        .option("path", table)
        .mode(mode).save()
    commit(0, 100, "overwrite")  // v1
    commit(100, 200, "append")   // v2
    commit(200, 300, "append")   // v3
    val conf = spark.sessionState.newHadoopConf()
    graft.sources.ManifestMaintenance.expireSnapshots(conf, table,
      keepLast = 2, orphanGraceMs = 0L) // v1 gone; v2, v3 retained
    val ex = intercept[Exception] {
      val q = spark.readStream
        .format("graft.sources.ManifestSource")
        .option("path", table).option("changeFeed", "true").load()
        .writeStream.format("parquet")
        .option("path", freshDir("mstream-cdf-exp-sink"))
        .option("checkpointLocation", freshDir("mstream-cdf-exp-ckpt"))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(ex).exists(c => c.getMessage != null &&
      c.getMessage.contains("no snapshot 1")),
      s"expired-history CDF must name the missing snapshot, got $ex")
  }

  test("medallion rerun: caught-up adds nothing; a new bronze commit appends only its delta") {
    val bronze = freshDir("medal-bronze")
    val silver = freshDir("medal-silver")
    val checkpoint = freshDir("medal-ckpt")
    // silver must start nonexistent so the first commit creates it
    java.nio.file.Files.delete(java.nio.file.Paths.get(silver))
    val hconf = spark.sessionState.newHadoopConf()

    def runPipeline(): Unit = {
      import org.apache.hadoop.fs.Path
      val q = spark.readStream
        .format("graft.sources.ManifestSource").option("path", bronze).load()
        .writeStream
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val marker = new Path(silver, f"_BATCH-$batchId%05d")
          val fs = marker.getFileSystem(hconf)
          if (!fs.exists(marker)) {
            batch.repartition(2)
              .write.format("graft.sources.ManifestSource")
              .option("path", silver)
              .mode(if (fs.exists(new Path(silver))) "append" else "overwrite")
              .save()
            fs.create(marker, false).close()
          }
          ()
        }
        .start()
      q.awaitTermination()
    }
    def silverDf = spark.read
      .format("graft.sources.ManifestSource").option("path", silver).load()
    def silverVersions =
      graft.sources.ManifestLog(hconf, silver).versions.size

    val base = Tables.events(spark, Sf0001)
      .select(col("event_id"), col("user_id"), col("value"))
    val a = base.filter(col("event_id") % 2 === 0)
    write(a, bronze, "overwrite")
    runPipeline()
    val nA = a.count()
    assert(silverDf.count() === nA)
    val v1 = silverVersions

    runPipeline() // caught up: no new bronze snapshot → no new silver commit
    assert(silverDf.count() === nA, "caught-up rerun duplicated rows")
    assert(silverVersions === v1, "caught-up rerun committed a snapshot")

    val b = base.filter(col("event_id") % 2 === 1)
    write(b, bronze, "append")
    runPipeline()
    assert(silverDf.count() === nA + b.count(), "delta append lost or duplicated rows")
    assert(silverVersions === v1 + 1, "delta run must commit exactly one snapshot")
  }

  test("native streaming sink: epochs commit with stream op tokens, and " +
    "a crash-replayed epoch is dropped exactly-once (op label is the " +
    "transaction marker)") {
    import spark.implicits._
    val wh = freshDir("ssink-wh")
    spark.conf.set("spark.sql.catalog.gss", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gss.warehouse", wh)
    val bronze = s"$wh/ns/bronze"
    val checkpoint = freshDir("ssink-ckpt")
    write((0L until 200L).map(i => (i, i * 2)).toDF("k", "v"), bronze,
      "overwrite")
    write((200L until 300L).map(i => (i, i * 2)).toDF("k", "v"), bronze,
      "append")
    spark.sql("CREATE TABLE gss.ns.silver (k BIGINT, v BIGINT)")
    def run(): Unit = {
      val q = spark.readStream
        .format("graft.sources.ManifestSource").option("path", bronze)
        .option("maxPartsPerTrigger", "2").load()
        .writeStream
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .toTable("gss.ns.silver")
      q.awaitTermination()
    }
    run()
    def silverCount(): Long =
      spark.sql("SELECT count(*) FROM gss.ns.silver").head.getLong(0)
    assert(silverCount() === 300L, "drain delivered every row")
    val ops = spark.sql("SELECT operation FROM gss.ns.silver.history")
      .collect().map(_.getString(0)).filter(_.startsWith("stream:"))
    assert(ops.length >= 2, s"budgeted drain spans epochs, got $ops")
    assert(ops.distinct.length === ops.length, "one version per epoch")
    // CRASH REPLAY: wipe the last epoch's commit record from the
    // checkpoint — on restart Spark re-delivers that epoch; the sink
    // must find its op token on the version line and drop the
    // duplicate instead of double-appending
    val commitsDir = new java.io.File(s"$checkpoint/commits")
    val last = commitsDir.listFiles().filter(_.getName.forall(_.isDigit))
      .maxBy(_.getName.toInt)
    assert(last.delete(), "simulated crash before the epoch's commit record")
    // local-fs checkpoints shadow every record with a CRC; a stale one
    // would fail the re-commit rename rather than simulate the crash
    new java.io.File(commitsDir, s".${last.getName}.crc").delete()
    run()
    assert(silverCount() === 300L,
      "replayed epoch must not double-append (exactly-once)")
    // a caught-up re-run adds nothing either
    run()
    assert(silverCount() === 300L)
  }

  test("startingTimestamp: a fresh consumer tails from the earliest " +
    "snapshot committed at or after the instant; a future instant " +
    "replays nothing and picks up the next commit") {
    import spark.implicits._
    val table = freshDir("mstream-ts")
    write((0L until 100L).map(i => (i, i)).toDF("k", "v"), table,
      "overwrite")                                            // v1
    Thread.sleep(1100)
    write((100L until 130L).map(i => (i, i)).toDF("k", "v"), table,
      "append")                                               // v2
    // cutoff strictly between v1's and v2's commit mtimes
    val d = new org.apache.hadoop.fs.Path(table)
    val fs = d.getFileSystem(spark.sessionState.newHadoopConf())
    def mtime(v: Int): Long = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(d,
        graft.sources.ManifestLog.versionFile(v))).getModificationTime
    val cutoff = new java.sql.Timestamp((mtime(1) + mtime(2)) / 2).toString
    def drainFrom(ts: String): Seq[Long] = {
      val sink = freshDir("mstream-ts-sink")
      val q = spark.readStream
        .format("graft.sources.ManifestSource").option("path", table)
        .option("startingTimestamp", ts).load()
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", freshDir("mstream-ts-ckpt"))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(sink).collect().map(_.getLong(0)).toSeq.sorted
    }
    assert(drainFrom(cutoff) === (100L until 130L),
      "tail starts at the first commit at/after the instant")
    assert(drainFrom("2100-01-01 00:00:00") === Seq.empty,
      "future instant: nothing historical")
    // both options together must refuse
    intercept[Exception] {
      spark.readStream.format("graft.sources.ManifestSource")
        .option("path", table).option("startingTimestamp", cutoff)
        .option("startingVersion", "1").load()
        .writeStream.format("console")
        .option("checkpointLocation", freshDir("mstream-ts-ckpt2"))
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
  }

  test("streaming sink into a BUCKETED table routes epochs through the " +
    "bucketed writer (layout + distribution preserved)") {
    import spark.implicits._
    val wh = freshDir("ssink-bwh")
    spark.conf.set("spark.sql.catalog.gsb", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gsb.warehouse", wh)
    val bronze = s"$wh/ns/bronze"
    write((0L until 400L).map(i => (i, i * 3)).toDF("k", "v"), bronze,
      "overwrite")
    spark.sql("CREATE TABLE gsb.ns.silver (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    val q = spark.readStream
      .format("graft.sources.ManifestSource").option("path", bronze).load()
      .writeStream
      .option("checkpointLocation", freshDir("ssink-bckpt"))
      .trigger(Trigger.AvailableNow())
      .toTable("gsb.ns.silver")
    q.awaitTermination()
    assert(spark.sql("SELECT count(*) FROM gsb.ns.silver")
      .head.getLong(0) === 400L)
    val buckets = spark.sql("SELECT DISTINCT bucket FROM " +
      "gsb.ns.silver.files WHERE bucket >= 0").collect()
      .map(_.getInt(0)).toSet
    assert(buckets === Set(0, 1, 2, 3),
      s"streamed parts must carry bucket ordinals, got $buckets")
  }

  test("maxPartsPerTrigger drains a backlog in budgeted micro-batches") {
    val base = Tables.events(spark, Sf0001)
      .select(col("event_id"), col("user_id"), col("value")).limit(300)
    val table = freshDir("mstream-adm-table")
    // three commits × 2 parts each = 6 parts / 3 versions of backlog
    write(base.filter(col("event_id") % 3 === 0), table, "overwrite")
    write(base.filter(col("event_id") % 3 === 1), table, "append")
    write(base.filter(col("event_id") % 3 === 2), table, "append")
    val total = base.count()

    def drainBudgeted(maxParts: Option[Int]): (Long, Int) = {
      val sink = freshDir("mstream-adm-sink")
      val checkpoint = freshDir("mstream-adm-ckpt")
      val reader = spark.readStream
        .format("graft.sources.ManifestSource").option("path", table)
      maxParts.foreach(n => reader.option("maxPartsPerTrigger", n.toString))
      val q = reader.load()
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      (batches.map(_.numInputRows).sum, batches.length)
    }

    // budget 2 = one version's parts per trigger → exactly 3 batches
    val (rows3, n3) = drainBudgeted(Some(2))
    assert(rows3 === total, "budgeted drain lost or duplicated rows")
    assert(n3 === 3, s"budget 2 must take one version per batch, got $n3")
    // budget 4 admits two versions, then the third → 2 batches
    val (rows2, n2) = drainBudgeted(Some(4))
    assert(rows2 === total)
    assert(n2 === 2, s"budget 4 must drain in 2 batches, got $n2")
    // a single oversized commit still lands whole (version granularity:
    // at least one version per trigger, like Delta rounding
    // maxFilesPerTrigger up to a full commit)
    val (rows1, n1) = drainBudgeted(Some(1))
    assert(rows1 === total)
    assert(n1 === 3, s"budget 1 still admits whole versions, got $n1")
    // no budget → the whole backlog in one batch (existing behavior)
    val (rowsAll, nAll) = drainBudgeted(None)
    assert(rowsAll === total)
    assert(nAll === 1, s"unbudgeted drain must be one batch, got $nAll")
  }
}
