package graft

import org.apache.spark.sql.functions._

import graft.functions.Exact
import graft.model.Tables
import graft.streaming.Streams

/** Stream-vs-batch equivalence: the same plan over the same data must
  * produce identical results whether run as a stream (AvailableNow)
  * or as a batch DataFrame (SURVEY §5 test plan, item e). */
class StreamingSpec extends SparkSpec {

  private def q(name: String) = Streams.all.find(_.name == name).get.fn

  test("tumbling-window stream (append) == batch aggregation of finalized windows") {
    val stream = q("q_stream_tumbling")(spark, Sf0001).collect().toSet
    // Append mode emits exactly the watermark-finalized windows:
    // window end <= max event time − 10 min.
    val maxUs = Tables.events(spark, Sf0001)
      .agg(max(unix_micros(col("ts")))).head.getLong(0)
    val batch = Tables.events(spark, Sf0001)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), Exact.decSum(col("value"), 2).as("sum_value"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        unix_micros(col("window.end")).as("window_end_us"),
        col("event_type"), col("n"), col("sum_value"))
      .filter(col("window_end_us") <= maxUs - 600000000L)
      .collect().toSet
    assert(stream === batch)
    assert(stream.nonEmpty)
  }

  test("stateful stream dedup == batch DISTINCT") {
    val stream = q("q_stream_dedup")(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = Tables.events(spark, Sf0001)
      .select(col("user_id"), col("event_type")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(stream === batch)
  }

  test("foreachBatch upsert == batch latest-wins aggregation") {
    val stream = q("q_stream_upsert")(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap   // user_id -> last_event_id
    val batch = Tables.events(spark, Sf0001)
      .groupBy(col("user_id"))
      .agg(max_by(col("event_id"), struct(col("ts"), col("event_id"))).as("e"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(stream === batch)
  }

  test("events later than the watermark are dropped at finalization") {
    import java.io.File
    import java.nio.file.{Files => JFiles, Paths}
    import java.nio.file.attribute.FileTime
    import java.sql.Timestamp
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger

    val dir = JFiles.createTempDirectory("graft-late-").toString
    def ts(hhmm: String): Timestamp =
      Timestamp.valueOf(s"2024-01-01 $hhmm:00")
    // One parquet file per micro-batch, ordered by explicit mtime.
    def addFile(n: Int, rows: Seq[Timestamp]): Unit = {
      val stage = JFiles.createTempDirectory(s"graft-late-stage$n-").toString
      rows.map(t => (t, 1L)).toDF("ts", "v")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = Paths.get(dir, s"batch$n.parquet")
      JFiles.move(part.toPath, dest)
      JFiles.setLastModifiedTime(dest, FileTime.fromMillis(1000L * n))
    }
    val agg = spark.readStream
      .schema("ts timestamp, v bigint")
      .parquet(dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("string").as("ws"), col("n"))
    // Two AvailableNow runs over one checkpoint (parquet sink — the
    // memory sink cannot recover from a checkpoint): the watermark is
    // persisted state, so run 2 resumes at 02:50 — exactly how a
    // restarted production stream treats stragglers.
    val ckpt = JFiles.createTempDirectory("graft-late-ckpt-").toString
    val out = JFiles.createTempDirectory("graft-late-out-").toString + "/sink"
    def run(): Unit = {
      val q = agg.writeStream.format("parquet")
        .option("path", out)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // Run 1 advances the watermark to 02:50; run 2 carries one event
    // at 00:20 — behind the persisted watermark, must be dropped —
    // and a fresh one at 05:00 that finalizes the 03:00 window.
    addFile(1, Seq(ts("00:05"), ts("00:10"), ts("03:00")))
    run()
    addFile(2, Seq(ts("00:20"), ts("05:00")))
    run()

    val got = spark.read.parquet(out).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    // 00:00 window finalized with 2 rows — the 00:20 straggler is NOT
    // counted; 03:00 window finalized by the 05:00 event; the 05:00
    // window itself is still open (watermark 04:50) and absent.
    assert(got === Map("2024-01-01 00:00:00" -> 2L,
      "2024-01-01 03:00:00" -> 1L), got.toString)
  }

  test("q_stream_late_audit: dropped-row count matches the watermark rule") {
    import java.nio.file.{Files => JFiles, Paths}
    import org.apache.spark.sql.streaming.Trigger
    // replicate the query's two-run replay on fresh dirs, capturing
    // run 2's state metrics (the QueryDef encapsulates its handles)
    Tables.events(spark, Sf0001) // ensures the nanos read conf is set
    val raw = spark.read.schema(Tables.eventsStorageSchema)
      .parquet(s"$Sf0001/events.parquet")
    val maxUs = raw.agg(max(unix_micros(col("ts")))).head.getLong(0)
    val cutTs = timestamp_micros(lit(maxUs - 15L * 86400L * 1000000L))
    val feed = JFiles.createTempDirectory("graft-late-feed-").toString
    val ckpt = JFiles.createTempDirectory("graft-late-ck-").toString
    val out = JFiles.createTempDirectory("graft-late-out-").toString + "/sink"
    def stageOne(cond: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = JFiles.createTempDirectory("graft-late-tmp-").toString
      raw.filter(cond).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .map(_.toString).filter(_.endsWith(".parquet")).head
      JFiles.move(Paths.get(part), Paths.get(feed, name))
    }
    def runOnce() = {
      val agg = Tables.eventsFromStorage(
        spark.readStream.schema(Tables.eventsStorageSchema).parquet(feed))
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_micros(col("window.start")).as("window_start_us"),
          col("event_type"), col("n"))
      val sq = agg.writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      sq.awaitTermination(); sq
    }
    stageOne(col("ts") > cutTs, "recent.parquet")
    runOnce()
    stageOne(col("ts") <= cutTs, "straggler.parquet")
    val run2 = runOnce()
    val dropped = run2.recentProgress
      .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    // sanity: stragglers below the recovered watermark exist, and the
    // state store reported drops. (numRowsDroppedByWatermark counts
    // PARTIAL-aggregate rows — the stateful operator sits above the
    // map-side combine — so the exact number depends on partitioning
    // and is deliberately not pinned; the semantic contract is the
    // sink content below.)
    val wm1 = maxUs - 600000000L
    val lateRaw = Tables.eventsFromStorage(raw.filter(col("ts") <= cutTs))
      .filter(unix_micros(date_trunc("hour", col("ts"))) + 3600000000L <= wm1)
      .count()
    assert(lateRaw > 0, "the staged feed must actually produce late rows")
    assert(dropped > 0 && dropped <= lateRaw,
      s"state store must report drops: dropped=$dropped lateRaw=$lateRaw")
    // the CONTRACT: the sink holds exactly run 1's finalized windows —
    // no straggler contribution ever reaches a closed window
    val got = spark.read.parquet(out)
      .select(col("window_start_us"), col("event_type"), col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val want = Tables.eventsFromStorage(raw.filter(col("ts") > cutTs))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("ws"), col("event_type"),
        col("n"))
      .filter(col("ws") + 3600000000L <= wm1)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got === want, "sink must equal run-1-only finalized windows")
  }

  test("session windows cover every pre-watermark event exactly once") {
    val sessions = q("q_stream_session")(spark, Sf0001).collect()
    val nInSessions = sessions.map(_.getLong(3)).sum
    val ev = Tables.events(spark, Sf0001)
      .select(unix_micros(col("ts")).as("us")).collect().map(_.getLong(0))
    assert(nInSessions > 0)
    assert(nInSessions <= ev.length)
    // session bounds are well-formed: end = at least start + gap
    for (s <- sessions)
      assert(s.getLong(2) >= s.getLong(1) + 1800000000L)
  }

  test("stream-static join runs stateless — no state store operators") {
    import org.apache.spark.sql.streaming.Trigger
    // rebuild q_stream_static_join's streaming stage and inspect the
    // query progress: a stream-static inner join must register ZERO
    // stateful operators (the static side re-plans per batch; nothing
    // is buffered between triggers)
    if (!spark.conf.getOption(Tables.NanosConf).contains("true"))
      spark.conf.set(Tables.NanosConf, "true")
    val dim = Tables.customer(spark, Sf0001)
      .select(col("c_custkey"), col("c_mktsegment"))
    val joined = Tables.eventsFromStorage(
      spark.readStream.schema(Tables.eventsStorageSchema)
        .option("pathGlobFilter", "events.parquet").parquet(Sf0001))
      .select(col("event_id"), col("user_id"), col("value"))
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
    val sq = joined.writeStream.format("memory")
      .queryName("graft_stream_static_spec").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    sq.awaitTermination()
    val stateOps = sq.lastProgress.stateOperators
    assert(stateOps == null || stateOps.isEmpty,
      s"expected stateless join, got ${stateOps.mkString(",")}")
    assert(spark.table("graft_stream_static_spec").count() > 0)
  }

  test("q_stream_outer_join: watermark eviction emits null-extended rows") {
    // The oracle equality is gated by the driver; what only THIS spec
    // can see is the mechanism: unmatched purchases must surface as
    // null-extended rows (state eviction fired inside the closed
    // region), not merely as absent matches — an inner join would
    // pass a rows>0 check, so pin the outer-specific evidence.
    val out = SparkEntry.queries("q_stream_outer_join")(spark, Sf0001)
      .collect()
    val nullExtended = out.count(_.isNullAt(2)) // c_id
    val matched = out.length - nullExtended
    assert(nullExtended > 0,
      "no null-extended rows: eviction never emitted unmatched purchases")
    assert(matched > 0, "no matched rows: join condition never fired")
  }

  /** The `graft-*` entries of the JVM temp directory. */
  private def graftTempEntries(): Set[String] = {
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val ls = java.nio.file.Files.list(tmp)
    try ls.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("graft-")).toSet
    finally ls.close()
  }

  // query bodies keep their scratch tables and checkpoints under the
  // session warehouse (QueryDef.freshTable), so a session that runs
  // them for hours does not fill the temp directory
  for (q <- Seq("q_stream_sink_manifest", "q_stream_upsert",
      "q_format_roundtrip", "q_dpp_join", "q_stream_medallion"))
    test(s"$q leaves no temp directory behind") {
      val before = graftTempEntries()
      SparkEntry.queries(q)(spark, Sf0001).collect()
      assert(graftTempEntries() -- before === Set.empty[String])
    }

  test("stateful streams run unchanged on the RocksDB state store") {
    // The HDFS-backed store holds every key in executor heap; RocksDB
    // is the production backend once keyed state outgrows memory
    // (100 TB = hundreds of millions of session keys). The provider is
    // a session conf — the SAME query must produce the SAME rows on
    // both backends, which is exactly what this pins (session windows
    // exercise the heaviest state path: merge + eviction).
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val rocks = SparkEntry.queries("q_stream_session")(s, Sf0001)
      .collect().toSet
    val default = SparkEntry.queries("q_stream_session")(spark, Sf0001)
      .collect().toSet
    assert(rocks === default)
    assert(rocks.nonEmpty)
  }
}
