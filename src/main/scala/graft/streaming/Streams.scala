package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.functions.Exact
import graft.model.Tables
import graft.queries.QueryDef
import graft.util.SessionConf.withConf

/** Structured Streaming surface over the events feed.
  *
  * The reference's deployment is a latent stream: one container run
  * per webcam observation (reference: start.sh:4 — a new Luigi
  * invocation per S3 prefix), upserting each prediction into DynamoDB
  * keyed (station_id, timestamp) (estimate_queue.py:166-178). Here
  * that becomes a real stream: file-source readStream over the events
  * parquet with the explicit storage schema (streaming sources cannot
  * infer), event-time watermarks, tumbling/session windows, stateful
  * dedup, and a foreachBatch keyed upsert sink.
  *
  * Each query runs Trigger.AvailableNow to completion into a sink and
  * returns the sink contents — so the driver's batch-shaped contract
  * ((spark, dir) → DataFrame, DuckDB oracle) also gates the streaming
  * path: the stream result must hash-match the batch-equivalent SQL.
  *
  * Scale design: windowed aggregation state is partitioned by group
  * key across executors (RocksDB/HDFS state store in production);
  * the foreachBatch upsert is the standard keyed-merge sink pattern
  * (per batch: union + max_by latest-wins, partitioned overwrite) —
  * swap in MERGE INTO on a transactional table format at scale.
  */
object Streams {

  /** Stateful parallelism for the streaming surface. Every stateful
    * micro-batch pays a per-partition state-store open/commit (a
    * stream-stream join keeps FOUR stores per partition), so at bench
    * state sizes (KBs per partition) 32 shuffle partitions are ~32×
    * pure machinery per batch. Each streaming query runs in a CHILD
    * session (shared SparkContext, isolated SQLConf) pinned to this
    * parallelism; results are partitioning-independent (hash-gated),
    * so the dial is a cost knob, not semantics. At 100 TB state you
    * raise it — the state-store partition count is fixed by the FIRST
    * batch and carried in the checkpoint, which is why it's set here
    * and not inherited from whatever the batch session runs. */
  val StatefulShufflePartitions = 8

  private[graft] def streamSession(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions",
      StatefulShufflePartitions.toString)
    s
  }

  /** events.parquet streamed with the declared storage schema and the
    * same ns→µs conversion the batch loader applies. */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    // The session must read timestamp[ns] as long (see Tables.events).
    if (!spark.conf.getOption(Tables.NanosConf).contains("true"))
      spark.conf.set(Tables.NanosConf, "true")
    Tables.eventsFromStorage(
      spark.readStream
        .schema(Tables.eventsStorageSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
  }

  /** Run `stream` to completion into a named memory sink; return the
    * sink table. */
  private def runToMemory(spark: SparkSession, stream: DataFrame,
      name: String, mode: String): DataFrame = {
    val q = stream.writeStream
      .format("memory").queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  /** Custom per-key state for the stateful latest-wins stream. */
  case class UpsertState(tsUs: Long, eventId: Long, value: Double)

  /** transformWithState output: per-key running total + the top-3
    * (value, event_id) pairs maintained in ListState (None-padded
    * below 3 events). */
  case class TwsTop(user_id: Long, n_events: Long,
      v1: Option[Double], e1: Option[Long],
      v2: Option[Double], e2: Option[Long],
      v3: Option[Double], e3: Option[Long])

  /** Spark 4 arbitrary-state processor (the transformWithState API
    * that supersedes flatMapGroupsWithState): TWO independent typed
    * state variables per key — a ListState holding the bounded top-3
    * heap and a ValueState carrying the running count — which the old
    * API's single state slot could only fake by packing. State is
    * RocksDB-backed (the API requires it), so per-key state size is
    * bounded by the processor, not the heap. */
  class TopKProcessor extends org.apache.spark.sql.streaming
      .StatefulProcessor[Long, (Long, Double, Long), TwsTop] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.TTLConfig
    @transient private var top:
      org.apache.spark.sql.streaming.ListState[(Double, Long)] = _
    @transient private var seen:
      org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      top = getHandle.getListState[(Double, Long)]("top",
        Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong),
        TTLConfig.NONE)
      seen = getHandle.getValueState[Long]("seen",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Double, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[TwsTop] = {
      val incoming = rows.map(r => (r._2, r._3)).toSeq
      // merge into the bounded per-key heap: state stays O(k) no
      // matter how many rows the key ever receives
      val merged = (top.get().toSeq ++ incoming)
        .sortBy { case (v, e) => (-v, -e) }.take(3)
      top.put(merged.toArray)
      val n = (if (seen.exists()) seen.get() else 0L) + incoming.size
      seen.update(n)
      def at(i: Int) = merged.lift(i)
      Iterator(TwsTop(key, n,
        at(0).map(_._1), at(0).map(_._2),
        at(1).map(_._1), at(1).map(_._2),
        at(2).map(_._1), at(2).map(_._2)))
    }
  }

  private[streaming] case class TtlCount(
      user_id: Long, n_ttl: Long, n_total: Long)

  /** STATE TTL (Spark 4 per-state TTLConfig): two ValueStates on the
    * SAME key — `fresh` expires TTL after its last update, `total`
    * never does — so one processor exhibits both lifecycles at once:
    * after an idle gap longer than the TTL, `fresh` reads absent
    * (the count RESTARTS — evicted state can never leak into the
    * recount) while `total` still carries the full history. This is
    * the bounded-state contract an always-on keyed pipeline needs:
    * state for churned-out keys ages out by itself instead of
    * growing forever. */
  class TtlCountProcessor extends org.apache.spark.sql.streaming
      .StatefulProcessor[Long, (Long, Long, Double), TtlCount] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.TTLConfig
    @transient private var fresh:
      org.apache.spark.sql.streaming.ValueState[Long] = _
    @transient private var total:
      org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      // 200 ms TTL (was 500): the value is pure cost — the gate only
      // needs "idle gap strictly longer than the TTL", and the 3×
      // margin (600 ms sleep) is preserved, so the safety argument is
      // unchanged while the semantic idle time the bench pays per run
      // drops by ~0.9 s (r21 optimization; run 1 is a single
      // micro-batch, so no intra-run expiry window exists at any TTL)
      fresh = getHandle.getValueState[Long]("fresh", Encoders.scalaLong,
        TTLConfig(java.time.Duration.ofMillis(200)))
      total = getHandle.getValueState[Long]("total", Encoders.scalaLong,
        TTLConfig.NONE)
    }

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Double)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[TtlCount] = {
      val n = rows.size.toLong
      // an expired `fresh` reads ABSENT here — the TTL getter filters
      // it — so the count restarts from this batch's rows alone
      val f = (if (fresh.exists()) fresh.get() else 0L) + n
      val t = (if (total.exists()) total.get() else 0L) + n
      fresh.update(f)
      total.update(t)
      Iterator(TtlCount(key, f, t))
    }
  }

  // lazy: `raw` is initialized below this point in the object body
  lazy val all: Seq[QueryDef] = raw.map(q =>
    q.copy(fn = (spark, dir) => q.fn(streamSession(spark), dir)))

  private lazy val raw: Seq[QueryDef] = Seq(

    // --- Arbitrary stateful processing: the K2 keyed upsert as
    // flatMapGroupsWithState custom state (the API for semantics the
    // built-in windows can't express). State = latest (ts, event_id,
    // value) per station; each batch emits the updated state. The
    // memory sink accumulates update-mode emissions, so the final
    // read takes the per-key maximum — deterministic under any batch
    // split because the ordering key is total.
    QueryDef("q_stream_custom_state",
      (spark, dir) => {
        import spark.implicits._
        import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
        val typed = eventsStream(spark, dir)
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
            col("event_id"), col("value"))
          .as[(Long, Long, Long, Double)]
        val updated = typed.groupByKey(_._1)
          .flatMapGroupsWithState[UpsertState, (Long, Long, Long, Double)](
            OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
            (key: Long, rows: Iterator[(Long, Long, Long, Double)],
             state: GroupState[UpsertState]) =>
              val candidates = rows.map(r => UpsertState(r._2, r._3, r._4)) ++
                state.getOption.iterator
              val latest = candidates.maxBy(s => (s.tsUs, s.eventId))
              state.update(latest)
              Iterator((key, latest.tsUs, latest.eventId, latest.value))
          }
          .toDF("user_id", "last_ts_us", "last_event_id", "last_value")
        runToMemory(spark, updated, "graft_stream_custom_state", "update")
          .groupBy(col("user_id"))
          .agg(max_by(
            struct(col("last_ts_us"), col("last_event_id"), col("last_value")),
            struct(col("last_ts_us"), col("last_event_id"))).as("r"))
          .select(col("user_id"), col("r.last_ts_us"), col("r.last_event_id"),
            col("r.last_value"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, last_ts_us, last_event_id, last_value FROM (
  SELECT user_id, epoch_us(ts) AS last_ts_us, event_id AS last_event_id,
    value AS last_value,
    row_number() OVER (PARTITION BY user_id
                       ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
  FROM events) WHERE rn = 1 ORDER BY user_id""")),

    // --- transformWithState (Spark 4's arbitrary-state API, the
    // successor to flatMapGroupsWithState): per-key TOP-3 maintained
    // in a ListState next to a running count in a ValueState — two
    // independent typed state variables per key, RocksDB-backed (the
    // API requires the RocksDB provider; set for this query, restored
    // after). Update-mode emissions carry the monotone count, so the
    // final read is a deterministic max_by(count) per key under ANY
    // micro-batch split. Scale shape: state per key is O(k) by
    // construction (the processor merges into a bounded heap), and
    // RocksDB keeps total state off the executor heap — the
    // leaderboard/top-k-per-entity shape that runs forever. Oracle:
    // the batch window-rank restatement.
    QueryDef("q_stream_tws",
      (spark, dir) => {
        import spark.implicits._
        val k = "spark.sql.streaming.stateStore.providerClass"
        withConf(spark, k -> ("org.apache.spark.sql.execution.streaming." +
            "state.RocksDBStateStoreProvider")) {
          val typed = eventsStream(spark, dir)
            .select(col("user_id"), col("value"), col("event_id"))
            .as[(Long, Double, Long)]
          val out = typed.groupByKey(_._1)
            .transformWithState(new TopKProcessor,
              org.apache.spark.sql.streaming.TimeMode.None(),
              org.apache.spark.sql.streaming.OutputMode.Update())
          runToMemory(spark, out.toDF(), "graft_stream_tws", "update")
            .groupBy(col("user_id"))
            .agg(max_by(struct(col("n_events"), col("v1"), col("e1"),
              col("v2"), col("e2"), col("v3"), col("e3")),
              col("n_events")).as("r"))
            .select(col("user_id"), col("r.n_events"),
              col("r.v1"), col("r.e1"), col("r.v2"), col("r.e2"),
              col("r.v3"), col("r.e3"))
            .orderBy(col("user_id"))
        }
      },
      Some("""WITH r AS (
  SELECT user_id, value, event_id,
    row_number() OVER (PARTITION BY user_id
                       ORDER BY value DESC, event_id DESC) AS rn
  FROM events),
c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id)
SELECT c.user_id, c.n_events,
  max(CASE WHEN rn = 1 THEN value END) AS v1,
  max(CASE WHEN rn = 1 THEN event_id END) AS e1,
  max(CASE WHEN rn = 2 THEN value END) AS v2,
  max(CASE WHEN rn = 2 THEN event_id END) AS e2,
  max(CASE WHEN rn = 3 THEN value END) AS v3,
  max(CASE WHEN rn = 3 THEN event_id END) AS e3
FROM c JOIN r ON r.user_id = c.user_id AND rn <= 3
GROUP BY c.user_id, c.n_events
ORDER BY c.user_id""")),

    // --- STATE TTL (transformWithState + per-state TTLConfig): the
    // bounded-state contract for always-on keyed pipelines — state
    // for keys idle past the TTL ages out BY ITSELF. The gate runs
    // the same processor over two stream RUNS sharing one checkpoint,
    // separated by an idle gap longer than the TTL: run 1 feeds every
    // user, run 2 (after the gap) feeds only even users. In run 2 the
    // TTL'd state reads ABSENT (n_ttl restarts at run-2's own rows —
    // expired state provably cannot leak into the recount) while the
    // non-TTL control state on the SAME keys still carries run 1's
    // history (n_total) — eviction and survival exhibited side by
    // side, both restated by the batch oracle. At 100 TB of churning
    // keys this is the difference between bounded state and an
    // unbounded RocksDB.
    QueryDef("q_stream_ttl",
      (spark, dir) => {
        import spark.implicits._
        val k = "spark.sql.streaming.stateStore.providerClass"
        val nd = "spark.sql.streaming.noDataMicroBatches.enabled"
        // processing-time TTL schedules NO-DATA batches to advance its
        // clock, so AvailableNow would never drain — disable them; the
        // eviction contract this query gates lives in the state
        // GETTER (expired reads absent), not in background cleanup
        withConf(spark, k -> ("org.apache.spark.sql.execution.streaming." +
            "state.RocksDBStateStoreProvider"), nd -> "false") {
          val stage = QueryDef.freshTable(spark, dir, "stream_ttl-stage")
          val ckpt = QueryDef.freshTable(spark, dir, "stream_ttl-ckpt")
          val out1 = QueryDef.freshTable(spark, dir, "stream_ttl-out1")
          val out2 = QueryDef.freshTable(spark, dir, "stream_ttl-out2")
          val src = Tables.events(spark, dir)
            .select(col("user_id"), col("event_id"), col("value"))
          src.coalesce(1).write.mode("append").parquet(stage)
          def runOnce(outDir: String): Unit = {
            val typed = spark.readStream
              .schema("user_id BIGINT, event_id BIGINT, value DOUBLE")
              .parquet(stage)
              .as[(Long, Long, Double)]
            val q = typed.groupByKey(_._1)
              .transformWithState(new TtlCountProcessor,
                org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
                org.apache.spark.sql.streaming.OutputMode.Update())
              .toDF()
              .writeStream
              .outputMode("update")
              .option("checkpointLocation", ckpt)
              .trigger(Trigger.AvailableNow())
              .foreachBatch { (b: DataFrame, _: Long) =>
                b.write.mode("append").parquet(outDir); ()
              }
              .start()
            q.awaitTermination()
          }
          runOnce(out1)
          // the idle gap: strictly longer than the 200 ms TTL (3x —
          // the margin absorbs GC/scheduler noise; a slower machine
          // only LENGTHENS the gap, which helps), so every key's
          // `fresh` state is expired when run 2 reads it
          Thread.sleep(600)
          src.filter(col("user_id") % 2 === 0)
            .coalesce(1).write.mode("append").parquet(stage)
          runOnce(out2)
          // THE STATE STORE ITSELF, read as a table (the
          // q_state_reader machinery, per state variable): after run
          // 2's batch the TTL'd variable holds ONLY the keys run 2
          // touched — every key idle past the TTL is ABSENT from the
          // read (TTL cleanup removes expired values at batch end) —
          // while the non-TTL control still lists every key ever seen
          def stateKeys(varName: String): Set[Long] =
            spark.read.format("statestore")
              .option("path", ckpt).option("stateVarName", varName)
              .load().select(col("key.value").cast("long"))
              .collect().map(_.getLong(0)).toSet
          val (freshKeys, totalKeys) = (stateKeys("fresh"), stateKeys("total"))
          // run 2's emissions alone: TTL'd count restarted, control
          // count carried (update-mode may emit per batch — keep the
          // per-key maximum, the final state)
          val run2 = spark.read.parquet(out2)
            .groupBy(col("user_id"))
            .agg(max(col("n_ttl")).as("n_ttl"),
              max(col("n_total")).as("n_total"))
          // EVICTION is gated on run 2's own emissions, not on a
          // post-hoc statestore read: a restarted `fresh` count means
          // n_ttl (run 2's rows alone) is exactly half of n_total
          // (both runs) for every even key. This is wall-clock-safe —
          // the restart was decided by the TTL getter INSIDE run 2's
          // batch, so nothing that happens after the batch (slow
          // statestore read, end-of-batch cleanup timing) can flip
          // it. The statestore read adds the one-sided assertions
          // that cannot race: idle (odd) keys are ABSENT from the
          // TTL'd variable while the non-TTL control retains all.
          val restartObserved =
            run2.filter(col("n_ttl") * 2 =!= col("n_total")).isEmpty
          val idleEvicted = restartObserved && freshKeys.forall(_ % 2 == 0)
          val controlRetained = totalKeys.exists(_ % 2 == 1) &&
            freshKeys.subsetOf(totalKeys)
          run2
            .withColumn("idle_evicted", lit(idleEvicted))
            .withColumn("control_retained", lit(controlRetained))
            .orderBy(col("user_id"))
        }
      },
      Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS n_ttl,
  CAST(2 * count(*) AS BIGINT) AS n_total,
  true AS idle_evicted, true AS control_retained
FROM events WHERE user_id % 2 = 0
GROUP BY user_id ORDER BY user_id""")),

    // --- STATE STORE AS A TABLE (Spark 4's `statestore` batch data
    // source): the running state of a live streaming aggregation read
    // back as a relation — key struct, value struct, partition id —
    // without stopping or instrumenting the stream. THE debugging and
    // ops surface for stateful pipelines ("which keys are hot", "is
    // state growing", "what does key X hold right now"); at 100 TB of
    // accumulated state this is a distributed scan of the checkpoint,
    // never a driver dump. The gate runs a per-key streaming count to
    // a pinned checkpoint, then restates the per-key counts FROM THE
    // STATE ITSELF against the batch oracle — proving state contents,
    // not just sink output, are exactly right.
    QueryDef("q_state_reader",
      (spark, dir) => {
        val ckpt = QueryDef.freshTable(spark, dir, "state_reader-ckpt")
        val agg = eventsStream(spark, dir)
          .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        val q = agg.writeStream.format("memory")
          .queryName("graft_state_reader")
          .outputMode("complete").option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        q.stop()
        spark.read.format("statestore").option("path", ckpt).load()
          .select(col("key.user_id").as("user_id"),
            col("value.count").as("n"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY user_id ORDER BY user_id""")),

    // --- Stream-static dimension enrichment: the stateless join every
    // streaming pipeline runs first — events stream ⋈ broadcast static
    // customer dim. Stream-static inner joins keep NO state store at
    // all (the static side is re-planned per micro-batch; broadcast
    // keeps it off the shuffle), so this scales with the stream rate
    // alone. The enrichment itself is what streams to the sink
    // (append mode, stateless); the rollup below the sink is batch,
    // exactly how a downstream reader would consume the enriched
    // feed. Oracle = the batch join+agg.
    QueryDef("q_stream_static_join",
      (spark, dir) => {
        val dim = Tables.customer(spark, dir)
          .select(col("c_custkey"), col("c_mktsegment"))
        val joined = eventsStream(spark, dir)
          .select(col("event_id"), col("user_id"), col("value"))
          .join(broadcast(dim), col("user_id") === col("c_custkey"))
          .select(col("event_id"), col("c_mktsegment"), col("value"))
        runToMemory(spark, joined, "graft_stream_static", "append")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_events"),
            Exact.decSum(col("value"), 6).as("sum_value"))
          .orderBy(col("c_mktsegment"))
      },
      Some(s"""SELECT c_mktsegment, count(*) AS n_events,
  ${Exact.decSumSql("value", 6)} AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // --- Tumbling event-time window + watermark, APPEND mode: only
    // watermark-finalized windows emit (window end <= max event time
    // − 10 min), then their state is evicted. Complete mode would
    // retain every window ever and re-emit the full result each
    // trigger — unbounded state at 100 TB; append + eviction keeps
    // state O(active windows × groups). The oracle states the same
    // cutoff explicitly in the µs domain.
    QueryDef("q_stream_tumbling",
      (spark, dir) => {
        val agg = eventsStream(spark, dir)
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), Exact.decSum(col("value"), 2).as("sum_value"))
          .select(unix_micros(col("window.start")).as("window_start_us"),
            unix_micros(col("window.end")).as("window_end_us"),
            col("event_type"), col("n"), col("sum_value"))
        runToMemory(spark, agg, "graft_stream_tumbling", "append")
          .orderBy(col("window_start_us"), col("event_type"))
      },
      Some(s"""SELECT * FROM (
  SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
    epoch_us(date_trunc('hour', ts) + INTERVAL 1 HOUR) AS window_end_us,
    event_type, count(*) AS n, ${Exact.decSumSql("value", 2)} AS sum_value
  FROM events
  GROUP BY 1, 2, 3)
WHERE window_end_us <= (SELECT max(epoch_us(ts)) FROM events) - 600000000
ORDER BY window_start_us, event_type""")),

    // --- Sliding event-time window (1 h window, 30 min slide): each
    // event lands in exactly window/slide = 2 windows. The oracle
    // states the same assignment arithmetic explicitly (floor to the
    // slide boundary, plus the preceding boundary) in the µs domain.
    // APPEND mode, like tumbling: only watermark-finalized windows
    // emit, state evicted after emission. State scales as O(active
    // windows × groups), partitioned by group key — slide count
    // multiplies state, not shuffle volume.
    QueryDef("q_stream_sliding",
      (spark, dir) => {
        val agg = eventsStream(spark, dir)
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
          .agg(count(lit(1)).as("n"), Exact.decSum(col("value"), 2).as("sum_value"))
          .select(unix_micros(col("window.start")).as("window_start_us"),
            unix_micros(col("window.end")).as("window_end_us"),
            col("event_type"), col("n"), col("sum_value"))
        runToMemory(spark, agg, "graft_stream_sliding", "append")
          .orderBy(col("window_start_us"), col("event_type"))
      },
      Some(s"""WITH e AS (
  SELECT epoch_us(ts) AS ts_us, event_type, value FROM events),
w AS (
  SELECT ts_us - (ts_us % 1800000000) AS window_start_us, event_type, value
  FROM e
  UNION ALL
  SELECT ts_us - (ts_us % 1800000000) - 1800000000, event_type, value
  FROM e)
SELECT * FROM (
  SELECT window_start_us, window_start_us + 3600000000 AS window_end_us,
    event_type, count(*) AS n, ${Exact.decSumSql("value", 2)} AS sum_value
  FROM w GROUP BY 1, 2, 3)
WHERE window_end_us <= (SELECT max(epoch_us(ts)) FROM events) - 600000000
ORDER BY window_start_us, event_type""")),

    // --- Session window (30-minute gap) per station, append mode:
    // only watermark-finalized sessions emit, exactly the sessions
    // whose end precedes (global max event time − 10 min) — the
    // oracle states that cutoff explicitly over a gaps-and-islands
    // rendition, all in the µs domain the stream computes in.
    QueryDef("q_stream_session",
      (spark, dir) => {
        val agg = eventsStream(spark, dir)
          .withWatermark("ts", "10 minutes")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n"), Exact.decSum(col("value"), 2).as("sum_value"))
          .select(col("user_id"),
            unix_micros(col("session_window.start")).as("session_start_us"),
            unix_micros(col("session_window.end")).as("session_end_us"),
            col("n"), col("sum_value"))
        runToMemory(spark, agg, "graft_stream_session", "append")
          .orderBy(col("user_id"), col("session_start_us"))
      },
      Some(s"""WITH o AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
         THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
s AS (
  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
    ROWS UNBOUNDED PRECEDING) AS sid
  FROM o)
SELECT user_id, min(ts_us) AS session_start_us,
  max(ts_us) + 1800000000 AS session_end_us,
  count(*) AS n, ${Exact.decSumSql("value", 2)} AS sum_value
FROM s
GROUP BY user_id, sid
HAVING max(ts_us) + 1800000000
  <= (SELECT max(epoch_us(ts)) FROM events) - 600000000
ORDER BY user_id, session_start_us""")),

    // --- Stateful streaming dedup within the watermark: distinct
    // (user_id, event_type) pairs; output is the key set, so which
    // physical row won is irrelevant (deterministic under any batch
    // split / partition order).
    QueryDef("q_stream_dedup",
      (spark, dir) => {
        // r21 audit: dedup emission is match-driven, so the trailing
        // no-data batch is skippable like q_stream_join's — measured
        // (noDataMicroBatches=false): 1.04 → 1.04/1.01 s, flat; the
        // eviction batch here is one cheap 8-task stage. Left on.
        val dedup = eventsStream(spark, dir)
          .withWatermark("ts", "10 minutes")
          .select(col("user_id"), col("event_type"), col("ts"))
          .dropDuplicatesWithinWatermark("user_id", "event_type")
          .select(col("user_id"), col("event_type"))
        runToMemory(spark, dedup, "graft_stream_dedup", "append")
          .orderBy(col("user_id"), col("event_type"))
      },
      Some("""SELECT DISTINCT user_id, event_type FROM events
ORDER BY user_id, event_type""")),

    // --- Stream-stream inner join: purchases joined to same-user
    // clicks in the preceding hour, both sides watermarked (the
    // watermark bounds join STATE; inner-join emission is
    // match-driven, so the single-batch AvailableNow result equals
    // the batch join — which is exactly what the oracle states).
    // Time arithmetic stays in the µs domain on both engines.
    QueryDef("q_stream_join",
      (spark, dir) => {
        // INNER stream-stream join emission is match-driven: every
        // output row is produced by the data batch that delivered the
        // matching side. The trailing no-data batch only evicts
        // watermark-expired join state (8 partitions × 4 state stores
        // of pure commit machinery, ~0.8 s/run measured per stage) and
        // cannot emit — so it is skipped. The OUTER join below keeps
        // it: null-extended rows emit exactly on eviction there.
        // Child session — the conf cannot leak to other queries.
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
          "false")
        val purchases = eventsStream(spark, dir)
          .filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
            col("event_id").as("p_id"))
          .withWatermark("p_ts", "10 minutes")
        val clicks = eventsStream(spark, dir)
          .filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
            col("event_id").as("c_id"))
          .withWatermark("c_ts", "10 minutes")
        val joined = purchases.join(clicks,
          col("p_user") === col("c_user") &&
            col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
            col("c_ts") <= col("p_ts"))
          .select(col("p_user").as("user_id"), col("p_id"), col("c_id"),
            unix_micros(col("p_ts")).as("p_ts_us"),
            unix_micros(col("c_ts")).as("c_ts_us"))
        runToMemory(spark, joined, "graft_stream_join", "append")
          .orderBy(col("user_id"), col("p_id"), col("c_id"))
      },
      Some("""SELECT p.user_id, p.event_id AS p_id, c.event_id AS c_id,
  epoch_us(p.ts) AS p_ts_us, epoch_us(c.ts) AS c_ts_us
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
 AND epoch_us(c.ts) <= epoch_us(p.ts)
ORDER BY p.user_id, p_id, c_id""")),

    // --- Stream-stream LEFT OUTER join: purchases with their
    // preceding-hour clicks OR an explicit no-click row — the
    // "did marketing touch this conversion" shape. Unlike the inner
    // join above, null-extended rows can only emit when the
    // WATERMARK proves no future click can match (state eviction),
    // so the contract is scoped to the CLOSED region: purchases
    // older than the final joint watermark (min of both sides' max
    // ts − 10 min, − 1 s so the eviction boundary's own semantics
    // never decide a row). Inside that region the streamed result
    // equals the batch left join, which is what the oracle states —
    // the cutoff is derived from the DATA on both engines, not
    // passed in. Eviction is the mechanism that BOUNDS join state at
    // 100 TB/day rates; this query gates that the bound loses
    // nothing in the closed region.
    QueryDef("q_stream_outer_join",
      (spark, dir) => {
        val purchases = eventsStream(spark, dir)
          .filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
            col("event_id").as("p_id"))
          .withWatermark("p_ts", "10 minutes")
        val clicks = eventsStream(spark, dir)
          .filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
            col("event_id").as("c_id"))
          .withWatermark("c_ts", "10 minutes")
        val joined = purchases.join(clicks,
          col("p_user") === col("c_user") &&
            col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
            col("c_ts") <= col("p_ts"), "left_outer")
          .select(col("p_user").as("user_id"), col("p_id"), col("c_id"),
            unix_micros(col("p_ts")).as("p_ts_us"),
            unix_micros(col("c_ts")).as("c_ts_us"))
        val sink = runToMemory(spark, joined, "graft_stream_outer_join",
          "append")
        // closed-region cutoff, derived from the same data batch-side
        val ev = Tables.events(spark, dir)
        val cutoff = ev.agg(
          (least(
            max(when(col("event_type") === "purchase", unix_micros(col("ts")))),
            max(when(col("event_type") === "click", unix_micros(col("ts")))))
            - lit(600000000L) - lit(1000000L)).as("cutoff_us"))
        sink.crossJoin(broadcast(cutoff))
          .filter(col("p_ts_us") < col("cutoff_us"))
          .select(col("user_id"), col("p_id"), col("c_id"),
            col("p_ts_us"), col("c_ts_us"))
          .orderBy(col("user_id"), col("p_id"), col("c_id").asc_nulls_first)
      },
      Some("""WITH p AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
c AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
cut AS (
  SELECT least((SELECT max(epoch_us(ts)) FROM p),
               (SELECT max(epoch_us(ts)) FROM c))
         - 600000000 - 1000000 AS cutoff_us)
SELECT p.user_id, p.event_id AS p_id, c.event_id AS c_id,
  epoch_us(p.ts) AS p_ts_us, epoch_us(c.ts) AS c_ts_us
FROM p LEFT JOIN c
  ON p.user_id = c.user_id
 AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
 AND epoch_us(c.ts) <= epoch_us(p.ts)
WHERE epoch_us(p.ts) < (SELECT cutoff_us FROM cut)
ORDER BY p.user_id, p_id, c_id NULLS FIRST""")),

    // --- foreachBatch keyed upsert sink (K2, the DynamoDB
    // update_item analog): per micro-batch, merge the batch into a
    // keyed parquet target with latest-wins max_by, then read the
    // final table. Last-write-wins ordering is (ts, event_id) —
    // explicit, so any merge order converges.
    QueryDef("q_stream_upsert",
      (spark, dir) => {
        val target = QueryDef.freshTable(spark, dir, "stream_upsert-state")
        val targetPath = new org.apache.hadoop.fs.Path(target)
        val fs = targetPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val latest = (df: DataFrame) => df
          .groupBy(col("user_id"))
          .agg(max_by(struct(col("ts"), col("event_id"), col("value")),
            struct(col("ts"), col("event_id"))).as("r"))
          .select(col("user_id"), col("r.ts").as("ts"),
            col("r.event_id").as("event_id"), col("r.value").as("value"))
        val q = eventsStream(spark, dir).writeStream
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation",
            QueryDef.freshTable(spark, dir, "stream_upsert-ckpt"))
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val spark0 = batch.sparkSession
            val proj = batch.select(col("user_id"), col("ts"),
              col("event_id"), col("value"))
            val existing =
              if (fs.exists(targetPath))
                spark0.read.parquet(target)
              else proj.limit(0)
            val merged = latest(existing.unionByName(proj)).cache()
            merged.count()  // materialize before overwriting the source
            merged.write.mode("overwrite").parquet(target)
            merged.unpersist()
            ()
          }
          .start()
        q.awaitTermination()
        spark.read.parquet(target)
          .select(col("user_id"), unix_micros(col("ts")).as("last_ts_us"),
            col("event_id").as("last_event_id"), col("value").as("last_value"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, last_ts_us, last_event_id, last_value FROM (
  SELECT user_id, epoch_us(ts) AS last_ts_us, event_id AS last_event_id,
    value AS last_value,
    row_number() OVER (PARTITION BY user_id
                       ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
  FROM events) WHERE rn = 1 ORDER BY user_id""")),

    // --- Transactional micro-batch sink: each foreachBatch commits
    // through a ManifestSource path write into its OWN batch-<id>
    // directory with overwrite — so a replayed micro-batch (the at-least-once
    // delivery every restart implies) idempotently rewrites its own
    // commit instead of duplicating rows: exactly-once table
    // semantics from at-least-once delivery + idempotent keyed
    // commits, which is precisely how production streaming writers
    // (Delta/Iceberg sinks) get their guarantee. The query returns
    // the all-batch manifest rollup; the oracle pins it to the batch
    // table's count/min/max REGARDLESS of how the file source split
    // the stream into micro-batches.
    QueryDef("q_stream_sink_manifest",
      (spark, dir) => {
        val target = Files.createTempDirectory("graft-stream-sink-").toString
        val ckpt = Files.createTempDirectory("graft-ssink-ckpt-").toString
        // the result is a local relation, so both dirs go before return
        try {
          val q = eventsStream(spark, dir).writeStream
            .outputMode("append")
            .trigger(Trigger.AvailableNow())
            .option("checkpointLocation", ckpt)
            .foreachBatch { (batch: DataFrame, batchId: Long) =>
              batch.select(col("event_id"), col("event_type"), col("value"))
                .write.format("graft.sources.ManifestSource")
                .option("path", s"$target/batch-$batchId")
                .mode("overwrite")
                .save()
              ()
            }
            .start()
          q.awaitTermination()
          val conf = spark.sparkContext.hadoopConfiguration
          val parts = new java.io.File(target).listFiles()
            .filter(_.getName.startsWith("batch-")).toSeq
            .flatMap(b => graft.sources.ManifestLog(conf, b.toString).snapshot()
              .partRanges)
          val nonEmpty = parts.filter(_._2 > 0)
          import spark.implicits._
          Seq((parts.map(_._2).sum,
            nonEmpty.map(_._3).min, nonEmpty.map(_._4).max))
            .toDF("total_rows", "key_min", "key_max")
        } finally Seq(target, ckpt).foreach(d =>
          org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(d)))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS total_rows,
  min(event_id) AS key_min, max(event_id) AS key_max
FROM events""")),

    // --- RESTART LATENESS AUDIT over the real feed: every other
    // stream query here processes one AvailableNow run from a cold
    // start, so the watermark never precedes any data and nothing is
    // ever late. This one replays the feed as two RUNS over one
    // persistent checkpoint, split on a TIME boundary (exactly how a
    // production backfill shards): run 1 streams the last 15 days of
    // the 30-day feed and persists watermark = (global max ts −
    // 10 min); run 2 then delivers everything OLDER — stragglers far
    // behind the recovered watermark, the restart scenario the
    // checkpoint exists for. Consequences, all stated by the oracle:
    // run 2's rows for already-finalized windows are DROPPED
    // (StreamingSpec pins the exact numRowsDroppedByWatermark count),
    // so the sink holds exactly "run 1's windows closed under the
    // final watermark" — a broken late-drop would leak run-2 rows
    // into closed windows and hash-mismatch. The split boundary is
    // derived distributively (broadcast scalar max); the staged
    // files, checkpoint, and sink are keyed by the feed fingerprint
    // (count + max ts), so a regenerated feed restages instead of
    // serving stale state, and re-invocations are idempotent reads of
    // the committed sink.
    QueryDef("q_stream_late_audit",
      (spark, dir) => {
        if (!spark.conf.getOption(Tables.NanosConf).contains("true"))
          spark.conf.set(Tables.NanosConf, "true")
        val raw = spark.read.schema(Tables.eventsStorageSchema)
          .parquet(s"$dir/events.parquet")
        val fp = raw.agg(count(lit(1)), max(unix_micros(col("ts")))).head
        // v2: the logic version participates in the key — a stage
        // committed by an earlier code revision (e.g. the pre-µs-drift
        // reader, which computed the same count/max fingerprint from
        // the same physical int64 values but mis-windowed every row)
        // must not be served as this revision's result.
        val key = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$dir#late#v2#${fp.getLong(0)}#${fp.getLong(1)}"
            .getBytes("UTF-8")).map("%02x".format(_)).mkString
        val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
        val stage = java.nio.file.Paths.get(wh, "graft-late", key)
        // the boundary is max(ts) − 15 days, computed distributively
        val bounded = raw.crossJoin(broadcast(raw.agg(max(col("ts"))
          .as("mx"))))
          .withColumn("cut", col("mx") - expr("INTERVAL 15 DAYS"))
        def stageOne(df: DataFrame, name: String): Unit = {
          val tmp = QueryDef.freshDir(spark, dir, "stream_late_audit-part")
          df.coalesce(1).write.mode("overwrite").parquet(tmp)
          val part = new java.io.File(tmp).listFiles()
            .map(_.toString).filter(_.endsWith(".parquet")).head
          Files.createDirectories(stage)
          Files.move(java.nio.file.Paths.get(part), stage.resolve(name),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
        def runOnce(): Unit = {
          val agg = Tables.eventsFromStorage(
            spark.readStream.schema(Tables.eventsStorageSchema)
              .parquet(stage.resolve("feed").toString))
            .withWatermark("ts", "10 minutes")
            .groupBy(window(col("ts"), "1 hour"), col("event_type"))
            .agg(count(lit(1)).as("n"),
              Exact.decSum(col("value"), 2).as("sum_value"))
            .select(unix_micros(col("window.start")).as("window_start_us"),
              col("event_type"), col("n"), col("sum_value"))
          val q = agg.writeStream.format("parquet")
            .option("path", stage.resolve("sink").toString)
            .option("checkpointLocation", stage.resolve("ckpt").toString)
            .outputMode("append")
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        val storageCols = Tables.eventsStorageSchema.fieldNames.map(col)
        // Poisoned-stage invalidation: the feed is never empty, so a
        // committed sink with zero rows can only be a crashed (or
        // semantically broken) predecessor under the same key — wipe
        // the stage and replay rather than serving it forever.
        if (Files.exists(stage.resolve("sink"))) {
          // NonFatal only: a broken/corrupt sink reads as poisoned,
          // but OOM/interrupts must propagate — wiping and replaying
          // on a fatal error would misdiagnose the machine's state
          // as a bad sink
          val ok =
            try spark.read.parquet(stage.resolve("sink").toString)
              .limit(1).count() > 0
            catch { case scala.util.control.NonFatal(_) => false }
          if (!ok) {
            import scala.jdk.CollectionConverters._
            val walk = Files.walk(stage)
            val paths =
              try walk.iterator().asScala.toSeq finally walk.close()
            paths.reverse.foreach(p => Files.deleteIfExists(p))
          }
        }
        Files.createDirectories(stage.resolve("feed"))
        stageOne(bounded.filter(col("ts") > col("cut"))
          .select(storageCols: _*), "feed/recent.parquet")
        runOnce() // persists watermark = max ts − 10 min
        stageOne(bounded.filter(col("ts") <= col("cut"))
          .select(storageCols: _*), "feed/straggler.parquet")
        runOnce() // recovers the watermark; stragglers are late
        spark.read.parquet(stage.resolve("sink").toString)
          .orderBy(col("window_start_us"), col("event_type"))
      },
      Some(s"""WITH b1 AS (
  SELECT * FROM events
  WHERE ts > (SELECT max(ts) FROM events) - INTERVAL 15 DAY)
SELECT * FROM (
  SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
    event_type, count(*) AS n, ${Exact.decSumSql("value", 2)} AS sum_value
  FROM b1 GROUP BY 1, 2)
WHERE window_start_us + 3600000000
  <= (SELECT max(epoch_us(ts)) FROM b1) - 600000000
ORDER BY window_start_us, event_type""")),

    // --- STREAMING MERGE-ON-READ UPSERT: the K2 keyed upsert as the
    // statement a lakehouse actually runs it with — each micro-batch
    // MERGEs into a catalog table under `graft.delete.mode=mor`, so
    // per batch the superseded row images become deletion-vector bits
    // (executor-written sidecars) and the new images append: no part
    // rewrites, ever, across the whole stream. The feed is staged as
    // THREE files and consumed with maxFilesPerTrigger=1, so three
    // separate MERGE commits land and their vectors accumulate — the
    // newest-wins condition on the total order (ts_us, event_id)
    // makes the final state independent of how the source split or
    // ordered the batches. This is q_stream_upsert's exact semantics
    // at the Iceberg-v2/Delta cost shape: per batch O(batch + matched
    // metadata), never O(table) — the difference between a streaming
    // upsert that rewrites the target every trigger and one that
    // commits deltas.
    QueryDef("q_stream_merge_mor",
      (spark, dir) => {
        val wh = QueryDef.freshTable(spark, dir, "stream_merge_mor-wh")
        val stageDir = s"$wh/stage"
        spark.conf.set("spark.sql.catalog.graftsmm",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftsmm.warehouse", wh)
        spark.sql(
          """CREATE TABLE graftsmm.wh.latest
             (user_id BIGINT, ts_us BIGINT, event_id BIGINT, value DOUBLE)""")
        // stage the feed as 3 files -> 3 micro-batches -> 3 MERGEs
        Tables.events(spark, dir)
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
            col("event_id"), col("value"))
          .repartition(3, pmod(col("event_id"), lit(3)))
          .write.mode("overwrite").parquet(stageDir)
        val q = spark.readStream
          .schema("user_id BIGINT, ts_us BIGINT, event_id BIGINT, value DOUBLE")
          .option("maxFilesPerTrigger", "1")
          .parquet(stageDir)
          .writeStream
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation",
            QueryDef.freshTable(spark, dir, "stream_merge_mor-ckpt"))
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val s0 = batch.sparkSession
            // dedupe the batch to its own latest-per-key first (MERGE
            // requires a unique source key), then newest-wins merge
            batch.groupBy(col("user_id"))
              .agg(max_by(
                struct(col("ts_us"), col("event_id"), col("value")),
                struct(col("ts_us"), col("event_id"))).as("r"))
              .select(col("user_id"), col("r.ts_us").as("ts_us"),
                col("r.event_id").as("event_id"), col("r.value").as("value"))
              .createOrReplaceTempView("graft_smm_src")
            withConf(s0, "graft.delete.mode" -> "mor") {
              s0.sql("""MERGE INTO graftsmm.wh.latest t
                USING graft_smm_src s ON t.user_id = s.user_id
                WHEN MATCHED AND (s.ts_us > t.ts_us OR
                  (s.ts_us = t.ts_us AND s.event_id > t.event_id))
                  THEN UPDATE SET *
                WHEN NOT MATCHED THEN INSERT *""")
            }
            ()
          }
          .start()
        q.awaitTermination()
        spark.table("graftsmm.wh.latest")
          .select(col("user_id"), col("ts_us").as("last_ts_us"),
            col("event_id").as("last_event_id"),
            col("value").as("last_value"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, last_ts_us, last_event_id, last_value FROM (
  SELECT user_id, epoch_us(ts) AS last_ts_us, event_id AS last_event_id,
    value AS last_value,
    row_number() OVER (PARTITION BY user_id
                       ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
  FROM events) WHERE rn = 1 ORDER BY user_id""")),
  )
}
