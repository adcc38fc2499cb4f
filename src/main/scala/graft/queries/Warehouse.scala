package graft.queries

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Exact
import graft.model.Tables
import graft.sources.ManifestMaintenance
import graft.util.Pin.PinOps
import graft.util.SessionConf.withConf

/** Snapshot-history table operations over the manifest format — the
  * Iceberg/Delta-shaped warehouse surface assembled from the engine's
  * own sink/source: time travel, MERGE upsert, append with additive
  * schema evolution, and VACUUM. Each query builds its fixture table
  * through the REAL commit protocol (versioned manifests, token-named
  * immutable part files), reads results back through the DSv2 source,
  * and is gated by a DuckDB oracle that restates the version contents
  * analytically over the raw `events` table — so what's verified is
  * the whole write→snapshot→read loop, not a simulation of it.
  *
  * Scale notes: a snapshot commit writes one small JSON manifest —
  * time travel never copies data; append carries the head's part LIST
  * forward (O(new data), not O(table)); MERGE is one co-partitioned
  * full-outer shuffle on the key; VACUUM decides from manifests alone
  * (KBs of metadata at any table size).
  */
object Warehouse {
  import QueryDef.freshTable

  private def writeHistory(df: DataFrame, path: String, mode: String,
      parts: Int = 4): Unit =
    df.repartition(parts)
      .write.format("graft.sources.ManifestSource")
      .option("path", path).mode(mode).save()

  private def readVersion(spark: SparkSession, path: String,
      version: Option[Int]): DataFrame = {
    val r = spark.read.format("graft.sources.ManifestSource").option("path", path)
    version.fold(r)(v => r.option("version", v.toString)).load()
  }

  val all: Seq[QueryDef] = Seq(

    // --- TIME TRAVEL: two history commits to one table (overwrite =
    // logical truncate), then the superseded snapshot and the head are
    // read back SIDE BY SIDE — the audit/repro/backfill primitive every
    // snapshot-log table format exists for. The oracle restates both
    // versions analytically; matching proves v1 survived v2's commit
    // bit-for-bit.
    QueryDef("q_time_travel",
      (spark, dir) => {
        val t = freshTable(spark, dir, "tt")
        val base = Tables.events(spark, dir).select(col("event_id"), col("value"))
        writeHistory(base.filter(col("event_id") % 3 === 0), t, "overwrite")
        writeHistory(base.filter(col("event_id") % 4 === 0)
          .select(col("event_id"), (col("value") * 2).as("value")),
          t, "overwrite")
        val v1 = readVersion(spark, t, Some(1))
          .agg(count(lit(1)).as("n_v1"), Exact.decSum(col("value"), 2).as("sum_v1"))
        val head = readVersion(spark, t, None)
          .agg(count(lit(1)).as("n_head"), Exact.decSum(col("value"), 2).as("sum_head"))
        v1.crossJoin(head)
      },
      Some(s"""WITH v1 AS (
  SELECT event_id, value FROM events WHERE event_id % 3 = 0),
v2 AS (
  SELECT event_id, value * 2 AS value FROM events WHERE event_id % 4 = 0)
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM v1) AS n_v1,
  (SELECT ${Exact.decSumSql("value", 2)} FROM v1) AS sum_v1,
  (SELECT CAST(count(*) AS BIGINT) FROM v2) AS n_head,
  (SELECT ${Exact.decSumSql("value", 2)} FROM v2) AS sum_head""")),

    // --- MERGE INTO (upsert with three clauses): target = committed
    // snapshot, source = an update feed; WHEN MATCHED AND key%12=0 →
    // DELETE, WHEN MATCHED → UPDATE to the source value, WHEN NOT
    // MATCHED → INSERT. One co-partitioned full-outer shuffle on the
    // key does all three in a single pass (row presence encodes the
    // clause — `value` is non-null in the data, so side-nullness is
    // purely join-shape); the merged state commits as snapshot v2 and
    // the rollup is read BACK from the table, so the gate covers the
    // whole merge→commit→scan loop. Clause counts ride the same joined
    // frame. At 100 TB both sides hash-partition on the key; nothing
    // is ever collected or broadcast-materialized on the driver.
    QueryDef("q_merge_upsert",
      (spark, dir) => {
        val t = freshTable(spark, dir, "merge")
        val base = Tables.events(spark, dir).select(col("event_id"), col("value"))
        writeHistory(base.filter(col("event_id") % 3 === 0), t, "overwrite")
        // target PINNED to snapshot v1, not the head: DataFrames are
        // lazy, and the clause rollup below is evaluated after the
        // merged state commits as v2 — an unpinned head read would
        // silently merge against the merge's own output. Snapshot
        // pinning is exactly what version reads are for.
        val target = readVersion(spark, t, Some(1))
          .select(col("event_id"), col("value").as("tv"))
        val source = base.filter(col("event_id") % 2 === 0)
          .select(col("event_id"), (col("value") + 100).as("sv"))
        val j = target.join(source, Seq("event_id"), "full_outer")
        val matched = col("tv").isNotNull && col("sv").isNotNull
        val del = matched && col("event_id") % 12 === 0
        val clauses = j.agg(
          sum(when(del, 1L).otherwise(0L)).as("n_deleted"),
          sum(when(matched && !(col("event_id") % 12 === 0), 1L).otherwise(0L))
            .as("n_updated"),
          sum(when(col("tv").isNull, 1L).otherwise(0L)).as("n_inserted"))
        writeHistory(
          j.filter(!del).select(col("event_id"),
            coalesce(col("sv"), col("tv")).as("value")),
          t, "overwrite")
        val after = readVersion(spark, t, None)
          .agg(count(lit(1)).as("n_after"),
            Exact.decSum(col("value"), 2).as("sum_after"))
        clauses.crossJoin(after)
      },
      Some(s"""WITH t AS (
  SELECT event_id, value AS tv FROM events WHERE event_id % 3 = 0),
s AS (
  SELECT event_id, value + 100 AS sv FROM events WHERE event_id % 2 = 0),
j AS (
  SELECT coalesce(t.event_id, s.event_id) AS event_id, tv, sv
  FROM t FULL OUTER JOIN s ON t.event_id = s.event_id),
m AS (
  SELECT event_id, coalesce(sv, tv) AS value FROM j
  WHERE NOT (tv IS NOT NULL AND sv IS NOT NULL AND event_id % 12 = 0))
SELECT
  (SELECT CAST(sum(CASE WHEN tv IS NOT NULL AND sv IS NOT NULL
      AND event_id % 12 = 0 THEN 1 ELSE 0 END) AS BIGINT) FROM j) AS n_deleted,
  (SELECT CAST(sum(CASE WHEN tv IS NOT NULL AND sv IS NOT NULL
      AND event_id % 12 <> 0 THEN 1 ELSE 0 END) AS BIGINT) FROM j) AS n_updated,
  (SELECT CAST(sum(CASE WHEN tv IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM j)
    AS n_inserted,
  (SELECT CAST(count(*) AS BIGINT) FROM m) AS n_after,
  (SELECT ${Exact.decSumSql("value", 2)} FROM m) AS sum_after""")),

    // --- APPEND + ADDITIVE SCHEMA EVOLUTION: v1 commits (event_id,
    // value); v2 APPENDS rows carrying a NEW trailing column without
    // rewriting v1's files — the head schema widens, and v1-era rows
    // read the new column as NULL (exactly Iceberg/Delta add-column
    // semantics: evolution is a metadata operation). The rollup splits
    // the head by column-presence so the oracle pins both the NULL
    // backfill and the appended values; n_v1 comes from a time-travel
    // read of the narrower v1 snapshot.
    QueryDef("q_append_evolve",
      (spark, dir) => {
        val t = freshTable(spark, dir, "evolve")
        val ev = Tables.events(spark, dir)
        writeHistory(ev.select(col("event_id"), col("value"))
          .filter(col("event_id") % 5 === 0), t, "overwrite")
        writeHistory(ev.select(col("event_id"), col("value"), col("event_type"))
          .filter(col("event_id") % 5 === 1), t, "append")
        val head = readVersion(spark, t, None)
        val v1n = readVersion(spark, t, Some(1)).agg(count(lit(1)).as("n_v1"))
        head.agg(
          count(lit(1)).as("n_head"),
          sum(when(col("event_type").isNull, 1L).otherwise(0L)).as("n_legacy"),
          count(col("event_type")).as("n_typed"),
          countDistinct(col("event_type")).as("n_types"),
          Exact.decSum(col("value"), 2).as("sum_value"))
          .crossJoin(v1n)
      },
      Some(s"""WITH v1 AS (
  SELECT event_id, value, NULL AS event_type FROM events WHERE event_id % 5 = 0),
add2 AS (
  SELECT event_id, value, event_type FROM events WHERE event_id % 5 = 1),
head AS (SELECT * FROM v1 UNION ALL SELECT * FROM add2)
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM head) AS n_head,
  (SELECT CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT)
     FROM head) AS n_legacy,
  (SELECT CAST(count(event_type) AS BIGINT) FROM head) AS n_typed,
  (SELECT CAST(count(DISTINCT event_type) AS BIGINT) FROM head) AS n_types,
  (SELECT ${Exact.decSumSql("value", 2)} FROM head) AS sum_value,
  (SELECT CAST(count(*) AS BIGINT) FROM v1) AS n_v1""")),

    // --- VACUUM / EXPIRE SNAPSHOTS: three history commits, then all
    // but the head are expired. Reference-counted reclamation — a part
    // file is deleted only when no retained manifest lists it — so the
    // deterministic count is exactly the two expired versions' 4 parts
    // each (repartition(4) fixes the layout); the head rollup read
    // AFTER vacuum must still match the oracle's analytic restatement
    // of commit 3, proving reclamation never touches live data.
    QueryDef("q_sink_vacuum",
      (spark, dir) => {
        val t = freshTable(spark, dir, "vacuum")
        val base = Tables.events(spark, dir).select(col("event_id"), col("value"))
        (0 to 2).foreach { m =>
          writeHistory(base.filter(col("event_id") % 7 === m), t, "overwrite")
        }
        // session conf end-to-end: the sink/source resolve filesystems
        // via sessionState.newHadoopConf(), so maintenance must too —
        // a table on a filesystem configured only through session SQL
        // confs would otherwise be unreachable by vacuum
        val stats = ManifestMaintenance.expireSnapshots(
          spark.sessionState.newHadoopConf(), t, keepLast = 1)
        readVersion(spark, t, None)
          .agg(count(lit(1)).as("n_head"),
            Exact.decSum(col("value"), 2).as("sum_head"))
          .select(
            lit(stats.versionsExpired).cast("long").as("versions_expired"),
            lit(stats.filesDeleted).cast("long").as("files_deleted"),
            lit(stats.versionsRetained).cast("long").as("versions_retained"),
            col("n_head"), col("sum_head"))
      },
      Some(s"""WITH head AS (
  SELECT event_id, value FROM events WHERE event_id % 7 = 2)
SELECT
  CAST(2 AS BIGINT) AS versions_expired,
  CAST(8 AS BIGINT) AS files_deleted,
  CAST(1 AS BIGINT) AS versions_retained,
  (SELECT CAST(count(*) AS BIGINT) FROM head) AS n_head,
  (SELECT ${Exact.decSumSql("value", 2)} FROM head) AS sum_head""")),

    // --- INCREMENTAL MATERIALIZED-VIEW MAINTENANCE: the payoff query
    // for snapshot history + CDC. A per-type (count, exact decimal
    // sum) rollup is materialized at snapshot v1; when v2 commits, the
    // CHANGELOG between the two versions (one full-outer key join —
    // the q_cdc_diff shape) is folded into ±delta rows and merged into
    // the stale rollup: O(|delta| + |groups|) work, never a rescan of
    // v2. The query emits the incremental result NEXT TO the direct
    // v2 rollup with an equality verdict per group — and because the
    // partials are DECIMAL (associative integer arithmetic, not
    // floats), incremental == direct holds bit-for-bit at any
    // partitioning, which is the entire reason incremental MV
    // maintenance is sound at 100 TB: float partials would drift from
    // the rescan answer and the MV could never be audited against its
    // own definition.
    QueryDef("q_mv_maintain",
      (spark, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val t = freshTable(spark, dir, "mv")
        val ev = Tables.events(spark, dir)
        val dec = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(30, 2))
        writeHistory(ev.filter(col("event_id") % 2 === 0)
          .select(col("event_id"), col("event_type"), col("value")), t, "overwrite")
        writeHistory(ev.filter(col("event_id") % 3 === 0)
          .select(col("event_id"), col("event_type"),
            when(col("event_id") % 5 === 0, col("value") + 1.0)
              .otherwise(col("value")).as("value")), t, "overwrite")
        val v1 = readVersion(spark, t, Some(1))
        val v2 = readVersion(spark, t, Some(2))
        val mv1 = v1.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n1"), sum(dec(col("value"))).as("s1"))
        val j = v1.select(col("event_id"), col("event_type").as("t1"),
            col("value").as("a"))
          .join(v2.select(col("event_id"), col("event_type").as("t2"),
            col("value").as("b")), Seq("event_id"), "full_outer")
        val delta = j.filter(col("b").isNull)
          .select(col("t1").as("event_type"), lit(-1L).as("dn"),
            (-dec(col("a"))).as("dv"))
          .unionAll(j.filter(col("a").isNull)
            .select(col("t2"), lit(1L), dec(col("b"))))
          .unionAll(j.filter(col("a").isNotNull && col("b").isNotNull &&
              col("a") =!= col("b"))
            .select(col("t2"), lit(0L), dec(col("b")) - dec(col("a"))))
        val dagg = delta.groupBy(col("event_type"))
          .agg(sum(col("dn")).as("dn"), sum(col("dv")).as("dv"))
        val inc = mv1.join(dagg, Seq("event_type"), "full_outer")
          .select(col("event_type"),
            (coalesce(col("n1"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_i"),
            (coalesce(col("s1"), dec(lit(0))) + coalesce(col("dv"), dec(lit(0))))
              .as("s_i"))
        val direct = v2.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_d"), sum(dec(col("value"))).as("s_d"))
        direct.join(inc, Seq("event_type"))
          .select(col("event_type"),
            col("n_d").as("n_direct"),
            col("s_d").cast("string").cast("double").as("sum_direct"),
            col("n_i").as("n_inc"),
            col("s_i").cast("string").cast("double").as("sum_inc"),
            (col("n_d") === col("n_i") && col("s_d") === col("s_i")).as("is_exact"))
          .orderBy(col("event_type"))
      },
      Some("""WITH v1 AS (
  SELECT event_id, event_type, value FROM events WHERE event_id % 2 = 0),
v2 AS (
  SELECT event_id, event_type,
    CASE WHEN event_id % 5 = 0 THEN value + 1.0 ELSE value END AS value
  FROM events WHERE event_id % 3 = 0),
mv1 AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n1,
    sum(CAST(value AS DECIMAL(30,2))) AS s1 FROM v1 GROUP BY 1),
j AS (
  SELECT v1.event_id AS i1, v2.event_id AS i2, v1.event_type AS t1,
    v2.event_type AS t2, v1.value AS a, v2.value AS b
  FROM v1 FULL OUTER JOIN v2 ON v1.event_id = v2.event_id),
delta AS (
  SELECT t1 AS event_type, CAST(-1 AS BIGINT) AS dn,
    -CAST(a AS DECIMAL(30,2)) AS dv FROM j WHERE i2 IS NULL
  UNION ALL
  SELECT t2, 1, CAST(b AS DECIMAL(30,2)) FROM j WHERE i1 IS NULL
  UNION ALL
  SELECT t2, 0, CAST(b AS DECIMAL(30,2)) - CAST(a AS DECIMAL(30,2))
  FROM j WHERE i1 IS NOT NULL AND i2 IS NOT NULL AND a <> b),
dagg AS (
  SELECT event_type, CAST(sum(dn) AS BIGINT) AS dn, sum(dv) AS dv
  FROM delta GROUP BY 1),
inc AS (
  SELECT coalesce(m.event_type, d.event_type) AS event_type,
    coalesce(m.n1, 0) + coalesce(d.dn, 0) AS n_i,
    coalesce(m.s1, 0) + coalesce(d.dv, 0) AS s_i
  FROM mv1 m FULL OUTER JOIN dagg d ON m.event_type = d.event_type),
direct AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_d,
    sum(CAST(value AS DECIMAL(30,2))) AS s_d FROM v2 GROUP BY 1)
SELECT d.event_type,
  d.n_d AS n_direct, CAST(CAST(d.s_d AS VARCHAR) AS DOUBLE) AS sum_direct,
  CAST(i.n_i AS BIGINT) AS n_inc, CAST(CAST(i.s_i AS VARCHAR) AS DOUBLE) AS sum_inc,
  (d.n_d = i.n_i AND d.s_d = i.s_i) AS is_exact
FROM direct d JOIN inc i ON i.event_type = d.event_type
ORDER BY d.event_type""")),

    // --- BLOOM-INDEXED POINT LOOKUP: the table is committed in a HASH
    // layout (8 parts, each spanning nearly the full key range), so
    // the manifest's (min, max) zone maps cannot prune a point probe
    // at all — the per-part bloom filter written at commit is what
    // turns `key IN (...)` into a ~1-part read instead of a full-table
    // scan. This is the data-skipping shape Iceberg/Delta serve with
    // bloom/dv side files; here the filter rides the manifest line
    // (see PartBloom for sizing + the exact fold law). The oracle
    // restates the probe over the raw events table: bloom pruning is
    // proof-of-absence only, so results are EXACTLY the unindexed
    // answer — which is what makes it gateable by a SQL oracle.
    QueryDef("q_manifest_bloom",
      (spark, dir) => {
        val t = freshTable(spark, dir, "bloom")
        Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"), col("value"))
          .repartition(8, col("event_id"))
          .write.format("graft.sources.ManifestSource")
          .option("path", t).mode("overwrite").save()
        readVersion(spark, t, None)
          .filter(col("event_id").isin(11L, 4242L, 777L))
          .select(col("event_id"), col("event_type"), col("value"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, event_type, value
FROM events WHERE event_id IN (11, 4242, 777)
ORDER BY event_id""")),

    // --- STREAMING READ of the snapshot log: three append commits
    // land in a manifest table, then `readStream` tails it through
    // [[graft.sources.ManifestSource]]'s MicroBatchStream — offsets
    // are SNAPSHOT VERSIONS, each micro-batch plans only the parts the
    // new snapshot added (the manifest diff), so ingestion work is
    // O(new data) per batch, never O(table). AvailableNow drains every
    // committed version into a complete-mode rollup; the oracle
    // restates the union of the three commits analytically over
    // orders — gating the whole write→snapshot→tail→aggregate loop.
    // ManifestStreamSpec pins the incremental half (a second run on
    // the same checkpoint reads ONLY the newly-committed parts).
    QueryDef("q_stream_manifest_source",
      (spark0, dir) => {
        // complete-mode agg = stateful: run at the streaming surface's
        // pinned stateful parallelism (see Streams.streamSession)
        val spark = graft.streaming.Streams.streamSession(spark0)
        val t = freshTable(spark, dir, "msrc")
        val base = Tables.orders(spark, dir).select(
          col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
          col("o_totalprice").as("price"))
        writeHistory(base.filter(col("k") % 3 === 0), t, "overwrite")
        writeHistory(base.filter(col("k") % 3 === 1), t, "append")
        writeHistory(base.filter(col("k") % 3 === 2), t, "append")
        val stream = spark.readStream
          .format("graft.sources.ManifestSource").option("path", t).load()
          .groupBy(col("prio"))
          .agg(count(lit(1)).as("n"), Exact.decSum(col("price"), 2).as("sum_price"))
        val q = stream.writeStream.format("memory")
          .queryName("graft_stream_manifest_source")
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        spark.table("graft_stream_manifest_source").orderBy(col("prio"))
      },
      Some(s"""SELECT o_orderpriority AS prio, count(*) AS n,
  ${Exact.decSumSql("o_totalprice", 2)} AS sum_price
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // --- STREAMING TABLE-TO-TABLE PIPELINE (the medallion step):
    // bronze commits stream through a transform into a SILVER manifest
    // table — readStream tails bronze's snapshot log (version offsets,
    // manifest-diff batches), each micro-batch appends a new silver
    // snapshot through the real commit protocol, gated by a per-batch
    // marker so a REPLAYED batch (at-least-once delivery on restart)
    // skips instead of duplicating — idempotent appends = exactly-once
    // table contents, the Delta/Iceberg streaming-writer txn pattern.
    // The result is read back from silver THROUGH the DSv2 source, so
    // the oracle gates the whole bronze→tail→transform→commit→scan
    // loop. Work per batch is O(new bronze data); silver history is
    // one snapshot per micro-batch — queryable, time-travelable, and
    // vacuumable like any manifest table.
    QueryDef("q_stream_medallion",
      (spark0, dir) => {
        val spark = graft.streaming.Streams.streamSession(spark0)
        val bronze = freshTable(spark, dir, "medallion-bronze")
        val silver = freshTable(spark, dir, "medallion-silver")
        val base = Tables.orders(spark, dir).select(
          col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
          col("o_totalprice").as("price"))
        writeHistory(base.filter(col("k") % 3 === 0), bronze, "overwrite")
        writeHistory(base.filter(col("k") % 3 === 1), bronze, "append")
        writeHistory(base.filter(col("k") % 3 === 2), bronze, "append")
        val hconf = spark.sessionState.newHadoopConf()
        val q = spark.readStream
          .format("graft.sources.ManifestSource").option("path", bronze).load()
          .filter(col("price") > 1000.0)
          .writeStream
          .option("checkpointLocation",
            freshTable(spark, dir, "stream_medallion-ckpt"))
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            // the txn gate: a marker per delivered batch makes the
            // append idempotent under micro-batch replay
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
        readVersion(spark, silver, None)
          .groupBy(col("prio"))
          .agg(count(lit(1)).as("n"), Exact.decSum(col("price"), 2).as("sum_price"))
          .orderBy(col("prio"))
      },
      Some(s"""SELECT o_orderpriority AS prio, count(*) AS n,
  ${Exact.decSumSql("o_totalprice", 2)} AS sum_price
FROM orders WHERE o_totalprice > 1000.0
GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // --- SQL-ADDRESSABLE TABLES via the V2 TableCatalog
    // ([[graft.sources.GraftCatalog]]): the engine's table format
    // reached by NAME from plain SQL — two-thirds of the data lands
    // through the DataFrame writer, the last third through SQL
    // `INSERT INTO` (an append snapshot through the same commit
    // protocol), and the answer is a SQL aggregate whose key filter
    // pushes down through the catalog-loaded scan (stats + bloom
    // pruning intact — the catalog adds addressability, not a second
    // read path). CatalogSpec pins DDL (CREATE/DROP/list), INSERT
    // OVERWRITE truncate semantics, and `VERSION AS OF` time travel.
    QueryDef("q_sql_catalog",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "sqlcat")
        spark.conf.set("spark.sql.catalog.graftcat",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftcat.warehouse", wh)
        val base = Tables.orders(spark, dir).select(
          col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
          col("o_totalprice").as("price"))
        writeHistory(base.filter(col("k") % 3 < 2), s"$wh/wh/orders_t",
          "overwrite")
        base.filter(col("k") % 3 === 2)
          .createOrReplaceTempView("graft_sqlcat_delta")
        spark.sql(
          "INSERT INTO graftcat.wh.orders_t SELECT * FROM graft_sqlcat_delta")
        spark.sql(s"""
          SELECT prio, count(*) AS n,
            ${Exact.decSumSql("price", 2).replace("VARCHAR", "STRING")} AS sum_price
          FROM graftcat.wh.orders_t
          WHERE k > 100
          GROUP BY prio ORDER BY prio""")
      },
      Some(s"""SELECT o_orderpriority AS prio, count(*) AS n,
  ${Exact.decSumSql("o_totalprice", 2)} AS sum_price
FROM orders WHERE o_orderkey > 100
GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // --- RESTORE (Delta RESTORE TABLE / Iceberg rollback): the
    // "bad deploy, roll the table back" op — snapshot v1's schema and
    // part LIST re-commit as a new head version through the normal
    // optimistic-concurrency claim. History stays append-only: the
    // rolled-back-over v2 remains readable, the restore itself is
    // time-travelable, and no data file is copied (the v3 manifest
    // references v1's files — ManifestHistorySpec pins path
    // identity). The oracle restates all three snapshots
    // analytically over raw events.
    QueryDef("q_restore",
      (spark, dir) => {
        val t = freshTable(spark, dir, "restore")
        val base = Tables.events(spark, dir)
          .select(col("event_id"), col("value"))
        writeHistory(base.filter(col("event_id") % 5 === 0), t, "overwrite")
        writeHistory(base.filter(col("event_id") % 7 === 0), t, "overwrite")
        val v = graft.sources.ManifestMaintenance.restore(
          spark.sessionState.newHadoopConf(), t, 1)
        val head = readVersion(spark, t, None)
          .agg(count(lit(1)).as("n_head"),
            Exact.decSum(col("value"), 2).as("sum_head"))
        val rolledOver = readVersion(spark, t, Some(2))
          .agg(count(lit(1)).as("n_rolled_over"))
        head.crossJoin(rolledOver)
          .withColumn("restored_as_version", lit(v))
      },
      Some(s"""SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 5 = 0)
    AS n_head,
  (SELECT ${Exact.decSumSql("value", 2)} FROM events WHERE event_id % 5 = 0)
    AS sum_head,
  (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 7 = 0)
    AS n_rolled_over,
  CAST(3 AS INT) AS restored_as_version""")),

    // --- COPY-ON-WRITE DELETE (the row-level rewrite,
    // ManifestRowLevelOp): the retention job the metadata-only fast
    // path rejects — `event_id < 677` is NOT aligned to part
    // boundaries on the range-partitioned layout, so the straddling
    // part is REWRITTEN (rows where the predicate is false survive
    // into a new part file), parts provably inside the range re-emit
    // nothing and leave the snapshot, parts provably outside carry
    // their files forward by reference. The commit is one new history
    // snapshot; reading snapshot v1 afterwards still returns every
    // pre-delete row — COW never destroys data files (CatalogSpec
    // pins the part-file accounting: untouched paths identical
    // across versions, exactly one rewrite). The oracle restates both
    // versions analytically over raw events.
    QueryDef("q_delete_cow",
      (spark, dir) => {
        val t = freshTable(spark, dir, "cow")
        spark.conf.set("spark.sql.catalog.graftcow",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftcow.warehouse", t)
        val base = Tables.events(spark, dir)
          .select(col("event_id"), col("value"))
        base.repartitionByRange(8, col("event_id"))
          .write.format("graft.sources.ManifestSource")
          .option("path", s"$t/wh/ev_t")
          .mode("overwrite").save()
        spark.sql("DELETE FROM graftcow.wh.ev_t WHERE event_id < 677")
        val after = spark.sql(
          "SELECT count(*) AS n_after, " +
            s"${Exact.decSumSql("value", 2).replace("VARCHAR", "STRING")} AS sum_after " +
            "FROM graftcow.wh.ev_t")
        val v1 = readVersion(spark, s"$t/wh/ev_t", Some(1))
          .agg(count(lit(1)).as("n_v1"),
            Exact.decSum(col("value"), 2).as("sum_v1"))
        after.crossJoin(v1)
      },
      Some(s"""SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id >= 677)
    AS n_after,
  (SELECT ${Exact.decSumSql("value", 2)} FROM events WHERE event_id >= 677)
    AS sum_after,
  (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_v1,
  (SELECT ${Exact.decSumSql("value", 2)} FROM events) AS sum_v1""")),

    // --- CHANGE DATA FEED over the snapshot log (`readChangeFeed`
    // analog): `option("changeFeed", "true")` on a streaming read
    // replays each commit's snapshot DIFF as row-level changes tagged
    // (_change_type, _commit_version) — appends feed pure inserts,
    // and a COW DELETE feeds deletes for every row of each rewritten
    // part plus inserts for its survivors (part-level restatement:
    // the CDF a format without per-commit CDC files serves from
    // metadata alone; keyed consumers reconcile restated rows
    // idempotently — the upsert contract this repo's sinks already
    // implement). The delete predicate here rides a NON-key column,
    // so every part is rewritten and the v3 restatement is exactly
    // "delete all, re-insert survivors" — deterministic regardless
    // of how rows were partitioned into parts, which is what makes
    // the whole feed ORACLE-GATEABLE. Work per batch is O(changed
    // parts); the stream checkpoint-resumes on version offsets
    // (ManifestStreamSpec pins resuming ACROSS the COW commit).
    QueryDef("q_stream_cdf",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "cdf")
        val tbl = s"$wh/wh/ev_t"
        spark.conf.set("spark.sql.catalog.graftcdf",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftcdf.warehouse", wh)
        val base = Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"))
        writeHistory(base.filter(col("event_id") % 2 === 0), tbl, "overwrite")
        writeHistory(base.filter(col("event_id") % 2 =!= 0), tbl, "append")
        spark.sql("DELETE FROM graftcdf.wh.ev_t WHERE event_type = 'click'")
        val q = spark.readStream
          .format("graft.sources.ManifestSource")
          .option("path", tbl).option("changeFeed", "true").load()
          .writeStream.format("memory").queryName("graft_stream_cdf")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        spark.table("graft_stream_cdf")
          .select(col("_commit_version"), col("_change_type"),
            col("event_id"), col("event_type"))
          .orderBy(col("_commit_version"), col("_change_type"),
            col("event_id"))
      },
      Some("""WITH b AS (SELECT event_id, event_type FROM events),
feed AS (
  SELECT CAST(1 AS BIGINT) AS _commit_version,
    'insert' AS _change_type, event_id, event_type
  FROM b WHERE event_id % 2 = 0
  UNION ALL
  SELECT 2, 'insert', event_id, event_type FROM b WHERE event_id % 2 <> 0
  UNION ALL
  SELECT 3, 'delete', event_id, event_type FROM b
  UNION ALL
  SELECT 3, 'insert', event_id, event_type FROM b
  WHERE event_type IS DISTINCT FROM 'click')
SELECT _commit_version, _change_type, event_id, event_type
FROM feed ORDER BY _commit_version, _change_type, event_id""")),

    // --- CHANGE FEED under EQUALITY deletes: the same
    // build→append→delete→feed loop as q_stream_cdf, but the delete
    // is a METADATA-ONLY equality-clause commit (graft.delete.mode=
    // eq — no data read OR written at commit time). The feed still
    // emits TRUE row-level deletes for v3: the newly-deleted rows
    // are exactly those matching the new clause among the previously
    // visible, ENUMERATED AT READ TIME by evaluating the clause
    // against each part's lines — CDC for a delete that never
    // touched the data, the strongest form of the eq-delete honesty
    // ledger (EqSpec pins the compaction-crossing side).
    QueryDef("q_stream_cdf_eq",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "cdfeq")
        val tbl = s"$wh/wh/ev_t"
        spark.conf.set("spark.sql.catalog.graftcdfe",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftcdfe.warehouse", wh)
        val base = Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"))
        writeHistory(base.filter(col("event_id") % 2 === 0), tbl, "overwrite")
        writeHistory(base.filter(col("event_id") % 2 =!= 0), tbl, "append")
        withConf(spark, "graft.delete.mode" -> "eq") {
          spark.sql(
            "DELETE FROM graftcdfe.wh.ev_t WHERE event_type = 'click'")
        }
        val q = spark.readStream
          .format("graft.sources.ManifestSource")
          .option("path", tbl).option("changeFeed", "true").load()
          .writeStream.format("memory").queryName("graft_stream_cdf_eq")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        spark.table("graft_stream_cdf_eq")
          .select(col("_commit_version"), col("_change_type"),
            col("event_id"), col("event_type"))
          .orderBy(col("_commit_version"), col("_change_type"),
            col("event_id"))
      },
      Some("""WITH b AS (SELECT event_id, event_type FROM events),
feed AS (
  SELECT CAST(1 AS BIGINT) AS _commit_version,
    'insert' AS _change_type, event_id, event_type
  FROM b WHERE event_id % 2 = 0
  UNION ALL
  SELECT 2, 'insert', event_id, event_type FROM b WHERE event_id % 2 <> 0
  UNION ALL
  SELECT 3, 'delete', event_id, event_type FROM b
  WHERE event_type = 'click')
SELECT _commit_version, _change_type, event_id, event_type
FROM feed ORDER BY _commit_version, _change_type, event_id""")),

    // --- DECLARATIVE CLUSTERED WRITE: `option("clusterBy", "k")` on
    // the sink makes the TABLE demand a globally sorted distribution
    // (RequiresDistributionAndOrdering — the Iceberg
    // write.distribution-mode=range contract), so Spark plans the
    // range exchange + sort and every committed part owns a disjoint
    // key range regardless of how scrambled the incoming DataFrame
    // is. Layout policy lives with the table, not with every writer —
    // at 100 TB that is one ordered shuffle at ingest buying every
    // later keyed read its manifest-stats part pruning
    // (ManifestSinkSpec pins the disjoint ranges + 1-part probe; the
    // oracle gates that the clustered roundtrip loses nothing).
    QueryDef("q_clustered_write",
      (spark, dir) => {
        val t = freshTable(spark, dir, "cluster")
        Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"), col("value"))
          .repartition(8, col("event_type")) // deliberately scrambled
          .write.format("graft.sources.ManifestSource")
          .option("path", t)
          .option("clusterBy", "event_id").option("writePartitions", "8")
          .mode("overwrite").save()
        spark.read.format("graft.sources.ManifestSource")
          .option("path", t).load()
          .filter(col("event_id") >= 2000 && col("event_id") < 4000)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            Exact.decSum(col("value"), 6).as("sum_value"))
          .orderBy(col("event_type"))
      },
      Some(s"""SELECT event_type, count(*) AS n,
  ${Exact.decSumSql("value", 6)} AS sum_value
FROM events WHERE event_id >= 2000 AND event_id < 4000
GROUP BY event_type ORDER BY event_type""")),

    // --- CHANGE FEED under MERGE-ON-READ deletes: the same
    // build→append→delete→feed loop as q_stream_cdf, but the delete
    // is a DELETION-VECTOR commit — so version 3 replays EXACTLY the
    // deleted rows as 'delete' changes and nothing else (no survivor
    // restatement: the vector diff IS the row-level CDC). Comparing
    // the two oracles side by side states the MOR advantage
    // precisely: COW v3 = full-part delete+reinsert; MOR v3 = the
    // matched rows only. At 100 TB that is the difference between a
    // changelog consumer re-processing rewritten parts and consuming
    // just the deltas.
    QueryDef("q_stream_cdf_mor",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "cdfmor")
        spark.conf.set("spark.sql.catalog.graftcdm",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftcdm.warehouse", wh)
        val base = Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"))
        val tbl = s"$wh/wh/ev_t"
        writeHistory(base.filter(col("event_id") % 2 === 0), tbl, "overwrite")
        writeHistory(base.filter(col("event_id") % 2 =!= 0), tbl, "append")
        withConf(spark, "graft.delete.mode" -> "mor") {
          spark.sql(
            "DELETE FROM graftcdm.wh.ev_t WHERE event_type = 'click'")
        }
        val q = spark.readStream
          .format("graft.sources.ManifestSource")
          .option("path", tbl).option("changeFeed", "true").load()
          .writeStream.format("memory").queryName("graft_stream_cdf_mor")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        spark.table("graft_stream_cdf_mor")
          .select(col("_commit_version"), col("_change_type"),
            col("event_id"), col("event_type"))
          .orderBy(col("_commit_version"), col("_change_type"),
            col("event_id"))
      },
      Some("""WITH b AS (SELECT event_id, event_type FROM events),
feed AS (
  SELECT CAST(1 AS BIGINT) AS _commit_version,
    'insert' AS _change_type, event_id, event_type
  FROM b WHERE event_id % 2 = 0
  UNION ALL
  SELECT 2, 'insert', event_id, event_type FROM b WHERE event_id % 2 <> 0
  UNION ALL
  SELECT 3, 'delete', event_id, event_type FROM b
  WHERE event_type = 'click')
SELECT _commit_version, _change_type, event_id, event_type
FROM feed ORDER BY _commit_version, _change_type, event_id""")),

    // --- MERGE-ON-READ DELETE via deletion vectors (the row-level
    // delta write, sources/ManifestDelta): the alternative to
    // q_delete_cow's rewrite — each DELETE flips per-part ordinal
    // bitmaps and publishes ONE tiny snapshot; data files are never
    // touched (MorSpec pins the file inventory), every reader masks.
    // Two sequential deletes exercise the vector MERGE (second
    // delete ORs into the first's bitmaps), and each snapshot is
    // restated via time travel, so the gate covers
    // delete→commit→mask→merge→history in one output. At 100 TB this
    // is the GDPR-erasure shape: one user's rows across 100k parts =
    // 100k bitmap updates, zero data rewrites; compaction or any COW
    // rewrite later clears the vectors naturally.
    QueryDef("q_delete_mor",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "mor")
        spark.conf.set("spark.sql.catalog.graftmor",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftmor.warehouse", wh)
        Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"), col("value"))
          .repartitionByRange(8, col("event_id"))
          .write.format("graft.sources.ManifestSource")
          .option("path", s"$wh/wh/ev_t")
          .mode("overwrite").save()
        withConf(spark, "graft.delete.mode" -> "mor") {
          spark.sql("DELETE FROM graftmor.wh.ev_t WHERE event_type = 'click'")
          spark.sql("DELETE FROM graftmor.wh.ev_t WHERE event_type = 'error'")
        }
        def agg(version: Option[Int]) = {
          val v = version.map(n => s" VERSION AS OF $n").getOrElse("")
          spark.sql(s"""
            SELECT count(*) AS n,
              ${Exact.decSumSql("value", 6).replace("VARCHAR", "STRING")}
                AS sum_value
            FROM graftmor.wh.ev_t$v""")
        }
        agg(None).withColumn("snapshot", lit("head"))
          .unionAll(agg(Some(2)).withColumn("snapshot", lit("v2")))
          .unionAll(agg(Some(1)).withColumn("snapshot", lit("v1")))
          .orderBy(col("snapshot"))
      },
      Some(s"""SELECT n, sum_value, snapshot FROM (
  SELECT CAST(count(*) AS BIGINT) AS n,
    ${Exact.decSumSql("value", 6)} AS sum_value, 'head' AS snapshot
  FROM events WHERE event_type NOT IN ('click', 'error')
     OR event_type IS NULL
  UNION ALL
  SELECT CAST(count(*) AS BIGINT), ${Exact.decSumSql("value", 6)}, 'v2'
  FROM events WHERE event_type IS DISTINCT FROM 'click'
  UNION ALL
  SELECT CAST(count(*) AS BIGINT), ${Exact.decSumSql("value", 6)}, 'v1'
  FROM events)
ORDER BY snapshot""")),

    // --- SQL UPDATE as a group-based copy-on-write row-level
    // operation (sources/ManifestRowLevel.scala): the predicate rides
    // a NON-key column, so no metadata fast path applies — Spark's
    // RewriteUpdateTable plans a ReplaceData over the table's
    // row-level operation, the rewrite re-emits every surviving row
    // of the affected parts with the assignment applied, and the
    // commit swaps exactly the scanned parts in one new snapshot
    // (time travel intact; RowLevelSpec pins the footprint — a keyed
    // predicate rewrites ONE part, runtime group filtering). The
    // oracle restates the final table from raw events with a CASE.
    QueryDef("q_update_sql",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "updsql")
        spark.conf.set("spark.sql.catalog.graftupd",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftupd.warehouse", wh)
        Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"), col("value"))
          .repartitionByRange(8, col("event_id"))
          .write.format("graft.sources.ManifestSource")
          .option("path", s"$wh/wh/ev_t")
          .mode("overwrite").save()
        spark.sql(
          "UPDATE graftupd.wh.ev_t SET value = value + 1.0 " +
            "WHERE event_type = 'click'")
        spark.sql(s"""
          SELECT event_type, count(*) AS n,
            ${Exact.decSumSql("value", 6).replace("VARCHAR", "STRING")}
              AS sum_value
          FROM graftupd.wh.ev_t
          GROUP BY event_type""")
          .unionAll(spark.sql(
            // v1 restated: the pre-update snapshot is untouched
            s"""SELECT 'v1:' || event_type AS event_type,
              count(*) AS n,
              ${Exact.decSumSql("value", 6).replace("VARCHAR", "STRING")}
                AS sum_value
            FROM graftupd.wh.ev_t VERSION AS OF 1
            WHERE event_type = 'click'
            GROUP BY event_type"""))
          .orderBy(col("event_type"))
      },
      Some(s"""SELECT event_type, n, sum_value FROM (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
    ${Exact.decSumSql(
        "CASE WHEN event_type = 'click' THEN value + 1.0 ELSE value END", 6)}
      AS sum_value
  FROM events GROUP BY event_type
  UNION ALL
  SELECT 'v1:click', CAST(count(*) AS BIGINT),
    ${Exact.decSumSql("value", 6)}
  FROM events WHERE event_type = 'click')
ORDER BY event_type""")),

    // --- SQL MERGE INTO, the warehouse upsert statement itself
    // (K2 as DML, not as a hand-built foreachBatch merge): one MERGE
    // applies update + delete + insert in a single snapshot commit
    // through the same group-based rewrite as q_update_sql. The
    // target is the even-key half of orders, the source the
    // div-by-3 keys (op = DELETE for div-by-9) — so every MERGE
    // branch fires on real rows. The oracle restates the final
    // table with joins/CASE (no MERGE needed oracle-side).
    QueryDef("q_merge_sql",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "mrgsql")
        spark.conf.set("spark.sql.catalog.graftmrg",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftmrg.warehouse", wh)
        val base = Tables.orders(spark, dir).select(
          col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
          col("o_totalprice").as("price"))
        base.filter(col("k") % 2 === 0)
          .repartitionByRange(4, col("k"))
          .write.format("graft.sources.ManifestSource")
          .option("path", s"$wh/wh/ord_t")
          .mode("overwrite").save()
        base.filter(col("k") % 3 === 0)
          .select(col("k"), col("prio"),
            (col("price") * 2).as("new_price"),
            when(col("k") % 9 === 0, lit("D")).otherwise(lit("U")).as("op"))
          .createOrReplaceTempView("graft_merge_src")
        spark.sql("""MERGE INTO graftmrg.wh.ord_t t
          USING graft_merge_src s ON t.k = s.k
          WHEN MATCHED AND s.op = 'D' THEN DELETE
          WHEN MATCHED THEN UPDATE SET price = s.new_price
          WHEN NOT MATCHED AND s.op = 'U' THEN
            INSERT (k, prio, price) VALUES (s.k, s.prio, s.new_price)""")
        spark.sql(s"""
          SELECT prio, count(*) AS n,
            ${Exact.decSumSql("price", 2).replace("VARCHAR", "STRING")}
              AS sum_price
          FROM graftmrg.wh.ord_t
          GROUP BY prio ORDER BY prio""")
      },
      Some(s"""WITH t AS (
  SELECT o_orderkey AS k, o_orderpriority AS prio, o_totalprice AS price
  FROM orders WHERE o_orderkey % 2 = 0),
s AS (
  SELECT o_orderkey AS k, o_orderpriority AS prio,
    o_totalprice * 2 AS new_price,
    CASE WHEN o_orderkey % 9 = 0 THEN 'D' ELSE 'U' END AS op
  FROM orders WHERE o_orderkey % 3 = 0),
merged AS (
  SELECT t.k, t.prio,
    CASE WHEN s.k IS NOT NULL THEN s.new_price ELSE t.price END AS price
  FROM t LEFT JOIN s ON s.k = t.k
  WHERE s.k IS NULL OR s.op <> 'D'
  UNION ALL
  SELECT s.k, s.prio, s.new_price
  FROM s LEFT JOIN t ON t.k = s.k
  WHERE t.k IS NULL AND s.op = 'U')
SELECT prio, CAST(count(*) AS BIGINT) AS n,
  ${Exact.decSumSql("price", 2)} AS sum_price
FROM merged GROUP BY prio ORDER BY prio""")),

    // --- MERGE `WHEN NOT MATCHED BY SOURCE` (r17) — the full
    // mirror-table SYNC statement: one MERGE makes the target exactly
    // reflect today's feed — changed rows update, new rows insert,
    // and rows ABSENT from the feed are stale — expired or deleted
    // upstream — so by-source clauses delete them (or, conditionally,
    // flag them: here urgent-priority stale rows are zero-priced
    // instead of dropped). The standard Delta/Iceberg idiom a user
    // hits the first time they mirror an upstream table; Spark 4's
    // RewriteMergeIntoTable plans all three clause groups through the
    // same group-based COW rewrite (sources/ManifestRowLevel) in ONE
    // snapshot commit. Scale honesty: matched-only MERGEs bound their
    // footprint via the matched-row group filter (RowLevelSpec), but
    // stats cannot prune by ABSENCE — a by-source merge's footprint
    // is every part holding any unmatched row, potentially the whole
    // table (RowLevelSpec pins both footprints; under
    // graft.delete.mode=mor the same statement commits as deletion
    // vectors + appended images, zero part rewrites). The oracle
    // restates the sync as a full-outer-join projection.
    QueryDef("q_merge_sync",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "mrgsync")
        spark.conf.set("spark.sql.catalog.graftmsy",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftmsy.warehouse", wh)
        val base = Tables.orders(spark, dir).select(
          col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
          col("o_totalprice").as("price"))
        base.filter(col("k") % 2 === 0)
          .repartitionByRange(4, col("k"))
          .write.format("graft.sources.ManifestSource")
          .option("path", s"$wh/wh/ord_sync")
          .mode("overwrite").save()
        base.filter(col("k") % 3 === 0)
          .select(col("k"), col("prio"),
            (col("price") * 2).as("new_price"))
          .createOrReplaceTempView("graft_sync_src")
        val verBefore = spark.sql(
          "SELECT count(*) FROM graftmsy.wh.ord_sync.history")
          .head.getLong(0)
        spark.sql("""MERGE INTO graftmsy.wh.ord_sync t
          USING graft_sync_src s ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET price = s.new_price
          WHEN NOT MATCHED THEN
            INSERT (k, prio, price) VALUES (s.k, s.prio, s.new_price)
          WHEN NOT MATCHED BY SOURCE AND t.prio = '1-URGENT' THEN
            UPDATE SET price = 0
          WHEN NOT MATCHED BY SOURCE THEN DELETE""")
        val oneCommit = spark.sql(
          "SELECT count(*) FROM graftmsy.wh.ord_sync.history")
          .head.getLong(0) - verBefore == 1L
        spark.sql(s"""
          SELECT prio, count(*) AS n,
            ${Exact.decSumSql("price", 2).replace("VARCHAR", "STRING")}
              AS sum_price
          FROM graftmsy.wh.ord_sync
          GROUP BY prio ORDER BY prio""")
          .withColumn("one_commit", lit(oneCommit))
      },
      Some(s"""WITH t AS (
  SELECT o_orderkey AS k, o_orderpriority AS prio, o_totalprice AS price
  FROM orders WHERE o_orderkey % 2 = 0),
s AS (
  SELECT o_orderkey AS k, o_orderpriority AS prio,
    o_totalprice * 2 AS new_price
  FROM orders WHERE o_orderkey % 3 = 0),
merged AS (
  SELECT t.k, t.prio,
    CASE WHEN s.k IS NOT NULL THEN s.new_price ELSE 0 END AS price
  FROM t LEFT JOIN s ON s.k = t.k
  WHERE s.k IS NOT NULL OR t.prio = '1-URGENT'
  UNION ALL
  SELECT s.k, s.prio, s.new_price
  FROM s LEFT JOIN t ON t.k = s.k
  WHERE t.k IS NULL)
SELECT prio, CAST(count(*) AS BIGINT) AS n,
  ${Exact.decSumSql("price", 2)} AS sum_price,
  true AS one_commit
FROM merged GROUP BY prio ORDER BY prio""")),

    // --- MERGE-ON-READ MERGE INTO (sources/ManifestDelta, Spark's
    // SupportsDelta / WriteDelta plan): the same three-clause MERGE
    // as q_merge_sql, but under `graft.delete.mode=mor` the matched
    // old images become deletion-vector bits and the updated/inserted
    // images APPEND — zero part rewrites (MorDeltaSpec pins the file
    // inventory; this gate pins the answer and that time travel still
    // serves the pre-merge snapshot). At 100 TB this is the sparse-
    // MERGE shape: cost follows the MATCH footprint as metadata +
    // appended deltas, not rewritten parts — the Iceberg-v2/Delta-DV
    // ladder rung above q_merge_sql's copy-on-write.
    QueryDef("q_merge_mor",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "mrgmor")
        spark.conf.set("spark.sql.catalog.graftmm",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftmm.warehouse", wh)
        val base = Tables.orders(spark, dir).select(
          col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
          col("o_totalprice").as("price"))
        base.filter(col("k") % 2 === 0)
          .repartitionByRange(4, col("k"))
          .write.format("graft.sources.ManifestSource")
          .option("path", s"$wh/wh/ord_t")
          .mode("overwrite").save()
        base.filter(col("k") % 3 === 0)
          .select(col("k"), col("prio"),
            (col("price") * 2).as("new_price"),
            when(col("k") % 9 === 0, lit("D")).otherwise(lit("U")).as("op"))
          .createOrReplaceTempView("graft_merge_mor_src")
        withConf(spark, "graft.delete.mode" -> "mor") {
          spark.sql("""MERGE INTO graftmm.wh.ord_t t
            USING graft_merge_mor_src s ON t.k = s.k
            WHEN MATCHED AND s.op = 'D' THEN DELETE
            WHEN MATCHED THEN UPDATE SET price = s.new_price
            WHEN NOT MATCHED AND s.op = 'U' THEN
              INSERT (k, prio, price) VALUES (s.k, s.prio, s.new_price)""")
        }
        spark.sql(s"""
          SELECT prio, count(*) AS n,
            ${Exact.decSumSql("price", 2).replace("VARCHAR", "STRING")}
              AS sum_price
          FROM graftmm.wh.ord_t
          GROUP BY prio""")
          .unionAll(spark.sql(
            // the pre-merge snapshot is untouched: vectors are a NEW
            // version's metadata, the data files never changed
            s"""SELECT 'v1' AS prio, count(*) AS n,
              ${Exact.decSumSql("price", 2).replace("VARCHAR", "STRING")}
                AS sum_price
            FROM graftmm.wh.ord_t VERSION AS OF 1"""))
          .orderBy(col("prio"))
      },
      Some(s"""WITH t AS (
  SELECT o_orderkey AS k, o_orderpriority AS prio, o_totalprice AS price
  FROM orders WHERE o_orderkey % 2 = 0),
s AS (
  SELECT o_orderkey AS k, o_orderpriority AS prio,
    o_totalprice * 2 AS new_price,
    CASE WHEN o_orderkey % 9 = 0 THEN 'D' ELSE 'U' END AS op
  FROM orders WHERE o_orderkey % 3 = 0),
merged AS (
  SELECT t.k, t.prio,
    CASE WHEN s.k IS NOT NULL THEN s.new_price ELSE t.price END AS price
  FROM t LEFT JOIN s ON s.k = t.k
  WHERE s.k IS NULL OR s.op <> 'D'
  UNION ALL
  SELECT s.k, s.prio, s.new_price
  FROM s LEFT JOIN t ON t.k = s.k
  WHERE t.k IS NULL AND s.op = 'U')
SELECT prio, n, sum_price FROM (
  SELECT prio, CAST(count(*) AS BIGINT) AS n,
    ${Exact.decSumSql("price", 2)} AS sum_price
  FROM merged GROUP BY prio
  UNION ALL
  SELECT 'v1', CAST(count(*) AS BIGINT), ${Exact.decSumSql("price", 2)}
  FROM t)
ORDER BY prio""")),

    // --- WRITE-AUDIT-PUBLISH via snapshot branches: the ingest job
    // stages its commit on the `audit` branch (`option("branch",
    // "audit")` — its own `_MANIFEST.<branch>.vN.json` version line,
    // invisible to main-head resolution), a validation read runs the
    // quality gate against the BRANCH head, and only the metadata-only
    // fast-forward (ManifestMaintenance.fastForward) makes the audited
    // snapshot visible to main readers. The output pins all three
    // stages side by side: main BEFORE publish (must still be the
    // base), the staged branch content the gate saw, and main AFTER.
    // At 100 TB this is how bad data never reaches consumers: staging
    // costs one JSON file per commit (parts shared by reference), the
    // publish costs one more — never a data copy (PublishRebaseSpec
    // pins branch isolation, fork, fast-forward, and vacuum safety).
    QueryDef("q_wap_publish",
      (spark, dir) => {
        val t = freshTable(spark, dir, "wap")
        val base = Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"), col("value"))
        writeHistory(base.filter(col("event_id") % 2 === 0), t, "overwrite")
        // stage the odd half on the audit branch — two commits, like a
        // real multi-batch ingest
        def stage(df: DataFrame): Unit = df.repartition(4)
          .write.format("graft.sources.ManifestSource")
          .option("path", t)
          .option("branch", "audit").mode("append").save()
        stage(base.filter(col("event_id") % 4 === 1))
        stage(base.filter(col("event_id") % 4 === 3))
        // EAGER: a lazy DataFrame would execute after the publish and
        // see the published rows — the isolation claim needs the main
        // head read to actually happen pre-fast-forward
        val nMainBefore = readVersion(spark, t, None).count()
        // the audit gate reads the BRANCH head: row count + a domain
        // check (negative values would fail the publish in a real
        // pipeline; here the count is part of the gated output)
        val branchDf = spark.read.format("graft.sources.ManifestSource")
          .option("path", t).option("branch", "audit").load()
        val audit = branchDf.agg(count(lit(1)).as("n_staged"),
          sum(when(col("value") < 0, 1).otherwise(0)).as("n_bad"))
        ManifestMaintenance.fastForward(
          spark.sessionState.newHadoopConf(), t, "audit")
        val mainAfter = readVersion(spark, t, None)
          .agg(count(lit(1)).as("n_main_after"),
            Exact.decSum(col("value"), 6).as("sum_after"))
        audit.crossJoin(mainAfter)
          .withColumn("n_main_before", lit(nMainBefore))
      },
      Some(s"""SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 2 = 0)
    AS n_main_before,
  (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_staged,
  (SELECT CAST(coalesce(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END), 0)
     AS BIGINT) FROM events) AS n_bad,
  (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_main_after,
  (SELECT ${Exact.decSumSql("value", 6)} FROM events) AS sum_after""")),

    // --- THE SNAPSHOT LOG AS A TABLE (`SELECT ... FROM cat.ns.t
    // .history` — DESCRIBE HISTORY / Iceberg `.history` analog,
    // served by a metadata-only DSv2 relation that reads version
    // manifests and zero data files at any table size): three
    // deterministic commits — overwrite (4 parts), append (4+4), and
    // a merge-on-read DELETE (parts unchanged, visible rows drop by
    // exactly the matched count — the n_rows column consults
    // visibleRows, so the log is mask-aware). The oracle restates
    // every (version, n_parts, n_rows) row from raw events; the
    // nondeterministic columns (bytes, commit mtime) stay out of the
    // gate and are spec-pinned instead.
    QueryDef("q_table_history",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "histtbl")
        spark.conf.set("spark.sql.catalog.graftht",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftht.warehouse", wh)
        val base = Tables.events(spark, dir)
          .select(col("event_id"), col("value"))
        val tbl = s"$wh/wh/ev_t"
        writeHistory(base.filter(col("event_id") % 2 === 0), tbl, "overwrite")
        writeHistory(base.filter(col("event_id") % 2 =!= 0), tbl, "append")
        withConf(spark, "graft.delete.mode" -> "mor") {
          spark.sql("DELETE FROM graftht.wh.ev_t WHERE event_id % 5 = 0")
        }
        spark.sql("""SELECT version, n_parts, n_rows
          FROM graftht.wh.ev_t.history ORDER BY version""")
      },
      Some("""SELECT version, n_parts, n_rows FROM (VALUES
  (CAST(1 AS INT), CAST(4 AS BIGINT),
   (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 2 = 0)),
  (CAST(2 AS INT), CAST(8 AS BIGINT),
   (SELECT CAST(count(*) AS BIGINT) FROM events)),
  (CAST(3 AS INT), CAST(8 AS BIGINT),
   (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 5 <> 0)))
  AS t(version, n_parts, n_rows) ORDER BY version""")),

    // --- OPERATION-LABELED HISTORY (`.history.operation` — Delta's
    // DESCRIBE HISTORY operation / Iceberg's snapshot summary): every
    // commit records WHAT KIND of operation produced it on its
    // version line, so lineage questions ("when was this table last
    // compacted? what deleted rows last week?") answer from metadata.
    // The fixture drives one commit of each kind — create, append,
    // MOR delete, COW update, analyze, optimize — and gates the
    // (version, operation, n_rows) ladder; rows restate from events.
    QueryDef("q_history_ops",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "histops")
        spark.conf.set("spark.sql.catalog.graftho",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftho.warehouse", wh)
        spark.sql("CREATE TABLE graftho.wh.ev_t " +
          "(event_id BIGINT, event_type STRING, value DOUBLE)")
        Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"), col("value"))
          .filter(col("event_id") % 3 === 0)
          .createOrReplaceTempView("graft_histops_src")
        spark.sql(
          "INSERT INTO graftho.wh.ev_t SELECT * FROM graft_histops_src")
        withConf(spark, "graft.delete.mode" -> "mor") {
          spark.sql(
            "DELETE FROM graftho.wh.ev_t WHERE event_type = 'error'")
        }
        spark.sql("UPDATE graftho.wh.ev_t SET value = 0.0 " +
          "WHERE event_type = 'click'")
        spark.sql("CALL graftho.system.analyze(table => 'wh.ev_t', " +
          "rebuild_blooms => true)")
        spark.sql("CALL graftho.system.compact(table => 'wh.ev_t', " +
          "target_parts => 2)")
        spark.sql("""
          SELECT version, operation, n_rows
          FROM graftho.wh.ev_t.history ORDER BY version""")
      },
      Some("""SELECT version, operation, n_rows FROM (VALUES
  (CAST(1 AS INT), 'create', CAST(0 AS BIGINT)),
  (CAST(2 AS INT), 'append',
   (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 3 = 0)),
  (CAST(3 AS INT), 'delete',
   (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 3 = 0
      AND (event_type <> 'error' OR event_type IS NULL))),
  (CAST(4 AS INT), 'update',
   (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 3 = 0
      AND (event_type <> 'error' OR event_type IS NULL))),
  (CAST(5 AS INT), 'analyze',
   (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 3 = 0
      AND (event_type <> 'error' OR event_type IS NULL))),
  (CAST(6 AS INT), 'optimize',
   (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 3 = 0
      AND (event_type <> 'error' OR event_type IS NULL))))
  AS t(version, operation, n_rows) ORDER BY version""")),

    // --- MAINTENANCE AS SQL (`CALL cat.system.compact(...)` — Spark
    // 4's native DSv2 stored procedures, sources/GraftProcedures
    // .scala): the bin-packing OPTIMIZE issued the way an operations
    // scheduler actually issues it, by NAME against the catalog. A
    // 32-small-part table compacts into 4 range-clustered parts in
    // one snapshot; the CALL's result row (parts_before/after, new
    // version) is part of the gated output, and the post-compaction
    // read must return the identical rollup — the rewrite is
    // distributed end to end (staged ManifestSource read → sink
    // write; the driver only swaps metadata). ProcedureSpec pins the
    // discovery surface (SHOW PROCEDURES / DESCRIBE), defaults,
    // DV-mask application, and the key-disjoint layout.
    QueryDef("q_call_optimize",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "callopt")
        spark.conf.set("spark.sql.catalog.graftpr",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftpr.warehouse", wh)
        val base = Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"), col("value"))
        writeHistory(base, s"$wh/wh/ev_t", "overwrite", parts = 32)
        val res = spark.sql(
          "CALL graftpr.system.compact(table => 'wh.ev_t', " +
            "target_parts => 4, cluster_by => 'event_id')")
        val after = spark.sql(
          "SELECT count(*) AS n_rows, " +
            s"${Exact.decSumSql("value", 2).replace("VARCHAR", "STRING")} AS sum_value, " +
            "min(event_id) AS key_min, max(event_id) AS key_max " +
            "FROM graftpr.wh.ev_t")
        res.crossJoin(after)
      },
      Some(s"""SELECT CAST(32 AS INT) AS parts_before,
  CAST(4 AS INT) AS parts_after, CAST(2 AS INT) AS version,
  CAST(count(*) AS BIGINT) AS n_rows,
  ${Exact.decSumSql("value", 2)} AS sum_value,
  min(event_id) AS key_min, max(event_id) AS key_max
FROM events""")),

    // --- LIFECYCLE AS SQL: rollback + expire_snapshots through CALL.
    // Two overwrites, then `rollback(version => 1)` re-commits v1's
    // part list as v3 (no data copied), and
    // `expire_snapshots(keep_last => 2)` retires v1 — whose files
    // MUST all survive (the rollback head references them; the gated
    // files_deleted = 0 is the reference-counting proof), while the
    // head keeps reading v1's full contents. The oracle restates the
    // restored head analytically plus the deterministic procedure
    // stats; ProcedureSpec pins the loud failure of reading the
    // expired snapshot afterwards.
    QueryDef("q_call_lifecycle",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "calllc")
        spark.conf.set("spark.sql.catalog.graftlc",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftlc.warehouse", wh)
        val base = Tables.events(spark, dir)
          .select(col("event_id"), col("value"))
        val t = s"$wh/wh/ev_t"
        writeHistory(base.filter(col("event_id") % 5 === 0), t, "overwrite")
        writeHistory(base.filter(col("event_id") % 7 === 0), t, "overwrite")
        val rb = spark.sql(
          "CALL graftlc.system.rollback(table => 'wh.ev_t', version => 1)")
          .select(col("version").as("restored_as_version"))
        val ex = spark.sql(
          "CALL graftlc.system.expire_snapshots(table => 'wh.ev_t', " +
            "keep_last => 2, orphan_grace_ms => 86400000)")
        val head = spark.sql(
          "SELECT count(*) AS n_head, " +
            s"${Exact.decSumSql("value", 2).replace("VARCHAR", "STRING")} AS sum_head " +
            "FROM graftlc.wh.ev_t")
        rb.crossJoin(ex).crossJoin(head)
      },
      Some(s"""SELECT CAST(3 AS INT) AS restored_as_version,
  CAST(1 AS INT) AS versions_expired, CAST(0 AS INT) AS files_deleted,
  CAST(2 AS INT) AS versions_retained,
  (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 5 = 0)
    AS n_head,
  (SELECT ${Exact.decSumSql("value", 2)} FROM events WHERE event_id % 5 = 0)
    AS sum_head""")),

    // --- TIME-BASED SNAPSHOT RETENTION (`expire_snapshots(older_than
    // => ts)` — the Iceberg retention-policy shape operators actually
    // schedule): a PAST cutoff proves the time gate is real (nothing
    // committed before 1990 ⇒ zero expiry even under keep_last=1),
    // then a tag pins v1 and a FUTURE cutoff composes with
    // keep_last=1 — v1 survives via the tag, the head via keep_last,
    // exactly the middle snapshot expires; its part files survive
    // reclaim because the append-chain head still references them
    // (files_deleted = 0 is load-bearing). The tagged snapshot is
    // then READ BACK via `VERSION AS OF 'pinned'` and the head
    // rollup gated exactly. Metadata-only at any scale: the clock is
    // version-file mtimes, the same immutable-once-claimed commit
    // clock TIMESTAMP AS OF resolves against.
    QueryDef("q_expire_time",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "exptime")
        spark.conf.set("spark.sql.catalog.graftrt",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftrt.warehouse", wh)
        val base = Tables.events(spark, dir)
          .select(col("event_id"), col("value"))
        val t = s"$wh/wh/ev_t"
        writeHistory(base.filter(col("event_id") % 3 === 0), t, "overwrite")
        writeHistory(base.filter(col("event_id") % 3 === 1), t, "append")
        writeHistory(base.filter(col("event_id") % 3 === 2), t, "append")
        val past = spark.sql(
          "CALL graftrt.system.expire_snapshots(table => 'wh.ev_t', " +
            "keep_last => 1, orphan_grace_ms => 86400000, " +
            "older_than => TIMESTAMP '1990-01-01 00:00:00')")
          .select(col("versions_expired").as("past_expired"),
            col("versions_retained").as("past_retained"))
        spark.sql("CALL graftrt.system.tag(table => 'wh.ev_t', " +
          "name => 'pinned', version => 1)")
        val fut = spark.sql(
          "CALL graftrt.system.expire_snapshots(table => 'wh.ev_t', " +
            "keep_last => 1, orphan_grace_ms => 86400000, " +
            "older_than => TIMESTAMP '2100-01-01 00:00:00')")
          .select(col("versions_expired").as("cut_expired"),
            col("files_deleted").as("cut_files_deleted"),
            col("versions_retained").as("cut_retained"))
        val tagged = spark.sql("SELECT count(*) AS n_tagged " +
          "FROM graftrt.wh.ev_t VERSION AS OF 'pinned'")
        val head = spark.sql(
          "SELECT count(*) AS n_head, " +
            s"${Exact.decSumSql("value", 2).replace("VARCHAR", "STRING")} " +
            "AS sum_head FROM graftrt.wh.ev_t")
        past.crossJoin(fut).crossJoin(tagged).crossJoin(head)
      },
      Some(s"""SELECT CAST(0 AS INT) AS past_expired,
  CAST(3 AS INT) AS past_retained,
  CAST(1 AS INT) AS cut_expired, CAST(0 AS INT) AS cut_files_deleted,
  CAST(2 AS INT) AS cut_retained,
  (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 3 = 0)
    AS n_tagged,
  CAST(count(*) AS BIGINT) AS n_head,
  ${Exact.decSumSql("value", 2)} AS sum_head
FROM events""")),

    // --- THE MANIFEST AS A TABLE (`SELECT ... FROM cat.ns.t.files` —
    // Iceberg's `.files` analog, sources/GraftCatalog.scala
    // ManifestFilesTable): per-part stats served straight off the
    // head manifest through a LocalScan — ZERO data files opened at
    // any table size. The gate aggregates the metadata view and the
    // oracle restates it from the raw rows: physical vs mask-aware
    // visible counts split exactly at the MOR-deleted rows, key
    // bounds match the data's, the 4-part range layout is preserved.
    // This is the operator's observability surface ("how much MOR
    // debt does this table carry?") — answered from KBs of metadata.
    QueryDef("q_meta_files",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "metafiles")
        spark.conf.set("spark.sql.catalog.graftmf",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftmf.warehouse", wh)
        val base = Tables.events(spark, dir)
          .select(col("event_id"), col("user_id"), col("value"))
        base.repartitionByRange(4, col("event_id"))
          .write.format("graft.sources.ManifestSource")
          .option("path", s"$wh/wh/ev_t")
          .mode("overwrite").save()
        withConf(spark, "graft.delete.mode" -> "mor") {
          spark.sql("DELETE FROM graftmf.wh.ev_t WHERE event_id % 10 = 0")
        }
        // user_id is a secondary long column: every part's .files row
        // exposes its generalized ColStat record
        spark.sql("""SELECT count(*) AS n_parts, sum(n_rows) AS total_rows,
          sum(visible_rows) AS visible_rows, min(key_min) AS key_min,
          max(key_max) AS key_max, sum(dv_count) AS n_deleted,
          sum(CASE WHEN col_stats LIKE 'user_id:%' THEN 1 ELSE 0 END)
            AS n_with_cstats
          FROM graftmf.wh.ev_t.files""")
      },
      Some("""SELECT CAST(4 AS BIGINT) AS n_parts,
  CAST(count(*) AS BIGINT) AS total_rows,
  (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 10 <> 0)
    AS visible_rows,
  min(event_id) AS key_min, max(event_id) AS key_max,
  (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 10 = 0)
    AS n_deleted,
  CAST(4 AS BIGINT) AS n_with_cstats
FROM events""")),

    // --- `.columns` mapping ledger (GraftCatalog
    // ManifestColumnsTable): one row per live column with its
    // position, type, STABLE FIELD ID, and stats role, plus one per
    // retired (dropped/renamed-away, unreusable) name — the audit
    // view of column mapping, answered from the head manifest with
    // zero data files. The fixture runs rename→drop→add and gates
    // the full ledger: the re-added position holds a FRESH id (3,
    // never the dropped column's 2) and both burned names appear
    // retired.
    QueryDef("q_meta_columns",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "metacols")
        spark.conf.set("spark.sql.catalog.graftmc",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftmc.warehouse", wh)
        spark.sql("CREATE TABLE graftmc.wh.ev_t " +
          "(event_id BIGINT, event_type STRING, value DOUBLE)")
        Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"), col("value"))
          .filter(col("event_id") % 11 === 0)
          .createOrReplaceTempView("graft_metacols_src")
        spark.sql(
          "INSERT INTO graftmc.wh.ev_t SELECT * FROM graft_metacols_src")
        spark.sql("ALTER TABLE graftmc.wh.ev_t RENAME COLUMN value TO score")
        spark.sql("ALTER TABLE graftmc.wh.ev_t DROP COLUMN event_type")
        spark.sql("ALTER TABLE graftmc.wh.ev_t ADD COLUMN lang STRING")
        spark.sql("""
          SELECT position, name, type, field_id, stats_role, retired
          FROM graftmc.wh.ev_t.columns
          ORDER BY retired, position, name""")
      },
      Some("""SELECT position, name, type, field_id, stats_role, retired
FROM (VALUES
  (CAST(0 AS INT), 'event_id', 'bigint', CAST(0 AS INT), 'key', false),
  (CAST(1 AS INT), 'score', 'double', CAST(2 AS INT), '', false),
  (CAST(2 AS INT), 'lang', 'string', CAST(3 AS INT), 'string', false),
  (CAST(NULL AS INT), 'event_type', CAST(NULL AS VARCHAR),
   CAST(NULL AS INT), '', true),
  (CAST(NULL AS INT), 'value', CAST(NULL AS VARCHAR),
   CAST(NULL AS INT), '', true))
  AS t(position, name, type, field_id, stats_role, retired)
ORDER BY retired, position, name""")),

    // --- ALTER TABLE ADD COLUMN (DDL-driven schema evolution): the
    // widening is a METADATA-ONLY snapshot — the head's part list
    // republished under the wider schema; no data file is touched,
    // pre-ALTER rows read NULL for the new column (the same additive
    // contract append-time evolution follows, now reachable from
    // plain SQL DDL). The commit also pins the nullability-stickiness
    // fix: the post-ALTER INSERT arrives with NOT NULL literals and
    // must NOT tighten the published schema (CatalogSpec pins the
    // schema across versions; this gate would NPE without it).
    QueryDef("q_alter_evolve",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "altersql")
        spark.conf.set("spark.sql.catalog.graftal",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftal.warehouse", wh)
        val base = Tables.events(spark, dir)
        writeHistory(base.filter(col("event_id") % 2 === 0)
          .select(col("event_id"), col("value")), s"$wh/wh/ev_t", "overwrite")
        spark.sql("ALTER TABLE graftal.wh.ev_t ADD COLUMN etype STRING")
        base.filter(col("event_id") % 2 =!= 0)
          .select(col("event_id"), col("value"),
            col("event_type").as("etype"))
          .createOrReplaceTempView("graft_alter_delta")
        spark.sql(
          "INSERT INTO graftal.wh.ev_t SELECT * FROM graft_alter_delta")
        val head = spark.sql(
          "SELECT count(*) AS n_head, count(etype) AS n_typed, " +
            "count(DISTINCT etype) AS n_types, " +
            s"${Exact.decSumSql("value", 2).replace("VARCHAR", "STRING")} AS sum_value " +
            "FROM graftal.wh.ev_t")
        // the ALTER snapshot itself: same rows as v1, wider schema
        val v2 = spark.sql(
          "SELECT count(*) AS n_v2 FROM graftal.wh.ev_t VERSION AS OF 2")
        head.crossJoin(v2)
      },
      Some(s"""SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_head,
  (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 2 <> 0)
    AS n_typed,
  (SELECT CAST(count(DISTINCT event_type) AS BIGINT) FROM events
     WHERE event_id % 2 <> 0) AS n_types,
  (SELECT ${Exact.decSumSql("value", 2)} FROM events) AS sum_value,
  (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 2 = 0)
    AS n_v2""")),

    // --- NAMESPACE DDL (SupportsNamespaces on GraftCatalog): CREATE/
    // SHOW/DESCRIBE/DROP NAMESPACE as ordinary catalog hygiene — a
    // namespace is a warehouse directory with a properties sidecar,
    // every operation O(children) driver metadata. The gate runs the
    // full lifecycle: create two namespaces (one with properties),
    // land a table + rows in one, prove DROP refuses the non-empty
    // namespace without CASCADE (the load-bearing guard — silent
    // cascade would eat a table), CASCADE-drop it, and restate the
    // surviving listing plus the row count the table held.
    QueryDef("q_namespace_ddl",
      (spark, dir) => {
        import spark.implicits._
        val wh = freshTable(spark, dir, "nsddl")
        spark.conf.set("spark.sql.catalog.gnsd",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.gnsd.warehouse", wh)
        spark.sql(
          "CREATE NAMESPACE gnsd.raw WITH PROPERTIES ('tier' = 'bronze')")
        spark.sql("CREATE NAMESPACE gnsd.curated")
        val propsOk = spark
          .sql("DESCRIBE NAMESPACE EXTENDED gnsd.raw").collect()
          .map(r => s"${r.getString(0)}=${r.getString(1)}").mkString(";")
          .matches("(?s).*tier.*bronze.*")
        spark.sql("CREATE TABLE gnsd.raw.ev (k BIGINT, v DOUBLE)")
        Tables.events(spark, dir)
          .select(col("event_id").as("k"), col("value").as("v"))
          .filter(col("k") % 5 === 0)
          .createOrReplaceTempView("graft_nsddl_src")
        spark.sql("INSERT INTO gnsd.raw.ev SELECT * FROM graft_nsddl_src")
        val n = spark.sql("SELECT count(*) FROM gnsd.raw.ev")
          .head.getLong(0)
        val refused =
          try { spark.sql("DROP NAMESPACE gnsd.raw"); false }
          catch { case scala.util.control.NonFatal(_) => true }
        spark.sql("DROP NAMESPACE gnsd.raw CASCADE")
        val listing = spark.sql("SHOW NAMESPACES IN gnsd").collect()
          .map(_.getString(0)).sorted.mkString(",")
        Seq((listing, n, propsOk, refused))
          .toDF("namespaces", "n_rows", "props_ok", "nonempty_refused")
      },
      Some("""SELECT 'curated' AS namespaces,
  (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 5 = 0)
    AS n_rows,
  true AS props_ok, true AS nonempty_refused""")),

    // --- NESTED SCHEMA EVOLUTION (ColMap.nested +
    // GraftCatalog.alterTable nested branches): ADD/RENAME/DROP on
    // DEPTH-1 STRUCT FIELDS as metadata-only commits over stable
    // NESTED field ids — the Iceberg nested-field-id contract, and
    // the DDL form of the reference's progressively-enriched
    // prediction struct (reference: estimate_queue.py:80-88). The
    // ladder runs rename → second generation → drop → add → third
    // generation, then reads all three part generations side by
    // side: pre-DDL parts resolve the renamed sub-field through its
    // unchanged nested id, read NULL for the post-drop addition
    // (fresh id — the dropped sub-bytes still sitting at their
    // sub-column can never resurrect), and each generation reads its
    // sub-columns by nested id (`c<id>` in the part file). Zero data
    // files are read or written by any of the three ALTERs — at
    // 100 TB the only viable shape for evolving a payload struct.
    QueryDef("q_nested_evolve",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "nestedevo")
        spark.conf.set("spark.sql.catalog.gne",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.gne.warehouse", wh)
        spark.sql("CREATE TABLE gne.ns.t " +
          "(id BIGINT, payload STRUCT<a: BIGINT, b: STRING>)")
        Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"), col("value"))
          .createOrReplaceTempView("graft_nested_src")
        spark.sql("INSERT INTO gne.ns.t SELECT event_id, " +
          "named_struct('a', event_id * 2, 'b', event_type) " +
          "FROM graft_nested_src WHERE event_id % 3 = 0")
        spark.sql("ALTER TABLE gne.ns.t RENAME COLUMN payload.b TO tag")
        spark.sql("INSERT INTO gne.ns.t SELECT event_id, " +
          "named_struct('a', event_id * 3, 'tag', event_type) " +
          "FROM graft_nested_src WHERE event_id % 3 = 1")
        spark.sql("ALTER TABLE gne.ns.t DROP COLUMN payload.a")
        spark.sql("ALTER TABLE gne.ns.t ADD COLUMN payload.score DOUBLE")
        spark.sql("INSERT INTO gne.ns.t SELECT event_id, " +
          "named_struct('tag', event_type, 'score', value) " +
          "FROM graft_nested_src WHERE event_id % 3 = 2")
        spark.sql("""SELECT id, payload.tag AS tag,
            payload.score AS score
          FROM gne.ns.t ORDER BY id""")
      },
      Some("""SELECT event_id AS id, event_type AS tag,
  CASE WHEN event_id % 3 = 2 THEN value ELSE NULL END AS score
FROM events ORDER BY id""")),

    // --- COLUMN MAPPING (sources/ManifestSink.scala ColMap +
    // GraftCatalog.alterTable): RENAME and DROP COLUMN as
    // METADATA-ONLY commits over stable field ids — the Delta
    // column-mapping / Iceberg field-id contract. The fixture runs
    // the full DDL ladder (rename → drop → add) and then reads parts
    // of BOTH schema generations side by side: pre-DDL parts resolve
    // the renamed column through its unchanged id, read NULL for the
    // post-drop addition (the fresh id can never resurrect the
    // dropped bytes still sitting in their third slot), and post-DDL
    // parts decode through their stamped layout. At 100 TB this is
    // the only viable shape for schema change: zero data files are
    // read or written by any of the three ALTERs.
    QueryDef("q_column_mapping",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "colmap")
        spark.conf.set("spark.sql.catalog.graftcm",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftcm.warehouse", wh)
        val base = Tables.events(spark, dir)
        // v1: one schema generation committed as (event_id, event_type, value)
        writeHistory(base.filter(col("event_id") % 7 === 0)
          .select(col("event_id"), col("event_type"), col("value")),
          s"$wh/wh/cm_t", "overwrite")
        spark.sql("ALTER TABLE graftcm.wh.cm_t RENAME COLUMN value TO amount")
        spark.sql("ALTER TABLE graftcm.wh.cm_t DROP COLUMN event_type")
        spark.sql("ALTER TABLE graftcm.wh.cm_t ADD COLUMN note STRING")
        // second generation committed under the evolved schema
        base.filter(col("event_id") % 7 === 3)
          .select(col("event_id"), col("value").as("amount"),
            concat(lit("u-"), col("user_id")).as("note"))
          .createOrReplaceTempView("graft_colmap_delta")
        spark.sql(
          "INSERT INTO graftcm.wh.cm_t SELECT * FROM graft_colmap_delta")
        spark.sql("""
          SELECT event_id, amount, note FROM graftcm.wh.cm_t
          ORDER BY event_id""")
      },
      Some("""SELECT event_id, value AS amount, NULL AS note
  FROM events WHERE event_id % 7 = 0
UNION ALL
SELECT event_id, value, concat('u-', user_id)
  FROM events WHERE event_id % 7 = 3
ORDER BY event_id""")),

    // --- ANALYZE (CALL system.analyze →
    // ManifestMaintenance.analyzeTable): per-part stats recomputed
    // from the VISIBLE rows in one metadata commit. The fixture is
    // the staleness story deletion vectors create: four parts each
    // hold 'click' rows, a MOR delete masks every click, and the
    // stats still say "might contain 'click'" — the probe plans all
    // 4 parts to return 0 rows. One ANALYZE later the same probe
    // plans ZERO parts (the string min rose past 'click' everywhere), with no
    // data file written. At 100 TB this is how zone maps recover
    // after GDPR-scale deletes without paying compaction: one scan,
    // one manifest. parts_before/parts_after/parts_analyzed ride the
    // gated output as pinned literals.
    QueryDef("q_analyze_stats",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "analyze")
        spark.conf.set("spark.sql.catalog.graftan",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftan.warehouse", wh)
        val base = Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"), col("value"))
        (0 until 4).foreach { i =>
          base.filter(col("event_id") % 4 === i).coalesce(1)
            .write.format("graft.sources.ManifestSource")
            .option("path", s"$wh/wh/ev_t")
            .mode(if (i == 0) "overwrite" else "append").save()
        }
        withConf(spark, "graft.delete.mode" -> "mor") {
          spark.sql("DELETE FROM graftan.wh.ev_t WHERE event_type = 'click'")
        }
        def planned: Int = spark.sql(
          "SELECT count(*) FROM graftan.wh.ev_t WHERE event_type = 'click'")
          .queryExecution.sparkPlan.collect {
            case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
              b.inputPartitions.size
          }.sum
        val before = planned
        val analyzed = spark.sql(
          "CALL graftan.system.analyze(table => 'wh.ev_t')")
          .head.getInt(0)
        val after = planned
        spark.sql(s"""
          SELECT event_type, count(*) AS n,
            ${Exact.decSumSql("value", 6).replace("VARCHAR", "STRING")}
              AS sum_value
          FROM graftan.wh.ev_t GROUP BY event_type""")
          .withColumn("parts_before", lit(before))
          .withColumn("parts_after", lit(after))
          .withColumn("parts_analyzed", lit(analyzed))
          .orderBy(col("event_type"))
      },
      Some(s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
  ${Exact.decSumSql("value", 6)} AS sum_value,
  CAST(4 AS INT) AS parts_before, CAST(0 AS INT) AS parts_after,
  CAST(4 AS INT) AS parts_analyzed
FROM events WHERE event_type <> 'click'
GROUP BY event_type ORDER BY event_type""")),

    // --- ALTER COLUMN TYPE widening (GraftCatalog.alterTable →
    // TableChange.UpdateColumnType): INT → BIGINT as a METADATA-ONLY
    // commit — the text line codec decodes "5" identically under
    // either type, so committed parts are never rewritten; the
    // post-widening insert carries values beyond INT range to prove
    // the widening is real, and the aggregate reads both schema
    // generations through one scan. The oracle restates the mixed
    // table with CAST.
    QueryDef("q_widen_type",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "widen")
        spark.conf.set("spark.sql.catalog.graftwt",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftwt.warehouse", wh)
        val base = Tables.lineitem(spark, dir).select(
          col("l_orderkey").as("k"),
          col("l_linenumber").cast("int").as("num"),
          col("l_quantity").as("qty"))
        writeHistory(base.filter(col("k") % 3 === 0),
          s"$wh/wh/li_t", "overwrite")
        spark.sql("ALTER TABLE graftwt.wh.li_t ALTER COLUMN num TYPE BIGINT")
        base.filter(col("k") % 3 === 1)
          .select(col("k"),
            (col("num").cast("long") + 5000000000L).as("num"), col("qty"))
          .createOrReplaceTempView("graft_widen_delta")
        spark.sql(
          "INSERT INTO graftwt.wh.li_t SELECT * FROM graft_widen_delta")
        spark.sql(s"""
          SELECT count(*) AS n, CAST(sum(num) AS BIGINT) AS sum_num,
            min(num) AS min_num, max(num) AS max_num,
            ${Exact.decSumSql("qty", 2).replace("VARCHAR", "STRING")}
              AS sum_qty
          FROM graftwt.wh.li_t""")
      },
      Some(s"""SELECT CAST(count(*) AS BIGINT) AS n,
  CAST(sum(num) AS BIGINT) AS sum_num,
  min(num) AS min_num, max(num) AS max_num,
  ${Exact.decSumSql("qty", 2)} AS sum_qty
FROM (
  SELECT CAST(l_linenumber AS BIGINT) AS num, l_quantity AS qty
  FROM lineitem WHERE l_orderkey % 3 = 0
  UNION ALL
  SELECT CAST(l_linenumber AS BIGINT) + 5000000000, l_quantity
  FROM lineitem WHERE l_orderkey % 3 = 1)""")),

    // --- TRUNCATE TABLE (SQL → TruncatableTable): a LOGICAL truncate
    // — one empty-part-list snapshot, so the pre-truncate version
    // keeps reading in full (gated) while the head is empty, and the
    // post-truncate INSERT starts the table over in the same history.
    // The data files of v1 stay on disk for time travel until vacuum.
    QueryDef("q_truncate_sql",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "truncsql")
        spark.conf.set("spark.sql.catalog.grafttr",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.grafttr.warehouse", wh)
        val base = Tables.events(spark, dir)
          .select(col("event_id"), col("value"))
        writeHistory(base, s"$wh/wh/ev_t", "overwrite")
        spark.sql("TRUNCATE TABLE grafttr.wh.ev_t")
        base.filter(col("event_id") % 3 === 0)
          .createOrReplaceTempView("graft_trunc_delta")
        spark.sql(
          "INSERT INTO grafttr.wh.ev_t SELECT * FROM graft_trunc_delta")
        val head = spark.sql(
          "SELECT count(*) AS n_head, " +
            s"${Exact.decSumSql("value", 2).replace("VARCHAR", "STRING")} AS sum_head " +
            "FROM grafttr.wh.ev_t")
        val v1 = spark.sql(
          "SELECT count(*) AS n_v1 FROM grafttr.wh.ev_t VERSION AS OF 1")
        val v2 = spark.sql(
          "SELECT count(*) AS n_truncated FROM grafttr.wh.ev_t VERSION AS OF 2")
        head.crossJoin(v1).crossJoin(v2)
      },
      Some(s"""SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 3 = 0)
    AS n_head,
  (SELECT ${Exact.decSumSql("value", 2)} FROM events WHERE event_id % 3 = 0)
    AS sum_head,
  (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_v1,
  CAST(0 AS BIGINT) AS n_truncated""")),

    // --- PERSISTENT SQL VIEWS (DSv2 ViewCatalog,
    // sources/GraftViews.scala): `CREATE VIEW cat.ns.v AS SELECT ...`
    // stores the SQL text + resolution context as one metadata record
    // next to the table directories; the SELECT re-expands it at
    // resolution, so the view inherits the source's pushdown and
    // pruning unchanged. The gate runs an aggregate THROUGH the view
    // over a catalog table fed by the normal commit protocol —
    // proving name → stored text → table → snapshot resolution end to
    // end. ViewSpec pins the lifecycle (REPLACE/DROP/SHOW/ALTER/
    // RENAME, time-travel composition, record-format round-trip).
    QueryDef("q_sql_view",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "sqlview")
        spark.conf.set("spark.sql.catalog.graftvw",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftvw.warehouse", wh)
        val base = Tables.orders(spark, dir).select(
          col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
          col("o_totalprice").as("price"))
        writeHistory(base, s"$wh/wh/orders_t", "overwrite")
        spark.sql("""CREATE OR REPLACE VIEW graftvw.wh.pricey AS
          SELECT prio, price FROM graftvw.wh.orders_t WHERE price > 1000.0""")
        spark.sql(
          "SELECT prio, count(*) AS n, " +
            s"${Exact.decSumSql("price", 2).replace("VARCHAR", "STRING")} AS sum_price " +
            "FROM graftvw.wh.pricey GROUP BY prio ORDER BY prio")
      },
      Some(s"""SELECT o_orderpriority AS prio, count(*) AS n,
  ${Exact.decSumSql("o_totalprice", 2)} AS sum_price
FROM orders WHERE o_totalprice > 1000.0
GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // --- STORAGE-PARTITIONED JOIN (hash-bucketed manifest tables +
    // scan-reported KeyGroupedPartitioning + the catalog `bucket`
    // function — the Iceberg SPJ shape): orders and lineitem land
    // bucketed by orderkey (`option("buckets", 8)`; the writer routes
    // each row by graft.functions.GraftBucket, the part metadata
    // records the ordinal), and the join on the key then ZIPS the
    // bucket partitions pairwise — NO shuffle on either side (SpjSpec
    // pins the exchange-free plan; this gate pins the answer). At
    // 100 TB this turns the fact-to-fact join from a full-table
    // exchange into a co-located merge — the single largest shuffle
    // a warehouse pays, deleted by layout.
    QueryDef("q_spj_join",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "spj")
        spark.conf.set("spark.sql.catalog.graftsp",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftsp.warehouse", wh)
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        def writeBucketed(df: DataFrame, name: String): Unit =
          df.repartition(8, graft.functions.GraftBucket.bucketId(col("k"), 8))
            .write.format("graft.sources.ManifestSource")
            .option("path", s"$wh/wh/$name")
            .option("buckets", "8").mode("overwrite").save()
        writeBucketed(Tables.lineitem(spark, dir).select(
          col("l_orderkey").as("k"), col("l_quantity"),
          col("l_extendedprice")), "li_t")
        writeBucketed(Tables.orders(spark, dir).select(
          col("o_orderkey").as("k"), col("o_orderpriority").as("prio")),
          "ord_t")
        spark.sql(
          "SELECT o.prio, count(*) AS n, " +
            s"${Exact.decSumSql("l.l_quantity", 2).replace("VARCHAR", "STRING")} AS sum_qty, " +
            s"${Exact.decSumSql("l.l_extendedprice", 2).replace("VARCHAR", "STRING")} AS sum_price " +
            "FROM graftsp.wh.li_t l JOIN graftsp.wh.ord_t o ON l.k = o.k " +
            "GROUP BY o.prio ORDER BY o.prio")
      },
      Some(s"""SELECT o_orderpriority AS prio, count(*) AS n,
  ${Exact.decSumSql("l_quantity", 2)} AS sum_qty,
  ${Exact.decSumSql("l_extendedprice", 2)} AS sum_price
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // --- SNAPSHOT TAGS (immutable named refs, Iceberg-tag
    // semantics): `CALL cat.system.tag(...)` pins the release
    // snapshot under a name, `VERSION AS OF 'baseline'` reads it by
    // that name, and — the substance — EXPIRE RETAINS IT: with
    // keep_last => 1 over three overwrite generations, the untagged
    // middle snapshot expires (its 4 part files reclaimed, gated
    // exactly), while the tagged v1 stays readable in full. The
    // audit/repro pin that makes "reproduce last quarter's training
    // run" a name, not an archaeology project. ProcedureSpec pins
    // tag immutability, drop_tag → re-expirable, and the loud
    // failure of the expired middle read.
    QueryDef("q_time_travel_tag",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "tagtt")
        spark.conf.set("spark.sql.catalog.grafttg",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.grafttg.warehouse", wh)
        val base = Tables.events(spark, dir)
          .select(col("event_id"), col("value"))
        val t = s"$wh/wh/ev_t"
        writeHistory(base.filter(col("event_id") % 4 === 0), t, "overwrite")
        spark.sql(
          "CALL grafttg.system.tag(table => 'wh.ev_t', name => 'baseline')")
        writeHistory(base.filter(col("event_id") % 4 === 1), t, "overwrite")
        writeHistory(base.filter(col("event_id") % 4 === 2), t, "overwrite")
        val ex = spark.sql(
          "CALL grafttg.system.expire_snapshots(table => 'wh.ev_t', " +
            "keep_last => 1, orphan_grace_ms => 86400000)")
        val tag = spark.sql(
          "SELECT count(*) AS n_tag, " +
            s"${Exact.decSumSql("value", 2).replace("VARCHAR", "STRING")} AS sum_tag " +
            "FROM grafttg.wh.ev_t VERSION AS OF 'baseline'")
        val head = spark.sql(
          "SELECT count(*) AS n_head FROM grafttg.wh.ev_t")
        ex.crossJoin(tag).crossJoin(head)
      },
      Some(s"""SELECT CAST(1 AS INT) AS versions_expired,
  CAST(4 AS INT) AS files_deleted, CAST(2 AS INT) AS versions_retained,
  (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 4 = 0)
    AS n_tag,
  (SELECT ${Exact.decSumSql("value", 2)} FROM events WHERE event_id % 4 = 0)
    AS sum_tag,
  (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 4 = 2)
    AS n_head""")),

    // --- CHECK CONSTRAINTS (DSv2 constraints, SPARK-51207): `ALTER
    // TABLE ADD CONSTRAINT … CHECK (…)` persists the predicate, the
    // loaded table reports it ENFORCED, and the ENGINE wraps every
    // write in a CheckInvariant — a violating batch fails WHOLE
    // before any part commits. The gate proves the atomicity: the
    // valid batch lands, the poisoned batch (one negative value
    // smuggled into real events rows) is rejected, and the table's
    // rollup equals the valid batch EXACTLY — n_rejected_batches is
    // part of the gated output, so the oracle match certifies both
    // the rejection and the zero-partial-write contract.
    QueryDef("q_check_constraint",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "checkc")
        spark.conf.set("spark.sql.catalog.graftck",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftck.warehouse", wh)
        spark.sql(
          "CREATE TABLE graftck.wh.ev_t (event_id BIGINT, value DOUBLE)")
        spark.sql("ALTER TABLE graftck.wh.ev_t " +
          "ADD CONSTRAINT value_bounded CHECK (value >= -1000000.0)")
        val base = Tables.events(spark, dir)
          .select(col("event_id"), col("value"))
        base.filter(col("event_id") % 2 === 0)
          .createOrReplaceTempView("graft_check_ok")
        base.filter(col("event_id") % 2 =!= 0)
          .union(spark.range(1).select(lit(-1L).as("event_id"),
            lit(-2000000.0).as("value")))
          .createOrReplaceTempView("graft_check_bad")
        spark.sql(
          "INSERT INTO graftck.wh.ev_t SELECT * FROM graft_check_ok")
        val rejected =
          try {
            spark.sql(
              "INSERT INTO graftck.wh.ev_t SELECT * FROM graft_check_bad")
            0
          } catch { case _: Exception => 1 }
        spark.sql(
          "SELECT count(*) AS n_rows, " +
            s"${Exact.decSumSql("value", 2).replace("VARCHAR", "STRING")} AS sum_value " +
            "FROM graftck.wh.ev_t")
          .withColumn("n_rejected_batches", lit(rejected))
      },
      Some(s"""SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 2 = 0)
    AS n_rows,
  (SELECT ${Exact.decSumSql("value", 2)} FROM events WHERE event_id % 2 = 0)
    AS sum_value,
  CAST(1 AS INT) AS n_rejected_batches""")),

    // --- REPLACE WHERE: filter-scoped INSERT OVERWRITE
    // (OverwriteByExpression via SupportsOverwrite) — the
    // restatement primitive every warehouse backfill uses: ONE
    // atomic snapshot deletes the predicate's rows and lands the
    // corrected batch, so readers never see the between state
    // (ReplaceWhereSpec pins atomicity + the part cost shape:
    // stats-disjoint parts carried by REFERENCE, fully-covered parts
    // dropped metadata-only, only straddlers COW-rewritten). Here
    // every 'click' row is replaced by a corrected restatement that
    // both rewrites values AND drops a third of the rows — replace,
    // not update. The v1 snapshot is restated via time travel: the
    // pre-replace data survives the overwrite bit-for-bit.
    QueryDef("q_replace_where",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "rwhere")
        spark.conf.set("spark.sql.catalog.graftrw",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftrw.warehouse", wh)
        Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"), col("value"))
          .repartitionByRange(8, col("event_id"))
          .write.format("graft.sources.ManifestSource")
          .option("path", s"$wh/wh/ev_t")
          .mode("overwrite").save()
        Tables.events(spark, dir)
          .filter(col("event_type") === "click" && col("event_id") % 3 =!= 0)
          .select(col("event_id"), col("event_type"),
            (col("value") * 2).as("value"))
          .createOrReplaceTempView("graft_rw_fix")
        spark.sql("INSERT INTO graftrw.wh.ev_t " +
          "REPLACE WHERE event_type = 'click' " +
          "SELECT event_id, event_type, value FROM graft_rw_fix")
        def agg(version: Option[Int]) = {
          val v = version.map(n => s" VERSION AS OF $n").getOrElse("")
          spark.sql(s"""
            SELECT event_type, count(*) AS n,
              ${Exact.decSumSql("value", 6).replace("VARCHAR", "STRING")}
                AS sum_value
            FROM graftrw.wh.ev_t$v
            WHERE event_type IN ('click', 'view')
            GROUP BY event_type""")
        }
        agg(None).withColumn("snapshot", lit("head"))
          .unionAll(agg(Some(1)).withColumn("snapshot", lit("v1")))
          .orderBy(col("snapshot"), col("event_type"))
      },
      Some(s"""SELECT event_type, n, sum_value, snapshot FROM (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
    ${Exact.decSumSql("value * 2", 6)} AS sum_value, 'head' AS snapshot
  FROM events WHERE event_type = 'click' AND event_id % 3 <> 0
  GROUP BY event_type
  UNION ALL
  SELECT event_type, CAST(count(*) AS BIGINT),
    ${Exact.decSumSql("value", 6)}, 'head'
  FROM events WHERE event_type = 'view' GROUP BY event_type
  UNION ALL
  SELECT event_type, CAST(count(*) AS BIGINT),
    ${Exact.decSumSql("value", 6)}, 'v1'
  FROM events WHERE event_type IN ('click', 'view')
  GROUP BY event_type)
ORDER BY snapshot, event_type""")),

    // --- BOUNDED STREAMING BACKFILL (admission control,
    // sources.ManifestMicroBatchStream): a fresh consumer of a
    // 100 TB table must not plan its whole backlog as ONE micro-batch
    // — `option("maxPartsPerTrigger", n)` budgets each trigger to the
    // snapshot versions whose newly-added parts fit (version
    // granularity, ≥1 version per batch — Delta's maxFilesPerTrigger
    // shape), so the catch-up runs as incremental, checkpointed,
    // restart-safe batches. Four commits of two parts each under a
    // 4-part budget drain in EXACTLY two batches; the batch count
    // rides the gated output (deterministic: commit layout and budget
    // are fixed), and the final aggregate proves the budgeted drain
    // delivered every row exactly once. ManifestStreamSpec pins the
    // per-budget batch counts (2/4/oversized/unbudgeted).
    QueryDef("q_stream_backfill",
      (spark0, dir) => {
        val spark = graft.streaming.Streams.streamSession(spark0)
        val t = freshTable(spark, dir, "backfill")
        val base = Tables.orders(spark, dir).select(
          col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
          col("o_totalprice").as("price"))
        writeHistory(base.filter(col("k") % 4 === 0), t, "overwrite", 2)
        writeHistory(base.filter(col("k") % 4 === 1), t, "append", 2)
        writeHistory(base.filter(col("k") % 4 === 2), t, "append", 2)
        writeHistory(base.filter(col("k") % 4 === 3), t, "append", 2)
        val q = spark.readStream
          .format("graft.sources.ManifestSource").option("path", t)
          .option("maxPartsPerTrigger", "4").load()
          .groupBy(col("prio"))
          .agg(count(lit(1)).as("n"),
            Exact.decSum(col("price"), 2).as("sum_price"))
          .writeStream.format("memory")
          .queryName("graft_stream_backfill")
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val nBatches = q.recentProgress.count(_.numInputRows > 0)
        spark.table("graft_stream_backfill")
          .withColumn("n_batches", lit(nBatches))
          .orderBy(col("prio"))
      },
      Some(s"""SELECT o_orderpriority AS prio, count(*) AS n,
  ${Exact.decSumSql("o_totalprice", 2)} AS sum_price,
  CAST(2 AS INT) AS n_batches
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // --- MATERIALIZED VIEW with INCREMENTAL refresh
    // (sources/ManifestMv, CALL create_mv / refresh_mv): the rollup
    // is materialized once at v1, the source then takes an APPEND and
    // a MERGE-ON-READ DELETE (deletion-vector commit), and ONE
    // refresh folds both commits' snapshot delta — new parts as
    // +rows, vector-changed parts restated ±, O(changed parts) +
    // O(groups), never a source rescan. Decimal partials make
    // incremental == full-recompute bit-for-bit (MvSpec pins every
    // mutation kind incl. compaction and crash-replay); the gated
    // output is the refreshed MV itself plus the refresh audit
    // (versions folded), which the oracle restates directly from
    // events. The at-scale claim: a 100 TB source with a 100-group MV
    // refreshes by reading exactly the parts the day's commits
    // touched.
    QueryDef("q_mv_refresh",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "mvref")
        spark.conf.set("spark.sql.catalog.graftmv",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftmv.warehouse", wh)
        val base = Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"), col("value"))
        base.filter(col("event_id") % 3 =!= 2)
          .repartitionByRange(4, col("event_id"))
          .write.format("graft.sources.ManifestSource")
          .option("path", s"$wh/wh/ev_t")
          .mode("overwrite").save()
        spark.sql("CALL graftmv.system.create_mv(" +
          "mv_table => 'wh.ev_mv', source_table => 'wh.ev_t', " +
          "key_col => 'event_type', sum_col => 'value', scale => 6)")
        // two source commits since the MV: an append and a MOR delete
        base.filter(col("event_id") % 3 === 2)
          .repartitionByRange(2, col("event_id"))
          .write.format("graft.sources.ManifestSource")
          .option("path", s"$wh/wh/ev_t")
          .mode("append").save()
        withConf(spark, "graft.delete.mode" -> "mor") {
          spark.sql("DELETE FROM graftmv.wh.ev_t WHERE event_type = 'error'")
        }
        val audit = spark.sql(
          "CALL graftmv.system.refresh_mv(mv_table => 'wh.ev_mv')").head
        spark.sql("""
          SELECT event_type,
            n_rows,
            CAST(CAST(sum_value AS STRING) AS DOUBLE) AS sum_value
          FROM graftmv.wh.ev_mv""")
          .withColumn("from_version", lit(audit.getInt(0)))
          .withColumn("to_version", lit(audit.getInt(1)))
          .orderBy(col("event_type"))
      },
      Some(s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
  ${Exact.decSumSql("value", 6)} AS sum_value,
  CAST(1 AS INT) AS from_version, CAST(3 AS INT) AS to_version
FROM events
WHERE event_type IS DISTINCT FROM 'error'
GROUP BY event_type
ORDER BY event_type NULLS FIRST""")),

    // --- TRANSPARENT MV ROUTING (sources/MvRewrite, injected by
    // GraftExtensions): the SAME GROUP BY SQL is planned twice — while
    // the MV is FRESH the optimizer deletes the Aggregate and serves
    // the MV (O(groups) read, `used_mv` pins the plan swap), and after
    // an un-refreshed source append it falls back to the full scan
    // (`used_mv` false, and the answer includes the new rows — the
    // fallback is what makes the rewrite safe to leave on). Each
    // phase's tiny rollup is pinned via localCheckpoint at plan time,
    // so the gated union is immune to the conf reset. The at-scale
    // claim: the 1000×/day dashboard rollup over a 100 TB table reads
    // a 100-row MV, exactness enforced by watermark + version pin, and
    // staleness degrades to correct-but-slower, never to wrong.
    QueryDef("q_mv_rewrite",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "mvrw")
        spark.conf.set("spark.sql.catalog.graftmvrw",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftmvrw.warehouse", wh)
        val base = Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"), col("value"))
        base.filter(col("event_id") % 5 =!= 0)
          .repartitionByRange(4, col("event_id"))
          .write.format("graft.sources.ManifestSource")
          .option("path", s"$wh/wh/ev_t")
          .mode("overwrite").save()
        spark.sql("CALL graftmvrw.system.create_mv(" +
          "mv_table => 'wh.ev_mv', source_table => 'wh.ev_t', " +
          "key_col => 'event_type', sum_col => 'value', scale => 6)")
        withConf(spark, "graft.mv.rewrite" -> s"$wh/wh/ev_mv") {
          val rollup = """SELECT event_type, count(*) AS n_rows,
            CAST(CAST(sum(CAST(value AS DECIMAL(30,6))) AS STRING)
              AS DOUBLE) AS sum_value
            FROM graftmvrw.wh.ev_t GROUP BY event_type"""
          def phase(name: String) = {
            val q = spark.sql(rollup)
            val usedMv = !q.queryExecution.optimizedPlan.exists(
              _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate])
            q.withColumn("phase", lit(name))
              .withColumn("used_mv", lit(usedMv))
              .pinned()
          }
          val fresh = phase("fresh")
          // an un-refreshed append: the MV is now stale — full fallback
          base.filter(col("event_id") % 5 === 0)
            .repartitionByRange(2, col("event_id"))
            .write.format("graft.sources.ManifestSource")
            .option("path", s"$wh/wh/ev_t")
            .mode("append").save()
          val stale = phase("stale")
          fresh.unionAll(stale)
            .orderBy(col("phase"), col("event_type"))
        }
      },
      Some(s"""SELECT event_type, n_rows, sum_value, phase, used_mv FROM (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
    ${Exact.decSumSql("value", 6)} AS sum_value,
    'fresh' AS phase, TRUE AS used_mv
  FROM events WHERE event_id % 5 <> 0 GROUP BY event_type
  UNION ALL
  SELECT event_type, CAST(count(*) AS BIGINT),
    ${Exact.decSumSql("value", 6)}, 'stale', FALSE
  FROM events GROUP BY event_type)
ORDER BY phase, event_type NULLS FIRST""")),

    // --- METADATA-ONLY AGGREGATES (SupportsPushDownAggregates,
    // sources/ManifestSource canPushAgg): a global COUNT(*) / MIN(key)
    // / MAX(key) is exactly what the manifest already stores per part,
    // so the scan answers it from version metadata without opening ONE
    // data file — complete pushdown, a single summary row, no
    // aggregation exec in the plan ("count a petabyte table from its
    // footers"). The `pushed` flag rides the gated output: the scan
    // plans exactly one summary partition and the physical plan has no
    // Aggregate node (ManifestSourceSpec additionally pins the decline
    // cases: COUNT(col), filters, deletion vectors). The oracle
    // recomputes all three from the raw rows — metadata and data must
    // agree exactly.
    QueryDef("q_agg_pushdown",
      (spark, dir) => {
        val t = freshTable(spark, dir, "aggpush")
        Tables.orders(spark, dir)
          .select(col("o_orderkey").as("k"),
            col("o_orderpriority").as("prio"),
            col("o_custkey").as("cust"),
            col("o_totalprice").as("price"))
          .repartitionByRange(8, col("k"))
          .write.format("graft.sources.ManifestSource")
          .option("path", t)
          .mode("overwrite").save()
        // cust is a SECONDARY long column — its extremes answer from
        // the generalized ColStat record, same metadata-only path
        val agg = spark.read.format("graft.sources.ManifestSource")
          .option("path", t).load()
          .agg(count(lit(1)).as("n_rows"),
            min(col("k")).as("min_k"), max(col("k")).as("max_k"),
            min(col("prio")).as("min_prio"), max(col("prio")).as("max_prio"),
            min(col("cust")).as("min_cust"), max(col("cust")).as("max_cust"))
        val pushed = {
          val sp = agg.queryExecution.sparkPlan
          val summaryParts = sp.collectFirst {
            case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
              b.inputPartitions.length
          }.getOrElse(-1)
          summaryParts == 1 && graft.sources.PlanProbes.aggPushedDown(sp)
        }
        agg.withColumn("pushed", lit(pushed))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
  min(o_orderkey) AS min_k, max(o_orderkey) AS max_k,
  min(o_orderpriority) AS min_prio, max(o_orderpriority) AS max_prio,
  min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
  TRUE AS pushed
FROM orders""")),

    // --- ZERO-COPY SHALLOW CLONE (CALL cat.system.clone,
    // sources/GraftProcedures CloneProcedure): the clone's first
    // snapshot REFERENCES the source's parts — one manifest write, no
    // data copied (`files_copied` counts data files physically under
    // the clone dir right after the CALL: zero rides the gated
    // output). From there the tables diverge independently: the
    // source takes an append the clone never sees, the clone takes an
    // append the source never sees, and both head rollups restate
    // exactly. The dev/test fork workflow at 100 TB: clone prod, run
    // the migration against the clone, diff, drop — minutes, not a
    // copy. ProcedureSpec pins version cloning, target-exists
    // rejection, and vacuum independence.
    QueryDef("q_clone_shallow",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "clone")
        spark.conf.set("spark.sql.catalog.graftcl",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftcl.warehouse", wh)
        val base = Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"), col("value"))
        def write(df: org.apache.spark.sql.DataFrame, path: String,
            mode: String): Unit =
          df.repartitionByRange(4, col("event_id"))
            .write.format("graft.sources.ManifestSource")
            .option("path", path)
            .mode(mode).save()
        write(base.filter(col("event_id") % 4 =!= 1), s"$wh/wh/ev_t",
          "overwrite")
        spark.sql("CALL graftcl.system.clone(source_table => 'wh.ev_t', " +
          "target_table => 'wh.ev_clone')")
        val filesCopied = {
          val p = new org.apache.hadoop.fs.Path(s"$wh/wh/ev_clone")
          p.getFileSystem(spark.sessionState.newHadoopConf())
            .listStatus(p).count(st =>
              graft.sources.ManifestSink.isPartFile(st.getPath.getName))
        }
        // the tables diverge independently from here
        write(base.filter(col("event_id") % 4 === 1), s"$wh/wh/ev_t",
          "append")
        write(base.filter(col("event_id") % 8 === 1), s"$wh/wh/ev_clone",
          "append")
        def rollup(table: String, side: String) =
          spark.sql(s"""
            SELECT event_type, count(*) AS n,
              ${Exact.decSumSql("value", 6).replace("VARCHAR", "STRING")}
                AS sum_value
            FROM graftcl.wh.$table GROUP BY event_type""")
            .withColumn("side", lit(side))
        rollup("ev_t", "source").unionAll(rollup("ev_clone", "clone"))
          .withColumn("files_copied", lit(filesCopied))
          .orderBy(col("side"), col("event_type"))
      },
      Some(s"""SELECT event_type, n, sum_value, side, files_copied FROM (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
    ${Exact.decSumSql("value", 6)} AS sum_value, 'clone' AS side,
    CAST(0 AS INT) AS files_copied
  FROM events WHERE event_id % 4 <> 1 OR event_id % 8 = 1
  GROUP BY event_type
  UNION ALL
  SELECT event_type, CAST(count(*) AS BIGINT),
    ${Exact.decSumSql("value", 6)}, 'source', CAST(0 AS INT)
  FROM events GROUP BY event_type)
ORDER BY side, event_type NULLS FIRST""")),

    // --- GENERALIZED COLUMN STATS / data skipping on ANY column
    // (sources/ManifestSink ColStat + ManifestSource pruning): the
    // writer records min/max for EVERY additional long/string column
    // — not just the first of each — and the scan prunes parts on
    // predicates over any of them. Five appends split by order
    // priority give five parts with deterministic per-part prio
    // bounds; the priority filter then plans EXACTLY ONE part
    // (parts_planned/parts_total ride the gated output) even though
    // prio is neither the key column nor the primary string column.
    // The 100 TB claim: a predicate on any tracked column skips the
    // files that can't match BEFORE any data is read — zone maps on
    // every column, the Iceberg/Delta file-stats contract
    // (ColStatsSpec pins secondary long AND string pruning, all-null
    // degradation, codec hostility, and COW carry-forward).
    QueryDef("q_col_prune",
      (spark, dir) => {
        val t = freshTable(spark, dir, "colprune")
        val base = Tables.orders(spark, dir).select(
          col("o_orderkey").as("k"),          // primary long (key)
          col("o_orderstatus").as("status"),  // primary string
          col("o_orderpriority").as("prio"),  // SECONDARY string
          col("o_custkey").as("cust"),        // SECONDARY long
          col("o_totalprice").as("price"))
        val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW")
        prios.zipWithIndex.foreach { case (p, i) =>
          base.filter(col("prio") === p).coalesce(1)
            .write.format("graft.sources.ManifestSource")
            .option("path", t)
            .mode(if (i == 0) "overwrite" else "append").save()
        }
        val q = spark.read.format("graft.sources.ManifestSource")
          .option("path", t).load()
          .filter(col("prio") === "3-MEDIUM")
          .groupBy(col("status"))
          .agg(count(lit(1)).as("n"),
            Exact.decSum(col("price"), 2).as("sum_price"))
        val planned = q.queryExecution.sparkPlan.collectFirst {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.inputPartitions.length
        }.getOrElse(-1)
        q.withColumn("parts_planned", lit(planned))
          .withColumn("parts_total", lit(prios.length))
          .orderBy(col("status"))
      },
      Some(s"""SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
  ${Exact.decSumSql("o_totalprice", 2)} AS sum_price,
  CAST(1 AS INT) AS parts_planned, CAST(5 AS INT) AS parts_total
FROM orders WHERE o_orderpriority = '3-MEDIUM'
GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // --- NULL-COUNT STATS (the third leg of the per-part stats
    // triple, Iceberg/Delta file-stats contract): the writer records
    // null counts for the key / first-string / every ColStat column,
    // and the scan prunes IS NULL against provably-zero-null parts
    // and IS NOT NULL against provably-all-null parts. The fixture
    // derives a nullable column (etype = NULLIF(event_type,'click')),
    // lands the all-null slice and the never-null slice as separate
    // parts, and gates both probes WITH their planned-part counts.
    QueryDef("q_null_prune",
      (spark, dir) => {
        val t = freshTable(spark, dir, "nullprune")
        val base = Tables.events(spark, dir)
          .filter(col("event_type").isNotNull)
          .select(col("event_id"),
            nullif(col("event_type"), lit("click")).as("etype"),
            col("value"))
        Seq(col("etype").isNull, col("etype").isNotNull).zipWithIndex
          .foreach { case (p, i) =>
            base.filter(p).coalesce(1)
              .write.format("graft.sources.ManifestSource")
              .option("path", t)
              .mode(if (i == 0) "overwrite" else "append").save()
          }
        def probe(pred: String) = spark.read
          .format("graft.sources.ManifestSource").option("path", t).load()
          .filter(expr(pred))
          .agg(count(lit(1)).as("n"))
        def planned(pred: String): Int =
          probe(pred).queryExecution.sparkPlan.collect {
            case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
              b.inputPartitions.size
          }.sum
        probe("etype IS NULL").withColumn("which", lit("is_null"))
          .withColumn("parts_planned", lit(planned("etype IS NULL")))
          .unionAll(probe("etype IS NOT NULL")
            .withColumn("which", lit("not_null"))
            .withColumn("parts_planned",
              lit(planned("etype IS NOT NULL"))))
          .orderBy(col("which"))
      },
      Some("""SELECT n, which, parts_planned FROM (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM events
            WHERE event_type = 'click') AS n,
    'is_null' AS which, CAST(1 AS INT) AS parts_planned
  UNION ALL
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM events
            WHERE event_type IS NOT NULL AND event_type <> 'click'),
    'not_null', CAST(1 AS INT))
ORDER BY which""")),

    // --- METADATA-ONLY COUNT(col) (null counts close the gap the
    // agg-pushdown path used to decline): COUNT(col) = Σ per part of
    // (rows − null count), so a global COUNT over any tracked column
    // answers without opening a data file — alongside COUNT(*) and
    // MIN/MAX in one pushed aggregate. The `agg_pushed` flag pins the
    // plan (ManifestAggScan, one synthetic partition).
    QueryDef("q_agg_count_col",
      (spark, dir) => {
        val t = freshTable(spark, dir, "aggcount")
        Tables.events(spark, dir)
          .filter(col("event_type").isNotNull)
          .select(col("event_id"),
            nullif(col("event_type"), lit("click")).as("etype"),
            col("user_id"))
          .repartition(4)
          .write.format("graft.sources.ManifestSource")
          .option("path", t).mode("overwrite").save()
        val agg = spark.read.format("graft.sources.ManifestSource")
          .option("path", t).load()
          .agg(count(col("etype")).as("n_typed"),
            count(col("event_id")).as("n_ids"),
            count(col("user_id")).as("n_users"),
            count(lit(1)).as("n_rows"))
        val pushed = graft.sources.PlanProbes.aggPushedDown(
          agg.queryExecution.sparkPlan)
        agg.withColumn("agg_pushed", lit(pushed))
      },
      Some("""SELECT
  CAST(count(*) FILTER (WHERE event_type <> 'click') AS BIGINT) AS n_typed,
  CAST(count(event_id) AS BIGINT) AS n_ids,
  CAST(count(user_id) AS BIGINT) AS n_users,
  CAST(count(*) AS BIGINT) AS n_rows,
  true AS agg_pushed
FROM events WHERE event_type IS NOT NULL""")),

    // --- METADATA-ONLY SUM (per-part sum stats, the 4th leg of the
    // file-stats record after min/max/null_count): the writer streams
    // an EXACT running sum per tracked long column (Math.addExact —
    // a part whose sum would overflow records "untracked" instead of
    // wrapping), the manifest carries it in the column's ColStat.sum,
    // and a global SUM/COUNT/MIN/MAX
    // pushes down completely: one summary row from KBs of metadata,
    // zero data files opened, at any table size. The fold itself also
    // add-exacts and DECLINES to a real scan on overflow — a metadata
    // answer is only ever served when it is provably the exact one
    // (deletion vectors and pre-sum manifests decline too; ANALYZE
    // re-tightens sums over visible rows and restores the path).
    QueryDef("q_agg_sum_meta",
      (spark, dir) => {
        val t = freshTable(spark, dir, "aggsum")
        Tables.orders(spark, dir)
          .select(col("o_orderkey").as("k"), col("o_custkey").as("cust"))
          .repartition(6)
          .write.format("graft.sources.ManifestSource")
          .option("path", t).mode("overwrite").save()
        val agg = spark.read.format("graft.sources.ManifestSource")
          .option("path", t).load()
          .agg(sum(col("k")).as("sum_k"),
            sum(col("cust")).as("sum_cust"),
            count(lit(1)).as("n_rows"),
            min(col("k")).as("min_k"), max(col("cust")).as("max_cust"))
        val pushed = graft.sources.PlanProbes.aggPushedDown(
          agg.queryExecution.sparkPlan)
        agg.withColumn("agg_pushed", lit(pushed))
      },
      Some("""SELECT CAST(sum(o_orderkey) AS BIGINT) AS sum_k,
  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
  CAST(count(*) AS BIGINT) AS n_rows,
  min(o_orderkey) AS min_k, max(o_custkey) AS max_cust,
  true AS agg_pushed
FROM orders""")),

    // --- IDENTITY-PARTITIONED LAYOUT (`option("splitBy", c)` —
    // the Hive/Iceberg identity-partition shape carried by per-part
    // stats instead of directory names): the write demands a CLUSTERED
    // distribution on the column (each distinct value shuffled to one
    // task) and the task writer opens one part file per value, so the
    // table commits EXACTLY ONE SINGLE-VALUED PART PER DISTINCT VALUE.
    // Point predicates on the column then prune to precisely the
    // value's part — at 100 TB, `event_type = 'click'` reads 1/ndv of
    // the table with zero file-listing cost. Gates ride the output:
    // `one_part_per_value` (parts planned unfiltered == distinct
    // values) and `parts_click` (the filtered scan plans exactly 1).
    QueryDef("q_split_layout",
      (spark, dir) => {
        val t = freshTable(spark, dir, "splitlay")
        Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"), col("user_id"))
          .repartition(8)
          .write.format("graft.sources.ManifestSource")
          .option("path", t).option("splitBy", "event_type")
          .mode("overwrite").save()
        def planned(df: DataFrame): Int =
          df.queryExecution.sparkPlan.collectFirst {
            case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
              b.inputPartitions.length
          }.getOrElse(-1)
        val base = spark.read.format("graft.sources.ManifestSource")
          .option("path", t).load()
        val ndv = base.select(col("event_type")).distinct().count()
        val onePartPerValue = planned(base) == ndv
        val clicks = base.filter(col("event_type") === "click")
        val rollup = clicks
          .agg(count(lit(1)).as("n_click"),
            min(col("event_id")).as("min_id"))
          .withColumn("one_part_per_value", lit(onePartPerValue))
          .withColumn("parts_click", lit(planned(clicks)))
        rollup
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_click,
  min(event_id) AS min_id,
  true AS one_part_per_value, CAST(1 AS INT) AS parts_click
FROM events WHERE event_type = 'click'""")),

    // --- GROUPED METADATA-ONLY AGGREGATES: on an identity-partitioned
    // table every live part is provably single-valued on the split
    // column (min==max, zero nulls, per-part stats), so `GROUP BY c`
    // with COUNT(*)/COUNT(col)/MIN/MAX/SUM is answered ENTIRELY from
    // the manifest — one output row per group, no data file opened,
    // no shuffle, no aggregate exec. This is the 100 TB "rows and
    // totals per day over 100k files" query every table format's
    // metadata exists to serve; a single straddling part, deletion
    // vector, or legacy manifest declines the whole answer to a real
    // scan (AggMetaSpec pins the decline ladder).
    QueryDef("q_agg_group_meta",
      (spark, dir) => {
        val t = freshTable(spark, dir, "agggroup")
        Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"), col("user_id"))
          .repartition(8)
          .write.format("graft.sources.ManifestSource")
          .option("path", t).option("splitBy", "event_type")
          .mode("overwrite").save()
        val q = spark.read.format("graft.sources.ManifestSource")
          .option("path", t).load()
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("event_id")).as("min_id"),
            max(col("event_id")).as("max_id"),
            sum(col("user_id")).as("sum_users"),
            count(col("user_id")).as("n_users"))
        val pushed = graft.sources.PlanProbes.aggPushedDown(
          q.queryExecution.sparkPlan)
        q.withColumn("agg_pushed", lit(pushed))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
  min(event_id) AS min_id, max(event_id) AS max_id,
  CAST(sum(user_id) AS BIGINT) AS sum_users,
  CAST(count(user_id) AS BIGINT) AS n_users,
  true AS agg_pushed
FROM events GROUP BY event_type
ORDER BY event_type NULLS FIRST""")),

    // --- STREAMING MV MAINTENANCE: the three warehouse streaming
    // pieces composed into the always-fresh-rollup loop a 100 TB
    // pipeline actually runs — a BUDGETED manifest stream
    // (maxPartsPerTrigger admission) drains an upstream feed in
    // deterministic micro-batches, each batch lands in the serving
    // table through the idempotent marker-gated append (medallion
    // txn gate), and `CALL refresh_mv` folds EXACTLY that batch's
    // snapshot delta into the MV — O(batch), never a rescan, and
    // crash/replay-safe twice over (marker dedupes the append, the
    // watermark makes a replayed refresh a no-op). The gated output
    // is the post-stream MV plus the batch count and final source
    // version, restated by the oracle from raw events.
    QueryDef("q_stream_mv",
      (spark0, dir) => {
        val spark = graft.streaming.Streams.streamSession(spark0)
        val wh = freshTable(spark, dir, "streammv")
        spark.conf.set("spark.sql.catalog.graftsmv",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftsmv.warehouse", wh)
        val base = Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"), col("value"))
        val src = s"$wh/wh/src"
        val feed = freshTable(spark, dir, "streammv-feed")
        def write(df: org.apache.spark.sql.DataFrame, path: String,
            mode: String): Unit =
          df.repartitionByRange(2, col("event_id"))
            .write.format("graft.sources.ManifestSource")
            .option("path", path)
            .mode(mode).save()
        write(base.filter(col("event_id") % 3 === 0), src, "overwrite")
        spark.sql("CALL graftsmv.system.create_mv(" +
          "mv_table => 'wh.mv', source_table => 'wh.src', " +
          "key_col => 'event_type', sum_col => 'value', scale => 6)")
        // the upstream feed: two commits of two parts each — a budget
        // of 2 parts/trigger admits exactly one commit per batch
        write(base.filter(col("event_id") % 3 === 1), feed, "overwrite")
        write(base.filter(col("event_id") % 3 === 2), feed, "append")
        val hconf = spark.sessionState.newHadoopConf()
        var lastTo = -1
        val q = spark.readStream
          .format("graft.sources.ManifestSource").option("path", feed)
          .option("maxPartsPerTrigger", "2").load()
          .writeStream
          .option("checkpointLocation",
            freshTable(spark, dir, "stream_mv-ckpt"))
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
              batchId: Long) =>
            val marker = new org.apache.hadoop.fs.Path(src,
              f"_BATCH-$batchId%05d")
            val fs = marker.getFileSystem(hconf)
            if (!fs.exists(marker)) {
              batch.repartitionByRange(2, col("event_id"))
                .write.format("graft.sources.ManifestSource")
                .option("path", src)
                .mode("append").save()
              fs.create(marker, false).close()
            }
            lastTo = spark.sql(
              "CALL graftsmv.system.refresh_mv(mv_table => 'wh.mv')")
              .head.getInt(1)
            ()
          }
          .start()
        q.awaitTermination()
        val nBatches = q.recentProgress.count(_.numInputRows > 0)
        spark.sql("""
          SELECT event_type, n_rows,
            CAST(CAST(sum_value AS STRING) AS DOUBLE) AS sum_value
          FROM graftsmv.wh.mv""")
          .withColumn("n_batches", lit(nBatches))
          .withColumn("final_version", lit(lastTo))
          .orderBy(col("event_type"))
      },
      Some(s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
  ${Exact.decSumSql("value", 6)} AS sum_value,
  CAST(2 AS INT) AS n_batches, CAST(3 AS INT) AS final_version
FROM events GROUP BY event_type
ORDER BY event_type NULLS FIRST""")),

    // --- PARTITION-SPEC / LAYOUT EVOLUTION (`CALL set_layout` —
    // Iceberg ADD PARTITION FIELD, sources/GraftProcedures.scala):
    // the spec change is METADATA-ONLY (at 100 TB an eager re-layout
    // inside DDL would be an O(table) rewrite), so the table passes
    // through three observable states, all gated: (1) generation-1
    // parts written unpartitioned; (2) after set_layout, the NEXT
    // plain INSERT routes through the bucketed writer (gen2_parts=4,
    // no writer options) while gen-1 parts stay readable exactly as
    // committed — the mixed-generation union answers the mid-
    // migration count (SPJ demotes rather than mis-joins; SpjSpec
    // pins the plan); (3) `CALL compact` MIGRATES everything to the
    // head spec — every post-compact part carries a bucket ordinal
    // and the rollup is unchanged. The oracle restates the union and
    // the deterministic part counts.
    QueryDef("q_layout_evolve",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "layoutev")
        spark.conf.set("spark.sql.catalog.graftle",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftle.warehouse", wh)
        spark.sql("CREATE TABLE graftle.wh.ev_t " +
          "(event_id BIGINT, user_id BIGINT, value DOUBLE)")
        Tables.events(spark, dir)
          .select(col("event_id"), col("user_id"), col("value"))
          .createOrReplaceTempView("le_src")
        spark.sql("INSERT INTO graftle.wh.ev_t " +
          "SELECT * FROM le_src WHERE event_id % 2 = 0")
        val res = spark.sql("CALL graftle.system.set_layout(" +
          "table => 'wh.ev_t', spec => 'bucket(4,event_id)')")
        spark.sql("INSERT INTO graftle.wh.ev_t " +
          "SELECT * FROM le_src WHERE event_id % 2 = 1")
        // materialize the MID-MIGRATION observations before compact
        // runs — the metadata table reads head state at execution,
        // and the gated DataFrame executes after the CALL below
        val genRow = spark.sql(
          "SELECT sum(CASE WHEN bucket >= 0 THEN 1 ELSE 0 END) AS gen2_parts, " +
            "sum(CASE WHEN bucket < 0 THEN 1 ELSE 0 END) > 0 AS has_gen1 " +
            "FROM graftle.wh.ev_t.files").head
        val gens = spark.range(1).select(
          lit(genRow.getLong(0)).as("gen2_parts"),
          lit(genRow.getBoolean(1)).as("has_gen1"))
        val mid = spark.range(1).select(
          lit(spark.table("graftle.wh.ev_t").count()).as("n_rows_mixed"))
        spark.sql("CALL graftle.system.compact(" +
          "table => 'wh.ev_t', target_parts => 4)")
        val post = spark.sql(
          "SELECT sum(CASE WHEN bucket >= 0 THEN 1 ELSE 0 END) AS bucketed_post, " +
            "count(*) AS n_parts_post FROM graftle.wh.ev_t.files")
        val agg = spark.sql(
          "SELECT count(*) AS n_rows, sum(user_id) AS sum_users, " +
            "min(event_id) AS key_min, max(event_id) AS key_max " +
            "FROM graftle.wh.ev_t")
        res.crossJoin(gens).crossJoin(mid).crossJoin(post).crossJoin(agg)
      },
      Some("""SELECT 'none' AS old_layout,
  'bucket(4,event_id)' AS new_layout,
  CAST(4 AS BIGINT) AS gen2_parts, true AS has_gen1,
  (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_rows_mixed,
  CAST(4 AS BIGINT) AS bucketed_post, CAST(4 AS BIGINT) AS n_parts_post,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(user_id) AS BIGINT) AS sum_users,
  min(event_id) AS key_min, max(event_id) AS key_max
FROM events""")),

    // --- BRANCH-SCOPED DML (`graft.branch` session routing — the
    // Iceberg `spark.wap.branch` shape): write-audit-publish grows
    // from "stage appends on a branch" to FULL DML on the branch
    // line — UPDATE and DELETE with the session branch set read the
    // audit head and commit audit versions, with conflict detection
    // pinned to the branch's own line. The gate drives the whole
    // audit loop: branch UPDATE (%100=0 rows relabeled) + branch
    // DELETE (%100=50 rows dropped) are INVISIBLE to main (the
    // mid-audit main rollup is restated by the oracle as the raw
    // table), then `fast_forward` publishes and main serves the
    // audited state — restated by the oracle analytically. At
    // 100 TB this is how risky backfills actually ship: full DML
    // against a branch, validate, publish as one metadata flip.
    QueryDef("q_wap_dml",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "wapdml")
        spark.conf.set("spark.sql.catalog.graftwd",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftwd.warehouse", wh)
        val base = Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"), col("value"))
        base.repartitionByRange(4, col("event_id"))
          .write.format("graft.sources.ManifestSource")
          .option("path", s"$wh/wh/ev_t")
          .mode("overwrite").save()
        withConf(spark, "graft.branch" -> "audit") {
          spark.sql("UPDATE graftwd.wh.ev_t SET event_type = 'audited' " +
            "WHERE event_id % 100 = 0")
          spark.sql("DELETE FROM graftwd.wh.ev_t WHERE event_id % 100 = 50")
        }
        // mid-audit: main must still serve the RAW table
        val mid = spark.sql(
          "SELECT count(*) AS n, " +
            "sum(CASE WHEN event_type = 'audited' THEN 1 ELSE 0 END) AS a " +
            "FROM graftwd.wh.ev_t").head
        spark.sql("CALL graftwd.system.fast_forward(" +
          "table => 'wh.ev_t', branch => 'audit')")
        spark.sql(
          "SELECT count(*) AS n_rows, " +
            "sum(CASE WHEN event_type = 'audited' THEN 1 ELSE 0 END) " +
            "AS n_audited, " +
            s"${Exact.decSumSql("value", 2).replace("VARCHAR", "STRING")} " +
            "AS sum_value " +
            "FROM graftwd.wh.ev_t")
          .withColumn("n_main_mid", lit(mid.getLong(0)))
          .withColumn("n_audited_mid", lit(mid.getLong(1)))
      },
      Some(s"""SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 100 <> 50)
    AS n_rows,
  (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 100 = 0)
    AS n_audited,
  (SELECT ${Exact.decSumSql("value", 2)} FROM events
    WHERE event_id % 100 <> 50) AS sum_value,
  CAST(count(*) AS BIGINT) AS n_main_mid,
  CAST(0 AS BIGINT) AS n_audited_mid
FROM events""")),

    // --- MV MIN/MAX (create_mv minmax_col — sources/ManifestMv):
    // counts and sums fold under ANY delta, but an extreme is only
    // monotone under appends — a delete may remove the very row that
    // held a group's MIN. The refresh therefore splits: plus-only
    // groups FOLD (least/greatest against the stored extreme, no
    // rescan), while any group seen on the minus side RECOMPUTES
    // from the live head semi-joined to exactly those keys —
    // O(affected groups' parts), never O(table); at 100 TB a delete
    // touching one group costs one group's parts, not a petabyte
    // rescan. The fixture drives both paths (append refresh:
    // minus=0, fold; %10 MOR delete that removes group minima:
    // minus=4, recompute), then proves TRANSPARENT ROUTING — the
    // MIN/MAX rollup's optimized plan has no Aggregate left, it
    // reads the MV — and gates the final MV against the oracle's
    // from-scratch restatement (bit-exact, not approximate).
    QueryDef("q_mv_minmax",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "mvmm")
        spark.conf.set("spark.sql.catalog.graftmvx",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftmvx.warehouse", wh)
        val base = Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"), col("value"))
        def write(df: DataFrame, mode: String): Unit =
          df.repartitionByRange(2, col("event_id"))
            .write.format("graft.sources.ManifestSource")
            .option("path", s"$wh/wh/src")
            .mode(mode).save()
        write(base.filter(col("event_id") % 3 =!= 1), "overwrite")
        spark.sql("CALL graftmvx.system.create_mv(" +
          "mv_table => 'wh.mv', source_table => 'wh.src', " +
          "key_col => 'event_type', sum_col => 'value', scale => 6, " +
          "minmax_col => 'event_id')")
        write(base.filter(col("event_id") % 3 === 1), "append")
        val r1 = spark.sql(
          "CALL graftmvx.system.refresh_mv(mv_table => 'wh.mv')").head
        withConf(spark, "graft.delete.mode" -> "mor") {
          spark.sql("DELETE FROM graftmvx.wh.src WHERE event_id % 10 = 0")
        }
        val r2 = spark.sql(
          "CALL graftmvx.system.refresh_mv(mv_table => 'wh.mv')").head
        withConf(spark, "graft.mv.rewrite" -> s"$wh/wh/mv") {
          val q = spark.sql("""SELECT event_type, count(*) AS n_rows,
            CAST(CAST(sum(CAST(value AS DECIMAL(30,6))) AS STRING)
              AS DOUBLE) AS sum_value,
            min(event_id) AS min_id, max(event_id) AS max_id
            FROM graftmvx.wh.src GROUP BY event_type""")
          val usedMv = !q.queryExecution.optimizedPlan.exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate])
          q.withColumn("used_mv", lit(usedMv))
            .withColumn("fold_minus_parts", lit(r1.getInt(3)))
            .withColumn("recompute_minus_parts", lit(r2.getInt(3)))
            .orderBy(col("event_type"))
            .pinned()
        }
      },
      Some(s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
  ${Exact.decSumSql("value", 6)} AS sum_value,
  min(event_id) AS min_id, max(event_id) AS max_id,
  true AS used_mv, CAST(0 AS INT) AS fold_minus_parts,
  CAST(4 AS INT) AS recompute_minus_parts
FROM events WHERE event_id % 10 <> 0
GROUP BY event_type ORDER BY event_type NULLS FIRST""")),

    // --- MULTI-KEY MV + AVG-SHAPE ROUTING (sources/ManifestMv keys,
    // MvRewrite any-order key matching): the MV grouping is a column
    // LIST — (etype, par) here, with etype made NULLABLE on purpose
    // (nullif) so NULL-keyed groups ride every path: the snapshot-
    // delta fold joins null-safely per key, and the min/max group-
    // scoped recompute semi-joins null-safely, so the NULL group's
    // extremes restate after a delete like any other group's. The
    // routed query then GROUPs BY the keys in REVERSED order (par,
    // etype — set-equality matching, not positional) and derives AVG
    // as the repo's exact decimal sum / count(*) shape — both legs
    // map onto the MV's stored columns structurally, so the average
    // is served from the MV with no Aggregate in the plan. The
    // at-scale contract is the dashboard trio again, now on composite
    // dimensions: O(groups) serving state, deletes costing only the
    // affected groups' parts.
    QueryDef("q_mv_multikey",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "mvmk")
        spark.conf.set("spark.sql.catalog.graftmvmk",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftmvmk.warehouse", wh)
        val base = Tables.events(spark, dir).select(
          col("event_id"),
          nullif(col("event_type"), lit("error")).as("etype"),
          (col("user_id") % 2).as("par"),
          col("value"))
        def write(df: DataFrame, mode: String): Unit =
          df.repartitionByRange(2, col("event_id"))
            .write.format("graft.sources.ManifestSource")
            .option("path", s"$wh/wh/src")
            .mode(mode).save()
        write(base.filter(col("event_id") % 3 =!= 1), "overwrite")
        spark.sql("CALL graftmvmk.system.create_mv(" +
          "mv_table => 'wh.mv', source_table => 'wh.src', " +
          "key_col => 'etype,par', sum_col => 'value', scale => 6, " +
          "minmax_col => 'event_id')")
        write(base.filter(col("event_id") % 3 === 1), "append")
        val r1 = spark.sql(
          "CALL graftmvmk.system.refresh_mv(mv_table => 'wh.mv')").head
        withConf(spark, "graft.delete.mode" -> "mor") {
          spark.sql("DELETE FROM graftmvmk.wh.src WHERE event_id % 10 = 0")
        }
        val r2 = spark.sql(
          "CALL graftmvmk.system.refresh_mv(mv_table => 'wh.mv')").head
        withConf(spark, "graft.mv.rewrite" -> s"$wh/wh/mv") {
          val q = spark.sql("""SELECT etype, par, count(*) AS n_rows,
            CAST(CAST(sum(CAST(value AS DECIMAL(30,6))) AS STRING)
              AS DOUBLE) AS sum_value,
            CAST(CAST(sum(CAST(value AS DECIMAL(30,6))) AS STRING)
              AS DOUBLE) / count(*) AS avg_value,
            min(event_id) AS min_id, max(event_id) AS max_id
            FROM graftmvmk.wh.src GROUP BY par, etype""")
          val usedMv = !q.queryExecution.optimizedPlan.exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate])
          q.withColumn("used_mv", lit(usedMv))
            .withColumn("fold_minus_parts", lit(r1.getInt(3)))
            .withColumn("recompute_minus_parts", lit(r2.getInt(3)))
            .orderBy(col("etype"), col("par"))
            .pinned()
        }
      },
      Some(s"""SELECT etype, par, CAST(count(*) AS BIGINT) AS n_rows,
  ${Exact.decSumSql("value", 6)} AS sum_value,
  ${Exact.decAvgSql("value", 6)} AS avg_value,
  min(event_id) AS min_id, max(event_id) AS max_id,
  true AS used_mv, CAST(0 AS INT) AS fold_minus_parts,
  CAST(4 AS INT) AS recompute_minus_parts
FROM (SELECT event_id, nullif(event_type, 'error') AS etype,
        user_id % 2 AS par, value
      FROM events WHERE event_id % 10 <> 0)
GROUP BY etype, par
ORDER BY etype NULLS FIRST, par NULLS FIRST""")),

    // --- MV COARSER-ROLLUP RE-AGGREGATION (MvRewrite subset
    // routing): a GROUP BY on a strict SUBSET of the MV's keys — the
    // dashboard drill-up from (etype, par) to etype — no longer
    // rescans the table: the rewrite RE-AGGREGATES the MV's
    // O(groups) state instead (count ← sum(n_rows), the tracked
    // decimal sum ← sum(sum_value), min/max ← fold of the stored
    // extremes; all associative, so the answer is bit-exact, and the
    // derived AVG folds leg-by-leg as total-sum / total-count). The
    // plan keeps an Aggregate — but its input is the MV table, and
    // the gate pins that the SOURCE path is absent from the plan.
    // Ladder: multi-key MV with min/max → append fold → MOR delete
    // with group-scoped recompute → drill-up query served from MV,
    // gated against the oracle's from-scratch restatement. At 100 TB:
    // the drill-up costs a shuffle of the MV's groups, not a table
    // scan.
    QueryDef("q_mv_reagg",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "mvra")
        spark.conf.set("spark.sql.catalog.graftmvra",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftmvra.warehouse", wh)
        val base = Tables.events(spark, dir).select(
          col("event_id"),
          nullif(col("event_type"), lit("error")).as("etype"),
          (col("user_id") % 2).as("par"),
          col("value"))
        def write(df: DataFrame, mode: String): Unit =
          df.repartitionByRange(2, col("event_id"))
            .write.format("graft.sources.ManifestSource")
            .option("path", s"$wh/wh/src")
            .mode(mode).save()
        write(base.filter(col("event_id") % 3 =!= 1), "overwrite")
        spark.sql("CALL graftmvra.system.create_mv(" +
          "mv_table => 'wh.mv', source_table => 'wh.src', " +
          "key_col => 'etype,par', sum_col => 'value', scale => 6, " +
          "minmax_col => 'event_id')")
        write(base.filter(col("event_id") % 3 === 1), "append")
        spark.sql("CALL graftmvra.system.refresh_mv(mv_table => 'wh.mv')")
        withConf(spark, "graft.delete.mode" -> "mor") {
          spark.sql("DELETE FROM graftmvra.wh.src WHERE event_id % 10 = 0")
        }
        spark.sql("CALL graftmvra.system.refresh_mv(mv_table => 'wh.mv')")
        withConf(spark, "graft.mv.rewrite" -> s"$wh/wh/mv") {
          val q = spark.sql("""SELECT etype, count(*) AS n_rows,
            CAST(CAST(sum(CAST(value AS DECIMAL(30,6))) AS STRING)
              AS DOUBLE) AS sum_value,
            CAST(CAST(sum(CAST(value AS DECIMAL(30,6))) AS STRING)
              AS DOUBLE) / count(*) AS avg_value,
            min(event_id) AS min_id, max(event_id) AS max_id
            FROM graftmvra.wh.src GROUP BY etype""")
          val plan = q.queryExecution.optimizedPlan
          val usedMv =
            graft.sources.MvRewrite.readsManifestDir(plan, s"$wh/wh/mv") &&
              !graft.sources.MvRewrite.readsManifestDir(plan, s"$wh/wh/src")
          q.withColumn("used_mv", lit(usedMv))
            .orderBy(col("etype"))
            .pinned()
        }
      },
      Some(s"""SELECT etype, CAST(count(*) AS BIGINT) AS n_rows,
  ${Exact.decSumSql("value", 6)} AS sum_value,
  ${Exact.decAvgSql("value", 6)} AS avg_value,
  min(event_id) AS min_id, max(event_id) AS max_id,
  true AS used_mv
FROM (SELECT event_id, nullif(event_type, 'error') AS etype, value
      FROM events WHERE event_id % 10 <> 0)
GROUP BY etype
ORDER BY etype NULLS FIRST""")),

    // --- MV APPROX-DISTINCT (create_mv distinct_col —
    // sources/ManifestMv): the MV maintains a per-group DataSketches
    // HLL sketch (pinned lgConfigK). HLL register state is a pure
    // per-register MAX over hashed inputs, so union-of-delta-sketches
    // covers exactly the union's registers; in SPARSE mode (small
    // groups) estimates are exact counts and maintained == direct
    // identically (MvSpec pins it). In DENSE mode DataSketches
    // estimates are MERGE-LINEAGE-dependent (a single-stream sketch
    // uses the HIP estimator, a union the composite one — measured
    // ±1% at ndv 1500), so the honest cross-lineage contract is
    // CLOSENESS, gated twice below: maintained within 2%+2 of the
    // direct recompute, and within 5%+2 of the exact distinct count.
    // Like MIN/MAX, a sketch folds under appends only (you cannot
    // remove a value from an HLL):
    // minus-side groups recompute group-scoped from the live head.
    // Routing substitutes the stored sketch under the user's own
    // spelling hll_sketch_estimate(hll_sketch_agg(c)) — count(
    // DISTINCT c) stays exact and untouched (declines, different
    // answer). At 100 TB this is THE dashboard distinct-count: O(1)
    // bytes per group serving state, refresh cost O(changed parts).
    QueryDef("q_mv_distinct",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "mvnd")
        spark.conf.set("spark.sql.catalog.graftmvnd",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftmvnd.warehouse", wh)
        val base = Tables.events(spark, dir).select(
          col("event_id"),
          nullif(col("event_type"), lit("error")).as("etype"),
          col("user_id"), col("value"))
        def write(df: DataFrame, mode: String): Unit =
          df.repartitionByRange(2, col("event_id"))
            .write.format("graft.sources.ManifestSource")
            .option("path", s"$wh/wh/src")
            .mode(mode).save()
        write(base.filter(col("event_id") % 3 =!= 1), "overwrite")
        spark.sql("CALL graftmvnd.system.create_mv(" +
          "mv_table => 'wh.mv', source_table => 'wh.src', " +
          "key_col => 'etype', sum_col => 'value', scale => 6, " +
          "distinct_col => 'user_id')")
        write(base.filter(col("event_id") % 3 === 1), "append")
        val r1 = spark.sql(
          "CALL graftmvnd.system.refresh_mv(mv_table => 'wh.mv')").head
        withConf(spark, "graft.delete.mode" -> "mor") {
          spark.sql("DELETE FROM graftmvnd.wh.src WHERE event_id % 10 = 0")
        }
        val r2 = spark.sql(
          "CALL graftmvnd.system.refresh_mv(mv_table => 'wh.mv')").head
        // the adjudicators, MATERIALIZED before routing arms so the
        // rewrite rule (an optimizer rule — it would see the conf at
        // execution time, not definition time) can never touch them:
        // the direct from-scratch sketch estimate and the exact count
        val truth = spark.sql("""SELECT etype,
            hll_sketch_estimate(hll_sketch_agg(user_id)) AS direct_est,
            count(DISTINCT user_id) AS ndv_exact
          FROM graftmvnd.wh.src GROUP BY etype""").pinned()
        withConf(spark, "graft.mv.rewrite" -> s"$wh/wh/mv") {
          val q = spark.sql("""SELECT etype, count(*) AS n_rows,
            CAST(CAST(sum(CAST(value AS DECIMAL(30,6))) AS STRING)
              AS DOUBLE) AS sum_value,
            hll_sketch_estimate(hll_sketch_agg(user_id)) AS ndv_est
            FROM graftmvnd.wh.src GROUP BY etype""")
          val usedMv = !q.queryExecution.optimizedPlan.exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate])
          q.join(truth, q("etype") <=> truth("etype"))
            .select(q("etype"), col("n_rows"), col("sum_value"),
              col("ndv_exact"),
              (abs(col("ndv_est") - col("direct_est")) <=
                greatest(ceil(col("direct_est") * 0.02), lit(2L)))
                .as("est_close_direct"),
              (abs(col("ndv_est") - col("ndv_exact")) <=
                greatest(ceil(col("ndv_exact") * 0.05), lit(2L)))
                .as("rel_err_ok"))
            .withColumn("used_mv", lit(usedMv))
            .withColumn("fold_minus_parts", lit(r1.getInt(3)))
            .withColumn("recompute_minus_parts", lit(r2.getInt(3)))
            .orderBy(col("etype"))
            .pinned()
        }
      },
      Some(s"""SELECT etype, CAST(count(*) AS BIGINT) AS n_rows,
  ${Exact.decSumSql("value", 6)} AS sum_value,
  CAST(count(DISTINCT user_id) AS BIGINT) AS ndv_exact,
  true AS est_close_direct, true AS rel_err_ok, true AS used_mv,
  CAST(0 AS INT) AS fold_minus_parts,
  CAST(4 AS INT) AS recompute_minus_parts
FROM (SELECT nullif(event_type, 'error') AS etype, user_id, value
      FROM events WHERE event_id % 10 <> 0)
GROUP BY etype ORDER BY etype NULLS FIRST""")),

    // --- EXPRESSION-KEYED MV: TIME-GRAIN ROLLUP (create_mv
    // key_expr => "date_trunc('day', ts)" — sources/ManifestMv +
    // MvRewrite.substituteTimeGrain): the MV materializes the rollup
    // keyed by a DERIVED truncation of a timestamp column — no
    // physical day column exists or is maintained — and the
    // optimizer matches the user's own date_trunc spelling
    // STRUCTURALLY (catalyst TruncTimestamp with the recorded grain
    // and column; a different grain, column, or session timezone
    // declines — MvSpec pins those). Lifecycle gated end to end:
    // create → append delta FOLDS (plus parts only) → MOR delete
    // restates (minus parts) → the fresh MV transparently serves
    // `GROUP BY date_trunc('day', ts)` with NO Aggregate in the plan,
    // hash-restated from raw events by the oracle. At 100 TB this is
    // THE dashboard query family — per-day rollups over append-mostly
    // event tables — served from O(days) rows with O(changed parts)
    // maintenance.
    QueryDef("q_mv_timegrain",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "mvtg")
        spark.conf.set("spark.sql.catalog.graftmtg",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftmtg.warehouse", wh)
        val base = Tables.events(spark, dir)
          .select(col("event_id"), col("ts"), col("value"))
        def write(df: DataFrame, mode: String): Unit =
          df.repartitionByRange(2, col("event_id"))
            .write.format("graft.sources.ManifestSource")
            .option("path", s"$wh/wh/src")
            .mode(mode).save()
        write(base.filter(col("event_id") % 3 =!= 1), "overwrite")
        spark.sql("CALL graftmtg.system.create_mv(" +
          "mv_table => 'wh.mv', source_table => 'wh.src', " +
          "key_expr => \"date_trunc(\\'day\\', ts)\", " +
          "sum_col => 'value', scale => 6)")
        write(base.filter(col("event_id") % 3 === 1), "append")
        val r1 = spark.sql(
          "CALL graftmtg.system.refresh_mv(mv_table => 'wh.mv')").head
        withConf(spark, "graft.delete.mode" -> "mor") {
          spark.sql("DELETE FROM graftmtg.wh.src WHERE event_id % 10 = 0")
        }
        val r2 = spark.sql(
          "CALL graftmtg.system.refresh_mv(mv_table => 'wh.mv')").head
        withConf(spark, "graft.mv.rewrite" -> s"$wh/wh/mv") {
          val q = spark.sql("""SELECT date_trunc('day', ts) AS day_ts,
            count(*) AS n_rows,
            CAST(CAST(sum(CAST(value AS DECIMAL(30,6))) AS STRING)
              AS DOUBLE) AS sum_value
            FROM graftmtg.wh.src GROUP BY date_trunc('day', ts)""")
          val plan = q.queryExecution.optimizedPlan
          val routed = !plan.exists(_.isInstanceOf[
              org.apache.spark.sql.catalyst.plans.logical.Aggregate]) &&
            graft.sources.MvRewrite.readsManifestDir(plan, s"$wh/wh/mv") &&
            !graft.sources.MvRewrite.readsManifestDir(plan, s"$wh/wh/src")
          q.withColumn("routed", lit(routed))
            .withColumn("fold_plus_parts", lit(r1.getInt(2)))
            .withColumn("fold_minus_parts", lit(r1.getInt(3)))
            .withColumn("recompute_minus_parts", lit(r2.getInt(3)))
            .orderBy(col("day_ts"))
            .pinned()
        }
      },
      Some(s"""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_ts,
  CAST(count(*) AS BIGINT) AS n_rows,
  ${graft.functions.Exact.decSumSql("value", 6)} AS sum_value,
  true AS routed,
  CAST(2 AS INT) AS fold_plus_parts,
  CAST(0 AS INT) AS fold_minus_parts,
  CAST(4 AS INT) AS recompute_minus_parts
FROM events WHERE event_id % 10 <> 0
GROUP BY 1 ORDER BY day_ts""")),

    // --- SPLIT PRUNING PARITY (identity layout gets the scan-side
    // treatment buckets have): on a table split one-part-per-value,
    // (a) a STATIC IN-list on the split column plans exactly its
    // values' parts off per-part stats, and (b) a broadcast star
    // join against a selective dimension hands the build side's
    // value set to the scan AT EXECUTION (DSv2 runtime filtering =
    // dynamic partition pruning) — the fact scan opens 2 of 5 parts
    // without the static planner ever seeing the values. Both part
    // counts ride the gated output (the DPP count from the scan's
    // own partsPlanned metric); at 100 TB this is the "dimension
    // filter cuts the fact table to 1/ndv" plan every star schema
    // lives on. The joined rollup is restated exactly by the oracle.
    QueryDef("q_split_prune",
      (spark, dir) => {
        val t = freshTable(spark, dir, "splitpr")
        Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"), col("user_id"))
          .repartition(8)
          .write.format("graft.sources.ManifestSource")
          .option("path", t).option("splitBy", "event_type")
          .mode("overwrite").save()
        def planned(df: DataFrame): Int =
          df.queryExecution.sparkPlan.collectFirst {
            case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
              b.inputPartitions.length
          }.getOrElse(-1)
        def read(): DataFrame = spark.read
          .format("graft.sources.ManifestSource").option("path", t).load()
        val totalParts = planned(read())
        val staticParts = planned(
          read().filter(col("event_type").isin("click", "view")))
        // DPP shape: the dimension carries the selective predicate;
        // its post-filter value set reaches the scan only at runtime
        val dim = Tables.events(spark, dir)
          .select(col("event_type").as("dt")).distinct()
          .filter(col("dt").isin("click", "view"))
        val agg = read().join(broadcast(dim),
            col("event_type") === col("dt"))
          .agg(count(lit(1)).as("n_joined"),
            sum(col("user_id")).as("sum_users"))
        val row = agg.head
        // post-execution part count off the scan's own description
        // ("parts=planned/total" — the live ManifestScan narrows in
        // place when the runtime value set arrives); unwrap AQE
        // (AdaptiveSparkPlanExec is a leaf wrapper over its stages)
        val dppParts = graft.sources.PlanProbes
          .manifestScanDescs(agg.queryExecution.executedPlan).headOption
          .flatMap(d => """parts=(\d+)/""".r.findFirstMatchIn(d)
            .map(_.group(1).toLong)).getOrElse(-1L)
        spark.range(1).select(
          lit(row.getLong(0)).as("n_joined"),
          lit(row.getLong(1)).as("sum_users"),
          lit(totalParts).as("n_parts_total"),
          lit(staticParts).as("static_parts"),
          lit(dppParts).as("dpp_parts"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_joined,
  CAST(sum(user_id) AS BIGINT) AS sum_users,
  CAST(5 AS INT) AS n_parts_total, CAST(2 AS INT) AS static_parts,
  CAST(2 AS BIGINT) AS dpp_parts
FROM events WHERE event_type IN ('click', 'view')""")),

    // --- HIDDEN TIME-TRANSFORM PARTITIONING (`PARTITIONED BY
    // (days(ts))` — sources/TimeSplit, GraftTimeSplitCatalogTable):
    // the Iceberg hidden-partitioning shape. Rows route by the
    // DERIVED UTC day ordinal of the TIMESTAMP column (one exchange,
    // resolved through the catalog's own days() function; one
    // single-day part per day per write), the user NEVER maintains a
    // date column, and a predicate on the timestamp ITSELF prunes —
    // the failure mode Hive's string date partitions had. Gated here:
    // (a) a timestamp-range query plans EXACTLY the covered days'
    // parts (plan counts ride the output, q_split_prune-style),
    // (b) SHOW PARTITIONS lists every day off pure manifest metadata,
    // (c) ALTER TABLE DROP PARTITION by DATE value is a metadata-only
    // snapshot delete, and (d) the pre-drop snapshot still serves
    // every row (time travel). At 100 TB this is THE table layout for
    // event/telemetry data: ingest clusters by day, the daily query
    // opens 1/365th of the table, retention is one metadata commit
    // per day. Generalizes the reference's timestamp-keyed records
    // (estimate_queue.py:49-51). Evolution pins live in
    // TimeLayoutSpec (mixed-generation DROP refusal, compact
    // migration, hours() variant).
    QueryDef("q_layout_time",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "timelay")
        spark.conf.set("spark.sql.catalog.graftlt",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftlt.warehouse", wh)
        spark.sql("CREATE TABLE graftlt.wh.ev (event_id BIGINT, " +
          "ts TIMESTAMP, user_id BIGINT, value DOUBLE) " +
          "PARTITIONED BY (days(ts))")
        Tables.events(spark, dir)
          .select(col("event_id"), col("ts"), col("user_id"), col("value"))
          .createOrReplaceTempView("graft_timelay_src")
        spark.sql(
          "INSERT INTO graftlt.wh.ev SELECT * FROM graft_timelay_src")
        def planned(df: DataFrame): Int =
          df.queryExecution.sparkPlan.collectFirst {
            case b: org.apache.spark.sql.execution.datasources.v2
              .BatchScanExec => b.inputPartitions.length
          }.getOrElse(-1)
        val totalParts = planned(spark.table("graftlt.wh.ev"))
        // two full UTC days of January 2024 — the scan must plan
        // exactly those two days' parts off the per-part micros stats
        val rangeQ = spark.sql("""SELECT count(*) AS n_range,
          CAST(CAST(sum(CAST(value AS DECIMAL(30,6))) AS STRING)
            AS DOUBLE) AS sum_range
          FROM graftlt.wh.ev
          WHERE ts >= TIMESTAMP'2024-01-05 00:00:00'
            AND ts < TIMESTAMP'2024-01-07 00:00:00'""")
        val rangeParts = planned(rangeQ)
        val rangeRow = rangeQ.head
        val nDays = spark.sql("SHOW PARTITIONS graftlt.wh.ev").count()
        // retention, the hidden-partition way: one metadata commit
        // drops the oldest day; the pre-drop snapshot stays readable
        spark.sql("ALTER TABLE graftlt.wh.ev " +
          "DROP PARTITION (ts_day = DATE'2024-01-01')")
        val afterDrop = spark.sql(
          "SELECT count(*) FROM graftlt.wh.ev").head.getLong(0)
        // v1 = CREATE (empty), v2 = the INSERT, v3 = the drop
        val travel = spark.sql(
          "SELECT count(*) FROM graftlt.wh.ev VERSION AS OF 2")
          .head.getLong(0)
        spark.range(1).select(
          lit(rangeRow.getLong(0)).as("n_range"),
          lit(rangeRow.getDouble(1)).as("sum_range"),
          lit(rangeParts).as("parts_range"),
          lit(totalParts).as("parts_total"),
          lit(nDays).as("n_days"),
          lit(afterDrop).as("n_after_drop"),
          lit(travel).as("n_travel"))
      },
      Some(s"""SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM events
    WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
      AND ts < TIMESTAMP '2024-01-07 00:00:00') AS n_range,
  (SELECT ${graft.functions.Exact.decSumSql("value", 6)} FROM events
    WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
      AND ts < TIMESTAMP '2024-01-07 00:00:00') AS sum_range,
  CAST(2 AS INT) AS parts_range,
  CAST(30 AS INT) AS parts_total,
  CAST(30 AS BIGINT) AS n_days,
  (SELECT CAST(count(*) AS BIGINT) FROM events
    WHERE date_trunc('day', ts) <> TIMESTAMP '2024-01-01')
    AS n_after_drop,
  (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_travel""")),

    // --- COLUMN DEFAULT VALUES (CURRENT vs EXISTS split — Delta/
    // Iceberg initial-defaults): `CREATE TABLE (... DEFAULT v)` fills
    // omitted INSERT columns at write; `ALTER TABLE ADD COLUMN c
    // DEFAULT v` additionally FREEZES v as the column's EXISTS
    // default — every pre-existing row serves it for the missing
    // column, so adding a defaulted column to a petabyte is ONE
    // metadata commit, never a backfill (no_new_files gates it).
    // `ALTER COLUMN SET DEFAULT` changes only FUTURE writes; rows
    // predating the column keep the value promised when it was
    // added. Defaults ride the snapshot's colmap header (versioned,
    // travels through staged reads), keyed by stable field id.
    QueryDef("q_column_default",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "coldef")
        spark.conf.set("spark.sql.catalog.graftcd",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftcd.warehouse", wh)
        spark.sql("CREATE TABLE graftcd.wh.ev (event_id BIGINT, " +
          "event_type STRING, value DOUBLE, src STRING DEFAULT 'ingest')")
        Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"), col("value"))
          .createOrReplaceTempView("graft_coldef_src")
        // slice 0 BEFORE the region column exists (omits src too —
        // the CREATE-time write default fills it)
        spark.sql("INSERT INTO graftcd.wh.ev (event_id, event_type, " +
          "value) SELECT * FROM graft_coldef_src WHERE event_id % 3 = 0")
        def nFiles(): Long = spark.sql(
          "SELECT count(*) FROM graftcd.wh.ev.files").head.getLong(0)
        val before = nFiles()
        spark.sql("ALTER TABLE graftcd.wh.ev ADD COLUMN region STRING " +
          "DEFAULT 'eu'")
        val noNewFiles = nFiles() == before
        // slice 1 with an explicit region; slice 2 omitted AFTER the
        // write default moved to 'us' — three provenances, one column
        spark.sql("INSERT INTO graftcd.wh.ev SELECT event_id, " +
          "event_type, value, 'feed', 'us' FROM graft_coldef_src " +
          "WHERE event_id % 3 = 1")
        spark.sql("ALTER TABLE graftcd.wh.ev ALTER COLUMN region " +
          "SET DEFAULT 'us'")
        spark.sql("INSERT INTO graftcd.wh.ev (event_id, event_type, " +
          "value) SELECT * FROM graft_coldef_src WHERE event_id % 3 = 2")
        spark.sql(s"""SELECT region, src, count(*) AS n,
            CAST(CAST(sum(CAST(value AS DECIMAL(30,6))) AS STRING)
              AS DOUBLE) AS sum_value,
            min(event_id) AS min_id
          FROM graftcd.wh.ev GROUP BY region, src""")
          .withColumn("no_new_files_on_add", lit(noNewFiles))
          .orderBy(col("region"), col("src"))
      },
      Some(s"""SELECT region, src, CAST(count(*) AS BIGINT) AS n,
  ${Exact.decSumSql("value", 6)} AS sum_value,
  min(event_id) AS min_id, true AS no_new_files_on_add
FROM (SELECT event_id, value,
        CASE WHEN event_id % 3 = 0 THEN 'eu' ELSE 'us' END AS region,
        CASE WHEN event_id % 3 = 1 THEN 'feed' ELSE 'ingest' END AS src
      FROM events)
GROUP BY region, src ORDER BY region, src""")),

    // --- EQUALITY DELETES (graft.delete.mode=eq — sources/ManifestEq,
    // the Iceberg v2 equality-delete shape): DELETE WHERE col = v /
    // IN (...) commits as PURE METADATA — parts that may contain a
    // match (range/bloom stats can't exonerate) get a clause appended
    // to their line, clean parts untouched, NO data read or written.
    // The GDPR shape at 100 TB: deleting a user from a petabyte costs
    // one manifest commit; readers mask (a raw-token probe per row on
    // clause-bearing parts) until CALL compact materializes. The
    // fixture drives the whole honesty ledger: a key-column IN marks
    // EXACTLY the one range-pruned part of four (eq_marked_key), a
    // string delete marks all four (every part's range admits
    // 'error'), zero new data files appear, the metadata-only COUNT
    // DECLINES to an exact scan while clauses are pending and
    // RE-ARMS after compaction, and the final rollup is restated
    // from scratch both before and after compaction.
    QueryDef("q_delete_eq",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "eqdel")
        spark.conf.set("spark.sql.catalog.graftde",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftde.warehouse", wh)
        spark.sql("CREATE TABLE graftde.wh.ev (event_id BIGINT, " +
          "event_type STRING, user_id BIGINT, value DOUBLE)")
        Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"), col("user_id"),
            col("value"))
          .repartitionByRange(4, col("event_id"))
          .createOrReplaceTempView("graft_eqdel_src")
        spark.sql("INSERT INTO graftde.wh.ev SELECT * FROM graft_eqdel_src")
        def files(): Set[String] = spark.sql(
          "SELECT file FROM graftde.wh.ev.files").collect()
          .map(_.getString(0)).toSet
        def markedParts(): Long = spark.sql(
          "SELECT count(*) FROM graftde.wh.ev.files WHERE eq_clauses > 0")
          .head.getLong(0)
        val filesBefore = files()
        val (markedKey, markedBoth, noNewFiles) =
          withConf(spark, "graft.delete.mode" -> "eq") {
            spark.sql("DELETE FROM graftde.wh.ev WHERE event_id IN (5, 6)")
            val mk = markedParts()
            spark.sql(
              "DELETE FROM graftde.wh.ev WHERE event_type = 'error'")
            (mk, markedParts(), files() == filesBefore)
          }
        def countPlan(): (Long, Boolean) = {
          val q = spark.sql("SELECT count(*) FROM graftde.wh.ev")
          (q.head.getLong(0),
            graft.sources.PlanProbes.aggPushedDown(
              q.queryExecution.executedPlan))
        }
        val (nPending, metaPending) = countPlan()
        spark.sql("CALL graftde.system.compact(table => 'wh.ev', " +
          "target_parts => 4)")
        val (_, metaAfter) = countPlan()
        val clausesAfter = markedParts()
        spark.sql(s"""SELECT count(*) AS n_rows,
            CAST(CAST(sum(CAST(value AS DECIMAL(30,6))) AS STRING)
              AS DOUBLE) AS sum_value,
            count(DISTINCT event_type) AS n_types,
            min(event_id) AS min_id
            FROM graftde.wh.ev""")
          .withColumn("eq_marked_key", lit(markedKey))
          .withColumn("eq_marked_both", lit(markedBoth))
          .withColumn("no_new_files", lit(noNewFiles))
          .withColumn("n_pending", lit(nPending))
          .withColumn("meta_declined_pending", lit(!metaPending))
          .withColumn("meta_rearmed_after", lit(metaAfter))
          .withColumn("clauses_after_compact", lit(clausesAfter))
          .pinned()
      },
      Some(s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
  ${Exact.decSumSql("value", 6)} AS sum_value,
  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
  min(event_id) AS min_id,
  CAST(1 AS BIGINT) AS eq_marked_key,
  CAST(4 AS BIGINT) AS eq_marked_both,
  true AS no_new_files,
  CAST(count(*) AS BIGINT) AS n_pending,
  true AS meta_declined_pending, true AS meta_rearmed_after,
  CAST(0 AS BIGINT) AS clauses_after_compact
FROM events
WHERE event_id NOT IN (5, 6) AND event_type <> 'error'""")),

    // --- RANGE CLAUSES on the equality-delete path (r17,
    // sources/ManifestEq.translateRange): `DELETE WHERE ts < cutoff`
    // — THE retention/TTL/GDPR-expiry statement — commits as ONE
    // metadata snapshot with three part classes: parts whose min/max
    // (and zero null count) prove every row inside the interval DROP
    // from the part list outright, straddlers gain a kind-'L' clause
    // (read-side per-row interval probe until compaction), and
    // provably-outside parts carry forward untouched. At 100 TB on
    // ingest-ordered data almost every part is provably-inside or
    // -outside, so a retention delete is O(parts) driver metadata
    // with read debt confined to the O(1) boundary parts — vs COW
    // rewriting every covered part or MOR scanning them for
    // ordinals. The fixture builds 4 contiguous time-quarter parts
    // (the natural ingest layout), cuts at the 60% point, and gates
    // the exact class census (2 dropped / 1 marked / 1 untouched),
    // zero new data files, single-commit atomicity, time travel
    // across the dropped parts, the metadata-COUNT decline while the
    // clause is pending, and the surviving rows against a
    // from-scratch restatement.
    QueryDef("q_delete_eq_range",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "eqrange")
        spark.conf.set("spark.sql.catalog.graftder",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftder.warehouse", wh)
        spark.sql("CREATE TABLE graftder.wh.ev (ts BIGINT, " +
          "event_type STRING, value DOUBLE)")
        val src = Tables.events(spark, dir).select(
          col("event_id").as("ts"), col("event_type"), col("value"))
        val mx = src.agg(max(col("ts"))).head.getLong(0)
        val cutoff = mx * 6 / 10 // integer floor, mirrored in the oracle
        val qs = Seq(mx / 4, mx / 2, mx * 3 / 4)
        // 4 contiguous time quarters, one part each — the layout a
        // ts-keyed table gets from ordered ingest
        Seq((Long.MinValue, qs(0)), (qs(0), qs(1)),
            (qs(1), qs(2)), (qs(2), Long.MaxValue)).foreach {
          case (loB, hiB) =>
            src.filter(col("ts") > loB && col("ts") <= hiB).coalesce(1)
              .createOrReplaceTempView("graft_eqrange_q")
            spark.sql(
              "INSERT INTO graftder.wh.ev SELECT * FROM graft_eqrange_q")
        }
        def files(): Set[String] = spark.sql(
          "SELECT file FROM graftder.wh.ev.files").collect()
          .map(_.getString(0)).toSet
        val filesBefore = files()
        val verBefore = spark.sql(
          "SELECT count(*) FROM graftder.wh.ev.history").head.getLong(0)
        withConf(spark, "graft.delete.mode" -> "eq") {
          spark.sql(s"DELETE FROM graftder.wh.ev WHERE ts < $cutoff")
        }
        val filesAfter = files()
        val marked = spark.sql("SELECT count(*) FROM " +
          "graftder.wh.ev.files WHERE eq_clauses > 0").head.getLong(0)
        val oneCommit = spark.sql(
          "SELECT count(*) FROM graftder.wh.ev.history").head.getLong(0) -
          verBefore == 1L
        // time travel ACROSS the dropped parts: the pre-delete
        // snapshot still serves every row
        val preDelete = spark.read
          .format("graft.sources.ManifestSource")
          .option("path", s"$wh/wh/ev")
          .option("version", verBefore).load().count()
        val cq = spark.sql("SELECT count(*) FROM graftder.wh.ev")
        val metaDeclined = !graft.sources.PlanProbes.aggPushedDown(
          cq.queryExecution.executedPlan)
        cq.head // force while pending
        spark.sql("""SELECT count(*) AS n_rows,
            CAST(CAST(sum(CAST(value AS DECIMAL(30,6))) AS STRING)
              AS DOUBLE) AS sum_value,
            min(ts) AS min_ts
            FROM graftder.wh.ev""")
          .withColumn("parts_dropped",
            lit((filesBefore -- filesAfter).size))
          .withColumn("parts_marked", lit(marked.toInt))
          .withColumn("parts_untouched",
            lit(filesAfter.size - marked.toInt))
          .withColumn("no_new_files", lit(filesAfter.subsetOf(filesBefore)))
          .withColumn("one_commit", lit(oneCommit))
          .withColumn("n_pre_delete", lit(preDelete))
          .withColumn("meta_declined_pending", lit(metaDeclined))
          .pinned()
      },
      Some(s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
  ${Exact.decSumSql("value", 6)} AS sum_value,
  min(event_id) AS min_ts,
  CAST(2 AS INT) AS parts_dropped,
  CAST(1 AS INT) AS parts_marked,
  CAST(1 AS INT) AS parts_untouched,
  true AS no_new_files,
  true AS one_commit,
  CAST((SELECT count(*) FROM events) AS BIGINT) AS n_pre_delete,
  true AS meta_declined_pending
FROM events
WHERE event_id >= (SELECT (max(event_id) * 6) // 10 FROM events)""")),

    // --- SECONDARY-COLUMN BLOOM FILTERS (r17, `graft.bloom_cols`
    // table property → per-part blooms in ColStat, consulted by the
    // scan next to min/max ranges): a point lookup on a
    // high-cardinality NON-KEY string column (`WHERE url = '…'`) is
    // the one shape range stats cannot prune — every part's min/max
    // admits nearly every URL/digest/UUID — so Iceberg/Delta ship
    // per-file blooms for exactly this. The fixture writes the same
    // 8 hash-distributed parts into a bloom-declared table and a
    // range-only twin, and gates from the scan's own driver metrics:
    // the bloom lookup plans STRICTLY FEWER parts than the twin's
    // all-8 baseline, a stale bloom still admits its (deleted)
    // target — sound superset — and CALL analyze(rebuild_blooms)
    // recomputes the blooms over visible rows, after which the
    // lookup plans strictly fewer parts again. At 100 TB this turns
    // "find one URL in a petabyte" from a full scan into opening the
    // O(1) parts whose filters admit it.
    QueryDef("q_bloom_secondary",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "bloom2")
        spark.conf.set("spark.sql.catalog.graftbl",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftbl.warehouse", wh)
        // bloom_bits raised to 2^18: at sf0.1 each of the 8 parts
        // holds ~12.5k distinct URLs, which saturates the default
        // 2^16 filter to ~8% FP — sizing is the declared, honest
        // tradeoff (64 KB hex per part per column on the manifest)
        spark.sql("CREATE TABLE graftbl.wh.docs (event_id BIGINT, " +
          "url STRING, value DOUBLE) " +
          "TBLPROPERTIES ('graft.bloom_cols' = 'url', " +
          "'graft.bloom_bits' = '262144')")
        spark.sql("CREATE TABLE graftbl.wh.docs_nb (event_id BIGINT, " +
          "url STRING, value DOUBLE)")
        // the 8-part md5 source feeds TWO inserts (bloom table + its
        // range-only twin)
        Tables.events(spark, dir)
          .select(col("event_id"),
            concat(lit("u-"), md5(col("event_id").cast("string")))
              .as("url"),
            col("value"))
          .repartition(8, col("event_id"))
          .createOrReplaceTempView("graft_bloom2_src")
        spark.sql("INSERT INTO graftbl.wh.docs SELECT * FROM graft_bloom2_src")
        spark.sql(
          "INSERT INTO graftbl.wh.docs_nb SELECT * FROM graft_bloom2_src")
        def planned(q: String): Long = {
          val df = spark.sql(q)
          df.collect()
          df.queryExecution.executedPlan.collect {
            case b: org.apache.spark.sql.execution.datasources.v2
              .BatchScanExec => b
          }.head.metrics("partsPlanned").value
        }
        val target = "u-" + java.security.MessageDigest.getInstance("MD5")
          .digest("42".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        val hitValue = spark.sql(
          s"SELECT value FROM graftbl.wh.docs WHERE url = '$target'")
          .head.getDouble(0)
        val pBloom = planned(
          s"SELECT event_id FROM graftbl.wh.docs WHERE url = '$target'")
        val pRange = planned(
          s"SELECT event_id FROM graftbl.wh.docs_nb WHERE url = '$target'")
        // delete the target row (MOR vector: bloom untouched, now a
        // stale superset), then rebuild blooms over visible rows
        withConf(spark, "graft.delete.mode" -> "mor") {
          spark.sql("DELETE FROM graftbl.wh.docs WHERE event_id = 42")
        }
        val pStale = planned(
          s"SELECT event_id FROM graftbl.wh.docs WHERE url = '$target'")
        spark.sql("CALL graftbl.system.analyze(table => 'wh.docs', " +
          "rebuild_blooms => true)")
        val pRebuilt = planned(
          s"SELECT event_id FROM graftbl.wh.docs WHERE url = '$target'")
        spark.sql(s"SELECT count(*) AS n_after FROM graftbl.wh.docs " +
          s"WHERE url = '$target'")
          .withColumn("hit_value", lit(hitValue))
          .withColumn("planned_range", lit(pRange.toInt))
          .withColumn("bloom_lt_range", lit(pBloom < pRange))
          .withColumn("stale_admits", lit(pStale >= 1L))
          // monotone contract (a filter is probabilistic: a rebuilt
          // bloom may still FP-admit the deleted value): the rebuild
          // never WORSENS the plan, and the strict improvement is
          // additionally pinned at small scale in ColStatsSpec
          .withColumn("rebuilt_not_worse", lit(pRebuilt <= pStale))
      },
      Some("""SELECT CAST(0 AS BIGINT) AS n_after,
  (SELECT value FROM events WHERE event_id = 42) AS hit_value,
  CAST(8 AS INT) AS planned_range,
  true AS bloom_lt_range, true AS stale_admits,
  true AS rebuilt_not_worse""")),

    // --- `.partitions` METADATA TABLE (the Iceberg `.partitions`
    // analog): per-partition rollup of the head snapshot — part
    // count, physical vs VISIBLE rows (merge-on-read debt per
    // partition), key range — served from ONE driver-side manifest
    // read, no data file opened. The capacity-planning/skew-audit
    // view at 100 TB costs O(parts) metadata. The fixture creates an
    // identity-split table via DDL, routes an INSERT through the
    // split writer (one part per value — pinned by parts=1), debts
    // some partitions with a MOR vector delete, and gates the whole
    // rollup against a from-scratch restatement of the base data —
    // including that physical stats stay OVER-approximations (key
    // range spans deleted rows) while visible_rows is exact.
    QueryDef("q_meta_partitions",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "metap")
        spark.conf.set("spark.sql.catalog.graftmp",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftmp.warehouse", wh)
        spark.sql("CREATE TABLE graftmp.wh.ev (event_id BIGINT, " +
          "event_type STRING, user_id BIGINT) " +
          "PARTITIONED BY (event_type)")
        Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"), col("user_id"))
          .createOrReplaceTempView("graft_metap_src")
        spark.sql("INSERT INTO graftmp.wh.ev " +
          "SELECT event_id, event_type, user_id FROM graft_metap_src")
        withConf(spark, "graft.delete.mode" -> "mor") {
          spark.sql("DELETE FROM graftmp.wh.ev WHERE event_id % 10 = 0")
        }
        spark.sql("""SELECT partition AS part_id, spec, parts, n_rows,
            visible_rows, key_min, key_max, dv_parts
          FROM graftmp.wh.ev.partitions ORDER BY part_id""")
      },
      Some("""SELECT 'event_type=' || event_type AS part_id,
  'identity(event_type)' AS spec, CAST(1 AS INT) AS parts,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(count(CASE WHEN event_id % 10 <> 0 THEN 1 END) AS BIGINT)
    AS visible_rows,
  min(event_id) AS key_min, max(event_id) AS key_max,
  CAST(CASE WHEN count(CASE WHEN event_id % 10 = 0 THEN 1 END) > 0
       THEN 1 ELSE 0 END AS INT) AS dv_parts
FROM events GROUP BY event_type ORDER BY part_id""")),

    // --- OPTIMIZE ZORDER as a procedure (`CALL compact(..., zorder
    // => 'a,b')` — Delta OPTIMIZE ZORDER BY): before, 8 hash-random
    // parts each span both full column ranges, so a 2-D box
    // predicate plans ALL of them; after the Morton rewrite each
    // part owns one contiguous z-range = a bounded tile in
    // (event_id, user_id) space and the SAME predicate plans
    // strictly fewer parts off per-part ColStats alone — multi-
    // dimensional data skipping as a maintenance command, the
    // layout every 100 TB "filter on two dimensions" workload needs
    // (a single-column sort leaves the other dimension's bounds
    // spanning every file). The box answer itself is gated exactly.
    QueryDef("q_call_zorder",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "callz")
        spark.conf.set("spark.sql.catalog.graftzo",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftzo.warehouse", wh)
        val base = Tables.events(spark, dir)
          .select(col("event_id"), col("user_id"), col("value"))
        val t = s"$wh/wh/ev_t"
        writeHistory(base, t, "overwrite", parts = 8)
        val mx = base.agg(max(col("event_id")), max(col("user_id"))).head
        val (boxE, boxU) = (mx.getLong(0) / 4, mx.getLong(1) / 4)
        def box(): DataFrame = spark.read
          .format("graft.sources.ManifestSource").option("path", t).load()
          .filter(col("event_id") <= boxE && col("user_id") <= boxU)
        def planned(df: DataFrame): Int =
          df.queryExecution.sparkPlan.collectFirst {
            case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
              b.inputPartitions.length
          }.getOrElse(-1)
        val before = planned(box())
        val res = spark.sql("CALL graftzo.system.compact(" +
          "table => 'wh.ev_t', target_parts => 8, " +
          "zorder => 'event_id,user_id')")
        val after = planned(box())
        box().agg(count(lit(1)).as("n_box"),
          sum(col("user_id")).as("sum_box_users"),
          min(col("event_id")).as("min_box_id"))
          .withColumn("parts_before_prune", lit(before))
          .withColumn("pruned_tighter", lit(after < before))
          .crossJoin(res.select(col("parts_before"), col("parts_after")))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_box,
  CAST(sum(user_id) AS BIGINT) AS sum_box_users,
  min(event_id) AS min_box_id,
  CAST(8 AS INT) AS parts_before_prune, true AS pruned_tighter,
  CAST(8 AS INT) AS parts_before, CAST(8 AS INT) AS parts_after
FROM events
WHERE event_id <= (SELECT max(event_id) // 4 FROM events)
  AND user_id <= (SELECT max(user_id) // 4 FROM events)""")),

    // --- Z-ORDER WITH A STRING DIMENSION (sampled range-ids in
    // zorderLayout): the canonical corpus layout pair is
    // (domain, id/ts) — a STRING dimension interleaved with a numeric
    // one. The maintenance pass ranks the string domain into ≤256
    // rank buckets (one ranking pass; at 100 TB it runs over a
    // sample — the ids only steer clustering, pruning reads the
    // parts' true string min/max), assigns each row its 8-bit rank code,
    // and Morton-interleaves as for numeric dims. The gate proves a
    // (source, doc_id) BOX predicate plans strictly fewer parts
    // after `CALL compact(zorder => 'source,doc_id')` than the 8 it
    // planned before, with the box's rollup restated. Before the
    // rewrite the hash layout spans every part on both columns.
    QueryDef("q_zorder_string",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "zstr")
        spark.conf.set("spark.sql.catalog.graftzs",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftzs.warehouse", wh)
        val base = Tables.documents(spark, dir)
          .select(col("doc_id"), col("source"), col("n_chars"))
        val t = s"$wh/wh/docs"
        writeHistory(base, t, "overwrite", parts = 8)
        val maxId = base.agg(max(col("doc_id"))).head.getLong(0)
        def box(): DataFrame = spark.read
          .format("graft.sources.ManifestSource").option("path", t).load()
          .filter(col("source") <= "src12" && col("doc_id") <= maxId / 4)
        def planned(df: DataFrame): Int =
          df.queryExecution.sparkPlan.collectFirst {
            case b: org.apache.spark.sql.execution.datasources.v2
              .BatchScanExec => b.inputPartitions.length
          }.getOrElse(-1)
        val before = planned(box())
        spark.sql("CALL graftzs.system.compact(table => 'wh.docs', " +
          "target_parts => 8, zorder => 'source,doc_id')")
        val after = planned(box())
        box().agg(count(lit(1)).as("n_box"),
          sum(col("n_chars")).as("sum_chars"),
          max(col("source")).as("max_src"))
          .withColumn("parts_before_prune", lit(before))
          .withColumn("pruned_tighter", lit(after > 0 && after < before))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_box,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
  max(source) AS max_src,
  CAST(8 AS INT) AS parts_before_prune, true AS pruned_tighter
FROM documents
WHERE source <= 'src12'
  AND doc_id <= (SELECT max(doc_id) // 4 FROM documents)""")),

    // --- ATOMIC CTAS / RTAS (StagingTableCatalog — GraftStagedTable):
    // `CREATE TABLE … AS SELECT` commits the query's parts and the
    // table's existence as ONE snapshot (the ladder pins exactly one
    // history version after CTAS — no create-then-insert two-step),
    // and `REPLACE TABLE … AS SELECT` atomically swaps in a NEW
    // SCHEMA (the per-type rollup) as one truncate-style commit while
    // every pre-replace version stays readable — `VERSION AS OF 1`
    // serves the original CTAS rows after the replace. This is the
    // reference's K1 produce-and-publish contract
    // (preprocess_image.py:139-151) at warehouse scale: readers never
    // see a half-written target, a failed query leaves the old state
    // untouched (CatalogSpec pins the failure path). All metadata:
    // the commit is one manifest rename at any table size.
    QueryDef("q_ctas",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "ctas")
        spark.conf.set("spark.sql.catalog.graftct",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftct.warehouse", wh)
        Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"), col("value"))
          .createOrReplaceTempView("graft_ctas_src")
        spark.sql("CREATE TABLE graftct.wh.ev_t AS " +
          "SELECT event_id, event_type, value FROM graft_ctas_src " +
          "WHERE event_id % 2 = 0")
        val nCtas = spark.sql("SELECT count(*) FROM graftct.wh.ev_t")
          .head.getLong(0)
        val vCtas = spark.sql(
          "SELECT count(*) FROM graftct.wh.ev_t.history").head.getLong(0)
        spark.sql("REPLACE TABLE graftct.wh.ev_t AS " +
          "SELECT event_type, count(*) AS n, " +
          "CAST(sum(CAST(value AS DECIMAL(30,2))) AS DECIMAL(38,2)) " +
          "AS sum_value FROM graft_ctas_src GROUP BY event_type")
        val nPre = spark.sql(
          "SELECT count(*) FROM graftct.wh.ev_t VERSION AS OF 1")
          .head.getLong(0)
        // total_value rides the table's exact DECIMAL(38,2) sum but is
        // emitted as DOUBLE via its string rendering: the output
        // contract bans DecimalType output columns (driver-hash
        // trailing-zero divergence — see OutputContractSpec).
        spark.sql("SELECT count(*) AS n_groups, " +
            "CAST(sum(n) AS BIGINT) AS sum_n, " +
            "CAST(CAST(CAST(sum(sum_value) AS DECIMAL(38,2)) AS STRING) " +
            "AS DOUBLE) AS total_value " +
            "FROM graftct.wh.ev_t")
          .withColumn("n_ctas", lit(nCtas))
          .withColumn("v_ctas", lit(vCtas))
          .withColumn("n_pre_replace", lit(nPre))
      },
      Some("""SELECT
  (SELECT CAST(count(DISTINCT event_type) AS BIGINT) FROM events)
    AS n_groups,
  CAST(count(*) AS BIGINT) AS sum_n,
  CAST(CAST(CAST(sum(CAST(value AS DECIMAL(30,2))) AS DECIMAL(38,2))
    AS VARCHAR) AS DOUBLE) AS total_value,
  (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 2 = 0)
    AS n_ctas,
  CAST(1 AS BIGINT) AS v_ctas,
  (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 2 = 0)
    AS n_pre_replace
FROM events""")),

    // --- NATIVE STREAMING SINK (`writeStream.toTable` —
    // STREAMING_WRITE + ManifestStreamingWrite): micro-batch epochs
    // append snapshots through the SAME commit protocol as batch
    // writes, with EXACTLY-ONCE delivery — the idempotence marker is
    // the snapshot's own op label (`stream:<queryId>:<epochId>`), so
    // marker and data commit atomically (no foreachBatch, no manual
    // marker files — compare q_stream_medallion, the DIY shape this
    // replaces). The fixture throttles the source (maxPartsPerTrigger)
    // so the one AvailableNow run spans MULTIPLE epochs, and gates
    // that ≥2 stream-labeled versions landed plus the full rollup.
    // ManifestStreamSpec pins crash-replay: a re-delivered epoch
    // finds its token and drops its duplicate output. At 100 TB this
    // is the continuous-ingest shape: one snapshot per epoch, O(new
    // data) cost, the log is the transaction ledger.
    QueryDef("q_stream_sink",
      (spark0, dir) => {
        val spark = graft.streaming.Streams.streamSession(spark0)
        val wh = freshTable(spark, dir, "streamsink")
        spark.conf.set("spark.sql.catalog.graftss",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftss.warehouse", wh)
        val bronze = s"$wh/wh/bronze"
        val base = Tables.orders(spark, dir).select(
          col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
          col("o_totalprice").as("price"))
        writeHistory(base.filter(col("k") % 3 === 0), bronze, "overwrite")
        writeHistory(base.filter(col("k") % 3 === 1), bronze, "append")
        writeHistory(base.filter(col("k") % 3 === 2), bronze, "append")
        // the sink is born empty via CTAS (same schema, zero rows)
        spark.sql("CREATE TABLE graftss.wh.silver AS " +
          "SELECT * FROM (SELECT CAST(0 AS BIGINT) k, '' prio, " +
          "CAST(0.0 AS DOUBLE) price) WHERE 1 = 0")
        val q = spark.readStream
          .format("graft.sources.ManifestSource").option("path", bronze)
          .option("maxPartsPerTrigger", "4")
          .load()
          .filter(col("price") > 1000.0)
          .writeStream
          .option("checkpointLocation",
            freshTable(spark, dir, "stream_sink-ckpt"))
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable("graftss.wh.silver")
        q.awaitTermination()
        val epochs = spark.sql("SELECT count(*) FROM " +
          "graftss.wh.silver.history WHERE operation LIKE 'stream:%'")
          .head.getLong(0)
        spark.sql(s"""SELECT prio, count(*) AS n,
            ${Exact.decSumSql("price", 2).replace("VARCHAR", "STRING")}
              AS sum_price
          FROM graftss.wh.silver GROUP BY prio""")
          .withColumn("multi_epoch", lit(epochs >= 2L))
          .orderBy(col("prio"))
      },
      Some(s"""SELECT o_orderpriority AS prio,
  CAST(count(*) AS BIGINT) AS n,
  ${Exact.decSumSql("o_totalprice", 2)} AS sum_price,
  true AS multi_epoch
FROM orders WHERE o_totalprice > 1000.0
GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // --- STATIC PARTITION OVERWRITE (`INSERT OVERWRITE t PARTITION
    // (etype = 'click') SELECT …`): on an identity-split table the
    // static partition spec arrives as OverwriteByExpression
    // (etype = 'click') — the REPLACE WHERE machinery applies it as
    // ONE atomic snapshot: the single-valued 'click' parts drop
    // METADATA-ONLY (split layout ⇒ no part straddles the predicate,
    // zero COW rewrites), other partitions carry by reference, the
    // new rows append through the split writer. The Hive-shaped
    // backfill idiom ("rebuild one partition") on the snapshot log,
    // gated against the oracle's restatement; pre-overwrite snapshot
    // still time-travels. At 100 TB: rebuilding one partition costs
    // that partition's write + one manifest commit.
    QueryDef("q_overwrite_partition",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "owpart")
        spark.conf.set("spark.sql.catalog.graftop",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftop.warehouse", wh)
        spark.sql("CREATE TABLE graftop.wh.ev " +
          "(event_id BIGINT, value DOUBLE, etype STRING) " +
          "PARTITIONED BY (etype)")
        Tables.events(spark, dir)
          .select(col("event_id"), col("value"), col("event_type"))
          .createOrReplaceTempView("graft_owp_src")
        spark.sql("INSERT INTO graftop.wh.ev " +
          "SELECT event_id, value, event_type FROM graft_owp_src")
        // rebuild ONE partition: halved ids, doubled values
        spark.sql("INSERT OVERWRITE graftop.wh.ev " +
          "PARTITION (etype = 'click') " +
          "SELECT event_id, value * 2 FROM graft_owp_src " +
          "WHERE event_type = 'click' AND event_id % 2 = 0")
        val pre = spark.sql(
          "SELECT count(*) FROM graftop.wh.ev VERSION AS OF 2")
          .head.getLong(0)
        spark.sql(s"""SELECT etype, count(*) AS n,
            ${Exact.decSumSql("value", 2).replace("VARCHAR", "STRING")}
              AS sum_value
          FROM graftop.wh.ev GROUP BY etype""")
          .withColumn("n_pre_overwrite", lit(pre))
          .orderBy(col("etype"))
      },
      Some(s"""WITH cur AS (
  SELECT event_type AS etype, value FROM events
  WHERE event_type <> 'click'
  UNION ALL
  SELECT 'click' AS etype, value * 2 AS value FROM events
  WHERE event_type = 'click' AND event_id % 2 = 0)
SELECT etype, CAST(count(*) AS BIGINT) AS n,
  ${Exact.decSumSql("value", 2)} AS sum_value,
  (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_pre_overwrite
FROM cur GROUP BY etype ORDER BY etype""")),

    // --- DML WITH SUBQUERIES (`DELETE … WHERE k IN (SELECT …)`,
    // `UPDATE … WHERE EXISTS (…)`): the predicate is not a pushable
    // V1 filter, so Spark plans the row-level operation
    // (SupportsRowLevelOperations) — the subquery joins against the
    // matched-group scan, the rewrite stays bounded to matched parts.
    // The cross-table conditional DML every warehouse user writes
    // (delete rows flagged by another table, update rows that have a
    // match), gated against the oracle's restatement of both steps.
    QueryDef("q_dml_subquery",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "dmlsub")
        spark.conf.set("spark.sql.catalog.graftds",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftds.warehouse", wh)
        Tables.orders(spark, dir)
          .select(col("o_orderkey").as("k"),
            col("o_orderpriority").as("prio"),
            col("o_totalprice").as("price"))
          .repartitionByRange(4, col("k"))
          .write.format("graft.sources.ManifestSource")
          .option("path", s"$wh/wh/ord")
          .mode("overwrite").save()
        Tables.lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_quantity"))
          .createOrReplaceTempView("graft_dml_li")
        // delete orders whose lineitems ever shipped quantity > 49
        spark.sql("DELETE FROM graftds.wh.ord WHERE k IN " +
          "(SELECT l_orderkey FROM graft_dml_li WHERE l_quantity > 49)")
        // relabel orders that still have any lineitem at all
        spark.sql("UPDATE graftds.wh.ord SET prio = 'HAS-ITEMS' " +
          "WHERE EXISTS (SELECT 1 FROM graft_dml_li " +
          "WHERE l_orderkey = k)")
        spark.sql(s"""SELECT prio, count(*) AS n,
            ${Exact.decSumSql("price", 2).replace("VARCHAR", "STRING")}
              AS sum_price
          FROM graftds.wh.ord GROUP BY prio ORDER BY prio""")
      },
      Some(s"""WITH kept AS (
  SELECT o_orderkey AS k, o_orderpriority AS prio,
    o_totalprice AS price
  FROM orders
  WHERE o_orderkey NOT IN
    (SELECT l_orderkey FROM lineitem WHERE l_quantity > 49)),
relabeled AS (
  SELECT k,
    CASE WHEN EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = k)
         THEN 'HAS-ITEMS' ELSE prio END AS prio,
    price
  FROM kept)
SELECT prio, CAST(count(*) AS BIGINT) AS n,
  ${Exact.decSumSql("price", 2)} AS sum_price
FROM relabeled GROUP BY prio ORDER BY prio""")),

    // --- PARTITION MANAGEMENT on identity-split tables
    // (GraftSplitCatalogTable / SupportsPartitionManagement): SHOW
    // PARTITIONS lists distinct split values as pure manifest
    // metadata (split parts are provably single-valued), and ALTER
    // TABLE DROP PARTITION is a METADATA-ONLY delete — one snapshot
    // stops listing the value's parts, zero files read or written,
    // time travel intact. The ladder gates the listing row-for-row
    // before and after the drop, the post-drop rollup, and the
    // pre-drop count via VERSION AS OF. The Hive operational idiom
    // ("list partitions, drop yesterday's") at snapshot-log cost:
    // O(parts) driver metadata at any table size.
    QueryDef("q_show_partitions",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "showpart")
        spark.conf.set("spark.sql.catalog.graftshp",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftshp.warehouse", wh)
        spark.sql("CREATE TABLE graftshp.wh.ev " +
          "(event_id BIGINT, value DOUBLE, etype STRING) " +
          "PARTITIONED BY (etype)")
        Tables.events(spark, dir)
          .select(col("event_id"), col("value"), col("event_type"))
          .createOrReplaceTempView("graft_showp_src")
        spark.sql("INSERT INTO graftshp.wh.ev " +
          "SELECT event_id, value, event_type FROM graft_showp_src")
        val before = spark.sql("SHOW PARTITIONS graftshp.wh.ev")
          .collect().map(_.getString(0)).sorted.mkString(",")
        spark.sql("ALTER TABLE graftshp.wh.ev DROP PARTITION " +
          "(etype = 'click')")
        val nPre = spark.sql(
          "SELECT count(*) FROM graftshp.wh.ev VERSION AS OF 2")
          .head.getLong(0)
        spark.sql("SHOW PARTITIONS graftshp.wh.ev")
          .select(col("partition"))
          .withColumn("parts_before", lit(before))
          .withColumn("n_rows_after",
            lit(spark.sql("SELECT count(*) FROM graftshp.wh.ev")
              .head.getLong(0)))
          .withColumn("n_pre_drop", lit(nPre))
          .orderBy(col("partition"))
      },
      Some("""SELECT 'etype=' || event_type AS partition,
  (SELECT string_agg('etype=' || event_type, ',' ORDER BY event_type)
   FROM (SELECT DISTINCT event_type FROM events)) AS parts_before,
  (SELECT CAST(count(*) AS BIGINT) FROM events
   WHERE event_type <> 'click') AS n_rows_after,
  (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_pre_drop
FROM (SELECT DISTINCT event_type FROM events WHERE event_type <> 'click')
ORDER BY partition""")),

    // --- ALTER TABLE RENAME TO (GraftCatalog.renameTable): one
    // directory move — history, layout, tags and properties all ride
    // inside the table directory, so everything survives under the
    // new name and the old name stops resolving. The gate reads the
    // renamed table's rollup AND a pre-rename snapshot through the
    // new name, plus the old-name-gone flag.
    QueryDef("q_rename_table",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "renametab")
        spark.conf.set("spark.sql.catalog.graftrn",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftrn.warehouse", wh)
        spark.sql("CREATE TABLE graftrn.wh.ev_old " +
          "(event_id BIGINT, value DOUBLE)")
        Tables.events(spark, dir)
          .select(col("event_id"), col("value"))
          .createOrReplaceTempView("graft_rn_src")
        spark.sql("INSERT INTO graftrn.wh.ev_old " +
          "SELECT * FROM graft_rn_src WHERE event_id % 2 = 0")
        spark.sql("INSERT INTO graftrn.wh.ev_old " +
          "SELECT * FROM graft_rn_src WHERE event_id % 2 = 1")
        spark.sql("ALTER TABLE graftrn.wh.ev_old RENAME TO wh.ev_new")
        val oldGone = scala.util.Try(
          spark.sql("SELECT count(*) FROM graftrn.wh.ev_old").collect())
          .isFailure
        val nPre = spark.sql(
          "SELECT count(*) FROM graftrn.wh.ev_new VERSION AS OF 2")
          .head.getLong(0)
        spark.sql(s"""SELECT count(*) AS n_rows,
            ${Exact.decSumSql("value", 2).replace("VARCHAR", "STRING")}
              AS sum_value
          FROM graftrn.wh.ev_new""")
          .withColumn("n_pre_rename", lit(nPre))
          .withColumn("old_name_gone", lit(oldGone))
      },
      Some(s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
  ${Exact.decSumSql("value", 2)} AS sum_value,
  (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 2 = 0)
    AS n_pre_rename,
  true AS old_name_gone
FROM events""")),

    // --- TABLE PROPERTIES (TBLPROPERTIES / COMMENT ON TABLE —
    // GraftCatalog SetProperty/RemoveProperty into the version log's
    // table record): the operational key-value surface every warehouse
    // table carries — ownership tags, policy knobs, comments. The
    // ladder drives create-with-properties → SET (add + overwrite) →
    // UNSET → data commits and a metadata-only ADD COLUMN (every
    // commit carries the head's properties forward) →
    // SHOW TBLPROPERTIES read back, gated row-for-row. Properties
    // are pure driver metadata at any table size.
    QueryDef("q_tblproperties",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "tblprops")
        spark.conf.set("spark.sql.catalog.grafttp",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.grafttp.warehouse", wh)
        spark.sql("CREATE TABLE grafttp.wh.t (k BIGINT, v DOUBLE) " +
          "TBLPROPERTIES ('team' = 'data-eng', 'pii' = 'unknown')")
        spark.sql("ALTER TABLE grafttp.wh.t SET TBLPROPERTIES " +
          "('pii' = 'true', 'retention.days' = '30')")
        spark.sql("ALTER TABLE grafttp.wh.t UNSET TBLPROPERTIES ('team')")
        Tables.events(spark, dir)
          .select(col("event_id"), col("value"))
          .filter(col("event_id") % 4 === 0)
          .createOrReplaceTempView("graft_props_src")
        spark.sql("INSERT INTO grafttp.wh.t SELECT * FROM graft_props_src")
        spark.sql("ALTER TABLE grafttp.wh.t ADD COLUMN note STRING")
        val n = spark.sql("SELECT count(*) FROM grafttp.wh.t")
          .head.getLong(0)
        spark.sql("SHOW TBLPROPERTIES grafttp.wh.t")
          .unionAll(spark.range(1).select(lit("_n_rows").as("key"),
            lit(n.toString).as("value")))
          .orderBy(col("key"))
      },
      Some("""SELECT key, value FROM (VALUES
  ('_n_rows', CAST((SELECT count(*) FROM events WHERE event_id % 4 = 0)
     AS VARCHAR)),
  ('pii', 'true'),
  ('retention.days', '30')) AS p(key, value)
ORDER BY key""")),

    // --- SHOW CREATE TABLE round-trip (r17): the emitted DDL is not
    // documentation — it must be EXECUTABLE and reproduce the table.
    // The fixture creates a table with the full DDL surface this
    // catalog persists (column DEFAULT, bucket-transform
    // partitioning, TBLPROPERTIES incl. an engine knob), takes
    // SHOW CREATE TABLE's statement verbatim, executes it under a
    // new name, and proves the clone behaves identically: INSERT BY
    // NAME omitting the defaulted column materializes the SAME
    // default, the bucket layout lands (`.files` carries bucket
    // ordinals), and the properties survive. The
    // disaster-recovery/environment-promotion primitive: a table's
    // definition travels as one statement. Oracle restates the data
    // + literal-true contract booleans.
    QueryDef("q_show_create",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "showct")
        spark.conf.set("spark.sql.catalog.graftsc",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftsc.warehouse", wh)
        spark.sql("CREATE TABLE graftsc.wh.src (k BIGINT, " +
          "prio STRING DEFAULT 'NONE', price DOUBLE) " +
          "PARTITIONED BY (bucket(4, k)) " +
          "TBLPROPERTIES ('team' = 'graft', 'graft.bloom_cols' = 'prio')")
        val stmt = spark.sql("SHOW CREATE TABLE graftsc.wh.src")
          .head.getString(0)
        val keepsDefault = stmt.contains("DEFAULT 'NONE'")
        val keepsBucket = stmt.contains("bucket(4, k)")
        val keepsProps = stmt.contains("'team' = 'graft'") &&
          stmt.contains("'graft.bloom_cols' = 'prio'")
        spark.sql(stmt.replace("graftsc.wh.src", "graftsc.wh.dst"))
        Tables.orders(spark, dir)
          .filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
          .createOrReplaceTempView("graft_showct_src")
        // BY NAME insert omits `prio`: the clone must materialize the
        // round-tripped DEFAULT, not NULL
        spark.sql("INSERT INTO graftsc.wh.dst BY NAME " +
          "SELECT * FROM graft_showct_src")
        val bucketed = spark.sql(
          "SELECT count(*) FROM graftsc.wh.dst.files WHERE bucket >= 0")
          .head.getLong(0) > 0
        spark.sql(s"""
          SELECT prio, count(*) AS n,
            ${Exact.decSumSql("price", 2).replace("VARCHAR", "STRING")}
              AS sum_price
          FROM graftsc.wh.dst GROUP BY prio ORDER BY prio""")
          .withColumn("ddl_keeps_default", lit(keepsDefault))
          .withColumn("ddl_keeps_bucket", lit(keepsBucket))
          .withColumn("ddl_keeps_props", lit(keepsProps))
          .withColumn("clone_bucketed", lit(bucketed))
      },
      Some(s"""SELECT 'NONE' AS prio, CAST(count(*) AS BIGINT) AS n,
  ${Exact.decSumSql("o_totalprice", 2)} AS sum_price,
  true AS ddl_keeps_default, true AS ddl_keeps_bucket,
  true AS ddl_keeps_props, true AS clone_bucketed
FROM orders WHERE o_orderkey % 7 = 0""")),

    // --- MERGE INTO WITH SCHEMA EVOLUTION (Spark 4's
    // ResolveMergeIntoSchemaEvolution → this catalog's alterTable):
    // the ingest shape users actually hit on drifting upstream
    // schemas — the source feed grew a `tag` column the target never
    // had. With the evolution clause the merge AUTO-ADDS the column
    // as a metadata-only widening (fresh field id via the colmap, no
    // data rewrite — the same ALTER ADD COLUMN path, commanded by
    // the merge) and then runs the three-way upsert against the
    // widened schema: matched rows update value AND the new column,
    // unmatched source rows insert with it, and every untouched
    // pre-merge row reads NULL for it. Time travel to the pre-merge
    // snapshot still serves the NARROW schema (pre_has_tag = false).
    // At 100 TB: absorbing an upstream schema drift costs one
    // metadata commit + the merge's own footprint, never a backfill.
    QueryDef("q_merge_evolve",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "mrgev")
        spark.conf.set("spark.sql.catalog.graftme",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftme.warehouse", wh)
        val base = Tables.orders(spark, dir).select(
          col("o_orderkey").as("k"), col("o_totalprice").as("price"))
        base.filter(col("k") % 2 === 0)
          .repartitionByRange(4, col("k"))
          .write.format("graft.sources.ManifestSource")
          .option("path", s"$wh/wh/ord_t")
          .mode("overwrite").save()
        base.filter(col("k") % 3 === 0)
          .select(col("k"), (col("price") * 2).as("price"),
            lit("merged").as("tag"))
          .createOrReplaceTempView("graft_mev_src")
        spark.sql("""MERGE WITH SCHEMA EVOLUTION INTO graftme.wh.ord_t t
          USING graft_mev_src s ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET price = s.price, tag = s.tag
          WHEN NOT MATCHED THEN
            INSERT (k, price, tag) VALUES (s.k, s.price, s.tag)""")
        val preHasTag = spark.sql(
          "SELECT * FROM graftme.wh.ord_t VERSION AS OF 1")
          .schema.fieldNames.contains("tag")
        val preN = spark.sql(
          "SELECT count(*) FROM graftme.wh.ord_t VERSION AS OF 1")
          .head.getLong(0)
        spark.sql(s"""SELECT count(*) AS n_rows,
            count(tag) AS n_tagged,
            ${Exact.decSumSql("price", 2).replace("VARCHAR", "STRING")}
              AS sum_price
          FROM graftme.wh.ord_t""")
          .withColumn("pre_has_tag", lit(preHasTag))
          .withColumn("pre_n", lit(preN))
      },
      Some(s"""WITH t AS (
  SELECT o_orderkey AS k, o_totalprice AS price
  FROM orders WHERE o_orderkey % 2 = 0),
s AS (
  SELECT o_orderkey AS k, o_totalprice * 2 AS price
  FROM orders WHERE o_orderkey % 3 = 0),
merged AS (
  SELECT t.k,
    CASE WHEN s.k IS NOT NULL THEN s.price ELSE t.price END AS price,
    CASE WHEN s.k IS NOT NULL THEN 'merged' END AS tag
  FROM t LEFT JOIN s ON s.k = t.k
  UNION ALL
  SELECT s.k, s.price, 'merged' AS tag
  FROM s LEFT JOIN t ON t.k = s.k WHERE t.k IS NULL)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
  CAST(count(tag) AS BIGINT) AS n_tagged,
  ${Exact.decSumSql("price", 2)} AS sum_price,
  false AS pre_has_tag,
  (SELECT CAST(count(*) AS BIGINT) FROM t) AS pre_n
FROM merged""")),

    // --- CHERRY-PICK (CALL cherrypick_snapshot — Iceberg's
    // publish_changes shape): the WAP publish for a main line that
    // ADVANCED since the fork. The ingest stages its append on branch
    // 'fix' (main v1 = quarter 0 of events), an unrelated job then
    // commits straight to main (v2 = quarter 2) — fast_forward would
    // now replace main with the branch head and silently DROP that
    // interleaved commit; cherry-pick re-applies only the branch
    // snapshot's append delta (quarter 1, staged as 4 parts) as main
    // v3. Metadata-only: the staged part files have lived in the
    // table directory since the branch write; the pick is one
    // manifest commit at any table size, and the fork point is
    // RECONSTRUCTED from the immutable version log (the newest main
    // snapshot bit-identically contained in the pick). The gate pins
    // main before the pick, the CALL's own parts/rows delta, and the
    // merged table after — interleaved commit intact. Non-append
    // snapshots and diverged schemas refuse loudly (CherrypickSpec).
    QueryDef("q_cherrypick",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "cherrypick")
        spark.conf.set("spark.sql.catalog.graftcp",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftcp.warehouse", wh)
        val base = Tables.events(spark, dir)
          .select(col("event_id"), col("value"))
        val t = s"$wh/wh/ev_t"
        writeHistory(base.filter(col("event_id") % 4 === 0), t, "overwrite")
        // stage the fix on its branch — fork at main v1
        base.filter(col("event_id") % 4 === 1).repartition(4)
          .write.format("graft.sources.ManifestSource")
          .option("path", t)
          .option("branch", "fix").mode("append").save()
        // main advances with an interleaved, disjoint commit
        writeHistory(base.filter(col("event_id") % 4 === 2), t, "append")
        val nBefore = readVersion(spark, t, None).count()
        val picked = spark.sql(
          "CALL graftcp.system.cherrypick_snapshot(" +
            "table => 'wh.ev_t', branch => 'fix')")
        spark.sql(s"""SELECT count(*) AS n_after,
            ${Exact.decSumSql("value", 6).replace("VARCHAR", "STRING")}
              AS sum_after
          FROM graftcp.wh.ev_t""")
          .withColumn("n_before_pick", lit(nBefore))
          .withColumn("parts_added",
            lit(picked.head.getInt(1)))
          .withColumn("rows_added",
            lit(picked.head.getLong(2)))
      },
      Some(s"""SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 4 IN (0, 1, 2))
    AS n_after,
  (SELECT ${Exact.decSumSql("value", 6)} FROM events
   WHERE event_id % 4 IN (0, 1, 2)) AS sum_after,
  (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 4 IN (0, 2))
    AS n_before_pick,
  CAST(4 AS INT) AS parts_added,
  (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 4 = 1)
    AS rows_added""")),

    // --- IDENTITY COLUMNS (GENERATED ALWAYS / BY DEFAULT AS
    // IDENTITY — SPARK-48404 DSv2 + sink-side generation,
    // `sources/ManifestIdentity.scala`): the surrogate-key surface.
    // Values are generated at WRITE time from per-task disjoint
    // ranges (base + step·(pid·2³³ + i) — the monotonically-
    // increasing-id shape Delta uses: unique and step-aligned, gaps
    // allowed, zero cross-task coordination), and the high-water mark
    // is DERIVED from committed part stats at plan time — no side
    // state to crash out of sync, restore restores it for free. The
    // generated values themselves are placement-dependent, so the
    // gate pins the INVARIANTS (the actual contract): count distinct
    // = rows, zero NULLs, min = START, step-alignment, every
    // second-commit id above the first commit's max, GENERATED
    // ALWAYS refuses explicit values, BY DEFAULT keeps them.
    QueryDef("q_identity_col",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "identity")
        spark.conf.set("spark.sql.catalog.graftid",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftid.warehouse", wh)
        spark.sql("CREATE TABLE graftid.wh.t (" +
          "id BIGINT GENERATED ALWAYS AS IDENTITY " +
          "(START WITH 100 INCREMENT BY 3), v DOUBLE, tag STRING)")
        Tables.events(spark, dir)
          .select(col("event_id"), col("value"))
          .createOrReplaceTempView("graft_id_src")
        spark.sql("INSERT INTO graftid.wh.t (v, tag) " +
          "SELECT value, 'a' FROM graft_id_src WHERE event_id % 2 = 0")
        spark.sql("INSERT INTO graftid.wh.t (v, tag) " +
          "SELECT value, 'b' FROM graft_id_src WHERE event_id % 2 = 1")
        val explicitRefused = scala.util.Try(
          spark.sql("INSERT INTO graftid.wh.t VALUES (9, 0.0, 'x')")
        ).isFailure
        spark.sql("CREATE TABLE graftid.wh.d (" +
          "id BIGINT GENERATED BY DEFAULT AS IDENTITY, v DOUBLE)")
        spark.sql("INSERT INTO graftid.wh.d VALUES (7, 1.0), (NULL, 2.0)")
        val dflt = spark.sql(
          """SELECT max(CASE WHEN v = 1.0 THEN id END) AS kept,
               count(id) AS n_ids FROM graftid.wh.d""").head
        spark.sql("""SELECT count(*) AS n_rows,
            count(DISTINCT id) AS n_ids,
            count_if(id IS NULL) AS null_ids,
            min(id) AS min_id,
            bool_and((id - 100) % 3 = 0) AS aligned,
            min(CASE WHEN tag = 'b' THEN id END) >
              max(CASE WHEN tag = 'a' THEN id END) AS b_above_a
          FROM graftid.wh.t""")
          .withColumn("explicit_refused", lit(explicitRefused))
          .withColumn("default_kept", lit(dflt.getLong(0)))
          .withColumn("default_filled", lit(dflt.getLong(1) == 2L))
      },
      Some("""SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_rows,
  (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_ids,
  CAST(0 AS BIGINT) AS null_ids,
  CAST(100 AS BIGINT) AS min_id,
  true AS aligned,
  true AS b_above_a,
  true AS explicit_refused,
  CAST(7 AS BIGINT) AS default_kept,
  true AS default_filled""")),

    // --- CLUSTER BY at CREATE (the liquid-clustering DDL spelling,
    // mapped to the WRITE ORDERED BY layout): every INSERT
    // range-distributes + sorts on the column, so parts land with
    // DISJOINT key ranges — min/max pruning is tight from the first
    // write, no OPTIMIZE pass needed. The gate proves the physical
    // claim from `.files` metadata: ZERO overlapping part pairs
    // (data-independent — the oracle says 0), plus the rollup and
    // exact key extremes restated. At 100 TB this is the
    // declare-once layout for range-heavy workloads: clustering cost
    // rides each insert's shuffle, reads prune forever.
    QueryDef("q_cluster_by",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "clusterby")
        spark.conf.set("spark.sql.catalog.graftcb",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftcb.warehouse", wh)
        spark.sql("CREATE TABLE graftcb.wh.ev " +
          "(event_id BIGINT, value DOUBLE) CLUSTER BY (event_id)")
        Tables.events(spark, dir)
          .select(col("event_id"), col("value"))
          .createOrReplaceTempView("graft_cb_src")
        spark.sql("INSERT INTO graftcb.wh.ev SELECT * FROM graft_cb_src")
        val overlaps = spark.sql("""SELECT count(*) FROM
            graftcb.wh.ev.files a JOIN graftcb.wh.ev.files b
            ON a.part < b.part AND a.key_min <= b.key_max
              AND b.key_min <= a.key_max""").head.getLong(0)
        spark.sql(s"""SELECT count(*) AS n_rows,
            min(event_id) AS k_min, max(event_id) AS k_max,
            ${Exact.decSumSql("value", 6).replace("VARCHAR", "STRING")}
              AS sum_value
          FROM graftcb.wh.ev""")
          .withColumn("overlapping_pairs", lit(overlaps))
      },
      Some(s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
  min(event_id) AS k_min, max(event_id) AS k_max,
  ${Exact.decSumSql("value", 6)} AS sum_value,
  CAST(0 AS BIGINT) AS overlapping_pairs
FROM events""")),

    // --- INSERT BY NAME: column resolution by NAME instead of
    // position — the spelling that survives SELECT-list and table-DDL
    // drift (a reordered upstream projection lands in the right
    // columns instead of silently transposing). Pure resolution-time
    // work: the analyzer re-projects to table order, the physical
    // plan is the same append.
    QueryDef("q_insert_by_name",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "insbyname")
        spark.conf.set("spark.sql.catalog.graftbn",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftbn.warehouse", wh)
        spark.sql("CREATE TABLE graftbn.wh.ord " +
          "(k BIGINT, prio STRING, price DOUBLE)")
        Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice"))
          .createOrReplaceTempView("graft_bn_src")
        // deliberately shuffled select order: BY NAME must transpose
        spark.sql("""INSERT INTO graftbn.wh.ord BY NAME
          SELECT CAST(o_totalprice AS DOUBLE) AS price,
                 o_orderkey AS k,
                 o_orderpriority AS prio
          FROM graft_bn_src WHERE o_orderkey % 2 = 0""")
        spark.sql(s"""SELECT prio, count(*) AS n,
            ${Exact.decSumSql("price", 2).replace("VARCHAR", "STRING")}
              AS sum_price,
            min(k) AS k_min
          FROM graftbn.wh.ord GROUP BY prio ORDER BY prio""")
      },
      Some(s"""SELECT o_orderpriority AS prio,
  CAST(count(*) AS BIGINT) AS n,
  ${Exact.decSumSql("o_totalprice", 2)} AS sum_price,
  min(o_orderkey) AS k_min
FROM orders WHERE o_orderkey % 2 = 0
GROUP BY prio ORDER BY prio""")),

    // --- REMOVE ORPHAN FILES (Iceberg's remove_orphan_files): the
    // janitor pass that reclaims crash debris and aborted-write
    // stages WITHOUT touching retention — every snapshot stays
    // readable (versus expire_snapshots, which trades history for
    // space). The fixture plants an aged never-referenced file; the
    // gate pins exactly one reclaim, zero snapshots expired, and
    // both the head and a pre-append snapshot still reading in full.
    // Same reference-counting sweep as vacuum: O(snapshots +
    // files-in-dir) driver metadata at any table size.
    QueryDef("q_orphan_files",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "orphanfiles")
        spark.conf.set("spark.sql.catalog.graftof",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftof.warehouse", wh)
        val base = Tables.events(spark, dir)
          .select(col("event_id"), col("value"))
        val t = s"$wh/wh/ev_t"
        writeHistory(base.filter(col("event_id") % 2 === 0), t, "overwrite")
        writeHistory(base.filter(col("event_id") % 2 =!= 0), t, "append")
        val fs = new Path(t).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val orphan = new Path(t,
          graft.sources.ManifestSink.partFileName("orphan00-0-0"))
        val os = fs.create(orphan, true)
        try os.write("junk\n".getBytes("UTF-8")) finally os.close()
        fs.setTimes(orphan, System.currentTimeMillis() - 7200000L, -1L)
        val r = spark.sql(
          "CALL graftof.system.remove_orphan_files(" +
            "table => 'wh.ev_t', older_than_ms => 3600000)").head
        spark.sql("""SELECT count(*) AS n_rows,
            (SELECT count(*) FROM graftof.wh.ev_t VERSION AS OF 1)
              AS n_v1
          FROM graftof.wh.ev_t""")
          .withColumn("files_deleted", lit(r.getInt(0)))
          .withColumn("versions_retained", lit(r.getInt(1)))
          .withColumn("orphan_gone", lit(!fs.exists(orphan)))
      },
      Some("""SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_rows,
  (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 2 = 0)
    AS n_v1,
  CAST(1 AS INT) AS files_deleted,
  CAST(2 AS INT) AS versions_retained,
  true AS orphan_gone""")),

    // --- GENERATED COLUMNS (GENERATED ALWAYS AS (expr) — Delta's
    // shape on SPARK-48404 DSv2 create + sink-side computation,
    // `sources/ManifestGenerated.scala`): the expression is validated
    // at CREATE (deterministic, no generated/identity references,
    // exact declared type) and COMPUTED per row on the write path —
    // an interpreted catalyst projection inside the writer, no
    // shuffle, no UDF; explicit values refuse loudly (a caller value
    // disagreeing with the expression would corrupt every downstream
    // read). Unlike identity, the values are fully DETERMINISTIC, so
    // the gate restates every generated cell from the source columns
    // — the strongest possible cross-engine check of compute-on-write.
    QueryDef("q_generated_col",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "generated")
        spark.conf.set("spark.sql.catalog.graftgc",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftgc.warehouse", wh)
        spark.sql("""CREATE TABLE graftgc.wh.ord (
          k BIGINT, p STRING, v DOUBLE,
          gross DOUBLE GENERATED ALWAYS AS (v * CAST(2 AS DOUBLE)),
          ptag STRING GENERATED ALWAYS AS (upper(substring(p, 1, 3))))""")
        Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice"))
          .createOrReplaceTempView("graft_gc_src")
        spark.sql("""INSERT INTO graftgc.wh.ord (k, p, v)
          SELECT o_orderkey, o_orderpriority,
                 CAST(o_totalprice AS DOUBLE)
          FROM graft_gc_src""")
        val explicitRefused = scala.util.Try(spark.sql(
          "INSERT INTO graftgc.wh.ord VALUES (0, 'x', 1.0, 9.0, 'XXX')")
        ).isFailure
        spark.sql("""SELECT k, ptag, gross FROM graftgc.wh.ord
            ORDER BY k""")
          .withColumn("explicit_refused", lit(explicitRefused))
      },
      Some("""SELECT o_orderkey AS k,
  upper(substring(o_orderpriority, 1, 3)) AS ptag,
  CAST(o_totalprice AS DOUBLE) * CAST(2 AS DOUBLE) AS gross,
  true AS explicit_refused
FROM orders ORDER BY k""")),

    // --- PARTITION-SCOPED COMPACTION (`CALL compact(split_value =>
    // 'v')` — Delta's OPTIMIZE ... WHERE / Iceberg's
    // rewrite_data_files(where)): only the named identity partition's
    // parts rewrite; every other part carries by reference, so
    // maintenance cost is O(hot partition), never O(table) — at
    // 100 TB you compact yesterday's partition while the archive
    // stays untouched. Two inserts leave 2 parts per partition; the
    // scoped call packs ONE partition 2→1 (gated from the CALL's own
    // stats AND from `.files.split_value` before/after), a sibling
    // partition provably keeps its 2 parts, the rollup restates
    // exactly, and the pre-compact snapshot stays readable.
    QueryDef("q_compact_partition",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "compactpart")
        spark.conf.set("spark.sql.catalog.graftcw",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftcw.warehouse", wh)
        spark.sql("CREATE TABLE graftcw.wh.ev " +
          "(event_id BIGINT, value DOUBLE, etype STRING) " +
          "PARTITIONED BY (etype)")
        Tables.events(spark, dir)
          .select(col("event_id"), col("value"), col("event_type"))
          .createOrReplaceTempView("graft_cw_src")
        spark.sql("INSERT INTO graftcw.wh.ev SELECT * FROM graft_cw_src " +
          "WHERE event_id % 2 = 0")
        spark.sql("INSERT INTO graftcw.wh.ev SELECT * FROM graft_cw_src " +
          "WHERE event_id % 2 = 1")
        def partsOf(v: String): Long = spark.sql(
          s"SELECT count(*) FROM graftcw.wh.ev.files " +
            s"WHERE split_value = '$v'").head.getLong(0)
        val clickBefore = partsOf("click")
        val r = spark.sql(
          "CALL graftcw.system.compact(table => 'wh.ev', " +
            "target_parts => 1, split_value => 'click')").head
        spark.sql(s"""SELECT count(*) AS n_rows,
            ${Exact.decSumSql("value", 6).replace("VARCHAR", "STRING")}
              AS sum_value
          FROM graftcw.wh.ev""")
          .withColumn("click_before", lit(clickBefore))
          .withColumn("parts_rewritten", lit(r.getInt(0)))
          .withColumn("parts_after", lit(r.getInt(1)))
          .withColumn("click_after", lit(partsOf("click")))
          .withColumn("view_after", lit(partsOf("view")))
          .withColumn("n_pre_compact",
            lit(spark.sql("SELECT count(*) FROM graftcw.wh.ev " +
              "VERSION AS OF 3").head.getLong(0)))
      },
      Some(s"""SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_rows,
  (SELECT ${Exact.decSumSql("value", 6)} FROM events) AS sum_value,
  CAST(2 AS BIGINT) AS click_before,
  CAST(2 AS INT) AS parts_rewritten,
  CAST(1 AS INT) AS parts_after,
  CAST(1 AS BIGINT) AS click_after,
  CAST(2 AS BIGINT) AS view_after,
  (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_pre_compact""")),

    // --- NAMED REFS AS A TABLE (`.refs` — Iceberg's unified refs
    // view): main + every branch (mutable WAP heads) + every tag
    // (immutable expiry pins) in one relation, each with the version
    // it resolves. The fixture stages a branch and pins a tag, then
    // the gate restates the full listing row-for-row AND proves each
    // ref RESOLVES (the tag read through VERSION AS OF returns the
    // pinned snapshot's count). Pure driver metadata — a directory
    // listing plus KB version headers at any table size.
    QueryDef("q_meta_refs",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "metarefs")
        spark.conf.set("spark.sql.catalog.graftmr",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.graftmr.warehouse", wh)
        val base = Tables.events(spark, dir)
          .select(col("event_id"), col("value"))
        val t = s"$wh/wh/ev_t"
        writeHistory(base.filter(col("event_id") % 2 === 0), t, "overwrite")
        writeHistory(base.filter(col("event_id") % 2 =!= 0), t, "append")
        base.filter(col("event_id") % 10 === 0).repartition(2)
          .write.format("graft.sources.ManifestSource")
          .option("path", t)
          .option("branch", "audit").mode("append").save()
        spark.sql("CALL graftmr.system.tag(table => 'wh.ev_t', " +
          "name => 'release-1', version => 1)")
        val nTagged = spark.sql(
          "SELECT count(*) FROM graftmr.wh.ev_t VERSION AS OF 'release-1'")
          .head.getLong(0)
        spark.sql("""SELECT name, type, version
            FROM graftmr.wh.ev_t.refs ORDER BY type, name""")
          .withColumn("n_tagged", lit(nTagged))
      },
      Some("""SELECT name, type, version,
  (SELECT CAST(count(*) AS BIGINT) FROM events WHERE event_id % 2 = 0)
    AS n_tagged
FROM (VALUES
  ('audit', 'branch', CAST(1 AS INT)),
  ('main', 'branch', CAST(2 AS INT)),
  ('release-1', 'tag', CAST(1 AS INT)))
  AS r(name, type, version)
ORDER BY type, name""")),

    // --- MULTI-TABLE ATOMIC COMMIT (sources/ManifestTxn — the
    // Nessie / catalog-transaction shape, r17 VERDICT item 5): a
    // bronze→silver pipeline stages BOTH target tables on the shared
    // `txn-<id>` branch (main untouched — ordinary WAP invisibility),
    // then `CALL txn_commit` publishes them as ONE transaction: every
    // table verified + ONE atomic marker (the commit point) + per-
    // table roll-forward labeled `txn:<id>`. The gate drives the
    // failure contract live: a SECOND txn declaring a table with
    // nothing staged aborts BEFORE the commit point and NEITHER table
    // advances (versions re-read, rides the output), while the
    // committed txn shows exactly ONE epoch boundary on both
    // histories (op-labeled, counted from `.history`). All metadata:
    // publish cost is O(tables + parts) manifest work at any size —
    // the multi-table pipeline stops being N independently-failing
    // commits. TxnSpec pins crash recovery (marker → roll-forward
    // idempotence) and the foreign-commit refusals.
    QueryDef("q_txn_multi",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "txnmulti")
        spark.conf.set("spark.sql.catalog.gtxn",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.gtxn.warehouse", wh)
        val ev = Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"), col("value"))
        val ta = s"$wh/ns/bronze"
        val tb = s"$wh/ns/silver"
        writeHistory(ev.filter(col("event_id") % 2 === 0), ta, "overwrite")
        writeHistory(ev.filter(col("event_id") % 3 === 0)
          .select(col("event_id"), col("value")), tb, "overwrite")
        def stage(df: DataFrame, t: String,
            branch: String = "txn-epoch7"): Unit = df.repartition(2)
          .write.format("graft.sources.ManifestSource")
          .option("path", t)
          .option("branch", branch).mode("append").save()
        stage(ev.filter(col("event_id") % 2 =!= 0), ta)
        stage(ev.filter(col("event_id") % 3 =!= 0)
          .select(col("event_id"), col("value")), tb)
        val nPub = spark.sql("CALL gtxn.system.txn_commit(id => " +
          "'epoch7', tables => 'ns.bronze,ns.silver')").head.getInt(0)
        // one epoch boundary on BOTH histories: exactly one version
        // carries the txn label, and it is the head
        def txnVersions(t: String): Long = spark.sql(
          s"SELECT count(*) FROM gtxn.ns.$t.history " +
            "WHERE operation = 'txn:epoch7'").head.getLong(0)
        def headVer(t: String): Long = spark.sql(
          s"SELECT max(version) FROM gtxn.ns.$t.history").head.getInt(0)
        val vA = headVer("bronze"); val vB = headVer("silver")
        // failed txn: bronze staged, silver declared but NOT staged →
        // abort BEFORE the commit point; neither table may advance
        stage(ev.filter(col("event_id") % 100 === 0), ta, "txn-epoch8")
        val failedCleanly = try {
          spark.sql("CALL gtxn.system.txn_commit(id => 'epoch8', " +
            "tables => 'ns.bronze,ns.silver')")
          false
        } catch { case e: Throwable =>
          e.getMessage != null && e.getMessage.contains("no staged commits")
        }
        val unadvanced = headVer("bronze") == vA && headVer("silver") == vB
        spark.sql("SELECT count(*) AS n_bronze, " +
          "CAST(sum(CAST(value AS DECIMAL(30,6))) AS STRING) " +
          "AS _sb FROM gtxn.ns.bronze")
          .select(col("n_bronze"), col("_sb").cast("double").as("sum_bronze"))
          .crossJoin(spark.sql(
            "SELECT count(*) AS n_silver FROM gtxn.ns.silver"))
          .withColumn("tables_published", lit(nPub))
          .withColumn("txn_epochs_bronze", lit(txnVersions("bronze")))
          .withColumn("txn_epochs_silver", lit(txnVersions("silver")))
          .withColumn("failed_txn_aborted_clean", lit(failedCleanly))
          .withColumn("failed_txn_advanced_nothing", lit(unadvanced))
      },
      Some(s"""SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_bronze,
  (SELECT ${graft.functions.Exact.decSumSql("value", 6)} FROM events)
    AS sum_bronze,
  (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_silver,
  CAST(2 AS INT) AS tables_published,
  CAST(1 AS BIGINT) AS txn_epochs_bronze,
  CAST(1 AS BIGINT) AS txn_epochs_silver,
  true AS failed_txn_aborted_clean,
  true AS failed_txn_advanced_nothing""")),

    // --- JOIN-SHAPED MATERIALIZED VIEW (sources/ManifestMv.createJoin
    // — r17 VERDICT item 6, the other classic MV): materialize
    // fact⋈dim GROUP BY <dim attr> (count + exact decimal sum) with
    // FK-LOCAL incremental refresh — a fact APPEND folds by joining
    // only the DELTA against the BROADCAST dim pinned at the recorded
    // dim version (`fk_local_append` gates plus_parts>0 ∧
    // minus_parts==0 from the CALL's own stats: the fact table was
    // never rescanned), a fact MOR DELETE restates exactly the
    // re-vectored parts through the same join, and the routed query
    // (`graft.mv.rewrite`) loses BOTH its Join and its Aggregate —
    // `routed` gates the optimized plan reading the MV relation
    // instead (exactness conditions: both sides' snapshot versions
    // equal the recorded watermark pair and the equi-join columns
    // match; anything else declines to the live join). At 100 TB
    // this is the star-schema dashboard MV: dim is MBs (broadcast),
    // fact is the 100 TB side, maintenance is O(fact delta), and the
    // routed dashboard reads O(groups) rows. MvRewriteSpec pins the
    // decline ladder (stale fact, moved dim, wrong join columns).
    QueryDef("q_mv_join",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "mvjoin")
        spark.conf.set("spark.sql.catalog.gmvj",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.gmvj.warehouse", wh)
        val fact = Tables.events(spark, dir)
          .select(col("event_id"), (col("user_id") % 25).as("fk"),
            col("value"))
        val ft = s"$wh/ns/fact"
        val dt = s"$wh/ns/dim"
        writeHistory(fact.filter(col("event_id") % 3 =!= 0), ft, "overwrite")
        writeHistory(Tables.nation(spark, dir)
          .select(col("n_nationkey").as("dk"), col("n_name").as("grp")),
          dt, "overwrite", parts = 1)
        spark.sql("CALL gmvj.system.create_mv(mv_table => 'ns.mv', " +
          "source_table => 'ns.fact', key_col => 'grp', " +
          "sum_col => 'value', scale => 6, dim_table => 'ns.dim', " +
          "fk_col => 'fk', dim_key_col => 'dk')")
        // fact APPEND → FK-local fold: the delta joins the broadcast
        // dim; minus side empty proves no restatement of old parts
        writeHistory(fact.filter(col("event_id") % 3 === 0), ft, "append")
        val r1 = spark.sql(
          "CALL gmvj.system.refresh_mv(mv_table => 'ns.mv')").head
        val fkLocalAppend = r1.getInt(2) > 0 && r1.getInt(3) == 0
        // fact MOR DELETE → the re-vectored parts restate through the
        // same join (minus the old state, plus the masked read)
        withConf(spark, "graft.delete.mode" -> "mor") {
          spark.sql(
            "DELETE FROM gmvj.ns.fact WHERE event_id % 7 = 0 " +
              "AND value IS NOT NULL")
        }
        val r2 = spark.sql(
          "CALL gmvj.system.refresh_mv(mv_table => 'ns.mv')").head
        val deleteRestated = r2.getInt(3) > 0
        // transparent routing: the join+agg query loses Join AND
        // Aggregate and reads the MV relation
        val q = "SELECT grp, count(*) AS n_rows, " +
          "CAST(CAST(sum(CAST(value AS DECIMAL(30,6))) AS STRING) " +
          "AS DOUBLE) AS sum_v " +
          "FROM gmvj.ns.fact f JOIN gmvj.ns.dim d ON f.fk = d.dk " +
          "GROUP BY grp"
        val (routedDf, routed) =
          withConf(spark, "graft.mv.rewrite" -> s"$wh/ns/mv") {
            val r = spark.sql(q)
            val plan = r.queryExecution.optimizedPlan
            (r, !plan.exists(_.isInstanceOf[
                org.apache.spark.sql.catalyst.plans.logical.Join]) &&
              !plan.exists(_.isInstanceOf[
                org.apache.spark.sql.catalyst.plans.logical.Aggregate]) &&
              graft.sources.MvRewrite.readsManifestDir(plan, s"$wh/ns/mv"))
          }
        routedDf
          .withColumn("routed", lit(routed))
          .withColumn("fk_local_append", lit(fkLocalAppend))
          .withColumn("delete_restated", lit(deleteRestated))
          .orderBy(col("grp"))
      },
      Some(s"""SELECT n.n_name AS grp, CAST(count(*) AS BIGINT) AS n_rows,
  ${graft.functions.Exact.decSumSql("e.value", 6)} AS sum_v,
  true AS routed, true AS fk_local_append, true AS delete_restated
FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
WHERE e.event_id % 7 <> 0
GROUP BY n.n_name ORDER BY n.n_name""")),

    // --- SCAN OBSERVABILITY (DSv2 custom metrics, previously only
    // ScanMetricsSpec-pinned): the per-scan driver/reader metrics a
    // 100 TB operator actually watches — partsPlanned/partsSkipped
    // prove pruning did its job BEFORE paying the scan, dvMaskedRows/
    // eqMaskedRows meter the merge-on-read debt a compaction decision
    // needs. The fixture is 4 range-disjoint parts with one MOR
    // delete (part 2) and one equality delete (part 0): the range
    // probe plans EXACTLY 1 part (3 skipped), its readers count
    // exactly the deleted rows, and the full scan sees both debts.
    // Every metric value is restated analytically by the oracle, so
    // the gate proves the meters report truth, not plausible numbers.
    QueryDef("q_scan_metrics",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "scanmetrics")
        spark.conf.set("spark.sql.catalog.gsmq",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.gsmq.warehouse", wh)
        val t = s"$wh/ns/m"
        val ev = Tables.events(spark, dir)
          .filter(col("event_id") < 1000)
          .select(col("event_id").as("k"), col("event_type").as("s"),
            col("value"))
        (0 until 4).foreach { i =>
          ev.filter(col("k") >= i * 250L && col("k") < (i + 1) * 250L)
            .coalesce(1).write.format("graft.sources.ManifestSource")
            .option("path", t)
            .mode(if (i == 0) "overwrite" else "append").save()
        }
        withConf(spark, "graft.delete.mode" -> "mor") {
          spark.sql("DELETE FROM gsmq.ns.m " +
            "WHERE k >= 300 AND k < 350 AND s IS NOT NULL")
        }
        withConf(spark, "graft.delete.mode" -> "eq") {
          spark.sql("DELETE FROM gsmq.ns.m WHERE k IN (10, 20, 30)")
        }
        def metricsOf(df: DataFrame): Map[String, Long] = {
          df.collect()
          df.queryExecution.executedPlan.collect {
            case b: org.apache.spark.sql.execution.datasources.v2
              .BatchScanExec => b
          }.head.metrics.map { case (k, m) => k -> m.value }
        }
        val probe = spark.sql(
          "SELECT k, value FROM gsmq.ns.m WHERE k BETWEEN 250 AND 499")
        val pm = metricsOf(probe)
        val fm = metricsOf(spark.sql("SELECT k FROM gsmq.ns.m"))
        spark.sql("""SELECT count(*) AS n_visible,
            CAST(CAST(sum(CAST(value AS DECIMAL(30,6))) AS STRING)
              AS DOUBLE) AS sum_visible
          FROM gsmq.ns.m WHERE k BETWEEN 250 AND 499""")
          .withColumn("parts_planned", lit(pm("partsPlanned")))
          .withColumn("parts_skipped", lit(pm("partsSkipped")))
          .withColumn("dv_masked", lit(pm("dvMaskedRows")))
          .withColumn("eq_masked_probe", lit(pm("eqMaskedRows")))
          .withColumn("parts_planned_full", lit(fm("partsPlanned")))
          .withColumn("eq_masked_full", lit(fm("eqMaskedRows")))
      },
      Some(s"""SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM events
   WHERE event_id BETWEEN 250 AND 499
     AND NOT (event_id >= 300 AND event_id < 350)) AS n_visible,
  (SELECT ${graft.functions.Exact.decSumSql("value", 6)} FROM events
   WHERE event_id BETWEEN 250 AND 499
     AND NOT (event_id >= 300 AND event_id < 350)) AS sum_visible,
  CAST(1 AS BIGINT) AS parts_planned,
  CAST(3 AS BIGINT) AS parts_skipped,
  (SELECT CAST(count(*) AS BIGINT) FROM events
   WHERE event_id >= 300 AND event_id < 350) AS dv_masked,
  CAST(0 AS BIGINT) AS eq_masked_probe,
  CAST(4 AS BIGINT) AS parts_planned_full,
  (SELECT CAST(count(*) AS BIGINT) FROM events
   WHERE event_id IN (10, 20, 30)) AS eq_masked_full"""))
      ,

    // --- COST-BASED BROADCAST FROM MANIFEST STATS (previously only
    // ScaleSpec-pinned): the scan's estimateStatistics reports
    // POST-PRUNING bytes from the parts' true on-disk sizes, so a
    // selective key range over an 8-part fact reports ~1/8 the bytes
    // and the planner flips the join's fact side to BROADCAST —
    // while the same join WITHOUT the predicate reports full size
    // and stays sort-merge. One threshold (full fact bytes / 3, read
    // from `.files` — between 1/8 and 1 at any scale factor) serves
    // both plans, so the flip is the manifest stats' doing alone.
    // At 100 TB: a dashboard's filtered fact⋈dim broadcasts its few
    // pruned parts instead of shuffling the dim against a
    // whole-table width guess.
    QueryDef("q_stats_broadcast",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "statsbcast")
        spark.conf.set("spark.sql.catalog.gsb",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.gsb.warehouse", wh)
        Tables.events(spark, dir)
          .select(col("event_id").as("k"), col("value"))
          .repartitionByRange(8, col("k"))
          .write.format("graft.sources.ManifestSource")
          .option("path", s"$wh/ns/fact")
          .mode("overwrite").save()
        Tables.orders(spark, dir)
          .select((col("o_orderkey") % 2000).as("dk"),
            col("o_totalprice"))
          .repartition(4)
          .write.format("graft.sources.ManifestSource")
          .option("path", s"$wh/ns/dim")
          .mode("overwrite").save()
        val factBytes = spark.sql(
          "SELECT CAST(sum(bytes) AS BIGINT) FROM gsb.ns.fact.files")
          .head.getLong(0)
        def q(where: String) = spark.sql(
          s"""SELECT count(*) AS n,
            CAST(CAST(sum(CAST(d.o_totalprice AS DECIMAL(30,2)))
              AS STRING) AS DOUBLE) AS sum_price
          FROM gsb.ns.fact f JOIN gsb.ns.dim d ON f.k = d.dk $where""")
        def broadcasts(df: DataFrame): Boolean =
          df.queryExecution.executedPlan.exists(_.isInstanceOf[
            org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
        val saved = Seq("spark.sql.adaptive.enabled",
          "spark.sql.autoBroadcastJoinThreshold")
          .map(c => c -> spark.conf.get(c))
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
          (factBytes / 3).toString)
        try {
          val pruned = q("WHERE f.k >= 100 AND f.k < 200")
          val full = q("")
          val flip = broadcasts(pruned) && !broadcasts(full)
          pruned
            .withColumn("pruned_broadcasts_full_does_not", lit(flip))
        } finally saved.foreach { case (c, v) => spark.conf.set(c, v) }
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n,
  CAST(CAST(sum(CAST(o.o_totalprice AS DECIMAL(30,2))) AS VARCHAR)
    AS DOUBLE) AS sum_price,
  true AS pruned_broadcasts_full_does_not
FROM events e JOIN orders o ON e.event_id = o.o_orderkey % 2000
WHERE e.event_id >= 100 AND e.event_id < 200""")),

    // --- WRITE ORDERED BY (previously only SpjSpec-pinned):
    // `CALL set_layout(order_by => 'k')` makes every subsequent
    // INSERT range-distribute + sort on k, so parts land SORTED with
    // DISJOINT key ranges — the layout that makes every later range
    // predicate open O(1) parts and every merge read streaming. The
    // gate drives the full contract live: unsorted input lands as
    // all-sorted disjoint-range parts (booleans folded from the
    // manifest), a narrow range probe plans a strict subset, and the
    // probe's answer restates from the raw table. At 100 TB this is
    // the write-once/prune-forever trade: one range exchange at
    // ingest buys every scan's pruning.
    QueryDef("q_write_ordered",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "writeordered")
        spark.conf.set("spark.sql.catalog.gwo",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.gwo.warehouse", wh)
        spark.sql("CREATE TABLE gwo.ns.ord (k BIGINT, v DOUBLE)")
        spark.sql("CALL gwo.system.set_layout(table => 'ns.ord', " +
          "spec => 'none', order_by => 'k')")
        // deliberately UNSORTED input (hash-scrambled), 4-way range
        // exchange pinned (AQE would coalesce small test inputs into
        // one part and the layout would be unobservable)
        Tables.events(spark, dir)
          .select(col("event_id").as("k"), col("value").as("v"))
          .repartition(8, col("v"))
          .createOrReplaceTempView("graft_wo_src")
        val savedA = spark.conf.get(
          "spark.sql.adaptive.coalescePartitions.enabled")
        val savedP = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set(
          "spark.sql.adaptive.coalescePartitions.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try spark.sql("INSERT INTO gwo.ns.ord SELECT * FROM graft_wo_src")
        finally {
          spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", savedA)
          spark.conf.set("spark.sql.shuffle.partitions", savedP)
        }
        val files = spark.sql(
          "SELECT is_sorted, key_min, key_max FROM gwo.ns.ord.files")
          .collect()
        val allSorted = files.nonEmpty && files.forall(_.getBoolean(0))
        val ranges = files.map(r => (r.getLong(1), r.getLong(2)))
          .sortBy(_._1)
        val disjoint = ranges.sliding(2).forall {
          case Array((_, aMax), (bMin, _)) => aMax < bMin
          case _ => true
        }
        val probe = spark.sql("""SELECT count(*) AS n,
            CAST(CAST(sum(CAST(v AS DECIMAL(30,6))) AS STRING)
              AS DOUBLE) AS sum_v
          FROM gwo.ns.ord WHERE k >= 100 AND k < 200""")
        val planned = probe.queryExecution.sparkPlan.collectFirst {
          case b: org.apache.spark.sql.execution.datasources.v2
            .BatchScanExec => b.inputPartitions.length
        }.getOrElse(-1)
        probe
          .withColumn("all_sorted", lit(allSorted))
          .withColumn("ranges_disjoint", lit(disjoint))
          .withColumn("probe_pruned", lit(planned > 0 &&
            planned < files.length))
      },
      Some(s"""SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM events
   WHERE event_id >= 100 AND event_id < 200) AS n,
  (SELECT ${graft.functions.Exact.decSumSql("value", 6)} FROM events
   WHERE event_id >= 100 AND event_id < 200) AS sum_v,
  true AS all_sorted, true AS ranges_disjoint, true AS probe_pruned""")),

    // --- TopN PUSHDOWN on ordered layouts (SupportsPushDownTopN,
    // PARTIAL): `ORDER BY key LIMIT k` on a WRITE ORDERED / CLUSTER
    // BY table plans only the BOUNDARY parts — the scan accepts the
    // TopN as a part-pruning hint (isPartiallyPushed, so Spark keeps
    // its Sort+Limit and correctness never rests on the prune) and
    // build() keeps the shortest disjoint-range prefix covering k
    // visible rows. The gate proves all three halves live: ASC and
    // DESC probes each plan fewer parts than the table holds
    // (opposite boundaries), while the SAME query on an UNSORTED
    // copy declines (overlapping ranges ⇒ all parts planned).
    // Answers restated either way. At 100 TB this is "show me the
    // newest 100 rows" opening 1 part instead of sorting the table.
    QueryDef("q_topk_pushdown",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "topkpush")
        spark.conf.set("spark.sql.catalog.gtk",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.gtk.warehouse", wh)
        spark.sql("CREATE TABLE gtk.ns.ord (k BIGINT, v DOUBLE)")
        spark.sql("CALL gtk.system.set_layout(table => 'ns.ord', " +
          "spec => 'none', order_by => 'k')")
        spark.sql("CREATE TABLE gtk.ns.unord (k BIGINT, v DOUBLE)")
        Tables.events(spark, dir)
          .select(col("event_id").as("k"), col("value").as("v"))
          .repartition(8, col("v"))
          .createOrReplaceTempView("graft_tk_src")
        val savedA = spark.conf.get(
          "spark.sql.adaptive.coalescePartitions.enabled")
        val savedP = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set(
          "spark.sql.adaptive.coalescePartitions.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try {
          spark.sql("INSERT INTO gtk.ns.ord SELECT * FROM graft_tk_src")
          spark.sql("INSERT INTO gtk.ns.unord SELECT * FROM graft_tk_src")
        } finally {
          spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", savedA)
          spark.conf.set("spark.sql.shuffle.partitions", savedP)
        }
        def planned(df: DataFrame): Int =
          df.queryExecution.sparkPlan.collectFirst {
            case b: org.apache.spark.sql.execution.datasources.v2
              .BatchScanExec => b.inputPartitions.length
          }.getOrElse(-1)
        def files(t: String): Int =
          spark.sql(s"SELECT count(*) FROM gtk.ns.$t.files")
            .head.getLong(0).toInt
        val (total, totalU) = (files("ord"), files("unord"))
        val asc = spark.sql(
          "SELECT k, v FROM gtk.ns.ord ORDER BY k LIMIT 10")
        val desc = spark.sql(
          "SELECT k, v FROM gtk.ns.ord ORDER BY k DESC LIMIT 10")
        val unord = spark.sql(
          "SELECT k, v FROM gtk.ns.unord ORDER BY k LIMIT 10")
        val ascPruned = planned(asc) > 0 && planned(asc) < total
        val descPruned = planned(desc) > 0 && planned(desc) < total
        // overlapping ranges ⇒ the prune declines ⇒ every part planned
        val unsortedDeclines = totalU > 1 && planned(unord) == totalU
        asc
          .withColumn("asc_pruned", lit(ascPruned))
          .withColumn("desc_pruned", lit(descPruned))
          .withColumn("unsorted_declines", lit(unsortedDeclines))
          .orderBy(col("k"))
      },
      Some("""SELECT event_id AS k, value AS v,
  true AS asc_pruned, true AS desc_pruned, true AS unsorted_declines
FROM events ORDER BY k LIMIT 10""")),

    // --- SIZE-TARGETED COMPACTION gated live (previously only
    // ProcedureSpec-pinned): `CALL compact(table, target_bytes => N)`
    // sizes the rewrite the way real engines do — file count =
    // ceil(committed physical bytes / target), derived from the head
    // manifest's per-part byte stats (O(parts) driver metadata, no
    // listing). The gate reads the table's true bytes from `.files`,
    // asks for thirds, checks the CALL's parts_after equals the
    // formula AND the post-compaction file count agrees, and restates
    // the rollup — compaction changed layout, never content. At
    // 100 TB "make the files ~256 MB" is the ask every maintenance
    // scheduler issues; the part count is the derived detail.
    QueryDef("q_compact_bytes",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "compactbytes")
        spark.conf.set("spark.sql.catalog.gcb",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.gcb.warehouse", wh)
        Tables.events(spark, dir)
          .select(col("event_id").as("k"), col("event_type"), col("value"))
          .repartitionByRange(8, col("k"))
          .write.format("graft.sources.ManifestSource")
          .option("path", s"$wh/ns/t")
          .mode("overwrite").save()
        val bytes = spark.sql(
          "SELECT CAST(sum(bytes) AS BIGINT) FROM gcb.ns.t.files")
          .head.getLong(0)
        val target = math.max(1L, bytes / 3)
        val expected = math.ceil(bytes.toDouble / target).toInt
        val r = spark.sql("CALL gcb.system.compact(table => 'ns.t', " +
          s"target_bytes => $target)").head
        val partsAfter = spark.sql(
          "SELECT count(*) FROM gcb.ns.t.files").head.getLong(0)
        spark.sql("""SELECT count(*) AS n,
            CAST(CAST(sum(CAST(value AS DECIMAL(30,6))) AS STRING)
              AS DOUBLE) AS sum_v
          FROM gcb.ns.t""")
          .withColumn("parts_before", lit(r.getInt(0).toLong))
          .withColumn("sized_to_formula",
            lit(r.getInt(1) == expected && partsAfter == expected.toLong))
      },
      Some(s"""SELECT CAST(count(*) AS BIGINT) AS n,
  (SELECT ${graft.functions.Exact.decSumSql("value", 6)} FROM events)
    AS sum_v,
  CAST(8 AS BIGINT) AS parts_before, true AS sized_to_formula
FROM events""")),

    // --- STREAMING TAIL BY TIME (`startingTimestamp` — previously
    // only ManifestStreamSpec-pinned): a fresh consumer tails from
    // the EARLIEST snapshot committed at or after the given instant
    // (version-file mtime — the same immutable commit clock
    // TIMESTAMP AS OF resolves), so "catch me up from 9am" needs no
    // version archaeology. The gate commits two snapshots, derives a
    // cutoff strictly between their commit instants, drains an
    // AvailableNow stream from it, and the result restates as
    // EXACTLY the second commit's rows — the first snapshot is
    // provably not replayed. At 100 TB this is how a late-joining
    // consumer skips the historical terabytes it doesn't want.
    QueryDef("q_stream_tail",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "streamtail")
        val tbl = s"$wh/ns/t"
        val base = Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"))
        writeHistory(base.filter(col("event_id") % 2 === 0), tbl,
          "overwrite")
        writeHistory(base.filter(col("event_id") % 2 =!= 0), tbl,
          "append")
        val log = graft.sources.ManifestLog(
          spark.sparkContext.hadoopConfiguration, tbl)
        def mtime(v: Int): Long = log.commitTime(v)
        val cutoff =
          new java.sql.Timestamp((mtime(1) + mtime(2)) / 2 + 1).toString
        val q = spark.readStream
          .format("graft.sources.ManifestSource")
          .option("path", tbl).option("startingTimestamp", cutoff).load()
          .writeStream.format("memory").queryName("graft_stream_tail")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        spark.table("graft_stream_tail")
          .select(col("event_id"), col("event_type"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, event_type FROM events
WHERE event_id % 2 <> 0 ORDER BY event_id""")),

    // --- ATOMIC MULTI-TABLE STREAMING EPOCHS (ManifestTxn inside
    // foreachBatch — the medallion pipeline's missing atomicity): a
    // throttled stream fans each micro-batch into TWO downstream
    // tables (full rows → silver, an aggregable projection → audit),
    // staged on branch `txn-ep<batchId>` and published by ONE
    // `ManifestTxn.commit` per epoch — so the pair can never diverge:
    // a crash mid-epoch leaves BOTH tables at the prior epoch (or the
    // marker completes both via recovery), and a REPLAYED batch is
    // dropped by the txn's own committed-marker probe (isCommitted —
    // no sidecar batch files, the transaction ledger IS the
    // idempotence marker). Gated: both histories carry the SAME
    // txn-label set, one label per delivered epoch (`epochs_atomic`),
    // ≥2 epochs actually ran (`multi_epoch` — the throttle made the
    // AvailableNow drain span several), and both tables' final
    // contents restate from the raw table. At 100 TB this is
    // continuous ingest with cross-table consistency — the property
    // q_stream_medallion's independent commits cannot give.
    QueryDef("q_stream_txn",
      (spark0, dir) => {
        val spark = graft.streaming.Streams.streamSession(spark0)
        val wh = freshTable(spark, dir, "streamtxn")
        spark.conf.set("spark.sql.catalog.gstx",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.gstx.warehouse", wh)
        val bronze = s"$wh/ns/bronze"
        val silver = s"$wh/ns/silver"
        val audit = s"$wh/ns/audit"
        val base = Tables.orders(spark, dir).select(
          col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
          col("o_totalprice").as("price"))
        writeHistory(base.filter(col("k") % 3 === 0), bronze, "overwrite")
        writeHistory(base.filter(col("k") % 3 === 1), bronze, "append")
        writeHistory(base.filter(col("k") % 3 === 2), bronze, "append")
        val hconf = spark.sessionState.newHadoopConf()
        val q = spark.readStream
          .format("graft.sources.ManifestSource").option("path", bronze)
          .option("maxPartsPerTrigger", "4").load()
          .filter(col("price") > 1000.0)
          .writeStream
          .option("checkpointLocation",
            freshTable(spark, dir, "stream_txn-ckpt"))
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            val id = f"ep$batchId%05d"
            // the txn ledger is the idempotence marker: a replayed
            // epoch finds its committed marker and stages nothing
            if (!graft.sources.ManifestTxn.isCommitted(hconf, wh, id)) {
              // a crash MID-STAGING leaves commits on the txn branch;
              // appending the replay onto them would publish both
              // attempts' rows — drop the stale branches first
              graft.sources.ManifestTxn.abortStaged(hconf, wh, id,
                Seq(silver, audit))
              def stage(df: DataFrame, t: String): Unit = df
                .repartition(2).write
                .format("graft.sources.ManifestSource")
                .option("path", t)
                .option("branch", s"txn-$id").mode("append").save()
              stage(batch, silver)
              stage(batch.filter(col("price") > 100000.0)
                .select(col("k"), col("prio")), audit)
              graft.sources.ManifestTxn.commit(hconf, wh, id,
                Seq(silver, audit))
            }
            ()
          }
          .start()
        q.awaitTermination()
        def labels(t: String): Seq[String] =
          spark.sql(s"SELECT operation FROM gstx.ns.$t.history " +
            "WHERE operation LIKE 'txn:%'")
            .collect().map(_.getString(0)).toSeq.sorted
        val (ls, la) = (labels("silver"), labels("audit"))
        val atomic = ls.nonEmpty && ls == la &&
          ls.distinct.size == ls.size
        val multiEpoch = ls.size >= 2
        spark.sql("""SELECT prio, count(*) AS n,
            CAST(CAST(sum(CAST(price AS DECIMAL(30,2))) AS STRING)
              AS DOUBLE) AS sum_price
          FROM gstx.ns.silver GROUP BY prio""")
          .join(spark.sql(
            "SELECT prio, count(*) AS n_audit FROM gstx.ns.audit " +
              "GROUP BY prio"), Seq("prio"), "left")
          .select(col("prio"), col("n"), col("sum_price"),
            coalesce(col("n_audit"), lit(0L)).as("n_audit"))
          .withColumn("epochs_atomic", lit(atomic))
          .withColumn("multi_epoch", lit(multiEpoch))
          .orderBy(col("prio"))
      },
      Some(s"""SELECT o_orderpriority AS prio,
  CAST(count(*) AS BIGINT) AS n,
  ${Exact.decSumSql("o_totalprice", 2)} AS sum_price,
  CAST(coalesce(sum(CASE WHEN o_totalprice > 100000.0 THEN 1 ELSE 0 END),
    0) AS BIGINT) AS n_audit,
  true AS epochs_atomic, true AS multi_epoch
FROM orders WHERE o_totalprice > 1000.0
GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // --- MV ROUTING × DRILL-UP COMPOSITION (MvRewrite): a filter
    // over ANY MV key column composes with the coarser-rollup
    // re-aggregation — `WHERE key1 IN (…) GROUP BY key2` routes to
    // the MV with the predicate rebound over the MV's key columns
    // BELOW the fold, so only the matching groups' state is ever
    // read (σ over key columns selects whole MV groups; it commutes
    // with both the grouping and the fold). The gate proves both
    // halves live: the key-filtered drill-up ROUTES (plan reads the
    // MV, not the source) while the same drill-up with a NON-key
    // conjunct DECLINES to the source — a wrong hoist there would be
    // a wrong answer. Answers restated from the raw table either
    // way. At 100 TB: the filtered dashboard drill-up reads O(matched
    // groups) of MV state instead of rescanning the fact table.
    QueryDef("q_mv_route_reagg",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "mvroutereagg")
        spark.conf.set("spark.sql.catalog.gmrr",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.gmrr.warehouse", wh)
        Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"),
            (col("user_id") % 4).as("par"), col("value"))
          .repartitionByRange(4, col("event_id"))
          .write.format("graft.sources.ManifestSource")
          .option("path", s"$wh/ns/ev")
          .mode("overwrite").save()
        spark.sql("CALL gmrr.system.create_mv(mv_table => 'ns.mv', " +
          "source_table => 'ns.ev', key_col => 'event_type,par', " +
          "sum_col => 'value', scale => 6)")
        def q(where: String) = spark.sql(
          s"""SELECT par, count(*) AS n,
            CAST(CAST(sum(CAST(value AS DECIMAL(30,6))) AS STRING)
              AS DOUBLE) AS sum_v
          FROM gmrr.ns.ev $where GROUP BY par""")
        def readsMv(df: DataFrame): Boolean =
          graft.sources.MvRewrite.readsManifestDir(
            df.queryExecution.optimizedPlan, s"$wh/ns/mv")
        withConf(spark, "graft.mv.rewrite" -> s"$wh/ns/mv") {
          val drill = q("WHERE event_type IN ('click', 'view')")
          val routed = readsMv(drill)
          val nonkeyDeclines =
            !readsMv(q("WHERE event_type = 'click' AND event_id > 0"))
          // localCheckpoint WHILE the rule is armed: the hash-checked
          // rows must come from the ROUTED plan (a lazily-returned
          // Dataset would re-optimize after the finally unsets the
          // conf and silently answer from the source)
          drill
            .withColumn("routed", lit(routed))
            .withColumn("nonkey_declines", lit(nonkeyDeclines))
            .orderBy(col("par"))
            .pinned()
        }
      },
      Some(s"""SELECT user_id % 4 AS par, CAST(count(*) AS BIGINT) AS n,
  ${Exact.decSumSql("value", 6)} AS sum_v,
  true AS routed, true AS nonkey_declines
FROM events WHERE event_type IN ('click', 'view')
GROUP BY user_id % 4 ORDER BY par""")),

    // --- MV KEY-PREDICATE ROUTING gated live (MvRewrite): a
    // deterministic filter whose references are all GROUPING columns
    // commutes with the grouping (σ_θ(γ_K(R)) = γ_K(σ_θ(R)) for θ
    // over K), so the filtered rollup routes to the MV with the SAME
    // predicate rebound over the MV's key columns — the keyed
    // drill-down (`WHERE key IN (…) GROUP BY key`) reads O(matching
    // groups), never the table. The gate proves both halves: the
    // key-only filter ROUTES (optimized plan loses its Aggregate and
    // reads the MV — `routed` boolean) while the same query with a
    // NON-key conjunct DECLINES to the source (`nonkey_declines` —
    // a wrong hoist there would be a wrong answer, so the decline is
    // load-bearing). Answers restate from the raw table either way.
    QueryDef("q_mv_route_filter",
      (spark, dir) => {
        val wh = freshTable(spark, dir, "mvroutef")
        spark.conf.set("spark.sql.catalog.gmrf",
          "graft.sources.GraftCatalog")
        spark.conf.set("spark.sql.catalog.gmrf.warehouse", wh)
        Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"), col("value"))
          .repartitionByRange(4, col("event_id"))
          .write.format("graft.sources.ManifestSource")
          .option("path", s"$wh/ns/ev")
          .mode("overwrite").save()
        spark.sql("CALL gmrf.system.create_mv(mv_table => 'ns.mv', " +
          "source_table => 'ns.ev', key_col => 'event_type', " +
          "sum_col => 'value', scale => 6)")
        def q(where: String) = spark.sql(
          s"""SELECT event_type, count(*) AS n,
            CAST(CAST(sum(CAST(value AS DECIMAL(30,6))) AS STRING)
              AS DOUBLE) AS sum_v
          FROM gmrf.ns.ev $where GROUP BY event_type""")
        def aggregates(df: DataFrame): Boolean =
          df.queryExecution.optimizedPlan.exists(_.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.logical.Aggregate])
        withConf(spark, "graft.mv.rewrite" -> s"$wh/ns/mv") {
          val keyed = q("WHERE event_type IN ('click', 'view')")
          val routed = !aggregates(keyed) &&
            graft.sources.MvRewrite.readsManifestDir(
              keyed.queryExecution.optimizedPlan, s"$wh/ns/mv")
          val nonkeyDeclines = aggregates(
            q("WHERE event_type = 'click' AND event_id > 0"))
          // localCheckpoint WHILE the rule is armed: the hash-checked
          // rows must come from the ROUTED plan, not a post-finally
          // re-optimization that falls back to the source
          keyed
            .withColumn("routed", lit(routed))
            .withColumn("nonkey_declines", lit(nonkeyDeclines))
            .orderBy(col("event_type"))
            .pinned()
        }
      },
      Some(s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
  ${Exact.decSumSql("value", 6)} AS sum_v,
  true AS routed, true AS nonkey_declines
FROM events WHERE event_type IN ('click', 'view')
GROUP BY event_type ORDER BY event_type""")),
  )
}
