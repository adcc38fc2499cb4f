package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables

/** Second analytic wave: distribution windows, batch sessionization,
  * exact-decimal moment statistics, map functions, multiset set ops,
  * correlated subqueries, and positional explode. Same determinism
  * rules as [[Relational]] (total-order ORDER BY, decimal-exact sums,
  * explicit NULLS ordering).
  *
  * Reference correspondence: these generalize the per-record estimate
  * feed the same way §2.2 does — the sessionization is the batch form
  * of the per-station observation stream
  * (/root/reference/start.sh:4, one observation per run), and the
  * moment statistics are the fleet-wide rollup a 100 TB deployment
  * would run over the per-station estimates.
  */
object Analytic {

  val all: Seq[QueryDef] = Seq(

    // --- Distribution window functions (ntile / percent_rank /
    // cume_dist). One shuffle on the partition key, one sort reused by
    // all four functions; rank arithmetic is integer-derived
    // ((rank-1)/(n-1)) so the doubles are identical across engines.
    // The window ORDER BY is made total with the key column, otherwise
    // ties make ntile nondeterministic.
    QueryDef("q_window_dist",
      (spark, dir) => {
        val w = Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("c_acctbal"), col("c_custkey"))
        Tables.customer(spark, dir).select(
          col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_mktsegment, c_acctbal,
  CAST(ntile(4) OVER w AS INT) AS quartile,
  percent_rank() OVER w AS pct_rank,
  cume_dist() OVER w AS cume
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
ORDER BY c_custkey""")),

    // --- Batch sessionization: gap > 30 min starts a new session —
    // the batch twin of q_stream_session (session_window). Two window
    // functions over the same (partition, order) → Catalyst plans ONE
    // shuffle + ONE sort shared by both; the per-user cumulative sum
    // then the per-session aggregate shuffle on user_id only. ts is
    // second-truncated on both sides (parquet ns vs µs truncation).
    QueryDef("q_sessionize",
      (spark, dir) => {
        val ord = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        // keyedFanOut = the window's own hash exchange, pinned against
        // AQE folding it to one task (measured: 201+228 ms serial window
        // stages; see Par.keyedFanOut)
        graft.util.Par.keyedFanOut(
          Tables.events(spark, dir)
            .select(col("user_id"), col("event_id"),
              date_trunc("second", col("ts")).as("ts")),
          col("user_id"))
          .withColumn("new_sess",
            when(col("ts").cast("long") -
              lag(col("ts"), 1).over(ord).cast("long") > 1800L, 1L)
              .otherwise(lit(0L)))
          .withColumn("sess_id",
            sum(col("new_sess")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy(col("user_id"), col("sess_id"))
          .agg(count(lit(1)).as("n_events"),
            min(col("ts")).cast("long").as("sess_start"),
            (max(col("ts")).cast("long") - min(col("ts")).cast("long"))
              .as("sess_seconds"))
          .orderBy(col("user_id"), col("sess_id"))
      },
      Some("""SELECT user_id, sess_id, CAST(count(*) AS BIGINT) AS n_events,
  CAST(epoch(min(ts)) AS BIGINT) AS sess_start,
  CAST(epoch(max(ts)) - epoch(min(ts)) AS BIGINT) AS sess_seconds
FROM (
  SELECT user_id, event_id, ts,
    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
  FROM (
    SELECT user_id, event_id, ts,
      CASE WHEN epoch(ts) - epoch(lag(ts) OVER
            (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
           THEN 1 ELSE 0 END AS new_sess
    FROM (SELECT user_id, event_id, date_trunc('second', ts) AS ts FROM events)
  )
)
GROUP BY user_id, sess_id
ORDER BY user_id, sess_id""")),

    // --- Moment statistics (corr / stddev) from exact decimal power
    // sums. Built-in corr()/stddev() accumulate doubles whose value
    // depends on merge order — fine numerically, fatal for a
    // hash-compared oracle and irreproducible across cluster sizes.
    // Instead: the five power sums accumulate as exact DECIMAL
    // (order-independent at any parallelism, two-phase mergeable), and
    // the closed-form combination runs in doubles with the identical
    // expression text on both sides → bit-identical output.
    QueryDef("q_moment_stats",
      (spark, dir) => {
        val v = col("value")
        val k = get_json_object(col("props"), "$.k").cast("long")
        val dec = (c: org.apache.spark.sql.Column) =>
          c.cast("decimal(32,10)")
        // decimal → STRING → double, not decimal → double: when the
        // sum exceeds 53 bits of significance the direct cast is
        // correctly-rounded in Java (BigDecimal) but DuckDB divides
        // int128/10^scale in double arithmetic (two roundings) — a
        // 1-ulp divergence that a 10×-data run exposed. Text→double
        // is correctly rounded in BOTH engines, and decimal→text is
        // exact, so this path is bit-identical at any magnitude.
        val d2d = (c: org.apache.spark.sql.Column) =>
          c.cast("string").cast("double")
        Tables.events(spark, dir)
          .select(col("event_type"), v.as("v"), k.as("k"))
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).cast("double").as("n"),
            d2d(sum(dec(col("v")))).as("sx"),
            d2d(sum(dec(col("k")))).as("sy"),
            d2d(sum(dec(col("v") * col("v")))).as("sxx"),
            d2d(sum(dec(col("k") * col("k")))).as("syy"),
            d2d(sum(dec(col("v") * col("k")))).as("sxy"))
          .select(col("event_type"),
            col("n").cast("long").as("n_events"),
            ((col("n") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
               sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
              .as("corr_vk"),
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) / col("n"))
              .as("stddev_pop_v"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, CAST(n AS BIGINT) AS n_events,
  (n * sxy - sx * sy) /
    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_vk,
  sqrt(n * sxx - sx * sx) / n AS stddev_pop_v
FROM (
  SELECT event_type,
    CAST(count(*) AS DOUBLE) AS n,
    CAST(CAST(sum(CAST(v AS DECIMAL(32,10))) AS VARCHAR) AS DOUBLE) AS sx,
    CAST(CAST(sum(CAST(k AS DECIMAL(32,10))) AS VARCHAR) AS DOUBLE) AS sy,
    CAST(CAST(sum(CAST(v * v AS DECIMAL(32,10))) AS VARCHAR) AS DOUBLE) AS sxx,
    CAST(CAST(sum(CAST(k * k AS DECIMAL(32,10))) AS VARCHAR) AS DOUBLE) AS syy,
    CAST(CAST(sum(CAST(v * k AS DECIMAL(32,10))) AS VARCHAR) AS DOUBLE) AS sxy
  FROM (SELECT event_type, value AS v,
          CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events)
  GROUP BY event_type
)
ORDER BY event_type""")),

    // --- Map functions (SURVEY §2.2 map/struct row — the map half).
    // props parses into map<string,bigint> (the reference's
    // prediction-dict, estimate_queue.py:85-88); map_concat /
    // transform_values / map_contains_key exercise build, merge, and
    // higher-order rewrite. Output is projected to scalars — the
    // oracle computes the same scalars straight from the JSON (the
    // driver comparator cannot canonicalize dict cells).
    QueryDef("q_map_funcs",
      (spark, dir) => {
        val m = from_json(col("props"),
          org.apache.spark.sql.types.DataType.fromDDL("map<string,bigint>"))
        // sort first (the one range exchange the query always paid),
        // parse after: the five from_json-backed map expressions then
        // run on the post-shuffle partitions instead of the one-task
        // single-file scan stage (guide §2.5)
        graft.util.Par.sortedFanOut(
          Tables.events(spark, dir).select(col("event_id"), col("props")),
          col("event_id"))
          .select(
            col("event_id"),
            element_at(m, "k").as("k_val"),
            size(map_concat(m, map(lit("k2"), element_at(m, "k") * 2L)))
              .as("n_keys_merged"),
            element_at(transform_values(m, (_, v) => v * 10L), "k")
              .as("k_x10"),
            map_contains_key(m, "k").as("has_k"),
            array_join(map_keys(m), ",").as("key_csv"))
      },
      Some("""SELECT event_id, k AS k_val,
  CAST(2 AS INT) AS n_keys_merged,
  k * 10 AS k_x10,
  k IS NOT NULL AS has_k,
  'k' AS key_csv
FROM (SELECT event_id,
        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events)
ORDER BY event_id""")),

    // --- Multiset set operations (EXCEPT ALL / INTERSECT ALL —
    // q_set_ops covers the distinct forms). Both plan as a single
    // shuffle on the full row with per-row count bookkeeping (no
    // pre-distinct), which is the scale-correct form: a distinct-first
    // rewrite would double the shuffles. Duplicate output rows are
    // identical, so ORDER BY all columns is a total order for hashing.
    QueryDef("q_set_ops_all",
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
          .select(col("event_type"), floor(col("value") / 50.0).as("vband"))
        val high = Tables.events(spark, dir)
          .filter(get_json_object(col("props"), "$.k").cast("long") >= 40L)
          .select(col("event_type"), floor(col("value") / 50.0).as("vband"))
        ev.exceptAll(high).withColumn("op", lit("except_all"))
          .unionByName(ev.intersectAll(high).withColumn("op", lit("intersect_all")))
          .orderBy(col("op"), col("event_type"), col("vband"))
      },
      Some("""WITH ev AS (
  SELECT event_type, CAST(floor(value / 50.0) AS BIGINT) AS vband FROM events
), high AS (
  SELECT event_type, CAST(floor(value / 50.0) AS BIGINT) AS vband FROM events
  WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 40
)
SELECT * FROM (
  SELECT event_type, vband, 'except_all' AS op FROM (
    SELECT * FROM ev EXCEPT ALL SELECT * FROM high)
  UNION ALL
  SELECT event_type, vband, 'intersect_all' AS op FROM (
    SELECT * FROM ev INTERSECT ALL SELECT * FROM high)
)
ORDER BY op, event_type, vband""")),

    // --- Correlated scalar subqueries: parts priced above their
    // p_type average. Catalyst decorrelates each subquery into a
    // grouped aggregate joined back on p_type — the identical plan one
    // would hand-write, proving the declarative form costs nothing at
    // scale. The comparison is multiplied through (price·count > sum)
    // so the aggregate stays an exact DECIMAL and no double-avg
    // boundary can flip between engines. The temp view is scoped:
    // spark.sql analyzes eagerly, so it is dropped before returning.
    QueryDef("q_subquery_corr",
      (spark, dir) => {
        val vn = "graft_sq_part"
        Tables.part(spark, dir).createOrReplaceTempView(vn)
        try spark.sql(
          s"""SELECT p.p_partkey, p.p_name, p.p_type, p.p_retailprice
FROM $vn p
WHERE p.p_retailprice * (SELECT COUNT(*) FROM $vn p2 WHERE p2.p_type = p.p_type)
      > (SELECT SUM(CAST(p2.p_retailprice AS DECIMAL(18,2))) FROM $vn p2
         WHERE p2.p_type = p.p_type)
ORDER BY p.p_partkey""")
        finally { spark.catalog.dropTempView(vn); () }
      },
      Some("""SELECT p.p_partkey, p.p_name, p.p_type, p.p_retailprice
FROM part p
WHERE p.p_retailprice * (SELECT COUNT(*) FROM part p2 WHERE p2.p_type = p.p_type)
      > (SELECT SUM(CAST(p2.p_retailprice AS DECIMAL(18,2))) FROM part p2
         WHERE p2.p_type = p.p_type)
ORDER BY p.p_partkey""")),

    // --- Positional explode (Generator with ordinality): the first
    // three tokens of each document with their positions. posexplode
    // runs inside WholeStageCodegen as a Generate node — rows fan out
    // executor-side, nothing widens the shuffle. Oracle zips DuckDB's
    // parallel unnests (subscripts are 1-based there, hence -1).
    QueryDef("q_posexplode",
      (spark, dir) => Tables.documents(spark, dir)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .toDF("doc_id", "pos", "word")
        .filter(col("pos") < 3)
        .orderBy(col("doc_id"), col("pos")),
      Some("""SELECT doc_id, CAST(s.pos - 1 AS INT) AS pos, s.word AS word FROM (
  SELECT doc_id, unnest(list_transform(string_split(text, ' '),
    (w, i) -> {'word': w, 'pos': i})) AS s
  FROM documents
) WHERE s.pos <= 3
ORDER BY doc_id, pos""")),

    // --- Data-quality audit (E3 domain asserts generalized,
    // estimate_queue.py:128-133): every rule is a conditional count in
    // ONE aggregation pass over the fact table — at 100 TB you cannot
    // afford a scan per rule — plus one broadcast anti join for
    // referential integrity (orphan lineitems). The audit runs before
    // ingest in a training-data pipeline; rows = one per rule so the
    // report broadcasts trivially to wherever it gates.
    QueryDef("q_quality_audit",
      (spark, dir) => {
        val li = Tables.lineitem(spark, dir)
        val rules = li.agg(
          count(lit(1)).as("rows_scanned"),
          count_if(col("l_quantity") <= 0.0 || col("l_quantity") > 50.0)
            .as("qty_out_of_range"),
          count_if(col("l_discount") < 0.0 || col("l_discount") > 0.1)
            .as("discount_out_of_range"),
          count_if(col("l_extendedprice").isNull || col("l_extendedprice") <= 0.0)
            .as("bad_price"),
          count_if(col("l_shipdate") < to_timestamp(lit("1992-01-01 00:00:00")))
            .as("shipdate_before_epoch"))
        val orphans = li.join(Tables.orders(spark, dir),
            col("l_orderkey") === col("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("orphan_lineitems"))
        rules.crossJoin(orphans)
          .select(
            col("rows_scanned"), col("qty_out_of_range"),
            col("discount_out_of_range"), col("bad_price"),
            col("shipdate_before_epoch"), col("orphan_lineitems"))
      },
      Some("""SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS rows_scanned,
  (SELECT CAST(count(*) FILTER (l_quantity <= 0.0 OR l_quantity > 50.0) AS BIGINT)
     FROM lineitem) AS qty_out_of_range,
  (SELECT CAST(count(*) FILTER (l_discount < 0.0 OR l_discount > 0.1) AS BIGINT)
     FROM lineitem) AS discount_out_of_range,
  (SELECT CAST(count(*) FILTER (l_extendedprice IS NULL OR l_extendedprice <= 0.0) AS BIGINT)
     FROM lineitem) AS bad_price,
  (SELECT CAST(count(*) FILTER (l_shipdate < TIMESTAMP '1992-01-01 00:00:00') AS BIGINT)
     FROM lineitem) AS shipdate_before_epoch,
  (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
     WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
    AS orphan_lineitems""")),

    // --- General table-to-table as-of join: each purchase matched to
    // the user's latest click at-or-before it. q_asof_knot broadcasts
    // a 6-row calibration table; THIS is the scale form for two fact
    // tables — tag both sides, union, and take last-non-null over one
    // (user_id; ts, side, event_id) window: ONE shuffle on user_id, no
    // expansion join, no per-row re-scan. Ordering makes ties exact:
    // clicks sort before purchases at equal ts (at-or-before
    // inclusive), later event_id wins among equal-ts clicks. Oracle is
    // DuckDB's native ASOF LEFT JOIN over clicks deduped to the same
    // tie rule.
    QueryDef("q_asof_union",
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
          .select(col("user_id"), col("event_id"), col("event_type"),
            date_trunc("second", col("ts")).as("ts"))
        val tagged = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id"), lit(0).as("side"),
            col("event_id").as("click_id"))
          .unionByName(ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts"), col("event_id"), lit(1).as("side"),
              lit(null).cast("long").as("click_id")))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("side"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, 0)
        // keyedFanOut measured ~flat here (r21, 2 alternating pairs:
        // +0.05/−0.01 s) — the 100k-row output's trailing global sort
        // dominates; left on the planner's own exchange
        tagged
          .withColumn("asof_click", last(col("click_id"), ignoreNulls = true).over(w))
          .filter(col("side") === 1)
          .select(col("user_id"), col("event_id"),
            col("ts").cast("long").as("ts_s"), col("asof_click"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""WITH clicks AS (
  SELECT user_id, date_trunc('second', ts) AS ts, max(event_id) AS click_id
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
), purchases AS (
  SELECT user_id, event_id, date_trunc('second', ts) AS ts
  FROM events WHERE event_type = 'purchase'
)
SELECT p.user_id, p.event_id, CAST(epoch(p.ts) AS BIGINT) AS ts_s,
  c.click_id AS asof_click
FROM purchases p ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY p.user_id, p.event_id""")),

    // --- Incremental aggregation: materialized PARTIAL state merged
    // with a late slice. q_checkpoint_reuse materializes a finished
    // rollup; this one materializes the mergeable algebra itself
    // (decimal sum + count per group — the same partial shape Spark's
    // two-phase agg uses internally), then folds a late-arriving slice
    // in WITHOUT rescanning history. That re-aggregation property is
    // what makes 100 TB rollup maintenance O(delta), not O(history);
    // the oracle recomputes directly over everything and must
    // hash-match exactly (decimal sums are order- and
    // partition-independent).
    QueryDef("q_incremental_agg",
      (spark, dir) => {
        val partialsDir = QueryDef.freshTable(spark, dir,
          "incremental_agg-partials")
        def partialsOf(df: org.apache.spark.sql.DataFrame) =
          df.groupBy(col("event_type"))
            .agg(sum(col("value").cast("decimal(32,10)")).as("s"),
              count(lit(1)).as("n"))
        val ev = Tables.events(spark, dir)
        // history partials persisted once (the nightly run)...
        partialsOf(ev.filter(col("event_id") % 10 < 8))
          .write.mode("overwrite").parquet(partialsDir)
        // ...then the late slice merges against the materialized state.
        spark.read.parquet(partialsDir)
          .unionByName(partialsOf(ev.filter(col("event_id") % 10 >= 8)))
          .groupBy(col("event_type"))
          .agg(sum(col("s")).as("s"), sum(col("n")).as("n"))
          .select(col("event_type"), col("n"),
            col("s").cast("string").cast("double").as("sum_v"),
            // divide as doubles: decimal-division scale rules differ
            // across engines; double/double of exact inputs does not
            // (decimal→double goes through text — see Exact.decSum)
            (col("s").cast("string").cast("double")
              / col("n").cast("double")).as("avg_v"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
  CAST(CAST(sum(CAST(value AS DECIMAL(32,10))) AS VARCHAR) AS DOUBLE) AS sum_v,
  CAST(CAST(sum(CAST(value AS DECIMAL(32,10))) AS VARCHAR) AS DOUBLE) /
    CAST(count(*) AS DOUBLE) AS avg_v
FROM events GROUP BY event_type ORDER BY event_type""")),

    // --- Funnel: signup → first click at-or-after it → first purchase
    // at-or-after that, per user, reported as stage conversion counts.
    // Each stage is a min-aggregate joined on user_id — three shuffles
    // on the SAME key, so at scale the exchanges reuse partitioning
    // (and would be free under user_id bucketing, q_bucketed_join's
    // pattern). No window over full histories, no cross products.
    QueryDef("q_funnel",
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
          .select(col("user_id"), col("event_type"),
            date_trunc("second", col("ts")).as("ts"))
        val s = ev.filter(col("event_type") === "signup")
          .groupBy(col("user_id")).agg(min(col("ts")).as("t_signup"))
        val c = ev.filter(col("event_type") === "click").as("c")
          .join(s, "user_id")
          .filter(col("ts") >= col("t_signup"))
          .groupBy(col("user_id"))
          .agg(min(col("ts")).as("t_click"))
        val p = ev.filter(col("event_type") === "purchase").as("p")
          .join(c, "user_id")
          .filter(col("ts") >= col("t_click"))
          .groupBy(col("user_id"))
          .agg(min(col("ts")).as("t_purchase"))
        s.select(count(lit(1)).as("n_signup"))
          .crossJoin(c.select(count(lit(1)).as("n_click_after")))
          .crossJoin(p.select(count(lit(1)).as("n_purchase_after")))
      },
      Some("""WITH s AS (
  SELECT user_id, min(date_trunc('second', ts)) AS t_signup
  FROM events WHERE event_type = 'signup' GROUP BY 1
), c AS (
  SELECT e.user_id, min(date_trunc('second', e.ts)) AS t_click
  FROM events e JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'click' AND date_trunc('second', e.ts) >= s.t_signup
  GROUP BY 1
), p AS (
  SELECT e.user_id, min(date_trunc('second', e.ts)) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND date_trunc('second', e.ts) >= c.t_click
  GROUP BY 1
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM s) AS n_signup,
       (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_click_after,
       (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchase_after""")),

    // --- Shuffled hash join by hint: the one join physical operator
    // the other queries never plan (dims broadcast, facts sort-merge).
    // SHJ beats SMJ when one side is much smaller than the other but
    // too big to broadcast — it skips both sorts and builds a hash map
    // per partition. The hint is the declarative escape hatch; PlanSpec
    // pins that it actually takes effect.
    QueryDef("q_join_hashed",
      (spark, dir) => Tables.lineitem(spark, dir)
        .hint("shuffle_hash")
        .join(Tables.orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(20,2)"))
            .cast("string").cast("double").as("qty"))
        .orderBy(col("o_orderstatus")),
      Some("""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(20,2))) AS VARCHAR) AS DOUBLE) AS qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // --- Time-series gap fill: per-user daily error metrics on a
    // dense calendar spine, missing days forward-filled from the last
    // observed value. The spine generates executor-side
    // (sequence+explode over each user's [min,max] day — no driver
    // loop, no cross join against a global calendar), the left join
    // keys on (user, day), and the forward fill is one
    // last-non-null window — so the whole repair is two shuffles
    // regardless of how sparse the series is. Training pipelines need
    // exactly this shape to regularize irregular telemetry.
    QueryDef("q_gap_fill",
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
          .filter(col("event_type") === "error")
          .select(col("user_id"), date_trunc("day", col("ts")).as("day"),
            col("value"))
        val daily = ev.groupBy(col("user_id"), col("day"))
          .agg(count(lit(1)).as("n"), graft.functions.Exact.decAvg(col("value"), 2).as("avg_v"))
        val spine = ev.groupBy(col("user_id"))
          .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
          .select(col("user_id"),
            explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, 0)
        spine.join(daily, Seq("user_id", "day"), "left")
          .select(col("user_id"), col("day").cast("long").as("day_s"),
            coalesce(col("n"), lit(0L)).as("n"),
            last(col("avg_v"), ignoreNulls = true).over(w).as("avg_filled"),
            col("avg_v").isNull.as("was_gap"))
          .orderBy(col("user_id"), col("day_s"))
      },
      Some(s"""WITH ev AS (
  SELECT user_id, date_trunc('day', ts) AS day, value
  FROM events WHERE event_type = 'error'
), daily AS (
  SELECT user_id, day, CAST(count(*) AS BIGINT) AS n,
    ${graft.functions.Exact.decAvgSql("value", 2)} AS avg_v
  FROM ev GROUP BY 1, 2
), spine AS (
  SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
  FROM (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM ev GROUP BY 1)
)
SELECT s.user_id, CAST(epoch(s.day) AS BIGINT) AS day_s,
  COALESCE(d.n, 0) AS n,
  last_value(d.avg_v IGNORE NULLS) OVER (
    PARTITION BY s.user_id ORDER BY s.day ROWS UNBOUNDED PRECEDING) AS avg_filled,
  d.avg_v IS NULL AS was_gap
FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
ORDER BY s.user_id, day_s""")),

    // --- Bitwise expressions + bitwise aggregates (flag-mask
    // analytics: the k prop treated as a bit field). Aggregates
    // bit_and/bit_or/bit_xor are mergeable partial state like sum —
    // two-phase at any scale.
    QueryDef("q_bitwise",
      (spark, dir) => {
        val k = get_json_object(col("props"), "$.k").cast("long")
        Tables.events(spark, dir)
          .select(col("event_type"), k.as("k"),
            (k.bitwiseAND(lit(15L))).as("low_nibble"),
            (k.bitwiseOR(lit(256L))).as("with_flag"),
            (k.bitwiseXOR(shiftleft(k, 1))).as("gray_ish"))
          .groupBy(col("event_type"))
          .agg(bit_and(col("low_nibble")).as("and_nibble"),
            bit_or(col("low_nibble")).as("or_nibble"),
            bit_xor(col("gray_ish")).as("xor_gray"),
            sum(col("with_flag")).as("sum_flagged"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type,
  bit_and(k & 15) AS and_nibble,
  bit_or(k & 15) AS or_nibble,
  bit_xor(xor(k, k << 1)) AS xor_gray,
  CAST(sum(k | 256) AS BIGINT) AS sum_flagged
FROM (SELECT event_type,
        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events)
GROUP BY event_type ORDER BY event_type""")),

    // --- regexp_extract_all: every ≥4-letter lowercase token pulled
    // from the head of each document, rejoined as a scalar (the
    // driver comparator cannot hash arrays). Regex runs codegen'd
    // per-row; no explode, no shuffle before the presentation sort.
    QueryDef("q_regex_all",
      (spark, dir) => Tables.documents(spark, dir)
        .select(col("doc_id"),
          array_join(regexp_extract_all(substring(col("text"), 1, 120),
            lit("[a-z]{4,}"), lit(0)), ",").as("long_words"),
          size(regexp_extract_all(substring(col("text"), 1, 120),
            lit("[a-z]{4,}"), lit(0))).as("n_long"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
  array_to_string(regexp_extract_all(substring(text, 1, 120), '[a-z]{4,}', 0), ',')
    AS long_words,
  CAST(len(regexp_extract_all(substring(text, 1, 120), '[a-z]{4,}', 0)) AS INT)
    AS n_long
FROM documents ORDER BY doc_id""")),

    // --- Array higher-order functions beyond q_array_funcs'
    // transform/slice: filter / exists / forall / zip_with, all
    // executor-side lambdas over the embedding vectors, projected to
    // scalars for the comparator. At 100 TB these replace the UDFs
    // that would otherwise break codegen on every array column.
    QueryDef("q_array_hof",
      (spark, dir) => {
        val emb = col("embedding")
        Tables.embeddings(spark, dir).select(
          col("vec_id"),
          // thresholds are dyadic (1/8, 1/4, 3/8) so float-vs-double
          // comparison semantics cannot diverge between engines
          size(filter(emb, x => x > 0.125f)).as("n_high"),
          exists(emb, x => x > 0.25f).as("any_extreme"),
          forall(emb, x => x > -0.375f && x < 0.375f).as("all_bounded"),
          aggregate(
            zip_with(emb, reverse(emb),
              (a, b) => (a.cast("double") * b.cast("double"))
                .cast("decimal(20,12)")),
            lit(0).cast("decimal(30,12)"),
            (acc, x) => (acc + x).cast("decimal(30,12)"))
            .cast("double").as("palindrome_dot"))
          .orderBy(col("vec_id"))
      },
      Some("""SELECT vec_id,
  CAST(len(list_filter(embedding, x -> x > 0.125)) AS INT) AS n_high,
  len(list_filter(embedding, x -> x > 0.25)) > 0 AS any_extreme,
  len(list_filter(embedding, x -> NOT (x > -0.375 AND x < 0.375))) = 0
    AS all_bounded,
  CAST(list_sum(list_transform(range(1, len(embedding) + 1),
    i -> CAST(CAST(embedding[i] AS DOUBLE) *
              CAST(embedding[len(embedding) + 1 - i] AS DOUBLE)
         AS DECIMAL(20,12)))) AS DOUBLE) AS palindrome_dot
FROM embeddings ORDER BY vec_id""")),

    // --- Malformed-input tolerance: a seventh of the props payloads
    // are corrupted (closing brace truncated — trailing-garbage
    // corruption won't do: Jackson stops at the first complete value
    // and would accept what DuckDB rejects). from_json in
    // PERMISSIVE mode yields NULL for bad rows instead of failing the
    // job — at 100 TB a single poison record must never kill the
    // pipeline — and the query accounts for exactly which rows were
    // dropped, per group, in the same pass. Oracle mirrors with
    // DuckDB's json_valid guard.
    QueryDef("q_json_malformed",
      (spark, dir) => {
        val raw = when(col("event_id") % 7 === 0,
          expr("substring(props, 1, length(props) - 1)"))
          .otherwise(col("props"))
        val k = element_at(from_json(raw,
          org.apache.spark.sql.types.DataType.fromDDL("map<string,bigint>")), "k")
        Tables.events(spark, dir)
          .select(col("event_type"), k.as("k"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_total"),
            count_if(col("k").isNull).as("n_corrupt"),
            sum(col("k")).as("sum_valid_k"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n_total,
  CAST(count(*) FILTER (k IS NULL) AS BIGINT) AS n_corrupt,
  CAST(sum(k) AS BIGINT) AS sum_valid_k
FROM (
  SELECT event_type,
    CASE WHEN json_valid(raw)
         THEN CAST(json_extract_string(raw, '$.k') AS BIGINT) END AS k
  FROM (SELECT event_type,
          CASE WHEN event_id % 7 = 0 THEN substring(props, 1, length(props) - 1) ELSE props END AS raw
        FROM events)
)
GROUP BY event_type ORDER BY event_type""")),

    // --- Schema-evolution-tolerant union: a v1 slice (no props-derived
    // column) unions a v2 slice that added one. unionByName with
    // allowMissingColumns resolves by NAME and null-fills the missing
    // column — positional UNION would silently misalign or reject, and
    // at 100 TB the corpus ALWAYS spans schema versions. Oracle is
    // DuckDB's UNION ALL BY NAME, which applies the same rule.
    QueryDef("q_union_evolve",
      (spark, dir) => {
        val v1 = Tables.events(spark, dir)
          .filter(col("event_id") % 2 === 0)
          .select(col("event_id"), col("event_type"), col("value"))
        val v2 = Tables.events(spark, dir)
          .filter(col("event_id") % 2 === 1)
          .select(col("event_id"), col("event_type"), col("value"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
        v1.unionByName(v2, allowMissingColumns = true)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            count(col("k")).as("n_with_k"),
            sum(col("k")).as("sum_k"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
  CAST(count(k) AS BIGINT) AS n_with_k,
  CAST(sum(k) AS BIGINT) AS sum_k
FROM (
  SELECT event_id, event_type, value FROM events WHERE event_id % 2 = 0
  UNION ALL BY NAME
  SELECT event_id, event_type, value,
    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events WHERE event_id % 2 = 1
)
GROUP BY event_type ORDER BY event_type""")),

    // --- Deterministic train/test split: assignment is a pure modular
    // hash of the stable row key, NOT randomSplit — randomSplit's
    // sampling depends on partition layout, so the "same" split
    // differs between a 32-task run and a 3200-task run and can even
    // leak rows across re-materializations. A keyed hash gives every
    // engine, every parallelism, every rerun the identical 80/20
    // assignment — which is what makes a 100 TB training corpus
    // auditable. The oracle reproduces the arithmetic exactly.
    QueryDef("q_train_split",
      (spark, dir) => {
        val bucket = pmod(col("doc_id") * lit(2654435761L), lit(100L))
        Tables.documents(spark, dir)
          .select(col("lang"),
            when(bucket < 80, "train").otherwise("test").as("split"),
            col("n_chars"))
          .groupBy(col("lang"), col("split"))
          .agg(count(lit(1)).as("n"),
            sum(col("n_chars")).as("sum_chars"))
          .orderBy(col("lang"), col("split"))
      },
      Some("""SELECT lang,
  CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train' ELSE 'test' END
    AS split,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY 1, 2 ORDER BY lang, split""")),

    // --- Navigation window functions with null handling: nth_value
    // over a running frame, first NON-NULL value (IGNORE NULLS — the
    // forward-fill primitive), and lead() with an explicit default at
    // partition edges. The nullable column is synthesized (props.k is
    // null on views), since "skip the nulls while scanning history"
    // only means something with real gaps. One shuffle + one sort
    // serves all three functions; total (ts, event_id) order makes
    // every navigation deterministic.
    QueryDef("q_window_nav",
      (spark, dir) => {
        val ord = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val run = ord.rowsBetween(Window.unboundedPreceding, 0)
        val kNullable = when(col("event_type") =!= "view",
          get_json_object(col("props"), "$.k").cast("long"))
        Tables.events(spark, dir)
          .select(col("user_id"), col("event_id"), col("ts"),
            col("value"), kNullable.as("k"))
          .select(col("user_id"), col("event_id"),
            nth_value(col("value"), 2).over(run).as("second_v"),
            first(col("k"), ignoreNulls = true).over(run).as("first_k"),
            lead(col("value"), 1, -1.0).over(ord).as("next_v"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""SELECT user_id, event_id,
  nth_value(value, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_v,
  first_value(k IGNORE NULLS) OVER (PARTITION BY user_id
    ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_k,
  lead(value, 1, -1.0) OVER (PARTITION BY user_id ORDER BY ts, event_id)
    AS next_v
FROM (
  SELECT user_id, event_id, ts, value,
    CASE WHEN event_type <> 'view'
         THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k
  FROM events)
ORDER BY user_id, event_id""")),

    // --- SCD2 interval build (temporal modeling): collapse each
    // user's event stream into validity intervals per run of equal
    // event_type — lag-based change detection, running-sum segment
    // ids, then segment rollup with lead() supplying each interval's
    // exclusive end (NULL = current). The standard
    // change-data-capture → slowly-changing-dimension shape. Scale:
    // both windows partition by user_id (millions of partitions, no
    // hot key), and the SEGMENT-level lead() window runs on the
    // rolled-up segment table (one row per run), not per event; one
    // shuffle on user_id is reused by both windows and the groupBy
    // (same partitioning key). Ties broken by event_id → total order,
    // deterministic. Timestamps truncate to seconds (sessionize
    // convention) so both engines render identical values.
    QueryDef("q_scd2",
      (spark, dir) => {
        val ord = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        // pinned window-key exchange (see Par.keyedFanOut)
        val segs = graft.util.Par.keyedFanOut(
          Tables.events(spark, dir)
            .select(col("user_id"), col("event_id"), col("event_type"),
              date_trunc("second", col("ts")).as("ts")),
          col("user_id"))
          .withColumn("chg",
            when(lag(col("event_type"), 1).over(ord).isNull ||
              lag(col("event_type"), 1).over(ord) =!= col("event_type"), 1L)
              .otherwise(0L))
          .withColumn("seg",
            sum(col("chg")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy(col("user_id"), col("seg"))
          .agg(min(col("event_type")).as("event_type"),
            min(col("ts")).as("valid_from"),
            count(lit(1)).as("n_events"))
        val segOrd = Window.partitionBy(col("user_id")).orderBy(col("seg"))
        segs
          .withColumn("valid_to", lead(col("valid_from"), 1).over(segOrd))
          .select(col("user_id"), col("seg"), col("event_type"),
            col("valid_from"), col("valid_to"), col("n_events"))
          .orderBy(col("user_id"), col("seg"))
      },
      Some("""WITH e AS (
  SELECT user_id, event_id, event_type, date_trunc('second', ts) AS ts
  FROM events),
c AS (
  SELECT user_id, event_id, event_type, ts,
    CASE WHEN lag(event_type, 1) OVER w IS NULL
           OR lag(event_type, 1) OVER w <> event_type
         THEN 1 ELSE 0 END AS chg
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, event_id, event_type, ts,
    CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seg
  FROM c),
g AS (
  SELECT user_id, seg, min(event_type) AS event_type,
    min(ts) AS valid_from, CAST(count(*) AS BIGINT) AS n_events
  FROM s GROUP BY user_id, seg)
SELECT user_id, seg, event_type, valid_from,
  lead(valid_from, 1) OVER (PARTITION BY user_id ORDER BY seg) AS valid_to,
  n_events
FROM g ORDER BY user_id, seg""")),

    // --- MARKOV TRANSITION MATRIX over the per-user event sequence:
    // P(next event type | current event type), the first-order
    // sequence model behind clickstream analysis and next-action
    // prediction. One per-user window (total order (ts, event_id))
    // pairs each event with its successor — parallelism is user
    // cardinality, the same shuffle shape as q_sessionize — then the
    // pair counts collapse to a ≤ |types|² matrix, so the row-share
    // normalization window runs over a HANDFUL of rows, never the
    // fact. Shares are ppm integers (n·10⁶ div row-total): exact
    // cross-engine, no float division.
    QueryDef("q_transition_matrix",
      (spark, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val t = Tables.events(spark, dir)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type").as("from_type"))
          .withColumn("to_type", lead(col("from_type"), 1).over(w))
          .filter(col("to_type").isNotNull)
          .groupBy(col("from_type"), col("to_type"))
          .agg(count(lit(1)).as("n"))
        t.select(col("from_type"), col("to_type"), col("n"),
            expr("(n * CAST(1000000 AS BIGINT)) div " +
              "sum(n) OVER (PARTITION BY from_type)").as("share_ppm"))
          .orderBy(col("from_type"), col("to_type"))
      },
      Some("""WITH p AS (
  SELECT event_type AS from_type,
    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS to_type
  FROM events),
t AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2)
SELECT from_type, to_type, n,
  CAST(n * 1000000 // sum(n) OVER (PARTITION BY from_type) AS BIGINT)
    AS share_ppm
FROM t ORDER BY from_type, to_type""")))
}
