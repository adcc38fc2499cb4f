package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Exact
import graft.model.Tables
import graft.util.Pin.PinOps

/** Classic statistical aggregates the reference's analytics consumers
  * expect from any engine (reference: estimate_queue.py aggregates its
  * per-station estimates; these are the set-at-a-time generalizations):
  * ordered string aggregation (LISTAGG), the linear-regression /
  * correlation family, and deterministic mode + exact median.
  *
  * Exactness doctrine (same as [[Exact]]): every cross-row fold runs
  * in DECIMAL/BIGINT (association-order free — a 1000-executor merge
  * tree and the single-node oracle agree bit-for-bit); the per-group
  * FINISHING arithmetic (slope from the moment sums, the two-middle
  * average for the median) is plain IEEE double on identical operands
  * written with identical structure on both engines, so it is
  * correctly-rounded-identical too.
  */
object StatsOps {

  val all: Seq[QueryDef] = Seq(

    // --- Ordered string aggregation (LISTAGG / string_agg): the
    // report-building aggregate. Spark's collect_list is
    // order-nondeterministic under parallel merge, so the engine
    // sorts INSIDE the group before joining — making the result
    // partitioning-independent (the same property every Exact.* agg
    // has). collect_list also drops NULL inputs, which yields the
    // FILTER clause for free: the conditional rendition aggregates
    // `when(cond, x)` and a size guard restores SQL's empty-group →
    // NULL convention. Groups are bounded (nations per region), so
    // the per-group list never approaches executor memory; unbounded
    // concatenation at 100 TB would be a design smell, not a bigger
    // buffer.
    QueryDef("q_string_agg",
      (spark, dir) => {
        val nations = Tables.nation(spark, dir)
          .join(broadcast(Tables.region(spark, dir)),
            col("n_regionkey") === col("r_regionkey"))
        val tail = collect_list(when(col("n_name") > "M", col("n_name")))
        nations.groupBy(col("r_name"))
          .agg(count(lit(1)).as("n"),
            array_join(array_sort(collect_list(col("n_name"))), "|")
              .as("all_csv"),
            when(size(tail) === 0, lit(null))
              .otherwise(array_join(array_sort(tail), "|")).as("tail_csv"))
          .orderBy(col("r_name"))
      },
      Some("""SELECT r_name, count(*) AS n,
  string_agg(n_name, '|' ORDER BY n_name) AS all_csv,
  string_agg(n_name, '|' ORDER BY n_name)
    FILTER (WHERE n_name > 'M') AS tail_csv
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name""")),

    // --- Linear regression / correlation aggregates (corr, covar,
    // regr_slope/intercept/r2) over (quantity → price). Built-in
    // corr()/covar_samp() stream Welford-style co-moments whose merge
    // order changes the last bits run to run — unusable as a
    // cross-engine (or cross-partitioning) contract. The engine
    // instead folds the five moment sums exactly (decimal, per
    // Exact.decSum) and FINISHES with the textbook formulas in double:
    // one shuffle, map-side combine, bit-stable at any parallelism.
    // (ExactSpec pins built-in corr ≈ this corr at 1e-9 — same
    // statistic, exact fold.)
    QueryDef("q_regr_stats",
      (spark, dir) => {
        val x = col("l_quantity"); val y = col("l_extendedprice")
        val nD = col("n").cast("double")
        val varx = nD * col("sxx") - col("sx") * col("sx")
        val vary = nD * col("syy") - col("sy") * col("sy")
        val cov = nD * col("sxy") - col("sx") * col("sy")
        // fan the one-task single-file scan out before the partial
        // aggregate: the six decimal moment folds over 600k rows are
        // the cost, and they run map-side — parallelize them (guide
        // §2.5; decimal sums are exact, so the fold is partitioning-
        // independent). Project to the three needed columns first so
        // the added exchange carries nothing else (guide §2.3).
        graft.util.Par.fanOut(Tables.lineitem(spark, dir)
            .select(col("l_returnflag"), x, y))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            Exact.decSum(x, 2).as("sx"), Exact.decSum(y, 2).as("sy"),
            Exact.decSum(x * x, 4).as("sxx"),
            Exact.decSum(y * y, 4).as("syy"),
            Exact.decSum(x * y, 4).as("sxy"))
          .select(col("l_returnflag"), col("n"),
            (cov / varx).as("slope"),
            ((col("sy") - (cov / varx) * col("sx")) / nD).as("intercept"),
            (cov / sqrt(varx * vary)).as("corr"),
            ((cov / sqrt(varx * vary)) * (cov / sqrt(varx * vary))).as("r2"),
            (cov / (nD * (nD - lit(1.0)))).as("covar_s"))
          .orderBy(col("l_returnflag"))
      },
      Some(s"""WITH m AS (
  SELECT l_returnflag, count(*) AS n,
    ${Exact.decSumSql("l_quantity", 2)} AS sx,
    ${Exact.decSumSql("l_extendedprice", 2)} AS sy,
    ${Exact.decSumSql("l_quantity * l_quantity", 4)} AS sxx,
    ${Exact.decSumSql("l_extendedprice * l_extendedprice", 4)} AS syy,
    ${Exact.decSumSql("l_quantity * l_extendedprice", 4)} AS sxy
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag, CAST(n AS BIGINT) AS n,
  (CAST(n AS DOUBLE) * sxy - sx * sy)
    / (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope,
  (sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
    / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
    / CAST(n AS DOUBLE) AS intercept,
  (CAST(n AS DOUBLE) * sxy - sx * sy)
    / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
      * (CAST(n AS DOUBLE) * syy - sy * sy)) AS corr,
  ((CAST(n AS DOUBLE) * sxy - sx * sy)
    / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
      * (CAST(n AS DOUBLE) * syy - sy * sy)))
  * ((CAST(n AS DOUBLE) * sxy - sx * sy)
    / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
      * (CAST(n AS DOUBLE) * syy - sy * sy))) AS r2,
  (CAST(n AS DOUBLE) * sxy - sx * sy)
    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS covar_s
FROM m ORDER BY l_returnflag""")),

    // --- Deterministic MODE + exact MEDIAN per group. Built-in
    // mode() leaves ties implementation-defined and median()'s
    // interpolation formula differs across engines in the last ulp —
    // both unacceptable as contracts. Mode: two-phase count then a
    // max(struct(cnt, -uid)) argmax (ties → smallest user, stated on
    // both sides; map-side combinable, no window over the raw rows).
    // Median: the two middle values by position — row_number over the
    // in-group sort picks positions (n+1)/2 and n/2+1, their
    // (min+max)/2.0 is one double add+halve of identical operands
    // (odd n picks one row twice; duplicates at the boundary are
    // harmless because only the VALUES at the positions matter, not
    // which tied row supplied them).
    QueryDef("q_mode_median",
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
        val byUser = ev.groupBy(col("event_type"), col("user_id"))
          .agg(count(lit(1)).as("c"))
        val mode = byUser.groupBy(col("event_type"))
          .agg(max(struct(col("c"), (-col("user_id")).as("nu"))).as("m"))
          .select(col("event_type"), (-col("m.nu")).as("mode_user"),
            col("m.c").as("n_mode"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
        // explicit-width repartition on the window key — same repair
        // as q_hist_equidepth (AQE folds the small exchange to one
        // task and serializes the per-group median sort)
        val med = ev
          .repartition(spark.sessionState.conf.numShufflePartitions,
            col("event_type"))
          .select(col("event_type"), col("value"),
            row_number().over(w).as("rn"),
            count(lit(1)).over(Window.partitionBy(col("event_type"))).as("n"))
          .filter(expr("rn = (n + 1) div 2 OR rn = n div 2 + 1"))
          .groupBy(col("event_type"))
          .agg(((min(col("value")) + max(col("value"))) / 2.0).as("med_value"))
        mode.join(med, "event_type").orderBy(col("event_type"))
      },
      Some("""WITH bu AS (
  SELECT event_type, user_id, count(*) AS c
  FROM events GROUP BY event_type, user_id),
md AS (
  SELECT event_type, user_id AS mode_user, c AS n_mode
  FROM (SELECT *, row_number() OVER (PARTITION BY event_type
          ORDER BY c DESC, user_id) AS rn FROM bu)
  WHERE rn = 1),
pos AS (
  SELECT event_type, value,
    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
    count(*) OVER (PARTITION BY event_type) AS n
  FROM events),
me AS (
  SELECT event_type, (min(value) + max(value)) / 2.0 AS med_value
  FROM pos WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
  GROUP BY event_type)
SELECT md.event_type, mode_user, n_mode, med_value
FROM md JOIN me ON md.event_type = me.event_type
ORDER BY md.event_type""")),

    // --- GROUPED skyline (Pareto frontier) per brand: parts not
    // dominated within their brand on (minimize retail price,
    // maximize size) — the multi-criteria shortlist op. The GLOBAL
    // skyline already ships as Scale.q_skyline via the decomposed
    // running-max-over-sizes rewrite; that rewrite needs a total
    // order on one dimension and breaks down when the frontier is
    // per-group with both dimensions dense — this rendition is the
    // general form: a self ANTI-join whose EQUI key is the group (one
    // hash shuffle on p_brand; the dominance predicate rides as the
    // join filter), so the quadratic is bounded by the largest brand
    // block, never the table — the same blocked-pairing discipline as
    // the near-dup family. At 100 TB a grid/quantile pre-prune
    // shrinks blocks further; the block key stays the only shuffle.
    QueryDef("q_skyline_grouped",
      (spark, dir) => {
        val p = Tables.part(spark, dir)
          .select(col("p_partkey"), col("p_brand"),
            col("p_retailprice"), col("p_size"))
        val y = p.select(col("p_brand").as("y_brand"),
          col("p_retailprice").as("y_price"), col("p_size").as("y_size"))
        p.join(y,
          col("p_brand") === col("y_brand") &&
            col("y_price") <= col("p_retailprice") &&
            col("y_size") >= col("p_size") &&
            (col("y_price") < col("p_retailprice") ||
              col("y_size") > col("p_size")),
          "left_anti")
          .orderBy(col("p_brand"), col("p_partkey"))
      },
      Some("""SELECT p_partkey, p_brand, p_retailprice, p_size
FROM part x
WHERE NOT EXISTS (
  SELECT 1 FROM part y
  WHERE y.p_brand = x.p_brand
    AND y.p_retailprice <= x.p_retailprice AND y.p_size >= x.p_size
    AND (y.p_retailprice < x.p_retailprice OR y.p_size > x.p_size))
ORDER BY p_brand, p_partkey""")),

    // --- Chi-square independence test over the (lang × source)
    // contingency table — the categorical-association screen a
    // data-mix analyst runs before trusting a stratification. The
    // marginals and observed counts are exact BIGINTs; each cell term
    // ((o−e)²/e, e from the marginals — squared via multiplication,
    // pow() is not correctly-rounded libm) is one IEEE expression of
    // identical structure on both engines, then quantized to the 1e-9
    // grid and summed in BIGINT so the cross-cell fold is
    // association-order free. ABSENT cells enter with o=0 (full
    // marginal cross join — chi² is wrong without them). Everything
    // after the one groupBy shuffle is marginal-table arithmetic
    // (broadcast-sized at any corpus scale: |langs|×|sources|).
    QueryDef("q_chi2",
      (spark, dir) => {
        val counts = Tables.documents(spark, dir)
          .groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("o"))
        val rows = counts.groupBy(col("lang")).agg(sum(col("o")).as("rt"))
        val cols = counts.groupBy(col("source")).agg(sum(col("o")).as("ct"))
        val full = broadcast(rows).crossJoin(broadcast(cols))
          .join(counts, Seq("lang", "source"), "left")
          .select(col("lang"), col("source"), col("rt"), col("ct"),
            coalesce(col("o"), lit(0L)).as("o"))
        val n = sum(col("o")).over() // total over the tiny cell table
        val e = col("rt").cast("double") * col("ct").cast("double") /
          col("n").cast("double")
        full.withColumn("n", n)
          .withColumn("term",
            (col("o").cast("double") - e) * (col("o").cast("double") - e) / e)
          .agg(
            (sum(round(col("term") * lit(1e9)).cast("bigint"))
              .cast("double") / lit(1e9)).as("chi2"),
            ((countDistinct(col("lang")) - 1) *
              (countDistinct(col("source")) - 1)).as("dof"),
            max(col("n")).as("n_docs"))
      },
      Some("""WITH c AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS o
  FROM documents GROUP BY lang, source),
r AS (SELECT lang, CAST(sum(o) AS BIGINT) AS rt FROM c GROUP BY lang),
k AS (SELECT source, CAST(sum(o) AS BIGINT) AS ct FROM c GROUP BY source),
f AS (
  SELECT r.lang, k.source, rt, ct, coalesce(c.o, 0) AS o
  FROM r CROSS JOIN k
  LEFT JOIN c ON c.lang = r.lang AND c.source = k.source),
t AS (
  SELECT lang, source, o, sum(o) OVER () AS n,
    (CAST(o AS DOUBLE)
      - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(sum(o) OVER () AS DOUBLE))
    * (CAST(o AS DOUBLE)
      - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(sum(o) OVER () AS DOUBLE))
    / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(sum(o) OVER () AS DOUBLE))
      AS term
  FROM f)
SELECT
  CAST(sum(CAST(round(term * 1000000000.0) AS BIGINT)) AS DOUBLE)
    / 1000000000.0 AS chi2,
  CAST((count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1) AS BIGINT)
    AS dof,
  CAST(max(n) AS BIGINT) AS n_docs
FROM t""")),

    // --- Calendar arithmetic family: the date functions a reporting
    // user leans on daily — month-end detection (LAST_DAY), clamped
    // month addition (Jan 31 + 1 month = Feb 29/28 in BOTH engines),
    // ISO weekday (Spark weekday() = Monday 0 == DuckDB isodow − 1;
    // the raw DAYOFWEEK builtins DISAGREE across engines — Sunday 1
    // vs Sunday 0 — so the contract pins the alignment that is
    // portable), quarters, and exact day diffs. All integer-valued →
    // hash-exact. One narrow projection + one shuffle on the year.
    QueryDef("q_calendar_funcs",
      (spark, dir) => {
        val d = to_date(col("o_orderdate"))
        Tables.orders(spark, dir)
          .select(year(d).as("y"), quarter(d).as("q"), weekday(d).as("wd"),
            (d === last_day(d)).cast("int").as("is_month_end"),
            datediff(add_months(d, 3), d).as("plus3m_days"))
          .groupBy(col("y"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("q")).as("n_quarters"),
            sum(col("wd").cast("bigint")).as("wd_sum"),
            sum(col("is_month_end").cast("bigint")).as("n_month_end"),
            min(col("plus3m_days")).as("min_plus3m_days"),
            max(col("plus3m_days")).as("max_plus3m_days"))
          .orderBy(col("y"))
      },
      Some("""SELECT year(CAST(o_orderdate AS DATE)) AS y,
  count(*) AS n,
  CAST(count(DISTINCT quarter(CAST(o_orderdate AS DATE))) AS BIGINT)
    AS n_quarters,
  CAST(sum(isodow(CAST(o_orderdate AS DATE)) - 1) AS BIGINT) AS wd_sum,
  CAST(sum(CASE WHEN CAST(o_orderdate AS DATE)
    = last_day(CAST(o_orderdate AS DATE)) THEN 1 ELSE 0 END) AS BIGINT)
    AS n_month_end,
  min(date_diff('day', CAST(o_orderdate AS DATE),
    CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE)))
    AS min_plus3m_days,
  max(date_diff('day', CAST(o_orderdate AS DATE),
    CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE)))
    AS max_plus3m_days
FROM orders GROUP BY 1 ORDER BY 1""")),

    // --- ASSOCIATION RULES (market-basket): baskets = orders, items =
    // part brands; for every directed brand pair a→b co-occurring in a
    // basket, support / confidence / lift — the Apriori-output shape —
    // on a 1e-6 FIXED-POINT INTEGER GRID (`x·10⁶ div y`: truncating
    // integer division on positives, where Spark's `div` and DuckDB's
    // `//` agree bit-for-bit; a double ratio would never be a
    // cross-engine contract). Scale shape: the brand dimension join is
    // a broadcast; the basket self-join keys on the order id, so the
    // pair blowup is bounded by (items-per-basket)² per order, never
    // |items|²; the 25-row brand-support table broadcasts onto the
    // pair counts; top-20 by (lift, conf, pair) is a total order.
    QueryDef("q_assoc_rules",
      (spark, dir) => {
        val items = Tables.lineitem(spark, dir)
          .select(col("l_orderkey").as("ok"), col("l_partkey"))
          .join(broadcast(Tables.part(spark, dir)
            .select(col("p_partkey"), col("p_brand"))),
            col("l_partkey") === col("p_partkey"))
          .select(col("ok"), col("p_brand").as("item"))
          .distinct()
          .pinned() // supports + pairs + basket count share it
        // basket count rides the plan as a broadcast 1-row frame —
        // no driver-side count() action
        val nBaskets = items.select(col("ok")).distinct()
          .agg(count(lit(1)).as("nb"))
        val supp = items.groupBy(col("item")).agg(count(lit(1)).as("s"))
        val pairs = items.as("a").join(items.as("b"),
            col("a.ok") === col("b.ok") && col("a.item") < col("b.item"))
          .groupBy(col("a.item").as("x"), col("b.item").as("y"))
          .agg(count(lit(1)).as("sxy"))
        val rules = pairs
          .select(col("x").as("ante"), col("y").as("cons"), col("sxy"))
          .unionAll(pairs
            .select(col("y").as("ante"), col("x").as("cons"), col("sxy")))
          .join(broadcast(supp.select(col("item").as("ante"), col("s").as("sa"))), "ante")
          .join(broadcast(supp.select(col("item").as("cons"), col("s").as("sc"))), "cons")
          .crossJoin(broadcast(nBaskets))
        rules.select(col("ante"), col("cons"), col("sxy").as("support"),
            expr("sxy * 1000000L div sa").as("conf_ppm"),
            expr("sxy * 1000000L * nb div (sa * sc)").as("lift_ppm"))
          .orderBy(col("lift_ppm").desc, col("conf_ppm").desc,
            col("ante"), col("cons"))
          .limit(20)
      },
      Some("""WITH items AS (
  SELECT DISTINCT l_orderkey AS ok, p_brand AS item
  FROM lineitem JOIN part ON l_partkey = p_partkey),
nb AS (SELECT count(DISTINCT ok) AS n FROM items),
supp AS (SELECT item, CAST(count(*) AS BIGINT) AS s FROM items GROUP BY item),
pairs AS (
  SELECT a.item AS x, b.item AS y, CAST(count(*) AS BIGINT) AS sxy
  FROM items a JOIN items b ON a.ok = b.ok AND a.item < b.item
  GROUP BY 1, 2),
rules AS (
  SELECT x AS ante, y AS cons, sxy FROM pairs
  UNION ALL
  SELECT y AS ante, x AS cons, sxy FROM pairs)
SELECT r.ante, r.cons, r.sxy AS support,
  CAST(r.sxy * 1000000 // sa.s AS BIGINT) AS conf_ppm,
  CAST(r.sxy * 1000000 * (SELECT n FROM nb) // (sa.s * sc.s) AS BIGINT)
    AS lift_ppm
FROM rules r
JOIN supp sa ON sa.item = r.ante
JOIN supp sc ON sc.item = r.cons
ORDER BY lift_ppm DESC, conf_ppm DESC, ante, cons LIMIT 20""")),

    // --- COHORT RETENTION: users bucketed by the ISO week of their
    // first event; for offsets k = 0..3, the distinct users active in
    // cohort-week + k, plus 1e-6-grid retention ratios (integer `div`
    // on positives — bit-portable, unlike a double ratio). Classic
    // product-analytics shape: one distinct (user, week) pass, a
    // per-user min (both shuffle on user_id — the second reuses the
    // first's partitioning), then a tiny per-cohort rollup. At 100 TB
    // the distinct pass is the only full-data shuffle; everything
    // after is |users| and then |cohorts| sized.
    QueryDef("q_cohort_retention",
      (spark, dir) => {
        // the qualifying action is sparse (high-value purchases), so
        // the curve actually decays — an "any event" cohort would be
        // flat 100% in this data and gate nothing
        val uw = Tables.events(spark, dir)
          .filter(col("event_type") === "purchase" && col("value") > 100)
          .select(col("user_id"),
            date_trunc("week", col("ts")).cast("date").as("w"))
          .distinct()
        val cohorts = uw.groupBy(col("user_id")).agg(min(col("w")).as("cw"))
        val j = uw.join(cohorts, "user_id")
          .select(col("user_id"), col("cw"),
            expr("datediff(w, cw) div 7").as("k"))
        def ret(k: Int) =
          countDistinct(when(col("k") === k, col("user_id"))).as(s"w$k")
        j.groupBy(col("cw"))
          .agg(ret(0), ret(1), ret(2), ret(3))
          .select(date_format(col("cw"), "yyyy-MM-dd").as("cohort_week"),
            col("w0"), col("w1"), col("w2"), col("w3"),
            expr("w1 * 1000000L div w0").as("r1_ppm"),
            expr("w2 * 1000000L div w0").as("r2_ppm"),
            expr("w3 * 1000000L div w0").as("r3_ppm"))
          .orderBy(col("cohort_week"))
      },
      Some("""WITH uw AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS w
  FROM events WHERE event_type = 'purchase' AND value > 100),
cohorts AS (SELECT user_id, min(w) AS cw FROM uw GROUP BY 1),
j AS (
  SELECT uw.user_id, c.cw, date_diff('day', c.cw, uw.w) // 7 AS k
  FROM uw JOIN cohorts c ON uw.user_id = c.user_id),
r AS (
  SELECT cw,
    CAST(count(DISTINCT CASE WHEN k = 0 THEN user_id END) AS BIGINT) AS w0,
    CAST(count(DISTINCT CASE WHEN k = 1 THEN user_id END) AS BIGINT) AS w1,
    CAST(count(DISTINCT CASE WHEN k = 2 THEN user_id END) AS BIGINT) AS w2,
    CAST(count(DISTINCT CASE WHEN k = 3 THEN user_id END) AS BIGINT) AS w3
  FROM j GROUP BY 1)
SELECT strftime(cw, '%Y-%m-%d') AS cohort_week, w0, w1, w2, w3,
  CAST(w1 * 1000000 // w0 AS BIGINT) AS r1_ppm,
  CAST(w2 * 1000000 // w0 AS BIGINT) AS r2_ppm,
  CAST(w3 * 1000000 // w0 AS BIGINT) AS r3_ppm
FROM r ORDER BY cohort_week""")),

    // --- 3-SIGMA ANOMALY DETECTION WITHOUT FLOATING POINT: per-type
    // outlier counts where "outlier" is |x − μ| > 3σ — but evaluated
    // as (n·x − S)² > 9·(n·Q − S²) over 1e-6-grid integers (S = Σx,
    // Q = Σx² as 128-bit-capable decimals), i.e. the z-test with both
    // sides multiplied through by n². No division, no sqrt, no
    // doubles → the flag is EXACT integer arithmetic, so a row near
    // the 3σ boundary can never flip between engines or partitionings
    // — the failure mode that makes float-threshold anomaly jobs
    // unauditable. The moments are built over x − min(x) per group
    // (the flag is translation-invariant: both sides shift identically)
    // so every intermediate scales with the group's RANGE, not its
    // absolute magnitude — the DECIMAL(38,0)/HUGEINT ceiling then
    // binds at n·range ≳ 1e19 instead of n·|x| (ANSI mode errors, it
    // never silently NULLs, if a corpus ever exceeds that). Plan
    // shape: one cheap pass for per-type min (map-side combine,
    // broadcast back), one pass builds the centered moments, the tiny
    // moment table broadcasts onto the row scan, one more agg counts
    // flags: three scans, zero row-level shuffles of the fact.
    QueryDef("q_anomaly_sigma",
      (spark, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val d38 = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(38, 0))
        val raw = Tables.events(spark, dir)
          .select(col("event_type"),
            round(col("value") * lit(1e6)).cast("bigint").as("x0"))
        val anchor = raw.groupBy(col("event_type")).agg(min(col("x0")).as("m"))
        val rows = raw.join(broadcast(anchor), "event_type")
          .select(col("event_type"), (col("x0") - col("m")).as("x"))
        val mom = rows.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(d38(col("x"))).as("s"),
            sum(d38(col("x")) * d38(col("x"))).as("q"))
        rows.join(broadcast(mom), "event_type")
          .select(col("event_type"), col("n"),
            ((d38(col("n")) * d38(col("x")) - col("s")) *
              (d38(col("n")) * d38(col("x")) - col("s")) >
              (d38(col("n")) * col("q") - col("s") * col("s")) * 9)
              .as("is_out"))
          .groupBy(col("event_type"))
          .agg(first(col("n")).as("n"),
            sum(when(col("is_out"), 1L).otherwise(0L)).as("n_outliers"))
          .orderBy(col("event_type"))
      },
      Some("""WITH g0 AS (
  SELECT event_type, CAST(round(value * 1000000.0) AS BIGINT) AS x0
  FROM events),
anchor AS (SELECT event_type, min(x0) AS m FROM g0 GROUP BY 1),
g AS (
  SELECT g0.event_type, g0.x0 - anchor.m AS x
  FROM g0 JOIN anchor ON g0.event_type = anchor.event_type),
mom AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
    sum(CAST(x AS HUGEINT)) AS s, sum(CAST(x AS HUGEINT) * x) AS q
  FROM g GROUP BY 1)
SELECT g.event_type, m.n,
  CAST(sum(CASE WHEN (m.n * g.x - m.s) * (m.n * g.x - m.s)
                   > 9 * (m.n * m.q - m.s * m.s)
       THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM g JOIN mom m ON g.event_type = m.event_type
GROUP BY 1, 2 ORDER BY 1""")),

    // --- TWO-SAMPLE KOLMOGOROV–SMIRNOV DISTANCE, integer-exact: are
    // the click and purchase value distributions the same? The KS
    // statistic is max_x |F1(x) − F2(x)|; both ECDFs multiplied
    // through by n1·n2 turn it into max |n2·cum1(x) − n1·cum2(x)| —
    // pure BIGINT on the 1e-6 value grid, so the max deviation (and
    // its ppm normalization) is bit-identical across engines and
    // partitionings. Operating bound: n2·cum1 ≤ n1·n2 < 2⁶³ ⇒ ~3e9
    // rows per side before the cross-product needs DECIMAL widening.
    //
    // Scale shape: rows first collapse to DISTINCT-VALUE counts
    // (map-side combine; the group count is bounded by the value
    // DOMAIN — the 1e-6 grid — not the row count), then the running
    // sum is the same hierarchical two-phase prefix sum as
    // q_pack_sequences: a per-bucket local window (bucket = x div 2²⁴,
    // monotone in x) + a broadcast of exclusive bucket offsets — the
    // global-sort-on-one-task ECDF is exactly what this decomposition
    // avoids. The offsets table is ≤ domain/2²⁴ rows (~30 here).
    QueryDef("q_ks_stat",
      (spark, dir) => {
        val B = 1L << 24
        val s = Tables.events(spark, dir)
          .filter(col("event_type").isin("click", "purchase"))
          .select(round(col("value") * lit(1e6)).cast("bigint").as("x"),
            when(col("event_type") === "click", 1L).otherwise(0L).as("c1"),
            when(col("event_type") === "purchase", 1L).otherwise(0L).as("c2"))
        val g = s.groupBy(col("x"))
          .agg(sum(col("c1")).as("c1"), sum(col("c2")).as("c2"))
          .withColumn("b", expr(s"x div ${B}L"))
        val wLoc = Window.partitionBy(col("b")).orderBy(col("x"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val loc = g.select(col("b"), col("x"),
          sum(col("c1")).over(wLoc).as("l1"),
          sum(col("c2")).over(wLoc).as("l2"))
        val wOff = Window.orderBy(col("b"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offs = g.groupBy(col("b"))
          .agg(sum(col("c1")).as("t1"), sum(col("c2")).as("t2"))
          .select(col("b"),
            coalesce(sum(col("t1")).over(wOff), lit(0L)).as("o1"),
            coalesce(sum(col("t2")).over(wOff), lit(0L)).as("o2"))
        val cum = loc.join(broadcast(offs), "b")
          .select(col("x"), (col("l1") + col("o1")).as("f1"),
            (col("l2") + col("o2")).as("f2"))
        val n = s.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
        cum.crossJoin(broadcast(n))
          .select(col("n1"), col("n2"),
            abs(col("n2") * col("f1") - col("n1") * col("f2")).as("dev"))
          .groupBy(col("n1"), col("n2"))
          .agg(max(col("dev")).as("d_num"))
          .select(col("n1"), col("n2"), col("d_num"),
            expr("(d_num * CAST(1000000 AS BIGINT)) div (n1 * n2)").as("d_ppm"))
      },
      Some("""WITH s AS (
  SELECT CAST(round(value * 1000000.0) AS BIGINT) AS x,
    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS c1,
    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS c2
  FROM events WHERE event_type IN ('click', 'purchase')),
g AS (
  SELECT x, CAST(sum(c1) AS BIGINT) AS c1, CAST(sum(c2) AS BIGINT) AS c2
  FROM s GROUP BY 1),
c AS (
  SELECT x,
    CAST(sum(c1) OVER (ORDER BY x
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS f1,
    CAST(sum(c2) OVER (ORDER BY x
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS f2
  FROM g),
n AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
  FROM s)
SELECT n1, n2,
  CAST(max(abs(n2 * f1 - n1 * f2)) AS BIGINT) AS d_num,
  CAST(max(abs(n2 * f1 - n1 * f2)) * 1000000 // (n1 * n2) AS BIGINT) AS d_ppm
FROM c, n GROUP BY n1, n2""")),

    // --- EXPONENTIALLY-WEIGHTED MOVING AVERAGE (8-tap, α = 1/4) over
    // the per-priority daily revenue series — the time-series
    // smoothing every monitoring consumer of the reference's estimate
    // feed runs. A recursive EWMA can never be a cross-engine
    // contract (each step divides, so truncation compounds
    // engine-specifically); the 8-tap truncated form is a CLOSED
    // integer formula — weight (3/4)^k rendered as 3^k·4^(7−k) on the
    // micro grid, numerator and denominator folded exactly, ONE
    // integral division at the end. The denominator counts only the
    // taps that exist (series heads), so early rows are exact too,
    // not zero-padded. One shuffle builds the daily series; the lag
    // window reuses that partitioning (partition by priority).
    // Magnitude bound: 8 taps × weight ≤ 16384 × daily micro-revenue
    // < 2⁶³ for daily revenue up to ~7e13 — the HUGEINT/DECIMAL(38)
    // rendition in the sibling q_gini shows the >2⁶³ path.
    // --- EXACT ROLLING MEDIAN (the robust-statistics companion to
    // q_ewma's rolling mean): per user, the discrete median of the
    // trailing-7 frame — element ⌈n/2⌉ of the sorted window, stated
    // identically in both engines, so no interpolation arithmetic can
    // drift and early rows (n < 7) are exact, not padded. Robust
    // rolling stats are what monitoring pipelines actually want when
    // a single spike would wreck a rolling mean. Scale shape: one
    // shuffle on user_id; the frame is BOUNDED (7 rows), so per-row
    // cost is O(7 log 7) partition-local and state never grows with
    // history — the same reason the streaming engines cap frames.
    QueryDef("q_window_median",
      (spark, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id")).rowsBetween(-6, 0)
        // keyedFanOut measured ~flat here (r21: +0.17/−0.05 s over 2
        // pairs) — per-row bounded-frame output, the trailing global
        // sort dominates; left on the planner's own exchange
        Tables.events(spark, dir)
          .select(col("event_id"), col("user_id"),
            sort_array(collect_list(col("value")).over(w)).as("win"))
          .select(col("event_id"), col("user_id"),
            element_at(col("win"),
              ceil(size(col("win")) / lit(2.0)).cast("int")).as("med7"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, user_id,
  list_sort(list(value) OVER w)
    [CAST(ceil(len(list(value) OVER w) / 2.0) AS BIGINT)] AS med7
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
ORDER BY event_id""")),

    QueryDef("q_ewma",
      (spark, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val w = Window.partitionBy(col("prio")).orderBy(col("day"))
        // weights 3^k * 4^(7-k), k = age of the tap
        val wt = (0 to 7).map(k => math.pow(3, k).toLong * math.pow(4, 7 - k).toLong)
        val daily = Tables.orders(spark, dir)
          .groupBy(col("o_orderpriority").as("prio"),
            date_trunc("day", col("o_orderdate")).cast("date").as("day"))
          .agg((sum(col("o_totalprice").cast(DecimalType(30, 6))) * 1000000)
            .cast("bigint").as("rev"))
        // pinned window-key exchange (see Par.keyedFanOut): the daily
        // rollup is small bytes, so AQE folds the window's exchange to
        // one task and the 8-lag battery runs serially
        val lagged = graft.util.Par.keyedFanOut(daily, col("prio")).select(
          Seq(col("prio"), col("day"), col("rev")) ++
            (1 to 7).map(k => lag(col("rev"), k).over(w).as(s"r$k")): _*)
        val tap = (k: Int) =>
          if (k == 0) col("rev") * wt(0)
          else coalesce(col(s"r$k"), lit(0L)) * wt(k)
        val den = (1 to 7).foldLeft(lit(wt(0))) { (acc, k) =>
          acc + when(col(s"r$k").isNull, 0L).otherwise(wt(k)) }
        lagged.select(col("prio"), col("day"), col("rev"),
            (0 to 7).map(tap).reduce(_ + _).as("num"), den.as("den"))
          .select(col("prio"), col("day"), col("rev"),
            expr("num div den").as("ewma"))
          .orderBy(col("prio"), col("day"))
      },
      Some("""WITH daily AS (
  SELECT o_orderpriority AS prio,
    CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
    CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) * 1000000 AS BIGINT) AS rev
  FROM orders GROUP BY 1, 2),
lagged AS (
  SELECT prio, day, rev,
    lag(rev, 1) OVER w AS r1, lag(rev, 2) OVER w AS r2,
    lag(rev, 3) OVER w AS r3, lag(rev, 4) OVER w AS r4,
    lag(rev, 5) OVER w AS r5, lag(rev, 6) OVER w AS r6,
    lag(rev, 7) OVER w AS r7
  FROM daily WINDOW w AS (PARTITION BY prio ORDER BY day))
SELECT prio, day, rev,
  (rev * 16384 + coalesce(r1,0)*12288 + coalesce(r2,0)*9216
   + coalesce(r3,0)*6912 + coalesce(r4,0)*5184 + coalesce(r5,0)*3888
   + coalesce(r6,0)*2916 + coalesce(r7,0)*2187)
  // (16384 + CASE WHEN r1 IS NULL THEN 0 ELSE 12288 END
      + CASE WHEN r2 IS NULL THEN 0 ELSE 9216 END
      + CASE WHEN r3 IS NULL THEN 0 ELSE 6912 END
      + CASE WHEN r4 IS NULL THEN 0 ELSE 5184 END
      + CASE WHEN r5 IS NULL THEN 0 ELSE 3888 END
      + CASE WHEN r6 IS NULL THEN 0 ELSE 2916 END
      + CASE WHEN r7 IS NULL THEN 0 ELSE 2187 END) AS ewma
FROM lagged ORDER BY prio, day""")),

    // --- REVENUE-CONCENTRATION PROFILE per brand: exact integer GINI
    // coefficient (ppm grid) + HERFINDAHL–HIRSCHMAN index (ppm²) over
    // per-part revenue — the domain-mix concentration audit a corpus
    // curator runs before training (is one source dominating a
    // slice?). The Gini rank sum Σ(2i−1)·x_i runs in DECIMAL(38,0)
    // (DuckDB HUGEINT) because n·total exceeds 2⁶³ at large SF — the
    // bound ADVICE flagged on q_anomaly_sigma, designed out here from
    // the start. Ranking is a per-brand window on the cents grid with
    // a stated tiebreak (revenue, then part key); equal revenues
    // contribute identical terms under any tie order, so the fold is
    // deterministic anyway. Two shuffles total: the (brand, part)
    // rollup, then |parts|-sized ranking — the fact table never
    // re-shuffles.
    QueryDef("q_gini",
      (spark, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val d38 = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(38, 0))
        // NOT fanned out (guide §1.1 measure-first): rev feeds four
        // downstream consumers, each re-running the subtree — with a
        // fan-out every re-run pays 32-task stages on tiny data and
        // the query measured SLOWER (1.49 s → 1.92 s)
        val rev = Tables.lineitem(spark, dir)
          .join(broadcast(Tables.part(spark, dir)
            .select(col("p_partkey"), col("p_brand"))),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand").as("brand"), col("l_partkey").as("pk"))
          .agg((sum(col("l_extendedprice").cast(DecimalType(30, 2))) * 100)
            .cast("bigint").as("r"))
        val tot = rev.groupBy(col("brand"))
          .agg(count(lit(1)).as("n"), sum(d38(col("r"))).as("t"))
        val ranked = rev.select(col("brand"), col("pk"), col("r"),
          row_number().over(
            Window.partitionBy(col("brand")).orderBy(col("r"), col("pk")))
            .as("rn"))
        val g = ranked.groupBy(col("brand"))
          .agg(sum(d38(col("rn") * 2 - 1) * d38(col("r"))).as("gn"))
        val s = rev.join(broadcast(tot), "brand")
          .select(col("brand"),
            expr("CAST(r AS DECIMAL(38,0)) * 1000000 div t").as("share_ppm"))
          .groupBy(col("brand"))
          .agg(sum(col("share_ppm") * col("share_ppm")).as("hhi_ppm2"))
        tot.join(g, "brand").join(s, "brand")
          .select(col("brand"), col("n"), col("t").cast("bigint").as("total_cents"),
            expr("(1000000 * (gn - CAST(n AS DECIMAL(38,0)) * t)) " +
              "div (CAST(n AS DECIMAL(38,0)) * t)").as("gini_ppm"),
            col("hhi_ppm2"))
          .orderBy(col("brand"))
      },
      Some("""WITH rev AS (
  SELECT p.p_brand AS brand, l.l_partkey AS pk,
    CAST(sum(CAST(l.l_extendedprice AS DECIMAL(30,2))) * 100 AS BIGINT) AS r
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2),
tot AS (SELECT brand, CAST(count(*) AS BIGINT) AS n,
  sum(CAST(r AS HUGEINT)) AS t FROM rev GROUP BY 1),
ranked AS (
  SELECT brand, pk, r,
    row_number() OVER (PARTITION BY brand ORDER BY r, pk) AS rn
  FROM rev),
g AS (
  SELECT brand, sum((2 * rn - 1) * CAST(r AS HUGEINT)) AS gn
  FROM ranked GROUP BY 1),
s AS (
  SELECT rev.brand,
    sum(CAST((CAST(r AS HUGEINT) * 1000000) // t AS BIGINT)
        * CAST((CAST(r AS HUGEINT) * 1000000) // t AS BIGINT)) AS hhi_ppm2
  FROM rev JOIN tot ON rev.brand = tot.brand GROUP BY 1)
SELECT tot.brand, tot.n, CAST(tot.t AS BIGINT) AS total_cents,
  CAST((1000000 * (g.gn - CAST(tot.n AS HUGEINT) * tot.t))
       // (CAST(tot.n AS HUGEINT) * tot.t) AS BIGINT) AS gini_ppm,
  CAST(s.hhi_ppm2 AS BIGINT) AS hhi_ppm2
FROM tot JOIN g ON g.brand = tot.brand JOIN s ON s.brand = tot.brand
ORDER BY tot.brand""")),
  )
}
