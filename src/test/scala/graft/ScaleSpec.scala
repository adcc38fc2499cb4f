package graft

/** Plan-shape guards for the skew/co-location patterns in
  * queries/Scale.scala — the answer is oracle-gated; these assert the
  * SCALE property the rewrite exists for. */
class ScaleSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, Sf0001)
      .queryExecution.executedPlan.toString

  test("q_join_skew_salted: join key carries the salt") {
    val p = plan("q_join_skew_salted")
    // the equi-join condition must include the salt column on both sides
    val joinLine = p.linesIterator.find(_.contains("Join")).getOrElse("")
    assert(joinLine.contains("salt"), p.take(800))
  }

  test("q_agg_salted: two aggregation stages, salted then final") {
    val p = plan("q_agg_salted")
    // partial+final per groupBy → ≥4 HashAggregates across both stages
    assert("HashAggregate".r.findAllIn(p).size >= 4, p.take(800))
  }

  test("q_interval_bin_join: range predicate plans as a hash join, not a nested loop") {
    val p = plan("q_interval_bin_join")
    // the point-interval join keys on the bin and carries the range
    // predicate as a residual filter — a hash join, not a nested loop
    // (the only nested loop allowed is the 25×1 bounds cross-join)
    assert(p.contains("HashJoin [bin"), p.take(1200))
    val rangeJoinLines = p.linesIterator
      .filter(l => l.contains("Join") && l.contains("ts_us")).toSeq
    assert(rangeJoinLines.nonEmpty && rangeJoinLines.forall(_.contains("HashJoin")),
      "range predicate must ride a hash join: " + rangeJoinLines.mkString("\n"))
  }

  test("q_knn_join: probe scoring stays un-shuffled below the native top-k") {
    val p = SparkEntry.queries("q_knn_join")(spark, Sf0001)
      .queryExecution.executedPlan.toString
    val topkIdx = p.indexOf("GroupTopK")
    assert(topkIdx >= 0, p.take(800))
    // below the FINAL top-k phase: one exchange (on probe_id), then the
    // partial phase and the broadcast-joined scan — no other shuffle
    val below = p.substring(p.indexOf("GroupTopK", topkIdx + 1))
    assert(!below.contains("Exchange hashpartitioning"),
      "partial phase must consume the scan without a shuffle: " + below.take(800))
  }

  test("q_lev_neardup: both pair-join sides are pruned by the block-cap semi join") {
    val p = plan("q_lev_neardup")
    // the jumbo-block guard must semi-join BOTH sides against the
    // bounded block list before the quadratic pairing join — a hot
    // boilerplate prefix can never form an unguarded O(n²) block
    assert("LeftSemi".r.findAllIn(p).size >= 2,
      "expected a block-cap semi join on each pair side: " + p.take(1200))
  }

  test("q_dpp_join: fact scan carries a dynamic pruning subquery") {
    val p = plan("q_dpp_join")
    assert(p.toLowerCase.contains("dynamicpruning"),
      "partitioned fact scan should be dynamically pruned: " + p.take(1000))
  }

  test("q_bucketed_join: bucketed scans, no exchange below the join") {
    val df = SparkEntry.queries("q_bucketed_join")(spark, Sf0001)
    val p = df.queryExecution.executedPlan.toString
    val joinIdx = p.indexOf("SortMergeJoin")
    assert(joinIdx >= 0, "bucketed fact-fact join should sort-merge: " + p.take(600))
    val below = p.substring(joinIdx)
    assert(!below.contains("Exchange"),
      "bucketed sides must not re-shuffle: " + below.take(800))
    assert("Bucketed: true".r.findAllIn(below).size == 2,
      "both scans must read bucketed: " + below.take(800))
    // The remaining Sort below the join is partition-local (shuffle-free)
    // and streams over one already-sorted file per bucket; Spark only
    // drops it under spark.sql.legacy.bucketedTableScan.outputOrdering.
  }

  test("q_bloom_prune: fact side carries an injected runtime bloom filter") {
    val df = SparkEntry.queries("q_bloom_prune")(spark, Sf0001)
    val p = df.queryExecution.optimizedPlan.toString
    // InjectRuntimeFilter must have planted a might_contain(bloom_agg)
    // predicate on the lineitem side — the row-level pruning this
    // operator exists to demonstrate
    assert(p.toLowerCase.contains("bloom"),
      "expected an injected bloom runtime filter: " + p.take(1200))
  }

  test("q_dedup_span: first-occurrence owner is a groupBy min, not a window") {
    val p = plan("q_dedup_span")
    // hot boilerplate spans must collapse in map-side partial
    // aggregation; a row_number-over-span window would sort whole hot
    // partitions instead
    assert(!p.contains("Window"), p.take(1000))
    assert(p.contains("partial_min(pos"), p.take(1000))
  }

  test("q_sample_temperature: keep decision rides broadcast rates, no doc shuffle") {
    val p = plan("q_sample_temperature")
    assert(!p.contains("Window"), p.take(1000))
    // the tiny per-source rate table must broadcast back to the scan
    assert(p.contains("BroadcastHashJoin"), p.take(1000))
  }

  test("q_vocab_coverage: window input is the top-k heap, not the corpus") {
    val p = plan("q_vocab_coverage")
    // global top-50 must be TakeOrderedAndProject (per-partition heaps);
    // the single-partition cumulative window then sees only 50 rows
    assert(p.contains("TakeOrderedAndProject(limit=50"), p.take(1000))
  }

  test("q_centroids: vector mean partial-aggregates before the shuffle") {
    val p = plan("q_centroids")
    assert(p.contains("partial_sum"), p.take(1000))
  }

  test("centroidArrays: array rebuild partial-aggregates both stages") {
    // the array-building rendition (IVF build input) keeps map-side
    // combine on both the (label, dim) sums and the bounded-by-dim
    // collect_list regroup
    val p = graft.queries.SimOps.centroidArrays(spark, Sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_sum"), p.take(1000))
    assert(p.contains("partial_collect_list"), p.take(1000))
  }

  test("q_hard_negatives: anchors broadcast; argmax rides GroupTopK heaps") {
    val p = plan("q_hard_negatives")
    // corpus side must not shuffle before scoring: anchors arrive by
    // broadcast, and the per-(anchor, polarity) argmax is the native
    // partial-heap operator, not a window
    assert(p.contains("BroadcastExchange"), p.take(1000))
    assert(p.contains("GroupTopK"), p.take(1000))
    assert(!p.contains("Window"), "argmax must not fall back to a window")
  }

  test("q_bpe_merge: pair explode runs on the distinct-word table, two-phase") {
    val p = plan("q_bpe_merge")
    // wordcount agg + pair agg, each with a partial phase (≥4
    // HashAggregates), and the top-20 as per-partition heaps
    assert("HashAggregate".r.findAllIn(p).size >= 4, p.take(1200))
    assert(p.contains("TakeOrderedAndProject(limit=20"), p.take(1200))
  }

  test("q_pivot_events: explicit value list plans the two-level aggregate") {
    val p = plan("q_pivot_events")
    // pivot = pre-agg on (user_id, event_type) then pivot agg — both
    // two-phase; an implicit value list would add a driver-side
    // distinct job BEFORE planning, which this pin can't see but the
    // explicit list makes impossible by construction
    assert("HashAggregate".r.findAllIn(p).size >= 4, p.take(1000))
  }

  test("q_join_nullsafe: <=> plans as a broadcast HASH join") {
    val p = plan("q_join_nullsafe")
    assert(p.contains("BroadcastHashJoin"), p.take(1000))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "null-safe equality must key a hash join, not degrade to a loop")
  }

  test("q_percentile_disc: both windows reuse one event_type exchange") {
    val p = plan("q_percentile_disc")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(1200))
  }

  test("q_scd2: one user_id shuffle feeds all three windows") {
    val p = plan("q_scd2")
    // lag + running-sum + lead must reuse a single hash exchange on
    // user_id (the only other exchange is the output range sort)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(1200))
  }

  test("q_skyline: frontier is decomposed — base scan broadcasts, never sorts") {
    val p = plan("q_skyline")
    // the single-partition cumulative max runs over the per-size
    // aggregate only; the parts scan joins the tiny frontier broadcast
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert("Window".r.findAllIn(p).size == 1, p.take(1200))
    val spIdx = p.indexOf("Exchange SinglePartition")
    assert(spIdx >= 0 &&
      p.substring(spIdx).contains("HashAggregate(keys=[p_size"),
      "single-partition window must sit above the per-size aggregate: " +
        p.take(1200))
  }

  test("q_bm25: global top-20 is a TakeOrderedAndProject heap") {
    val p = plan("q_bm25")
    assert(p.contains("TakeOrderedAndProject(limit=20"), p.take(1000))
  }

  test("q_zorder_layout: z-sorted files prune parquet row groups for 2-D predicates") {
    import org.apache.spark.sql.functions._
    // Write the SAME rows twice — z-value-clustered vs key-ordered —
    // with tiny row groups, then run an identical 2-D point predicate.
    // Parquet row-group stats must let the z layout skip most groups
    // (the scan node emits only surviving-group rows; the filter above
    // drops the rest), while the unclustered layout reads ~everything.
    val z = SparkEntry.queries("q_zorder_layout")(spark, Sf0001)
    val tmp = java.nio.file.Files.createTempDirectory("graft-zskip-").toString
    z.repartitionByRange(4, col("zval")).sortWithinPartitions(col("zval"))
      .write.option("parquet.block.size", "8192")
      .mode("overwrite").parquet(s"$tmp/zsorted")
    z.repartition(4, col("o_orderkey"))
      .write.option("parquet.block.size", "8192")
      .mode("overwrite").parquet(s"$tmp/plain")
    def rowsScanned(path: String): Long = {
      val df = spark.read.parquet(path)
        .filter(col("za") === 5 && col("zb") === 7)
      df.collect()
      val scan = df.queryExecution.executedPlan.collectLeaves().head
      scan.metrics("numOutputRows").value
    }
    val zScanned = rowsScanned(s"$tmp/zsorted")
    val pScanned = rowsScanned(s"$tmp/plain")
    assert(zScanned < pScanned,
      s"z-layout should skip row groups: z=$zScanned plain=$pScanned")
  }

  test("q_zorder_layout: a 1024-code z-block is a bounded tile in both dims") {
    import org.apache.spark.sql.functions._
    // 1024 consecutive z-codes fix bits 5..7 of each interleaved dim,
    // leaving 5 free bits → every block spans <32 values of za AND zb.
    // (A single-dim sort would leave the other dim spanning ~everything.)
    val spans = SparkEntry.queries("q_zorder_layout")(spark, Sf0001)
      .groupBy(col("zblock"))
      .agg((max(col("za")) - min(col("za"))).as("aspan"),
        (max(col("zb")) - min(col("zb"))).as("bspan"))
      .agg(max(col("aspan")).as("a"), max(col("bspan")).as("b"))
      .collect()(0)
    assert(spans.getInt(0) < 32 && spans.getInt(1) < 32, spans.toString)
  }

  test("zorderLayout with a STRING dimension: rank-coded tiles make " +
      "a string point predicate prune parts; answers intact") {
    import org.apache.spark.sql.functions._
    val wh = java.nio.file.Files.createTempDirectory("graft-zstr-").toString
    spark.conf.set("spark.sql.catalog.gzst", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gzst.warehouse", wh)
    val t = s"$wh/ns/d"
    graft.model.Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .repartition(8, col("doc_id"))
      .write.format("graft.sources.ManifestSource")
      .option("path", t)
      .mode("overwrite").save()
    def probe() = spark.read.format("graft.sources.ManifestSource")
      .option("path", t).load().filter(col("source") === "src5")
    def planned(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.sparkPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec => b.inputPartitions.length
      }.getOrElse(-1)
    val beforeRows = probe().count()
    assert(planned(probe()) === 8,
      "hash layout spans every part on the string dimension")
    spark.sql("CALL gzst.system.compact(table => 'ns.d', " +
      "target_parts => 8, zorder => 'source,doc_id')")
    val after = planned(probe())
    assert(after > 0 && after < 8,
      s"rank-coded string tiles must prune the point probe, planned $after")
    assert(probe().count() === beforeRows,
      "compaction changed layout, never content")
  }

  test("q_cms_hh: sketch and probe stages broadcast; no sort-merge join") {
    val p = plan("q_cms_hh")
    // the D×W cell table and the total are broadcast onto the key
    // probe — the key stream must never shuffle against the sketch
    assert(p.contains("BroadcastExchange"), p.take(800))
    assert(!p.contains("SortMergeJoin"),
      "sketch probe must not sort-merge: " + p.take(800))
    // cell build is a two-phase hash aggregation (partial + final)
    assert("HashAggregate".r.findAllIn(p).size >= 4, p.take(800))
  }

  test("q_geo_join: neighbor-cell join is an equi hash join, never cartesian") {
    val p = plan("q_geo_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "spatial pairing must ride the grid-cell equi join: " + p.take(1200))
    assert(p.contains("HashJoin"), p.take(800))
    // global top-20 is a heap, not a full sort
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("q_inverted_index: posting build is two-phase; top-30 is a heap") {
    val p = plan("q_inverted_index")
    // term×doc tf and the term rollup both partial-aggregate before
    // their shuffles (collect_list rides ObjectHashAggregate)
    assert(p.contains("ObjectHashAggregate"), p.take(800))
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("q_label_prop: per-round label vector broadcasts onto the edge scan") {
    val p = plan("q_label_prop")
    // the final round's join must be broadcast (the |V|-sized label
    // vector), never a sort-merge of the edge set
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("anchored moments survive adversarial magnitudes at 100x rows (no ANSI overflow)") {
    // The q_anomaly_sigma kernel anchors each group at its min so all
    // decimal intermediates scale with the group's RANGE, not its
    // absolute magnitude (StatsOps.scala q_anomaly_sigma design note).
    // Stress both claims at 100× the sf0.001 row count with values
    // parked at ~Long.MaxValue: (1) the pipeline completes — ANSI
    // would THROW on decimal overflow, so mere completion is the
    // no-overflow proof; (2) translation invariance — the flag counts
    // over `jitter + 9.2e18` must equal those over bare `jitter`,
    // bit-for-bit, which an un-anchored kernel could not deliver
    // (n·x ≈ 1e24 overflows DECIMAL(38,0) at that magnitude).
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val d38 = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(38, 0))
    def sigmaCounts(raw: DataFrame): Map[String, Long] = {
      val anchor = raw.groupBy(col("g")).agg(min(col("x0")).as("m"))
      val rows = raw.join(broadcast(anchor), "g")
        .select(col("g"), (col("x0") - col("m")).as("x"))
      val mom = rows.groupBy(col("g"))
        .agg(count(lit(1)).as("n"),
          sum(d38(col("x"))).as("s"),
          sum(d38(col("x")) * d38(col("x"))).as("q"))
      rows.join(broadcast(mom), "g")
        .select(col("g"),
          ((d38(col("n")) * d38(col("x")) - col("s")) *
            (d38(col("n")) * d38(col("x")) - col("s")) >
            (d38(col("n")) * col("q") - col("s") * col("s")) * 9)
            .as("is_out"))
        .groupBy(col("g"))
        .agg(sum(when(col("is_out"), 1L).otherwise(0L)).as("n_outliers"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    // 100k rows, 4 groups; heavy-tailed jitter so some rows flag; the
    // offset parks absolute values within 2^63 but far past what any
    // un-anchored n·x or Σx² could survive in DECIMAL(38,0)
    val jitter = spark.range(100000L).select(
      concat(lit("g"), (col("id") % 4).cast("string")).as("g"),
      (when(col("id") % 997 === 0, col("id") % 1000000 * 1000L)
        .otherwise(col("id") % 1000)).cast("long").as("x0"))
    val offset = 9200000000000000000L // ~0.998 · Long.MaxValue
    val shifted = jitter.select(col("g"), (col("x0") + offset).as("x0"))
    val base = sigmaCounts(jitter)
    val far = sigmaCounts(shifted)
    assert(base.values.sum > 0, s"stress fixture must flag outliers: $base")
    assert(base === far,
      s"anchored flags must be translation-invariant: $base vs $far")
  }

  test("q_triangles closure: broadcast within threshold, partitioned " +
      "fallback beyond it, identical answer") {
    import org.apache.spark.sql.functions.col
    def run() = SparkEntry.queries("q_triangles")(spark, Sf0001)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    def closureJoins(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      // the closure join is the only one keyed on the packed long `k`
      val lines = df.queryExecution.executedPlan.toString
        .linesIterator.filter(l => l.contains("Join") && l.contains("[k#"))
        .toSeq
      (lines.count(_.contains("BroadcastHashJoin")),
        lines.count(_.contains("ShuffledHashJoin")))
    }
    val bcast = run()
    val expected = rows(bcast)
    // (an executed adaptive plan prints final + initial sections, so
    // the closure join line can legitimately appear more than once)
    val (b1, s1) = closureJoins(bcast)
    assert(b1 >= 1 && s1 === 0,
      "default threshold must broadcast the packed edge set")
    spark.conf.set("graft.triangles.broadcastMaxEdges", "0")
    try {
      val part = run()
      val (b2, s2) = closureJoins(part)
      assert(b2 === 0 && s2 >= 1,
        "zero threshold must flip the closure to a partitioned hash join")
      assert(rows(part) === expected,
        "both closure strategies must produce the identical profile")
    } finally spark.conf.unset("graft.triangles.broadcastMaxEdges")
  }

  test("pagerank rank join + triangles degree join: broadcast within " +
      "threshold, partitioned fallback beyond it, identical answers") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    def joins(df: org.apache.spark.sql.DataFrame,
        key: String): (Int, Int) = {
      val lines = df.queryExecution.executedPlan.toString
        .linesIterator.filter(l => l.contains("Join") && l.contains(key))
        .toSeq
      (lines.count(_.contains("BroadcastHashJoin")),
        lines.count(_.contains("ShuffledHashJoin")))
    }
    // pagerank: the per-iteration rank join keys on `node`
    def pr() = SparkEntry.queries("q_pagerank")(spark, Sf0001)
    val prB = pr()
    val prExpected = rows(prB)
    val (pb, ps) = joins(prB, "node#")
    assert(pb >= 1 && ps === 0,
      "default threshold must broadcast the rank table")
    spark.conf.set("graft.pagerank.broadcastMaxNodes", "0")
    try {
      val prP = pr()
      val (pb2, ps2) = joins(prP, "node#")
      assert(pb2 === 0 && ps2 >= 1,
        "zero threshold must flip the rank join to shuffle-hash")
      assert(rows(prP) === prExpected,
        "both rank-join strategies must rank identically")
    } finally spark.conf.unset("graft.pagerank.broadcastMaxNodes")
    // triangles: the degree-orientation subtree hides behind a
    // localCheckpoint inside q_triangles, so the pin drives the
    // factored helper directly — join keys are u / v, the degree
    // table is the build side either way
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val e = (0L until 400L).map(i => (i % 23, (i * 7) % 31 + 100))
      .distinct.toDF("u", "v").repartition(4, col("u"))
    val deg = graft.queries.GraphOps.degreesOf(e)
    def orient() = graft.queries.GraphOps.orientEdges(spark, e, deg)
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString)
    val triB = orient()
    val triExpected = sortedRows(triB)
    val (tb, ts) = joins(triB, "[v#")
    assert(tb >= 1 && ts === 0,
      "default threshold must broadcast the degree table")
    spark.conf.set("graft.triangles.broadcastMaxNodes", "0")
    try {
      val triP = orient()
      assert(sortedRows(triP) === triExpected,
        "both degree-join strategies must orient identically")
      val (tb2, ts2) = joins(triP, "[v#")
      assert(tb2 === 0 && ts2 >= 1,
        "zero threshold must flip the degree join to shuffle-hash")
    } finally spark.conf.unset("graft.triangles.broadcastMaxNodes")
  }

  test("manifest byte stats flip a pruned fact scan from SMJ to broadcast") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files
      .createTempDirectory("graft-stats-bhj").toString
    // fact: 100k rows in 64 range parts (~1.5 KB each on disk); the
    // full table (~1 MB) is over the test threshold, one part is under
    (0L until 100000L).map(i => (i, s"v$i")).toDF("k", "s")
      .repartitionByRange(64, col("k"))
      .write.format("graft.sources.ManifestSource")
      .option("path", s"$dir/fact")
      .mode("overwrite").save()
    // dim: big enough that IT never broadcasts at the test threshold
    (0L until 100000L).map(i => (i, i % 7)).toDF("k", "grp")
      .write.parquet(s"$dir/dim")
    val dim = spark.read.parquet(s"$dir/dim")
    def fact = spark.read.format("graft.sources.ManifestSource")
      .option("path", s"$dir/fact").load()
    val savedThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "65536")
    // static planning only: the flip must come from the MANIFEST's
    // estimateStatistics, not from AQE's runtime sizes
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val unpruned = fact.join(dim, "k")
        .queryExecution.executedPlan.toString
      assert(!unpruned.contains("BroadcastHashJoin"),
        "the full fact table is over the threshold:\n" + unpruned.take(800))
      val pruned = fact.filter(col("k") >= 1000 && col("k") < 2000)
        .join(dim, "k")
      val plan = pruned.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        "a key predicate pruning to one ~1.5KB part must broadcast " +
          "purely from manifest byte stats:\n" + plan.take(800))
      assert(pruned.count() === 1000, "the broadcast plan is still exact")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", savedAqe)
    }
  }

  test("ANALYZE-collected NDV stats flip a 3-table join order " +
    "(CostBasedJoinReorder, AQE off)") {
    import org.apache.spark.sql.functions._
    val wh = java.nio.file.Files
      .createTempDirectory("graft-cbo-reorder").toString
    spark.conf.set("spark.sql.catalog.gcbo", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcbo.warehouse", wh)
    spark.sql("CREATE TABLE gcbo.ns.fact (k BIGINT, d1 BIGINT, d2 BIGINT)")
    spark.sql("CREATE TABLE gcbo.ns.dima (a BIGINT, an STRING)")
    spark.sql("CREATE TABLE gcbo.ns.dimb (b BIGINT, bn STRING)")
    // d1: HIGH ndv (10k) — joining dima first yields ~5k rows;
    // d2: LOW ndv (10)  — joining dimb first yields 50k rows.
    // Both dims have the SAME row count, so rowCount/size stats alone
    // cannot rank the two orders — only the join keys' NDV can.
    spark.range(50000).select(col("id").as("k"),
      (col("id") % 10000).as("d1"), (col("id") % 10).as("d2"))
      .createOrReplaceTempView("gcbo_f")
    spark.range(1000).select(col("id").as("a"),
      concat(lit("a"), col("id")).as("an")).createOrReplaceTempView("gcbo_a")
    spark.range(1000).select(col("id").as("b"),
      concat(lit("b"), col("id")).as("bn")).createOrReplaceTempView("gcbo_b")
    spark.sql("INSERT INTO gcbo.ns.fact SELECT * FROM gcbo_f")
    spark.sql("INSERT INTO gcbo.ns.dima SELECT * FROM gcbo_a")
    spark.sql("INSERT INTO gcbo.ns.dimb SELECT * FROM gcbo_b")
    // written SELECTIVE-FIRST (the correct order): without column
    // stats the DP's costs tie and its tie-break swaps to fanout-first
    val q = "SELECT count(*) FROM gcbo.ns.fact f " +
      "JOIN gcbo.ns.dima ON f.d1 = a JOIN gcbo.ns.dimb ON f.d2 = b"
    def leaves(): Seq[String] = spark.sql(q).queryExecution.optimizedPlan
      .collect {
        case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r.relation.table.name()
      }
    val saved = Seq("spark.sql.cbo.enabled",
      "spark.sql.cbo.joinReorder.enabled", "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.get(k))
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      assert(leaves() === Seq("ns.fact", "ns.dimb", "ns.dima"),
        "without NDV the DP cannot rank the orders; its tie-break " +
          "swaps to fanout-first — the wrong order this test exists " +
          "to correct")
      Seq("fact", "dima", "dimb").foreach(t =>
        spark.sql(s"CALL gcbo.system.analyze(table => 'ns.$t')"))
      assert(leaves() === Seq("ns.fact", "ns.dima", "ns.dimb"),
        "ANALYZE'd NDV + min/max must rank the selective join " +
          "(~5k rows) above the fanout join (50k rows) and flip the " +
          "order back")
      // the stats actually flowed: the fact scan's attributeStats
      // carry the collected distinct counts
      val attrs = spark.sql("SELECT * FROM gcbo.ns.fact")
        .queryExecution.optimizedPlan.stats.attributeStats
        .map { case (a, s) => a.name -> s.distinctCount.get.toLong }
      assert(attrs.get("d2").exists(d => d >= 8 && d <= 12),
        s"d2 ndv ~10 expected, got $attrs")
      assert(attrs.get("d1").exists(_ >= 5000L),
        s"d1 ndv ~10k expected, got $attrs")
      assert(spark.sql(q).head.getLong(0) === 5000L,
        "the reordered plan is still exact")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("ANALYZE equi-depth histograms: a skewed range predicate flips " +
    "the join to broadcast where the NDV-only uniform estimate cannot") {
    import org.apache.spark.sql.functions._
    val wh = java.nio.file.Files
      .createTempDirectory("graft-cbo-hist").toString
    spark.conf.set("spark.sql.catalog.ghist", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.ghist.warehouse", wh)
    spark.sql("CREATE TABLE ghist.ns.hfact (k BIGINT, s BIGINT)")
    spark.sql("CREATE TABLE ghist.ns.hdim (j BIGINT, jn STRING)")
    // s is SKEWED: 49k rows sit on the hot value 5; 1k rows spread
    // uniformly over (5, 1005]. min/max/NDV see [5, 1005] × ndv~1001,
    // so the uniform model estimates `s > 5` at ~100% of the table;
    // the equi-depth histogram sees ~15/16 bins pinned at lo=hi=5 and
    // estimates ~1/16 — the 16× gap this test converts into a plan.
    spark.range(50000).select(col("id").as("k"),
      when(col("id") < 49000, lit(5L)).otherwise(col("id") - 48994)
        .as("s"))
      // hash layout: every part spans the full s range, so SCAN-side
      // part pruning can do nothing — isolating the CBO estimate
      .repartition(4, col("k"))
      .createOrReplaceTempView("ghist_f")
    spark.range(50000).select(col("id").as("j"),
      concat(lit("name-"), col("id")).as("jn"))
      .createOrReplaceTempView("ghist_d")
    spark.sql("INSERT INTO ghist.ns.hfact SELECT * FROM ghist_f")
    spark.sql("INSERT INTO ghist.ns.hdim SELECT * FROM ghist_d")
    val q = "SELECT count(*) FROM ghist.ns.hfact f " +
      "JOIN ghist.ns.hdim d ON f.k = d.j WHERE f.s > 5"
    def broadcasts(): Int = spark.sql(q).queryExecution.executedPlan
      .collect { case b: org.apache.spark.sql.execution.joins
        .BroadcastHashJoinExec => b }.length
    def filterEstimate(): Option[BigInt] = spark.sql(q).queryExecution
      .optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.stats.rowCount
      }.flatten.headOption
    val saved = Seq("spark.sql.cbo.enabled", "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.get(k))
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "300000")
    try {
      // NDV + min/max alone (plain ANALYZE): uniform range says the
      // filter keeps ~everything → both sides exceed the threshold
      spark.sql("CALL ghist.system.analyze(table => 'ns.hfact')")
      spark.sql("CALL ghist.system.analyze(table => 'ns.hdim')")
      val estBefore = filterEstimate()
      assert(estBefore.exists(_ > BigInt(40000)),
        s"uniform estimate should keep ~all 50k rows, got $estBefore")
      assert(broadcasts() === 0,
        "over-estimated filter output must stay sort-merge")
      spark.sql(
        "CALL ghist.system.analyze(table => 'ns.hfact', histograms => true)")
      val estAfter = filterEstimate()
      assert(estAfter.exists(e => e > BigInt(0) && e < BigInt(10000)),
        s"histogram estimate should see the skew (~1k true), got $estAfter")
      assert(broadcasts() === 1,
        "histogram-sized filter output must flip the join to broadcast")
      assert(spark.sql(q).head.getLong(0) === 1000L,
        "the flipped plan is still exact")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
