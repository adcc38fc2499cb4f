package graft

import org.apache.spark.sql.functions._

/** Integer-PageRank invariants: fixed-point mass accounting, the base
  * floor, and bit-identical results under different partitioning (the
  * property the integer grid buys — a floating-point PageRank fails
  * this test). */
class GraphOpsSpec extends SparkSpec {

  private lazy val ranks =
    SparkEntry.queries("q_pagerank")(spark, Sf0001).collect()

  test("every rank carries the base mass floor") {
    assert(ranks.nonEmpty)
    // next(v) = 150000 + a non-negative integer sum
    ranks.foreach(r => assert(r.getLong(1) >= 150000L,
      s"node ${r.getLong(0)} below base"))
  }

  test("floor division only sheds mass: no rank exceeds total mass") {
    // Σ r_0 = N·10⁶ and each round redistributes ≤ 85% of the total
    // plus the base, so no single rank can exceed the graph's initial
    // mass — a structural bound independent of topology.
    val top = ranks.map(_.getLong(1)).max
    val nodes = graft.model.Tables.supplier(spark, Sf0001).count() +
      graft.model.Tables.customer(spark, Sf0001).count()
    assert(top <= nodes * 1000000L, s"top=$top nodes=$nodes")
  }

  test("plan: rank vector broadcasts; the edge side never re-shuffles") {
    val plan = SparkEntry.queries("q_pagerank")(spark, Sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "each iteration must broadcast the node-rank vector")
    assert(!plan.contains("SortMergeJoin"),
      "the materialized edges must not sort-merge against the rank vector")
  }

  test("ranking is deterministic and ordered (desc rank, asc node)") {
    val pairs = ranks.map(r => (r.getLong(1), r.getLong(0)))
    val sorted = pairs.sortBy { case (pr, node) => (-pr, node) }.toSeq
    assert(pairs.toSeq === sorted, "output must be (pr DESC, node ASC)")
    val again = SparkEntry.queries("q_pagerank")(spark, Sf0001)
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSeq
    assert(again === pairs.toSeq, "re-run must be bit-identical")
  }

  test("reliable-checkpoint mode produces bit-identical fixed points") {
    // graft.checkpoint.dir flips Pin.pin from localCheckpoint to a
    // reliable checkpoint(dir) — the cluster-fault-tolerance option
    // for iterative loops. Results must be IDENTICAL in both modes
    // (the pin is a materialization strategy, never a semantics knob).
    def results(): Seq[Seq[Seq[Any]]] =
      Seq("q_pagerank", "q_dup_components", "q_semdedup", "q_bm25_idx",
        "q_assoc_rules").map(n =>
        SparkEntry.queries(n)(spark, Sf0001)
          .collect().map(_.toSeq).toSeq)
    val local = results()
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ckpt-").toString
    spark.conf.set("graft.checkpoint.dir", dir)
    try {
      val reliable = results()
      assert(reliable === local,
        "checkpoint(dir) mode must not change any fixed point")
      // the reliable mode actually wrote checkpoint data
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      val n = try wrote.count() finally wrote.close()
      assert(n > 1, "reliable mode must materialize into the configured dir")
    } finally spark.conf.unset("graft.checkpoint.dir")
  }
}
