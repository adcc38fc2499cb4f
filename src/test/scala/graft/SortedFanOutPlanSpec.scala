package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{SqlOps4, VisionOps, SimOps}

/** Structural pin for the sortedFanOut order contract (r20 VERDICT
  * "what's wrong" #3, fixed r21): the queries that dropped their
  * explicit trailing `orderBy` rely on (a) the plan holding exactly
  * ONE shuffle, the sort's own RANGE exchange, and (b) every
  * heavy-projection operator sitting ABOVE the Sort — narrow
  * projections preserve the range-partitioned in-partition order, so
  * the global order is orderBy's. If a future Catalyst change re-adds
  * an exchange above the Sort, pushes the heavy projection below it,
  * or splits the sort, this spec trips BEFORE the driver's hash gate
  * does. (ParSpec pins the helper's row-level semantics; this pins
  * the declared queries' physical shape.)
  */
class SortedFanOutPlanSpec extends AnyFunSuite {

  private val Sf0001 = "/root/testdata/sf0.001"

  private lazy val spark = org.apache.spark.sql.SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .appName("sorted-fanout-plan-spec").getOrCreate()

  /** The final physical plan of `df` as actually executed: the query
    * runs into the `noop` sink, a listener captures that execution,
    * and adaptive wrappers and query stages are unwrapped — so
    * exchanges AQE inserts at runtime are visible. */
  private def finalNodes(df: DataFrame): Seq[SparkPlan] = {
    var captured: Option[QueryExecution] = None
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        captured = Some(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      df.write.format("noop").mode("overwrite").save()
      org.apache.spark.graftbridge.TestBus.waitUntilEmpty(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    nodes(captured.getOrElse(sys.error("no execution captured")).executedPlan)
  }

  /** Every node of `plan`, unwrapping adaptive plans and query stages. */
  private def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case p => p +: p.children.flatMap(nodes)
  }

  /** Assert the sortedFanOut shape on a query's final plan: one range
    * exchange, one Sort, and the heavy expression `heavyMarker` (by
    * its pretty name) evaluated in a node ABOVE the Sort and in no
    * node of the Sort's subtree — i.e. above the established order,
    * never below it. */
  private def pinShape(df: DataFrame, heavyMarker: String): Unit = {
    val all = finalNodes(df)
    val plan = all.head
    val exchanges = all.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size === 1,
      s"expected exactly one exchange in the final plan:\n$plan")
    assert(exchanges.head.outputPartitioning.isInstanceOf[RangePartitioning],
      s"the single exchange must be the sort's range partitioning:\n$plan")
    val sorts = all.collect { case s: SortExec => s }
    assert(sorts.size === 1, s"expected exactly one Sort:\n$plan")
    def heavy(n: SparkPlan): Boolean =
      n.expressions.exists(_.exists(_.prettyName == heavyMarker))
    val below = nodes(sorts.head)
    assert(!below.exists(heavy),
      s"heavy projection '$heavyMarker' leaked BELOW the Sort — the " +
        s"per-row work would run in the pre-shuffle stage:\n${sorts.head}")
    assert(all.exists(n => heavy(n) && nodes(n).exists(_ eq sorts.head)),
      s"heavy marker '$heavyMarker' not evaluated above the Sort:\n$plan")
  }

  private def q(all: Seq[graft.queries.QueryDef], name: String): DataFrame =
    all.find(_.name == name).get.fn(spark, Sf0001)

  test("q_xml_funcs: from_xml battery above the single range-sort") {
    pinShape(q(SqlOps4.all, "q_xml_funcs"), "from_xml")
  }

  test("q_multimodal_decode: PNG decode chain above the single range-sort") {
    pinShape(q(SimOps.all, "q_multimodal_decode"), "pngdecodestats")
  }

  test("q_roi_paint: ROI kernel above the single range-sort") {
    pinShape(q(VisionOps.all, "q_roi_paint"), "pngroistats")
  }
}
