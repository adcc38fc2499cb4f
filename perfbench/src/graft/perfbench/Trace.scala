package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the benchmark: an operation (layer "op") or a
  * call into one layer of the program made inside an operation. */
final class Span(val id: Int, val parent: Int, val op: Int,
    val layer: String, val name: String, val startNs: Long) {
  var endNs: Long = startNs
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Counters attributed to one span by the traced run. */
final class SpanCounters {
  val c: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, v: Double): Unit = c(k) = c.getOrElse(k, 0.0) + v
  val jobIntervalsMs: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
}

/** Span recorder. Spans are always recorded (they time the operations
  * the end-to-end metrics come from); listeners are registered only
  * while `traced` is on, so an untraced phase runs with none at all.
  *
  * Attribution in the traced phase: every span sets a job group named
  * after itself plus a span-id local property. Spark copies local
  * properties into threads it starts (broadcast exchanges, streaming
  * micro-batch threads), so a job's properties name the span that
  * caused it even when a streaming query replaces the job group with
  * its own. Task metrics follow the job's stages to that span. Planning
  * phases (QueryExecutionListener) and streaming progress events are
  * attributed by draining the listener bus at each span end: all events
  * of the span's synchronous actions are then delivered, and arrive
  * before the span is closed. */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val nanoBase = System.nanoTime()
  private val msBase = System.currentTimeMillis()
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Span] = Nil
  private var nextOp = 0
  private var currentOp = -1
  private val counters: mutable.Map[Int, SpanCounters] = mutable.HashMap.empty
  private var listening = false

  private def wallMs(ns: Long): Double = msBase + (ns - nanoBase) / 1e6

  /** Runs `body` as one operation; returns (seconds, error if any). */
  def op(name: String)(body: => Unit): (Double, Option[Throwable]) = {
    nextOp += 1
    currentOp = nextOp
    var err: Option[Throwable] = None
    val idx = spans.size
    span("op", name) {
      try body catch { case e: Throwable => err = Some(e) }
    }
    currentOp = -1
    (spans(idx).seconds, err)
  }

  /** Times `body` as a child of the innermost open span. */
  def span[T](layer: String, name: String)(body: => T): T = {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = new Span(spans.size, parent, currentOp, layer, name, System.nanoTime())
    spans += s
    stack = s :: stack
    if (listening) enter(s)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      if (listening) {
        // the drain is tracing cost: record it as a sibling span so it
        // is not counted as the parent's own time
        val d = new Span(spans.size, parent, currentOp, "trace", "drain", System.nanoTime())
        Bus.drain(sc)
        d.endNs = System.nanoTime()
        spans += d
        leave(s)
      }
    }
  }

  // ---- traced phase -------------------------------------------------

  private val SpanProp = "perfbench.span"
  private val jobSpan = mutable.HashMap.empty[Int, Int]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val jobStartMs = mutable.HashMap.empty[Int, Long]
  private val seenProgress = mutable.HashSet.empty[(String, Long)]
  private val pendingQe = mutable.ArrayBuffer.empty[QueryExecution]
  private val pendingProgress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  private def enter(s: Span): Unit = {
    sc.setJobGroup(s"perfbench-${s.id}", s"${s.layer}:${s.name}")
    sc.setLocalProperty(SpanProp, s.id.toString)
  }

  private def leave(s: Span): Unit = {
    val cs = countersOf(s.id)
    pendingQe.synchronized {
      pendingQe.foreach(qe => planCounters(qe, cs))
      pendingQe.clear()
      pendingProgress.foreach(e => progressCounters(e, cs))
      pendingProgress.clear()
    }
    stack.headOption match {
      case Some(p) => enter(p)
      case None =>
        sc.clearJobGroup()
        sc.setLocalProperty(SpanProp, null)
    }
  }

  /** Analysis time of the frame a query function returned: it ran
    * inside the function call, under span `spanId`. */
  def addAnalysis(spanId: Int, qe: QueryExecution): Unit =
    planCounters(qe, countersOf(spanId), analysisOnly = true)

  private def countersOf(spanId: Int): SpanCounters =
    counters.synchronized(counters.getOrElseUpdate(spanId, new SpanCounters))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val id = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(-1)
      jobSpan(e.jobId) = id
      jobStartMs(e.jobId) = e.time
      e.stageIds.foreach(st => stageSpan(st) = id)
      countersOf(id).add("spark.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val id = jobSpan.getOrElse(e.jobId, -1)
      jobStartMs.remove(e.jobId).foreach(t0 => countersOf(id).jobIntervalsMs += ((t0, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val cs = countersOf(stageSpan.getOrElse(info.stageId, -1))
      cs.add("spark.stages", 1)
      if (info.numTasks == 1)
        for (a <- info.submissionTime; b <- info.completionTime)
          cs.add("spark.one_task_stage_s", (b - a) / 1e3)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val cs = countersOf(stageSpan.getOrElse(e.stageId, -1))
      cs.add("spark.tasks", 1)
      if (e.reason != org.apache.spark.Success) cs.add("spark.failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        cs.add("spark.task_s", m.executorRunTime / 1e3)
        cs.add("spark.task_cpu_s", m.executorCpuTime / 1e9)
        cs.add("spark.gc_s", m.jvmGCTime / 1e3)
        cs.add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        cs.add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
        cs.add("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        cs.add("spark.input_mb", m.inputMetrics.bytesRead / 1e6)
        cs.add("spark.input_rows", m.inputMetrics.recordsRead.toDouble)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      // Streaming queries started in a child session report only to
      // that session's listeners; their progress still crosses the
      // shared bus.
      case p: StreamingQueryListener.QueryProgressEvent => progress(p)
      case _ =>
    }
  }

  private def progress(p: StreamingQueryListener.QueryProgressEvent): Unit =
    pendingQe.synchronized {
      if (seenProgress.add((p.progress.runId.toString, p.progress.batchId)))
        pendingProgress += p
    }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      pendingQe.synchronized(pendingQe += qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      pendingQe.synchronized(pendingQe += qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case e: ShuffleExchangeLike => 1 + e.children.map(exchanges).sum
    case other => other.children.map(exchanges).sum +
      other.subqueries.map(exchanges).sum
  }

  /** Planning-phase times of one executed query. Also used for the
    * frame a query function returns, whose analysis ran inside the
    * function call. */
  private def planCounters(qe: QueryExecution, cs: SpanCounters, analysisOnly: Boolean = false): Unit = {
    val ph = qe.tracker.phases
    def phase(k: String) = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
    cs.add("plans.analysis_s", phase("analysis"))
    if (!analysisOnly) {
      cs.add("plans.optimize_s", phase("optimization"))
      cs.add("plans.physical_s", phase("planning"))
      cs.add("plans.exchanges", scala.util.Try(exchanges(qe.executedPlan)).getOrElse(0).toDouble)
    }
    cs.add("plans.graft_rules_s", qe.tracker.rules.collect {
      case (rule, s) if rule.startsWith("graft.") => s.totalTimeNs / 1e9
    }.sum)
  }

  private def progressCounters(e: StreamingQueryListener.QueryProgressEvent, cs: SpanCounters): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala
    def ms(k: String) = d.get(k).map(_.longValue / 1e3).getOrElse(0.0)
    cs.add("streaming.batches", 1)
    cs.add("streaming.trigger_s", ms("triggerExecution"))
    cs.add("streaming.add_batch_s", ms("addBatch"))
    cs.add("streaming.wal_commit_s", ms("walCommit") + ms("commitOffsets"))
    p.stateOperators.foreach { so =>
      cs.add("streaming.state_commit_s", so.commitTimeMs / 1e3)
      cs.add("streaming.state_rows_sum", so.numRowsTotal.toDouble)
      cs.add("streaming.state_mb_sum", so.memoryUsedBytes / 1e6)
    }
  }

  /** Turns the listeners on or off; the untraced phase runs with none. */
  def setListening(on: Boolean): Unit = if (on != listening) {
    if (on) {
      sc.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
      spark.streams.addListener(streamListener)
    } else {
      Bus.drain(sc)
      sc.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
      spark.streams.removeListener(streamListener)
      sc.clearJobGroup()
      sc.setLocalProperty(SpanProp, null)
    }
    listening = on
  }

  def isListening: Boolean = listening

  def spansJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
      "name" -> s.name, "start_ms" -> wallMs(s.startNs), "end_ms" -> wallMs(s.endNs),
      "counters" -> counters.get(s.id).map(_.c.toMap).getOrElse(Map.empty),
      "jobs_ms" -> counters.get(s.id).map(_.jobIntervalsMs.toSeq.map(t => Seq(t._1, t._2)))
        .getOrElse(Nil))
  }
}
