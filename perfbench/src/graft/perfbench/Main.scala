package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.SparkEntry
import graft.queries.Pipeline

/** Benchmark harness: one workload, one closed-loop client.
  *
  *   Main --workload W --in DIR --work DIR --out FILE --seconds S
  *        --trace 0|1 --setups N
  *
  * Phases, in order:
  *  1. set-up, repeated `--setups` times from a fresh session and a
  *     fresh warehouse each time (the last session is kept);
  *  2. check pass, untimed: every query once with its output kept for
  *     the checks (queue_ingest: one warm-up maintenance cycle);
  *  3. timed phase: whole passes (maintenance cycles for queue_ingest)
  *     until `--seconds` have elapsed. With `--trace 1` passes alternate
  *     untraced / traced, listeners registered only for the traced ones;
  *  4. final checks, untimed.
  * Raw timings, spans and counters go to `--out` as JSON. */
object Main {

  final case class Args(workload: String, in: String, work: String, out: String,
      seconds: Double, trace: Boolean, setups: Int)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("in"), m("work"), m("out"), m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m.getOrElse("setups", "3").toInt)
  }

  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** The session config of graft.Bench, plus per-run directories. */
  def session(wh: String, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.catalog.bench", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.bench.warehouse", s"$wh/graft")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w: Workload = a.workload match {
      case "queue_ingest" => new QueueIngest(a)
      case "corpus_curate" => new Mix(a, Mix.corpus)
    }
    val result = mutable.LinkedHashMap[String, Any]("workload" -> a.workload, "cores" -> cores)

    // 1. set-up
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 1 to a.setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(s"${a.work}/wh$i", a.work)
      w.setup(spark, s"${a.work}/wh$i")
      setupS += (System.nanoTime() - t0) / 1e9
    }
    result("setup_s") = setupS.toSeq
    val tracer = new Tracer(spark)

    // 2. check pass
    val c0 = System.nanoTime()
    result("check") = w.checkPass(spark)
    result("check_s") = (System.nanoTime() - c0) / 1e9

    // 3. timed phase
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    var pass = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    var tracedPasses, plainPasses = 0
    def more = elapsed < a.seconds || (a.trace && (tracedPasses == 0 || tracedPasses < plainPasses))
    // at least one pass, then whole passes until `--seconds` have elapsed
    while (w.hasInput && (pass == 0 || more)) {
      val traced = a.trace && pass % 2 == 1
      tracer.setListening(traced)
      w.pass(spark, tracer, pass).foreach { case (name, secs, err) =>
        ops += Map("name" -> name, "pass" -> pass, "traced" -> traced, "s" -> secs,
          "ok" -> err.isEmpty, "err" -> err.map(e => s"${e.getClass.getName}: ${e.getMessage}".take(500)))
      }
      if (traced) tracedPasses += 1 else plainPasses += 1
      pass += 1
    }
    tracer.setListening(false)
    result("timed_s") = elapsed
    result("passes") = pass
    result("ops") = ops.toSeq
    result("persisted_mb") = spark.sparkContext.getRDDStorageInfo
      .map(r => (r.memSize + r.diskSize) / 1e6).sum

    // 4. final checks
    val f0 = System.nanoTime()
    result("final") = w.finalChecks(spark)
    result("final_s") = (System.nanoTime() - f0) / 1e9
    result("extra") = w.extra
    result("rss_hwm_mb") = rssHwmMb()
    if (a.trace) result("spans") = tracer.spansJson
    spark.stop()
    Files.writeString(Paths.get(a.out), Serialization.write(result.toMap)(DefaultFormats))
  }

  /** Order-independent hash of a result's rows. */
  def rowsHash(rows: Array[org.apache.spark.sql.Row]): Int =
    scala.util.hashing.MurmurHash3.orderedHash(rows.map(_.toString).sorted.toSeq)

  /** Peak resident set size of this process (VmHWM). */
  def rssHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** One benchmark workload driven by a single closed-loop client. */
trait Workload {
  def setup(spark: SparkSession, wh: String): Unit
  def checkPass(spark: SparkSession): Any
  /** One pass: (operation name, seconds, error) per operation. */
  def pass(spark: SparkSession, tracer: Tracer, n: Int): Seq[(String, Double, Option[Throwable])]
  def finalChecks(spark: SparkSession): Any
  def extra: Any = Map.empty
  /** False once the generated inputs cannot feed another pass. */
  def hasInput: Boolean = true
}

object Mix {
  /** corpus_curate: the LLM-data curation chain in pipeline order, then
    * two Streams replays of the event feed. */
  val corpus: Seq[String] = Seq("q_lang_id", "q_semdedup", "q_knn_join", "q_roi_paint",
    "q_ann_ivf_batch", "q_model_score", "q_stream_dedup", "q_stream_sink_manifest")
}

/** A fixed list of `SparkEntry.queries` functions, run in order as one
  * pass. */
final class Mix(a: Main.Args, names: Seq[String]) extends Workload {
  private val fns = names.map(n => n -> SparkEntry.queries(n))

  def setup(spark: SparkSession, wh: String): Unit = {
    // first scans of every input table
    Files.list(Paths.get(a.in)).toArray.map(_.toString).filter(_.endsWith(".parquet")).sorted
      .foreach { p =>
        val name = Paths.get(p).getFileName.toString.stripSuffix(".parquet")
        Main.noop(if (name == "events") graft.model.Tables.events(spark, a.in)
          else spark.read.parquet(p))
      }
    // cache fills a fresh process pays: the IVF quantizer fit
    if (names.exists(_.startsWith("q_ann_ivf"))) {
      graft.ml.Ann.quantizers.clear()
      Main.noop(graft.ml.Ann.ivfTopK(spark, a.in))
    }
  }

  private val checkHash = mutable.Map.empty[String, Int]

  /** One call of a query function and one execution of its frame. Frames
    * with an oracle execute into the noop sink (into parquet in the check
    * pass, for the DuckDB compare after the run). Frames without one are
    * small: they are collected, and every timed result must hash equal
    * to the check pass's. */
  private def run(spark: SparkSession, tracer: Tracer, name: String,
      fn: (SparkSession, String) => DataFrame, check: Boolean): Unit = {
    val buildSpan = tracer.spans.size
    val df = tracer.span("queries.build", name)(fn(spark, a.in))
    if (tracer.isListening) tracer.addAnalysis(buildSpan, df.queryExecution)
    if (SparkEntry.oracleSql.contains(name)) tracer.span("queries.exec", name) {
      if (check) df.write.mode("overwrite").parquet(s"${a.work}/check/$name")
      else Main.noop(df)
    } else {
      val h = Main.rowsHash(tracer.span("queries.exec", name)(df.collect()))
      if (check) checkHash(name) = h
      else if (!checkHash.get(name).contains(h))
        throw new IllegalStateException(s"$name: result differs from the check pass")
    }
  }

  /** Runs every operation once, untimed: oracle outputs are dumped,
    * the others' result hashes kept. */
  def checkPass(spark: SparkSession): Any = {
    val t = new Tracer(spark)
    fns.map { case (name, fn) =>
      val (s, err) = t.op(name)(run(spark, t, name, fn, check = true))
      Map("name" -> name, "s" -> s, "ok" -> err.isEmpty,
        "err" -> err.map(e => s"${e.getClass.getName}: ${e.getMessage}".take(500)),
        "oracle" -> SparkEntry.oracleSql.get(name))
    }
  }

  def pass(spark: SparkSession, tracer: Tracer, n: Int): Seq[(String, Double, Option[Throwable])] =
    fns.map { case (name, fn) =>
      val (s, err) = tracer.op(name)(run(spark, tracer, name, fn, check = false))
      (name, s, err)
    }

  /** Every query with an oracle runs once more after the timed phase,
    * its output dumped for a second DuckDB compare, so that a fault that
    * shows only on a later execution in the same session is caught. */
  def finalChecks(spark: SparkSession): Any =
    fns.filter(f => SparkEntry.oracleSql.contains(f._1)).map { case (name, fn) =>
      val err = scala.util.Try(fn(spark, a.in).write.mode("overwrite")
        .parquet(s"${a.work}/final/$name")).failed.toOption
      Map("name" -> name, "ok" -> err.isEmpty,
        "err" -> err.map(e => s"${e.getClass.getName}: ${e.getMessage}".take(500)))
    }
}

/** queue_ingest: rounds of observations → estimate → MERGE upsert →
  * point read, with compaction and snapshot expiry every `period`-th
  * round (counted in that round). */
final class QueueIngest(a: Main.Args) extends Workload {
  val period = 4
  val table = "bench.db.est"
  private val cols = Seq("station_id", "obs_ts", "x_pos", "lanes", "queue_full",
    "meters", "cars", "expected_queue_time")
  private var whDir: String = _
  /** Per round, the stations to read and the obs_ts each must show:
    * one line per round of `station:obs_ts` pairs. */
  private val lookupPlan: IndexedSeq[Seq[(Long, Long)]] =
    Files.readAllLines(Paths.get(s"${a.in}/lookups.txt")).toArray.toIndexedSeq.map { line =>
      line.toString.split(" ").toSeq.map { p =>
        val Array(station, ts) = p.split(":")
        (station.toLong, ts.toLong)
      }
    }
  private var round = 0
  val lookups: mutable.ArrayBuffer[Map[String, Any]] = mutable.ArrayBuffer.empty
  private val written = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def roundDir(r: Int) = f"${a.in}/rounds/r$r%05d"
  private def tableDir = s"$whDir/graft/db/est"

  def setup(spark: SparkSession, wh: String): Unit = {
    whDir = wh
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS bench.db")
    spark.sql(s"CREATE TABLE $table (station_id BIGINT, obs_ts BIGINT, x_pos DOUBLE, " +
      "lanes DOUBLE, queue_full DOUBLE, meters DOUBLE, cars DOUBLE, expected_queue_time DOUBLE)")
    Pipeline.estimateQueue(spark, s"${a.in}/base").createOrReplaceTempView("bench_base")
    spark.sql(s"INSERT INTO $table SELECT ${cols.mkString(", ")} FROM bench_base")
    spark.sql(s"SELECT obs_ts FROM $table WHERE station_id = 0").collect()
  }

  /** One untimed maintenance cycle: the first MERGEs and maintenance
    * calls of a process are several times slower than later ones. Its
    * lookups are checked like every other. */
  def checkPass(spark: SparkSession): Any = {
    val t = new Tracer(spark)
    (0 until period).map { _ =>
      val (s, err) = t.op("round")(oneRound(spark, t))
      Map("name" -> "round", "s" -> s, "ok" -> err.isEmpty,
        "err" -> err.map(e => s"${e.getClass.getName}: ${e.getMessage}".take(500)))
    }
  }

  private def oneRound(spark: SparkSession, tracer: Tracer): Unit = {
    val r = round
    round += 1
    val src = tracer.span("queries.build", "estimate_queue")(
      Pipeline.estimateQueue(spark, roundDir(r)))
    src.createOrReplaceTempView("bench_src")
    val before = dataFiles()
    tracer.span("sources.merge", "merge") {
      spark.sql(s"""MERGE INTO $table t USING bench_src s ON t.station_id = s.station_id
        WHEN MATCHED AND s.obs_ts > t.obs_ts THEN UPDATE SET
          ${cols.tail.map(c => s"$c = s.$c").mkString(", ")}
        WHEN NOT MATCHED THEN INSERT (${cols.mkString(", ")})
          VALUES (${cols.map(c => s"s.$c").mkString(", ")})""")
    }
    val after = dataFiles()
    val fresh = after.keySet -- before.keySet
    written += Map("round" -> r, "files" -> fresh.size, "bytes" -> fresh.toSeq.map(after).sum)
    lookupPlan(r).foreach { case (station, expect) =>
      val t0 = System.nanoTime()
      val df = spark.sql(s"SELECT obs_ts FROM $table WHERE station_id = $station")
      val got = tracer.span("sources.lookup", "lookup")(df.collect())
      val s = (System.nanoTime() - t0) / 1e9
      val parts = scala.util.Try(partsPlanned(df)).getOrElse(-1L)
      val ok = got.length == 1 && got(0).getLong(0) == expect
      lookups += Map("round" -> r, "s" -> s, "ok" -> ok, "parts" -> parts)
      if (!ok) throw new IllegalStateException(
        s"lookup station $station: got ${got.map(_.get(0)).mkString(",")}, want $expect")
    }
    if ((r + 1) % period == 0) tracer.span("sources.maintain", "maintain") {
      spark.sql(s"CALL bench.system.compact(table => 'db.est', target_parts => ${Main.cores})").collect()
      spark.sql(s"CALL bench.system.expire_snapshots(table => 'db.est', keep_last => 2, " +
        "orphan_grace_ms => 0)").collect()
    }
  }

  /** One maintenance cycle of rounds. */
  def pass(spark: SparkSession, tracer: Tracer, n: Int): Seq[(String, Double, Option[Throwable])] =
    (0 until period).map { _ =>
      val (s, err) = tracer.op("round")(oneRound(spark, tracer))
      ("round", s, err)
    }

  private def partsPlanned(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def nodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      p.collect {
        case ad: AdaptiveSparkPlanExec => nodes(ad.executedPlan)
        case x => Seq(x)
      }.flatten
    nodes(df.queryExecution.executedPlan).collect {
      case b: BatchScanExec => b.metrics.get("partsPlanned").map(_.value).getOrElse(0L)
    }.sum
  }

  /** Data parts are the `part-*` files; everything else in the table
    * directory (manifests, snapshot log, properties) is metadata. */
  private def isData(p: java.nio.file.Path): Boolean =
    p.getFileName.toString.startsWith("part-")

  /** Files (path → bytes) currently in the table directory. */
  private def tableFiles(): Map[java.nio.file.Path, Long] = {
    val root = Paths.get(tableDir)
    if (!Files.exists(root)) Map.empty
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p -> Files.size(p)).toMap
  }

  private def dataFiles(): Map[java.nio.file.Path, Long] = tableFiles().filter(f => isData(f._1))

  /** The final table must equal one estimate over every observation
    * landed (base + consumed rounds), compared as an order-independent
    * hash of the rows. */
  def finalChecks(spark: SparkSession): Any = {
    val union = Paths.get(s"${a.work}/union/events.parquet")
    Files.createDirectories(union)
    (Seq(s"${a.in}/base") ++ (0 until round).map(roundDir)).zipWithIndex.foreach { case (d, i) =>
      Files.createLink(union.resolve(f"part-$i%05d.parquet"), Paths.get(s"$d/events.parquet"))
    }
    def rowsHash(df: DataFrame): (Long, Int) = {
      val rows = df.select(cols.map(org.apache.spark.sql.functions.col): _*).collect()
      (rows.length.toLong, Main.rowsHash(rows))
    }
    val (nT, hT) = rowsHash(spark.table(table))
    val (nE, hE) = rowsHash(Pipeline.estimateQueue(spark, s"${a.work}/union"))
    val version = spark.sql(s"SELECT max(version) FROM $table.history").collect().head.getInt(0)
    val files = spark.sql(s"SELECT count(*), sum(bytes), sum(visible_rows) FROM $table.files")
      .collect().head
    Map("table_rows" -> nT, "expected_rows" -> nE, "hash_ok" -> (nT == nE && hT == hE),
      "rounds" -> round, "head_version" -> version, "live_parts" -> files.getLong(0),
      "live_bytes" -> files.getLong(1), "live_rows" -> files.getLong(2),
      "dir_meta_bytes" -> tableFiles().filterNot(f => isData(f._1)).values.sum)
  }

  override def hasInput: Boolean = round + period <= lookupPlan.size

  override def extra: Any = Map("lookups" -> lookups.toSeq, "written" -> written.toSeq,
    "period" -> period)
}
