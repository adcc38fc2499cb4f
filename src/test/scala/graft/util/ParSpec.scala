package graft.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r20 parallelism-repair helpers: fanOut must be a NO-OP on
  * inputs that already carry at least default parallelism (the 100 TB
  * case — adding an exchange there would be a regression), and
  * sortedFanOut must produce exactly orderBy's global order while
  * pinning an explicit partition count AQE cannot coalesce. */
class ParSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("par-spec").getOrCreate()

  test("fanOut widens a narrow input to default parallelism") {
    import spark.implicits._
    val narrow = (0L until 1000L).toDF("id").coalesce(1)
    assert(narrow.rdd.getNumPartitions === 1)
    val fanned = Par.fanOut(narrow)
    assert(fanned.rdd.getNumPartitions ===
      spark.sparkContext.defaultParallelism)
    // row multiset unchanged
    assert(fanned.agg(count(lit(1)), sum($"id")).head ===
      narrow.agg(count(lit(1)), sum($"id")).head)
  }

  test("fanOut is a NO-OP when the input is already wide enough") {
    import spark.implicits._
    val p = spark.sparkContext.defaultParallelism
    val wide = (0L until 1000L).toDF("id").repartition(p + 3)
    val out = Par.fanOut(wide)
    // same dataframe back: no exchange added above existing width
    assert(out eq wide)
  }

  test("fanOut's partition probe runs NO job on a scan-stage input") {
    // Par.fanOut reads df.rdd.getNumPartitions to decide no-op vs
    // repartition. The helper's contract (Par.scala scaladoc) is that
    // on a scan-stage dataframe this builds the RDD WITHOUT running a
    // job — ~25 query bodies call it, so a silent Catalyst change
    // that made the probe execute would add a hidden job per call
    // site (r20 VERDICT "what's wrong" #2; pinned structurally here).
    val tmp = java.nio.file.Files.createTempDirectory("par-probe-").toString
    import spark.implicits._
    (0L until 1000L).toDF("id").coalesce(1).write
      .mode("overwrite").parquet(tmp)
    val scanStage = spark.read.parquet(tmp)
      .select(col("id"), (col("id") * 2).as("id2")) // narrow projection
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      Par.fanOut(scanStage) // probe only — nothing executed
      // listener events are posted asynchronously: drain the bus so a
      // late JobStart is counted, then a control action below proves
      // the listener itself works
      org.apache.spark.graftbridge.TestBus.waitUntilEmpty(spark.sparkContext)
      assert(jobs.get() === 0,
        s"fanOut's partition probe ran ${jobs.get()} job(s) on a " +
          "scan-stage input — the free-probe contract is broken")
      // control: the listener DOES see jobs (no vacuous pass)
      scanStage.write.format("noop").mode("overwrite").save()
      org.apache.spark.graftbridge.TestBus.waitUntilEmpty(spark.sparkContext)
      assert(jobs.get() > 0, "listener control failed to observe a job")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("sortedFanOut equals orderBy's global order and pins the count") {
    import spark.implicits._
    val df = (0L until 5000L).map(i => (i * 2654435761L % 4096, i))
      .toDF("k", "id").coalesce(1)
    val sorted = Par.sortedFanOut(df, col("k"), col("id"))
    assert(sorted.rdd.getNumPartitions >=
      spark.sparkContext.defaultParallelism)
    val got = sorted.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = df.orderBy(col("k"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === want)
  }
}
