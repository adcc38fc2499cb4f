package graft

import org.apache.spark.ml.regression.LinearRegression
import org.apache.spark.sql.functions._

import graft.ml.Scoring

/** Model-scoring head properties (the reference's test_predict /
  * test_estimate_queue analogs, test/estimate_queue_test.py:55-65,
  * :117-133 — key-set, type, and range assertions on scored output). */
class MlSpec extends SparkSpec {

  test("regression head recovers the exact linear x-pos target") {
    val train = Scoring.trainingFrame(spark, Sf0001)
    val model = new LinearRegression()
      .setFeaturesCol("features").setLabelCol("t_xpos")
      .setSolver("normal").setRegParam(0.0)
      .fit(train)
    val maxErr = model.transform(train)
      .select(max(abs(col("prediction") - col("t_xpos"))).as("e"))
      .head.getDouble(0)
    assert(maxErr < 1e-6, s"normal-equation fit should be exact, maxErr=$maxErr")
  }

  test("scoreAndEstimate output: one row per vector, all invariants hold") {
    val out = Scoring.scoreAndEstimate(spark, Sf0001).collect()
    assert(out.length > 0)
    assert(out.map(_.getLong(0)).distinct.length === out.length)
    for (r <- out) {
      val xPos = r.getDouble(r.fieldIndex("x_pos"))
      val lanes = r.getDouble(r.fieldIndex("lanes"))
      val full = r.getDouble(r.fieldIndex("queue_full"))
      val meters = r.getDouble(r.fieldIndex("meters"))
      val cars = r.getDouble(r.fieldIndex("cars"))
      val eqt = r.getDouble(r.fieldIndex("expected_queue_time"))
      assert(xPos >= 0.0)                          // E1 clamp
      assert(lanes === 1.0 || lanes === 2.0)       // E2/E3 domain
      assert(full >= 0.0 && full <= 1.0)           // E3 (probability)
      assert(meters >= 0.0)
      assert(eqt === cars / 74.0)                  // E9 exact
      if (xPos <= 300.0) assert(meters === 0.0)    // E7
    }
  }

  test("q_model_score leaves no model temp directory behind") {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def modelDirs(): Int = {
      val ls = java.nio.file.Files.list(tmp)
      try ls.filter(_.getFileName.toString.startsWith(Scoring.ModelDirPrefix))
        .count().toInt
      finally ls.close()
    }
    val before = modelDirs()
    SparkEntry.queries("q_model_score")(spark, Sf0001).collect()
    assert(modelDirs() === before)
  }

  test("classification heads emit binary lanes decisions") {
    val q = SparkEntry.queries("q_model_score")
    val lanes = q(spark, Sf0001).select(col("lanes")).distinct()
      .collect().map(_.getDouble(0)).toSet
    assert(lanes.subsetOf(Set(1.0, 2.0)))
  }
}
