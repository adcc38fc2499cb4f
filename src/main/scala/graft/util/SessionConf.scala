package graft.util

import org.apache.spark.sql.SparkSession

/** Session settings scoped to one block: `withConf(spark, k -> v)(body)`
  * sets each key, runs `body`, and then puts back what the session
  * held before — the caller's own value, or no value at all. */
object SessionConf {
  def withConf[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
