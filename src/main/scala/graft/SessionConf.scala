package graft

import org.apache.spark.sql.SparkSession

private[graft] object SessionConf {

  /** Run `body` with the session conf `key` set to `value`, then restore
    * what was there: the previous explicit value, or no setting at all. */
  def withValue[A](spark: SparkSession, key: String, value: String)(body: => A): A =
    withValues(spark, key -> value)(body)

  /** [[withValue]] for several keys. The previous values come from
    * `getAll`, which lists explicit settings only: `getOption` returns a
    * registered key's default, and restoring that would leave the key
    * set where it was unset. */
  def withValues[A](spark: SparkSession, settings: (String, String)*)(body: => A): A = {
    val explicit = spark.conf.getAll
    val prev = settings.map { case (k, _) => k -> explicit.get(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
