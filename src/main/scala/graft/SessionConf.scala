package graft

import org.apache.spark.sql.SparkSession

private[graft] object SessionConf {

  /** Run `body` with the session conf `key` set to `value`, then restore
    * the previous value (or unset the key if it had none). */
  def withValue[A](spark: SparkSession, key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
