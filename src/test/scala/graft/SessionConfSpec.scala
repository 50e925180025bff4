package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SessionConf.withValue(s)` leaves the session's explicit settings as it
  * found them: a key it set is unset again, not pinned to its default. */
class SessionConfSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  private val key = "spark.sql.legacy.parquet.nanosAsLong"
  private val other = "spark.sql.constraintPropagation.enabled"

  test("an unset registered key is unset again afterwards") {
    spark.conf.unset(key)
    spark.conf.unset(other)
    SessionConf.withValues(spark, key -> "true", other -> "false") {
      assert(spark.conf.get(key) == "true" && spark.conf.get(other) == "false")
    }
    val explicit = spark.conf.getAll
    assert(!explicit.contains(key), s"$key left set to ${explicit.get(key)}")
    assert(!explicit.contains(other), s"$other left set to ${explicit.get(other)}")
    assert(spark.conf.get(key) == "false") // the default again
  }

  test("an explicit value comes back, also when the body throws") {
    spark.conf.set(key, "false")
    try {
      intercept[IllegalStateException](SessionConf.withValue(spark, key, "true") {
        assert(spark.conf.get(key) == "true")
        throw new IllegalStateException("body failed")
      })
      assert(spark.conf.getAll.get(key).contains("false"))
    } finally spark.conf.unset(key)
  }

  test("TestSpark.withConf restores the same way") {
    spark.conf.unset(key)
    TestSpark.withConf(key -> "true")(assert(spark.conf.get(key) == "true"))
    assert(!spark.conf.getAll.contains(key), s"$key left set to ${spark.conf.getAll.get(key)}")
  }
}
