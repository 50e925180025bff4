package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (never stopped — the forked
  * test JVM exits). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // static conf: needed by the bucketed-table specs
    .config("spark.sql.warehouse.dir",
      new java.io.File("target/test-warehouse").getAbsolutePath)
    .getOrCreate()

  /** Run `body` with the given runtime conf set on the shared session,
    * restoring each key's previous explicit value (or unsetting it)
    * afterwards. */
  def withConf[A](settings: (String, String)*)(body: => A): A =
    SessionConf.withValues(spark, settings: _*)(body)

  /** Run `body` with streaming state on the RocksDB state-store provider
    * (the provider SCALE.md recommends for large keyspaces). */
  def withRocksDb[A](body: => A): A =
    withConf("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)

  /** Run `body` with the stateful-chain correctness check disabled, as the
    * multi-stateful compositions (`processStateGlobal`,
    * `nearDupKeptStreamStateful`) require. */
  def withChainCheckOff[A](body: => A): A =
    withConf("spark.sql.streaming.statefulOperator.checkCorrectness.enabled" -> "false")(body)
}
