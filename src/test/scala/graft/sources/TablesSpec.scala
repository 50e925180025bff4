package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}

/** `Tables` infers a parquet table's schema once per file version: a
  * second read of the same files launches no Spark job, a rewritten file
  * or a changed parquet setting is inferred again. */
class TablesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val MarkerKey = "graft.test.jobs.marker"

  /** The Spark jobs `body` launches, by the call site of their result
    * stage. The listener bus delivers events in order, so once the marker
    * job run after `body` has been seen, every job of `body` has been
    * counted; a marker run before it flushes the events of earlier work. */
  private def jobsIn[A](body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    @volatile var markers = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(MarkerKey) != null)) markers.countDown()
        else jobs.add(e.stageInfos.maxBy(_.stageId).name)
    }
    def marker(): Unit = {
      sc.setLocalProperty(MarkerKey, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(MarkerKey, null)
      assert(markers.await(60, TimeUnit.SECONDS), "the marker job never reached the listener")
    }
    sc.addSparkListener(listener)
    try {
      marker()
      jobs.clear()
      markers = new CountDownLatch(1)
      val out = body
      marker()
      (out, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  private def scratchDir(): String = Files.createTempDirectory("graft_tables").toString

  /** Small Spark-written `events` and `documents` tables in the layout of
    * the query inputs: enough for t1, r8 and l62 to build. */
  private lazy val sf: String = {
    val dir = scratchDir()
    spark.range(200).selectExpr("id AS event_id",
        "timestamp_micros(1700000000000000 + id * 1000000) AS ts", "id % 7 AS user_id",
        "CASE id % 3 WHEN 0 THEN 'click' WHEN 1 THEN 'purchase' ELSE 'view' END AS event_type",
        "CAST(id AS DOUBLE) AS value", "'{}' AS props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    spark.range(30).selectExpr("id AS doc_id",
        "concat('the quick brown fox number ', id % 5, ' jumps over the lazy dog') AS text",
        "'en' AS lang", "'web' AS source", "CAST(50 AS BIGINT) AS n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  /** One parquet file with `df`'s rows at `path`, written by Spark. */
  private def writeSingleFile(df: org.apache.spark.sql.DataFrame, path: String): Unit = {
    val tmp = scratchDir()
    df.coalesce(1).write.mode("overwrite").parquet(s"$tmp/out")
    val part = Files.list(Paths.get(s"$tmp/out")).iterator()
    val file = Iterator.continually(part).takeWhile(_.hasNext).map(_.next())
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(file, Paths.get(path), StandardCopyOption.REPLACE_EXISTING)
  }

  test("a second read of a table or a query build launches no job") {
    val builds = Seq("t1_scan", "r8_asof_join").map(SparkEntry.queries)
    def readAll(): Unit = {
      Tables.documents(spark, sf)
      Tables.events(spark, sf)
      builds.foreach(_(spark, sf))
    }
    readAll()
    val (_, jobs) = jobsIn(readAll())
    assert(jobs.isEmpty, s"jobs on a second read: $jobs")
    // l62 materializes its shingles while it is built (its jobs run from
    // Materialize and from AQE's stage threads); none of them infers a
    // schema, which would run from Tables ("parquet at Tables.scala")
    val l62 = SparkEntry.queries("l62_similarity_join")
    l62(spark, sf)
    val (_, l62Jobs) = jobsIn(l62(spark, sf))
    assert(l62Jobs.exists(_.contains("Materialize.scala")) &&
      !l62Jobs.exists(_.contains("Tables.scala")), s"l62's second build: $l62Jobs")
    // the memoized schema is the inferred one
    assert(Tables.documents(spark, sf).schema ==
      spark.read.parquet(s"$sf/documents.parquet").schema)
  }

  test("a Spark-written directory table is inferred once") {
    val dir = scratchDir()
    spark.range(20).selectExpr("id", "cast(id as string) AS s").repartition(3)
      .write.parquet(s"$dir/multi.parquet")
    val (first, firstJobs) = jobsIn(Tables.table(spark, dir, "multi"))
    val (second, secondJobs) = jobsIn(Tables.table(spark, dir, "multi"))
    assert(firstJobs.nonEmpty && secondJobs.isEmpty, s"jobs: first $firstJobs, second $secondJobs")
    assert(first.schema == second.schema && second.count() == 20)
  }

  test("a rewritten file is read with its new schema") {
    val dir = scratchDir()
    val path = s"$dir/t.parquet"
    writeSingleFile(spark.range(5).toDF("id"), path)
    assert(Tables.table(spark, dir, "t").schema.fieldNames.toSeq == Seq("id"))
    // a new length
    writeSingleFile(spark.range(5).selectExpr("id", "'x' AS tag"), path)
    val rewritten = Tables.table(spark, dir, "t")
    assert(rewritten.schema.fieldNames.toSeq == Seq("id", "tag"))
    assert(rewritten.filter("id = 3").collect().map(_.getString(1)).toSeq == Seq("x"))
    // the same bytes with a new modification time are inferred again
    val p = Paths.get(path)
    Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(
      Files.getLastModifiedTime(p).toMillis - 60000))
    val (_, jobs) = jobsIn(Tables.table(spark, dir, "t"))
    assert(jobs.nonEmpty, "a new modification time hit the old entry")
  }

  test("each nanosAsLong setting has its own entry") {
    // a TIMESTAMP(NANOS) events table, which Spark reads only as a long
    val dir = scratchDir()
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).withConf(new org.apache.hadoop.conf.Configuration()).build()
    val groups = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
    val nanos = Seq(1700000000123456789L, 1700000001000000999L)
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      writer.write(groups.newGroup().append("event_id", i.toLong).append("ts", ns))
    } finally writer.close()

    val (events, firstJobs) = jobsIn(Tables.events(spark, dir))
    val (_, secondJobs) = jobsIn(Tables.events(spark, dir))
    assert(firstJobs.nonEmpty && secondJobs.isEmpty, s"jobs: first $firstJobs, second $secondJobs")
    assert(events.schema("ts").dataType == TimestampType)
    // executed after the setting was restored
    assert(events.orderBy("event_id").selectExpr("unix_micros(ts)").collect().map(_.getLong(0))
      .toSeq == nanos.map(_ / 1000))
    // unset, the same files are inferred again and convert differently
    val plain = scala.util.Try(Tables.table(spark, dir, "events").schema("ts").dataType)
    assert(plain.isFailure || plain.get != LongType, s"unset nanosAsLong hit the set entry: $plain")
    val (nanosAgain, againJobs) = jobsIn(Tables.events(spark, dir))
    assert(againJobs.isEmpty && nanosAgain.schema == events.schema)
  }

  test("concurrent builds agree") {
    val dirs = Seq.fill(4)(scratchDir())
    dirs.foreach(d => spark.range(10).selectExpr("id", "id * 2 AS v").coalesce(1)
      .write.parquet(s"$d/c.parquet"))
    val expected = spark.read.parquet(s"${dirs.head}/c.parquet").schema
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val threads = Seq.fill(2)(new Thread(() =>
      for (_ <- 1 to 5; d <- dirs) {
        seen.add(Tables.table(spark, d, "c").schema.json)
        seen.add(SparkEntry.queries("t1_scan")(spark, sf).schema.json)
      }))
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    val t1 = SparkEntry.queries("t1_scan")(spark, sf).schema.json
    assert(seen.size == 2 * 5 * dirs.size * 2, s"a build thread failed: ${seen.size} results")
    assert(seen.toArray.toSet == Set(expected.json, t1))
  }
}
