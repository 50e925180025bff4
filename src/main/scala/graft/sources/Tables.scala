package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * Canonical loaders for the driver testdata tables (TESTDATA.md).
 *
 * All loads are plain parquet scans so Catalyst pushdown/pruning applies:
 * callers `.select(...)`/`.filter(...)` and the scan reads only what is
 * needed (verify via `.explain`: `ReadSchema`/`PushedFilters`).
 *
 * The `events` table has shipped in two layouts across driver rounds:
 * parquet TIMESTAMP(NANOS) — which the Spark 4 parquet reader rejects
 * ([PARQUET_TYPE_ILLEGAL]), so we read it with
 * `spark.sql.legacy.parquet.nanosAsLong` and convert to a microsecond
 * TimestampType ourselves with exact integer arithmetic (`div 1000`, no
 * double round-trip — ns epochs exceed 2^53) — and plain TIMESTAMP(MICROS)
 * (isAdjustedToUTC=false), which Spark reads natively as TIMESTAMP_NTZ.
 * The loader dispatches on the type the scan actually produced and
 * normalizes both to the same µs TimestampType (sessions run UTC, so the
 * NTZ→LTZ cast is value-preserving); downstream code and the DuckDB
 * oracles (`epoch(ts)` arithmetic) are layout-independent. This mirrors
 * the reference engine's nanosecond `NaiveDateTime` absorbed at µs per
 * SURVEY.md §7.5.2 (reference: /root/reference/src/lib.rs:20-26).
 */
object Tables {

  /** TPC-H-ish dimension/fact tables: plain scans, read with the schema
    * [[schemaOf]] remembers for the table's current files. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    schemaOf(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path) // missing path: Spark's own error
    }
  }

  /** What a parquet schema inference depends on: the table's qualified
    * path, each leaf file's (path, length, modification time), and the
    * session settings that change how parquet types convert. */
  private case class SchemaKey(path: String, files: Seq[(String, Long, Long)],
                               settings: Seq[(String, String)])

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def isParquetSetting(key: String): Boolean =
    key.startsWith("spark.sql.parquet.") || key.startsWith("spark.sql.legacy.parquet.")

  /** Spark's documented parquet settings and the one [[events]] sets.
    * The key holds each one's effective value, so a setting explicitly
    * set to its default and one never set are the same key. */
  private lazy val parquetSettings: Seq[String] =
    (NanosAsLong +: org.apache.spark.sql.internal.SQLConf.get.getAllDefinedConfs
      .map(_._1).filter(isParquetSetting)).distinct

  /** The most recently used inferred schemas, by [[SchemaKey]]. */
  private val schemas = {
    val capacity = 64
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[SchemaKey, StructType](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[SchemaKey, StructType]): Boolean = size() > capacity
      })
  }

  /** The schema Spark infers for the parquet table at `path`, inferred
    * once per file version. Without a schema, `spark.read.parquet` reads
    * the footers in a Spark job (`mergeSchemasInParallel`) on every call,
    * even for one file; with it, building a frame launches no job. The
    * key comes from a file-system listing, so a hit costs no job either.
    * A rewritten file has a new length or modification time and is read
    * again (SCALE.md "The build layer is schema inference"). None when
    * `path` does not exist. */
  private def schemaOf(spark: SparkSession, path: String): Option[StructType] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(p)
    if (!fs.exists(qualified)) None
    else {
      val leaves = fs.listFiles(qualified, true)
      val files = Iterator.continually(leaves).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toVector.sorted
      val settings = (parquetSettings ++ spark.conf.getAll.keys.filter(isParquetSetting(_)))
        .distinct.sorted.map(k => k -> spark.conf.getOption(k).orNull)
      val key = SchemaKey(qualified.toString, files, settings)
      Option(schemas.get(key)).orElse {
        val schema = spark.read.parquet(path).schema
        schemas.put(key, schema)
        Some(schema)
      }
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")

  /** Embeddings with the vector widened to array<double> once, centrally:
    * float→double per element is exact, and doing it at scan time keeps
    * every downstream dot-product fold bit-identical to the DuckDB oracle. */
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "embeddings")
      .withColumn("embedding", col("embedding").cast("array<double>"))

  /** Run `body` with `spark.sql.legacy.parquet.nanosAsLong` set, then
    * restore the previous value — reading the NANOS-stamped events table
    * must not silently change how OTHER TIMESTAMP(NANOS) parquet is read
    * for the rest of the session. Safe to restore immediately after the
    * frame is built: the flag decides the schema the relation is created
    * with (inferred, or the memo entry keyed on the flag), not each
    * action's read — executing the returned frame after the restore
    * works (covered by the smoke run, every events-backed spec and
    * TablesSpec's TIMESTAMP(NANOS) table). */
  private def withNanosAsLong[A](spark: SparkSession)(body: => A): A =
    graft.SessionConf.withValue(spark, NanosAsLong, "true")(body)

  /** Normalize the `ts` column to TimestampType (µs) regardless of which
    * on-disk layout produced it: BIGINT nanoseconds (nanosAsLong read of
    * TIMESTAMP(NANOS)) → exact `div 1000`; TIMESTAMP_NTZ (native read of
    * TIMESTAMP(MICROS), isAdjustedToUTC=false) → cast, value-preserving
    * under the UTC sessions every entry point pins. */
  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => df
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }

  /** Events stream table with `ts` restored to TimestampType (µs). */
  def events(spark: SparkSession, dir: String): DataFrame =
    withNanosAsLong(spark) {
      normalizeTs(table(spark, dir, "events"))
    }

  /** The same events table as a STREAMING source (`readStream`), with the
    * identical ns→µs conversion — the facade/streaming pipelines run
    * unchanged on top. Streaming reads require an explicit schema; it is
    * taken from a batch probe of the same directory, so it always matches
    * what the files actually contain. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    withNanosAsLong(spark) {
      val schema = table(spark, dir, "events").schema
      // the file-stream source requires a directory; glob-filter down to
      // the events table within it
      normalizeTs(spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
    }

  /** Streaming twin of an archive-shard landing zone: a parquet
    * directory of `(file_id, payload)` rows — tarballs, zips, WARC or
    * JSONL shards as opaque bytes — read with `readStream`, so the
    * member walks ([[Tar.members]], [[Zip.members]], [[Warc.records]],
    * [[Jsonl.lines]]) run per micro-batch as shards ARRIVE (the
    * crawl-drop geometry: new archives land, members flow downstream
    * incrementally). The walks are stateless flatMaps, so stream rows
    * ≡ batch rows exactly — pinned by ArchiveStreamSpec. */
  def archiveStream(spark: SparkSession, dir: String): org.apache.spark.sql.Dataset[WarcFile] = {
    import spark.implicits._
    spark.readStream
      .schema("file_id LONG, payload BINARY")
      .parquet(dir)
      .as[WarcFile]
  }
}
