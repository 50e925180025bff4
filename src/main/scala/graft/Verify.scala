package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter: SPARK_GRAFT_ONLY=q1,q2 dumps just those
    // queries (and their oracle entries). Unset → full catalog, the
    // driver's contract.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      // LOUD: a filtered dump overwrites oracle_sql.json with the subset —
      // mixing filtered and full runs in one outDir makes a later
      // check_oracle validate a stale/partial catalog without noticing
      System.err.println(s"[verify] WARNING: SPARK_GRAFT_ONLY is set — " +
        s"dumping ONLY ${names.toSeq.sorted.mkString(",")} and OVERWRITING " +
        s"$outDir/oracle_sql.json with that subset; do not mix filtered and " +
        "full runs in one outDir")
      val unknown = names.filterNot(SparkEntry.queries.contains)
      if (unknown.nonEmpty)
        System.err.println(s"[verify] WARNING: SPARK_GRAFT_ONLY names match " +
          s"no declared query (typo?): ${unknown.toSeq.sorted.mkString(",")}")
    }
    def selected(name: String) = only.forall(_.contains(name))
    SparkEntry.queries.filter { case (n, _) => selected(n) }.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache() // see Bench: persisted intermediates
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // r18 materializes bucketed managed tables as a side effect; drop
    // them (table + warehouse files) so a correctness pass leaves no
    // graft_*_b… litter behind
    try graft.queries.RelationalQueries.dropBucketedTables(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[verify] bucketed-table cleanup failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
