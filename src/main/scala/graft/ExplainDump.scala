package graft

/** Dump `.explain("formatted")` for the named declared queries (or all
  * of them) to one file per query — the plan-evidence artifacts the
  * optimization rounds commit under plans/r<N>/.
  *
  * Run: `scripts/run_class.sh graft.ExplainDump <outDir> [suffix] [q1,q2,...]`
  * (outDir required; default suffix "plan", default queries = all).
  * Files are named `<query>_<suffix>.txt`.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ExplainDump <outDir> [suffix] [q1,q2,...]")
    val outDir = args(0)
    val suffix = if (args.length > 1) args(1) else "plan"
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    try graft.queries.RelationalQueries.ensureBucketedTables(spark, sfDir)
    catch { case e: Throwable => System.err.println(s"[explain] prep: ${e.getMessage}") }
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[explain] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[explain] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
