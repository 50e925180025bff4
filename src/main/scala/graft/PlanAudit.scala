package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Sweep every declared query's POST-AQE physical plan for scale red
  * flags: cartesian products, partition-less window sorts, and
  * sort-merge joins (at these sizes every join should resolve to a
  * broadcast or shuffled-hash join). Known-and-documented exceptions are
  * listed inline. Run: `sbt "runMain graft.PlanAudit [sfDir]"`. */
object PlanAudit {

  // t7 is the reference's own single-task global state (SURVEY §7.5.4).
  // l80/l89's packing prefix sums run through runningSumChunked with NO
  // group key: the single-task window there is over the CHUNK-LEVEL
  // sums table (rows = id-span / idChunk — thousands at billions of
  // docs, never row-scale), the same span-bounded shape r23 uses
  // per-key; the corpus-scale work shuffles only on the chunk key.
  // l86's window is the class-offset prefix over the length-class
  // table — ≤ O(√seqLen) rows (distinct values of seqLen div n) at ANY
  // corpus size.
  // l123 shares l80/l89's packLayout verbatim (byte-BPE-priced counts
  // in, same chunk-level prefix window), so the same rationale holds.
  private val allowPartitionlessWindow =
    Set("t7_global_state", "l80_seq_pack", "l89_pack_bpe", "l86_pack_whole",
      "l123_pack_bytebpe")
  // Deliberately key-less broadcast joins whose small side is NOT a
  // provable 1-row scalar (those are recognized structurally by
  // [[isScalarBroadcast]] instead of by name): l3/l44 broadcast the
  // query-vector table against the corpus; l26 adds the quantization
  // scale; l8/l42/l85 broadcast the k IVF centroids for assignment (the
  // IVF contract: the corpus never shuffles); r11's scalar subquery
  // plans its own BNLJ; t18's triangular prefix-offset join runs over
  // the tiny bucket-count table.
  private val allowNestedLoop =
    Set("l3_cosine_topk", "r11_scalar_subquery", "l8_ann_ivf", "t18_global_state_scalable",
      "l26_ann_int8", "l42_ivf_trained", "l44_sql_functions", "l85_ann_ivfadc")
  // r18 joins two co-bucketed, bucket-sorted tables: the sort-merge runs
  // directly over co-located sorted buckets with NO exchange on either
  // side (PlanSpec pins zero shuffles) — here SMJ IS the 100 TB shape,
  // unlike an SMJ that first shuffles both sides.
  private val allowSortMergeJoin = Set("r18_bucketed_join")

  /** All physical nodes of an executed plan, descending through the
    * dynamic edges a plain `collect` misses: AQE roots re-plan under a
    * leaf `AdaptiveSparkPlanExec`, cached relations hide their plan
    * inside `InMemoryTableScanExec`, and subqueries hang off expressions.
    * (The previous string-regex audit truncated at the first ')' of a
    * windowspecdefinition, so a global window ordered by an expression
    * with parens — e.g. `cast(ts as bigint)` — escaped the very check
    * the tool exists for.) */
  private[graft] def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val dynamicKids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      // materialized AQE stages (Shuffle/Broadcast/ResultQueryStageExec)
      // are leaves whose real subtree hangs off `plan`
      case q: QueryStageExec => Seq(q.plan)
      case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
      case other => other.children
    }
    p +: (dynamicKids ++ p.subqueries).flatMap(flatten)
  }

  private[graft] def isPartitionlessWindow(p: SparkPlan): Boolean = p match {
    case w: WindowExec => w.partitionSpec.isEmpty
    case w: WindowGroupLimitExec => w.partitionSpec.isEmpty
    case _ => false
  }

  /** A BroadcastNestedLoopJoin whose BUILD side is provably tiny — the
    * scalar-attach shape (`crossJoin(broadcast(df.agg(...)))`): a global
    * aggregate (no grouping keys) emits exactly one row, and a literal
    * `LocalTableScan` of ≤ a handful of rows is a query constant. Both
    * are the 100 TB-safe "attach a scalar to every row" idiom, so the
    * audit recognizes the SHAPE instead of keeping a per-query name
    * list that new queries silently bypass. The proof walks ONLY the
    * row-count-preserving/reducing spine of the broadcast subtree
    * (exchanges, stages, codegen wrappers, projections, filters) down
    * to the first real operator — an `exists` over ALL descendants
    * would waive a build side that merely CONTAINS a scalar somewhere
    * below a row-multiplying join (round-12 advice). Anything else
    * nested-loop joined is still flagged. */
  private[graft] def isScalarBroadcast(b: BroadcastNestedLoopJoinExec): Boolean = {
    val build = b.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildLeft => b.left
      case org.apache.spark.sql.catalyst.optimizer.BuildRight => b.right
    }
    isScalarSubtree(build)
  }

  /** Descend through nodes that cannot INCREASE the row count of their
    * child (wrappers, 1:1 projections, filters, single-partition
    * exchanges) and judge the first operator that determines
    * cardinality. */
  private def isScalarSubtree(p: SparkPlan): Boolean = p match {
    case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec =>
      a.groupingExpressions.isEmpty
    case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec =>
      a.groupingExpressions.isEmpty
    case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec =>
      a.groupingExpressions.isEmpty
    case l: org.apache.spark.sql.execution.LocalTableScanExec =>
      l.rows.lengthCompare(8) <= 0
    case pr: org.apache.spark.sql.execution.ProjectExec => isScalarSubtree(pr.child)
    case f: org.apache.spark.sql.execution.FilterExec => isScalarSubtree(f.child)
    case a: AdaptiveSparkPlanExec => isScalarSubtree(a.executedPlan)
    case q: QueryStageExec => isScalarSubtree(q.plan)
    case s: InMemoryTableScanExec => isScalarSubtree(s.relation.cachedPlan)
    case w: org.apache.spark.sql.execution.WholeStageCodegenExec => isScalarSubtree(w.child)
    case i: org.apache.spark.sql.execution.InputAdapter => isScalarSubtree(i.child)
    case e: org.apache.spark.sql.execution.exchange.Exchange => isScalarSubtree(e.child)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => isScalarSubtree(r.child)
    case _ => false
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkEntry.localSession(8)
    spark.sparkContext.setLogLevel("ERROR")

    var flagged = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val nodes = flatten(df.queryExecution.executedPlan)
      val flags = Seq(
        "CartesianProduct" -> nodes.exists(_.isInstanceOf[CartesianProductExec]),
        "SortMergeJoin" ->
          (nodes.exists(_.isInstanceOf[SortMergeJoinExec]) && !allowSortMergeJoin(name)),
        "BroadcastNestedLoopJoin" ->
          (nodes.exists {
            case b: BroadcastNestedLoopJoinExec => !isScalarBroadcast(b)
            case _ => false
          } && !allowNestedLoop(name)),
        // a window (or its rank-pushdown twin) with an empty partition
        // spec runs every row through one task
        "partitionless-window" ->
          (nodes.exists(isPartitionlessWindow) && !allowPartitionlessWindow(name))
      ).collect { case (f, true) => f }
      spark.catalog.clearCache()
      if (flags.nonEmpty) { flagged += 1; println(s"[plan-audit] $name: ${flags.mkString(", ")}") }
    }
    println(s"[plan-audit] done: $flagged flagged of ${SparkEntry.queries.size}")
    // r18's audit run materializes its bucketed tables — leave no litter
    try graft.queries.RelationalQueries.dropBucketedTables(spark, sfDir)
    catch { case _: Throwable => () }
    spark.stop()
  }
}
