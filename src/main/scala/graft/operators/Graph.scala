package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Materialize

/**
 * Bounded iterative graph traversal (north-star extension per
 * SURVEY.md §2.2): min-hop reachability from a seed set — the
 * dependency-closure / blast-radius / lineage primitive relational
 * engines express as `WITH RECURSIVE` and Spark has no operator for.
 * Complements [[Dedup.duplicateClusters]]' label propagation (which
 * converges labels, not distances).
 *
 * Frontier-expansion BFS, one round per hop: join the frontier to the
 * edge table, anti-join out already-reached nodes, tag the round's
 * distance. Each round is one shuffled hash join + distinct — work
 * scales with the FRONTIER, not the reached set (anti-join keeps
 * settled nodes out of later joins), and rounds are bounded by
 * `maxHops`, so the driver loop is O(maxHops) jobs. Each round is
 * materialized ([[graft.Materialize]]), so round n's plan does not
 * replay rounds 1..n−1 (the [[Bpe.trainMerges]] discipline). At 100 TB
 * the edge table is the big side: it hash-partitions once per join on
 * the source key; the frontier (small by comparison) shuffles to it.
 */
object Graph {

  /**
   * (node, dist) for every node within `maxHops` of a seed, dist =
   * MINIMUM hop count (seeds at 0). BFS invariant: a node first reached
   * in round h has true min-distance h, so no relaxation pass is
   * needed — the anti-join IS the min.
   *
   * CONCURRENCY NOTE: for the duration of the BFS loop this toggles the
   * SESSION-GLOBAL `spark.sql.constraintPropagation.enabled` (see the
   * inline rationale below) — any query planned concurrently on the
   * same SparkSession during the loop is optimized without constraint
   * inference (correct, occasionally slower). Callers that plan other
   * queries concurrently should serialize around this call or run it on
   * `spark.newSession()` (confs are per-session; the cloned session
   * shares the SparkContext so no extra executors are needed).
   */
  def reachMinHops(edges: DataFrame, seeds: DataFrame,
                   srcCol: String, dstCol: String, nodeCol: String,
                   maxHops: Int): DataFrame = {
    // InferFiltersFromConstraints compounds across BFS rounds: each
    // round's join re-infers every prior round's arithmetic constraints
    // and pushes the conjunction into both join sides, tripling the
    // physical plan (and task binaries) PER ROUND — measured 3.3 MiB →
    // 109 MiB by hop 8 on a 1k-edge fixture graph. The standard
    // mitigation for iterative self-referential queries (GraphFrames
    // does the same) is to disable constraint propagation for the
    // loop; each round's plan optimizes at its materialization inside
    // the loop, so restoring the conf afterwards leaves caller-side
    // optimization untouched (the final plan is a flat union of
    // materialized scans — nothing to infer).
    withoutConstraintPropagation(edges.sparkSession) {
      reachLoop(edges, seeds, srcCol, dstCol, nodeCol, maxHops)
    }
  }

  /** Run an iterative operator's driver loop with constraint propagation
    * off (see [[reachMinHops]] for why), restoring the session's value
    * afterwards. */
  private[operators] def withoutConstraintPropagation[A](spark: SparkSession)(body: => A): A =
    graft.SessionConf.withValue(spark, "spark.sql.constraintPropagation.enabled", "false")(body)

  /**
   * Fixed-iteration PageRank over an edge list — the link-based
   * quality prior next to content-side gates ([[Domains]]' l99): run
   * on [[Domains.hostLinkEdges]] output, a host's rank is the classic
   * "how much does the web vouch for this host" signal (Page et al.
   * 1999). Power iteration, NOT run to convergence: `iters` rounds so
   * the computation is deterministic and oracle-unrollable.
   *
   * EXACT integer arithmetic (the l42 unrolled-training discipline):
   * ranks are parts-per-billion BIGINTs; each round computes
   * `contrib = rank div outdeg`, `sum_v = Σ contrib over in-edges`,
   * `rank' = (1e9 − dampingPpb) div N + (dampingPpb·sum_v) div 1e9` —
   * every operation a floor `div` both engines restate identically,
   * so iteration k's table is bit-equal under any partitioning.
   * Dangling-node mass: by default it LEAKS (the simple variant) —
   * rank totals shrink slightly per round, which preserves ORDER, the
   * signal a gate consumes. `redistributeDangling = true` adds the
   * magnitude-faithful variant: each round the dangling nodes' total
   * rank D (one scalar agg — the same driver-side convergence-test
   * class as N) spreads evenly, `rank' += (damping · (D div N)) div
   * 1e9`, still every step a floor div both engines restate (l118
   * unrolls it). Node set = distinct endpoints; N collected to the
   * driver as one scalar (bounded by definition).
   *
   * 100 TB shape: out-degrees agg once; each round is one
   * shuffle-hash join of the rank table to the PRE-JOINED
   * (edge, degree) table keyed by source + one dst-keyed sum agg +
   * one left attach to the node table — all keyed by node id, nothing
   * row-scale broadcasts, and each round is materialized exactly like
   * [[reachMinHops]]' (same constraint-propagation guard, same
   * concurrency note).
   */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, dampingPpb: Long = 850000000L,
               redistributeDangling: Boolean = false): DataFrame = {
    require(iters >= 1 && dampingPpb >= 0L && dampingPpb <= 1000000000L,
      s"need iters >= 1 and dampingPpb in [0, 1e9], got $iters / $dampingPpb")
    withoutConstraintPropagation(edges.sparkSession) {
      pageRankLoop(edges, srcCol, dstCol, iters, dampingPpb, redistributeDangling)
    }
  }

  private def pageRankLoop(edges: DataFrame, srcCol: String, dstCol: String,
                           iters: Int, dampingPpb: Long,
                           redistributeDangling: Boolean): DataFrame = {
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
    val nodes = Materialize(e.select(col("__src").as("node"))
      .union(e.select(col("__dst").as("node")))
      .distinct(), "Graph.pageRank")
    // one driver-side scalar — the node COUNT, not node data
    val n = nodes.count()
    // empty graph: no nodes to rank — return the (empty) node frame
    // with the output schema instead of dividing by zero below
    if (n == 0L) return nodes.withColumn("rank_ppb", lit(0L))
    val base = (1000000000L - dampingPpb) / n
    // (edge, out-degree) joined once and materialized: every round
    // reuses it instead of re-aggregating degrees
    val eDeg = Materialize(e.join(
        e.groupBy(col("__src")).agg(count(lit(1)).as("__pr_deg"))
          .hint("shuffle_hash"),
        Seq("__src")), "Graph.pageRank")
    // dangling nodes (in the node set, never a source) materialize once;
    // only consulted when redistribution is on
    val dangling =
      if (!redistributeDangling) null
      else Materialize(nodes.join(
          e.select(col("__src").as("node")).distinct().hint("shuffle_hash"),
          Seq("node"), "left_anti"), "Graph.pageRank")
    // a narrow projection of the materialized node set: round 1 reads it
    // once, so materializing it again would only add a job
    var ranks = nodes.withColumn("rank_ppb", lit(1000000000L / n))
    for (_ <- 1 to iters) {
      // per-round dangling mass D — ONE scalar to the driver (the
      // convergence-test class of collect, not a data path); its even
      // share (damping · (D div N)) div 1e9 adds to every node below
      val extra =
        if (!redistributeDangling) 0L
        else {
          val d = ranks.join(dangling.hint("shuffle_hash"), Seq("node"))
            .agg(coalesce(sum(col("rank_ppb")), lit(0L))).head().getLong(0)
          dampingPpb * (d / n) / 1000000000L
        }
      val sums = eDeg
        .join(ranks.hint("shuffle_hash"), col("__src") === col("node"))
        .select(col("__dst"), expr("rank_ppb div __pr_deg").as("__pr_c"))
        .groupBy(col("__dst"))
        .agg(sum(col("__pr_c")).as("__pr_s"))
      ranks = Materialize(nodes
        .join(sums.hint("shuffle_hash"), col("node") === col("__dst"), "left")
        .withColumn("__pr_s0", coalesce(col("__pr_s"), lit(0L)))
        .select(col("node"),
          (lit(base + extra) +
            expr(s"(${dampingPpb}L * __pr_s0) div 1000000000L")).as("rank_ppb")),
        "Graph.pageRank")
    }
    ranks
  }

  private def reachLoop(edges: DataFrame, seeds: DataFrame,
                        srcCol: String, dstCol: String, nodeCol: String,
                        maxHops: Int): DataFrame = {
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
    // Only the per-round FRONTIER is materialized (it is the small, hot
    // set); `reached` stays a plain union of the already-truncated
    // frontiers — materializing the union each round would re-copy the
    // whole reached set O(rounds) times and balloon task binaries.
    var frontier = Materialize(seeds.select(col(nodeCol)).distinct()
      .withColumn("dist", lit(0L)), "Graph.reachMinHops")
    var reached = frontier
    var h = 1
    // ONE job per round, not two: the round's materialization is lazy
    // and the emptiness test's count() is the action that runs it. Same
    // fusion as connectedComponents'.
    var frontierLive = !frontier.isEmpty
    while (h <= maxHops && frontierLive) {
      val next = Materialize(frontier.drop("dist")
        .join(e.hint("shuffle_hash"), col(nodeCol) === col("__src"))
        .select(col("__dst").as(nodeCol)).distinct()
        .join(reached.select(nodeCol).hint("shuffle_hash"), Seq(nodeCol), "left_anti")
        .withColumn("dist", lit(h.toLong)), "Graph.reachMinHops", eager = false)
      frontierLive = next.count() > 0
      reached = reached.union(next)
      frontier = next
      h += 1
    }
    reached
  }
}
