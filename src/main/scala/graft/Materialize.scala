package graft

import org.apache.spark.sql.DataFrame

/** The one place graft decides how an intermediate frame is materialized.
  *
  * An operator materializes a frame when it feeds several non-identical
  * consumer subtrees and is much smaller than its input (a candidate pair
  * set, a per-key aggregate), or when a driver loop must truncate lineage
  * each round so round n's plan does not replay rounds 1..n−1 (connected
  * components, PageRank, BFS, NN-descent, k-means/PQ and BPE training).
  * The result is a scan of the materialized blocks, cleaned with the frame.
  *
  * How is chosen from the master, not from a setting:
  *  - local (`local[*]`, one JVM): `localCheckpoint`, blocks in the block
  *    manager, which cannot be lost without losing the driver too;
  *  - any other (`local-cluster`, standalone, YARN, Kubernetes): a
  *    reliable `checkpoint` into Spark's checkpoint directory
  *    (`SparkContext.setCheckpointDir`). A `localCheckpoint`ed frame whose
  *    blocks sat on a lost executor fails its next action with
  *    `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`; a reliable one is re-read from
  *    the directory. With no directory set the first call fails fast, as
  *    Spark's `Dataset.checkpoint` does, naming the operator and the
  *    setting.
  *
  * `eager = false` marks the frame and lets the caller's next action
  * materialize it, so an iterative loop runs one job per round that both
  * materializes and tests convergence. That action must compute every
  * partition (a `count`, not a short-circuiting `isEmpty`).
  */
private[graft] object Materialize {

  def apply(df: DataFrame, op: String, eager: Boolean = true): DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (sc.isLocal) df.localCheckpoint(eager)
    else {
      if (sc.getCheckpointDir.isEmpty)
        throw new IllegalStateException(
          s"$op materializes intermediate results with a reliable checkpoint on a " +
            s"non-local master (${sc.master}), but no checkpoint directory is set: " +
            "call SparkContext.setCheckpointDir with a directory every executor can " +
            "reach (HDFS or an object store)")
      df.checkpoint(eager)
    }
  }

  /** Persist `inputs` while `result` is materialized (each feeds several of
    * its consumers, such as both sides of a self-join), then unpersist them
    * in reverse order (a later input may be cached over an earlier one), so
    * the caller returns a self-contained frame and leaves no cache behind. */
  def using(op: String, inputs: DataFrame*)(result: => DataFrame): DataFrame = {
    inputs.foreach(_.persist())
    try apply(result, op)
    finally inputs.reverseIterator.foreach(_.unpersist())
  }
}
