package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Embedding-space covariance + principal components (north-star
 * extension): the whitening/analysis step behind SemDedup-style
 * clustering diagnostics, outlier detection, and "did the embedding
 * space collapse" drift checks.
 *
 * Split on the l58/l59 exactness discipline: the DISTRIBUTED part
 * emits integer sufficient statistics only — coordinates quantize once
 * to q = floor(x·10⁶), and per (i ≤ j) dimension pair the query sums
 * q_i, q_j, q_i·q_j exactly (BIGINT; |q| ≤ 10⁶ ⇒ products ≤ 10¹², so
 * ~10⁶ rows stay far from overflow — switch the sums to DECIMAL(38,0)
 * beyond that, the l47 lesson). Shuffle-order-invariant, DuckDB-
 * expressible (l74), bit-deterministic. The EIGEN part (power
 * iteration with deflation) runs driver-side on the dim² matrix those
 * statistics define — dim ≤ a few thousand means the matrix is
 * kilobytes-to-megabytes; the corpus-sized work is exactly one explode
 * + one map-side-combined agg.
 *
 * Plan shape: pairs generate INSIDE one flattened array per row (a
 * single explode of dim·(dim+1)/2 structs — no positional self-join),
 * then one hash agg keyed by (i, j). At 100 TB the explode factor is
 * dim²/2 — for wide dims cap the corpus with a deterministic sample
 * first ([[covarianceStatsSampled]], the standard PCA-fit practice:
 * covariance needs statistical mass, not every row).
 */
object Pca {

  /** [[covarianceStats]] behind a deterministic Bernoulli sample
    * ([[Sampling.hashSample]] on `idCol` — md5-reproducible across
    * runs/engines): the wide-dim front door. The explode costs
    * dim·(dim+1)/2 structs PER ROW (dim 256 → 32,896), so at corpus
    * scale the fit runs on a rate-capped sample; SCALE.md records the
    * row-linear scaling and the sample's cost floor. */
  def covarianceStatsSampled(df: DataFrame, vecCol: String, idCol: String,
                             rate: Double): DataFrame =
    covarianceStats(Sampling.hashSample(df, idCol, rate), vecCol)

  /** Integer sufficient statistics per dimension pair i ≤ j:
    * (i, j, n, sum_qi, sum_qj, sum_qiqj) with q = floor(x·10⁶).
    *
    * PRECONDITION: every row's vector has the SAME length, with no null
    * vectors and no null elements. The broadcast-attached first moments
    * are the GLOBAL per-dimension sums — valid only because every row
    * contributes to every (i, j) pair; ragged or null-containing input
    * would silently skew `sum_qi`/`sum_qj` (and diverge from a per-pair
    * oracle). `checkShape` (default on) folds the assertion INTO the
    * returned plan — a one-row shape aggregate broadcast onto the
    * output with an `assert_true` filter — so validation is LAZY
    * (construction stays action-free; existing callers pay nothing
    * until they evaluate the frame, and then one extra read of just
    * the size/null flags, negligible next to the dim²/2 explode);
    * pass false only when the shape is already guaranteed upstream.
    *
    * Cost shape: the vector quantizes ONCE per row (dim floors, not
    * dim²/2·2 — measured 1.8× on the warm path), the pair expansion
    * carries only (i, j, product), and the group's first moments —
    * which are the GLOBAL per-dimension sums, since every row
    * contributes to every pair — attach afterwards from a 64-row agg
    * via broadcast joins instead of riding the 10⁷-row explode. */
  def covarianceStats(df: DataFrame, vecCol: String,
                      checkShape: Boolean = true): DataFrame = {
    val q = df.select(expr(
      s"transform($vecCol, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
      .as("__q"))
    val firsts = q.select(posexplode(col("__q")).as(Seq("d", "qd")))
      .groupBy("d").agg(sum(col("qd")).as("s"))
    // Pair expansion as TWO posexplodes (i over the vector, j over its
    // tail slice) instead of one in-row flatten∘transform HOF: explode
    // is a codegen Generate, while HOF lambdas are CodegenFallback —
    // the interpreted unfold allocated dim²/2 structs per row and
    // measured ~1.7× slower end-to-end on l74 (sf0.1). Same (i, j,
    // qi·qj) rows, same exact-integer sums.
    val pairs = q.select(col("__q"), posexplode(col("__q")).as(Seq("__i", "__qi")))
      .select(col("__i"), col("__qi"),
        posexplode(expr("slice(__q, __i + 1, size(__q) - __i)")).as(Seq("__joff", "__qj")))
      .groupBy(col("__i").cast("long").as("i"),
        (col("__i") + col("__joff")).cast("long").as("j"))
      .agg(count(lit(1)).as("n"), sum(col("__qi") * col("__qj")).as("sum_qiqj"))
    val stats = pairs
      .join(broadcast(firsts.select(col("d").cast("long").as("i"),
        col("s").as("sum_qi"))), Seq("i"))
      .join(broadcast(firsts.select(col("d").cast("long").as("j"),
        col("s").as("sum_qj"))), Seq("j"))
      .select(col("i"), col("j"), col("n"),
        col("sum_qi"), col("sum_qj"), col("sum_qiqj"))
    if (!checkShape) stats
    else {
      // LAZY shape assertion: a one-row aggregate broadcast onto the
      // output, checked by assert_true at evaluation time — frame
      // construction stays action-free (no eager scan), and the guard
      // rides any downstream plan the caller builds
      val shape = df.agg(
        (countDistinct(size(col(vecCol))) <= 1 &&
          coalesce(max(when(col(vecCol).isNull, 1).otherwise(0)), lit(0)) === 0 &&
          coalesce(max(when(exists(col(vecCol), x => x.isNull), 1).otherwise(0)), lit(0)) === 0
        ).as("__shape_ok"))
      stats.crossJoin(broadcast(shape))
        .filter(assert_true(col("__shape_ok"),
          lit(s"covarianceStats($vecCol) requires fixed-length, null-free vectors " +
            "(ragged lengths, null vectors or null elements found)")).isNull)
        .drop("__shape_ok")
    }
  }

  /** Dense covariance matrix from [[covarianceStats]]' collected rows
    * (driver-side; dim² doubles). cov(i,j) = E[xy] − E[x]E[y] in the
    * original units (the 10⁶ quantization divides back out). */
  def covarianceMatrix(stats: Array[(Long, Long, Long, Long, Long, Long)],
                       dim: Int): Array[Array[Double]] = {
    val m = Array.ofDim[Double](dim, dim)
    stats.foreach { case (i0, j0, n, sqi, sqj, sqq) =>
      val (i, j) = (i0.toInt, j0.toInt)
      val nn = n.toDouble
      val c = (sqq / nn - (sqi / nn) * (sqj / nn)) / 1e12
      m(i)(j) = c
      m(j)(i) = c
    }
    m
  }

  /** Top-k principal components by power iteration with deflation —
    * deterministic (fixed start vector), driver-side, O(k·iters·dim²).
    * Returns (eigenvalue, component) pairs, components unit-norm. */
  def powerIteration(cov: Array[Array[Double]], k: Int,
                     iters: Int = 100): Seq[(Double, Array[Double])] = {
    val dim = cov.length
    val a = cov.map(_.clone())
    (0 until k).map { _ =>
      var v = Array.tabulate(dim)(d => 1.0 / math.sqrt(dim.toDouble) + d * 1e-9)
      var lambda = 0.0
      for (_ <- 1 to iters) {
        val w = Array.tabulate(dim)(i => {
          var s = 0.0; var j = 0
          while (j < dim) { s += a(i)(j) * v(j); j += 1 }
          s
        })
        val norm = math.sqrt(w.map(x => x * x).sum)
        if (norm > 0) { v = w.map(_ / norm); lambda = norm }
      }
      // deflate: A ← A − λ v vᵀ
      for (i <- 0 until dim; j <- 0 until dim) a(i)(j) -= lambda * v(i) * v(j)
      (lambda, v)
    }
  }
}
