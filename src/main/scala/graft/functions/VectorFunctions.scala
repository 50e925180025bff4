package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Vector math over `array<double>` columns, composed entirely from
 * codegen'd Catalyst built-ins (`zip_with` + `aggregate`) — no UDFs, so
 * the hot path stays inside WholeStageCodegen and needs no serialization.
 *
 * Determinism note: `aggregate` folds left-to-right over array elements,
 * which makes the floating-point sum order-stable — the same fold a
 * `list_reduce` produces in the DuckDB oracle. Do not replace with a
 * shuffle-order-dependent SUM.
 */
object VectorFunctions {

  /** Dot product of two array<double> columns (left-to-right fold).
    * Backed by the codegen'd [[DotProductExpr]]: the HOF formulation
    * (`aggregate(zip_with(...))`) is CodegenFallback and allocates the
    * zipped array per pair; fold order is unchanged. */
  def dot(a: Column, b: Column): Column = DotProductExpr(a, b)

  /** L2 norm. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in [-1, 1] given the L2 norms `na` and `nb`, which
    * the vector operators hoist below their pair joins. Null when either
    * norm is zero, where ANSI division would throw. */
  def cosineWithNorms(a: Column, na: Column, b: Column, nb: Column): Column =
    try_divide(dot(a, b), na * nb)

  /** Cosine similarity in [-1, 1]; null when either vector is zero. */
  def cosineSim(a: Column, b: Column): Column = cosineWithNorms(a, l2Norm(a), b, l2Norm(b))

  /** Euclidean (L2) distance. */
  def l2Distance(a: Column, b: Column): Column = {
    val diff = zip_with(a, b, (x, y) => x - y)
    sqrt(dot(diff, diff))
  }

  /** Unit-normalize a vector (null-safe: zero vector → nulls). */
  def normalize(a: Column): Column =
    transform(a, x => try_divide(x, l2Norm(a)))
}
