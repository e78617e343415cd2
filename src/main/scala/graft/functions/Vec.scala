package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level vector math over ArrayType(FloatType) embeddings.
  *
  * Semantics mirror the reference's distance kernel
  * (`/root/reference/src/utils.rs:28-30`): squared Euclidean distance,
  * no sqrt anywhere on the query path. All arithmetic is promoted to
  * double *before* the subtraction so results are identical to the
  * DuckDB oracle's folds ([[graft.queries.OracleGen.l2Sql]], `dotSql`,
  * `normSql`): float->double is exact, and both engines fold the
  * element list sequentially left-to-right, so results are
  * bitwise-reproducible regardless of partitioning.
  *
  * These are pure Catalyst higher-order-function expressions: they stay
  * inside whole-stage codegen (no UDF boxing), never explode the array,
  * and scale linearly with row count — the right hot-path shape for a
  * 1000-executor scan of 100 TB.
  */
object Vec {

  /** Cast array<float> -> array<double> (exact, element-wise). */
  def asDouble(c: Column): Column = c.cast("array<double>")

  /** Squared L2 distance: sum_i (a_i - b_i)^2, computed in double.
    * Backed by the codegen'd [[SquaredL2]] native expression; result is
    * bitwise identical to [[squaredL2Hof]] (asserted in VecSpec).
    */
  def squaredL2(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      SquaredL2(
        org.apache.spark.sql.GraftSqlBridge.expression(a),
        org.apache.spark.sql.GraftSqlBridge.expression(b)))

  /** Reference form of squared L2 as pure higher-order functions —
    * SQL-expressible, kept as the parity baseline for the native
    * expression.
    */
  def squaredL2Hof(a: Column, b: Column): Column =
    aggregate(
      zip_with(asDouble(a), asDouble(b), (x, y) => (x - y) * (x - y)),
      lit(0.0),
      (acc, v) => acc + v)

  /** Dot product in double (native codegen'd expression). */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      DotProduct(
        org.apache.spark.sql.GraftSqlBridge.expression(a),
        org.apache.spark.sql.GraftSqlBridge.expression(b)))

  /** HOF form of dot (parity baseline). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)

  /** Squared L2 norm. */
  def norm2Sq(a: Column): Column = dot(a, a)

  /** Cosine similarity in double; 0 when either vector has zero norm. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val na = sqrt(norm2Sq(a))
    val nb = sqrt(norm2Sq(b))
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(d / (na * nb))
  }
}
