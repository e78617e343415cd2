package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The engine's 60-bit hash families, in two shapes sharing one value
  * contract (uniform non-negative long in [0, 2^60), null → null):
  * unsalted `Column => Column` ([[md5]]/[[xx]] — threaded through
  * [[graft.operators.Hll]] and [[graft.operators.MinHashLsh]]) and
  * SALTED `(Column, Int) => Column` ([[md5Salted]]/[[xxSalted]] — for
  * [[graft.operators.CountMin]], whose depth independent hash rows
  * each need a distinct seed). Each family owns its value
  * canonicalization, which is where the performance gap lives:
  *
  *   - [[md5]]: the oracle family — casts the value to string, then
  *     takes the first 60 bits of md5 ([[Md5Long60]], native codegen).
  *     Cross-engine reproducible (DuckDB recomputes every placement
  *     bit-for-bit), the default for every ORACLED catalog query. The
  *     string cast is part of the family's definition: it is what the
  *     oracle SQL recomputes.
  *   - [[xx]]: the production family — `xxhash64` over the NATIVE
  *     value (no string materialization), masked to the same 60-bit
  *     range. The digest is a few multiplies/rotates vs md5's 64-round
  *     compression AND it skips the per-row string allocation, which
  *     together were the measured gap between the md5 sketches and the
  *     builtin `approx_count_distinct` at 50M rows (SCALE.md round
  *     10). Not reproducible outside the JVM family — use when no
  *     cross-engine check is needed.
  *
  * Both families feed identical downstream math (register max, cell
  * counts, min-signatures are hash-agnostic), so accuracy contracts
  * hold under either; only cross-engine reproducibility differs.
  * Sketches built under different families must never be merged (and
  * note `xx(5L) != xx("5")` — the native encoding is the hash input).
  * [[graft.operators.QuantileSketch]] takes no hash at all — it buckets
  * on the value's own bits — which is why it has no family parameter.
  */
object Hash60 {

  /** 2^60 − 1: the mask that folds a 64-bit hash into the md5 family's
    * [0, 2^60) range, keeping bucket/cell derivations shared.
    */
  val Mask: Long = (1L << 60) - 1

  /** Oracle family: first 60 bits of md5 of the string form
    * (cross-engine reproducible).
    */
  val md5: Column => Column = c => Md5Long60.col(c.cast("string"))

  /** Production family: xxhash64 of the native value, folded to 60
    * bits. The explicit null guard matters — Spark's `xxhash64(null)`
    * yields the SEED (42), not null, which would turn every null into
    * one phantom hot value.
    */
  val xx: Column => Column = c =>
    when(c.isNull, lit(null).cast("long"))
      .otherwise(xxhash64(c).bitwiseAND(lit(Mask)))

  /** SALTED forms — for sketches needing `depth` independent hash rows
    * per key ([[graft.operators.CountMin]]): (key, seed) → 60-bit
    * hash. The md5 family salts by string prefix (`"seed:" || key`,
    * the construction every CMS oracle recomputes); the xx family
    * feeds the seed as a separate native `xxhash64` argument, so the
    * production path allocates NO per-row string — without this, the
    * concat would quietly reintroduce the exact string-materialization
    * cost the unsalted xx family exists to remove.
    */
  val md5Salted: (Column, Int) => Column =
    (key, seed) => md5(concat(lit(s"$seed:"), key))

  val xxSalted: (Column, Int) => Column =
    (key, seed) => when(key.isNull, lit(null).cast("long"))
      .otherwise(xxhash64(lit(seed), key).bitwiseAND(lit(Mask)))
}
