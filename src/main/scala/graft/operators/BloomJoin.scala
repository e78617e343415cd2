package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter pre-filtered semi/anti joins.
  *
  * The 100 TB shape this serves: filtering a huge fact table by a key
  * set that is too large to broadcast as a hash table (a 100M-key hash
  * relation is multiple GB) but whose Bloom filter still broadcasts
  * comfortably (~1.2 MB per million keys at 1% fpp). The Bloom filter
  * runs map-side over the scan and discards the (typically vast)
  * non-matching majority before the shuffle, so the exact join that
  * follows only pays shuffle I/O for rows that are probably matches.
  * Results are EXACT: the trailing semi/anti join removes the false
  * positives the filter lets through.
  *
  * This is the explicit, composable form of what Spark's runtime
  * row-level filtering (`spark.sql.optimizer.runtimeFilter.*`, rule
  * `InjectRuntimeFilter`) does opportunistically inside one query: here
  * the filter is built once and can gate several downstream joins, and
  * the pre-filter applies even when the optimizer would not inject one
  * (e.g. probe side behind a custom operator).
  *
  * The membership probe is the codegen [[graft.functions.BloomProbe]]
  * expression: it evaluates once per row of the large side — exactly
  * the path where a ScalaUDF's per-row boxing and catalyst↔Scala
  * converters cost the most — and keeps the whole scan→filter stage in
  * one whole-stage-codegen span with a primitive-typed probe.
  */
object BloomJoin {

  /** Builds the Bloom filter over `keys(keyCol)`. One pass over the
    * (small) build side; pass `expectedItems` when the caller already
    * knows the cardinality to skip the sizing `count()` pass.
    */
  def build(keys: DataFrame, keyCol: String, expectedItems: Long = -1L,
      fpp: Double = 0.01): BloomFilter = {
    // an effectively-empty relation would NPE inside stat.bloomFilter
    // (the aggregate buffer stays null when no key was inserted) —
    // detect emptiness explicitly instead of catching NPE, which would
    // also swallow a genuine failure in the keys lineage (a UDF NPE)
    // and silently return a match-nothing filter, breaking semi()'s
    // no-false-negative invariant. Emptiness means NO NON-NULL KEY,
    // not no row: stat.bloomFilter skips nulls, so a non-empty relation
    // whose key column is all null hits the same null buffer (ADVICE
    // r9) — probe and count over the non-null keys only (which also
    // makes the count() sizing exact for sparse key columns).
    val nonNull = keys.select(keyCol).where(col(keyCol).isNotNull)
    val n =
      if (expectedItems > 0) {
        if (nonNull.limit(1).isEmpty) 0L else expectedItems
      } else nonNull.count()
    if (n <= 0) BloomFilter.create(1, fpp) // empty side: filter matches nothing
    else keys.stat.bloomFilter(keyCol, n, fpp)
  }

  /** Membership predicate for `large(largeKey)` against a built filter.
    * Integral keys probe as long (matching `stat.bloomFilter`'s widened
    * inserts), strings as UTF-8; nulls never match (a Bloom filter has
    * no null slot — consistent with semi-join null semantics).
    *
    * The probe is the codegen [[graft.functions.BloomProbe]] expression
    * — it runs once per row of the LARGE side (the 100 TB scan), where
    * the previous `udf(...)` form paid per-row boxing + converters
    * (measured A/B in SCALE.md round 12; bit-parity with the UDF form
    * gated in BloomJoinSpec).
    */
  def mightContain(large: DataFrame, largeKey: String, bf: BloomFilter): Column = {
    val bc = large.sparkSession.sparkContext.broadcast(bf)
    val key = col(largeKey)
    large.schema(largeKey).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        key.isNotNull && graft.functions.BloomProbe.col(key.cast(LongType), bc)
      case StringType =>
        key.isNotNull && graft.functions.BloomProbe.col(key, bc)
      case dt => throw new IllegalArgumentException(
        s"BloomJoin key type $dt unsupported (integral or string required)")
    }
  }

  /** The pre-round-12 ScalaUDF probe, kept private for the
    * BloomJoinSpec parity gate (the A/B is SCALE.md round 12, "Bloom
    * probe moved to a codegen expression") —
    * semantically identical to [[mightContain]] including
    * null-never-matches.
    */
  private[graft] def mightContainUdf(large: DataFrame, largeKey: String,
      bf: BloomFilter): Column = {
    val bc = large.sparkSession.sparkContext.broadcast(bf)
    large.schema(largeKey).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        val f = udf((k: java.lang.Long) => k != null && bc.value.mightContainLong(k))
        f(col(largeKey).cast(LongType))
      case StringType =>
        val f = udf((k: String) => k != null && bc.value.mightContainString(k))
        f(col(largeKey))
      case dt => throw new IllegalArgumentException(
        s"BloomJoin key type $dt unsupported (integral or string required)")
    }
  }

  /** Exact semi join with a Bloom pre-filter on the probe side:
    * `large ⋉ keys` where only probable matches reach the join.
    */
  def semi(large: DataFrame, largeKey: String, keys: DataFrame, keyCol: String,
      expectedItems: Long = -1L, fpp: Double = 0.01): DataFrame = {
    val bf = build(keys, keyCol, expectedItems, fpp)
    large.where(mightContain(large, largeKey, bf))
      .join(keys.select(col(keyCol).as(largeKey)), Seq(largeKey), "left_semi")
  }

  /** Exact anti join with a Bloom short-circuit: rows the filter
    * rejects are DEFINITELY absent from `keys` and bypass the join
    * entirely; only probable matches pay the shuffle to have false
    * positives removed. Costs a second (column-pruned, pushed-down)
    * scan of `large` — at scale that is a scan of one key column vs a
    * full-table shuffle, the right trade; persist `large` first if its
    * lineage is expensive or nondeterministic (both branches must see identical rows).
    */
  def anti(large: DataFrame, largeKey: String, keys: DataFrame, keyCol: String,
      expectedItems: Long = -1L, fpp: Double = 0.01): DataFrame = {
    val bf = build(keys, keyCol, expectedItems, fpp)
    val p = mightContain(large, largeKey, bf)
    val definiteMiss = large.where(!p) // includes null keys: never-match, kept
    val candidates = large.where(p)
      .join(keys.select(col(keyCol).as(largeKey)), Seq(largeKey), "left_anti")
    definiteMiss.unionByName(candidates)
  }
}
