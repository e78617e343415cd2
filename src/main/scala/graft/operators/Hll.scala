package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.BitLength64

/** HyperLogLog distinct-count sketch (Flajolet et al. 2007, the HLL++
  * bias regime of Heule et al. 2013 is not needed at p=8) with
  * CROSS-ENGINE-REPRODUCIBLE register math — unlike the engine-opaque
  * `approx_count_distinct`, every number this sketch produces is
  * recomputable bit-for-bit by the DuckDB oracle:
  *
  *   - hash: a live [[graft.functions.Hash60]] family — the default
  *     repo-standard 60-bit md5 makes register placement
  *     engine-independent; production callers that need no oracle swap
  *     in xxhash64 (same recipe as MinHashLsh's hashFn param);
  *   - register rank: integer bit-length ([[BitLength64]], DuckDB
  *     `length(bin(w))`), never a float log;
  *   - the harmonic denominator Σ 2^−M_j is summed as SCALED LONGS
  *     (2^(53−M_j), at most 256·2^53 < 2^63 — exact, order-independent),
  *     so the only float operation in the whole estimate is one final
  *     exactly-rounded IEEE division — bit-identical under any
  *     partitioning, merge order, or engine.
  *
  * Scale shape: the sketch is ≤ m=256 register rows per key regardless
  * of input size, built by one map-side-combinable groupBy max — the
  * mergeable summary that replaces a full `count(DISTINCT)` shuffle of
  * every key occurrence at 100 TB. Merge is register-wise max, and
  * sketch(A ⊎ B) == merge(sketch(A), sketch(B)) EXACTLY (SketchSpec),
  * so shard/stream/incremental maintenance is a union + groupBy.
  *
  * Standard error 1.04/√m ≈ 6.5% at p=8; accuracy gated vs exact
  * distinct counts in SketchSpec.
  */
object Hll {

  /** Default register-index bits: m = 2^P = 256 registers per key
    * (σ ≈ 6.5%) — the precision every ORACLED catalog query uses.
    * Callers needing tighter estimates pass `p` explicitly (σ =
    * 1.04/√2^p — p=12 is ~1.6%, p=14 is ~0.8%), trading linearly more
    * register rows per key; the whole pipeline (sketch/merge/estimate/
    * overlap) is precision-generic.
    */
  val P = 8
  val M: Int = 1 << P

  private[operators] def m(p: Int): Int = { require(p >= 4 && p <= 16); 1 << p }
  private[operators] def wBits(p: Int): Int = 60 - p

  /** α_m for the standard HLL bias constants (Flajolet et al. §4). */
  private[operators] def alpha(p: Int): Double = m(p) match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case mm => 0.7213 / (1 + 1.079 / mm)
  }

  /** α_m · m² · 2^(wBits+1) at precision p — the numerator of the
    * scaled raw estimate (the scale factor is the per-precision
    * register ceiling 2^(wBits(p)+1), matching the scaled-long terms
    * 2^(wBits+1−r) in the denominator), embedded as the SAME double
    * literal on the Spark and DuckDB sides (the shortest
    * round-trippable decimal repr parses back to this exact double in
    * both engines).
    */
  def alphaNumer(p: Int): Double =
    alpha(p) * m(p).toDouble * m(p).toDouble * math.pow(2, wBits(p) + 1)

  /** The p=8 numerator the oracle generators embed. */
  val AlphaNumer: Double = alphaNumer(P)

  /** Build the sketch: one register frame (keyCol, bucket, r) per key,
    * r = max over elements of rank(w) ∈ [1, 53]; absent buckets are
    * implicitly register 0.
    *
    * @param hashFn the 60-bit hash family ([[graft.functions.Hash60]]):
    *               md5 (default) keeps every register oracle-exact;
    *               [[graft.functions.Hash60.xx]] is the production
    *               family when no cross-engine check is needed
    *               (≥ builtin `approx_count_distinct` throughput at 50M
    *               rows — SCALE.md round 10). Register/estimate math is
    *               hash-agnostic, so accuracy gates hold under both
    *               (SketchSpec), but sketches from different families
    *               must never be merged.
    */
  def sketch(df: DataFrame, keyCol: String, value: Column,
      p: Int = P,
      hashFn: Column => Column = graft.functions.Hash60.md5): DataFrame = {
    val wb = wBits(p)
    // the hash family owns value canonicalization (md5 casts to string
    // for the oracle; xx hashes the native value — no per-row string)
    df.select(col(keyCol), hashFn(value).as("h"))
      // nulls are ignored, matching countDistinct VALUE semantics — an
      // unfiltered null hash would otherwise become a phantom
      // (bucket=null, r=null) register that inflates present_buckets.
      // Precise contract (r15 review): a key whose values are ALL null
      // contributes no registers, so estimate emits NO row for it —
      // whereas SQL count(DISTINCT v) GROUP BY key keeps the group
      // with 0. Callers needing keep-the-group semantics left-join the
      // estimates back onto their key set (an empty set has no sketch
      // representation by construction; the same holds for
      // QuantileSketch vs exact percentile of an all-null group)
      .where(col("h").isNotNull)
      .select(col(keyCol),
        shiftright(col("h"), wb).cast("int").as("bucket"),
        col("h").bitwiseAND(lit((1L << wb) - 1)).as("w"))
      .select(col(keyCol), col("bucket"),
        when(col("w") === 0L, lit(wb + 1))
          .otherwise(lit(wb + 1) - BitLength64.col(col("w"))).as("rho"))
      .groupBy(col(keyCol), col("bucket"))
      .agg(max(col("rho")).as("r"))
  }

  /** Register-wise max of two sketches over the same key/value columns:
    * exactly the sketch of the unioned inputs (SketchSpec gate).
    */
  def merge(a: DataFrame, b: DataFrame, keyCol: String): DataFrame =
    a.unionByName(b)
      .groupBy(col(keyCol), col("bucket"))
      .agg(max(col("r")).as("r"))

  /** Estimate per key from a register frame: the HLL harmonic-mean
    * estimate with the standard small-range linear-counting correction
    * (E ≤ 2.5m with empty registers → m·ln(m/V)). Emits the estimate
    * rounded to a long plus the occupied-register count.
    */
  def estimate(regs: DataFrame, keyCol: String, outName: String,
      p: Int = P): DataFrame = {
    val wb = wBits(p); val mm = m(p)
    val agg = regs
      .groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("present_buckets"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${wb + 1} - r)")).as("sumscaled"))
    val zeros = (lit(mm) - col("present_buckets")).cast("long")
    val denom = (col("sumscaled") + zeros * lit(1L << (wb + 1))).cast("double")
    val eRaw = lit(alphaNumer(p)) / denom
    val est = when(zeros > lit(0L) && eRaw <= lit(2.5 * mm),
        lit(mm.toDouble) * log(lit(mm.toDouble) / zeros.cast("double")))
      .otherwise(eRaw)
    agg.select(col(keyCol), col("present_buckets"),
      round(est).cast("long").as(outName))
  }

  /** Pairwise distinct-overlap estimates between every pair of keys by
    * inclusion–exclusion over merged sketches: |A∩B| ≈ est(A) + est(B)
    * − est(A ∪ B), where the union sketch is the register-wise max of
    * the per-key sketches ([[merge]] algebra). The input is read ONCE
    * to build ≤ m registers per key; every pairwise union after that
    * is arithmetic on the tiny register frames (broadcast-sized) — vs
    * one count(DISTINCT) shuffle of raw values per pair for the naive
    * form, i.e. one pass replacing O(|keys|²) of them. Register math
    * is integer-exact, so an oracle recomputes every estimate
    * bit-for-bit; overlap accuracy vs exact intersections is gated in
    * SketchSpec (inclusion–exclusion compounds three union-scaled
    * sigmas). Intended for key cardinalities where |keys|² pairs is a
    * sane output size. Returns (key_a, key_b, distinct_a, distinct_b,
    * union_distinct, overlap_est) for all key_a < key_b.
    *
    * EAGER: the register frame is collected after one input pass and
    * the pairs are computed on the driver, so the result — bounded by the
    * |keys|²-sane-output contract above — is a local relation and no
    * cache outlives the call. Callers needing lazy composition use
    * sketch/merge/estimate directly.
    */
  def pairwiseOverlap(df: DataFrame, keyCol: String,
      value: Column, p: Int = P,
      hashFn: Column => Column = graft.functions.Hash60.md5): DataFrame = {
    // ONE input pass builds the register frame (under AQE its shuffle
    // map stage is a job of its own before the collect's job), which is
    // collected at its ≤ |keys|·m bound — routing-table-sized by the
    // operator's own contract. The pairwise union/estimate algebra
    // then runs driver-side over those integers: the r17 DF form spent
    // ~10 tiny driver-blocking stages (persist, distinct, two pair
    // joins, union groupBy, three estimate aggregates, final joins) on
    // a ≤1,280-row frame — pure scheduler round-trips at any scale,
    // since the frame is bounded regardless of input size (measured
    // ~1.0–1.5 s of a 1.5 s query at sf0.1). Every arithmetic step
    // below mirrors [[estimate]]'s expressions operation-for-operation
    // (long shifts/sums, one double division, math.log, HALF_UP round)
    // so the output is bitwise the DF algebra's; SketchSpec pins this
    // path against [[estimate]] over per-key and per-pair-union
    // sketches, and against exact intersections.
    val spark = df.sparkSession
    // null keys are dropped BEFORE pairing: the DF form's
    // `key_a < key_b` (null-safe-false) and its equi-joins silently
    // excluded every null-key pair/row, so the driver algebra must
    // never see one — the interpreted catalyst ordering below cannot
    // compare nulls (ADVICE r18 medium).
    val regsDf = sketch(df, keyCol, value, p, hashFn)
      .where(col(keyCol).isNotNull)
    val keyDt = regsDf.schema(keyCol).dataType
    val rows = regsDf.limit(Eager.DefaultMaxRows + 1).collect()
    require(rows.length <= Eager.DefaultMaxRows,
      s"pairwiseOverlap: register frame exceeds ${Eager.DefaultMaxRows} " +
        "rows - key cardinality is outside the |keys|^2-sane-output " +
        "contract; use sketch/merge/estimate directly")
    val byKey: Map[Any, Map[Int, Int]] = rows.groupBy(_.get(0)).map {
      case (k, rs) => k -> rs.map(r =>
        r.getAs[Number](1).intValue -> r.getAs[Number](2).intValue).toMap
    }
    def estLocal(regs: Iterable[Int]): Long = {
      val wb = wBits(p); val mm = m(p)
      var sumscaled = 0L
      regs.foreach(r => sumscaled += 1L << (wb + 1 - r))
      val zeros = (mm - regs.size).toLong
      val denom = (sumscaled + zeros * (1L << (wb + 1))).toDouble
      val eRaw = alphaNumer(p) / denom
      val est =
        if (zeros > 0L && eRaw <= 2.5 * mm)
          mm.toDouble * math.log(mm.toDouble / zeros.toDouble)
        else eRaw
      java.math.BigDecimal.valueOf(est)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue.toLong
    }
    // key_a < key_b under SPARK's ordering for the key type (binary
    // UTF-8 for strings), not the JVM's — via the catalyst interpreted
    // ordering over converted values, so driver pairing can never
    // disagree with the DF form's `col("key_a") < col("key_b")`
    val toCat = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(keyDt)
    val ord = org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(keyDt)
    val keys = byKey.keys.toSeq
      .sortWith((a, b) => ord.compare(toCat(a), toCat(b)) < 0)
    // bound the OUTPUT rows too, not just the register frame: at p=8
    // the |keys|*m guard above admits up to 4096 keys = ~8.4M pair
    // rows materialized on the driver; the old DF path failed fast at
    // Eager.DefaultMaxRows output rows and so must this one
    // (ADVICE r18 low).
    require(keys.length.toLong * (keys.length - 1) / 2 <= Eager.DefaultMaxRows,
      s"pairwiseOverlap: ${keys.length} keys produce more than " +
        s"${Eager.DefaultMaxRows} pair rows - key cardinality is " +
        "outside the |keys|^2-sane-output contract; use " +
        "sketch/merge/estimate directly")
    val singles: Map[Any, Long] = byKey.map { case (k, m) => k -> estLocal(m.values) }
    val out = for {
      i <- keys.indices
      j <- (i + 1) until keys.length
    } yield {
      val (a, b) = (keys(i), keys(j))
      val ra = byKey(a); val rb = byKey(b)
      val union = (ra.keySet ++ rb.keySet).toSeq.map { bkt =>
        math.max(ra.getOrElse(bkt, 0), rb.getOrElse(bkt, 0))
      }
      val u = estLocal(union)
      org.apache.spark.sql.Row(a, b, singles(a), singles(b), u,
        singles(a) + singles(b) - u)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key_a", keyDt),
      org.apache.spark.sql.types.StructField("key_b", keyDt),
      org.apache.spark.sql.types.StructField("distinct_a",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("distinct_b",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("union_distinct",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("overlap_est",
        org.apache.spark.sql.types.LongType)))
    spark.createDataFrame(
      java.util.Arrays.asList(out: _*), schema)
  }
}
