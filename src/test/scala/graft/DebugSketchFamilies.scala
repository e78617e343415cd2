package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.Hash60
import graft.operators.{CountMin, Hll}

/** The COMPOSED production-family measurement (VERDICT r10 #2): round 10
  * measured `Hash60.xx` per-operator (HLL 65× vs exact at 200M, CMS
  * xxSalted 36× vs md5Salted at 50M) but no artifact showed a full
  * sketch WORKLOAD end-to-end under each family — the number a
  * production deployment actually sees. This harness replays the three
  * catalog sketch-pipeline shapes at ≥50M rows under md5 (oracle
  * default) and xx (production):
  *
  *   - `cms_heavy_hitters`: CountMin.heavyHitters end-to-end — build
  *     (depth×width groupBy) + map-side candidate estimate (4 broadcast
  *     joins) + exact cut. 8 hash evaluations per row per family.
  *   - `cms_token_counts`: build + exact top-20 + point estimates.
  *   - `hll_user_overlap`: pairwiseOverlap — register build + the
  *     broadcast-only register algebra over all key pairs.
  *
  * Input mirrors the corpus shapes the catalog queries run on: Zipf-ish
  * STRING tokens (freq(K) ∝ 1/K², ~2√N distinct, 13 true heavy hitters
  * at φ⁻¹=200) so the md5 family pays its real per-row string-salt
  * cost, and an (8-type, long user) pair for the overlap shape where
  * md5's value canonicalization pays the long→string cast xx skips.
  * Families are timed on identical persisted input; accuracy asserts
  * pin that BOTH families return the same heavy-hitter set (exactness
  * is family-agnostic) and overlap estimates within sketch sigma.
  */
object DebugSketchFamilies {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 50000000L
    val spark = GraftSession.local(16)

    // Zipf-ish tokens: u uniform in [0,n) via hashed id; K = n/(u+1)
    // occurs ~n/(K(K+1)) times -> freq ∝ 1/K², vocab ~2√n.
    val toks = spark.range(n).select(
        concat(lit("tok"),
          (lit(n) / (pmod(xxhash64(col("id")), lit(n)) + 1)).cast("long"))
          .as("token"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val events = spark.range(n).select(
        concat(lit("type"), col("id") % 8).as("event_type"),
        (pmod(xxhash64(col("id") + 7), lit(n / 4)) +
          (col("id") % 8) * lit(n / 8)).as("user_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    toks.count(); events.count() // materialize outside the timers

    def time[T](label: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"TIME $label%-40s $s%.2f s")
      (r, s)
    }

    def composed(famName: String, salted: (Column, Int) => Column,
        unsalted: Column => Column): (Map[String, Long], Seq[Double], Double) = {
      println(s"== family: $famName ==")
      val (hh, tHh) = time(s"cms_heavy_hitters shape [$famName]") {
        CountMin.heavyHitters(toks, "token", phiInverse = 200L,
            depth = 4, width = 1024, salted)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      val (_, tTc) = time(s"cms_token_counts shape [$famName]") {
        val sketch = CountMin.build(toks, "token", 4, 1024, salted)
        val top = toks.groupBy(col("token"))
          .agg(count(lit(1)).as("exact_c"))
          .orderBy(col("exact_c").desc, col("token")).limit(20)
        CountMin.estimate(sketch, top, "token", 4, 1024, salted).collect()
      }
      val (ov, tOv) = time(s"hll_user_overlap shape [$famName]") {
        Hll.pairwiseOverlap(events, "event_type", col("user_id"),
            Hll.P, unsalted)
          .select("distinct_a", "distinct_b", "union_distinct")
          .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1),
            r.getLong(2)).map(_.toDouble)).toSeq
      }
      val total = tHh + tTc + tOv
      println(f"COMPOSED family=$famName total=$total%.2f s " +
        f"(hh=$tHh%.2f tc=$tTc%.2f ov=$tOv%.2f)")
      (hh, ov, total)
    }

    val (hhMd5, ovMd5, tMd5) = composed("md5", Hash60.md5Salted, Hash60.md5)
    val (hhXx, ovXx, tXx) = composed("xx", Hash60.xxSalted, Hash60.xx)

    // heavyHitters is EXACT (sketch only pre-filters), so the sets must
    // be identical across families — a divergence means a family broke
    // the one-sided guarantee
    require(hhMd5 == hhXx,
      s"family-dependent heavy hitters: ${hhMd5.keySet.diff(hhXx.keySet)} " +
        s"/ ${hhXx.keySet.diff(hhMd5.keySet)}")
    // the DIRECT HLL estimates (per-key distinct, pairwise union) must
    // agree across families within a few sketch sigmas (1.04/√2^p each,
    // independent hash noise). overlap_est itself is deliberately NOT
    // cross-compared: inclusion–exclusion makes it a small difference
    // of three large estimates, so its RELATIVE error is unbounded by
    // design (SketchSpec gates its absolute sigma-scaled accuracy).
    val sigma = 1.04 / math.sqrt(1 << Hll.P)   // 6.5% at P=8
    val bound = 4.0 * math.sqrt(2.0) * sigma   // 4 combined sigmas
    ovMd5.zip(ovXx).foreach { case (a, b) =>
      require((a - b).abs / math.max(a, b) < bound,
        s"family distinct/union estimates diverge beyond sigma: $a vs $b")
    }
    println(f"SUMMARY n=$n md5_total=$tMd5%.2f s xx_total=$tXx%.2f s " +
      f"speedup=${tMd5 / tXx}%.2f x hh=${hhMd5.size}")
    spark.stop()
  }
}
