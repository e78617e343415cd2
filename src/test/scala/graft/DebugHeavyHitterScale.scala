package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.CountMin

/** Measures the heavy-hitter shuffle-reduction claim at scale: on a
  * skewed synthetic stream (hot keys carrying ~12% of mass over a
  * 2M-key cold tail), the CMS pre-filter should admit ≈ only the hot
  * occurrences into the exact-count shuffle — the candidate fraction
  * is the measured number behind "the corpus-keyed shuffle carries
  * only candidate occurrences". Compares end-to-end wall time against
  * the naive exact form (groupBy ALL keys, then filter) and reports
  * the admitted-row fraction.
  *
  * `tailKeys` controls the cold-tail cardinality — the variable that
  * decides the winner: a bounded tail lets the naive form's map-side
  * partial aggregation collapse everything before its shuffle, while a
  * near-unique tail (tailKeys ≈ n) defeats partial combining and the
  * naive shuffle carries the whole tail.
  *
  * Usage: runMain graft.DebugHeavyHitterScale [n] [tailKeys] [cpus]
  */
object DebugHeavyHitterScale {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 50000000L
    val tailKeys = if (args.length > 1) args(1).toLong else 2000000L
    val cpus = if (args.length > 2) args(2).toInt else 16
    val spark = GraftSession.local(cpus)

    val depth = 4
    val width = 1024
    val phiInverse = 200L
    // 12% hot mass: 20 keys × n·0.6% each (≥ threshold n/200);
    // 88% cold tail spread over 2M keys (~22 occurrences each)
    val hotMass = (n * 12) / 100
    val df = spark.range(n).select(
        when(col("id") < hotMass, concat(lit("hot"), pmod(col("id"), lit(20))))
          .otherwise(concat(lit("cold"), pmod(xxhash64(col("id")), lit(tailKeys))))
          .as("token"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    df.count() // materialize outside the timers

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"TIME $label%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    val hh = time("CMS heavyHitters") {
      CountMin.heavyHitters(df, "token", phiInverse, depth, width)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val threshold = (n + phiInverse - 1) / phiInverse
    val naive = time("naive groupBy-then-filter") {
      df.groupBy(col("token")).agg(count(lit(1)).as("c"))
        .where(col("c") >= threshold)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(hh == naive,
      s"result mismatch: ${hh.size} vs ${naive.size} keys")

    // the measured claim: fraction of occurrences the pre-filter admits
    val sketch = CountMin.build(df, "token", depth, width).persist()
    sketch.count()
    val admitted = time("candidate-fraction count") {
      CountMin.estimateOccurrences(df, "token", sketch, depth, width)
        .where(col("cms_c") >= threshold).count()
    }
    println(f"HH n=$n hot_mass=$hotMass keys=${hh.size} " +
      f"admitted=$admitted (${admitted * 100.0 / n}%.2f%% of occurrences " +
      f"reach the exact-count shuffle; ideal = ${hotMass * 100.0 / n}%.1f%%)")
    spark.stop()
  }
}
