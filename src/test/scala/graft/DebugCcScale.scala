package graft

import org.apache.spark.sql.functions._
import graft.operators.ConnectedComponents

/** Corpus-scale stress measurement of the distributed connected-
  * components path (the dedup-cluster backbone above the 4M-edge
  * driver-union-find cap) on the two adversarial graph shapes:
  *
  *   - chains of length L: diameter L — min-label propagation would
  *     need L rounds; alternating large-star/small-star must converge
  *     in O(log²) regardless (the reason that algorithm was chosen)
  *   - one hub with N−1 spokes: the mega-cluster / hot-key shape — the
  *     groupBy-min rounds must partial-aggregate, not reducer-sort
  *
  * Each run verifies the exact expected labeling (chain component g
  * labels to g·L; the star labels everything to the hub), so the
  * timing is of a CORRECT convergence. Calls `run` directly to force
  * the distributed path at any edge count.
  *
  * Usage: runMain graft.DebugCcScale [nNodes] [chainLen] [cpus]
  */
object DebugCcScale {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 1000000L
    val chainLen = if (args.length > 1) args(1).toLong else 1000L
    val cpus = if (args.length > 2) args(2).toInt else 16
    val spark = GraftSession.local(cpus)

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // chains: (i, i+1) within each length-L group → n/L components of
    // diameter L−1
    val chain = spark.range(n - 1).repartition(cpus)
      .where((col("id") + 1) % chainLen =!= 0)
      .select(col("id").as("a"), (col("id") + 1).as("b"))
    val (chainRes, chainS) = timed {
      val r = ConnectedComponents.run(chain, "a", "b").persist()
      r.count(); r
    }
    val chainBad = chainRes.where(
      col("cluster_id") =!= col("id") - pmod(col("id"), lit(chainLen))).count()
    val chainComponents = chainRes.select("cluster_id").distinct().count()
    // completeness, not just label correctness: every node must appear
    // exactly once — a run() regression that drops rows would otherwise
    // still read "exact"
    val chainNodes = chainRes.count()
    println(s"""{"metric":"cc_scale","shape":"chain","nodes":$n,"chain_len":$chainLen,"seconds":${f"$chainS%.2f"},"components":$chainComponents,"expected":${n / chainLen},"labeled_nodes":$chainNodes,"mislabeled":$chainBad}""")
    chainRes.unpersist()

    // star: hub 0 with n−1 spokes → one component labeled 0
    val star = spark.range(1, n).repartition(cpus)
      .select(lit(0L).as("a"), col("id").as("b"))
    val (starRes, starS) = timed {
      val r = ConnectedComponents.run(star, "a", "b").persist()
      r.count(); r
    }
    val starBad = starRes.where(col("cluster_id") =!= 0L).count()
    val starNodes = starRes.count()
    println(s"""{"metric":"cc_scale","shape":"star","nodes":$n,"seconds":${f"$starS%.2f"},"labeled_nodes":$starNodes,"mislabeled":$starBad}""")
    spark.stop()
  }
}
