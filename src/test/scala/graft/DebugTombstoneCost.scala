package graft

import org.apache.spark.sql.functions._
import graft.operators.Ivf

/** Timed measurement of what the delete lifecycle COSTS at search time
  * and what each lifecycle step amortizes away — the numbers behind
  * round 14's convergent maintenance trigger:
  *
  *   1. merge_on_read: every search pays a broadcast anti-join whose
  *      build side is the full tombstone set and whose probe HITS
  *      (deleted rows are still in the files);
  *   2. post-maintain (tombstone-only debt → compact + materialization
  *      marker): the anti-join still runs (sidecar carried for coded
  *      siblings) but probes hit nothing — and `compactRecommended`
  *      has gone false, so no scheduler re-compacts;
  *   3. post-clear: the anti-join is gone entirely.
  *
  * Also times the tombstone-only `maintain` itself — the one-shot cost
  * the old trigger mismatch refused to pay while flagging it forever.
  * Warm medians over repeated probe-pruned searches. One JSON line.
  *
  * Usage: runMain graft.DebugTombstoneCost [n] [dim] [cpus] [reps] [stride]
  * (stride: delete every stride-th id — 20 ⇒ 5%, 4 ⇒ 25%)
  */
object DebugTombstoneCost {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 200000L
    val dim = if (args.length > 1) args(1).toInt else 32
    val cpus = if (args.length > 2) args(2).toInt else 16
    val reps = if (args.length > 3) args(3).toInt else 15
    val stride = if (args.length > 4) args(4).toLong else 20L
    val spark = GraftSession.local(cpus)

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val tbl = graft.sources.VectorFormats.generate(spark, n, dim, 7L)
    val dir = s"/tmp/graft_tombcost_${n}_$dim"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val idx = Ivf.build(tbl, "vec_id", "embedding", s"$dir/index")

    val q = tbl.where(col("vec_id") === 21L)
      .select("embedding").head().getSeq[Float](0).toArray

    // median warm latency of the production-shaped search (pruned scan,
    // default-ish probe budget), after two untimed warmups
    def warmMedian(): Double = {
      (0 until 2).foreach(_ =>
        Ivf.search(spark, idx, q, k0 = 10, nProbe0 = 64).collect())
      val ts = (0 until reps).map { _ =>
        timed(Ivf.search(spark, idx, q, k0 = 10, nProbe0 = 64).collect())._2
      }.sorted
      ts(ts.length / 2)
    }

    val delIds = (0L until n by stride).toSeq
    Ivf.delete(spark, idx, delIds)
    require(!Ivf.search(spark, idx, q, 10, 64).collect()
      .map(_.getLong(0)).contains(20L))
    val mergeOnRead = warmMedian()
    val s1 = Ivf.maintenanceStats(spark, idx)
    require(s1.unmaterializedTombstones == delIds.length,
      s"expected ${delIds.length} unmaterialized, got $s1")

    // tombstone-ONLY debt: file threshold far above actual fragmentation
    val (outcome, maintainS) =
      timed(Ivf.maintain(spark, idx, maxFilesPerShard = 1000000))
    require(outcome.isInstanceOf[Ivf.MaintainCompacted],
      s"expected tombstone-debt compact, got $outcome")
    val s2 = Ivf.maintenanceStats(spark, idx)
    require(s2.unmaterializedTombstones == 0L &&
      s2.tombstones == delIds.length &&
      !s2.compactRecommended(1000000), s"did not converge: $s2")
    val materialized = warmMedian()

    Ivf.clearTombstones(spark, idx)
    val cleared = warmMedian()
    require(spark.read.parquet(idx.vectorsPath).count() == n - delIds.length)

    println(f"""{"metric":"tombstone_cost","n":$n,"dim":$dim,"deleted":${delIds.length},"search_merge_on_read_s":$mergeOnRead%.4f,"maintain_tomb_only_s":$maintainS%.2f,"search_materialized_s":$materialized%.4f,"search_cleared_s":$cleared%.4f}""")
    spark.stop()
  }
}
