package graft

import org.apache.spark.sql.functions._

/** A/B of the annJoin probe-routing forms over a corpus-sized query
  * side: the codegen [[graft.operators.RouteTopN]] expression vs the
  * previous boxed `Seq[Float]` UDF, at representative (k, D) cells.
  * Identical probe sets are asserted via a checksum. The routing math
  * is the same `ProbeRouter.topN` either way — what the A/B isolates
  * is the per-row converter cost (one boxed Float per element per row
  * on the UDF path).
  *
  * Usage: runMain graft.DebugRouteTopN [nRows] [cpus]
  */
object DebugRouteTopN {
  def main(args: Array[String]): Unit = {
    val nRows = if (args.length > 0) args(0).toLong else 2000000L
    val cpus = if (args.length > 1) args(1).toInt else 16
    val spark = GraftSession.local(cpus)

    def run(k: Int, d: Int, np: Int): Unit = {
      // deterministic centroids (hash-derived), built once driver-side
      val rnd = new scala.util.Random(42 + k * 31 + d)
      val centroids = Array.fill(k)(Array.fill(d)(rnd.nextFloat()))
      val router = new graft.operators.KMeans.ProbeRouter(centroids, 42L)
      val routerB = spark.sparkContext.broadcast(router)
      // columnar synthetic embeddings: hash-mixed floats in [0,1)
      val emb = spark.range(nRows).select(col("id"),
        transform(sequence(lit(0), lit(d - 1)),
          i => (pmod(hash(col("id") * d + i), lit(1000)) / lit(1000.0f))
            .cast("float")).as("e"))
      val probeUdf = udf((q: Seq[Float]) =>
        routerB.value.topN(q.toArray, np).toSeq)

      def time(label: String)(f: => Long): Long = {
        var s = -1L
        (1 to 2).foreach { i =>
          val t0 = System.nanoTime()
          s = f
          println(f"TIME k=$k%-5d d=$d%-4d $label%-6s run$i ${(System.nanoTime() - t0) / 1e9}%6.2f s checksum=$s")
        }
        s
      }
      // checksum = sum over rows of (first probe id + last probe id):
      // any per-row divergence in the probe set shifts it
      val c1 = time("expr") {
        emb.select(graft.operators.RouteTopN.col(col("e"), routerB, np)
            .as("p"))
          .select(sum(element_at(col("p"), 1) +
            element_at(col("p"), np)).as("s"))
          .collect()(0).getLong(0)
      }
      val c2 = time("udf") {
        emb.select(probeUdf(col("e")).as("p"))
          .select(sum(element_at(col("p"), 1) +
            element_at(col("p"), np)).as("s"))
          .collect()(0).getLong(0)
      }
      assert(c1 == c2, s"probe checksums disagree at k=$k d=$d: $c1 vs $c2")
      routerB.destroy()
    }

    // flat-routing regime (k <= approxThreshold) and the hierarchical
    // regime (k beyond it), small and large D
    run(k = 256, d = 64, np = 10)
    run(k = 256, d = 256, np = 10)
    run(k = 2048, d = 64, np = 10)
    run(k = 2048, d = 256, np = 10)
    spark.stop()
  }
}
