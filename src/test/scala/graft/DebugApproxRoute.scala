package graft

import org.apache.spark.sql.functions.col
import graft.operators.{Ivf, RecallEval}
import graft.sources.VectorFormats

/** End-to-end recall on the APPROXIMATE routing regime (VERDICT r6 #4):
  * the k > ApproxRoutingThreshold hierarchical path is gated by
  * ProbeRouterSpec capture floors, but those measure the router in
  * isolation. Here the reference-default workload (N=100k, D=128,
  * seed 42 — DebugRefScale's table) is searched TWICE through the real
  * `Ivf.searchBatch` path: once with the default exact router, once
  * with `approxRouting` forced below k so the hierarchical
  * O(√k + 16n) router routes every query. Prints one JSON line per
  * router with recall@{1,10,100} per n_probe plus the per-query routed
  * distance work, so the recall cost of the approximate regime is a
  * committed curve (SCALE.md) instead of a prediction.
  */
object DebugApproxRoute {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(100000L)
    val dim = if (args.length > 1) args(1).toInt else 128
    val nq = if (args.length > 2) args(2).toInt else 200
    val spark = GraftSession.local(32)

    val vecPath = VectorFormats.generatedPath(spark, n, dim, 42L)
    val dataDir = new java.io.File(vecPath).getParent
    val emb = spark.read.parquet(vecPath)
    val exactIdx = Ivf.build(emb, "vec_id", "embedding", s"$dataDir/index")
    // force the hierarchical router for every routed search; probe-all
    // (the ground truth) stays exact because 16n >= k covers the pool
    val approxIdx = exactIdx.copy(approxRouting = 2)

    val queries = RecallEval.perturbedQueries(
      emb.where(col("vec_id") < nq).select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)),
      scale = 0.5f)
    val nProbes = Seq(1, 2, 4, 8, 16, 32, 64)
    // meta-probe sweep (VERDICT r7 #5): m is the meta-cell expansion
    // FLOOR — the recall-vs-routed-work Pareto curve per m decides the
    // default the 100×-scale story wants
    val routers = ("exact" -> exactIdx) +: Seq(3, 5, 8).map(m =>
      s"hier_m$m" -> approxIdx.copy(metaProbe = m))
    routers.foreach { case (label, idx) =>
      val settings = RecallEval.recallsOneScan(spark, idx, queries,
        k = 100, nProbes = nProbes, ranks = Seq(1, 10, 100))
      // routed work averaged over the query batch — a single query's
      // pool size varies with its cell's member counts
      val work = nProbes.map { np =>
        np -> queries.map(q => idx.router.routedWork(q._2, np).toLong)
          .sum / queries.length
      }.toMap
      val js = settings.map { s =>
        f"""{"n_probe":${s.nProbe},"recall_1":${s.recalls(1)}%.4f,"recall_10":${s.recalls(10)}%.4f,"recall_100":${s.recalls(100)}%.4f,"routed_dists":${work(s.nProbe)}}"""
      }.mkString("[", ",", "]")
      println(s"""{"metric":"approx_route","router":"$label","n":$n,"dim":$dim,"k_clusters":${idx.k},"nq":${queries.length},"settings":$js}""")
    }
    spark.stop()
  }
}
