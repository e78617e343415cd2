package graft

import org.apache.spark.sql.functions.col
import graft.operators.{Ivf, RecallEval}
import graft.sources.VectorFormats

/** Reference-default workload (BASELINE.md: N=100k, D=128, k=100,
  * nprobe sweep, seed 42) on generated vectors — exercises the
  * hierarchical assignment path (k = 2⌈√100k⌉ = 634 > 100) at the
  * scale the reference's own bench defaults to. Prints one JSON line.
  */
object DebugRefScale {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(100000L)
    val dim = if (args.length > 1) args(1).toInt else 128
    val nq = if (args.length > 2) args(2).toInt else 200
    val spark = GraftSession.local(32)

    val vecPath = VectorFormats.generatedPath(spark, n, dim, 42L)
    val dataDir = new java.io.File(vecPath).getParent
    val emb = spark.read.parquet(vecPath)

    val t0 = System.nanoTime()
    val idx = Ivf.build(emb, "vec_id", "embedding", s"$dataDir/index")
    val buildS = (System.nanoTime() - t0) / 1e9

    // assignment parity vs brute force on a 2000-row sample: at
    // k > HierarchicalThreshold the build assigns through the 2-level
    // approximate path, so stored centroid_id may differ from the
    // global argmin — measure how often (parity) and how much it costs
    // (mean dist(assigned)/dist(best), 1.0 = always optimal)
    val sample = spark.read.parquet(idx.vectorsPath)
      .where(col("vec_id") < 2000)
      .select("vec_id", "embedding", "centroid_id").collect()
    var agree = 0
    var ratioSum = 0.0
    sample.foreach { r =>
      val v = r.getSeq[Float](1).toArray
      val assigned = r.getInt(2)
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < idx.centroids.length) {
        val d = graft.operators.KMeans.sqDist(v, idx.centroids(c))
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      if (best == assigned) agree += 1
      ratioSum += (if (bestD == 0.0) 1.0
        else graft.operators.KMeans.sqDist(v, idx.centroids(assigned)) / bestD)
    }
    val assignParity = agree.toDouble / math.max(1, sample.length)
    val assignDistRatio = ratioSum / math.max(1, sample.length)

    val queries = RecallEval.perturbedQueries(
      emb.where(col("vec_id") < nq).select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)),
      scale = 0.5f)
    val settings = RecallEval.sweep(spark, idx, queries, k = 100,
      nProbes = Seq(1, 2, 4, 8, 16, 32, 64), ranks = Seq(1, 10, 100),
      minDurationMs = 3000.0)
    val js = settings.map { s =>
      f"""{"n_probe":${s.nProbe},"recall_1":${s.recalls(1)}%.4f,"recall_10":${s.recalls(10)}%.4f,"recall_100":${s.recalls(100)}%.4f,"ms_per_query":${s.msPerQuery}%.2f,"qps":${1000.0 / s.msPerQuery}%.1f}"""
    }.mkString("[", ",", "]")
    println(f"""{"metric":"ref_scale","n":$n,"dim":$dim,"k_clusters":${idx.k},"num_shards":${idx.numShards},"build_s":$buildS,"assign_parity":$assignParity%.4f,"assign_dist_ratio":$assignDistRatio%.4f,"nq":${queries.length},"settings":$js}""")

    // compression path at the same scale: PQ8 codebooks + coded sibling
    // dataset, batch ADC search, recall vs the float ground truth
    import graft.operators.{IvfPq, Pq}
    val pqT0 = System.nanoTime()
    val model = Pq.train(emb, "embedding", dim, m = 8, ksub = 256,
      orderCol = Some("vec_id"))
    val trainS = (System.nanoTime() - pqT0) / 1e9
    val encT0 = System.nanoTime()
    IvfPq.buildCodes(spark, idx, model, s"$dataDir/pq_codes")
    val encodeS = (System.nanoTime() - encT0) / 1e9
    val gt = Ivf.searchBatch(spark, idx, queries, 1, 10000)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val pqJs = Seq(8, 32, 10000).map { np =>
      val t0 = System.nanoTime()
      val rows = IvfPq.searchBatch(spark, idx, model, s"$dataDir/pq_codes",
        queries, 100, np).collect()
      val msQ = (System.nanoTime() - t0) / 1e6 / queries.length
      val byQ = rows.groupBy(_.getLong(0)).map { case (qid, rs) =>
        qid -> rs.sortBy(_.getInt(1)).map(_.getLong(2))
      }
      def recallAt(rank: Int): Double = queries.count { case (qid, _) =>
        byQ.get(qid).exists(_.take(rank).contains(gt(qid)))
      }.toDouble / queries.length
      f"""{"n_probe":$np,"recall_1":${recallAt(1)}%.4f,"recall_10":${recallAt(10)}%.4f,"recall_100":${recallAt(100)}%.4f,"ms_per_query":$msQ%.2f}"""
    }.mkString("[", ",", "]")
    println(f"""{"metric":"ref_scale_ivfpq","pq_train_s":$trainS%.1f,"encode_s":$encodeS%.1f,"settings":$pqJs}""")
    spark.stop()
  }
}
