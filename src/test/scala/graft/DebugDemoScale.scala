package graft

import org.apache.spark.sql.functions.col

import graft.operators.{Ivf, RecallEval}
import graft.sources.VectorFormats

/** The reference bench matrix's largest cell (`bench.yaml:1-16`:
  * dimensions [128,256,768] × counts [100k,500k]; `examples/demo.rs:5-6`
  * runs the same N=500k, D=768 shape): build + recall sweep + the
  * client-concurrency QPS protocol (concurrency [1,4,8,16] × nprobe
  * [8,16,32], k=10), on seed-42 generated vectors. The committed
  * `recall_qps_bench.{json,md}` carried only the default sf0.1
  * workload; this main produces the missing demo-scale rows
  * (VERDICT r9 #3). Prints one JSON line.
  */
object DebugDemoScale {
  def main(args: Array[String]): Unit = {
    // flags first, then positional numerics — so "reuse"/"buildonly"
    // work in any position instead of crashing toLong
    val reuseFlag = args.contains("reuse")
    // "buildonly": stage-attributed build, skip the recall/QPS sweeps —
    // the VERDICT r10 #5 mode for the per-stage split and D-curve
    val buildOnly = args.contains("buildonly")
    val nums = args.filterNot(a => a == "reuse" || a == "buildonly")
    val n = nums.headOption.map(_.toLong).getOrElse(500000L)
    val dim = if (nums.length > 1) nums(1).toInt else 768
    val nq = if (nums.length > 2) nums(2).toInt else 200
    // D=768 makes intermediate collects (training pool, ground-truth
    // ranking) 6x the default workload's rows — raise the 1g default
    val spark = GraftSession.local(32, "spark.driver.maxResultSize" -> "8g")

    val vecPath = VectorFormats.generatedPath(spark, n, dim, 42L)
    val dataDir = new java.io.File(vecPath).getParent
    val emb = spark.read.parquet(vecPath)

    // "reuse" arg: load the previously-built index (S6 sidecar) so a
    // quiet-box re-measurement of the query sweeps doesn't pay the
    // build again; build_s is reported as 0 in that mode
    val reuse = reuseFlag &&
      new java.io.File(s"$dataDir/index/centroids").exists()
    val stages = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val t0 = System.nanoTime()
    val idx =
      if (reuse) Ivf.load(spark, s"$dataDir/index")
      else Ivf.build(emb, "vec_id", "embedding", s"$dataDir/index",
        onStage = (s, t) => stages += ((s, t)))
    val buildS = if (reuse) 0.0 else (System.nanoTime() - t0) / 1e9
    val stagesJs = stages
      .map { case (s, t) => f""""$s":$t%.1f""" }.mkString("{", ",", "}")

    if (buildOnly) {
      println(s"""{"metric":"demo_scale_build","n":$n,"dim":$dim,"k_clusters":${idx.k},"num_shards":${idx.numShards},"build_s":$buildS,"stages":$stagesJs}""")
      spark.stop()
      return
    }

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

    val qps = Seq(8, 16, 32).flatMap { np =>
      RecallEval.qpsSweep(spark, idx, queries, k = 10, nProbe = np,
        concurrency = Seq(1, 4, 8, 16), minDurationMs = 2000.0)
    }
    val qpsJs = qps.map { s =>
      f"""{"concurrency":${s.concurrency},"n_probe":${s.nProbe},"qps":${s.qps}%.1f,"ms_per_query":${s.msPerQuery}%.3f,"batches":${s.batches},"n_queries":${s.nQueries}}"""
    }.mkString("[", ",", "]")

    println(s"""{"metric":"demo_scale_bench","n":$n,"dim":$dim,"k_clusters":${idx.k},"num_shards":${idx.numShards},"build_s":$buildS,"nq":${queries.length},"settings":$js,"qps_sweep":$qpsJs}""")
    spark.stop()
  }
}
