package graft

import org.apache.spark.sql.functions.col
import graft.operators.RecallEval
import graft.queries.IndexQueries

/** Standalone recall/QPS bench main following the reference's protocol
  * (BASELINE.md): nprobe sweep {1,2,4,8,16,32,64}, k=100, recall@1/10/100,
  * ms/query + QPS per setting. Prints one JSON line.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.RecallBench"
  */
object RecallBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)

    val t0 = System.nanoTime()
    val idx = IndexQueries.index(spark, sfDir)
    val buildS = (System.nanoTime() - t0) / 1e9
    val queries = RecallEval.perturbedQueries(
      Tables.embeddings(spark, sfDir)
        .where(col("vec_id") < 100).select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)),
      scale = 0.5f)

    val minMs = sys.env.getOrElse("SPARK_GRAFT_MIN_TEST_MS", "3000").toDouble
    val settings = RecallEval.sweep(spark, idx, queries, k = 100,
      nProbes = Seq(1, 2, 4, 8, 16, 32, 64), ranks = Seq(1, 10, 100),
      minDurationMs = minMs)
    val js = settings.map { s =>
      f"""{"n_probe":${s.nProbe},"recall_1":${s.recalls(1)}%.4f,"recall_10":${s.recalls(10)}%.4f,"recall_100":${s.recalls(100)}%.4f,"ms_per_query":${s.msPerQuery}%.2f,"qps":${1000.0 / s.msPerQuery}%.1f}"""
    }.mkString("[", ",", "]")

    // concurrency × n_probe QPS sweep — the reference's client-
    // concurrency protocol (bench.yaml: concurrency [1,4,8,16],
    // nprobe [8,16,32], fixed duration per setting; k=10)
    val qpsMs = sys.env.getOrElse("SPARK_GRAFT_QPS_MS", "2000").toDouble
    val qps = Seq(8, 16, 32).flatMap { np =>
      RecallEval.qpsSweep(spark, idx, queries, k = 10, nProbe = np,
        concurrency = Seq(1, 4, 8, 16), minDurationMs = qpsMs)
    }
    val qpsJs = qps.map { s =>
      f"""{"concurrency":${s.concurrency},"n_probe":${s.nProbe},"qps":${s.qps}%.1f,"ms_per_query":${s.msPerQuery}%.3f,"batches":${s.batches},"n_queries":${s.nQueries}}"""
    }.mkString("[", ",", "]")

    // persist the reference-shaped artifacts (bench_all_ivf.save_results
    // writes JSON + a markdown table) — best-effort, cwd may be RO
    val json =
      s"""{"metric":"recall_qps_bench","build_s":$buildS,"k":100,"nq":${queries.length},"settings":$js,"qps_sweep":$qpsJs,"sf":"$sfDir"}"""
    try {
      val outDir = java.nio.file.Paths.get("bench-series")
      java.nio.file.Files.createDirectories(outDir)
      java.nio.file.Files.write(
        outDir.resolve("recall_qps_bench.json"),
        (json + "\n").getBytes("UTF-8"))
      val md = new StringBuilder
      md ++= "# Recall / QPS bench (reference protocol)\n\n"
      md ++= f"- sf=$sfDir, build ${buildS}%.1f s, nq=${queries.length}, k=100 (recall) / 10 (QPS)\n\n"
      md ++= "| n_probe | R@1 | R@10 | R@100 | ms/query | QPS |\n"
      md ++= "|---------|-----|------|-------|----------|-----|\n"
      settings.foreach { s =>
        md ++= f"| ${s.nProbe} | ${s.recalls(1)}%.4f | ${s.recalls(10)}%.4f | ${s.recalls(100)}%.4f | ${s.msPerQuery}%.2f | ${1000.0 / s.msPerQuery}%.1f |\n"
      }
      md ++= "\n| concurrency | n_probe | ms/query | QPS |\n"
      md ++= "|-------------|---------|----------|-----|\n"
      qps.foreach { s =>
        md ++= f"| ${s.concurrency} | ${s.nProbe} | ${s.msPerQuery}%.3f | ${s.qps}%.1f |\n"
      }
      java.nio.file.Files.write(
        outDir.resolve("recall_qps_bench.md"),
        md.toString.getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[recall-bench] artifact write failed: ${e.getMessage}")
    }
    println(json)
    spark.stop()
  }
}
