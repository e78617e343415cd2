package graft

import org.apache.spark.sql.functions._

/** Stage attribution for hybrid_rrf_top_docs at sf0.1: times each arm
  * in isolation (artifacts pre-built), then the fusion. Run twice per
  * stage — second number is the steady state.
  */
object DebugHybridStages {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = GraftSession.local(32)
    import graft.queries.TextQueries

    def time(label: String)(f: => Long): Unit = (1 to 2).foreach { i =>
      val t0 = System.nanoTime()
      val n = f
      println(f"TIME $label%-22s run$i ${(System.nanoTime() - t0) / 1e9}%6.2f s rows=$n")
      spark.catalog.clearCache()
    }

    // warm the artifacts once (bench does the same)
    TextQueries.bm25Index(spark, dir)
    TextQueries.maxsimPool(spark, dir)

    time("bm25 scored pairs") {
      TextQueries.bm25Scored(spark, dir).count()
    }
    time("bm25 arm top-20") {
      graft.operators.TopNByKey.topN(TextQueries.bm25Scored(spark, dir),
        Seq("query_id"), col("score"), col("doc_id"), n = 20, asc = false).count()
    }
    time("fused (both arms+rrf)") {
      TextQueries.hybridRrfFused(spark, dir).count()
    }
    time("full hybrid top-5") {
      TextQueries.hybridRrfTopDocs(spark, dir).count()
    }
    spark.stop()
  }
}
