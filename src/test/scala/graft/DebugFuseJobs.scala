package graft

import org.apache.spark.sql.functions._

/** Job-level attribution for hybrid_fuse_build's 21 jobs (r19): each
  * arm in isolation with job/stage/task counts, then the fused
  * artifact build, so the job census says which arm owns the
  * scheduler round-trips.
  */
object DebugFuseJobs {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = GraftSession.local(32)
    import graft.queries.TextQueries
    val jobs = new java.util.concurrent.atomic.AtomicLong()
    val tasks = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          tasks.addAndGet(s.stageInfo.numTasks)
      })

    def time(label: String)(f: => Long): Unit = (1 to 2).foreach { i =>
      val j0 = jobs.get(); val k0 = tasks.get()
      val t0 = System.nanoTime()
      val n = f
      println(f"TIME $label%-26s run$i ${(System.nanoTime() - t0) / 1e9}%6.2f s " +
        f"jobs=${jobs.get() - j0}%3d tasks=${tasks.get() - k0}%5d rows=$n")
    }

    // artifacts pre-built, like Bench's ordering (fuse runs after both)
    TextQueries.bm25Index(spark, dir)
    TextQueries.maxsimPool(spark, dir)

    time("bm25 arm top-20") {
      graft.operators.TopNByKey.topN(TextQueries.bm25Scored(spark, dir),
        Seq("query_id"), col("score"), col("doc_id"), n = 20, asc = false).count()
    }
    time("fused (arms+rrf)") {
      TextQueries.hybridRrfFused(spark, dir).count()
    }
    spark.stop()
  }
}
