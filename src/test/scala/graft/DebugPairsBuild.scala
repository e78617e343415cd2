package graft

/** Sub-stage decomposition of minhash_pairs_build (r19): the build is
  * two materializations — the signed-docs parquet (8-pass md5
  * signature over the corpus) and the verified-pairs parquet (band +
  * candidates + Jaccard verify). Times each with job/task counts to
  * locate the 3.5 s.
  */
object DebugPairsBuild {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args.head else "/root/testdata/sf0.1"
    val spark = GraftSession.local(32)
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
    spark.range(1000000L).selectExpr("sum(id)").collect()
    graft.Tables.documents(spark, dir).count()
    def t[A](label: String)(f: => A): A = {
      val j0 = jobs.get(); val k0 = tasks.get()
      val t0 = System.nanoTime(); val r = f
      println(f"SUB $label%-22s ${(System.nanoTime() - t0) / 1e9}%6.2f s " +
        f"jobs=${jobs.get() - j0}%3d tasks=${tasks.get() - k0}%5d")
      r
    }
    val signed = t("signed_docs write") {
      graft.queries.DedupQueries.signedDocsPath(spark, dir)
    }
    println(s"signed at $signed")
    t("verified_pairs write") {
      graft.queries.DedupQueries.verifiedPairsPath(spark, dir)
    }
    spark.stop()
  }
}
