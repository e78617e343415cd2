package graft

/** Decompose maxsim_ann_top_docs: per-job wall times (listener) during
  * the builder (eager candidate collect) and the count action, to see
  * where its ~1.1 s goes. r19 measurement harness.
  *
  * Usage: Test/runMain graft.DebugMsAnn <sfDir> <reps> <query>
  */
object DebugMsAnn {
  def main(args: Array[String]): Unit = {
    val dir = args.head
    val reps = args(1).toInt
    val name = if (args.length > 2) args(2) else "maxsim_ann_top_docs"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    val jobLog =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, Int)]()
    val starts =
      new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          starts.put(j.jobId, System.nanoTime())
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val s = starts.getOrDefault(j.jobId, 0L)
          jobLog.add((j.jobId, s, System.nanoTime(), 0))
        }
      })
    spark.range(1000000L).selectExpr("sum(id)").collect()
    graft.Tables.names.foreach { t =>
      try graft.Tables.load(spark, dir, t).count()
      catch { case _: Throwable => () }
    }
    graft.queries.Catalog.all(name).build(spark, dir).count()
    for (r <- 1 to reps) {
      Thread.sleep(200)
      jobLog.clear()
      val t0 = System.nanoTime()
      val df = graft.queries.Catalog.all(name).build(spark, dir)
      val t1 = System.nanoTime()
      df.count()
      val t2 = System.nanoTime()
      spark.catalog.clearCache()
      println(f"RUN rep$r builder=${(t1 - t0) / 1e9}%6.3f exec=${(t2 - t1) / 1e9}%6.3f")
      val it = jobLog.iterator()
      while (it.hasNext) {
        val (id, s, e, _) = it.next()
        val phase = if (s < t1) "builder" else "action "
        println(f"  job $id%3d $phase start=${(s - t0) / 1e9}%6.3f dur=${(e - s) / 1e9}%6.3f")
      }
    }
    spark.stop()
  }
}
