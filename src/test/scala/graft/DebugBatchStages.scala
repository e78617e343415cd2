package graft

/** Jobs/stages/tasks census for the contention-sensitive batch-search
  * entries (VERDICT r16 #5): `ivf_search_batch_all` inflated 9.3× in
  * the contended official window while compute-bound entries ran 1.0×,
  * which usually means the most scheduler barriers per unit work. This
  * harness counts what one warm evaluation actually schedules, for the
  * batch entries and a compute-bound control, so SCALE.md can record
  * the before/after of any fusion.
  *
  * Run: sbt "Test/runMain graft.DebugBatchStages /root/testdata/sf0.1"
  */
object DebugBatchStages {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local(32)

    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val stages = new java.util.concurrent.atomic.AtomicInteger()
    val tasks = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        stages.addAndGet(j.stageInfos.size)
        tasks.addAndGet(j.stageInfos.map(_.numTasks).sum)
      }
    }

    val names = Seq("ivf_search_batch_all", "ivf_search_batch_default",
      "knn_batch", "ivf_search_default", "maxsim_top_docs")
    val defs = graft.queries.Catalog.all
    // warm everything once (index/model builds, codegen) so the census
    // measures the steady-state pass-2 shape the bench's t2 measures
    names.foreach(n => defs(n).build(spark, dir).count())
    names.foreach { n =>
      jobs.set(0); stages.set(0); tasks.set(0)
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      defs(n).build(spark, dir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      // listener bus is async; drain before reading counters
      Thread.sleep(300)
      println(f"STAGES $n%-28s jobs=${jobs.get()}%3d " +
        f"stages=${stages.get()}%3d tasks=${tasks.get()}%5d t=$sec%.3f s")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
