package graft

import graft.queries.Catalog

/** Per-query cost decomposition for the r18 optimization round:
  * planning time (analysis+optimization+physical planning, forced via
  * queryExecution.executedPlan on a fresh DataFrame) vs execution time
  * (the bench's .count() action), plus scheduler-side counts (jobs,
  * stages, tasks) from a listener — the measurement §1 of the
  * optimization guide asks for before any change, telling apart
  * driver-side constant cost from cluster work per query.
  *
  * Usage: Test/runMain graft.DebugProfile <sfDir> <reps> <query>...
  *        (query "ALL" = every benched catalog entry)
  * Output: one line per query with min-over-reps plan/exec seconds and
  * the per-rep job/stage/task counts of the LAST rep (steady state).
  */
object DebugProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.head
    val reps = args(1).toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    val jobs = new java.util.concurrent.atomic.AtomicLong()
    val stages = new java.util.concurrent.atomic.AtomicLong()
    val tasks = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          tasks.addAndGet(s.stageInfo.numTasks)
        }
      })
    val names =
      if (args.drop(2).sameElements(Array("ALL")))
        Catalog.all.filter(_._2.bench).keys.toSeq.sorted
      else args.drop(2).toSeq
    // warm-up comparable to Bench's
    spark.range(1000000L).selectExpr("sum(id)").collect()
    graft.Tables.names.foreach { t =>
      try graft.Tables.load(spark, dir, t).count()
      catch { case _: Throwable => () }
    }
    for (name <- names) {
      var bestPlan = Double.MaxValue
      var bestExec = Double.MaxValue
      var lastJobs = 0L; var lastStages = 0L; var lastTasks = 0L
      var rows = -1L
      for (_ <- 1 to reps) {
        val t0 = System.nanoTime()
        val df = Catalog.all(name).build(spark, dir)
        df.queryExecution.executedPlan // force analyze+optimize+plan
        val t1 = System.nanoTime()
        val j0 = jobs.get(); val s0 = stages.get(); val k0 = tasks.get()
        rows = df.count()
        val t2 = System.nanoTime()
        spark.catalog.clearCache()
        bestPlan = math.min(bestPlan, (t1 - t0) / 1e9)
        bestExec = math.min(bestExec, (t2 - t1) / 1e9)
        lastJobs = jobs.get() - j0; lastStages = stages.get() - s0
        lastTasks = tasks.get() - k0
      }
      println(f"PROFILE $name%-28s plan=$bestPlan%7.3f exec=$bestExec%7.3f " +
        f"jobs=$lastJobs%3d stages=$lastStages%3d tasks=$lastTasks%5d rows=$rows")
    }
    spark.stop()
  }
}
