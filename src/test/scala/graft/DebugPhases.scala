package graft

import graft.queries.Catalog

/** Catalyst phase decomposition per query: where "plan time" actually
  * goes (analysis / optimization / physical planning via
  * QueryPlanningTracker) vs builder driver-side work (eager collects
  * inside builders), measured warm (min over reps). r19 measurement
  * harness — answers whether plan seconds are Catalyst or builder.
  *
  * Usage: Test/runMain graft.DebugPhases <sfDir> <reps> <query>...
  */
object DebugPhases {
  def main(args: Array[String]): Unit = {
    val dir = args.head
    val reps = args(1).toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    graft.Tables.names.foreach { t =>
      try graft.Tables.load(spark, dir, t).count()
      catch { case _: Throwable => () }
    }
    for (name <- args.drop(2).toSeq) {
      var bestBuild = Double.MaxValue
      var bestForce = Double.MaxValue
      var phases = Map.empty[String, Long]
      for (_ <- 1 to reps) {
        val t0 = System.nanoTime()
        val df = Catalog.all(name).build(spark, dir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        spark.catalog.clearCache()
        if ((t2 - t1) / 1e9 < bestForce) {
          bestForce = (t2 - t1) / 1e9
          phases = df.queryExecution.tracker.phases.map {
            case (k, v) => k -> (v.endTimeMs - v.startTimeMs)
          }
        }
        bestBuild = math.min(bestBuild, (t1 - t0) / 1e9)
      }
      val ph = phases.toSeq.sortBy(_._1)
        .map { case (k, ms) => f"$k=${ms}ms" }.mkString(" ")
      println(f"PHASES $name%-28s builder=$bestBuild%7.3f force=$bestForce%7.3f $ph")
    }
    spark.stop()
  }
}
