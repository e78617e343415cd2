package graft

import graft.queries.Catalog

/** Print the POST-EXECUTION adaptive plan for named queries and count
  * ReusedExchange / ReusedQueryStage occurrences — verifies that the
  * r18 persist-drops really share one exchange at runtime instead of
  * recomputing the corpus pass per consumer.
  * Usage: Test/runMain graft.DebugReuseCheck <sfDir> <query>...
  */
object DebugReuseCheck {
  def main(args: Array[String]): Unit = {
    val dir = args.head
    val spark = GraftSession.local(32)
    for (name <- args.tail) {
      val df = Catalog.all(name).build(spark, dir)
      df.collect()
      val s = df.queryExecution.executedPlan.toString
      val reused = "ReusedExchange|ReusedQueryStage|ReusedSubquery".r
        .findAllIn(s).length
      val scans = "Scan parquet".r.findAllIn(s).length
      println(s"REUSE $name reused=$reused scans=$scans stageids=" + "ShuffleQueryStage ([0-9]+)".r.findAllMatchIn(s).map(_.group(1)).toList.mkString(","))
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
