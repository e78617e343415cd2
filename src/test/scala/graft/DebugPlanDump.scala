package graft

import graft.queries.Catalog

/** Dump .explain("formatted") for catalog queries into per-query files —
  * the plans/r18/<query>_<tag>.txt artifacts the optimization round
  * commits as before/after evidence.
  *
  * Usage: Test/runMain graft.DebugPlanDump <sfDir> <outDir> <tag> <query>...
  *        (query "ALL" = every benched catalog entry)
  */
object DebugPlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    val names =
      if (args.drop(3).sameElements(Array("ALL")))
        Catalog.all.filter(_._2.bench).keys.toSeq.sorted
      else args.drop(3).toSeq
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) {
      try {
        val df = Catalog.all(name).build(spark, dir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"),
          plan.getBytes("UTF-8"))
        spark.catalog.clearCache()
        println(s"DUMPED $name")
      } catch {
        case e: Throwable => println(s"FAILED $name: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
