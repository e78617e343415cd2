package graft

/** Dev smoke runner mirroring the driver's t1 check: SparkEntry.entry
  * must return >0 rows on sf0.001. Prints the rows.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(8)
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    df.printSchema()
    rows.foreach(r => println(r.mkString("\t")))
    println(s"entry rows=${rows.length}")
    spark.stop()
  }
}
