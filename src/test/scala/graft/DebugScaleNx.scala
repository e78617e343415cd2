package graft

import org.apache.spark.sql.functions._

/** Builds an N× copy of an sf dir for bench-scaling cells (VERDICT r15
  * #8, r16 #6; N = 2 is the 2× sanity cell): every table unioned with
  * (N−1) key-shifted copies of itself, each copy's keys offset by i·10^8
  * consistently across key/foreign-key columns, so each copy joins only
  * within itself and every join/agg carries exactly N× the work — linear
  * scaling, never quadratic join blow-up. The 10^8 stride lets four
  * shifted copies fit the testdata's 32-bit key columns; sf0.1 keys top
  * out ~10^6, far below one stride. Copied document text gets a per-row
  * suffix token so the dedup family sees a realistic near-dup corpus
  * instead of a degenerate exact-duplicate one.
  *
  * Usage: Test/runMain graft.DebugScaleNx [srcDir] [outDir] [N]
  * then:  SPARK_GRAFT_SF_DIR=<outDir> runMain graft.Bench
  */
object DebugScaleNx {
  private val Off = 100000000L

  private val shiftCols: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"),
    "nation" -> Seq("n_nationkey", "n_regionkey"),
    "customer" -> Seq("c_custkey", "c_nationkey"),
    "supplier" -> Seq("s_suppkey", "s_nationkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
  )

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf0.5"
    val n = if (args.length > 2) args(2).toInt else 5
    require(n >= 2 && n <= 20, s"N must be in [2, 20], got $n")
    val spark = GraftSession.local(32)
    shiftCols.foreach { case (name, keys) =>
      val base = spark.read.parquet(s"$src/$name.parquet")
      val copies = (1 until n).map { i =>
        val copy0 = keys.foldLeft(base) { (d, k) =>
          // preserve the column's original integer type — a silent
          // int→long widening would change the bench's scan/agg widths
          d.withColumn(k, (col(k) + i * Off).cast(d.schema(k).dataType))
        }
        if (name == "documents")
          // the shifted doc_id is already copy-unique, so one suffix
          // token per row keeps all copies near- rather than exact-dups
          copy0.withColumn("text",
            concat_ws(" ", col("text"), concat(lit("x"), col("doc_id"))))
        else copy0
      }
      copies.foldLeft(base)(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"$name: ${spark.read.parquet(s"$out/$name.parquet").count()}")
    }
    spark.stop()
  }
}
