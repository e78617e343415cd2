package graft

import org.apache.spark.sql.functions._

/** Builds a 2× copy of an sf dir for the bench-scaling sanity check
  * (VERDICT r15 #8): every table unioned with a key-shifted copy of
  * itself (+10^9 on every key/foreign-key column, consistently), so
  * each half joins only within itself and every join/agg carries
  * exactly twice the work — linear scaling, not quadratic join
  * blow-up. Copied document text gets a per-row suffix token so the
  * dedup family sees a realistic near-dup corpus instead of a fully
  * degenerate exact-duplicate one.
  *
  * Usage: runMain graft.DebugScale2x [srcDir] [outDir]
  * then:  SPARK_GRAFT_SF_DIR=<outDir> runMain graft.Bench
  */
object DebugScale2x {
  private val Off = 1000000000L

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
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf0.2"
    val spark = GraftSession.local(32)
    shiftCols.foreach { case (name, keys) =>
      val base = spark.read.parquet(s"$src/$name.parquet")
      val copy0 = keys.foldLeft(base) { (d, k) =>
        // preserve the column's original integer type — a silent
        // int→long widening would change the bench's scan/agg widths
        d.withColumn(k, (col(k) + Off).cast(d.schema(k).dataType))
      }
      val copy =
        if (name == "documents")
          copy0.withColumn("text",
            concat_ws(" ", col("text"), concat(lit("x"), col("doc_id"))))
        else copy0
      base.unionByName(copy)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"$name: ${spark.read.parquet(s"$out/$name.parquet").count()}")
    }
    spark.stop()
  }
}
