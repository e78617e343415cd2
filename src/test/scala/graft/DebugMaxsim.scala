package graft

import org.apache.spark.sql.functions._
import graft.queries.{DedupQueries, TextQueries}
import graft.Tables

/** Stage-by-stage timing for maxsim_top_docs: DebugMaxsim <sfDir> */
object DebugMaxsim {
  def main(args: Array[String]): Unit = {
    val dir = args.head
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    val win = 16
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"STAGE $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    // the ONE chunk/feature definition — shared with the production query
    def chunks = TextQueries.maxsimChunks(spark, dir)
    time("chunks.count")(println("  n=" + chunks.count()))
    time("chunks.feat.count")(println("  n=" +
      chunks.select(explode(col("feat"))).count()))
    val q = chunks.where(col("doc_id") < 8)
      .select(col("doc_id").as("query_id"), col("cidx").as("qidx"),
        col("feat").as("q_feat"))
    val joined = chunks.where(col("doc_id") >= 8).crossJoin(broadcast(q))
    time("pairs.count")(println("  n=" + joined.count()))
    val mx = joined
      .groupBy(col("query_id"), col("qidx"), col("doc_id"))
      .agg(max(graft.functions.Vec.cosine(col("q_feat"), col("feat"))).as("m"))
    time("mx.count")(println("  n=" + mx.count()))
    time("full1")(println("  n=" +
      TextQueries.maxsimTopDocs(spark, dir).collect().length))
    time("full2")(println("  n=" +
      TextQueries.maxsimTopDocs(spark, dir).collect().length))
    time("mx2.count")(println("  n=" + mx.count()))
    time("scored2")(println("  n=" + mx
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(aggregate(sort_array(collect_list(col("m"))), lit(0.0),
        (a, x) => a + x), 4).as("score")).count()))
    spark.stop()
  }
}
