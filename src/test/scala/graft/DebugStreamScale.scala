package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.DocsStreaming

/** Throughput + bounded-state measurement of the stateful streaming
  * LSH pipeline (`DocsStreaming.lshCandidates` —
  * flatMapGroupsWithState over (band, value) buckets), the engine's
  * heaviest streaming operator: per-micro-batch docs/s over a
  * MemoryStream of synthetic documents with planted near-dups (the
  * DebugLshScale corpus, driver-generated), plus the state-store row
  * count so the bounded-state claim (≤ MaxBucketState ids per bucket,
  * buckets ∝ corpus bands) is a measured number, not an assertion.
  *
  * Usage: runMain graft.DebugStreamScale [nDocs] [batchSize] [cpus]
  */
object DebugStreamScale {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 50000
    val batch = if (args.length > 1) args(1).toInt else 10000
    val cpus = if (args.length > 2) args(2).toInt else 16
    val spark = GraftSession.local(cpus)
    spark.conf.set("spark.sql.streaming.checkpointLocation",
      s"/tmp/graft_stream_scale_ckpt_${System.nanoTime()}")
    import spark.implicits._

    // the DebugLshScale corpus shape, driver-side: 100 tokens from a
    // 20k vocab; id ≡ 1 (mod 10) repeats id−1's first 90 tokens
    val vocab = 20000
    def word(base: Long, i: Int): String = {
      var h = base * 1000003L + i * 2654435761L
      h ^= (h >>> 33); h *= 0xff51afd7ed558ccdL; h ^= (h >>> 33)
      "w" + java.lang.Long.remainderUnsigned(h, vocab)
    }
    def text(id: Long): String =
      (0 until 100).map { i =>
        val base = if (id % 10 == 1 && i < 90) id - 1 else id
        word(base, i)
      }.mkString(" ")

    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val q = DocsStreaming.lshCandidates(docs).toDF()
      .writeStream.outputMode("append").format("noop").start()

    val t0 = System.nanoTime()
    var fed = 0
    val batchSecs = Seq.newBuilder[Double]
    while (fed < n) {
      val hi = math.min(fed + batch, n)
      // materialize the batch BEFORE the timer: the sequential driver-
      // side text generation is corpus synthesis, not pipeline work,
      // and would otherwise inflate every reported batch second
      val data = (fed until hi).map(i => (i.toLong, text(i.toLong)))
      val b0 = System.nanoTime()
      in.addData(data)
      q.processAllAvailable()
      batchSecs += (System.nanoTime() - b0) / 1e9
      fed = hi
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val prog = q.lastProgress
    val stateRows = Option(prog)
      .flatMap(p => p.stateOperators.headOption)
      .map(_.numRowsTotal).getOrElse(-1L)
    q.stop()
    val bs = batchSecs.result()
    val series = bs.map(s => f"$s%.2f").mkString("[", ",", "]")
    val pipeline = bs.sum
    println(f"""{"metric":"stream_lsh_scale","docs":$n,"batch_size":$batch,"batches":${bs.length},"pipeline_s":$pipeline%.2f,"wall_s":$wall%.2f,"docs_per_s":${n / pipeline}%.0f,"batch_secs":$series,"state_rows":$stateRows}""")
    spark.stop()
  }
}
