package graft

import org.apache.spark.sql.functions._
import graft.operators.Ivf

/** A live IVF index under continuous streaming ingest, measured: a
  * file-source stream delivers fixed-size vector batches into
  * `VectorsStreaming.appendVectorBatch` (the marker-idempotent
  * foreachBatch → `Ivf.append` path behind `stream_index_append`), and
  * the harness records per-batch append seconds as the index grows —
  * the claim under measurement is that append cost is O(batch),
  * independent of accumulated index size (routing through the frozen
  * centroids + a clustered write of only the new rows). Alongside:
  * parquet file-count growth (the merge-on-read cost appends DO
  * accumulate), search latency + completeness before/after
  * `Ivf.compact`, and the compact cost that resets the file count.
  *
  * A second mode measures the SELF-MAINTAINING loop
  * (`appendVectorBatchMaintained`): the sink compacts in place when
  * file debt passes the threshold, so the claim flips — per-batch cost
  * is O(batch) except on compact batches (which pay the rewrite
  * inline), and warm search stays near post-compact latency instead of
  * degrading with append count.
  *
  * A third mode (`async`) measures OUT-OF-BAND maintenance
  * (`Ivf.maintain`): the sink runs plain appends while a separate
  * maintainer thread polls file debt and compacts concurrently,
  * merging whatever the stream appended during the rewrite at swap
  * time. The claim under measurement is the async-maintenance design
  * point: per-batch latency stays flat through a running compact
  * (appends pay only the swap fence, not the rewrite), vs the inline
  * mode where the compacting batch pays the whole rewrite.
  *
  * Usage: runMain graft.DebugStreamAppend [n0] [nb] [batches] [dim]
  *   [cpus] [mode: plain|maintained|async] [maxFilesPerShard]
  */
object DebugStreamAppend {
  def main(args: Array[String]): Unit = {
    val n0 = if (args.length > 0) args(0).toLong else 100000L
    val nb = if (args.length > 1) args(1).toLong else 10000L
    val batches = if (args.length > 2) args(2).toInt else 10
    val dim = if (args.length > 3) args(3).toInt else 32
    val cpus = if (args.length > 4) args(4).toInt else 16
    val mode = if (args.length > 5) args(5) else "plain"
    val maintained = mode == "maintained"
    val async = mode == "async"
    val maxFilesPerShard = if (args.length > 6) args(6).toInt else 4
    val spark = GraftSession.local(cpus)

    val root = java.nio.file.Files
      .createTempDirectory("graft_stream_append").toString
    val in = s"$root/in"
    val all = graft.sources.VectorFormats
      .generate(spark, n0 + batches * nb, dim, 42L)

    var t0 = System.nanoTime()
    val idx = Ivf.build(all.where(col("vec_id") < n0),
      "vec_id", "embedding", s"$root/index")
    println(f"BUILD n0=$n0 dim=$dim k=${idx.centroids.length} " +
      f"shards=${idx.numShards} ${(System.nanoTime() - t0) / 1e9}%.2f s")

    def fileCount(): Int =
      try {
        val fs = new org.apache.hadoop.fs.Path(idx.vectorsPath).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val it = fs.listFiles(new org.apache.hadoop.fs.Path(idx.vectorsPath), true)
        var n = 0
        while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
        n
      } catch {
        // async mode: the listing can catch the swap's rename instant
        // (FNF, or the local FS's permission `ls` shelling out against
        // a vanished file) — diagnostic only, report and move on
        case scala.util.control.NonFatal(_) => -1
      }
    println(s"FILES after build: ${fileCount()}")

    // one delivery file per micro-batch (maxFilesPerTrigger=1)
    (0 until batches).foreach { b =>
      all.where(col("vec_id") >= n0 + b * nb &&
          col("vec_id") < n0 + (b + 1) * nb)
        .repartition(1).write.mode("append").parquet(in)
    }

    // async mode: the PRODUCTION maintenance loop polls file debt and
    // compacts OUT-OF-BAND while the stream keeps appending — the
    // shape once the index is old enough that an inline rewrite would
    // stall the ingest loop
    val loop =
      if (async)
        Some(graft.streaming.VectorsStreaming.startMaintenanceLoop(
          spark, idx, maxFilesPerShard = maxFilesPerShard,
          pollIntervalMs = 200L))
      else None

    val timings =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double, Int)]()
    val q = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val b0 = System.nanoTime()
        if (maintained)
          graft.streaming.VectorsStreaming.appendVectorBatchMaintained(
            idx, batch, "vec_id", "embedding", batchId, s"$root/applied",
            maxFilesPerShard)
        else
          graft.streaming.VectorsStreaming.appendVectorBatch(
            idx, batch, "vec_id", "embedding", batchId, s"$root/applied")
        timings.add((batchId, (System.nanoTime() - b0) / 1e9, fileCount()))
        ()
      }
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    try {
      try q.processAllAvailable() finally q.stop()
      if (async) {
        // let the maintainer clear any remaining debt, then stop it
        var waited = 0
        while (waited < 300 && Ivf.maintenanceStats(spark, idx)
            .filesPerShardMax > maxFilesPerShard) {
          Thread.sleep(1000); waited += 1
        }
      }
    } finally loop.foreach { l =>
      l.stop()
      println(s"MAINTAIN loop: compacts=${l.compacts} " +
        s"errors=${l.recentErrors.map(_.getMessage)}")
    }

    import scala.jdk.CollectionConverters._
    val tag =
      if (maintained) s"MAINT(max=$maxFilesPerShard)"
      else if (async) s"ASYNC(max=$maxFilesPerShard)"
      else "APPEND"
    timings.asScala.toSeq.sortBy(_._1).foreach { case (b, s, files) =>
      println(f"$tag batch=$b rows=$nb ${s}%.2f s files=$files")
    }
    println(s"FILES after ${batches} appends: ${fileCount()}")

    val qs = all.where(col("vec_id") < 20)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def searchTime(index: Ivf.Index, label: String): Unit =
      (1 to 2).foreach { i =>
        val s0 = System.nanoTime()
        val n = Ivf.searchBatch(spark, index, qs, k0 = 10, nProbe0 = 20).count()
        println(f"SEARCH $label run$i ${(System.nanoTime() - s0) / 1e9}%.2f s rows=$n")
      }
    val live = spark.read.parquet(idx.vectorsPath).count()
    assert(live == n0 + batches * nb,
      s"completeness: $live != ${n0 + batches * nb}")
    println(s"COMPLETE rows=$live")
    searchTime(idx, "pre-compact ")

    t0 = System.nanoTime()
    val compacted = Ivf.compact(spark, idx, s"$root/compacted")
    println(f"COMPACT ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val fsC = new org.apache.hadoop.fs.Path(compacted.vectorsPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val itC = fsC.listFiles(
      new org.apache.hadoop.fs.Path(compacted.vectorsPath), true)
    var nC = 0
    while (itC.hasNext) {
      if (itC.next().getPath.getName.endsWith(".parquet")) nC += 1
    }
    println(s"FILES after compact: $nC")
    val liveC = spark.read.parquet(compacted.vectorsPath).count()
    assert(liveC == live, s"compact changed row count: $liveC != $live")
    searchTime(compacted, "post-compact")
    spark.stop()
  }
}
