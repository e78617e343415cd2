package graft

import org.apache.spark.sql.functions._
import graft.operators.Ivf

/** Isolate the per-call cost of Ivf.maintenanceStats vs the located
  * recursive listing it replaced, at growing file counts — the
  * poll-from-ingest-loop claim (SCALE.md round 12).
  */
object DebugMaintCost {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(8)
    val root = java.nio.file.Files.createTempDirectory("graft_maintcost").toString
    val all = graft.sources.VectorFormats.generate(spark, 60000L, 16, 42L)
    val idx = Ivf.build(all.where(col("vec_id") < 20000L),
      "vec_id", "embedding", s"$root/index")
    val fs = new org.apache.hadoop.fs.Path(idx.vectorsPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (0 until 10).foreach { b =>
      Ivf.append(idx, all.where(col("vec_id") >= 20000L + b * 4000L &&
        col("vec_id") < 20000L + (b + 1) * 4000L), "vec_id", "embedding")
      var t0 = System.nanoTime()
      val s = Ivf.maintenanceStats(spark, idx)
      val statsMs = (System.nanoTime() - t0) / 1e6
      // the LOCATED recursive listing maintenanceStats used before
      t0 = System.nanoTime()
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(idx.vectorsPath), true)
      var n = 0
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      val locatedMs = (System.nanoTime() - t0) / 1e6
      println(f"files=${s.dataFiles} stats=${statsMs}%.1f ms located=${locatedMs}%.1f ms")
    }

    // the poll-safety claim, witnessed at the job level: with live
    // tombstones, the steady-state probe must launch ZERO Spark jobs
    // (count memoized per sidecar fingerprint) — only the first probe
    // after a sidecar change pays the count job
    Ivf.delete(spark, idx, (0L until 1000L).toSeq)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      })
    (0 until 6).foreach { i =>
      val before = jobs.get()
      val t0 = System.nanoTime()
      val s = Ivf.maintenanceStats(spark, idx)
      val ms = (System.nanoTime() - t0) / 1e6
      Thread.sleep(300) // listener bus drain
      println(f"probe=$i tombstones=${s.tombstones} ${ms}%.1f ms " +
        s"sparkJobs=${jobs.get() - before}")
    }
    spark.stop()
  }
}
