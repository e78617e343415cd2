package graft

import org.apache.spark.sql.functions.col
import graft.operators.Ivf
import graft.sources.VectorFormats

/** Shard-write layout census at the ≥1M tier (VERDICT r16 #4
  * acceptance): at N=1M, numShards = ⌈√k⌉ ≈ 64 exceeds the 32-part
  * shuffle default, the exact config where the pre-r17 writer degraded
  * to one file per shard. Builds the index and prints the auto-raise
  * note plus the per-shard file-count histogram — every shard must
  * land ≥2 files so AQE keeps mapper granularity for skew splitting.
  *
  * Run: sbt "Test/runMain graft.DebugShardFiles [n] [dim]"
  */
object DebugShardFiles {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val dim = if (args.length > 1) args(1).toInt else 32
    val spark = GraftSession.local(32)
    val vecPath = VectorFormats.generatedPath(spark, n, dim, 42L)
    val dataDir = new java.io.File(vecPath).getParent
    val emb = spark.read.parquet(vecPath)
    Ivf.lastWriteParallelismWarning = None
    val t0 = System.nanoTime()
    val idx = Ivf.build(emb, "vec_id", "embedding", s"$dataDir/index_sf")
    val buildS = (System.nanoTime() - t0) / 1e9
    val note = Ivf.lastWriteParallelismWarning.getOrElse("<none>")
    val perShard = new java.io.File(s"$dataDir/index_sf/vectors")
      .listFiles().filter(_.getName.startsWith("shard_id="))
      .map(d => d.listFiles().count(_.getName.endsWith(".parquet")))
    println(f"""{"metric":"shard_files","n":$n,"dim":$dim,"k":${idx.k},"num_shards":${idx.numShards},"build_s":$buildS%.1f,"files_min":${perShard.min},"files_max":${perShard.max},"shards_with_lt2":${perShard.count(_ < 2)},"auto_raise_note":"${note.take(120).replace("\"", "'")}"}""")
    spark.stop()
  }
}
