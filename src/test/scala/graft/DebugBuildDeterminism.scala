package graft

import graft.operators.KMeans
import graft.sources.VectorFormats

/** Build-determinism probe (VERDICT r7 #3 / SCALE.md round-7 honesty
  * note): trains the EXACT pipeline `Ivf.build` runs — seeded pool
  * selection over the generated table, k = numClusters(n),
  * iters = maxIterations(n), k-means++ + Lloyd — twice in one JVM and
  * prints a canonical SHA-256 of each centroid matrix. Run the main
  * twice (two sbt invocations = two fresh JVMs) and compare the printed
  * hashes: identical hashes across JVMs means the build IS
  * bitwise-pinned by the seed at this scale; differing hashes localize
  * the drift to the stage whose intermediate hash first diverges
  * (pool → init → final are hashed separately).
  */
object DebugBuildDeterminism {

  private def centroidSha(arrs: Array[Array[Float]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val bb = java.nio.ByteBuffer.allocate(4)
    arrs.foreach(_.foreach { f =>
      bb.clear(); bb.putFloat(f)
      md.update(bb.array())
    })
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val dim = if (args.length > 1) args(1).toInt else 128
    val spark = GraftSession.local(32)

    val vecPath = VectorFormats.generatedPath(spark, n, dim, 42L)
    val emb = spark.read.parquet(vecPath)
    val k = KMeans.numClusters(n)
    val iters = KMeans.maxIterations(n)

    def onePass(tag: String): (String, String, String) = {
      // the pool exactly as KMeans.fit(orderCol = Some(idCol)) draws it
      import org.apache.spark.sql.functions._
      val pool = emb.select(col("vec_id"), col("embedding"))
        .orderBy(xxhash64(col("vec_id"), lit(42L)), col("vec_id"))
        .limit(KMeans.InitSampleCap)
        .collect()
        .map(r => r.getSeq[Float](1).toArray)
      val poolH = centroidSha(pool)
      val model = KMeans.trainDriver(pool, k, iters, 42L)
      val trainH = centroidSha(model.centroids)
      println(s"""{"metric":"build_determinism","pass":"$tag","n":$n,"dim":$dim,"k":$k,"pool_sha":"$poolH","centroid_sha":"$trainH"}""")
      (poolH, trainH, tag)
    }

    val a = onePass("a")
    val b = onePass("b")
    val same = a._1 == b._1 && a._2 == b._2
    println(s"""{"metric":"build_determinism_verdict","in_jvm_identical":$same}""")
    if (!same) sys.error(
      s"in-JVM drift: pool ${a._1} vs ${b._1}, centroids ${a._2} vs ${b._2}")
    spark.stop()
  }
}
