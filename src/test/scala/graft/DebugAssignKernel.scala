package graft

import org.apache.spark.sql.functions._

import graft.operators.KMeans
import graft.sources.VectorFormats

/** Before/after for VERDICT r9 #2: the distributed full-assignment
  * stage (`KMeans.withAssignment`, the most row-intensive stage of
  * `ivf_build`) as a boxed `Seq[Float]` UDF (the round-9 form,
  * reconstructed inline) vs the [[graft.operators.ArgMinCentroid]]
  * codegen expression over Tungsten ArrayData. Same broadcast holder,
  * same assign kernel — the delta is per-row boxing only. Prints one
  * line per path plus an equality check.
  */
object DebugAssignKernel {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val dim = if (args.length > 1) args(1).toInt else 128
    val spark = GraftSession.local(32)

    val emb = spark.read.parquet(VectorFormats.generatedPath(spark, n, dim, 42L))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    emb.count()

    val model = KMeans.fit(emb, "embedding", KMeans.numClusters(n), 20, 42L,
      knownCount = Some(n))
    println(s"MODEL k=${model.centroids.length} dim=$dim n=$n")

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"TIME $label%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    val bc = spark.sparkContext.broadcast(
      new KMeans.AssignerHolder(model.centroids, 42L))
    val boxedUdf = udf { (e: Seq[Float]) => bc.value.assign(e.toArray)._1 }

    // warm both paths once (codegen compile, broadcast fetch), then time
    emb.withColumn("c", boxedUdf(col("embedding"))).agg(sum("c")).collect()
    KMeans.withAssignment(emb, "embedding", model, 42L)
      .agg(sum("centroid_id")).collect()

    var udfSum = 0L; var exprSum = 0L
    (1 to 3).foreach { i =>
      udfSum = time(s"boxed Seq[Float] UDF (run $i)") {
        emb.withColumn("c", boxedUdf(col("embedding")))
          .agg(sum("c")).head().getLong(0)
      }
      exprSum = time(s"ArgMinCentroid expr (run $i)") {
        KMeans.withAssignment(emb, "embedding", model, 42L)
          .agg(sum("centroid_id")).head().getLong(0)
      }
    }
    println(s"EQUAL label-sum udf=$udfSum expr=$exprSum " +
      s"(${if (udfSum == exprSum) "match" else "MISMATCH"})")
    val diff = KMeans.withAssignment(emb, "embedding", model, 42L)
      .withColumn("u", boxedUdf(col("embedding")))
      .where(col("u") =!= col("centroid_id")).count()
    println(s"EQUAL per-row mismatches=$diff")
    spark.stop()
  }
}
