package graft

import org.apache.spark.sql.functions._

/** Derived-corpus builder for the wide-vector bench cell (VERDICT r17
  * #3): the reference's own matrix (`bench.yaml:4` D ∈ {128,256,768};
  * `examples/demo.rs:5-6` N=500k × D=768) makes wide vectors a
  * first-class workload, but every committed CATALOG bench cell so far
  * ran the sf embeddings table at dim ≤ 128 — the r10/r12 demo cells
  * covered build/recall/QPS at 768, never the per-query catalog
  * ratios. This main materializes an sf-dir whose `embeddings` table
  * is the demo shape (default 500k × 768, seed-42 generator, labels
  * 0..9 like the testdata) while every other table is byte-identical
  * to the source sf-dir, so a `graft.Bench` run against it isolates
  * the embeddings-family queries: everything else should print ~1.0×
  * the sf0.1 floor and the ann/knn/recall family shows the D=768 cost.
  *
  * Usage: Test/runMain graft.DebugDim768 [srcDir] [outDir] [n] [dim]
  * then:  SPARK_GRAFT_SF_DIR=<outDir> runMain graft.Bench
  */
object DebugDim768 {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf0.1_d768"
    val n = if (args.length > 2) args(2).toLong else 500000L
    val dim = if (args.length > 3) args(3).toInt else 768
    val spark = GraftSession.local(32)

    // labels follow the testdata's shape (int32, uniform 0..9) so the
    // filtered-search queries keep ~10% selectivity at any N; keyed on
    // vec_id like the generator's components, so deterministic
    graft.sources.VectorFormats.generate(spark, n, dim, 42L)
      .withColumn("label",
        pmod(xxhash64(col("vec_id"), lit("label")), lit(10)).cast("int"))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // every other table: byte-identical copy (testdata tables are
    // single parquet files), so cross-family ratios vs the sf0.1 floor
    // attribute to the box, never to data drift
    val names = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents")
    names.foreach { t =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$src/$t.parquet"),
        java.nio.file.Paths.get(s"$out/$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val emb = spark.read.parquet(s"$out/embeddings.parquet")
    val d0 = emb.select(size(col("embedding"))).head().getInt(0)
    println(s"""{"metric":"dim768_corpus","out":"$out","n":${emb.count()},"dim":$d0,"labels":${emb.select("label").distinct().count()}}""")
    spark.stop()
  }
}
