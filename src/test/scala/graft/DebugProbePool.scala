package graft

import graft.operators.{Ivf, KMeans, RecallEval}
import org.apache.spark.sql.functions.col

/** Probe-set capture vs pool size: fraction of the EXACT top-n probe
  * cells captured by the hierarchical pool as the expansion factor
  * grows — sweeping [[KMeans.HierarchicalAssigner.topNProbe]]'s own
  * `poolFactor` parameter, so the numbers describe the PRODUCTION code
  * path, not a re-implementation. This measurement set the shipped
  * ProbePoolFactor = 16 (SCALE.md round-6): capture at n=64 on the
  * reference 100k/D=128 workload read 0.44 / 0.78 / 0.99 at factors
  * 2 / 8 / 16. Requires a prior DebugRefScale run (reuses its index).
  */
object DebugProbePool {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(32)
    // version-keyed cache: regenerating here (rather than Ivf.load of a
    // possibly stale index) keeps the probed pool in sync with the
    // current generator
    val vecPath =
      graft.sources.VectorFormats.generatedPath(spark, 100000L, 128, 42L)
    val dataDir = new java.io.File(vecPath).getParent
    val emb = spark.read.parquet(vecPath)
    // the cached index is valid only if it was built from the CURRENT
    // generator output: the INDEX_GENERATOR marker (stamped at build)
    // must match the dataset's GENERATOR marker — otherwise a version
    // bump regenerates the vectors but a stale index would silently
    // keep serving centroids trained on the old ones
    def readMarker(name: String): String =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dataDir, name)), "UTF-8")
      catch { case _: java.io.IOException => "" }
    val gen = readMarker("GENERATOR")
    val idx =
      if (gen.nonEmpty && gen == readMarker("INDEX_GENERATOR") &&
          new java.io.File(s"$dataDir/index").exists())
        Ivf.load(spark, s"$dataDir/index")
      else {
        val built = Ivf.build(emb, "vec_id", "embedding", s"$dataDir/index")
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dataDir, "INDEX_GENERATOR"),
          gen.getBytes("UTF-8"))
        built
      }
    val queries = RecallEval.perturbedQueries(
      emb.where(col("vec_id") < 100).select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)), 0.5f)
    val k = idx.k
    val cents = idx.centroids
    println(s"k=$k")
    val hier = new KMeans.HierarchicalAssigner(cents, idx.seed)
    for (n <- Seq(8, 16, 64)) {
      val exactSets = queries.map { case (_, q) =>
        cents.indices.map(i => (i, KMeans.sqDist(q, cents(i))))
          .sortBy(t => (t._2, t._1)).take(n).map(_._1).toSet
      }
      for (factor <- Seq(2, 4, 8, 16, 32)) {
        val caps = queries.zip(exactSets).map { case ((_, q), exact) =>
          val (probes, _) = hier.topNProbe(q, n, poolFactor = factor)
          (probes.toSet & exact).size.toDouble / n
        }
        println(f"n=$n%3d factor=$factor%3d capture=${caps.sum / caps.length}%.3f")
      }
    }
    spark.stop()
  }
}
