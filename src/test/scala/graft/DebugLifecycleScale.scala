package graft

import org.apache.spark.sql.functions._
import graft.operators.Ivf

/** Timed measurement of the index MAINTENANCE lifecycle at 200k
  * vectors — the operational paths a 100 TB index lives on between
  * rebuilds: build → append 10% → delete 5% → compact, with a
  * correctness probe after every step (self-retrieval of an appended
  * vector; a deleted id must vanish from its own neighborhood; live
  * row count must track the lifecycle exactly). One JSON line.
  *
  * Usage: runMain graft.DebugLifecycleScale [n] [dim] [cpus]
  */
object DebugLifecycleScale {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 200000L
    val dim = if (args.length > 1) args(1).toInt else 32
    val cpus = if (args.length > 2) args(2).toInt else 16
    val spark = GraftSession.local(cpus)

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val all = graft.sources.VectorFormats.generate(spark, n + n / 10, dim, 7L)
      .persist()
    val baseTbl = all.where(col("vec_id") < n)
    val appendTbl = all.where(col("vec_id") >= n)
    val dir = s"/tmp/graft_lifecycle_${n}_$dim"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))

    val (idx0, buildS) = timed(
      Ivf.build(baseTbl, "vec_id", "embedding", s"$dir/index"))

    def vecOf(id: Long): Array[Float] = all.where(col("vec_id") === id)
      .select("embedding").head().getSeq[Float](0).toArray
    def top1(idx: Ivf.Index, q: Array[Float]): Long =
      Ivf.search(spark, idx, q, k0 = 1, nProbe0 = 8).head().getLong(0)
    def hits(idx: Ivf.Index, q: Array[Float], k: Int): Set[Long] =
      Ivf.search(spark, idx, q, k0 = k, nProbe0 = 64).collect()
        .map(_.getLong(0)).toSet

    require(top1(idx0, vecOf(5L)) == 5L, "base self-retrieval failed")

    val (_, appendS) = timed(Ivf.append(idx0, appendTbl, "vec_id", "embedding"))
    require(top1(idx0, vecOf(n + 5)) == n + 5, "appended self-retrieval failed")

    // delete every 20th id of the base range (5% of n)
    val delIds = (0L until n by 20L).toSeq
    val (_, deleteS) = timed(Ivf.delete(spark, idx0, delIds))
    require(top1(idx0, vecOf(21L)) == 21L, "survivor self-retrieval failed")
    require(!hits(idx0, vecOf(20L), 10).contains(20L),
      "deleted id still retrievable")

    val (idx1, compactS) = timed(
      Ivf.compact(spark, idx0, s"$dir/index2"))
    require(top1(idx1, vecOf(21L)) == 21L,
      "post-compact self-retrieval failed")
    require(!hits(idx1, vecOf(20L), 10).contains(20L),
      "deleted id resurrected by compact")
    val live = spark.read.parquet(idx1.vectorsPath).count()
    val expected = n + n / 10 - delIds.length
    require(live == expected, s"live rows $live != expected $expected")

    println(f"""{"metric":"ivf_lifecycle","n":$n,"dim":$dim,"appended":${n / 10},"deleted":${delIds.length},"build_s":$buildS%.2f,"append_s":$appendS%.2f,"delete_s":$deleteS%.2f,"compact_s":$compactS%.2f,"live_rows":$live}""")
    spark.stop()
  }
}
