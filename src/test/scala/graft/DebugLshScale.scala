package graft

import org.apache.spark.sql.functions._
import graft.operators.MinHashLsh

/** Corpus-scale stress measurement of the public [[MinHashLsh]]
  * operator (round 8): synthesizes N documents with PLANTED near-dup
  * pairs at a known Jaccard, runs sign → band → candidates → verify
  * end to end, and prints per-stage wall time, candidate/verified
  * counts, and planted-pair recall — one JSON line per (N, hash
  * family). The SCALE.md round-8 section carries the committed
  * numbers.
  *
  * Corpus: 100 tokens per doc drawn from a 20k-word vocab by seeded
  * xxhash64, so generation is pure expressions (no driver data). Every
  * doc with id ≡ 1 (mod 10) replicates tokens 0..89 of id−1 and draws
  * its last 10 fresh: the planted pair (id−1, id) shares 86 of ~110
  * distinct 3-shingles → Jaccard ≈ 0.78, above the 0.7 verify
  * threshold, with banding collision probability 1−(1−s²)⁴ ≈ 0.977 at
  * the default 8×4 family — measured recall should sit near that
  * theory line, NOT at 1.0 (banding is probabilistic by design).
  *
  * Usage: runMain graft.DebugLshScale [n1,n2,...] [cpus]
  */
object DebugLshScale {
  def main(args: Array[String]): Unit = {
    val ns = (if (args.nonEmpty) args(0) else "50000,100000,200000")
      .split(",").map(_.trim.toLong).toSeq
    val cpus = if (args.length > 1) args(1).toInt else 16
    val spark = GraftSession.local(cpus)

    val seed = 42L
    val vocab = 20000L
    val nTok = 100

    def corpus(n: Long) = spark.range(n).repartition(cpus).select(
      col("id"),
      transform(sequence(lit(0), lit(nTok - 1)), i => {
        val fromBase = (col("id") % 10 === 1) && (i < 90)
        val src = when(fromBase, col("id") - 1).otherwise(col("id"))
        concat(lit("w"), pmod(xxhash64(lit(seed), src, i), lit(vocab)))
      }).as("terms"))

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val families: Seq[(String, MinHashLsh.Params)] = Seq(
      "md5" -> MinHashLsh.Params(),
      "xxhash64" -> MinHashLsh.Params(hashFn =
        (c: org.apache.spark.sql.Column) => xxhash64(c)))

    for (n <- ns; (hashName, p) <- families) {
      val signed = MinHashLsh.sign(corpus(n), "id", "terms", p).persist()
      val (_, signS) = timed(signed.count())
      val cand = MinHashLsh.candidates(MinHashLsh.band(signed, p), p).persist()
      val (nCand, candS) = timed(cand.count())
      val ver = MinHashLsh.verify(cand, signed, p)
        .select(col("a_id"), col("b_id")).persist()
      val (nVer, verifyS) = timed(ver.count())
      // planted pairs (d−1, d) for d ≡ 1 (mod 10)
      val planted = spark.range(n).where(col("id") % 10 === 1)
        .select((col("id") - 1).as("a_id"), col("id").as("b_id"))
      val nPlanted = n / 10
      val hit = ver.join(planted, Seq("a_id", "b_id")).count()
      println(f"""{"metric":"lsh_scale","n":$n,"hash":"$hashName","sign_s":$signS%.2f,"cand_s":$candS%.2f,"verify_s":$verifyS%.2f,"candidates":$nCand,"verified":$nVer,"planted":$nPlanted,"recall":${hit.toDouble / nPlanted}%.4f}""")
      signed.unpersist(); cand.unpersist(); ver.unpersist()
    }
    spark.stop()
  }
}
