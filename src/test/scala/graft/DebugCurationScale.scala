package graft

import org.apache.spark.sql.functions._

/** Scaling curve for the composed curation pipeline
  * (`QualityQueries.corpusFinalStats`: source exclusion → quality
  * filter → fingerprint dedup → 5-gram decontamination → per-lang
  * stats) on synthetic corpora of n ∈ args docs — the measurement
  * behind the "two corpus shuffles total" claim: wall time should grow
  * ~linearly in n because every stage is map-side except the fp window
  * and the final bounded groupBy, and the contamination join
  * broadcasts the held-out gram set.
  *
  * The corpus mirrors the testdata documents schema (doc_id, text,
  * lang, source, n_chars), deterministic (xxhash-style word mix, no
  * RNG): ~100 tokens/doc from a 50k vocab with ~15% stopwords so the
  * quality filter passes realistically, 20 sources × 5 langs, every
  * 10th doc a PERMUTATION of its predecessor's tokens (same bag
  * fingerprint → dedup hit), and every 37th doc embeds a held-out
  * source's 5-gram run (decontamination hit).
  *
  * Usage: runMain graft.DebugCurationScale [n1,n2,...] [cpus]
  */
object DebugCurationScale {
  def main(args: Array[String]): Unit = {
    val sizes =
      if (args.nonEmpty) args(0).split(",").map(_.trim.toLong).toSeq
      else Seq(60000L, 200000L, 600000L)
    val cpus = if (args.length > 1) args(1).toInt else 16
    val spark = GraftSession.local(cpus)

    val stop = array(Seq("the", "a", "of", "and", "to").map(lit): _*)
    def corpusPath(n: Long): String = {
      val path = s"/tmp/graft_curation_scale_$n/documents.parquet"
      // the marker NAME is the generator version: bump it whenever the
      // corpus recipe changes so a stale /tmp cache can't serve old data
      val marker = new java.io.File(s"/tmp/graft_curation_scale_$n/GEN_v2")
      if (!marker.exists()) {
        // base token stream: word w_(h mod 50k), every ~7th a stopword;
        // doc 10k+1 reuses doc 10k's token BAG reversed (same fp)
        val base = spark.range(n).select(col("id").as("doc_id"),
          transform(sequence(lit(0), lit(99)), i => {
            val h = abs(xxhash64(concat_ws(":",
              when(col("id") % 10 === 1, col("id") - 1)
                .otherwise(col("id")), i)))
            when(h % 7 === 0, element_at(stop, (h % 5 + 1).cast("int")))
              .otherwise(concat(lit("w"), pmod(h, lit(50000L))))
          }).as("toks"))
        val docs = base.select(col("doc_id"),
            when(col("doc_id") % 10 === 1, array_join(reverse(col("toks")), " "))
              .otherwise(array_join(col("toks"), " ")).as("text0"),
            concat(lit("lang"), pmod(col("doc_id"), lit(5))).as("lang"),
            // every 37th doc gains the held-out leak 5-gram (the same
            // literal appended to every held-out doc below), EXCEPT
            // members of a planted dup pair (id%10 ∈ {0,1}) — a
            // one-sided suffix would silently break the pair's
            // equal-bag property
            concat(lit("src"), pmod(col("doc_id"), lit(20))).as("source"))
          .withColumn("text",
            when(col("doc_id") % 37 === 0 && col("doc_id") % 10 > 1 &&
                !col("source").isin("src18", "src19"),
              concat(col("text0"), lit(" "),
                lit("leak1 leak2 leak3 leak4 leak5")))
              .otherwise(col("text0")))
          .withColumn("text",
            when(col("source").isin("src18", "src19"),
              concat(col("text0"), lit(" "),
                lit("leak1 leak2 leak3 leak4 leak5")))
              .otherwise(col("text")))
          .select(col("doc_id"), col("text"), col("lang"), col("source"),
            length(col("text")).cast("long").as("n_chars"))
        docs.write.mode("overwrite").parquet(path)
        marker.getParentFile.mkdirs()
        java.nio.file.Files.write(marker.toPath, "v1".getBytes)
      }
      s"/tmp/graft_curation_scale_$n"
    }

    sizes.foreach { n =>
      val dir = corpusPath(n)
      val t0 = System.nanoTime()
      val out = graft.queries.QualityQueries.corpusFinalStats(spark, dir)
        .collect()
      val secs = (System.nanoTime() - t0) / 1e9
      val kept = out.map(_.getLong(1)).sum
      println(f"CURATION n=$n%-8d time=$secs%6.2f s kept=$kept " +
        f"(${n / secs}%.0f docs/s) langs=${out.length}")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
