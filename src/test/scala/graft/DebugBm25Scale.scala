package graft

import org.apache.spark.sql.functions._
import graft.operators.Bm25

/** Corpus-scale measurement of the public [[Bm25]] operator and the
  * round-8 chunked term-set pushdown: builds a posting index over N
  * synthetic docs (same seeded generator as DebugLshScale) and times
  * the posting-scan strategies a query batch can hit:
  *
  *   - full:    no term predicate at all — what scoring degrades to
  *              when the isin set fails to push (the pre-round-8
  *              failure mode past the in-filter threshold)
  *   - isin1:   one isin over all distinct batch terms (the
  *              under-threshold fast path)
  *   - chunked: the operator's ≤threshold chunks unioned (what any
  *              OVER-threshold batch now gets)
  *
  * plus the end-to-end chunked topDocs latency. The posting table is
  * range-partitioned and sorted on (term, doc_id), so isin predicates
  * row-group-seek; SCALE.md carries the committed numbers.
  *
  * Usage: runMain graft.DebugBm25Scale [n] [nQueries] [cpus]
  */
object DebugBm25Scale {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 200000L
    val nQ = if (args.length > 1) args(1).toInt else 64
    val cpus = if (args.length > 2) args(2).toInt else 16
    val spark = GraftSession.local(cpus)

    val seed = 42L
    val vocab = 20000L
    val nTok = 100
    def corpus(rows: Long) = spark.range(rows).repartition(cpus).select(
      col("id").as("doc_id"),
      transform(sequence(lit(0), lit(nTok - 1)),
        i => concat(lit("w"), pmod(xxhash64(lit(seed), col("doc_id"), i),
          lit(vocab)))).as("terms"))

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val base = s"/tmp/graft_bm25_scale_${n}"
    val (idx, buildS) = timed(Bm25.build(corpus(n), base))
    val nPost = spark.read.parquet(idx.tfPath).count()

    // query batch = the first nQ docs' term sets (all terms exist)
    val pairs = corpus(nQ)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(col("terms"))).as("term"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val terms = pairs.map(_._2).distinct.sorted.toSeq
    import spark.implicits._
    val qterms = pairs.toSeq.toDF("query_id", "term")

    // warm the posting-file footers so strategies compare scan work,
    // not first-touch metadata reads
    spark.read.parquet(idx.tfPath).where(col("term") === "w0").count()

    // NOTE: a third strategy — ONE isin over all ~5.9k distinct batch
    // terms — is deliberately absent: it was measured FATAL
    // (StackOverflowError in the parquet row-group evaluator walking
    // the left-deep Or tree, killing the whole local application).
    // That measurement is why [[graft.operators.Pushdown]] caps chunks
    // at 256 literals regardless of the session's in-filter threshold.
    def scanJoin(scan: org.apache.spark.sql.DataFrame): Long =
      scan.join(broadcast(qterms), "term").count()
    val (fullRows, fullS) = timed(
      scanJoin(spark.read.parquet(idx.tfPath)))
    val chunks = terms.grouped(graft.operators.Pushdown.MaxInLiterals).toList
    val (chRows, chunkedS) = timed(scanJoin(chunks
      .map(c => spark.read.parquet(idx.tfPath)
        .where(col("term").isin(c: _*)))
      .reduce(_ union _)))
    require(fullRows == chRows,
      s"strategy row mismatch: full=$fullRows chunked=$chRows")

    // seekCeiling = 1.0 pins the chunked-seek plan: this harness's
    // batch covers ~27% of the vocabulary, so the adaptive dispatch
    // (SeekSelectivityCeiling 0.10) would otherwise take the dense
    // full-scan plan and the number would measure the WRONG strategy
    val (nTop, e2eS) = timed(
      Bm25.topDocs(Bm25.scoredFromPairs(spark, idx, pairs,
        seekCeiling = 1.0), k = 10).count())
    println(f"""{"metric":"bm25_scale","n":$n,"postings":$nPost,"n_queries":$nQ,"distinct_terms":${terms.size},"build_s":$buildS%.2f,"scan_full_s":$fullS%.2f,"scan_chunked_s":$chunkedS%.2f,"chunks":${chunks.size},"matched_rows":$fullRows,"e2e_topk_s":$e2eS%.2f,"top_rows":$nTop}""")
    spark.stop()
  }
}
