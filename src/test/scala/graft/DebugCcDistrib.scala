package graft

import org.apache.spark.sql.functions._

/** Scale cell for the DISTRIBUTED connected-components branch behind
  * `dedup_clusters` (VERDICT r17 #6): every committed cell so far ran
  * the driver union-find because no real pair graph exceeded the 2²²
  * localEdgeCap — at 100 TB the dedup graph always does, so the star
  * branch needed a committed run on pipeline-shaped input, not just
  * the DebugCcScale chain/star unit shapes.
  *
  * Corpus: the documents table unioned with (N−1) key-shifted copies
  * (DebugScaleNx's near-dup construction, documents only — the other
  * tables don't feed this query). Each source doc's N suffix-perturbed
  * copies are mutual near-dups, so the verified pair graph carries
  * ~5000·C(N,2) clique edges; N=52 puts it past the 4.19M cap with
  * margin even after LSH bucket capping. This is the adversarial
  * mega-clique shape a near-dup corpus produces at scale (hot
  * min-label keys), exactly what the alternating-star algorithm's
  * partial-aggregatable groupBy-min exists for.
  *
  * The timed call is the CATALOG query (`DedupQueries.dedupClusters`),
  * not a direct run() invocation — the cell certifies the dispatch
  * itself. Reports rounds-to-convergence, per-round edge counts and
  * shuffle-write volume (a meter scope's tasks bucketed into round
  * windows via ConnectedComponents.lastRunStats timestamps), and
  * verifies the labeling against the input pairs: every verified pair
  * must land in one cluster (the CC invariant), checked distributed,
  * zero tolerance.
  *
  * Usage: Test/runMain graft.DebugCcDistrib [srcDir] [outDir] [N]
  */
object DebugCcDistrib {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/graft_cc_corpus"
    val n = if (args.length > 2) args(2).toInt else 52
    val spark = GraftSession.local(32)

    val off = 100000000L
    val base = spark.read.parquet(s"$src/documents.parquet")
    val copies = (1 until n).map { i =>
      base.withColumn("doc_id", col("doc_id") + lit(i * off))
        .withColumn("text",
          concat_ws(" ", col("text"), concat(lit("x"), col("doc_id"))))
    }
    copies.foldLeft(base)(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val nDocs = spark.read.parquet(s"$out/documents.parquet").count()

    val tp0 = System.nanoTime()
    val pairsPath = graft.queries.DedupQueries.verifiedPairsPath(spark, out)
    val pairs = spark.read.parquet(pairsPath)
    val nPairs = pairs.count()
    val pairsS = (System.nanoTime() - tp0) / 1e9

    // task-level shuffle-write log of the catalog call, bucketed into
    // rounds below by task finish time against lastRunStats' round
    // timestamps (nanoTime, mapped onto the tasks' epoch milliseconds)
    val wall0 = System.currentTimeMillis()
    val nano0 = System.nanoTime()
    def epochMs(nanos: Long): Long = wall0 + (nanos - nano0) / 1000000L
    val meter = new graft.obs.Meter(spark)
    val run = meter.scope {
      val c = graft.queries.DedupQueries.dedupClusters(spark, out).persist()
      (c, c.count())
    }
    meter.close()
    val (clusters, nRows) = run.result.get
    val clusterS = run.seconds

    val stats = graft.operators.ConnectedComponents.lastRunStats
    require(stats.nonEmpty,
      s"distributed branch NOT taken: $nPairs pairs <= 4.19M cap — " +
        "raise N")
    // per-round shuffle volume: tasks finishing in (t_{r-1}, t_r]
    val roundsJs = stats.sliding(2).collect {
      case Seq(prev, curRound) =>
        val mb = run.cost.tasks.filter(t =>
            t.finishMs > epochMs(prev.atNanos) &&
              t.finishMs <= epochMs(curRound.atNanos))
          .map(_.shuffleWriteBytes).sum / 1e6
        f"""{"round":${curRound.round},"edges":${curRound.edges},"shuffle_write_mb":$mb%.1f}"""
    }.mkString("[", ",", "]")

    // CC invariant against the real input: both endpoints of every
    // verified pair share a cluster label — distributed anti-check,
    // zero rows tolerated
    val lab = clusters.select(col("doc_id").as("id"),
      col("cluster_id"))
    val broken = pairs
      .join(lab.withColumnRenamed("id", "a_id")
        .withColumnRenamed("cluster_id", "ca"), "a_id")
      .join(lab.withColumnRenamed("id", "b_id")
        .withColumnRenamed("cluster_id", "cb"), "b_id")
      .where(col("ca") =!= col("cb")).count()
    val nClusters = clusters.select("cluster_id").distinct().count()
    val totalShuffleMb = run.cost.shuffleWriteMb

    println(
      f"""{"metric":"cc_distrib","n_copies":$n,"docs":$nDocs,"verified_pairs":$nPairs,"pairs_build_s":$pairsS%.1f,"branch":"distributed_star","rounds":${stats.last.round},"initial_edges":${stats.head.edges},"dedup_clusters_s":$clusterS%.1f,"clustered_docs":$nRows,"clusters":$nClusters,"broken_pairs":$broken,"total_shuffle_write_mb":$totalShuffleMb%.1f,"rounds_detail":$roundsJs}""")
    spark.stop()
  }
}
