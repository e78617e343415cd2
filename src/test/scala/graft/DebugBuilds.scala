package graft

/** Build-phase cost decomposition for the r19 optimization round: the
  * bench's `value_builds` (~23 s of its cold total) is thirteen
  * one-per-JVM artifact builds run serially; this harness times each
  * build COLD (fresh JVM state per run is impossible in-process, so
  * run it on a fresh invocation per measurement) with the same
  * warm-up Bench applies, plus scheduler counts per build — guide §1's
  * measure-first applied to the build phase rather than the catalog.
  *
  * Usage: Test/runMain graft.DebugBuilds <sfDir> [buildName...]
  *        (no names = all builds in Bench order)
  */
object DebugBuilds {
  def main(args: Array[String]): Unit = {
    val dir = args.head
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    val jobs = new java.util.concurrent.atomic.AtomicLong()
    val stages = new java.util.concurrent.atomic.AtomicLong()
    val tasks = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          tasks.addAndGet(s.stageInfo.numTasks)
        }
      })
    // Bench's warm-up, so first-build JIT/codegen cost doesn't smear
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val warmDir = java.nio.file.Files.createTempDirectory("dbg_warm").toString
    spark.range(1000L).toDF("id").write.mode("overwrite").parquet(warmDir)
    spark.read.parquet(warmDir).count()
    graft.Tables.names.foreach { t =>
      try graft.Tables.load(spark, dir, t).count()
      catch { case _: Throwable => () }
    }
    // Bench runs the builds with the corpus persisted (corpus_cache
    // entry) — mirror that so the decomposition matches its conditions
    graft.Tables.documents(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).count()
    graft.Tables.embeddings(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).count()
    val builds: Seq[(String, () => Any)] = Seq(
      "ivf_build" -> (() => graft.queries.IndexQueries.index(spark, dir)),
      "pq_train" -> (() => graft.queries.VectorQueries.pqModel(spark, dir)),
      "opq_train" -> (() => graft.queries.VectorQueries.opqModel(spark, dir)),
      "ivfpq_encode" -> (() => graft.queries.IndexQueries.pqCodesPath(spark, dir)),
      "ivfsq_encode" -> (() => graft.queries.IndexQueries.sqCodesPath(spark, dir)),
      "ivfpq_residual_build" ->
        (() => graft.queries.IndexQueries.residualModelAndCodes(spark, dir)),
      "minhash_pairs_build" ->
        (() => graft.queries.DedupQueries.verifiedPairsPath(spark, dir)),
      "maxsim_pool_build" ->
        (() => graft.queries.TextQueries.maxsimPool(spark, dir)),
      "bm25_index_build" ->
        (() => graft.queries.TextQueries.bm25Index(spark, dir)),
      "dsir_lm_build" ->
        (() => graft.queries.CurationQueries.dsirLm(spark, dir)),
      "hybrid_fuse_build" ->
        (() => graft.queries.TextQueries.hybridRrfServed(spark, dir).count()),
      "bpe_train" -> (() => graft.queries.TextQueries.bpeModel(spark, dir)),
      "classifier_train" ->
        (() => graft.queries.CurationQueries.classifierModel(spark, dir)))
    val want = args.drop(1).toSet
    for ((name, f) <- builds if want.isEmpty || want(name)) {
      val j0 = jobs.get(); val s0 = stages.get(); val k0 = tasks.get()
      val t0 = System.nanoTime()
      try f() catch { case e: Throwable =>
        println(s"BUILD $name FAILED: ${e.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"BUILD $name%-24s time=$dt%7.3f jobs=${jobs.get() - j0}%3d " +
        f"stages=${stages.get() - s0}%3d tasks=${tasks.get() - k0}%5d")
    }
    spark.stop()
  }
}
