package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // NOTE on logging: the artifact-tail hygiene (no stray INFO lines in
    // the driver's ~2000-char output window) is owned by the classpath
    // log4j2.properties in src/main/resources — a programmatic
    // Configurator call here is discarded when Spark loads its own
    // log4j2 configuration during SparkContext startup, which is why the
    // r16 pre-session fix demonstrably did not take (VERDICT r17 #3).
    // 1-minute load average from /proc/loadavg — sampled at start and
    // end so the artifact itself records whether the run landed in a
    // contended window (VERDICT r15 #1: four rounds of contended
    // driver artifacts needed external adjudication; a reader of this
    // JSON alone can now see load 14.0 and discount t2 accordingly)
    def loadAvg(): Double =
      try java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/loadavg")).get(0)
        .split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    // all-cores calibration spin: fixed integer work on every core,
    // PER-THREAD MEDIAN of the per-core wall times. Unlike loadavg
    // (blind to sibling-VM / hypervisor contention, which is exactly
    // what hit four rounds of driver artifacts), this measures the
    // machine the bench actually got. Median, not join-on-all wall
    // clock (changed r18): the max statistic reads WORST-core latency,
    // so a single displaced thread doubles the print — r18 attempt 3
    // recorded boundary samples of 487/502 ms while loadavg sat at ~1
    // and the passes themselves ran near-floor, and the derived norm
    // then over-corrected t2_min to a nonsense 32 s. The median is flat
    // against 1–3 stolen cores (k external busy cores ≈ 147·(1+k/32))
    // while still reading the sustained 6-core shape at ~175 ms.
    // ~0.3 s per sample.
    def calibMs(): Double = {
      val nThreads = Runtime.getRuntime.availableProcessors()
      val sink = new java.util.concurrent.atomic.AtomicLong()
      val perThread = new java.util.concurrent.atomic.AtomicLongArray(nThreads)
      val ts = (0 until nThreads).map { ti =>
        val t = new Thread(() => {
          val t0 = System.nanoTime()
          var s = 0L
          var i = 0L
          while (i < 100000000L) {
            s = s * 6364136223846793005L + 1442695040888963407L
            i += 1
          }
          sink.addAndGet(s) // defeat dead-code elimination
          perThread.set(ti, System.nanoTime() - t0)
        })
        t.start(); t
      }
      ts.foreach(_.join())
      val sorted = (0 until nThreads).map(perThread.get).sorted
      sorted(nThreads / 2) / 1e6
    }
    // WINDOW-QUALIFICATION GATE (VERDICT r17 #1): six consecutive rounds
    // of official artifacts landed in contended windows, and r17 proved
    // no per-query statistic survives SUSTAINED capacity loss (t2_min
    // held 1.12× floor under an 8-core bursty spin but 1.16× under a
    // 6-core steady spin — the official window was the steady shape).
    // So qualification moves into the run protocol itself: before any
    // timed work, sample the all-cores spin until it reads idle or the
    // wait budget expires. Every sample is recorded in the artifact
    // (`calib_gate`), so a reader can see whether the run started
    // qualified or proceeded on timeout. Threshold on the MEDIAN
    // statistic: its true idle constant is ~130 ms (observed
    // 126.7–135.7 across every idle gate/bracket sample of r18
    // attempts 4–7 — the old ~147 was the WORST-core statistic's idle,
    // which carries the join-on-slowest skew). k stolen cores read
    // ≈ 130·(1+k/32), so 145 tolerates ≤3 (≤1.1× on t2, inside the
    // 65-vs-55.3 acceptance headroom) and blocks ≥4; the first median
    // pin of 165 was derived from the 147 idle and actually tolerated
    // ~8 stolen cores (attempt 4 slid under it at loadavg ~3 and
    // printed 74.8).
    val GateThresholdMs = 145.0
    val GateWaitBudgetMs = 600000L // 10 min, then proceed regardless
    calibMs() // discarded: first call pays JIT/OSR warm-up, which would
              // read as phantom contention in the gate samples
    val gateSamples = scala.collection.mutable.ArrayBuffer[Double]()
    val gateT0 = System.nanoTime()
    // TWO consecutive idle samples required: the very first gated
    // attempt passed on a single 151 ms sample and then read 209/185 ms
    // at the next two boundaries — one sample is too noisy against this
    // box's fast-flapping contention to certify a window
    var consecutiveIdle = 0
    while (consecutiveIdle < 2 &&
        (System.nanoTime() - gateT0) / 1e6 < GateWaitBudgetMs) {
      val s = calibMs()
      gateSamples += s
      if (s < GateThresholdMs) consecutiveIdle += 1
      else { consecutiveIdle = 0; Thread.sleep(30000L) }
    }
    val gateWaitS = (System.nanoTime() - gateT0) / 1e9
    // boundary re-qualification (used right before each timed pass): a
    // window that qualified at JVM start can be gone by the time the
    // ~2-min build phase ends. Waiting at a pass boundary costs nothing
    // in measurement validity — every query is timed independently and
    // the builds' memo caches don't decay — and it is the only way the
    // official artifact can satisfy "all calib fields under the gate"
    // rather than merely "started idle". Bounded: 2 min per boundary, then
    // proceed with the contaminated sample recorded (t2_min and
    // t2_min_calib_norm still decode the residue).
    def qualifyBoundary(): Double = {
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      var s = calibMs()
      while (s >= GateThresholdMs && System.nanoTime() < deadline) {
        Thread.sleep(15000L)
        s = calibMs()
      }
      s
    }
    val spark = GraftSession.local(cpus)
    // every timed entry runs as one meter scope: its wall time, and the
    // jobs, tasks, bytes and planning time it caused (bench_detail.json's
    // `vectors`; README "Reading bench_detail.json")
    val meter = new graft.obs.Meter(spark)
    /** One timed entry: `build` then `act` on its result, under one scope.
      * `seconds` is -1 on failure, so a regression can never masquerade
      * as a speedup; the cost is kept either way.
      */
    final case class Run(seconds: Double, builderS: Double,
        cost: graft.obs.Cost)
    def timed[A](name: String, label: String)(build: => A)(
        act: A => Any): Run = {
      var builderS = 0.0
      val s = meter.scope {
        val t0 = System.nanoTime()
        val a = build
        builderS = (System.nanoTime() - t0) / 1e9
        act(a)
      }
      s.result.failed.foreach(e =>
        System.err.println(s"[bench] $name FAILED ($label): ${e.getMessage}"))
      Run(if (s.result.isSuccess) s.seconds else -1.0, builderS, s.cost)
    }
    // JVM/codegen/committer warm-up BEFORE any timed entry: ivf_build
    // runs first and would otherwise absorb ~5 s of one-time costs that
    // no other (warm-JVM) entry pays
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val warmDir = java.nio.file.Files.createTempDirectory("bench_warm").toString
    spark.range(1000L).toDF("id").write.mode("overwrite").parquet(warmDir)
    spark.read.parquet(warmDir).count()
    // warm per-table footers + the codegen shapes most queries share
    // (tokenize/explode, hash-agg, window rank, HOF fold) on a 200-row
    // slice — otherwise whichever catalog query happens to run them
    // first absorbs ~5-8 s of one-time JIT/codegen cost and the bench
    // misattributes it to that query's plan
    graft.Tables.names.foreach { t =>
      try graft.Tables.load(spark, sfDir, t).count()
      catch { case _: Throwable => () }
    }
    try {
      import org.apache.spark.sql.functions._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("t"))
      graft.Tables.documents(spark, sfDir).limit(200)
        .select(col("doc_id"),
          explode(graft.queries.TextQueries.tokens(col("text"))).as("t"))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
        .withColumn("r", row_number().over(w))
        .withColumn("s", aggregate(array(col("c")), lit(0.0), (a, x) => a + x))
        .where(col("r") <= 3).count()
      // typed-Dataset mapPartitions + crossJoin shapes (multimodal path)
      val tiny = graft.sources.Multimodal.features(
        graft.sources.Multimodal.assets(spark, sfDir).limit(20))
      tiny.crossJoin(tiny.select(col("asset_id").as("b"))).count()
      // native md5_long60 inside a HOF lambda (MinHash/CMS/maxsim shape)
      graft.Tables.documents(spark, sfDir).limit(200)
        .select(aggregate(
          transform(graft.queries.TextQueries.tokens(col("text")),
            t => graft.queries.DedupQueries.md5Long(t)),
          lit(0.0), (a, x) => a + x.cast("double"))).count()
    } catch { case _: Throwable => () }
    val loadStart = loadAvg()
    // the ~30 s of session + warm-up work separates the gate from the
    // timed build phase — re-qualify so the builds also start idle
    val calibStart = qualifyBoundary()
    // ONE cached corpus scan shared by the ten build stages (VERDICT
    // r15 #1b): each build re-reads documents/embeddings from parquet;
    // persisting both turns ~10 corpus scans into 1, shrinking the
    // bench's wall-clock exposure to host contention. Spark's
    // CacheManager substitutes the InMemoryRelation by plan equality,
    // so the builds' own Tables.documents/embeddings calls hit it
    // without plumbing. The materialization is timed as its own entry
    // (corpus_cache) so `value` stays an honest end-to-end total, and
    // both tables are unpersisted before pass 1 so the timed catalog
    // passes measure the real uncached plans.
    val docsCached = graft.Tables.documents(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val embsCached = graft.Tables.embeddings(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the one-per-JVM builds, each its own entry so the queries that
    // reuse the artifact measure their own work only, run in this order
    // (later builds hit earlier memos): the IVF index; PQ/OPQ training
    // and the coded datasets; the MinHash verified pairs feeding
    // minhash_lsh_pairs / dedup_clusters / cross_source_dups; the MaxSim
    // pooled chunk table; the BM25 postings; the DSIR LMs; and the
    // three first-call memos the r17 pass1/pass2 comparison surfaced
    // (p1/p2 ratios 9.3/4.6/3.6) — the hybrid fused artifact, the BPE
    // merges and the quality classifier
    val buildTable: Seq[(String, () => Any)] = Seq(
      "corpus_cache" -> (() => { docsCached.count(); embsCached.count() }),
      "ivf_build" -> (() => graft.queries.IndexQueries.index(spark, sfDir)),
      "pq_train" -> (() => graft.queries.VectorQueries.pqModel(spark, sfDir)),
      "opq_train" -> (() => graft.queries.VectorQueries.opqModel(spark, sfDir)),
      "ivfpq_encode" ->
        (() => graft.queries.IndexQueries.pqCodesPath(spark, sfDir)),
      "ivfsq_encode" ->
        (() => graft.queries.IndexQueries.sqCodesPath(spark, sfDir)),
      "ivfpq_residual_build" ->
        (() => graft.queries.IndexQueries.residualModelAndCodes(spark, sfDir)),
      "minhash_pairs_build" ->
        (() => graft.queries.DedupQueries.verifiedPairsPath(spark, sfDir)),
      "maxsim_pool_build" ->
        (() => graft.queries.TextQueries.maxsimPool(spark, sfDir)),
      "bm25_index_build" ->
        (() => graft.queries.TextQueries.bm25Index(spark, sfDir)),
      "dsir_lm_build" ->
        (() => graft.queries.CurationQueries.dsirLm(spark, sfDir)),
      "hybrid_fuse_build" ->
        (() => graft.queries.TextQueries.hybridRrfServed(spark, sfDir).count()),
      "bpe_train" -> (() => graft.queries.TextQueries.bpeModel(spark, sfDir)),
      "classifier_train" ->
        (() => graft.queries.CurationQueries.classifierModel(spark, sfDir)))
    val buildRuns: Map[String, Run] = buildTable.map { case (name, f) =>
      name -> timed(name, "builds")(f())(_ => ())
    }.toMap
    def seconds(runs: Map[String, Run]): Map[String, Double] =
      runs.map { case (k, r) => k -> r.seconds }
    // ONE timing protocol for every pass: each pass rebuilds the query
    // DataFrame (fresh lineage — a second action on the same lineage
    // reuses shuffle files and reads artificially fast) and clears the
    // cache after the timed scope
    def timedPass(label: String): Map[String, Run] =
      graft.queries.Catalog.all
        .filter { case (_, d) => d.bench }
        .map { case (name, d) =>
          val run = timed(name, label)(d.build(spark, sfDir))(_.count())
          spark.catalog.clearCache() // builders' persist()s don't accumulate
          name -> run
        }
    // drop the shared corpus cache BEFORE the timed catalog passes —
    // pass 1 must measure the uncached plans (blocking so the freed
    // memory is really back before timing starts)
    docsCached.unpersist(blocking = true)
    embsCached.unpersist(blocking = true)
    // per-pass boundary calibration (VERDICT r17 #7): a qualified-start
    // window can degrade mid-run (r17 attempt13's end sample read 393 ms
    // after an idle start), so each timed pass is bracketed by its own
    // spin samples — pass1 by (p1, mid), pass2 by (mid, p23), pass3 by
    // (p23, end) — and the artifact derives t2_min_calib_norm below so a
    // contaminated print self-reports its idle-terms correction instead
    // of needing bench-series archaeology.
    val calibP1 = qualifyBoundary()
    val pass1 = seconds(timedPass("pass1"))
    val builds = seconds(buildRuns)
    val results = builds ++ pass1
    // build-phase subtotal, emitted separately (ADVICE r17: r17 moved
    // three first-call builds out of pass-1 query timings into their own
    // entries, so the top-level `value` series broke at r17 — a reader
    // comparing `value` across rounds needs value_builds to reconcile)
    val valueBuilds = builds.values.filter(_ >= 0).sum
    // SECOND timed pass over the catalog queries (builds stay cached):
    // a driver-box outlier is decidable from this artifact alone —
    // pass2 ≈ pass1 means the cost is the plan; pass2 ≪ pass1 means
    // pass1 absorbed one-time/contended cost (SCALE.md box-variance
    // rule, VERDICT r5 next-round #4).
    // each pass is bracketed by its own (open, close) samples: the close
    // is taken IMMEDIATELY after the pass (before any boundary wait) so
    // a pass that ran contended is decoded by its own bracket even when
    // the next pass re-qualifies to an idle window
    val calibP1End = calibMs()
    val calibMid = qualifyBoundary()
    // pass 2's costs are the steady-state vectors bench_detail.json keeps
    val pass2Runs = timedPass("pass2")
    val secondPass = seconds(pass2Runs)
    val calibP2End = calibMs()
    // THIRD catalog pass + per-query min across all three (VERDICT r16
    // #1): five rounds of driver benches landed in contended windows,
    // and post-hoc calibration provably cannot decode scheduler-shaped
    // contention (an ALU spin read 1.13× while barrier-bound queries
    // inflated 5-9×). Contention on this box is ADDITIVE bursts —
    // stragglers stretching individual stages — so the per-query MIN
    // across three independent samples is nearly immune to it: a query
    // only over-reads if bursts hit the same query in all three passes.
    // t2_min = Σ_q min(p1,p2,p3) is the contention-robust headline;
    // t2 stays beside it for series continuity.
    val calibP23 = qualifyBoundary()
    val thirdPass = seconds(timedPass("pass3"))
    val calibEnd = calibMs()
    val minPass: Map[String, Double] = pass1.map { case (k, v1) =>
      val samples = Seq(v1, secondPass.getOrElse(k, -1.0),
        thirdPass.getOrElse(k, -1.0)).filter(_ >= 0)
      k -> (if (samples.isEmpty) -1.0 else samples.min)
    }
    // t2_min_calib_norm: per-query min over the three passes AFTER
    // scaling each pass's timing to idle terms by its bracketing spin
    // samples. factor_p = min(1, IDLE / mean(bracket)) — clamped at 1 so
    // the statistic only ever corrects a contaminated print DOWNWARD
    // toward the idle constant (~147 ms on this box), never flatters an
    // idle one. This is the decode rule SCALE.md applied by hand to the
    // r17 loaded runs, moved into the artifact itself (VERDICT r17 #7).
    // 130, not the old 147: see GateThresholdMs — the idle constant is
    // statistic-specific, and using the worst-core idle with median
    // brackets over-corrects contaminated passes by ~13%
    val CalibIdleMs = 130.0
    def passFactor(a: Double, b: Double): Double =
      math.min(1.0, CalibIdleMs / ((a + b) / 2.0))
    val f1 = passFactor(calibP1, calibP1End)
    val f2 = passFactor(calibMid, calibP2End)
    val f3 = passFactor(calibP23, calibEnd)
    val normMinTotal = pass1.map { case (k, v1) =>
      val samples = Seq(v1 * f1,
        secondPass.getOrElse(k, -1.0) * f2,
        thirdPass.getOrElse(k, -1.0) * f3).filter(_ >= 0)
      if (samples.isEmpty) 0.0 else samples.min
    }.sum
    val total = results.values.filter(_ >= 0).sum
    // t1 = catalog-only pass-1 total (same query set as t2, so the two
    // passes compare like-for-like; `value` keeps builds+pass1 for
    // cross-round continuity). t2 — the steady-state serving cost — is
    // the headline series rounds compare (VERDICT r6 #6).
    val total1 = pass1.values.filter(_ >= 0).sum
    val total2 = secondPass.values.filter(_ >= 0).sum
    val total3 = thirdPass.values.filter(_ >= 0).sum
    val totalMin = minPass.values.filter(_ >= 0).sum
    def ms(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val gateJson = gateSamples.map(s => f"$s%.1f").mkString("[", ",", "]")
    val passesJson = Seq((calibP1, calibP1End), (calibMid, calibP2End),
      (calibP23, calibEnd))
      .map { case (o, c) => f"[$o%.1f,$c%.1f]" }.mkString("[", ",", "]")
    // every calib/gate/norm field appears in BOTH artifacts so the
    // stdout line alone qualifies the run: calib_gate are the
    // pre-session qualification samples (two consecutive < 175 means
    // the run started qualified), calib_passes are the [open, close]
    // brackets of the three timed passes, t2_min_calib_norm is the
    // idle-terms correction derived from them.
    val calibFields =
      s""""calib_gate":$gateJson,"calib_gate_wait_s":${f"$gateWaitS%.1f"},"calib_start_ms":${f"$calibStart%.1f"},"calib_passes":$passesJson,"calib_end_ms":${f"$calibEnd%.1f"},"calib_idle_ms":$CalibIdleMs,"t2_min_calib_norm":${ms(normMinTotal)},"value_builds":${ms(valueBuilds)}"""
    // full per-query detail goes to a file (best-effort — bench may run
    // with a read-only cwd); the stdout line must stay SHORT: the driver
    // keeps only the last ~2000 chars of output, and an 80-query map at
    // full double precision pushed the line head out of that window in
    // rounds 1-2, leaving the driver with nothing parseable.
    def jsonMap[V](m: Map[String, V])(f: V => String): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + f(v) }
        .mkString("{", ",", "}")
    // one cost vector per entry: its build scope, or its pass-2 scope
    def mb(v: Double): String = f"$v%.3f"
    val vectorsJson = jsonMap(buildRuns ++ pass2Runs) { r =>
      val c = r.cost
      val execS = if (r.seconds < 0) -1.0 else r.seconds - r.builderS
      s"""{"builder_s":${ms(r.builderS)},"plan_ms":${c.planMs},"exec_s":${ms(execS)},"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks.size},"cpu_s":${ms(c.cpuS)},"gc_s":${ms(c.gcS)},"input_mb":${mb(c.inputMb)},"shuffle_read_mb":${mb(c.shuffleReadMb)},"shuffle_write_mb":${mb(c.shuffleWriteMb)},"spill_mb":${mb(c.spillMb)},"task_ms_max":${c.taskMsMax},"task_ms_p50":${c.taskMsP50},"reused":${c.reusedExchanges}}"""
    }
    try java.nio.file.Files.write(
      { val d = java.nio.file.Paths.get("bench-series")
        java.nio.file.Files.createDirectories(d)
        d.resolve("bench_detail.json") },
      (s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":${jsonMap(results)(ms)},"queries2":${jsonMap(secondPass)(ms)},"queries3":${jsonMap(thirdPass)(ms)},"queries_min":${jsonMap(minPass)(ms)},"value1":${ms(total1)},"value2":${ms(total2)},"value3":${ms(total3)},"t2_min":${ms(totalMin)},"load_start":$loadStart,"load_end":${loadAvg()},$calibFields,"vectors":$vectorsJson,"sf":"$sfDir"}""" + "\n")
        .getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] detail write failed: ${e.getMessage}") }
    // compact line: failed queries always included, then most-expensive
    // first, truncated to a budget that fits the tail window with room
    // for sbt's trailing "[success]" line. Both passes are emitted over
    // the SAME kept key set (ranked by max(p1,p2)) so a pass-1 spike is
    // attributable from this artifact alone: p2 ≈ p1 means the cost is
    // the plan; p2 ≪ p1 means pass 1 absorbed one-time/contended cost
    // (the SCALE.md box-variance rule).
    val ordered = results.toSeq.sortBy { case (k, v) =>
      // failed = pass 1 failed, or a RUN later pass failed (build-phase
      // entries have no pass 2/3 and are healthy when pass 1 succeeded);
      // failures sort strictly first, then by max-pass cost
      val failed = v < 0 || secondPass.get(k).exists(_ < 0) ||
        thirdPass.get(k).exists(_ < 0)
      (!failed, -Seq(v, secondPass.getOrElse(k, -1.0),
        thirdPass.getOrElse(k, -1.0)).max)
    }
    // budget shrunk 1500 → 1150 at r18: the gate/per-pass calib fields
    // added ~350 chars of fixed payload, and the whole line must stay
    // inside the driver's ~2000-char tail window
    val budget = 1150
    val kept = new scala.collection.mutable.ArrayBuffer[String]()
    val kept2 = new scala.collection.mutable.ArrayBuffer[String]()
    var used = 0
    ordered.foreach { case (k, v) =>
      val s = "\"" + k + "\":" + ms(v)
      // build-phase entries (no pass-2 run) appear only in `queries`
      val s2 = secondPass.get(k).map(v2 => "\"" + k + "\":" + ms(v2))
      val cost = s.length + 1 + s2.map(_.length + 1).getOrElse(0)
      if (used + cost <= budget) {
        kept += s; s2.foreach(kept2 += _); used += cost
      }
    }
    val nFail = results.values.count(_ < 0)
    meter.close()
    spark.stop()
    println(s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":${kept.mkString("{", ",", "}")},"queries2":${kept2.mkString("{", ",", "}")},"nq":${results.size},"nfail":$nFail,"t1":${ms(total1)},"t2":${ms(total2)},"t3":${ms(total3)},"t2_min":${ms(totalMin)},"load_start":$loadStart,"load_end":${loadAvg()},$calibFields,"sf":"$sfDir"}""")
  }
}
