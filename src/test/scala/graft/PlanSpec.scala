package graft

import graft.queries.Catalog

/** Plan-shape regression gates: the physical properties the 100 TB
  * design depends on (SCALE.md) must survive future edits.
  */
class PlanSpec extends SparkSpec {

  def plan(name: String): String =
    Catalog.all(name).build(spark, sf001).queryExecution.executedPlan.toString

  test("q1: filter pushed to scan + map-side partial aggregation") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(2000))
    assert(p.contains("partial_sum"), "no map-side partial aggregation")
  }

  test("q3/q5: dimension joins broadcast, no shuffle of dims") {
    assert(plan("q3_shipping_priority").contains("BroadcastHashJoin"))
    val p5 = plan("q5_region_revenue")
    assert(p5.contains("BroadcastHashJoin"))
  }

  test("knn: top-k via TakeOrderedAndProject, pruned read schema") {
    val p = plan("knn_exact")
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"),
      "scan reads more columns than needed")
  }

  test("native distance expression present in knn plan (not HOF)") {
    val p = plan("knn_exact")
    assert(p.contains("squaredl2"), "native SquaredL2 missing from plan")
    assert(!p.contains("zip_with"), "HOF form leaked into the hot path")
  }

  test("semi/anti joins planned as such") {
    assert(plan("order_priority_count").contains("LeftSemi"))
    assert(plan("customers_without_orders").contains("LeftAnti"))
  }

  test("bloom semi: probe side pre-filtered before an exact semi join") {
    val p = plan("bloom_semi_revenue")
    assert(p.contains("LeftSemi"), "exact semi join missing")
    // the pre-filter is the codegen BloomProbe expression (round 12 —
    // the ScalaUDF form it replaced would surface here as "UDF")
    assert(p.toLowerCase.contains("bloomprobe"),
      "bloom might-contain pre-filter missing from plan")
    assert(!p.contains("UDF"),
      "boxed UDF reappeared on the bloom probe path")
  }

  test("incremental dedup: bloom short-circuit union around a left anti join") {
    val p = plan("dedup_incremental_stats")
    assert(p.contains("LeftAnti"), "exact anti join missing")
    assert(p.contains("Union"), "definite-miss bypass branch missing")
  }

  test("corpus pipeline: contamination gram set broadcast, corpus read once") {
    // r19 shape: the test-source gram set aggregates to ONE broadcast
    // row and the contamination test is a map-side arrays_overlap —
    // the corpus is never joined/shuffled for decontamination, and the
    // dedup window's corpus pass appears exactly once in the plan
    // r19 shape: the contamination flag rides the corpus rows — gram
    // explode + broadcast-hash probe + per-doc max — so the corpus is
    // read once and never shuffled for the contamination check
    val p = plan("corpus_final_stats")
    assert(p.contains("BroadcastHashJoin"),
      "contamination gram set not broadcast")
    assert(!p.contains("SortMergeJoin"),
      s"corpus shuffled for the contamination check:\n${p.take(2000)}")
    assert(p.contains("Window"), "fp dedup window missing")
    assert("Scan parquet".r.findAllIn(p).length <= 2,
      "corpus scanned more than twice (main pass + test-source slice)")
  }

  test("decontam: test-gram set broadcast, train side never shuffled for the join") {
    val p = plan("decontam_overlap")
    assert(p.contains("BroadcastHashJoin"), "test-gram join not broadcast")
    assert(!p.contains("SortMergeJoin"),
      s"train corpus shuffled for the gram join:\n${p.take(2000)}")
  }

  test("pack_sequences: one window exchange per source partition, no extra shuffle") {
    val p = plan("pack_sequences")
    assert(p.contains("Window"), "prefix-sum window missing")
    // hashpartitioning(source) for the window + the presentation sort's
    // range exchange — nothing else
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"too many shuffles ($exchanges):\n${p.take(3000)}")
  }

  test("PQ ADC scan: codegen HOF fold, no UDF on the query path") {
    val emb = Tables.embeddings(spark, sf0001)
    val model = graft.queries.VectorQueries.pqModel(spark, sf0001)
    val q = emb.where(org.apache.spark.sql.functions.col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).toArray
    val encoded = graft.operators.Pq.encode(emb, "embedding", model)
      .select("vec_id", "pq_code")
    val p = graft.operators.Pq
      .search(encoded, "vec_id", "pq_code", model, q, 10)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), "top-k not heap-based")
    // the scan subtree after encoding must not invoke the encode UDF —
    // ADC is zip_with/aggregate over the stored codes only
    assert(p.contains("zip_with") || p.contains("aggregate"),
      s"ADC fold missing:\n${p.take(2000)}")
  }

  test("funnel: event_type filters pushed to every branch scan") {
    val p = plan("user_funnel")
    assert("PushedFilters: \\[.*EqualTo\\(event_type".r.findAllIn(p).length >= 3,
      s"funnel branch scans missing pushed type filters:\n${p.take(2500)}")
  }

  test("semantic decontam: test side broadcast, pairs reduced before the shuffle") {
    val p = plan("semantic_decontam")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"test side must broadcast, not shuffle:\n${p.take(2000)}")
    assert(p.contains("partial_min") || p.contains("partial_sum"),
      "min/count must partial-aggregate map-side — pair rows must never shuffle")
    assert(p.contains("squaredl2"), "native distance expression missing")
  }

  test("mixture weights: one groupBy shuffle, totals ride a bounded window") {
    val p = plan("source_mixture_weights")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "source aggregation must be partial")
    // r19: the normalizers are window aggregates over the bounded
    // per-source frame — ONE corpus pass, no persisted re-aggregation
    // crossJoined back (the old broadcast shape duplicated the corpus
    // tokenize subtree) and no cache materialization
    assert(p.contains("Window"),
      "totals must ride the per-source frame as a window aggregate")
    assert(!p.contains("InMemoryRelation") && !p.contains("InMemoryTableScan"),
      "the per-source frame must not persist — the window form needs no cache")
  }

  test("substring spans: no cartesian explosion — the gram join is hash-keyed") {
    val p = plan("substring_dup_spans")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"positional gram join exploded:\n${p.take(2000)}")
    assert(p.contains("Window"), "gaps-and-islands window missing")
  }

  test("sparse cosine: inverted-index join, norm tables broadcast") {
    val p = plan("sparse_cosine_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"sparse similarity must never cross-join:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin"), "norms must broadcast")
    assert(p.contains("TakeOrderedAndProject"), "top-20 must not global-sort")
  }

  test("CMS: sketch build partial-aggregates; estimate broadcasts the sketch") {
    val p = plan("cms_token_counts")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "cell counting must combine map-side")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      "the bounded sketch side must broadcast")
  }

  test("HLL / quantile sketch: register math combines map-side") {
    // the sketches' 100 TB claim is ONE shuffle of bounded keys with
    // map-side combine: registers max-merge and buckets count-merge
    // before the exchange, so shuffle volume is O(registers), not O(rows)
    val hll = plan("approx_distinct_parts")
    assert(hll.contains("partial_max"),
      "HLL registers must max-combine map-side")
    val qs = plan("approx_quantiles")
    assert(qs.contains("partial_count"),
      "quantile buckets must count-combine map-side")
  }

  test("heavy hitters: depth broadcast joins prefilter BEFORE the count shuffle") {
    // the scale contract: occurrences are estimated map-side against
    // the broadcast sketch (one BroadcastHashJoin per hash row, never a
    // shuffled join), so the only corpus-keyed exchange aggregates the
    // candidate-filtered stream with map-side combine. Inspected on the
    // OPERATOR's lazy result — the catalog wrapper collects the ≤ φ⁻¹
    // rows to a local relation to release its token cache (round 10),
    // so its own plan is a LocalTableScan
    val toks = Tables.documents(spark, sf001)
      .select(org.apache.spark.sql.functions.explode(
        graft.queries.TextQueries.tokens(
          org.apache.spark.sql.functions.col("text"))).as("token"))
    val p = graft.operators.CountMin
      .heavyHitters(toks, "token", phiInverse = 200L, depth = 4, width = 1024)
      .queryExecution.executedPlan.toString
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bhj >= 4, s"expected >=4 broadcast sketch joins, saw $bhj")
    assert(!p.contains("SortMergeJoin"),
      "sketch estimation must never shuffle the token stream into a join")
    assert(p.contains("partial_count"),
      "candidate counting must combine map-side")
  }

  test("HLL overlap: register algebra is broadcast-only, corpus scanned once") {
    // inspected on the executed plans of the serving call, as the
    // meter's listener captured them: the register frame is built in
    // one pass and the pairwise unions run on the driver (round 10)
    import org.apache.spark.sql.functions.col
    val (_, cost) = graft.obs.Meter.measure(spark)(
      graft.operators.Hll.pairwiseOverlap(
        Tables.events(spark, sf001).select(col("event_type"), col("user_id")),
        "event_type", col("user_id")))
    // one stage reads the corpus; under AQE its shuffle map stage runs
    // as a job of its own before the collect's job
    val scans = cost.tasks.filter(_.inputBytes > 0).map(_.stageId).distinct
    assert(scans.size == 1 && cost.jobs <= 2,
      s"corpus read by stages $scans in ${cost.jobs} jobs")
    val p = cost.plans.mkString("\n")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "pairwise union must stay on broadcast-sized register frames")
    assert(p.contains("partial_max"),
      "union registers must max-combine map-side")
  }

  test("range search: probe filters prune the scan, no global sort of matches") {
    // the catalog entry is PROBE-ALL: every centroid is probed, so the
    // adaptive pruned scan (Ivf.probePrunedScan) must DROP the
    // tautological centroid predicate (⌈k/256⌉ chunk arms would each
    // re-scan what shard pruning already admits) while keeping the
    // shard directory pruning
    val df = Catalog.all("ivf_range_search").build(spark, sf001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("shard_id"),
      s"no directory pruning:\n${p.take(2000)}")
    assert(!p.contains("In(centroid_id") && !p.contains("centroid_id#"),
      s"probe-all must not carry a centroid predicate:\n${p.take(2000)}")
    // the SELECTIVE regime (n_probe << k) must still push the probed
    // centroid set to the reader
    val idx = graft.queries.IndexQueries.index(spark, sf001)
    val q = Tables.embeddings(spark, sf001)
      .where(org.apache.spark.sql.functions.col("vec_id") === 1L)
      .select("embedding").head().getSeq[Float](0).toArray
    val sel = graft.operators.Ivf.rangeSearch(spark, idx, q,
      radius = 1.5, nProbe0 = 2)
    val ps = sel.queryExecution.executedPlan.toString
    // the In must be INSIDE a scan's PushedFilters list — a post-scan
    // Filter node also prints "centroid_id", so substring checks on
    // the whole plan cannot distinguish pushed from unpushed
    val pushedSegs = ps.split("\n")
      .filter(l => l.contains("FileScan") && l.contains("PushedFilters: ["))
      .map(_.split("PushedFilters: \\[", 2)(1))
    assert(pushedSegs.exists(_.contains("In(centroid_id")),
      s"selective probe set not inside any PushedFilters:\n${ps.take(2000)}")
  }

  test("PII scan / rule filter: map-side only — a single final aggregation exchange") {
    for (q <- Seq("pii_scan_stats", "rule_filter_stats")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"$q joins the corpus:\n${p.take(1500)}")
      assert(p.contains("partial"), s"$q lacks map-side partial aggregation")
    }
  }

  test("DSIR: LM tables broadcast back, corpus never sort-merge-joined") {
    val p = plan("dsir_weights")
    assert(p.contains("BroadcastHashJoin"),
      s"bucket LM must broadcast:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin"),
      s"corpus shuffled for the LM join:\n${p.take(1500)}")
  }

  test("weighted sample: global top-k, not a global sort") {
    val p = plan("docs_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"weighted sample global-sorts the corpus:\n${p.take(1500)}")
  }

  test("as-of join: one data shuffle (window key), no join explosion") {
    val p = plan("events_asof_click")
    // union + carry-forward window: hash exchange on the key for the
    // window (+ at most the final presentation sort's range exchange) —
    // no BroadcastNestedLoopJoin / CartesianProduct from a naive range
    // join, and no SortMergeJoin: the "join" is the window itself
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"as-of join exploded:\n${p.take(2000)}")
    assert(p.contains("Window"), "carry-forward window missing")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 3, s"too many shuffles ($exchanges):\n${p.take(3000)}")
  }

  test("maxsim: query chunks broadcast, both reductions partial-aggregate") {
    val p = plan("maxsim_top_docs")
    // the tiny query-chunk side must be the broadcast side of the NLJ —
    // a CartesianProduct would shuffle corpus chunks against it instead
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"query side not broadcast:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"),
      s"corpus chunks shuffled into a cartesian:\n${p.take(2000)}")
    assert(p.contains("partial_max"), "max-per-(query chunk, doc) not map-side")
  }

  test("maxsim ANN re-rank: candidate-doc filter pushed below featurization") {
    // the isin restriction must reach the documents scan so chunk
    // features are computed for candidate docs only — a regression
    // re-featurizes the whole corpus (SCALE.md round-6). AQE wraps the
    // executed plan, so assert on the string form like the other gates.
    val p = graft.queries.TextQueries.maxsimAnnTopDocs(spark, sf001)
      .queryExecution.executedPlan.toString
    val corpusScanLines = p.split("\n")
      .filter(l => l.contains("FileScan") && l.contains("documents"))
    assert(corpusScanLines.exists(l =>
      l.contains("INSET") || l.contains("In(doc_id")),
      s"candidate-doc set not pushed to a documents scan:\n" +
        corpusScanLines.map(_.take(200)).mkString("\n"))
    // the re-rank must NOT read the pooled bucket table — candidates
    // were resolved at build time; only chunk scans remain
    assert(!p.contains("maxsim_pool"),
      "re-rank plan still scans the pooled bucket table")
  }

  test("bm25: corpus side served from the posting table, qterms pruned") {
    val p = graft.queries.TextQueries.bm25TopDocs(spark, sf001)
      .queryExecution.executedPlan.toString
    // postings parquet present (the build-once inverted index) …
    assert(p.contains("bm25_tf"),
      "query plan does not read the prebuilt posting table")
    // … the catalog batch is DENSE (30 of the synthetic table's 31
    // vocabulary terms — far above SeekSelectivityCeiling), so the
    // adaptive seek-vs-scan rule must pick the plain posting scan: no
    // In(term)/INSET anywhere (pushing a ~whole-vocabulary set skips
    // no row group and is pure overhead — SCALE.md round 8). The seek
    // regime's pushed-chunk shape is gated in RetrievalSpec on a
    // selective batch.
    val tfScanLines = p.split("\n")
      .filter(l => l.contains("FileScan") && l.contains("bm25_tf"))
    assert(tfScanLines.nonEmpty && tfScanLines.forall(l =>
      !l.contains("INSET") && !l.contains("In(term")),
      s"dense catalog batch must not push the term set:\n" +
        tfScanLines.map(_.take(300)).mkString("\n"))
    // … and the query side never scans documents at query time: the
    // driver-sized (query_id, term) pairs are collected once per data
    // version and broadcast as a literal relation (round-6 ADVICE #1 —
    // no hidden per-call tokenize job in the plan either)
    val docScanLines = p.split("\n")
      .filter(l => l.contains("FileScan") && l.contains("documents"))
    assert(docScanLines.isEmpty,
      s"query side should be a collected literal, not a documents scan:\n" +
        docScanLines.map(_.take(200)).mkString("\n"))
  }

  test("hybrid RRF: both arms amortized — no corpus-sized scan at query " +
      "time") {
    // the ARTIFACT-BUILD plan (what the first caller per data version
    // pays): arms must serve from the prebuilt postings/pool, never a
    // corpus re-derivation
    val p = graft.queries.TextQueries.hybridRrfFused(spark, sf001)
      .queryExecution.executedPlan.toString
    // lexical arm reads the prebuilt postings, vector arm the prebuilt
    // bucketed pool — the corpus text is touched only through them
    assert(p.contains("bm25_tf"),
      "hybrid plan does not read the prebuilt posting table")
    assert(p.contains("maxsim_pool"),
      "hybrid plan does not read the prebuilt pooled bucket table")
    // every documents scan must be query-side pruned (doc_id < 8):
    // an unpruned documents scan means an arm re-derived the corpus
    val docScanLines = p.split("\n")
      .filter(l => l.contains("FileScan") && l.contains("documents"))
    docScanLines.foreach { l =>
      assert(l.contains("< 8)"),
        s"corpus-sized documents scan in the hybrid plan: ${l.take(200)}")
    }
    // the pool scan carries the probed-bucket isin restriction so the
    // bucket-clustered parquet can row-group skip
    val poolScanLines = p.split("\n")
      .filter(l => l.contains("FileScan") && l.contains("maxsim_pool"))
    assert(poolScanLines.exists(l =>
      l.contains("INSET") || l.contains("In(bucket")),
      s"probed-bucket filter not pushed to the pool scan:\n" +
        poolScanLines.map(_.take(200)).mkString("\n"))
  }

  test("hybrid RRF top-k SERVES from the fused local artifact — zero " +
      "file scans in the query plan") {
    // fused is memoized per (JVM, data version); the consumer-facing
    // query must be rank arithmetic over a local relation — re-running
    // an arm (any FileScan here) is the regression this pins against
    val p = graft.queries.TextQueries.hybridRrfTopDocs(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(p.contains("LocalTableScan") || p.contains("LocalRelation"),
      s"served hybrid plan is not a local relation:\n${p.take(600)}")
    assert(!p.contains("FileScan"),
      "served hybrid plan re-reads an on-disk artifact:\n" +
        p.split("\n").filter(_.contains("FileScan"))
          .map(_.take(200)).mkString("\n"))
    // and the result is identical to recomputing the fusion directly
    val direct = graft.operators.Rrf.topDocs(
      graft.queries.TextQueries.hybridRrfFused(spark, sf001), k = 5)
      .collect().map(_.toString).sorted
    val served = graft.queries.TextQueries.hybridRrfTopDocs(spark, sf001)
      .collect().map(_.toString).sorted
    assert(served.sameElements(direct),
      "served fused artifact diverges from direct arm recomputation")
  }
}
