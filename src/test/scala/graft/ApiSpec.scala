package graft

import java.nio.file.Files

/** Mirrors `/root/reference/tests/api_tests.rs`: config defaults, build +
  * load + search roundtrip, clamping, include_vectors, error cases.
  */
class ApiSpec extends SparkSpec {

  def freshCfg(dim: Int = 4): VectorIndexer.Config =
    VectorIndexer.Config(dimension = dim,
      indexDir = Files.createTempDirectory("graft_api").toString)

  def ramp(n: Int, dim: Int): Seq[(Long, Array[Float], Long)] =
    (0 until n).map { i =>
      (i.toLong, Array.tabulate(dim)(j => ((i * dim + j) * 0.1f) % 50.0f), i.toLong)
    }

  test("config defaults mirror the reference") {
    val c = freshCfg()
    assert(c.defaultK == 10 && c.defaultNProbe == 20 &&
      c.maxK == 10000 && c.maxNProbe == 10000)
  }

  test("build + search roundtrip: query vector returns itself first") {
    val vi = VectorIndexer.create(spark, freshCfg()).buildFromRecords(ramp(200, 4))
    val q = ramp(200, 4)(17)._2
    val rows = vi.search(q).collect()
    assert(rows.length == 10)
    assert(rows.head.getLong(0) == 17L)
    assert(rows.head.getDouble(1) < 0.1)
  }

  test("load roundtrip searches identically") {
    val cfg = freshCfg()
    val vi = VectorIndexer.create(spark, cfg).buildFromRecords(ramp(150, 4))
    val q = ramp(150, 4)(3)._2
    val a = vi.search(q).collect().map(_.toSeq).toSeq
    val b = VectorIndexer.load(spark, cfg).search(q).collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("defaults honored; overrides honored; clamping applied") {
    val vi = VectorIndexer.create(spark, freshCfg()).buildFromRecords(ramp(100, 4))
    val q = ramp(100, 4)(0)._2
    assert(vi.search(q).collect().length == 10) // default k
    assert(vi.search(q, k = 3).collect().length == 3)
    // k beyond maxK clamps rather than erroring
    assert(vi.search(q, k = 1000000, nProbe = 1000000).collect().length == 100)
  }

  test("include_vectors controls the payload column") {
    val vi = VectorIndexer.create(spark, freshCfg()).buildFromRecords(ramp(50, 4))
    val q = ramp(50, 4)(0)._2
    assert(!vi.search(q).columns.contains("vector"))
    val withVec = vi.search(q, includeVectors = true)
    assert(withVec.columns.contains("vector"))
    assert(withVec.collect().head.getSeq[Float](2).toArray.toSeq == q.toSeq)
  }

  test("error cases: empty build, dim mismatch, unbuilt search, k=0") {
    val cfg = freshCfg()
    val vi = VectorIndexer.create(spark, cfg)
    intercept[IllegalArgumentException](vi.buildFromRecords(Seq.empty))
    intercept[IllegalArgumentException](
      vi.buildFromRecords(Seq((1L, Array(1f, 2f), 0L)))) // dim 2 != 4
    intercept[IllegalStateException](vi.search(Array(0f, 0f, 0f, 0f)))
    vi.buildFromRecords(ramp(50, 4))
    intercept[IllegalArgumentException](vi.search(ramp(50, 4)(0)._2, k = 0))
    intercept[IllegalArgumentException](vi.search(ramp(50, 4)(0)._2, nProbe = 0))
    intercept[IllegalArgumentException](vi.search(Array(1f, 2f))) // query dim
  }

  test("searchMatrix pads with inf/-1 like the reference bindings") {
    val vi = VectorIndexer.create(spark, freshCfg()).buildFromRecords(ramp(5, 4))
    val (d, i) = vi.searchMatrix(Array(ramp(5, 4)(0)._2), k = 10, nProbe = 10000)
    assert(d.length == 1 && d(0).length == 10)
    assert(i(0).take(5).forall(_ >= 0))       // 5 real results
    assert(i(0).drop(5).forall(_ == -1L))     // padded ids
    assert(d(0).drop(5).forall(_.isPosInfinity)) // padded distances
    assert(i(0)(0) == 0L && d(0)(0) == 0.0)
  }

  test("buildFromFile: fvecs roundtrip, self-retrieval rank 1") {
    // mirrors build_from_vector_file (api.rs:149-186) + api_tests.rs:39-92
    val dim = 8
    val vecs = (0 until 120).map(i =>
      Array.tabulate(dim)(j => (math.sin(i * dim + j) * 10.0).toFloat))
    val path = Files.createTempDirectory("graft_bff").resolve("vs.fvecs").toString
    graft.sources.VectorFormats.writeFvecs(vecs.iterator, path)
    val vi = VectorIndexer.create(spark, freshCfg(dim)).buildFromFile(path)
    val rows = vi.search(vecs(37), k = 5, nProbe = 10000).collect()
    assert(rows.head.getLong(0) == 37L)
    assert(rows.head.getDouble(1) < 1e-6)
  }

  test("buildFromFile: npy works; bad extension and empty file rejected") {
    val dim = 4
    val dir = Files.createTempDirectory("graft_bff2")
    val vecs = (0 until 60).map(i => Array.tabulate(dim)(j => i + j * 0.5f))
    val npy = dir.resolve("vs.npy").toString
    graft.sources.VectorFormats.writeNpy(vecs.iterator, 60, dim, npy)
    val vi = VectorIndexer.create(spark, freshCfg(dim)).buildFromFile(npy)
    assert(vi.search(vecs(11), k = 1, nProbe = 10000)
      .collect().head.getLong(0) == 11L)
    intercept[IllegalArgumentException](VectorIndexer.create(spark, freshCfg(dim))
      .buildFromFile(dir.resolve("vs.txt").toString))
    val empty = dir.resolve("empty.npy").toString
    graft.sources.VectorFormats.writeNpy(Iterator.empty, 0, dim, empty)
    intercept[IllegalArgumentException](
      VectorIndexer.create(spark, freshCfg(dim)).buildFromFile(empty))
  }

  test("ts=0 records default to ingest wall-clock (vector_store.rs:36-40)") {
    val cfg = freshCfg()
    val before = System.currentTimeMillis() / 1000L
    VectorIndexer.create(spark, cfg).buildFromRecords(Seq(
      (1L, Array(1f, 2f, 3f, 4f), 0L),
      (2L, Array(2f, 3f, 4f, 5f), 777L)))
    val ts = spark.read.parquet(s"${cfg.indexDir}/vectors")
      .select("vec_id", "ts").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ts(1L) >= before, s"ts=0 not defaulted: ${ts(1L)}")
    assert(ts(2L) == 777L) // non-zero stored verbatim
  }

  test("searchMatrix shape uses the requested k even beyond maxK") {
    // the reference Python binding always returns (nq, k); the maxK clamp
    // only bounds how many slots are FILLED
    val cfg = freshCfg().copy(maxK = 3)
    val vi = VectorIndexer.create(spark, cfg).buildFromRecords(ramp(30, 4))
    val (d, i) = vi.searchMatrix(Array(ramp(30, 4)(0)._2), k = 7, nProbe = 10000)
    assert(d(0).length == 7 && i(0).length == 7)
    assert(i(0).take(3).forall(_ >= 0))          // filled up to maxK
    assert(i(0).drop(3).forall(_ == -1L))        // rest padded
    assert(d(0).drop(3).forall(_.isPosInfinity))
  }

  test("addRecords: incremental vectors searchable without rebuild") {
    val vi = VectorIndexer.create(spark, freshCfg()).buildFromRecords(ramp(150, 4))
    val extra = ramp(200, 4).drop(150)
    vi.addRecords(extra)
    // an appended vector retrieves itself first
    val q = extra(20)._2 // id 170
    val rows = vi.search(q).collect()
    assert(rows.head.getLong(0) == 170L)
    assert(rows.head.getDouble(1) < 1e-6)
    // full corpus now searchable: probe-all count over all ids
    assert(vi.search(q, k = 1000000, nProbe = 1000000).collect().length == 200)
    // dimension errors still raise
    intercept[Exception] {
      vi.addRecords(Seq((999L, Array(1.0f), 0L)))
    }
  }

  test("rangeSearch and annJoin on the facade") {
    import org.apache.spark.sql.functions._
    val recs = ramp(200, 4)
    val vi = VectorIndexer.create(spark, freshCfg()).buildFromRecords(recs)
    val q = recs(17)._2
    // probe-all radius search: must contain the query itself at dist 0,
    // every distance under the radius, sorted ascending
    val r = vi.rangeSearch(q, radius = 0.5, nProbe = 10000).collect()
    assert(r.map(_.getLong(0)).contains(17L))
    val ds = r.map(_.getDouble(1)).toSeq
    assert(ds == ds.sorted && ds.forall(_ < 0.5))
    // distributed ANN join: top-1 of each query row is itself
    import spark.implicits._
    val queries = recs.take(20)
      .map { case (id, v, _) => (id, v.toSeq) }
      .toDF("query_id", "qe")
      .select(col("query_id"), col("qe").cast("array<float>").as("qe"))
    val joined = vi.annJoin(queries, k = 1, nProbe = 10000).collect()
    assert(joined.length == 20)
    joined.foreach(row => assert(row.getLong(2) == row.getLong(0),
      s"query ${row.getLong(0)} top-1 is ${row.getLong(2)}"))
    // deletes flow through the facade too — both forms
    vi.deleteIds(Seq(17L))
    assert(!vi.search(q, nProbe = 10000).collect()
      .map(_.getLong(0)).contains(17L))
    assert(vi.deleteWhere(col("vec_id") === 18L) == 1L)
    assert(!vi.search(q, nProbe = 10000).collect()
      .map(_.getLong(0)).contains(18L))
  }

  test("maintenance on the facade: stats expose file debt, maintain " +
      "compacts it, answers unchanged through the swap") {
    import graft.operators.Ivf
    val vi = VectorIndexer.create(spark, freshCfg()).buildFromRecords(ramp(150, 4))
    // fragment with three incremental adds
    val extra = ramp(300, 4).drop(150)
    extra.grouped(50).foreach(g => vi.addRecords(g))
    val s0 = vi.maintenanceStats
    assert(s0.filesPerShardMax > 1, s"adds did not fragment: $s0")
    val q = extra(20)._2 // id 170
    val before = vi.search(q, k = 5, nProbe = 1000000).collect().map(_.toSeq).toSeq
    vi.maintain(maxFilesPerShard = 0) match {
      case Ivf.MaintainCompacted(_) => ()
      case other => fail(s"expected a compact, got $other")
    }
    val s1 = vi.maintenanceStats
    assert(s1.filesPerShardMax < s0.filesPerShardMax,
      s"maintain did not reduce debt: $s0 -> $s1")
    // the SAME facade handle answers identically through the swap
    assert(vi.search(q, k = 5, nProbe = 1000000).collect()
      .map(_.toSeq).toSeq == before,
      "maintain changed search answers")
    // under threshold now: maintain is a no-op skip
    assert(vi.maintain() == Ivf.MaintainSkipped)
  }

  test("maintenance loop on the facade: the poller converges incremental " +
      "add debt out of band, answers unchanged") {
    val vi = VectorIndexer.create(spark, freshCfg()).buildFromRecords(ramp(150, 4))
    val extra = ramp(300, 4).drop(150)
    val loop = vi.startMaintenanceLoop(maxFilesPerShard = 2,
      pollIntervalMs = 100L)
    try {
      extra.grouped(30).foreach(g => vi.addRecords(g))
      var waited = 0
      while (waited < 240 && vi.maintenanceStats.filesPerShardMax > 2) {
        Thread.sleep(500); waited += 1
      }
      assert(vi.maintenanceStats.filesPerShardMax <= 2,
        s"facade loop never converged: ${vi.maintenanceStats}")
      assert(loop.compacts > 0 && loop.recentErrors.isEmpty,
        s"facade loop errors: ${loop.recentErrors.map(_.getMessage)}")
    } finally loop.stop()
    // no loss, no duplication through however many swaps the loop ran
    // (result-preservation through a single swap is gated in the facade
    // maintain test above; here the adds legitimately change top-k)
    assert(vi.search(ramp(150, 4)(3)._2, k = 1, nProbe = 1000000)
      .head().getLong(0) == 3L, "base self-retrieval lost")
    assert(vi.search(extra.head._2, k = 1, nProbe = 1000000)
      .head().getLong(0) == extra.head._1, "added self-retrieval lost")
    assert(vi.search(extra.head._2, k = 10000, nProbe = 1000000)
      .collect().length == 300, "rows lost or duplicated across swaps")
  }

  test("delete lifecycle on the facade: delete → maintain materializes " +
      "→ verified clearTombstones; out-of-order clear refused") {
    import graft.operators.Ivf
    val vi = VectorIndexer.create(spark, freshCfg()).buildFromRecords(ramp(120, 4))
    vi.deleteIds(Seq(17L))
    val s0 = vi.maintenanceStats
    assert(s0.tombstones == 1L && s0.unmaterializedTombstones == 1L)
    // the guard: clearing before any compact would resurrect row 17
    intercept[IllegalStateException] { vi.clearTombstones() }
    // tombstone-only debt (file threshold huge) still compacts — the
    // converging-trigger contract through the facade
    vi.maintain(maxFilesPerShard = 1000000) match {
      case Ivf.MaintainCompacted(_) => ()
      case other => fail(s"expected a tombstone-debt compact, got $other")
    }
    val s1 = vi.maintenanceStats
    assert(s1.unmaterializedTombstones == 0L && s1.tombstones == 1L)
    vi.clearTombstones()
    assert(vi.maintenanceStats.tombstones == 0L)
    // the row is physically gone, not resurrected by the clear
    val q = ramp(120, 4)(17)._2
    assert(!vi.search(q, nProbe = 1000000).collect()
      .map(_.getLong(0)).contains(17L))
  }

  test("facade threads maxUnmaterializedTombstones end to end: debt " +
      "under the deployment knob is tolerated, compacts once crossed " +
      "(VERDICT r14 #7)") {
    import graft.operators.Ivf
    val vi = VectorIndexer.create(spark, freshCfg()).buildFromRecords(ramp(120, 4))
    // one-shot maintain honors the knob: 1 unmaterialized id ≤ 5 → skip
    // (the default 0 keeps the converge-every-delete contract, gated in
    // the lifecycle test above)
    vi.deleteIds(Seq(3L))
    assert(vi.maintain(maxFilesPerShard = 1000000,
      maxUnmaterializedTombstones = 5L) == Ivf.MaintainSkipped)
    // the facade poller threads the same knob: tolerated debt never
    // triggers a compact...
    val loop = vi.startMaintenanceLoop(maxFilesPerShard = 1000000,
      pollIntervalMs = 50L, maxUnmaterializedTombstones = 5L)
    try {
      Thread.sleep(600)
      assert(loop.compacts == 0,
        "loop compacted debt the deployment knob says to tolerate")
      assert(vi.maintenanceStats.unmaterializedTombstones == 1L)
      // ...and pays it exactly when it crosses the threshold
      vi.deleteIds((10L to 15L).toSeq) // debt now 7 > 5
      var waited = 0
      while (waited < 240 &&
          vi.maintenanceStats.unmaterializedTombstones > 0L) {
        Thread.sleep(250); waited += 1
      }
      assert(vi.maintenanceStats.unmaterializedTombstones == 0L,
        s"loop never paid the crossed debt: ${vi.maintenanceStats}")
      assert(loop.compacts > 0 && loop.recentErrors.isEmpty,
        s"loop errors: ${loop.recentErrors.map(_.getMessage)}")
    } finally loop.stop()
    // the compact materialized the deletes; search stays clean
    assert(!vi.search(ramp(120, 4)(12)._2, nProbe = 1000000).collect()
      .map(_.getLong(0)).contains(12L))
  }

  test("P1 on every search entry point: batch, annJoin, direct build") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val vi = VectorIndexer.create(spark, freshCfg()).buildFromRecords(ramp(80, 4))
    // searchBatch: wrong-dimension query raises with the query id, like
    // single search (a 2-dim query would otherwise route by prefix and
    // return ids behind NULL distances)
    val e = intercept[IllegalArgumentException] {
      vi.searchBatch(Array(1L -> Array(0.1f, 0.2f)), k = 3)
    }
    assert(e.getMessage.contains("dimension"))
    // annJoin: a NULL query embedding fails the job with a labeled
    // error, not an opaque task NPE
    val badQ = Seq((1L, Some(Seq(0.1f, 0.2f, 0.3f, 0.4f))), (2L, None))
      .toDF("query_id", "qe")
      .select(col("query_id"), col("qe").cast("array<float>").as("qe"))
    val e2 = intercept[Exception] {
      vi.annJoin(badQ, k = 1, nProbe = 10000).collect()
    }
    assert(e2.getMessage != null)
    // direct Ivf.build (no facade pre-validation): a null embedding
    // raises the labeled map-side guard instead of an assignment NPE
    val dir = java.nio.file.Files
      .createTempDirectory("graft_build_guard").toString
    val rows = (0L until 40L).map(i => (i, Some(Seq.fill(4)(i.toFloat)))) :+
      (99L, Option.empty[Seq[Float]])
    val df = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
    val e3 = intercept[Exception] {
      graft.operators.Ivf.build(df, "vec_id", "embedding", dir)
    }
    assert(e3.getMessage != null)
  }

  test("suggest_nlist parity") {
    assert(VectorIndexer.suggestNlist(5000) == math.sqrt(5000).toInt)
    assert(VectorIndexer.suggestNlist(1000000) == 4000)
  }

  test("missing-index load fails") {
    intercept[Exception](VectorIndexer.load(spark, freshCfg()))
  }

  test("facade-wide custom-id sweep: every entry point works on a " +
      "doc_id-named index (VERDICT r15 #7)") {
    // ivf_search_custom_id oracles build→deleteWhere→search→compact→
    // clear at the operator layer; this walks the REMAINING facade
    // entry points under a custom id column — the class the r15
    // poller/sibling fixes belonged to. Any internal vec_id hardcode
    // fails analysis (no such column) or returns the wrong rows.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val cfg = freshCfg()
    val vi = VectorIndexer.create(spark, cfg)
    val recs = ramp(260, 4)
    val builtDf = recs.take(200)
      .map { case (id, v, ts) => (id, v.toSeq, ts) }
      .toDF("doc_id", "embedding", "ts")
      .select(col("doc_id"),
        col("embedding").cast("array<float>").as("embedding"), col("ts"))
    vi.build(builtDf, "doc_id", "embedding")

    // addRecords must append under the layout's own id column
    vi.addRecords(recs.slice(200, 260))
    val q230 = recs(230)._2
    assert(vi.search(q230).head().getLong(0) == 230L,
      "appended record not self-retrievable on a doc_id index")

    // searchBatch: each query's rank-1 is itself
    val qs = Array(230L -> recs(230)._2, 17L -> recs(17)._2)
    val sb = vi.searchBatch(qs, k = 1, nProbe = 10000).collect()
    assert(sb.map(r => r.getLong(0) -> r.getLong(2)).toMap ==
      Map(230L -> 230L, 17L -> 17L))

    // searchMatrix keeps the (D, I) padding contract
    val (d, i) = vi.searchMatrix(Array(recs(5)._2), k = 3)
    assert(i(0)(0) == 5L && d(0)(0) == 0.0)

    // rangeSearch contains self at distance 0
    val rr = vi.rangeSearch(recs(40)._2, radius = 0.5, nProbe = 10000)
      .collect()
    assert(rr.map(_.getLong(0)).contains(40L))

    // distributed annJoin: top-1 of each query row is itself
    val queries = recs.take(10)
      .map { case (id, v, _) => (id, v.toSeq) }
      .toDF("query_id", "qe")
      .select(col("query_id"), col("qe").cast("array<float>").as("qe"))
    val joined = vi.annJoin(queries, k = 1, nProbe = 10000).collect()
    assert(joined.length == 10 &&
      joined.forall(r => r.getLong(2) == r.getLong(0)))

    // both delete forms address the custom column
    vi.deleteIds(Seq(230L))
    assert(!vi.search(q230, nProbe = 10000).collect()
      .map(_.getLong(0)).contains(230L))
    assert(vi.deleteWhere(col("doc_id") === 17L) == 1L)
    assert(!vi.search(recs(17)._2, nProbe = 10000).collect()
      .map(_.getLong(0)).contains(17L))

    // maintenance trio: stats, maintain (materializes tombstones),
    // verified clear — all reached through the facade handle
    val preStats = vi.maintenanceStats
    assert(preStats.tombstones == 2L,
      s"expected 2 tombstones, got ${preStats.tombstones}")
    vi.maintain(maxFilesPerShard = 1000000) // tombstone-debt compact
    vi.clearTombstones()
    assert(vi.maintenanceStats.tombstones == 0L)

    // load roundtrip re-derives idCol from the sidecar; deletes hold
    val vi2 = VectorIndexer.load(spark, cfg)
    val ids2 = vi2.search(q230, k = 1000000, nProbe = 1000000)
      .collect().map(_.getLong(0)).toSet
    assert(ids2.size == 258 && !ids2.contains(230L) && !ids2.contains(17L),
      s"loaded doc_id index has ${ids2.size} live ids")
  }

  test("facade built with a custom embedding column: search, searchBatch, " +
      "addRecords, maintain and load read it from the index") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.Ivf
    val cfg = freshCfg()
    val recs = ramp(260, 4)
    val vi = VectorIndexer.create(spark, cfg)
    vi.build(recs.take(200).map { case (id, v, ts) => (id, v.toSeq, ts) }
      .toDF("vec_id", "emb", "ts")
      .select(col("vec_id"), col("emb").cast("array<float>").as("emb"),
        col("ts")), embCol = "emb")
    val q = recs(17)._2
    assert(vi.search(q).head().getLong(0) == 17L)
    assert(vi.searchBatch(Array(17L -> q), k = 1).head().getLong(2) == 17L)
    vi.addRecords(recs.slice(200, 260))
    assert(vi.search(recs(230)._2).head().getLong(0) == 230L,
      "appended record not self-retrievable on an emb index")
    assert(vi.maintain(maxFilesPerShard = 0).isInstanceOf[Ivf.MaintainCompacted])
    val loaded = VectorIndexer.load(spark, cfg)
    assert(loaded.search(recs(230)._2).head().getLong(0) == 230L)
    assert(loaded.searchBatch(Array(17L -> q), k = 1).head().getLong(2) == 17L)
  }
}
