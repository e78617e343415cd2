package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.{Ivf, KMeans}
import graft.functions.Vec

/** Invariants mirrored from `/root/reference/tests/ivf_index_tests.rs` and
  * `tests/integration_tests.rs`, driven over the sf0.001 embeddings table.
  */
class IvfSpec extends SparkSpec {

  lazy val indexDir: String =
    Files.createTempDirectory("graft_ivf_spec").toString
  lazy val index: Ivf.Index = {
    val emb = Tables.embeddings(spark, sf0001)
    Ivf.build(emb, "vec_id", "embedding", indexDir)
  }
  lazy val embAll: Array[(Long, Array[Float])] =
    Tables.embeddings(spark, sf0001).select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  def bruteKnn(q: Array[Float], k: Int): Seq[Long] =
    embAll.map { case (id, v) => (id, KMeans.sqDist(q, v)) }
      .sortBy(p => (p._2, p._1)).take(k).map(_._1).toSeq

  test("build creates shards + routing table; completeness and no duplicates") {
    // mirrors ivf_index_tests.rs:549-653: every vector lands in exactly one
    // shard; ids unique across shards
    val vecs = spark.read.parquet(index.vectorsPath)
    assert(vecs.count() == 500L)
    assert(vecs.select("vec_id").distinct().count() == 500L)
    val shardCount = vecs.select("shard_id").distinct().count()
    assert(shardCount.toInt == index.numShards)
    assert(index.numShards == math.ceil(math.sqrt(index.k.toDouble)).toInt ||
      index.numShards <= math.ceil(math.sqrt(index.k.toDouble)).toInt)
  }

  test("shard-write remap lookups are bitwise-identical to the driver " +
      "maps (VERDICT r11 #4)") {
    // The full-corpus write path now remaps raw→dense centroid ids and
    // dense→shard with literal-array element_at lookups instead of
    // boxed UDFs; this gate recomputes both mappings on the driver for
    // every written row. centroid_id must be the argmin over the DENSE
    // (surviving) centroids — the remap preserves ascending-raw order,
    // so the dense argmin and the remapped raw argmin coincide — and
    // shard_id must be exactly centroidToShard(centroid_id).
    val rows = spark.read.parquet(index.vectorsPath)
      .select("vec_id", "embedding", "centroid_id", "shard_id").collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val dense = r.getInt(2)
      val expected = KMeans.nearest(r.getSeq[Float](1).toArray,
        index.centroids)._1
      assert(dense == expected,
        s"vec ${r.getLong(0)}: written centroid $dense != driver $expected")
      assert(r.getInt(3) == index.centroidToShard(dense),
        s"vec ${r.getLong(0)}: shard ${r.getInt(3)} != " +
          s"routing ${index.centroidToShard(dense)}")
    }
  }

  test("annJoin probe routing expression is bitwise-identical to the " +
      "boxed-UDF form and stays native in the plan") {
    import spark.implicits._
    val np = 7
    val routerB = spark.sparkContext.broadcast(index.router)
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    // the retired UDF form, reconstructed here as the parity reference
    val probeUdf = udf((q: Seq[Float]) =>
      routerB.value.topN(q.toArray, np).toSeq)
    val viaExpr = emb.select(col("vec_id"),
        graft.operators.RouteTopN.col(col("embedding"), routerB, np)
          .as("probes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    val viaUdf = emb.select(col("vec_id"),
        probeUdf(col("embedding")).as("probes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    assert(viaExpr.size == viaUdf.size && viaExpr.nonEmpty)
    viaExpr.foreach { case (id, probes) =>
      assert(probes == viaUdf(id),
        s"vec $id: expression probes $probes != UDF ${viaUdf(id)}")
      assert(probes.length == math.min(np, index.centroids.length))
    }
    // and the annJoin plan carries the native expression, not a ScalaUDF
    val qDf = emb.limit(4).select(col("vec_id").as("query_id"),
      col("embedding").as("qe"))
    val plan = Ivf.annJoin(qDf, index, k = 3, nProbe = np)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"),
      s"annJoin probe routing fell back to a UDF:\n${plan.take(600)}")
    assert(plan.toLowerCase.contains("routetopn"),
      s"native routing expression missing from the annJoin plan:\n" +
        plan.take(600))
  }

  test("save/load roundtrip preserves the routing table") {
    val loaded = Ivf.load(spark, indexDir)
    assert(loaded.k == index.k)
    assert(loaded.centroidToShard.toSeq == index.centroidToShard.toSeq)
    assert(loaded.centroids.map(_.toSeq).toSeq == index.centroids.map(_.toSeq).toSeq)
  }

  test("self-retrieval: indexed vector returns itself first, distance ~ 0") {
    // mirrors ivf_index_tests.rs:122-159 / integration_tests.rs:62-76
    val q = embAll.find(_._1 == 42L).get._2
    val rows = Ivf.search(spark, index, q, 10, 20, includeVectors = true).collect()
    assert(rows.head.getLong(0) == 42L)
    assert(rows.head.getDouble(1) < 0.1)
    assert(rows.head.getSeq[Float](2).toArray.toSeq == q.toSeq)
  }

  test("results sorted ascending, <= k of them, distances >= 0") {
    val q = embAll(7)._2
    val rows = Ivf.search(spark, index, q, 10, 5).collect()
    assert(rows.length <= 10)
    val ds = rows.map(_.getDouble(1)).toSeq
    assert(ds == ds.sorted)
    assert(ds.forall(_ >= 0.0))
  }

  test("k > candidates returns all candidates, no padding") {
    // mirrors ivf_index_tests.rs:276-306
    val q = embAll(3)._2
    val rows = Ivf.search(spark, index, q, 10000, 10000).collect()
    assert(rows.length == 500)
  }

  test("n_probe > num centroids probes everything and works") {
    val q = embAll(11)._2
    val rows = Ivf.search(spark, index, q, 10, 10000).collect()
    assert(rows.map(_.getLong(0)).toSeq == bruteKnn(q, 10))
  }

  test("filtered search: true filtered top-k, predicate pushed to the scan") {
    val q = embAll.find(_._1 == 0L).get._2
    val res = Ivf.search(spark, index, q, k0 = 5, nProbe0 = 10000,
      filter = Some(col("label") === 2))
    // pushed down: the label predicate must reach the parquet reader,
    // not post-filter materialized rows (read the scan's metadata — the
    // plan toString truncates long PushedFilters lists)
    val scan = res.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(scan.metadata("PushedFilters").contains("EqualTo(label,2)"),
      s"label filter not pushed: ${scan.metadata("PushedFilters")}")
    val got = res.collect().map(_.getLong(0))
    // every hit really has the label, and equals brute force under the
    // same predicate (probe-all ⇒ exact)
    val labels = Tables.embeddings(spark, sf0001)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.forall(labels(_) == 2))
    val brute = embAll.filter(t => labels(t._1) == 2)
      .map { case (id, v) => (id, KMeans.sqDist(q, v)) }
      .sortBy(t => (t._2, t._1)).take(5).map(_._1)
    assert(got.toSeq == brute.toSeq)
  }

  test("filtered batch search equals per-query filtered search") {
    val qs = embAll.filter(_._1 < 4L)
    val batch = Ivf.searchBatch(spark, index, qs, k0 = 5, nProbe0 = 10000,
        filter = Some(col("label") === 2))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    val single = qs.flatMap { case (qid, q) =>
      Ivf.search(spark, index, q, k0 = 5, nProbe0 = 10000,
          filter = Some(col("label") === 2))
        .collect().zipWithIndex
        .map { case (r, i) => (qid, i + 1, r.getLong(0)) }
    }.sortBy(t => (t._1, t._2))
    assert(batch.toSeq == single.toSeq)
    assert(batch.nonEmpty)
  }

  test("batch search rejects duplicate query ids, naming the id") {
    // two queries sharing an id would merge into one top-k that repeats
    // ids
    val e = intercept[IllegalArgumentException] {
      Ivf.searchBatch(spark, index, Array((5L, embAll(1)._2), (5L, embAll(2)._2)),
        k0 = 5, nProbe0 = 10000)
    }
    assert(e.getMessage.contains("duplicate query id 5"), e.getMessage)
  }

  test("distributed ANN join: probe-all equals searchBatch; pruned keeps recall") {
    import spark.implicits._
    val qs = embAll.filter(_._1 < 8L)
    val qDf = qs.toSeq.map { case (id, v) => (id, v.toSeq) }
      .toDF("query_id", "qe")
      .select(col("query_id"), col("qe").cast("array<float>").as("qe"))
    val joined = Ivf.annJoin(qDf, index, k = 5, nProbe = 10000)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    val batch = Ivf.searchBatch(spark, index, qs, k0 = 5, nProbe0 = 10000)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    assert(joined.toSeq == batch.toSeq,
      "probe-all ANN join must equal the driver-side batch search")
    // pruned join: top-1 recall vs exact stays high at nProbe=8
    val pruned = Ivf.annJoin(qDf, index, k = 1, nProbe = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val exactTop1 = batch.filter(_._2 == 1).map(t => t._1 -> t._3).toMap
    val hits = qs.count(q => pruned.get(q._1).contains(exactTop1(q._1)))
    assert(hits >= qs.length - 1,
      s"pruned ANN join recall@1 too low: $hits/${qs.length}")
  }

  test("annJoin clamps k to config.maxK: equals searchBatch row for row " +
      "on a capped index") {
    import spark.implicits._
    val capped = index.copy(config = Ivf.Config(maxK = 3))
    val qs = embAll.filter(_._1 < 8L)
    val qDf = qs.toSeq.map { case (id, v) => (id, v.toSeq) }
      .toDF("query_id", "qe")
      .select(col("query_id"), col("qe").cast("array<float>").as("qe"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2))
    val joined = rows(Ivf.annJoin(qDf, capped, k = 10, nProbe = 4))
    assert(joined == rows(Ivf.searchBatch(spark, capped, qs, 10, 4)))
    assert(joined.groupBy(_._1).values.forall(_.length == 3),
      "annJoin returned more than maxK rows for a query")
  }

  test("ANN join pair filter: true filtered top-k over both sides") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf0001)
    val qDf = emb.where(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("label").as("q_label"))
    val got = Ivf.annJoin(qDf, index, k = 3, nProbe = 10000,
        pairFilter = Some(col("label") =!= col("q_label")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val labels = emb.select(col("vec_id"), col("label"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // every returned neighbor really is a different class…
    got.foreach { case (qid, _, nid) =>
      assert(labels(nid) != labels(qid), s"same-label pair ($qid, $nid)")
    }
    // …and it is the true filtered top-k, not top-k-then-filter:
    // brute-force over the off-class subset must agree exactly
    val qs = embAll.filter(_._1 < 8L)
    val expected = qs.flatMap { case (qid, qv) =>
      embAll.filter(e => labels(e._1) != labels(qid))
        .map(e => (e._1, graft.operators.KMeans.sqDist(qv, e._2)))
        .sortBy(p => (p._2, p._1)).take(3).zipWithIndex
        .map { case ((nid, _), i) => (qid, i + 1, nid) }
    }.sortBy(t => (t._1, t._2))
    assert(got.sortBy(t => (t._1, t._2)).toSeq == expected.toSeq)
  }

  test("ANN join pair filter from RESOLVED column refs keeps the column") {
    // df("c") / dataset-apply refs resolve eagerly (no UnresolvedAttribute
    // in the node tree); the projection must still keep the referenced
    // query column — round-6 ADVICE #2 regression
    val emb = Tables.embeddings(spark, sf0001)
    val qDf = emb.where(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("label").as("q_label"))
    val got = Ivf.annJoin(qDf, index, k = 3, nProbe = 10000,
        pairFilter = Some(col("label") =!= qDf("q_label")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    val unresolved = Ivf.annJoin(qDf, index, k = 3, nProbe = 10000,
        pairFilter = Some(col("label") =!= col("q_label")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    assert(got.toSeq == unresolved.toSeq)
    assert(got.nonEmpty)
  }

  test("qps sweep: every concurrency level completes batches, sane rates") {
    val qs = graft.operators.RecallEval.perturbedQueries(embAll.take(8), 0.5f)
    val res = graft.operators.RecallEval.qpsSweep(spark, index, qs,
      k = 5, nProbe = 4, concurrency = Seq(1, 2), minDurationMs = 200.0)
    assert(res.map(_.concurrency) == Seq(1, 2))
    res.foreach { s =>
      // at least one batch per client, consistent derived counts
      assert(s.batches >= s.concurrency,
        s"c=${s.concurrency}: ${s.batches} batches")
      assert(s.nQueries == s.batches * qs.length)
      assert(s.qps > 0.0 && s.msPerQuery > 0.0)
    }
  }

  test("one-scan recall GT mirrors sweep when maxNProbe binds") {
    // an index whose maxNProbe is below the centroid count must score
    // both recall paths against the same clamped ground truth —
    // round-6 ADVICE #3
    val capped = index.copy(config = Ivf.Config(maxNProbe = 4))
    assert(capped.config.maxNProbe < capped.k,
      "test requires a binding cap")
    val qs = graft.operators.RecallEval.perturbedQueries(embAll.take(10), 0.5f)
    val swept = graft.operators.RecallEval.sweep(
      spark, capped, qs, k = 5, nProbes = Seq(1, 2, 16), ranks = Seq(1, 5))
    val oneScan = graft.operators.RecallEval.recallsOneScan(
      spark, capped, qs, k = 5, nProbes = Seq(1, 2, 16), ranks = Seq(1, 5))
    assert(oneScan.map(s => (s.nProbe, s.recalls)) ==
      swept.map(s => (s.nProbe, s.recalls)))
  }

  test("approximate routing regime: end-to-end recall pinned vs exact") {
    // the k > ApproxRoutingThreshold hierarchical router, driven by a
    // REAL search path (recallsOneScan routes through the same router
    // as searchBatch) on SCALE.md round 7's workload: N=50k, dim=32,
    // seed 42 → k=448, forced approximate via approxRouting=2. Floors
    // are the committed measurement (SCALE.md round-7 table) minus a
    // 0.03 margin; every stage of the pipeline is seed-deterministic,
    // so drift here means the routing behavior CHANGED.
    val vecPath =
      graft.sources.VectorFormats.generatedPath(spark, 50000L, 32, 42L)
    val emb = spark.read.parquet(vecPath)
    val exactIdx = Ivf.build(emb, "vec_id", "embedding",
      Files.createTempDirectory("graft_approx_route").toString)
    val approxIdx = exactIdx.copy(approxRouting = 2)
    val qs = graft.operators.RecallEval.perturbedQueries(
      emb.where(col("vec_id") < 150).select("vec_id", "embedding")
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)),
      0.5f)
    val probe32 = emb.select("embedding").head().getSeq[Float](0).toArray
    // the approximate path actually engages: routed distance work is a
    // fraction of k at small n_probe, and the exact router pays k
    assert(exactIdx.router.routedWork(probe32, 4) == exactIdx.k)
    val w4 = approxIdx.router.routedWork(probe32, 4)
    // m=8 expands ~8 cells of ~√k members: ~0.44k here (asymptotically
    // m·√k ≪ k; the 0.6 bound leaves headroom for per-query cell-size
    // variance while still pinning sub-k routing)
    assert(w4 < exactIdx.k * 6 / 10,
      s"approx router routed $w4 of k=${exactIdx.k} distances")
    val nps = Seq(4, 8, 16, 32)
    val ex = graft.operators.RecallEval.recallsOneScan(
        spark, exactIdx, qs, k = 10, nProbes = nps, ranks = Seq(1, 10))
      .map(s => s.nProbe -> s.recalls(10)).toMap
    val ap = graft.operators.RecallEval.recallsOneScan(
        spark, approxIdx, qs, k = 10, nProbes = nps, ranks = Seq(1, 10))
      .map(s => s.nProbe -> s.recalls(10)).toMap
    // measured floors at DefaultMetaProbe = 8 (round-8 sweep:
    // 0.82 / 0.9267 / 0.98 / 1.0 − 0.03 margin)
    assert(ap(4) >= 0.79 && ap(8) >= 0.89 && ap(16) >= 0.95 &&
      ap(32) >= 0.97, s"approx recall fell: $ap")
    // monotone in n_probe, and never far under exact at the same setting
    nps.zip(nps.tail).foreach { case (a, b) =>
      assert(ap(a) <= ap(b) + 1e-9, s"non-monotone at $a→$b: $ap") }
    nps.foreach { np =>
      assert(ap(np) >= ex(np) - 0.06,
        s"approx recall at n_probe=$np (${ap(np)}) too far under " +
          s"exact (${ex(np)})") }
    // once the 16n pool covers k the router falls back to exact — the
    // two regimes must agree bitwise there
    assert(approxIdx.router.routedWork(probe32, 32) == exactIdx.k)
    assert(ap(32) == ex(32))
  }

  test("range search: probe-all equals brute force; pruned is a subset") {
    val q = embAll.find(_._1 == 0L).get._2
    val radius = 1.8
    val brute = embAll.map { case (id, v) => (id, KMeans.sqDist(q, v)) }
      .filter(_._2 < radius).sortBy(p => (p._2, p._1)).map(_._1).toSeq
    assert(brute.nonEmpty, "test radius must select something")
    val all = Ivf.rangeSearch(spark, index, q, radius, nProbe0 = 10000)
      .collect()
    assert(all.map(_.getLong(0)).toSeq == brute)
    // every returned distance is < radius and sorted ascending
    val ds = all.map(_.getDouble(1)).toSeq
    assert(ds == ds.sorted && ds.forall(_ < radius))
    // pruned probing returns a subset of the exact answer (never a
    // wrong extra row — pruning can only miss, not invent)
    val pruned = Ivf.rangeSearch(spark, index, q, radius, nProbe0 = 2)
      .collect().map(_.getLong(0)).toSet
    assert(pruned.subsetOf(brute.toSet))
  }

  test("range search: self-retrieval at tiny radius; filter narrows the set") {
    val q = embAll.find(_._1 == 42L).get._2
    val self = Ivf.rangeSearch(spark, index, q, 1e-6, nProbe0 = 10000)
      .collect()
    assert(self.map(_.getLong(0)).toSeq == Seq(42L))
    val filtered = Ivf.rangeSearch(spark, index, q, 1.8, nProbe0 = 10000,
      filter = Some(col("label") === 3)).collect().map(_.getLong(0)).toSet
    val unfiltered = Ivf.rangeSearch(spark, index, q, 1.8, nProbe0 = 10000)
      .collect().map(_.getLong(0)).toSet
    assert(filtered.subsetOf(unfiltered))
    val labels3 = Tables.embeddings(spark, sf0001)
      .where(col("label") === 3).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(filtered == (unfiltered & labels3))
  }

  test("filtered search with < k matching rows returns them all, no padding") {
    val q = embAll.find(_._1 == 0L).get._2
    // impossible predicate → empty, not an error
    val none = Ivf.search(spark, index, q, k0 = 5, nProbe0 = 10000,
      filter = Some(col("label") === -1)).count()
    assert(none == 0L)
  }

  test("k=0 / n_probe=0 rejected") {
    // mirrors ivf_index_tests.rs:394-457
    val q = embAll(0)._2
    intercept[IllegalArgumentException](Ivf.search(spark, index, q, 0, 20))
    intercept[IllegalArgumentException](Ivf.search(spark, index, q, 10, 0))
  }

  test("dimension mismatch rejected") {
    intercept[IllegalArgumentException](
      Ivf.search(spark, index, Array.fill(3)(0f), 10, 20))
  }

  test("k and n_probe clamped to max") {
    val q = embAll(5)._2
    // would throw if not clamped before require(k>0) path; result bounded
    val rows = Ivf.search(spark, index, q, 2000000, 2000000).collect()
    assert(rows.length <= 10000)
  }

  test("concurrent searches on one index equal sequential results") {
    // mirrors ivf_index_tests.rs:767-807: N threads searching one shared
    // index concurrently must each get the same answer as running alone
    // (the index is immutable files + a broadcast routing table, so
    // nothing search-side may mutate shared state)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val queries = (0 until 8).map(i => embAll(i * 13)._2)
    val sequential = queries.map(q =>
      Ivf.search(spark, index, q, 10, 20).collect().map(_.toSeq).toSeq)
    implicit val ec: ExecutionContext = ExecutionContext.global
    val concurrent = Await.result(
      Future.sequence(queries.map(q => Future(
        Ivf.search(spark, index, q, 10, 20).collect().map(_.toSeq).toSeq))),
      5.minutes)
    assert(concurrent == sequential)
  }

  test("repeated query returns identical results") {
    // mirrors integration_tests.rs:130-188
    val q = embAll(23)._2
    val a = Ivf.search(spark, index, q, 10, 15).collect().map(_.toSeq).toSeq
    val b = Ivf.search(spark, index, q, 10, 15).collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("recall@10 >= 0.6 at n_probe=20, and recall monotone in n_probe") {
    // mirrors ivf_index_tests.rs:689-728 + integration_tests.rs:383-388.
    // label column gives true Gaussian cluster structure (FIXTURES.md §A).
    def recallAt(nProbe: Int): Double = {
      val qs = embAll.take(10)
      val scores = qs.map { case (_, q) =>
        val got = Ivf.search(spark, index, q, 10, nProbe)
          .collect().map(_.getLong(0)).toSet
        val truth = bruteKnn(q, 10).toSet
        (got & truth).size.toDouble / truth.size
      }
      scores.sum / scores.length
    }
    val r20 = recallAt(20)
    val r5 = recallAt(5)
    assert(r20 >= 0.6, s"recall@10 nProbe=20 = $r20")
    assert(recallAt(15) >= r5 - 1e-9, s"monotonicity: r15 < r5")
  }

  test("cluster purity on well-separated clusters") {
    // mirrors ivf_index_tests.rs:500-542: 5×40 separated Gaussians dim 16
    // sep 30 → >50% of top-20 results share the query's true cluster
    import spark.implicits._
    val rng = new scala.util.Random(29L)
    val rows = for {
      c <- 0 until 5; i <- 0 until 40
    } yield {
      val v = Array.tabulate(16)(j =>
        (c * 30.0 + 0.1 * j + (rng.nextDouble() - 0.5)).toFloat)
      (c.toLong * 40 + i, v.toSeq, c)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"), $"label")
    val dir = Files.createTempDirectory("graft_purity").toString
    val idx = Ivf.build(df, "vec_id", "embedding", dir)
    val q = rows.find(_._3 == 0).get._2.toArray
    val got = Ivf.search(spark, idx, q, 20, 10).collect().map(_.getLong(0))
    val labels = rows.map(r => r._1 -> r._3).toMap
    val same = got.count(labels(_) == 0)
    assert(got.nonEmpty && same.toDouble / got.length > 0.5,
      s"purity=$same/${got.length}")
  }

  test("missing shard degrades gracefully to partial results") {
    // mirrors integration_tests.rs:487-533: a deleted shard is silently
    // skipped; remaining shards still answer. Partition discovery simply
    // doesn't see the missing directory.
    import java.nio.file.{Files => JFiles}
    import scala.jdk.CollectionConverters._
    val dir = JFiles.createTempDirectory("graft_missing").toString
    val emb = Tables.embeddings(spark, sf0001)
    val idx = Ivf.build(emb, "vec_id", "embedding", dir)
    val q = embAll(31)._2
    val full = Ivf.search(spark, idx, q, 10000, 10000).count()
    assert(full == 500)
    // delete one shard directory
    val shardDirs = JFiles.list(java.nio.file.Paths.get(s"$dir/vectors"))
      .iterator().asScala.filter(_.getFileName.toString.startsWith("shard_id=")).toSeq
    val victim = shardDirs.head
    victim.toFile.listFiles().foreach(_.delete())
    JFiles.delete(victim)
    spark.catalog.clearCache() // drop any cached file listings
    val partial = Ivf.search(spark, idx, q, 10000, 10000).count()
    assert(partial < 500 && partial > 0, s"partial=$partial")
    // degraded reads stay consistent under concurrency too
    // (integration_tests.rs:487-533 runs its degraded search multi-threaded)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val counts = Await.result(
        Future.sequence((0 until 4).map(_ =>
          Future(Ivf.search(spark, idx, q, 10000, 10000).count()))),
        120.seconds)
      assert(counts.forall(_ == partial), s"degraded counts diverged: $counts")
    } finally pool.shutdown()
  }

  test("write parallelism is not capped at shard count") {
    // Ivf.build salts the repartition: with shuffle partitions >> numShards
    // each shard is written by several tasks (>1 file per shard directory),
    // so at 100 TB no single task sorts+writes a whole n/√k-row shard
    import java.nio.file.{Files => JFiles, Paths}
    import scala.jdk.CollectionConverters._
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try {
      val dir = JFiles.createTempDirectory("graft_salted").toString
      val idx = Ivf.build(Tables.embeddings(spark, sf0001), "vec_id", "embedding", dir)
      val files = JFiles.walk(Paths.get(s"$dir/vectors")).iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
      assert(files > idx.numShards, s"files=$files shards=${idx.numShards}")
      // directory layout and completeness unchanged by the salting
      val vecs = spark.read.parquet(s"$dir/vectors")
      assert(vecs.count() == 500L)
      assert(vecs.select("vec_id").distinct().count() == 500L)
      assert(vecs.select("shard_id").distinct().count().toInt == idx.numShards)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("corrupt shard file raises a clean error, not a silent wrong answer") {
    // mirrors tests/shards_tests.rs:587-630: a corrupted shard header is an
    // ERROR in the reference (a missing shard, by contrast, is silently
    // skipped — covered above). Spark's parquet footer validation gives the
    // same semantics: the scan fails rather than returning partial data.
    import java.nio.file.{Files => JFiles, Paths}
    import scala.jdk.CollectionConverters._
    val dir = JFiles.createTempDirectory("graft_corrupt").toString
    val idx = Ivf.build(Tables.embeddings(spark, sf0001), "vec_id", "embedding", dir)
    val victim = JFiles.walk(Paths.get(s"$dir/vectors")).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val raf = new java.io.RandomAccessFile(victim.toFile, "rw")
    try {
      raf.seek(math.max(0L, raf.length() - 8))
      raf.write(Array.fill[Byte](8)(0xFF.toByte)) // clobber the footer
    } finally raf.close()
    val q = embAll(1)._2
    intercept[Throwable] {
      Ivf.search(spark, idx, q, 10000, 10000).count()
    }
  }

  test("recall sweep: monotone in n_probe, exact at full probe") {
    // mirrors the reference bench protocol + integration_tests.rs:383-388
    val qs = graft.operators.RecallEval.perturbedQueries(embAll.take(20), 0.5f)
    val settings = graft.operators.RecallEval.sweep(
      spark, index, qs, k = 10, nProbes = Seq(1, 4, 16, 10000), ranks = Seq(1, 10))
    val r = settings.map(_.recalls(10))
    assert(r == r.sorted, s"recall not monotone: $r")
    assert(r.last == 1.0, s"full probe must be exact: $r")
    assert(settings(2).recalls(10) >= 0.6, s"recall@10 nProbe=16 = ${r(2)}")
    // the one-scan fan-out path must reproduce the per-setting scans
    // exactly — same distance math, same (distance, id) tie-breaks
    val oneScan = graft.operators.RecallEval.recallsOneScan(
      spark, index, qs, k = 10, nProbes = Seq(1, 4, 16, 10000), ranks = Seq(1, 10))
    assert(oneScan.map(s => (s.nProbe, s.recalls)) ==
      settings.map(s => (s.nProbe, s.recalls)))
  }

  test("delete: tombstoned ids vanish from every search path; compact materializes") {
    import java.nio.file.{Files => JFiles}
    val dir = JFiles.createTempDirectory("graft_delete").toString
    val emb = Tables.embeddings(spark, sf0001)
    val idx = Ivf.build(emb, "vec_id", "embedding", dir)
    val q = embAll.find(_._1 == 42L).get._2
    assert(Ivf.search(spark, idx, q, 10, 10000).head().getLong(0) == 42L)
    Ivf.delete(spark, idx, Seq(42L, 7L))
    // gone from top-k, range, batch, and the distributed join
    val top = Ivf.search(spark, idx, q, 10, 10000)
      .collect().map(_.getLong(0)).toSet
    assert(!top.contains(42L) && !top.contains(7L))
    val rng = Ivf.rangeSearch(spark, idx, q, 1e9, nProbe0 = 10000)
      .collect().map(_.getLong(0)).toSet
    assert(rng.size == 498 && !rng.contains(42L) && !rng.contains(7L))
    val batch = Ivf.searchBatch(spark, idx, Array((0L, q)), 10, 10000)
      .collect().map(_.getLong(2)).toSet
    assert(!batch.contains(42L))
    import spark.implicits._
    val joined = Ivf.annJoin(
      Seq((0L, q.toSeq)).toDF("query_id", "qe")
        .select(col("query_id"), col("qe").cast("array<float>").as("qe")),
      idx, k = 3, nProbe = 10000).collect().map(_.getLong(2)).toSet
    assert(!joined.contains(42L))
    // the coded sibling datasets honor tombstones too — a delete must
    // hide the id on EVERY search path
    val model = graft.operators.Pq.train(emb, "embedding",
      embAll.head._2.length, m = 8, ksub = 16, orderCol = Some("vec_id"))
    val pqDir = JFiles.createTempDirectory("graft_delete_pq").toString
    graft.operators.IvfPq.buildCodes(spark, idx, model, pqDir)
    assert(!graft.operators.IvfPq.search(spark, idx, model, pqDir, q, 10, 10000)
      .collect().map(_.getLong(0)).contains(42L))
    val sqDir = JFiles.createTempDirectory("graft_delete_sq").toString
    graft.operators.IvfSq.buildCodes(spark, idx, sqDir)
    assert(!graft.operators.IvfSq.search(spark, idx, sqDir, q, 10, 10000)
      .collect().map(_.getLong(0)).contains(42L))
    // merge-on-read: data files untouched until compaction
    assert(spark.read.parquet(idx.vectorsPath).count() == 500L)
    // the lifecycle guard refuses a clear before compaction: idx's
    // FLOAT files still hold 42/7, which would resurrect on that path
    intercept[IllegalStateException] { Ivf.clearTombstones(spark, idx) }
    val merged = Ivf.search(spark, idx, q, 10, 10000)
      .collect().map(_.getLong(0)).toSeq
    assert(Ivf.maintain(spark, idx, maxFilesPerShard = 0)
      .isInstanceOf[Ivf.MaintainCompacted])
    assert(spark.read.parquet(idx.vectorsPath).count() == 498L)
    val after = Ivf.search(spark, idx, q, 10, 10000)
      .collect().map(_.getLong(0)).toSeq
    assert(after == merged)
    // maintain CARRIES the sidecar: coded siblings built pre-compact
    // would still contain the deleted rows and must stay filtered until
    // rebuilt (the documented lifecycle)
    assert(new java.io.File(s"$dir/tombstones").exists())
    assert(!graft.operators.IvfPq.search(spark, idx, model, pqDir,
      q, 10, 10000).collect().map(_.getLong(0)).contains(42L))
    // after the rebuild step the sidecar is cleared; float results are
    // unchanged because the rows are physically gone
    Ivf.clearTombstones(spark, idx)
    assert(Ivf.search(spark, idx, q, 10, 10000)
      .collect().map(_.getLong(0)).toSeq == after)
    // sibling builds read the LIVE view: pqDir/sqDir were built while
    // the tombstones were active, so the deleted rows are PHYSICALLY
    // absent from the coded datasets — clearing the sidecar cannot
    // resurrect them on any coded search path
    assert(!graft.operators.IvfPq.search(spark, idx, model, pqDir,
      q, 10, 10000).collect().map(_.getLong(0)).contains(42L))
    assert(!graft.operators.IvfSq.search(spark, idx, sqDir,
      q, 10, 10000).collect().map(_.getLong(0)).contains(42L))
  }

  test("compact: fewer files per shard, identical search results, inputs kept") {
    import java.nio.file.{Files => JFiles}
    val dir = JFiles.createTempDirectory("graft_compact_ivf").toString
    val emb = Tables.embeddings(spark, sf0001)
    val idx = Ivf.build(emb.where(col("vec_id") < 300), "vec_id", "embedding", dir)
    // three disjoint appends fragment every shard directory (the index
    // must stay duplicate-free: search could otherwise legitimately
    // return the same external_id twice)
    for ((lo, hi) <- Seq((300, 360), (360, 430), (430, 500))) {
      Ivf.append(idx, emb.where(col("vec_id") >= lo && col("vec_id") < hi),
        "vec_id", "embedding")
    }
    assert(spark.read.parquet(idx.vectorsPath)
      .select("vec_id").distinct().count() == 500L)
    def fileCount(path: String): Int = {
      import scala.jdk.CollectionConverters._
      JFiles.walk(java.nio.file.Paths.get(path)).iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
    }
    val before = fileCount(idx.vectorsPath)
    val q = embAll(5)._2
    val a = Ivf.search(spark, idx, q, 10, 10000).collect().map(_.toSeq).toSeq
    assert(Ivf.maintain(spark, idx, maxFilesPerShard = 0)
      .isInstanceOf[Ivf.MaintainCompacted])
    val after = fileCount(idx.vectorsPath)
    assert(after < before, s"no file reduction: $before -> $after")
    // identical answers through the compacted layout, every input row kept
    val b = Ivf.search(spark, idx, q, 10, 10000).collect().map(_.toSeq).toSeq
    assert(a == b)
    val vecs = spark.read.parquet(idx.vectorsPath)
    assert(vecs.count() == 500L &&
      vecs.select("vec_id").distinct().count() == 500L)
  }

  test("append: incremental vectors are searchable, complete, duplicate-free") {
    import java.nio.file.{Files => JFiles}
    val dir = JFiles.createTempDirectory("graft_append").toString
    val emb = Tables.embeddings(spark, sf0001)
    val idx = Ivf.build(emb.where(col("vec_id") < 300), "vec_id", "embedding", dir)
    Ivf.append(idx, emb.where(col("vec_id") >= 300), "vec_id", "embedding")
    val vecs = spark.read.parquet(idx.vectorsPath)
    assert(vecs.count() == 500L)
    assert(vecs.select("vec_id").distinct().count() == 500L)
    // appended rows carry valid centroid/shard assignments
    val badShard = vecs.where(!col("shard_id").isin(idx.centroidToShard.distinct.toSeq: _*))
    assert(badShard.isEmpty)
    // probe-all search over the union == brute force over all 500
    val q = embAll(0)._2
    val got = Ivf.search(spark, idx, q, 10, 10000)
      .select("external_id").collect().map(_.getLong(0)).toSeq
    assert(got == bruteKnn(q, 10))
  }

  test("maintenanceStats tracks file debt and tombstones; " +
      "compactRecommended flips and compact resets it") {
    import java.nio.file.{Files => JFiles}
    val dir = JFiles.createTempDirectory("graft_maint").toString
    val emb = Tables.embeddings(spark, sf0001)
    val idx = Ivf.build(emb.where(col("vec_id") < 300), "vec_id", "embedding", dir)
    val s0 = Ivf.maintenanceStats(spark, idx)
    assert(s0.dataFiles > 0 && s0.dataBytes > 0 && s0.tombstones == 0L)
    assert(s0.numShards == idx.numShards)
    val base = s0.filesPerShardMax
    // two appends → per-shard file debt grows by ~one file per append
    Ivf.append(idx, emb.where(col("vec_id") >= 300 && col("vec_id") < 400),
      "vec_id", "embedding")
    Ivf.append(idx, emb.where(col("vec_id") >= 400), "vec_id", "embedding")
    val s1 = Ivf.maintenanceStats(spark, idx)
    assert(s1.dataFiles > s0.dataFiles && s1.filesPerShardMax > base,
      s"append did not grow file debt: $s0 -> $s1")
    assert(!s1.compactRecommended(maxFilesPerShard = 1000),
      "threshold 1000 must not recommend yet (no tombstones)")
    assert(s1.compactRecommended(maxFilesPerShard = base),
      s"filesPerShardMax ${s1.filesPerShardMax} > $base must recommend")
    // a delete adds tombstones → recommended regardless of file debt
    Ivf.delete(spark, idx, Seq(5L))
    val s2 = Ivf.maintenanceStats(spark, idx)
    assert(s2.tombstones == 1L && s2.compactRecommended(maxFilesPerShard = 1000))
    // compact materializes the delete and resets the file debt
    assert(Ivf.maintain(spark, idx, maxFilesPerShard = 0)
      .isInstanceOf[Ivf.MaintainCompacted])
    val s3 = Ivf.maintenanceStats(spark, idx)
    assert(s3.dataFiles < s1.dataFiles &&
      s3.filesPerShardMax <= base,
      s"compact did not reset file debt: $s1 -> $s3")
    assert(spark.read.parquet(idx.vectorsPath).count() == 499L)
  }

  test("maintain crash window: every entry point restores the " +
      "trashed copy instead of destroying or silently recreating it") {
    import java.nio.file.{Files => JFiles}
    val dir = JFiles.createTempDirectory("graft_crashwin").toString
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val idx = Ivf.build(emb.where(col("vec_id") < 400),
      "vec_id", "embedding", dir)
    Ivf.append(idx, emb.where(col("vec_id") >= 400 && col("vec_id") < 450),
      "vec_id", "embedding")
    def crash(): Unit = {
      val e = intercept[RuntimeException] {
        Ivf.maintain(spark, idx, maxFilesPerShard = 0, betweenRenames =
          () => throw new RuntimeException("simulated crash"))
      }
      assert(e.getMessage == "simulated crash")
      // the crashed state VERDICT r12 described: live dir missing, the
      // ONLY copy of the data sitting at __compact_trash
      assert(!new java.io.File(s"$dir/vectors").exists())
      assert(new java.io.File(s"$dir/__compact_trash").exists())
    }
    // (1) maintenanceStats on the crashed state RESTORES first — it can
    // never describe the missing index as healthy-and-empty
    crash()
    val stats = Ivf.maintenanceStats(spark, idx)
    assert(new java.io.File(s"$dir/vectors").exists(),
      "maintenanceStats did not restore the crashed swap")
    assert(stats.dataFiles > 0)
    assert(spark.read.parquet(idx.vectorsPath)
      .select("vec_id").distinct().count() == 450L)
    // (2) append on the crashed state restores BEFORE writing — the old
    // code recreated an empty vectors dir containing only the new batch
    crash()
    Ivf.append(idx, emb.where(col("vec_id") >= 450), "vec_id", "embedding")
    assert(spark.read.parquet(idx.vectorsPath)
      .select("vec_id").distinct().count() == 500L,
      "append after a crashed swap lost the pre-crash rows")
    // (3) the next maintain restores first, then compacts — the old
    // code's first act was deleting the trash copy
    crash()
    assert(Ivf.maintain(spark, idx, maxFilesPerShard = 0)
      .isInstanceOf[Ivf.MaintainCompacted])
    assert(spark.read.parquet(idx.vectorsPath)
      .select("vec_id").distinct().count() == 500L)
    assert(!new java.io.File(s"$dir/__compact_trash").exists())
    assert(!new java.io.File(s"$dir/__compact_scratch").exists())
    // and search over the recovered index equals brute force — at no
    // point did any path serve the near-empty index
    val q = embAll(3)._2
    assert(Ivf.search(spark, idx, q, 10, 10000)
      .select("external_id").collect().map(_.getLong(0)).toSeq ==
      bruteKnn(q, 10))
  }

  test("append and maintenanceStats refuse a missing vectors dir with " +
      "no recovery copy (named error, never a silent recreate)") {
    import java.nio.file.{Files => JFiles}
    val dir = JFiles.createTempDirectory("graft_norecreate").toString
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val idx = Ivf.build(emb.where(col("vec_id") < 100),
      "vec_id", "embedding", dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(idx.vectorsPath), true)
    val e = intercept[IllegalStateException] {
      Ivf.append(idx, emb.where(col("vec_id") >= 100 && col("vec_id") < 120),
        "vec_id", "embedding")
    }
    assert(e.getMessage.contains("refusing to proceed"), e.getMessage)
    assert(!new java.io.File(idx.vectorsPath).exists(),
      "append recreated the missing vectors dir")
    intercept[IllegalStateException] { Ivf.maintenanceStats(spark, idx) }
  }

  test("maintain: out-of-band compact merges an append that raced the " +
      "rewrite — no abort, no loss, file debt reset") {
    import java.nio.file.{Files => JFiles}
    val dir = JFiles.createTempDirectory("graft_maintain").toString
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val idx = Ivf.build(emb.where(col("vec_id") < 300),
      "vec_id", "embedding", dir)
    for ((lo, hi) <- Seq((300, 360), (360, 430)))
      Ivf.append(idx, emb.where(col("vec_id") >= lo && col("vec_id") < hi),
        "vec_id", "embedding")
    val debtBefore = Ivf.maintenanceStats(spark, idx).filesPerShardMax
    // the racing append lands AFTER the rewrite snapshot, BEFORE the
    // fence
    val out = Ivf.maintain(spark, idx, maxFilesPerShard = 0,
      beforeFence = () =>
        Ivf.append(idx, emb.where(col("vec_id") >= 430),
          "vec_id", "embedding"))
    out match {
      case Ivf.MaintainCompacted(d) =>
        assert(d > 0, "racing append produced no merged delta files")
      case other => fail(s"expected MaintainCompacted, got $other")
    }
    val vecs = spark.read.parquet(idx.vectorsPath)
    assert(vecs.count() == 500L &&
      vecs.select("vec_id").distinct().count() == 500L,
      "maintain lost or duplicated rows")
    assert(!new java.io.File(s"$dir/__compact_trash").exists())
    assert(!new java.io.File(s"$dir/__compact_scratch").exists())
    assert(!new java.io.File(s"$dir/__writer_lease").exists())
    assert(!new java.io.File(s"$dir/__maintain_lease").exists())
    // the snapshot portion was compacted (delta files add back a few)
    val debtAfter = Ivf.maintenanceStats(spark, idx).filesPerShardMax
    assert(debtAfter < debtBefore,
      s"maintain did not reduce file debt: $debtBefore -> $debtAfter")
    // search over the merged layout equals brute force over all 500
    val q = embAll(7)._2
    assert(Ivf.search(spark, idx, q, 10, 10000)
      .select("external_id").collect().map(_.getLong(0)).toSeq ==
      bruteKnn(q, 10))
    // under the default threshold the compacted index needs nothing
    assert(Ivf.maintain(spark, idx) == Ivf.MaintainSkipped)
  }

  test("leases: maintainer lease defers inline compact and a second " +
      "maintain; writer lease blocks append until released; stale " +
      "holders are broken") {
    import java.nio.file.{Files => JFiles}
    import graft.operators.FsLease
    val dir = JFiles.createTempDirectory("graft_lease").toString
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val idx = Ivf.build(emb.where(col("vec_id") < 200),
      "vec_id", "embedding", dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val mLease = Ivf.maintainerLeasePath(idx)
    FsLease.acquire(fs, mLease, "test-maintainer", timeoutMs = 0L)
    try {
      intercept[FsLease.LeaseHeldException] {
        Ivf.maintain(spark, idx, maxFilesPerShard = 0)
      }
    } finally FsLease.release(fs, mLease, "test-maintainer")
    val wLease = Ivf.writerLeasePath(idx)
    // a handle whose writers give up on a held lease after 200 ms
    val fenced = idx.copy(config = idx.config.copy(leaseTimeoutMs = 200L))
    FsLease.acquire(fs, wLease, "test-writer", timeoutMs = 0L)
    try {
      intercept[FsLease.LeaseHeldException] {
        Ivf.append(fenced,
          emb.where(col("vec_id") >= 200 && col("vec_id") < 250),
          "vec_id", "embedding")
      }
      assert(spark.read.parquet(idx.vectorsPath).count() == 200L,
        "append wrote despite a held writer lease")
      // tombstone writes and the clear are writer-fenced too: a delete
      // landing between clearTombstones' fingerprint verification and
      // its recursive delete would otherwise be destroyed unverified
      intercept[FsLease.LeaseHeldException] {
        Ivf.delete(spark, fenced, Seq(5L))
      }
      assert(!new java.io.File(s"$dir/tombstones").exists(),
        "delete wrote despite a held writer lease")
      // the DataFrame and predicate bulk forms read the same lease
      // timing from the handle and fence identically
      intercept[FsLease.LeaseHeldException] {
        Ivf.delete(spark, fenced,
          emb.where(col("vec_id") === 6L).select(col("vec_id")), "vec_id")
      }
      intercept[FsLease.LeaseHeldException] {
        Ivf.deleteWhere(spark, fenced, col("vec_id") === 7L)
      }
      assert(!new java.io.File(s"$dir/tombstones").exists(),
        "a bulk delete wrote despite a held writer lease")
      intercept[FsLease.LeaseHeldException] {
        Ivf.clearTombstones(spark, fenced)
      }
    } finally FsLease.release(fs, wLease, "test-writer")
    Ivf.append(idx, emb.where(col("vec_id") >= 200 && col("vec_id") < 250),
      "vec_id", "embedding")
    assert(spark.read.parquet(idx.vectorsPath).count() == 250L)
    // stale-holder recovery: a lease whose holder crashed (old mtime)
    // is broken instead of deadlocking every future writer
    FsLease.acquire(fs, wLease, "crashed-holder", timeoutMs = 0L)
    val lf = new java.io.File(s"$dir/__writer_lease")
    assert(lf.setLastModified(System.currentTimeMillis() - 60000L))
    FsLease.acquire(fs, wLease, "new-holder", staleTtlMs = 1000L,
      timeoutMs = 0L) // succeeds by breaking the stale lease
    // release is owner-verified: the STALLED (not dead) original
    // holder's finally-release must not destroy the new holder's lease
    // and let a third writer in
    assert(!FsLease.release(fs, wLease, "crashed-holder"),
      "a stale-broken holder released the new holder's lease")
    intercept[FsLease.LeaseHeldException] {
      FsLease.acquire(fs, wLease, "third-writer", timeoutMs = 0L)
    }
    assert(FsLease.release(fs, wLease, "new-holder"),
      "the rightful owner could not release")
  }

  test("maintenanceStats steady-state probe launches ZERO Spark jobs " +
      "(tombstone count memoized per sidecar fingerprint)") {
    import java.nio.file.{Files => JFiles}
    val dir = JFiles.createTempDirectory("graft_maintjobs").toString
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val idx = Ivf.build(emb.where(col("vec_id") < 100),
      "vec_id", "embedding", dir)
    Ivf.delete(spark, idx, Seq(5L))
    // count only THIS thread's jobs (suites share the session and may
    // run in parallel — a foreign job must not fail the gate)
    // positive control: the FIRST probe after a sidecar change runs
    // the one tiny count job — proves the meter sees our jobs
    val (cold, coldCost) = graft.obs.Meter.measure(spark)(
      Ivf.maintenanceStats(spark, idx).tombstones)
    assert(cold == 1L)
    assert(coldCost.jobs > 0,
      "control failed: the cold probe's count job was not observed")
    val (_, warm) = graft.obs.Meter.measure(spark) {
      (0 until 5).foreach { _ =>
        assert(Ivf.maintenanceStats(spark, idx).tombstones == 1L)
      }
    }
    assert(warm.jobs == 0,
      s"steady-state maintenance probe launched ${warm.jobs} Spark " +
        "jobs — the poll-from-ingest-loop contract says zero")
    // a sidecar change invalidates the memo — the count updates
    Ivf.delete(spark, idx, Seq(7L))
    assert(Ivf.maintenanceStats(spark, idx).tombstones == 2L)
  }

  test("maintain with tombstones: deletes materialize in the " +
      "swapped files, the sidecar is carried in place, clear ends it") {
    import java.nio.file.{Files => JFiles}
    val dir = JFiles.createTempDirectory("graft_inplace_tomb").toString
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val idx = Ivf.build(emb.where(col("vec_id") < 400),
      "vec_id", "embedding", dir)
    Ivf.delete(spark, idx, Seq(7L, 11L))
    assert(Ivf.maintain(spark, idx, maxFilesPerShard = 0)
      .isInstanceOf[Ivf.MaintainCompacted])
    // deletes are materialized: the rewritten float files no longer
    // hold the ids at all (not merely filtered at read time)
    val raw = spark.read.parquet(idx.vectorsPath)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(raw.size == 398 && !raw(7L) && !raw(11L),
      s"in-place compact did not materialize deletes: ${raw.size}")
    // the sidecar is carried IN PLACE (coded siblings built before the
    // deletes still need the filter) — at the original location, since
    // the handle's paths never changed
    assert(new java.io.File(s"$dir/tombstones").exists(),
      "tombstone sidecar vanished in the in-place swap")
    assert(Ivf.maintenanceStats(spark, idx).tombstones == 2L)
    // clearTombstones ends the lifecycle; the ids stay gone
    Ivf.clearTombstones(spark, idx)
    assert(Ivf.maintenanceStats(spark, idx).tombstones == 0L)
    assert(Ivf.liveVectors(spark, idx).count() == 398L)
  }

  test("maintain writes only vectors/ into its scratch dir and leaves the " +
      "live tombstone sidecar and sibling registry byte-identical") {
    import java.nio.file.{Files => JFiles, Path => JPath}
    import scala.jdk.CollectionConverters._
    val dir = JFiles.createTempDirectory("graft_maint_scratch").toString
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val idx = Ivf.build(emb.where(col("vec_id") < 300),
      "vec_id", "embedding", dir)
    // a registered coded sibling that predates the deletes, then a
    // tombstone sidecar: every lifecycle file a rewrite could copy
    val sqDir = s"$dir/sq8_codes"
    graft.operators.IvfSq.buildCodes(spark, idx, sqDir)
    Ivf.delete(spark, idx, Seq(5L, 9L))
    def files(sub: String): Map[String, Seq[Byte]] = {
      val root = java.nio.file.Paths.get(dir, sub)
      JFiles.walk(root).iterator().asScala
        .filter(JFiles.isRegularFile(_))
        .map((f: JPath) => root.relativize(f).toString ->
          JFiles.readAllBytes(f).toSeq)
        .toMap
    }
    val tombsBefore = files("tombstones")
    val siblingsBefore = files("__siblings")
    assert(tombsBefore.keys.exists(_.endsWith(".parquet")) &&
      siblingsBefore.nonEmpty, "fixture broken: no sidecar or registry")
    var scratchAtSwap: Set[String] = Set.empty
    val out = Ivf.maintain(spark, idx, maxFilesPerShard = 0,
      betweenRenames = () => {
        scratchAtSwap = new java.io.File(s"$dir/__compact_scratch")
          .list().toSet
      })
    assert(out.isInstanceOf[Ivf.MaintainCompacted], s"$out")
    assert(scratchAtSwap == Set("vectors"),
      s"maintain wrote more than the rewrite into its scratch dir: " +
        s"$scratchAtSwap")
    assert(files("tombstones") == tombsBefore,
      "maintain rewrote the live tombstone sidecar")
    assert(files("__siblings") == siblingsBefore,
      "maintain rewrote the live sibling registry")
    // the rewrite materialized the deletes, and the untouched registry
    // still refuses a clear while the pre-delete sibling holds row 5
    val raw = spark.read.parquet(idx.vectorsPath)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(raw.size == 298 && !raw(5L) && !raw(9L))
    val e = intercept[IllegalStateException] {
      Ivf.clearTombstones(spark, idx)
    }
    assert(e.getMessage.contains(sqDir), e.getMessage)
  }

  test("one swap body: only Ivf.maintain and its crash recovery name the " +
      "scratch and trash dirs under src/main") {
    import java.nio.file.{Files => JFiles, Paths}
    import scala.jdk.CollectionConverters._
    val src = Paths.get("src/main/scala")
    val ivf = src.resolve("graft/operators/Ivf.scala")
    assert(JFiles.isRegularFile(ivf), s"run from the project root: $ivf not found")
    val swapDirs = "/__compact_(scratch|trash)".r
    val member = """^  \S""".r
    val allowed = """^  (private )?def (maintain|recoverImpl)\(""".r
    // code lines (comments dropped) that build a scratch or trash path,
    // outside the two allowed members of Ivf
    val offenders = JFiles.walk(src).iterator().asScala
      .filter(p => JFiles.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toList.flatMap { p =>
        var inAllowed = false
        JFiles.readAllLines(p).asScala.zipWithIndex.flatMap {
          case (line, i) =>
            if (member.findPrefixOf(line).isDefined)
              inAllowed = p == ivf && allowed.findPrefixOf(line).isDefined
            val code = line.trim
            val comment = code.startsWith("*") || code.startsWith("/*") ||
              code.startsWith("//")
            if (!comment && !inAllowed && swapDirs.findFirstIn(line).isDefined)
              Some(s"$p:${i + 1}")
            else None
        }
      }
    assert(offenders.isEmpty,
      s"a second rewrite-and-swap body names the scratch/trash dirs: $offenders")
    // positive control: the allowed bodies are found and do name them
    val ivfLines = JFiles.readAllLines(ivf).asScala
    assert(ivfLines.count(l => allowed.findPrefixOf(l).isDefined) == 2)
    assert(ivfLines.count(l => swapDirs.findFirstIn(l).isDefined) >= 3)
  }

  test("build seed persists through the sidecar so append assigns consistently") {
    import java.nio.file.{Files => JFiles}
    val dir = JFiles.createTempDirectory("graft_seed").toString
    val emb = Tables.embeddings(spark, sf0001)
    val built = Ivf.build(emb.where(col("vec_id") < 200), "vec_id", "embedding",
      dir, seed = 7L)
    assert(built.seed == 7L)
    val loaded = Ivf.load(spark, dir)
    assert(loaded.seed == 7L,
      "load must restore the build seed append() re-derives assignment from")
  }

  test("custom id column persists through the sidecar; maintain/compact " +
      "and search default to it (ADVICE r13)") {
    import java.nio.file.{Files => JFiles}
    import spark.implicits._
    val dir = JFiles.createTempDirectory("graft_idcol").toString
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id").as("doc_id"), col("embedding").as("emb"))
    val built = Ivf.build(emb.where(col("doc_id") < 200),
      "doc_id", "emb", dir)
    assert(built.idCol == "doc_id" && built.embCol == "emb")
    val loaded = Ivf.load(spark, dir)
    assert(loaded.idCol == "doc_id" && loaded.embCol == "emb",
      "load must restore the layout columns every entry point reads")
    // every read path takes both layout columns from the handle
    val q = embAll.find(_._1 == 42L).get._2
    assert(Ivf.search(spark, loaded, q, 10, 10000)
      .head().getLong(0) == 42L)
    assert(Ivf.searchBatch(spark, loaded, Array(7L -> q), 10, 10000)
      .where(col("rank") === 1).head().getLong(2) == 42L)
    assert(Ivf.rangeSearch(spark, loaded, q, 1e-6, 10000)
      .head().getLong(0) == 42L)
    assert(Ivf.annJoin(Seq((7L, q.toSeq)).toDF("query_id", "qe"), loaded,
      10, 10000).where(col("rank") === 1).head().getLong(2) == 42L)
    assert(Ivf.liveVectors(spark, loaded).count() == 200L)
    // fragment, then maintain: the rewrite reads the handle's columns
    Ivf.append(loaded, emb.where(col("doc_id") >= 200 && col("doc_id") < 300),
      "doc_id", "emb")
    Ivf.maintain(spark, loaded, maxFilesPerShard = 0) match {
      case Ivf.MaintainCompacted(_) => ()
      case other => fail(s"expected a compact on the custom-id index, got $other")
    }
    assert(Ivf.liveVectors(spark, loaded).count() == 300L)
    assert(Ivf.search(spark, loaded, q, 10, 10000)
      .head().getLong(0) == 42L)
    // and the delete lifecycle joins on it
    Ivf.delete(spark, loaded, Seq(42L))
    assert(!Ivf.search(spark, loaded, q, 10, 10000)
      .collect().map(_.getLong(0)).contains(42L))
    // the coded-sibling builders and searches resolve the recorded id
    // column too (ADVICE r14: their literal vec_id defaults failed a
    // custom-idCol index inside the encode) — and honor the tombstone
    val model = graft.operators.Pq.train(emb.where(col("doc_id") < 300),
      "emb", embAll.head._2.length, m = 8, ksub = 16,
      orderCol = Some("doc_id"))
    val pqDir = JFiles.createTempDirectory("graft_idcol_pq").toString
    graft.operators.IvfPq.buildCodes(spark, loaded, model, pqDir)
    assert(spark.read.parquet(pqDir).columns.contains("doc_id"),
      "coded sibling did not inherit the index's id column")
    val pqTop = graft.operators.IvfPq.search(spark, loaded, model, pqDir,
      q, 10, 10000).collect().map(_.getLong(0))
    assert(pqTop.nonEmpty && !pqTop.contains(42L))
    val sqDir = JFiles.createTempDirectory("graft_idcol_sq").toString
    graft.operators.IvfSq.buildCodes(spark, loaded, sqDir)
    val sqTop = graft.operators.IvfSq.search(spark, loaded, sqDir,
      q, 10, 10000).collect().map(_.getLong(0))
    assert(sqTop.nonEmpty && !sqTop.contains(42L))
    // the streaming maintenance poller reads the handle too: the
    // tombstone debt from the delete above triggers one compact through
    // the loop
    val loop = graft.streaming.VectorsStreaming.startMaintenanceLoop(
      spark, loaded, maxFilesPerShard = 1000000, pollIntervalMs = 50L)
    try {
      var waited = 0
      while (waited < 200 && loop.compacts == 0) {
        Thread.sleep(100); waited += 1
      }
      assert(loop.compacts > 0 && loop.recentErrors.isEmpty,
        s"poller on the custom-id index: " +
          s"${loop.recentErrors.map(_.getMessage)}")
    } finally loop.stop()
    // a batch whose id column differs from the layout's is refused by
    // name — appended files would otherwise carry a drifted schema that
    // every later scan unions into null ids
    val e = intercept[IllegalArgumentException] {
      Ivf.append(loaded,
        emb.where(col("doc_id") >= 300).withColumnRenamed("doc_id", "vec_id"),
        "vec_id", "emb")
    }
    assert(e.getMessage.contains("id column"), e.getMessage)
    // ...and so is one whose embedding column differs: appended rows
    // would otherwise carry a NULL `emb` and never be found
    val files = () => JFiles.walk(java.nio.file.Paths.get(dir))
      .filter(JFiles.isRegularFile(_)).count()
    val filesBefore = files()
    val e2 = intercept[IllegalArgumentException] {
      Ivf.append(loaded,
        emb.where(col("doc_id") >= 300).withColumnRenamed("emb", "embedding"),
        "doc_id", "embedding")
    }
    assert(e2.getMessage.contains("embedding column 'embedding'"),
      e2.getMessage)
    assert(files() == filesBefore, "a refused append wrote files")
  }

  test("a sidecar without emb_col, id_col or build_seed loads with the " +
      "build defaults, and load is one Spark job") {
    import java.nio.file.{Files => JFiles}
    val dir = JFiles.createTempDirectory("graft_oldsidecar").toString
    val built = Ivf.build(Tables.embeddings(spark, sf0001)
      .where(col("vec_id") < 200), "vec_id", "embedding", dir)
    val (fresh, freshCost) =
      graft.obs.Meter.measure(spark)(Ivf.load(spark, dir))
    assert(freshCost.jobs == 1, s"load ran ${freshCost.jobs} jobs")
    assert(fresh.centroids.map(_.toSeq).toSeq ==
      built.centroids.map(_.toSeq).toSeq)
    // rewrite the sidecar as an older build wrote it
    val old = s"$dir/centroids_old"
    spark.read.parquet(s"$dir/centroids")
      .drop("build_seed", "id_col", "emb_col").write.parquet(old)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$dir/centroids"), true))
    assert(fs.rename(new org.apache.hadoop.fs.Path(old),
      new org.apache.hadoop.fs.Path(s"$dir/centroids")))
    assert(spark.read.parquet(s"$dir/centroids").columns.toSet ==
      Set("centroid_id", "shard_id", "centroid"))
    val (loaded, cost) = graft.obs.Meter.measure(spark)(Ivf.load(spark, dir))
    assert(cost.jobs == 1, s"load of an older sidecar ran ${cost.jobs} jobs")
    assert(loaded.seed == 42L && loaded.idCol == "vec_id" &&
      loaded.embCol == "embedding")
    assert(loaded.centroids.map(_.toSeq).toSeq ==
      built.centroids.map(_.toSeq).toSeq &&
      loaded.centroidToShard.toSeq == built.centroidToShard.toSeq)
    val q = embAll.find(_._1 == 42L).get._2
    assert(Ivf.search(spark, loaded, q, 1, 10000).head().getLong(0) == 42L)
  }

  test("lease timing comes from the handle: maintenanceStats restores a " +
      "crashed swap once the maintainer lease outlives the handle's TTL") {
    import java.nio.file.{Files => JFiles}
    import graft.operators.FsLease
    val dir = JFiles.createTempDirectory("graft_handle_ttl").toString
    val idx = Ivf.build(Tables.embeddings(spark, sf0001)
      .where(col("vec_id") < 200), "vec_id", "embedding", dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // a maintain that died between its swap renames: vectors/ sits at
    // __compact_trash and the dead maintainer's lease is 5 s old
    assert(fs.rename(new org.apache.hadoop.fs.Path(idx.vectorsPath),
      new org.apache.hadoop.fs.Path(s"$dir/__compact_trash")))
    val mLease = Ivf.maintainerLeasePath(idx)
    FsLease.acquire(fs, mLease, "dead-maintainer", timeoutMs = 0L)
    assert(new java.io.File(s"$dir/__maintain_lease")
      .setLastModified(System.currentTimeMillis() - 5000L))
    // control: under the default 10-minute horizon the lease reads live
    assert(FsLease.isHeldFresh(fs, mLease) &&
      !FsLease.isHeldFresh(fs, mLease, 2000L))
    val fast = idx.copy(config = idx.config.copy(leaseStaleTtlMs = 2000L))
    val stats = Ivf.maintenanceStats(spark, fast)
    assert(new java.io.File(s"$dir/vectors").isDirectory &&
      !new java.io.File(s"$dir/__compact_trash").exists(),
      "the crashed swap was not restored")
    assert(stats.dataFiles > 0)
    assert(Ivf.liveVectors(spark, fast).count() == 200L)
  }

  test("RecallEval.sweepDf reads the index's layout columns: a doc_id " +
      "index scores the recalls of the same data under vec_id") {
    import java.nio.file.{Files => JFiles}
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val byVecId = Ivf.build(emb, "vec_id", "embedding",
      JFiles.createTempDirectory("graft_recall_vec").toString)
    val byDocId = Ivf.build(
      emb.select(col("vec_id").as("doc_id"), col("embedding").as("emb")),
      "doc_id", "emb",
      JFiles.createTempDirectory("graft_recall_doc").toString)
    val qs = graft.operators.RecallEval.perturbedQueries(embAll.take(20), 0.05f)
    def recalls(i: Ivf.Index) = graft.operators.RecallEval
      .sweepDf(spark, i, qs, 10, Seq(1, 4), Seq(1, 10))
      .collect().map(_.toSeq).toSeq
    val want = recalls(byVecId)
    assert(want.length == 2)
    assert(recalls(byDocId) == want)
  }

  test("deleteWhere: distributed bulk delete matches the id-list twin, " +
      "returns the tombstoned count, and skips already-dead rows") {
    import java.nio.file.{Files => JFiles}
    val dir = JFiles.createTempDirectory("graft_delwhere").toString
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val idx = Ivf.build(emb.where(col("vec_id") < 300),
      "vec_id", "embedding", dir)
    // a no-match bulk delete is a clean no-op: no sidecar planted, no
    // lease taken, zero returned
    assert(Ivf.deleteWhere(spark, idx, lit(false)) == 0L)
    assert(!new java.io.File(s"$dir/tombstones").exists(),
      "a no-op deleteWhere planted an empty sidecar")
    val n1 = Ivf.deleteWhere(spark, idx, col("vec_id") % 7 === 3)
    assert(n1 == 43L, s"expected 43 tombstoned, got $n1") // 3,10,…,297
    // equals the id-list twin built the driver way
    val q = embAll.find(_._1 == 10L).get._2
    val got = Ivf.search(spark, idx, q, 10, 10000)
      .collect().map(_.getLong(0)).toSeq
    val expected = embAll
      .filter(p => p._1 < 300 && p._1 % 7 != 3)
      .map { case (id, v) => (id, KMeans.sqDist(q, v)) }
      .sortBy(p => (p._2, p._1)).take(10).map(_._1).toSeq
    assert(got == expected, s"$got != $expected")
    // repeated bulk delete of the same predicate: the live view hides
    // the already-tombstoned rows, so nothing new is tombstoned and the
    // sidecar does not grow unboundedly
    assert(Ivf.deleteWhere(spark, idx, col("vec_id") % 7 === 3) == 0L)
    assert(Ivf.maintenanceStats(spark, idx).tombstones == 43L)
  }

  test("maintain compacts tombstone-only debt and the poll-recommend → " +
      "maintain loop converges (VERDICT r13 #1/#3)") {
    import java.nio.file.{Files => JFiles}
    val dir = JFiles.createTempDirectory("graft_maint_tomb").toString
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val idx = Ivf.build(emb.where(col("vec_id") < 300),
      "vec_id", "embedding", dir)
    val s0 = Ivf.maintenanceStats(spark, idx)
    assert(!s0.compactRecommended(maxFilesPerShard = 1000))
    // tombstone debt with file debt far under threshold — the shape the
    // old trigger mismatch spun forever on (recommended true, maintain
    // skipped, broadcast anti-join cost never amortized)
    Ivf.delete(spark, idx, Seq(10L, 20L))
    val s1 = Ivf.maintenanceStats(spark, idx)
    assert(s1.tombstones == 2L && s1.unmaterializedTombstones == 2L)
    assert(s1.compactRecommended(maxFilesPerShard = 1000))
    Ivf.maintain(spark, idx, maxFilesPerShard = 1000) match {
      case Ivf.MaintainCompacted(_) => ()
      case other => fail(s"maintain skipped tombstone-only debt: $other")
    }
    // deletes are materialized in the rewritten files...
    val raw = spark.read.parquet(idx.vectorsPath)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(raw.size == 298 && !raw(10L) && !raw(20L))
    // ...the sidecar is CARRIED (coded siblings may predate the deletes)
    // yet recommended goes false: the loop converges
    val s2 = Ivf.maintenanceStats(spark, idx)
    assert(s2.tombstones == 2L, "sidecar must be carried forward")
    assert(s2.unmaterializedTombstones == 0L,
      "compact did not record the materialization")
    assert(!s2.compactRecommended(maxFilesPerShard = 1000),
      "poll-recommend → maintain did not converge")
    assert(Ivf.maintain(spark, idx, maxFilesPerShard = 1000) ==
      Ivf.MaintainSkipped)
    // a NEW delete re-raises the flag — and the debt count is the NEW
    // batch alone (the materialized 2 are not re-counted), so a
    // debt-bounded scheduler sees the true marginal cost
    Ivf.delete(spark, idx, Seq(30L))
    val s3 = Ivf.maintenanceStats(spark, idx)
    assert(s3.tombstones == 3L && s3.unmaterializedTombstones == 1L, s"$s3")
    assert(s3.compactRecommended(maxFilesPerShard = 1000))
    // the debt threshold knob: tolerate up to 1 unmaterialized id and
    // the recommendation (and maintain) go quiet; the default 0 keeps
    // the converge-every-delete contract
    assert(!s3.compactRecommended(maxFilesPerShard = 1000,
      maxUnmaterializedTombstones = 1L))
    assert(Ivf.maintain(spark, idx, maxFilesPerShard = 1000,
      maxUnmaterializedTombstones = 1L) == Ivf.MaintainSkipped)
  }

  test("tombstone sidecar partitioning: ~3M ids per file, hard 64-file " +
      "cap at any delete volume") {
    // the arm SCALE.md's round-15 deleteWhere cell cannot reach at feasible
    // volumes (the cap binds at 192M+ ids) — gated as pure math
    assert(Ivf.tombstonePartitions(1L) == 1)
    assert(Ivf.tombstonePartitions(2999999L) == 1)
    assert(Ivf.tombstonePartitions(3000000L) == 1)
    assert(Ivf.tombstonePartitions(6000000L) == 2)
    assert(Ivf.tombstonePartitions(191999999L) == 63)
    assert(Ivf.tombstonePartitions(192000000L) == 64)
    assert(Ivf.tombstonePartitions(1000000000000L) == 64,
      "a trillion-id compliance delete must still write ≤64 files")
  }

  test("maintenanceStats falls back to the conservative whole-sidecar " +
      "count when the marker's file set stops subsetting the live " +
      "listing (VERDICT r14 #6)") {
    import java.nio.file.{Files => JFiles}
    val dir = JFiles.createTempDirectory("graft_marker_fb").toString
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val idx = Ivf.build(emb.where(col("vec_id") < 300),
      "vec_id", "embedding", dir)
    Ivf.delete(spark, idx, Seq(10L, 20L))
    assert(Ivf.maintain(spark, idx, maxFilesPerShard = 1000)
      .isInstanceOf[Ivf.MaintainCompacted])
    Ivf.delete(spark, idx, Seq(30L))
    // precise arm: the marker's files all still present + one new batch
    // on top — only the addition is debt
    val precise = Ivf.maintenanceStats(spark, idx)
    assert(precise.tombstones == 3L &&
      precise.unmaterializedTombstones == 1L, s"$precise")
    // an out-of-band sidecar rewrite (same ids, fresh file names — e.g.
    // a manual coalesce) breaks the marker's file-set subset: the
    // precise split is no longer provable, so the count must fall back
    // to the conservative WHOLE sidecar instead of reporting stale
    // precision (the fallback arm of the precise-count code path)
    val tp = s"$dir/tombstones"
    val ids = spark.read.parquet(tp).collect().map(_.getLong(0)).toSeq
    import spark.implicits._
    ids.toDF("__deleted_id").coalesce(1)
      .write.mode("overwrite").parquet(tp)
    val fallback = Ivf.maintenanceStats(spark, idx)
    assert(fallback.tombstones == 3L, s"$fallback")
    assert(fallback.unmaterializedTombstones == 3L,
      s"expected conservative fallback to the whole sidecar: $fallback")
    // conservative means a debt-bounded scheduler re-compacts — the
    // safe direction (an extra rewrite, never a skipped one)
    assert(fallback.compactRecommended(maxFilesPerShard = 1000,
      maxUnmaterializedTombstones = 2L))
  }

  test("maintain: snapshot files vanishing under the rewrite (lease-less " +
      "writer) abort by name with the index untouched (VERDICT r13 #5)") {
    import java.nio.file.{Files => JFiles}
    val dir = JFiles.createTempDirectory("graft_maint_subset").toString
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val idx = Ivf.build(emb.where(col("vec_id") < 300),
      "vec_id", "embedding", dir)
    Ivf.append(idx, emb.where(col("vec_id") >= 300 && col("vec_id") < 400),
      "vec_id", "embedding")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(idx.vectorsPath)
    val e = intercept[IllegalStateException] {
      Ivf.maintain(spark, idx, maxFilesPerShard = 0,
        beforeFence = () => {
          // a lease-less rewriter's signature: a file the snapshot read
          // is gone from the live layout — merging would duplicate rows
          val victim = graft.operators.FsList.files(fs, live)
            .filter(_.getPath.getName.endsWith(".parquet"))
            .map(_.getPath).minBy(_.toString)
          assert(fs.delete(victim, false))
        })
    }
    assert(e.getMessage.contains("vanished"), e.getMessage)
    // no swap happened: live dir present, no trash, scratch cleaned,
    // both leases released
    assert(fs.exists(live), "the abort must leave the live dir in place")
    assert(!new java.io.File(s"$dir/__compact_trash").exists())
    assert(!new java.io.File(s"$dir/__compact_scratch").exists())
    assert(!new java.io.File(s"$dir/__maintain_lease").exists())
    assert(!new java.io.File(s"$dir/__writer_lease").exists())
  }

  test("maintain swap is writer-lease fenced: a held lease times " +
      "out by name instead of a swap-under-write (ADVICE r13)") {
    import java.nio.file.{Files => JFiles}
    import graft.operators.FsLease
    val dir = JFiles.createTempDirectory("graft_swapfence").toString
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val idx = Ivf.build(emb.where(col("vec_id") < 200),
      "vec_id", "embedding", dir)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val wLease = Ivf.writerLeasePath(idx)
    FsLease.acquire(fs, wLease, "in-flight-append", timeoutMs = 0L)
    try {
      intercept[FsLease.LeaseHeldException] {
        Ivf.maintain(spark,
          idx.copy(config = idx.config.copy(leaseTimeoutMs = 300L)),
          maxFilesPerShard = 0)
      }
      // nothing swapped under the writer: all 200 rows still served
      assert(spark.read.parquet(idx.vectorsPath).count() == 200L)
    } finally FsLease.release(fs, wLease, "in-flight-append")
    // released writer → the retry fences, re-checks, swaps
    assert(Ivf.maintain(spark, idx, maxFilesPerShard = 0)
      .isInstanceOf[Ivf.MaintainCompacted])
    assert(spark.read.parquet(idx.vectorsPath).count() == 200L)
    assert(!new java.io.File(s"$dir/__compact_trash").exists())
    assert(!new java.io.File(s"$dir/__compact_scratch").exists())
  }

  test("lease acquisition is race-safe within one JVM: simultaneous " +
      "creators yield exactly one holder with an intact owner tag " +
      "(the observed local-fs interleaved-tag leak, r15)") {
    // Hadoop's local fs emulates create-if-absent with exists-then-
    // create; before the per-path JVM monitor + verify-read, two
    // same-process racers could BOTH hold the lease with their tags
    // interleaved in one file — which neither owner-verified release
    // matched, leaking the lease for a full stale TTL (observed live:
    // an append racing the maintenance poller's swap fence). Owners
    // here have DIFFERENT lengths, the shape that produced the mangled
    // tag. Metadata-only, so many rounds are cheap.
    import java.nio.file.{Files => JFiles}
    import graft.operators.FsLease
    val dir = JFiles.createTempDirectory("graft_leaserace").toString
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    (0 until 40).foreach { round =>
      val path = new org.apache.hadoop.fs.Path(s"$dir/__lease_$round")
      val owners = (0 until 8).map(i => s"owner-$round-$i-" + ("x" * (i * 3)))
      val winners = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val barrier = new java.util.concurrent.CyclicBarrier(owners.length)
      val ts = owners.map { o =>
        val t = new Thread(() => {
          barrier.await()
          try { FsLease.acquire(fs, path, o, timeoutMs = 0L); winners.add(o) }
          catch { case _: FsLease.LeaseHeldException => () }
        })
        t.start(); t
      }
      ts.foreach(_.join(30000L))
      assert(ts.forall(!_.isAlive), s"round $round: an acquirer hung")
      assert(winners.size == 1, s"round $round: ${winners.size} holders")
      val content = {
        val in = fs.open(path)
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      }
      assert(content == winners.peek(),
        s"round $round: mangled owner tag '$content'")
      assert(FsLease.release(fs, path, winners.peek()))
    }
  }

  test("lease acquisition self-heals transient verify-read failures, " +
      "including on the fail-fast path (r15 review)") {
    // The owner-verify after a successful create depends on a read; a
    // transient read failure used to conclude "not mine" and — on the
    // timeoutMs = 0 maintainer path, which has no second loop pass —
    // throw LeaseHeldException with the caller's OWN heartbeat-less
    // lease file left blocking every writer for the stale TTL. The fix
    // is two-layer (currentOwner retries transients; the deadline arm
    // takes one last ownership read), exercised here by injecting
    // failures through a FilterFileSystem whose open() throws for the
    // first N calls.
    import java.nio.file.{Files => JFiles}
    import graft.operators.FsLease
    import org.apache.hadoop.fs.{FSDataInputStream, FilterFileSystem, Path => HPath}
    val dir = JFiles.createTempDirectory("graft_leaseflaky").toString
    val raw = new HPath(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    class FlakyOpenFs(failFirst: Int) extends FilterFileSystem(raw) {
      private val opens = new java.util.concurrent.atomic.AtomicInteger(0)
      override def open(f: HPath, bufferSize: Int): FSDataInputStream =
        if (opens.incrementAndGet() <= failFirst)
          throw new java.io.IOException(
            s"injected transient read failure ${opens.get()}")
        else super.open(f, bufferSize)
    }
    // 2 failures: absorbed inside currentOwner's own retry budget
    val p1 = new HPath(s"$dir/__lease_flaky1")
    FsLease.acquire(new FlakyOpenFs(2), p1, "owner-a", timeoutMs = 0L)
    assert(FsLease.release(raw, p1, "owner-a"),
      "owner-a did not hold its lease after transient read failures")
    // 5 failures: the FIRST verify exhausts its whole budget (4 reads)
    // and fails; the fail-fast deadline arm's last look must recover
    // ownership instead of orphaning the file
    val p2 = new HPath(s"$dir/__lease_flaky2")
    FsLease.acquire(new FlakyOpenFs(5), p2, "owner-b", timeoutMs = 0L)
    assert(FsLease.release(raw, p2, "owner-b"),
      "owner-b did not recover its lease on the fail-fast path")
  }

  test("withLease heartbeats the hold: a legitimate hold longer than " +
      "the stale TTL is not broken (VERDICT r13 #4)") {
    import java.nio.file.{Files => JFiles}
    import graft.operators.FsLease
    val dir = JFiles.createTempDirectory("graft_heartbeat").toString
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val lease = new org.apache.hadoop.fs.Path(s"$dir/__hb_lease")
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val holder = new Thread(() => {
      try FsLease.withLease(fs, lease, "long-holder", staleTtlMs = 400L) {
        Thread.sleep(1600) // 4× the TTL — an append job outliving it
      } catch { case t: Throwable => failure.set(t) }
    })
    holder.start()
    try {
      Thread.sleep(900) // well past the TTL, several beats in
      // the old behavior: the contender reads a 900 ms-old mtime as a
      // crashed holder and breaks the lease mid-write; the heartbeat
      // keeps the mtime fresh, so the break never fires
      intercept[FsLease.LeaseHeldException] {
        FsLease.acquire(fs, lease, "contender", staleTtlMs = 400L,
          timeoutMs = 0L)
      }
    } finally holder.join()
    assert(failure.get() == null,
      s"the long holder itself failed: ${failure.get()}")
    // the hold ended cleanly: the lease is gone and a contender enters
    FsLease.acquire(fs, lease, "contender", staleTtlMs = 400L,
      timeoutMs = 0L)
    assert(FsLease.release(fs, lease, "contender"))
  }

  test("clearTombstones verifies the delete lifecycle: refuses before a " +
      "compact, refuses a stale coded sibling, passes after the rebuild " +
      "(VERDICT r13 #7)") {
    import java.nio.file.{Files => JFiles}
    val dir = JFiles.createTempDirectory("graft_clearguard").toString
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val idx = Ivf.build(emb.where(col("vec_id") < 300),
      "vec_id", "embedding", dir)
    // a coded sibling built BEFORE any delete — it will physically
    // contain the soon-deleted row
    val sqDir = s"$dir/sq8_codes"
    graft.operators.IvfSq.buildCodes(spark, idx, sqDir)
    Ivf.delete(spark, idx, Seq(5L))
    // (a) no compact postdates the delete → the float files still hold
    // row 5; clearing would resurrect it there
    val e1 = intercept[IllegalStateException] {
      Ivf.clearTombstones(spark, idx)
    }
    assert(e1.getMessage.contains("no compact postdates"), e1.getMessage)
    assert(Ivf.maintain(spark, idx, maxFilesPerShard = 0)
      .isInstanceOf[Ivf.MaintainCompacted])
    // (b) the float side is clean now, but the registered sibling
    // predates the delete and still holds row 5
    val e2 = intercept[IllegalStateException] {
      Ivf.clearTombstones(spark, idx)
    }
    assert(e2.getMessage.contains(sqDir), e2.getMessage)
    assert(spark.read.parquet(sqDir).where(col("vec_id") === 5L).count() == 1L,
      "the guard fired but the sibling did not actually hold the row")
    // (c) rebuild the sibling (live view: row 5 physically absent) →
    // the lifecycle is complete and the clear passes
    graft.operators.IvfSq.buildCodes(spark, idx, sqDir)
    Ivf.clearTombstones(spark, idx)
    assert(Ivf.maintenanceStats(spark, idx).tombstones == 0L)
    assert(spark.read.parquet(sqDir).where(col("vec_id") === 5L).count() == 0L)
    assert(Ivf.liveVectors(spark, idx).count() == 299L)
  }

  test("append rejects dimension-mismatched rows with an error") {
    import java.nio.file.{Files => JFiles}
    import spark.implicits._
    val dir = JFiles.createTempDirectory("graft_append_dim").toString
    val idx = Ivf.build(Tables.embeddings(spark, sf0001).where(col("vec_id") < 100),
      "vec_id", "embedding", dir)
    val bad = Seq((9999L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    intercept[Throwable] {
      Ivf.append(idx, bad, "vec_id", "embedding")
    }
  }

  test("probe pruning actually prunes the scan") {
    // the physical plan must contain partition filters on shard_id — the
    // scale story depends on it
    val q = embAll(2)._2
    val k = index.k
    val probes = index.centroids.indices
      .map(i => (i, KMeans.sqDist(q, index.centroids(i))))
      .sortBy(p => (p._2, p._1)).take(5).map(_._1)
    val shards = probes.map(index.centroidToShard).distinct
    val plan = spark.read.parquet(index.vectorsPath)
      .where(col("shard_id").isin(shards: _*) && col("centroid_id").isin(probes: _*))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("shard_id"),
      s"plan missing partition pruning:\n$plan")
  }

  test("planted committer debris cannot be resurrected: a dead delete's " +
      "task-committed tombstones are purged by the next delete batch " +
      "(the deterministic twin of CrossJvmStressSpec's kill gate)") {
    // FileOutputCommitter v1's job commit merges EVERY task_* dir under
    // _temporary/0 of its output dir — plant exactly the debris a
    // kill -9'd delete leaves and assert the next delete purges it
    // instead of promoting a tombstone for a row nobody deleted
    import java.nio.file.{Files => JF, Paths => JP}
    val dir = JF.createTempDirectory("graft_debris").toString
    val df = graft.sources.VectorFormats.generate(spark, 100L, 4, 7L)
    val idx = Ivf.build(df, "vec_id", "embedding", dir)
    Ivf.delete(spark, idx, Seq(1L)) // sidecar now exists
    // plant: a fully-formed task-committed parquet tombstoning id 55
    val tombDir = s"$dir/tombstones"
    val plantDir = s"$tombDir/_temporary/0/task_202608160000_0000_m_000000"
    JF.createDirectories(JP.get(plantDir))
    import spark.implicits._
    val tmpOut = JF.createTempDirectory("graft_debris_src").toString
    Seq(55L).toDF("__deleted_id").coalesce(1)
      .write.mode("overwrite").parquet(tmpOut)
    val part = new java.io.File(tmpOut).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    JF.copy(part.toPath, JP.get(plantDir, "part-00000-dead.snappy.parquet"))
    // next delete batch must purge the debris, not merge it
    Ivf.delete(spark, idx, Seq(2L))
    val tombs = spark.read.schema("__deleted_id LONG").parquet(tombDir)
      .collect().map(_.getLong(0)).toSet
    assert(tombs == Set(1L, 2L),
      s"tombstone set after planted debris: $tombs (55 present = the " +
        "dead job's debris was resurrected; purge failed)")
    assert(!JF.exists(JP.get(s"$tombDir/_temporary")),
      "planted _temporary survived the purge")
    // id 55 is still live and searchable
    val q55 = df.where(col("vec_id") === 55L)
      .select("embedding").head().getSeq[Float](0).toArray
    assert(Ivf.search(spark, idx, q55, 1, 10000).head().getLong(0) == 55L)
  }
}
