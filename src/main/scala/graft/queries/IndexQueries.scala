package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Ivf
import graft.queries.OracleGen.{adcSql, dotSql, l2Sql, normSql}

/** IVF index build + search wired into the driver gate.
  *
  * `ivf_search_probe_all` probes every centroid, which makes IVF search
  * EXACT — so it hash-checks against the brute-force DuckDB oracle. The
  * default-probe variant and build statistics are deterministic (seed 42)
  * but not SQL-expressible → rows-only checks.
  */
object IndexQueries {

  /** One build per (sfDir) per JVM; Verify/Bench run many queries over the
    * same index.
    */
  private val cache = new Tables.DataKeyedMemo[Ivf.Index]()

  def index(spark: SparkSession, dir: String): Ivf.Index =
    cache.get(dir) {
      val emb = Tables.embeddings(spark, dir)
      val indexDir = s"/tmp/graft_index/${Tables.cacheDirName(dir)}"
      Ivf.build(emb, "vec_id", "embedding", indexDir)
    }

  /** Embedding of `vec_id = qid`, memoized like [[queryFixtures]]. */
  private val queryVecCache = new Tables.DataKeyedMemo[Array[Float]]()
  private def queryVec(spark: SparkSession, dir: String, qid: Long): Array[Float] =
    queryVecCache.get(dir, s"q$qid") {
      Tables.embeddings(spark, dir)
        .where(col("vec_id") === qid)
        .select("embedding")
        .head().getSeq[Float](0).toArray
    }

  /** Search with n_probe = maxNProbe → probes everything → exact. */
  def searchProbeAll(spark: SparkSession, dir: String): DataFrame = {
    val idx = index(spark, dir)
    Ivf.search(spark, idx, queryVec(spark, dir, 0L), k0 = 10, nProbe0 = 10000)
  }

  private val searchProbeAllSql: String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
      |SELECT e.vec_id AS external_id,
      |  ${l2Sql("e.embedding", "q.qe")} AS distance
      |FROM embeddings e CROSS JOIN q
      |ORDER BY distance, e.vec_id LIMIT 10""".stripMargin

  /** FILTERED vector search, probe-all form: top-k restricted to a
    * metadata predicate (label = 3) pushed into the pruned scan —
    * exact, so the DuckDB brute-force-with-WHERE oracle checks it. The
    * predicate narrows candidates BEFORE ranking (true filtered top-k,
    * never top-k-then-filter).
    */
  def searchFilteredAll(spark: SparkSession, dir: String): DataFrame = {
    val idx = index(spark, dir)
    Ivf.search(spark, idx, queryVec(spark, dir, 0L), k0 = 10, nProbe0 = 10000,
      filter = Some(col("label") === 3))
  }

  private val searchFilteredAllSql: String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
      |SELECT e.vec_id AS external_id,
      |  ${l2Sql("e.embedding", "q.qe")} AS distance
      |FROM embeddings e CROSS JOIN q
      |WHERE e.label = 3
      |ORDER BY distance, e.vec_id LIMIT 10""".stripMargin

  /** Range search, probe-all form: all vectors within squared-L2
    * distance 1.5 of query 0 (≈ the corpus' 2% distance quantile —
    * non-trivial at every sf). Probe-all ⇒ exact ⇒ the DuckDB
    * brute-force WHERE oracle checks it.
    */
  def rangeSearchAll(spark: SparkSession, dir: String): DataFrame = {
    val idx = index(spark, dir)
    Ivf.rangeSearch(spark, idx, queryVec(spark, dir, 0L),
      radius = 1.5, nProbe0 = 10000)
  }

  private val rangeSearchAllSql: String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
      |SELECT * FROM (
      |  SELECT e.vec_id AS external_id,
      |    ${l2Sql("e.embedding", "q.qe")} AS distance
      |  FROM embeddings e CROSS JOIN q)
      |WHERE distance < 1.5
      |ORDER BY distance, external_id""".stripMargin

  /** Delete lifecycle search (`ivf_search_deleted`): the one engine
    * surface VERDICT r13 flagged as DuckDB-uncovered — `Ivf.delete` +
    * `liveRows`' in-scan tombstone filter, oracled end to end in
    * BOTH lifecycle phases. A fresh index is built on `vec_id < 300`,
    * a deterministic id set (`vec_id % 7 = 3`, ~43 ids spread across
    * clusters) is deleted — the even half via the id-list [[Ivf.delete]],
    * the rest via [[Ivf.deleteWhere]] with the full predicate, putting
    * both bulk forms AND deleteWhere's live-view skip of already-
    * tombstoned ids under this oracle — and the probe-all (exact)
    * top-10 for the
    * embedding of vec_id 10 — ITSELF a deleted id, so the undeleted
    * rank-1 would be (10, distance 0) and any tombstone leak on any
    * phase hash-mismatches at rank 1 — is taken twice:
    *
    *  - `merge_on_read`: tombstones filtered at scan time by the
    *    broadcast id-set predicate (data files still hold all 300 rows);
    *  - `compacted`: after a forced [[Ivf.maintain]] materializes the
    *    deletes into rewritten files (recording the materialization
    *    marker + fencing the swap under the writer lease — the oracled
    *    path exercises both);
    *  - `cleared`: after the VERIFIED [[Ivf.clearTombstones]] — the
    *    lifecycle END, previously ScalaTest-only. The clear's marker
    *    precondition is satisfied by the compact above; a clear that
    *    wrongly dropped the sidecar before materialization (or a
    *    search path that still depended on it) would resurrect id 10
    *    at rank 1 / distance 0 and hash-mismatch.
    *
    * The oracle recomputes exact top-10 over the surviving rows once
    * and expects it verbatim in each phase — all three answers must be
    * identical, which is the compaction + clear result-preservation
    * contract under oracle instead of only ScalaTest. Phases 1 and 2
    * are materialized before the next lifecycle step (phase 1's lazy
    * plan pins pre-swap file names the swap deletes; phase 2's pins
    * the tombstone scan the clear deletes).
    */
  def searchDeleted(spark: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_index_del/${Tables.cacheDirName(dir)}"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val idx = Ivf.build(emb.where(col("vec_id") < 300),
      "vec_id", "embedding", root)
    // the delete set enters through BOTH bulk forms so each is under
    // this oracle (VERDICT r14 #2 — deleteWhere's predicate plumbing
    // was previously gated only by the IvfSpec twin-equivalence test):
    // the even half by driver-held id list, then deleteWhere with the
    // FULL predicate — its live-view filter must skip the already-
    // tombstoned evens, so the returned count is exactly the odd half
    // (live-view idempotence asserted here, the survivors by DuckDB)
    val ids = (0L until 300L).filter(_ % 7 == 3)
    Ivf.delete(spark, idx, ids.filter(_ % 2 == 0))
    val n = Ivf.deleteWhere(spark, idx, col("vec_id") % 7 === 3)
    require(n == ids.count(_ % 2 == 1),
      s"deleteWhere tombstoned $n live ids, expected ${ids.count(_ % 2 == 1)}")
    val q = queryVec(spark, dir, 10L)
    def phase(name: String): DataFrame = {
      val rows = Ivf.search(spark, idx, q, k0 = 10, nProbe0 = 10000)
        .withColumn("phase", lit(name))
      // materialize: the next lifecycle step deletes files this lazy
      // plan pins (swap: the data files; clear: the tombstone sidecar)
      spark.createDataFrame(
        java.util.Arrays.asList(rows.collect(): _*), rows.schema)
    }
    val before = phase("merge_on_read")
    forceMaintain(spark, idx)
    val compacted = phase("compacted")
    Ivf.clearTombstones(spark, idx)
    before.union(compacted)
      .union(Ivf.search(spark, idx, q, k0 = 10, nProbe0 = 10000)
        .withColumn("phase", lit("cleared")))
      .orderBy(col("phase"), col("distance"), col("external_id"))
  }

  /** Forced [[Ivf.maintain]] (threshold 0): the lifecycle step the
    * `compacted` phases oracle, so anything but a compaction fails the
    * query by name instead of hashing an uncompacted answer.
    */
  private def forceMaintain(spark: SparkSession, idx: Ivf.Index): Unit =
    Ivf.maintain(spark, idx, maxFilesPerShard = 0) match {
      case Ivf.MaintainCompacted(_) => ()
      case other => throw new IllegalStateException(
        s"expected a compacting maintain, got $other")
    }

  /** Exact top-10 over the delete survivors (`vec_id < 300 AND
    * vec_id % 7 <> 3`) for the embedding of vec_id 10 — the oracle of
    * the streamed delete path (`stream_index_delete`), and the
    * per-phase body of [[searchDeletedSql]].
    */
  private[queries] val deletedSurvivorTop10Sql: String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 10)
      |SELECT e.vec_id AS external_id,
      |  ${l2Sql("e.embedding", "q.qe")} AS distance
      |FROM embeddings e CROSS JOIN q
      |WHERE e.vec_id < 300 AND e.vec_id % 7 <> 3
      |ORDER BY distance, e.vec_id LIMIT 10""".stripMargin

  private val searchDeletedSql: String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 10),
      |s AS (
      |  SELECT e.vec_id AS external_id,
      |    ${l2Sql("e.embedding", "q.qe")} AS distance
      |  FROM embeddings e CROSS JOIN q
      |  WHERE e.vec_id < 300 AND e.vec_id % 7 <> 3
      |  ORDER BY distance, e.vec_id LIMIT 10)
      |SELECT p.phase, s.external_id, s.distance
      |FROM s CROSS JOIN (VALUES ('merge_on_read'), ('compacted'), ('cleared')) p(phase)
      |ORDER BY p.phase, s.distance, s.external_id""".stripMargin

  /** Custom-id-column lifecycle search (`ivf_search_custom_id`): the
    * hardcoded-`vec_id` regression class — which bit twice (the r14
    * search-rewrite fix, then the r15 coded-sibling/poller extension)
    * and was ScalaTest-only — put under the DuckDB oracle. The index is
    * built with its id column named `doc_id`, so EVERY plumbing step
    * that wrongly assumes `vec_id` (the tombstone scan filter, the
    * deleteWhere live-view filter, compaction's re-densify rewrite, the
    * search projection) either fails analysis on the missing column or
    * resurrects deleted id 10 at rank 1 / distance 0 and
    * hash-mismatches. Same survivor set and query vector as
    * [[searchDeleted]] (`id < 300`, delete `id % 7 = 3`, query id 10 —
    * itself deleted), taken in two phases: merge-on-read (tombstone
    * filter on the RECORDED id column) and compacted
    * ([[Ivf.maintain]]'s rewrite + marker under the custom
    * column). Phase 1 is materialized before the swap deletes the file
    * names its lazy plan pins.
    */
  def searchCustomId(spark: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_index_cid/${Tables.cacheDirName(dir)}"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val idx = Ivf.build(emb.where(col("doc_id") < 300),
      "doc_id", "embedding", root)
    val n = Ivf.deleteWhere(spark, idx, col("doc_id") % 7 === 3)
    require(n == (0L until 300L).count(_ % 7 == 3),
      s"deleteWhere on doc_id tombstoned $n ids, expected 43")
    val q = queryVec(spark, dir, 10L)
    def phase(name: String): DataFrame = {
      val rows = Ivf.search(spark, idx, q, k0 = 10, nProbe0 = 10000)
        .withColumn("phase", lit(name))
      spark.createDataFrame(
        java.util.Arrays.asList(rows.collect(): _*), rows.schema)
    }
    val before = phase("merge_on_read")
    forceMaintain(spark, idx)
    before.union(Ivf.search(spark, idx, q, k0 = 10, nProbe0 = 10000)
        .withColumn("phase", lit("compacted")))
      .orderBy(col("phase"), col("distance"), col("external_id"))
  }

  private val searchCustomIdSql: String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 10),
      |s AS (
      |  SELECT e.vec_id AS external_id,
      |    ${l2Sql("e.embedding", "q.qe")} AS distance
      |  FROM embeddings e CROSS JOIN q
      |  WHERE e.vec_id < 300 AND e.vec_id % 7 <> 3
      |  ORDER BY distance, e.vec_id LIMIT 10)
      |SELECT p.phase, s.external_id, s.distance
      |FROM s CROSS JOIN (VALUES ('merge_on_read'), ('compacted')) p(phase)
      |ORDER BY p.phase, s.distance, s.external_id""".stripMargin

  /** Distributed ANN join, probe-all form: top-3 indexed neighbors for
    * each row of a (bounded) query table, with the query side staying
    * distributed — no driver collect ([[Ivf.annJoin]]). Probe-all ⇒
    * exact ⇒ the DuckDB brute-force window oracle checks it.
    */
  def annJoinTopK(spark: SparkSession, dir: String): DataFrame = {
    val idx = index(spark, dir)
    val queries = Tables.embeddings(spark, dir)
      .where(col("vec_id") >= 480 && col("vec_id") < 500)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    Ivf.annJoin(queries, idx, k = 3, nProbe = 10000)
      .orderBy(col("query_id"), col("rank"))
  }

  private[queries] val annJoinTopKSql: String =
    s"""WITH q AS (
      |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings
      |  WHERE vec_id >= 480 AND vec_id < 500),
      |d AS (
      |  SELECT q.query_id, e.vec_id,
      |    ${l2Sql("e.embedding", "q.qe")} AS distance
      |  FROM embeddings e CROSS JOIN q),
      |r AS (
      |  SELECT query_id, vec_id, distance,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY distance, vec_id) AS rank
      |  FROM d)
      |SELECT query_id, rank, vec_id AS external_id, distance
      |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** Hard-negative mining: for each query vector, the top-3 nearest
    * indexed vectors of a DIFFERENT class — the contrastive-training
    * data primitive (triplet/InfoNCE negatives), expressed as
    * [[Ivf.annJoin]] with a pair filter over both sides. The filter
    * runs before ranking, so the result is the true filtered top-k.
    * Probe-all ⇒ exact ⇒ brute-force filtered window oracle.
    */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val idx = index(spark, dir)
    val queries = Tables.embeddings(spark, dir)
      .where(col("vec_id") >= 480 && col("vec_id") < 500)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("label").as("q_label"))
    Ivf.annJoin(queries, idx, k = 3, nProbe = 10000,
        pairFilter = Some(col("label") =!= col("q_label")))
      .orderBy(col("query_id"), col("rank"))
  }

  private val hardNegativesSql: String =
    s"""WITH q AS (
      |  SELECT vec_id AS query_id, embedding AS qe, label AS q_label
      |  FROM embeddings WHERE vec_id >= 480 AND vec_id < 500),
      |d AS (
      |  SELECT q.query_id, e.vec_id,
      |    ${l2Sql("e.embedding", "q.qe")} AS distance
      |  FROM embeddings e CROSS JOIN q
      |  WHERE e.label <> q.q_label),
      |r AS (
      |  SELECT query_id, vec_id, distance,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY distance, vec_id) AS rank
      |  FROM d)
      |SELECT query_id, rank, vec_id AS external_id, distance
      |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** kNN label prediction: each query vector takes the MAJORITY label
    * of its 10 nearest indexed neighbors (self excluded) — the
    * embedding-space auto-labeling / label-propagation primitive a
    * training pipeline uses to label unlabeled data from a labeled
    * seed set. Two bounded aggregations after the ANN join: votes per
    * (query, label), then argmax with deterministic ties (votes desc,
    * label asc). Probe-all ⇒ the neighbor sets are exact ⇒ the whole
    * chain is a DuckDB window oracle.
    */
  def knnLabelPredict(spark: SparkSession, dir: String): DataFrame = {
    val idx = index(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    val queries = emb
      .where(col("vec_id") >= 480 && col("vec_id") < 500)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("label").as("true_label"))
    val neighbors = Ivf.annJoin(queries, idx, k = 10, nProbe = 10000,
      pairFilter = Some(col("vec_id") =!= col("query_id"))) // self excluded
    val labels = emb.select(col("vec_id").as("external_id"),
      col("label").as("n_label"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("n_votes").desc, col("n_label"))
    neighbors
      .join(labels, Seq("external_id")) // co-bounded: 20 queries × 10
      .groupBy(col("query_id"), col("n_label"))
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .join(broadcast(queries.select(col("query_id"), col("true_label"))),
        Seq("query_id"))
      .select(col("query_id"), col("true_label"),
        col("n_label").as("pred_label"), col("n_votes"))
      .orderBy(col("query_id"))
  }

  private val knnLabelPredictSql: String =
    s"""WITH q AS (
      |  SELECT vec_id AS query_id, embedding AS qe, label AS true_label
      |  FROM embeddings WHERE vec_id >= 480 AND vec_id < 500),
      |d AS (
      |  SELECT q.query_id, e.vec_id, e.label AS n_label,
      |    ${l2Sql("e.embedding", "q.qe")} AS distance
      |  FROM embeddings e CROSS JOIN q
      |  WHERE e.vec_id <> q.query_id),
      |nn AS (
      |  SELECT query_id, vec_id, n_label,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY distance, vec_id) AS rank
      |  FROM d),
      |votes AS (
      |  SELECT query_id, n_label, count(*) AS n_votes
      |  FROM nn WHERE rank <= 10 GROUP BY 1, 2),
      |best AS (
      |  SELECT query_id, n_label, n_votes,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |                       ORDER BY n_votes DESC, n_label) AS rk
      |  FROM votes)
      |SELECT b.query_id, q.true_label, b.n_label AS pred_label, b.n_votes
      |FROM best b JOIN q ON b.query_id = q.query_id
      |WHERE b.rk = 1 ORDER BY b.query_id""".stripMargin

  /** Reference-default search: k=10, n_probe=20 (src/api.rs:33-43).
    * Oracle-checked via [[OracleGen]]: the probe set is deterministic
    * given the seed-42 index, so the generated SQL restricts DuckDB's
    * brute-force top-k to the probed cells' candidate ids.
    */
  def searchDefault(spark: SparkSession, dir: String): DataFrame = {
    val idx = index(spark, dir)
    Ivf.search(spark, idx, queryVec(spark, dir, 1L), k0 = 10, nProbe0 = 20)
  }

  /** Candidate vec_ids of the cells a query at `qid` probes with the
    * reference-default budget — the literal material for the
    * default-probe oracles.
    */
  private def probedCandidateIds(spark: SparkSession, dir: String,
      q: Array[Float], nProbe: Int): Array[Long] = {
    val idx = index(spark, dir)
    val (probes, _) = Ivf.probeSelection(idx, q, math.min(nProbe, idx.config.maxNProbe))
    Ivf.liveVectors(spark, idx)
      .where(col("centroid_id").isin(probes: _*))
      .select("vec_id").collect().map(_.getLong(0)).sorted
  }

  private def searchDefaultOracle(spark: SparkSession, dir: String): String = {
    val ids = probedCandidateIds(spark, dir, queryVec(spark, dir, 1L), 20)
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 1)
       |SELECT e.vec_id AS external_id,
       |  ${l2Sql("e.embedding", "q.qe")} AS distance
       |FROM embeddings e CROSS JOIN q
       |WHERE e.vec_id IN (${OracleGen.lits(ids.toIndexedSeq.map(_.toString))})
       |ORDER BY distance, e.vec_id LIMIT 10""".stripMargin
  }

  /** Batch-default oracle: per-query probe pairs + the probed cells'
    * (vec_id, centroid_id) assignment inlined as VALUES; DuckDB derives
    * each query's candidate set by joining them, then brute-forces the
    * per-query top-k over the real embeddings — independent distance
    * math, membership join, and ranking.
    */
  private def searchBatchDefaultOracle(spark: SparkSession, dir: String): String = {
    val idx = index(spark, dir)
    val nProbe = math.min(20, idx.config.maxNProbe)
    val qs = queryFixtures(spark, dir)
    val probePairs = qs.flatMap { case (qid, q) =>
      Ivf.probeSelection(idx, q, nProbe)._1.map(c => (qid, c))
    }.sorted
    val cells = probePairs.map(_._2).distinct
    val assign = Ivf.liveVectors(spark, idx)
      .where(col("centroid_id").isin(cells.toSeq: _*))
      .select("vec_id", "centroid_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted
    val probeVals = OracleGen.lits(probePairs.toSeq.map { case (q, c) => s"($q,$c)" })
    val assignVals = OracleGen.lits(assign.toSeq.map { case (v, c) => s"($v,$c)" })
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
       |probe(query_id, centroid_id) AS (VALUES $probeVals),
       |assign(vec_id, centroid_id) AS (VALUES $assignVals),
       |d AS (
       |  SELECT p.query_id, a.vec_id,
       |    ${l2Sql("e.embedding", "q.qe")} AS distance
       |  FROM probe p
       |  JOIN assign a ON a.centroid_id = p.centroid_id
       |  JOIN embeddings e ON e.vec_id = a.vec_id
       |  JOIN q ON q.query_id = p.query_id),
       |r AS (SELECT query_id, vec_id, distance,
       |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY distance, vec_id) AS rank
       |      FROM d)
       |SELECT query_id, rank, vec_id AS external_id, distance
       |FROM r WHERE rank <= 10""".stripMargin
  }

  /** ivf_stats oracle: the (vec_id, shard_id, centroid_id) assignment
    * inlined as VALUES, joined to the real embeddings table (so a
    * phantom or dropped id breaks the row counts), aggregated by DuckDB
    * independently.
    */
  private def statsOracle(spark: SparkSession, dir: String): String = {
    val idx = index(spark, dir)
    val rows = Ivf.liveVectors(spark, idx)
      .select("vec_id", "shard_id", "centroid_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sorted
    val vals = OracleGen.lits(rows.toSeq.map { case (v, s, c) => s"($v,$s,$c)" })
    s"""WITH assign(vec_id, shard_id, centroid_id) AS (VALUES $vals)
       |SELECT a.shard_id,
       |  count(DISTINCT a.centroid_id) AS n_centroids,
       |  count(*) AS n_vectors
       |FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id
       |GROUP BY a.shard_id ORDER BY a.shard_id""".stripMargin
  }

  /** Index statistics: per-shard centroid + vector counts (completeness
    * surface — mirrors tests/ivf_index_tests.rs:549-596).
    */
  def stats(spark: SparkSession, dir: String): DataFrame = {
    val idx = index(spark, dir)
    // live view: stats reflect what search can return, not raw files
    graft.operators.Ivf.liveVectors(spark, idx)
      .groupBy("shard_id")
      .agg(
        countDistinct(col("centroid_id")).as("n_centroids"),
        count(lit(1)).as("n_vectors"))
      .orderBy("shard_id")
  }

  /** The first-8-embeddings query fixture every batch entry point
    * shares, memoized per data dir (fingerprint-revalidated like the
    * index/model caches). The driver-side collect is one tiny Spark
    * job, but the batch catalog entries re-paid it on EVERY evaluation
    * — at bench time that job's scheduler barrier was a measurable
    * slice of the most contention-sensitive entry
    * (`ivf_search_batch_all`, VERDICT r16 #5: 8 jobs per eval, of
    * which this was one plus its stage).
    */
  private val queryFixtureCache =
    new Tables.DataKeyedMemo[Array[(Long, Array[Float])]]()
  private def queryFixtures(spark: SparkSession,
      dir: String): Array[(Long, Array[Float])] =
    queryFixtureCache.get(dir) {
      Tables.embeddings(spark, dir)
        .where(col("vec_id") < 8).select("vec_id", "embedding")
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    }

  /** Batch ANN over the first 8 embeddings as queries, one pruned scan.
    * With full probing it is exact → oracle = brute-force batch kNN.
    */
  def searchBatchProbeAll(spark: SparkSession, dir: String): DataFrame = {
    val idx = index(spark, dir)
    Ivf.searchBatch(spark, idx, queryFixtures(spark, dir),
      k0 = 10, nProbe0 = 10000)
  }

  private val searchBatchProbeAllSql =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
      |d AS (
      |  SELECT q.query_id, e.vec_id,
      |    ${l2Sql("e.embedding", "q.qe")} AS distance
      |  FROM embeddings e CROSS JOIN q),
      |r AS (SELECT query_id, vec_id, distance,
      |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY distance, vec_id) AS rank
      |      FROM d)
      |SELECT query_id, rank, vec_id AS external_id, distance
      |FROM r WHERE rank <= 10""".stripMargin

  /** Batch ANN at reference-default probe budget — rows-only; the recall
    * gate vs exact batch kNN lives in ScalaTest.
    */
  def searchBatchDefault(spark: SparkSession, dir: String): DataFrame = {
    val idx = index(spark, dir)
    Ivf.searchBatch(spark, idx, queryFixtures(spark, dir),
      k0 = 10, nProbe0 = 20)
  }

  /** Recall sweep (reference bench protocol): deterministic recall
    * columns per n_probe; timings live in graft.RecallBench.
    */
  /** The sweep's 50-vector perturbed query batch — a FIXTURE
    * (deterministic per-id jitter over the vec_id < 50 slice),
    * memoized per (JVM, data version) like [[queryFixtures]]: without
    * the memo every sweep call re-ran the slice collect driver job
    * before the actual evaluation scan (r18).
    */
  private val sweepQueryCache =
    new Tables.DataKeyedMemo[Array[(Long, Array[Float])]]()

  def recallSweep(spark: SparkSession, dir: String): DataFrame = {
    val idx = index(spark, dir)
    val qs = sweepQueryCache.get(dir) {
      graft.operators.RecallEval.perturbedQueries(
        Tables.embeddings(spark, dir)
          .where(col("vec_id") < 50).select("vec_id", "embedding").collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)),
        scale = 0.5f)
    }
    graft.operators.RecallEval.sweepDf(spark, idx, qs, k = 100,
      nProbes = Seq(1, 4, 16, 64), ranks = Seq(1, 10, 100))
  }

  /** LSH-bucketed cosine ANN: random-hyperplane signature whose bit
    * width GROWS with corpus size (nBits = ⌈log2(n/128)⌉, so expected
    * bucket population stays ≈128 and the multi-probed fraction
    * (nBits+1)/2^nBits shrinks as n grows); full Hamming-1 multi-probe;
    * deterministic (seed 42). Approximate → rows-only driver check; the
    * recall gate vs brute force and the bucket-population check live in
    * DedupSpec.
    */
  def lshAnnTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val nBits = graft.operators.LshAnn.suggestBits(emb.count())
    val planes = graft.operators.LshAnn.hyperplanes(dim, nBits, 42L)
    val table = graft.operators.LshAnn.bucketed(emb, "vec_id", "embedding", planes)
    graft.operators.LshAnn.search(spark, table, "vec_id", "embedding",
      planes, queryVec(spark, dir, 0L), k = 10, nProbeBits = nBits)
  }

  /** PQ-coded sibling of the IVF dataset, built once per (JVM, sfDir). */
  private val pqCodesCache = new Tables.DataKeyedMemo[String]()

  def pqCodesPath(spark: SparkSession, dir: String): String =
    pqCodesCache.get(dir) {
      val idx = index(spark, dir)
      val model = VectorQueries.pqModel(spark, dir)
      val path =
        s"/tmp/graft_index/${Tables.cacheDirName(dir)}/pq_codes"
      graft.operators.IvfPq.buildCodes(spark, idx, model, path)
      path
    }

  /** Residual-PQ model + coded dataset, built once per (JVM, sfDir) —
    * the faiss-default IVF-PQ variant (codes are x − coarse_centroid).
    */
  private val residualCache =
    new Tables.DataKeyedMemo[(graft.operators.Pq.Model, String)]()

  def residualModelAndCodes(spark: SparkSession,
      dir: String): (graft.operators.Pq.Model, String) =
    residualCache.get(dir) {
      val idx = index(spark, dir)
      val model = graft.operators.IvfPq.trainResidual(spark, idx)
      val path =
        s"/tmp/graft_index/${Tables.cacheDirName(dir)}/pq_residual_codes"
      graft.operators.IvfPq.buildResidualCodes(spark, idx, model, path)
      (model, path)
    }

  /** SQ8-coded sibling dataset, built once per (JVM, sfDir). */
  private val sqCodesCache = new Tables.DataKeyedMemo[String]()

  def sqCodesPath(spark: SparkSession, dir: String): String =
    sqCodesCache.get(dir) {
      val idx = index(spark, dir)
      val path = s"/tmp/graft_index/${Tables.cacheDirName(dir)}/sq8_codes"
      graft.operators.IvfSq.buildCodes(spark, idx, path)
      path
    }

  /** IVF-SQ8 ANN (faiss IndexIVFScalarQuantizer shape): probe-pruned
    * scan over the 4×-compressed int8 dataset. Deterministic but
    * approximate → rows-only; gates live in QuantizeSpec.
    */
  def ivfSqTopK(spark: SparkSession, dir: String): DataFrame = {
    val idx = index(spark, dir)
    graft.operators.IvfSq.search(spark, idx, sqCodesPath(spark, dir),
      queryVec(spark, dir, 0L), k0 = 10, nProbe0 = 20)
  }

  /** Residual IVF-PQ ANN — same probe budget as [[ivfPqTopK]], encoding
    * residuals instead of raw vectors. Deterministic but approximate →
    * rows-only; the reconstruction-error and recall gates live in
    * IvfPqSpec.
    */
  def ivfPqResidualTopK(spark: SparkSession, dir: String): DataFrame = {
    val idx = index(spark, dir)
    val (model, path) = residualModelAndCodes(spark, dir)
    graft.operators.IvfPq.searchResidual(spark, idx, model, path,
      queryVec(spark, dir, 0L), k0 = 10, nProbe0 = 20)
  }

  /** IVF-PQ ANN (faiss IndexIVFPQ shape): probe-pruned directory scan
    * over the byte-coded dataset + codegen ADC fold. Deterministic
    * (seed-42 index + codebooks) but approximate → rows-only; the
    * recall gate lives in IvfPqSpec.
    */
  def ivfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val idx = index(spark, dir)
    val model = VectorQueries.pqModel(spark, dir)
    graft.operators.IvfPq.search(spark, idx, model,
      pqCodesPath(spark, dir), queryVec(spark, dir, 0L),
      k0 = 10, nProbe0 = 20)
  }

  /** Refined IVF-PQ (faiss IndexRefineFlat shape): ADC shortlist of
    * 4×k re-ranked by exact float distance over the probed cells only.
    * Rows-only; the recall-dominance and exactness-at-large-shortlist
    * gates live in IvfPqSpec.
    */
  def ivfPqRefineTopK(spark: SparkSession, dir: String): DataFrame = {
    val idx = index(spark, dir)
    val model = VectorQueries.pqModel(spark, dir)
    graft.operators.IvfPq.searchRefine(spark, idx, model,
      pqCodesPath(spark, dir), queryVec(spark, dir, 0L),
      k0 = 10, nProbe0 = 20, refine = 4)
  }

  /** ANN quality dashboard: recall@10 of every approximate path against
    * the exact answer for the same query — the compression/pruning
    * tradeoff surface in one table. L2 methods score against exact
    * squared-L2 top-10; the LSH path is cosine-metric and scores
    * against exact cosine top-10. Deterministic (seed-42 everything),
    * driver-composed → rows-only; excluded from the headline bench
    * (its components are benched individually).
    */
  def annQualitySummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val q = queryVec(spark, dir, 0L)
    val exactL2 = VectorQueries.knnExact(spark, dir, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val emb = Tables.embeddings(spark, dir)
    val exactCos = emb
      .withColumn("cos_sim",
        graft.functions.Vec.cosine(col("embedding"), typedlit(q.toSeq)))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10).select("vec_id").as[Long].collect().toSet
    def recall(ids: Seq[Long], ref: Set[Long]): Double =
      math.round(((ids.toSet & ref).size / 10.0) * 10000.0) / 10000.0
    val idx = index(spark, dir)
    val model = VectorQueries.pqModel(spark, dir)
    val rows = Seq(
      ("ivf_nprobe20", "l2", recall(
        graft.operators.Ivf.search(spark, idx, q, 10, 20)
          .select("external_id").as[Long].collect().toSeq, exactL2)),
      ("int8_dequant", "l2", recall(
        VectorQueries.quantizedTopK(spark, dir)
          .select("vec_id").as[Long].collect().toSeq, exactL2)),
      ("pq_flat", "l2", recall(
        VectorQueries.pqTopK(spark, dir)
          .select("vec_id").as[Long].collect().toSeq, exactL2)),
      ("opq_flat", "l2", recall(
        VectorQueries.opqTopK(spark, dir)
          .select("vec_id").as[Long].collect().toSeq, exactL2)),
      ("ivfpq_nprobe20", "l2", recall(
        ivfPqTopK(spark, dir)
          .select("external_id").as[Long].collect().toSeq, exactL2)),
      ("ivfpq_residual_nprobe20", "l2", recall(
        ivfPqResidualTopK(spark, dir)
          .select("external_id").as[Long].collect().toSeq, exactL2)),
      ("ivfsq8_nprobe20", "l2", recall(
        ivfSqTopK(spark, dir)
          .select("external_id").as[Long].collect().toSeq, exactL2)),
      ("ivfpq_refine4_nprobe20", "l2", recall(
        ivfPqRefineTopK(spark, dir)
          .select("external_id").as[Long].collect().toSeq, exactL2)),
      ("pca16_rerank", "l2", recall(
        VectorQueries.pcaTopK(spark, dir)
          .select("vec_id").as[Long].collect().toSeq, exactL2)),
      ("lsh_multiprobe", "cosine", recall(
        lshAnnTopK(spark, dir)
          .select("vec_id").as[Long].collect().toSeq, exactCos)))
    rows.toDF("method", "metric", "recall_at_10").orderBy("method")
  }

  /** Dashboard oracle: each method's top-10 id list is inlined (they
    * are the outputs of paths individually hash-oracled above — echoes
    * by nature for a recall summary), while BOTH ground truths (exact
    * squared-L2 and exact cosine top-10) and the recall fractions are
    * recomputed independently by DuckDB from the embeddings parquet.
    * So the compare proves the dashboard's scoring, not just its
    * plumbing.
    */
  private def annQualitySummaryOracle(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    val idx = index(spark, dir)
    val q = queryVec(spark, dir, 0L)
    def ids(df: org.apache.spark.sql.DataFrame, c: String): Seq[Long] =
      df.select(c).as[Long].collect().toSeq
    val methods: Seq[(String, String, Seq[Long])] = Seq(
      ("ivf_nprobe20", "l2",
        ids(Ivf.search(spark, idx, q, 10, 20), "external_id")),
      ("int8_dequant", "l2", ids(VectorQueries.quantizedTopK(spark, dir), "vec_id")),
      ("pq_flat", "l2", ids(VectorQueries.pqTopK(spark, dir), "vec_id")),
      ("opq_flat", "l2", ids(VectorQueries.opqTopK(spark, dir), "vec_id")),
      ("ivfpq_nprobe20", "l2", ids(ivfPqTopK(spark, dir), "external_id")),
      ("ivfpq_residual_nprobe20", "l2", ids(ivfPqResidualTopK(spark, dir), "external_id")),
      ("ivfsq8_nprobe20", "l2", ids(ivfSqTopK(spark, dir), "external_id")),
      ("ivfpq_refine4_nprobe20", "l2", ids(ivfPqRefineTopK(spark, dir), "external_id")),
      ("pca16_rerank", "l2", ids(VectorQueries.pcaTopK(spark, dir), "vec_id")),
      ("lsh_multiprobe", "cosine", ids(lshAnnTopK(spark, dir), "vec_id")))
    val vals = OracleGen.lits(methods.map { case (m, met, xs) =>
      s"(${OracleGen.str(m)},${OracleGen.str(met)},[${xs.mkString(",")}])"
    })
    s"""WITH m(method, metric, ids) AS (VALUES $vals),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |l2 AS (
       |  SELECT e.vec_id FROM embeddings e CROSS JOIN q
       |  ORDER BY ${l2Sql("e.embedding", "q.qe")}, e.vec_id LIMIT 10),
       |cs AS (
       |  SELECT e.vec_id,
       |    ${dotSql("e.embedding", "q.qe")} AS dp,
       |    ${normSql("e.embedding")} AS na,
       |    ${normSql("q.qe")} AS nb
       |  FROM embeddings e CROSS JOIN q),
       |cos AS (
       |  SELECT vec_id FROM cs
       |  ORDER BY (CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dp / (na * nb) END) DESC,
       |    vec_id LIMIT 10),
       |ref AS (
       |  SELECT 'l2' AS metric, list(vec_id) AS refids FROM l2
       |  UNION ALL
       |  SELECT 'cosine' AS metric, list(vec_id) AS refids FROM cos)
       |SELECT m.method, m.metric,
       |  round(CAST(len(list_intersect(m.ids, r.refids)) AS DOUBLE) / 10 * 10000) / 10000
       |    AS recall_at_10
       |FROM m JOIN ref r ON r.metric = m.metric
       |ORDER BY m.method""".stripMargin
  }

  /** Batch IVF-PQ over the first 8 embeddings — one pruned coded scan
    * for the whole query set. Rows-only; per-query equivalence with the
    * single-query path is asserted in IvfPqSpec.
    */
  def ivfPqBatch(spark: SparkSession, dir: String): DataFrame = {
    val idx = index(spark, dir)
    val model = VectorQueries.pqModel(spark, dir)
    graft.operators.IvfPq.searchBatch(spark, idx, model,
      pqCodesPath(spark, dir), queryFixtures(spark, dir),
      k0 = 10, nProbe0 = 20)
  }

  /** IVF-PQ default-probe oracle: probed cells' codes + the query's ADC
    * LUT inlined; DuckDB recomputes the LUT fold and top-k
    * ([[OracleGen.adcTopKSql]]).
    */
  private def ivfPqTopKOracle(spark: SparkSession, dir: String): String = {
    val idx = index(spark, dir)
    val q = queryVec(spark, dir, 0L)
    val model = VectorQueries.pqModel(spark, dir)
    val (probes, _) = Ivf.probeSelection(idx, q, math.min(20, idx.config.maxNProbe))
    val codes = graft.Tables.loadArtifact(spark, pqCodesPath(spark, dir))
      .where(col("centroid_id").isin(probes: _*))
      .select("vec_id", "pq_code").collect()
      .map(r => (r.getLong(0), r.getSeq[Byte](1)))
    OracleGen.adcTopKSql(codes.toSeq, graft.operators.Pq.lutSeq(q, model),
      k = 10, idAlias = "external_id")
  }

  /** IVF-SQ8 default-probe oracle: probed cells' (scale, int8 codes)
    * inlined; DuckDB re-runs dequantize (double multiply, float store)
    * and squared-L2 against the real query embedding.
    */
  private def ivfSqTopKOracle(spark: SparkSession, dir: String): String = {
    val idx = index(spark, dir)
    val q = queryVec(spark, dir, 0L)
    val (probes, _) = Ivf.probeSelection(idx, q, math.min(20, idx.config.maxNProbe))
    val rows = graft.Tables.loadArtifact(spark, sqCodesPath(spark, dir))
      .where(col("centroid_id").isin(probes: _*))
      .select("vec_id", "q_scale", "q_emb").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Byte](2)))
      .sortBy(_._1)
    val vals = OracleGen.lits(rows.toSeq.map { case (id, s, c) =>
      s"($id,${OracleGen.dbl(s)},${OracleGen.byteList(c)})"
    })
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |codes(vec_id, scale, qv) AS (VALUES $vals),
       |d AS (
       |  SELECT c.vec_id,
       |    list_reduce(list_transform(list_zip(c.qv, q.qe),
       |      p -> (CAST(CAST(p[1] * c.scale AS FLOAT) AS DOUBLE) - CAST(p[2] AS DOUBLE))
       |         * (CAST(CAST(p[1] * c.scale AS FLOAT) AS DOUBLE) - CAST(p[2] AS DOUBLE))),
       |      (a, b) -> a + b) AS distance
       |  FROM codes c CROSS JOIN q)
       |SELECT vec_id AS external_id, distance
       |FROM d ORDER BY distance, vec_id LIMIT 10""".stripMargin
  }

  /** Residual IVF-PQ oracle: the LUT varies per probed centroid (it is
    * built from the query's own residual q − centroid_c), so the
    * VALUES table carries one LUT per probed cell and the fold joins
    * on centroid_id — the literal twin of searchResidual's broadcast
    * lutDf.
    */
  private def ivfPqResidualOracle(spark: SparkSession, dir: String): String = {
    val idx = index(spark, dir)
    val q = queryVec(spark, dir, 0L)
    val (model, path) = residualModelAndCodes(spark, dir)
    val (probes, _) = Ivf.probeSelection(idx, q, math.min(20, idx.config.maxNProbe))
    val lutVals = OracleGen.lits(probes.toSeq.map { c =>
      val cent = idx.centroids(c)
      val qr = Array.tabulate(q.length)(i => q(i) - cent(i))
      s"($c,${OracleGen.dblListList(graft.operators.Pq.lutSeq(qr, model))})"
    })
    val codes = spark.read.parquet(path)
      .where(col("centroid_id").isin(probes: _*))
      .select("vec_id", "centroid_id", "pq_code").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Byte](2)))
      .sortBy(_._1)
    val codeVals = OracleGen.lits(codes.toSeq.map { case (v, c, cd) =>
      s"($v,$c,${OracleGen.byteList(cd)})"
    })
    s"""WITH lut(centroid_id, l) AS (VALUES $lutVals),
       |codes(vec_id, centroid_id, code) AS (VALUES $codeVals),
       |d AS (
       |  SELECT c.vec_id, ${adcSql("c.code", "l.l")} AS distance
       |  FROM codes c JOIN lut l ON l.centroid_id = c.centroid_id)
       |SELECT vec_id AS external_id, distance
       |FROM d ORDER BY distance, vec_id LIMIT 10""".stripMargin
  }

  /** Batch IVF-PQ oracle: per-query LUTs + per-query probe pairs +
    * probed cells' codes as VALUES; DuckDB recomputes the per-query
    * ADC ranking independently.
    */
  private def ivfPqBatchOracle(spark: SparkSession, dir: String): String = {
    val idx = index(spark, dir)
    val model = VectorQueries.pqModel(spark, dir)
    val nProbe = math.min(20, idx.config.maxNProbe)
    val qs = queryFixtures(spark, dir)
    val probePairs = qs.flatMap { case (qid, q) =>
      Ivf.probeSelection(idx, q, nProbe)._1.map(c => (qid, c))
    }.sorted
    val cells = probePairs.map(_._2).distinct
    val codes = graft.Tables.loadArtifact(spark, pqCodesPath(spark, dir))
      .where(col("centroid_id").isin(cells.toSeq: _*))
      .select("vec_id", "centroid_id", "pq_code").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Byte](2)))
      .sortBy(_._1)
    val lutVals = OracleGen.lits(qs.toSeq.map { case (qid, q) =>
      s"($qid,${OracleGen.dblListList(graft.operators.Pq.lutSeq(q, model))})"
    })
    val probeVals = OracleGen.lits(probePairs.toSeq.map { case (qid, c) => s"($qid,$c)" })
    val codeVals = OracleGen.lits(codes.toSeq.map { case (v, c, cd) =>
      s"($v,$c,${OracleGen.byteList(cd)})"
    })
    s"""WITH lut(query_id, l) AS (VALUES $lutVals),
       |probe(query_id, centroid_id) AS (VALUES $probeVals),
       |codes(vec_id, centroid_id, code) AS (VALUES $codeVals),
       |d AS (
       |  SELECT p.query_id, c.vec_id, ${adcSql("c.code", "l.l")} AS distance
       |  FROM probe p
       |  JOIN codes c ON c.centroid_id = p.centroid_id
       |  JOIN lut l ON l.query_id = p.query_id),
       |r AS (SELECT query_id, vec_id, distance,
       |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY distance, vec_id) AS rank
       |      FROM d)
       |SELECT query_id, rank, vec_id AS external_id, distance
       |FROM r WHERE rank <= 10""".stripMargin
  }

  /** Refined-search oracle: the ADC shortlist (refine·k = 40 ids over
    * the probed cells' codes) feeds an EXACT re-rank over the real
    * embeddings table — DuckDB reproduces both stages, so the compare
    * covers the shortlist boundary and the float math.
    */
  private def ivfPqRefineOracle(spark: SparkSession, dir: String): String = {
    val idx = index(spark, dir)
    val q = queryVec(spark, dir, 0L)
    val model = VectorQueries.pqModel(spark, dir)
    val (probes, _) = Ivf.probeSelection(idx, q, math.min(20, idx.config.maxNProbe))
    val codes = graft.Tables.loadArtifact(spark, pqCodesPath(spark, dir))
      .where(col("centroid_id").isin(probes: _*))
      .select("vec_id", "pq_code").collect()
      .map(r => (r.getLong(0), r.getSeq[Byte](1)))
      .sortBy(_._1)
    val codeVals = OracleGen.lits(codes.toSeq.map { case (v, cd) =>
      s"($v,${OracleGen.byteList(cd)})"
    })
    s"""WITH lut AS (SELECT ${OracleGen.dblListList(graft.operators.Pq.lutSeq(q, model))} AS l),
       |codes(vec_id, code) AS (VALUES $codeVals),
       |adc AS (
       |  SELECT c.vec_id, ${adcSql("c.code", "l.l")} AS adist
       |  FROM codes c CROSS JOIN lut l),
       |short AS (SELECT vec_id FROM adc ORDER BY adist, vec_id LIMIT 40),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
       |SELECT e.vec_id AS external_id,
       |  ${l2Sql("e.embedding", "q.qe")} AS distance
       |FROM embeddings e JOIN short s ON s.vec_id = e.vec_id CROSS JOIN q
       |ORDER BY distance, e.vec_id LIMIT 10""".stripMargin
  }

  /** LSH oracle: the multi-probed buckets' candidate ids are inlined
    * (signatures are seed-42 deterministic); DuckDB recomputes cosine
    * over the real embeddings restricted to them and re-ranks.
    */
  private def lshAnnTopKOracle(spark: SparkSession, dir: String): String = {
    import graft.operators.LshAnn
    val emb = Tables.embeddings(spark, dir)
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val nBits = LshAnn.suggestBits(emb.count())
    val planes = LshAnn.hyperplanes(dim, nBits, 42L)
    val q = queryVec(spark, dir, 0L)
    val probes = LshAnn.queryProbes(planes, q, nProbeBits = nBits)
    val ids = LshAnn.bucketed(emb, "vec_id", "embedding", planes)
      .where(col("bucket").isin(probes: _*))
      .select("vec_id").collect().map(_.getLong(0)).sorted
    require(ids.nonEmpty, "lsh oracle: empty candidate set")
    s"""WITH q AS (SELECT ${OracleGen.dblList(q.map(_.toDouble).toSeq)} AS qe),
       |p AS (
       |  SELECT e.vec_id,
       |    ${dotSql("e.embedding", "q.qe")} AS dp,
       |    ${normSql("e.embedding")} AS na,
       |    ${normSql("q.qe")} AS nb
       |  FROM embeddings e CROSS JOIN q
       |  WHERE e.vec_id IN (${OracleGen.lits(ids.toIndexedSeq.map(_.toString))}))
       |SELECT vec_id,
       |  CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dp / (na * nb) END AS cos_sim
       |FROM p ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin
  }

  /** Recall-sweep oracle: DuckDB recomputes the WHOLE evaluation —
    * ground truth, per-(query, n_probe) pruned candidate ranking, and
    * the recall fractions. Probe sets are inlined PER SETTING through
    * the same `Ivf.probeSelection` the engine routes with —
    * hierarchical routing does not produce prefix-nested sets across
    * n_probe values, so a rank-cutoff reconstruction would diverge
    * from the engine there. The ground truth mirrors the engine's
    * exactly: the GT probe set (min(maxNProbe, k) routed cells) rides
    * in as sentinel n_probe = -1 rows and DuckDB ranks only within
    * those cells' LIVE rows (the assign join) — a binding maxNProbe
    * cap or tombstones produce the same clamped GT on both sides.
    * Only query vectors, probe sets, and the cell assignment are
    * literals; all distance math runs independently.
    */
  private def recallSweepOracle(spark: SparkSession, dir: String): String = {
    val idx = index(spark, dir)
    val qs = graft.operators.RecallEval.perturbedQueries(
      Tables.embeddings(spark, dir)
        .where(col("vec_id") < 50).select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)),
      scale = 0.5f)
    val nq = qs.length
    val qVals = OracleGen.lits(qs.sortBy(_._1).toSeq.map { case (qid, q) =>
      s"($qid,${OracleGen.dblList(q.map(_.toDouble).toSeq)})"
    })
    // n_probe = -1 carries the engine's clamped GT probe set (the
    // recallsOneScan GtSetting convention)
    val gtProbe = math.min(idx.config.maxNProbe, idx.k)
    val sweepNps = Seq(1, 4, 16, 64)
    val probeVals = OracleGen.lits(qs.sortBy(_._1).toSeq.flatMap { case (qid, q) =>
      (sweepNps.map(np => np -> math.min(np, idx.config.maxNProbe)) :+
          (-1 -> gtProbe)).flatMap { case (label, np) =>
        Ivf.probeSelection(idx, q, np)._1.map(c => s"($qid,$label,$c)")
      }
    })
    val assign = Ivf.liveVectors(spark, idx)
      .select("vec_id", "centroid_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted
    val assignVals = OracleGen.lits(assign.toSeq.map { case (v, c) => s"($v,$c)" })
    s"""WITH qs(query_id, qe) AS (VALUES $qVals),
       |probe(query_id, n_probe, centroid_id) AS (VALUES $probeVals),
       |assign(vec_id, centroid_id) AS (VALUES $assignVals),
       |gt AS (
       |  SELECT query_id, vec_id AS gt_id FROM (
       |    SELECT p.query_id, a.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
       |        ${l2Sql("e.embedding", "q.qe")}, a.vec_id) AS rn
       |    FROM probe p
       |    JOIN assign a ON a.centroid_id = p.centroid_id
       |    JOIN embeddings e ON e.vec_id = a.vec_id
       |    JOIN qs q ON q.query_id = p.query_id
       |    WHERE p.n_probe = -1)
       |  WHERE rn = 1),
       |cand AS (
       |  SELECT p.n_probe, p.query_id, a.vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY p.n_probe, p.query_id ORDER BY
       |      ${l2Sql("e.embedding", "q.qe")}, a.vec_id) AS rn
       |  FROM probe p
       |  JOIN assign a ON a.centroid_id = p.centroid_id
       |  JOIN embeddings e ON e.vec_id = a.vec_id
       |  JOIN qs q ON q.query_id = p.query_id
       |  WHERE p.n_probe <> -1),
       |hits AS (
       |  SELECT c.n_probe, c.query_id,
       |    max(CASE WHEN c.vec_id = g.gt_id AND c.rn <= 1 THEN 1 ELSE 0 END) AS h1,
       |    max(CASE WHEN c.vec_id = g.gt_id AND c.rn <= 10 THEN 1 ELSE 0 END) AS h10,
       |    max(CASE WHEN c.vec_id = g.gt_id AND c.rn <= 100 THEN 1 ELSE 0 END) AS h100
       |  FROM cand c JOIN gt g ON g.query_id = c.query_id
       |  GROUP BY 1, 2)
       |SELECT n_probe,
       |  round(CAST(sum(h1) AS DOUBLE) / $nq * 10000) / 10000 AS recall_at_1,
       |  round(CAST(sum(h10) AS DOUBLE) / $nq * 10000) / 10000 AS recall_at_10,
       |  round(CAST(sum(h100) AS DOUBLE) / $nq * 10000) / 10000 AS recall_at_100
       |FROM hits GROUP BY n_probe ORDER BY n_probe""".stripMargin
  }

  def defs: Map[String, QueryDef] = Map(
    "ann_quality_summary" -> QueryDef(annQualitySummary,
      OracleGen.sql("ann_quality_summary")(annQualitySummaryOracle),
      bench = false),
    "ann_ivfpq_topk" -> QueryDef(ivfPqTopK,
      OracleGen.sql("ann_ivfpq_topk")(ivfPqTopKOracle)),
    "ann_ivfpq_residual_topk" -> QueryDef(ivfPqResidualTopK,
      OracleGen.sql("ann_ivfpq_residual_topk")(ivfPqResidualOracle)),
    "ann_ivfsq_topk" -> QueryDef(ivfSqTopK,
      OracleGen.sql("ann_ivfsq_topk")(ivfSqTopKOracle)),
    "ann_pq_refine_topk" -> QueryDef(ivfPqRefineTopK,
      OracleGen.sql("ann_pq_refine_topk")(ivfPqRefineOracle)),
    "ann_ivfpq_batch" -> QueryDef(ivfPqBatch,
      OracleGen.sql("ann_ivfpq_batch")(ivfPqBatchOracle)),
    "ann_lsh_topk" -> QueryDef(lshAnnTopK,
      OracleGen.sql("ann_lsh_topk")(lshAnnTopKOracle)),
    "recall_sweep" -> QueryDef(recallSweep,
      OracleGen.sql("recall_sweep")(recallSweepOracle)),
    "ivf_search_probe_all" -> QueryDef(searchProbeAll, Some(searchProbeAllSql)),
    // bench = false like ann_quality_summary: a per-call build + delete
    // + compact lifecycle is a correctness surface whose components
    // (ivf_build, ivf_search_*, the compact family) are benched
    // individually — including it would shift the headline t1/t2 series
    // by a constant ~2.6 s of index-build overhead, not serving cost
    "ivf_search_deleted" -> QueryDef(searchDeleted, Some(searchDeletedSql),
      bench = false),
    "ivf_search_custom_id" -> QueryDef(searchCustomId, Some(searchCustomIdSql),
      bench = false),
    "ivf_range_search" -> QueryDef(rangeSearchAll, Some(rangeSearchAllSql)),
    "ivf_search_filtered" -> QueryDef(searchFilteredAll, Some(searchFilteredAllSql)),
    "ann_join_topk" -> QueryDef(annJoinTopK, Some(annJoinTopKSql)),
    "ann_hard_negatives" -> QueryDef(hardNegatives, Some(hardNegativesSql)),
    "knn_label_predict" -> QueryDef(knnLabelPredict, Some(knnLabelPredictSql)),
    "ivf_search_default" -> QueryDef(searchDefault,
      OracleGen.sql("ivf_search_default")(searchDefaultOracle)),
    "ivf_search_batch_all" -> QueryDef(searchBatchProbeAll, Some(searchBatchProbeAllSql)),
    "ivf_search_batch_default" -> QueryDef(searchBatchDefault,
      OracleGen.sql("ivf_search_batch_default")(searchBatchDefaultOracle)),
    "ivf_stats" -> QueryDef(stats,
      OracleGen.sql("ivf_stats")(statsOracle))
  )
}
