package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.Vec
import graft.queries.OracleGen.{dotSql, l2Sql, normSql}

/** Exact (brute-force) vector-search operators over `embeddings.parquet`.
  *
  * These reproduce the reference's query surface without the IVF index:
  * J6/J7 + T2 in SURVEY.md §2 — squared-L2 distance, ascending, top-k,
  * ties broken by id (`/root/reference/src/ivf_index.rs:252-266`; the
  * reference's tie order is unstable-sort-undefined, so we pin ids).
  *
  * Scale notes: the query side is a one-row broadcast; Catalyst plans
  * `TakeOrderedAndProject` for orderBy+limit (per-partition top-k heap +
  * driver merge — no global sort/shuffle of the 100 TB scan). The batch
  * variant broadcasts the whole (small) query set and does one scan of
  * the big table for all queries — scan cost amortized across queries.
  */
object VectorQueries {

  /** Exact top-k NN of the embedding of `vec_id = qid`. */
  def knnExact(spark: SparkSession, dir: String, qid: Long, k: Int): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.where(col("vec_id") === qid).select(col("embedding").as("qe"))
    emb.crossJoin(broadcast(q))
      .withColumn("distance", Vec.squaredL2(col("embedding"), col("qe")))
      .orderBy(col("distance"), col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("distance"))
  }

  private def knnExactSql(qid: Long, k: Int): String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $qid)
       |SELECT e.vec_id,
       |  ${l2Sql("e.embedding", "q.qe")} AS distance
       |FROM embeddings e CROSS JOIN q
       |ORDER BY distance, e.vec_id LIMIT $k""".stripMargin

  /** Batch exact kNN: every embedding with vec_id < nq is a query; top-k
    * per query via window rank — J7 in SURVEY.md §2.3.
    */
  def knnBatch(spark: SparkSession, dir: String, nq: Int, k: Int): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.where(col("vec_id") < nq)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    // per-query top-k via the bounded-state aggregate: the broadcast
    // cross-join fans out n·nq candidate rows, of which each map task
    // forwards ≤ k per query — the exchange carries k·nq·P rows, not
    // the fan-out (at 100 TB the window form would shuffle n·nq rows)
    val candidates = emb.crossJoin(broadcast(queries))
      .withColumn("distance", Vec.squaredL2(col("embedding"), col("qe")))
    graft.operators.TopNByKey
      .topN(candidates, Seq("query_id"), col("distance"), col("vec_id"), k)
      .select(col("query_id"), col("rk").as("rank"),
        col("id").as("vec_id"), col("ord").as("distance"))
  }

  private def knnBatchSql(nq: Int, k: Int): String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < $nq),
       |d AS (
       |  SELECT q.query_id, e.vec_id,
       |    ${l2Sql("e.embedding", "q.qe")} AS distance
       |  FROM embeddings e CROSS JOIN q),
       |r AS (SELECT query_id, vec_id, distance,
       |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY distance, vec_id) AS rank
       |      FROM d)
       |SELECT query_id, rank, vec_id, distance FROM r WHERE rank <= $k""".stripMargin

  /** Top-k most similar pairs by cosine over a bounded id range — a
    * similarity self-join (small side broadcast).
    */
  def cosineTopPairs(spark: SparkSession, dir: String, nLeft: Int, k: Int): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val left = emb.where(col("vec_id") < nLeft)
      .select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    emb.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
      .crossJoin(broadcast(left))
      .where(col("a_id") < col("b_id"))
      .withColumn("cos_sim", Vec.cosine(col("a_emb"), col("b_emb")))
      .orderBy(col("cos_sim").desc, col("a_id"), col("b_id"))
      .limit(k)
      .select(col("a_id"), col("b_id"), col("cos_sim"))
  }

  private def cosineTopPairsSql(nLeft: Int, k: Int): String =
    s"""WITH l AS (SELECT vec_id AS a_id, embedding AS a_emb FROM embeddings WHERE vec_id < $nLeft),
       |p AS (
       |  SELECT l.a_id, r.vec_id AS b_id,
       |    ${dotSql("l.a_emb", "r.embedding")} AS dp,
       |    ${normSql("l.a_emb")} AS na,
       |    ${normSql("r.embedding")} AS nb
       |  FROM embeddings r CROSS JOIN l WHERE l.a_id < r.vec_id)
       |SELECT a_id, b_id,
       |  CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dp / (na * nb) END AS cos_sim
       |FROM p ORDER BY cos_sim DESC, a_id, b_id LIMIT $k""".stripMargin

  /** Distributed centroid update (A1): element-wise mean embedding per
    * true label, in exploded form so the DuckDB oracle checks it. The
    * array-native form of the same operator is the VecMean Aggregator
    * (compared against this in VecSpec). `+ 0.0` on both sides turns a
    * mean in (-0.00005, 0), which DuckDB's `round` gives as -0.0 and
    * Spark's as 0.0, into 0.0 for the bitwise compare.
    */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "val")))
      .groupBy(col("label"), col("pos"))
      .agg((round(avg(col("val").cast("double")), 4) + 0.0).as("mean_val"))
      .orderBy(col("label"), col("pos"))

  private val labelCentroidsSql =
    """SELECT label, pos - 1 AS pos, round(avg(CAST(val AS DOUBLE)), 4) + 0.0 AS mean_val
      |FROM (SELECT label, unnest(embedding) AS val,
      |             generate_subscripts(embedding, 1) AS pos
      |      FROM embeddings)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** L2 normalization: unit-norm embeddings (cosine becomes dot after
    * this). Norm via the native DotProduct expression; element division
    * in double. Output exploded for oracle comparison.
    */
  def normalizedSample(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .where(col("vec_id") < 20)
      .withColumn("norm", sqrt(Vec.norm2Sq(col("embedding"))))
      .select(col("vec_id"),
        posexplode(
          when(col("norm") > 0,
            transform(col("embedding"), x => x.cast("double") / col("norm")))
            .otherwise(transform(col("embedding"), x => lit(0.0))))
          .as(Seq("pos", "val")))
      .select(col("vec_id"), col("pos"), round(col("val"), 6).as("val"))
      .orderBy(col("vec_id"), col("pos"))

  private val normalizedSampleSql =
    s"""WITH n AS (
      |  SELECT vec_id, embedding,
      |    ${normSql("embedding")} AS nrm
      |  FROM embeddings WHERE vec_id < 20)
      |SELECT vec_id, pos - 1 AS pos,
      |  round(CASE WHEN nrm > 0 THEN CAST(val AS DOUBLE) / nrm ELSE 0.0 END, 6) AS val
      |FROM (SELECT vec_id, nrm, unnest(embedding) AS val,
      |             generate_subscripts(embedding, 1) AS pos
      |      FROM n)
      |ORDER BY vec_id, pos""".stripMargin

  /** Int8 quantization fidelity (operators.Quantize): per-vector scale,
    * exact integer L1 of the quantized codes (bitwise-stable checksum),
    * and max reconstruction error — all in-array folds, no cross-row
    * float aggregation, so the oracle compares bitwise.
    */
  def quantizeStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quantize
    Quantize.withInt8(
        Tables.embeddings(spark, dir).where(col("vec_id") < 50), "embedding")
      .withColumn("deq", Quantize.dequantize(col("q_emb"), col("q_scale")))
      .select(col("vec_id"),
        round(col("q_scale"), 6).as("scale6"),
        aggregate(col("q_emb"), lit(0L),
          (a, v) => a + abs(v.cast("long"))).as("q_l1"),
        round(aggregate(zip_with(col("embedding"), col("deq"),
            (x, d) => abs(x.cast("double") - d.cast("double"))),
          lit(0.0), (a, e) => greatest(a, e)), 6).as("max_err"))
      .orderBy(col("vec_id"))
  }

  private val quantizeStatsSql =
    """WITH s AS (
      |  SELECT vec_id, embedding,
      |    CAST(greatest(list_reduce(list_transform(embedding, x -> abs(x)),
      |           (a, b) -> greatest(a, b)),
      |         CAST(1.401298464324817e-45 AS FLOAT)) AS DOUBLE) / 127.0 AS scale
      |  FROM embeddings WHERE vec_id < 50),
      |q AS (
      |  SELECT vec_id, embedding, scale,
      |    list_transform(embedding,
      |      x -> CAST(round(CAST(x AS DOUBLE) / scale) AS TINYINT)) AS qv
      |  FROM s)
      |SELECT vec_id, round(scale, 6) AS scale6,
      |  list_reduce(list_transform(qv, v -> abs(CAST(v AS BIGINT))),
      |    (a, b) -> a + b) AS q_l1,
      |  round(list_reduce(list_transform(list_zip(embedding, qv),
      |    p -> abs(CAST(p[1] AS DOUBLE)
      |             - CAST(CAST(CAST(p[2] AS DOUBLE) * scale AS FLOAT) AS DOUBLE))),
      |    (a, b) -> greatest(a, b)), 6) AS max_err
      |FROM q ORDER BY vec_id""".stripMargin

  /** Top-10 ANN over int8-dequantized embeddings (the 4×-compressed
    * scan path). The whole quantize→dequantize→distance chain is
    * SQL-expressible (the same DuckDB forms quantizeStatsSql proves),
    * so this is a static full oracle; the overlap-vs-exact gate lives
    * in QuantizeSpec.
    */
  def quantizedTopK(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quantize
    val emb = Tables.embeddings(spark, dir)
    // query side: the one-row HOF chain (it defines the semantics the
    // fused expression must match, and one row costs nothing)
    val q = Quantize.withInt8(emb.where(col("vec_id") === 0L), "embedding")
      .withColumn("deq", Quantize.dequantize(col("q_emb"), col("q_scale")))
      .select(col("deq").as("qe"))
    // corpus side: fused roundTripL2 — one compiled pass per row
    // instead of three interpreted HOF passes (scale aggregate +
    // quantize/dequantize transforms); bitwise-identical by the
    // QuantizeSpec parity gate, so the DuckDB oracle is unchanged
    emb.crossJoin(broadcast(q))
      .withColumn("distance", Quantize.roundTripL2(col("embedding"), col("qe")))
      .orderBy(col("distance"), col("vec_id"))
      .limit(10)
      .select(col("vec_id"), col("distance"))
  }

  private val quantizedTopKSql =
    s"""WITH s AS (
      |  SELECT vec_id, embedding,
      |    CAST(greatest(list_reduce(list_transform(embedding, x -> abs(x)),
      |           (a, b) -> greatest(a, b)),
      |         CAST(1.401298464324817e-45 AS FLOAT)) AS DOUBLE) / 127.0 AS scale
      |  FROM embeddings),
      |deq AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(CAST(CAST(round(CAST(x AS DOUBLE) / scale) AS TINYINT) AS DOUBLE) * scale AS FLOAT)) AS dq
      |  FROM s),
      |q AS (SELECT dq AS qe FROM deq WHERE vec_id = 0)
      |SELECT d.vec_id,
      |  ${l2Sql("d.dq", "q.qe")} AS distance
      |FROM deq d CROSS JOIN q
      |ORDER BY distance, d.vec_id LIMIT 10""".stripMargin

  /** Top-10 ANN by PQ asymmetric distance (operators.Pq): codebooks
    * trained on the deterministic vec_id-hash pool, table encoded to
    * m=8 byte codes (32× vs float32), scan = LUT-fold per row inside
    * whole-stage codegen. Oracle-checked via [[OracleGen.adcTopKSql]]
    * (codes + LUT inlined, DuckDB recomputes the fold and top-k); the
    * recall-vs-exact gate lives in PqSpec.
    */
  private val pqModels = new Tables.DataKeyedMemo[graft.operators.Pq.Model]()

  /** Codebooks trained once per (JVM, sfDir) — training is the build
    * step (like `ivf_build`, timed separately in Bench); the query
    * measures encode + ADC scan.
    */
  def pqModel(spark: SparkSession, dir: String): graft.operators.Pq.Model =
    pqModels.get(dir) {
      val emb = Tables.embeddings(spark, dir)
      val dim = emb.select(col("embedding")).head().getSeq[Float](0).length
      graft.operators.Pq.train(emb, "embedding", dim, m = 8, ksub = 256,
        orderCol = Some("vec_id"))
    }

  def pqTopK(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Pq
    val emb = Tables.embeddings(spark, dir)
    val q = emb.where(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val model = pqModel(spark, dir)
    Pq.search(Pq.encode(emb, "embedding", model), "vec_id", "pq_code",
      model, q, 10)
  }

  private val opqModels = new Tables.DataKeyedMemo[
    (graft.operators.Opq.Rotation, graft.operators.Pq.Model)]()

  /** OPQ rotation + codebooks, trained once per (JVM, sfDir). */
  def opqModel(spark: SparkSession,
      dir: String): (graft.operators.Opq.Rotation, graft.operators.Pq.Model) =
    opqModels.get(dir) {
      val emb = Tables.embeddings(spark, dir)
      val dim = emb.select(col("embedding")).head().getSeq[Float](0).length
      val rot = graft.operators.Opq.fit(emb, "embedding", m = 8)
      val rotated = graft.operators.Opq.rotate(emb, "embedding", rot)
      val model = graft.operators.Pq.train(rotated, "opq_emb", dim,
        m = 8, ksub = 256, orderCol = Some("vec_id"))
      (rot, model)
    }

  /** Top-10 ANN by OPQ-rotated PQ ADC (operators.Opq): the rotation is
    * orthonormal so ADC over rotated codes estimates TRUE distances; at
    * equal code budget the rotated codebooks reconstruct 4-7% better on
    * this corpus (gate in OpqSpec). Rows-only; deterministic.
    */
  def opqTopK(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Opq, Pq}
    val emb = Tables.embeddings(spark, dir)
    val q = emb.where(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val (rot, model) = opqModel(spark, dir)
    val rotated = Opq.rotate(emb, "embedding", rot)
    Pq.search(Pq.encode(rotated, "opq_emb", model), "vec_id", "pq_code",
      model, Opq.rotateVec(q, rot), 10)
  }

  /** Top-16 PCA spectrum of the embedding table (operators.Pca):
    * eigenvalue, explained-variance fraction, cumulative fraction per
    * component. One tree-aggregated pass for the sufficient statistics;
    * driver-side Jacobi on the d×d covariance. Deterministic but not
    * SQL-expressible → rows-only; exactness gates live in PcaSpec.
    */
  def pcaStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val model = pcaModel(spark, dir)
    val fr = model.eigenvalues.map(_ / model.totalVariance)
    model.eigenvalues.indices.map { i =>
      (i, BigDecimal(model.eigenvalues(i)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(fr(i)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(fr.take(i + 1).sum).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF("component", "eigenvalue", "explained_frac", "cum_frac")
  }

  private val pcaModels = new Tables.DataKeyedMemo[graft.operators.Pca.Model]()

  /** PCA(16) model trained once per (JVM, sfDir) — one treeAggregate
    * pass; reused by the stats query and the two-stage ANN.
    */
  def pcaModel(spark: SparkSession, dir: String): graft.operators.Pca.Model =
    pcaModels.get(dir)(
      graft.operators.Pca.fit(Tables.embeddings(spark, dir), "embedding", 16))

  /** Two-stage ANN: candidate top-50 in the PCA(16) space (4× fewer
    * bytes per distance), exact re-rank of the candidates in the
    * original space — the classic reduce-then-refine pattern. At 100 TB
    * the candidate scan reads the narrow projected column; the refine
    * touches only 50 rows per query. Deterministic → rows-only; the
    * recall gate lives in PcaSpec.
    */
  def pcaTopK(spark: SparkSession, dir: String): DataFrame = {
    val model = pcaModel(spark, dir)
    val reduced = graft.operators.Pca.transform(
      Tables.embeddings(spark, dir), "embedding", model)
    val qRow = reduced.where(col("vec_id") === 0L)
      .select(col("pca_emb"), col("embedding")).head()
    val cands = reduced
      .withColumn("rd", Vec.squaredL2(col("pca_emb"),
        lit(qRow.getSeq[Float](0).toArray)))
      .orderBy(col("rd").asc_nulls_last, col("vec_id"))
      .limit(50)
    cands
      .withColumn("distance", Vec.squaredL2(col("embedding"),
        lit(qRow.getSeq[Float](1).toArray)))
      .orderBy(col("distance").asc_nulls_last, col("vec_id"))
      .limit(10)
      .select(col("vec_id"), col("distance"))
  }

  /** Flat-PQ ADC oracle material: every row's code (the scan is
    * unpruned) + the query-0 LUT. Verify-scale collect (see OracleGen).
    */
  private def pqTopKOracle(spark: SparkSession, dir: String): String = {
    import graft.operators.Pq
    val emb = Tables.embeddings(spark, dir)
    val q = emb.where(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val model = pqModel(spark, dir)
    val codes = Pq.encode(emb, "embedding", model)
      .select("vec_id", "pq_code").collect()
      .map(r => (r.getLong(0), r.getSeq[Byte](1)))
    OracleGen.adcTopKSql(codes.toSeq, Pq.lutSeq(q, model), 10, "vec_id")
  }

  /** OPQ oracle: same ADC form, codes from the rotated table and the
    * LUT from the rotated query — the rotation itself is exercised on
    * the Spark side and fixed into the literals.
    */
  private def opqTopKOracle(spark: SparkSession, dir: String): String = {
    import graft.operators.{Opq, Pq}
    val emb = Tables.embeddings(spark, dir)
    val q = emb.where(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val (rot, model) = opqModel(spark, dir)
    val codes = Pq.encode(Opq.rotate(emb, "embedding", rot), "opq_emb", model)
      .select("vec_id", "pq_code").collect()
      .map(r => (r.getLong(0), r.getSeq[Byte](1)))
    OracleGen.adcTopKSql(codes.toSeq, Pq.lutSeq(Opq.rotateVec(q, rot), model),
      10, "vec_id")
  }

  /** PCA reduce-then-refine oracle: the projection matrix (mean +
    * 16 components) is inlined and DuckDB re-runs BOTH stages — project
    * every embedding, take the top-50 shortlist in the reduced space,
    * exact-rerank in the original space — so the compare covers the
    * projection math and the shortlist boundary.
    */
  private def pcaTopKOracle(spark: SparkSession, dir: String): String = {
    val model = pcaModel(spark, dir)
    // the query's projection comes from the same transform kernel the
    // query path uses, so the literal cannot drift from the engine
    val qPca = graft.operators.Pca.transform(
        Tables.embeddings(spark, dir).where(col("vec_id") === 0L),
        "embedding", model)
      .select("pca_emb").head().getSeq[Float](0)
    val comps = OracleGen.dblListList(model.components.map(_.toSeq).toSeq)
    val mean = OracleGen.dblList(model.mean.toSeq)
    s"""WITH proj AS (
       |  SELECT vec_id, embedding,
       |    list_transform($comps, c ->
       |      CAST(list_reduce(list_transform(list_zip(embedding, c, $mean),
       |        p2 -> p2[2] * (CAST(p2[1] AS DOUBLE) - p2[3])),
       |        (a2, b2) -> a2 + b2) AS FLOAT)) AS y
       |  FROM embeddings),
       |cand AS (
       |  SELECT vec_id, embedding,
       |    ${l2Sql("y", OracleGen.dblList(qPca.map(_.toDouble)))} AS rd
       |  FROM proj ORDER BY rd, vec_id LIMIT 50),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
       |SELECT c.vec_id,
       |  ${l2Sql("c.embedding", "q.qe")} AS distance
       |FROM cand c CROSS JOIN q
       |ORDER BY distance, c.vec_id LIMIT 10""".stripMargin
  }

  /** PCA spectrum oracle: the trained basis (mean + components) is
    * inlined as literals, but every OUTPUT number is independently
    * recomputed by DuckDB FROM THE PARQUET — eigenvalue_i as the
    * empirical variance of the data projected on component i
    * (avg((v_i·(x−μ))²); for an exact eigenvector of the empirical
    * covariance this IS λ_i, so the compare pins Jacobi's eigenvalues
    * to the data, not to an echo of themselves), total variance as
    * avg‖x−μ‖² (= trace of the covariance = Σ all-d eigenvalues), and
    * the explained/cumulative fractions from those. A wrong eigenvector,
    * a mis-centered mean, or a Jacobi that stopped short all surface as
    * hash mismatches. Same verify-scale inlining contract as
    * [[pcaTopKOracle]]; row filter mirrors Pca.fit's
    * non-null + size==d statistics contract.
    */
  private def pcaStatsOracle(spark: SparkSession, dir: String): String = {
    val model = pcaModel(spark, dir)
    val comps = OracleGen.dblListList(model.components.map(_.toSeq).toSeq)
    val mean = OracleGen.dblList(model.mean.toSeq)
    s"""WITH xc AS (
       |  SELECT list_transform(list_zip(embedding, $mean),
       |    z -> CAST(z[1] AS DOUBLE) - z[2]) AS x
       |  FROM embeddings
       |  WHERE embedding IS NOT NULL AND len(embedding) = ${model.d}),
       |proj AS (
       |  SELECT t.i AS i,
       |    list_reduce(list_transform(list_zip(x.x, ($comps)[t.i]),
       |      p -> p[1] * p[2]), (a, b) -> a + b) AS pr
       |  FROM xc x CROSS JOIN generate_series(1, ${model.q}) t(i)),
       |lam AS (
       |  SELECT CAST(i - 1 AS INTEGER) AS component, avg(pr * pr) AS l
       |  FROM proj GROUP BY i),
       |tot AS (
       |  SELECT avg(list_reduce(list_transform(x, v -> v * v),
       |    (a, b) -> a + b)) AS t
       |  FROM xc)
       |SELECT component,
       |  round(l, 6) AS eigenvalue,
       |  round(l / t.t, 6) AS explained_frac,
       |  round(sum(l / t.t) OVER (ORDER BY component), 6) AS cum_frac
       |FROM lam CROSS JOIN tot t
       |ORDER BY component""".stripMargin
  }

  def defs: Map[String, QueryDef] = Map(
    "embedding_quantize_stats" -> QueryDef(quantizeStats, Some(quantizeStatsSql)),
    "ann_quantized_topk" -> QueryDef(quantizedTopK, Some(quantizedTopKSql)),
    "ann_pq_topk" -> QueryDef(pqTopK,
      OracleGen.sql("ann_pq_topk")(pqTopKOracle)),
    "ann_opq_topk" -> QueryDef(opqTopK,
      OracleGen.sql("ann_opq_topk")(opqTopKOracle)),
    "ann_pca_topk" -> QueryDef(pcaTopK,
      OracleGen.sql("ann_pca_topk")(pcaTopKOracle)),
    "embedding_pca_stats" -> QueryDef(pcaStats,
      OracleGen.sql("embedding_pca_stats")(pcaStatsOracle)),
    "vec_normalize" -> QueryDef(normalizedSample, Some(normalizedSampleSql)),
    "label_centroids" -> QueryDef(labelCentroids, Some(labelCentroidsSql)),
    "knn_exact" -> QueryDef(
      (s, d) => knnExact(s, d, qid = 0L, k = 10),
      Some(knnExactSql(0L, 10))),
    "knn_batch" -> QueryDef(
      (s, d) => knnBatch(s, d, nq = 8, k = 10),
      Some(knnBatchSql(8, 10))),
    "cosine_top_pairs" -> QueryDef(
      (s, d) => cosineTopPairs(s, d, nLeft = 16, k = 20),
      Some(cosineTopPairsSql(16, 20)))
  )
}
