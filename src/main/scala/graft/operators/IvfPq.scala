package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-PQ: the faiss `IndexIVFPQ` architecture on Spark — IVF partition
  * pruning over a PQ-coded dataset. The coded sibling of the IVF vectors
  * dataset keeps the same `shard_id` directory layout and `centroid_id`
  * row-group clustering, but stores m code bytes instead of d floats per
  * row, so a probe-pruned ADC scan reads `nProbe/k` of `m/(4d)` of the
  * raw bytes — at 100 TB of float32 embeddings with the default shapes
  * that is a few hundred GB actually scanned, per thousand queries,
  * fully parallel.
  *
  * Search composes the two operators as-is: `Ivf.prelude` (the checks
  * and clamps every IVF search shares, then routing on the driver
  * routing table) → directory/row-group pruned scan → `Pq.adc` LUT-fold
  * (pure codegen) → `TakeOrderedAndProject`.
  */
object IvfPq {

  /** Write the PQ-coded sibling dataset of an IVF index. One-time build
    * step; same salted-write parallelism contract as `Ivf.build`.
    *
    * Reads the LIVE view of the float dataset (tombstones filtered), so
    * a sibling rebuilt at any point in the delete lifecycle never
    * contains deleted rows — the lifecycle is order-insensitive, which
    * matters because deletes are often compliance-motivated and a
    * resurrected row is a silent violation.
    */
  def buildCodes(spark: SparkSession, ivf: Ivf.Index, model: Pq.Model,
      outPath: String): Unit =
    Ivf.writeSibling(spark, ivf, outPath, Seq("pq_code"))(
      Pq.encode(_, ivf.embCol, model))

  /** Residual vector x − centroid[centroid_id] as a column — the
    * quantity faiss IndexIVFPQ actually encodes. Residuals have much
    * smaller norm than raw vectors (the coarse quantizer already
    * explains the cluster mean), so the same PQ budget spends its
    * codebook resolution on a tighter distribution → lower
    * reconstruction error at identical code size. One-time build-side
    * UDF over the broadcast routing table, same contract as Pq.encode
    * (null/ragged in → null out).
    */
  private def residualCol(spark: SparkSession,
      centroids: Array[Array[Float]]): (Column, Column) => Column = {
    val bc = spark.sparkContext.broadcast(centroids)
    val f = udf { (emb: Seq[Float], cid: Int) =>
      val c = bc.value(cid)
      if (emb == null || emb.length != c.length) null
      else Seq.tabulate(c.length)(i => emb(i) - c(i))
    }
    (emb, cid) => f(emb, cid)
  }

  /** Train PQ codebooks on residuals (faiss IndexIVFPQ training).
    * Trains on the live view — codebooks should not spend resolution on
    * deleted rows' residual distribution.
    */
  def trainResidual(spark: SparkSession, ivf: Ivf.Index, m: Int = 8,
      ksub: Int = 256, iters: Int = 10, seed: Long = 42L): Pq.Model = {
    val dim = ivf.centroids(0).length
    val res = residualCol(spark, ivf.centroids)
    val df = Ivf.liveVectors(spark, ivf)
      .withColumn("residual", res(col(ivf.embCol), col("centroid_id")))
    Pq.train(df, "residual", dim, m, ksub, iters, seed,
      orderCol = Some(ivf.idCol))
  }

  /** Write the residual-coded sibling dataset (layout identical to
    * [[buildCodes]] — live view, tombstones never encoded; only the
    * encoded quantity differs).
    */
  def buildResidualCodes(spark: SparkSession, ivf: Ivf.Index,
      model: Pq.Model, outPath: String): Unit = {
    val res = residualCol(spark, ivf.centroids)
    Ivf.writeSibling(spark, ivf, outPath, Seq("pq_code")) { live =>
      Pq.encode(
        live.withColumn("residual", res(col(ivf.embCol), col("centroid_id"))),
        "residual", model)
    }
  }

  /** Top-k over the residual-coded dataset. The ADC table now depends
    * on the probed centroid (lut_c is built from the query's OWN
    * residual q − centroid_c), so instead of one literal LUT there is a
    * broadcast (centroid_id, lut) table of nProbe rows joined into the
    * pruned scan — the scan-side math is the same codegen fold.
    */
  def searchResidual(spark: SparkSession, ivf: Ivf.Index, model: Pq.Model,
      codesPath: String, query: Array[Float], k0: Int,
      nProbe0: Int): DataFrame = {
    import spark.implicits._
    val k = Ivf.clampK(ivf, k0)
    val p = Ivf.prelude(ivf, query, nProbe0)
    val lutDf = p.probes.map { c =>
      (c, Pq.lutSeq(residual(query, ivf.centroids(c)), model))
    }.toDF("centroid_id", "lut")
    // centroid_id must ALSO be a scan predicate (not just the join key):
    // the join discards non-probed rows after decode, the pushed filter
    // skips their row groups at the reader — see Ivf.probePrunedScan
    // for the chunking/probe-all contract
    Ivf.rankTopK(p.scan(spark, codesPath)
      .join(broadcast(lutDf), Seq("centroid_id"))
      .withColumn("distance", Pq.adc(col("pq_code"), col("lut"))), p.id, k)
  }

  /** The query's residual against one probed centroid. */
  private def residual(q: Array[Float], cent: Array[Float]): Array[Float] =
    Array.tabulate(q.length)(i => q(i) - cent(i))

  /** Refined search (faiss `IndexRefineFlat`): take a shortlist of
    * `refine × k` candidates by (cheap) ADC over the coded dataset,
    * then re-rank ONLY the shortlist by exact float distance. The
    * shortlist is k-sized — it broadcasts — so the float vectors of
    * just those rows are fetched via a broadcast semi-join against the
    * float dataset: at 100 TB the expensive exact math touches
    * refine·k rows, not the corpus, and the coded scan still prunes by
    * probes. Recall approaches exact as `refine` grows (gated in
    * IvfPqSpec); ordering ties resolve by id like every other path.
    * The query is checked and routed once; both scans use that probe.
    */
  def searchRefine(spark: SparkSession, ivf: Ivf.Index, model: Pq.Model,
      codesPath: String, query: Array[Float], k0: Int, nProbe0: Int,
      refine: Int = 4): DataFrame = {
    require(refine >= 1, s"refine must be >= 1: $refine")
    val k = Ivf.clampK(ivf, k0)
    val p = Ivf.prelude(ivf, query, nProbe0)
    val shortlist = adcTopK(spark, model, codesPath, query,
      Ivf.clampK(ivf, math.min(k.toLong * refine, Int.MaxValue).toInt), p)
      .select(col("external_id").as(p.id))
    // the float fetch prunes by the SAME probed cells as the coded scan
    // (the shortlist can only contain rows from them), so the exact math
    // reads probed bytes ∩ shortlist — never the whole float dataset
    Ivf.rankTopK(
      Ivf.probePrunedScan(spark, Ivf.snapshot(spark, ivf).relation,
        p.probes, p.shards, ivf.k)
        .join(broadcast(shortlist), Seq(p.id), "left_semi")
        .withColumn("distance",
          graft.functions.Vec.squaredL2(col(ivf.embCol), lit(query))),
      p.id, k)
  }

  /** Batch ANN over the coded dataset: ONE pruned scan serves the whole
    * query set (same amortization as `Ivf.searchBatch` — at 100 TB,
    * one-scan-per-query-set vs one-scan-per-query). Per-query ADC
    * lookup tables are computed driver-side and carried as an
    * `array<array<double>>` column on the broadcast query table, so the
    * scan-side distance stays the same codegen zip_with/aggregate fold.
    */
  def searchBatch(spark: SparkSession, ivf: Ivf.Index, model: Pq.Model,
      codesPath: String, queries: Array[(Long, Array[Float])], k0: Int,
      nProbe0: Int): DataFrame = {
    import spark.implicits._
    val k = Ivf.clampK(ivf, k0)
    val b = Ivf.batchPrelude(ivf, queries, nProbe0)
    val probeDf = queries.indices
      .flatMap(i => b.probes(i).map(c => (queries(i)._1, c)))
      .toDF("query_id", "centroid_id")
    // ONE shared LUT builder (Pq.lutSeq) — searchResidual and the
    // single-query lutFor use the same body, so LUT math cannot drift
    val lutDf = queries.toSeq
      .map { case (qid, q) => (qid, Pq.lutSeq(q, model)) }
      .toDF("query_id", "lut")
    // bounded-state per-query top-k: each map task emits ≤ k rows per
    // query before the exchange (TopNByKey). The union of probed cells
    // is a PUSHED scan predicate (row-group skip), same as every
    // sibling path — a shard-only filter would read every cell of every
    // probed shard (~sqrt(k) cells each) and discard the excess after
    // decode in the join
    val candidates = b.scan(spark, codesPath)
      .join(broadcast(probeDf), Seq("centroid_id"))
      .join(broadcast(lutDf), Seq("query_id"))
      .withColumn("distance", Pq.adc(col("pq_code"), col("lut")))
    TopNByKey.topN(candidates, Seq("query_id"), col("distance"), col(b.id), k)
      .select(col("query_id"), col("rk").as("rank"),
        col("id").as("external_id"), col("ord").as("distance"))
  }

  /** Top-k by ADC over the probe-pruned coded dataset. */
  def search(spark: SparkSession, ivf: Ivf.Index, model: Pq.Model,
      codesPath: String, query: Array[Float], k0: Int,
      nProbe0: Int): DataFrame =
    adcTopK(spark, model, codesPath, query, Ivf.clampK(ivf, k0),
      Ivf.prelude(ivf, query, nProbe0))

  /** [[search]] after its prelude: the ADC top-k over the probed cells
    * of the coded dataset — shared with [[searchRefine]]'s shortlist.
    */
  private def adcTopK(spark: SparkSession, model: Pq.Model,
      codesPath: String, query: Array[Float], k: Int,
      p: Ivf.Prelude): DataFrame =
    Ivf.rankTopK(p.scan(spark, codesPath)
      .withColumn("distance", Pq.adc(col("pq_code"), Pq.lutFor(query, model))),
      p.id, k)
}
