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
  * Search composes the two operators as-is: `Ivf.probeSelection` on the
  * driver routing table → directory/row-group pruned scan → `Pq.adc`
  * LUT-fold (pure codegen) → `TakeOrderedAndProject`.
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
      outPath: String, idCol: String = null,
      embCol: String = "embedding"): Unit = {
    // null default resolves to the id column the index records it was
    // built with (ADVICE r14: a literal "vec_id" default here failed a
    // custom-id index inside the encode) — same contract as every
    // Ivf maintenance/search entry point
    val id = Ivf.effectiveIdCol(ivf, idCol)
    // fingerprint BEFORE the encode reads the live view, registered
    // AFTER the write commits: a delete racing the build leaves the
    // registration stale (old fp), which clearTombstones reads as
    // "this sibling predates the newest tombstone" — the safe direction
    val fs = new org.apache.hadoop.fs.Path(ivf.vectorsPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fp = Ivf.tombstoneFp(fs, ivf)
    Ivf.writeVectors(
      Pq.encode(Ivf.liveVectors(spark, ivf, id), embCol, model)
        .select(col("shard_id"), col("centroid_id"), col(id),
          col("pq_code")),
      id, ivf.numShards, outPath, "overwrite")
    Ivf.registerSibling(spark, ivf, outPath, fp)
  }

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
      ksub: Int = 256, iters: Int = 10, seed: Long = 42L,
      idCol: String = null, embCol: String = "embedding"): Pq.Model = {
    val id = Ivf.effectiveIdCol(ivf, idCol) // see buildCodes
    val dim = ivf.centroids(0).length
    val res = residualCol(spark, ivf.centroids)
    val df = Ivf.liveVectors(spark, ivf, id)
      .withColumn("residual", res(col(embCol), col("centroid_id")))
    Pq.train(df, "residual", dim, m, ksub, iters, seed, orderCol = Some(id))
  }

  /** Write the residual-coded sibling dataset (layout identical to
    * [[buildCodes]] — live view, tombstones never encoded; only the
    * encoded quantity differs).
    */
  def buildResidualCodes(spark: SparkSession, ivf: Ivf.Index,
      model: Pq.Model, outPath: String, idCol: String = null,
      embCol: String = "embedding"): Unit = {
    val id = Ivf.effectiveIdCol(ivf, idCol) // see buildCodes
    val fs = new org.apache.hadoop.fs.Path(ivf.vectorsPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fp = Ivf.tombstoneFp(fs, ivf) // see buildCodes — capture-then-write
    val res = residualCol(spark, ivf.centroids)
    Ivf.writeVectors(
      Pq.encode(
        Ivf.liveVectors(spark, ivf, id)
          .withColumn("residual", res(col(embCol), col("centroid_id"))),
        "residual", model)
        .select(col("shard_id"), col("centroid_id"), col(id),
          col("pq_code")),
      id, ivf.numShards, outPath, "overwrite")
    Ivf.registerSibling(spark, ivf, outPath, fp)
  }

  /** Top-k over the residual-coded dataset. The ADC table now depends
    * on the probed centroid (lut_c is built from the query's OWN
    * residual q − centroid_c), so instead of one literal LUT there is a
    * broadcast (centroid_id, lut) table of nProbe rows joined into the
    * pruned scan — the scan-side math is the same codegen fold.
    */
  def searchResidual(spark: SparkSession, ivf: Ivf.Index, model: Pq.Model,
      codesPath: String, query: Array[Float], k0: Int, nProbe0: Int,
      idCol: String = null): DataFrame = {
    import spark.implicits._
    val id = Ivf.effectiveIdCol(ivf, idCol) // see buildCodes
    val k = math.min(k0, ivf.config.maxK)
    val nProbe = math.min(nProbe0, ivf.config.maxNProbe)
    require(k > 0, "k must be > 0")
    require(nProbe > 0, "n_probe must be > 0")
    require(query.length == model.dim,
      s"query dim ${query.length} != model dim ${model.dim}")
    val (probes, shards) = Ivf.probeSelection(ivf, query, nProbe)
    val lutDf = probes.map { c =>
      val cent = ivf.centroids(c)
      val qr = Array.tabulate(query.length)(i => query(i) - cent(i))
      (c, Pq.lutSeq(qr, model))
    }.toDF("centroid_id", "lut")
    // centroid_id must ALSO be a scan predicate (not just the join key):
    // the join discards non-probed rows after decode, the pushed filter
    // skips their row groups at the reader — see Ivf.probePrunedScan
    // for the chunking/probe-all contract
    Ivf.liveRows(spark, ivf,
        Ivf.probePrunedScan(spark, codesPath, probes, shards, ivf.k),
        id)
      .join(broadcast(lutDf), Seq("centroid_id"))
      .withColumn("distance", Pq.adc(col("pq_code"), col("lut")))
      .orderBy(col("distance").asc_nulls_last, col(id))
      .limit(k)
      .select(col(id).as("external_id"), col("distance"))
  }

  /** Batch residual ANN: one pruned scan for the whole query set; the
    * broadcast probe table carries a per-(query, probed-centroid) LUT.
    */
  def searchBatchResidual(spark: SparkSession, ivf: Ivf.Index,
      model: Pq.Model, codesPath: String,
      queries: Array[(Long, Array[Float])], k0: Int, nProbe0: Int,
      idCol: String = null): DataFrame = {
    import spark.implicits._
    val id = Ivf.effectiveIdCol(ivf, idCol) // see buildCodes
    val k = math.min(k0, ivf.config.maxK)
    val nProbe = math.min(nProbe0, ivf.config.maxNProbe)
    require(k > 0, "k must be > 0")
    require(nProbe > 0, "n_probe must be > 0")
    Ivf.requireDistinctQueryIds(queries)
    val probeLut = queries.toSeq.flatMap { case (qid, q) =>
      require(q.length == model.dim,
        s"query dim ${q.length} != model dim ${model.dim}")
      Ivf.probeSelection(ivf, q, nProbe)._1.map { c =>
        val cent = ivf.centroids(c)
        val qr = Array.tabulate(q.length)(i => q(i) - cent(i))
        (qid, c, Pq.lutSeq(qr, model))
      }
    }
    val shards = probeLut.map(p => ivf.centroidToShard(p._2)).distinct
    val probedCentroids = probeLut.map(_._2).distinct
    val lutDf = probeLut.toDF("query_id", "centroid_id", "lut")
    // same contract as the single-query path: the union of probed cells
    // is a pushed scan predicate, the join only fans rows out per query.
    // Per-query top-k is the bounded-state aggregate (TopNByKey), so
    // each map task emits ≤ k rows per query before the exchange.
    val candidates = Ivf.liveRows(spark, ivf,
        Ivf.probePrunedScan(spark, codesPath, probedCentroids.toSeq,
          shards.toSeq, ivf.k),
        id)
      .join(broadcast(lutDf), Seq("centroid_id"))
      .withColumn("distance", Pq.adc(col("pq_code"), col("lut")))
    TopNByKey.topN(candidates, Seq("query_id"), col("distance"), col(id), k)
      .select(col("query_id"), col("rk").as("rank"),
        col("id").as("external_id"), col("ord").as("distance"))
  }

  /** Refined search (faiss `IndexRefineFlat`): take a shortlist of
    * `refine × k` candidates by (cheap) ADC over the coded dataset,
    * then re-rank ONLY the shortlist by exact float distance. The
    * shortlist is k-sized — it broadcasts — so the float vectors of
    * just those rows are fetched via a broadcast semi-join against the
    * float dataset: at 100 TB the expensive exact math touches
    * refine·k rows, not the corpus, and the coded scan still prunes by
    * probes. Recall approaches exact as `refine` grows (gated in
    * IvfPqSpec); ordering ties resolve by id like every other path.
    */
  def searchRefine(spark: SparkSession, ivf: Ivf.Index, model: Pq.Model,
      codesPath: String, query: Array[Float], k0: Int, nProbe0: Int,
      refine: Int = 4, idCol: String = null,
      embCol: String = "embedding"): DataFrame = {
    val id = Ivf.effectiveIdCol(ivf, idCol) // see buildCodes
    require(refine >= 1, s"refine must be >= 1: $refine")
    val k = math.min(k0, ivf.config.maxK)
    val shortlist = search(spark, ivf, model, codesPath, query,
      math.min(k.toLong * refine, ivf.config.maxK.toLong).toInt, nProbe0,
      id)
      .select(col("external_id").as(id))
    // the float fetch prunes by the SAME probed cells as the coded scan
    // (the shortlist can only contain rows from them), so the exact math
    // reads probed bytes ∩ shortlist — never the whole float dataset
    val nProbe = math.min(nProbe0, ivf.config.maxNProbe)
    val (probes, shards) = Ivf.probeSelection(ivf, query, nProbe)
    Ivf.probePrunedScan(spark, ivf.vectorsPath, probes, shards, ivf.k)
      .join(broadcast(shortlist), Seq(id), "left_semi")
      .withColumn("distance",
        graft.functions.Vec.squaredL2(col(embCol), lit(query)))
      .orderBy(col("distance").asc_nulls_last, col(id))
      .limit(k)
      .select(col(id).as("external_id"), col("distance"))
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
      nProbe0: Int, idCol: String = null): DataFrame = {
    import spark.implicits._
    val id = Ivf.effectiveIdCol(ivf, idCol) // see buildCodes
    val k = math.min(k0, ivf.config.maxK)
    val nProbe = math.min(nProbe0, ivf.config.maxNProbe)
    require(k > 0, "k must be > 0")
    require(nProbe > 0, "n_probe must be > 0")
    // validate BEFORE routing: probe selection walks q.length centroid
    // components, so an over-long query would AIOOBE in the router with
    // no context instead of raising the dimension contract error
    queries.find(_._2.length != model.dim).foreach { q =>
      throw new IllegalArgumentException(
        s"query ${q._1} has dimension ${q._2.length}, model has ${model.dim}")
    }
    Ivf.requireDistinctQueryIds(queries)
    val probePairs = queries.flatMap { case (qid, q) =>
      Ivf.probeSelection(ivf, q, nProbe)._1.map(c => (qid, c))
    }
    val shards = probePairs.map(p => ivf.centroidToShard(p._2)).distinct.toSeq
    val probedCentroids = probePairs.map(_._2).distinct.toSeq
    val probeDf = probePairs.toSeq.toDF("query_id", "centroid_id")
    // ONE shared LUT builder (Pq.lutSeq) — searchBatchResidual and the
    // single-query lutFor use the same body, so LUT math cannot drift
    val lutDf = queries.toSeq
      .map { case (qid, q) => (qid, Pq.lutSeq(q, model)) }
      .toDF("query_id", "lut")
    // bounded-state per-query top-k — see searchBatchResidual. The
    // union of probed cells is a PUSHED scan predicate (row-group
    // skip), same as every sibling path — a shard-only filter would
    // read every cell of every probed shard (~sqrt(k) cells each) and
    // discard the excess after decode in the join
    val candidates = Ivf.liveRows(spark, ivf,
        Ivf.probePrunedScan(spark, codesPath, probedCentroids, shards, ivf.k),
        id)
      .join(broadcast(probeDf), Seq("centroid_id"))
      .join(broadcast(lutDf), Seq("query_id"))
      .withColumn("distance", Pq.adc(col("pq_code"), col("lut")))
    TopNByKey.topN(candidates, Seq("query_id"), col("distance"), col(id), k)
      .select(col("query_id"), col("rk").as("rank"),
        col("id").as("external_id"), col("ord").as("distance"))
  }

  /** Top-k by ADC over the probe-pruned coded dataset. */
  def search(spark: SparkSession, ivf: Ivf.Index, model: Pq.Model,
      codesPath: String, query: Array[Float], k0: Int, nProbe0: Int,
      idCol: String = null): DataFrame = {
    val id = Ivf.effectiveIdCol(ivf, idCol) // see buildCodes
    val k = math.min(k0, ivf.config.maxK)
    val nProbe = math.min(nProbe0, ivf.config.maxNProbe)
    require(k > 0, "k must be > 0")
    require(nProbe > 0, "n_probe must be > 0")
    val (probes, shards) = Ivf.probeSelection(ivf, query, nProbe)
    Ivf.liveRows(spark, ivf,
        Ivf.probePrunedScan(spark, codesPath, probes, shards, ivf.k),
        id)
      .withColumn("distance", Pq.adc(col("pq_code"), Pq.lutFor(query, model)))
      .orderBy(col("distance").asc_nulls_last, col(id))
      .limit(k)
      .select(col(id).as("external_id"), col("distance"))
  }
}
