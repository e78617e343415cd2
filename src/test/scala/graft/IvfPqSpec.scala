package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Ivf, IvfPq, IvfSq}
import graft.queries.{IndexQueries, VectorQueries}

class IvfPqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val idx = IndexQueries.index(spark, sf0001)
  private lazy val model = VectorQueries.pqModel(spark, sf0001)
  private lazy val codes = IndexQueries.pqCodesPath(spark, sf0001)

  private def query(qid: Long): Array[Float] =
    Tables.embeddings(spark, sf0001).where(col("vec_id") === qid)
      .select("embedding").head().getSeq[Float](0).toArray

  test("coded dataset is complete and keeps the IVF layout") {
    val df = spark.read.parquet(codes)
    assert(df.count() == Tables.embeddings(spark, sf0001).count())
    assert(df.columns.toSet ==
      Set("shard_id", "centroid_id", "vec_id", "pq_code"))
    // every (shard, centroid) cell of the float dataset exists here too
    val cells = spark.read.parquet(idx.vectorsPath)
      .select("shard_id", "centroid_id").distinct().count()
    assert(df.select("shard_id", "centroid_id").distinct().count() == cells)
  }

  test("probe-all IVF-PQ equals flat PQ ADC (pruning adds no error)") {
    val q = query(0L)
    val ivfpq = IvfPq.search(spark, idx, model, codes, q, 10, 10000)
      .select("external_id").as[Long].collect().toSeq
    val flat = graft.operators.Pq.search(
      graft.operators.Pq.encode(Tables.embeddings(spark, sf0001),
        "embedding", model), "vec_id", "pq_code", model, q, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(ivfpq == flat)
  }

  test("default-probe IVF-PQ recalls most of the exact top-10") {
    val exact = VectorQueries.knnExact(spark, sf0001, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val got = IvfPq.search(spark, idx, model, codes, query(0L), 10, 20)
      .select("external_id").as[Long].collect().toSet
    val recall = (got & exact).size / 10.0
    assert(recall >= 0.5, s"IVF-PQ recall@10 = $recall")
  }

  test("batch IVF-PQ equals the single-query path per query") {
    val qs = Tables.embeddings(spark, sf0001)
      .where(col("vec_id") < 5).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val batch = IvfPq.searchBatch(spark, idx, model, codes, qs, 10, 20)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (qid, rows) =>
        qid -> rows.sortBy(_.getInt(1)).map(r => (r.getLong(2), r.getDouble(3))).toSeq
      }
    qs.foreach { case (qid, q) =>
      val single = IvfPq.search(spark, idx, model, codes, q, 10, 20)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid) == single, s"query $qid diverges")
    }
  }

  test("batch IVF-PQ paths reject duplicate query ids, naming the id") {
    val qs = Array((5L, query(1L)), (5L, query(2L)))
    val raw = intercept[IllegalArgumentException] {
      IvfPq.searchBatch(spark, idx, model, codes, qs, 10, 20)
    }
    assert(raw.getMessage.contains("duplicate query id 5"), raw.getMessage)
  }

  private lazy val (resModel, resCodes) =
    IndexQueries.residualModelAndCodes(spark, sf0001)

  test("residual codes: complete dataset, lower reconstruction error than raw") {
    val df = spark.read.parquet(resCodes)
    assert(df.count() == Tables.embeddings(spark, sf0001).count())
    // the point of residual encoding: decode(code)+centroid reconstructs
    // x better than raw-PQ decode(code) at the same code size
    val raw = spark.read.parquet(codes)
      .select(col("vec_id"), col("pq_code").as("raw_code"))
    val joined = spark.read.parquet(idx.vectorsPath)
      .select("vec_id", "centroid_id", "embedding")
      .join(spark.read.parquet(resCodes).select(col("vec_id"), col("pq_code")), "vec_id")
      .join(raw, "vec_id")
      .collect()
    val (resErr, rawErr) = joined.foldLeft((0.0, 0.0)) { case ((re, rw), r) =>
      val x = r.getAs[Seq[Float]]("embedding").toArray
      val cid = r.getAs[Int]("centroid_id")
      val cent = idx.centroids(cid)
      val resDec = graft.operators.Pq.decode(
        r.getAs[Seq[Byte]]("pq_code").toArray, resModel)
      val rawDec = graft.operators.Pq.decode(
        r.getAs[Seq[Byte]]("raw_code").toArray, model)
      val recon = Array.tabulate(x.length)(i => cent(i) + resDec(i))
      (re + graft.operators.KMeans.sqDist(x, recon.map(_.toFloat)),
        rw + graft.operators.KMeans.sqDist(x, rawDec))
    }
    assert(resErr < rawErr,
      s"residual reconstruction error $resErr !< raw $rawErr")
  }

  test("residual search: recall floor holds and batch equals single") {
    val exact = VectorQueries.knnExact(spark, sf0001, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val got = IvfPq.searchResidual(spark, idx, resModel, resCodes,
      query(0L), 10, 20).select("external_id").as[Long].collect().toSet
    val recall = (got & exact).size / 10.0
    assert(recall >= 0.5, s"residual IVF-PQ recall@10 = $recall")
  }

  test("refine: re-ranked recall dominates ADC; large shortlist at probe-all is exact") {
    val exact = VectorQueries.knnExact(spark, sf0001, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val q = query(0L)
    def recallOf(ids: Iterable[Long]): Double = (ids.toSet & exact).size / 10.0
    val adc = IvfPq.search(spark, idx, model, codes, q, 10, 20)
      .select("external_id").as[Long].collect()
    val refined = IvfPq.searchRefine(spark, idx, model, codes, q, 10, 20,
      refine = 4).select("external_id").as[Long].collect()
    assert(recallOf(refined) >= recallOf(adc),
      s"refine ${recallOf(refined)} < adc ${recallOf(adc)}")
    // probe-all + shortlist covering the corpus ⇒ exact answer, exact order
    val full = IvfPq.searchRefine(spark, idx, model, codes, q, 10, 10000,
      refine = 100).select("external_id").as[Long].collect().toSeq
    val exactOrdered = VectorQueries.knnExact(spark, sf0001, 0L, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(full == exactOrdered, "full refine diverges from exact kNN")
  }

  test("pruned search scans fewer partitions than probe-all") {
    val q = query(3L)
    val few = IvfPq.search(spark, idx, model, codes, q, 10, 2)
    val all = IvfPq.search(spark, idx, model, codes, q, 10, 10000)
    few.collect(); all.collect()
    val fewFiles = few.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.metrics.get("numFiles").map(_.value)).sum
    val allFiles = all.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.metrics.get("numFiles").map(_.value)).sum
    assert(fewFiles < allFiles,
      s"pruning ineffective: $fewFiles vs $allFiles files")
  }

  test("one read contract on all ten IVF entry points: k = 0, n_probe = 0, " +
      "short and over-long queries are rejected; k and n_probe clamp to " +
      "a capped Config") {
    val sq = IndexQueries.sqCodesPath(spark, sf0001)
    val q = query(7L)
    val radius = Ivf.search(spark, idx, q, 5, 20).collect().last.getDouble(1)
    // (entry point, takes a k, dimension checked on the driver, run):
    // rangeSearch has no k; annJoin's query side is distributed, so its
    // dimension check runs map-side and fails the job instead
    type Run = (Ivf.Index, Array[Float], Int, Int) => DataFrame
    val entries: Seq[(String, Boolean, Boolean, Run)] = Seq(
      ("Ivf.search", true, true,
        (i, v, k, n) => Ivf.search(spark, i, v, k, n)),
      ("Ivf.rangeSearch", false, true,
        (i, v, _, n) => Ivf.rangeSearch(spark, i, v, radius, n)),
      ("Ivf.searchBatch", true, true,
        (i, v, k, n) => Ivf.searchBatch(spark, i, Array(1L -> v), k, n)),
      ("Ivf.annJoin", true, false,
        (i, v, k, n) => Ivf.annJoin(
          Seq((1L, v.toSeq)).toDF("query_id", "qe"), i, k, n)),
      ("IvfSq.search", true, true,
        (i, v, k, n) => IvfSq.search(spark, i, sq, v, k, n)),
      ("IvfPq.search", true, true,
        (i, v, k, n) => IvfPq.search(spark, i, model, codes, v, k, n)),
      ("IvfPq.searchResidual", true, true,
        (i, v, k, n) =>
          IvfPq.searchResidual(spark, i, resModel, resCodes, v, k, n)),
      ("IvfPq.searchRefine", true, true,
        (i, v, k, n) => IvfPq.searchRefine(spark, i, model, codes, v, k, n)),
      ("IvfPq.searchBatch", true, true,
        (i, v, k, n) => IvfPq.searchBatch(spark, i, model, codes,
          Array(1L -> v), k, n)))
    val capped = idx.copy(config = Ivf.Config(maxK = 3, maxNProbe = 2))
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString(",")).toSeq.sorted
    entries.foreach { case (name, hasK, driverDim, run) =>
      if (hasK) intercept[IllegalArgumentException](run(idx, q, 0, 20).collect())
      intercept[IllegalArgumentException](run(idx, q, 10, 0).collect())
      Seq(q :+ 0.5f, q.dropRight(1)).foreach { bad =>
        if (driverDim) {
          val e = intercept[IllegalArgumentException](
            run(idx, bad, 10, 20).collect())
          assert(e.getMessage.contains("dimension"), s"$name: ${e.getMessage}")
        } else {
          val e = intercept[Exception](run(idx, bad, 10, 20).collect())
          assert(e.getMessage.contains("dimension"), s"$name: ${e.getMessage}")
        }
      }
      val atCaps = rows(run(capped, q, 3, 2))
      assert(atCaps.nonEmpty && (!hasK || atCaps.length <= 3),
        s"$name at the caps: $atCaps")
      assert(rows(run(capped, q, 1000, 1000)) == atCaps,
        s"$name: k / n_probe above the caps did not clamp")
    }
  }
}
