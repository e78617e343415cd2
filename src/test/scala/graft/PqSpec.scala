package graft

import org.apache.spark.sql.functions._
import graft.operators.{KMeans, Pq}

class PqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sf0001)
  private lazy val dim =
    emb.select(col("embedding")).head().getSeq[Float](0).length
  // the standard 8-bit PQ shape (faiss PQ8): 8 subspaces x 256 centroids
  private lazy val model =
    Pq.train(emb, "embedding", dim, m = 8, ksub = 256, orderCol = Some("vec_id"))

  test("training is deterministic and shapes are (m, ksub, dsub)") {
    val again =
      Pq.train(emb, "embedding", dim, m = 8, ksub = 256, orderCol = Some("vec_id"))
    assert(model.m == 8 && model.ksub == 256 && model.dsub == dim / 8)
    assert(model.codebooks.flatten.flatten.toSeq ==
      again.codebooks.flatten.flatten.toSeq)
  }

  test("codes are valid and decodable") {
    val rows = Pq.encode(emb, "embedding", model)
      .select(col("vec_id"), col("pq_code"), col("embedding")).collect()
    assert(rows.length == emb.count())
    rows.foreach { r =>
      val code = r.getSeq[Byte](1).toArray
      assert(code.length == model.m)
      val rec = Pq.decode(code, model)
      assert(rec.length == dim)
    }
  }

  test("ADC column distance equals driver-side LUT fold exactly") {
    val row = Pq.encode(emb, "embedding", model)
      .where(col("vec_id") === 7L).head()
    val code = row.getSeq[Byte](row.fieldIndex("pq_code")).toArray
    val query = emb.where(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val got = Pq.encode(emb, "embedding", model)
      .where(col("vec_id") === 7L)
      .select(Pq.adc(col("pq_code"), Pq.lutFor(query, model)).as("d"))
      .head().getDouble(0)
    // same sequential left-fold order on both sides → bitwise equal
    val want = code.zipWithIndex.foldLeft(0.0) { case (acc, (c, j)) =>
      val sub = query.slice(j * model.dsub, (j + 1) * model.dsub)
      acc + KMeans.sqDist(sub, model.codebooks(j)(c + 128))
    }
    assert(got == want)
  }

  test("quantization reconstruction beats the zero-vector baseline 4x") {
    // random near-unit-norm vectors are the PQ-hostile worst case; the
    // measured ratio at this config is ~0.10 (a PQ config sweep on
    // sf0.001 embeddings) — gate at 0.25 for headroom
    val rows = Pq.encode(emb, "embedding", model)
      .select(col("embedding"), col("pq_code")).collect()
    val (mseSum, normSum) = rows.foldLeft((0.0, 0.0)) { case ((ms, ns), r) =>
      val v = r.getSeq[Float](0).toArray
      val rec = Pq.decode(r.getSeq[Byte](1).toArray, model)
      (ms + KMeans.sqDist(v, rec), ns + KMeans.sqDist(v, new Array[Float](dim)))
    }
    assert(mseSum * 4 < normSum,
      s"PQ reconstruction too lossy: mse=$mseSum vs norm=$normSum")
  }

  test("null/ragged embeddings encode to null and rank last in search") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val good = emb.select(col("vec_id"), col("embedding")).limit(5).collect()
    val bad = Seq(Row(9000L, null), Row(9001L, Seq(1.0f, 2.0f)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(good.toSeq.map(r =>
        Row(r.getLong(0), r.getSeq[Float](1))) ++ bad), schema)
    val q = emb.where(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val out = Pq.search(Pq.encode(df, "embedding", model), "vec_id",
      "pq_code", model, q, 10).collect()
    assert(out.length == 7)
    // the two degraded rows sort after every real distance
    assert(out.takeRight(2).map(_.getLong(0)).toSet == Set(9000L, 9001L))
    assert(out.takeRight(2).forall(_.isNullAt(1)))
  }

  test("PQ-ADC top-10 recalls most of the exact top-10") {
    // measured 0.8 at m=8/ksub=256 on sf0.001 embeddings; gate at 0.6
    val query = emb.where(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val got = Pq.search(Pq.encode(emb, "embedding", model), "vec_id",
      "pq_code", model, query, 10).select("vec_id").as[Long].collect().toSet
    val exact = graft.queries.VectorQueries
      .knnExact(spark, sf0001, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val recall = (got & exact).size / 10.0
    assert(recall >= 0.6, s"PQ recall@10 = $recall")
  }
}
