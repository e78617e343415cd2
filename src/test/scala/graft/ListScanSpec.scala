package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Vec
import graft.operators.Ivf

/** `Ivf.searchBatch`'s list-scan kernel against a join formulation
  * written here: probe pairs joined to the vectors, `Vec.squaredL2`, and
  * `row_number` over (distance nulls last, id). Rows must be bitwise
  * equal on degraded embeddings (NULL, NULL element, ragged), NaN and
  * infinite components, tied distances, k beyond the live candidates,
  * an empty batch, a filter and tombstones — and must not depend on
  * splits, AQE or shuffle partitions.
  */
class ListScanSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 4
  private val centroids = Array(
    Array.fill(dim)(0f), Array.fill(dim)(10f), Array.fill(dim)(-10f))
  private val centroidToShard = Array(0, 1, 1)

  /** Cell members around each centroid plus the edge rows: 104 down to
    * 100 copy row 0's vector (a 6-way tie at distance 0 from it; written
    * in descending id order into one file, so a single scan task must
    * break the tie by id), 110 has a NaN component, 111 an infinite one,
    * 120 a NULL element, 121 is ragged, 122 is NULL.
    */
  private lazy val vectorRows: Seq[Row] = {
    val rnd = new java.util.Random(7)
    val members = (0 until 90).map { i =>
      val c = i % 3
      val v = Array.tabulate(dim)(j =>
        (centroids(c)(j) + rnd.nextGaussian() * 3).toFloat)
      Row(i.toLong, v.toSeq, c, centroidToShard(c), i % 4)
    }
    val v0 = members.head.getSeq[Float](1)
    val edge = Seq(
      Row(104L, v0, 0, 0, 2), Row(103L, v0, 0, 0, 1), Row(102L, v0, 0, 0, 1),
      Row(101L, v0, 0, 0, 2), Row(100L, v0, 0, 0, 1),
      Row(110L, Seq(Float.NaN, 1f, 1f, 1f), 0, 0, 1),
      Row(111L, Seq(Float.PositiveInfinity, 0f, 0f, 0f), 0, 0, 1),
      Row(120L, Seq(1f, null, 1f, 1f), 0, 0, 1),
      Row(121L, Seq(10f, 10f), 1, 1, 1),
      Row(122L, null, 2, 1, 1))
    members ++ edge
  }

  private val schema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = true)),
    StructField("centroid_id", IntegerType),
    StructField("shard_id", IntegerType),
    StructField("label", IntegerType)))

  /** A fresh index over [[vectorRows]], written as several files per
    * shard so a small split size gives many scan partitions.
    */
  private def freshIndex(): Ivf.Index = {
    val dir = Files.createTempDirectory("graft_list_scan").toString
    spark.createDataFrame(spark.sparkContext.parallelize(vectorRows, 6), schema)
      .write.partitionBy("shard_id").parquet(s"$dir/vectors")
    Ivf.Index(s"$dir/vectors", centroids, centroidToShard)
  }

  private lazy val index = freshIndex()

  private lazy val queries: Array[(Long, Array[Float])] = {
    val rnd = new java.util.Random(11)
    val near = (0 until 4).map { i =>
      val c = centroids(i % 3)
      (500L - i,
        Array.tabulate(dim)(j => (c(j) + rnd.nextGaussian() * 4).toFloat))
    }
    ((7L, vectorRows.head.getSeq[Float](1).toArray) +: near :+
      (9L, Array.fill(dim)(40f))).toArray
  }

  private type Out = (Long, Int, Long, Option[Long])

  /** Rows with distances as raw bits, so NaN compares by identity. */
  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Out] =
    df.collect().toSeq.map { r =>
      (r.getLong(0), r.getInt(1), r.getLong(2),
        if (r.isNullAt(3)) None
        else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(3))))
    }.sortBy(t => (t._1, t._2))

  private def reference(idx: Ivf.Index, qs: Array[(Long, Array[Float])],
      k: Int, nProbe: Int, filter: Option[Column] = None,
      deleted: Seq[Long] = Nil): Seq[Out] = {
    val probes = qs.toSeq.flatMap { case (qid, q) =>
      idx.router.topN(q, nProbe).toSeq.map(c => (qid, c))
    }.toDF("query_id", "centroid_id")
    val qDf = qs.toSeq.map { case (qid, q) => (qid, q.toSeq) }
      .toDF("query_id", "qe")
      .select(col("query_id"), col("qe").cast("array<float>").as("qe"))
    val vecs = spark.read.parquet(idx.vectorsPath)
      .where(!col("vec_id").isin(deleted: _*))
    val byRank = Window.partitionBy("query_id")
      .orderBy(col("distance").asc_nulls_last, col("vec_id"))
    rows(filter.map(vecs.where).getOrElse(vecs)
      .join(probes, "centroid_id").join(qDf, "query_id")
      .withColumn("distance", Vec.squaredL2(col("embedding"), col("qe")))
      .withColumn("rank", row_number().over(byRank))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("distance")))
  }

  private def kernel(idx: Ivf.Index, qs: Array[(Long, Array[Float])],
      k: Int, nProbe: Int, filter: Option[Column] = None): Seq[Out] =
    rows(Ivf.searchBatch(spark, idx, qs, k, nProbe, filter = filter))

  test("kernel rows equal the join reference on degraded, NaN and tied rows") {
    for (k <- Seq(1, 3, 10); nProbe <- Seq(1, 2, 3)) {
      val got = kernel(index, queries, k, nProbe)
      assert(got == reference(index, queries, k, nProbe),
        s"k=$k nProbe=$nProbe diverges")
      assert(got.nonEmpty)
    }
    // the tie: six rows at distance 0 from query 7, cut by id at k = 3
    assert(kernel(index, queries, 3, 1).filter(_._1 == 7L).map(_._3) ==
      Seq(0L, 100L, 101L))
    // no broadcast join is left in the plan of an index without tombstones
    val plan = Ivf.searchBatch(spark, index, queries, 3, 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"), plan)
  }

  test("k beyond the live candidates returns every row, degraded ones last; " +
      "an empty batch returns nothing") {
    val got = kernel(index, queries, 1000, 3)
    assert(got == reference(index, queries, 1000, 3))
    val q7 = got.filter(_._1 == 7L)
    assert(q7.length == vectorRows.length)
    assert(q7.map(_._2) == (1 to vectorRows.length))
    // NULL distances last in id order, NaN before them, +Inf before NaN
    assert(q7.takeRight(3).map(_._3) == Seq(120L, 121L, 122L))
    assert(q7.takeRight(3).forall(_._4.isEmpty))
    assert(q7.takeRight(5).take(2).map(_._3) == Seq(111L, 110L))
    assert(kernel(index, Array.empty, 5, 3).isEmpty)
    assert(Ivf.searchBatch(spark, index, Array.empty, 5, 3).columns.toSeq ==
      Seq("query_id", "rank", "external_id", "distance"))
  }

  test("kernel rows equal the join reference under a filter and tombstones") {
    val idx = freshIndex()
    val onLabel1 = Some(col("label") === 1)
    assert(kernel(idx, queries, 10, 2, onLabel1) ==
      reference(idx, queries, 10, 2, onLabel1))
    val deleted = Seq(0L, 100L, 120L, 3L)
    Ivf.delete(spark, idx, deleted)
    for ((k, nProbe) <- Seq((3, 1), (10, 2), (1000, 3));
         f <- Seq(None, onLabel1)) {
      val got = kernel(idx, queries, k, nProbe, f)
      assert(got == reference(idx, queries, k, nProbe, f, deleted),
        s"k=$k nProbe=$nProbe filter=${f.isDefined} diverges")
      assert(got.forall(t => !deleted.contains(t._3)))
    }
    // tombstones are a predicate inside the scan, not a broadcast join
    val plan = Ivf.searchBatch(spark, idx, queries, 3, 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"), plan)
  }

  test("rows do not depend on splits, AQE or shuffle partitions") {
    val want = kernel(index, queries, 5, 2)
    assert(want == reference(index, queries, 5, 2))
    val settings = Seq(
      "spark.sql.files.maxPartitionBytes" -> "1k",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "1")
    settings.foreach { case (key, value) =>
      val before = spark.conf.getOption(key)
      spark.conf.set(key, value)
      try {
        val df = Ivf.searchBatch(spark, index, queries, 5, 2)
        if (key == "spark.sql.files.maxPartitionBytes")
          assert(spark.read.parquet(index.vectorsPath).rdd.getNumPartitions > 6,
            "a tiny split size should give many scan partitions")
        assert(rows(df) == want, s"$key=$value changes the rows")
      } finally before match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
}
