package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Vec
import graft.operators.Ivf

/** The IVF read paths plan against memoized per-index state: each call
  * takes one `Ivf.Snapshot` (one Hadoop-FS listing of the vectors and
  * the tombstone sidecar), the vectors relation is memoized on its data
  * fingerprint and the tombstones are a broadcast id set, memoized on
  * the sidecar fingerprint and probed inside the scan. Checked here: the
  * jobs a warm search launches, that no state goes stale across appends,
  * deletes, maintenance swaps, clears and a second handle's writes, that
  * sessions never share a relation, the anti-join semantics of the
  * filter on NULL ids and NULL or duplicate tombstone rows, and — on an
  * index under a non-local scheme ([[CountingFs]]) — the same rows as a
  * plain path and the filesystem calls a read or a maintain makes.
  */
class IvfReadPathSpec extends SparkSpec {
  import spark.implicits._

  private lazy val embAll: Array[(Long, Array[Float])] =
    Tables.embeddings(spark, sf0001).select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  /** A fresh index over `vec_id < 300` of the sf0.001 embeddings, in a
    * new local directory addressed through `at`.
    */
  private def freshIndex(at: String => String = identity)
      : (String, Ivf.Index) = {
    val dir = at(Files.createTempDirectory("graft_read_path").toString)
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    (dir, Ivf.build(emb.where(col("vec_id") < 300), "vec_id", "embedding", dir))
  }

  private def queries(ids: Long*): Array[(Long, Array[Float])] =
    ids.map(i => (i, embAll.find(_._1 == i).get._2)).toArray

  /** Near-copies of `qs` under ids `base + qid`: each ranks right behind
    * its query's own vector, so appending them moves every top-k.
    */
  private def nearCopies(qs: Array[(Long, Array[Float])],
      base: Long): DataFrame =
    qs.toSeq.map { case (qid, q) =>
      (base + qid, q.updated(0, q(0) + 0.001f).toSeq)
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))

  private def queryDf(qs: Array[(Long, Array[Float])],
      session: SparkSession = spark): DataFrame =
    session.createDataFrame(
      session.sparkContext.parallelize(
        qs.toSeq.map { case (qid, q) => Row(qid, q.toSeq) }),
      StructType(Seq(StructField("query_id", LongType),
        StructField("qe", ArrayType(FloatType)))))

  /** Jobs `body` launches on this thread (suites share the session and
    * may run in parallel, so only the meter scope's own jobs count).
    */
  private def jobsOf[T](body: => T): (T, Int) = {
    val (out, cost) = graft.obs.Meter.measure(spark)(body)
    (out, cost.jobs)
  }

  /** Committed parquet files under `root`, recursively. */
  private def parquetFiles(root: String): Long =
    Files.walk(java.nio.file.Paths.get(root)).filter { p =>
      val name = p.getFileName.toString
      name.endsWith(".parquet") && !name.startsWith(".") &&
        !p.toString.contains("/_")
    }.count()

  /** Rows of the (query_id, rank, external_id, distance) batch shape. */
  private type Ranked = Seq[(Long, Int, Long, Double)]

  private def ranked(df: DataFrame): Ranked =
    df.collect().toSeq.map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))

  /** Probe-all top-k over the live rows, from a fresh read of the
    * vectors and of the tombstone sidecar, anti-joined here.
    */
  private def reference(idx: Ivf.Index, qs: Array[(Long, Array[Float])],
      k: Int): Ranked = {
    val vecs = spark.read.parquet(idx.vectorsPath)
    val sidecar = new java.io.File(
      idx.vectorsPath.stripSuffix("/vectors") + "/tombstones")
    val hasTombs = Option(sidecar.listFiles()).exists(_.exists(f =>
      f.isFile && f.getName.endsWith(".parquet")))
    val live =
      if (!hasTombs) vecs
      else {
        val tomb = spark.read.schema("__deleted_id LONG")
          .parquet(sidecar.toString)
        vecs.join(tomb, vecs("vec_id") === tomb("__deleted_id"), "left_anti")
      }
    val byRank = Window.partitionBy("query_id")
      .orderBy(col("distance").asc_nulls_last, col("vec_id"))
    ranked(live.crossJoin(queryDf(qs))
      .withColumn("distance", Vec.squaredL2(col("embedding"), col("qe")))
      .withColumn("rank", row_number().over(byRank))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("distance")))
  }

  /** Every read path's rows, each in the batch shape. */
  private def allPaths(idx: Ivf.Index, qs: Array[(Long, Array[Float])],
      k: Int, session: SparkSession = spark): Seq[(String, Ranked)] = {
    val single = qs.toSeq.flatMap { case (qid, q) =>
      Ivf.search(session, idx, q, k, 10000).collect().toSeq.zipWithIndex
        .map { case (r, i) => (qid, i + 1, r.getLong(0), r.getDouble(1)) }
    }.sortBy(t => (t._1, t._2))
    Seq("search" -> single,
      "searchBatch" -> ranked(Ivf.searchBatch(session, idx, qs, k, 10000)),
      "annJoin" -> ranked(
        Ivf.annJoin(queryDf(qs, session), idx, k = k, nProbe = 10000)))
  }

  test("on a tombstoned index a warm search runs one job, the filter " +
      "adds no job to range search, neither plans a broadcast exchange, " +
      "and a warm batch runs two jobs") {
    val (_, idx) = freshIndex()
    val q = embAll.find(_._1 == 3L).get._2
    def search() = Ivf.search(spark, idx, q, 10, 20)
    def range() = Ivf.rangeSearch(spark, idx, q, 50.0, 20)
    def batch() = Ivf.searchBatch(spark, idx, queries(3L, 7L, 120L), 10, 20)
    search().collect() // warms the vectors relation
    range().collect()
    // range search's global sort runs its own jobs (range-bound sample,
    // shuffle map stage, result); tombstones must add none
    val (_, rangeJobs) = jobsOf(range().collect())
    assert(rangeJobs <= 3, s"warm range search ran $rangeJobs jobs")
    Ivf.delete(spark, idx, Seq(3L, 50L, 51L))
    // the new sidecar is read once, then served from the memo
    val (cold, coldJobs) = jobsOf(search().collect())
    assert(coldJobs == 2, s"first search after a delete ran $coldJobs " +
      "jobs, want the sidecar read + the scan")
    assert(!cold.map(_.getLong(0)).contains(3L))
    Seq(("search", () => search(), 1), ("rangeSearch", () => range(), rangeJobs))
      .foreach { case (name, run, want) =>
        val df = run()
        val (rows, jobs) = jobsOf(df.collect())
        assert(jobs == want, s"warm $name ran $jobs jobs, want $want")
        assert(rows.nonEmpty &&
          !rows.map(_.getLong(0)).exists(Set(3L, 50L, 51L)))
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastExchange"), s"$name plan:\n$plan")
      }
    batch().collect() // warm
    val (_, batchJobs) = jobsOf(batch().collect())
    assert(batchJobs == 2, s"warm searchBatch ran $batchJobs jobs")
    // a sidecar change costs the one read job, once
    Ivf.delete(spark, idx, Seq(7L))
    assert(jobsOf(search().collect())._2 == 2)
    assert(jobsOf(search().collect())._2 == 1)
  }

  test("no stale relation or tombstone set across append, delete, " +
      "maintain, a forced clear and a second handle's append") {
    val (dir, idx) = freshIndex()
    val qs = queries(3L, 50L, 120L, 250L)
    Ivf.delete(spark, idx, Seq(120L))
    var prev = reference(idx, qs, 5)
    def check(step: String, moves: Boolean): Unit = {
      val want = reference(idx, qs, 5)
      assert(moves == (want != prev),
        s"$step: the reference ${if (moves) "did not move" else "moved"}")
      allPaths(idx, qs, 5).foreach { case (path, got) =>
        assert(got == want, s"after $step, $path diverges from a fresh read")
      }
      prev = want
    }
    check("build + delete", moves = false)
    val files = parquetFiles(idx.vectorsPath)
    Ivf.append(idx, nearCopies(qs, 10000L), "vec_id", "embedding")
    assert(parquetFiles(idx.vectorsPath) > files)
    check("append", moves = true)
    Ivf.delete(spark, idx, Seq(3L, 10050L))
    check("delete", moves = true)
    assert(Ivf.maintain(spark, idx).isInstanceOf[Ivf.MaintainCompacted])
    check("maintain", moves = false)
    // the compacted files no longer hold 120, 3 or 10050; 250 is
    // deleted after the compact, so the clear resurrects it
    Ivf.delete(spark, idx, Seq(250L))
    check("a delete after maintain", moves = true)
    Ivf.clearTombstones(spark, idx, force = true)
    check("clearTombstones(force = true)", moves = true)
    val second = Ivf.load(spark, dir)
    Ivf.append(second, nearCopies(qs, 20000L), "vec_id", "embedding")
    check("an append through a second handle", moves = true)
  }

  test("a second session plans against its own relation") {
    val (_, idx) = freshIndex()
    Ivf.delete(spark, idx, Seq(50L))
    val qs = queries(3L, 50L)
    val want = reference(idx, qs, 5)
    assert(allPaths(idx, qs, 5).forall(_._2 == want))
    val other = spark.newSession()
    val q = qs.head._2
    assert(Ivf.search(other, idx, q, 5, 10000).sparkSession eq other)
    assert(Ivf.rangeSearch(other, idx, q, 50.0, 10000).sparkSession eq other)
    assert(Ivf.searchBatch(other, idx, qs, 5, 10000).sparkSession eq other)
    assert(Ivf.annJoin(queryDf(qs, other), idx, k = 5, nProbe = 10000)
      .sparkSession eq other)
    assert(allPaths(idx, qs, 5, other).forall(_._2 == want))
  }

  test("an index under a non-local scheme returns the rows of the same " +
      "index at a plain path through build, append, delete and maintain") {
    CountingFs.register(spark)
    val (_, plain) = freshIndex()
    val (_, other) = freshIndex(CountingFs.uri)
    val qs = queries(3L, 50L, 120L, 250L)
    def same(step: String): Unit = {
      val want = allPaths(plain, qs, 5)
      allPaths(other, qs, 5).zip(want).foreach { case ((path, got), (_, w)) =>
        assert(got == w, s"after $step, $path diverges from the plain path")
      }
      val (a, b) = (Ivf.maintenanceStats(spark, other),
        Ivf.maintenanceStats(spark, plain))
      assert((a.tombstones, a.unmaterializedTombstones) ==
        (b.tombstones, b.unmaterializedTombstones), s"after $step")
    }
    same("build")
    Seq(plain, other).foreach(
      Ivf.append(_, nearCopies(qs, 10000L), "vec_id", "embedding"))
    same("append")
    Seq(plain, other).foreach(Ivf.delete(spark, _, Seq(3L, 120L, 10050L)))
    same("delete")
    Seq(plain, other).foreach(idx =>
      assert(Ivf.maintain(spark, idx).isInstanceOf[Ivf.MaintainCompacted]))
    same("maintain")
  }

  test("under a non-local scheme a warm search runs one job, a warm read " +
      "lists each index directory at most once and opens no file, and " +
      "maintain lists vectors/ and tombstones/ twice each") {
    CountingFs.register(spark)
    val (dir, idx) = freshIndex(CountingFs.uri)
    val root = dir.stripPrefix(s"${CountingFs.Scheme}://")
    val qs = queries(3L, 7L, 120L)
    Ivf.delete(spark, idx, Seq(3L, 50L))
    val reads = Seq[(String, () => Any)](
      "search" -> (() => Ivf.search(spark, idx, qs.head._2, 10, 20).collect()),
      "searchBatch" -> (() => Ivf.searchBatch(spark, idx, qs, 10, 20).collect()),
      "annJoin" -> (() =>
        Ivf.annJoin(queryDf(qs), idx, k = 10, nProbe = 20).collect()))
    reads.foreach(_._2()) // warm
    def lists(calls: Map[(String, String), Int], sub: String): Int =
      calls.getOrElse(("list", s"$root/$sub"), 0)
    def summary(calls: Map[(String, String), Int]): String =
      Seq("list", "status", "open").map { op =>
        s"$op ${calls.collect { case ((`op`, _), n) => n }.sum}"
      }.mkString(", ") +
        s"; vectors/ listed ${lists(calls, "vectors")}, tombstones/ " +
        s"listed ${lists(calls, "tombstones")}, most listings of one dir " +
        calls.collect { case (("list", _), n) => n }.maxOption.getOrElse(0)
    val (_, searchJobs) = jobsOf(reads.head._2())
    info(s"warm search: $searchJobs job(s)")
    val warm = reads.map { case (name, run) =>
      val calls = CountingFs.counting(run())._2
      info(s"warm $name: ${summary(calls)}")
      name -> calls
    }
    val (outcome, maint) = CountingFs.counting(Ivf.maintain(spark, idx))
    info(s"maintain: ${summary(maint)}")
    assert(searchJobs == 1, s"warm search ran $searchJobs jobs")
    warm.foreach { case (name, calls) =>
      val relisted = calls.collect { case (("list", p), n) if n > 1 => p -> n }
      assert(relisted.isEmpty, s"warm $name re-listed $relisted")
      val opened = calls.collect { case (("open", p), n) => p -> n }
      assert(opened.isEmpty, s"warm $name opened $opened")
      assert(lists(calls, "vectors") == 1 && lists(calls, "tombstones") == 1,
        s"warm $name: ${summary(calls)}")
    }
    assert(outcome.isInstanceOf[Ivf.MaintainCompacted])
    assert(lists(maint, "vectors") == 2 && lists(maint, "tombstones") == 2,
      s"maintain: ${summary(maint)}")
  }

  test("the tombstone filter keeps NULL ids; NULL and duplicate tombstone " +
      "rows hide nothing extra") {
    val dir = Files.createTempDirectory("graft_read_path_null").toString
    val centroids = Array(Array(0f, 0f), Array(10f, 10f))
    val rows = Seq[Row](
      Row(1L, Seq(0f, 0f), 0, 0), Row(2L, Seq(1f, 0f), 0, 0),
      Row(null, Seq(0f, 1f), 0, 0), Row(3L, Seq(2f, 0f), 0, 0),
      Row(4L, Seq(10f, 10f), 1, 1), Row(5L, Seq(11f, 10f), 1, 1))
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = true),
      StructField("embedding", ArrayType(FloatType)),
      StructField("centroid_id", IntegerType),
      StructField("shard_id", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.partitionBy("shard_id").parquet(s"$dir/vectors")
    val idx = Ivf.Index(s"$dir/vectors", centroids, Array(0, 1))
    def ids(): Seq[Any] =
      Ivf.search(spark, idx, Array(0f, 0f), 100, 2).collect().toSeq
        .map(r => if (r.isNullAt(0)) null else r.getLong(0))
    assert(ids() == Seq(1L, null, 2L, 3L, 4L, 5L))
    val deleted = Seq[java.lang.Long](2L, null, 2L, 5L, null)
    assert(Ivf.delete(spark, idx, deleted.toDF("id"), "id") == 5L)
    assert(ids() == Seq(1L, null, 3L, 4L))
    // the count keeps its meaning: rows in the sidecar, as written
    assert(Ivf.maintenanceStats(spark, idx).tombstones == 5L)
    assert(Ivf.rangeSearch(spark, idx, Array(0f, 0f), 5.0, 2).collect()
      .map(r => if (r.isNullAt(0)) null else r.getLong(0)).toSeq ==
      Seq(1L, null, 3L))

    // the expression itself, interpreted
    val set = spark.sparkContext.broadcast(Array(2L, 5L))
    def eval(v: java.lang.Long): Any =
      graft.functions.NotTombstoned(
        org.apache.spark.sql.catalyst.expressions.Literal(v, LongType), set)
        .eval(null)
    assert(eval(2L) == false && eval(5L) == false)
    assert(eval(1L) == true && eval(null) == true)
  }
}
