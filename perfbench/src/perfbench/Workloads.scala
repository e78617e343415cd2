package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{Ivf, MinHashLsh}
import Truth.Hit

/** What one workload run measured. `e2e` holds the end-to-end metrics
  * the benchmark contract names; `detail` holds the headline figures
  * behind them (sample counts, percentiles, byte ratios); `layers` holds
  * every per-layer figure of the traced operations.
  */
final case class Outcome(e2e: Map[String, Double], detail: Map[String, Any],
    layers: Map[String, Double])

/** State shared by one workload run. */
final class Ctx(val spark: SparkSession, val gen: Gen, val workDir: String,
    val seconds: Double, val trace: Boolean, val cpus: Int, ready: () => Double) {
  val sizes: Sizes = gen.sizes
  val tracer = new Tracer(spark)
  var attempted = 0
  var failed = 0
  val problems = mutable.ArrayBuffer.empty[String]
  /** Root spans of the operations that ran traced. */
  val tracedOps = mutable.ArrayBuffer.empty[Span]
  /** Wall seconds of each set-up step, in order. */
  val setupSteps = mutable.LinkedHashMap.empty[String, Double]

  def step[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally setupSteps(name) = (System.nanoTime() - t0) / 1e9
  }

  /** True while the unmeasured warm-up operation runs. */
  var warming = false
  /** Seconds from JVM start until the warm-up operation ended. */
  var setupS = Double.NaN

  /** Calls of the short, noisy kind (annJoin, MinHash, searchBatch) run
    * this many times per measured operation; their median counts.
    */
  def repeats: Int = if (warming) 1 else 2

  /** A list of timing samples that ignores samples of the warm-up. */
  final class Samples {
    private val xs = mutable.ArrayBuffer.empty[Double]
    def +=(x: Double): Unit = if (!warming) xs += x
    def toSeq: Seq[Double] = xs.toSeq
    def length: Int = xs.length
  }

  /** Runs one warm-up operation, whose answers are checked but whose
    * timings are dropped, then operations until `seconds` have passed
    * and at least one ran (two in a traced run: one traced, one not).
    * `op` runs the timed calls of operation `i` and returns its checks,
    * which run after it, untraced. Problems, or an exception, mark the
    * operation failed. In a traced run the measured operations alternate
    * between traced (even) and untraced, so the run can state its own
    * tracing overhead.
    */
  def loop(op: Int => (() => Seq[String])): Unit = {
    val need = if (trace) 2 else 1
    val warmStart = System.nanoTime()
    var t0 = 0L
    var i = 0
    while (i <= need || (System.nanoTime() - t0) / 1e9 < seconds) {
      warming = i == 0
      val traced = trace && i % 2 == 1
      tracer.tracing(traced)
      val errs =
        try {
          val checks = tracer.span("op")(op(i))
          tracer.settle()
          if (traced) tracedOps += tracer.all.filter(_.parent == -1).last
          tracer.tracing(false)
          checks()
        } catch { case e: Exception => Seq(s"operation $i threw ${e.toString}") }
      attempted += 1
      if (errs.nonEmpty) { failed += 1; problems ++= errs.take(5) }
      if (i == 0) {
        setupS = ready()
        t0 = System.nanoTime()
        setupSteps("warm_up_op") = (t0 - warmStart) / 1e9
      }
      i += 1
    }
    warming = false
    tracer.tracing(false)
  }

  /** Tracing overhead: timed seconds of traced operations (the even
    * measured samples) over untraced ones, as a percentage.
    */
  def overheadPct(opS: Seq[Double]): Double = {
    val (t, u) = opS.zipWithIndex.partition(_._2 % 2 == 0)
    100.0 * (Workloads.median(t.map(_._1)) / Workloads.median(u.map(_._1)) - 1.0)
  }
}

object Workloads {

  val K = 10
  val BatchProbe = 16     // searchBatch n_probe, a point of the reference nprobe sweep
  val SingleProbe = 20    // VectorIndexer default n_probe
  val JoinProbe = 8
  val SinglesPerRound = 8

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.floor.toInt
    val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  private def ms(s: Span) = (s.endNs - s.startNs) / 1e6

  // ------------------------------------------------------------ shared set-up

  final class Corpus(val ids: Array[Long], val vecs: Array[Array[Float]],
      val df: DataFrame) {
    private val byId = ids.indices.map(i => ids(i) -> vecs(i)).toMap
    def vector(id: Long): Option[Array[Float]] = byId.get(id)
  }

  /** Corpus vectors written to parquet (the engine reads them from
    * there, like any caller) and regenerated on the driver for the
    * brute force.
    */
  def corpus(ctx: Ctx): Corpus = {
    import ctx.spark.implicits._
    val gen = ctx.gen
    gen.centers // computed once here, shipped to the tasks with `gen`
    val path = s"${ctx.workDir}/corpus"
    ctx.spark.range(0L, ctx.sizes.n.toLong, 1L, ctx.cpus).as[Long]
      .map(i => (i, gen.corpus(i))).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(path)
    val ids = Array.tabulate(ctx.sizes.n)(_.toLong)
    val vecs = new Array[Array[Float]](ids.length)
    java.util.stream.IntStream.range(0, ids.length).parallel()
      .forEach(i => vecs(i) = gen.corpus(i.toLong))
    new Corpus(ids, vecs, ctx.spark.read.parquet(path))
  }

  def heldOut(ctx: Ctx): Array[(Long, Array[Float])] =
    Array.tabulate(ctx.sizes.heldOut)(j => (j.toLong, ctx.gen.heldOut(j.toLong)))

  /** `Ivf.build` as span "build", its `onStage` reports as child spans. */
  def build(ctx: Ctx, c: Corpus, dir: String): Ivf.Index =
    ctx.tracer.span("build") {
      Ivf.build(c.df, "vec_id", "embedding", dir,
        onStage = (stage, s) => ctx.tracer.ended(s"build.$stage", s))
    }

  /** Rows per IVF list, read once from the index (outside any timing). */
  def cellSizes(spark: SparkSession, idx: Ivf.Index): Map[Int, Long] =
    spark.read.parquet(idx.vectorsPath).groupBy("centroid_id").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(x => dirBytes(x.getPath)).sum
    else if (f.getName.endsWith(".crc")) 0L
    else f.length
  }

  def deleteDir(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(x => deleteDir(x.getPath))
    f.delete()
  }

  /** (query_id, rank, external_id, distance) rows grouped per query, in
    * the order of `qids`; a query with no rows gets an empty answer.
    */
  def perQuery(rows: Array[Row], qids: Array[Long]): Array[Array[Hit]] = {
    val by = rows.groupBy(_.getLong(0))
    qids.map(q => by.getOrElse(q, Array.empty[Row])
      .map(r => Hit(r.getInt(1), r.getLong(2), r.getDouble(3))).sortBy(_.rank))
  }

  /** Checks shared by every top-k answer set. */
  def checkAnswers(what: String, answers: Array[Array[Hit]],
      queries: Array[(Long, Array[Float])], live: Long,
      vector: Long => Option[Array[Float]]): Seq[String] =
    answers.indices.flatMap { i =>
      val w = s"$what q${queries(i)._1}"
      Checks.topK(w, answers(i), K, live) ++
        Checks.distances(w, answers(i), queries(i)._2, vector)
    }

  /** searchBatch as span `name` with children `.call` (returns the lazy
    * DataFrame) and `.collect`.
    */
  def batch(ctx: Ctx, name: String, idx: Ivf.Index,
      qs: Array[(Long, Array[Float])], nProbe: Int): Array[Array[Hit]] =
    ctx.tracer.span(name) {
      val df = ctx.tracer.span(s"$name.call")(Ivf.searchBatch(ctx.spark, idx, qs, K, nProbe))
      val rows = ctx.tracer.span(s"$name.collect")(df.collect())
      perQuery(rows, qs.map(_._1))
    }

  /** Probed-cell arithmetic for a query set: (distance evaluations,
    * rows in the union of probed cells).
    */
  def probedRows(idx: Ivf.Index, sizes: Map[Int, Long],
      qs: Seq[Array[Float]], nProbe: Int): (Long, Long) = {
    val probes = qs.map(q => Ivf.probeSelection(idx, q, nProbe)._1)
    (probes.map(_.map(c => sizes.getOrElse(c, 0L)).sum).sum,
      probes.flatten.distinct.map(c => sizes.getOrElse(c, 0L)).sum)
  }

  // ------------------------------------------------------------ per-layer figures

  /** Spark runtime figures per span, averaged over the given spans. */
  def runtime(ctx: Ctx, prefix: String, ss: Seq[Span]): Map[String, Double] =
    if (ss.isEmpty) Map.empty
    else {
      val w = ctx.tracer.workUnder(ss)
      val n = ss.length.toDouble
      Map(s"$prefix.jobs" -> w.jobs / n, s"$prefix.stages" -> w.stages / n,
        s"$prefix.tasks" -> w.tasks / n,
        s"$prefix.executor_cpu_s" -> w.cpuNs / 1e9 / n,
        s"$prefix.gc_s" -> w.gcMs / 1e3 / n,
        s"$prefix.core_util" -> w.runMs / (ss.map(ms).sum * ctx.cpus),
        s"$prefix.shuffle_write_mb" -> w.shuffleWrite / 1e6 / n,
        s"$prefix.shuffle_read_mb" -> w.shuffleRead / 1e6 / n,
        s"$prefix.spill_mb" -> w.spill / 1e6 / n,
        s"$prefix.input_rows" -> w.inRecords / n)
    }

  /** Spans named `name` that belong to traced operations. */
  def traced(ctx: Ctx, name: String): Seq[Span] = {
    val ops = ctx.tracedOps.map(_.id).toSet
    ctx.tracer.named(name).filter(s => ops.contains(s.op))
  }

  /** Driver-side figures of a `name` / `name.call` / `name.collect` call:
    * the call that returns the lazy DataFrame, the Catalyst phases the
    * QueryExecutionListener saw, and the collect.
    */
  def driverSide(ctx: Ctx, prefix: String, name: String): Map[String, Double] = {
    val roots = traced(ctx, name)
    if (roots.isEmpty) Map.empty
    else Map(s"$prefix.call_ms" -> median(traced(ctx, s"$name.call").map(ms)),
      s"$prefix.plan_ms" -> median(roots.map(s => ctx.tracer.workUnder(Seq(s)).planMs.toDouble)),
      s"$prefix.collect_ms" -> median(traced(ctx, s"$name.collect").map(ms)))
  }

  /** `build.*`: the stages `Ivf.build` reports through `onStage`, index
    * shape, and the build's Spark runtime (traced builds only).
    */
  def buildLayers(ctx: Ctx, idx: Ivf.Index, sizes: Map[Int, Long]): Map[String, Double] = {
    val stages = Seq("count", "pool_train", "assign_count", "shard_model",
      "shard_write", "sidecar")
    val cells = sizes.values.map(_.toDouble).toSeq
    val mean = cells.sum / cells.length
    val cv = math.sqrt(cells.map(c => (c - mean) * (c - mean)).sum / cells.length) / mean
    val st = Ivf.maintenanceStats(ctx.spark, idx)
    stages.map(s => s"build.${s}_s" -> median(ctx.tracer.named(s"build.$s").map(_.seconds))).toMap ++
      Map("build.k_clusters" -> idx.k.toDouble, "build.num_shards" -> idx.numShards.toDouble,
        "build.files" -> st.dataFiles.toDouble, "build.list_size_cv" -> cv) ++
      runtime(ctx, "build", ctx.tracer.named("build").filter(s => ctx.tracer.workUnder(Seq(s)).jobs > 0))
  }

  /** The `query.*`, `op.*` and `trace.*` figures every workload reports:
    * `q` names its latency-critical call; `candidates` and `useful` are
    * the distance evaluations and probed-cell rows of one such call.
    */
  def common(ctx: Ctx, q: String, candidates: Double, useful: Double,
      opS: Seq[Double]): Map[String, Double] = {
    val qs = traced(ctx, q)
    val w = ctx.tracer.workUnder(qs)
    val n = math.max(1, qs.length).toDouble
    val qrt = runtime(ctx, "query", qs)
    val rt = runtime(ctx, "op", ctx.tracedOps.toSeq)
    driverSide(ctx, "query", q) ++
      Seq("jobs", "tasks", "core_util", "input_rows").map(k => s"query.$k" -> qrt(s"query.$k")) ++
      Map("query.shuffle_mb" -> (w.shuffleWrite + w.shuffleRead) / 1e6 / n,
        "query.candidates" -> candidates,
        "query.scan_useful_ratio" -> useful / math.max(1.0, w.inRecords / n)) ++
      Seq("jobs", "stages", "tasks", "executor_cpu_s", "gc_s", "core_util",
        "shuffle_write_mb").map(k => s"op.$k" -> rt(s"op.$k")) ++
      Map("trace.overhead_pct" -> ctx.overheadPct(opS))
  }

  // ------------------------------------------------------------ workloads

  /** One single search: span "search" with `.route` (traced only),
    * `.call` and `.collect` children.
    */
  private def single(ctx: Ctx, idx: Ivf.Index, q: Array[Float]): Array[Hit] =
    ctx.tracer.span("search") {
      if (ctx.tracer.isTracing)
        ctx.tracer.span("search.route")(Ivf.probeSelection(idx, q, SingleProbe))
      val df = ctx.tracer.span("search.call")(Ivf.search(ctx.spark, idx, q, K, SingleProbe))
      val rows = ctx.tracer.span("search.collect")(df.collect())
      rows.zipWithIndex.map { case (r, i) => Hit(i + 1, r.getLong(0), r.getDouble(1)) }
    }

  /** annJoin of `joinDf`, fully collected: span "join". */
  private def annJoin(ctx: Ctx, idx: Ivf.Index, joinDf: DataFrame,
      qids: Array[Long]): Array[Array[Hit]] =
    ctx.tracer.span("join") {
      val df = ctx.tracer.span("join.call")(Ivf.annJoin(joinDf, idx, K, JoinProbe))
      perQuery(ctx.tracer.span("join.collect")(df.collect()), qids)
    }

  /** MinHash verifiedPairs (persisted, collected) then clusters over
    * them: span "minhash" with `.call`, `.collect` and "clusters".
    */
  private def minhash(ctx: Ctx, docs: DataFrame, p: MinHashLsh.Params)
      : (Array[(Long, Long, Double)], Array[(Long, Long, Boolean)]) =
    ctx.tracer.span("minhash") {
      val vp = ctx.tracer.span("minhash.call") {
        MinHashLsh.verifiedPairs(docs, "doc_id", "terms", p).persist()
      }
      val pairs = ctx.tracer.span("minhash.collect")(vp.collect())
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val cl = ctx.tracer.span("clusters")(MinHashLsh.clusters(vp).collect())
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      vp.unpersist()
      (pairs, cl)
    }

  /** offline: the corpus-scale batch passes that run before serving. One
    * operation is a full `Ivf.build` into a fresh directory, an annJoin
    * of the perturbed-copy query frame against the new index, and
    * MinHash verifiedPairs + clusters over the generated documents. The
    * annJoin and MinHash calls run [[Ctx.repeats]] times.
    */
  def offline(ctx: Ctx): Outcome = {
    import ctx.spark.implicits._
    val s = ctx.sizes
    val gen = ctx.gen
    val c = ctx.step("corpus")(corpus(ctx))
    val probeAll = heldOut(ctx).take(s.probeAll)
    val jq = Array.tabulate(s.joinRows)(j => (j.toLong, gen.joinQuery(j.toLong)))
    val pick = new java.util.Random(Gen.rng(gen.seed, 100L, 0L).nextLong())
    val sample = scala.util.Random.javaRandomToRandom(pick)
      .shuffle((0 until s.joinRows).toVector).take(s.joinSample).sorted.toArray
    val (truth, joinTruth) = ctx.step("truth") {
      (Truth.topKAll(c.ids, c.vecs, probeAll.map(_._2), K),
        Truth.topKAll(c.ids, c.vecs, sample.map(jq(_)._2), K))
    }
    val joinDf = ctx.spark.range(0L, s.joinRows.toLong, 1L, ctx.cpus).as[Long]
      .map(j => (j, gen.joinQuery(j))).toDF("query_id", "qe").cache()
    ctx.step("join_frame")(joinDf.count())
    val docs = ctx.spark.range(0L, s.docs.toLong, 1L, ctx.cpus).as[Long]
      .map(d => (d, gen.doc(d.toInt))).toDF("doc_id", "terms").cache()
    ctx.step("docs")(docs.count())
    val p = MinHashLsh.Params()
    val shingles = Array.tabulate(s.docs)(d => Truth.shingles(gen.doc(d), p.shingleK))
    val planted = gen.plantedPairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }

    val buildS, joinMs, minhashS, opS = new ctx.Samples
    val recalls, dedupRecalls, ratios = mutable.ArrayBuffer.empty[Double]
    var last: Option[Ivf.Index] = None
    var verified, candidates = 0L
    ctx.loop { i =>
      val wasTraced = ctx.tracer.isTracing
      val dir = s"${ctx.workDir}/index-$i"
      val t0 = System.nanoTime()
      val idx = build(ctx, c, dir)
      val t1 = System.nanoTime()
      val joins = (1 to ctx.repeats).map { _ =>
        val t = System.nanoTime()
        val out = annJoin(ctx, idx, joinDf, jq.map(_._1))
        joinMs += (System.nanoTime() - t) / 1e6
        out
      }
      val t2 = System.nanoTime()
      val passes = (1 to ctx.repeats).map { _ =>
        val t = System.nanoTime()
        val out = minhash(ctx, docs, p)
        minhashS += (System.nanoTime() - t) / 1e9
        out
      }
      val t3 = System.nanoTime()
      buildS += (t1 - t0) / 1e9
      opS += (t3 - t0) / 1e9
      () => {
        if (wasTraced) candidates = {
          val signed = MinHashLsh.sign(docs, "doc_id", "terms", p)
          MinHashLsh.candidates(MinHashLsh.band(signed, p), p).count()
        }
        recalls += Truth.recallAt(joinTruth, sample.map(joins.head(_)), K)
        val (pairs, clusters) = passes.head
        val found = pairs.map(x => (x._1, x._2)).toSet
        dedupRecalls += planted.count(found.contains).toDouble / planted.length
        verified = pairs.length
        ratios += dirBytes(dir).toDouble / (s.n.toLong * s.dim * 4L)
        val stored = ctx.spark.read.parquet(idx.vectorsPath).select("vec_id")
          .collect().map(_.getLong(0))
        val exact = batch(ctx, "check", idx, probeAll, idx.k)
        last.foreach(l => deleteDir(l.vectorsPath.stripSuffix("/vectors")))
        last = Some(idx)
        Checks.idsOnce("build ids", stored, c.ids) ++
          probeAll.indices.flatMap(j => Checks.equalsTruth(s"probe-all q$j", exact(j), truth(j))) ++
          joins.flatMap(checkAnswers("annJoin", _, jq, s.n, c.vector)) ++
          passes.flatMap { case (pairs, clusters) =>
            Checks.pairs("minhash", pairs, id => shingles(id.toInt), p.threshold) ++
              Checks.clusters("clusters", clusters, pairs)
          }
      }
    }
    val layers = (for (idx <- last if ctx.trace) yield {
      val sizes = cellSizes(ctx.spark, idx)
      val (jc, ju) = probedRows(idx, sizes, jq.map(_._2).toSeq, JoinProbe)
      val joins = traced(ctx, "join")
      val jw = ctx.tracer.workUnder(joins)
      val mh = traced(ctx, "minhash.call") ++ traced(ctx, "minhash.collect")
      val cl = traced(ctx, "clusters")
      buildLayers(ctx, idx, sizes) ++ common(ctx, "join", jc.toDouble, ju.toDouble, opS.toSeq) ++
        runtime(ctx, "join", joins) ++ runtime(ctx, "minhash", traced(ctx, "minhash")) ++
        Map("join.candidates" -> jc.toDouble,
          "join.task_p50_ms" -> median(jw.taskMs.map(_.toDouble).toSeq),
          "join.task_max_ms" -> (if (jw.taskMs.isEmpty) 0.0 else jw.taskMs.max.toDouble),
          "minhash.candidate_pairs" -> candidates.toDouble,
          "minhash.verified_pairs" -> verified.toDouble,
          "minhash.verify_ratio" -> verified.toDouble / math.max(1L, candidates),
          "minhash.shuffle_write_mb" ->
            ctx.tracer.workUnder(mh).shuffleWrite / 1e6 / math.max(1, cl.length),
          "clusters.s" -> median(cl.map(_.seconds)),
          "clusters.jobs" -> ctx.tracer.workUnder(cl).jobs / math.max(1, cl.length).toDouble)
    }).getOrElse(Map.empty[String, Double])
    Outcome(
      Map("setup_s" -> ctx.setupS, "op_s" -> median(opS.toSeq),
        "p50_ms" -> median(joinMs.toSeq),
        "rate" -> s.n / median(buildS.toSeq),
        "aux_rate" -> s.docs / median(minhashS.toSeq),
        "recall_at_10" -> median(recalls.toSeq)),
      Map("build_vps" -> s.n / median(buildS.toSeq), "build_s" -> buildS.toSeq,
        "stored_bytes_ratio" -> median(ratios.toSeq),
        "ann_join_rows_s" -> s.joinRows / (median(joinMs.toSeq) / 1e3),
        "join_recall_at_10" -> median(recalls.toSeq),
        "minhash_docs_s" -> s.docs / median(minhashS.toSeq), "minhash_s" -> minhashS.toSeq,
        "dedup_recall" -> median(dedupRecalls.toSeq), "verified_pairs" -> verified,
        "ops" -> opS.length),
      layers)
  }

  /** Parquet files under an index's vectors directory, listed directly. */
  private def dataFiles(idx: Ivf.Index): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new java.io.File(idx.vectorsPath))
  }

  /** online: one client's closed loop against one index built in set-up.
    * One operation is a round: `Ivf.append`, `Ivf.delete`, a searchBatch
    * of every held-out query ([[Ctx.repeats]] times) and [[SinglesPerRound]]
    * single searches on the index those writes left, then `Ivf.maintain`
    * with its production defaults. Every read pays for one append's files and one
    * delete's tombstones, as a serving index under ingest does.
    */
  def online(ctx: Ctx): Outcome = {
    import ctx.spark.implicits._
    val s = ctx.sizes
    val gen = ctx.gen
    val c = ctx.step("corpus")(corpus(ctx))
    val qs = heldOut(ctx)
    val cq = qs.take(s.churnQueries)
    val idx = ctx.step("index")(setupIndex(ctx, c))
    val live = mutable.LinkedHashMap.empty[Long, Array[Float]]
    c.ids.indices.foreach(i => live(c.ids(i)) = c.vecs(i))
    val deleted = mutable.HashSet.empty[Long]
    val sizes = if (ctx.trace) cellSizes(ctx.spark, idx) else Map.empty[Int, Long]

    val batchMs, singleMs, appendS, maintainS, opS = new ctx.Samples
    val recalls = mutable.ArrayBuffer.empty[Double]
    val stats = mutable.ArrayBuffer.empty[(Double, Double, Double)]
    var next = 0
    var compactions = 0
    ctx.loop { r =>
      val rows = gen.appendIds(r).map(id => (id, gen.appended(id)))
      val addDf = rows.toSeq.toDF("vec_id", "embedding")
      val del = gen.deleteIds(r, (live.keysIterator ++ rows.iterator.map(_._1)).toArray)
      val filesBefore = if (ctx.tracer.isTracing) dataFiles(idx) else 0
      val t0 = System.nanoTime()
      ctx.tracer.span("append")(Ivf.append(idx, addDf, "vec_id", "embedding"))
      val t1 = System.nanoTime()
      val filesAdded = if (ctx.tracer.isTracing) dataFiles(idx) - filesBefore else 0
      ctx.tracer.span("delete")(Ivf.delete(ctx.spark, idx, del.toSeq))
      val t2 = System.nanoTime()
      if (ctx.tracer.isTracing) {
        // metadata-only; in a traced round its tombstone count job runs
        // here instead of inside maintain's own poll of the same state
        val st = ctx.tracer.span("stats")(Ivf.maintenanceStats(ctx.spark, idx))
        stats += ((st.filesPerShardMax.toDouble, st.unmaterializedTombstones.toDouble,
          filesAdded.toDouble))
      }
      val t3 = System.nanoTime()
      val batches = (1 to ctx.repeats).map { _ =>
        val t = System.nanoTime()
        val a = batch(ctx, "batch", idx, qs, BatchProbe)
        batchMs += (System.nanoTime() - t) / 1e6
        a
      }
      val answers = batches.head
      val singles = (0 until SinglesPerRound).map { _ =>
        val (qid, q) = qs(next % qs.length)
        next += 1
        val t = System.nanoTime()
        val hits = single(ctx, idx, q)
        singleMs += (System.nanoTime() - t) / 1e6
        ((qid, q), hits)
      }
      val t4 = System.nanoTime()
      val outcome = ctx.tracer.span("maintain")(Ivf.maintain(ctx.spark, idx))
      val t5 = System.nanoTime()
      appendS += (t1 - t0) / 1e9
      opS += ((t2 - t0) + (t5 - t3)) / 1e9
      () => {
        rows.foreach { case (id, v) => live(id) = v }
        del.foreach { id => live.remove(id); deleted += id }
        val liveIds = live.keysIterator.toArray
        val truth = Truth.topKAll(liveIds, liveIds.map(live), qs.map(_._2), K)
        recalls += Truth.recallAt(truth, answers, K)
        val errs = mutable.ArrayBuffer.empty[String]
        batches.foreach(a => errs ++= checkAnswers("batch", a, qs, live.size.toLong, live.get))
        errs ++= checkAnswers("search", singles.map(_._2).toArray,
          singles.map(_._1).toArray, live.size.toLong, live.get)
        errs ++= (batches.flatten ++ singles.map(_._2)).flatMap(x => Checks.noneDeleted("read", x, deleted))
        errs ++= Checks.count("live vectors", Ivf.liveVectors(ctx.spark, idx).count(),
          s.n.toLong + (r + 1).toLong * s.append - deleted.size)
        outcome match {
          case Ivf.MaintainCompacted(_) =>
            compactions += 1
            maintainS += (t5 - t4) / 1e9
            val after = perQuery(Ivf.searchBatch(ctx.spark, idx, cq, K, BatchProbe).collect(),
              cq.map(_._1))
            errs ++= Checks.sameAnswers("answers across maintain", answers.take(cq.length), after)
          case _ =>
        }
        errs.toSeq
      }
    }
    val layers = if (!ctx.trace) Map.empty[String, Double] else {
      val (bc, bu) = probedRows(idx, sizes, qs.map(_._2).toSeq, BatchProbe)
      // one single search reads its probed cells: all of them are useful
      val perSingle = probedRows(idx, sizes, qs.map(_._2).toSeq, SingleProbe)._1.toDouble / qs.length
      val singles = traced(ctx, "search")
      val srt = runtime(ctx, "search", singles)
      val brt = runtime(ctx, "batch", traced(ctx, "batch"))
      val appends = traced(ctx, "append")
      val maint = traced(ctx, "maintain")
      buildLayers(ctx, idx, sizes) ++ common(ctx, "search", perSingle, perSingle, opS.toSeq) ++
        driverSide(ctx, "search", "search") ++ driverSide(ctx, "batch", "batch") ++ srt ++ brt ++
        runtime(ctx, "append", appends) ++ runtime(ctx, "maintain", maint) ++
        Map("search.route_ms" -> median(traced(ctx, "search.route").map(ms)),
          "search.input_rows_per_op" -> srt("search.input_rows"),
          "search.scan_useful_ratio" -> perSingle / math.max(1.0, srt("search.input_rows")),
          "batch.candidates" -> bc.toDouble,
          "batch.scan_useful_ratio" -> bu / math.max(1.0, brt("batch.input_rows")),
          "batch.shuffle_mb" -> (brt("batch.shuffle_write_mb") + brt("batch.shuffle_read_mb")),
          "append.s" -> median(appends.map(_.seconds)),
          "append.files_added" -> median(stats.map(_._3).toSeq),
          "append.output_mb" -> ctx.tracer.workUnder(appends).outBytes / 1e6 / math.max(1, appends.length),
          "delete.s" -> median(traced(ctx, "delete").map(_.seconds)),
          "maintain.bytes_rewritten_mb" ->
            ctx.tracer.workUnder(maint).outBytes / 1e6 / math.max(1, maint.length),
          "churn.files_per_shard_max" -> median(stats.map(_._1).toSeq),
          "churn.tombstones_unmaterialized" -> median(stats.map(_._2).toSeq))
    }
    Outcome(
      Map("setup_s" -> ctx.setupS, "op_s" -> median(opS.toSeq),
        "p50_ms" -> median(singleMs.toSeq),
        "rate" -> s.heldOut / (median(batchMs.toSeq) / 1e3),
        "aux_rate" -> s.append / median(appendS.toSeq),
        "recall_at_10" -> median(recalls.toSeq)),
      Map("search_p50_ms" -> median(singleMs.toSeq),
        "search_p90_ms" -> quantile(singleMs.toSeq, 0.9),
        "search_samples" -> singleMs.length,
        "batch_qps" -> s.heldOut / (median(batchMs.toSeq) / 1e3),
        "batch_p50_ms" -> median(batchMs.toSeq),
        "recall_at_10" -> median(recalls.toSeq),
        "append_vps" -> s.append / median(appendS.toSeq),
        "maintain_s" -> median(maintainS.toSeq), "compactions" -> compactions,
        "rounds" -> opS.length),
      layers)
  }

  /** Set-up build of the online index: traced in a traced run, so
    * `build.*` is reported by both workloads.
    */
  private def setupIndex(ctx: Ctx, c: Corpus): Ivf.Index = {
    ctx.tracer.tracing(ctx.trace)
    val idx = build(ctx, c, s"${ctx.workDir}/index")
    ctx.tracer.settle()
    ctx.tracer.tracing(false)
    idx
  }

  val all: Map[String, Ctx => Outcome] =
    Map("offline" -> offline, "online" -> online)
}
