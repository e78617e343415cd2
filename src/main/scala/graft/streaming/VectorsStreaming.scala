package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Ivf

/** Streaming vector search: a stream of query embeddings answered
  * against a STATIC IVF index — the production shape for continuously
  * checking an incoming crawl against a fixed corpus (retrieval,
  * online near-dup screening) without re-planning per query.
  *
  * Implementation is `foreachBatch` + [[Ivf.annJoin]]: each micro-batch
  * is an ordinary DataFrame, so the same distributed ANN join the batch
  * path uses (map-side centroid routing → shuffle join on centroid_id →
  * per-query top-k window) runs unchanged. Per-query results depend
  * only on that query's row, so micro-batch boundaries cannot change
  * any answer: the union over batches IS the batch answer
  * (StreamingSpec asserts this by splitting the same input three ways).
  *
  * State: none. The streaming side carries no aggregation state at all;
  * the index is static files + a broadcast routing table. At 100 TB the
  * per-trigger cost is exactly the batch annJoin cost of that trigger's
  * rows.
  */
object VectorsStreaming {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Streaming read of the embeddings parquet (stand-in for a Kafka
    * query feed).
    */
  def readQueries(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/embeddings.parquet").schema
    spark.readStream.schema(schema)
      .option("pathGlobFilter", "embeddings.parquet")
      .parquet(dir)
  }

  /** Idempotent per-batch sink: each micro-batch's results land in
    * their own `batch_id=N` partition and the write is a DYNAMIC
    * partition overwrite, so a RETRIED micro-batch replaces exactly its
    * own partition instead of appending a duplicate copy. Shared by
    * [[annSearchToPath]]'s foreachBatch and the retry assertion in
    * StreamingSpec (which calls it twice with the same batchId).
    */
  def writeAnnBatch(batch: DataFrame, index: Ivf.Index, k: Int,
      nProbe: Int, outPath: String, batchId: Long): Unit =
    Ivf.annJoin(batch, index, k = k, nProbe = nProbe)
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outPath)

  /** Run a query stream to completion against the index, materializing
    * every micro-batch's annJoin output under `outPath`.
    *
    * Write semantics: EXACTLY-ONCE when `checkpointLocation` is given —
    * the checkpoint pins batch-id assignment across restarts and
    * [[writeAnnBatch]] makes a replayed batch id overwrite its own
    * partition. Without a checkpoint, batch ids restart from 0 on every
    * run, which is still duplicate-free for a single run (each id
    * overwrites itself) but a RESUMED source would re-deliver data
    * under fresh ids — pass the checkpoint for anything long-lived.
    */
  def annSearchToPath(queries: DataFrame, index: Ivf.Index, k: Int,
      nProbe: Int, outPath: String,
      checkpointLocation: Option[String] = None): Unit = {
    val writer = queries.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeAnnBatch(batch, index, k, nProbe, outPath, batchId)
      }
    val q = checkpointLocation
      .fold(writer)(cp => writer.option("checkpointLocation", cp))
      .start()
    try q.processAllAvailable()
    finally q.stop()
  }

  /** Event-time ANN-ingest twin (VERDICT r10 #7): per event-time hour,
    * the windowed per-dimension centroid of the arriving vectors — the
    * drift-monitoring aggregate an ingest pipeline keeps next to the
    * index (a window whose centroid walks away from the corpus means
    * the add-after-train recall contract is eroding). Watermark +
    * Append mode is the production shape: a window emits EXACTLY ONCE
    * when the watermark passes its end, its state is dropped
    * (bounded state on an unbounded stream), vectors arriving after
    * their window closed are DROPPED, and the still-open tail is
    * withheld. Exploded to (window, pos) rows so the per-dim means are
    * oracle-comparable (the `label_centroids` convention).
    */
  def windowedCentroidsAppend(vecs: DataFrame,
      delay: String = "0 seconds"): DataFrame =
    vecs
      .withWatermark("ts", delay)
      .select(col("ts"), posexplode(col("embedding")).as(Seq("pos", "val")))
      .groupBy(window(col("ts"), "1 hour"), col("pos"))
      .agg(count(lit(1)).as("n_vectors"),
        round(avg(col("val").cast("double")), 4).as("mean_val"))
      .select(col("window.start").as("window_start"), col("pos"),
        col("n_vectors"), col("mean_val"))

  /** Epoch seconds of hour 0 for [[eventTimeQuery]]'s derived event
    * times (shared with the oracle SQL): vec_id is the only entropy, so
    * both engines derive identical timestamps.
    */
  val EventTimeBase: Long = 200L * 3600L

  /** The embeddings table with [[eventTimeQuery]]'s deterministic
    * vec_id-derived event times attached — shared by the stream path
    * and the StreamingSpec batch recomputation so both sides agree on
    * the arithmetic bit-for-bit:
    *
    *   - vec_id <  400         → hour vec_id % 4      (on-time, 0–3)
    *   - vec_id ∈ [400, 450)   → hour vec_id % 3      (late, 0–2)
    *   - vec_id >= 450         → hour 3 + vec_id % 3  (fresh, 3–5)
    *
    * with minute vec_id % 60 in every group.
    */
  def timedVectors(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val offSec =
      when(col("vec_id") < 400,
        (col("vec_id") % 4) * 3600L + (col("vec_id") % 60) * 60L)
        .when(col("vec_id") < 450,
          (col("vec_id") % 3) * 3600L + (col("vec_id") % 60) * 60L)
        .otherwise(
          (lit(3) + col("vec_id") % 3) * 3600L + (col("vec_id") % 60) * 60L)
    emb.withColumn("ts", timestamp_seconds(lit(EventTimeBase) + offSec))
  }

  /** Catalog query `stream_vectors_eventtime`: the watermarked Append
    * pipeline run over a DETERMINISTIC three-trigger delivery that
    * exercises all three event-time behaviors at once:
    *
    *   - trigger 1 (on-time): vec_id < 400 with event hours 0–3 —
    *     after it, the watermark (delay 0) sits at the max on-time
    *     timestamp, 3:59, closing hours 0–2;
    *   - trigger 2 (fresh): vec_id ∈ [450, 500) with event hours 3–5 —
    *     hour 3 lands in the still-open window ALONGSIDE trigger 1's
    *     hour-3 rows; this trigger also EVICTS+EMITS hours 0–2 (its
    *     eviction watermark is 3:59) and pushes the watermark to 5:59;
    *   - trigger 3 (LATE): vec_id ∈ [400, 450) with event hours 0–2 —
    *     their windows are closed AND already emitted, so the late
    *     filter (watermark 5:59) drops every row; none may appear in
    *     any emitted count and no window may emit twice.
    *
    * The late delivery must be a trigger of its OWN, after the one
    * that evicts its windows: per SPARK-40925's two-watermark design,
    * a batch filters late input against the PREVIOUS batch's watermark
    * but evicts state with the CURRENT one — so a late row landing in
    * the same batch that closes its window (filter watermark still 0)
    * is merged, not dropped. Measured here on Spark 4.1.2: the
    * two-trigger variant counts all 50 late rows; this three-trigger
    * schedule drops all 50.
    *
    * Trigger order is pinned the same way the Append-mode session gate
    * pins it: one staged file per trigger (`maxFilesPerTrigger` 1) with
    * forced modification times. The oracle recomputes the kept-row set
    * and the per-(window, dim) means from the parquet — the late-drop
    * and withheld-tail rules are deterministic predicates over vec_id.
    */
  def eventTimeQuery(spark: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_stream_vec_et/${graft.Tables.cacheDirName(dir)}"
    val in = s"$root/in"; val out = s"$root/out"; val ckpt = s"${root}_ckpt"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)

    val timed = timedVectors(spark, dir)
    def stage(cond: org.apache.spark.sql.Column, mtime: Long): Unit = {
      val known = Option(new java.io.File(in).listFiles())
        .map(_.map(_.getName).toSet).getOrElse(Set.empty[String])
      timed.where(cond).repartition(1)
        .write.mode("append").parquet(in)
      new java.io.File(in).listFiles()
        .filter(f => !known.contains(f.getName) && f.getName.endsWith(".parquet"))
        .foreach { f =>
          require(f.setLastModified(mtime),
            s"setLastModified failed for $f — trigger order would be random")
        }
    }
    val now = System.currentTimeMillis()
    stage(col("vec_id") < 400, now - 600000L)   // trigger 1: on-time
    stage(col("vec_id") >= 450, now - 300000L)  // trigger 2: fresh (evicts 0–2)
    stage(col("vec_id") >= 400 && col("vec_id") < 450, now) // trigger 3: late
    val stream = spark.readStream
      .schema(timed.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(in)
    val q = windowedCentroidsAppend(stream)
      .writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", out)
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.read.parquet(out).orderBy(col("window_start"), col("pos"))
  }

  /** Idempotent per-batch index ingest — the missing half of the
    * streaming production shape (search answered the read side; this is
    * the write side): each micro-batch of arriving vectors is routed to
    * its nearest existing centroid and appended into the index's
    * partitioned layout via [[Ivf.append]] (one map-side pass, zero
    * touch of existing files — the add-after-train contract).
    *
    * Parquet append is not naturally idempotent, and foreachBatch
    * delivery is at-least-once: a RETRIED batch would duplicate every
    * row. A marker directory records applied batch ids (the checkpoint
    * pins id assignment across restarts), so a replayed id is a no-op —
    * returns false without reading the batch. The marker is written
    * AFTER the append commits; a crash between the two can still
    * duplicate one batch on recovery — true exactly-once ingest needs a
    * transactional table format, out of scope for a parquet layout.
    * StreamingSpec gates the replay-no-op and batch-split invariance.
    *
    * Marker GC: one marker per micro-batch forever is a namespace leak
    * at production cadence (a year of 10 s triggers ≈ 3M filesystem
    * entries). Once the marker count passes `markerRetention`, applied
    * ids are rolled up into a WATERMARK file (`applied_upto_N` — its
    * name IS the state) and the covered markers are deleted: a
    * replayed id ≤ N stays a no-op without its marker existing. The
    * watermark only advances over a CONTIGUOUS applied prefix — which
    * foreachBatch ids are (0,1,2,… per checkpoint) — so arbitrary
    * out-of-order callers never have an unapplied id silently covered;
    * their markers simply stop being GC'd past the first gap. Crash
    * ordering is write-new-watermark, delete-markers, delete-old-
    * watermarks: a crash anywhere leaves extra files, never missing
    * state. Steady-state marker-dir size is O(markerRetention).
    */
  def appendVectorBatch(index: Ivf.Index, batch: DataFrame, idCol: String,
      embCol: String, batchId: Long, markerDir: String,
      markerRetention: Int = 64): Boolean =
    applyOnce(batch, batchId, markerDir, markerRetention)(
      Ivf.append(index, batch, idCol, embCol))

  /** The marker ledger both batch sinks share: unless `batchId` is at or
    * under the watermark or already has a marker, run `apply`, THEN
    * record the marker and roll markers up past `markerRetention`.
    * Returns true iff `apply` ran.
    */
  private def applyOnce(batch: DataFrame, batchId: Long, markerDir: String,
      markerRetention: Int)(apply: => Unit): Boolean = {
    val fs = new org.apache.hadoop.fs.Path(markerDir).getFileSystem(
      batch.sparkSession.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(s"$markerDir/batch_$batchId")
    if (batchId <= markerWatermark(fs, markerDir) || fs.exists(marker)) false
    else {
      apply
      fs.mkdirs(marker)
      compactMarkers(fs, markerDir, markerRetention)
      true
    }
  }

  private val UptoPrefix = "applied_upto_"

  /** Highest id N such that a rolled-up `applied_upto_N` file records
    * "every id ≤ N applied"; -1 with no roll-up yet.
    */
  private[streaming] def markerWatermark(
      fs: org.apache.hadoop.fs.FileSystem, markerDir: String): Long =
    listMarkerDir(fs, markerDir)._2

  /** (applied marker ids, watermark) from one listing. */
  private def listMarkerDir(fs: org.apache.hadoop.fs.FileSystem,
      markerDir: String): (Seq[Long], Long) = {
    val entries =
      try fs.listStatus(new org.apache.hadoop.fs.Path(markerDir))
      catch {
        case _: java.io.FileNotFoundException =>
          Array.empty[org.apache.hadoop.fs.FileStatus]
      }
    val names = entries.map(_.getPath.getName)
    val ids = names.collect {
      case n if n.startsWith("batch_") => n.stripPrefix("batch_").toLong
    }.toSeq
    val w = names.collect {
      case n if n.startsWith(UptoPrefix) => n.stripPrefix(UptoPrefix).toLong
    }.foldLeft(-1L)(math.max)
    (ids, w)
  }

  /** Roll the contiguous applied prefix into the watermark and delete
    * the covered markers, once the marker count passes `retention`.
    */
  private def compactMarkers(fs: org.apache.hadoop.fs.FileSystem,
      markerDir: String, retention: Int): Unit = {
    val (ids, w0) = listMarkerDir(fs, markerDir)
    if (ids.length <= retention) return
    val idSet = ids.toSet
    var w = w0
    while (idSet.contains(w + 1)) w += 1
    if (w > w0) {
      // new watermark FIRST: every subsequent delete is covered by it
      fs.create(new org.apache.hadoop.fs.Path(
        s"$markerDir/$UptoPrefix$w"), true).close()
      ids.filter(_ <= w).foreach { id =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$markerDir/batch_$id"),
          true)
      }
      if (w0 >= 0)
        fs.delete(new org.apache.hadoop.fs.Path(
          s"$markerDir/$UptoPrefix$w0"), false)
    }
  }

  /** Idempotent per-batch DELETE ingest — the tombstone twin of
    * [[appendVectorBatch]] for a stream of delete requests (the shape
    * compliance deletes arrive in at production: a feed of ids, not a
    * driver-held list). Each applied batch appends one sidecar file via
    * the distributed [[Ivf.delete]] DataFrame form; the same marker
    * ledger makes a replayed batch id a no-op — which matters more here
    * than for appends: a replayed delete is semantically harmless to
    * the tombstone filter but would CHANGE the sidecar fingerprint, spuriously
    * re-raising `unmaterializedTombstones` after a compact already paid
    * that debt (a phantom re-compact per replay). Same
    * crash-between-apply-and-marker caveat as the append form.
    */
  def deleteVectorBatch(index: Ivf.Index, batch: DataFrame, idCol: String,
      batchId: Long, markerDir: String,
      markerRetention: Int = 64): Boolean =
    applyOnce(batch, batchId, markerDir, markerRetention)(
      Ivf.delete(batch.sparkSession, index, batch, idCol))

  /** Catalog query `stream_index_delete`: a stream of DELETE requests
    * applied to a live index — the write-side twin of
    * `stream_index_append` for the tombstone path. The index is built
    * on `vec_id < 300`; the deterministic delete set `vec_id % 7 = 3`
    * arrives as a TWO-trigger stream (ids < 150, ids ≥ 150) that
    * [[deleteVectorBatch]] routes into the sidecar per micro-batch.
    * The result is the probe-all (exact) top-10 for the embedding of
    * vec_id 10 — itself a streamed-in deletion, so a dropped delete
    * batch resurrects it at rank 1 (distance 0) and hash-mismatches;
    * the oracle recomputes the survivor top-10 in DuckDB
    * ([[graft.queries.IndexQueries.deletedSurvivorTop10Sql]]).
    * Batch boundaries cannot change the answer (tombstones are a set
    * union); StreamingSpec pins replay-idempotence, including that a
    * replayed delete does NOT change the sidecar fingerprint.
    */
  def indexDeleteQuery(spark: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_stream_idx_d/${graft.Tables.cacheDirName(dir)}"
    val in = s"$root/in"; val ckpt = s"${root}_ckpt"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)

    val emb = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val idx = Ivf.build(emb.where(col("vec_id") < 300),
      "vec_id", "embedding", s"$root/index")
    val dels = emb.where(col("vec_id") < 300 && col("vec_id") % 7 === 3)
      .select(col("vec_id"))
    dels.where(col("vec_id") < 150)
      .repartition(1).write.mode("append").parquet(in)
    dels.where(col("vec_id") >= 150)
      .repartition(1).write.mode("append").parquet(in)
    val q = spark.readStream.schema(dels.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        deleteVectorBatch(idx, batch, "vec_id", batchId, s"$root/applied")
        ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()

    val queryVec = emb.where(col("vec_id") === 10L)
      .select("embedding").head().getSeq[Float](0).toArray
    Ivf.search(spark, idx, queryVec, k0 = 10, nProbe0 = 10000)
      .orderBy(col("distance"), col("external_id"))
  }

  /** [[appendVectorBatch]] plus the compact-on-file-debt maintenance
    * rule, closing the ingest loop SCALE.md round 12 measured: appends
    * are O(batch) but each leaves ~one file per shard, and it is search
    * that pays the accumulated debt (2.3× warmer latency after ten
    * appends, reset by one compact). After a batch that actually
    * applied, [[Ivf.maintain]] runs: its metadata-only
    * [[Ivf.maintenanceStats]] listing decides, and past
    * `maxFilesPerShard` the index is compacted IN PLACE (directory
    * swap, the held handle keeps serving).
    *
    * The trigger IS [[Ivf.MaintenanceStats.compactRecommended]] — the
    * same predicate a standalone scheduler polls, evaluated inside
    * `maintain`, so the two sites cannot diverge. That is safe to key a
    * loop on since its tombstone arm counts only UNMATERIALIZED
    * tombstones: one compact records the materialization marker and
    * drops the flag, while the sidecar itself is still carried forward
    * for coded siblings — so a delete triggers exactly one compact
    * here, not one per subsequent batch forever. Retry semantics
    * compose with the marker: a replayed batch id applies nothing and
    * therefore compacts nothing; a crash after the marker but before
    * the compact just defers it — the next applied batch re-reads the
    * same over-threshold state and compacts then (the rule is
    * self-healing because it reads current state, not an increment).
    * Returns true iff the batch was applied.
    */
  def appendVectorBatchMaintained(index: Ivf.Index, batch: DataFrame,
      idCol: String, embCol: String, batchId: Long, markerDir: String,
      maxFilesPerShard: Int = 8,
      maxUnmaterializedTombstones: Long = 0L,
      markerRetention: Int = 64): Boolean = {
    val applied = appendVectorBatch(index, batch, idCol, embCol, batchId,
      markerDir, markerRetention)
    if (applied)
      try Ivf.maintain(batch.sparkSession, index, maxFilesPerShard,
        maxUnmaterializedTombstones)
      catch {
        // another maintain is mid-flight: it will compact this debt
        // itself — defer, don't fail the batch (the rule is
        // self-healing: the next applied batch re-reads current state)
        case e: graft.operators.FsLease.LeaseHeldException =>
          log.info(s"appendVectorBatchMaintained: compact deferred — " +
            s"maintenance already running (${e.getMessage})")
      }
    applied
  }

  /** Catalog query `stream_index_append`: stream-ingest → index append,
    * end to end. The index is built from vec_id < 300 only; the
    * remaining 200 vectors arrive as a TWO-trigger stream whose
    * micro-batches [[appendVectorBatch]] routes into the existing
    * layout. The result is the probe-all (exact) top-3 search of the
    * `ann_join_topk` workload over the UNION index — so it shares that
    * query's brute-force DuckDB oracle over all 500 embeddings
    * verbatim, and the oracle is sharp against ingest bugs: the 20
    * query vectors are themselves streamed-in rows, so a dropped or
    * duplicated append breaks self-retrieval or the neighbor sets and
    * hash-mismatches. Batch boundaries cannot change any answer
    * (per-row routing, exact search) — StreamingSpec pins that by
    * splitting the same input differently and via replay.
    */
  def indexAppendQuery(spark: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_stream_idx/${graft.Tables.cacheDirName(dir)}"
    val in = s"$root/in"; val ckpt = s"${root}_ckpt"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)

    val emb = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val idx = Ivf.build(emb.where(col("vec_id") < 300),
      "vec_id", "embedding", s"$root/index")
    // two delivery files → two micro-batches (maxFilesPerTrigger 1);
    // order is irrelevant by design — that is the invariance claim
    emb.where(col("vec_id") >= 300 && col("vec_id") < 400)
      .repartition(1).write.mode("append").parquet(in)
    emb.where(col("vec_id") >= 400)
      .repartition(1).write.mode("append").parquet(in)
    val q = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the MAINTAINED sink — the production entrypoint — so the
        // oracled path exercises the full ingest loop; whether the
        // threshold fires here is config-determined, and either way
        // the answers are invariant (compaction preserves results by
        // contract, gated in StreamingSpec/IvfSpec)
        appendVectorBatchMaintained(idx, batch, "vec_id", "embedding",
          batchId, s"$root/applied")
        ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()

    // bounded on BOTH sides like the shared oracle's q CTE — at SFs
    // where embeddings exceeds 500 rows an open upper bound would issue
    // queries the oracle never computes
    val queries = emb.where(col("vec_id") >= 480 && col("vec_id") < 500)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    Ivf.annJoin(queries, idx, k = 3, nProbe = 10000)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Handle to a running out-of-band maintenance loop
    * ([[startMaintenanceLoop]]): observe progress, then [[stop]] it
    * (idempotent; waits for an in-flight compact to finish — the swap
    * is never abandoned halfway by a stop).
    */
  final class MaintenanceLoop private[streaming] (
      thread: Thread,
      stopFlag: java.util.concurrent.atomic.AtomicBoolean,
      stopLatch: java.util.concurrent.CountDownLatch,
      compactsDone: java.util.concurrent.atomic.AtomicInteger,
      errorQueue: java.util.concurrent.ConcurrentLinkedQueue[Throwable]) {
    // the latch wakes the poll thread out of its idle wait immediately
    // (a bare sleep would make stop block up to a full pollIntervalMs);
    // deliberately NOT thread.interrupt() — an in-flight compact must
    // run its swap to completion, which is the handle's contract
    def stop(): Unit = { stopFlag.set(true); stopLatch.countDown(); thread.join() }
    /** Compactions completed since start. */
    def compacts: Int = compactsDone.get()
    /** Most recent unexpected errors (bounded at 8; lease-held skips
      * are normal coordination, not errors, and are not recorded).
      */
    def recentErrors: Seq[Throwable] = {
      import scala.jdk.CollectionConverters._
      errorQueue.asScala.toSeq
    }
  }

  /** The production form of the maintenance poller the measurement
    * harness hand-rolls: a daemon thread that polls
    * [[Ivf.maintenanceStats]] (metadata-only, zero Spark jobs at
    * steady state) every `pollIntervalMs` and runs the lease-fenced
    * [[Ivf.maintain]] when any shard's file debt passes
    * `maxFilesPerShard` — so an ingest query started with
    * [[appendVectorBatch]] never pays an O(index) rewrite inside a
    * micro-batch (SCALE.md r13 measured the difference at 2M×128:
    * inline compact stalls a batch 29–70 s; with the loop out-of-band
    * all batches stay flat). Error policy is self-healing: a
    * [[graft.operators.FsLease.LeaseHeldException]] means another
    * maintainer owns this cycle (normal — skip); anything else is
    * recorded on the handle and polling continues, because the
    * maintenance rule reads current state, not an increment.
    *
    * The metadata-only [[Ivf.maintenanceStats]] check runs before every
    * `maintain` call, although `maintain` evaluates the same predicate
    * again under its lease. `maintain` takes the maintainer lease with
    * timeout 0, so without the pre-check each idle poll would create and
    * delete that lease, and an operator's explicit `maintain` would fail
    * with `LeaseHeldException` whenever it met an idle poll. The double
    * listing happens only on polls that go on to an O(index) rewrite.
    */
  def startMaintenanceLoop(spark: org.apache.spark.sql.SparkSession,
      index: Ivf.Index,
      maxFilesPerShard: Int = 8,
      pollIntervalMs: Long = 1000L,
      maxUnmaterializedTombstones: Long = 0L): MaintenanceLoop = {
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val stopLatch = new java.util.concurrent.CountDownLatch(1)
    val compacts = new java.util.concurrent.atomic.AtomicInteger(0)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val t = new Thread(() => {
      while (!stop.get()) {
        try {
          val stats = Ivf.maintenanceStats(spark, index)
          if (stats.compactRecommended(maxFilesPerShard,
              maxUnmaterializedTombstones)) {
            Ivf.maintain(spark, index,
              maxFilesPerShard = maxFilesPerShard,
              maxUnmaterializedTombstones = maxUnmaterializedTombstones) match {
              case Ivf.MaintainCompacted(_) => compacts.incrementAndGet()
              case Ivf.MaintainSkipped => ()
            }
          }
        } catch {
          case _: graft.operators.FsLease.LeaseHeldException => () // theirs
          case scala.util.control.NonFatal(e) =>
            errors.add(e)
            while (errors.size() > 8) errors.poll()
        }
        stopLatch.await(pollIntervalMs,
          java.util.concurrent.TimeUnit.MILLISECONDS)
      }
    }, s"graft-maintenance-${index.vectorsPath.hashCode}")
    t.setDaemon(true)
    t.start()
    new MaintenanceLoop(t, stop, stopLatch, compacts, errors)
  }

  /** Catalog query `stream_index_maintain`: stream-ingest →
    * OUT-OF-BAND maintenance ([[Ivf.maintain]]) → search, with the
    * final 100 vectors entering through maintain's DELTA-MERGE path:
    * they are appended after the rewrite snapshot (the `beforeFence`
    * seam — deterministic, not a race), so the compacted layout gets
    * them as whole files moved at swap time. The result is the same
    * probe-all top-3 workload as `stream_index_append`, sharing
    * `ann_join_topk`'s brute-force DuckDB oracle verbatim — which
    * makes the oracle sharp against the merge itself: a dropped,
    * duplicated, or mis-sharded delta file breaks self-retrieval or
    * the neighbor sets (queries 480–500 ARE delta rows) and
    * hash-mismatches.
    */
  def indexMaintainQuery(spark: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_stream_idx_m/${graft.Tables.cacheDirName(dir)}"
    val in = s"$root/in"; val ckpt = s"${root}_ckpt"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)

    val emb = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val idx = Ivf.build(emb.where(col("vec_id") < 300),
      "vec_id", "embedding", s"$root/index")
    emb.where(col("vec_id") >= 300 && col("vec_id") < 350)
      .repartition(1).write.mode("append").parquet(in)
    emb.where(col("vec_id") >= 350 && col("vec_id") < 400)
      .repartition(1).write.mode("append").parquet(in)
    val q = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendVectorBatch(idx, batch, "vec_id", "embedding",
          batchId, s"$root/applied")
        ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()

    // forced maintain (threshold 0) with the last batch landing after
    // the snapshot: the oracled answer flows through the async-compact
    // swap AND the delta merge
    val outcome = Ivf.maintain(spark, idx, maxFilesPerShard = 0,
      beforeFence = () =>
        Ivf.append(idx, emb.where(col("vec_id") >= 400 && col("vec_id") < 500),
          "vec_id", "embedding"))
    outcome match {
      case Ivf.MaintainCompacted(d) if d > 0 => ()
      case other => throw new IllegalStateException(
        s"stream_index_maintain: expected a compact with merged delta " +
          s"files, got $other — the query would not be exercising the " +
          "maintenance path it exists to oracle")
    }

    val queries = emb.where(col("vec_id") >= 480 && col("vec_id") < 500)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    Ivf.annJoin(queries, idx, k = 3, nProbe = 10000)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Catalog query `stream_ann_search`: the same 20-query workload as
    * `ann_join_topk`, fed through the stream path with probe-all
    * (exact ⇒ shares the batch oracle). Output goes to a per-(process,
    * dir) cache path (`Tables.cacheDirName` embeds the pid, so
    * concurrent JVMs cannot wipe each other's in-flight micro-batch
    * output), wiped (with its checkpoint) before each run so stale
    * results never merge in.
    */
  def annSearchQuery(spark: SparkSession, dir: String): DataFrame = {
    val idx = graft.queries.IndexQueries.index(spark, dir)
    val out = s"/tmp/graft_stream_ann/${graft.Tables.cacheDirName(dir)}"
    // "_ckpt" (not ".ckpt"): the derived-name convention Tables'
    // orphan sweep and shutdown hook match (`_p<pid>_*`) — a suffix
    // after the pid that does not start with '_' escapes both and the
    // checkpoint dir would leak permanently, one per JVM run
    val ckpt = s"${out}_ckpt"
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    val queries = readQueries(spark, dir)
      .where(col("vec_id") >= 480 && col("vec_id") < 500)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    annSearchToPath(queries, idx, k = 3, nProbe = 10000, out, Some(ckpt))
    spark.read.parquet(out).drop("batch_id")
      .orderBy(col("query_id"), col("rank"))
  }
}
