package graft.operators

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Vec

/** IVF (inverted-file) ANN index — the reference's core product
  * (`/root/reference/src/ivf_index.rs`), re-architected Spark-first.
  *
  * Layout mapping (SURVEY.md §1.4): the reference's custom binary shard
  * files + O(1) centroid-offset index become a parquet dataset partitioned
  * by `shard_id` and sorted within partitions by `centroid_id`; its
  * bincode routing table (`index.bin`) becomes a small `centroids` parquet
  * read + broadcast at query time. Probe pruning — the IVF idea itself —
  * becomes `WHERE shard_id IN (...) AND centroid_id IN (...)`, which Spark
  * executes as directory-level partition pruning plus parquet row-group
  * min/max skipping: only the probed clusters' bytes are read, exactly as
  * the reference's io_uring selective block reads, but scaling across
  * executors. At 100 TB the pruned scan reads nProbe/k of the data.
  *
  * Semantics preserved (SURVEY.md §2.11): squared-L2 ascending; k/n_probe
  * clamped to max (`src/api.rs:189-190`); k=0 or n_probe=0 is an error
  * (`src/ivf_index.rs:197-202`); fewer than k candidates → all returned,
  * no padding; `include_vectors` projection; seed fixed to 42 for builds
  * (`src/api.rs:143`); super-centroid seed = seed*31+7, ⌈√k⌉ shards
  * (`src/ivf_index.rs:104-109`). Ties broken by external_id (the
  * reference's tie order is unstable-sort-undefined; pinning is safer).
  */
object Ivf {

  /** Query clamps (`src/api.rs:33-43`) and the lease timing every
    * writer, maintainer and crash recovery on the handle uses: how old a
    * lease's mtime must be before it reads as a dead holder's, and how
    * long a writer waits to acquire one.
    */
  final case class Config(
      maxK: Int = 10000,
      maxNProbe: Int = 10000,
      leaseStaleTtlMs: Long = FsLease.DefaultStaleTtlMs,
      leaseTimeoutMs: Long = FsLease.DefaultTimeoutMs)

  /** Driver-held routing table: centroid vectors + centroid→shard map.
    * Size is k×dim floats (k ≈ 4√n — 4,000 at n=1M), always broadcastable.
    */
  final case class Index(
      vectorsPath: String,
      centroids: Array[Array[Float]],     // dense centroid_id = array index
      centroidToShard: Array[Int],
      config: Config = Config(),
      // Seed the index was BUILT with. append() must assign with the same
      // seed: for k > the hierarchical threshold the assigner re-derives
      // its meta-clustering from (seed·17+42), so a different seed routes
      // identical vectors to different centroids than build time.
      seed: Long = 42L,
      // Centroid count above which probe routing goes hierarchical
      // (approximate). The default is the measured crossover
      // ([[KMeans.ApproxRoutingThreshold]]); tests force it low via
      // copy() to drive REAL searches through the approximate path at
      // test-scale k.
      approxRouting: Int = KMeans.ApproxRoutingThreshold,
      // Id and embedding columns the index was BUILT with, persisted in
      // the sidecar: every read, maintenance and coded-sibling entry
      // point reads the layout through them.
      idCol: String = "vec_id",
      embCol: String = "embedding") {
    def k: Int = centroids.length
    def numShards: Int = centroidToShard.distinct.length
    /** Probe router shared by every search path (single, batch, join,
      * coded siblings) AND the probe-literal oracle generators — one
      * routing function keeps engine and oracle probes identical. Lazy
      * and transient: built once per Index instance (meta-clustering
      * for k > 100 costs O(k√k) driver flops, amortized over queries),
      * never serialized with the case class.
      */
    @transient lazy val router: KMeans.ProbeRouter =
      new KMeans.ProbeRouter(centroids, seed, approxRouting)
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Last auto-raise note writeVectors recorded, exposed so SkewSpec
    * can assert the raise actually fires in the config it guards
    * against (a log line alone is untestable). Not reset on healthy
    * writes — tests clear it before triggering.
    */
  @volatile private[graft] var lastWriteParallelismWarning: Option[String] =
    None

  /** The ONE clustered-write shape, shared by build/append/maintain AND
    * every coded sibling dataset (IvfPq raw/residual, IvfSq): an
    * exchange on (shard_id, salt) — each shard spreads over
    * ~shuffleParts/numShards tasks, so write parallelism is NOT capped
    * at ⌈√k⌉ shards, which at 100 TB means ~n/√k rows per task, a
    * straggler and an OOM-shaped sort — then a (centroid_id, id) sort
    * for row-group clustering, and `partitionBy(shard_id)` directory
    * layout: the contract probePrunedScan's directory pruning and
    * row-group skipping assume, enforced by a single body rather than
    * four hand-copies that could drift. The exchange has two shapes:
    *   - build, maintain and the coded siblings (`mode` "overwrite"): a
    *     fixed salted repartition into [[writePartitions]] partitions,
    *     the layout SkewSpec's mapper-granularity gate is about;
    *   - append: a REBALANCE over the same keys with the same count as
    *     its INITIAL partition number. Under AQE the exchange coalesces
    *     a small batch into a few tasks (about one file per touched
    *     shard instead of one per salt per shard), and still splits a
    *     large one to the advisory partition size — the salt plus
    *     `OptimizeSkewInRebalancePartitions` keep a hot shard from
    *     becoming one straggler task. Spark ignores the hint with AQE
    *     off, so there the append takes the fixed repartition itself
    *     and writes the same files as before.
    */
  private[graft] def writeVectors(df: DataFrame, idCol: String,
      numShards: Int, path: String, mode: String): Unit = {
    val spark = df.sparkSession
    val conf = spark.sessionState.conf
    val shuffleParts = conf.numShufflePartitions
    // SCALE.md §r11-skew mapper-granularity finding: with one salt,
    // each shard partition is written by a single task as ONE file, so
    // a hot centroid cell becomes a single scan split that AQE's
    // OptimizeSkewedJoin cannot subdivide at annJoin time — the salted
    // write is exactly what gives AQE mapper granularity to split.
    // VERDICT r16 #4 upgraded the old log-warning to an AUTO-RAISE:
    // when the session's shuffle parallelism is at or below the shard
    // count (guaranteed at the ≥1M tier, where numShards=⌈√k⌉ ≈ 64+
    // exceeds a 32-core default), raise the write's partition count to
    // numShards × 4 instead of degrading. salts=4 (not 2) because the
    // hash of (shard, salt) into writeParts partitions can collide two
    // salts of one shard into the same task — with 4 the chance a
    // shard still lands as a single file is (1/writeParts)³ ≈ never.
    val salts = writeSalts(shuffleParts, numShards)
    val writeParts = writePartitions(shuffleParts, numShards)
    val salt = pmod(xxhash64(col(idCol)), lit(salts))
    // Spark drops the REBALANCE hint when AQE is off, so only an append
    // under AQE takes it; every other write is the fixed repartition
    val rebalanced = mode == "append" && conf.adaptiveExecutionEnabled
    // the note describes a write that really runs writeParts tasks: a
    // rebalanced append under AQE coalescing only STARTS from that count
    if (shuffleParts <= numShards &&
        !(rebalanced && conf.coalesceShufflePartitionsEnabled)) {
      val msg = s"writeVectors: spark.sql.shuffle.partitions=" +
        s"$shuffleParts <= numShards=$numShards — auto-raised the " +
        s"shard write to $writeParts partitions ($salts salts/shard) " +
        "so hot centroid cells keep mapper granularity for AQE skew " +
        "splitting (SCALE.md §r11-skew)"
      lastWriteParallelismWarning = Some(msg)
      // WARN, not INFO (ADVICE r17): the session is still misconfigured
      // even though the write now self-heals, and operators running at
      // WARN (including this repo's own harnesses via setLogLevel(WARN))
      // must see both the misconfiguration and its numShards×4 partition
      // cost.
      log.warn(msg)
    }
    val exchanged =
      if (rebalanced)
        // the hint takes plain columns only: the salt rides as a column
        // through the exchange and is dropped after it, so appended
        // files keep the layout schema
        df.withColumn("__write_salt", salt)
          .hint("rebalance", writeParts, col("shard_id"), col("__write_salt"))
          .drop("__write_salt")
      else df.repartition(writeParts, col("shard_id"), salt)
    val prepared = exchanged.sortWithinPartitions(col("centroid_id"), col(idCol))
    if (mode == "append")
      // the crash-guarded commit path: purge + v1 pin in one body, so
      // an append-mode clustered write can never take one half of the
      // contract without the other (VERDICT r17 #8)
      appendWithCrashGuard(prepared, path)(_.partitionBy("shard_id"))
    else
      prepared.write.mode(mode)
        // v1 pinned on overwrite too: not for crash recovery (overwrite
        // replaces the dir wholesale) but so build/maintain and append
        // produce files under one committer algorithm — mixed-algorithm
        // dirs complicate any future debris forensics for zero benefit
        .option(CommitterV1Key, "1")
        .partitionBy("shard_id")
        .parquet(path)
  }

  /** Hadoop conf key pinned to v1 on every lease-protected append-mode
    * write — see [[purgeCommitterDebris]] for why v2 would reopen the
    * kill -9 partial-batch window.
    */
  private[graft] val CommitterV1Key =
    "mapreduce.fileoutputcommitter.algorithm.version"

  /** Salts per shard for the sharded write (pure — property-gated in
    * SkewSpec): ⌈shuffleParts / numShards⌉ in the healthy regime, 4 in
    * the degenerate one (shuffleParts ≤ numShards), so numShards ×
    * salts ≥ shuffleParts always (write parallelism never below the
    * session's) and every shard keeps ≥2 expected files for AQE mapper
    * granularity.
    */
  private[graft] def writeSalts(shuffleParts: Int, numShards: Int): Int =
    if (shuffleParts > numShards)
      math.ceil(shuffleParts.toDouble / numShards).toInt
    else 4

  /** Partition count for the sharded write (pure — property-gated in
    * SkewSpec/PropertySpec beside [[writeSalts]]). Healthy regime
    * (shuffleParts > numShards): exactly the session's shuffleParts —
    * the historical layout, bit-identical file counts for existing
    * deployments even when shuffleParts is not a multiple of numShards
    * (ADVICE r17: the r17 auto-raise had silently changed 33 parts /
    * 8 shards from 33 to 40 write partitions). Degenerate regime: the
    * auto-raise, numShards × salts.
    */
  private[graft] def writePartitions(shuffleParts: Int, numShards: Int): Int =
    if (shuffleParts > numShards) shuffleParts
    else numShards * writeSalts(shuffleParts, numShards)

  /** Routing-table sidecar write (replaces bincode index.bin — S5/S6). */
  private def writeSidecar(spark: SparkSession,
      centroids: Array[Array[Float]], centroidToShard: Array[Int],
      seed: Long, idCol: String, embCol: String, indexDir: String): Unit = {
    import spark.implicits._
    centroids.indices
      .map(i => (i, centroidToShard(i), centroids(i).toSeq))
      .toDF("centroid_id", "shard_id", "centroid")
      .withColumn("build_seed", lit(seed)) // metadata append() needs back
      .withColumn("id_col", lit(idCol))   // ...and the layout columns
      .withColumn("emb_col", lit(embCol))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$indexDir/centroids")
  }

  /** Build the index from an embeddings DataFrame.
    *
    * @param df     input table
    * @param idCol  unique row id (external_id in reference terms)
    * @param embCol ArrayType(FloatType) embedding column
    * @param onStage stage-attribution hook (VERDICT r10 #5): called with
    *                (stage, seconds) after each build stage completes —
    *                count, pool_train, assign_count, shard_model,
    *                shard_write, sidecar. Default no-op; perfbench's
    *                `--trace 1` passes a recorder so the
    *                100×-scale story names WHICH stage a cluster
    *                parallelizes instead of one opaque build number.
    */
  def build(df: DataFrame, idCol: String, embCol: String, indexDir: String,
      seed: Long = 42L,
      onStage: (String, Double) => Unit = (_, _) => ()): Index = {
    val spark = df.sparkSession
    def staged[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      onStage(name, (System.nanoTime() - t0) / 1e9)
      r
    }
    val n = staged("count")(df.count())
    require(n > 0, "cannot build an index from an empty table") // src/api.rs empty-build error
    val k = KMeans.numClusters(n)
    val iters = KMeans.maxIterations(n)
    val model = staged("pool_train")(
      KMeans.fit(df, embCol, k, iters, seed, orderCol = Some(idCol),
        knownCount = Some(n)))
    // P1 on the direct-build path, enforced map-side in the assignment
    // pass — the same raise_error guard append applies: without it a
    // NULL embedding NPEs deep in the assignment UDF AFTER training
    // already ran, and a short one is silently assigned by prefix
    // distance into a wrong cluster (the facade pre-validates; direct
    // Ivf.build callers must get the same contract)
    val dim = model.centroids(0).length
    val checked = df.withColumn(embCol,
      when(col(embCol).isNull || size(col(embCol)) =!= dim,
        raise_error(concat(lit(s"build: embedding dimension != $dim for id="),
          col(idCol).cast("string"))))
        .otherwise(col(embCol)))

    // full assignment (map-side, broadcast centroids, no shuffle).
    // persisted: both the counts collect and the partitioned write below
    // consume it — without the barrier the (hierarchical) assignment UDF
    // runs over the full table twice. Unpersisted in a finally: a build
    // failing mid-write (e.g. the dimension raise_error firing in the
    // corpus pass) must not leak a corpus-sized cache entry for the
    // life of the JVM (the r15 retry-poisoning class, memory edition).
    val assigned = KMeans
      .withAssignment(checked, embCol, model, seed, "raw_centroid_id")
      .persist()
    val (centroids, centroidToShard) =
      try {
        // drop empty clusters, re-densify ids in ascending raw-id order
        // (P2, src/ivf_index.rs:122-146)
        val counts = staged("assign_count")(
          assigned.groupBy("raw_centroid_id").count()
            .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap)
        val nonEmpty =
          (0 until model.k).filter(c => counts.getOrElse(c, 0L) > 0L)
        val remap = nonEmpty.zipWithIndex.toMap // raw -> dense
        val centroids = nonEmpty.map(model.centroids(_)).toArray

        // super-k-means over surviving centroids → shards
        // (num_shards = ⌈√k⌉, 100 iters, seed*31+7 — src/ivf_index.rs:104-109)
        val numShards =
          math.max(1, math.ceil(math.sqrt(centroids.length.toDouble)).toInt)
        val centroidToShard = staged("shard_model") {
          val sm = KMeans.trainDriver(centroids, numShards, 100, seed * 31 + 7)
          centroids.map(c => KMeans.nearest(c, sm.centroids)._1)
        }

        // persist vectors partitioned by shard, clustered by centroid, so
        // probe filters prune directories and row-groups. Both remaps are
        // literal-array element_at lookups (whole-stage codegen, no boxing)
        // rather than UDFs — this is the one pass over the FULL corpus on
        // the write path. Empty raw ids hold sentinel -1 but are
        // unreachable: a raw id reaches this projection only if some row
        // was assigned to it, which is the non-emptiness condition.
        val rawToDense = Array.fill(model.k)(-1)
        for ((raw, dense) <- remap) rawToDense(raw) = dense
        staged("shard_write")(writeVectors(
          assigned
            .withColumn("centroid_id",
              element_at(typedLit(rawToDense.toSeq), col("raw_centroid_id") + 1))
            .withColumn("shard_id",
              element_at(typedLit(centroidToShard.toSeq), col("centroid_id") + 1))
            .drop("raw_centroid_id"),
          idCol, numShards, s"$indexDir/vectors", "overwrite"))
        (centroids, centroidToShard)
      } finally assigned.unpersist()

    staged("sidecar")(
      writeSidecar(spark, centroids, centroidToShard, seed, idCol, embCol,
        indexDir))

    Index(s"$indexDir/vectors", centroids, centroidToShard, seed = seed,
      idCol = idCol, embCol = embCol)
  }

  /** Incrementally add vectors to an EXISTING index without retraining:
    * assign each new row to its nearest existing centroid (map-side,
    * broadcast routing table — the same assignment kernel as build),
    * then append into the same `partitionBy(shard_id)` layout through
    * [[writeVectors]]' rebalanced append exchange, which AQE sizes to
    * the batch (a small batch writes about one file per touched shard,
    * a large one splits to the advisory partition size). Routing table
    * and clustering are unchanged, so search code — probe selection,
    * pruning, top-k — works on the union transparently. This is the
    * daily-increment path at 100 TB: one map-side pass over the new
    * data, zero touch of the existing files (parquet append adds files
    * per partition directory; compaction can re-sort row groups offline
    * if needed).
    *
    * Centroids drift as data grows — the quality contract is the same
    * as faiss's add-after-train: recall stays good while increments
    * resemble the training distribution; retrain when they don't.
    */
  def append(index: Index, df: DataFrame, idCol: String,
      embCol: String): Unit = {
    val spark = df.sparkSession
    // the batch's id and embedding columns must BE the layout's:
    // writeVectors writes the frame as-is, so a differently-named column
    // would append schema-drifted files that every later scan unions
    // into NULLs — fail here by name instead
    for ((what, batchCol, layoutCol) <- Seq(("id", idCol, index.idCol),
        ("embedding", embCol, index.embCol)))
      require(batchCol == layoutCol,
        s"append: batch $what column '$batchCol' != the index's $what " +
          s"column '$layoutCol' — rename the batch column " +
          s"(withColumnRenamed) so appended files match the layout schema")
    // crash-recover / fail-fast BEFORE the write: parquet append would
    // happily recreate a missing vectors dir containing only this
    // batch — the silent near-empty-index failure shape
    requireLiveLayout(spark, index, "append")
    val dim = index.centroids(0).length
    val model = KMeans.Model(index.centroids)
    // dimension mismatch is an ERROR (reference P1 semantics), enforced
    // map-side in the same pass — not a silent filter, not a pre-count.
    // All other input columns pass through so appended files keep the
    // schema of the built files (caller contract: same input schema).
    val checked = df.withColumn(embCol,
      when(col(embCol).isNull || size(col(embCol)) =!= dim,
        raise_error(concat(lit(s"append: embedding dimension != $dim for id="),
          col(idCol).cast("string"))))
        .otherwise(col(embCol)))
    // writer lease held for the write: an async [[maintain]] compact
    // cannot swap the directory out from under a mid-flight append (its
    // delta merge sees only whole committed files), and a new append
    // waits out a maintenance swap instead of racing it. Two metadata
    // ops per batch when uncontended.
    val leasePath = writerLeasePath(index)
    val fs = leasePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    FsLease.withLease(fs, leasePath, s"append@${java.util.UUID.randomUUID()}",
      index.config.leaseStaleTtlMs, index.config.leaseTimeoutMs) {
      // debris purge + committer pin live inside writeVectors'
      // append-mode branch (appendWithCrashGuard) — this body only
      // holds the lease and shapes the batch
      writeVectors(
        KMeans.withAssignment(checked, embCol, model, index.seed, "centroid_id")
          .withColumn("shard_id",
            element_at(typedLit(index.centroidToShard.toSeq),
              col("centroid_id") + 1)),
        idCol, index.numShards, index.vectorsPath, "append")
    }
  }

  /** Purge a crashed writer's committer debris — the `_temporary` tree
    * a kill -9 mid-append leaves under an append-mode output dir. MUST
    * be called while HOLDING the dir's writer lease: a live writer
    * would hold the lease, so any `_temporary` present is from a dead
    * JVM. Without the purge the damage is not hypothetical:
    * FileOutputCommitter v1's job commit merges EVERY task_* dir under
    * `_temporary/0`, so the NEXT append's commit would promote the
    * dead job's task-committed files into the dataset — a silent
    * partial batch (CrossJvmStressSpec's kill gate measured 173,987 of
    * 400,000 rows resurrected before this fix). Failing to delete
    * found debris fails the write loudly: proceeding would risk
    * exactly that resurrection.
    *
    * Zombie interaction: a STALLED (not dead) writer whose lease was
    * broken after the stale TTL may still hold task attempts under the
    * `_temporary` this purge deletes — its write then FAILS (missing
    * attempt dir) instead of committing a batch into a dataset another
    * writer has since modified. Loud failure is the correct arm of
    * that residual window (the same zombie class the heartbeat doc
    * accepts); the zombie's caller retries against the new state.
    *
    * ASSUMES committer algorithm v1 (task commits quarantined under
    * `_temporary` until job commit). [[appendWithCrashGuard]] — the one
    * caller — pins it per-write via [[CommitterV1Key]] in the same body
    * as this purge — under v2 a killed writer's task commits land
    * directly in the output dir and there is nothing here to purge.
    *
    * fs.exists returns false for a missing parent dir without throwing;
    * an IOException from it is a REAL filesystem fault, and proceeding
    * past one would silently re-open the resurrection window — so it
    * propagates and fails the write loudly, same policy as the
    * failed-delete arm below (ADVICE r16 low).
    */
  private def purgeCommitterDebris(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(dir, "_temporary")
    if (fs.exists(tmp) && !fs.delete(tmp, true))
      throw new IllegalStateException(
        s"cannot purge crashed-writer debris at $tmp — appending over " +
          "it would let the committer resurrect the dead job's partial " +
          "batch; remove it and retry")
  }

  /** The ONE append-mode parquet commit path (VERDICT r17 #8): every
    * append into a live dataset dir MUST (a) purge a dead writer's
    * committer debris first and (b) pin FileOutputCommitter v1 for the
    * write — taking either half without the other reopens the kill -9
    * partial-batch window ([[purgeCommitterDebris]] for (a); for (b),
    * under algorithm.version=2 — a common perf config on the caller's
    * session — task commits land directly in the output dir and are
    * immediately visible, the exact silent-partial-batch class the
    * purge closes; the v2-configured-child kill gate in
    * CrossJvmStressSpec proves the per-write pin wins). The
    * DataFrameWriter option is merged into the job's hadoop conf
    * (newHadoopConfWithOptions), so the pin cannot leak into the
    * caller's other writes.
    *
    * MUST be called while HOLDING the target dir's writer lease (same
    * precondition as the purge: only a dead JVM's `_temporary` may
    * exist under the lease). `configure` customizes the writer
    * (e.g. partitionBy) without being able to unset mode or the pin —
    * options set after it would merge, and mode("append") re-asserted
    * here is the final word only because configure runs FIRST.
    */
  private def appendWithCrashGuard(df: DataFrame, path: String)(
      configure: org.apache.spark.sql.DataFrameWriter[
        org.apache.spark.sql.Row] => org.apache.spark.sql.DataFrameWriter[
        org.apache.spark.sql.Row]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    purgeCommitterDebris(fs, path)
    configure(df.write)
      .mode("append").option(CommitterV1Key, "1")
      .parquet(path)
  }

  /** The index directory: the parent of `vectors/`, where the leases,
    * the tombstone sidecar, the materialized marker, the sibling
    * registry and the swap dirs live beside it. The layout invariant is
    * guarded because a mis-derived path would write those INSIDE the
    * partitioned dataset and corrupt scans.
    */
  private def indexDir(index: Index): String = {
    require(index.vectorsPath.endsWith("/vectors"),
      s"index vectorsPath must end in /vectors (got ${index.vectorsPath})")
    index.vectorsPath.stripSuffix("/vectors")
  }

  /** Lease fencing appends against [[maintain]]'s swap. */
  private[graft] def writerLeasePath(index: Index): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"${indexDir(index)}/__writer_lease")

  /** Lease serializing [[maintain]], the one rewrite-and-swap: two
    * concurrent directory swappers would race the renames, so the
    * second fails FAST by name instead.
    */
  private[graft] def maintainerLeasePath(index: Index): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"${indexDir(index)}/__maintain_lease")

  /** Tombstone sidecar location (sibling of `vectors/`). */
  private def tombstonesPath(index: Index): String =
    s"${indexDir(index)}/tombstones"

  /** Delete vectors by external id — the faiss `remove_ids` analog, in
    * merge-on-read form: ids append to a tombstone sidecar (one file
    * per delete batch, no touch of the data files) and every search
    * path — float AND the PQ/SQ8 coded siblings — filters them inside
    * its scan: the sidecar is read once per change into a sorted id
    * set, broadcast, and probed per row ([[Snapshot.liveRows]]). Every
    * read re-lists the sidecar, so a delete is visible to the very next
    * read in any JVM — no TTL, the same freshness rule as
    * [[graft.Tables.loadArtifact]]. The tombstone set is id-sized (~8 MB
    * per million Long ids, as parquet and as the broadcast `long[]`);
    * only [[clearTombstones]] shrinks it — [[maintain]] keeps the sidecar
    * — so it holds every delete since the last clear. At 100 TB this is
    * the only viable delete: rewriting shards per delete would be a
    * full-table write for a row-sized change.
    *
    * Contract: a tombstone hides the id on every path — including a
    * subsequent `append` of the same id — until the sidecar is
    * CLEARED. [[maintain]] materializes deletes into the rewritten
    * float files but leaves the sidecar in place, because coded
    * sibling datasets built BEFORE the deletes still contain the
    * deleted rows. Sibling builds read the live view themselves, so
    * the order of compaction vs sibling rebuilds is free; the one rule
    * is that [[clearTombstones]] comes LAST — after a compacting
    * [[maintain]] AND a rebuild of every coded sibling that predates
    * the deletes.
    */
  def delete(spark: SparkSession, index: Index, ids: Seq[Long]): Unit = {
    import spark.implicits._
    require(ids.nonEmpty, "delete: empty id list")
    writeTombstones(spark, index, ids.toDF("__deleted_id").coalesce(1))
  }

  /** The ONE sidecar-append body, writer-lease fenced: a tombstone file
    * committing in the instant between [[clearTombstones]]' fingerprint
    * verification and its recursive delete would be silently LOST (the
    * clear was verified against a listing that predates it) — with the
    * fence, a delete either lands before the clear's verification (and
    * fails it by fingerprint, refusing the clear) or after its release
    * (recreating the sidecar fresh). Three metadata ops per delete
    * batch (lease create/release + the debris-purge existence check),
    * the same price append pays for the same guarantees. Nothing is
    * published to readers beyond the committed file: the new file
    * changes the sidecar fingerprint every read lists ([[Snapshot]]).
    */
  private def writeTombstones(spark: SparkSession, index: Index,
      out: DataFrame): Unit = {
    val leasePath = writerLeasePath(index)
    val fs = leasePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    FsLease.withLease(fs, leasePath,
      s"delete@${java.util.UUID.randomUUID()}", index.config.leaseStaleTtlMs,
      index.config.leaseTimeoutMs) {
      // same resurrection hazard as append: a killed delete's
      // task-committed tombstone files must not be promoted by the
      // next delete batch's job commit — purge + v1 pin via the one
      // guarded commit path
      appendWithCrashGuard(out, tombstonesPath(index))(identity)
    }
  }

  /** [[delete]] over a DataFrame of ids — the streaming/bulk form: the
    * id set flows into the sidecar without visiting the driver (a
    * delete feed at production cadence is itself a stream; collecting
    * it to a Seq caps it at driver memory). Ids are cast to long and
    * deduplication is NOT applied — the scan filter probes the
    * distinct id set, so duplicates hide nothing extra, and a delete
    * batch is typically already distinct.
    * Shares [[writeTombstonesBounded]] with [[deleteWhere]] (ADVICE
    * r14: the previous `coalesce(1)` here propagated a single-task
    * partition count up through the caller's whole upstream plan — the
    * exact coalesce trap deleteWhere documents), so it pays the same
    * one count job and returns the id count like its twin.
    */
  def delete(spark: SparkSession, index: Index, ids: DataFrame,
      idCol: String): Long =
    writeTombstonesBounded(spark, index,
      ids.select(col(idCol).cast("long").as("__deleted_id")))

  /** The ONE bounded-output sidecar append shared by every DataFrame-
    * shaped tombstone writer: persist is LOAD-BEARING for parallelism,
    * not just reuse — the coalesce below would otherwise propagate its
    * narrow partition count up through the WHOLE upstream plan (the
    * classic coalesce trap — a 100 TB filter running in ≤64 tasks);
    * with the cache, count() materializes the id set at full scan
    * parallelism and the write merely merges cached partitions. Output
    * is bounded ≤64 files (~3M Long ids ≈ 24 MB parquet per partition)
    * without a single-task funnel on huge deletes. Returns the id count.
    */
  private def writeTombstonesBounded(spark: SparkSession, index: Index,
      out: DataFrame): Long = {
    val ids = out.persist()
    // unpersist in finally, not in-line (r15 interleaving gate): a scan
    // racing a maintain swap fails transiently, and a leaked cache entry
    // would PLAN-MATCH the caller's retry (same canonical plan) and pin
    // it to the pre-swap file listing — turning one documented transient
    // into a permanent failure until the cache is dropped
    try {
      val n = ids.count()
      if (n > 0)
        writeTombstones(spark, index, ids.coalesce(tombstonePartitions(n)))
      n
    } finally ids.unpersist()
  }

  /** Sidecar output partition count for an n-id delete batch: ~3M Long
    * ids (≈24 MB as parquet) per file, capped at 64 files so the
    * broadcast read side stays a bounded listing regardless of delete
    * volume. Pure — unit-gated across the volume range in IvfSpec.
    */
  private[graft] def tombstonePartitions(n: Long): Int =
    math.max(1, math.min(64, (n / 3000000L).toInt))

  /** Distributed bulk delete: tombstone every LIVE row matching
    * `predicate` (over the vectors dataset's own columns — id, metadata
    * passthroughs, centroid/shard). The id set flows scan → filter →
    * sidecar append without ever visiting the driver, which is the
    * shape a compliance delete takes at 100 TB ("remove every row from
    * source X") — [[delete]]'s Seq[Long] form is for driver-known ids
    * only. Matching rows already tombstoned are skipped (live view), so
    * repeated calls don't grow the sidecar unboundedly. Returns the
    * number of newly tombstoned ids (one count job — this is an
    * explicit bulk operation, not a hot-path probe).
    */
  def deleteWhere(spark: SparkSession, index: Index,
      predicate: org.apache.spark.sql.Column): Long =
    writeTombstonesBounded(spark, index,
      liveVectors(spark, index)
        .where(predicate)
        .select(col(index.idCol).cast("long").as("__deleted_id")))

  /** Drop the tombstone sidecar — the final step of the delete
    * lifecycle, once a compacting [[maintain]] + coded-sibling rebuild
    * has materialized the deletes everywhere. Readers need no notice:
    * every read's [[Snapshot]] re-lists the sidecar, so the next read in
    * any JVM stops filtering.
    *
    * The precondition is VERIFIED, not trusted (VERDICT r13 #7): the
    * documented rule — clear LAST, after a compaction and a rebuild of
    * every coded sibling that predates the deletes — used to rest on
    * caller ordering, and a mis-ordered clear silently RESURRECTS
    * deleted rows (often compliance-motivated deletes) on whichever
    * path still physically holds them. Now:
    *
    *  - [[maintain]] records the tombstone-sidecar fingerprint it
    *    materialized ([[writeMaterializedMarker]]); a clear whose
    *    current fingerprint has no matching marker means the newest
    *    delete was never compacted into the float files — refused by
    *    name;
    *  - sibling builds ([[IvfPq.buildCodes]], [[IvfPq.buildResidualCodes]],
    *    [[IvfSq.buildCodes]]) register the fingerprint they were built
    *    under ([[registerSibling]]); a registered sibling that still
    *    exists but predates the newest tombstone is refused by path.
    *
    * `force = true` skips both checks — the operational escape for an
    * operator who has verified the lifecycle out of band (e.g. a
    * sibling dataset intentionally retired without deleting its files).
    */
  def clearTombstones(spark: SparkSession, index: Index,
      force: Boolean = false): Unit = {
    val path = new org.apache.hadoop.fs.Path(tombstonesPath(index))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // verification + delete under the WRITER lease: without it, a
    // delete batch committing between the fingerprint listing below and
    // the recursive delete would be destroyed unverified (see
    // writeTombstones — the two fence each other)
    FsLease.withLease(fs, writerLeasePath(index),
      s"clear@${java.util.UUID.randomUUID()}", index.config.leaseStaleTtlMs,
      index.config.leaseTimeoutMs) {
      val fp = snapshot(spark, index).tombFp
      if (fp.nonEmpty && !force) {
        if (!materializedMarker(fs, index).exists(_._1 == fp))
          throw new IllegalStateException(
            s"clearTombstones: no compact postdates the newest tombstone " +
              s"of ${tombstonesPath(index)} — clearing now would resurrect " +
              "deleted ids on the float search path (the rewritten files " +
              "do not yet exclude them). Run maintain first, or pass " +
              "force = true if the float layout " +
              "was rebuilt out of band.")
        val stale = listSiblings(fs, index).filter { case (p, sfp) =>
          sfp != fp && fs.exists(new org.apache.hadoop.fs.Path(p))
        }
        if (stale.nonEmpty)
          throw new IllegalStateException(
            s"clearTombstones: coded sibling dataset(s) " +
              s"${stale.map(_._1).mkString(", ")} were built before the " +
              "newest tombstone and still physically contain the deleted " +
              "rows — rebuild them (or delete their files) first, or pass " +
              "force = true.")
      }
      fs.delete(path, true)
      fs.delete(materializedMarkerPath(index), false)
    }
  }

  /** One listing of an index, taken once per call: the committed files
    * of the dataset the call reads (the float `vectors/`, or a coded
    * sibling in its layout at `path`) and of the tombstone sidecar, each
    * with its [[FsList.fingerprint]]. The relation memo is keyed on
    * [[dataFp]] and [[tombstoneSets]] on [[tombFp]], so a delete never
    * rebuilds the relation, and a call's scan and its tombstone filter
    * agree. Each half is listed once, on first use: a search lists each
    * directory once and opens no file. One consistent listing per call,
    * not isolation from a [[maintain]] swap.
    */
  private[operators] final class Snapshot(val spark: SparkSession,
      val index: Index, path: String) {
    private def committed(dir: String, keep: FileStatus => Boolean) = {
      val root = new Path(dir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files = FsList.files(fs, root).filter(keep)
      (files, FsList.fingerprint(fs, root, files), fs)
    }
    lazy val (dataFiles, dataFp, _) = committed(path, _ => true)
    /** The sidecar's parquet files, their fingerprint ("" for none; the
      * marker and registry record it) and the index directory's FS.
      */
    lazy val (tombFiles, tombFp, fs) = committed(tombstonesPath(index),
      _.getPath.getName.endsWith(".parquet"))

    /** The dataset's memoized lazy relation. */
    def relation: DataFrame = graft.Tables.loadArtifact(spark, path,
      Some(dataFp).filter(_.nonEmpty))

    /** Live-row filter: drops every row whose id (cast to bigint) is in
      * the tombstone set, as a predicate inside the scan — no join, no
      * exchange, and no job beyond the scan itself. The set is the
      * sorted distinct ids of exactly [[tombFiles]], read once per
      * fingerprint ([[tombstoneSet]]) and shipped as one broadcast; a
      * NULL id is never hidden, and NULL or duplicate tombstone rows
      * hide nothing extra. Every search path reads through it — float
      * and the IvfPq/IvfSq coded siblings alike. Each call lists anew,
      * with no TTL, so a delete or clear committed by any JVM is seen by
      * the next call. A sidecar with no committed data file (absent,
      * cleared, or only a killed delete's `_temporary`) hides nothing.
      */
    def liveRows(df: DataFrame, idCol: String): DataFrame =
      if (tombFp.isEmpty) df
      else df.where(graft.functions.NotTombstoned.col(col(idCol),
        tombstoneSet(this).shipped))
  }

  /** A [[Snapshot]] of the index's float dataset. */
  private[operators] def snapshot(spark: SparkSession, index: Index): Snapshot =
    new Snapshot(spark, index, index.vectorsPath)

  /** Marker recording the tombstone fingerprint the last compact
    * materialized into the float files — sibling of `vectors/`, like
    * the leases. Its presence-with-matching-fingerprint is what lets
    * [[MaintenanceStats.compactRecommended]] converge (tombstone debt
    * is flagged until ONE compact pays it, not forever) and what
    * [[clearTombstones]] verifies.
    */
  private def materializedMarkerPath(index: Index): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"${indexDir(index)}/__tombstones_materialized")

  private def writeMaterializedMarker(fs: org.apache.hadoop.fs.FileSystem,
      index: Index, fp: String, count: Long): Unit = {
    val out = fs.create(materializedMarkerPath(index), true)
    try out.write(s"$count\n$fp"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** (materialized fingerprint, materialized id count), if recorded. */
  private def materializedMarker(fs: org.apache.hadoop.fs.FileSystem,
      index: Index): Option[(String, Long)] =
    try {
      val in = fs.open(materializedMarkerPath(index))
      val content =
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      content.split("\n", 2) match {
        case Array(n, fp) if n.forall(_.isDigit) && n.nonEmpty =>
          Some((fp, n.toLong))
        case _ => None // unreadable marker reads as "not materialized"
      }
    } catch { case _: java.io.IOException => None }

  /** Coded-sibling registry (`__siblings/` beside the sidecars): each
    * sibling build records (its path, the tombstone fingerprint it was
    * built under) so [[clearTombstones]] can verify every registered
    * sibling postdates the newest delete. One tiny file per sibling
    * path (name = hash of the path → rebuilds overwrite in place).
    */
  private def registerSibling(spark: SparkSession, index: Index,
      siblingPath: String, fp: String): Unit = {
    val dir = siblingsDir(index)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    // full SHA-256 of the path: a (vanishingly unlikely) filename
    // collision would OVERWRITE another sibling's registration and
    // mask it from the clearTombstones check — the unsafe direction,
    // so the name must be collision-free, not merely well-spread
    val name = java.security.MessageDigest.getInstance("SHA-256")
      .digest(siblingPath.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, s"sib_$name"), true)
    try out.write(s"$siblingPath\n$fp"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The ONE coded-sibling write ([[IvfPq.buildCodes]],
    * [[IvfPq.buildResidualCodes]], [[IvfSq.buildCodes]]): `encode` maps
    * the LIVE float view (tombstones filtered, so a rebuild anywhere in
    * the delete lifecycle never resurrects a deleted row) to frames
    * carrying `codeCols`, written in the float layout. The order is the
    * safety property [[clearTombstones]] relies on: the tombstone
    * fingerprint is captured BEFORE the encode reads the live view and
    * registered AFTER the write commits, so a delete racing the build
    * leaves the registration stale — read as "this sibling predates the
    * newest tombstone", the safe direction.
    */
  private[operators] def writeSibling(spark: SparkSession, index: Index,
      outPath: String, codeCols: Seq[String])(
      encode: DataFrame => DataFrame): Unit = {
    val id = index.idCol
    val s = snapshot(spark, index)
    writeVectors(
      encode(s.liveRows(s.relation, id)) // lists the sidecar first
        .select((Seq("shard_id", "centroid_id", id) ++ codeCols).map(col): _*),
      id, index.numShards, outPath, "overwrite")
    registerSibling(spark, index, outPath, s.tombFp)
  }

  private def siblingsDir(index: Index): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"${indexDir(index)}/__siblings")

  private def listSiblings(fs: org.apache.hadoop.fs.FileSystem,
      index: Index): Seq[(String, String)] = {
    val dir = siblingsDir(index)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.filter(_.isFile).flatMap { st =>
      val content =
        try {
          val in = fs.open(st.getPath)
          try Some(new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8))
          finally in.close()
        } catch { case _: java.io.IOException => None } // racing rewrite
      content.flatMap(_.split("\n", 2) match {
        case Array(p, f) => Some((p, f))
        case _ => None
      })
    }
  }

  /** The probe-pruned scan shared by every single-query search path
    * (float vectors and coded siblings alike): shard directory pruning
    * + chunked centroid row-group predicates ([[Pushdown]]) over the
    * dataset's memoized lazy relation ([[Snapshot.relation]] — no footer
    * schema inference while its files are unchanged). Probe-all
    * (probes = every centroid) drops the centroid predicate entirely —
    * it is a tautology there, and at corpus-scale k the ⌈k/256⌉ chunk
    * arms would each re-scan what the shard pruning already admits.
    */
  private[operators] def probePrunedScan(spark: SparkSession, rel: DataFrame,
      probes: Seq[Int], shards: Seq[Int], k: Int): DataFrame =
    if (probes.length >= k) rel.where(col("shard_id").isin(shards: _*))
    else Pushdown.inChunks(spark, probes)(ps =>
      rel.where(col("shard_id").isin(shards: _*) &&
        col("centroid_id").isin(ps: _*)))

  /** Live (non-tombstoned) rows of the index's float dataset — the
    * view NON-search consumers (index stats, dedup bucketing) should
    * read, so deleted vectors don't leak through side surfaces either.
    */
  def liveVectors(spark: SparkSession, index: Index): DataFrame = {
    val s = snapshot(spark, index)
    s.liveRows(s.relation, index.idCol)
  }

  /** Write the materialization marker for `before.index` iff a fresh
    * listing of the sidecar still fingerprints `before.tombFp`. Skipped
    * — safe-conservative, the flag stays raised and the next cycle
    * re-pays — when a delete raced the rewrite (fingerprint moved) or a
    * clear raced the count job (the fingerprint's files vanished
    * mid-read; the marker would be moot, clear deletes it anyway).
    * Marker absence can only cost an extra compact, never a wrong
    * clear, so failures here never abort a compaction that already
    * swapped successfully.
    */
  private def recordMaterialized(before: Snapshot): Unit =
    if (before.tombFp.nonEmpty &&
        snapshot(before.spark, before.index).tombFp == before.tombFp)
      try writeMaterializedMarker(before.fs, before.index, before.tombFp,
        tombstoneSet(before).rows)
      catch { case scala.util.control.NonFatal(_) => () }

  /** Crash recovery for [[maintain]]'s swap window: if a prior call
    * died between its two renames, the live `vectors/` directory
    * is missing and the ONLY copy of the data is the old directory at
    * `__compact_trash` (the first rename moves `vectors/` there
    * wholesale — shard subdirectories sit directly inside it, there is
    * no nested `vectors/`). Restore = rename it back; the
    * half-installed compacted copy under `__compact_scratch` is then
    * garbage (the next compact redoes that work from the restored
    * data — deterministic, and strictly safer than trying to finish a
    * swap whose rewrite predates an unknown amount of history).
    *
    * Idempotent and cheap (two metadata probes when healthy), so every
    * entry point that writes or inspects the layout runs it first:
    * [[maintain]] (before its trash cleanup — deleting the trash copy
    * on entry would destroy the recovery data), [[append]] and
    * [[maintenanceStats]] (before their missing-dir
    * guards — without this, append's parquet `mode("append")` would
    * silently recreate an EMPTY vectors dir, the next maintenance
    * would see a healthy tiny index, and searches would return
    * confidently wrong near-empty answers until the eventual compact
    * destroyed the real data). Returns true iff a restore happened.
    * A (dead) maintainer's lease reads as crashed rather than in-flight
    * once its mtime is older than the handle's
    * [[Config.leaseStaleTtlMs]], the horizon its writers use too.
    */
  def recoverFromCrashedCompact(spark: SparkSession, index: Index): Boolean =
    recoverImpl(spark, index, ownLease = false)

  /** [[recoverFromCrashedCompact]] for [[maintain]], which already
    * HOLDS the maintainer lease: its own fresh lease must not read as
    * "another maintainer is mid-swap".
    */
  private def recoverOwningLease(spark: SparkSession, index: Index): Boolean =
    recoverImpl(spark, index, ownLease = true)

  private def recoverImpl(spark: SparkSession, index: Index,
      ownLease: Boolean): Boolean = {
    val leaseStaleTtlMs = index.config.leaseStaleTtlMs
    val base = indexDir(index)
    val live = new org.apache.hadoop.fs.Path(index.vectorsPath)
    val trash = new org.apache.hadoop.fs.Path(s"$base/__compact_trash")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(live) || !fs.exists(trash)) false
    else {
      // a LIVE maintainer mid-swap produces exactly this state for an
      // instant — its fresh lease says "wait", not "crashed": yanking
      // the trash back here would break the in-flight swap. Wait out
      // the (sub-second) swap; restore only once the lease is absent or
      // stale. A maintainer that dies mid-swap therefore delays
      // recovery by at most the lease TTL — loud (callers fail by
      // name meanwhile), never wrong. Lease owners skip the wait: the
      // fresh lease is their own.
      val mLease = maintainerLeasePath(index)
      var waitedMs = 0L
      while (!ownLease && waitedMs < 60000L && !fs.exists(live) &&
          FsLease.isHeldFresh(fs, mLease, leaseStaleTtlMs)) {
        Thread.sleep(50); waitedMs += 50
      }
      if (fs.exists(live)) false // the swap completed
      else if (!ownLease && FsLease.isHeldFresh(fs, mLease, leaseStaleTtlMs))
        throw new IllegalStateException(
          s"recoverFromCrashedCompact: the vectors dir $live has been " +
            s"missing for ${waitedMs} ms while a fresh maintainer lease " +
            s"($mLease) is held — a swap is stuck or its holder died " +
            "within the lease TTL. Refusing to restore under a live " +
            "lease; retry after it releases or goes stale.")
      else {
        require(fs.rename(trash, live),
          s"recoverFromCrashedCompact: could not restore $trash to $live — " +
            "the index data is intact at the trash path; retry or restore " +
            "manually before any append/compact runs")
        fs.delete(new org.apache.hadoop.fs.Path(s"$base/__compact_scratch"),
          true)
        log.warn(s"recoverFromCrashedCompact: restored $live from $trash " +
          "(a prior maintain crashed between its swap renames)")
        true
      }
    }
  }

  /** Guard shared by the write/inspect entry points: attempt crash
    * recovery, then REFUSE to proceed if the vectors directory is still
    * absent — a missing layout with no trash copy means the index is
    * gone or the path is wrong, and silently recreating it (what
    * parquet `mode("append")` would do) turns that into wrong answers
    * instead of an error.
    */
  private def requireLiveLayout(spark: SparkSession, index: Index,
      op: String): Unit = {
    recoverFromCrashedCompact(spark, index)
    val live = new org.apache.hadoop.fs.Path(index.vectorsPath)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(live))
      throw new IllegalStateException(
        s"$op: index vectors directory ${index.vectorsPath} does not " +
          "exist and no __compact_trash copy was found to restore — " +
          "refusing to proceed (recreating it implicitly would serve a " +
          "near-empty index as if it were healthy). Rebuild the index " +
          "or fix the path.")
  }

  sealed trait MaintainOutcome
  /** Under the file-debt threshold — nothing rewritten. */
  case object MaintainSkipped extends MaintainOutcome
  /** Compacted and swapped; `deltaFilesMerged` files were appended
    * during the rewrite and carried into the new layout at swap time.
    */
  final case class MaintainCompacted(deltaFilesMerged: Int)
    extends MaintainOutcome

  /** Index maintenance — the ONE compaction of a live index. Every
    * `append` adds files per shard directory and interleaves
    * centroid_id ranges across them, degrading row-group pruning; when
    * [[MaintenanceStats.compactRecommended]] says so, the vectors
    * dataset is rewritten with EXACTLY the build's write shape (salted
    * parallelism, `partitionBy(shard_id)`, `centroid_id` clustering)
    * and swapped over the live one. The routing table is unchanged —
    * only the file layout is rebuilt — so search results are identical
    * before and after, and the caller's [[Index]] (whose `vectorsPath`
    * is unchanged) keeps serving. The O(index) rewrite runs
    * CONCURRENTLY with appends; only the swap is fenced:
    *
    *  1. takes the maintainer lease for the whole run (fail-fast — one
    *     maintainer at a time; the maintained ingest sink defers to a
    *     running one);
    *  2. takes one [[Snapshot]] (the trigger, the rewrite input and its
    *     tombstone filter all read it) and rewrites ONLY its live rows
    *     (`basePath` read keeps the partition column; tombstoned ids are
    *     dropped, so deletes materialize) into
    *     `__compact_scratch/vectors` — appends keep landing in the live
    *     dir meanwhile;
    *  3. takes the WRITER lease (waiting out at most one in-flight
    *     append — appends hold it for their write), then MERGES the
    *     delta (files committed after the snapshot) into the scratch
    *     layout by file COPY: delta files are whole committed parquet
    *     files in `shard_id=N/` partition dirs, so placing them into
    *     the scratch's matching dirs is exact (copy rather than rename
    *     so the originals ride into trash and stay recoverable — see
    *     the inline comment), and the snapshot ⊆ current check turns
    *     any lease-less rewrite into a named abort rather than row
    *     duplication;
    *  4. swaps scratch over live with two renames (live →
    *     `__compact_trash`, scratch → live) and releases both leases.
    *
    * Crash windows: before the first rename — only scratch garbage,
    * cleaned on the next call; between the renames — the live dir is
    * missing but intact at `__compact_trash`, and
    * [[recoverFromCrashedCompact]] renames it back as CODE: every entry
    * point that could otherwise observe or destroy the crashed state
    * (this method, [[append]], [[maintenanceStats]]) runs it first;
    * after the second rename — only trash/scratch garbage. Each read
    * takes one [[Snapshot]]: one consistent listing per call, not
    * isolation from this swap — a concurrent reader can still catch the
    * instant between the two renames and fail one scan. Retry-safe, but
    * true concurrent-swap isolation needs a versioned index manifest or
    * a transactional table format, the same boundary
    * [[graft.streaming.VectorsStreaming.appendVectorBatch]]
    * documents for exactly-once.
    *
    * The tombstone sidecar, the materialization marker and the
    * coded-sibling registry stay where they are: coded sibling datasets
    * built before the deletes still contain the deleted rows, so the
    * sidecar is carried until [[clearTombstones]] ends the lifecycle.
    * The rewrite records the tombstone fingerprint it materialized
    * ([[recordMaterialized]]), which drops the tombstone arm of
    * `compactRecommended`.
    *
    * An ingest loop's steady-batch latency is perturbed only by the
    * fence in step 3 — a listing, O(delta) copies and two directory
    * renames, independent of index size (measured in SCALE.md r13).
    *
    * @param betweenRenames test seam invoked between the two swap
    *   renames — the crash window above. Tests throw here to simulate
    *   a process death at the worst instant and then assert recovery.
    */
  def maintain(spark: SparkSession, index: Index,
      maxFilesPerShard: Int = 8,
      maxUnmaterializedTombstones: Long = 0L,
      beforeFence: () => Unit = () => (),
      betweenRenames: () => Unit = () => ()): MaintainOutcome = {
    val id = index.idCol
    val base = indexDir(index)
    val livePath = new org.apache.hadoop.fs.Path(index.vectorsPath)
    val fs = livePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    FsLease.withLease(fs, maintainerLeasePath(index),
      s"maintain@${java.util.UUID.randomUUID()}", index.config.leaseStaleTtlMs,
      timeoutMs = 0L) {
      recoverOwningLease(spark, index) // a crashed predecessor's state
      requireLiveLayout(spark, index, "maintain")
      // ONE snapshot serves the trigger, the rewrite input and its
      // tombstone filter: the marker may only claim tombstones whose
      // files the rewrite's filter definitely read — a delete racing the
      // rewrite leaves it unwritten and the next cycle pays the debt
      val before = snapshot(spark, index)
      // trigger MATCHES compactRecommended (VERDICT r13 #1): the
      // documented poll-recommend→maintain loop must converge, so
      // tombstone debt compacts here too — and because the compact
      // writes the materialization marker, recommended then goes false
      // instead of re-flagging the same (carried) sidecar forever
      if (!statsOf(before).compactRecommended(maxFilesPerShard,
        maxUnmaterializedTombstones)) MaintainSkipped
      else {
        val scratch = s"$base/__compact_scratch"
        val trash = new org.apache.hadoop.fs.Path(s"$base/__compact_trash")
        fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
        fs.delete(trash, true) // healthy here: recovery above would have
                               // restored a crashed swap before this point
        def parquetPaths(s: Snapshot): Set[String] = s.dataFiles.map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).map(_.toString).toSet
        val listed = parquetPaths(before)
        val snapshotDf = spark.read
          .option("basePath", index.vectorsPath)
          .parquet(listed.toSeq.sorted: _*)
        val scratchVectors = s"$scratch/vectors"
        writeVectors(before.liveRows(snapshotDf, id),
          id, index.numShards, scratchVectors, "overwrite")
        beforeFence() // test seam: appends racing the rewrite land here
        val merged = FsLease.withLease(fs, writerLeasePath(index),
          s"maintain-swap@${java.util.UUID.randomUUID()}",
          index.config.leaseStaleTtlMs, index.config.leaseTimeoutMs) {
          val current = parquetPaths(snapshot(spark, index))
          if (!listed.subsetOf(current)) {
            fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
            throw new IllegalStateException(
              "maintain: files from the rewrite snapshot vanished from " +
                "the live layout — a lease-less writer rewrote the index " +
                "during maintenance (merging would duplicate rows). The " +
                "index is untouched; quiesce the competing writer and " +
                "retry.")
          }
          val delta = (current -- listed).toSeq.sorted
          // listings return fully-qualified URIs (file:/…); qualify the
          // live path the same way before computing relative paths
          val prefix =
            fs.makeQualified(livePath).toString.stripSuffix("/") + "/"
          delta.foreach { f =>
            val rel = f.stripPrefix(prefix)
            require(rel != f, s"maintain: delta file $f is not under " +
              s"${index.vectorsPath}")
            val dest = new org.apache.hadoop.fs.Path(s"$scratchVectors/$rel")
            fs.mkdirs(dest.getParent)
            // COPY, not rename: the originals ride into trash with the
            // old directory and die only after a successful swap, so a
            // crash at ANY instant leaves every delta row in exactly
            // one recoverable place (a rename here would strand the
            // moved file in scratch, which the next entry deletes —
            // the same hazard class VERDICT r12 found in the swap).
            require(org.apache.hadoop.fs.FileUtil.copy(
              fs, new org.apache.hadoop.fs.Path(f), fs, dest,
              false, spark.sparkContext.hadoopConfiguration),
              s"maintain: could not merge appended file $f into the " +
                "compacted layout")
          }
          require(fs.rename(livePath, trash),
            s"maintain: could not move $livePath aside")
          betweenRenames() // test seam: the crash window
          require(fs.rename(new org.apache.hadoop.fs.Path(scratchVectors),
            livePath),
            s"maintain: could not install compacted vectors at $livePath — " +
              s"the previous layout is intact at $trash (the old vectors " +
              "directory itself; recoverFromCrashedCompact restores it)")
          delta.length
        }
        fs.delete(trash, true)
        fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
        recordMaterialized(before)
        MaintainCompacted(merged)
      }
    }
  }

  /** Maintenance posture of a live index — the decision input for the
    * compact-on-file-count rule SCALE.md round 12 measured (each
    * append adds ~one file per shard; ten appends made warm search
    * 2.3× slower until one compact reset it). Metadata-only: one
    * [[Snapshot]] (a recursive FS listing of the data files and one of
    * the tombstone sidecar) — the tombstone COUNT is memoized per sidecar
    * fingerprint (name/length/mtime of its files), so the steady-state
    * probe launches ZERO Spark jobs (the count job runs once per
    * sidecar change, not per poll — VERDICT r12 what's-wrong #2) and
    * it is genuinely safe to poll from an ingest loop.
    */
  case class MaintenanceStats(dataFiles: Int, numShards: Int,
      filesPerShardMax: Int, dataBytes: Long, tombstones: Long,
      /** Tombstones no compact has yet materialized into the float
        * files. Zero once one compacting maintain pays the debt, even
        * though `tombstones` stays nonzero while the sidecar is
        * carried for coded siblings — the distinction that lets the
        * poll→maintain loop converge (VERDICT r13 #1). Counted
        * PRECISELY when the materialized files are all still present
        * (total − materialized count: one new delete batch after a
        * compact reports its own size, not the whole sidecar), falling
        * back to the whole sidecar when the marker's file set no
        * longer subsets the current one.
        */
      unmaterializedTombstones: Long) {

    /** True once any shard has fragmented past `maxFilesPerShard` —
      * the threshold form of the measured rule (compact when file
      * debt, which is what search pays for, accumulates; not on a
      * schedule). The default of 8 sits well inside the measured 11×
      * fragmentation that cost 2.3× warm-search latency. Tombstone
      * debt recommends too, but only while UNMATERIALIZED: one
      * compact removes the dead rows every search still scans and
      * filters, and drops the flag; the carried sidecar alone never
      * re-raises it.
      * `maxUnmaterializedTombstones` bounds HOW MUCH unmaterialized
      * debt is tolerated before recommending: the default 0 converges
      * every delete into the next maintenance cycle (the r13 contract),
      * while a delete-heavy deployment at large index scale raises it
      * so each small delete batch does not trigger its own O(index)
      * rewrite — the merge-on-read tax grows with the UNCOMPACTED
      * delete volume (measured in SCALE.md round 14), so the knob
      * trades exactly that tax against rewrite frequency.
      */
    def compactRecommended(maxFilesPerShard: Int = 8,
        maxUnmaterializedTombstones: Long = 0L): Boolean =
      filesPerShardMax > maxFilesPerShard ||
        unmaterializedTombstones > maxUnmaterializedTombstones
  }

  /** The tombstone sidecar as one read saw it: `rows` counts every row
    * read (duplicates and NULLs included — the delete volume
    * [[MaintenanceStats]] reports), `ids` is the sorted, distinct,
    * non-NULL id set the search filter probes. The broadcast is made on
    * first use, so a count-only consumer ships nothing.
    */
  private final class TombstoneSet(val rows: Long,
      val ids: Array[Long], sc: org.apache.spark.SparkContext) {
    lazy val shipped: org.apache.spark.broadcast.Broadcast[Array[Long]] =
      sc.broadcast(ids)
  }

  /** One entry per (SparkContext, index path), fingerprinted by the
    * sidecar's [[Snapshot.tombFp]]: the read job reruns only when the
    * sidecar's files actually changed (delete appends a file;
    * clearTombstones removes the dir), so searches and a polling
    * ingest loop pay one tiny job per DELETE, not per call. Keyed by
    * the context (identity and application id) because the entry
    * holds that context's broadcast.
    */
  private val tombstoneSets = new graft.Tables.DataKeyedMemo[TombstoneSet]()

  /** The [[TombstoneSet]] of the sidecar state `s` listed, whose
    * [[Snapshot.tombFp]] is non-empty. Reads EXACTLY the listed files,
    * not the directory (ADVICE r14: a delete batch landing between the
    * listing and this job must not inflate the count recorded under the
    * fingerprint — that under-reported the NEXT batch's debt as
    * `tombs - mcount` went negative-ish and a compact could be deferred
    * one extra delete). One job, no shuffle: each task sorts and
    * deduplicates its own ids, the driver merges. A file vanishing
    * mid-read (a racing clear) throws; marker-writing callers treat
    * that as "marker moot" and skip, a search fails like any scan that
    * races a clear.
    */
  private def tombstoneSet(s: Snapshot): TombstoneSet = {
    val sc = s.spark.sparkContext
    tombstoneSets.get(
      s"${System.identityHashCode(sc)}:${sc.applicationId}:${s.index.vectorsPath}",
      Some(s.tombFp)) {
      val parts = s.spark.read.schema("__deleted_id LONG")
        .parquet(s.tombFiles.map(_.getPath.toString): _*)
        .rdd.mapPartitions { it =>
          val ids = new scala.collection.mutable.ArrayBuilder.ofLong
          var rows = 0L
          it.foreach { r =>
            rows += 1
            if (!r.isNullAt(0)) ids += r.getLong(0)
          }
          Iterator.single((rows, distinctSorted(ids.result())))
        }.collect()
      new TombstoneSet(parts.map(_._1).sum,
        distinctSorted(parts.flatMap(_._2)), sc)
    }
  }

  /** `xs` sorted ascending with duplicates dropped. */
  private def distinctSorted(xs: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(xs)
    var n = 0
    var i = 0
    while (i < xs.length) {
      if (n == 0 || xs(i) != xs(n - 1)) { xs(n) = xs(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(xs, n)
  }

  def maintenanceStats(spark: SparkSession, index: Index): MaintenanceStats = {
    // never inspect a crashed-swap layout: the listing would describe a
    // missing (or restored-pending) index as empty-and-healthy
    requireLiveLayout(spark, index, "maintenanceStats")
    statsOf(snapshot(spark, index))
  }

  /** [[maintenanceStats]] of the index state `s` listed. */
  private def statsOf(s: Snapshot): MaintenanceStats = {
    val data = s.dataFiles.filter(_.getPath.getName.endsWith(".parquet"))
    val perShard = // files per shard_id=N partition dir
      data.groupBy(_.getPath.getParent.getName).values.map(_.size)
    val fp = s.tombFp
    // sidecar rows, duplicates and NULLs included: the search filter's read
    val tombs = if (fp.isEmpty) 0L else tombstoneSet(s).rows
    // metadata-only like the rest of the probe: one marker read per
    // poll (no Spark job), against the same listing fingerprint
    val unmat =
      if (tombs == 0L) 0L
      else materializedMarker(s.fs, s.index) match {
        case Some((mfp, _)) if mfp == fp => 0L
        case Some((mfp, mcount)) =>
          // materialized files all still present + new delete files on
          // top → only the additions are debt; anything else (files
          // rewritten/vanished) falls back to the conservative whole
          val cur = fp.split('|').toSet
          if (mfp.split('|').toSet.subsetOf(cur))
            math.max(0L, tombs - mcount)
          else tombs
        case None => tombs
      }
    MaintenanceStats(data.length, s.index.numShards,
      if (perShard.isEmpty) 0 else perShard.max, data.map(_.getLen).sum,
      tombs, unmat)
  }

  /** Load the routing table and the recorded build metadata back (S6):
    * one job, the collect — the schema is given, so nothing is inferred.
    * Metadata columns an older sidecar lacks read as NULL and take the
    * build defaults: seed 42 (`src/api.rs:143`), `vec_id`, `embedding`.
    */
  def load(spark: SparkSession, indexDir: String, config: Config = Config()): Index = {
    val rows = spark.read
      .schema("centroid_id INT, shard_id INT, centroid ARRAY<FLOAT>, " +
        "build_seed BIGINT, id_col STRING, emb_col STRING")
      .parquet(s"$indexDir/centroids")
      .collect()
      .sortBy(_.getInt(0))
    def meta[T](i: Int, default: T): T =
      if (rows(0).isNullAt(i)) default else rows(0).getAs[T](i)
    Index(
      s"$indexDir/vectors",
      rows.map(_.getSeq[Float](2).toArray),
      rows.map(_.getInt(1)),
      config,
      meta(3, 42L),
      idCol = meta(4, "vec_id"),
      embCol = meta(5, "embedding"))
  }

  /** Probe selection against the driver-held routing table: the nProbe
    * nearest centroids (distance, then id, ascending) and their distinct
    * shard set (J5/T1/P5). Shared by float search and the PQ-coded
    * variant (IvfPq). Routing is [[KMeans.ProbeRouter]]: EXACT
    * bounded-insertion selection through k ≤ 8192 centroids (no sort,
    * recall identical to a full ranking by construction); the
    * hierarchical O(√k + 16n) approximation takes over only beyond
    * that, where k·d per routed row is genuinely prohibitive.
    * Probe-all stays exact on every index size.
    */
  def probeSelection(index: Index, query: Array[Float],
      nProbe: Int): (Seq[Int], Seq[Int]) = {
    val probes = index.router.topN(query, nProbe).toSeq
    (probes, probes.map(index.centroidToShard).distinct)
  }

  /** `k0` clamped to `maxK` (`src/api.rs:189`), then required positive
    * (`src/ivf_index.rs:197-202`) — the k policy of every search entry
    * point, float, coded and join.
    */
  private[operators] def clampK(index: Index, k0: Int): Int = {
    val k = math.min(k0, index.config.maxK)
    require(k > 0, "k must be > 0")
    k
  }

  /** `nProbe0` clamped to `maxNProbe`, then required positive — the
    * n_probe twin of [[clampK]].
    */
  private[operators] def clampNProbe(index: Index, nProbe0: Int): Int = {
    val nProbe = math.min(nProbe0, index.config.maxNProbe)
    require(nProbe > 0, "n_probe must be > 0")
    nProbe
  }

  /** One query, checked and routed: its probed cells and their shards. */
  private[operators] final case class Prelude(index: Index,
      probes: Seq[Int], shards: Seq[Int]) {
    def id: String = index.idCol
    /** Live rows of the probed cells of the dataset at `path` — the
      * float vectors or a coded sibling in the same layout.
      */
    def scan(spark: SparkSession, path: String): DataFrame = {
      val s = new Snapshot(spark, index, path)
      s.liveRows(probePrunedScan(spark, s.relation, probes, shards, index.k),
        id)
    }
  }

  /** The read prelude of every single-query entry point (float `search`
    * and `rangeSearch`, the IvfPq and IvfSq paths): the n_probe clamp
    * and check, the dimension check BEFORE
    * any routing (the router reads `query.length` centroid components,
    * so a long query would otherwise fail out of bounds in it), then
    * [[probeSelection]]. Callers with a k run [[clampK]] first.
    */
  private[operators] def prelude(index: Index, query: Array[Float],
      nProbe0: Int): Prelude = {
    val nProbe = clampNProbe(index, nProbe0)
    val dim = index.centroids(0).length
    require(query.length == dim,
      s"query dimension ${query.length} != index dimension $dim")
    val (probes, shards) = probeSelection(index, query, nProbe)
    Prelude(index, probes, shards)
  }

  /** A query batch, checked and routed: per-query probes (in query
    * order) and the distinct shards they touch.
    */
  private[operators] final case class BatchPrelude(index: Index,
      probes: Array[Array[Int]], shards: Seq[Int]) {
    def id: String = index.idCol
    /** Live rows of the union of probed cells of the dataset at `path`. */
    def scan(spark: SparkSession, path: String): DataFrame = {
      val s = new Snapshot(spark, index, path)
      s.liveRows(probePrunedScan(spark, s.relation,
        probes.flatten.distinct.toSeq, shards, index.k), id)
    }
  }

  /** [[prelude]] for a driver-side query batch: the same clamp and
    * dimension check on every query, duplicate-id rejection (batch
    * paths rank per query id, so two queries sharing one would merge
    * into one top-k), then per-query routing through the shared router.
    */
  private[operators] def batchPrelude(index: Index,
      queries: Array[(Long, Array[Float])], nProbe0: Int): BatchPrelude = {
    val nProbe = clampNProbe(index, nProbe0)
    val dim = index.centroids(0).length
    queries.find(_._2.length != dim).foreach { q =>
      throw new IllegalArgumentException(
        s"query ${q._1} has dimension ${q._2.length}, index has $dim")
    }
    val seen = new java.util.HashSet[Long]()
    queries.foreach { case (qid, _) =>
      if (!seen.add(qid)) throw new IllegalArgumentException(
        s"duplicate query id $qid: batch query ids must be distinct")
    }
    val probes = queries.map { case (_, q) => index.router.topN(q, nProbe) }
    BatchPrelude(index, probes,
      probes.flatten.map(index.centroidToShard).distinct.toSeq)
  }

  /** The ranking tail of every single-query top-k: ascending distance
    * with NULLs last (a ragged or null-element embedding has a NULL
    * distance, which the default nulls-first order would rank above
    * real neighbors), ties by id, `k` rows as `(external_id, distance)`
    * plus `extra` — one TakeOrderedAndProject.
    */
  private[operators] def rankTopK(df: DataFrame, id: String, k: Int,
      extra: org.apache.spark.sql.Column*): DataFrame =
    df.orderBy(col("distance").asc_nulls_last, col(id))
      .limit(k)
      .select(Seq(col(id).as("external_id"), col("distance")) ++ extra: _*)

  /** Top-k search. Returns `(external_id, distance[, embedding])` ascending
    * by (distance, external_id).
    *
    * @param filter optional metadata predicate over the vectors
    *   dataset's passthrough columns (e.g. `col("label") === 3`) —
    *   FILTERED vector search. Applied inside the pruned scan, so it
    *   pushes down to the parquet reader alongside the probe filters
    *   (plan-asserted in IvfSpec): at 100 TB the predicate skips
    *   row-groups, it never post-filters a materialized top-k — and
    *   because it narrows the candidate set BEFORE ranking, the top-k
    *   is the true filtered answer, not top-k-then-filter (which can
    *   return < k rows even when k matches exist).
    */
  def search(spark: SparkSession, index: Index, query: Array[Float], k0: Int,
      nProbe0: Int, includeVectors: Boolean = false,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val k = clampK(index, k0)
    val emb = col(index.embCol)
    // probe selection on the driver over the routing table (J5/T1)
    val p = prelude(index, query, nProbe0)
    // pruned scan: directory pruning on shard_id + row-group skipping on
    // centroid_id (replaces S8 selective reads), then distance + top-k
    // via TakeOrderedAndProject (J6/T2) — see [[probePrunedScan]] for
    // the chunking/probe-all contract
    val pruned = p.scan(spark, index.vectorsPath)
    val out = rankTopK(filter.map(pruned.where).getOrElse(pruned)
      .withColumn("distance", Vec.squaredL2(emb, lit(query))),
      p.id, k, emb.as("vector"))
    if (includeVectors) out else out.drop("vector") // P3
  }

  /** Range search (faiss `range_search` semantics): every indexed vector
    * with squared-L2 distance strictly below `radius`, ascending by
    * (distance, external_id). Same probe-pruned scan as [[search]] — at
    * 100 TB only the probed cells' bytes are read — but with no
    * TakeOrderedAndProject: the result set is radius-bounded, not
    * k-bounded, so the plan is scan → filter → sort and the output size
    * is the radius selectivity. Probe-all makes it exact. NULL distances
    * (ragged/null embeddings) never satisfy `distance < radius`, so
    * degraded rows drop out — consistent with the nulls-last contract of
    * the top-k path.
    */
  def rangeSearch(spark: SparkSession, index: Index, query: Array[Float],
      radius: Double, nProbe0: Int,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val p = prelude(index, query, nProbe0)
    val pruned = p.scan(spark, index.vectorsPath)
    filter.map(pruned.where).getOrElse(pruned)
      .withColumn("distance", Vec.squaredL2(col(index.embCol), lit(query)))
      .where(col("distance") < radius)
      .orderBy(col("distance"), col(p.id))
      .select(col(p.id).as("external_id"), col("distance"))
  }

  /** Batch ANN: top-k for a whole query set in ONE pruned scan.
    *
    * The reference executes batched queries sequentially per query
    * (`bindings/python/src/lib.rs:74` for-loop); Spark amortizes instead,
    * in the shape of Faiss's batch search — each inverted list is
    * scanned once for every query that probes it:
    *   - the driver routes each query through the shared router and
    *     inverts the probes into per-cell query lists (CSR arrays plus
    *     the query vectors as one `float[]`), shipped in ONE broadcast;
    *   - the vectors dataset is scanned once, directory-pruned to the
    *     union of probed shards, with the tombstone id-set predicate
    *     ([[Snapshot.liveRows]]) and `filter` applied inside the scan;
    *   - the [[ListScan]] kernel decodes each index row into a primitive
    *     `float[]` once, loops over the queries probing its cell, and
    *     keeps a bounded best-first buffer per query, so a scan task
    *     emits at most k rows per query — never a row per probed
    *     (query, index row) pair;
    *   - [[TopNByKey]] merges the per-task buffers into the final ranks.
    * One scan of the big table serves every query — at 100 TB this is
    * the difference between nq scans and one.
    *
    * Distances are bitwise those of [[graft.functions.SquaredL2]] (and so
    * of the DuckDB oracle's [[graft.queries.OracleGen.l2Sql]]):
    * `(double) x_i − (double) q_i`, squared, summed left to right. A
    * NULL or ragged embedding, or a NULL element, gives a NULL
    * distance, ranked after every number; NaN ranks after every other
    * number; ties break by smaller id.
    *
    * @param queries (query_id: Long, embedding: Array[Float]) pairs with
    *                distinct ids; must be driver-sized (it is broadcast)
    * @param filter  optional metadata predicate, with [[search]]'s
    *                filtered-search contract: it narrows the candidates
    *                inside the pruned scan (pushed to the reader) BEFORE
    *                per-query ranking
    * @return (query_id, rank, external_id, distance), rank 1..k per query
    */
  def searchBatch(spark: SparkSession, index: Index,
      queries: Array[(Long, Array[Float])], k0: Int, nProbe0: Int,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val k = clampK(index, k0)
    val b = batchPrelude(index, queries, nProbe0)
    val block = spark.sparkContext.broadcast(ListScan.queryBlock(
      queries, b.probes, index.k, index.centroids(0).length))
    // shard pruning only: the kernel itself skips unprobed cells
    val s = snapshot(spark, index)
    val pruned = s.liveRows(
      s.relation.where(col("shard_id").isin(b.shards: _*)), b.id)
    val rows = filter.map(pruned.where).getOrElse(pruned)
      .select(col("centroid_id"), col(b.id).cast("long"), col(index.embCol))
    TopNByKey.topN(ListScan.scan(rows, block, k), Seq("query_id"),
        col("distance"), col("cand_id"), k)
      .select(col("query_id"), col("rk").as("rank"),
        col("id").as("external_id"), col("ord").as("distance"))
  }

  /** Distributed ANN JOIN: top-k nearest indexed vectors for EVERY row
    * of a query DataFrame — the corpus×corpus embedding-join primitive
    * (cross-corpus semantic dedup, retrieval-augmentation joins), as
    * opposed to [[searchBatch]], whose query set is a driver-side array.
    *
    * The query side never touches the driver: each query row is routed
    * to its nProbe nearest centroids map-side (broadcast routing table,
    * the same assignment kernel as build), then a shuffle hash-join on
    * `centroid_id` co-locates each query replica with exactly the
    * indexed rows of its probed cells, and per-query top-k is the
    * bounded-state [[TopNByKey]] aggregate.
    * Cost at 100 TB: queries replicate ×nProbe (small side of the
    * shuffle), the index side shuffles each cell once per epoch of
    * queries probing it — never a dense cross-join. A hot centroid is a
    * skewed join key; AQE skew-join splits it (the cell's rows are
    * re-usable across the queries that probe it).
    *
    * @param queries DataFrame with (`qidCol`, `qembCol`) columns;
    *   distributed — any size. Extra columns are projected away unless
    *   `pairFilter` references them, so a raw query table carrying
    *   index-side names (embedding, vec_id, shard_id…) is fine; only
    *   columns the filter USES must be renamed to avoid clashes
    *   (enforced with a require).
    * @param pairFilter optional predicate over JOINED (query, index)
    *   row pairs, applied before ranking — so the top-k is the true
    *   filtered answer, the same contract as filtered single-query
    *   search. Unlike `search`'s filter it may reference BOTH sides:
    *   e.g. `col("label") =!= col("q_label")` mines hard negatives
    *   (nearest vectors of a DIFFERENT class — the contrastive-
    *   training primitive). Executes as part of the join stage,
    *   map-side after the hash probe, never on a materialized top-k.
    * @return (`qidCol`, rank, external_id, distance), rank 1..k per query
    */
  def annJoin(queries: DataFrame, index: Index, k: Int, nProbe: Int,
      qidCol: String = "query_id", qembCol: String = "qe",
      pairFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val id = index.idCol
    // clamped and checked like search/searchBatch, so a capped index
    // returns the same rows per query on every batch path; n_probe is
    // further capped at the centroid count for the map-side router
    val topK = clampK(index, k)
    val np = math.min(clampNProbe(index, nProbe), index.centroids.length)
    val spark = queries.sparkSession
    // The query side is PROJECTED to (qidCol, qembCol) plus only the
    // columns pairFilter references — unreferenced extras (which may
    // carry index-side names like `embedding` from a raw query table)
    // must not ride into the join and turn into ambiguous-column
    // errors. Columns the filter DOES use must be renamed by the
    // caller if they clash with an index-side name.
    // a multi-part ref is either a struct access (`meta.q_tag` → keep
    // column `meta`) or a qualified name (`q.tag` → keep column `tag`),
    // so match the full name, its head, and its last part — projecting
    // a superset is harmless, dropping a referenced column is not
    val filterRefs = pairFilter.toSeq
      .flatMap(org.apache.spark.sql.GraftSqlBridge.referencedNames)
      .flatMap { r =>
        val parts = r.split('.')
        Seq(r, parts.head, parts.last)
      }
      .distinct
    val qCols = (Seq(qidCol, qembCol) ++
      filterRefs.filter(queries.columns.contains)).distinct
    val s = snapshot(spark, index)
    val vectors = s.relation
    val idxCols = vectors.columns.toSet + "centroid_id"
    val clash = qCols.filter(idxCols.contains)
    require(clash.isEmpty,
      s"annJoin: query-side column(s) ${clash.mkString(", ")} collide with " +
        "index-side names — rename them on the query DataFrame first")
    // map-side routing through the SAME router as the driver-side paths
    // (probe-literal oracles included). Per query row: exact
    // bounded-insertion selection (k distances, NO sort) through
    // k ≤ 8192 — recall-safe by construction; beyond that (N ≳ 4M at
    // reference parity k = 4√N, where k·d per row dominates a
    // corpus×corpus join) the broadcast rebuilds the transient
    // meta-hierarchy once per executor and routing drops to
    // O(√k + 16n) with the measured pool margin (SCALE.md round-6).
    val routerB = spark.sparkContext.broadcast(index.router)
    // P1 on the distributed query side too, enforced map-side in the
    // same pass (the append-guard pattern): a NULL query embedding
    // would silently drop at the explode with no context, and a
    // wrong-dimension one would route by prefix distance and return
    // arbitrary ids behind NULL distances
    val qdim = index.centroids(0).length
    val probed = queries.select(qCols.map(col): _*)
      .withColumn(qembCol,
        when(col(qembCol).isNull || size(col(qembCol)) =!= qdim,
          raise_error(concat(
            lit(s"annJoin: query embedding dimension != $qdim for "),
            col(qidCol).cast("string"))))
          .otherwise(col(qembCol)))
      // codegen routing — the query side of an ANN join is corpus-
      // sized, so the probe kernel gets the ArgMinCentroid treatment
      // (RouteTopN: Tungsten ArrayData in, primitive int[] out, zero
      // per-element boxing; bitwise probe parity gated in IvfSpec)
      .withColumn("centroid_id",
        explode(RouteTopN.col(col(qembCol), routerB, np)))
    // bounded-state per-query top-k (see searchBatch): the post-join
    // exchange on the query id carries ≤ k·P rows per query, which is
    // what keeps a hot query (or a hot probed cell fanning out to many
    // queries) from becoming one reducer sorting its whole candidate set
    val joined = s.liveRows(vectors, id)
      .join(probed, Seq("centroid_id"))
    val candidates = pairFilter.map(joined.where).getOrElse(joined)
      .withColumn("distance",
        graft.functions.Vec.squaredL2(col(index.embCol), col(qembCol)))
    TopNByKey.topN(candidates, Seq(qidCol), col("distance"), col(id), topK)
      .select(col(qidCol), col("rk").as("rank"),
        col("id").as("external_id"), col("ord").as("distance"))
  }
}
