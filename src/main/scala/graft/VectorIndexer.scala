package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Ivf, KMeans}

/** Public facade mirroring the reference's API surface
  * (`/root/reference/src/api.rs` + the Python bindings) so a reference
  * user can switch 1:1:
  *
  *   - `VectorIndexer.create(cfg)` ↔ `VectorIndexer::new`
  *   - `build(df)` / `buildFromRecords` ↔ `build_from_records` (seed 42,
  *     `src/api.rs:143`)
  *   - `VectorIndexer.load(...)` ↔ `VectorIndexer::load`
  *   - `search(query)` with config defaults ↔ `search_request` + `search`
  *   - `searchBatch(queries)` ↔ Python `search_blocking(xq, k, n_probe)`
  *   - `suggestNlist(n)` ↔ Python `suggest_nlist`
  *     (`bindings/python/src/lib.rs:308-315`)
  *
  * Error semantics preserved: empty build, dimension mismatch, k=0 /
  * n_probe=0 all raise, k/n_probe clamp to max (§2.11 in SURVEY.md).
  */
final class VectorIndexer private (
    val spark: SparkSession,
    val config: VectorIndexer.Config,
    @volatile private var idx: Option[Ivf.Index]) {

  def isBuilt: Boolean = idx.nonEmpty

  private def index: Ivf.Index =
    idx.getOrElse(throw new IllegalStateException(
      "index not built — call build() or load()"))

  /** Build from a DataFrame with (idCol: Long, embCol: array<float>). */
  def build(df: DataFrame, idCol: String = "vec_id",
      embCol: String = "embedding"): this.type = {
    validateDim(df, embCol)
    idx = Some(VectorIndexer.applyConfig(config,
      Ivf.build(df, idCol, embCol, config.indexDir,
        seed = VectorIndexer.BuildSeed)))
    this
  }

  /** Build from driver-held records — the reference's ingestion shape
    * (`build_from_records`): (external_id, embedding, timestamp). A
    * 0/absent timestamp defaults to ingest wall-clock seconds
    * (`src/vector_store.rs:36-40`).
    */
  def buildFromRecords(records: Seq[(Long, Array[Float], Long)]): this.type =
    build(recordsToDf(records, "cannot build an index from zero records"))

  /** The ONE records→DataFrame ingestion shape (dimension check,
    * wall-clock timestamp default, array<float> cast) shared by
    * [[buildFromRecords]] and [[addRecords]] — previously duplicated
    * verbatim, so a change to either (e.g. the timestamp default)
    * could silently fork build vs append semantics (r15 review).
    */
  private def recordsToDf(records: Seq[(Long, Array[Float], Long)],
      emptyMsg: String): DataFrame = {
    require(records.nonEmpty, emptyMsg)
    records.find(_._2.length != config.dimension).foreach { r =>
      throw new IllegalArgumentException(
        s"record ${r._1} has dimension ${r._2.length}, expected ${config.dimension}")
    }
    import spark.implicits._
    val now = ingestTimestamp()
    records.map { case (id, v, ts) =>
        (id, v.toSeq, if (ts != 0L) ts else now)
      }
      .toDF("vec_id", "embedding", "ts")
      .select($"vec_id",
        $"embedding".cast("array<float>").as("embedding"), $"ts")
  }

  /** Build from a vector file on disk — the reference's second build
    * entry point (`build_from_vector_file`, `src/api.rs:149-186`). The
    * reference reads its own bincode batch format; the public equivalents
    * our distributed readers support are `.fvecs` and float32 `.npy`.
    * Record position becomes the external id (the reference's generator
    * assigns `id = i`, `src/utils.rs:63`); these formats carry no
    * timestamp → ingest wall-clock default (`src/vector_store.rs:36-40`).
    */
  def buildFromFile(path: String): this.type = {
    import org.apache.spark.sql.functions._
    val lower = path.toLowerCase
    val df = if (lower.endsWith(".fvecs")) {
      graft.sources.VectorFormats.readFvecs(spark, path)
    } else if (lower.endsWith(".npy")) {
      graft.sources.VectorFormats.readNpy(spark, path)
    } else throw new IllegalArgumentException(
      s"unsupported vector file format (want .fvecs or .npy): $path")
    if (df.isEmpty) throw new IllegalArgumentException(
      s"no vectors in vector_file $path") // src/api.rs:158-163
    build(df.withColumn("ts", lit(ingestTimestamp())))
  }

  /** Engine extension (no reference equivalent — the reference rebuilds):
    * add vectors to the built index without retraining. Assignment uses
    * the existing routing table; see `Ivf.append` for the scale contract.
    */
  def addRecords(records: Seq[(Long, Array[Float], Long)]): this.type = {
    val df = recordsToDf(records, "cannot add zero records")
    // appended files must carry the layout's own column names, or a
    // custom-column index would accumulate schema-drifted files
    Ivf.append(index, df.withColumnRenamed("vec_id", index.idCol)
        .withColumnRenamed("embedding", index.embCol),
      index.idCol, index.embCol)
    this
  }

  /** Engine extension: delete vectors by external id (merge-on-read
    * tombstones — see `Ivf.delete`; `Ivf.maintain` materializes them).
    */
  def deleteIds(ids: Seq[Long]): this.type = {
    Ivf.delete(spark, index, ids)
    this
  }

  /** Engine extension: distributed bulk delete of every live row
    * matching `predicate` — the id set never visits the driver (see
    * `Ivf.deleteWhere`). Returns the number of newly tombstoned ids.
    */
  def deleteWhere(predicate: org.apache.spark.sql.Column): Long =
    Ivf.deleteWhere(spark, index, predicate)

  /** Engine extension: end the delete lifecycle — drop the tombstone
    * sidecar once a compact AND every registered coded-sibling rebuild
    * postdate the newest delete. Verified, refuses by name when the
    * order is wrong (see `Ivf.clearTombstones`); `force` is the
    * documented operational escape.
    */
  def clearTombstones(force: Boolean = false): this.type = {
    Ivf.clearTombstones(spark, index, force)
    this
  }

  /** Engine extension: current maintenance posture (file debt,
    * tombstones) — metadata-only, safe to poll. See
    * `Ivf.maintenanceStats`.
    */
  def maintenanceStats: Ivf.MaintenanceStats =
    Ivf.maintenanceStats(spark, index)

  /** Engine extension: the production maintenance poller — a daemon
    * that watches this index's debt (metadata-only, zero Spark jobs at
    * steady state) and runs the lease-fenced out-of-band `maintain`
    * when `compactRecommended` fires, so an ingest loop never pays an
    * O(index) rewrite inside a micro-batch. Stop the returned handle
    * when done (see `VectorsStreaming.startMaintenanceLoop`).
    */
  def startMaintenanceLoop(maxFilesPerShard: Int = 8,
      pollIntervalMs: Long = 1000L,
      maxUnmaterializedTombstones: Long = 0L): graft.streaming.VectorsStreaming.MaintenanceLoop =
    // maxUnmaterializedTombstones is the deployment's delete-economics
    // knob (README "Delete lifecycle"): 0 converges every delete batch
    // into the next cycle; a delete-heavy deployment raises it so small
    // batches don't each trigger an O(index) rewrite — the tombstone-tax
    // table in SCALE.md r14 is the sizing input
    graft.streaming.VectorsStreaming.startMaintenanceLoop(spark, index,
      maxFilesPerShard, pollIntervalMs, maxUnmaterializedTombstones)

  /** Engine extension: lease-fenced out-of-band compaction — rewrites
    * the index concurrently with appends and merges files appended
    * during the rewrite at swap time (see `Ivf.maintain`; the held
    * handle keeps serving through the swap). Returns whether a compact
    * ran.
    */
  def maintain(maxFilesPerShard: Int = 8,
      maxUnmaterializedTombstones: Long = 0L): Ivf.MaintainOutcome =
    Ivf.maintain(spark, index, maxFilesPerShard, maxUnmaterializedTombstones)

  private def ingestTimestamp(): Long = System.currentTimeMillis() / 1000L

  /** Top-k search with config defaults (k=10, n_probe=20). */
  def search(query: Array[Float],
      k: Int = -1, nProbe: Int = -1,
      includeVectors: Boolean = false,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val kk = if (k < 0) config.defaultK else k
    val np = if (nProbe < 0) config.defaultNProbe else nProbe
    Ivf.search(spark, index, query, kk, np,
      includeVectors = includeVectors, filter = filter)
  }

  /** Batch top-k: one pruned scan for the whole query set. */
  def searchBatch(queries: Array[(Long, Array[Float])],
      k: Int = -1, nProbe: Int = -1,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val kk = if (k < 0) config.defaultK else k
    val np = if (nProbe < 0) config.defaultNProbe else nProbe
    Ivf.searchBatch(spark, index, queries, kk, np,
      filter = filter)
  }

  /** Engine extension: all neighbors within squared-L2 `radius`
    * (faiss range_search semantics — strict <), via the same pruned
    * scan as top-k. See `Ivf.rangeSearch`.
    */
  def rangeSearch(query: Array[Float], radius: Double,
      nProbe: Int = -1,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val np = if (nProbe < 0) config.defaultNProbe else nProbe
    Ivf.rangeSearch(spark, index, query, radius, np,
      filter = filter)
  }

  /** Engine extension: top-k neighbors for EVERY row of a distributed
    * query DataFrame (`qidCol`, `qembCol`) — no driver collect. See
    * `Ivf.annJoin` for the scale contract.
    */
  def annJoin(queries: DataFrame, k: Int = -1, nProbe: Int = -1,
      qidCol: String = "query_id", qembCol: String = "qe"): DataFrame = {
    val kk = if (k < 0) config.defaultK else k
    val np = if (nProbe < 0) config.defaultNProbe else nProbe
    Ivf.annJoin(queries, index, kk, np, qidCol, qembCol)
  }

  /** Faiss-style batch result: (D, I) row-major matrices of shape
    * (nq, k), padded with Float.PositiveInfinity / -1 when a query has
    * fewer than k results — exact parity with the reference's Python
    * layer (`bindings/python/src/lib.rs:179-202`; the Rust API returns
    * unpadded, the (D, I) shape pads).
    */
  def searchMatrix(queries: Array[Array[Float]], k: Int = -1,
      nProbe: Int = -1): (Array[Array[Double]], Array[Array[Long]]) = {
    val kk = if (k < 0) config.defaultK else k
    val ids = queries.indices.map(_.toLong).toArray
    val rows = searchBatch(ids.zip(queries), kk, nProbe).collect()
    val byQuery = rows.groupBy(_.getLong(0))
    // matrices are always shaped (nq, requested k) — the maxK clamp only
    // bounds how many slots get FILLED, matching the Python binding's
    // fixed-shape contract (`bindings/python/src/lib.rs:179-202`)
    val d = Array.fill(queries.length, kk)(Double.PositiveInfinity)
    val i = Array.fill(queries.length, kk)(-1L)
    ids.foreach { qid =>
      byQuery.getOrElse(qid, Array.empty).foreach { r =>
        val rank = r.getInt(1) - 1
        d(qid.toInt)(rank) = r.getDouble(3)
        i(qid.toInt)(rank) = r.getLong(2)
      }
    }
    (d, i)
  }

  private def validateDim(df: DataFrame, embCol: String): Unit = {
    import org.apache.spark.sql.functions._
    // isNull must be explicit: size(null) != dim evaluates to null, so a
    // null-embedding row would slip past the predicate and NPE later in
    // the assignment UDF instead of failing here with a clear error
    val bad = df.where(col(embCol).isNull ||
      size(col(embCol)) =!= config.dimension).limit(1).count()
    if (bad > 0) throw new IllegalArgumentException(
      s"input contains null embeddings or dimension != ${config.dimension}")
  }
}

object VectorIndexer {

  val BuildSeed = 42L // src/api.rs:143 — API builds pin seed 42

  /** Mirrors `VectorIndexerConfig` defaults (`src/api.rs:33-43`). */
  final case class Config(
      dimension: Int,
      indexDir: String,
      defaultK: Int = 10,
      defaultNProbe: Int = 20,
      maxK: Int = 10000,
      maxNProbe: Int = 10000)

  def create(spark: SparkSession, config: Config): VectorIndexer =
    new VectorIndexer(spark, config, None)

  /** Load a previously-built index (`VectorIndexer::load`). */
  def load(spark: SparkSession, config: Config): VectorIndexer = {
    val i = Ivf.load(spark, config.indexDir)
    require(i.centroids(0).length == config.dimension,
      s"index dimension ${i.centroids(0).length} != config ${config.dimension}")
    new VectorIndexer(spark, config, Some(applyConfig(config, i)))
  }

  /** Facade clamps applied ONCE at build/load — never per search call:
    * a per-call `copy` would discard the Index's @transient lazy probe
    * router and re-run its meta-clustering on every query at large k.
    * Only the clamps are copied; the handle's lease timing stays.
    */
  private def applyConfig(c: Config, i: Ivf.Index): Ivf.Index =
    i.copy(config = i.config.copy(maxK = c.maxK, maxNProbe = c.maxNProbe))

  /** nlist heuristic — Python `suggest_nlist` parity. */
  def suggestNlist(n: Long): Int = KMeans.numClusters(n)
}
