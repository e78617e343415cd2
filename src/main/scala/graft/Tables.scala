package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * All engine queries take an `sfDir` (e.g. /root/testdata/sf0.01) and read
  * single-parquet-file tables from it. At cluster scale these would be
  * directory-partitioned datasets; the read path is identical
  * (`spark.read.parquet` handles both), so nothing here changes at 100 TB.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Memoized per (session, dir, table): a bare `spark.read.parquet`
    * re-runs file listing + parquet footer schema inference on EVERY
    * call — pure driver-side metadata work (~50-80 ms/table here,
    * multi-second listings on cloud stores at scale, guide §6/§7.3)
    * repeated by every query builder on every bench pass. The memo
    * holds only the resolved LAZY DataFrame (logical plan + file
    * listing + schema): no row is cached, every action still computes
    * from the parquet files, and the [[DataKeyedMemo]] fingerprint
    * (length + mtime of every table file) rebuilds the entry if the
    * data dir is regenerated mid-JVM. Keyed by session identity so a
    * test JVM with several sessions never leaks a plan across them.
    */
  private val loadMemo = new DataKeyedMemo[DataFrame]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    loadMemo.get(sfDir, s"${System.identityHashCode(spark)}:$name") {
      spark.read.parquet(s"$sfDir/$name.parquet")
    }

  /** Per-(process, data-dir) cache directory stem for the build-once
    * artifacts (IVF index, coded siblings, verified pairs, stream
    * output). The pid component keeps two concurrent JVMs running the
    * catalog over the same data dir (e.g. the driver's Verify next to
    * a local Bench) from overwriting each other's in-flight files; the
    * in-memory caches were always per-JVM, so cross-process disk reuse
    * never existed and the pid costs nothing. The "d" prefix guarantees
    * the name never starts with '_' or '.', which Spark's file listing
    * treats as hidden metadata (a leading-underscore directory read
    * root logs "All paths were ignored" and is invisible when listed
    * from its parent). A shutdown hook deletes this process's cache
    * dirs — without it every JVM (each Bench/Verify/test run) would
    * leak a full artifact set under /tmp.
    */
  def cacheDirName(dir: String): String = {
    registerCacheCleanup()
    "d" + dir.replaceAll("[^A-Za-z0-9.]", "_") +
      s"_p${ProcessHandle.current().pid()}"
  }

  /** Key for the per-JVM memo maps guarding build-once artifacts
    * (IVF index, posting tables, PQ/OPQ models, MinHash pair sets,
    * DSIR LMs…): the dir plus a cheap data fingerprint (length + mtime
    * of each table file — a directory listing, no data read), so a
    * mid-JVM regeneration of the same path invalidates every derived
    * artifact instead of serving a stale model. Disk artifact paths
    * ([[cacheDirName]]) stay fingerprint-free: rebuilds overwrite in
    * place, and the per-pid suffix already isolates processes.
    */
  def dataKey(dir: String): String = {
    val fp = names.map { n =>
      val p = java.nio.file.Paths.get(dir, s"$n.parquet")
      // full-resolution mtime (nanos where the FS provides them) and
      // the FULL fingerprint string as the key — a 32-bit hashCode of
      // the fingerprint could collide, and millisecond mtime could
      // miss a same-length regeneration within the granularity window,
      // either of which would serve a stale cached model/index
      val mt = try java.nio.file.Files.getLastModifiedTime(p)
        .to(java.util.concurrent.TimeUnit.NANOSECONDS)
        catch { case _: java.io.IOException => -1L }
      val len = try java.nio.file.Files.size(p)
        catch { case _: java.io.IOException => -1L }
      s"$len:$mt"
    }.mkString(",")
    s"$dir@$fp"
  }

  /** /tmp roots that hold per-pid cache dirs named by [[cacheDirName]].
    * EVERY query that derives a disk path from [[cacheDirName]] must
    * have its root here, or killed JVMs leak one dir per run forever —
    * the round-14 audit found 100+ dead-pid orphans under the stream
    * roots, which sat outside the original three-entry list.
    */
  private[graft] val CacheRoots =
    Seq("/tmp/graft_index", "/tmp/graft_pairs", "/tmp/graft_stream_ann",
      "/tmp/graft_stream_idx", "/tmp/graft_stream_idx_m",
      "/tmp/graft_stream_idx_d", "/tmp/graft_stream_vec_et",
      "/tmp/graft_index_del", "/tmp/graft_index_cid")

  /** Sweep cache dirs orphaned by SIGKILL/OOM-killed runs: their
    * shutdown hook never fired, and no later process reuses a
    * foreign-pid dir, so any cache dir whose embedded pid is no
    * longer alive is permanent garbage (round-6 ADVICE #1). Pid
    * recycling only makes the sweep conservative — a recycled pid
    * reads as alive and the dir survives until ITS owner dies.
    * `private[graft]` so CacheHygieneSpec drives it directly.
    */
  private[graft] def sweepOrphanCacheDirs(): Unit = {
    val anyPid = java.util.regex.Pattern.compile(".*_p(\\d+)(_.*)?")
    CacheRoots.foreach { root =>
      val entries = new java.io.File(root).listFiles()
      if (entries != null) entries.foreach { e =>
        val m = anyPid.matcher(e.getName)
        // toLong guarded: a stray dir with a pid-like digit run
        // longer than Long must not crash every future run's first
        // cacheDirName call — leave it alone instead
        if (m.matches() && scala.util.Try(m.group(1).toLong)
            .toOption.exists(pid => ProcessHandle.of(pid).isEmpty))
          deleteTree(e)
      }
    }
  }

  private val cleanupRegistered = new java.util.concurrent.atomic.AtomicBoolean
  private def registerCacheCleanup(): Unit =
    if (cleanupRegistered.compareAndSet(false, true)) {
      sweepOrphanCacheDirs()
      // matches `..._p<pid>` and derived names like `..._p<pid>_signed`,
      // but not another process whose pid merely extends ours (_p12 vs
      // _p123)
      val mine =
        java.util.regex.Pattern.compile(
          s".*_p${ProcessHandle.current().pid()}(_.*)?")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        CacheRoots.foreach { root =>
          val entries = new java.io.File(root).listFiles()
          if (entries != null)
            entries.filter(e => mine.matcher(e.getName).matches())
              .foreach(deleteTree)
        }))
    }

  private def deleteTree(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteTree)
    f.delete()
  }

  /** Spread a scan across the cluster ONLY when it arrives
    * under-parallelized. Locally the corpus tables are one small
    * parquet file — a single scan split (one row group, so
    * `maxPartitionBytes` cannot split it), which serializes any
    * CPU-heavy map stage onto one core. At production scale the same
    * table arrives as thousands of splits and this is the identity —
    * no corpus-sized shuffle is baked into the plan.
    *
    * The split-count probe (`df.rdd.getNumPartitions`) instantiates
    * the physical plan's RDD, so the decision is MEMOIZED per input
    * file set (round-6 ADVICE #5): each table pays the probe once per
    * JVM instead of once per query, and repeated catalog queries over
    * the same files skip the double plan build entirely. Keyed on
    * `inputFiles` (a listing already held by the relation — no job),
    * which is stable for a given (dir, table) and changes when the
    * underlying files do. The fingerprint is the parallelism the probe
    * compared against, so a context restarted at another core count
    * re-probes instead of serving the old decision.
    */
  private val spreadMemo = new DataKeyedMemo[Boolean]()

  def spread(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val files = df.inputFiles
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    def probe: Boolean = df.rdd.getNumPartitions < parallelism
    val need: Boolean =
      if (files.isEmpty) probe // non-file plan: decide per call
      else spreadMemo.get(files.sorted.mkString(","),
        Some(parallelism.toString))(probe)
    // explicit partition count (= cluster parallelism, never a local
    // constant): a bare repartition(key) is REPARTITION_BY_COL, which
    // AQE's partition coalescing is allowed to shrink by BYTES — and the
    // whole point of spread is CPU-heavy map work over few bytes, so on
    // the small-scan regime AQE folded the exchange back to one task
    // (r18 measurement: maxsim_top_docs ran its chunk+md5-feature stage
    // and cross join on a single core, 2.2 s of a 2.4 s query). An
    // explicit count is user-specified partitioning AQE must respect;
    // it derives from defaultParallelism, so the lower-core bench
    // sessions and a real cluster each get their own scale.
    if (need) df.repartition(parallelism, key)
    else df
  }

  private val MemoMaxEntries = 1024

  /** Fingerprint-revalidated memo — THE shape of every JVM-lifetime
    * cache in the engine. One rule: an entry is replaced when its
    * fingerprint changes, so a regenerated input can never serve a
    * stale value and superseded generations are never retained. A
    * `None` fingerprint (nothing trustworthy to compare) builds without
    * caching. The map is cleared once it passes [[MemoMaxEntries]]:
    * keys are catalog- or path-bounded, and an overflow only re-pays
    * one build per entry.
    *
    * `build` runs inside the map's per-key lock (compute), so
    * concurrent callers of the same key build once; builds must not
    * re-enter the same memo (none do — they only read Spark data).
    * Known tradeoff of compute-under-lock (ADVICE r16 low): an
    * unrelated key hashing to the same bin blocks for the duration of
    * a build. Accepted: builds are one-per-JVM Spark jobs (seconds),
    * and building outside the lock re-admits the duplicate-build race
    * the lock exists to close.
    */
  final class DataKeyedMemo[V] {
    private val m =
      new java.util.concurrent.ConcurrentHashMap[String, (String, V)]()

    def get(key: String, fingerprint: Option[String])(build: => V): V =
      fingerprint match {
        case None => build
        case Some(fp) =>
          if (m.size() > MemoMaxEntries) m.clear()
          m.compute(key, (_, prev) =>
            if (prev != null && prev._1 == fp) prev else (fp, build))._2
      }

    /** Keyed by the data DIR, fingerprinted by its [[dataKey]]. */
    def get(dir: String)(build: => V): V =
      get(dir, Some(dataKey(dir)))(build)

    /** Composite form: one entry per (sub, dir). The key length-prefixes
      * `sub` so a '@' inside it can never alias a different (sub, dir)
      * pair (ADVICE r16 low).
      */
    def get(dir: String, sub: String)(build: => V): V =
      get(s"${sub.length}:$sub@$dir", Some(dataKey(dir)))(build)

    /** Test window: key → fingerprint of every live entry. */
    private[graft] def snapshot: Map[String, String] = {
      import scala.jdk.CollectionConverters._
      m.asScala.map { case (k, v) => k -> v._1 }.toMap
    }
  }

  /** [[load]]'s sibling for ENGINE-WRITTEN artifact dirs (posting
    * tables, signed docs, IVF vectors and their coded siblings, pooled
    * buckets): the same lazy-DataFrame metadata memo, fingerprinted by
    * the artifact directory's own [[graft.operators.FsList.fingerprint]],
    * because rebuilds, appends and maintenance swaps change these paths
    * in place. The fingerprint is re-listed on EVERY call — no TTL — so
    * a caller always plans against the current file set: an append, a
    * swap, or a retry after a scan that raced one gets a fresh relation.
    * No row is cached — actions still read the parquet files.
    */
  private val artifactMemo = new DataKeyedMemo[DataFrame]()

  def loadArtifact(spark: SparkSession, path: String): DataFrame =
    loadArtifact(spark, path, graft.operators.FsList.fingerprint(
      spark.sparkContext.hadoopConfiguration, path))

  /** [[loadArtifact]] under a fingerprint the caller already listed. */
  private[graft] def loadArtifact(spark: SparkSession, path: String,
      fingerprint: Option[String]): DataFrame =
    artifactMemo.get(s"${System.identityHashCode(spark)}:$path",
      fingerprint)(spark.read.parquet(path))

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  /** events.parquet carries TIMESTAMP(NANOS), which Spark only reads with
    * `spark.sql.legacy.parquet.nanosAsLong=true` (set by
    * `GraftSession.local`). Normalize the resulting long back to a microsecond timestamp
    * so downstream operators keep timestamp semantics. Microsecond
    * truncation matches what engines reading the file natively see.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = load(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        // the testdata parquet lacks isAdjustedToUTC, so a session that
        // hasn't disabled inferTimestampNTZ infers NTZ — which breaks
        // withWatermark/unix_millis downstream. Enforce TIMESTAMP at
        // the read site by re-reading with an explicit schema: a
        // schema-level coercion, NOT a cast above the scan, so ts
        // predicate pushdown is preserved (a library user's default
        // session gets correct behavior without a session config)
        spark.read.schema(tsAsLtz(df.schema))
          .parquet(s"$dir/events.parquet")
      case _ => df
    }
  }

  /** Every TIMESTAMP_NTZ field of `schema` switched to TIMESTAMP (LTZ)
    * — the explicit read schema for parquet written without
    * isAdjustedToUTC metadata. Under the repo's UTC session-timezone
    * contract the stored micros are identical either way.
    */
  private[graft] def tsAsLtz(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(schema.map {
      case f if f.dataType
          .isInstanceOf[org.apache.spark.sql.types.TimestampNTZType] =>
        f.copy(dataType = org.apache.spark.sql.types.TimestampType)
      case f => f
    })
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
