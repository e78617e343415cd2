package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Vec
import graft.queries.TextQueries.tokens
import graft.queries.OracleGen.{dotSql, normSql}

/** Deduplication operators over `documents.parquet` / `embeddings.parquet`:
  * exact (fingerprint group-by), MinHash+LSH banding, SimHash, n-gram
  * Jaccard, and embedding near-dup via IVF bucketing.
  *
  * All hash math is md5-based so the DuckDB oracle can reproduce it
  * bit-for-bit (`conv(substr(md5 ...))` ↔ `('0x' || substr(md5 ...))::BIGINT`).
  * 15 hex chars = 60 bits keeps every value positive in a signed 64-bit
  * long in both engines.
  *
  * Scale shape: exact dedup is one hash-partitioned groupBy (the md5 key
  * distributes uniformly — no skew). MinHash/LSH is the classic
  * shingle→sign→band pipeline: map-side signature computation, one
  * shuffle on (band_idx, band_val), candidate verification only within
  * buckets — pair cost is bucket-local, never O(n²) over the corpus.
  */
object DedupQueries {

  /** The ONE DuckDB twin of the md5 MinHash signature scheme — the
    * oracle-side mirror of [[withMd5Sig]], spliced by concatenation
    * into every MinHash oracle below (and the stream LSH twin) instead
    * of textual copies, so a change to the scheme (hash count, band
    * width, the 64 bucket cap, the shingle rule) edits ONE definition
    * per engine (r15 review). The ELSE arm's coalesce mirrors the
    * Spark rule's null-terms collapse (MinHashLsh.shingles): null text
    * splits to a NULL list whose string_agg is NULL, and a [NULL]
    * shingle set would diverge from Spark's [""] whole-doc shingle. Fragments carry their own margin bars;
    * stripMargin runs on each COMPOSED string, and the WITH /
    * WITH RECURSIVE keyword stays with the consumer.
    */
  private[queries] val MinhashToksShSigCte =
    """toks AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
      |    THEN list_transform(range(1, len(t) - 1),
      |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |    ELSE [coalesce(list_aggregate(t, 'string_agg', ' '), '')] END) AS s
      |  FROM toks),""".stripMargin

  /** Banded signatures carrying the shingle set (for downstream
    * verification joins on `s`).
    */
  private[queries] val MinhashBandedSCte =
    """banded AS (
      |  SELECT doc_id, s, b AS band_idx,
      |    g[2*b + 1] || '_' || g[2*b + 2] AS band_val
      |  FROM sig, unnest(range(0, 4)) AS u(b)),""".stripMargin

  /** Banded signatures without `s` (stats-only consumers). */
  private[queries] val MinhashBandedCte =
    """banded AS (
      |  SELECT doc_id, b AS band_idx,
      |    g[2*b + 1] || '_' || g[2*b + 2] AS band_val
      |  FROM sig, unnest(range(0, 4)) AS u(b)),""".stripMargin

  /** Candidate pairs under the 64-per-bucket left-side cap — the twin
    * of [[graft.operators.MinHashLsh.candidates]].
    */
  private[queries] val MinhashCandCappedCte =
    """cand AS (
      |  SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id
      |  FROM (SELECT doc_id, band_idx, band_val FROM (
      |          SELECT doc_id, band_idx, band_val,
      |            row_number() OVER (PARTITION BY band_idx, band_val
      |                               ORDER BY doc_id) AS rn
      |          FROM banded) WHERE rn <= 64) l
      |  JOIN banded r
      |    ON l.band_idx = r.band_idx AND l.band_val = r.band_val
      |   AND l.doc_id < r.doc_id),""".stripMargin


  /** First 60 bits of md5 as a non-negative BIGINT — the native codegen
    * [[graft.functions.Md5Long60]] (digest → bit ops, no hex-string
    * round-trip; DedupSpec asserts bitwise parity with [[md5LongSql]]).
    */
  def md5Long(c: Column): Column = graft.functions.Md5Long60.col(c)

  /** Composed built-in form of [[md5Long]] — the SQL-expressible parity
    * baseline (kept for the DedupSpec equivalence gate; the oracle's
    * DuckDB twin mirrors this construction).
    */
  def md5LongSql(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Distinct 3-token shingles from an ALREADY-MATERIALIZED tokens
    * column. Callers must stage tokenization into its own projection
    * first (`withColumn("toks", tokens(text))`): inlining the tokens
    * expression here makes Catalyst re-evaluate the regex split for every
    * element_at access — O(tokens²) splits per document (measured 10 s →
    * <1 s over 5000 docs at sf0.1).
    */
  def shinglesFromTokens(toks: Column): Column =
    graft.operators.MinHashLsh.shingles(toks, 3)

  /** Shingled view of documents: (doc_id, sh) with staged tokenization. */
  def shingledDocs(df: DataFrame): DataFrame =
    df.withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), shinglesFromTokens(col("toks")).as("sh"))

  private def fingerprint(c: Column): Column =
    md5(regexp_replace(lower(c), "\\s+", " "))

  /** Exact-dedup corpus stats: docs, unique fingerprints, removable rows.
    * Two-phase: groupBy(fp).count then one global agg — count +
    * countDistinct in a single agg plans an Expand (×2 rows of md5
    * fingerprints through the shuffle); this shape shuffles each
    * fingerprint once and the second agg sees only one row per
    * distinct fp.
    */
  def exactStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(fingerprint(col("text")).as("fp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("__copies"))
      .agg(sum(col("__copies")).cast("long").as("n_docs"),
        count(lit(1)).as("n_unique"),
        (sum(col("__copies")) - count(lit(1))).cast("long").as("n_duplicates"))

  private val exactStatsSql =
    """SELECT count(*) AS n_docs,
      |  count(DISTINCT md5(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS n_unique,
      |  count(*) - count(DISTINCT md5(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS n_duplicates
      |FROM documents""".stripMargin

  /** Exact-dedup pair detail: every duplicate doc mapped to its canonical
    * (minimum) doc_id. Empty when the corpus has no exact dups (sf0.01);
    * non-empty at sf0.1.
    */
  def exactPairs(spark: SparkSession, dir: String): DataFrame = {
    // one window over the fp partition replaces the r17
    // persist + groupBy + self-join shape: min(doc_id) and count(*)
    // over each fingerprint group ARE the canonical id and copy count,
    // so the md5 pass runs once, nothing is cached, and the plan is a
    // single exchange on fp instead of aggregate-then-join (same rows
    // — integer/string math only)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .withColumn("canonical_id", min(col("doc_id")).over(w))
      .withColumn("n_copies", count(lit(1)).over(w))
      .where(col("n_copies") > 1 && col("doc_id") =!= col("canonical_id"))
      .select(col("canonical_id"), col("doc_id").as("dup_id"))
      .orderBy(col("canonical_id"), col("dup_id"))
  }

  private val exactPairsSql =
    """WITH fp AS (
      |  SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS f
      |  FROM documents),
      |canon AS (
      |  SELECT f, min(doc_id) AS canonical_id, count(*) AS n
      |  FROM fp GROUP BY f HAVING count(*) > 1)
      |SELECT canonical_id, doc_id AS dup_id
      |FROM fp JOIN canon USING (f)
      |WHERE doc_id <> canonical_id
      |ORDER BY canonical_id, dup_id""".stripMargin

  /** n-gram Jaccard near-dup: top-20 most similar doc pairs (3-token
    * shingles) within a bounded id range — the brute-force oracle for the
    * LSH variant below.
    */
  def ngramJaccardTopPairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = shingledDocs(Tables.documents(spark, dir)
      .where(col("doc_id") < 60))
    val a = docs.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val b = docs.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    a.crossJoin(b).where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(
          size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
            size(array_union(col("a_sh"), col("b_sh"))), 4).as("jaccard"))
      .orderBy(col("jaccard").desc, col("a_id"), col("b_id"))
      .limit(20)
  }

  private val ngramJaccardTopPairsSql =
    """WITH t AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
      |    THEN list_transform(range(1, len(toks) - 1),
      |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |    ELSE [list_aggregate(toks, 'string_agg', ' ')] END) AS sh
      |  FROM (SELECT doc_id,
      |          list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
      |        FROM documents WHERE doc_id < 60))
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |        / len(list_distinct(a.sh || b.sh)), 4) AS jaccard
      |FROM t a JOIN t b ON a.doc_id < b.doc_id
      |ORDER BY jaccard DESC, a_id, b_id LIMIT 20""".stripMargin

  /** Band projection of an already-signed DF (sig_0..sig_{n-1} columns):
    * (doc_id, band_idx, band_val) with 2 hashes per band — the catalog
    * instantiation of [[graft.operators.MinHashLsh.band]] (batch
    * pipelines apply it to their persisted signed DF,
    * [[bandedSignaturesMd5]] composes it for callers starting from raw
    * documents).
    */
  def bandsOf(signed: DataFrame, nHashes: Int): DataFrame = {
    // 2 hashes per band needs an even signature count — make the
    // contract explicit rather than letting Params' multiple-of-bands
    // require surface as a confusing downstream error (nHashes = 5
    // would compute bands = 2 and trip `numHashes % bands == 0`)
    require(nHashes >= 2 && nHashes % 2 == 0,
      s"bandsOf needs an even nHashes >= 2 (2 hashes per band), got $nHashes")
    graft.operators.MinHashLsh.band(
        signed.withColumnRenamed("doc_id", "id"),
        catalogParams.copy(numHashes = nHashes, bands = nHashes / 2))
      .withColumnRenamed("id", "doc_id")
  }

  /** (doc_id, band_idx, band_val) banded md5 MinHash signatures from a
    * raw (doc_id, text) frame — the map-side half of the LSH pipeline,
    * shared by the batch candidate join and the streaming
    * stateful-bucket form
    * ([[graft.streaming.DocsStreaming.lshCandidates]]). Pure column
    * expressions, so it applies to batch and streaming DataFrames
    * alike. The hash family is md5 ([[md5Long]], native codegen) so the
    * candidate set is recomputable by the DuckDB oracle; a production
    * pipeline that doesn't need cross-engine reproducibility can swap
    * the per-shingle expression for xxhash64 — banding, bucketing, and
    * every consumer are hash-agnostic.
    */
  def bandedSignaturesMd5(docs: DataFrame,
      nHashes: Int = Md5Hashes): DataFrame =
    bandsOf(withMd5Sig(shingledDocs(docs), nHashes), nHashes)

  /** MinHash + LSH banding near-dup pipeline stats, full corpus. 8
    * hashes in 4 bands of 2 → candidate pairs = same band value;
    * candidates verified with exact shingle Jaccard. Served from the
    * build-once md5-signed table ([[signedDocsPath]] — the
    * `minhash_pairs_build` bench entry), so the stats query measures
    * the band self-join + verification, not a repeated signature pass,
    * and the whole pipeline is DuckDB-recomputable end to end (the
    * md5 family, same as the oracled [[minhashLshPairs]]).
    */
  def minhashLshStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.loadArtifact(spark, signedDocsPath(spark, dir))
    // banding carries only (band, doc_id) — shingle arrays stay out of
    // the self-join shuffle
    val banded = bandsOf(docs, Md5Hashes)
    val cand = bandCandidates(banded)
    val verified = graft.operators.MinHashLsh.scoredPairs(cand,
      docs.withColumnRenamed("doc_id", "id"))
    verified.agg(
      count(lit(1)).as("n_candidate_pairs"),
      sum(when(col("jaccard") >= 0.7, 1).otherwise(0)).as("n_near_dups"))
      .crossJoin(Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs")))
      .select(col("n_docs"), col("n_candidate_pairs"), col("n_near_dups"))
  }

  private val minhashLshStatsSql =
    """WITH """ + MinhashToksShSigCte + """
sig AS (
  SELECT doc_id, s,
    list_transform(range(0, 8), h ->
      list_aggregate(list_transform(s, x ->
        CAST(('0x' || substr(md5(h || ':' || x), 1, 15)) AS BIGINT)), 'min')) AS g
  FROM sh),
""" + MinhashBandedCte + """
""" + MinhashCandCappedCte + """
ver AS (
  SELECT CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
        / len(list_distinct(sa.s || sb.s)) AS j
  FROM cand c JOIN sh sa ON sa.doc_id = c.a_id
              JOIN sh sb ON sb.doc_id = c.b_id)
SELECT (SELECT count(*) FROM documents) AS n_docs,
  count(*) AS n_candidate_pairs,
  CAST(sum(CASE WHEN j >= 0.7 THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dups
FROM ver"""

  /** The ONE definition of the md5 MinHash signature scheme:
    * sig_i = min over shingles of md5Long("i:" || shingle) — both
    * engines derive identical signatures, so candidate sets and
    * verified pairs match the DuckDB oracle exactly. Shared by the
    * batch pair pipeline, the stats query, the streaming bucket path,
    * and the incremental screen so none can desynchronize.
    */
  private def withMd5Sig(df: DataFrame, nHashes: Int): DataFrame =
    graft.operators.MinHashLsh.signShingled(df,
      catalogParams.copy(numHashes = nHashes, bands = nHashes / 2))

  private def md5SignedDocs(spark: SparkSession, dir: String,
      nHashes: Int): DataFrame =
    // spread first — the corpus arrives locally as one scan split and
    // the 8-pass signature stage is the expensive part of the build
    // (identity at cluster scale)
    withMd5Sig(
      shingledDocs(Tables.spread(Tables.documents(spark, dir),
        col("doc_id"))), nHashes)

  /** The one signature-count constant for the md5 pipeline: the signed
    * parquet, its banding consumers, and the oracle SQL (8 hashes in 4
    * bands of 2) must all agree — a consumer reading sig_i beyond this
    * count would hit a missing column, and one reading fewer would
    * silently band a subset.
    */
  private val Md5Hashes = 8

  /** The catalog's operator parameterization — defaults of the public
    * [[graft.operators.MinHashLsh]] operator (3-shingles, 8 hashes in 4
    * bands of 2, Jaccard ≥ 0.7, band-bucket cap 64), which every dedup
    * oracle CTE mirrors. The catalog queries are thin slice-contract
    * wrappers over the operator with exactly these params.
    */
  private val catalogParams = graft.operators.MinHashLsh.Params()

  /** Per-bucket cap on the band self-join's LEFT side — the batch
    * analogue of the streaming path's bounded bucket state
    * ([[graft.streaming.DocsStreaming.MaxBucketState]] references this
    * one constant). A band bucket of m members generates C(m,2)
    * candidate pairs; a degenerate near-dup mega-cluster (thousands of
    * identical docs sharing every bucket at corpus scale) makes that
    * quadratic — the classic LSH blowup. Capping the l side at the B
    * smallest doc_ids bounds the bucket's pair count at B·m while
    * keeping EVERY member paired with the bucket's rank-1 member, so
    * connected components, keep-best, and the split audit see the same
    * clusters. Exact (a no-op) whenever every bucket has ≤ B members —
    * true at every test SF, and mirrored in all the generated/static
    * oracles so engine and DuckDB stay in lockstep even on data where
    * the cap binds.
    */
  val MaxBandBucket = catalogParams.maxBandBucket

  /** Candidate (a_id, b_id) pairs from a banded signature table —
    * [[graft.operators.MinHashLsh.candidates]] with the catalog's
    * [[MaxBandBucket]] l-side cap, shared by the pairs build and the
    * stats query. The DuckDB oracles express the same cap as
    * `row_number() ... <= 64` — identical result (smallest cap doc_ids
    * per bucket), different physical plan (the operator's bounded-state
    * TopNByKey aggregate, see its Scaladoc).
    */
  private def bandCandidates(banded: DataFrame): DataFrame =
    graft.operators.MinHashLsh.candidates(
      banded.withColumnRenamed("doc_id", "id"), catalogParams)

  /** The signed-docs table materialized once per (JVM, sfDir) — both
    * the batch pair pipeline and the incremental screen consume it, and
    * the 8-pass md5 signature computation is the expensive part of
    * both. Parquet (not persist) so `clearCache()` between catalog
    * queries cannot evict it.
    */
  private val signedCache = new Tables.DataKeyedMemo[String]()

  def signedDocsPath(spark: SparkSession, dir: String): String =
    signedCache.get(dir) {
      val path =
        s"/tmp/graft_pairs/${graft.Tables.cacheDirName(dir)}_signed"
      md5SignedDocs(spark, dir, Md5Hashes).write.mode("overwrite").parquet(path)
      path
    }

  def minhashVerifiedPairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.loadArtifact(spark, signedDocsPath(spark, dir))
    val banded = bandsOf(docs, Md5Hashes)
    graft.operators.MinHashLsh.verify(bandCandidates(banded),
      docs.withColumnRenamed("doc_id", "id"), catalogParams)
  }

  /** Materialized verified pair set, one per (JVM, sfDir) — the same
    * build-once treatment as the IVF index: three catalog queries
    * (`minhash_lsh_pairs`, `dedup_clusters`, `cross_source_dups`)
    * consume the pair graph, and a production pipeline computes it
    * once. Bench times the build as its own `minhash_pairs_build`
    * entry so each consumer measures ITS work, not a repeated
    * signature pass. Parquet (not persist): `clearCache()` between
    * bench queries must not evict it.
    */
  private val pairsCache = new Tables.DataKeyedMemo[String]()

  def verifiedPairsPath(spark: SparkSession, dir: String): String =
    pairsCache.get(dir) {
      val path =
        s"/tmp/graft_pairs/${graft.Tables.cacheDirName(dir)}"
      minhashVerifiedPairs(spark, dir)
        .write.mode("overwrite").parquet(path)
      path
    }

  def minhashLshPairs(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.loadArtifact(spark, verifiedPairsPath(spark, dir))
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("a_id"), col("b_id"))

  /** Near-dup CLUSTERS: the verified MinHash pair graph collapsed into
    * connected components (graft.operators.ConnectedComponents) — the
    * "keep one per cluster" step a dedup pipeline actually executes.
    * cluster_id = the component's minimum doc_id; that member is the
    * canonical survivor. Oracle = the same LSH pipeline + a recursive
    * CTE computing min-reachable-id in DuckDB.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    graft.operators.MinHashLsh.clusters(
        graft.Tables.loadArtifact(spark, verifiedPairsPath(spark, dir)))
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  private val dedupClustersSql =
    """WITH RECURSIVE """ + MinhashToksShSigCte + """
sig AS (
  SELECT doc_id, s,
    list_transform(range(0, 8), h ->
      list_aggregate(list_transform(s, x ->
        CAST(('0x' || substr(md5(h || ':' || x), 1, 15)) AS BIGINT)), 'min')) AS g
  FROM sh),
""" + MinhashBandedSCte + """
""" + MinhashCandCappedCte + """
ver AS (
  SELECT c.a_id, c.b_id
  FROM cand c JOIN sh sa ON sa.doc_id = c.a_id
              JOIN sh sb ON sb.doc_id = c.b_id
  WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
        / len(list_distinct(sa.s || sb.s)) >= 0.7),
edges AS (
  SELECT a_id AS src, b_id AS dst FROM ver
  UNION ALL SELECT b_id, a_id FROM ver),
reach(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, rr.r FROM edges e JOIN reach rr ON rr.id = e.dst),
comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
SELECT c.id AS doc_id, c.cluster_id,
  c.id = c.cluster_id AS is_canonical, cs.cluster_size
FROM comp c JOIN (SELECT cluster_id, count(*) AS cluster_size
                  FROM comp GROUP BY cluster_id) cs USING (cluster_id)
ORDER BY doc_id"""

  /** Leakage-safe train/validation split audit: every document is
    * assigned train (~90%) or val by the md5 hash of its NEAR-DUP
    * CLUSTER id — not its own doc_id — so two near-duplicates can
    * never straddle the boundary (the classic eval-contamination bug:
    * a per-doc hash split leaks paraphrases of training docs into
    * validation). Singletons are their own cluster, so for them the
    * safe split degenerates to the per-doc hash. One audit row
    * comparing the safe split against the naive per-doc split it
    * replaces: `safe_split_clusters` is computed from the data (not
    * assumed) and must be 0, while `naive_split_clusters` /
    * `naive_leaked_val_docs` quantify the leak the cluster hash
    * prevents.
    *
    * Scale shape: the component map is edge-graph-sized (≪ corpus);
    * one hash join attaches it to the doc list, split assignment is
    * map-side md5, and the per-cluster roll-up partial-aggregates —
    * nothing corpus-sized ever sits in one place.
    */
  def splitLeakageAudit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val comp = graft.operators.ConnectedComponents.resolve(
        graft.Tables.loadArtifact(spark, verifiedPairsPath(spark, dir)), "a_id", "b_id")
      .withColumnRenamed("id", "doc_id")
    val s = docs.join(comp, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("naive_train",
        pmod(md5Long(col("doc_id").cast("string")), lit(10)) < 9)
      .withColumn("safe_train",
        pmod(md5Long(col("cluster_id").cast("string")), lit(10)) < 9)
    val pc = s.groupBy(col("cluster_id")).agg(
      count(lit(1)).as("sz"),
      sum(when(col("naive_train"), 1).otherwise(0)).as("n_tr"),
      sum(when(col("safe_train"), 1).otherwise(0)).as("n_str"))
    pc.agg(
      sum(col("sz")).cast("long").as("n_docs"),
      count(lit(1)).as("n_clusters"),
      sum(when(col("sz") > 1, 1).otherwise(0)).cast("long")
        .as("n_multidoc_clusters"),
      sum(col("n_str")).cast("long").as("safe_train_docs"),
      sum(col("sz") - col("n_str")).cast("long").as("safe_val_docs"),
      sum(col("n_tr")).cast("long").as("naive_train_docs"),
      sum(col("sz") - col("n_tr")).cast("long").as("naive_val_docs"),
      sum(when(col("n_tr") > 0 && col("n_tr") < col("sz"), 1).otherwise(0))
        .cast("long").as("naive_split_clusters"),
      sum(when(col("n_tr") > 0 && col("n_tr") < col("sz"),
        col("sz") - col("n_tr")).otherwise(0))
        .cast("long").as("naive_leaked_val_docs"),
      sum(when(col("n_str") > 0 && col("n_str") < col("sz"), 1).otherwise(0))
        .cast("long").as("safe_split_clusters"))
  }

  private val splitLeakageAuditSql =
    """WITH RECURSIVE """ + MinhashToksShSigCte + """
sig AS (
  SELECT doc_id, s,
    list_transform(range(0, 8), h ->
      list_aggregate(list_transform(s, x ->
        CAST(('0x' || substr(md5(h || ':' || x), 1, 15)) AS BIGINT)), 'min')) AS g
  FROM sh),
""" + MinhashBandedSCte + """
""" + MinhashCandCappedCte + """
ver AS (
  SELECT c.a_id, c.b_id
  FROM cand c JOIN sh sa ON sa.doc_id = c.a_id
              JOIN sh sb ON sb.doc_id = c.b_id
  WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
        / len(list_distinct(sa.s || sb.s)) >= 0.7),
edges AS (
  SELECT a_id AS src, b_id AS dst FROM ver
  UNION ALL SELECT b_id, a_id FROM ver),
reach(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, rr.r FROM edges e JOIN reach rr ON rr.id = e.dst),
comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
assigned AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
splits AS (
  SELECT doc_id, cluster_id,
    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      % 10 < 9 AS naive_train,
    CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15)) AS BIGINT)
      % 10 < 9 AS safe_train
  FROM assigned),
pc AS (
  SELECT cluster_id, count(*) AS sz,
    sum(CASE WHEN naive_train THEN 1 ELSE 0 END) AS n_tr,
    sum(CASE WHEN safe_train THEN 1 ELSE 0 END) AS n_str
  FROM splits GROUP BY 1)
SELECT CAST(sum(sz) AS BIGINT) AS n_docs,
  count(*) AS n_clusters,
  CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_multidoc_clusters,
  CAST(sum(n_str) AS BIGINT) AS safe_train_docs,
  CAST(sum(sz - n_str) AS BIGINT) AS safe_val_docs,
  CAST(sum(n_tr) AS BIGINT) AS naive_train_docs,
  CAST(sum(sz - n_tr) AS BIGINT) AS naive_val_docs,
  CAST(sum(CASE WHEN n_tr > 0 AND n_tr < sz THEN 1 ELSE 0 END) AS BIGINT)
    AS naive_split_clusters,
  CAST(sum(CASE WHEN n_tr > 0 AND n_tr < sz THEN sz - n_tr ELSE 0 END) AS BIGINT)
    AS naive_leaked_val_docs,
  CAST(sum(CASE WHEN n_str > 0 AND n_str < sz THEN 1 ELSE 0 END) AS BIGINT)
    AS safe_split_clusters
FROM pc"""

  /** Incremental NEAR-dup screening: a new crawl batch (doc_id % 10 ∈
    * {8, 9} here) checked against the EXISTING corpus via the MinHash
    * band index — the production shape for daily increments, where
    * re-running the full self-join would recompute O(corpus)
    * signatures for an O(batch)-sized question. Signatures are
    * computed once over the union (one persist), the band join is
    * new-side × corpus-side only (never corpus × corpus), and
    * candidates verify with exact shingle Jaccard. Complements
    * [[dedupIncrementalStats]], which screens EXACT dups via the Bloom
    * anti-join; md5 signatures keep it oracle-reproducible.
    *
    * One stats row: batch size, band-candidate pairs, verified-dup new
    * docs, novel new docs.
    */
  def incrementalNeardupStats(spark: SparkSession, dir: String): DataFrame = {
    val nHashes = Md5Hashes
    val docs = graft.Tables.loadArtifact(spark, signedDocsPath(spark, dir))
    val isNew = pmod(col("doc_id"), lit(10)) >= 8
    val banded = bandsOf(docs, nHashes)
    val cand = banded.where(pmod(col("doc_id"), lit(10)) >= 8).as("n")
      .join(banded.where(pmod(col("doc_id"), lit(10)) < 8).as("c"),
        Seq("band_idx", "band_val"))
      .select(col("n.doc_id").as("new_id"), col("c.doc_id").as("corpus_id"))
      .dropDuplicates("new_id", "corpus_id")
    val verified = broadcast(cand)
      .join(docs.select(col("doc_id").as("new_id"), col("sh").as("n_sh")), "new_id")
      .join(docs.select(col("doc_id").as("corpus_id"), col("sh").as("c_sh")), "corpus_id")
      .withColumn("jaccard",
        size(array_intersect(col("n_sh"), col("c_sh"))).cast("double") /
          size(array_union(col("n_sh"), col("c_sh"))))
    // one LAZY plan for the whole stats row (r18): the r17 form ran two
    // separate driver actions (count + head) inside the builder and
    // re-emitted their values through a local DF; nothing here persists,
    // so folding the batch count in as a 1-row broadcast cross join
    // returns the same row with two fewer blocking job round-trips —
    // the caller's single action computes everything
    verified.agg(
        count(lit(1)).as("n_candidate_pairs"),
        countDistinct(when(col("jaccard") >= 0.7, col("new_id")))
          .as("n_dup_new"))
      .crossJoin(broadcast(docs.where(isNew).agg(count(lit(1)).as("n_new"))))
      .select(col("n_new"), col("n_candidate_pairs"), col("n_dup_new"),
        (col("n_new") - col("n_dup_new")).as("n_novel"))
  }

  private val incrementalNeardupStatsSql =
    """WITH """ + MinhashToksShSigCte + """
sig AS (
  SELECT doc_id, s,
    list_transform(range(0, 8), h ->
      list_aggregate(list_transform(s, x ->
        CAST(('0x' || substr(md5(h || ':' || x), 1, 15)) AS BIGINT)), 'min')) AS g
  FROM sh),
""" + MinhashBandedCte + """
cand AS (
  SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
  FROM banded n JOIN banded c
    ON n.band_idx = c.band_idx AND n.band_val = c.band_val
  WHERE n.doc_id % 10 >= 8 AND c.doc_id % 10 < 8),
ver AS (
  SELECT cand.new_id,
    CAST(len(list_intersect(sn.s, sc.s)) AS DOUBLE)
      / len(list_distinct(sn.s || sc.s)) AS jaccard
  FROM cand JOIN sh sn ON sn.doc_id = cand.new_id
            JOIN sh sc ON sc.doc_id = cand.corpus_id),
nn AS (SELECT count(*) AS n_new FROM toks WHERE doc_id % 10 >= 8)
SELECT nn.n_new,
  (SELECT count(*) FROM ver) AS n_candidate_pairs,
  (SELECT count(DISTINCT new_id) FROM ver WHERE jaccard >= 0.7) AS n_dup_new,
  nn.n_new - (SELECT count(DISTINCT new_id) FROM ver WHERE jaccard >= 0.7) AS n_novel
FROM nn"""

  /** Quality-aware canonical selection: within each near-dup cluster,
    * keep the member with the most distinct tokens (tie → lowest
    * doc_id) — the production keep-policy, vs [[dedupClusters]]'s
    * min-id convention. Distinct-token count is an integer, so the
    * argmax is engine- and float-free deterministic. One row per
    * cluster: who survives and how many rows the cluster removes.
    *
    * Scale shape: the cluster table is pair-graph-sized (≪ corpus); the
    * quality metric joins in from the documents table by id, and the
    * per-cluster argmax is a window over cluster-sized partitions.
    */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val comp = graft.operators.ConnectedComponents.resolve(
      graft.Tables.loadArtifact(spark, verifiedPairsPath(spark, dir)), "a_id", "b_id")
    val quality = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(array_distinct(tokens(col("text")))).cast("long").as("q"))
    val members = comp.join(quality, comp("id") === quality("doc_id"))
      .select(col("cluster_id"), col("id"), col("q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("q").desc, col("id"))
    members.withColumn("rk", row_number().over(w))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        max(when(col("rk") === 1, col("id"))).as("keep_id"),
        max(when(col("rk") === 1, col("q"))).as("keep_distinct_tokens"),
        (count(lit(1)) - 1).as("n_dropped"))
      .orderBy(col("cluster_id"))
  }

  /** Same recursive-CTE cluster derivation as [[dedupClustersSql]], with
    * the keep-policy window appended.
    */
  private val dedupKeepBestSql =
    """WITH RECURSIVE """ + MinhashToksShSigCte + """
sig AS (
  SELECT doc_id, s,
    list_transform(range(0, 8), h ->
      list_aggregate(list_transform(s, x ->
        CAST(('0x' || substr(md5(h || ':' || x), 1, 15)) AS BIGINT)), 'min')) AS g
  FROM sh),
""" + MinhashBandedSCte + """
""" + MinhashCandCappedCte + """
ver AS (
  SELECT c.a_id, c.b_id
  FROM cand c JOIN sh sa ON sa.doc_id = c.a_id
              JOIN sh sb ON sb.doc_id = c.b_id
  WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
        / len(list_distinct(sa.s || sb.s)) >= 0.7),
edges AS (
  SELECT a_id AS src, b_id AS dst FROM ver
  UNION ALL SELECT b_id, a_id FROM ver),
reach(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, rr.r FROM edges e JOIN reach rr ON rr.id = e.dst),
comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
q AS (SELECT doc_id, CAST(len(list_distinct(t)) AS BIGINT) AS q FROM toks),
m AS (SELECT c.cluster_id, c.id, q.q FROM comp c JOIN q ON q.doc_id = c.id),
rk AS (SELECT *, ROW_NUMBER() OVER (
        PARTITION BY cluster_id ORDER BY q DESC, id) AS rk FROM m)
SELECT cluster_id, count(*) AS cluster_size,
  max(CASE WHEN rk = 1 THEN id END) AS keep_id,
  max(CASE WHEN rk = 1 THEN q END) AS keep_distinct_tokens,
  CAST(count(*) - 1 AS BIGINT) AS n_dropped
FROM rk GROUP BY cluster_id ORDER BY cluster_id"""

  private val minhashLshPairsSql =
    """WITH """ + MinhashToksShSigCte + """
sig AS (
  SELECT doc_id, s,
    list_transform(range(0, 8), h ->
      list_aggregate(list_transform(s, x ->
        CAST(('0x' || substr(md5(h || ':' || x), 1, 15)) AS BIGINT)), 'min')) AS g
  FROM sh),
""" + MinhashBandedSCte + """
""" + MinhashCandCappedCte + """
ver AS (
  SELECT c.a_id, c.b_id,
    CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
      / len(list_distinct(sa.s || sb.s)) AS j
  FROM cand c JOIN sh sa ON sa.doc_id = c.a_id
              JOIN sh sb ON sb.doc_id = c.b_id)
SELECT a_id, b_id, round(j, 4) AS jaccard FROM ver
WHERE j >= 0.7 ORDER BY a_id, b_id"""

  /** SimHash (60-bit) per document: per-bit majority vote over token
    * hashes, computed with nested higher-order functions — fully
    * codegen'd, no UDF. Written as a SQL expression because the Scala DSL
    * only accepts literal shift amounts.
    */
  def simhashCol(textCol: String): Column = expr(
    // tokens are hashed ONCE in the inner transform (HOF lambdas have
    // no common-subexpression elimination — hashing inside the per-bit
    // lambda would digest each token 60 times)
    s"""aggregate(
       |  zip_with(
       |    aggregate(
       |      transform(
       |        filter(split($textCol, '\\\\s+'), t -> length(t) > 0),
       |        t -> CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT)),
       |      array_repeat(CAST(0 AS BIGINT), 60),
       |      (acc, h) -> zip_with(
       |        acc,
       |        transform(sequence(0, 59), j ->
       |          CASE WHEN (shiftright(h, j) & CAST(1 AS BIGINT)) = 1
       |               THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END),
       |        (a, b) -> a + b)),
       |    sequence(0, 59),
       |    (c, j) -> CASE WHEN c > 0 THEN shiftleft(CAST(1 AS BIGINT), j) ELSE CAST(0 AS BIGINT) END),
       |  CAST(0 AS BIGINT), (a, b) -> a | b)""".stripMargin)

  def simhashDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .where(col("doc_id") < 100)
      .select(col("doc_id"), simhashCol("text").as("simhash"))
      .orderBy(col("doc_id"))

  private val simhashDocsSql =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
      |  FROM documents WHERE doc_id < 100),
      |bits AS (
      |  SELECT doc_id,
      |    list_reduce(
      |      list_transform(toks, tok ->
      |        list_transform(range(0, 60), j ->
      |          CASE WHEN (CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) >> j) & 1 = 1
      |               THEN 1 ELSE -1 END)),
      |      (a, b) -> list_transform(range(1, 61), i -> a[i] + b[i])) AS bc
      |  FROM t)
      |SELECT doc_id,
      |  list_reduce(list_transform(range(1, 61),
      |    i -> CASE WHEN bc[i] > 0 THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END),
      |    (a, b) -> a | b) AS simhash
      |FROM bits ORDER BY doc_id""".stripMargin

  /** SimHash near-dup pairs: 20 closest pairs by Hamming distance. */
  def simhashNearPairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .where(col("doc_id") < 60)
      .select(col("doc_id"), simhashCol("text").as("sh"))
    val a = docs.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val b = docs.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    a.crossJoin(b).where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        expr("bit_count(a_sh ^ b_sh)").as("hamming"))
      .orderBy(col("hamming"), col("a_id"), col("b_id"))
      .limit(20)
  }

  private val simhashNearPairsSql =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
      |  FROM documents WHERE doc_id < 60),
      |bits AS (
      |  SELECT doc_id,
      |    list_reduce(
      |      list_transform(toks, tok ->
      |        list_transform(range(0, 60), j ->
      |          CASE WHEN (CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) >> j) & 1 = 1
      |               THEN 1 ELSE -1 END)),
      |      (a, b) -> list_transform(range(1, 61), i -> a[i] + b[i])) AS bc
      |  FROM t),
      |sh AS (
      |  SELECT doc_id,
      |    list_reduce(list_transform(range(1, 61),
      |      i -> CASE WHEN bc[i] > 0 THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END),
      |      (a, b) -> a | b) AS s
      |  FROM bits)
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |  bit_count(xor(a.s, b.s)) AS hamming
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |ORDER BY hamming, a_id, b_id LIMIT 20""".stripMargin

  /** Embedding near-dup via IVF bucketing: candidate pairs share a
    * centroid (bucket-local pair generation — the scale path vs O(n²)),
    * verified by cosine ≥ 0.95. Oracle-checked via [[OracleGen]]: the
    * cell assignment is inlined and DuckDB independently re-derives the
    * same-cell pairs, the cosine math over the real embeddings, and
    * the threshold counts.
    */
  def embeddingNeardupStats(spark: SparkSession, dir: String): DataFrame = {
    val idx = IndexQueries.index(spark, dir)
    // live view: deleted vectors must not surface as near-dup members
    val vecs = graft.operators.Ivf.liveVectors(spark, idx)
      .select(col("centroid_id"), col("vec_id"), col("embedding"))
    val a = vecs.select(col("centroid_id"), col("vec_id").as("a_id"),
      col("embedding").as("a_emb"))
    val b = vecs.select(col("centroid_id"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"))
    a.join(b, "centroid_id")
      .where(col("a_id") < col("b_id"))
      .withColumn("cos_sim", Vec.cosine(col("a_emb"), col("b_emb")))
      .agg(count(lit(1)).as("n_candidate_pairs"),
        sum(when(col("cos_sim") >= 0.95, 1).otherwise(0)).as("n_near_dups"))
  }

  /** Cross-source duplication matrix: verified near-dup pairs rolled up
    * by (source_a, source_b) — "which sources copy which", the
    * curation question behind source weighting. Two broadcast-sized
    * joins attach sources to the (small) verified pair set; sources are
    * ordered within the pair so the matrix is upper-triangular.
    */
  def crossSourceDups(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val pairs = graft.Tables.loadArtifact(spark, verifiedPairsPath(spark, dir))
      .join(src.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("source", "a_src"), "a_id")
      .join(src.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("source", "b_src"), "b_id")
    pairs
      .select(least(col("a_src"), col("b_src")).as("source_lo"),
        greatest(col("a_src"), col("b_src")).as("source_hi"))
      .groupBy(col("source_lo"), col("source_hi"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_lo"), col("source_hi"))
  }

  private val crossSourceDupsSql =
    """WITH """ + MinhashToksShSigCte + """
sig AS (
  SELECT doc_id, s,
    list_transform(range(0, 8), h ->
      list_aggregate(list_transform(s, x ->
        CAST(('0x' || substr(md5(h || ':' || x), 1, 15)) AS BIGINT)), 'min')) AS g
  FROM sh),
""" + MinhashBandedSCte + """
""" + MinhashCandCappedCte + """
ver AS (
  SELECT c.a_id, c.b_id
  FROM cand c JOIN sh sa ON sa.doc_id = c.a_id
              JOIN sh sb ON sb.doc_id = c.b_id
  WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
        / len(list_distinct(sa.s || sb.s)) >= 0.7)
SELECT least(da.source, db.source) AS source_lo,
       greatest(da.source, db.source) AS source_hi,
       count(*) AS n_pairs
FROM ver JOIN documents da ON da.doc_id = ver.a_id
         JOIN documents db ON db.doc_id = ver.b_id
GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Corpus-level near-dup reduction headline: how many documents the
    * keep-one-per-cluster policy removes, and what fraction of the
    * corpus that is. One aggregation over the cluster table + the
    * corpus count.
    */
  def dedupKeepStats(spark: SparkSession, dir: String): DataFrame = {
    val clusters = dedupClusters(spark, dir)
    clusters.agg(
        count(lit(1)).as("n_clustered"),
        sum(when(col("is_canonical"), 0).otherwise(1)).cast("long").as("n_removed"))
      .crossJoin(Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs")))
      .select(col("n_docs"), col("n_clustered"), col("n_removed"),
        round(col("n_removed").cast("double") / col("n_docs"), 4)
          .as("removed_frac"))
  }

  private val dedupKeepStatsSql =
    """WITH RECURSIVE """ + MinhashToksShSigCte + """
sig AS (
  SELECT doc_id, s,
    list_transform(range(0, 8), h ->
      list_aggregate(list_transform(s, x ->
        CAST(('0x' || substr(md5(h || ':' || x), 1, 15)) AS BIGINT)), 'min')) AS g
  FROM sh),
""" + MinhashBandedSCte + """
""" + MinhashCandCappedCte + """
ver AS (
  SELECT c.a_id, c.b_id
  FROM cand c JOIN sh sa ON sa.doc_id = c.a_id
              JOIN sh sb ON sb.doc_id = c.b_id
  WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
        / len(list_distinct(sa.s || sb.s)) >= 0.7),
edges AS (
  SELECT a_id AS src, b_id AS dst FROM ver
  UNION ALL SELECT b_id, a_id FROM ver),
reach(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, rr.r FROM edges e JOIN reach rr ON rr.id = e.dst),
comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
SELECT (SELECT count(*) FROM documents) AS n_docs,
  count(*) AS n_clustered,
  CAST(sum(CASE WHEN id = cluster_id THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
  round(CAST(sum(CASE WHEN id = cluster_id THEN 0 ELSE 1 END) AS DOUBLE)
        / (SELECT count(*) FROM documents), 4) AS removed_frac
FROM comp"""

  /** Incremental-ingest dedup: a new crawl batch (doc_id >= 400) is
    * deduplicated against the already-ingested corpus (doc_id < 400) by
    * bag-of-words fingerprint (md5 of the sorted distinct token set —
    * canonicalizes word order, catching shuffled near-dups that the
    * exact fingerprint misses). The anti join runs through
    * [[graft.operators.BloomJoin.anti]]: the corpus fingerprint set is
    * Bloom-summarized, batch rows the filter rejects are DEFINITELY new
    * and skip the join, and only probable dups pay the exact anti-join
    * shuffle. That is the steady-state ingestion shape at 100 TB: the
    * corpus fingerprint store is far too big to broadcast, but its Bloom
    * filter is not, and a fresh crawl is mostly new — so most rows never
    * shuffle at all.
    */
  def dedupIncrementalStats(spark: SparkSession, dir: String): DataFrame = {
    val fp = md5(array_join(array_sort(array_distinct(tokens(col("text")))), " "))
    // persist: the fingerprint lineage (tokenize + sort + md5) feeds the
    // bloom sizing count, the bloom build, both anti-join branches, and
    // the final stats join — one computation, not five
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), fp.as("fp"))
      .persist()
    val corpus = docs.where(col("doc_id") < 400).select(col("fp"))
    val batch = docs.where(col("doc_id") >= 400)
    val fresh = graft.operators.BloomJoin.anti(batch, "fp", corpus, "fp")
      .select(col("doc_id"), lit(1L).as("is_new"))
    batch.join(fresh, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_batch"),
        sum(coalesce(col("is_new"), lit(0L))).cast("long").as("n_new"),
        (count(lit(1)) - sum(coalesce(col("is_new"), lit(0L)))).cast("long")
          .as("n_dup"))
      .withColumn("dup_frac",
        round(col("n_dup").cast("double") / col("n_batch"), 4))
      .orderBy(col("source"))
  }

  private val dedupIncrementalStatsSql =
    """WITH f AS (
      |  SELECT doc_id, source,
      |    md5(list_aggregate(list_sort(list_distinct(
      |      list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))),
      |      'string_agg', ' ')) AS fp
      |  FROM documents),
      |corpus AS (SELECT DISTINCT fp FROM f WHERE doc_id < 400),
      |batch AS (SELECT * FROM f WHERE doc_id >= 400)
      |SELECT source, count(*) AS n_batch,
      |  CAST(sum(CASE WHEN fp NOT IN (SELECT fp FROM corpus) THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
      |  CAST(sum(CASE WHEN fp IN (SELECT fp FROM corpus) THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
      |  round(CAST(sum(CASE WHEN fp IN (SELECT fp FROM corpus) THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*), 4) AS dup_frac
      |FROM batch GROUP BY source ORDER BY source""".stripMargin

  /** Exact substring-duplicate spans (the operator shape of Lee et al.
    * 2021, "Deduplicating Training Data Makes Language Models Better"):
    * maximal runs of shared character 8-grams between document pairs,
    * reported per pair as the longest shared span, span count, and
    * duplicated characters. A run is a set of matches with the same
    * position delta and consecutive positions — the classic
    * gaps-and-islands window (island = pos − row_number), expressible in
    * both engines.
    *
    * Scale shape: positional-gram inversion is the distributed analogue
    * of the paper's suffix array — one shuffle on the gram key, runs
    * detected inside each (pair, delta) window partition. The demo slice
    * (doc_id < 40) bounds the self-join; at 100 TB the join would first
    * pass through the winnowed-fingerprint candidate filter
    * ([[winnowFingerprints]] in TextQueries) so only candidate pairs pay
    * the positional join.
    */
  def substringDupSpans(spark: SparkSession, dir: String): DataFrame = {
    val k = 8
    // persist: both sides of the self-join read the exploded gram table —
    // one gram materialization, not two
    val grams = Tables.documents(spark, dir)
      .where(col("doc_id") < 40)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(1), greatest(length(col("text")) - (k - 1), lit(1))),
          i => col("text").substr(i, lit(k)))).as(Seq("pos", "gram")))
      .persist()
    val a = grams.select(col("doc_id").as("a_id"), col("pos").as("pa"),
      col("gram"))
    val b = grams.select(col("doc_id").as("b_id"), col("pos").as("pb"),
      col("gram"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("a_id", "b_id", "delta").orderBy("pa")
    a.join(b, "gram")
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("pa"),
        (col("pb") - col("pa")).as("delta"))
      .withColumn("isl", col("pa") - row_number().over(w))
      .groupBy(col("a_id"), col("b_id"), col("delta"), col("isl"))
      .agg((count(lit(1)) + (k - 1)).as("span_chars"))
      .where(col("span_chars") >= 20)
      .groupBy(col("a_id"), col("b_id"))
      .agg(max(col("span_chars")).cast("long").as("max_span_chars"),
        count(lit(1)).cast("long").as("n_spans"),
        sum(col("span_chars")).cast("long").as("dup_chars"))
      .orderBy(col("a_id"), col("b_id"))
  }

  private val substringDupSpansSql =
    """WITH t AS (
      |  SELECT doc_id, list_transform(range(1, greatest(length(text) - 7, 1) + 1),
      |    i -> substr(text, i, 8)) AS grams
      |  FROM documents WHERE doc_id < 40),
      |g AS (
      |  SELECT doc_id, unnest(grams) AS gram,
      |    generate_subscripts(grams, 1) - 1 AS pos FROM t),
      |m AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.pos AS pa,
      |    b.pos - a.pos AS delta
      |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
      |r AS (
      |  SELECT a_id, b_id, delta, pa,
      |    pa - ROW_NUMBER() OVER (PARTITION BY a_id, b_id, delta ORDER BY pa) AS isl
      |  FROM m),
      |runs AS (
      |  SELECT a_id, b_id, delta, isl, count(*) + 7 AS span_chars
      |  FROM r GROUP BY 1, 2, 3, 4)
      |SELECT a_id, b_id,
      |  CAST(max(span_chars) AS BIGINT) AS max_span_chars,
      |  CAST(count(*) AS BIGINT) AS n_spans,
      |  CAST(sum(span_chars) AS BIGINT) AS dup_chars
      |FROM runs WHERE span_chars >= 20
      |GROUP BY 1, 2 ORDER BY a_id, b_id""".stripMargin

  /** Diversity-aware sampling (SemDeDup-flavored): cap each semantic
    * bucket — the top 4 bits of the 60-bit SimHash, so near-duplicate
    * documents land together — at 3 kept documents, chosen by
    * content-hash rank (deterministic across engines, partitionings and
    * reruns, like [[graft.operators.Sampling]]). Emits the kept rows with
    * their bucket occupancy, i.e. the "keep m per cluster" primitive that
    * turns a skewed corpus into a balanced training mix.
    *
    * Scale shape: the SimHash is map-side; the only shuffle is the
    * window partition on the bucket key. With B buckets the parallelism
    * unit is the bucket; per-bucket state is a top-m heap, never the
    * full bucket (TakeOrdered-shaped, no corpus-wide sort).
    */
  def simhashDiverseSample(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val wb = org.apache.spark.sql.expressions.Window.partitionBy("bucket")
    Tables.documents(spark, dir)
      .where(col("doc_id") < 100)
      .select(col("doc_id"), simhashCol("text").as("sh"))
      .withColumn("bucket", shiftright(col("sh"), 56))
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n_in_bucket", count(lit(1)).over(wb).cast("long"))
      .where(col("rk") <= 3)
      .select(col("bucket"), col("n_in_bucket"), col("rk"), col("doc_id"))
      .orderBy(col("bucket"), col("rk"))
  }

  private val simhashDiverseSampleSql =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
      |  FROM documents WHERE doc_id < 100),
      |bits AS (
      |  SELECT doc_id,
      |    list_reduce(
      |      list_transform(toks, tok ->
      |        list_transform(range(0, 60), j ->
      |          CASE WHEN (CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) >> j) & 1 = 1
      |               THEN 1 ELSE -1 END)),
      |      (a, b) -> list_transform(range(1, 61), i -> a[i] + b[i])) AS bc
      |  FROM t),
      |s AS (
      |  SELECT doc_id,
      |    list_reduce(list_transform(range(1, 61),
      |      i -> CASE WHEN bc[i] > 0 THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END),
      |      (a, b) -> a | b) AS sh
      |  FROM bits),
      |r AS (
      |  SELECT sh >> 56 AS bucket, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY (sh >> 56)
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
      |    COUNT(*) OVER (PARTITION BY (sh >> 56)) AS n_in_bucket
      |  FROM s)
      |SELECT bucket, CAST(n_in_bucket AS BIGINT) AS n_in_bucket,
      |  CAST(rk AS BIGINT) AS rk, doc_id
      |FROM r WHERE rk <= 3 ORDER BY bucket, rk""".stripMargin

  def defs: Map[String, QueryDef] = Map(
    "dedup_incremental_stats" -> QueryDef(dedupIncrementalStats, Some(dedupIncrementalStatsSql)),
    "dedup_incremental_neardup" -> QueryDef(incrementalNeardupStats, Some(incrementalNeardupStatsSql)),
    "dedup_keep_stats" -> QueryDef(dedupKeepStats, Some(dedupKeepStatsSql)),
    "cross_source_dups" -> QueryDef(crossSourceDups, Some(crossSourceDupsSql)),
    "dedup_exact_stats" -> QueryDef(exactStats, Some(exactStatsSql)),
    "dedup_exact_pairs" -> QueryDef(exactPairs, Some(exactPairsSql)),
    "ngram_jaccard_top_pairs" -> QueryDef(ngramJaccardTopPairs, Some(ngramJaccardTopPairsSql)),
    "minhash_lsh_stats" -> QueryDef(minhashLshStats, Some(minhashLshStatsSql)),
    "minhash_lsh_pairs" -> QueryDef(minhashLshPairs, Some(minhashLshPairsSql)),
    "dedup_clusters" -> QueryDef(dedupClusters, Some(dedupClustersSql)),
    "split_leakage_audit" -> QueryDef(splitLeakageAudit, Some(splitLeakageAuditSql)),
    "dedup_keep_best" -> QueryDef(dedupKeepBest, Some(dedupKeepBestSql)),
    "substring_dup_spans" -> QueryDef(substringDupSpans, Some(substringDupSpansSql)),
    "simhash_diverse_sample" -> QueryDef(simhashDiverseSample, Some(simhashDiverseSampleSql)),
    "simhash_docs" -> QueryDef(simhashDocs, Some(simhashDocsSql)),
    "simhash_near_pairs" -> QueryDef(simhashNearPairs, Some(simhashNearPairsSql)),
    "embedding_neardup_stats" -> QueryDef(embeddingNeardupStats,
      OracleGen.sql("embedding_neardup_stats")(embeddingNeardupStatsOracle))
  )

  private def embeddingNeardupStatsOracle(spark: SparkSession,
      dir: String): String = {
    val idx = IndexQueries.index(spark, dir)
    val assign = graft.operators.Ivf.liveVectors(spark, idx)
      .select(col("vec_id"), col("centroid_id")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted
    val assignVals = assign.map { case (v, c) => s"($v,$c)" }.mkString(",")
    s"""WITH assign(vec_id, centroid_id) AS (VALUES $assignVals),
       |pairs AS (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM assign a JOIN assign b
       |    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id),
       |cs AS (
       |  SELECT
       |    ${dotSql("ea.embedding", "eb.embedding")} AS dp,
       |    ${normSql("ea.embedding")} AS na,
       |    ${normSql("eb.embedding")} AS nb
       |  FROM pairs p
       |  JOIN embeddings ea ON ea.vec_id = p.a_id
       |  JOIN embeddings eb ON eb.vec_id = p.b_id)
       |SELECT count(*) AS n_candidate_pairs,
       |  CAST(sum(CASE WHEN (CASE WHEN na = 0 OR nb = 0 THEN 0.0
       |                          ELSE dp / (na * nb) END) >= 0.95
       |               THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dups
       |FROM cs""".stripMargin
  }
}
