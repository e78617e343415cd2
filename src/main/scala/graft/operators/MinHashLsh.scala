package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + LSH near-duplicate detection over caller (id, terms)
  * frames — the public, parameterized form of the engine's dedup
  * pipeline (the catalog queries `minhash_lsh_pairs` / `_stats` /
  * `dedup_clusters` are thin slice-contract wrappers over this
  * operator, exactly as `bm25_top_docs` wraps [[Bm25]]).
  *
  * Pipeline: k-token shingles → per-shingle 60-bit md5 min-hashes
  * (`numHashes` independent salted families) → `bands` bands of
  * `numHashes / bands` rows → candidate pairs = same (band, value)
  * bucket → exact shingle-Jaccard verification at `threshold`.
  * Standard banding theory (Leskovec/Rajaraman/Ullman, Mining of
  * Massive Datasets ch. 3): a pair with Jaccard s collides in ≥1 band
  * with probability 1 − (1 − s^r)^b, so bands × rows tunes the
  * S-curve's threshold at ≈ (1/b)^(1/r).
  *
  * Scale shape: signatures are pure map-side column expressions (no
  * shuffle, applicable to batch and streaming frames alike); the ONE
  * corpus shuffle is the band self-join on (band_idx, band_val); that
  * join's left side is capped at the `maxBandBucket` smallest ids per
  * bucket via the bounded-state [[TopNByKey]] aggregate, bounding a
  * degenerate m-member mega-bucket at B·m candidate pairs instead of
  * C(m,2) while keeping every member paired with ALL of the bucket's
  * cap smallest members. Connected components and keep-best then see
  * the same clusters PROVIDED each over-cap member verifies against at
  * least one capped member of some shared bucket — true whenever a
  * bucket holds one near-dup family (the mega-bucket shape the cap
  * exists for). The residual loss case is a bucket mixing ≥2 distinct
  * families where one family lies wholly past the cap in every band it
  * collides in: its members' mutual pairs are never emitted and that
  * family splits. At the default r=2 band width, distinct families
  * sharing a band value requires a 120-bit signature collision —
  * raise `maxBandBucket` rather than relying on it if exactness under
  * adversarial buckets matters.
  * Verification joins carry no broadcast hint: AQE broadcasts the pair
  * set while it is small and falls back to id-keyed shuffle joins at
  * edge-graph scale.
  *
  * The hash family is md5 ([[graft.functions.Md5Long60]], native
  * codegen) so results are recomputable by any engine with md5 — the
  * DuckDB oracles recompute the whole pipeline. A production run that
  * doesn't need cross-engine reproducibility can swap the per-shingle
  * hash for xxhash64; banding, bucketing, and every consumer are
  * hash-agnostic.
  */
object MinHashLsh {

  /** @param shingleK      tokens per shingle (documents shorter than k
    *                      collapse to one whole-document shingle)
    * @param numHashes     independent min-hash families; must be a
    *                      multiple of `bands`
    * @param bands         LSH bands (rows per band = numHashes/bands)
    * @param threshold     exact-Jaccard verification floor
    * @param maxBandBucket per-bucket cap on the band self-join's left
    *                      side (see scale note above); a no-op whenever
    *                      every bucket has ≤ cap members
    * @param hashFn        the per-shingle hash family (a deterministic
    *                      Column→Column expression over the salted
    *                      shingle string). Default md5
    *                      ([[graft.functions.Hash60.md5]]) for
    *                      cross-engine reproducibility — the DuckDB
    *                      oracles recompute it; a production run that
    *                      doesn't need that swaps in
    *                      [[graft.functions.Hash60.xx]] (see
    *                      the scale note and the round-8 LSH
    *                      measurement in SCALE.md)
    */
  final case class Params(
      shingleK: Int = 3,
      numHashes: Int = 8,
      bands: Int = 4,
      threshold: Double = 0.7,
      maxBandBucket: Int = 64,
      hashFn: Column => Column = graft.functions.Hash60.md5) {
    require(shingleK >= 1, s"shingleK must be >= 1, got $shingleK")
    require(bands >= 1 && numHashes % bands == 0,
      s"numHashes ($numHashes) must be a positive multiple of bands ($bands)")
    require(threshold >= 0.0 && threshold <= 1.0,
      s"threshold must be in [0, 1], got $threshold")
    require(maxBandBucket >= 1,
      s"maxBandBucket must be >= 1, got $maxBandBucket")
    def rowsPerBand: Int = numHashes / bands
  }

  /** Distinct k-token shingles from an ALREADY-MATERIALIZED tokens
    * column. Callers must stage tokenization into its own projection
    * first (`withColumn("toks", ...)`): inlining the tokens expression
    * makes Catalyst re-evaluate the split for every element_at access —
    * O(tokens²) splits per document.
    */
  def shingles(toks: Column, k: Int): Column =
    // k=1 keeps the k>=2 empty-doc contract: a doc with no tokens
    // collapses to the one whole-document (empty-string) shingle, so
    // empty docs are verified identical (jaccard 1.0) at every k
    // instead of emitting null signatures that collide in all bands
    if (k == 1)
      when(size(toks) >= 1, array_distinct(toks))
        .otherwise(array(lit("")))
    else array_distinct(
      when(size(toks) >= k,
        transform(sequence(lit(1), size(toks) - (k - 1)),
          i => concat_ws(" ", (0 until k).map(o => element_at(toks, i + o)): _*)))
        // coalesce: a NULL tokens column must collapse to the same [""]
        // whole-document shingle as an empty one — array_join(null)
        // is null, and a [null] shingle set yields all-null signatures
        // whose concat_ws band values collapse to "", piling every
        // null-terms doc into one degenerate bucket per band and
        // clustering them apart from empty-terms docs, where the k=1
        // branch merges the two (r15 review)
        .otherwise(array(coalesce(array_join(toks, " "), lit("")))))

  /** Adds sig_0 … sig_{numHashes−1} to an already-shingled frame (any
    * id columns + a `sh: array<string>` column): sig_i = min over
    * shingles of the i-th salted md5 family. Id-column-agnostic, so the
    * catalog's build-once signed tables (keyed by doc_id) share it.
    */
  def signShingled(shingled: DataFrame, p: Params = Params()): DataFrame =
    (0 until p.numHashes).foldLeft(shingled) { (d, i) =>
      d.withColumn(s"sig_$i", array_min(transform(col("sh"),
        s => p.hashFn(concat(lit(s"$i:"), s)))))
    }

  /** (id, sh, sig_0 … sig_{numHashes−1}) from a (idCol, termsCol:
    * array<string>) frame — the signature half of the pipeline. Pure
    * column expressions: no shuffle, streaming-safe.
    */
  def sign(df: DataFrame, idCol: String, termsCol: String,
      p: Params = Params()): DataFrame = {
    requireIntegralId(df, idCol)
    signShingled(df.select(col(idCol).as("id"),
      shingles(col(termsCol), p.shingleK).as("sh")), p)
  }

  /** The band-bucket cap ([[TopNByKey]]) ranks ids as longs, so the id
    * column must be integral (and, for ids above 2^53, the keep-
    * smallest ordering inside an over-cap bucket follows the double-
    * ranked order). Validated loudly here: a string id would otherwise
    * cast to null and silently produce ZERO candidate pairs. Hash or
    * dense-rank non-numeric ids before signing.
    */
  private def requireIntegralId(df: DataFrame, idCol: String): Unit = {
    import org.apache.spark.sql.types._
    val dt = df.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"id column '$idCol' must be an integral type (the band-bucket " +
        s"cap ranks ids as longs); got $dt — hash (e.g. xxhash64) or " +
        "dense-rank non-numeric ids first")
  }

  /** (id, band_idx, band_val) banded signatures from a [[sign]]ed
    * frame: band b's value concatenates sig_{r·b} … sig_{r·b+r−1}.
    */
  def band(signed: DataFrame, p: Params = Params()): DataFrame = {
    val r = p.rowsPerBand
    signed.select(col("id"),
      posexplode(array((0 until p.bands).map(b =>
        concat_ws("_", (0 until r).map(j => col(s"sig_${r * b + j}")): _*)): _*))
        .as(Seq("band_idx", "band_val")))
  }

  /** Candidate (a_id, b_id) pairs (a_id < b_id, distinct) from a
    * [[band]]ed frame, with the `maxBandBucket` left-side cap — the ONE
    * corpus shuffle. The cap is the bounded-state [[TopNByKey]]
    * aggregate, NOT a row_number window: the window form sorts every
    * bucket in one reducer (the mega bucket being capped is exactly the
    * one that straggles), while the aggregate's map-side partials carry
    * ≤ cap rows per bucket per task.
    */
  def candidates(banded: DataFrame, p: Params = Params()): DataFrame = {
    val lcap = TopNByKey.topN(
        banded.select(col("band_idx"), col("band_val"), col("id")),
        Seq("band_idx", "band_val"), col("id"), col("id"),
        n = p.maxBandBucket, asc = true)
      .select(col("band_idx"), col("band_val"), col("id"))
    lcap.as("l")
      .join(banded.as("r"), Seq("band_idx", "band_val"))
      .where(col("l.id") < col("r.id"))
      .select(col("l.id").as("a_id"), col("r.id").as("b_id"))
      .dropDuplicates("a_id", "b_id")
  }

  /** Exact-Jaccard scoring of a candidate pair set against the signed
    * frame's shingle sets: (a_id, b_id, jaccard), UNfiltered — the form
    * for false-positive-rate diagnostics (the catalog's
    * `minhash_lsh_stats` counts candidates vs near-dups from it). No
    * broadcast hint — AQE picks (see scale note).
    */
  def scoredPairs(cand: DataFrame, signed: DataFrame): DataFrame =
    cand
      .join(signed.select(col("id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(signed.select(col("id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .withColumn("jaccard",
        size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
          size(array_union(col("a_sh"), col("b_sh"))))

  /** Exact-Jaccard verification: (a_id, b_id, jaccard) with jaccard ≥
    * threshold.
    */
  def verify(cand: DataFrame, signed: DataFrame,
      p: Params = Params()): DataFrame =
    scoredPairs(cand, signed)
      .where(col("jaccard") >= p.threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))

  /** End-to-end: verified near-dup pairs straight from a caller
    * (idCol, termsCol) frame. Convenience form: the returned plan
    * references the signature subtree THREE times (once through the
    * band join, twice through verify's a-/b-side joins) and Spark does
    * not dedupe common subplans, so one action re-runs the expensive
    * signature pass three times. Callers with a reusable corpus — or a
    * corpus large enough that 3× matters — should materialize
    * [[sign]]'s output once and compose `candidates` + `verify`
    * themselves; that is exactly what the catalog's build-once signed
    * table does.
    */
  def verifiedPairs(df: DataFrame, idCol: String, termsCol: String,
      p: Params = Params()): DataFrame = {
    val signed = sign(df, idCol, termsCol, p)
    verify(candidates(band(signed, p), p), signed, p)
  }

  /** Verified pairs collapsed into connected components: (id,
    * cluster_id, is_canonical, cluster_size) — cluster_id is the
    * component's minimum id; that member is the canonical survivor.
    * Large-star/small-star union-find
    * ([[ConnectedComponents.resolve]]), O(log n) rounds.
    */
  def clusters(pairs: DataFrame): DataFrame = {
    val comp = ConnectedComponents.resolve(pairs, "a_id", "b_id")
    val sizes = comp.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, "cluster_id")
      .select(col("id"), col("cluster_id"),
        (col("id") === col("cluster_id")).as("is_canonical"),
        col("cluster_size"))
  }
}
