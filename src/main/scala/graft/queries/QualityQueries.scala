package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.TextQueries.tokens
import graft.queries.OracleGen.l2Sql

/** Training-data quality filters over `documents.parquet`:
  * Gopher-style repetition ratios and benchmark-decontamination n-gram
  * overlap. Both are the shapes a 100 TB pre-training pipeline runs
  * corpus-wide before training.
  */
object QualityQueries {

  /** Distinct word n-grams of an already-materialized tokens column
    * (staged, same reason as DedupQueries.shinglesFromTokens: inlining
    * the tokenizer makes Catalyst re-split per element access).
    * Documents shorter than n yield an empty array.
    */
  def wordNgrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Per-document repetition stats (Gopher-style quality filters,
    * token-weighted): repeated-word fraction, most-frequent-bigram
    * fraction, and duplicated-trigram fraction. Shape: two
    * explode → two-level aggregations (partial map-side combine does the
    * heavy lifting; the (doc_id, gram) key is unique per doc so there is
    * no skew), joined back per doc — all joins co-partitioned on doc_id
    * after the second-level groupBy, so the plan has exactly one real
    * shuffle per n-gram size.
    */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .where(col("doc_id") < 100)
      .withColumn("toks", tokens(col("text")))
    val words = docs.select(col("doc_id"),
      round(lit(1.0) - size(array_distinct(col("toks"))).cast("double") /
        greatest(size(col("toks")), lit(1)), 4).as("rep_word_frac"))
    def gramStats(n: Int, top: String, dup: String): DataFrame =
      docs.select(col("doc_id"), explode(wordNgrams(col("toks"), n)).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(
          round(max(col("c")).cast("double") / sum(col("c")), 4).as(top),
          round(sum(when(col("c") >= 2, col("c")).otherwise(0))
            .cast("double") / sum(col("c")), 4).as(dup))
    words
      .join(gramStats(2, "top_bigram_frac", "dup_bigram_frac"), "doc_id")
      .join(gramStats(3, "top_trigram_frac", "dup_trigram_frac"), "doc_id")
      .select(col("doc_id"), col("rep_word_frac"), col("top_bigram_frac"),
        col("dup_bigram_frac"), col("dup_trigram_frac"))
      .orderBy(col("doc_id"))
  }

  private val repetitionStatsSql =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
      |  FROM documents WHERE doc_id < 100),
      |words AS (
      |  SELECT doc_id, round(1.0 - CAST(len(list_distinct(t)) AS DOUBLE)
      |    / greatest(len(t), 1), 4) AS rep_word_frac
      |  FROM toks),
      |bi AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(t)),
      |    i -> t[i] || ' ' || t[i+1])) AS g
      |  FROM toks WHERE len(t) >= 2),
      |bic AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY 1, 2),
      |bistat AS (
      |  SELECT doc_id,
      |    round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS top_bigram_frac,
      |    round(CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
      |      / sum(c), 4) AS dup_bigram_frac
      |  FROM bic GROUP BY doc_id),
      |tri AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
      |  FROM toks WHERE len(t) >= 3),
      |tric AS (SELECT doc_id, g, count(*) AS c FROM tri GROUP BY 1, 2),
      |tristat AS (
      |  SELECT doc_id,
      |    round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS top_trigram_frac,
      |    round(CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
      |      / sum(c), 4) AS dup_trigram_frac
      |  FROM tric GROUP BY doc_id)
      |SELECT doc_id, rep_word_frac, top_bigram_frac, dup_bigram_frac,
      |  dup_trigram_frac
      |FROM words JOIN bistat USING (doc_id) JOIN tristat USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Benchmark decontamination: flag training documents sharing any
    * distinct word 5-gram with the held-out "test" sources (src18/src19
    * stand in for an eval benchmark). The test-side gram set is tiny
    * relative to the corpus by construction (benchmarks are small), so
    * it is broadcast — the train side is scanned exactly once, map-side,
    * with no O(corpus) shuffle. This is the PaLM/GPT-3-style n-gram
    * overlap decontamination shape.
    */
  def decontamOverlap(spark: SparkSession, dir: String,
      testSources: Seq[String] = Seq("src18", "src19")): DataFrame = {
    // ONE pass over the train side (r18): gram totals and contamination
    // hits come from a single left join against the broadcast test-gram
    // set + one aggregation — the r17 form cached the full corpus gram
    // stream and scanned it three times (test distinct, totals, hit
    // join), then inner-joined totals×hits. count(*) / count(hit) over
    // the left join are exactly those two counts, and keeping rows with
    // ≥1 hit reproduces the inner join's doc set. The test-side gram
    // set re-derives from a source-PRUNED scan (benchmarks are a tiny
    // source slice by construction — the broadcast-side reasoning in
    // the scaladoc above), so nothing is persisted at corpus size.
    val testG = Tables.documents(spark, dir)
      .where(col("source").isin(testSources: _*))
      .withColumn("toks", tokens(col("text")))
      .select(explode(array_distinct(wordNgrams(col("toks"), 5))).as("g"))
      .distinct()
    val train = Tables.spread(Tables.documents(spark, dir), col("doc_id"))
      .where(!col("source").isin(testSources: _*))
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"),
        explode(array_distinct(wordNgrams(col("toks"), 5))).as("g"))
    train
      .join(broadcast(testG.withColumn("__hit", lit(1L))), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(col("__hit")).as("n_contaminated"))
      .where(col("n_contaminated") >= 1)
      .select(col("doc_id"), col("n_grams"), col("n_contaminated"),
        round(col("n_contaminated").cast("double") / col("n_grams"), 4)
          .as("contaminated_frac"))
      .orderBy(col("doc_id"))
  }

  private val decontamOverlapSql =
    """WITH toks AS (
      |  SELECT doc_id, source,
      |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, source, unnest(list_distinct(CASE WHEN len(t) >= 5
      |    THEN list_transform(range(1, len(t) - 3),
      |         i -> list_aggregate(t[i:i+4], 'string_agg', ' '))
      |    ELSE [] END)) AS g
      |  FROM toks),
      |test_g AS (SELECT DISTINCT g FROM grams WHERE source IN ('src18', 'src19')),
      |train AS (SELECT * FROM grams WHERE source NOT IN ('src18', 'src19')),
      |totals AS (SELECT doc_id, count(*) AS n_grams FROM train GROUP BY doc_id),
      |hits AS (
      |  SELECT doc_id, count(*) AS n_contaminated
      |  FROM train JOIN test_g USING (g) GROUP BY doc_id)
      |SELECT doc_id, n_grams, n_contaminated,
      |  round(CAST(n_contaminated AS DOUBLE) / n_grams, 4) AS contaminated_frac
      |FROM totals JOIN hits USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** GPT-style sequence packing: per source, documents are concatenated
    * in doc_id order and cut into fixed `budget`-token training
    * sequences; each doc reports the sequence it starts in, its token
    * offset there, and how many sequences it spans. An exclusive
    * prefix-sum window per source — no shuffle beyond the one window
    * exchange, and sources pack independently so the parallelism unit
    * at 100 TB is the (source, shard) partition, not a global sort.
    */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val budget = 256L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
      .withColumn("tokens_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("source"), col("doc_id"), col("n_tokens"),
        floor(col("tokens_before") / budget).as("seq_index"),
        pmod(col("tokens_before"), lit(budget)).as("seq_offset"),
        (floor((col("tokens_before") + col("n_tokens") - 1) / budget) -
          floor(col("tokens_before") / budget) + 1).as("n_seqs_spanned"))
      .orderBy(col("source"), col("doc_id"))
  }

  private val packSequencesSql =
    """WITH t AS (
      |  SELECT source, doc_id,
      |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
      |      x -> x <> '')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |p AS (
      |  SELECT source, doc_id, n_tokens,
      |    CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before
      |  FROM t)
      |SELECT source, doc_id, n_tokens,
      |  tokens_before // 256 AS seq_index,
      |  tokens_before % 256 AS seq_offset,
      |  (tokens_before + n_tokens - 1) // 256 - tokens_before // 256 + 1
      |    AS n_seqs_spanned
      |FROM p ORDER BY source, doc_id""".stripMargin

  /** Per-source curation rollup — the "which sources do we keep" table:
    * doc count, token volume, exact-dup rate, stopword ratio, mean doc
    * length. All per-doc signals are map-side column expressions; the
    * single shuffle is the bounded-cardinality groupBy(source) with
    * map-side partial aggregation. At 100 TB this is one pass.
    */
  def sourceCurationStats(spark: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to")
    Tables.documents(spark, dir)
      .withColumn("toks", tokens(col("text")))
      .select(col("source"),
        md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("fp"),
        size(col("toks")).cast("long").as("n_toks"),
        size(filter(col("toks"), t => t.isin(stop.map(lit(_)): _*)))
          .cast("long").as("n_stop"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        (count(lit(1)) - countDistinct(col("fp"))).as("n_dups"),
        sum(col("n_toks")).as("total_tokens"),
        round(avg(col("n_toks")), 4).as("avg_tokens"),
        round(sum(col("n_stop")).cast("double") / sum(col("n_toks")), 4)
          .as("stopword_ratio"))
      .orderBy(col("source"))
  }

  private val sourceCurationStatsSql =
    """WITH t AS (
      |  SELECT source,
      |    md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
      |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
      |  FROM documents)
      |SELECT source,
      |  count(*) AS n_docs,
      |  count(*) - count(DISTINCT fp) AS n_dups,
      |  CAST(sum(len(toks)) AS BIGINT) AS total_tokens,
      |  round(avg(len(toks)), 4) AS avg_tokens,
      |  round(CAST(sum(len(list_filter(toks,
      |      x -> x IN ('the','a','of','and','to')))) AS DOUBLE)
      |    / sum(len(toks)), 4) AS stopword_ratio
      |FROM t GROUP BY source ORDER BY source""".stripMargin

  /** Per-language quality deciles: documents ranked by stopword ratio
    * within each language, NTILE(10)-bucketed, per-decile profile. The
    * shape behind "train on the top-N% by quality score" curation cuts.
    * The rank-order is per-language, so the sort/window parallelism unit
    * at 100 TB is the language partition (plus hash salt within a
    * language if one dominates) — never a global total order. The
    * (score, doc_id) ordering makes NTILE deterministic under ties.
    */
  def qualityDeciles(spark: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to")
    val s = Tables.documents(spark, dir)
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), col("lang"),
        size(col("toks")).as("n_tokens"),
        (size(filter(col("toks"), t => t.isin(stop.map(lit(_)): _*)))
          .cast("double") / greatest(size(col("toks")), lit(1))).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("score"), col("doc_id"))
    s.withColumn("decile", ntile(10).over(w).cast("long"))
      .groupBy(col("lang"), col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        round(min(col("score")), 4).as("min_score"),
        round(max(col("score")), 4).as("max_score"),
        round(avg(col("n_tokens")), 4).as("avg_tokens"))
      .orderBy(col("lang"), col("decile"))
  }

  private val qualityDecilesSql =
    """WITH t AS (
      |  SELECT doc_id, lang,
      |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, lang, len(toks) AS n_tokens,
      |    CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to'))) AS DOUBLE)
      |      / greatest(len(toks), 1) AS score
      |  FROM t),
      |d AS (
      |  SELECT lang, n_tokens, score,
      |    ntile(10) OVER (PARTITION BY lang ORDER BY score, doc_id) AS decile
      |  FROM s)
      |SELECT lang, decile, count(*) AS n_docs,
      |  round(min(score), 4) AS min_score, round(max(score), 4) AS max_score,
      |  round(avg(n_tokens), 4) AS avg_tokens
      |FROM d GROUP BY lang, decile ORDER BY lang, decile""".stripMargin

  /** The composed end-to-end curation pipeline, one query: held-out
    * source exclusion → quality filter (length + stopword ratio) →
    * bag-fingerprint dedup keeping the lowest doc_id → benchmark
    * decontamination (drop any doc sharing a 5-gram with the held-out
    * sources) → per-language corpus stats. Each stage is the
    * already-proven operator (quality_score, dedup_incremental's bag
    * fingerprint, decontam_overlap's broadcast gram set); this query
    * proves they COMPOSE in one Catalyst plan: per-doc signals map-side,
    * one window shuffle on fp, one broadcast semi join for
    * contamination, one bounded groupBy — at 100 TB, two shuffles total
    * over the corpus. Stage attrition at sf0.01: 500 → 414 (quality)
    * → 366 (dedup) → 361 (decontam) docs.
    */
  def corpusFinalStats(spark: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to")
    val testSources = Seq("src18", "src19")
    // spread first — tokenize + bag-fingerprint md5 is the heavy map
    // stage and the corpus arrives locally as one scan split (identity
    // at cluster scale — Tables.spread). The quality filter is folded
    // into the same projection, so the corpus pass is cached NOWHERE:
    // its one downstream consumer is the dedup window. The r17 form
    // cached the full corpus WITH the raw text column twice over (toks
    // persist + deduped persist); the only other consumer of the
    // corpus pass was the test-source gram set, which re-derives from
    // a source-PRUNED scan instead (test sources are 2 of 20 — a
    // benchmark-sized slice, the same reasoning as decontamOverlap's
    // broadcast side).
    val scored = Tables.spread(Tables.documents(spark, dir), col("doc_id"))
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), col("lang"), col("source"),
        col("toks"), size(col("toks")).as("n_tokens"),
        (size(filter(col("toks"), t => t.isin(stop.map(lit(_)): _*)))
          .cast("double") / greatest(size(col("toks")), lit(1))).as("stop_ratio"),
        md5(array_join(array_sort(array_distinct(col("toks"))), " ")).as("fp"))
    val quality = scored.where(!col("source").isin(testSources: _*) &&
      col("n_tokens") >= 20 && col("stop_ratio") <= 0.25)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("doc_id"))
    // ONE corpus read, no persist, no anti join (r19): the r18 form
    // read `deduped` twice (gram-explode side + anti-join left side);
    // the two branches' pruned projections differ, so physical
    // exchange reuse can NOT fire (executed plan: 0 reused, the
    // `reused` field of bench_detail.json's vectors) and
    // dropping the persist alone would recompute the corpus pass.
    // Instead the contamination flag rides the SAME rows: explode each
    // kept doc's distinct grams (explode_outer so a gram-less doc
    // survives as uncontaminated), probe the broadcast test-gram set
    // (one hash probe per gram — a BroadcastHashJoin, NOT a per-row
    // arrays_overlap, whose eval is O(|test grams|) per doc), and
    // collapse back to one row per doc with max(hit). Each doc's gram
    // rows are emitted by one task, so the partial max collapses them
    // map-side and the doc-keyed exchange ships ~one tiny row per doc.
    // Semantics are exactly the anti join: kept iff no gram matched.
    // 10 AQE jobs -> 6, exec ~1.06 -> ~0.6 s (guide §2.3/§2.4).
    val deduped = quality.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("toks"))
    val testG = Tables.documents(spark, dir)
      .where(col("source").isin(testSources: _*))
      .withColumn("toks", tokens(col("text")))
      .select(explode(array_distinct(wordNgrams(col("toks"), 5))).as("g"))
      .distinct()
      .withColumn("hit", lit(1))
    deduped
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        explode_outer(array_distinct(wordNgrams(col("toks"), 5))).as("g"))
      .join(broadcast(testG), Seq("g"), "left")
      .groupBy(col("doc_id"), col("lang"), col("n_tokens"))
      .agg(max(coalesce(col("hit"), lit(0))).as("contaminated"))
      .where(col("contaminated") === 0)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("total_tokens"),
        round(avg(col("n_tokens")), 4).as("avg_tokens"))
      .orderBy(col("lang"))
  }

  private val corpusFinalStatsSql =
    """WITH toks AS (
      |  SELECT doc_id, lang, source,
      |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
      |  FROM documents),
      |scored AS (
      |  SELECT doc_id, lang, source, t, len(t) AS n_tokens,
      |    CAST(len(list_filter(t, x -> x IN ('the','a','of','and','to'))) AS DOUBLE)
      |      / greatest(len(t), 1) AS stop_ratio,
      |    md5(list_aggregate(list_sort(list_distinct(t)), 'string_agg', ' ')) AS fp
      |  FROM toks),
      |quality AS (
      |  SELECT * FROM scored
      |  WHERE source NOT IN ('src18', 'src19') AND n_tokens >= 20 AND stop_ratio <= 0.25),
      |deduped AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM quality)
      |  WHERE rn = 1),
      |test_g AS (
      |  SELECT DISTINCT unnest(list_distinct(CASE WHEN len(t) >= 5
      |    THEN list_transform(range(1, len(t) - 3), i -> list_aggregate(t[i:i+4], 'string_agg', ' '))
      |    ELSE [] END)) AS g
      |  FROM toks WHERE source IN ('src18', 'src19')),
      |contaminated AS (
      |  SELECT DISTINCT doc_id FROM (
      |    SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) >= 5
      |      THEN list_transform(range(1, len(t) - 3), i -> list_aggregate(t[i:i+4], 'string_agg', ' '))
      |      ELSE [] END)) AS g
      |    FROM deduped) d JOIN test_g USING (g)),
      |final AS (
      |  SELECT * FROM deduped WHERE doc_id NOT IN (SELECT doc_id FROM contaminated))
      |SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |  round(avg(n_tokens), 4) AS avg_tokens
      |FROM final GROUP BY lang ORDER BY lang""".stripMargin

  /** Semantic (embedding-space) benchmark decontamination — the vector
    * sibling of [[decontamOverlap]]'s n-gram check: a training vector is
    * contaminated when its squared-L2 distance to ANY benchmark vector
    * is ≤ τ. Emits each contaminated train row with its best (minimum)
    * distance and close-match count; `best_d2` is raw double — the
    * native SquaredL2 expression folds elements in the same order as the
    * oracle's list_reduce, so the comparison is bitwise.
    *
    * Scale shape: the benchmark side is small by nature (test sets are
    * thousands of rows, the corpus is billions), so it broadcasts; the
    * min/count aggregate is partial — map-side combine collapses the
    * |test| pair rows per train vector to ONE row before the only
    * shuffle. No pair set ever shuffles; cost is a single scan of the
    * corpus inside whole-stage codegen.
    */
  def semanticDecontam(spark: SparkSession, dir: String): DataFrame = {
    val tau = 1.35
    val test = Tables.embeddings(spark, dir)
      .where(col("vec_id") < 32)
      .select(col("vec_id").as("test_id"), col("embedding").as("test_emb"))
    Tables.embeddings(spark, dir)
      .where(col("vec_id") >= 32)
      .crossJoin(broadcast(test))
      .withColumn("d2",
        graft.functions.Vec.squaredL2(col("embedding"), col("test_emb")))
      .groupBy(col("vec_id"), col("label"))
      .agg(min(col("d2")).as("best_d2"),
        sum(when(col("d2") <= tau, 1L).otherwise(0L)).cast("long")
          .as("n_close"))
      .where(col("n_close") >= 1)
      .orderBy(col("vec_id"))
  }

  private val semanticDecontamSql =
    s"""WITH q AS (
      |  SELECT vec_id AS test_id, embedding AS qe
      |  FROM embeddings WHERE vec_id < 32),
      |d AS (
      |  SELECT e.vec_id, e.label,
      |    ${l2Sql("e.embedding", "q.qe")} AS d2
      |  FROM embeddings e CROSS JOIN q WHERE e.vec_id >= 32)
      |SELECT vec_id, label, min(d2) AS best_d2,
      |  CAST(sum(CASE WHEN d2 <= 1.35 THEN 1 ELSE 0 END) AS BIGINT) AS n_close
      |FROM d GROUP BY 1, 2 HAVING n_close >= 1 ORDER BY vec_id""".stripMargin

  /** Temperature-scaled source mixing weights (the multilingual-LM
    * recipe, α = 0.5): p_s ∝ n_s^α flattens the natural token
    * distribution so small sources are not drowned out; `sample_factor`
    * (= p_α / natural share) is the per-source oversampling rate a
    * training reader would apply. The normalizer Z = Σ√n_s is computed
    * with the sorted-fold (aggregate over sort_array) so the float sum
    * has ONE evaluation order across engines and partitionings — the
    * same determinism device as doc_logprob_score; everything else is
    * exact integer arithmetic before a final division.
    *
    * Scale shape: one map-side token count + groupBy(source) (sources
    * number in the hundreds — the collect_list is bounded by source
    * cardinality, not corpus size); the totals ride the bounded
    * per-source frame as window aggregates (r19) — one corpus pass,
    * no re-aggregated subtree, no persist.
    */
  def sourceMixtureWeights(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(spark, dir)
      .select(col("source"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      // a zero-token source has no defined share (0/0): excluded from
      // the mixture rather than emitting NaN weights
      .where(col("n_tokens") > 0)
    // the normalizers ride per as WINDOW aggregates over one bounded
    // partition (per is source-cardinality-sized) instead of a
    // persisted re-aggregation crossJoined back (r19, the
    // sourceTokenDivergence device): drops the persist materialization
    // and the second pass. total_tokens is the same exact long sum; z
    // folds the same sorted double list (collect_list over the single
    // window partition, sort_array, then the same sequential fold).
    val w1 = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    per
      .withColumn("total_tokens", sum(col("n_tokens")).over(w1))
      .withColumn("z",
        aggregate(
          sort_array(collect_list(sqrt(col("n_tokens").cast("double")))
            .over(w1)),
          lit(0.0), (a, x) => a + x))
      .withColumn("natural_frac",
        round(col("n_tokens").cast("double") / col("total_tokens"), 6))
      .withColumn("p_alpha",
        round(sqrt(col("n_tokens").cast("double")) / col("z"), 6))
      .withColumn("sample_factor",
        round((sqrt(col("n_tokens").cast("double")) / col("z"))
          / (col("n_tokens").cast("double") / col("total_tokens")), 4))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("natural_frac"), col("p_alpha"), col("sample_factor"))
      .orderBy(col("source"))
  }

  private val sourceMixtureWeightsSql =
    """WITH per AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(list_filter(regexp_split_to_array(text, '\s+'),
      |      t -> t <> ''))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source HAVING n_tokens > 0),
      |z AS (
      |  SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |    list_reduce(list_sort(list(sqrt(CAST(n_tokens AS DOUBLE)))),
      |      (a, b) -> a + b) AS z
      |  FROM per)
      |SELECT source, n_docs, n_tokens,
      |  round(CAST(n_tokens AS DOUBLE) / total_tokens, 6) AS natural_frac,
      |  round(sqrt(CAST(n_tokens AS DOUBLE)) / z, 6) AS p_alpha,
      |  round((sqrt(CAST(n_tokens AS DOUBLE)) / z)
      |    / (CAST(n_tokens AS DOUBLE) / total_tokens), 4) AS sample_factor
      |FROM per CROSS JOIN z ORDER BY source""".stripMargin

  /** Balance audit for the training-shard export: every document is
    * assigned shard = md5(doc_id) mod 16 (content-hash, so placement is
    * deterministic and independent of partitioning/engine — the same
    * device as [[graft.operators.Sampling]]), and the audit reports
    * per-shard doc/token counts and each shard's token deviation from
    * the ideal 1/16 share. The export itself is
    * `df.repartition(shard).write.partitionBy("shard")` — this query is
    * the cheap invariant check that those output files are size-balanced
    * (hash sharding keeps worker input sizes uniform at any scale; a
    * skewed shard here means a broken key, not bad luck).
    */
  def trainingShardStats(spark: SparkSession, dir: String): DataFrame = {
    val nShards = 16
    val per = Tables.documents(spark, dir)
      .select(
        pmod(graft.queries.DedupQueries
          .md5Long(col("doc_id").cast("string")), lit(nShards)).as("shard"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    // total rides per as a window sum over one bounded partition (16
    // shard rows) instead of a persisted re-aggregation crossJoined
    // back (r19, the sourceTokenDivergence device) — same exact long
    per.withColumn("total_tokens", sum(col("n_tokens")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(lit(1))))
      .withColumn("dev_frac",
        round(col("n_tokens").cast("double") * nShards
          / col("total_tokens") - 1.0, 4))
      .select(col("shard"), col("n_docs"), col("n_tokens"), col("dev_frac"))
      .orderBy(col("shard"))
  }

  private val trainingShardStatsSql =
    """WITH per AS (
      |  SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      |      % 16 AS shard,
      |    count(*) AS n_docs,
      |    CAST(sum(len(list_filter(regexp_split_to_array(text, '\s+'),
      |      t -> t <> ''))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM per)
      |SELECT shard, n_docs, n_tokens,
      |  round(CAST(n_tokens AS DOUBLE) * 16 / total_tokens - 1.0, 4) AS dev_frac
      |FROM per CROSS JOIN tot ORDER BY shard""".stripMargin

  /** EXECUTE the mixture: turn [[sourceMixtureWeights]]' per-source
    * sampling factor (capped at 1 — a single pass can down-sample but
    * not repeat) into a deterministic content-hash sample via
    * [[graft.operators.Sampling.stratifiedHashSample]], and report
    * achieved vs target rates. Weights → thresholds → kept rows is one
    * closed, engine-reproducible chain: the factors are recomputed
    * driver-side with the SAME sorted-fold normalizer (bitwise equal to
    * the distributed form), so the md5 thresholds — and therefore the
    * exact kept set — match the oracle's.
    *
    * Scale shape: the per-source table is a bounded `.collect()`
    * (source cardinality, like the IVF routing table); the sample
    * itself is the map-side stratified filter — one corpus scan, no
    * shuffle before the bounded per-source count.
    */
  def mixtureApplyStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val per = docs
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      // zero-token sources have no defined share (0/0 → NaN threshold):
      // excluded from the mixture, matching sourceMixtureWeights
      .where(col("n_tokens") > 0)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val totalTokens = per.map(_._3).sum
    val z = per.map(t => math.sqrt(t._3.toDouble)).sorted
      .foldLeft(0.0)(_ + _)
    val fracs = per.map { case (s, nDocs, nTok) =>
      val f = math.min(1.0,
        (math.sqrt(nTok.toDouble) / z) / (nTok.toDouble / totalTokens))
      (s, nDocs, f)
    }
    val kept = graft.operators.Sampling
      .stratifiedHashSample(docs, col("text"), col("source"),
        fracs.map(t => t._1 -> t._3).toMap)
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
    fracs.toSeq.toDF("source", "n_docs", "frac")
      .join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        round(col("frac"), 4).as("target_frac"),
        round(coalesce(col("n_kept"), lit(0L)).cast("double")
          / col("n_docs"), 4).as("achieved_frac"))
      .orderBy(col("source"))
  }

  private val mixtureApplyStatsSql =
    """WITH per AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(list_filter(regexp_split_to_array(text, '\s+'),
      |      t -> t <> ''))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1 HAVING n_tokens > 0),
      |z AS (
      |  SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |    list_reduce(list_sort(list(sqrt(CAST(n_tokens AS DOUBLE)))),
      |      (a, b) -> a + b) AS z
      |  FROM per),
      |f AS (
      |  SELECT source, n_docs,
      |    least(1.0, (sqrt(CAST(n_tokens AS DOUBLE)) / z)
      |      / (CAST(n_tokens AS DOUBLE) / total_tokens)) AS frac
      |  FROM per CROSS JOIN z),
      |thr AS (
      |  SELECT source, n_docs, frac,
      |    CASE WHEN frac >= 1.0 THEN 'g'
      |         ELSE lpad(lower(to_hex(CAST(floor(frac * 4294967296.0) AS BIGINT))), 8, '0')
      |    END AS t
      |  FROM f),
      |kept AS (
      |  SELECT d.source, count(*) AS n_kept
      |  FROM documents d JOIN thr ON d.source = thr.source
      |  WHERE substr(md5(d.text), 1, 8) < thr.t GROUP BY 1)
      |SELECT t.source, t.n_docs, CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
      |  round(t.frac, 4) AS target_frac,
      |  round(CAST(coalesce(k.n_kept, 0) AS DOUBLE) / t.n_docs, 4) AS achieved_frac
      |FROM thr t LEFT JOIN kept k USING (source) ORDER BY source""".stripMargin

  /** Per-source unigram KL divergence from the corpus distribution —
    * the domain-novelty diagnostic behind data-selection recipes (a
    * source whose token distribution diverges from the pool carries
    * novel signal; one that matches it is redundant). KL(p_s ‖ p_corpus)
    * = Σ_t p_s(t)·ln(p_s(t)/p_c(t)), summed with the sorted-fold device
    * (the per-source term list is vocabulary-bounded) so the float sum
    * has one evaluation order across engines; all counts are exact
    * integers until the final divisions.
    *
    * Scale shape: ONE bounded-key groupBy ((source, token)) with
    * map-side partials; corpus, per-source and grand totals ride the
    * vocab×sources aggregate as window sums (r19). At 100 TB the
    * vocabulary is capped in practice (top-V tokens), so every
    * post-aggregation exchange — including the single-partition grand
    * total — is bounded.
    */
  def sourceTokenDivergence(spark: SparkSession, dir: String): DataFrame = {
    // ONE corpus-sized aggregation: tokenize + groupBy(source, token)
    // with map-side partials — VOCAB×SOURCES output, ≪ the raw token
    // stream (guide §2.3: aggregate before you shuffle). No persist:
    // nothing downstream re-reads the corpus (see the window note
    // below), and r18's A/B showed a cache materialization costs more
    // than this frame's replay.
    val bySrc = Tables.spread(Tables.documents(spark, dir), col("doc_id"))
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("cs"))
    // corpus counts, per-source totals and the grand total ride bySrc
    // as WINDOW sums over the vocab×sources aggregate instead of three
    // separate re-aggregation subtrees joined back (r19): the logical
    // subtree duplication made the corpus tokenize pass run twice
    // (pruning-specialized children defeat physical exchange reuse;
    // per-job trace), and a grouping-sets consolidation measured WORSE
    // (exec 1.03 -> 1.9 s — the Expand tripled the exchanged rows).
    // Windows keep ONE corpus pass; everything after bySrc is
    // vocab×sources-sized (the vocabulary is capped at 100 TB, see
    // scaladoc), so the token/source re-partitions and even the
    // global-frame ct window are bounded, and all three sums are exact
    // integer folds — bitwise identical inputs to the KL term.
    import org.apache.spark.sql.expressions.Window
    bySrc
      .withColumn("cc", sum(col("cs")).over(Window.partitionBy(col("token"))))
      .withColumn("st", sum(col("cs")).over(Window.partitionBy(col("source"))))
      .withColumn("ct", sum(col("cs")).over(
        Window.partitionBy(lit(1)))) // one partition: vocab-bounded rows
      .withColumn("term",
        (col("cs").cast("double") / col("st"))
          * log((col("cs").cast("double") / col("st"))
            / (col("cc").cast("double") / col("ct"))))
      .groupBy(col("source"), col("st").as("n_tokens"))
      .agg(count(lit(1)).as("vocab"),
        round(aggregate(sort_array(collect_list(col("term"))), lit(0.0),
          (a, x) => a + x), 6).as("kl"))
      .orderBy(col("source"))
  }

  private val sourceTokenDivergenceSql =
    """WITH toks AS (
      |  SELECT source, unnest(list_filter(regexp_split_to_array(text, '\s+'),
      |    t -> t <> '')) AS token
      |  FROM documents),
      |corpus AS (SELECT token, count(*) AS cc FROM toks GROUP BY 1),
      |ctot AS (SELECT CAST(sum(cc) AS BIGINT) AS ct FROM corpus),
      |bysrc AS (SELECT source, token, count(*) AS cs FROM toks GROUP BY 1, 2),
      |stot AS (SELECT source, CAST(sum(cs) AS BIGINT) AS st FROM bysrc GROUP BY 1),
      |terms AS (
      |  SELECT b.source, s.st,
      |    (CAST(b.cs AS DOUBLE) / s.st)
      |      * ln((CAST(b.cs AS DOUBLE) / s.st) / (CAST(c.cc AS DOUBLE) / t.ct)) AS term
      |  FROM bysrc b JOIN corpus c USING (token)
      |  JOIN stot s USING (source) CROSS JOIN ctot t)
      |SELECT source, st AS n_tokens, count(*) AS vocab,
      |  round(list_reduce(list_sort(list(term)), (a, b) -> a + b), 6) AS kl
      |FROM terms GROUP BY 1, 2 ORDER BY 1""".stripMargin

  /** Data selection under a token budget: rank documents by quality
    * (distinct-token count — the same deterministic integer metric as
    * keep-best canonical selection — ties by doc_id) and keep the
    * maximal prefix whose cumulative token count stays ≤ 10,000.
    * The "train on the best N tokens" cut behind budgeted data
    * recipes.
    *
    * Scale shape: the textbook form — one global-order running sum —
    * is a single-partition window, a scale-killer. Instead: (1) a
    * bounded per-quality histogram (|buckets| ≤ max tokens per doc)
    * collects to the driver, which locates the boundary bucket by
    * prefix sum; (2) whole buckets above the boundary keep map-side
    * with no sort at all; (3) only the boundary bucket — a single
    * quality value — pays a window, over its own docs. The DuckDB
    * oracle replays the textbook global window, so the hash compare
    * proves the decomposition exact.
    */
  def tokenBudgetCut(spark: SparkSession, dir: String): DataFrame = {
    val budget = 10000L
    val docs = Tables.documents(spark, dir)
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"),
        size(array_distinct(col("toks"))).cast("long").as("q"),
        size(col("toks")).cast("long").as("n_tok"))
      .persist() // feeds the histogram, both keep branches, and totals
    val hist = docs.groupBy(col("q")).agg(sum(col("n_tok")).as("tok"))
      .orderBy(col("q").desc).collect()
    var acc = 0L
    var boundary = Option.empty[(Long, Long)] // (bucket, remaining budget)
    hist.foreach { r =>
      if (boundary.isEmpty) {
        val t = r.getLong(1)
        if (acc + t > budget) boundary = Some((r.getLong(0), budget - acc))
        else acc += t
      }
    }
    val kept = boundary match {
      case None => docs
      case Some((qb, rem)) =>
        // the boundary window spans ONE quality value's docs. Partition
        // by q — constant === qb on this branch, so semantically the
        // identity — to make the plan itself carry the bound instead of
        // emitting the "No Partition Defined" WindowExec warning every
        // bench run (VERDICT r5 "what's wrong" #3).
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("q"))
          .orderBy(col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        docs.where(col("q") > qb).unionAll(
          docs.where(col("q") === qb)
            .withColumn("ct", sum(col("n_tok")).over(w))
            .where(col("ct") <= rem)
            .drop("ct"))
    }
    val tot = docs.agg(count(lit(1)).as("n_docs"),
      sum(col("n_tok")).as("total_tokens"))
    kept.agg(count(lit(1)).as("n_kept"),
        sum(col("n_tok")).as("kept_tokens"),
        min(col("q")).as("min_kept_quality"))
      .crossJoin(broadcast(tot))
      .select(lit(budget).as("budget"), col("n_docs"), col("total_tokens"),
        col("n_kept"), col("kept_tokens"),
        round(col("kept_tokens").cast("double") / col("total_tokens"), 4)
          .as("kept_token_frac"),
        col("min_kept_quality"))
  }

  private val tokenBudgetCutSql =
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(len(list_distinct(list_filter(regexp_split_to_array(text, '\s+'),
      |      x -> x <> ''))) AS BIGINT) AS q,
      |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
      |      x -> x <> '')) AS BIGINT) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, q, n_tok,
      |    sum(n_tok) OVER (ORDER BY q DESC, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS ct
      |  FROM d),
      |k AS (SELECT * FROM c WHERE ct <= 10000),
      |tot AS (SELECT count(*) AS n_docs,
      |        CAST(sum(n_tok) AS BIGINT) AS total_tokens FROM d),
      |ks AS (SELECT count(*) AS n_kept,
      |       CAST(sum(n_tok) AS BIGINT) AS kept_tokens,
      |       min(q) AS min_kept_quality FROM k)
      |SELECT CAST(10000 AS BIGINT) AS budget, tot.n_docs, tot.total_tokens,
      |  ks.n_kept, ks.kept_tokens,
      |  round(CAST(ks.kept_tokens AS DOUBLE) / tot.total_tokens, 4)
      |    AS kept_token_frac,
      |  ks.min_kept_quality
      |FROM ks CROSS JOIN tot""".stripMargin

  def defs: Map[String, QueryDef] = Map(
    "token_budget_cut" -> QueryDef(tokenBudgetCut, Some(tokenBudgetCutSql)),
    "source_token_divergence" -> QueryDef(sourceTokenDivergence, Some(sourceTokenDivergenceSql)),
    "semantic_decontam" -> QueryDef(semanticDecontam, Some(semanticDecontamSql)),
    "source_mixture_weights" -> QueryDef(sourceMixtureWeights, Some(sourceMixtureWeightsSql)),
    "mixture_apply_stats" -> QueryDef(mixtureApplyStats, Some(mixtureApplyStatsSql)),
    "training_shard_stats" -> QueryDef(trainingShardStats, Some(trainingShardStatsSql)),
    "quality_deciles" -> QueryDef(qualityDeciles, Some(qualityDecilesSql)),
    "corpus_final_stats" -> QueryDef(corpusFinalStats, Some(corpusFinalStatsSql)),
    "doc_repetition_stats" -> QueryDef(repetitionStats, Some(repetitionStatsSql)),
    "decontam_overlap" -> QueryDef(decontamOverlap(_, _), Some(decontamOverlapSql)),
    "pack_sequences" -> QueryDef(packSequences, Some(packSequencesSql)),
    "source_curation_stats" -> QueryDef(sourceCurationStats, Some(sourceCurationStatsSql))
  )
}
