package graft.queries

import graft.sources.Multimodal
import graft.streaming.EventsStreaming
import graft.queries.OracleGen.{dotSql, normSql}

/** Streaming + multimodal operators in the driver gate. The streaming
  * queries are oracle-checked against the SAME DuckDB SQL as their batch
  * twins — batch/stream parity is the correctness contract. Excluded from
  * the bench headline (bench = false): memory-sink materialization is a
  * test harness, not a production path worth timing.
  */
object StreamQueries {

  // the SAME string values as the batch twins, by reference — a
  // textual copy here let an edit to the batch oracle leave the stream
  // twin checking stale SQL with both individually green while the
  // advertised batch==stream parity silently broke (r15 review; the
  // HLL/quantile stream twins already share via hllOracleSql/
  // quantileOracleSql)
  private val hourlySql = EventQueries.hourlyCountsSql
  private val sessionsSql = EventQueries.userSessionsSql

  /** Event-time sessionization twin: same per-user surface as
    * [[sessionsSql]], but with `session_window` boundary semantics — a
    * gap of EXACTLY 30 minutes starts a new session (`>=`, windows are
    * [start, last+gap)), where the lag form splits only on `>`. The
    * oracle recomputes sessions by event time, which is precisely what
    * the session_window aggregation guarantees under any arrival
    * order.
    */
  private val sessionsEventTimeSql =
    """WITH l AS (
      |  SELECT user_id, event_id, epoch_ms(ts) AS ms,
      |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
      |  FROM events)
      |SELECT user_id,
      |  CAST(sum(CASE WHEN prev_ms IS NULL OR ms - prev_ms >= 1800000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
      |  count(*) AS n_events
      |FROM l WHERE user_id < 200
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  private val intervalJoinSql =
    """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
      |  epoch_ms(p.ts) AS purchase_ms, epoch_ms(c.ts) AS click_ms
      |FROM events p JOIN events c
      |  ON p.user_id = c.user_id
      | AND p.event_type = 'purchase' AND c.event_type = 'click'
      | AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts
      |ORDER BY purchase_id, click_id""".stripMargin

  private val enrichedSql =
    """WITH profile AS (
      |  SELECT user_id, min(epoch_ms(ts)) AS first_ms, count(*) AS n_events
      |  FROM events GROUP BY user_id)
      |SELECT e.event_id, e.user_id, p.n_events, p.first_ms
      |FROM events e JOIN profile p USING (user_id)
      |WHERE e.event_type = 'purchase'
      |ORDER BY e.event_id""".stripMargin

  private val dedupHourlySql =
    """SELECT DISTINCT user_id, event_type,
      |  CAST(to_timestamp((epoch_ms(ts) // 3600000) * 3600) AS TIMESTAMP) AS hour_start
      |FROM events ORDER BY user_id, event_type, hour_start""".stripMargin

  private val slidingSql =
    """SELECT CAST(to_timestamp((epoch_ms(ts) // 1800000 - o.i) * 1800) AS TIMESTAMP) AS window_start,
      |  event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM events, unnest([0, 1]) AS o(i)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private val frameSampleSql =
    """WITH a AS (
      |  SELECT doc_id AS asset_id,
      |    (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS modality,
      |    CAST(octet_length(encode(text)) // 32 AS INT) AS n_frames
      |  FROM documents)
      |SELECT asset_id, modality, n_frames,
      |  CASE WHEN n_frames = 0 THEN 0
      |    ELSE CAST(len(range(0, n_frames, 4)) AS INT) END AS n_sampled
      |FROM a ORDER BY asset_id""".stripMargin

  /** The streamed LSH candidate set equals the batch band self-join
    * over the SAME md5 MinHash banding (the stateful bucket emits
    * exactly the pairs the join would — StreamingSpec's equality gate),
    * so DuckDB recomputes it from scratch: shingles → 8 md5 min-hashes
    * → 4 bands of 2 → distinct same-band pairs.
    *
    * VALIDITY PRECONDITION: this SQL is uncapped, so it matches the
    * engine only while every band bucket has ≤
    * [[graft.queries.DedupQueries.MaxBandBucket]] (64) members — true
    * at every test SF. Past the cap the three paths diverge BY DESIGN
    * and no single oracle can cover both: the stream's bounded state
    * admits only the FIRST 64 members per bucket (an append-mode
    * stream cannot retro-emit pairs for arrivals it turned away),
    * while the batch join caps its L side at the smallest 64 doc_ids
    * but keeps every member paired with the bucket's rank-1 member
    * (mirrored in the dedup oracles' `row_number() <= 64` CTEs). This
    * precondition is no longer honor-system: the StreamingSpec
    * cap-binding gates construct a 70-member mega-bucket and pin the
    * divergence to exactly these two rules, both bounded. On
    * cap-binding data the batch `minhash_lsh_pairs` family remains the
    * oracled surface; this entry's contract is stream==batch==oracle
    * below the cap.
    */
  private val streamLshCandidatesSql =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
      |    THEN list_transform(range(1, len(t) - 1),
      |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |    ELSE [list_aggregate(t, 'string_agg', ' ')] END) AS s
      |  FROM toks),
      |sig AS (
      |  SELECT doc_id,
      |    list_transform(range(0, 8), h ->
      |      list_aggregate(list_transform(s, x ->
      |        CAST(('0x' || substr(md5(h || ':' || x), 1, 15)) AS BIGINT)), 'min')) AS g
      |  FROM sh),
      |banded AS (
      |  SELECT doc_id, b AS band_idx,
      |    g[2*b + 1] || '_' || g[2*b + 2] AS band_val
      |  FROM sig, unnest(range(0, 4)) AS u(b))
      |SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id
      |FROM banded l JOIN banded r
      |  ON l.band_idx = r.band_idx AND l.band_val = r.band_val
      | AND l.doc_id < r.doc_id
      |ORDER BY a_id, b_id""".stripMargin

  /** Per-doc classifier scores under the inlined trained model —
    * the streaming twin of the quality_classifier_stats oracle, at
    * doc granularity (round 6) rather than per-lang rollup.
    */
  private def streamQualityScoresOracle(
      spark: org.apache.spark.sql.SparkSession, dir: String): String = {
    val m = CurationQueries.classifierModel(spark, dir)
    s"""WITH ${CurationQueries.classifierScoredCtes(m)}
       |SELECT doc_id, lang, round(p, 6) AS p
       |FROM clf_scored ORDER BY doc_id""".stripMargin
  }

  /** Oracle for `stream_vectors_eventtime`
    * ([[graft.streaming.VectorsStreaming.eventTimeQuery]]): DuckDB
    * recomputes BOTH halves of the contract from `embeddings.parquet`
    * alone — (a) the kept-row set, because the two-trigger delivery is
    * deterministic vec_id arithmetic: on-time rows (vec_id < 400,
    * hours 0–3) all land in emitted windows; the late delivery
    * (vec_id ∈ [400, 450), hours 0–2) targets windows already closed
    * by the trigger-1 watermark (3:59) and must be DROPPED; the fresh
    * delivery (vec_id ≥ 450, hours 3 + vec_id % 3) keeps only
    * vec_id % 3 ≤ 1 because hour 5 is the still-open withheld tail —
    * and (b) the per-(window, pos) means over that set, the
    * `label_centroids` exploded convention. An engine that admits a
    * late row, emits the open tail, or moves the watermark boundary
    * changes a count or a window set and hash-mismatches.
    */
  private val vectorsEventTimeSql =
    s"""WITH kept AS (
      |  SELECT CASE WHEN vec_id < 400 THEN vec_id % 4
      |              ELSE 3 + vec_id % 3 END AS hr, embedding
      |  FROM embeddings
      |  WHERE vec_id < 400 OR (vec_id >= 450 AND vec_id % 3 <= 1))
      |SELECT CAST(to_timestamp(${graft.streaming.VectorsStreaming.EventTimeBase} + hr * 3600) AS TIMESTAMP) AS window_start,
      |  pos - 1 AS pos, count(*) AS n_vectors,
      |  -- "+ 0.0" folds DuckDB's signed round(-eps, 4) = -0.0 into the
      |  -- +0.0 Spark's BigDecimal-based round produces (bitwise hash)
      |  round(avg(CAST(val AS DOUBLE)), 4) + 0.0 AS mean_val
      |FROM (SELECT hr, unnest(embedding) AS val,
      |             generate_subscripts(embedding, 1) AS pos
      |      FROM kept)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private val cmsCellsSql =
    """WITH toks AS (
      |  SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
      |    t -> t <> '')) AS token
      |  FROM documents),
      |cells AS (
      |  SELECT u.fn,
      |    CAST(('0x' || substr(md5(CAST(u.fn AS VARCHAR) || ':' || token), 1, 15)) AS BIGINT)
      |      % 1024 AS cell
      |  FROM toks CROSS JOIN unnest(range(0, 4)) AS u(fn))
      |SELECT fn, cell, count(*) AS c FROM cells
      |GROUP BY 1, 2 ORDER BY fn, cell""".stripMargin

  def defs: Map[String, QueryDef] = Map(
    "stream_hourly" -> QueryDef(
      EventsStreaming.hourlyQuery, Some(hourlySql), bench = false),
    "stream_dedup_hourly" -> QueryDef(
      EventsStreaming.dedupQuery, Some(dedupHourlySql), bench = false),
    "stream_sliding_counts" -> QueryDef(
      EventsStreaming.slidingQuery, Some(slidingSql), bench = false),
    "multimodal_frame_sample" -> QueryDef(
      Multimodal.frameSampleQuery, Some(frameSampleSql)),
    "stream_sessions" -> QueryDef(
      EventsStreaming.sessionQuery, Some(sessionsSql), bench = false),
    "stream_sessions_eventtime" -> QueryDef(
      EventsStreaming.sessionEventTimeQuery, Some(sessionsEventTimeSql),
      bench = false),
    "stream_interval_join" -> QueryDef(
      EventsStreaming.intervalJoinQuery, Some(intervalJoinSql), bench = false),
    "stream_enriched" -> QueryDef(
      EventsStreaming.enrichedQuery, Some(enrichedSql), bench = false),
    // md5 band signatures → DuckDB recomputes the same candidate set
    // (the banded self-join form of the stateful bucket emission; the
    // StreamingSpec equality gate vs the batch band-join additionally
    // pins the stateful path across micro-batch splits)
    "stream_lsh_candidates" -> QueryDef(
      graft.streaming.DocsStreaming.lshCandidatesQuery,
      Some(streamLshCandidatesSql), bench = false),
    // probe-all streamed ANN is exact and stateless per query, so it
    // shares the batch annJoin oracle verbatim
    "stream_ann_search" -> QueryDef(
      graft.streaming.VectorsStreaming.annSearchQuery,
      Some(IndexQueries.annJoinTopKSql), bench = false),
    // stream-ingest → Ivf.append with marker-idempotent foreachBatch;
    // the probe-all search over the union index is exact, so it shares
    // ann_join_topk's brute-force oracle verbatim (the query vectors
    // are themselves streamed-in rows — drops/dups break the hash)
    "stream_index_append" -> QueryDef(
      graft.streaming.VectorsStreaming.indexAppendQuery,
      Some(IndexQueries.annJoinTopKSql), bench = false),
    // stream-ingest → forced OUT-OF-BAND Ivf.maintain with the last
    // 100 rows entering through the delta-merge (appended after the
    // rewrite snapshot) → the same exact probe-all search, so the
    // brute-force oracle hash-checks the async compact AND the merge:
    // the 480–500 query vectors are themselves delta rows
    "stream_index_maintain" -> QueryDef(
      graft.streaming.VectorsStreaming.indexMaintainQuery,
      Some(IndexQueries.annJoinTopKSql), bench = false),
    // stream of DELETE requests → per-batch tombstone ingest
    // (marker-idempotent) → exact probe-all search over the survivors;
    // the query vector is itself a streamed-in deletion, so a dropped
    // delete batch resurrects it at rank 1 and breaks the hash
    "stream_index_delete" -> QueryDef(
      graft.streaming.VectorsStreaming.indexDeleteQuery,
      Some(IndexQueries.deletedSurvivorTop10Sql), bench = false),
    // watermarked Append drift centroids over a deterministic
    // two-trigger delivery: late-drop, withheld-tail, and the
    // per-(window, pos) means all recomputed by DuckDB from the
    // parquet — see vectorsEventTimeSql
    "stream_vectors_eventtime" -> QueryDef(
      graft.streaming.VectorsStreaming.eventTimeQuery,
      Some(vectorsEventTimeSql), bench = false),
    // the trained model is dim doubles + bias: the generator inlines
    // the engine-trained weights and DuckDB recomputes every per-doc
    // score (md5 bucketing, ascending-bucket fold, sigmoid) — see
    // CurationQueries.classifierScoredCtes; the StreamingSpec gate
    // additionally asserts stream == batch scoring exactly
    "stream_quality_scores" -> QueryDef(
      graft.streaming.DocsStreaming.qualityScoresQuery,
      OracleGen.sql("stream_quality_scores")(streamQualityScoresOracle),
      bench = false),
    // the running Complete-mode aggregation IS the sketch (integer
    // cells → micro-batching cannot change any value), so the stream
    // shares the batch cell oracle
    "stream_cms_cells" -> QueryDef(
      graft.streaming.DocsStreaming.cmsCellsQuery, Some(cmsCellsSql),
      bench = false),
    // HLL registers are max-merged (monotone), so micro-batching cannot
    // change any register → the stream shares the batch HLL oracle
    "stream_hll_users" -> QueryDef(
      graft.streaming.EventsStreaming.hllUsersQuery,
      Some(RelationalQueries.hllOracleSql(
        "events", "event_type", "user_id", "approx_users")),
      bench = false),
    // quantile buckets are integer count-sums (commutative), so
    // micro-batching cannot change any bucket → shares the batch oracle
    "stream_quantiles" -> QueryDef(
      graft.streaming.EventsStreaming.quantilesQuery,
      Some(RelationalQueries.quantileOracleSql(
        "events", "event_type", "CAST(round(value * 100) AS BIGINT)",
        "200.0", Seq("approx_p50" -> 0.5, "approx_p95" -> 0.95))),
      bench = false),
    // content-hash selection is a pure map-side predicate — zero
    // state, arrival-order- and batching-independent → shares the
    // batch sampling oracle verbatim
    "stream_hash_sample" -> QueryDef(
      graft.streaming.DocsStreaming.hashSampleQuery,
      Some(TextQueries.hashSampleDocsSql), bench = false),
    "multimodal_stats" -> QueryDef(
      Multimodal.stats, Some(multimodalStatsSql)),
    "multimodal_feature_pairs" -> QueryDef(
      Multimodal.featureTopPairs, Some(multimodalFeaturePairsSql))
  )

  /** The decode kernel is md5-derived (Multimodal.fakeDecode), so the
    * oracle reconstructs the asset table from documents and mirrors the
    * decode arithmetic on the md5 60-bit prefix.
    */
  private val multimodalStatsSql =
    """WITH a AS (
      |  SELECT doc_id AS asset_id,
      |    (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS modality,
      |    text
      |  FROM documents),
      |d AS (
      |  SELECT asset_id, modality,
      |    CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h,
      |    octet_length(encode(text)) AS n_bytes
      |  FROM a)
      |SELECT modality, count(*) AS n_assets,
      |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
      |  min(h % 1920 + 1) AS min_w,
      |  max((h // 1920) % 1080 + 1) AS max_h
      |FROM d GROUP BY modality ORDER BY modality""".stripMargin

  private val multimodalFeaturePairsSql =
    s"""WITH a AS (
      |  SELECT doc_id AS asset_id, text FROM documents WHERE doc_id < 60),
      |f AS (
      |  SELECT asset_id,
      |    list_transform(range(0, 16), j ->
      |      CAST((CAST(('0x' || substr(md5(j || ':' || text), 1, 15)) AS BIGINT)
      |            % 1000000) / 1000000.0 AS FLOAT)) AS feat
      |  FROM a),
      |p AS (
      |  SELECT l.asset_id AS a_id, r.asset_id AS b_id,
      |    ${dotSql("l.feat", "r.feat")} AS dp,
      |    ${normSql("l.feat")} AS na,
      |    ${normSql("r.feat")} AS nb
      |  FROM f l JOIN f r ON l.asset_id < r.asset_id)
      |SELECT a_id, b_id,
      |  round(CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dp / (na * nb) END, 4) AS cos_sim
      |FROM p ORDER BY cos_sim DESC, a_id, b_id LIMIT 10""".stripMargin
}
