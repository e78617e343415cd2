package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** JSON-extraction, time-window, and sessionization operators over
  * `events.parquet`. Batch forms here (oracle-checkable); the streaming
  * equivalents live in graft.streaming.
  *
  * Time arithmetic contract with the oracle: everything goes through
  * epoch milliseconds (`unix_millis` ↔ `epoch_ms`) — both engines
  * truncate the same microsecond parquet value identically, and bucket
  * boundaries are explicit integer arithmetic rather than engine-specific
  * bucket origins.
  */
object EventQueries {

  /** Hourly tumbling aggregate (batch form of the streaming windowed agg). */
  def hourlyCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("hour_start",
        timestamp_seconds(floor(unix_millis(col("ts")) / 3600000L) * 3600L))
      .groupBy(col("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .orderBy(col("hour_start"), col("event_type"))

  private[queries] val hourlyCountsSql =
    """SELECT CAST(to_timestamp((epoch_ms(ts) // 3600000) * 3600) AS TIMESTAMP) AS hour_start,
      |  event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** JSON property extraction (props = {"k": N}) + per-type stats.
    * regexp_extract keeps the oracle engine-agnostic (no JSON extension
    * dependency); swap to get_json_object for nested payloads.
    */
  def jsonExtractStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(avg(col("k")), 4).as("avg_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  private val jsonExtractStatsSql =
    """SELECT event_type, count(*) AS n_events,
      |  round(avg(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)), 4) AS avg_k,
      |  min(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS min_k,
      |  max(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Sessionization: 30-minute inactivity gap starts a new session;
    * count sessions + span per user. Lag window over (user, time) —
    * the canonical stateful-stream operator in its batch form.
    */
  def userSessions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("prev_ms", lag(unix_millis(col("ts")), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ms").isNull ||
          unix_millis(col("ts")) - col("prev_ms") > 1800000L, 1).otherwise(0))
      .groupBy(col("user_id"))
      .agg(sum(col("new_session")).as("n_sessions"),
        count(lit(1)).as("n_events"))
      .where(col("user_id") < 200)
      .orderBy(col("user_id"))
  }

  private[queries] val userSessionsSql =
    """WITH l AS (
      |  SELECT user_id, event_id, epoch_ms(ts) AS ms,
      |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
      |  FROM events)
      |SELECT user_id,
      |  CAST(sum(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
      |  count(*) AS n_events
      |FROM l WHERE user_id < 200
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Pivot: per-user counts of each event type as conditional aggregates
    * (shuffle-once; a `pivot()` would plan the same).
    */
  def eventTypePivot(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .where(col("user_id") < 100)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "click", 1).otherwise(0)).as("n_click"),
        sum(when(col("event_type") === "view", 1).otherwise(0)).as("n_view"),
        sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("n_purchase"),
        sum(when(col("event_type") === "signup", 1).otherwise(0)).as("n_signup"),
        sum(when(col("event_type") === "error", 1).otherwise(0)).as("n_error"))
      .orderBy(col("user_id"))

  private val eventTypePivotSql =
    """SELECT user_id,
      |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
      |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
      |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
      |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
      |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
      |FROM events WHERE user_id < 100
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Sliding-window moving average of `value` per event_type over the
    * preceding 6 hours (range frame on epoch seconds).
    */
  def movingAverage(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("sec"))
      .rangeBetween(-21600L, 0L)
    Tables.events(spark, dir)
      .where(col("event_id") < 500)
      .withColumn("sec", (unix_millis(col("ts")) / lit(1000.0)))
      .withColumn("moving_avg", round(avg(col("value")).over(w), 4))
      .select(col("event_id"), col("event_type"), col("moving_avg"))
      .orderBy(col("event_id"))
  }

  private val movingAverageSql =
    """SELECT event_id, event_type,
      |  round(avg(value) OVER (
      |    PARTITION BY event_type ORDER BY epoch_ms(ts) / 1000.0
      |    RANGE BETWEEN 21600 PRECEDING AND CURRENT ROW), 4) AS moving_avg
      |FROM events WHERE event_id < 500
      |ORDER BY event_id""".stripMargin

  /** JSON-path extraction via native JSON functions (get_json_object ↔
    * json_extract_string) — the general form of the regexp-based
    * jsonExtractStats for nested payloads.
    */
  def jsonPathStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(round(avg(col("k")), 4).as("avg_k"),
        count(col("k")).as("n_with_k"))
      .orderBy(col("event_type"))

  private val jsonPathStatsSql =
    """SELECT event_type,
      |  round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
      |  count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Day-over-day retention: of the users active on day d, the fraction
    * also active on day d+1 — distinct (user, day) projection self-joined
    * on adjacent buckets. Both shuffles carry distinct pairs, not raw
    * events.
    */
  def dailyRetention(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(col("user_id"),
        (unix_millis(col("ts")) / 86400000L).cast("long").as("day"))
      .distinct()
    val next = daily.select(col("user_id"), (col("day") - 1).as("day"))
      .withColumn("retained", lit(1))
    daily.join(next, Seq("user_id", "day"), "left")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_active"),
        round(sum(coalesce(col("retained"), lit(0))) /
          count(lit(1)).cast("double"), 4).as("retention_rate"))
      .orderBy(col("day"))
  }

  private val dailyRetentionSql =
    """WITH daily AS (
      |  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events)
      |SELECT d.day, count(*) AS n_active,
      |  round(sum(CASE WHEN n.user_id IS NULL THEN 0 ELSE 1 END)
      |        / CAST(count(*) AS DOUBLE), 4) AS retention_rate
      |FROM daily d LEFT JOIN daily n
      |  ON n.user_id = d.user_id AND n.day = d.day + 1
      |GROUP BY d.day ORDER BY d.day""".stripMargin

  /** As-of join: each purchase matched to the user's most recent
    * prior-or-simultaneous click (graft.operators.AsofJoin — union +
    * carry-forward window, one shuffle on user_id). Clicks are
    * pre-deduplicated to one per (user, ms) per the operator contract.
    */
  def asofPurchaseClick(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        unix_millis(col("ts")).as("ms"), col("event_type"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ms"))
    val clicks = ev.where(col("event_type") === "click")
      .groupBy(col("user_id"), col("ms"))
      .agg(max(col("event_id")).as("click_id"))
    graft.operators.AsofJoin.asof(purchases, clicks, "user_id", "ms")
      .select(col("purchase_id"), col("user_id"),
        col("ms").as("purchase_ms"), col("click_id"),
        col("ms_right").as("click_ms"),
        (col("ms") - col("ms_right")).as("lag_ms"))
      .orderBy(col("purchase_id"))
  }

  private val asofPurchaseClickSql =
    """WITH p AS (
      |  SELECT event_id AS purchase_id, user_id, epoch_ms(ts) AS purchase_ms
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (
      |  SELECT user_id, epoch_ms(ts) AS click_ms, max(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
      |SELECT p.purchase_id, p.user_id, p.purchase_ms, c.click_id, c.click_ms,
      |  p.purchase_ms - c.click_ms AS lag_ms
      |FROM p ASOF JOIN c
      |  ON p.user_id = c.user_id AND p.purchase_ms >= c.click_ms
      |ORDER BY p.purchase_id""".stripMargin

  /** Moving z-score anomaly flags: per event_type, how far each value
    * sits from its trailing-6-hour mean in trailing-stddev units. Both
    * moments are rounded to 4 decimals BEFORE the z computation so the
    * division sees bit-identical inputs in both engines (the same
    * stabilization movingAverage relies on). Flag at |z| > 2.5.
    */
  def movingAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("sec"))
      .rangeBetween(-21600L, 0L)
    Tables.events(spark, dir)
      .where(col("event_id") < 2000)
      .withColumn("sec", (unix_millis(col("ts")) / lit(1000.0)))
      .withColumn("mu", round(avg(col("value")).over(w), 4))
      .withColumn("sd",
        round(coalesce(stddev_samp(col("value")).over(w), lit(0.0)), 4))
      .withColumn("z",
        round((col("value") - col("mu")) / greatest(col("sd"), lit(0.0001)), 2))
      .where(abs(col("z")) > 2.5)
      .select(col("event_id"), col("event_type"), col("mu"), col("sd"), col("z"))
      .orderBy(col("event_id"))
  }

  private val movingAnomaliesSql =
    """WITH s AS (
      |  SELECT event_id, event_type, value,
      |    round(avg(value) OVER (
      |      PARTITION BY event_type ORDER BY epoch_ms(ts) / 1000.0
      |      RANGE BETWEEN 21600 PRECEDING AND CURRENT ROW), 4) AS mu,
      |    round(COALESCE(stddev_samp(value) OVER (
      |      PARTITION BY event_type ORDER BY epoch_ms(ts) / 1000.0
      |      RANGE BETWEEN 21600 PRECEDING AND CURRENT ROW), 0.0), 4) AS sd
      |  FROM events WHERE event_id < 2000)
      |SELECT event_id, event_type, mu, sd,
      |  round((value - mu) / greatest(sd, 0.0001), 2) AS z
      |FROM s WHERE abs(round((value - mu) / greatest(sd, 0.0001), 2)) > 2.5
      |ORDER BY event_id""".stripMargin

  /** Funnel conversion signup → click → purchase, each step strictly
    * after the previous one per user: three min-timestamp aggregations
    * and two self-joins, all co-partitioned on user_id after the first
    * shuffle. One summary row.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("ms"))
    val s = ev.where(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ms")).as("s_ms"))
    val c = ev.where(col("event_type") === "click").as("c")
      .join(s, "user_id")
      .where(col("ms") > col("s_ms"))
      .groupBy(col("user_id")).agg(min(col("ms")).as("c_ms"))
    val p = ev.where(col("event_type") === "purchase").as("p")
      .join(c, "user_id")
      .where(col("ms") > col("c_ms"))
      .groupBy(col("user_id")).agg(min(col("ms")).as("p_ms"))
    s.agg(count(lit(1)).as("n_signup")).crossJoin(
        c.agg(count(lit(1)).as("n_click_after")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchase_after")))
  }

  private val funnelSql =
    """WITH s AS (
      |  SELECT user_id, min(epoch_ms(ts)) AS s_ms FROM events
      |  WHERE event_type = 'signup' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, min(epoch_ms(e.ts)) AS c_ms
      |  FROM events e JOIN s ON e.user_id = s.user_id
      |  WHERE e.event_type = 'click' AND epoch_ms(e.ts) > s.s_ms
      |  GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, min(epoch_ms(e.ts)) AS p_ms
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) > c.c_ms
      |  GROUP BY e.user_id)
      |SELECT (SELECT count(*) FROM s) AS n_signup,
      |       (SELECT count(*) FROM c) AS n_click_after,
      |       (SELECT count(*) FROM p) AS n_purchase_after""".stripMargin

  /** HLL set algebra ([[graft.operators.Hll.pairwiseOverlap]]):
    * estimated distinct-user overlap between every pair of event types
    * via inclusion–exclusion over register-max union sketches — the
    * bounded-state answer to audience-overlap questions at 100 TB (one
    * corpus pass replaces a count(DISTINCT) shuffle per pair; see the
    * operator Scaladoc). Register math is integer-exact, so the DuckDB
    * oracle recomputes every estimate bit-for-bit.
    */
  def hllUserOverlap(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Hll.pairwiseOverlap(
        // spread: the md5 register hashing is the CPU-heavy map stage
        // and events arrives locally as one scan split (identity at
        // cluster scale — Tables.spread); r18 measurement: the whole
        // 0.9 s sketch pass ran on one core without it
        Tables.spread(
          Tables.events(spark, dir).select(col("event_type"), col("user_id")),
          col("user_id")),
        "event_type", col("user_id"),
        hashFn = graft.functions.Hash60.md5)
      .select(col("key_a").as("type_a"), col("key_b").as("type_b"),
        col("distinct_a").as("users_a"), col("distinct_b").as("users_b"),
        col("union_distinct").as("union_users"), col("overlap_est"))
      .orderBy(col("type_a"), col("type_b"))

  // the register + estimate CTEs are the shared hllRegisterCtes /
  // hllEstimateCtes generators — the same SQL text as the batch and
  // streaming HLL oracles, so the register math can never drift
  private val hllUserOverlapSql =
    s"""WITH ${RelationalQueries.hllRegisterCtes("events", "event_type", "user_id")},
      |${RelationalQueries.hllEstimateCtes("regs", Seq("event_type"), "users", "s")},
      |pairs AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b
      |  FROM (SELECT DISTINCT event_type FROM events) a,
      |       (SELECT DISTINCT event_type FROM events) b
      |  WHERE a.event_type < b.event_type
      |), uregs AS (
      |  SELECT p.type_a, p.type_b, r.bucket, max(r.r) AS r
      |  FROM pairs p JOIN regs r
      |    ON r.event_type = p.type_a OR r.event_type = p.type_b
      |  GROUP BY 1, 2, 3
      |),
      |${RelationalQueries.hllEstimateCtes("uregs", Seq("type_a", "type_b"), "union_users", "u")}
      |SELECT u.type_a, u.type_b, sa.users AS users_a, sb.users AS users_b,
      |  u.union_users, sa.users + sb.users - u.union_users AS overlap_est
      |FROM uest u
      |JOIN sest sa ON sa.event_type = u.type_a
      |JOIN sest sb ON sb.event_type = u.type_b
      |ORDER BY u.type_a, u.type_b""".stripMargin

  def defs: Map[String, QueryDef] = Map(
    "hll_user_overlap" -> QueryDef(hllUserOverlap, Some(hllUserOverlapSql)),
    "events_anomalies" -> QueryDef(movingAnomalies, Some(movingAnomaliesSql)),
    "user_funnel" -> QueryDef(funnel, Some(funnelSql)),
    "events_asof_click" -> QueryDef(asofPurchaseClick, Some(asofPurchaseClickSql)),
    "daily_retention" -> QueryDef(dailyRetention, Some(dailyRetentionSql)),
    "events_json_path" -> QueryDef(jsonPathStats, Some(jsonPathStatsSql)),
    "events_hourly" -> QueryDef(hourlyCounts, Some(hourlyCountsSql)),
    "events_json_stats" -> QueryDef(jsonExtractStats, Some(jsonExtractStatsSql)),
    "user_sessions" -> QueryDef(userSessions, Some(userSessionsSql)),
    "event_type_pivot" -> QueryDef(eventTypePivot, Some(eventTypePivotSql)),
    "events_moving_avg" -> QueryDef(movingAverage, Some(movingAverageSql))
  )
}
