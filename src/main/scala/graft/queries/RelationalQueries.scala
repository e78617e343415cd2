package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** TPC-H-style relational operators over the driver's star schema —
  * breadth for the bench/oracle suite (SURVEY.md §7.6).
  *
  * Determinism rules (oracle hash-compare):
  *   - double aggregates wrapped in round(_, 4): summation order varies
  *     with partitioning, rounding collapses the ~1e-10 noise
  *   - every orderBy carries a unique tie-break key
  *   - rollup NULLs replaced by sentinel strings (NULL sort order differs
  *     between engines)
  *
  * Scale notes per query in the Scaladoc of each builder: joins declare
  * broadcast on dimension tables; aggregates rely on Catalyst's partial
  * aggregation; no query collects unbounded rows to the driver.
  */
object RelationalQueries {

  /** TPC-H Q1 shape: full-scan aggregate with map-side partial agg.
    * At 100 TB this is the canonical "one shuffle of k groups" plan.
    */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") <= to_timestamp(lit("2001-09-01")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 4).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private val pricingSummarySql =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 4) AS sum_qty,
      |  round(sum(l_extendedprice), 4) AS sum_base_price,
      |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
      |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
      |  round(avg(l_quantity), 4) AS avg_qty,
      |  round(avg(l_extendedprice), 4) AS avg_price,
      |  count(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3 shape: dim-filtered fact join + top-k revenue.
    * customer is broadcast (150 rows/SF unit); orders↔lineitem is the one
    * genuine shuffle join on l_orderkey; top-10 via TakeOrderedAndProject.
    */
  def shippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).where(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(spark, dir)
      .where(col("o_orderdate") < to_timestamp(lit("1998-01-01")))
    val li = Tables.lineitem(spark, dir)
      .where(col("l_shipdate") > to_timestamp(lit("1998-01-01")))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
      .select(col("l_orderkey"), col("o_orderdate"), col("revenue"))
  }

  private val shippingPrioritySql =
    """SELECT l_orderkey, o_orderdate,
      |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |  AND l_shipdate > TIMESTAMP '1998-01-01'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** TPC-H Q5 shape: 5-way join, all dims broadcast, one fact shuffle. */
  def regionRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    val cust = Tables.customer(spark, dir)
    val supp = Tables.supplier(spark, dir)
    val nat = Tables.nation(spark, dir)
    val reg = Tables.region(spark, dir).where(col("r_name") === "ASIA")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  private val regionRevenueSql =
    """SELECT n_name,
      |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** Top spenders: fact aggregate then broadcast dim join for names. */
  def topCustomers(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(round(sum(col("o_totalprice")), 4).as("total_spend"),
        count(lit(1)).as("n_orders"))
    spend.join(broadcast(Tables.customer(spark, dir)),
        col("o_custkey") === col("c_custkey"))
      .orderBy(col("total_spend").desc, col("o_custkey"))
      .limit(10)
      .select(col("o_custkey"), col("c_name"), col("total_spend"), col("n_orders"))
  }

  private val topCustomersSql =
    """SELECT o_custkey, c_name,
      |  round(sum(o_totalprice), 4) AS total_spend, count(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY o_custkey, c_name
      |ORDER BY total_spend DESC, o_custkey LIMIT 10""".stripMargin

  /** TPC-H Q4 shape: EXISTS as a left-semi join (no row duplication). */
  def orderPriorityCount(spark: SparkSession, dir: String): DataFrame = {
    val late = Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= to_timestamp(lit("1999-01-01")))
      .select(col("l_orderkey"))
    Tables.orders(spark, dir)
      .join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  private val orderPriorityCountSql =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders WHERE EXISTS (
      |  SELECT 1 FROM lineitem
      |  WHERE l_orderkey = o_orderkey AND l_shipdate >= TIMESTAMP '1999-01-01')
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Anti join: customers with no large order (>300k), counted per nation. */
  def customersWithoutOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir)
          .where(col("o_totalprice") > 300000).select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_nationkey"))

  private val customersWithoutOrdersSql =
    """SELECT c_nationkey, count(*) AS n_customers
      |FROM customer WHERE NOT EXISTS (
      |  SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |  AND o_totalprice > 300000)
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  /** Window ranking: top-3 orders per customer by price. */
  def topOrdersPerCustomer(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3 && col("o_custkey") < 50)
      .select(col("o_custkey"), col("rank"), col("o_orderkey"), col("o_totalprice"))
  }

  private val topOrdersPerCustomerSql =
    """SELECT o_custkey, rank, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rank
      |  FROM orders) t
      |WHERE rank <= 3 AND o_custkey < 50""".stripMargin

  /** Running window aggregate: cumulative shipped quantity per supplier.
    * The frame order is a unique total order, so the sequential double
    * summation is identical in both engines — no rounding needed on the
    * running value itself (rounded anyway for safety).
    */
  def supplierRunningVolume(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(spark, dir)
      .where(col("l_suppkey") < 3)
      .withColumn("running_qty", round(sum(col("l_quantity")).over(w), 4))
      .select(col("l_suppkey"), col("l_shipdate"), col("l_orderkey"),
        col("l_linenumber"), col("running_qty"))
  }

  private val supplierRunningVolumeSql =
    """SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
      |  round(sum(l_quantity) OVER (
      |    PARTITION BY l_suppkey
      |    ORDER BY l_shipdate, l_orderkey, l_linenumber
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_qty
      |FROM lineitem WHERE l_suppkey < 3""".stripMargin

  /** Rollup hierarchy totals with sentinel labels instead of NULLs. */
  def partTypeRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .rollup(col("p_brand"), col("p_type"))
      .agg(count(lit(1)).as("n_parts"),
        round(avg(col("p_retailprice")), 4).as("avg_price"))
      .select(
        coalesce(col("p_brand"), lit("(all)")).as("brand"),
        coalesce(col("p_type"), lit("(all)")).as("ptype"),
        col("n_parts"), col("avg_price"))
      .orderBy(col("brand"), col("ptype"))

  private val partTypeRollupSql =
    """SELECT coalesce(p_brand, '(all)') AS brand,
      |  coalesce(p_type, '(all)') AS ptype,
      |  count(*) AS n_parts, round(avg(p_retailprice), 4) AS avg_price
      |FROM part GROUP BY ROLLUP (p_brand, p_type)
      |ORDER BY brand, ptype""".stripMargin

  /** Set operations: big spenders vs BUILDING-segment membership. */
  def setOpsCustomers(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.orders(spark, dir)
      .where(col("o_totalprice") > 300000)
      .select(col("o_custkey").as("custkey")).distinct()
    val building = Tables.customer(spark, dir)
      .where(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("custkey"))
    big.intersect(building)
      .withColumn("tag", lit("big_building"))
      .union(big.except(building).withColumn("tag", lit("big_other")))
      .orderBy(col("tag"), col("custkey"))
  }

  private val setOpsCustomersSql =
    """WITH big AS (SELECT DISTINCT o_custkey AS custkey FROM orders
      |             WHERE o_totalprice > 300000),
      |bld AS (SELECT c_custkey AS custkey FROM customer
      |        WHERE c_mktsegment = 'BUILDING')
      |SELECT custkey, 'big_building' AS tag FROM (
      |  SELECT custkey FROM big INTERSECT SELECT custkey FROM bld) a
      |UNION ALL
      |SELECT custkey, 'big_other' AS tag FROM (
      |  SELECT custkey FROM big EXCEPT SELECT custkey FROM bld) b
      |ORDER BY tag, custkey""".stripMargin

  /** Distinct + approximate-distinct aggregates per group. HLL differs
    * between engines, so the oracle covers the exact one; approx is a
    * separate rows-only query.
    */
  def distinctPartsPerFlag(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  private val distinctPartsPerFlagSql =
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
      |  count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** The skew-safe two-phase exact count-distinct
    * ([[graft.operators.Skew.countDistinctTwoPhase]]) through the driver
    * gate: phase 1 dedups on the uniformly-distributed (key, value) pair,
    * phase 2 counts compressed state — no reducer ever holds a hot key's
    * whole value set. Same answer as count(DISTINCT), which is the
    * oracle.
    */
  def skewDistinctParts(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Skew.countDistinctTwoPhase(
        Tables.lineitem(spark, dir), col("l_returnflag"), col("l_partkey"),
        outName = "n_parts")
      .select(col("__key").as("l_returnflag"), col("n_parts"))
      .orderBy(col("l_returnflag"))

  private val skewDistinctPartsSql =
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Salted collect_set ([[graft.operators.Skew.saltedCollectSet]])
    * through the driver gate: per-salt partial sets bound reducer state
    * to distinct-values/nSalts; the final union merges small sets. The
    * set is exploded back to scalar rows for the compare (the driver's
    * hasher cannot digest array columns), so the oracle is the DISTINCT
    * pair set — exactly what the salted sets must reconstruct.
    */
  def skewQuantitySets(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Skew.saltedCollectSet(
        Tables.lineitem(spark, dir), col("l_returnflag"), col("l_quantity"),
        outName = "quantities")
      .select(col("__key").as("l_returnflag"),
        explode(col("quantities")).as("quantity"))
      .orderBy(col("l_returnflag"), col("quantity"))

  private val skewQuantitySetsSql =
    """SELECT DISTINCT l_returnflag, l_quantity AS quantity
      |FROM lineitem ORDER BY l_returnflag, quantity""".stripMargin

  /** Approximate distinct via [[graft.operators.Hll]] — the mergeable
    * 256-register sketch that replaces a full `count(DISTINCT)` shuffle
    * of every key occurrence at 100 TB. Unlike `approx_count_distinct`
    * (engine-opaque HLL++), every register and the final estimate are
    * md5/integer math the DuckDB oracle recomputes bit-for-bit
    * (accuracy vs exact + vs Spark's HLL++ gated in SketchSpec).
    */
  def approxDistinctParts(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Hll.estimate(
        graft.operators.Hll.sketch(
          Tables.lineitem(spark, dir), "l_returnflag", col("l_partkey"),
          hashFn = graft.functions.Hash60.md5),
        "l_returnflag", "approx_parts")
      .orderBy(col("l_returnflag"))

  /** DuckDB twin of [[graft.operators.Hll]] sketch+estimate over
    * (keyCol, valueCol) of `table` — recomputes every register and the
    * final estimate from scratch (md5 bucketing, integer bit-length
    * ranks, scaled-long harmonic sum, the identical α·m²·2^53 literal).
    * Shared by the batch and streaming HLL queries: registers are
    * max-merged, so both paths produce the same registers bit-for-bit.
    */
  /** CTE chain `h, rb, regs` recomputing the engine's HLL register
    * frame (keyCol, bucket, r) from (keyCol, valueCol) of `table` —
    * the shared front half of every HLL oracle.
    */
  private[queries] def hllRegisterCtes(table: String, keyCol: String,
      valueCol: String): String =
    s"""h AS (
      |  SELECT $keyCol,
      |    CAST(('0x' || substr(md5(CAST($valueCol AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |  FROM $table WHERE $valueCol IS NOT NULL
      |), rb AS (
      |  SELECT $keyCol, h >> 52 AS bucket,
      |         h & ((1::BIGINT << 52) - 1) AS w FROM h
      |), regs AS (
      |  SELECT $keyCol, bucket,
      |    max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS r
      |  FROM rb GROUP BY 1, 2
      |)""".stripMargin

  /** CTE pair `${tag}agg, ${tag}est` reading an HLL register frame
    * (keys..., bucket, r) from CTE `regsCte` and emitting
    * (keys..., pb, $outName) — the shared estimate half (scaled-long
    * harmonic sum, the α·m²·2^53 literal, the 2.5m linear-counting
    * branch), written ONCE so the constants can never drift between
    * the single-key, streaming, and set-algebra oracles.
    */
  private[queries] def hllEstimateCtes(regsCte: String, keys: Seq[String],
      outName: String, tag: String): String = {
    val ks = keys.mkString(", ")
    s"""${tag}agg AS (
      |  SELECT $ks, count(*) AS pb,
      |    CAST(sum(1::BIGINT << (53 - r)) AS BIGINT) AS ss
      |  FROM $regsCte GROUP BY ${(1 to keys.size).mkString(", ")}
      |), ${tag}est AS (
      |  SELECT $ks, pb, CAST(round(
      |    CASE WHEN (256 - pb) > 0 AND e_raw <= 640.0
      |         THEN 256.0 * ln(256.0 / (256 - pb)) ELSE e_raw END) AS BIGINT)
      |    AS $outName
      |  FROM (SELECT *, ${graft.operators.Hll.AlphaNumer}
      |          / CAST(ss + (256 - pb) * (1::BIGINT << 53) AS DOUBLE) AS e_raw
      |        FROM ${tag}agg)
      |)""".stripMargin
  }

  private[queries] def hllOracleSql(table: String, keyCol: String,
      valueCol: String, outName: String): String =
    s"""WITH ${hllRegisterCtes(table, keyCol, valueCol)},
      |${hllEstimateCtes("regs", Seq(keyCol), outName, "s")}
      |SELECT $keyCol, pb AS present_buckets, $outName
      |FROM sest ORDER BY $keyCol""".stripMargin

  private val approxDistinctPartsSql =
    hllOracleSql("lineitem", "l_returnflag", "l_partkey", "approx_parts")

  /** Approximate quantiles via [[graft.operators.QuantileSketch]] — the
    * mergeable log-linear histogram (≤1/64 relative error) replacing
    * `approx_percentile`'s opaque t-digest; prices pre-scaled to exact
    * integer cents so every bucket boundary is oracle-recomputable.
    */
  def approxQuantiles(spark: SparkSession, dir: String): DataFrame =
    graft.operators.QuantileSketch.quantiles(
        graft.operators.QuantileSketch.sketch(
          Tables.orders(spark, dir), "o_orderpriority",
          round(col("o_totalprice") * 100).cast("long")),
        "o_orderpriority", 200.0,
        Seq("approx_p50" -> 0.5, "approx_p95" -> 0.95))
      .orderBy(col("o_orderpriority"))

  /** DuckDB twin of [[graft.operators.QuantileSketch]] sketch+read over
    * `valueSql` (a non-negative-BIGINT expression) of `table`, keyed by
    * `keyCol` — recomputes every log-linear bucket boundary
    * (`length(bin(v))` = the integer bit-length the engine's BitLength64
    * computes), the exact cumulative ranks, and the one float division
    * back to original units. Shared by the batch and streaming quantile
    * queries: bucket counts are integer sums, so both paths produce the
    * same sketch bit-for-bit.
    */
  private[queries] def quantileOracleSql(table: String, keyCol: String,
      valueSql: String, divisor: String, qs: Seq[(String, Double)]): String = {
    // double-arithmetic midpoint, matching QuantileSketch.quantiles:
    // lo/w carry ≤ 7 significant bits so lo*2+w is exact in double at
    // any magnitude (the integer form 2*lo+w-1 overflows BIGINT for
    // bit lengths ≥ 63), and the −1 rounds identically in both engines
    val reads = qs.map { case (name, p) =>
      // exact scaled-integer rank test, mirroring QuantileSketch
      // .quantiles: cum ≥ ⌈(num/10^6)·n⌉ ⟺ cum·10^6 ≥ num·n (DuckDB
      // sums BIGINT into HUGEINT, so the products are exact int128)
      val num = math.round(p * 1000000L)
      s"""  min(CASE WHEN cum * 1000000 >= $num * n
         |           THEN (CAST(lo AS DOUBLE) * 2 + CAST(w AS DOUBLE) - 1) / $divisor END) AS $name""".stripMargin
    }.mkString(",\n")
    s"""WITH c AS (
      |  SELECT $keyCol, $valueSql AS v FROM $table
      |  WHERE $valueSql IS NOT NULL
      |), b AS (
      |  SELECT $keyCol,
      |    (v >> greatest(length(bin(v)) - 6, 0)) << greatest(length(bin(v)) - 6, 0) AS lo,
      |    1::BIGINT << greatest(length(bin(v)) - 6, 0) AS w
      |  FROM c
      |), sk AS (
      |  SELECT $keyCol, lo, w, count(*) AS cnt FROM b GROUP BY 1, 2, 3
      |), cum AS (
      |  SELECT $keyCol, lo, w,
      |    sum(cnt) OVER (PARTITION BY $keyCol ORDER BY lo) AS cum,
      |    sum(cnt) OVER (PARTITION BY $keyCol) AS n
      |  FROM sk
      |)
      |SELECT $keyCol,
      |$reads
      |FROM cum GROUP BY $keyCol ORDER BY $keyCol""".stripMargin
  }

  private val approxQuantilesSql =
    quantileOracleSql("orders", "o_orderpriority",
      "CAST(round(o_totalprice * 100) AS BIGINT)", "200.0",
      Seq("approx_p50" -> 0.5, "approx_p95" -> 0.95))

  /** TPC-H Q17 shape: correlated "below half the per-part average"
    * predicate, decorrelated as a window average over l_partkey — one
    * shuffle instead of a per-row subquery.
    */
  def smallQuantityRevenue(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_partkey"))
    val li = Tables.lineitem(spark, dir)
      .withColumn("avg_qty", avg(col("l_quantity")).over(w))
    li.join(broadcast(Tables.part(spark, dir).where(col("p_brand") === "Brand#11")),
        col("l_partkey") === col("p_partkey"))
      .where(col("l_quantity") < col("avg_qty") * 0.5)
      .agg(round(sum(col("l_extendedprice")) / 7.0, 4).as("avg_yearly"))
  }

  private val smallQuantityRevenueSql =
    """SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand = 'Brand#11'
      |  AND l_quantity < (SELECT 0.5 * avg(l_quantity) FROM lineitem l2
      |                    WHERE l2.l_partkey = lineitem.l_partkey)""".stripMargin

  /** TPC-H Q14 shape: conditional-aggregate share (PROMO revenue %). */
  def promoRevenueShare(spark: SparkSession, dir: String): DataFrame = {
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)),
        col("l_partkey") === col("p_partkey"))
      .agg(round(
        sum(when(col("p_type") === "PROMO", rev).otherwise(0)) * 100.0 /
          sum(rev), 4).as("promo_revenue_pct"))
  }

  private val promoRevenueShareSql =
    """SELECT round(
      |  sum(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount)
      |           ELSE 0 END) * 100.0
      |  / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
      |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin

  /** Statistical aggregates per group: stddev, correlation, covariance.
    * The `+ 0.0` normalizes IEEE negative zero: DuckDB's round yields -0.0
    * when a tiny negative covariance rounds to zero, while Spark's round
    * (BigDecimal HALF_UP) yields +0.0 — value-equal but not bit-equal, which
    * breaks a hashing comparator.
    */
  def statsByFlag(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        (round(stddev_samp(col("l_quantity")), 4) + 0.0).as("sd_qty"),
        (round(corr(col("l_quantity"), col("l_extendedprice")), 4) + 0.0).as("corr_qty_price"),
        (round(covar_samp(col("l_discount"), col("l_tax")), 4) + 0.0).as("covar_disc_tax"))
      .orderBy(col("l_returnflag"))

  private val statsByFlagSql =
    """SELECT l_returnflag,
      |  round(stddev_samp(l_quantity), 4) + 0.0 AS sd_qty,
      |  round(corr(l_quantity, l_extendedprice), 4) + 0.0 AS corr_qty_price,
      |  round(covar_samp(l_discount, l_tax), 4) + 0.0 AS covar_disc_tax
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Exact interpolated percentiles per group (Spark `percentile` ↔
    * DuckDB `quantile_cont`, same linear-interpolation definition).
    */
  def priceQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        round(expr("percentile(o_totalprice, 0.25)"), 4).as("p25"),
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.75)"), 4).as("p75"))
      .orderBy(col("o_orderpriority"))

  private val priceQuantilesSql =
    """SELECT o_orderpriority,
      |  round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
      |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
      |  round(quantile_cont(o_totalprice, 0.75), 4) AS p75
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Full cube over status × priority with sentinel labels. */
  def ordersCube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 4).as("total_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        col("n_orders"), col("total_price"))
      .orderBy(col("status"), col("priority"))

  private val ordersCubeSql =
    """SELECT coalesce(o_orderstatus, '(all)') AS status,
      |  coalesce(o_orderpriority, '(all)') AS priority,
      |  count(*) AS n_orders, round(sum(o_totalprice), 4) AS total_price
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin

  /** Revenue from line items of large urgent orders, via
    * [[graft.operators.BloomJoin.semi]]: the urgent-order key set is
    * Bloom-summarized and applied map-side over the lineitem scan, so
    * only probable matches reach the exact semi join. At 100 TB the key
    * set (9% of orders) outgrows a broadcast hash relation long before
    * its ~1.2 MB/M-keys Bloom filter stops fitting — the pre-filter cuts
    * the probe-side shuffle to the match fraction. Result is exact
    * (trailing semi join removes false positives), hence oracle-checked.
    */
  def bloomSemiRevenue(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(spark, dir)
      .where(col("o_orderpriority") === "1-URGENT" &&
        col("o_totalprice") > 280000)
      .select(col("o_orderkey"))
      .persist() // feeds bloom sizing + bloom build + the exact semi join
    graft.operators.BloomJoin
      .semi(Tables.lineitem(spark, dir), "l_orderkey", urgent, "o_orderkey")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue"))
      .orderBy(col("l_returnflag"))
  }

  private val bloomSemiRevenueSql =
    """SELECT l_returnflag, count(*) AS n_items,
      |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
      |FROM lineitem
      |WHERE l_orderkey IN (
      |  SELECT o_orderkey FROM orders
      |  WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 280000)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Z-order (Morton) codes for the part table's (p_size, p_partkey mod
    * 256) — the layout key `operators.ZOrder.writeClustered` sorts by.
    * Pure integer bit arithmetic; the oracle SQL is GENERATED from the
    * same bit loop (`ZOrder.morton2Sql`), so the two engines cannot
    * drift. The file-skipping win of the clustered layout itself is
    * measured in ZOrderSpec.
    */
  def zorderCodes(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .where(col("p_partkey") < 100)
      .select(col("p_partkey"), col("p_size"),
        graft.operators.ZOrder.morton2(
          col("p_size"), pmod(col("p_partkey"), lit(256)), bits = 16)
          .as("zval"))
      .orderBy(col("p_partkey"))

  private val zorderCodesSql =
    s"""SELECT p_partkey, p_size,
       |  ${graft.operators.ZOrder.morton2Sql("p_size", "(p_partkey % 256)", 16)} AS zval
       |FROM part WHERE p_partkey < 100 ORDER BY p_partkey""".stripMargin

  def defs: Map[String, QueryDef] = Map(
    "zorder_codes" -> QueryDef(zorderCodes, Some(zorderCodesSql)),
    "bloom_semi_revenue" -> QueryDef(bloomSemiRevenue, Some(bloomSemiRevenueSql)),
    "small_quantity_revenue" -> QueryDef(smallQuantityRevenue, Some(smallQuantityRevenueSql)),
    "promo_revenue_share" -> QueryDef(promoRevenueShare, Some(promoRevenueShareSql)),
    "stats_by_flag" -> QueryDef(statsByFlag, Some(statsByFlagSql)),
    "price_quantiles" -> QueryDef(priceQuantiles, Some(priceQuantilesSql)),
    "orders_cube" -> QueryDef(ordersCube, Some(ordersCubeSql)),
    "q1_pricing_summary" -> QueryDef(pricingSummary, Some(pricingSummarySql)),
    "q3_shipping_priority" -> QueryDef(shippingPriority, Some(shippingPrioritySql)),
    "q5_region_revenue" -> QueryDef(regionRevenue, Some(regionRevenueSql)),
    "top_customers" -> QueryDef(topCustomers, Some(topCustomersSql)),
    "order_priority_count" -> QueryDef(orderPriorityCount, Some(orderPriorityCountSql)),
    "customers_without_orders" -> QueryDef(customersWithoutOrders, Some(customersWithoutOrdersSql)),
    "top_orders_per_customer" -> QueryDef(topOrdersPerCustomer, Some(topOrdersPerCustomerSql)),
    "supplier_running_volume" -> QueryDef(supplierRunningVolume, Some(supplierRunningVolumeSql)),
    "part_type_rollup" -> QueryDef(partTypeRollup, Some(partTypeRollupSql)),
    "set_ops_customers" -> QueryDef(setOpsCustomers, Some(setOpsCustomersSql)),
    "distinct_parts_per_flag" -> QueryDef(distinctPartsPerFlag, Some(distinctPartsPerFlagSql)),
    "skew_distinct_parts" -> QueryDef(skewDistinctParts, Some(skewDistinctPartsSql)),
    "skew_quantity_sets" -> QueryDef(skewQuantitySets, Some(skewQuantitySetsSql)),
    "approx_distinct_parts" -> QueryDef(approxDistinctParts, Some(approxDistinctPartsSql)),
    "approx_quantiles" -> QueryDef(approxQuantiles, Some(approxQuantilesSql))
  )
}
