package graft

import org.apache.spark.sql.functions._

import graft.operators.{Hll, QuantileSketch}

/** Invariants of the oracle-reproducible sketches: exact incremental
  * mergeability, accuracy vs exact answers (and vs Spark's built-in
  * sketches), partitioning-independence down to the bit, bounded size,
  * and the HLL small-range linear-counting branch.
  */
class SketchSpec extends SparkSpec {

  private lazy val li = Tables.lineitem(spark, sf001)

  // ------------------------------------------------------------- HLL

  test("HLL set algebra: pairwise overlap estimate tracks the exact " +
      "intersection within the inclusion-exclusion error budget") {
    val ev = Tables.events(spark, sf001)
    val overlap = graft.queries.EventQueries.hllUserOverlap(spark, sf001)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(5)).toMap
    val exact = ev.select(col("event_type").as("type_a"), col("user_id"))
      .join(ev.select(col("event_type").as("type_b"), col("user_id")),
        Seq("user_id"))
      .where(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(countDistinct(col("user_id")).as("d"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(overlap.keySet == exact.keySet, "pair sets diverge")
    // inclusion-exclusion compounds three ~6.5%-sigma estimates, each
    // scaled by the UNION size, not the intersection — allow 3 sigma of
    // the union per term; the events table's per-type user sets overlap
    // heavily so the relative check is meaningful
    exact.foreach { case (k, ex) =>
      val err = (overlap(k) - ex).abs
      assert(err <= math.max(3 * 3 * 0.065 * ex, 50.0),
        s"pair $k: overlap est ${overlap(k)} vs exact $ex (err $err)")
    }
  }

  test("HLL pairwiseOverlap on a caller frame: disjoint pairs estimate ~0, " +
      "identical sets estimate the full size") {
    import spark.implicits._
    // three keys over known value sets: a = [0,2000), b = [0,2000)
    // (identical to a), c = [10000,12000) (disjoint from both)
    val df = spark.range(2000).selectExpr("'a' AS k", "id AS v")
      .union(spark.range(2000).selectExpr("'b' AS k", "id AS v"))
      .union(spark.range(10000, 12000).selectExpr("'c' AS k", "id AS v"))
    val out = graft.operators.Hll.pairwiseOverlap(df.toDF(), "k", col("v"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(5))
      .toMap
    assert(out.keySet == Set(("a", "b"), ("a", "c"), ("b", "c")))
    // identical sets: union == each side, so overlap == the single
    // estimate exactly (register frames are identical)
    assert(math.abs(out(("a", "b")) - 2000.0) / 2000.0 < 3 * 0.065,
      s"identical-set overlap ${out(("a", "b"))} not ~2000")
    // disjoint sets: error budget is sigma-scaled by the UNION (4000)
    assert(math.abs(out(("a", "c")).toDouble) < 3 * 0.065 * 4000,
      s"disjoint overlap ${out(("a", "c"))} not ~0")
  }

  test("sketches ignore null values; all-null keys vanish from estimates") {
    import spark.implicits._
    val df = Seq(("a", Some(1L)), ("a", Some(2L)), ("a", None), ("b", None))
      .toDF("k", "v")
    val hll = Hll.estimate(Hll.sketch(df, "k", col("v")), "k", "d")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(hll == Map("a" -> 2L),
      s"nulls must not register and all-null keys must drop: $hll")
    val qs = QuantileSketch.quantiles(
        QuantileSketch.sketch(df, "k", col("v")), "k", 2.0,
        Seq("p50" -> 0.5))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // values 1, 2 → p50 = first bucket reaching rank 1 = exact value 1,
    // midpoint (2·1+1−1)/2 = 1.0
    assert(qs == Map("a" -> 1.0),
      s"null values must not form buckets: $qs")
  }

  test("QuantileSketch: bucket invariants at every bit length + seeded sweep") {
    import spark.implicits._
    // every bit length 1..62 at its boundaries, plus a seeded LCG sweep
    val edges = (1 to 62).flatMap(b =>
      Seq((1L << b) - 1, 1L << b, (1L << b) + 1).filter(_ >= 0))
    var s = 42L
    val rand = Seq.fill(500) {
      s = s * 6364136223846793005L + 1442695040888963407L
      s >>> 2 // non-negative, up to 2^62
    }
    val vals = (edges ++ rand :+ 0L).distinct
    // each value is its own key → its sketch is exactly one bucket
    val sk = QuantileSketch.sketch(vals.toDF("v").withColumn("k", col("v")),
        "k", col("v"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    vals.foreach { v =>
      val (lo, w) = sk(v)
      val bitlen = 64 - java.lang.Long.numberOfLeadingZeros(v)
      val wantW = 1L << math.max(bitlen - QuantileSketch.SigBits, 0)
      assert(w == wantW, s"v=$v: w=$w want $wantW")
      assert(lo <= v && (v - lo) < w, s"v=$v outside bucket [$lo, $lo+$w)")
      // midpoint estimate relative error ≤ 2^−SigBits for v ≥ 1
      if (v >= 1) {
        val est = (lo.toDouble * 2 + w.toDouble - 1) / 2.0
        assert(math.abs(est - v) / v.toDouble <= 1.0 / (1 << QuantileSketch.SigBits),
          s"v=$v: midpoint $est outside the error bound")
      }
    }
  }

  test("HLL: any single distinct value estimates exactly 1") {
    import spark.implicits._
    var s = 7L
    val vals = Seq.fill(300) {
      s = s * 6364136223846793005L + 1442695040888963407L; s
    }.distinct
    // one row per key → one occupied register; linear counting gives
    // 256·ln(256/255) ≈ 1.002 → rounds to 1 for EVERY possible hash
    val bad = Hll.estimate(
        Hll.sketch(vals.toDF("v").withColumn("k", col("v")), "k", col("v")),
        "k", "d")
      .where(col("d") =!= 1L).count()
    assert(bad == 0, s"$bad single-value keys did not estimate exactly 1")
  }

  test("QuantileSketch precision parameter: sigBits=10 tightens to ~0.1%") {
    import spark.implicits._
    val df = spark.range(1, 100001).selectExpr("'k' AS k", "id AS v").toDF()
    def p50Err(sb: Int): Double = {
      val est = QuantileSketch.quantiles(
          QuantileSketch.sketch(df, "k", col("v"), sb), "k", 2.0,
          Seq("p50" -> 0.5))
        .head().getDouble(1)
      math.abs(est - 50000.0) / 50000.0
    }
    assert(p50Err(6) <= 1.0 / 64, "sigBits=6 outside its bound")
    assert(p50Err(10) <= 1.0 / 1024, "sigBits=10 outside its bound")
  }

  test("QuantileSketch: no long overflow at bit length >= 63") {
    import spark.implicits._
    // v = 2^62 → s = 57, lo = 2^62, w = 2^57: the integer midpoint
    // 2·lo+w−1 would wrap negative; the double form stays exact
    val df = Seq(("a", 1L << 62)).toDF("k", "v")
    val est = QuantileSketch.quantiles(
        QuantileSketch.sketch(df, "k", col("v")), "k", 2.0,
        Seq("p50" -> 0.5))
      .head().getDouble(1)
    val expect = (math.pow(2, 63) + math.pow(2, 57) - 1) / 2.0
    assert(est == expect, s"got $est, want $expect — overflow regressed")
  }

  test("HLL precision parameter: p=12 tightens the estimate ~4x over p=8") {
    import spark.implicits._
    // 100k known-distinct values under one key: σ(p) = 1.04/√2^p →
    // 6.5% at p=8, 1.6% at p=12; gate each at 3σ and require the p=12
    // run to actually be tighter than p=8's 1σ band
    val df = spark.range(100000).selectExpr("'k' AS k", "id AS v").toDF()
    def err(p: Int): Double = {
      val est = graft.operators.Hll.estimate(
          graft.operators.Hll.sketch(df, "k", col("v"), p), "k", "d", p)
        .head().getLong(2)
      math.abs(est - 100000.0) / 100000.0
    }
    val e8 = err(8); val e12 = err(12)
    assert(e8 < 3 * 0.065, s"p=8 err $e8")
    assert(e12 < 3 * 0.0163, s"p=12 err $e12")
    // register count scales with 2^p, bounded by m
    val regs12 = graft.operators.Hll.sketch(df, "k", col("v"), 12).count()
    assert(regs12 > 256 && regs12 <= 4096, s"p=12 register rows $regs12")
  }

  test("HLL: sketch of the union == register-wise merge of split sketches") {
    val a = li.where(col("l_orderkey") % 2 === 0)
    val b = li.where(col("l_orderkey") % 2 =!= 0)
    val merged = Hll.merge(
        Hll.sketch(a, "l_returnflag", col("l_partkey")),
        Hll.sketch(b, "l_returnflag", col("l_partkey")), "l_returnflag")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2)).toMap
    val whole = Hll.sketch(li, "l_returnflag", col("l_partkey"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(merged == whole, "merge is not exactly the union sketch")
  }

  test("HLL: estimate within the 3-sigma error band of exact distinct, " +
      "and no worse than 3x Spark's HLL++ error at default precision") {
    val est = Hll.estimate(
        Hll.sketch(li, "l_returnflag", col("l_partkey")),
        "l_returnflag", "approx_parts")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val exact = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("exact"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val builtin = li.groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // standard error 1.04/sqrt(256) = 6.5%; gate at 3 sigma = 19.5%
    exact.foreach { case (k, ex) =>
      val relErr = math.abs(est(k) - ex).toDouble / ex
      assert(relErr < 0.195, s"$k: hll=${est(k)} exact=$ex relErr=$relErr")
      val builtinErr = math.abs(builtin(k) - ex).toDouble / ex
      assert(relErr <= 3 * builtinErr + 0.02,
        s"$k: our error $relErr vs builtin $builtinErr — register math suspect")
    }
  }

  test("HLL: accuracy and algebra hold under the xxhash64 production " +
      "family; md5 defaults are bit-unchanged (VERDICT r9 #1)") {
    val xx = graft.functions.Hash60.xx
    // accuracy: same 3-sigma band as the md5 gate — register math is
    // hash-agnostic, only placement changes
    val est = Hll.estimate(
        Hll.sketch(li, "l_returnflag", col("l_partkey"), Hll.P, xx),
        "l_returnflag", "approx_parts")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val exact = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("exact"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, ex) =>
      val relErr = math.abs(est(k) - ex).toDouble / ex
      assert(relErr < 0.195, s"$k: xx-hll=${est(k)} exact=$ex relErr=$relErr")
    }
    // exact mergeability under xx: sketch(A ⊎ B) == merge(sketches)
    val a = li.where(col("l_orderkey") % 2 === 0)
    val b = li.where(col("l_orderkey") % 2 =!= 0)
    val whole = Hll.sketch(li, "l_returnflag", col("l_partkey"), Hll.P, xx)
      .orderBy(col("l_returnflag"), col("bucket"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSeq
    val merged = Hll.merge(
        Hll.sketch(a, "l_returnflag", col("l_partkey"), Hll.P, xx),
        Hll.sketch(b, "l_returnflag", col("l_partkey"), Hll.P, xx),
        "l_returnflag")
      .orderBy(col("l_returnflag"), col("bucket"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSeq
    assert(whole == merged, "xx-family merge is not exact")
    // the hash families genuinely differ (the xx path is not secretly
    // routing through md5)...
    val md5Regs = Hll.sketch(li, "l_returnflag", col("l_partkey"))
      .orderBy(col("l_returnflag"), col("bucket"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSeq
    assert(whole != md5Regs, "xx family produced md5's exact registers?")
    // ...and the DEFAULT (no hashFn argument) is still the md5 family —
    // every oracled catalog query's registers are bit-unchanged
    val viaDefault = Hll.sketch(li, "l_returnflag", col("l_partkey"))
    val viaExplicitMd5 = Hll.sketch(li, "l_returnflag", col("l_partkey"),
      Hll.P, graft.functions.Hash60.md5)
    assert(viaDefault.exceptAll(viaExplicitMd5).isEmpty &&
      viaExplicitMd5.exceptAll(viaDefault).isEmpty)
  }

  test("cms sketch memo evicts stale data versions: a regenerated dir " +
      "REPLACES its entry instead of accumulating one per fingerprint " +
      "(ADVICE r12)") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_cms_evict").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/documents.parquet"),
      java.nio.file.Paths.get(s"$tmp/documents.parquet"))
    val a = graft.queries.TextQueries.corpusTokenSketch(spark, tmp)
    def entriesFor(d: String): Map[String, String] =
      graft.queries.TextQueries.cmsSketchMemo.snapshot
        .filter(_._1.endsWith(d))
    val snap0 = entriesFor(tmp)
    assert(snap0.size == 1, s"expected one memo entry: $snap0")
    // regenerate the data version: same bytes, new mtime → new dataKey
    assert(new java.io.File(s"$tmp/documents.parquet")
      .setLastModified(System.currentTimeMillis() + 5000))
    val b = graft.queries.TextQueries.corpusTokenSketch(spark, tmp)
    val snap1 = entriesFor(tmp)
    assert(snap1.size == 1,
      s"regeneration ACCUMULATED a memo entry instead of replacing: " +
        s"$snap1 — the long-lived-driver leak ADVICE r12 named")
    assert(snap1.values.head != snap0.values.head,
      "the entry was not refreshed for the new data version")
    // same bytes → same cells: the refresh re-built, not served stale
    assert(b.cells == a.cells && b.familyTag == a.familyTag)
  }

  test("HLL: estimate is bit-identical under any input partitioning") {
    def run(parts: Int): Seq[(String, Long, Long)] =
      Hll.estimate(
          Hll.sketch(li.repartition(parts), "l_returnflag", col("l_partkey")),
          "l_returnflag", "approx_parts")
        .orderBy(col("l_returnflag"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(run(1) == run(7), "estimate depends on partitioning")
    assert(run(7) == run(32), "estimate depends on partitioning")
  }

  test("HLL: small-range linear-counting branch is accurate and engaged") {
    import spark.implicits._
    val n = 40
    val tiny = (1 to 500).map(i => ("k", s"v${i % n}")).toDF("k", "v")
    val regs = Hll.sketch(tiny, "k", col("v"))
    val present = regs.count()
    assert(present < Hll.M, "tiny input filled every register?")
    val est = Hll.estimate(regs, "k", "d").head().getLong(2)
    // linear counting at 40/256 occupancy is accurate to a few percent
    assert(math.abs(est - n) <= 5, s"linear-count estimate $est for $n distinct")
    // and it IS the linear-counting value, not the raw harmonic estimate
    val lc = math.round(Hll.M * math.log(Hll.M.toDouble / (Hll.M - present)))
    assert(est == lc, s"expected linear-counting $lc, got $est")
  }

  test("HLL: sketch size is bounded by m registers per key") {
    val regs = Hll.sketch(li, "l_returnflag", col("l_partkey"))
    val worst = regs.groupBy(col("l_returnflag")).count()
      .agg(max(col("count"))).head().getLong(0)
    assert(worst <= Hll.M, s"$worst register rows for one key")
  }

  // -------------------------------------------------- QuantileSketch

  private def cents = round(col("o_totalprice") * 100).cast("long")
  private lazy val orders = Tables.orders(spark, sf001)

  test("QuantileSketch: sketch of the union == bucket-wise merge") {
    val a = orders.where(col("o_orderkey") % 2 === 0)
    val b = orders.where(col("o_orderkey") % 2 =!= 0)
    val merged = QuantileSketch.merge(
        QuantileSketch.sketch(a, "o_orderpriority", cents),
        QuantileSketch.sketch(b, "o_orderpriority", cents), "o_orderpriority")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    val whole = QuantileSketch.sketch(orders, "o_orderpriority", cents)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(merged == whole, "merge is not exactly the union sketch")
  }

  test("QuantileSketch: relative error <= 2^-SigBits vs the exact " +
      "nearest-rank quantile, at every key and p") {
    val ps = Seq("p50" -> 0.5, "p95" -> 0.95)
    val sk = QuantileSketch.sketch(orders, "o_orderpriority", cents)
    val est = QuantileSketch.quantiles(sk, "o_orderpriority", 200.0, ps)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // exact nearest-rank (same ceil(p*n) convention) per key
    val byKey = orders.select(col("o_orderpriority"), cents.as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sorted }
    val tol = 1.0 / (1 << QuantileSketch.SigBits) // midpoint is within w/2
    byKey.foreach { case (k, sorted) =>
      val (e50, e95) = est(k)
      ps.zip(Seq(e50, e95)).foreach { case ((_, p), e) =>
        val rank = math.ceil(p * sorted.length).toInt
        val exact = sorted(rank - 1) / 100.0
        val relErr = math.abs(e - exact) / exact
        assert(relErr <= tol,
          s"$k p=$p sketch=$e exact=$exact relErr=$relErr > $tol")
      }
    }
  }

  test("QuantileSketch: quantiles are bit-identical under any partitioning") {
    def run(parts: Int): Seq[(String, Double, Double)] =
      QuantileSketch.quantiles(
          QuantileSketch.sketch(orders.repartition(parts), "o_orderpriority", cents),
          "o_orderpriority", 200.0, Seq("p50" -> 0.5, "p95" -> 0.95))
        .orderBy(col("o_orderpriority"))
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(run(1) == run(7), "quantiles depend on partitioning")
    assert(run(7) == run(32), "quantiles depend on partitioning")
  }

  test("QuantileSketch: values below 2^SigBits are represented exactly") {
    import spark.implicits._
    val small = (1 to 63).map(i => ("k", i.toLong)).toDF("k", "v")
    val sk = QuantileSketch.sketch(small, "k", col("v"))
    assert(sk.where(col("w") =!= 1L).count() == 0,
      "sub-2^SigBits values must land in width-1 buckets")
    // divisor 2.0: values are already in target units (scale factor 1)
    val p50 = QuantileSketch.quantiles(sk, "k", 2.0, Seq("p50" -> 0.5))
      .head().getDouble(1)
    assert(p50 == 32.0, s"exact-regime median should be exact, got $p50")
  }

  test("HLL pairwiseOverlap: driver-side algebra is row-identical to the " +
      "lazy DF form (null key + all-buckets-occupied case)") {
    import spark.implicits._
    // fixture: one key dense enough to occupy ALL m=256 registers (the
    // zeros==0 raw-estimate branch), two sparse keys (linear-counting
    // branch), and a NULL key — the DF form's key_a < key_b and its
    // equi-joins silently exclude null-key rows, and the driver form
    // must match exactly (ADVICE r18)
    val rows: Seq[(String, String)] =
      (1 to 4000).map(i => ("dense", s"v$i")) ++
        (1 to 500).map(i => ("mid", s"v$i")) ++
        (1 to 40).map(i => ("sparse", s"w$i")) ++
        (1 to 30).map(i => (null.asInstanceOf[String], s"v$i"))
    val df = rows.toDF("k", "v")
    // prove the fixture exercises the all-buckets-occupied branch
    val occupied = Hll.sketch(df.where(col("k") === "dense"), "k", col("v"))
      .count()
    assert(occupied == Hll.M.toLong,
      s"fixture occupies $occupied of ${Hll.M} registers - dense key " +
        "does not reach the zeros==0 branch")
    def snap(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).sorted.toSeq
    val eager = snap(Hll.pairwiseOverlap(df, "k", col("v")))
    // the DF algebra: the registers of a union are the max of its
    // parts' registers, so each pair's union sketch is the sketch of
    // the pair's rows under one key
    def est(rows: org.apache.spark.sql.DataFrame): Long =
      Hll.estimate(Hll.sketch(rows.withColumn("k", lit("u")), "k", col("v")),
        "k", "d").head().getLong(2)
    val keys = Seq("dense", "mid", "sparse")
    val single = keys.map(k => k -> est(df.where(col("k") === k))).toMap
    val dfForm = (for {
      (a, i) <- keys.zipWithIndex
      b <- keys.drop(i + 1)
    } yield {
      val u = est(df.where(col("k").isin(a, b)))
      (a, b, single(a), single(b), u, single(a) + single(b) - u)
    }).sorted
    assert(eager == dfForm,
      s"driver-side pairwiseOverlap diverges from the DF form:\n" +
        s"eager=$eager\ndf   =$dfForm")
    assert(eager.size == 3, s"expected 3 non-null pairs, got ${eager.size}")
    assert(eager.forall(t => t._1 != null && t._2 != null),
      "null key leaked into the pair output")
  }

  test("QuantileSketch: bounded bucket count per key") {
    val sk = QuantileSketch.sketch(orders, "o_orderpriority", cents)
    val worst = sk.groupBy(col("o_orderpriority")).count()
      .agg(max(col("count"))).head().getLong(0)
    // <= 2^(SigBits-1) buckets per power of two, ~64 powers max; cents
    // of TPC-H prices span ~2^24, so well under 32 * 24
    assert(worst <= (1 << (QuantileSketch.SigBits - 1)) * 64,
      s"$worst bucket rows for one key")
  }
}
