package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Hll, QuantileSketch}

/** Measures the sketch-vs-exact gap at scale (SCALE.md): exact
  * countDistinct / percentile shuffle or hold every row, the sketches
  * shuffle O(registers) after map-side combine. Synthetic input with
  * KNOWN per-key distinct counts (value = id/8: each key sees each
  * value exactly once) so accuracy is measured against ground truth,
  * not another engine run.
  */
object DebugSketchScale {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 50000000L
    // heap comes from build.sbt javaOptions (SPARK_DRIVER_MEM, 8g
    // default) — spark.driver.memory is a no-op in an already-forked
    // local-mode JVM
    val spark = GraftSession.local(16)

    val df = spark.range(n).select(
        (col("id") % 8).as("k"),
        (col("id") / 8).as("dv"),
        (pmod(xxhash64(col("id")), lit(10000000L)) + 1).as("qv"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    df.count() // materialize outside the timers

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"TIME $label%-34s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    val exactPerKey = n / 8.0
    val exact = time("exact countDistinct") {
      df.groupBy("k").agg(countDistinct("dv").as("d")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val hll = time("Hll sketch+estimate") {
      Hll.estimate(Hll.sketch(df, "k", col("dv")), "k", "d").collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
    }
    val hllXx = time("Hll sketch+estimate (xxhash64)") {
      Hll.estimate(
          Hll.sketch(df, "k", col("dv"), Hll.P, graft.functions.Hash60.xx),
          "k", "d").collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
    }
    val builtin = time("builtin approx_count_distinct") {
      df.groupBy("k").agg(approx_count_distinct("dv").as("d")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    exact.toSeq.sortBy(_._1).foreach { case (k, ex) =>
      val relH = (hll(k) - ex).abs / ex.toDouble
      val relX = (hllXx(k) - ex).abs / ex.toDouble
      val relB = (builtin(k) - ex).abs / ex.toDouble
      println(f"DISTINCT k=$k exact=$ex (expect ${exactPerKey}%.0f) " +
        f"hll=${hll(k)} (err ${relH * 100}%.1f%%) " +
        f"hllXx=${hllXx(k)} (err ${relX * 100}%.1f%%) " +
        f"builtin=${builtin(k)} (err ${relB * 100}%.1f%%)")
    }

    // full-N timing: sketch vs builtin approx_percentile. Exact
    // `percentile` buffers EVERY value per group — at 50M rows it blows
    // the 8g heap (the failure mode the sketch exists to remove), so
    // the exact ground truth runs on a capped subset below.
    val skQ = time("QuantileSketch p50/p95 (full N)") {
      QuantileSketch.quantiles(
          QuantileSketch.sketch(df, "k", col("qv")),
          "k", 2.0, Seq("p50" -> 0.5, "p95" -> 0.95)).collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    }
    time("builtin approx_percentile (full N)") {
      df.groupBy("k").agg(
        expr("approx_percentile(qv, array(0.5, 0.95))").as("ps")).collect()
    }
    val nExact = math.min(n, 10000000L)
    val sub = df.where(col("id") < nExact)
    val exactQ = time(s"exact percentile p50/p95 (N=$nExact)") {
      sub.groupBy("k").agg(
          expr("percentile(qv, 0.5)").as("p50"),
          expr("percentile(qv, 0.95)").as("p95")).collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    }
    val skQSub = time(s"QuantileSketch p50/p95 (N=$nExact)") {
      QuantileSketch.quantiles(
          QuantileSketch.sketch(sub, "k", col("qv")),
          "k", 2.0, Seq("p50" -> 0.5, "p95" -> 0.95)).collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    }
    exactQ.toSeq.sortBy(_._1).foreach { case (k, (e50, e95)) =>
      val (s50, s95) = skQSub(k)
      println(f"QUANTILE k=$k p50 exact=$e50%.1f sketch=$s50%.1f " +
        f"(err ${(s50 - e50).abs / e50 * 100}%.2f%%) " +
        f"p95 exact=$e95%.1f sketch=$s95%.1f " +
        f"(err ${(s95 - e95).abs / e95 * 100}%.2f%%)")
    }
    skQ.toSeq.sortBy(_._1).take(2).foreach { case (k, (s50, s95)) =>
      println(f"QUANTILE_FULL k=$k p50=$s50%.1f p95=$s95%.1f " +
        "(uniform(1,1e7): expect ~5e6 / ~9.5e6)")
    }

    // CMS build under both salted families — the sketch is the same
    // ≤ depth×width cells; the delta is pure per-row hash cost
    // (md5Salted materializes a "seed:key" string per hash row,
    // xxSalted hashes (seed, key) natively)
    import graft.operators.CountMin
    time("CountMin build (md5Salted)") {
      CountMin.build(df, "dv", depth = 4, width = 1024).count()
    }
    time("CountMin build (xxSalted)") {
      CountMin.build(df, "dv", depth = 4, width = 1024,
        graft.functions.Hash60.xxSalted).count()
    }

    val regRows = Hll.sketch(df, "k", col("dv")).count()
    val bucketRows = QuantileSketch.sketch(df, "k", col("qv")).count()
    println(s"SIZE input=$n rows -> hll registers=$regRows, " +
      s"quantile buckets=$bucketRows")
    spark.stop()
  }
}
