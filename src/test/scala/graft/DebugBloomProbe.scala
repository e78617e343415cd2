package graft

import org.apache.spark.sql.functions._

/** A/B of the Bloom membership probe forms over a large probe side:
  * the codegen [[graft.functions.BloomProbe]] expression vs the
  * previous ScalaUDF, long and string keys, identical filters and
  * identical match counts asserted. The probe is the per-row cost on
  * the 100 TB side of a Bloom semi/anti join, so per-row overhead here
  * multiplies by the corpus.
  *
  * Usage: runMain graft.DebugBloomProbe [nLong] [nString] [cpus]
  */
object DebugBloomProbe {
  def main(args: Array[String]): Unit = {
    val nLong = if (args.length > 0) args(0).toLong else 50000000L
    val nStr = if (args.length > 1) args(1).toLong else 10000000L
    val cpus = if (args.length > 2) args(2).toInt else 16
    val spark = GraftSession.local(cpus)

    // 1M-key filter (the broadcast-friendly build side), 1% fpp; probe
    // side keyed so ~2% of rows are true members
    val keys = spark.range(1000000L).select((col("id") * 50L).as("k"))
    val bfLong = graft.operators.BloomJoin.build(keys, "k", 1000000L)
    val keysS = spark.range(1000000L)
      .select(concat(lit("key_"), col("id") * 50L).as("k"))
    val bfStr = graft.operators.BloomJoin.build(keysS, "k", 1000000L)

    def time(label: String)(f: => Long): Long = {
      var n = -1L
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        n = f
        println(f"TIME $label%-28s run$i ${(System.nanoTime() - t0) / 1e9}%6.2f s matches=$n")
      }
      n
    }

    val longs = spark.range(nLong).select(col("id").as("k"))
    val a1 = time("long expr probe") {
      longs.where(graft.operators.BloomJoin.mightContain(longs, "k", bfLong)).count()
    }
    val a2 = time("long udf probe") {
      longs.where(graft.operators.BloomJoin.mightContainUdf(longs, "k", bfLong)).count()
    }
    assert(a1 == a2, s"long probe forms disagree: $a1 vs $a2")

    val strs = spark.range(nStr).select(concat(lit("key_"), col("id")).as("k"))
    val b1 = time("string expr probe") {
      strs.where(graft.operators.BloomJoin.mightContain(strs, "k", bfStr)).count()
    }
    val b2 = time("string udf probe") {
      strs.where(graft.operators.BloomJoin.mightContainUdf(strs, "k", bfStr)).count()
    }
    assert(b1 == b2, s"string probe forms disagree: $b1 vs $b2")

    // baseline: the scan+count without any probe, to size the probe's
    // marginal cost rather than the scan's
    time("long scan baseline") { longs.count() }
    time("string scan baseline") { strs.count() }
    spark.stop()
  }
}
