package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Vec

/** IVF-SQ8: the faiss `IndexIVFScalarQuantizer` architecture — IVF
  * partition pruning over an int8-quantized copy of the vectors
  * ([[Quantize]]'s symmetric per-vector scheme, 4×). The middle point of
  * the compression/recall tradeoff between IVF-Flat (1×, exact within
  * probed cells) and IVF-PQ (32×, codebook error): SQ8 keeps per-
  * dimension resolution, so recall at equal probe budget is near-flat
  * while the probed bytes shrink 4×.
  *
  * Same dataset contract as [[IvfPq]]: the coded sibling keeps the
  * `shard_id` directory layout and `centroid_id` row-group clustering of
  * the float dataset, so probe pruning works unchanged. Search is
  * asymmetric (float query vs dequantized rows) — dequantize + distance
  * are column expressions inside whole-stage codegen, no UDF anywhere.
  */
object IvfSq {

  /** Write the int8-coded sibling dataset of an IVF index. Reads the
    * LIVE view (tombstones filtered) so a rebuild never resurrects
    * deleted rows regardless of where in the delete lifecycle it runs.
    */
  def buildCodes(spark: SparkSession, ivf: Ivf.Index, outPath: String): Unit =
    Ivf.writeSibling(spark, ivf, outPath, Seq("q_scale", "q_emb"))(
      Quantize.withInt8(_, ivf.embCol))

  /** Top-k over the int8-coded dataset: probe-pruned scan → dequantize →
    * squared-L2 → TakeOrderedAndProject.
    */
  def search(spark: SparkSession, ivf: Ivf.Index, codesPath: String,
      query: Array[Float], k0: Int, nProbe0: Int): DataFrame = {
    val k = Ivf.clampK(ivf, k0)
    val p = Ivf.prelude(ivf, query, nProbe0)
    Ivf.rankTopK(p.scan(spark, codesPath)
      // fused dequantize+distance (SqCodesL2, codegen) — bitwise equal
      // to Vec.squaredL2(Quantize.dequantize(q_emb, q_scale), query)
      // but one compiled pass per candidate instead of an interpreted
      // HOF transform (QuantizeSpec parity gate; the D=768 cell
      // measured the HOF form at 5.9× the floor)
      .withColumn("distance",
        Quantize.codesL2(col("q_emb"), col("q_scale"), lit(query))),
      p.id, k)
  }
}
