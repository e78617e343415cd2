package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Encoders, Row}

/** IVF list-scan kernel behind [[Ivf.searchBatch]] — the Faiss batch
  * shape: every inverted list is read once for ALL the queries that
  * probe it. Each index row is decoded into a primitive `float[]` once,
  * then meets its cell's query block in one loop, and each query keeps
  * a bounded best-first buffer. A scan task therefore emits at most k
  * rows per query it touched, instead of one row per probed (query,
  * index row) pair; [[TopNByKey]] merges the per-task buffers.
  *
  * Distance contract: `(double) x_i − (double) q_i`, squared, summed
  * left to right — the fold [[graft.functions.SquaredL2]]'s codegen runs,
  * so every distance is bitwise the DuckDB oracle's
  * ([[graft.queries.OracleGen.l2Sql]]). A NULL or ragged
  * embedding, or one with a NULL element, has a NULL distance, exactly
  * as `SquaredL2` yields. Rank order is [[TopNByKey]]'s:
  * `java.lang.Double.compare` on distance (NaN after every number),
  * NULL distances last, ties by smaller id.
  */
object ListScan {

  /** The per-cell query lists shipped to every scan task, in CSR form:
    * the queries probing cell `c` are
    * `queryIdx(cellStart(c) until cellStart(c + 1))` (ascending), and
    * query `i`'s vector is `vectors(i·dim until (i + 1)·dim)`.
    */
  private[operators] final class QueryBlock(val dim: Int,
      val cellStart: Array[Int], val queryIdx: Array[Int],
      val queryIds: Array[Long], val vectors: Array[Float])
      extends Serializable {
    def numCells: Int = cellStart.length - 1
  }

  /** Inverts per-query probe lists (`probes(i)` = the cells query `i`
    * probes) into the per-cell [[QueryBlock]] over `numCells` cells.
    */
  private[operators] def queryBlock(queries: Array[(Long, Array[Float])],
      probes: Array[Array[Int]], numCells: Int, dim: Int): QueryBlock = {
    val cellStart = new Array[Int](numCells + 1)
    probes.foreach(_.foreach(c => cellStart(c + 1) += 1))
    var c = 0
    while (c < numCells) { cellStart(c + 1) += cellStart(c); c += 1 }
    val next = java.util.Arrays.copyOf(cellStart, numCells)
    val queryIdx = new Array[Int](cellStart(numCells))
    var qi = 0
    while (qi < probes.length) {
      probes(qi).foreach { c => queryIdx(next(c)) = qi; next(c) += 1 }
      qi += 1
    }
    val vectors = new Array[Float](queries.length * dim)
    qi = 0
    while (qi < queries.length) {
      System.arraycopy(queries(qi)._2, 0, vectors, qi * dim, dim)
      qi += 1
    }
    new QueryBlock(dim, cellStart, queryIdx, queries.map(_._1), vectors)
  }

  /** One kept candidate of the kernel's output. */
  final case class Hit(query_id: Long, cand_id: Long,
      distance: Option[Double])

  /** Runs the kernel over `rows` = (centroid_id: int, id: long,
    * embedding: array<float>). Returns (query_id, cand_id, distance),
    * at most `k` rows per query per partition; rows of cells no query
    * probes are skipped.
    */
  private[operators] def scan(rows: DataFrame, block: Broadcast[QueryBlock],
      k: Int): DataFrame =
    rows.mapPartitions(it => kernel(it, block.value, k))(Encoders.product[Hit])
      .toDF()

  private def kernel(rows: Iterator[Row], b: QueryBlock,
      k: Int): Iterator[Hit] = {
    val best = new Array[Best](b.queryIds.length)
    val touched = new Array[Int](b.queryIds.length)
    var nTouched = 0
    val dim = b.dim
    val x = new Array[Float](dim)
    while (rows.hasNext) {
      val r = rows.next()
      if (!r.isNullAt(0)) {
        val c = r.getInt(0)
        if (c >= 0 && c < b.numCells && b.cellStart(c) < b.cellStart(c + 1)) {
          val id = r.getLong(1)
          val valid = decode(r, x)
          var j = b.cellStart(c)
          while (j < b.cellStart(c + 1)) {
            val qi = b.queryIdx(j)
            var buf = best(qi)
            if (buf == null) {
              buf = new Best(k)
              best(qi) = buf
              touched(nTouched) = qi
              nTouched += 1
            }
            if (valid)
              buf.offer(squaredL2(x, b.vectors, qi * dim), isNull = false, id)
            else buf.offer(0.0, isNull = true, id)
            j += 1
          }
        }
      }
    }
    touched.iterator.take(nTouched).flatMap { qi =>
      val buf = best(qi)
      val qid = b.queryIds(qi)
      Iterator.range(0, buf.size).map { i =>
        Hit(qid, buf.ids(i), if (buf.nulls(i)) None else Some(buf.dists(i)))
      }
    }
  }

  /** Reads column 2 into `x`; false when the embedding is NULL, has a
    * NULL element, or its length is not the query dimension — the
    * inputs `SquaredL2` maps to a NULL distance.
    */
  private def decode(r: Row, x: Array[Float]): Boolean = {
    if (r.isNullAt(2)) return false
    val s = r.getSeq[Any](2)
    if (s.length != x.length) return false
    var i = 0
    while (i < x.length) {
      val v = s(i)
      if (v == null) return false
      x(i) = v.asInstanceOf[Float]
      i += 1
    }
    true
  }

  /** `SquaredL2`'s fold of `x` against `q(off until off + x.length)`. */
  private def squaredL2(x: Array[Float], q: Array[Float], off: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < x.length) {
      val d = x(i).toDouble - q(off + i).toDouble
      s += d * d
      i += 1
    }
    s
  }

  /** Best-first bounded buffer of (distance, id) for one query, kept in
    * [[TopNByKey]]'s rank order with the same insert rule: below
    * capacity every candidate is placed, at capacity only one that ranks
    * strictly better than the current last. Storage starts small and
    * doubles up to `k`, so a task pays for the queries it touches.
    */
  private final class Best(k: Int) {
    var size = 0
    var dists = new Array[Double](math.min(k, 16))
    var nulls = new Array[Boolean](dists.length)
    var ids = new Array[Long](dists.length)

    /** Whether (d, n, id) ranks strictly before slot `i`. */
    private def before(d: Double, n: Boolean, id: Long, i: Int): Boolean =
      if (n != nulls(i)) !n
      else if (n) id < ids(i)
      else {
        val c = java.lang.Double.compare(d, dists(i))
        if (c != 0) c < 0 else id < ids(i)
      }

    def offer(d: Double, isNull: Boolean, id: Long): Unit = {
      if (size == k) {
        if (!before(d, isNull, id, size - 1)) return
        size -= 1
      } else if (size == dists.length) {
        val cap = math.min(k, size * 2)
        dists = java.util.Arrays.copyOf(dists, cap)
        nulls = java.util.Arrays.copyOf(nulls, cap)
        ids = java.util.Arrays.copyOf(ids, cap)
      }
      // first slot the candidate ranks before (after every equal one)
      var lo = 0
      var hi = size
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (before(d, isNull, id, mid)) hi = mid else lo = mid + 1
      }
      System.arraycopy(dists, lo, dists, lo + 1, size - lo)
      System.arraycopy(nulls, lo, nulls, lo + 1, size - lo)
      System.arraycopy(ids, lo, ids, lo + 1, size - lo)
      dists(lo) = d
      nulls(lo) = isNull
      ids(lo) = id
      size += 1
    }
  }
}
