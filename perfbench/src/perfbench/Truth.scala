package perfbench

/** Ground truth computed by the benchmark itself, never by the engine:
  * exact top-k by brute force, and exact shingle Jaccard.
  */
object Truth {

  /** One ranked answer row: rank is 1-based. */
  final case class Hit(rank: Int, id: Long, distance: Double)

  /** Squared L2 with the engine's documented arithmetic: per-coordinate
    * float → double difference, summed in coordinate order. Results
    * compare bitwise with the engine's `SquaredL2`.
    */
  def sqL2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var j = 0
    while (j < a.length) {
      val d = a(j).toDouble - b(j).toDouble
      s += d * d
      j += 1
    }
    s
  }

  /** Exact top-k of `q` over (ids, vecs), ordered by (distance, id). */
  def topK(ids: Array[Long], vecs: Array[Array[Float]], q: Array[Float],
      k: Int): Array[Hit] = {
    // bounded max-heap on (distance, id): the root is the worst kept hit
    val heap = new java.util.PriorityQueue[(Double, Long)](k + 1,
      (x: (Double, Long), y: (Double, Long)) => {
        val c = java.lang.Double.compare(y._1, x._1)
        if (c != 0) c else java.lang.Long.compare(y._2, x._2)
      })
    var i = 0
    while (i < ids.length) {
      val d = sqL2(vecs(i), q)
      if (heap.size < k) heap.add((d, ids(i)))
      else {
        val w = heap.peek()
        if (d < w._1 || (d == w._1 && ids(i) < w._2)) {
          heap.poll(); heap.add((d, ids(i)))
        }
      }
      i += 1
    }
    heap.toArray(new Array[(Double, Long)](0))
      .sortWith((x, y) => x._1 < y._1 || (x._1 == y._1 && x._2 < y._2))
      .zipWithIndex.map { case ((d, id), r) => Hit(r + 1, id, d) }
  }

  /** [[topK]] for many queries, spread over the available cores. */
  def topKAll(ids: Array[Long], vecs: Array[Array[Float]],
      queries: Array[Array[Float]], k: Int): Array[Array[Hit]] = {
    val out = new Array[Array[Hit]](queries.length)
    java.util.stream.IntStream.range(0, queries.length).parallel()
      .forEach(i => out(i) = topK(ids, vecs, queries(i), k))
    out
  }

  /** Recall@rank in the reference's sense: the share of queries whose
    * true nearest neighbour is among the first `rank` answers.
    */
  def recallAt(truth: Array[Array[Hit]], answers: Array[Array[Hit]],
      rank: Int): Double = {
    val found = truth.indices.count { i =>
      answers(i).iterator.take(rank).exists(_.id == truth(i)(0).id)
    }
    found.toDouble / truth.length
  }

  /** The engine's shingle set (MinHashLsh.shingles): distinct k-token
    * shingles joined by a space; a document shorter than k is one
    * whole-document shingle.
    */
  def shingles(toks: Array[String], k: Int): Set[String] =
    if (toks.length >= k) toks.sliding(k).map(_.mkString(" ")).toSet
    else Set(toks.mkString(" "))

  def jaccard(a: Set[String], b: Set[String]): Double =
    (a intersect b).size.toDouble / (a union b).size
}
