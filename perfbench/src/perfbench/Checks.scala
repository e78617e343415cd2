package perfbench

import Truth.Hit

/** Answer checks. Each returns the list of problems it found; an empty
  * list passes. An operation whose answer draws any problem counts as
  * failed.
  */
object Checks {

  private def ordered(a: Hit, b: Hit): Boolean =
    a.distance < b.distance || (a.distance == b.distance && a.id < b.id)

  /** A top-k answer: `k` rows (fewer only when fewer vectors are live),
    * ranks 1..k, strictly ascending by (distance, id), no repeated id.
    */
  def topK(what: String, hits: Array[Hit], k: Int, live: Long): Seq[String] = {
    val want = math.min(k.toLong, live).toInt
    val errs = Seq.newBuilder[String]
    if (hits.length != want)
      errs += s"$what: ${hits.length} rows, want $want"
    if (!hits.indices.forall(i => hits(i).rank == i + 1))
      errs += s"$what: ranks ${hits.map(_.rank).mkString(",")} are not 1..${hits.length}"
    if (!hits.indices.drop(1).forall(i => ordered(hits(i - 1), hits(i))))
      errs += s"$what: not ascending by (distance, id)"
    if (hits.map(_.id).distinct.length != hits.length)
      errs += s"$what: repeated id"
    errs.result()
  }

  /** Every returned distance is the exact distance of the returned id. */
  def distances(what: String, hits: Array[Hit], q: Array[Float],
      vector: Long => Option[Array[Float]]): Seq[String] =
    hits.toSeq.flatMap { h =>
      vector(h.id) match {
        case None => Some(s"$what: id ${h.id} is not a live vector")
        case Some(v) =>
          val d = Truth.sqL2(v, q)
          if (d == h.distance) None
          else Some(s"$what: id ${h.id} distance ${h.distance}, exact $d")
      }
    }

  /** The answer equals the brute-force answer: ids and distances. */
  def equalsTruth(what: String, hits: Array[Hit], truth: Array[Hit]): Seq[String] =
    if (hits.sameElements(truth)) Nil
    else Seq(s"$what: ${hits.map(_.id).mkString(",")} != brute force " +
      truth.map(_.id).mkString(","))

  /** Every expected id appears exactly once, and nothing else. */
  def idsOnce(what: String, ids: Array[Long], expected: Array[Long]): Seq[String] = {
    val counts = ids.groupBy(identity).view.mapValues(_.length).toMap
    val dup = counts.count(_._2 > 1)
    val missing = expected.count(id => !counts.contains(id))
    val extra = counts.keySet.size - expected.count(counts.contains)
    if (dup + missing + extra == 0) Nil
    else Seq(s"$what: $dup repeated, $missing missing, $extra unexpected ids")
  }

  def noneDeleted(what: String, hits: Array[Hit],
      deleted: scala.collection.Set[Long]): Seq[String] =
    hits.filter(h => deleted.contains(h.id)).toSeq
      .map(h => s"$what: returned deleted id ${h.id}")

  def count(what: String, actual: Long, expected: Long): Seq[String] =
    if (actual == expected) Nil else Seq(s"$what: $actual, want $expected")

  def sameAnswers(what: String, before: Array[Array[Hit]],
      after: Array[Array[Hit]]): Seq[String] = {
    val diff = before.indices.count(i => !before(i).sameElements(after(i)))
    if (before.length == after.length && diff == 0) Nil
    else Seq(s"$what: $diff of ${before.length} answers changed")
  }

  /** MinHash pairs: a_id < b_id, no repeats, and the exact Jaccard that
    * the benchmark recomputes is at or above the threshold and equals
    * the reported one.
    */
  def pairs(what: String, pairs: Array[(Long, Long, Double)],
      shingles: Long => Set[String], threshold: Double): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (pairs.exists(p => p._1 >= p._2)) errs += s"$what: pair with a_id >= b_id"
    if (pairs.map(p => (p._1, p._2)).distinct.length != pairs.length)
      errs += s"$what: repeated pair"
    pairs.foreach { case (a, b, j) =>
      val exact = Truth.jaccard(shingles(a), shingles(b))
      if (exact < threshold)
        errs += s"$what: ($a, $b) exact Jaccard $exact < $threshold"
      else if (math.abs(exact - j) > 1e-12)
        errs += s"$what: ($a, $b) reported Jaccard $j, exact $exact"
    }
    errs.result()
  }

  /** Clusters: both ends of every pair share a cluster, each cluster id
    * is its smallest member, and the canonical member is that id.
    */
  def clusters(what: String, rows: Array[(Long, Long, Boolean)],
      pairs: Array[(Long, Long, Double)]): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val of = rows.map(r => r._1 -> r._2).toMap
    if (of.size != rows.length) errs += s"$what: id in two clusters"
    if (pairs.exists(p => of.get(p._1).isEmpty || of.get(p._1) != of.get(p._2)))
      errs += s"$what: a verified pair spans two clusters"
    rows.groupBy(_._2).foreach { case (cid, members) =>
      if (members.map(_._1).min != cid)
        errs += s"$what: cluster $cid is not its smallest member"
      if (!members.forall(m => m._3 == (m._1 == cid)))
        errs += s"$what: cluster $cid canonical flag wrong"
    }
    errs.result()
  }
}
