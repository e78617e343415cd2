package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components — the step a dedup pipeline runs after near-dup
  * pair generation (MinHash/SimHash) to turn pairwise matches into
  * "keep one document per cluster" sets.
  *
  * Two paths behind one `resolve` entry point: driver union-find for
  * small pair graphs (the realistic post-verification case — running
  * distributed rounds on a few hundred edges is pure job overhead) and
  * the alternating large-star/small-star algorithm (Kiveris et al.,
  * SoCC 2014) for graphs too big to collect, which converges in
  * O(log²) rounds regardless of graph shape. `localCheckpoint`
  * truncates the iterative lineage — iterative plans otherwise grow
  * exponentially in the optimizer; on a real cluster use `checkpoint`
  * with a reliable checkpoint dir instead (survives executor loss).
  */
object ConnectedComponents {

  /** Components over an undirected edge list — size-adaptive dispatch.
    * A verified near-dup pair graph is a small fraction of the corpus;
    * below `localEdgeCap` edges (default 4M ≈ 64 MB of longs) driver
    * union-find finishes in milliseconds where distributed label
    * propagation pays seconds of per-round job overhead. Above the cap
    * — the genuine 100 TB case — it dispatches to the distributed
    * propagation in `run`. Both return `(id: long, cluster_id: long)`.
    */
  def resolve(edges: DataFrame, aCol: String, bCol: String,
      localEdgeCap: Long = 1L << 22): DataFrame = {
    // degraded edges are normalized ONCE, before dispatch, so both
    // paths agree: null ids (incl. failed casts) and self-loops are
    // dropped — a node with only self-loops has no real edge and does
    // not appear in the output, exactly the distributed path's
    // star-fixpoint semantics (runLocal would otherwise emit (a,a)
    // for it and NPE on nulls)
    val e = edges
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .persist()
    val out =
      if (e.count() <= localEdgeCap) runLocal(e)
      else run(e, "src", "dst")
    e.unpersist(blocking = false)
    out
  }

  /** Driver union-find (path halving + union by min). */
  private def runLocal(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val pairs = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x))
        x = parent(x)
      }
      x
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        val (lo, hi) = if (ra < rb) (ra, rb) else (rb, ra)
        parent(hi) = lo
      }
    }
    // snapshot the key set before resolving: find() path-halves (mutates
    // values) and iterating a live mutable-map view while mutating is
    // implementation-defined
    val nodes = parent.keys.toArray
    nodes.toSeq.map(v => (v, find(v))).toDF("id", "cluster_id")
  }

  /** Distributed components via alternating large-star/small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014) — the >localEdgeCap path. Converges in O(log²) rounds
    * for ANY graph shape (a min-label-propagation round count is the
    * graph diameter, which a 100 TB adversarial chain can make
    * arbitrary). Each round is two [groupBy-min + co-partitioned join]
    * passes over the edge list and a `localCheckpoint` to truncate the
    * iterative lineage; `min` is partial-aggregatable so hub nodes
    * don't skew the aggregation, and AQE splits the join side of a hub
    * if needed.
    *
    * Edges are kept in canonical (hi, lo) orientation; at the fixpoint
    * the edge set is a union of stars centered at each component's
    * minimum id, which is exactly the label table.
    */
  def run(edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25): DataFrame = {
    // order-insensitive set checksum (rows are distinct): XOR of row
    // hashes — no overflow under ANSI arithmetic, unlike sum
    def checksum(df: DataFrame): Long =
      df.agg(expr("bit_xor(xxhash64(hi, lo))")).head() match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }
    var cur = edges
      .select(
        greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("hi"),
        least(col(aCol).cast("long"), col(bCol).cast("long")).as("lo"))
      .where(col("hi") =!= col("lo"))
      .distinct()
      .localCheckpoint()
    var curCount = cur.count()
    var curSum = checksum(cur)
    var converged = curCount == 0L
    var iter = 0
    while (!converged && iter < maxIter) {
      // large-star: every node v strictly greater than a neighbor u
      // attaches to m(u) = min(Γ(u) ∪ {u})
      val sym = cur.select(col("hi").as("u"), col("lo").as("v"))
        .union(cur.select(col("lo").as("u"), col("hi").as("v")))
      val lmins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val ls = sym.join(lmins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo")) // v > u ≥ m
        .where(col("hi") =!= col("lo"))
        .distinct()
      // small-star: all smaller neighbors of hi (plus hi itself)
      // attach to m(hi) = min of hi's smaller neighborhood
      val smins = ls.groupBy(col("hi")).agg(min(col("lo")).as("m"))
      val next = ls.join(smins, "hi")
        .where(col("lo") =!= col("m"))
        .select(col("lo").as("a"), col("m").as("b"))
        .select(greatest(col("a"), col("b")).as("hi"),
          least(col("a"), col("b")).as("lo"))
        .union(smins.select(col("hi"), col("m").as("lo")))
        .where(col("hi") =!= col("lo"))
        .distinct()
        .localCheckpoint()
      val nCount = next.count()
      val nSum = checksum(next)
      // the (count, xor-checksum) pair is the cheap per-round signal;
      // apparent convergence is CONFIRMED with an exact set difference
      // (runs once, at the fixpoint round) so a checksum collision can
      // never end the loop early with non-star edges as labels
      converged = nCount == curCount && nSum == curSum &&
        next.exceptAll(cur).isEmpty
      val prev = cur
      cur = next; curCount = nCount; curSum = nSum
      // superseded checkpoint blocks are freed explicitly — next is
      // already materialized (eager localCheckpoint), so at most two
      // edge-set copies ever coexist instead of one per round
      prev.unpersist(blocking = false)
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge in $maxIter star rounds")
    cur.select(col("hi").as("id"), col("lo").as("cluster_id"))
      .union(cur.select(col("lo").as("id"), col("lo").as("cluster_id")))
      .distinct()
  }
}
