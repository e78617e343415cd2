package graft.operators

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** k-means++ init + exact Lloyd — the stand-in for the reference engine's
  * mini-batch trainer
  * (`/root/reference/src/kmeans.rs`), re-architected for Spark.
  *
  * Algorithm semantics preserved (public knowledge: Lloyd 1982; Arthur &
  * Vassilvitskii, k-means++, SODA 2007; Sculley, web-scale k-means, WWW
  * 2010), with the reference's exact heuristics:
  *   - cluster count `√n | 2⌈√n⌉ | 4⌈√n⌉` by n (`src/utils.rs:9-16`)
  *   - iteration budget 300/100/50/20 by n (`src/utils.rs:18-26`)
  *   - k-means++ init over a ≤50k sample (`src/kmeans.rs:154-164`)
  *   - RMS centroid-delta early stop < 1e-4 (`src/kmeans.rs:22,133-141`)
  *   - hierarchical 2-level assignment when k > 100: meta_k =
  *     clamp(√k, 2, k/2), probe top-3 meta-centroids (`src/kmeans.rs:474-581`)
  *
  * Spark re-architecture (the deliberate divergence, documented): the
  * reference draws each 256-row mini-batch from the FULL dataset. On a
  * 100 TB table that is one full scan per iteration — 50+ scans to read
  * 12 KB of useful data. Instead we take ONE seeded distributed sample
  * (cap `poolCap` = 50k rows, the same cap the reference applies to its
  * k-means++ init) and train driver-side over that pool with exact
  * Lloyd in place of the mini-batch loop (why: [[trainDriver]]).
  * Training cost becomes independent of table size; only the single
  * sampling scan and the final assignment pass touch all data. The
  * reference's own quality gates (inertia ratios, recall floors) are
  * what we re-assert in tests.
  */
object KMeans {

  /** nlist heuristic — exact parity with `src/utils.rs:9-16`. */
  def numClusters(n: Long): Int = {
    val sq = math.sqrt(n.toDouble)
    if (n < 10000L) math.max(1, sq.toInt)
    else if (n < 100000L) 2 * math.ceil(sq).toInt
    else 4 * math.ceil(sq).toInt
  }

  /** Iteration budget — exact parity with `src/utils.rs:18-26`. */
  def maxIterations(n: Long): Int =
    if (n < 10000L) 300 else if (n < 100000L) 100 else if (n < 1000000L) 50 else 20

  val ConvergenceThreshold = 1e-4 // src/kmeans.rs:22
  val InitSampleCap = 50000       // src/kmeans.rs:158-160
  val HierarchicalThreshold = 100 // src/kmeans.rs:454

  final case class Model(centroids: Array[Array[Float]]) {
    def k: Int = centroids.length
    def dim: Int = if (centroids.isEmpty) 0 else centroids(0).length
  }

  // ---------------------------------------------------------------- kernels

  /** Squared L2 in double over float arrays — matches graft.functions.Vec. */
  def sqDist(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    val n = a.length
    while (i < n) {
      val d = a(i).toDouble - b(i).toDouble
      s += d * d
      i += 1
    }
    s
  }

  /** sqDist with early abandon (Faiss-style partial-distance pruning):
    * exact squared distance when it is < `bound`; otherwise bails at a
    * 16-dim block boundary and returns the partial sum (>= bound).
    * Block-wise checks keep the inner loop branch-free/vectorizable.
    * Any caller comparing the result against `bound` (argmin, min-dist
    * maintenance) gets bitwise-identical outcomes to the full distance.
    */
  def sqDistBounded(a: Array[Float], b: Array[Float], bound: Double): Double = {
    val n = a.length
    var s = 0.0
    var i = 0
    while (i < n) {
      val end = math.min(i + 16, n)
      while (i < end) {
        val d = a(i).toDouble - b(i).toDouble
        s += d * d
        i += 1
      }
      if (s >= bound) return s
    }
    s
  }

  /** Exact all-points assignment with point-tile × centroid-stream
    * blocking: within each 128-point tile the loop is centroid-outer /
    * point-inner, so the k×dim centroid matrix is streamed once per
    * TILE instead of once per point — memory traffic drops from
    * O(n·k·dim) to O(n·k·dim/tile) and the hot tile stays L2-resident.
    * Each point still meets candidates in ascending centroid order with
    * the same early-abandon bound, so labels are bitwise-identical to a
    * per-point nearest() scan. Tiles run in parallel (disjoint slots).
    */
  private def assignAllBlocked(pool: Array[Array[Float]],
      cs: Array[Array[Float]], labels: Array[Int]): Unit = {
    val n = pool.length
    val tile = 128
    val nTiles = (n + tile - 1) / tile
    java.util.stream.IntStream.range(0, nTiles).parallel().forEach { t =>
      val lo = t * tile
      val hi = math.min(lo + tile, n)
      val bd = new Array[Double](hi - lo)
      java.util.Arrays.fill(bd, Double.MaxValue)
      var c = 0
      while (c < cs.length) {
        val cv = cs(c)
        var i = lo
        while (i < hi) {
          val d = sqDistBounded(pool(i), cv, bd(i - lo))
          if (d < bd(i - lo)) { bd(i - lo) = d; labels(i) = c }
          i += 1
        }
        c += 1
      }
    }
  }

  /** Argmin over centroids: (bestIdx, bestDist). Early-abandons each
    * candidate at the current best — exact same (idx, dist) as the
    * unpruned scan (a pruned candidate is >= best, so it never wins,
    * and ties already kept the first index).
    */
  def nearest(p: Array[Float], cs: Array[Array[Float]]): (Int, Double) = {
    var bi = 0
    var bd = Double.MaxValue
    var i = 0
    while (i < cs.length) {
      val d = sqDistBounded(p, cs(i), bd)
      if (d < bd) { bd = d; bi = i }
      i += 1
    }
    (bi, bd)
  }

  /** Two-level assignment for large k (`src/kmeans.rs:474-581`): cluster
    * the centroids into meta_k groups once, then per point search only the
    * members of the top-`metaProbe` meta-centroids — O(√k) per point.
    */
  final class HierarchicalAssigner(
      centroids: Array[Array[Float]], seed: Long, metaProbe: Int = 3)
      extends Serializable {
    val k: Int = centroids.length
    // meta_k = clamp(√k, 2, k/2) — src/kmeans.rs:483
    private[graft] val metaK = math.max(2, math.min(k / 2, math.sqrt(k.toDouble).toInt))
    // hierarchy seed = seed*17+42 — src/kmeans.rs:494
    private val meta: Model =
      trainDriver(centroids, metaK, iters = 25, seed = seed * 17 + 42)
    private val members: Array[Array[Int]] = {
      val m = Array.fill(meta.k)(List.empty[Int])
      var i = 0
      while (i < k) {
        val (mi, _) = nearest(centroids(i), meta.centroids)
        m(mi) = i :: m(mi)
        i += 1
      }
      m.map(_.reverse.toArray)
    }

    def assign(p: Array[Float]): (Int, Double) = {
      // top-metaProbe meta-centroids by distance — allocation-free stable
      // selection (strict < on replacement keeps ascending-index order on
      // ties, matching the previous stable sort; this runs per ROW of the
      // full-table assignment scan, so no boxed tuples, no O(meta_k log
      // meta_k) sort)
      val probes = math.min(metaProbe, meta.k)
      val topIdx = new Array[Int](probes)
      val topD = new Array[Double](probes)
      java.util.Arrays.fill(topD, Double.MaxValue)
      var i = 0
      while (i < meta.k) {
        val d = sqDist(p, meta.centroids(i))
        var pos = probes
        while (pos > 0 && d < topD(pos - 1)) pos -= 1
        if (pos < probes) {
          var s = probes - 1
          while (s > pos) { topD(s) = topD(s - 1); topIdx(s) = topIdx(s - 1); s -= 1 }
          topD(pos) = d
          topIdx(pos) = i
        }
        i += 1
      }
      var bi = -1
      var bd = Double.MaxValue
      var mi = 0
      while (mi < probes && topD(mi) < Double.MaxValue) {
        val ms = members(topIdx(mi))
        var j = 0
        while (j < ms.length) {
          val d = sqDistBounded(p, centroids(ms(j)), bd)
          if (d < bd) { bd = d; bi = ms(j) }
          j += 1
        }
        mi += 1
      }
      if (bi < 0) nearest(p, centroids) else (bi, bd)
    }

    /** Approximate top-n nearest centroids — the probe-routing
      * generalization of [[assign]] (which is n=1). Meta-centroids are
      * ranked exactly (metaK = O(√k) distances), their member lists
      * expanded in that order until the candidate pool holds at least
      * max(16n, top-`metaProbe` cells) centroids, and the pool is
      * exact-ranked by (distance, centroid id), the same tie order as
      * the brute-force probe sort. Per-call work is O(√k + 16n)
      * distances instead of the O(k) scan.
      *
      * The 16× pool margin is MEASURED, not guessed (SCALE.md round 6,
      * on the reference 100k/D=128 workload — uniform data, the
      * adversarial case for meta-cell locality): capture of the exact
      * top-64 probe cells is 0.44 with a 2n pool, 0.78 at 8n, 0.99 at
      * 16n. A 2n pool capped end-to-end recall@64 at 0.745 vs 1.0
      * exact, which is why this path is OPT-IN (see [[ProbeRouter]]):
      * exact selection stays the default wherever k·d per routed row
      * is affordable.
      *
      * @return (probe ids ascending by (distance, id), pool size) — the
      *         pool size is the number of exact centroid distances
      *         computed, the test hook for the O(√k) work contract.
      */
    def topNProbe(p: Array[Float], n0: Int): (Array[Int], Int) = {
      val n = math.min(n0, k)
      if (n <= 0) return (Array.emptyIntArray, 0)
      val md = new Array[Double](meta.k)
      var i = 0
      while (i < meta.k) { md(i) = sqDist(p, meta.centroids(i)); i += 1 }
      val cellOrder = Array.range(0, meta.k).sortBy(c => (md(c), c))
      val pool = scala.collection.mutable.ArrayBuffer.empty[Int]
      var mi = 0
      while (mi < cellOrder.length &&
          (mi < metaProbe || pool.length < HierarchicalAssigner.ProbePoolFactor * n)) {
        pool ++= members(cellOrder(mi))
        mi += 1
      }
      val ranked = pool.toArray
        .map(c => (c, sqDist(p, centroids(c))))
        .sortBy(t => (t._2, t._1))
      (ranked.take(n).map(_._1), ranked.length)
    }
  }

  object HierarchicalAssigner {
    /** Member-pool target, as a multiple of n, for approximate top-n
      * probe selection — the MEASURED margin (SCALE.md round 6: the
      * pool-factor sweep through the production code path).
      */
    val ProbePoolFactor = 16
  }

  /** Probe selection becomes APPROXIMATE above this many centroids
    * (default router). Below it, routing is exact: computing all k
    * centroid distances per routed row is affordable (k·d ≈ 1M flops
    * at k=8192, d=128), and a bounded-heap selection replaces the full
    * sort, so the only saving the hierarchy could offer is distance
    * count — which it buys with measured recall loss (see
    * [[HierarchicalAssigner.topNProbe]]: 0.745 vs 1.0 recall@64 on the
    * reference workload with the old always-hierarchical routing). At
    * k beyond the threshold (N ≳ 4M at reference parity k = 4√N), the
    * per-row cost of exact routing dominates corpus×corpus joins and
    * the O(√k + 16n) approximate path takes over.
    */
  val ApproxRoutingThreshold = 8192

  /** Meta-cells expanded per routed row on the hierarchical PROBE
    * ROUTING path — the FLOOR on pool expansion
    * ([[HierarchicalAssigner.topNProbe]] keeps adding cells until both
    * this floor and the 16n pool target are met). 8, from the round-8
    * m ∈ {3, 5, 8} sweep (SCALE.md): at FIXED n_probe — the scan-cost
    * driver at corpus scale, where probing a cell means reading its
    * rows — m=8 recovers nearly all of exact routing's recall where
    * m=3 collapses (N=1M/k=3998, recall@1 at n_probe=8: 0.67 vs
    * exact 0.69 vs m=3's 0.465) while routing stays O(√k)
    * (~37% of exact's k distances there, asymptotically √k·m).
    * Comparing at equal ROUTED distances m=3-with-larger-n_probe looks
    * similar, but that spends 2-8× the dominant scan term. ASSIGNMENT
    * (J3) keeps the reference's fixed top-3 gather
    * (src/kmeans.rs:474-581) via [[HierarchicalAssigner]]'s own
    * default — this constant parameterizes only the search router.
    */
  val DefaultMetaProbe = 8

  /** Probe routing for the IVF search paths: top-nProbe nearest
    * centroids per query, ascending by (distance, id).
    *
    *   - k ≤ `approxThreshold` (default [[ApproxRoutingThreshold]]) or
    *     16n ≥ k (the pool would cover everything anyway): EXACT — all
    *     k distances, bounded-insertion selection (O(k) distances +
    *     O(k) scan, no O(k log k) sort, no per-row allocation beyond
    *     the n-slot buffers). Probe-all is always exact.
    *   - above the threshold: hierarchical O(√k + 16n) via
    *     [[HierarchicalAssigner.topNProbe]] — the opt-in scale path for
    *     huge k, with the measured 16n pool margin.
    *
    * Serializable with a transient lazy hierarchy: broadcasting the
    * router (annJoin's map-side routing) rebuilds the meta-clustering
    * once per executor, and because meta-training is seed-deterministic
    * executor-side routing is identical to driver-side routing
    * (searchBatch, probe-literal oracles).
    */
  final class ProbeRouter(val centroids: Array[Array[Float]], val seed: Long,
      val approxThreshold: Int = ApproxRoutingThreshold)
      extends Serializable {
    def k: Int = centroids.length
    @transient private lazy val hier =
      new HierarchicalAssigner(centroids, seed, DefaultMetaProbe)

    /** Exact top-n by (distance, id): allocation-light bounded
      * insertion (the [[HierarchicalAssigner.assign]] selection loop,
      * widened to n slots). Scanning ids ascending with a strict-<
      * replacement resolves distance ties to the smaller id — the same
      * order as sortBy((distance, id)).
      */
    private def bruteTopN(p: Array[Float], n: Int): Array[Int] = {
      if (n >= k) {
        return centroids.indices
          .map(i => (i, sqDist(p, centroids(i))))
          .sortBy(t => (t._2, t._1)).map(_._1).toArray
      }
      val topIdx = new Array[Int](n)
      val topD = new Array[Double](n)
      java.util.Arrays.fill(topD, Double.MaxValue)
      var i = 0
      while (i < k) {
        val d = sqDistBounded(p, centroids(i), topD(n - 1))
        if (d < topD(n - 1)) {
          var pos = n
          while (pos > 0 && d < topD(pos - 1)) pos -= 1
          var s = n - 1
          while (s > pos) { topD(s) = topD(s - 1); topIdx(s) = topIdx(s - 1); s -= 1 }
          topD(pos) = d
          topIdx(pos) = i
        }
        i += 1
      }
      topIdx
    }

    private def useBrute(n: Int): Boolean =
      // pool ≥ k: the hierarchical pool would cover (nearly) every
      // centroid anyway — exact selection is both cheaper and exact
      k <= approxThreshold ||
        HierarchicalAssigner.ProbePoolFactor * n >= k

    /** Top-n probe ids, ascending by (distance, centroid id). Exact on
      * the default path; within-pool exact on the hierarchical path.
      */
    def topN(p: Array[Float], n0: Int): Array[Int] = {
      val n = math.min(n0, k)
      if (n <= 0) Array.emptyIntArray
      else if (useBrute(n)) bruteTopN(p, n)
      else hier.topNProbe(p, n)._1
    }

    /** Centroid distances computed to route one query (test hook for
      * the O(√k)-per-row contract on the approximate path; k on the
      * exact path).
      */
    private[graft] def routedWork(p: Array[Float], n0: Int): Int = {
      val n = math.min(n0, k)
      if (useBrute(n)) k else hier.metaK + hier.topNProbe(p, n)._2
    }
  }

  /** Pick the assignment function per the reference's dispatch
    * (`src/kmeans.rs:445-459`): brute force for k ≤ 100, else hierarchical.
    */
  def assigner(model: Model, seed: Long): Array[Float] => (Int, Double) =
    if (model.k > HierarchicalThreshold) {
      val h = new HierarchicalAssigner(model.centroids, seed)
      h.assign _
    } else {
      val cs = model.centroids
      (p: Array[Float]) => nearest(p, cs)
    }

  // ------------------------------------------------------------- training

  /** k-means++ init over the pool (`src/kmeans.rs:154-310`). */
  private def kppInit(pool: Array[Array[Float]], k: Int, rng: Random): Array[Array[Float]] = {
    val n = pool.length
    val out = new Array[Array[Float]](k)
    out(0) = pool(rng.nextInt(n)).clone()
    val minD = Array.fill(n)(Double.MaxValue)
    var c = 1
    while (c < k) {
      val newest = out(c - 1)
      // Parallel min-dist maintenance (the reference's rayon
      // update_min_distances_parallel, src/kmeans.rs:422-443): slots are
      // disjoint per index and the early-abandon bound is each point's
      // own current minD, so results are bitwise-identical to the
      // sequential scan. The weighted-pick total is then summed in fixed
      // ascending order — same double, same RNG draw as before.
      java.util.stream.IntStream.range(0, n).parallel().forEach { i =>
        val d = sqDistBounded(pool(i), newest, minD(i))
        if (d < minD(i)) minD(i) = d
      }
      var i = 0
      var total = 0.0
      while (i < n) {
        total += minD(i)
        i += 1
      }
      val pick =
        if (total <= 0.0) rng.nextInt(n)
        else {
          val target = rng.nextDouble() * total
          var acc = 0.0
          var j = 0
          var found = -1
          while (j < n && found < 0) {
            acc += minD(j)
            if (acc >= target) found = j
            j += 1
          }
          if (found < 0) n - 1 else found
        }
      out(c) = pool(pick).clone()
      c += 1
    }
    out
  }

  /** Every pool row must share one dimension. Training runs BEFORE
    * Ivf.build's map-side raise_error guard, so a ragged row here used
    * to AIOOBE mid-training inside a parallel stream (or, with the
    * short row on the query side, silently compute prefix distances) —
    * and a short row landing at pool(0) would set the model dimension
    * the downstream guard then enforces against every GOOD row,
    * inverting the error (r15 review). A driver-side length scan of
    * ≤50k rows is free next to the distance math.
    */
  private def requireUniformDim(pool: Array[Array[Float]]): Unit = {
    val dim = pool(0).length
    var i = 1
    while (i < pool.length) {
      if (pool(i).length != dim)
        throw new IllegalArgumentException(
          s"k-means: ragged training pool — row $i has dimension " +
            s"${pool(i).length}, row 0 has $dim")
      i += 1
    }
  }

  /** Default trainer over an in-memory pool: k-means++ init + exact
    * parallel Lloyd with starved-cluster splitting. Used for the main
    * trainer (over the distributed sample) and the tiny super-centroid /
    * meta-centroid clusterings.
    *
    * Deliberate divergence from the reference's mini-batch loop: on a
    * driver-held pool (≤50k rows) exact Lloyd costs the same per pass as
    * one mini-batch epoch, converges to visibly better optima, and avoids
    * mini-batch's outlier-pinning (measured on the sf0.01 embeddings:
    * mini-batch+Lloyd-refine stalls at inertia ≈447 with 8 singleton
    * clusters; kpp+Lloyd reaches ≈432 with sizes 15-29). Balanced cells
    * are what make IVF probe pruning effective at scale.
    *
    * Stops after `iters` passes or at the reference's RMS centroid-delta
    * early stop, whichever comes first. The starved-cluster reseed holds
    * that stop off only while it pays: the first round that leaves at
    * least as many starved clusters as the round before turns it off
    * for the rest of the run (see [[refineLloyd]]).
    */
  def trainDriver(pool: Array[Array[Float]], k0: Int, iters: Int, seed: Long): Model = {
    require(pool.nonEmpty, "k-means: empty input")
    requireUniformDim(pool)
    val k = math.min(k0, pool.length)
    // loud, not silent: at reference parity k0 = 4*ceil(sqrt(n)) this
    // binds when n >~ 156M rows against the 50k reference pool cap —
    // clusters degrade toward raw sample points and probe pruning reads
    // k0/k more bytes per probe than the nProbe/k contract suggests
    if (k < k0) System.err.println(
      s"[kmeans] k clamped $k0 -> $k (training pool has only " +
        s"${pool.length} rows); raise poolCap for n where 4*sqrt(n) " +
        "exceeds the reference 50k init-sample cap")
    val rng = new Random(seed)
    val centroids = kppInit(pool, k, rng)
    refineLloyd(pool, centroids, iters, rng, seed)
    Model(centroids)
  }

  /** Full-batch Lloyd refinement over the pool (in place). Mini-batch with
    * the reference's per-cluster learning rate barely moves centroids off
    * their k-means++ init at small n, leaving badly unbalanced Voronoi
    * cells — poison for IVF probe pruning at scale (a cluster holding half
    * the data means probing it scans half the table). Exact Lloyd over
    * the ≤50k driver pool produces balanced clusters, and the reference's
    * own quality gates (inertia ratio, recall floors) only improve. One
    * pass is not free: at 10k × 128, k = 200 it takes about 27 ms on 4
    * cores, so the pass count is what the training time follows (100
    * passes ≈ 3 s). Parallelized across cores for the large-k case
    * (k≈4√n, pool 50k → ~10^10 flops single-threaded otherwise).
    */
  private def refineLloyd(pool: Array[Array[Float]],
      centroids: Array[Array[Float]], iters: Int, rng: Random,
      seed: Long): Unit = {
    val n = pool.length
    val k = centroids.length
    if (n == 0 || k == 0) return
    val dim = pool(0).length
    val labels = new Array[Int](n)
    // Assignment policy mirrors the reference's full-assignment dispatch
    // (`assign_points_simd_parallel`, src/kmeans.rs:445-459): brute-force
    // argmin for k <= 100, hierarchical two-level O(√k)-per-point above.
    // The hierarchy is rebuilt per iteration from the SAME derived seed
    // (src/kmeans.rs:494), so training stays deterministic.
    val useHier = k > HierarchicalThreshold
    var it = 0
    var done = false
    var prevStarved = Int.MaxValue
    var reseedOn = true
    while (it < iters && !done) {
      val prev = centroids.map(_.clone())
      if (useHier) {
        val assigner = new HierarchicalAssigner(centroids, seed)
        java.util.stream.IntStream.range(0, n).parallel().forEach { i =>
          labels(i) = assigner.assign(pool(i))._1
        }
      } else assignAllBlocked(pool, centroids, labels)
      val sums = Array.ofDim[Double](k, dim)
      val cnts = new Array[Long](k)
      var i = 0
      while (i < n) {
        val l = labels(i)
        cnts(l) += 1
        val p = pool(i)
        var j = 0
        while (j < dim) { sums(l)(j) += p(j); j += 1 }
        i += 1
      }
      var c = 0
      while (c < k) {
        if (cnts(c) > 0) {
          var j = 0
          while (j < dim) {
            centroids(c)(j) = (sums(c)(j) / cnts(c)).toFloat
            j += 1
          }
        }
        c += 1
      }
      // Starved-cluster reseed-by-split (the classic IVF-trainer policy —
      // e.g. Faiss Clustering::post-iteration split): a centroid whose cell
      // holds fewer than ~n/(8k) points is a trap (often a centroid pinned
      // on an outlier). Re-seed it onto a random member of the currently
      // largest cluster, which splits that cluster on the next iteration.
      // Balanced cells are what make IVF probe pruning effective — at
      // 100 TB a cluster holding half the table means probing it scans
      // half the table.
      // The reseed stays on only while it pays off: once a round leaves
      // at least as many starved clusters as the round before, it is off
      // for the rest of the run, so the RMS early stop below can fire.
      // (Perfbench corpus, 10k x 128, k = 200: 11 clusters stayed
      // starved after every round, and the reseed forced all 100 passes.)
      var reseeded = false
      val minSize = math.max(1L, n.toLong / (8L * k))
      if (reseedOn) {
        var starved = 0
        c = 0
        while (c < k) { if (cnts(c) < minSize) starved += 1; c += 1 }
        if (starved >= prevStarved) reseedOn = false
        prevStarved = starved
      }
      if (reseedOn && it < iters - 2) {
        var largest = 0
        c = 0
        while (c < k) { if (cnts(c) > cnts(largest)) largest = c; c += 1 }
        // the largest cluster's member list is label-stable within the
        // iteration — computed once, shared by every starved reseed
        // (identical draws to recomputing it per cluster)
        lazy val members: IndexedSeq[Int] = (0 until n).filter(labels(_) == largest)
        c = 0
        while (c < k) {
          if (cnts(c) < minSize && c != largest && cnts(largest) > 2 * minSize) {
            centroids(c) = pool(members(rng.nextInt(members.length))).clone()
            reseeded = true
          }
          c += 1
        }
      }
      var sum = 0.0
      c = 0
      while (c < k) {
        var j = 0
        while (j < dim) {
          val d = centroids(c)(j).toDouble - prev(c)(j).toDouble
          sum += d * d
          j += 1
        }
        c += 1
      }
      if (!reseeded && math.sqrt(sum / (k.toLong * dim)) < ConvergenceThreshold)
        done = true
      it += 1
    }
  }

  /** Fit on a DataFrame: one seeded distributed sample → driver trainer.
    *
    * @param orderCol when set, the pool is the poolCap rows with the
    *                 smallest `xxhash64(orderCol, seed)` — a seeded
    *                 pseudo-random subset that is (a) deterministic
    *                 across partitionings (collect() order otherwise
    *                 depends on file splits / cpu count, and the
    *                 trainer's RNG indexes into the pool) and (b)
    *                 unbiased in `orderCol` (ordering by the raw id
    *                 would systematically exclude high-id rows, which
    *                 matters when ids correlate with content, e.g.
    *                 time-ordered embeddings). Planned as a per-partition
    *                 top-K heap + driver merge — one pass, no shuffle.
    */
  def fit(df: DataFrame, embCol: String, k: Int, iters: Int, seed: Long,
      poolCap: Int = InitSampleCap, orderCol: Option[String] = None,
      knownCount: Option[Long] = None): Model = {
    // callers that already counted the table (Ivf.build) pass the count
    // through — a count() is a whole extra job per build otherwise
    val n = knownCount.getOrElse(df.count())
    require(n > 0, "k-means: empty input")
    val pool = orderCol match {
      case Some(c) =>
        // null embeddings are excluded from the TRAINING pool (they
        // carry no geometry); they still fail loudly downstream at
        // assignment via the build/append raise_error guards
        // n (already computed above for the emptiness check) is an
        // UPPER bound on the filtered rows — forwarding it skips the
        // helper's sizing count(). The threshold margin is 2× relative
        // to this bound, so a table whose null-embedding fraction
        // exceeds ~50% erodes it and may hit the helper's full-sort
        // fallback (correct, but pays both sorts); embedding tables
        // with majority-null embeddings are pathological, and the
        // alternative — an exact count of the filtered frame — costs a
        // full extra job on EVERY train
        hashOrderedPool(
          df.select(col(c), col(embCol)).where(col(embCol).isNotNull),
          c, embCol, poolCap, seed, Some(n))
      case None =>
        // same hash-threshold + hash-ordered cut as the orderCol path,
        // keyed on the embedding CONTENT itself — partitioning-
        // independent end to end. The previous df.sample pre-cut seeded
        // its RNG per partition, so the pool (and hence the centroids)
        // silently depended on file splits / cluster size while the
        // comment claimed determinism (r15 review); the threshold
        // filter inside hashOrderedPool keeps the driver transfer at
        // O(poolCap) exactly like the sample did, without the RNG.
        hashOrderedPool(
          df.select(col(embCol)).where(col(embCol).isNotNull),
          embCol, embCol, poolCap, seed, Some(n))
    }
    trainDriver(pool, k, iters, seed)
  }

  /** Deterministic hash-ordered training-pool cut over an ALREADY
    * row-filtered (id, embedding) frame: the global top-`poolCap` rows
    * by (xxhash64(id, seed), id) — partitioning-independent and
    * unbiased in table order. Shared by [[fit]] and [[Pq.train]].
    *
    * The bare orderBy+limit plans as TakeOrderedAndProject, whose
    * executeCollect ships EVERY partition's local top-poolCap to the
    * driver — at wide embeddings that is the whole table (observed:
    * 500k×768 ≈ 1.5 GB breaching maxResultSize; at 1000 executors it
    * is partitions × poolCap rows). So the sort is pre-cut with a hash
    * THRESHOLD keeping ~2×poolCap expected rows: every global
    * top-poolCap row lies below any threshold that ≥ poolCap rows
    * pass, so the filtered sort returns the bitwise-IDENTICAL pool
    * (the r8 determinism pin holds — gated in KMeansSpec) while the
    * driver receives O(poolCap) rows. If the threshold ever
    * under-selects (Chernoff-impossible at a 2× margin, but exactness
    * must not rest on probability), fall back to the full sort.
    *
    * @param knownCount caller-known (upper bound on the) row count —
    *                   skips the sizing count() job; when absent the
    *                   helper counts `filtered` itself, one cheap
    *                   column-pruned job vs shipping the table.
    */
  private[operators] def hashOrderedPool(filtered: DataFrame, idCol: String,
      embCol: String, poolCap: Int, seed: Long,
      knownCount: Option[Long]): Array[Array[Float]] = {
    val h = xxhash64(col(idCol), lit(seed))
    def cut(d: DataFrame): Array[Array[Float]] =
      d.orderBy(h, col(idCol)).limit(poolCap)
        .select(col(embCol)) // id pruned from the driver transfer
        .collect().map(_.getSeq[Float](0).toArray)
    val total = knownCount.getOrElse(filtered.select(col(idCol)).count())
    if (total > poolCap * 4L) {
      val frac = poolCap * 2.0 / total
      val t = Long.MinValue + (frac * 2.0 * Long.MaxValue).toLong
      val fast = cut(filtered.where(h < lit(t)))
      if (fast.length >= poolCap) fast else cut(filtered)
    } else cut(filtered)
  }

  /** Holder broadcast to executors: deserialized once per executor, so
    * the transient lazy assigner (meta-clustering included) is built
    * exactly once per executor per broadcast — no global cache, no
    * identity-hash keys, garbage-collected with the broadcast.
    */
  final class AssignerHolder(val centroids: Array[Array[Float]], val seed: Long)
      extends Serializable {
    // the ONE dispatch rule lives in assigner() — a re-implementation
    // here would drift from it
    @transient lazy val assign: Array[Float] => (Int, Double) =
      assigner(Model(centroids), seed)
  }

  /** Distributed full assignment (J2/J3): broadcast centroids, map-side
    * argmin, no shuffle. Adds `labelCol` (int) to `df` via the
    * primitive [[ArgMinCentroid]] codegen expression (no per-row
    * `Seq[Float]` boxing — VERDICT r9 #2; see its Scaladoc for the
    * measured build-time delta).
    */
  def withAssignment(df: DataFrame, embCol: String, model: Model, seed: Long,
      labelCol: String = "centroid_id"): DataFrame = {
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(new AssignerHolder(model.centroids, seed))
    df.withColumn(labelCol, org.apache.spark.sql.GraftSqlBridge.column(
      ArgMinCentroid(
        org.apache.spark.sql.GraftSqlBridge.expression(col(embCol)), bc)))
  }

  /** Inertia (WCSS) of an assignment — test/quality metric (A6). */
  def inertia(pool: Array[Array[Float]], model: Model): Double = {
    val f = assigner(model, 0L)
    pool.iterator.map(p => f(p)._2).sum
  }
}

