package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{ConnectedComponents, KMeans, Pca}

/** Seeded property checks over the driver-side math kernels — the
  * pieces whose failure modes are numeric, not plan-shaped. Cases are
  * drawn from scalacheck generators with a fixed seed chain, so runs
  * are deterministic (no scalatestplus bridge on the classpath —
  * sampling is driven manually).
  */
class PropertySpec extends SparkSpec {

  private def forAll[A](g: Gen[A], n: Int = 100)(f: A => Unit): Unit =
    Iterator.iterate(Seed(42L))(_.next).take(n)
      .flatMap(s => g.apply(Gen.Parameters.default, s))
      .foreach(f)

  private def forAll2[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(for { a <- ga; b <- gb } yield (a, b))(f.tupled)

  private val vecGen: Gen[Array[Float]] =
    Gen.choose(1, 64).flatMap(d =>
      Gen.listOfN(d, Gen.choose(-100.0f, 100.0f)).map(_.toArray))

  test("int8 quantization error is bounded by scale/2 per element") {
    forAll(vecGen) { v =>
      val scale = math.max(v.map(x => math.abs(x)).max.toDouble,
        Float.MinPositiveValue.toDouble) / 127.0
      v.foreach { x =>
        val q = math.round(x / scale).toInt
        assert(q >= -127 && q <= 127)
        val err = math.abs(x - q * scale)
        assert(err <= scale / 2 + 1e-9,
          s"err $err > ${scale / 2} for x=$x scale=$scale")
      }
    }
  }

  test("sqDist is non-negative, symmetric, zero on self") {
    forAll2(vecGen, vecGen) { (a, b0) =>
      val b = b0.take(a.length).padTo(a.length, 0.0f)
      assert(KMeans.sqDist(a, a) == 0.0)
      assert(KMeans.sqDist(a, b) >= 0.0)
      assert(KMeans.sqDist(a, b) == KMeans.sqDist(b, a))
    }
  }

  private val symGen: Gen[Array[Array[Double]]] =
    for {
      n <- Gen.choose(2, 12)
      flat <- Gen.listOfN(n * n, Gen.choose(-10.0, 10.0))
    } yield {
      val m = flat.toArray.grouped(n).toArray
      Array.tabulate(n, n)((i, j) => (m(i)(j) + m(j)(i)) / 2.0)
    }

  test("jacobi eigensystem satisfies A.v = lambda.v and preserves the trace") {
    forAll(symGen) { a =>
      val n = a.length
      val (eig, vecs) = Pca.jacobiEigSym(a)
      assert(math.abs(eig.sum - (0 until n).map(i => a(i)(i)).sum) < 1e-8)
      for (k <- 0 until n) {
        val v = vecs(k)
        val av = Array.tabulate(n)(i =>
          (0 until n).map(j => a(i)(j) * v(j)).sum)
        val residual = math.sqrt(
          (0 until n).map(i => math.pow(av(i) - eig(k) * v(i), 2)).sum)
        assert(residual < 1e-7, s"eigenpair $k residual $residual")
      }
    }
  }

  private val edgeListGen: Gen[List[(Long, Long)]] =
    for {
      n <- Gen.choose(2, 40)
      m <- Gen.choose(1, 80)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong)
        b <- Gen.choose(0L, n.toLong)
      } yield (a, b))
    } yield edges.filter { case (a, b) => a != b }

  test("union-find components equal a BFS oracle on random graphs") {
    import spark.implicits._
    forAll(edgeListGen, n = 15) { edges =>
      if (edges.nonEmpty) {
        val got = ConnectedComponents.resolve(edges.toDF("a", "b"), "a", "b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // BFS oracle
        val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
          .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
        val nodes = adj.keySet
        var want = Map.empty[Long, Long]
        var seen = Set.empty[Long]
        nodes.toSeq.sorted.foreach { start =>
          if (!seen.contains(start)) {
            var frontier = Set(start)
            var comp = Set.empty[Long]
            while (frontier.nonEmpty) {
              comp ++= frontier
              frontier = frontier.flatMap(adj(_)) -- comp
            }
            val label = comp.min
            comp.foreach(v => want += v -> label)
            seen ++= comp
          }
        }
        assert(got == want)
      }
    }
  }

  test("ProbeRouter: probe-all equals brute sort; top-n is a valid prefix-free set") {
    // random centroid sets spanning the brute/hierarchical dispatch
    // boundary; probe-all must be exactly the (distance, id)-sorted
    // centroid list at ANY k, and top-n must be n distinct valid ids in
    // ascending distance order
    val cfgGen: Gen[(Int, Int, Long)] = for {
      k <- Gen.oneOf(3, 50, 150, 400)
      n <- Gen.oneOf(1, 5, 20)
      seed <- Gen.choose(0L, 1000L)
    } yield (k, n, seed)
    forAll(cfgGen, n = 12) { case (k, n, seed) =>
      val rnd = new scala.util.Random(seed)
      val dim = 6
      val cents = Array.fill(k)(Array.fill(dim)(rnd.nextFloat()))
      val q = Array.fill(dim)(rnd.nextFloat())
      val router = new KMeans.ProbeRouter(cents, 42L)
      val exact = cents.indices
        .map(i => (i, KMeans.sqDist(q, cents(i))))
        .sortBy(t => (t._2, t._1)).map(_._1)
      assert(router.topN(q, k).toSeq == exact, s"probe-all k=$k")
      val top = router.topN(q, n)
      assert(top.length == math.min(n, k))
      assert(top.distinct.length == top.length)
      assert(top.forall(c => c >= 0 && c < k))
      val ds = top.map(c => KMeans.sqDist(q, cents(c))).toSeq
      assert(ds == ds.sorted, s"not ascending for k=$k n=$n")
      // top-1 always equals the assignment dispatch's cell
      assert(router.topN(q, 1).head ==
        KMeans.assigner(KMeans.Model(cents), 42L)(q)._1)
    }
  }

  test("OPQ eigenvalue allocation is a balanced permutation for any spectrum") {
    val specGen: Gen[(Array[Double], Int)] = for {
      m <- Gen.oneOf(2, 4, 8)
      dsub <- Gen.choose(1, 4)
      // spectra spanning huge dynamic ranges, above and below 1.0
      eigs <- Gen.listOfN(m * dsub, Gen.choose(-12.0, 12.0))
        .map(_.map(math.exp).toArray)
    } yield (eigs, m)
    forAll(specGen) { case (eigs, m) =>
      val perm = graft.operators.Opq.allocate(eigs, m)
      // a permutation: every axis used exactly once
      assert(perm.sorted.toSeq == eigs.indices.toSeq)
      val dsub = eigs.length / m
      // balance: max/min bucket log-product gap bounded by the largest
      // single log weight (the classic greedy-partition guarantee)
      val sums = perm.grouped(dsub)
        .map(_.map(i => math.log(eigs(i))).sum).toSeq
      val maxW = eigs.map(e => math.abs(math.log(e))).max
      assert(sums.max - sums.min <= 2 * maxW + 1e-9,
        s"unbalanced beyond the greedy bound: $sums")
    }
  }

  test("quantile rank cut: the integer comparison cum*10^6 >= num*n " +
      "equals the exact nearest-rank ceiling at every k/n boundary " +
      "(VERDICT r15 #6)") {
    // QuantileSketch.quantiles picks the first bucket whose cumulative
    // count satisfies cum·10^6 ≥ round(p·10^6)·n — the claim is that
    // this integer test implements rank = ⌈(num/10^6)·n⌉ EXACTLY, for
    // any p, including the k/n boundary values where double ceil(p·n)
    // drifted a whole rank (0.07·100 → 7.000000000000001 → 8). 1000
    // cases: random n, random k ≤ n, p = k/n (the adversarial
    // boundary), plus jittered p just above/below the boundary.
    val gen = for {
      n <- Gen.choose(1L, 2000000000L)
      k <- Gen.choose(1L, n)
      eps <- Gen.oneOf(0.0, 1e-12, -1e-12, 1e-9, -1e-9)
    } yield (n, k, eps)
    forAll(gen, n = 1000) { case (n, k, eps) =>
      val p = math.min(1.0, math.max(0.0, k.toDouble / n + eps))
      val num = math.round(p * 1000000L)
      // the production predicate, verbatim semantics (decimal(38,0)
      // products are exact BigInt products at these widths)
      def admits(cum: Long): Boolean =
        BigInt(cum) * 1000000 >= BigInt(num) * BigInt(n)
      // independent oracle: ⌈(num/10^6)·n⌉ through BigDecimal CEILING
      // (a different arithmetic path than the predicate's product form)
      val exactRank = (java.math.BigDecimal.valueOf(num)
        .multiply(java.math.BigDecimal.valueOf(n))
        .divide(java.math.BigDecimal.valueOf(1000000L)))
        .setScale(0, java.math.RoundingMode.CEILING).longValueExact()
      // the predicate's admission boundary must sit exactly at the
      // ceiling rank: admitted at exactRank, rejected one below
      assert(admits(exactRank),
        s"n=$n k=$k p=$p num=$num: rank $exactRank not admitted")
      if (exactRank > 0)
        assert(!admits(exactRank - 1),
          s"n=$n k=$k p=$p num=$num: overshoot — " +
            s"rank ${exactRank - 1} admitted below the ceiling")
      // sanity on the contract's range: p ≤ 1 keeps the rank within n
      assert(exactRank >= 0 && exactRank <= n,
        s"rank $exactRank outside [0, $n]")
    }
  }

  test("VecMean is partitioning-independent: any split into buffers " +
      "(empty ones included) merged in any order equals the sequential " +
      "fold (VERDICT r15 #6)") {
    import graft.functions.VecMean
    // integer-valued floats keep every partial sum exactly
    // representable, so partitioning-independence is testable as exact
    // equality (double addition is not associative on arbitrary reals)
    val gen = for {
      dim <- Gen.choose(0, 8)
      n <- Gen.choose(0, 24)
      vals <- Gen.listOfN(n,
        Gen.oneOf(
          Gen.const(null: Seq[Float]),
          Gen.listOfN(dim, Gen.choose(-100, 100).map(_.toFloat))
            .map(_.toSeq)))
      cuts <- Gen.listOfN(5, Gen.choose(0, n)) // may produce empty slices
      shuffleSeed <- Gen.choose(0L, Long.MaxValue)
    } yield (vals, cuts.sorted, shuffleSeed)
    forAll(gen, n = 1000) { case (vals, cuts, shuffleSeed) =>
      val sequential = vals.foldLeft(VecMean.zero)(VecMean.reduce)
      val expected = VecMean.finish(sequential)
      // slice into 6 buffers (some empty), reduce each from a FRESH
      // zero, then merge in a seeded random order — the cross-partition
      // shape Catalyst's partial aggregation produces
      val bounds = (0 +: cuts :+ vals.length).sliding(2).toSeq
      val buffers = bounds.map { case Seq(a, b) =>
        vals.slice(a, b).foldLeft(VecMean.zero)(VecMean.reduce)
      }
      val order = new scala.util.Random(shuffleSeed)
        .shuffle(buffers.indices.toList)
      val merged = order.map(buffers).reduceLeft(VecMean.merge)
      assert(VecMean.finish(merged) == expected,
        s"partitioning-dependent mean: cuts=$cuts order=$order " +
          s"n=${vals.length}")
      // the r15 bug class specifically: an all-empty-vector slice
      // merged across a boundary must still contribute its COUNT
      assert(merged._2 == sequential._2,
        s"lost count across merge: ${merged._2} vs ${sequential._2}")
    }
  }

  test("writeSalts: write parallelism never drops below the session's, " +
      "and every shard keeps >=2 salts in the degenerate regime") {
    forAll2(Gen.choose(1, 5000), Gen.choose(1, 5000)) { (parts, shards) =>
      val salts = graft.operators.Ivf.writeSalts(parts, shards)
      // gate the ACTUAL count writeVectors repartitions to, not a local
      // reconstruction of it (ADVICE r17: the r17 auto-raise silently
      // changed the healthy-regime count to shards×⌈parts/shards⌉ while
      // this property only asserted the salt formula)
      val writeParts = graft.operators.Ivf.writePartitions(parts, shards)
      assert(salts >= 1 && writeParts >= parts,
        s"write parallelism degraded: parts=$parts shards=$shards " +
          s"salts=$salts writeParts=$writeParts")
      if (parts <= shards)
        assert(salts >= 2,
          s"degenerate regime must keep >=2 salts per shard: " +
            s"parts=$parts shards=$shards salts=$salts")
      // healthy regime stays exactly the historical layout — partition
      // count AND salt formula — so existing deployments see zero
      // file-count change even when parts is not a multiple of shards
      if (parts > shards) {
        assert(writeParts == parts,
          s"healthy regime changed partition count: parts=$parts " +
            s"shards=$shards writeParts=$writeParts")
        assert(salts == math.ceil(parts.toDouble / shards).toInt)
      }
    }
  }
}
