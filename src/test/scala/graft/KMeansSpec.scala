package graft

import scala.util.Random

import graft.operators.KMeans

/** Invariants mirrored from the reference's k-means suites
  * (`/root/reference/tests/kmeans_tests.rs`), over the same fixture
  * recipes (FIXTURES.md §B).
  */
class KMeansSpec extends SparkSpec {

  /** Gaussian-ish clusters with known labels — FIXTURES.md §B.2. */
  def gaussianClusters(numClusters: Int, perCluster: Int, dim: Int,
      separation: Double, seed: Long): (Array[Array[Float]], Array[Int]) = {
    val rng = new Random(seed)
    val data = Array.ofDim[Array[Float]](numClusters * perCluster)
    val labels = new Array[Int](numClusters * perCluster)
    var i = 0
    for (c <- 0 until numClusters; _ <- 0 until perCluster) {
      data(i) = Array.tabulate(dim)(j =>
        (c * separation + 0.1 * j + (rng.nextDouble() - 0.5)).toFloat)
      labels(i) = c
      i += 1
    }
    (data, labels)
  }

  test("heuristics match the reference formulas") {
    // src/utils.rs:9-16
    assert(KMeans.numClusters(5000) == math.sqrt(5000).toInt)
    assert(KMeans.numClusters(50000) == 2 * math.ceil(math.sqrt(50000)).toInt)
    assert(KMeans.numClusters(100000) == 4 * math.ceil(math.sqrt(100000)).toInt)
    assert(KMeans.numClusters(1000000) == 4000)
    // src/utils.rs:18-26
    assert(KMeans.maxIterations(5000) == 300)
    assert(KMeans.maxIterations(50000) == 100)
    assert(KMeans.maxIterations(500000) == 50)
    assert(KMeans.maxIterations(2000000) == 20)
  }

  test("labels valid and every centroid has k entries") {
    val (data, _) = gaussianClusters(4, 50, 8, 20.0, 7L)
    val m = KMeans.trainDriver(data, 4, 100, 42L)
    assert(m.k == 4)
    assert(m.dim == 8)
    val labels = data.map(p => KMeans.nearest(p, m.centroids)._1)
    assert(labels.forall(l => l >= 0 && l < 4))
  }

  test("cluster recovery on separated clusters") {
    // mirrors kmeans_tests.rs:330-373: with large separation, recovered
    // partitions must match true labels (up to permutation)
    val (data, truth) = gaussianClusters(4, 60, 8, 25.0, 11L)
    val m = KMeans.trainDriver(data, 4, 200, 42L)
    val assign = data.map(p => KMeans.nearest(p, m.centroids)._1)
    // each true cluster maps to exactly one predicted label
    val purity = truth.zip(assign).groupBy(_._1).values.map { grp =>
      grp.groupBy(_._2).values.map(_.length).max.toDouble / grp.length
    }
    assert(purity.forall(_ > 0.9), s"purity=$purity")
  }

  test("deterministic given the seed") {
    val (data, _) = gaussianClusters(3, 40, 6, 15.0, 3L)
    val m1 = KMeans.trainDriver(data, 3, 100, 42L)
    val m2 = KMeans.trainDriver(data, 3, 100, 42L)
    assert(m1.centroids.map(_.toSeq).toSeq == m2.centroids.map(_.toSeq).toSeq)
  }

  test("run-to-run inertia ratio < 1.2 across seeds") {
    // mirrors kmeans_tests.rs:201-323
    val (data, _) = gaussianClusters(5, 50, 8, 20.0, 13L)
    val inertias = Seq(42L, 43L, 44L).map { s =>
      KMeans.inertia(data, KMeans.trainDriver(data, 5, 150, s))
    }
    assert(inertias.max / inertias.min < 1.2, s"inertias=$inertias")
  }

  test("training stops at convergence: budgets 40 and 80 give bitwise-" +
      "identical centroids") {
    // 20 components, centres N(0, 4^2), unit noise: at k = 200 some
    // clusters stay below the starved-cluster floor whatever the reseed
    // does. The reseed must switch itself off once it stops reducing
    // that count, so the RMS early stop fires well inside either budget
    val rng = new Random(5L)
    val centres = Array.fill(20, 64)(rng.nextGaussian() * 4)
    val data = Array.fill(6000) {
      val c = centres(rng.nextInt(20))
      Array.tabulate(64)(j => (c(j) + rng.nextGaussian()).toFloat)
    }
    val m40 = KMeans.trainDriver(data, 200, 40, 42L)
    val m80 = KMeans.trainDriver(data, 200, 80, 42L)
    assert(m40.k == 200 && m80.k == 200)
    m40.centroids.zip(m80.centroids).zipWithIndex.foreach { case ((a, b), c) =>
      assert(java.util.Arrays.equals(a, b),
        s"centroid $c differs between budgets 40 and 80: training ran to " +
          "its budget instead of converging")
    }
  }

  test("k=1 and k>=n edge cases") {
    val (data, _) = gaussianClusters(2, 10, 4, 10.0, 5L)
    val m1 = KMeans.trainDriver(data, 1, 50, 42L)
    assert(m1.k == 1)
    val mBig = KMeans.trainDriver(data, 100, 50, 42L) // k clamped to n
    assert(mBig.k <= data.length)
  }

  test("duplicate points do not break training") {
    val data = Array.fill(50)(Array.fill(4)(1.5f))
    val m = KMeans.trainDriver(data, 3, 50, 42L)
    assert(m.k == 3)
    assert(KMeans.inertia(data, m) < 1e-6)
  }

  test("ragged training pool fails loudly before any distance math " +
      "(r15 review)") {
    // training runs BEFORE Ivf.build's map-side raise_error guard: a
    // ragged row used to AIOOBE mid-training inside a parallel stream,
    // and a SHORT row at pool(0) would set the model dimension the
    // downstream guard then enforced against every good row
    val pool = Array(Array(1f, 2f, 3f), Array(4f, 5f, 6f), Array(7f, 8f))
    val e = intercept[IllegalArgumentException] {
      KMeans.trainDriver(pool, 2, 5, 42L)
    }
    assert(e.getMessage.contains("ragged training pool"), e.getMessage)
  }

  test("fit's default pool is partitioning-independent (r15 review)") {
    // the previous df.sample pre-cut seeded its RNG per partition, so
    // repartitioning the SAME data changed the pool and the centroids;
    // the content-hash threshold cut must be bitwise-stable across
    // partitionings
    val emb = Tables.embeddings(spark, sf0001).select("embedding")
    val m1 = KMeans.fit(emb.repartition(3), "embedding", 5, 20, 42L,
      poolCap = 200)
    val m2 = KMeans.fit(emb.repartition(11), "embedding", 5, 20, 42L,
      poolCap = 200)
    (m1.centroids zip m2.centroids).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a, b),
        "centroids differ across partitionings of identical data")
    }
  }

  test("trainer produces balanced clusters on mixture data") {
    // engine-quality gate beyond the reference: no cluster should hold a
    // huge fraction of the data (IVF probe pruning depends on it)
    val emb = Tables.embeddings(spark, sf0001)
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    val m = KMeans.trainDriver(emb, KMeans.numClusters(emb.length), 300, 42L)
    val sizes = emb.map(p => KMeans.nearest(p, m.centroids)._1)
      .groupBy(identity).map(_._2.length)
    assert(sizes.max < emb.length / 4, s"largest cluster=${sizes.max}")
  }

  test("hierarchical assignment (k > 100) optimal on separated clusters") {
    // mirrors kmeans_tests.rs:652-698: 10×100 separated Gaussian clusters,
    // k=150 → two-level assignment must still be (near-)optimal
    val (data, _) = gaussianClusters(10, 100, 8, 25.0, 19L)
    val m = KMeans.trainDriver(data, 150, 50, 42L)
    assert(m.k > KMeans.HierarchicalThreshold)
    val h = new KMeans.HierarchicalAssigner(m.centroids, 42L)
    val agree = data.count { p =>
      val bd = KMeans.nearest(p, m.centroids)._2
      h.assign(p)._2 <= bd + 1e-5
    }
    assert(agree.toDouble / data.length >= 0.98, s"agree=$agree/${data.length}")
  }

  test("trainer quality within 1.3x of Spark MLlib k-means (external oracle)") {
    import org.apache.spark.ml.linalg.Vectors
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf0001)
      .select($"embedding").collect().map(_.getSeq[Float](0).toArray)
    val k = 10
    val mine = KMeans.inertia(emb, KMeans.trainDriver(emb, k, 100, 42L))
    val mlDf = emb.toSeq.map(v => Tuple1(Vectors.dense(v.map(_.toDouble))))
      .toDF("features")
    val ml = new org.apache.spark.ml.clustering.KMeans()
      .setK(k).setSeed(42L).setMaxIter(50).fit(mlDf)
    val mlCentroids = ml.clusterCenters.map(_.toArray.map(_.toFloat))
    val mlInertia = KMeans.inertia(emb, KMeans.Model(mlCentroids))
    assert(mine <= 1.3 * mlInertia, s"mine=$mine mllib=$mlInertia")
  }

  test("distributed assignment matches driver assignment") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf0001).cache()
    val m = KMeans.fit(emb, "embedding", 10, 100, 42L)
    val assigned = KMeans.withAssignment(emb, "embedding", m, 42L)
      .select($"vec_id", $"embedding", $"centroid_id")
      .collect()
    assigned.foreach { r =>
      val p = r.getSeq[Float](1).toArray
      val expected = KMeans.nearest(p, m.centroids)._1
      assert(r.getInt(2) == expected)
    }
  }

  test("orderCol pool hash-threshold pre-cut selects the bitwise-identical " +
      "pool (and model) as the full sort") {
    import org.apache.spark.sql.functions.{col, lit, xxhash64}
    val emb = Tables.embeddings(spark, sf0001)
    val n = emb.count()
    val cap = 64
    assert(n > cap * 4L, "test needs the threshold path to engage")
    // fit() takes the threshold-filtered fast path (n > 4*poolCap)...
    val viaFit = KMeans.fit(emb, "embedding", 5, 10, 42L, poolCap = cap,
      orderCol = Some("vec_id"), knownCount = Some(n))
    // ...which must equal training on the pool the FULL sort defines
    val manualPool = emb.select(col("vec_id"), col("embedding"))
      .where(col("embedding").isNotNull)
      .orderBy(xxhash64(col("vec_id"), lit(42L)), col("vec_id"))
      .limit(cap).collect().map(_.getSeq[Float](1).toArray)
    assert(manualPool.length == cap)
    val viaFull = KMeans.trainDriver(manualPool, 5, 10, 42L)
    assert(viaFit.centroids.length == viaFull.centroids.length)
    viaFit.centroids.zip(viaFull.centroids).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a, b),
        "threshold pre-cut changed the training pool")
    }
  }

  test("ArgMinCentroid expression assignment is bitwise-identical to the " +
      "driver assigner on BOTH dispatch regimes (VERDICT r9 #2)") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf0001).cache()
    // k=150 > 100 engages the hierarchical assigner inside the holder;
    // k=10 (previous test) covers the flat regime
    val m = KMeans.fit(emb, "embedding", 150, 20, 42L)
    val driverAssign = KMeans.assigner(m, 42L)
    val rows = KMeans.withAssignment(emb, "embedding", m, 42L)
      .select($"vec_id", $"embedding", $"centroid_id").collect()
    rows.foreach { r =>
      val expected = driverAssign(r.getSeq[Float](1).toArray)._1
      assert(r.getInt(2) == expected,
        s"vec ${r.getLong(0)}: expr ${r.getInt(2)} != driver $expected")
    }
    // null embedding → null label (callers' raise_error guards fire
    // before this on the build path; the expression itself must not NPE)
    val withNull = Seq((1L, Some(Seq(0.1f, 0.2f))), (2L, None))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val m2 = KMeans.fit(withNull.where($"embedding".isNotNull),
      "embedding", 1, 5, 42L)
    val nullRow = KMeans.withAssignment(withNull, "embedding", m2, 42L)
      .where($"vec_id" === 2L).head()
    assert(nullRow.isNullAt(2), "null embedding must yield a null label")
    // a null ELEMENT must fail loudly — toFloatArray is a raw copy that
    // ignores the null bitmap, so without the expression's explicit
    // null-bit scan this would silently assign with the element as 0.0f
    val withNullElem = Seq((3L, Seq(Option(0.1f), Option.empty[Float])))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val ex = intercept[Exception] {
      KMeans.withAssignment(withNullElem, "embedding", m2, 42L).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("null element")),
      s"expected the fail-loud null-element error, got: ${messages(ex)}")
  }
}
