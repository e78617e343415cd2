package perfbench

import org.apache.spark.sql.functions.col

import Truth.Hit

/** The benchmark's own tests: every check rejects a corrupted answer and
  * accepts the true one, the generators are deterministic, the brute
  * force matches the engine's distance bitwise, and both workloads run
  * clean, untraced and traced, at the tiny size.
  *
  *   python3 perfbench/run.py --selftest
  */
object SelfTest {
  private var failures = 0

  private def test(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Exception => println(s"  $e"); false }
    println(s"${if (pass) "PASS" else "FAIL"} $name")
    if (!pass) failures += 1
  }

  /** `errs` is the check's verdict on the true answer, `bad` on a
    * corrupted one: the first must be empty, the second must not.
    */
  private def rejects(name: String)(good: Seq[String], bad: Seq[String]): Unit =
    test(s"$name: accepts the true answer, rejects the corrupted one") {
      if (good.nonEmpty) println(s"  true answer rejected: ${good.head}")
      good.isEmpty && bad.nonEmpty
    }

  def checks(): Unit = {
    val gen = Gen(7L, Sizes.Tiny)
    val ids = Array.tabulate(300)(_.toLong)
    val vecs = ids.map(gen.corpus)
    val q = gen.heldOut(0L)
    val truth = Truth.topK(ids, vecs, q, 10)
    val vector = (id: Long) => if (id >= 0 && id < vecs.length) Some(vecs(id.toInt)) else None

    rejects("topK row count")(Checks.topK("t", truth, 10, 300),
      Checks.topK("t", truth.dropRight(1), 10, 300))
    val swapped = truth.updated(0, truth(1).copy(rank = 1)).updated(1, truth(0).copy(rank = 2))
    rejects("topK order")(Checks.topK("t", truth, 10, 300), Checks.topK("t", swapped, 10, 300))
    rejects("topK ranks")(Checks.topK("t", truth, 10, 300),
      Checks.topK("t", truth.updated(3, truth(3).copy(rank = 9)), 10, 300))
    rejects("topK repeated id")(Checks.topK("t", truth, 10, 300),
      Checks.topK("t", truth.updated(9, truth(8).copy(rank = 10)), 10, 300))
    rejects("distances")(Checks.distances("d", truth, q, vector),
      Checks.distances("d", truth.updated(4, truth(4).copy(distance = truth(4).distance * 1.0001)),
        q, vector))
    rejects("equals brute force")(Checks.equalsTruth("e", truth, truth),
      Checks.equalsTruth("e", truth.updated(9, Hit(10, -5L, truth(9).distance)), truth))
    rejects("ids once: dropped id")(Checks.idsOnce("i", ids, ids),
      Checks.idsOnce("i", ids.drop(1), ids))
    rejects("ids once: repeated id")(Checks.idsOnce("i", ids, ids),
      Checks.idsOnce("i", ids :+ 5L, ids))
    rejects("tombstoned id returned")(Checks.noneDeleted("n", truth, Set(-1L)),
      Checks.noneDeleted("n", truth, Set(truth(2).id)))
    rejects("live count")(Checks.count("c", 5, 5), Checks.count("c", 6, 5))
    rejects("same answers across maintain")(Checks.sameAnswers("s", Array(truth), Array(truth)),
      Checks.sameAnswers("s", Array(truth), Array(truth.dropRight(1))))

    val sh = Array.tabulate(gen.sizes.docs)(d => Truth.shingles(gen.doc(d), 3))
    val (copy, orig) = gen.plantedPairs.head
    val j = Truth.jaccard(sh(orig.toInt), sh(copy.toInt))
    val good = Array((orig, copy, j))
    rejects("MinHash pair below threshold")(Checks.pairs("p", good, id => sh(id.toInt), 0.7),
      Checks.pairs("p", Array((0L, 1L, Truth.jaccard(sh(0), sh(1)))), id => sh(id.toInt), 0.7))
    rejects("MinHash reported Jaccard")(Checks.pairs("p", good, id => sh(id.toInt), 0.7),
      Checks.pairs("p", Array((orig, copy, j - 0.01)), id => sh(id.toInt), 0.7))
    val cl = Array((orig, orig, true), (copy, orig, false))
    rejects("clusters: pair split")(Checks.clusters("c", cl, good),
      Checks.clusters("c", Array((orig, orig, true), (copy, copy, true)), good))
    rejects("clusters: id not smallest member")(Checks.clusters("c", cl, good),
      Checks.clusters("c", Array((orig, copy, false), (copy, copy, true)), good))
  }

  def generators(): Unit = {
    val a = Gen(11L, Sizes.Tiny)
    val b = Gen(11L, Sizes.Tiny)
    val c = Gen(12L, Sizes.Tiny)
    test("generator: same seed, same inputs") {
      (0L until 50L).forall(i => a.corpus(i).sameElements(b.corpus(i)) &&
        a.joinQuery(i).sameElements(b.joinQuery(i))) &&
        (0 until 50).forall(d => a.doc(d).sameElements(b.doc(d)))
    }
    test("generator: another seed, other inputs") {
      !(0L until 50L).exists(i => a.corpus(i).sameElements(c.corpus(i)))
    }
    test("generator: planted near-copies at Jaccard >= 0.85") {
      a.plantedPairs.forall { case (x, y) =>
        Truth.jaccard(Truth.shingles(a.doc(x.toInt), 3), Truth.shingles(a.doc(y.toInt), 3)) >= 0.85
      }
    }
  }

  def distanceParity(spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    val g = Gen(3L, Sizes.Full)
    val pairs = (0L until 200L).map(i => (i, g.corpus(i), g.heldOut(i)))
    test("brute-force distance equals the engine's SquaredL2 bitwise") {
      val got = pairs.toDF("i", "a", "b")
        .select(col("i"), graft.functions.Vec.squaredL2(col("a"), col("b")))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      pairs.forall { case (i, x, y) => got(i) == Truth.sqL2(x, y) }
    }
  }

  def workloads(spark: org.apache.spark.sql.SparkSession, cpus: Int, work: String): Unit =
    for (w <- Workloads.all.keys.toSeq.sorted; trace <- Seq(false, true)) {
      val dir = s"$work/$w-$trace"
      val ctx = new Ctx(spark, Gen(5L, Sizes.Tiny), dir, 0.0, trace, cpus, () => 1.0)
      val out = Workloads.all(w)(ctx)
      val metrics = if (trace) out.layers else out.e2e
      test(s"workload $w (trace=$trace): every answer passes its checks") {
        ctx.problems.foreach(p => println(s"  $p"))
        ctx.attempted >= 1 && ctx.failed == 0
      }
      test(s"workload $w (trace=$trace): every figure is a number") {
        val bad = metrics.filter(m => m._2.isNaN || m._2.isInfinite)
        bad.foreach(m => println(s"  ${m._1} = ${m._2}"))
        metrics.nonEmpty && bad.isEmpty
      }
      Workloads.deleteDir(dir)
    }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = opts("cpus").toInt
    val work = opts("work")
    checks()
    generators()
    val spark = Main.session(cpus, work)
    try {
      distanceParity(spark)
      workloads(spark, cpus, work)
    } finally spark.stop()
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
