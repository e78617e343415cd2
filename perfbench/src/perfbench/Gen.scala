package perfbench

import java.util.SplittableRandom

/** Input sizes of one benchmark run. `Full` is what the workloads run;
  * `Tiny` is the self-test size.
  */
final case class Sizes(
    n: Int,               // corpus vectors
    dim: Int,
    clusters: Int,        // Gaussian components the corpus is drawn from
    heldOut: Int,         // held-out queries (online searchBatch and searches)
    probeAll: Int,        // held-out queries re-run at n_probe = k lists
    joinRows: Int,        // annJoin query rows (perturbed corpus copies)
    joinSample: Int,      // of those, rows checked against brute force
    docs: Int,            // MinHash documents
    plantedPairs: Int,    // of those, near-copies of another document
    append: Int,          // churn: vectors appended per cycle
    delete: Int,          // churn: live ids deleted per cycle
    churnQueries: Int)    // churn: queries in the in-cycle searchBatch

object Sizes {
  val Full = Sizes(n = 10000, dim = 128, clusters = 20, heldOut = 1000,
    probeAll = 20, joinRows = 2000, joinSample = 200, docs = 5000,
    plantedPairs = 250, append = 1000, delete = 100, churnQueries = 100)
  val Tiny = Sizes(n = 1500, dim = 16, clusters = 12, heldOut = 40,
    probeAll = 8, joinRows = 200, joinSample = 40, docs = 400,
    plantedPairs = 30, append = 100, delete = 20, churnQueries = 20)
}

/** Seeded input generators. Every value is a pure function of
  * (seed, stream, index), so the driver and the executors produce the
  * same vectors without shipping them, and a partitioning change cannot
  * change the inputs. Bump [[Version]] whenever any output changes.
  */
final case class Gen(seed: Long, sizes: Sizes) {
  import Gen._

  /** Corpus cluster centres: N(0, CenterScale²) per coordinate. The
    * geometry is the same for every seed (the seed draws the points),
    * so the index build's k-means effort does not swing from seed to
    * seed.
    */
  lazy val centers: Array[Array[Float]] = {
    val r = rng(CentersSeed, StreamCenters, 0L)
    Array.fill(sizes.clusters, sizes.dim)((gauss(r) * CenterScale).toFloat)
  }

  private def around(r: SplittableRandom, c: Array[Float], sd: Double) =
    Array.tabulate(c.length)(j => (c(j) + gauss(r) * sd).toFloat)

  /** Corpus vector `i`: a random centre plus unit Gaussian noise. */
  def corpus(i: Long): Array[Float] = {
    val r = rng(seed, StreamCorpus, i)
    around(r, centers(r.nextInt(sizes.clusters)), 1.0)
  }

  /** Held-out query `j`, drawn from the same mixture as the corpus. */
  def heldOut(j: Long): Array[Float] = {
    val r = rng(seed, StreamHeldOut, j)
    around(r, centers(r.nextInt(sizes.clusters)), 1.0)
  }

  /** annJoin query row `j`: a corpus vector plus small noise. */
  def joinQuery(j: Long): Array[Float] = {
    val r = rng(seed, StreamJoin, j)
    around(r, corpus(r.nextInt(sizes.n).toLong), JoinNoise)
  }

  /** Churn cycle `c`: the ids and vectors it appends. Ids continue after
    * the corpus, so they never collide with corpus or tombstoned ids.
    */
  def appendIds(c: Int): Array[Long] =
    Array.tabulate(sizes.append)(i => sizes.n.toLong + c.toLong * sizes.append + i)
  def appended(id: Long): Array[Float] = {
    val r = rng(seed, StreamAppend, id)
    around(r, centers(r.nextInt(sizes.clusters)), 1.0)
  }

  /** Churn cycle `c`: `sizes.delete` distinct ids drawn from `live`. */
  def deleteIds(c: Int, live: Array[Long]): Array[Long] = {
    val r = rng(seed, StreamDelete, c.toLong)
    val picked = scala.collection.mutable.LinkedHashSet.empty[Long]
    val want = math.min(sizes.delete, live.length)
    while (picked.size < want) picked += live(r.nextInt(live.length))
    picked.toArray
  }

  /** Document `d` as a term array. The last `plantedPairs` documents are
    * near-copies of documents 0 until plantedPairs: one interior token
    * replaced, which keeps the 3-shingle Jaccard at 0.85 or above for
    * the lengths drawn here, well above the 0.7 threshold.
    */
  def doc(d: Int): Array[String] = {
    val firstCopy = sizes.docs - sizes.plantedPairs
    if (d < firstCopy) baseDoc(d)
    else {
      val src = d - firstCopy
      val toks = baseDoc(src).clone()
      val r = rng(seed, StreamDocEdit, d.toLong)
      toks(1 + r.nextInt(toks.length - 2)) = s"x$d"
      toks
    }
  }

  private def baseDoc(d: Int): Array[String] = {
    val r = rng(seed, StreamDocs, d.toLong)
    val len = DocMinLen + r.nextInt(DocMaxLen - DocMinLen + 1)
    Array.fill(len)(s"t${r.nextInt(Vocab)}")
  }

  /** (copy, original) id pairs of the planted near-duplicates. */
  def plantedPairs: Seq[(Long, Long)] = {
    val firstCopy = sizes.docs - sizes.plantedPairs
    (0 until sizes.plantedPairs).map(j => ((firstCopy + j).toLong, j.toLong))
  }
}

object Gen {
  val Version = 1
  val CenterScale = 4.0
  val CentersSeed = 0L
  val JoinNoise = 0.05
  val Vocab = 20000
  val DocMinLen = 40
  val DocMaxLen = 80

  private val StreamCenters = 1L
  private val StreamCorpus = 2L
  private val StreamHeldOut = 3L
  private val StreamJoin = 4L
  private val StreamAppend = 5L
  private val StreamDelete = 6L
  private val StreamDocs = 7L
  private val StreamDocEdit = 8L

  private def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(mix(mix(seed) + stream) + i))

  /** Standard normal by the polar method: the same draws on every JVM. */
  def gauss(r: SplittableRandom): Double = {
    var u, v, s = 0.0
    while ({
      u = r.nextDouble() * 2 - 1; v = r.nextDouble() * 2 - 1; s = u * u + v * v
      s >= 1.0 || s == 0.0
    }) ()
    u * StrictMath.sqrt(-2.0 * StrictMath.log(s) / s)
  }
}
