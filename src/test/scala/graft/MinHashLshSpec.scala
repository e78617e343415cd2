package graft

import org.apache.spark.sql.functions._
import graft.operators.MinHashLsh
import graft.queries.{DedupQueries, TextQueries}

/** Public-operator gates for [[MinHashLsh]] (VERDICT r7 #4 — the
  * Bm25/Rrf promotion pattern): caller (id, terms) frames with live
  * parameters, plus a parity gate proving the catalog queries are thin
  * wrappers (operator defaults == the oracled pipeline, bitwise).
  */
class MinHashLshSpec extends SparkSpec {

  import MinHashLsh.Params

  test("near-dup pairs on a caller (id, terms) frame, custom params") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the river bank today".split(" ").toSeq
    val nearDup = base.updated(4, "leaps")                  // 1-token edit
    val unrelated = "completely different content about spark query engines and parquet row groups".split(" ").toSeq
    val df = Seq((1L, base), (2L, nearDup), (3L, unrelated))
      .toDF("item_id", "toks")
    // wider family + lower threshold than the catalog's: live params
    val p = Params(shingleK = 2, numHashes = 16, bands = 8, threshold = 0.5)
    val pairs = MinHashLsh.verifiedPairs(df, "item_id", "toks", p)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "near-dup pair must be found")
    assert(!pairs.exists(t => t._1 == 3L || t._2 == 3L),
      "unrelated doc must not pair")
  }

  test("shingleK is live: k=1 token sets vs k=3 shingles") {
    import spark.implicits._
    // same multiset of tokens, different order: identical under k=1
    // (set semantics), distinct under k=3 (order-sensitive shingles)
    val a = "alpha beta gamma delta epsilon zeta".split(" ").toSeq
    val b = a.reverse
    val df = Seq((1L, a), (2L, b)).toDF("id", "toks")
    val p1 = MinHashLsh.verifiedPairs(df, "id", "toks",
      Params(shingleK = 1, threshold = 0.99))
    assert(p1.count() == 1L, "k=1: permuted docs are identical")
    val p3 = MinHashLsh.verifiedPairs(df, "id", "toks",
      Params(shingleK = 3, threshold = 0.2))
    assert(p3.count() == 0L, "k=3: permuted docs share no shingle")
  }

  test("hashFn is live: xxhash64 family finds the same planted near-dup") {
    import spark.implicits._
    val base = "one two three four five six seven eight nine ten eleven twelve".split(" ").toSeq
    val nearDup = base.updated(11, "thirteen")
    val unrelated = "apple banana cherry date elderberry fig grape honeydew".split(" ").toSeq
    val df = Seq((1L, base), (2L, nearDup), (3L, unrelated))
      .toDF("id", "toks")
    // swap the md5 parity default for xxhash64 (the production fast
    // path, SCALE.md round 8's measured ~2x saving on the sign pass) —
    // banding/verify are hash-agnostic, so the planted pair survives
    val p = Params(numHashes = 16, bands = 8, threshold = 0.5,
      hashFn = c => xxhash64(c))
    val pairs = MinHashLsh.verifiedPairs(df, "id", "toks", p)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "near-dup pair must be found")
    assert(!pairs.exists(t => t._1 == 3L || t._2 == 3L),
      "unrelated doc must not pair")
  }

  test("non-integral id column is rejected loudly") {
    import spark.implicits._
    // a string id would cast to null inside the band-bucket cap and
    // silently yield zero pairs — sign() must refuse it instead
    val df = Seq(("u1", Seq("a", "b")), ("u2", Seq("a", "b")))
      .toDF("url", "toks")
    val e = intercept[IllegalArgumentException](
      MinHashLsh.sign(df, "url", "toks"))
    assert(e.getMessage.contains("integral"))
  }

  test("parameter validation") {
    intercept[IllegalArgumentException](Params(shingleK = 0))
    intercept[IllegalArgumentException](Params(numHashes = 8, bands = 3))
    intercept[IllegalArgumentException](Params(threshold = 1.5))
    intercept[IllegalArgumentException](Params(maxBandBucket = 0))
  }

  test("operator defaults reproduce the oracled catalog pipeline bitwise") {
    // the catalog's minhash_lsh_pairs serves from the build-once signed
    // table; the public operator recomputes end-to-end from raw docs.
    // Default params must make them IDENTICAL — that is the thin-wrapper
    // contract the oracles certify transitively.
    val docs = Tables.documents(spark, sf0001)
      .withColumn("toks", TextQueries.tokens(col("text")))
      .select(col("doc_id"), col("toks"))
    val op = MinHashLsh.verifiedPairs(docs, "doc_id", "toks")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val catalog = DedupQueries.minhashVerifiedPairs(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(op == catalog)
    assert(op.nonEmpty, "sf0.001 must contain near-dups for this gate")
  }

  test("maxBandBucket caps a mega-bucket but keeps its cluster connected") {
    import spark.implicits._
    val boiler = "quick brown fox jumps over the lazy dog again and again"
      .split(" ").toSeq
    val df = ((0 until 120).map(i => (i.toLong, boiler)) :+
      (900L, "an unrelated document entirely alone here".split(" ").toSeq))
      .toDF("id", "toks")
    val p = Params(maxBandBucket = 16)
    val pairs = MinHashLsh.verifiedPairs(df, "id", "toks", p)
    val n = pairs.count()
    // uncapped would be C(120,2)=7140; cap bounds l-side at 16 per
    // bucket x 4 bands, dedup'd
    assert(n < 7140, s"cap did not bind: $n pairs")
    assert(n >= 119, "every member must pair with the rank-1 anchor")
    val comp = MinHashLsh.clusters(pairs).collect()
    val clusters = comp.map(_.getLong(1)).toSet
    assert(clusters == Set(0L), "capped mega-bucket must stay one cluster")
    assert(comp.count(_.getBoolean(2)) == 1, "one canonical member")
    assert(comp.forall(_.getLong(3) == 120L))
  }

  test("clusters collapses a known pair graph") {
    import spark.implicits._
    val pairs = Seq((1L, 2L, 1.0), (2L, 3L, 0.9), (7L, 8L, 0.8))
      .toDF("a_id", "b_id", "jaccard")
    val got = MinHashLsh.clusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 1L, true, 3L), (2L, 1L, false, 3L), (3L, 1L, false, 3L),
      (7L, 7L, true, 2L), (8L, 7L, false, 2L)))
  }
}
