package graft.queries

import org.apache.spark.sql.SparkSession

/** Driver-side oracle-SQL generation for queries whose DuckDB twin needs
  * literals computed FROM the built artifacts — IVF probe sets, candidate
  * id lists, PQ codes and ADC lookup tables, BPE symbol counts. A static
  * SQL string cannot express "the 20 cells nearest the query under the
  * seed-42 index"; a generated one can inline them.
  *
  * Mechanics: [[graft.Verify]] evaluates `SparkEntry.oracleSql` AFTER
  * running every catalog query, so by generation time the per-dir
  * index/codebook caches are warm and the generators only run tiny
  * pruned collects. Generation is gated behind [[enable]] (called by
  * Verify alone — Bench never pays for it) and memoized per
  * (query, dir). A generator failure degrades that query to the
  * rows-only driver check instead of failing the run.
  *
  * What these oracles prove: the literal material (probe lists, code
  * bytes, LUTs) is produced by the engine under test, but the DISTANCE
  * MATH, candidate membership join, and TOP-K selection are recomputed
  * independently by DuckDB — the hash compare checks that the pruned
  * scan + codegen distance fold + TakeOrderedAndProject agree
  * bit-for-bit with a naive reimplementation of the same semantics over
  * the same data. Generators run at verify scale (sf0.01); they are a
  * test harness, not a query path, so their collects are bounded by
  * that scale, never by production data.
  */
object OracleGen {

  @volatile private var ctx: Option[(SparkSession, String)] = None
  // bounded at catalog size × directories (Tables.DataKeyedMemo)
  private val cache = new graft.Tables.DataKeyedMemo[Option[String]]()

  /** Turn generation on for this (session, sfDir) — Verify only. */
  def enable(spark: SparkSession, dir: String): Unit =
    ctx = Some((spark, dir))

  /** Generated oracle for `name`: None when generation is disabled
    * (Bench, tests), or the generator failed (→ rows-only check).
    */
  def sql(name: String)(gen: (SparkSession, String) => String): Option[String] =
    ctx match {
      case None => None
      case Some((spark, dir)) =>
        cache.get(dir, name)(
          try Some(gen(spark, dir))
          catch {
            case e: Throwable =>
              System.err.println(s"[oracle-gen] $name: ${e.getMessage}")
              None
          })
    }

  /** Exact round-trip double literal: Java's shortest-representation
    * string parses back to the identical double under DuckDB's
    * correctly-rounded reader — but ONLY when DuckDB types it DOUBLE.
    * A plain decimal literal ("0.057…") parses as DECIMAL and drags the
    * whole downstream fold into decimal arithmetic (measured: 1-ulp-off
    * ADC distances), so force scientific notation, which DuckDB always
    * types DOUBLE.
    */
  def dbl(d: Double): String = {
    val s = java.lang.Double.toString(d)
    if (s.contains("E")) s else s + "E0"
  }

  def dblList(xs: Seq[Double]): String = xs.map(dbl).mkString("[", ",", "]")

  def dblListList(xs: Seq[Seq[Double]]): String =
    xs.map(dblList).mkString("[", ",", "]")

  /** Signed-byte code list literal (PQ codes, SQ8 cells). */
  def byteList(xs: Seq[Byte]): String = xs.mkString("[", ",", "]")

  /** Comma-joined literal list that REFUSES to be empty. An empty set
    * would emit syntactically invalid SQL (`IN ()`, a bare `VALUES `)
    * — generation would "succeed" and the driver's DuckDB compare
    * would hard-fail the query; throwing here instead routes it into
    * [[sql]]'s documented rows-only degradation.
    */
  def lits(xs: Seq[String]): String = {
    require(xs.nonEmpty, "empty literal set - degrading to rows-only")
    xs.mkString(",")
  }

  /** Single-quoted SQL string literal. */
  def str(s: String): String = "'" + s.replace("'", "''") + "'"

  /* The oracle's vector math, defined once. Every element is CAST to
   * DOUBLE before any arithmetic (float -> double is exact; a DOUBLE
   * side makes the cast a no-op) and the terms are summed by
   * `list_reduce`, left to right — the order of the engine's
   * [[graft.functions.SquaredL2]] and [[graft.functions.Vec]] folds, so
   * the two sides agree bit for bit. Arguments are SQL list
   * expressions; the lambda names shadow any column of the same name.
   */

  /** Squared L2 distance `Σ (x_i − y_i)²` of two list expressions. */
  def l2Sql(x: String, y: String): String =
    s"list_reduce(list_transform(list_zip($x, $y), p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), (a, b) -> a + b)"

  /** Dot product `Σ x_i · y_i` of two list expressions. */
  def dotSql(x: String, y: String): String =
    s"list_reduce(list_transform(list_zip($x, $y), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (a, b) -> a + b)"

  /** Euclidean norm `sqrt(Σ x_i²)` of a list expression. */
  def normSql(x: String): String =
    s"sqrt(list_reduce(list_transform($x, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))"

  /** ADC distance `Σ lut[j][code_j + 129]` of a PQ code list against its
    * LUT (a list of per-subspace lists; 1-based, codes stored offset
    * −128), folded left to right — the exact math of
    * [[graft.operators.Pq.adc]].
    */
  def adcSql(code: String, lut: String): String =
    s"list_reduce(list_transform(list_zip($code, $lut), p -> p[2][CAST(p[1] AS INTEGER) + 129]), (a, b) -> a + b)"

  /** The ADC top-k oracle shared by the PQ family: codes inlined as
    * VALUES, the per-query LUT as one array literal, distance =
    * [[adcSql]].
    */
  def adcTopKSql(codes: Seq[(Long, Seq[Byte])], lut: Seq[Seq[Double]],
      k: Int, idAlias: String): String = {
    require(codes.nonEmpty, "adc oracle: no candidate codes")
    val vals = codes.sortBy(_._1)
      .map { case (id, c) => s"($id,${byteList(c)})" }.mkString(",")
    s"""WITH lut AS (SELECT ${dblListList(lut)} AS l),
       |codes(vec_id, code) AS (VALUES $vals),
       |d AS (
       |  SELECT c.vec_id, ${adcSql("c.code", "l.l")} AS distance
       |  FROM codes c CROSS JOIN lut l)
       |SELECT vec_id AS $idAlias, distance
       |FROM d ORDER BY distance, vec_id LIMIT $k""".stripMargin
  }
}
