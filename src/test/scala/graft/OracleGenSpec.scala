package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The DuckDB oracle's vector math has one definition: the squared-L2,
  * dot, norm and ADC folds every distance is hashed against live in
  * [[graft.queries.OracleGen]]'s builders, never in a hand copy.
  */
class OracleGenSpec extends AnyFunSuite {

  // the per-element terms of the four folds, over any lambda name,
  // with the SQL's line breaks and stripMargin bars collapsed
  private val folds = Seq(
    "squared L2" -> """CAST\((\w+)\[1\] AS DOUBLE\) - CAST\(\1\[2\] AS DOUBLE\)""".r,
    "dot" -> """CAST\((\w+)\[1\] AS DOUBLE\) \* CAST\(\1\[2\] AS DOUBLE\)""".r,
    "norm" -> """CAST\((\w+) AS DOUBLE\) \* CAST\(\1 AS DOUBLE\)""".r,
    "ADC" -> """(\w+)\[2\]\[CAST\(\1\[1\] AS INTEGER\) \+ 129\]""".r)

  private def flat(text: String): String =
    text.replaceAll("""\n\s*\|""", " ").replaceAll("""\s+""", " ")

  test("no squared-L2, dot or norm fold is written out under src/main " +
      "outside OracleGen") {
    val src = Paths.get("src/main/scala")
    val gen = src.resolve("graft/queries/OracleGen.scala")
    assert(Files.isRegularFile(gen), s"run from the project root: $gen not found")
    val offenders = Files.walk(src).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filterNot(_ == gen)
      .toList.flatMap { p =>
        val text = flat(Files.readString(p))
        folds.collect { case (name, rx) if rx.findFirstIn(text).isDefined =>
          s"$p: $name" }
      }
    assert(offenders.isEmpty,
      s"build the fold with OracleGen.l2Sql/dotSql/normSql/adcSql instead: $offenders")
    // positive control: each pattern finds its fold in the builders
    val genText = flat(Files.readString(gen))
    folds.foreach { case (name, rx) =>
      assert(rx.findFirstIn(genText).isDefined, s"OracleGen has no $name fold")
    }
  }
}
