package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Pushdown

/** The one session policy: what [[GraftSession.local]] sets, why the
  * in-filter threshold matters, and that no other code builds a session.
  * Every session here is local[8], the shared test session's size — a
  * second size could not take effect in a JVM that already has one.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("a factory session carries the engine's confs") {
    val spark = GraftSession.local(8)
    assert(spark.sparkContext.master == "local[8]")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    Seq(
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.parquet.pushdown.inFilterThreshold" -> "10000"
    ).foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    assert(LogManager.getRootLogger.getLevel == Level.WARN)
  }

  test("a factory session cuts 256-literal IN chunks, not Spark's 10") {
    assert(Pushdown.sessionChunk(GraftSession.local(8)) == 256)
  }

  test("an extra pair is applied to the session") {
    val key = "spark.graft.test.extra"
    val spark = GraftSession.local(8, key -> "on")
    try assert(spark.conf.get(key) == "on")
    finally spark.conf.unset(key)
  }

  test("no code under src builds a session outside GraftSession") {
    val src = Paths.get("src")
    val factory = src.resolve("main/scala/graft/GraftSession.scala")
    assert(Files.isRegularFile(factory),
      s"run from the project root: $factory not found")
    val builder = ("SparkSession" + """\s*\.\s*builder""").r
    val offenders = Files.walk(src).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filterNot(_ == factory)
      .filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
      .toList
    assert(offenders.isEmpty,
      s"build sessions with GraftSession.local instead: $offenders")
  }
}
