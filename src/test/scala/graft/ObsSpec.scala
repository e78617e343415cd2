package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.CountDownLatch

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.obs.Meter

/** The meter's attribution: a scope counts its own thread's jobs, stages,
  * tasks and SQL planning, whatever else runs on the shared session.
  */
class ObsSpec extends SparkSpec {

  private def withMeter[T](f: Meter => T): T = {
    val m = new Meter(spark)
    try f(m) finally m.close()
  }

  test("back-to-back scopes get disjoint job and task counts") {
    withMeter { m =>
      val sc = spark.sparkContext
      val a = m.scope(sc.parallelize(1 to 30, 3).count())
      val b = m.scope {
        sc.parallelize(1 to 20, 2).count()
        sc.parallelize(1 to 20, 2).map(_ + 1).count()
      }
      assert(a.result.get == 30L && b.result.get == 20L)
      assert((a.cost.jobs, a.cost.stages, a.cost.tasks.size) == ((1, 1, 3)))
      assert((b.cost.jobs, b.cost.stages, b.cost.tasks.size) == ((2, 2, 4)))
      assert(a.cost.tasks.forall(_.result))
    }
  }

  test("a job run from another thread is not counted") {
    withMeter { m =>
      val sc = spark.sparkContext
      val go = new CountDownLatch(1)
      @volatile var foreign = -1L
      // started before the scope opens, so it does not inherit its tag
      val other = new Thread(() => {
        go.await()
        foreign = sc.parallelize(1 to 50, 5).count()
      })
      other.start()
      val s = m.scope {
        go.countDown()
        other.join()
        sc.parallelize(1 to 10, 2).count()
      }
      assert(foreign == 50L, "the foreign job did not run inside the scope")
      assert((s.cost.jobs, s.cost.tasks.size) == ((1, 2)))
    }
  }

  test("a scope whose body throws still closes and keeps its counts") {
    withMeter { m =>
      val sc = spark.sparkContext
      val s = m.scope {
        sc.parallelize(1 to 12, 4).count()
        throw new IllegalStateException("boom")
      }
      assert(s.result.failed.get.getMessage == "boom")
      assert((s.cost.jobs, s.cost.tasks.size) == ((1, 4)))
      assert(!sc.getJobTags().exists(_.startsWith("graft-obs-")),
        s"scope tag left on the thread: ${sc.getJobTags()}")
      assert(m.scope(sc.parallelize(1 to 3, 1).count()).cost.jobs == 1)
    }
  }

  test("plan_ms is > 0 for a DataFrame action and 0 for an RDD-only " +
      "action; a reused exchange is counted") {
    withMeter { m =>
      val wide = m.scope(spark.range(1000)
        .select((0 until 200).map(i => (col("id") * i).as(s"c$i")): _*)
        .groupBy(col("c1") % 7).agg(sum("c2"), max("c199")).collect())
      assert(wide.result.get.length == 7)
      assert(wide.cost.planMs > 0L, s"no planning time: ${wide.cost}")
      val rdd = m.scope(spark.sparkContext.parallelize(1 to 100, 2).count())
      assert(rdd.cost.planMs == 0L && rdd.cost.jobs == 1)
      val agg = spark.range(1000).groupBy(col("id") % 10).count()
      val twice = m.scope(agg.union(agg).collect())
      assert(twice.result.get.length == 20)
      assert(twice.cost.reusedExchanges >= 1,
        "the union's second aggregate did not reuse the first's exchange")
    }
  }

  test("no code under src registers a Spark listener outside graft/obs") {
    val src = Paths.get("src")
    val obs = src.resolve("main/scala/graft/obs")
    assert(Files.isDirectory(obs), s"run from the project root: $obs not found")
    val register = "addSpark" + "Listener"
    val offenders = Files.walk(src).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filterNot(_.startsWith(obs))
      .filter(p => Files.readString(p).contains(register))
      .toList
    assert(offenders.isEmpty,
      s"measure with graft.obs.Meter instead: $offenders")
  }

  test("no test-scope main besides the scale shifter and the crash-gate child") {
    val test = Paths.get("src/test")
    assert(Files.isDirectory(test), s"run from the project root: $test not found")
    val kept = Set("DebugScaleNx.scala", "CrossJvmStressRunner.scala")
    val main = ("\\bdef\\s+" + "main\\s*\\(").r
    val offenders = Files.walk(test).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filterNot(p => kept(p.getFileName.toString))
      .filter(p => main.findFirstIn(Files.readString(p)).isDefined)
      .toList
    assert(offenders.isEmpty,
      s"measure through graft.obs.Meter, graft.Bench or perfbench: $offenders")
  }
}
