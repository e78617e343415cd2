package graft.obs

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** One finished task attempt. `ms` is its wall time on the executor
  * (launch to finish), `finishMs` the epoch millisecond it ended.
  */
final case class TaskCost(stageId: Int, result: Boolean, finishMs: Long,
    ms: Long, cpuNs: Long, gcMs: Long, inputBytes: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)

/** Spark work one scope ran: the jobs started under it, the stages of
  * those jobs that completed and their tasks, the Catalyst planning time
  * (analysis + optimization + physical planning) of its SQL executions,
  * and their executed plans.
  */
final case class Cost(jobs: Int, stages: Int, planMs: Long,
    plans: Vector[String], tasks: Vector[TaskCost]) {
  /** Exchanges and subqueries the executed plans reused. */
  def reusedExchanges: Int = plans.map(Cost.Reused.findAllIn(_).length).sum
  def cpuS: Double = tasks.map(_.cpuNs).sum / 1e9
  def gcS: Double = tasks.map(_.gcMs).sum / 1e3
  def inputMb: Double = tasks.map(_.inputBytes).sum / 1e6
  def shuffleReadMb: Double = tasks.map(_.shuffleReadBytes).sum / 1e6
  def shuffleWriteMb: Double = tasks.map(_.shuffleWriteBytes).sum / 1e6
  def spillMb: Double = tasks.map(_.spillBytes).sum / 1e6
  def taskMsMax: Long = if (tasks.isEmpty) 0L else tasks.map(_.ms).max
  def taskMsP50: Long =
    if (tasks.isEmpty) 0L else tasks.map(_.ms).sorted.apply(tasks.size / 2)
}

object Cost {
  private val Reused = "ReusedExchange|ReusedQueryStage|ReusedSubquery".r
}

/** A scope's outcome: the body's result (a failure keeps its counts),
  * the body's wall seconds, and its cost.
  */
final case class Scoped[T](result: Try[T], seconds: Double, cost: Cost)

/** The one measurement path. A scope is a Spark job tag: jobs started on
  * the scope's thread (and on the threads Spark runs its broadcasts and
  * subqueries on) carry it, and one listener attributes each job, its
  * stages, their tasks and each SQL execution to the scopes open when it
  * started. A job from another thread is not counted. Scopes may nest: a
  * job counts toward every scope open around it.
  */
final class Meter(spark: SparkSession) extends AutoCloseable {
  import Meter._

  private val sc = spark.sparkContext

  private final class Acc {
    var jobs, stages = 0
    var planMs = 0L
    val plans = Vector.newBuilder[String]
    val tasks = Vector.newBuilder[TaskCost]
  }
  private val open = mutable.Map.empty[Long, Acc]
  private val stageScopes = mutable.Map.empty[Int, Seq[Long]]
  private val execScopes = mutable.Map.empty[Long, Seq[Long]]

  private def scopesOf(tags: Iterable[String]): Seq[Long] =
    tags.collect { case t if t.startsWith(TagPrefix) =>
      t.stripPrefix(TagPrefix).toLong }.filter(open.contains).toSeq

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Meter.this.synchronized {
        val ids = scopesOf(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.tags")))
          .toSeq.flatMap(_.split(",")))
        if (ids.nonEmpty) {
          ids.foreach(open(_).jobs += 1)
          e.stageIds.foreach(stageScopes(_) = ids)
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Meter.this.synchronized {
        stageScopes.getOrElse(e.stageInfo.stageId, Nil)
          .flatMap(open.get).foreach(_.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Meter.this.synchronized {
        val accs = stageScopes.getOrElse(e.stageId, Nil).flatMap(open.get)
        val m = e.taskMetrics
        if (accs.nonEmpty && m != null) {
          val t = TaskCost(e.stageId, e.taskType == "ResultTask",
            e.taskInfo.finishTime, e.taskInfo.duration, m.executorCpuTime,
            m.jvmGCTime, m.inputMetrics.bytesRead,
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled + m.diskBytesSpilled)
          accs.foreach(_.tasks += t)
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Meter.this.synchronized {
        val ids = scopesOf(s.jobTags)
        if (ids.nonEmpty) execScopes(s.executionId) = ids
      }
      // the end event carries the QueryExecution a QueryExecutionListener
      // would get; the start event's job tags say whose it is
      case x: SparkListenerSQLExecutionEnd =>
        val ids = Meter.this.synchronized {
          execScopes.remove(x.executionId).getOrElse(Nil)
        }
        GraftSqlBridge.queryExecution(x).filter(_ => ids.nonEmpty).foreach {
          qe =>
            val ph = qe.tracker.phases
            val planMs = PlanPhases.flatMap(ph.get).map(_.durationMs).sum
            // an execution that failed before planning has no plan to read
            val plan = Try(qe.executedPlan.toString).toOption
            Meter.this.synchronized {
              ids.flatMap(open.get).foreach { a =>
                a.planMs += planMs; a.plans ++= plan
              }
            }
        }
      case _ =>
    }
  }
  sc.addSparkListener(listener)

  /** Run `body` as a scope on this thread. The body's seconds exclude the
    * wait for the listener bus, which runs after it so the cost is whole.
    */
  def scope[T](body: => T): Scoped[T] = {
    val id = nextId.incrementAndGet()
    val tag = TagPrefix + id
    synchronized(open(id) = new Acc)
    sc.addJobTag(tag)
    val t0 = System.nanoTime()
    // every Throwable, fatal ones too, is the caller's to judge: Bench
    // records a StackOverflowError in planning as a failed entry
    val result =
      try Success(body)
      catch { case e: Throwable => Failure(e) }
      finally sc.removeJobTag(tag)
    val seconds = (System.nanoTime() - t0) / 1e9
    GraftSqlBridge.drainListeners(sc)
    synchronized {
      val a = open.remove(id).get
      stageScopes.filterInPlace((_, ids) => ids.exists(open.contains))
      execScopes.filterInPlace((_, ids) => ids.exists(open.contains))
      Scoped(result, seconds,
        Cost(a.jobs, a.stages, a.planMs, a.plans.result(), a.tasks.result()))
    }
  }

  def close(): Unit = sc.removeSparkListener(listener)
}

object Meter {
  private val TagPrefix = "graft-obs-"
  private val nextId = new AtomicLong()
  private val PlanPhases = Seq("analysis", "optimization", "planning")

  /** `body`'s result and cost, from a meter of its own; a failure of the
    * body is rethrown.
    */
  def measure[T](spark: SparkSession)(body: => T): (T, Cost) = {
    val m = new Meter(spark)
    try {
      val s = m.scope(body)
      (s.result.get, s.cost)
    } finally m.close()
  }
}
