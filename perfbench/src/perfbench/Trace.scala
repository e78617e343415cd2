package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed call into one layer. `op` is the operation the call belongs
  * to; `parent` is the enclosing span (-1 for an operation's root).
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span: jobs, stages and task metrics. */
final class Work {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, inRecords, outBytes = 0L
  var planMs = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]

  def +=(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; inRecords += o.inRecords; outBytes += o.outBytes
    planMs += o.planMs; taskMs ++= o.taskMs
  }
}

/** Records spans from outside the engine: the benchmark wraps each call
  * into a layer in [[span]]. While tracing is on, every open span is a
  * Spark job tag, so a SparkListener attributes jobs, stages and tasks
  * to the spans they ran under, and a QueryExecutionListener attributes
  * query-planning time by wall-clock containment. Spans stay in memory
  * and are written out by [[write]] when the run ends. With tracing off
  * the same calls are timed and nothing is registered.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, Long, Long)] // id, ns, ms
  private var nextId = 0
  private var currentOp = -1
  private var on = false

  private val work = mutable.Map.empty[Int, Work]
  private val stageSpans = mutable.Map.empty[Int, Seq[Int]]
  private val plans = mutable.ArrayBuffer.empty[(Long, Long)] // start ms, plan ms

  private def tag(id: Int) = s"perfbench-span-$id"
  private def workOf(id: Int) = work.getOrElseUpdate(id, new Work)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .toSeq.flatMap(_.split(",")).filter(_.startsWith("perfbench-span-"))
      val ids = tags.map(_.stripPrefix("perfbench-span-").toInt)
      ids.foreach(workOf(_).jobs += 1)
      e.stageIds.foreach(s => stageSpans(s) = ids)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageSpans.getOrElse(e.stageInfo.stageId, Nil).foreach(workOf(_).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) stageSpans.getOrElse(e.stageId, Nil).foreach { id =>
        val w = workOf(id)
        w.tasks += 1
        w.runMs += m.executorRunTime
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        w.inRecords += m.inputMetrics.recordsRead
        w.outBytes += m.outputMetrics.bytesWritten
        w.taskMs += e.taskInfo.duration
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val planning = Seq("analysis", "optimization", "planning").flatMap(ph.get)
      if (planning.nonEmpty) Tracer.this.synchronized {
        plans += ((planning.map(_.startTimeMs).min, planning.map(_.durationMs).sum))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  /** Turn tracing on or off between operations. */
  def tracing(enable: Boolean): Unit = if (enable != on) {
    if (enable) {
      sc.addSparkListener(jobListener)
      spark.listenerManager.register(queryListener)
    } else {
      org.apache.spark.PerfbenchBridge.drainListeners(sc)
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(queryListener)
    }
    on = enable
  }

  def isTracing: Boolean = on

  /** Run `f` as span `name`; a span opened with no span open is the root
    * of a new operation.
    */
  def span[T](name: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    if (open.isEmpty) currentOp = id
    open.push((id, System.nanoTime(), System.currentTimeMillis()))
    if (on) sc.addJobTag(tag(id))
    try f
    finally {
      if (on) sc.removeJobTag(tag(id))
      val (_, ns, ms) = open.pop()
      spans += Span(id, open.headOption.map(_._1).getOrElse(-1), currentOp,
        name, ns, System.nanoTime(), ms, System.currentTimeMillis())
    }
  }

  /** A child span known only by its duration, ending now (the engine's
    * `Ivf.build` reports its stages that way through `onStage`).
    */
  def ended(name: String, seconds: Double): Unit = {
    val id = nextId
    nextId += 1
    val endNs = System.nanoTime()
    val endMs = System.currentTimeMillis()
    val durNs = (seconds * 1e9).toLong
    spans += Span(id, open.headOption.map(_._1).getOrElse(-1), currentOp,
      name, endNs - durNs, endNs, endMs - durNs / 1000000L, endMs)
  }

  /** Deliver pending listener events, then credit each query's planning
    * time (analysis + optimization + planning) to every span whose
    * wall-clock interval contains the query's first phase, the way jobs
    * count toward every span open when they start.
    */
  def settle(): Unit = if (on) {
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    synchronized {
      plans.foreach { case (startMs, ms) =>
        spans.filter(s => s.startMs <= startMs && startMs <= s.endMs)
          .foreach(s => workOf(s.id).planMs += ms)
      }
      plans.clear()
    }
  }

  def all: Seq[Span] = spans.toSeq
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Spark work under the given spans, summed. */
  def workUnder(ss: Seq[Span]): Work = synchronized {
    val w = new Work
    ss.foreach(s => work.get(s.id).foreach(w += _))
    w
  }

  /** Spans as JSON lines: one object per span. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val w = work.get(s.id)
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs) ++
        w.toSeq.flatMap(w => Seq("jobs" -> w.jobs, "tasks" -> w.tasks,
          "executor_run_ms" -> w.runMs, "plan_ms" -> w.planMs)): _*)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Minimal JSON writer for the benchmark's flat records. */
object Json {
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
