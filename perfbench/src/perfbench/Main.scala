package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload, in one JVM:
  *
  *   perfbench.Main --workload <offline|online> --seed <n>
  *     --seconds <s> --trace <0|1> --cpus <n> --work <dir>
  *
  * Prints two lines: `PERFBENCH_RECORD {...}` (configuration, headline
  * figures, per-layer figures, problems found) and `PERFBENCH_RESULT
  * {...}` (the contract's result object, without host figures). Spans of
  * a traced run are written to `<work>/spans.jsonl`.
  */
object Main {

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val run = Workloads.all.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val sizes = Sizes.Full
    val trace = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val work = new java.io.File(opt("work")).getAbsolutePath
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val ready = () => (System.currentTimeMillis() - jvmStart) / 1e3

    val spark = session(cpus, work)
    val sessionS = ready()
    try {
      val ctx = new Ctx(spark, Gen(opt("seed").toLong, sizes), work,
        opt("seconds").toDouble, trace, cpus, ready)
      val out = run(ctx)
      if (trace) ctx.tracer.write(java.nio.file.Paths.get(work, "spans.jsonl"))
      val correct = ctx.failed == 0 && ctx.attempted > 0
      val conf = spark.conf.getAll ++ spark.sparkContext.getConf.getAll.toMap
      println("PERFBENCH_RECORD " + Json.obj(
        "workload" -> workload, "seed" -> ctx.gen.seed, "trace" -> trace,
        "generator_version" -> Gen.Version, "sizes" -> sizes.toString,
        "cpus" -> cpus,
        "setup_steps" -> (scala.collection.immutable.ListMap("jvm_and_session" -> sessionS) ++
          ctx.setupSteps),
        "jvm_flags" -> scala.jdk.CollectionConverters.ListHasAsScala(
          java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments).asScala.toSeq,
        "spark_conf" -> conf.toSeq.sortBy(_._1).toMap,
        "error_rate" -> ctx.failed.toDouble / math.max(1, ctx.attempted),
        "detail" -> out.detail, "layers" -> out.layers,
        "problems" -> ctx.problems.take(20).toSeq))
      println("PERFBENCH_RESULT " + Json.obj(
        "correct" -> correct, "attempted" -> ctx.attempted, "failed" -> ctx.failed,
        "metrics" -> (if (trace) out.layers else out.e2e)))
    } finally spark.stop()
  }
}
