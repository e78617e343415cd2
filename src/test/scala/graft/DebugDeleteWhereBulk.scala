package graft

import org.apache.spark.sql.functions._
import graft.operators.Ivf

/** Measures `Ivf.deleteWhere` at bulk scale — the two claims its
  * docstring asserts but round 14 never measured (VERDICT r14 #5):
  *
  *   1. the persist keeps the live-view filter at FULL scan
  *      parallelism (without it, the ≤64-file output coalesce would
  *      propagate its narrow partition count up through the whole
  *      scan — at 100 TB, a compliance delete running in ≤64 tasks);
  *      proven by the max task count observed across the stages the
  *      call launches, which must exceed the output file bound when
  *      the scan has more input splits than that;
  *   2. the sidecar output is bounded ≤64 files regardless of match
  *      volume (~3M Long ids per partition).
  *
  * Default cell: 2M×32 build, 25% predicate (`vec_id % 4 = 1`). One
  * JSON line for SCALE.md.
  *
  * Usage: Test/runMain graft.DebugDeleteWhereBulk [n] [dim] [cpus]
  */
object DebugDeleteWhereBulk {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 2000000L
    val dim = if (args.length > 1) args(1).toInt else 32
    val cpus = if (args.length > 2) args(2).toInt else 16
    val spark = GraftSession.local(cpus)
    // small splits so the scan has clearly more input partitions than
    // the 64-file output bound — the parallelism claim is then
    // falsifiable, not vacuously true
    spark.conf.set("spark.sql.files.maxPartitionBytes", 8L << 20)

    val tbl = graft.sources.VectorFormats.generate(spark, n, dim, 7L)
    val dir = s"/tmp/graft_delwhere_${n}_$dim"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val t0b = System.nanoTime()
    val idx = Ivf.build(tbl, "vec_id", "embedding", s"$dir/index")
    val buildS = (System.nanoTime() - t0b) / 1e9

    val meter = new graft.obs.Meter(spark)
    val del = meter.scope(Ivf.deleteWhere(spark, idx, col("vec_id") % 4 === 1))
    meter.close()
    val deleted = del.result.get
    val wallS = del.seconds
    val maxTasks =
      del.cost.tasks.groupBy(_.stageId).values.map(_.size).maxOption.getOrElse(0)

    require(deleted == n / 4, s"expected ${n / 4} tombstoned, got $deleted")
    val sidecarFiles = new java.io.File(s"$dir/index/tombstones")
      .listFiles().count(_.getName.endsWith(".parquet"))
    require(sidecarFiles <= 64, s"sidecar bound violated: $sidecarFiles")
    // the parallelism proof: the filter/count stage ran wider than the
    // output bound (i.e. the coalesce did NOT propagate upstream)
    require(maxTasks > sidecarFiles,
      s"filter stage tasks $maxTasks <= sidecar files $sidecarFiles " +
        "— the coalesce trap is back")
    val live = Ivf.liveVectors(spark, idx).count()
    require(live == n - deleted, s"live $live != ${n - deleted}")

    println(f"""{"metric":"deletewhere_bulk","n":$n,"dim":$dim,"cpus":$cpus,"build_s":$buildS%.1f,"deleted":$deleted,"deletewhere_wall_s":$wallS%.2f,"filter_stage_max_tasks":$maxTasks,"stages":${del.cost.stages},"sidecar_files":$sidecarFiles}""")
    spark.stop()
  }
}
