package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session policy. `Bench`, `Verify`, `Smoke`,
  * `RecallBench`, the test suites and every harness build their local
  * session here, so a harness cannot silently measure a different engine
  * than `Bench` does.
  */
object GraftSession {

  /** `local[cpus]` session with `cpus` shuffle partitions and the
    * engine's confs:
    *   - UTC session time zone, no TIMESTAMP_NTZ inference and
    *     nanosecond timestamps read as longs (the test data's parquet
    *     types, matching the DuckDB oracle);
    *   - `inFilterThreshold=10000`, so `Pushdown.sessionChunk` cuts
    *     256-literal IN chunks instead of Spark's default 10;
    *   - no UI, root log level WARN.
    *
    * `extra` is for static confs a caller cannot set on a live session
    * (runtime SQL confs belong in `spark.conf.set` afterwards). If a
    * session already exists in this JVM it is returned, with the runtime
    * confs above re-applied.
    */
  def local(cpus: Int, extra: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "10000")
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    // root WARN as early as user code can set it — belt to the
    // log4j2.properties braces (covers a run whose classpath resolution
    // somehow prefers Spark's bundled defaults)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
