package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem,
  Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** The local filesystem under the `countfs` scheme, counting the
  * metadata calls one thread makes inside [[CountingFs.counting]]:
  * `listStatus`, `getFileStatus` (which `exists` goes through) and
  * `open`, per path. Paths keep their scheme (`countfs:/…`), so a read
  * path that cannot see a scheme shows here as it would on an object
  * store. Only the counting thread is counted: task threads reading
  * data files are not.
  */
class CountingFs extends LocalFileSystem(new CountingFs.Raw) {
  import CountingFs.hit
  override def listStatus(f: Path): Array[FileStatus] = {
    hit("list", f); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    hit("status", f); super.getFileStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    hit("open", f); super.open(f, bufferSize)
  }
}

object CountingFs {
  val Scheme = "countfs"

  /** RawLocalFileSystem qualifying its paths with [[Scheme]]. */
  final class Raw extends RawLocalFileSystem {
    override def getUri: java.net.URI = java.net.URI.create(s"$Scheme:///")
  }

  /** Register the scheme in `spark`'s Hadoop conf; other schemes are
    * untouched, so no other suite reads through it.
    */
  def register(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.$Scheme.impl", classOf[CountingFs].getName)

  /** `dir` (a local absolute path) under [[Scheme]]. */
  def uri(dir: String): String = s"$Scheme://$dir"

  @volatile private var watched: Thread = null
  private val counts = new ConcurrentHashMap[(String, String), AtomicInteger]()

  private def hit(op: String, f: Path): Unit =
    if (Thread.currentThread() eq watched)
      counts.computeIfAbsent((op, f.toUri.getPath.stripSuffix("/")),
        _ => new AtomicInteger).incrementAndGet()

  /** `body`'s result and the calls it made on this thread, as
    * (op, local path) → count.
    */
  def counting[T](body: => T): (T, Map[(String, String), Int]) =
    synchronized {
      counts.clear()
      watched = Thread.currentThread()
      try {
        val out = body
        (out, counts.asScala.map { case (k, v) => k -> v.get }.toMap)
      } finally watched = null
    }
}
