package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Non-located recursive file listing for metadata probes.
  *
  * `FileSystem.listFiles(path, recursive = true)` returns
  * `LocatedFileStatus` — it fetches per-file BLOCK LOCATIONS, which
  * only a locality-aware scheduler consumes. For a metadata probe
  * (maintenance stats, layout fingerprints, size planning) that weight
  * is pure overhead, and it is not small: measured on this engine's
  * local filesystem at ~5 ms/file vs ~0.05 ms/file for plain
  * `listStatus` — 100×, the difference between a maintenance probe an
  * ingest loop can run per micro-batch and a half-second stall that
  * grows with index size (SCALE.md round 12). On an object store the
  * gap is structural rather than incidental: locations are synthetic
  * there, so the located call pays extra RPC shape for information
  * that does not exist.
  */
object FsList {

  /** All COMMITTED plain files under `root`, recursive, non-located.
    *
    * Hidden entries (names starting with `_` or `.` — `_temporary`,
    * `_SUCCESS`, committer attempt dirs) are skipped: they are an
    * in-flight or bookkeeping artifact, not data, and including them
    * poisons every consumer — maintenance stats would count a running
    * append's uncommitted task files as shard debt, and a compaction
    * snapshot containing them would read `_temporary` attempt paths as
    * conflicting partition directories and abort. A subtree that
    * VANISHES mid-walk (a concurrent task commit renaming its attempt
    * dir away) is likewise skipped rather than thrown: the walk's
    * contract is "committed files at some instant during the listing",
    * which a vanished uncommitted subtree never contains. A missing
    * `root` holds no committed file: the walk returns none.
    */
  def files(fs: FileSystem, root: Path): Seq[FileStatus] = {
    val out = scala.collection.mutable.ArrayBuffer[FileStatus]()
    def hidden(p: Path): Boolean = {
      val n = p.getName
      n.startsWith("_") || n.startsWith(".")
    }
    def walk(p: Path): Unit = {
      val entries =
        try fs.listStatus(p)
        catch {
          case _: java.io.FileNotFoundException => Array.empty[FileStatus]
        }
      entries.foreach { s =>
        if (!hidden(s.getPath)) {
          if (s.isDirectory) walk(s.getPath) else out += s
        }
      }
    }
    walk(root)
    out.toSeq
  }

  /** Sorted `path-under-root:length:mtime` of `files`, joined by `|` —
    * "" for none. Engine writes name part files by write-job UUID, so an
    * append, delete, overwrite or swap changes it within one mtime tick.
    */
  def fingerprint(fs: FileSystem, root: Path, files: Seq[FileStatus]): String = {
    val prefix = fs.makeQualified(root).toString.stripSuffix("/") + "/"
    files.map(f => s"${f.getPath.toString.stripPrefix(prefix)}:${f.getLen}:" +
      f.getModificationTime).sorted.mkString("|")
  }

  /** [[fingerprint]] of the committed [[files]] under `path`; `None` when
    * it is missing, empty or unlistable ("build, don't cache").
    */
  def fingerprint(conf: Configuration, path: String): Option[String] =
    try {
      val root = new Path(path)
      val fs = root.getFileSystem(conf)
      Some(fingerprint(fs, root, files(fs, root))).filter(_.nonEmpty)
    } catch { case _: java.io.IOException => None }
}
