package graft.ops

import java.io.FileNotFoundException
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, Options, Path}

/** Hadoop-FileSystem plumbing for the pipeline's non-Spark I/O: the
  * checkpoint document, the part-directory listing, the page listing.
  *
  * The reference does this work against the local filesystem
  * (`/root/reference/src/movie.py:208-222` checkpoint, `:288-293` part
  * glob); routing it through the `FileSystem`/`FileContext` API makes
  * every path scheme-aware, so the same Backfill runs unchanged against
  * `file:`, `hdfs:` or `s3a:` paths — scheme-less paths resolve through
  * `fs.defaultFS` exactly like Spark's own reads and writes.
  *
  * Writes go through [[writeAtomic]]: bytes land in a `.tmp` sibling and
  * swap in via `FileContext.rename(OVERWRITE)` — the rename is atomic on
  * HDFS and POSIX-rename locally, the scheme-portable analog of
  * `java.nio`'s `ATOMIC_MOVE` (SURVEY S10). A reader never observes a
  * half-written checkpoint.
  */
object Fs {

  /** Fresh default configuration — loads core-site/hdfs-site from the
    * classpath, so deployments configure schemes the usual Hadoop way.
    * Call sites with a SparkSession should pass
    * `spark.sparkContext.hadoopConfiguration` instead (it carries the
    * session's `spark.hadoop.*` overrides).
    */
  def defaultConf: Configuration = new Configuration()

  /** Write `bytes` to `path` atomically: create `path.tmp` (parents made,
    * existing tmp clobbered), then rename over `path` with OVERWRITE.
    */
  def writeAtomic(path: String, bytes: Array[Byte], conf: Configuration): Unit = {
    val target = new Path(path)
    val qualified = target.getFileSystem(conf).makeQualified(target)
    val fc = FileContext.getFileContext(qualified.toUri, conf)
    val tmp = new Path(qualified.getParent, qualified.getName + ".tmp")
    val out = fc.create(tmp,
      EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    try out.write(bytes) finally out.close()
    fc.rename(tmp, qualified, Options.Rename.OVERWRITE)
  }

  /** Full contents of `path`, or None when it doesn't exist. */
  def readBytes(path: String, conf: Configuration): Option[Array[Byte]] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    try {
      val in = fs.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](8192)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        Some(buf.toByteArray)
      } finally in.close()
    } catch { case _: FileNotFoundException => None }
  }

  /** Immediate children of `dir` (empty when the directory is absent). */
  def list(dir: String, conf: Configuration): Seq[FileStatus] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    try fs.listStatus(p).toSeq
    catch { case _: FileNotFoundException => Seq.empty }
  }

  /** Whether `path` exists. */
  def exists(path: String, conf: Configuration): Boolean = {
    val p = new Path(path)
    p.getFileSystem(conf).exists(p)
  }

  /** Recursively delete `path`; false when it didn't exist. */
  def delete(path: String, conf: Configuration): Boolean = {
    val p = new Path(path)
    p.getFileSystem(conf).delete(p, true)
  }
}
