package graft

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataInputStream,
  FileStatus, Path, RawLocalFileSystem}

/** The local file system under the `count:` scheme, counting the
  * metadata and read calls a table's log resolution makes: `exists`,
  * `getFileStatus`, `open` and `listStatus`, per path (the URI path,
  * scheme stripped). `exists` is answered through `getFileStatus`, so
  * it counts under both. Register it with [[CountingFileSystem.install]]
  * and address tables as `count:///tmp/...`; every
  * [[graft.operators.TxLog.latestVersion]] probes
  * `_log/_last_checkpoint` with exactly one `exists`. */
class CountingFileSystem extends RawLocalFileSystem {
  import CountingFileSystem.record

  override def getUri: URI = CountingFileSystem.Uri
  override def getScheme: String = CountingFileSystem.Scheme

  override def exists(p: Path): Boolean = { record("exists", p); super.exists(p) }
  override def getFileStatus(p: Path): FileStatus = {
    record("getFileStatus", p); super.getFileStatus(p)
  }
  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    record("open", p); super.open(p, bufferSize)
  }
  override def listStatus(p: Path): Array[FileStatus] = {
    record("listStatus", p); super.listStatus(p)
  }
}

/** [[CountingFileSystem]] for `FileContext` users (the log's CAS
  * rename and pointer install). */
class CountingFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new CountingFileSystem, conf,
      CountingFileSystem.Scheme, false)

object CountingFileSystem {
  val Scheme = "count"
  val Uri: URI = URI.create(s"$Scheme:///")

  private val counts = new ConcurrentHashMap[(String, String), AtomicLong]()

  private def record(op: String, p: Path): Unit =
    counts.computeIfAbsent((op, p.toUri.getPath), _ => new AtomicLong())
      .incrementAndGet()

  /** Register the scheme on `conf` (both FileSystem and FileContext). */
  def install(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[CountingFileSystem].getName)
    conf.set(s"fs.AbstractFileSystem.$Scheme.impl",
      classOf[CountingFs].getName)
  }

  /** Calls of `op` on `path` (a `count:` URI or a plain path) so far. */
  def count(op: String, path: String): Long =
    Option(counts.get((op, new Path(path).toUri.getPath)))
      .map(_.get).getOrElse(0L)

  /** Calls of `op` on any path under the dir `prefix` made while
    * `body` runs (same caveat as [[during]]). */
  def duringUnder[T](op: String, prefix: String)(body: => T): (T, Long) = {
    import scala.jdk.CollectionConverters._
    val dir = new Path(prefix).toUri.getPath + "/"
    def total: Long = counts.asScala.iterator.collect {
      case ((o, p), n) if o == op && p.startsWith(dir) => n.get
    }.sum
    val before = total
    val out = body
    (out, total - before)
  }

  /** Calls of `op` on `path` made while `body` runs. Counts are global
    * to the JVM, so `body` must be the only thing touching `path`. */
  def during[T](op: String, path: String)(body: => T): (T, Long) = {
    val before = count(op, path)
    val out = body
    (out, count(op, path) - before)
  }
}
