package lakebench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** What every workload shares for one run: the session, the run's
  * scratch root, the input tables' directory, the seed, the latency
  * samples, the op and failure counts, the tracer and the per-layer
  * counters. */
final class Ctx(val spark: SparkSession, val root: Path, val data: String, val seed: Long,
                val seconds: Int, val tracer: Tracer) {
  val commits, queries, freshness = new Samples
  val attempted, failed = new AtomicLong()
  private val counters = new ConcurrentHashMap[String, DoubleAdder]()
  def count(k: String, v: Double = 1.0): Unit =
    counters.computeIfAbsent(k, _ => new DoubleAdder).add(v)
  def counter(k: String): Double = Option(counters.get(k)).map(_.sum).getOrElse(0.0)

  /** Forget the set-up's samples and counts before the timed phase. */
  def reset(): Unit = {
    Seq(commits, queries, freshness).foreach(_.clear())
    counters.clear(); attempted.set(0); failed.set(0)
  }

  /** The catalog's warehouse; a table `graft.<ns>.<t>` lives in `<wh>/<ns>/<t>`. */
  val warehouse: Path = root.resolve("wh")

  def warn(msg: String): Unit = System.err.println(s"[lakebench] $msg")

  /** One benchmark operation: counted as attempted, and as failed when
    * it throws or `check` rejects its result. */
  def op[T](n: Long, name: String)(run: => T)(check: T => Boolean): Option[T] = {
    attempted.incrementAndGet()
    try {
      val r = tracer.op(n, name)(run)
      if (check(r)) Some(r)
      else { failed.incrementAndGet(); warn(s"op $n $name: wrong result $r"); None }
    } catch {
      case NonFatal(e) =>
        failed.incrementAndGet(); warn(s"op $n $name failed: $e"); None
    }
  }

  /** Time `body` into `into`, in milliseconds. */
  def timed[T](into: Samples)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    into.add((System.nanoTime() - t0) / 1e6)
    r
  }

  /** A call into a `graft.operators.TxLog` verb. */
  def tx[T](verb: String)(body: => T): T = {
    if (tracer.on) count(s"txlog.calls.$verb")
    tracer.span("txlog", verb)(body)
  }

  /** A TxLog read verb's result, collected; in the traced run the scan
    * nodes' file and row counts are recorded against `liveFiles`. */
  def collectScan(df: DataFrame, liveFiles: => Int): Array[Row] = {
    val rows = tracer.span("spark", "collect")(df.collect())
    if (tracer.on) {
      val (files, read) = ScanStats.of(df.queryExecution)
      count("scan.queries"); count("scan.files", files.toDouble)
      count("scan.live_files", liveFiles.toDouble)
      count("scan.rows_read", read.toDouble); count("scan.rows_returned", rows.length.toDouble)
    }
    rows
  }

  /** `spark.sql(text)` through the `graft` catalog. A command (MERGE)
    * runs inside this call. */
  def sql(text: String): DataFrame = tracer.span("sources", "sql_analyze")(spark.sql(text))
  def sqlCollect(text: String): Array[Row] = {
    val df = sql(text)
    tracer.span("sources", "sql_exec")(df.collect())
  }

  def newDir(name: String): Path = Files.createDirectories(root.resolve(name))
}

/** One workload instance, owning its tables and inputs under a
  * namespace `ns` of the run root. */
trait Workload {
  /** Load the inputs, derive the run's op sequence from the seed, write
    * the timed phase's input batches, seed the tables and warm up. */
  def setup(): Unit
  /** The timed phase: the workload's fixed work. */
  def run(): Unit
  /** The final-state gate, after the timed phase. */
  def verify(): Boolean
  /** Stop every thread or stream this instance started. */
  def stop(): Unit = ()
  /** Bytes of the inputs the timed phase consumes. */
  def inputBytes: Long
  /** Base paths of the tables the workload writes. */
  def tables: Seq[String]
  /** A hash of the seeded op sequence and input split. */
  def opHash: String
}

object Gate {
  /** Multiset equality of two frames over the same columns, as equal row
    * counts and equal sums of 64-bit row hashes: one aggregate per side,
    * no shuffle of whole rows. */
  def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
    require(a.columns.toSet == b.columns.toSet, "the frames must have the same columns")
    val cols = a.columns.sorted.map(col)
    def digest(df: DataFrame) =
      df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head
    digest(a) == digest(b)
  }
}

object Files2 {
  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  def rm(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toVector.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(16)
}
