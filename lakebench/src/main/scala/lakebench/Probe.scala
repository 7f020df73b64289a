package lakebench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Latency samples of one kind, in milliseconds. Thread-safe. */
final class Samples {
  private val q = new ConcurrentLinkedQueue[Double]()
  def add(ms: Double): Unit = q.add(ms)
  def sorted: Vector[Double] = q.asScala.toVector.sorted
  def clear(): Unit = q.clear()
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, and its
    * value: the sample at sorted index n-11 (nearest rank n-10, i.e. the
    * 100*(n-10)/n-th percentile). None up to 20 samples, where that rank
    * is at or under the median. */
  def tail(sorted: Vector[Double]): Option[(Double, Double)] = {
    val n = sorted.size
    if (n > 20) Some((100.0 * (n - 10) / n, sorted(n - 11))) else None
  }
}

/** One traced call: `layer` is the module the call goes into, `op` the
  * benchmark operation that caused it, `parent` the enclosing span. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      op: Long, startNs: Long, endNs: Long)

/** Spans recorded around the benchmark's calls into each layer. Off, it
  * only runs the body. Spans stay in memory until [[write]]. */
final class Tracer {
  @volatile var on = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val opId = ThreadLocal.withInitial[java.lang.Long](() => 0L)
  val baseNs: Long = System.nanoTime()
  val baseMs: Long = System.currentTimeMillis()
  def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), layer, name,
          opId.get, t0, System.nanoTime()))
        stack.set(parents)
      }
    }

  /** Run `body` as benchmark operation `n`: its own span in the `bench`
    * layer, the parent of every span the body records. */
  def op[T](n: Long, name: String)(body: => T): T = {
    opId.set(n)
    span("bench", name)(body)
  }

  def all: Vector[Span] = spans.asScala.toVector

  /** Per-layer self time in ms: each span's duration minus the part of
    * it that its children cover. */
  def selfMs: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupMapReduce(_.layer) { s =>
      val covered = Intervals.unionWithin(
        kids.getOrElse(s.id, Vector.empty).map(k => (k.startNs.toDouble, k.endNs.toDouble)),
        s.startNs.toDouble, s.endNs.toDouble)
      (s.endNs - s.startNs - covered) / 1e6
    }(_ + _)
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${s.name}",""" +
        f""""op":${s.op},"start_ms":${epochMs(s.startNs)}%.3f,"end_ms":${epochMs(s.endNs)}%.3f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Intervals {
  /** Length of the union of `iv` clipped to [lo, hi]. */
  def unionWithin(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var covered = 0.0
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
    covered
  }
}

/** Spark listeners for the traced run: job intervals, stage and task
  * counts, task time, shuffle and spill bytes, planning time
  * (QueryPlanningTracker) and streaming progress. */
final class SparkProbe extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[(Long, Long)]() // (start, end) epoch ms
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  val stages, tasks, taskRunMs, taskCpuNs, shuffleBytes, spillBytes = new AtomicLong()
  val planMs = new DoubleAdder()
  val batches = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStart.put(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(s => jobs.add((s.longValue, e.time)))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      taskCpuNs.addAndGet(m.executorCpuTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  val planning: QueryExecutionListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit =
      planMs.add(qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      batches.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(planning)
    spark.streams.addListener(streaming)
  }
  def detach(spark: SparkSession): Unit = {
    org.apache.spark.LakebenchAccess.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(planning)
    spark.streams.removeListener(streaming)
  }

  def jobIntervals: Vector[(Double, Double)] =
    jobs.asScala.toVector.map { case (a, b) => (a.toDouble, b.toDouble) }
}

/** Process-wide counters read before and after the timed phase:
  * Hadoop file-system statistics and JVM GC and thread counts. */
final case class Counters(values: Map[String, Double]) {
  def -(o: Counters): Counters =
    Counters(values.map { case (k, v) => k -> (v - o.values.getOrElse(k, 0.0)) })
  def apply(k: String): Double = values.getOrElse(k, 0.0)
}

object Counters {
  def read(): Counters = {
    val fsStats = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    def fsSum(f: org.apache.hadoop.fs.FileSystem.Statistics => Long): Double =
      fsStats.map(f).sum.toDouble
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Counters(Map(
      "fs.bytes_written" -> fsSum(_.getBytesWritten),
      "fs.bytes_read" -> fsSum(_.getBytesRead),
      "jvm.gc_ms" -> gcs.map(_.getCollectionTime.max(0L)).sum.toDouble,
      "jvm.gc_count" -> gcs.map(_.getCollectionCount.max(0L)).sum.toDouble,
      "jvm.threads_started" ->
        ManagementFactory.getThreadMXBean.getTotalStartedThreadCount.toDouble))
  }

  /** Used heap after a full collection, in MB: the least of three
    * collections a little apart, so that objects freed by reference
    * cleanup after the first are not counted. */
  def heapAfterGcMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(100)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min
}

/** Files and rows the file scans of an executed query read, from the
  * scan nodes' SQL metrics (adaptive plans included). */
object ScanStats extends AdaptiveSparkPlanHelper {
  def of(qe: QueryExecution): (Long, Long) = {
    val scans = collect(qe.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    def metric(s: org.apache.spark.sql.execution.FileSourceScanExec, k: String): Long =
      s.metrics.get(k).map(_.value).getOrElse(0L)
    (scans.map(metric(_, "numFiles")).sum, scans.map(metric(_, "numOutputRows")).sum)
  }
}
