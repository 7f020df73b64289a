package lakebench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.operators.TxLog

/** The lakehouse benchmark. One run: start a session, set the
  * workload up (load its inputs, derive the op sequence from the seed,
  * seed its tables and warm up), run its timed phase, check the final
  * state, print the metrics and delete the run's scratch root.
  *
  * {{{
  * lakebench.Main --workload batch_refresh|upsert_cdc --data DIR
  *                --seed N --seconds S --trace 0|1 [--tmp DIR] [--out DIR]
  * }}}
  *
  * `--data` is a directory of the harness tables (`orders.parquet`, ...).
  * The last line of standard output is one JSON object with `correct`,
  * `attempted`, `failed` and `metrics`: the end-to-end metrics with
  * `--trace 0`, the per-layer metrics with `--trace 1`. */
object Main {
  val workloads = Seq("batch_refresh", "upsert_cdc")

  /** Fixed work for a run of `seconds`, sized so that one run takes
    * about that long on 4 cores, and so that a run has more than 20
    * queries (and, on upsert_cdc, more than 20 commits), so that every
    * tail lies above the median. */
  private def make(name: String, ctx: Ctx): Workload = name match {
    case "batch_refresh" => new BatchRefresh(ctx, "br", days = math.max(1, ctx.seconds / 12))
    case "upsert_cdc" => new UpsertCdc(ctx, "uc", rounds = math.max(2, ctx.seconds / 5))
  }

  val txlogVerbs = Seq("append", "commit", "read", "readPoint", "readRange", "readVersion",
    "deleteWhereMor", "updateRangeMor", "compact", "vacuum", "applyChanges", "latestVersion")
  private val commitVerbs = Set("append", "commit", "deleteWhereMor", "updateRangeMor",
    "compact", "applyChanges")
  val layers = Seq("bench", "models", "operators", "sources", "txlog", "streaming", "spark")

  val perLayer: Seq[(String, String)] = Seq(
    "models.silver_merge_ms" -> "ms", "models.gold_build_ms" -> "ms",
    "operators.curate_ms" -> "ms", "operators.docs_kept_ratio" -> "ratio",
    "operators.pairs" -> "count",
    "sources.sql_analyze_ms" -> "ms", "sources.sql_exec_ms" -> "ms") ++
    txlogVerbs.map(v => s"txlog.calls.$v" -> "count") ++ Seq(
    "txlog.commit_tail_ms" -> "ms",
    "txlog.verb_ms" -> "ms", "txlog.outside_jobs_ms" -> "ms", "txlog.jobs_per_commit" -> "count",
    "txlog.resolve_ms" -> "ms", "txlog.versions" -> "count", "txlog.checkpoints" -> "count",
    "txlog.log_files" -> "count", "txlog.log_bytes" -> "bytes", "txlog.live_files" -> "count",
    "txlog.files_scanned_per_query" -> "count", "txlog.skip_ratio" -> "ratio",
    "txlog.rows_read_per_row_returned" -> "ratio",
    "streaming.batches" -> "count", "streaming.empty_batch_ratio" -> "ratio",
    "streaming.latest_offset_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms", "streaming.apply_ms" -> "ms",
    "streaming.versions_per_batch" -> "count", "streaming.freshness_tail_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.job_ms" -> "ms", "spark.task_ms" -> "ms", "spark.task_cpu_ms" -> "ms",
    "spark.task_ms_per_wall_s" -> "ms/s", "spark.plan_ms" -> "ms",
    "spark.shuffle_bytes" -> "bytes", "spark.spill_bytes" -> "bytes", "spark.slot_util" -> "ratio",
    "fs.bytes_written" -> "bytes", "fs.bytes_read" -> "bytes",
    "jvm.gc_ms" -> "ms", "jvm.gc_count" -> "count", "jvm.threads_started" -> "count",
    "driver.outside_jobs_ms" -> "ms", "driver.outside_jobs_share" -> "ratio") ++
    layers.map(l => s"self.${l}_ms" -> "ms") ++ Seq("trace.wall_s" -> "s", "trace.spans" -> "count")

  final case class Result(correct: Boolean, attempted: Long, failed: Long,
                          metrics: Seq[(String, Double, String)], detail: String)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opts.getOrElse("workload", sys.error("--workload is required"))
    require(workloads.contains(name), s"unknown workload $name")
    val data = opts.getOrElse("data", sys.error("--data is required"))
    require(Files.isRegularFile(Paths.get(data, "orders.parquet")), s"no input tables in $data")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val tmp = Paths.get(opts.getOrElse("tmp", ".bench_tmp")).toAbsolutePath
    val out = Paths.get(opts.getOrElse("out", ".bench_out")).toAbsolutePath
    val root = Files.createDirectories(tmp).resolve(s"run-${java.util.UUID.randomUUID()}")
    Files.createDirectories(root)
    var spark: SparkSession = null
    try {
      val t0 = System.nanoTime()
      spark = session(root)
      val r = runOne(spark, name, new Ctx(spark, root, data, seed, seconds, new Tracer), t0, trace, out)
      println(r.detail)
      r.metrics.foreach { case (k, v, u) => println(f"  $name%-14s $k%-34s $v%14.4f $u") }
      println(s"""{"correct": ${r.correct}, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
        """"metrics": {""" +
        r.metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ") + "}}")
    } finally {
      if (spark != null) spark.stop()
      Files2.rm(root)
    }
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def session(root: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("lakebench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("spark-warehouse").toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.sources.TxLogCatalog")
      .config("spark.sql.catalog.graft.warehouse", root.resolve("wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Set up, run and check workload `name`; `start` is when the session
    * began starting, so that `setup_s` covers it. */
  private def runOne(spark: SparkSession, name: String, ctx: Ctx, start: Long, trace: Boolean,
                     out: Path): Result = {
    val tracer = ctx.tracer
    val w = make(name, ctx)
    w.setup()
    require(ctx.failed.get == 0, s"$name: ${ctx.failed.get} operations failed during set-up")
    val setupS = (System.nanoTime() - start) / 1e9
    ctx.reset()

    val probe = if (trace) Some(new SparkProbe) else None
    org.apache.spark.LakebenchAccess.drainListenerBus(spark.sparkContext)
    probe.foreach(_.attach(spark))
    tracer.on = trace
    val c0 = Counters.read()
    val t0 = System.nanoTime()
    val t0Ms = tracer.epochMs(t0)
    try w.run()
    catch { case NonFatal(e) => ctx.failed.incrementAndGet(); ctx.warn(s"$name timed phase failed: $e") }
    val t1 = System.nanoTime()
    val wallS = (t1 - t0) / 1e9
    tracer.on = false
    val delta = Counters.read() - c0
    probe.foreach(_.detach(spark))
    val heapMb = Counters.heapAfterGcMb()

    val tv = System.nanoTime()
    val gateOk = try w.verify() catch { case NonFatal(e) => ctx.warn(s"$name gate failed: $e"); false }
    val verifyS = (System.nanoTime() - tv) / 1e9
    w.stop()
    val tableBytes = w.tables.map(t => Files2.du(Paths.get(t))).sum
    val liveBytes = w.tables.map { t =>
      TxLog.latestVersion(spark, t).map(v => TxLog.manifest(spark, t, v)._1
        .map(e => Files.size(Paths.get(TxLog.resolve(t, e.path)))).sum).getOrElse(0L)
    }.sum

    val (commits, queries, freshness) = (ctx.commits.sorted, ctx.queries.sorted, ctx.freshness.sorted)
    val queryTail = Stats.tail(queries)
    require(queryTail.isDefined, s"$name: ${queries.size} queries, too few for a tail above the median")
    val attempted = ctx.attempted.get
    val failed = ctx.failed.get
    val metrics =
      if (!trace) Seq(
        ("setup_s", setupS, "s"), ("wall_s", wallS, "s"),
        ("commit_p50_ms", Stats.median(commits), "ms"),
        ("query_p50_ms", Stats.median(queries), "ms"), ("query_tail_ms", queryTail.get._2, "ms"),
        ("freshness_p50_ms", Stats.median(freshness), "ms"),
        ("write_amp", delta("fs.bytes_written") / math.max(1L, w.inputBytes), "ratio"),
        ("space_amp", tableBytes.toDouble / math.max(1L, liveBytes), "ratio"),
        ("heap_after_gc_mb", heapMb, "MB"))
      else {
        val values = layerMetrics(spark, ctx, tracer, probe.get, delta, w, t0Ms, tracer.epochMs(t1), wallS) ++
          Stats.tail(commits).map("txlog.commit_tail_ms" -> _._2) ++
          Stats.tail(freshness).map("streaming.freshness_tail_ms" -> _._2)
        perLayer.map { case (k, u) => (k, values.getOrElse(k, 0.0), u) }
      }
    if (trace) {
      Files.createDirectories(out)
      tracer.write(out.resolve(s"spans-$name-${ctx.seed}.jsonl"))
      Files.write(out.resolve(s"selftime-$name-${ctx.seed}.json"), java.util.List.of(
        tracer.selfMs.toSeq.sortBy(_._1).map { case (l, ms) => f""""$l": $ms%.3f""" }
          .mkString("{", ", ", "}")))
    }
    def pct(xs: Vector[Double]) = Stats.tail(xs).map(t => num(t._1)).getOrElse("null")
    val detail =
      s"""{"lakebench": {"workload": "$name", "seed": ${ctx.seed}, "seconds": ${ctx.seconds}, """ +
        s""""data": "${Paths.get(ctx.data).getFileName}", "trace": $trace, "op_hash": "${w.opHash}", """ +
        s""""setup_s": ${num(setupS)}, "verify_s": ${num(verifyS)}, """ +
        s""""gate": $gateOk, "fail_ratio": ${num(failed.toDouble / math.max(1L, attempted))}, """ +
        s""""samples": {"commit": ${commits.size}, "query": ${queries.size}, "freshness": ${freshness.size}}, """ +
        s""""tail_pct": {"commit": ${pct(commits)}, "query": ${pct(queries)}, "freshness": ${pct(freshness)}}}}"""
    Result(gateOk && failed == 0, math.max(1L, attempted), failed, metrics, detail)
  }

  /** The traced run's per-layer numbers. */
  private def layerMetrics(spark: SparkSession, ctx: Ctx, tracer: Tracer, probe: SparkProbe,
                           delta: Counters, w: Workload, t0Ms: Double, t1Ms: Double,
                           wallS: Double): Map[String, Double] = {
    val spans = tracer.all
    def total(layer: String, name: String) =
      spans.filter(s => s.layer == layer && s.name == name).map(s => (s.endNs - s.startNs) / 1e6).sum
    val jobs = probe.jobIntervals
    val jobMs = Intervals.unionWithin(jobs, t0Ms, t1Ms)
    val tx = spans.filter(_.layer == "txlog")
    def outsideJobs(s: Span) = {
      val (a, b) = (tracer.epochMs(s.startNs), tracer.epochMs(s.endNs))
      b - a - Intervals.unionWithin(jobs, a, b)
    }
    val commits = tx.filter(s => commitVerbs(s.name))
    val jobsInCommits = jobs.count { case (start, _) =>
      commits.exists(s => start >= tracer.epochMs(s.startNs) && start <= tracer.epochMs(s.endNs))
    }
    val resolves = tx.filter(_.name == "latestVersion")
    val progress = probe.batches.asScala.toVector
    def durations(k: String) = progress.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
    val versionRe = "\"version\":(\\d+)".r
    def version(json: String) = Option(json).flatMap(versionRe.findFirstMatchIn(_)).map(_.group(1).toLong)
    val versionsPerBatch = progress.flatMap { p =>
      p.sources.headOption.flatMap(s => version(s.endOffset).map(_ - version(s.startOffset).getOrElse(0L)))
    }
    val logs = w.tables.map(t => Paths.get(t, "_log")).filter(Files.exists(_))
    val logFiles = logs.flatMap(l => Files.list(l).iterator.asScala.toVector)
    val taskMs = probe.taskRunMs.get.toDouble
    val cores = spark.sparkContext.defaultParallelism
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    Map(
      "models.silver_merge_ms" -> total("models", "silver_merge"),
      "models.gold_build_ms" -> total("models", "gold_build"),
      "operators.curate_ms" -> total("operators", "curate"),
      "operators.docs_kept_ratio" -> ratio(ctx.counter("operators.docs_kept"), ctx.counter("operators.docs_in")),
      "operators.pairs" -> ctx.counter("operators.pairs"),
      "sources.sql_analyze_ms" -> total("sources", "sql_analyze"),
      "sources.sql_exec_ms" -> total("sources", "sql_exec"),
      "txlog.verb_ms" -> tx.map(s => (s.endNs - s.startNs) / 1e6).sum,
      "txlog.outside_jobs_ms" -> tx.map(outsideJobs).sum,
      "txlog.jobs_per_commit" -> ratio(jobsInCommits, commits.size),
      "txlog.resolve_ms" -> ratio(resolves.map(s => (s.endNs - s.startNs) / 1e6).sum, resolves.size),
      "txlog.versions" -> w.tables.flatMap(t => TxLog.latestVersion(spark, t)).sum.toDouble,
      "txlog.checkpoints" -> logFiles.count(_.getFileName.toString.contains(".ckpt")).toDouble,
      "txlog.log_files" -> logFiles.size.toDouble,
      "txlog.log_bytes" -> logFiles.map(Files.size).sum.toDouble,
      "txlog.live_files" -> w.tables.flatMap(t =>
        TxLog.latestVersion(spark, t).map(v => TxLog.manifest(spark, t, v)._1.size)).sum.toDouble,
      "txlog.files_scanned_per_query" -> ratio(ctx.counter("scan.files"), ctx.counter("scan.queries")),
      "txlog.skip_ratio" ->
        (if (ctx.counter("scan.live_files") > 0) 1 - ctx.counter("scan.files") / ctx.counter("scan.live_files") else 0.0),
      "txlog.rows_read_per_row_returned" ->
        ratio(ctx.counter("scan.rows_read"), ctx.counter("scan.rows_returned")),
      "streaming.batches" -> progress.size.toDouble,
      "streaming.empty_batch_ratio" -> ratio(progress.count(_.numInputRows == 0), progress.size),
      "streaming.latest_offset_ms" -> durations("latestOffset"),
      "streaming.query_planning_ms" -> durations("queryPlanning"),
      "streaming.wal_commit_ms" -> durations("walCommit"),
      "streaming.add_batch_ms" -> durations("addBatch"),
      "streaming.commit_offsets_ms" -> durations("commitOffsets"),
      "streaming.apply_ms" -> total("streaming", "apply"),
      "streaming.versions_per_batch" -> ratio(versionsPerBatch.sum, versionsPerBatch.size),
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> probe.stages.get.toDouble,
      "spark.tasks" -> probe.tasks.get.toDouble,
      "spark.job_ms" -> jobMs,
      "spark.task_ms" -> taskMs,
      "spark.task_cpu_ms" -> probe.taskCpuNs.get / 1e6,
      "spark.task_ms_per_wall_s" -> taskMs / wallS,
      "spark.plan_ms" -> probe.planMs.sum,
      "spark.shuffle_bytes" -> probe.shuffleBytes.get.toDouble,
      "spark.spill_bytes" -> probe.spillBytes.get.toDouble,
      "spark.slot_util" -> ratio(taskMs, jobMs * cores),
      "driver.outside_jobs_ms" -> (wallS * 1000 - jobMs),
      "driver.outside_jobs_share" -> (1 - jobMs / (wallS * 1000)),
      "trace.wall_s" -> wallS,
      "trace.spans" -> spans.size.toDouble) ++
      txlogVerbs.map(v => s"txlog.calls.$v" -> ctx.counter(s"txlog.calls.$v")) ++
      delta.values ++
      tracer.selfMs.map { case (l, ms) => s"self.${l}_ms" -> ms }
  }
}
