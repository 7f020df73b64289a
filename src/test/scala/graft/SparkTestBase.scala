package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (forked test JVM). ANSI is
  * left ON — the driver's entry() session has it on, so operators must
  * be ANSI-safe (try_cast for lenient parses). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** Collect `df` and return the data files its TxLog DSv2 scan
    * planned (adaptive plans included), or None when `df` read through
    * no such scan. */
  def plannedFiles(df: org.apache.spark.sql.DataFrame): Option[Set[String]] = {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    object Plans
        extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    df.collect()
    Plans.collect(df.queryExecution.executedPlan) {
      case b: BatchScanExec => b.inputPartitions
    }.headOption.map(_.map {
      case p: graft.sources.TxLogInputPartition => p.file
    }.toSet)
  }

  /** Run `body` and count the Spark jobs it starts from this thread
    * (tagged, so a stream another suite left running is not counted).
    * The listener bus is drained before the count is read, so no
    * late event is missed. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"jobsDuring-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p =>
            Option(p.getProperty("spark.job.tags")))
            .exists(_.split(',').contains(tag))) jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.addJobTag(tag)
    try {
      val out = body
      org.apache.spark.GraftTestAccess.drainListenerBus(sc)
      (out, jobs.get)
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(l)
    }
  }
}
