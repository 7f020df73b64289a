package graft

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.TxLog

/** Times the MOR verbs near the sizes where their driver-side key sets
  * and masks give way to the join route and the distributed mask
  * build: a `mergeMor` of N scattered keys (half of them matched) and a
  * `deleteRangeMor` of M rows, on a table of R rows in 16
  * range-clustered files. Each op runs on a fresh copy of the table,
  * `reps` times; the median wall time and Spark job count are printed
  * per op. Run it on two trees to compare their routes:
  *   sbt -batch "Test/runMain graft.TxDmlBoundsProbeMain [rows] [reps]"
  * Numbers go to BENCH_NOTES.md ("Driver-side bounds"). */
object TxDmlBoundsProbeMain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val nRows = if (args.nonEmpty) args(0).toLong else 4000000L
    val reps = if (args.length > 1) args(1).toInt else 3
    val root = "/tmp/graft_txdmlbounds"
    val seed = s"$root/seed"
    TxLog.drop(spark, seed)
    TxLog.commit(spark.range(nRows).select(col("id").as("k"),
        concat(lit("s-"), col("id")).as("s"), (col("id") * 1.0).as("v"))
      .repartitionByRange(16, col("k")), seed, None, Some("k"))
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(root).getFileSystem(hconf)
    def fresh(): String = {
      val base = s"$root/run"
      fs.delete(new Path(base), true)
      FileUtil.copy(fs, new Path(seed), fs, new Path(base), false, hconf)
      TxLog.read(spark, base).count()
      base
    }

    /** N keys: N/2 existing ones spread over the whole table, N/2 new. */
    def source(n: Long) = {
      val step = math.max(1L, nRows / (n / 2))
      spark.range(n / 2).select((col("id") * step + 7).as("k"))
        .union(spark.range(n - n / 2).select((col("id") + nRows).as("k")))
        .select(col("k"), concat(lit("m-"), col("k")).as("s"),
          (col("k") * 0.5).as("v"))
    }

    val ops: Seq[(String, String => Unit)] =
      Seq(1000L, 3000L, 10000L, 30000L, 100000L).map(n =>
        s"mergeMor $n keys" -> ((b: String) =>
          { TxLog.mergeMor(spark, b, source(n), Seq("k"), "k"); () })) ++
      Seq(3000L, 10000L, 30000L, 100000L, 300000L).filter(_ <= nRows).map(m =>
        s"deleteRangeMor $m rows" -> ((b: String) =>
          { TxLog.deleteRangeMor(spark, b, "k", 0L, m - 1); () }))
    // JIT and caches
    Seq((b: String) => TxLog.mergeMor(spark, b, source(1000L), Seq("k"), "k"),
      (b: String) => TxLog.deleteRangeMor(spark, b, "k", 0L, 999L))
      .foreach(op => op(fresh()))
    ops.foreach { case (label, op) =>
      val runs = (0 until reps).map { _ =>
        val base = fresh()
        val t0 = System.nanoTime()
        val (_, jobs) = SparkTestBase.jobsDuring(op(base))
        ((System.nanoTime() - t0) / 1e6, jobs)
      }
      val ms = runs.map(_._1).sorted
      println(f"$label%-26s median ${ms(ms.size / 2)}%8.0f ms  " +
        s"runs ${ms.map(m => f"$m%.0f").mkString("/")} ms  jobs ${runs.map(_._2).mkString("/")}")
    }
    spark.stop()
  }
}
