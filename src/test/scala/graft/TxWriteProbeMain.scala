package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.TxLog

/** Measures the two write routes into the log at 20M rows / 32 tasks:
  *   (a) TxLog.commit — Spark's vectorized parquet writer + one
  *       read-back stats scan of the landed txn dir;
  *   (b) df.write via the DSv2 sink — Spark's parquet writer fed row
  *       by row, stats tracked inline (no read-back).
  * Run: sbt -batch "Test/runMain graft.TxWriteProbeMain"
  * Numbers go to BENCH_NOTES.md. */
object TxWriteProbeMain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val nRows = if (args.nonEmpty) args(0).toLong else 20_000_000L
    def table = spark.range(0, nRows)
      .select(col("id").as("k"),
        (col("id") % 97).cast("double").as("v"),
        md5(col("id").cast("string")).as("payload"))
      .repartitionByRange(32, col("k"))

    def timed[T](label: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"$label%-34s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    val a = "/tmp/graft_txwrite_probe/api"
    val b = "/tmp/graft_txwrite_probe/dsv2"
    TxLog.drop(spark, a); TxLog.drop(spark, b)

    timed("TxLog.commit (vectorized+readback)") {
      TxLog.commit(table, a, None, Some("k"))
    }
    timed("df.write DSv2 (Group, inline stats)") {
      table.write.format("graft.sources.TxLogSource")
        .option("statsColumns", "k").mode("overwrite").save(b)
    }
    def check(base: String) = TxLog.read(spark, base)
      .agg(count(lit(1)), sum(col("v")).cast("decimal(20,2)")).head()
    val (ca, cb) = (check(a), check(b))
    println(s"checksums identical=${ca == cb} ($ca)")
    val (ea, eb) = (TxLog.manifest(spark, a, 1L)._1,
      TxLog.manifest(spark, b, 1L)._1)
    println(s"entries: api=${ea.size} files, dsv2=${eb.size} files; " +
      s"stats present: api=${ea.forall(_.statsFor("k").isDefined)} " +
      s"dsv2=${eb.forall(_.statsFor("k").isDefined)}")

    TxLog.drop(spark, a); TxLog.drop(spark, b)
    spark.stop()
  }
}
