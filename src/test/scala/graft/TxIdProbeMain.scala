package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.TxLog
object TxIdProbeMain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val n = 20_000_000L
    def batch = spark.range(0, n).select(
      (col("id") % 97).cast("double").as("v"),
      md5(col("id").cast("string")).as("payload"))
      .repartition(32)
    val plain = "/tmp/graft_txid_probe/plain"
    val ident = "/tmp/graft_txid_probe/ident"
    TxLog.drop(spark, plain); TxLog.drop(spark, ident)
    def timed[T](l: String)(b: => T): T = {
      val t0 = System.nanoTime(); val r = b
      println(f"$l%-40s ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    timed("plain commit (20M, no identity)") {
      TxLog.commit(batch, plain, None, None) }
    timed("appendIdentity (20M, dense ids)") {
      TxLog.appendIdentity(batch, ident, "row_id") }
    val hw = TxLog.metaOf(spark, ident, 1L).identity("row_id")
    val distinct = TxLog.read(spark, ident)
      .agg(countDistinct(col("row_id"))).head().getLong(0)
    println(s"high-water=$hw (expect $n) distinct=$distinct dense=${hw == n && distinct == n}")
    TxLog.drop(spark, plain); TxLog.drop(spark, ident)
    spark.stop()
  }
}
