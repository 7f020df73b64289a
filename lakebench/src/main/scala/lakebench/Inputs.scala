package lakebench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.sources.Tables

/** The benchmark's inputs: the harness star-schema tables (TESTDATA.md)
  * shipped under `lakebench/data/<sf>/`, read with `Tables.load`. The
  * seed only splits them into days, chooses the restated keys, and draws
  * the op sequence and the rows of new keys from them, so the same seed
  * and data give the same inputs. */
object Inputs {
  final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
                         o_totalprice: Double, o_orderdate: Timestamp,
                         o_orderpriority: String)
  object Order {
    def of(r: Row): Order = Order(r.getAs[Long]("o_orderkey"), r.getAs[Long]("o_custkey"),
      r.getAs[String]("o_orderstatus"), r.getAs[Double]("o_totalprice"),
      r.getAs[Timestamp]("o_orderdate"), r.getAs[String]("o_orderpriority"))
  }
  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  object Doc {
    def of(r: Row): Doc = Doc(r.getAs[Long]("doc_id"), r.getAs[String]("text"),
      r.getAs[String]("lang"), r.getAs[String]("source"), r.getAs[Long]("n_chars"))
  }

  def load(ctx: Ctx, name: String): DataFrame = Tables.load(ctx.spark, ctx.data, name)

  /** `orders` on the driver, in key order. */
  def orders(ctx: Ctx): Vector[Order] =
    load(ctx, "orders").collect().map(Order.of).sortBy(_.o_orderkey).toVector
  def documents(ctx: Ctx): Vector[Doc] =
    load(ctx, "documents").collect().map(Doc.of).sortBy(_.doc_id).toVector

  def rnd(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  def shuffle[T](r: SplittableRandom, xs: Seq[T]): Vector[T] =
    xs.map(x => (r.nextDouble(), x)).sortBy(_._1).map(_._2).toVector

  def dayAfter(t: Timestamp, days: Int): Timestamp = new Timestamp(t.getTime + days * 86400000L)

  /** Write `(part, row)` pairs as parquet partitioned by a `part`
    * column named `key`, so one part reads back by partition pruning.
    * Rows are built from the case classes' fields against an explicit
    * schema (no reflective encoder). */
  def writeParts(spark: SparkSession, data: Seq[(Int, Product)], key: String, path: String): DataFrame = {
    val rows = data.map { case (k, p) => Row.fromSeq(k +: p.productIterator.toSeq) }
    val schema = StructType(StructField(key, IntegerType, nullable = false) +: schemaOf(data.head._2).fields)
    spark.createDataFrame(spark.sparkContext.parallelize(rows,
      math.max(1, math.min(spark.sparkContext.defaultParallelism, rows.size / 2000 + 1))), schema)
      .write.mode("overwrite").partitionBy(key).parquet(path)
    spark.read.parquet(path)
  }

  private def schemaOf(p: Product): StructType = StructType(p.productElementNames.toSeq
    .zip(p.productIterator.toSeq).map { case (n, v) =>
      StructField(n, v match {
        case _: Long => LongType
        case _: Double => DoubleType
        case _: String => StringType
        case _: Timestamp => TimestampType
      }, nullable = false)
    })
}
