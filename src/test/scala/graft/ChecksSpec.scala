package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Checks

/** [[Checks.multisetMismatch]]: one-job multiset equality, with column
  * names resolved case-insensitively like Spark's default. */
class ChecksSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("frames whose column names differ only in case compare by " +
    "content") {
    val a = Seq((1, "x"), (2, "y"), (2, "y")).toDF("K", "v")
    assert(Checks.multisetMismatch(a,
      Seq((2, "y"), (1, "x"), (2, "y")).toDF("k", "V")).isEmpty)
    val diff = Checks.multisetMismatch(a,
      Seq((1, "x"), (2, "y")).toDF("k", "V")).collect()
    assert(diff.map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      .toSeq == Seq((2, "y", 1L)))
  }

  test("different column sets are still refused") {
    intercept[IllegalArgumentException] {
      Checks.multisetMismatch(Seq((1, "x")).toDF("k", "v"),
        Seq((1, "x")).toDF("k", "w"))
    }
  }
}
