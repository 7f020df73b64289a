package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Witness-assertion helpers shared by pipeline fixtures.
  *
  * [[multisetMismatch]] replaces the `a.exceptAll(b).isEmpty &&
  * b.exceptAll(a).isEmpty` idiom: that spelling runs TWO actions,
  * each an aggregate over BOTH inputs (exceptAll plans a full
  * count-compare join), so the equality proof cost four passes over
  * the compared tables. One ±1-weighted union + one aggregate proves
  * the same multiset equality in a single job with one shuffle —
  * at 100 TB the compare reads each side once instead of twice. */
object Checks {

  /** Rows whose multiplicities differ between `a` and `b` (by `a`'s
    * column set), with the signed multiplicity delta — EMPTY iff the
    * two frames are multiset-equal. Column names match
    * case-insensitively, like Spark's default resolution. One shuffle,
    * one action when the caller runs `.isEmpty`. */
  def multisetMismatch(a: DataFrame, b: DataFrame): DataFrame = {
    // selecting b by a's names must not silently pass a b with EXTRA
    // columns (the old exceptAll spelling raised an arity error), and
    // an input already carrying the helper names would have its data
    // overwritten before the compare — both weaken the proof
    def lower(df: DataFrame) = df.columns.map(_.toLowerCase).toSet
    require(lower(a) == lower(b),
      s"multiset compare needs identical column sets, got " +
        s"${a.columns.toSeq.sorted} vs ${b.columns.toSeq.sorted}")
    require(!lower(a).contains("__w") && !lower(a).contains("__d"),
      "multiset compare inputs must not carry the __w/__d helper names")
    val cols = a.columns.toSeq.map(col)
    // b's columns take a's spelling, so the union lines up by name
    a.select(cols: _*).withColumn("__w", lit(1L))
      .unionByName(b.select(a.columns.toSeq.map(c => col(c).as(c)): _*)
        .withColumn("__w", lit(-1L)))
      .groupBy(cols: _*).agg(sum(col("__w")).as("__d"))
      .where(col("__d") =!= 0L)
  }

  /** `require`-style one-job multiset equality assertion. */
  def requireMultisetEqual(a: DataFrame, b: DataFrame, msg: String): Unit =
    require(multisetMismatch(a, b).isEmpty, msg)
}
