package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** dbt-schema-test equivalents (SURVEY §5): each check compiles to a
  * query that must return zero rows, exactly like dbt's generated SQL
  * (`SELECT key FROM t GROUP BY key HAVING count(*) > 1`, etc. —
  * dbt/models/staging/schema.yml:8-51, dbt/models/marts/schema.yml).
  */
object Quality {

  /** Offending keys for a `unique` test — empty result = pass. */
  def uniqueViolations(df: DataFrame, key: String): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as("n_rows"))
      .where(col("n_rows") > 1)

  /** Run all checks and return one summary frame
    * (check_name, n_violations) — the shape of the reference's
    * `dbt_test` stage output.
    *
    * Scale shape: all not_null and accepted_values checks are
    * CONDITIONAL AGGREGATES in a single scan of `df` (k checks != k
    * jobs). Uniqueness, which needs a per-key groupBy, also costs one
    * scan per key but its shuffle payload is only (key, count) partial
    * aggregates. With zero configured checks this returns an empty
    * (check_name, n_violations) frame rather than throwing.
    */
  def report(df: DataFrame, uniqueKeys: Seq[String], notNullCols: Seq[String],
             accepted: Map[String, Seq[String]]): DataFrame = {
    val spark = df.sparkSession
    import org.apache.spark.sql.types._
    val emptySchema = StructType(Seq(
      StructField("check_name", StringType), StructField("n_violations", LongType)))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], emptySchema)

    // One-pass conditional aggregates for row-predicate checks.
    val rowChecks: Seq[(String, Column)] =
      notNullCols.map(c =>
        s"not_null_$c" -> sum(when(col(c).isNull, 1L).otherwise(0L))) ++
      accepted.toSeq.map { case (c, vs) =>
        s"accepted_values_$c" ->
          sum(when(col(c).isNotNull && !col(c).isin(vs: _*), 1L).otherwise(0L))
      }
    val rowReport: Option[DataFrame] =
      if (rowChecks.isEmpty) None
      else Some {
        val agg = df.agg(rowChecks.head._2.as("c0"),
          rowChecks.tail.zipWithIndex.map { case ((_, e), i) => e.as(s"c${i + 1}") }: _*)
        val pairs = rowChecks.zipWithIndex.map { case ((name, _), i) =>
          struct(lit(name).as("check_name"),
            coalesce(col(s"c$i"), lit(0L)).as("n_violations"))
        }
        agg.select(explode(array(pairs: _*)).as("kv")).select("kv.*")
      }

    val uniqReports: Seq[DataFrame] = uniqueKeys.map { key =>
      uniqueViolations(df, key)
        .agg(count(lit(1)).as("n_violations"))
        .select(lit(s"unique_$key").as("check_name"),
          col("n_violations").cast("long").as("n_violations"))
    }

    (rowReport.toSeq ++ uniqReports)
      .reduceOption(_.unionByName(_)).getOrElse(empty)
  }
}
