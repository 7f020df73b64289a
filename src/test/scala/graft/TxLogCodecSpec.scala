package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TxLog

/** The DSv2 source's parquet codec, one type matrix end to end: a
  * table of every column type the log carries (NULLs in each) is
  * written once through the DSv2 sink (`writeTo(...).append()`) and
  * once through [[TxLog.commit]], then read back through the DSv2
  * source four ways — a plain columnar scan, a scan mixing masked and
  * clean files after a MOR delete, a typed change feed across a MOR
  * delete and a MOR update (the keepOnly slices), and `_row_id` on the
  * row-tracked table — each compared row for row with the TxLog
  * verbs' own reads. */
class TxLogCodecSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val root = "/tmp/graft_txcodec"
  private val source = "graft.sources.TxLogSource"

  /** 60 rows, 3 range files on `k`; every other column is NULL on
    * some rows, and the nested ones hold NULL fields, elements and
    * values. */
  private def matrix(s: SparkSession): DataFrame =
    s.range(60).selectExpr(
      "id AS k",
      "CASE WHEN id % 7 = 0 THEN NULL ELSE id * 1000000007 END AS l",
      "CASE WHEN id % 7 = 1 THEN NULL ELSE CAST(id * 3 - 90 AS INT) END AS i",
      "CASE WHEN id % 7 = 2 THEN NULL ELSE CAST(id * 500 - 15000 AS SMALLINT) END AS sh",
      "CASE WHEN id % 7 = 3 THEN NULL ELSE CAST(id * 2 - 60 AS TINYINT) END AS by",
      "CASE WHEN id % 7 = 4 THEN NULL ELSE id * 1.5 - 7.25 END AS d",
      "CASE WHEN id % 7 = 5 THEN NULL ELSE CAST(id / 4.0 AS FLOAT) END AS f",
      "CASE WHEN id % 7 = 6 THEN NULL ELSE id % 2 = 0 END AS bo",
      "CASE WHEN id % 5 = 0 THEN NULL ELSE concat('s-', id, '-ü') END AS s",
      "CASE WHEN id % 5 = 1 THEN NULL ELSE CAST(concat('b', id) AS BINARY) END AS bi",
      "CASE WHEN id % 5 = 2 THEN NULL ELSE date_add(DATE'2020-02-28', CAST(id AS INT)) END AS dt",
      "CASE WHEN id % 5 = 3 THEN NULL ELSE timestamp_micros(1600000000000000 + id * 3601234567) END AS ts",
      "CASE WHEN id % 5 = 4 THEN NULL ELSE CAST(timestamp_micros(1500000000000000 + id * 61000001) AS TIMESTAMP_NTZ) END AS tn",
      "CASE WHEN id % 6 = 0 THEN NULL ELSE CAST(id * 1.25 - 30 AS DECIMAL(10,2)) END AS d10",
      "CASE WHEN id % 6 = 1 THEN NULL ELSE CAST(concat(CASE WHEN id % 2 = 0 THEN '-' ELSE '' END, id * 98765, '123456789012.12345') AS DECIMAL(30,5)) END AS d30",
      "CASE WHEN id % 6 = 2 THEN NULL ELSE named_struct('a', CASE WHEN id % 4 = 0 THEN NULL ELSE CAST(id AS INT) END, 'b', concat('n', id)) END AS st",
      "CASE WHEN id % 6 = 3 THEN NULL WHEN id % 6 = 4 THEN array() ELSE array(named_struct('x', id, 'y', CAST(NULL AS STRING)), CAST(NULL AS STRUCT<x: BIGINT, y: STRING>), named_struct('x', id + 1, 'y', 'q')) END AS ar",
      "CASE WHEN id % 6 = 5 THEN NULL WHEN id % 6 = 0 THEN map() ELSE map('a', id, 'b', CASE WHEN id % 3 = 0 THEN NULL ELSE id * 2 END) END AS mp")
      .repartitionByRange(3, col("k"))

  private lazy val cols = matrix(spark).columns.toSeq

  private def rows(df: DataFrame, extra: String*): Seq[Row] =
    df.select((cols ++ extra).map(col): _*).collect().toSeq
      .sortBy(r => (r.getLong(0), extra.map(e => String.valueOf(r.getAs[Any](e))).mkString))

  private def sameRows(what: String, got: Seq[Row], want: Seq[Row]): Unit = {
    assert(got.nonEmpty, s"$what: no rows")
    assert(got.size == want.size, s"$what: ${got.size} rows, want ${want.size}")
    got.zip(want).foreach { case (g, w) =>
      assert(g == w, s"$what: row\n  $g\nwant\n  $w")
    }
  }

  private def scan(base: String): DataFrame = spark.read.format(source).load(base)
  private def isColumnar(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("ColumnarToRow")

  /** The four DSv2 reads on one written copy, each against TxLog's. */
  private def readsMatch(base: String): Unit = {
    // 1. a plain scan: every file clean, Spark's columnar batches
    assert(isColumnar(scan(base)), "a clean snapshot scans columnar")
    sameRows("plain scan", rows(scan(base)), rows(TxLog.read(spark, base)))

    // 2. MOR delete masks rows of the first file only: the scan mixes
    //    masked and clean files, so every partition serves rows
    TxLog.deleteRangeMor(spark, base, "k", 5L, 12L)
    val vDel = TxLog.latestVersion(spark, base).get
    assert(TxLog.manifest(spark, base, vDel)._1.count(_.dv.isDefined) == 1)
    assert(!isColumnar(scan(base)), "a masked snapshot scans rows")
    val afterDel = rows(TxLog.read(spark, base))
    assert(afterDel.size == 52)
    sameRows("masked scan", rows(scan(base)), afterDel)

    // 3. MOR update of rows in the middle file, then the typed change
    //    feed: the delete's and the pre-image's rows come from keepOnly
    //    slices of still-live files
    TxLog.updateRangeMor(spark, base, "k", 25L, 31L,
      Map("s" -> concat(coalesce(col("s"), lit("")), lit("-u")),
        "i" -> lit(null).cast("int")))
    val vUpd = TxLog.latestVersion(spark, base).get
    val feed = spark.read.format(source).option("changeFeedTypes", "true")
      .load(base)
    def changes(v: Long, kind: String): Seq[Row] =
      rows(feed.where(col("_commit_version") === v &&
        col("_change_type") === kind))
    def inRange(df: DataFrame, lo: Long, hi: Long): Seq[Row] =
      rows(df.where(col("k").between(lo, hi)))
    sameRows("feed delete", changes(vDel, "delete"),
      inRange(TxLog.readVersion(spark, base, vDel - 1), 5L, 12L))
    sameRows("feed update_preimage", changes(vUpd, "update_preimage"),
      inRange(TxLog.readVersion(spark, base, vUpd - 1), 25L, 31L))
    sameRows("feed update_postimage", changes(vUpd, "update_postimage"),
      inRange(TxLog.readVersion(spark, base, vUpd), 25L, 31L))

    // 4. `_row_id` on the row-tracked table: masked, updated and clean
    //    files all serve the API verb's ids
    TxLog.enableRowTracking(spark, base)
    sameRows("_row_id scan",
      rows(spark.read.format(source).option("rowIds", "true").load(base),
        "_row_id"),
      rows(TxLog.readWithRowIds(spark, base), "_row_id"))
  }

  test("a type matrix written through the DSv2 sink reads back the " +
    "same through every DSv2 decode path") {
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.graft", "graft.sources.TxLogCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", s"$root/wh")
    val base = s"$root/wh/ns/codec"
    TxLog.drop(s, base)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.ns")
    s.sql(s"CREATE TABLE graft.ns.codec (${matrix(s).schema.toDDL}) " +
      s"USING $source")
    matrix(s).writeTo("graft.ns.codec").append()
    assert(TxLog.read(spark, base).count() == 60L)
    assert(TxLog.manifest(spark, base, TxLog.latestVersion(spark, base).get)
      ._1.size == 3)
    sameRows("sink round trip", rows(TxLog.read(spark, base)), rows(matrix(spark)))
    readsMatch(base)
  }

  test("a type matrix written through TxLog.commit reads back the " +
    "same through every DSv2 decode path") {
    val base = s"$root/commit"
    TxLog.drop(spark, base)
    TxLog.commit(matrix(spark), base, None, Some("k"))
    assert(TxLog.manifest(spark, base, 1L)._1.size == 3)
    sameRows("commit round trip", rows(TxLog.read(spark, base)),
      rows(matrix(spark)))
    readsMatch(base)
  }
}
