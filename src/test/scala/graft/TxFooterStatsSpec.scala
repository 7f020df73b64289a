package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.TxLog

/** Law for the inline stats the land writer tracks: whatever path
  * collected them — the writer's inline tracker or the scan-back
  * aggregate it falls back to — a commit's manifest stats must be
  * BYTE-EQUAL to the scan definition
  * `min(cast(col AS castType)).cast(string)` / `max(...)`, per file,
  * for every dtype in the stats matrix and for the shapes that force
  * the fallback (NaN / signed-zero doubles, dates outside 0001–9999,
  * nested leaves), through both writers: the API land
  * (`TxLog.commitMulti`) and the DSv2 sink (`statsColumns`, top-level
  * columns only). Readers compare these strings (pruning soundness)
  * and witnesses expose them (DESCRIBE DETAIL), so parity is
  * exactness, not just soundness. */
class TxFooterStatsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def castType(dtype: String): String = dtype match {
    case "long" => "long"; case "double" => "double"; case _ => "string"
  }

  /** Recompute one landed file's stats THE SCAN WAY and compare with
    * the manifest entry. */
  private def assertParity(base: String, statsCols: Seq[(String, String)],
                           v: Long = 1L): Unit = {
    val (entries, _) = TxLog.manifest(spark, base, v)
    assert(entries.nonEmpty)
    entries.foreach { e =>
      val raw = spark.read.parquet(s"$base/${e.path}")
      val aggs = count(lit(1)).as("__rows") +: statsCols.flatMap {
        case (c, t) =>
          Seq(min(col(c).cast(castType(t))).cast("string"),
            max(col(c).cast(castType(t))).cast("string"))
      }
      val r = raw.agg(aggs.head, aggs.tail: _*).collect()(0)
      assert(e.rows == r.getLong(0), s"${e.path}: row count")
      statsCols.zipWithIndex.foreach { case ((c, t), i) =>
        val (mn, mx) = (Option(r.getString(1 + 2 * i)),
          Option(r.getString(2 + 2 * i)))
        val st = e.statsFor(c)
        assert(st.map(_.min) == mn && st.map(_.max) == mx,
          s"${e.path} '$c': manifest ${st.map(s => (s.min, s.max))} " +
            s"vs scan ($mn, $mx)")
        st.foreach(s => assert(s.dtype == t, s"'$c' dtype"))
      }
    }
  }

  /** Land `df` with stats on `stats` through the API land and, when
    * every stats column is top-level, through the DSv2 sink; check
    * both manifests against the scan. Returns the two table bases. */
  private def landBoth(name: String, df: DataFrame,
                       stats: Seq[(String, String)]): Seq[String] = {
    val base = s"/tmp/graft_fstats/$name"
    TxLog.drop(spark, base)
    TxLog.commitMulti(df, base, None, stats.map(_._1))
    assertParity(base, stats)
    if (!stats.forall(s => df.schema.fieldNames.contains(s._1))) Seq(base)
    else {
      val sink = s"${base}_sink"
      TxLog.drop(spark, sink)
      TxLog.createTable(spark, sink, df.schema)
      df.write.format("graft.sources.TxLogSource")
        .option("statsColumns", stats.map(_._1).mkString(","))
        .mode("append").save(sink)
      assertParity(sink, stats, v = 2L)
      Seq(base, sink)
    }
  }

  test("long stats (negatives, multi-file) match the scan rendering") {
    import spark.implicits._
    landBoth("longs", Seq(-500L, -1L, 0L, 7L, 123456789L, 42L)
      .toDF("k").repartition(3), Seq("k" -> "long"))
  }

  test("int/short columns widen to long stats like the scan") {
    import spark.implicits._
    landBoth("ints", Seq((-3, 1.toShort), (9, 200.toShort)).toDF("i", "s"),
      Seq("i" -> "long", "s" -> "long"))
  }

  test("double and float stats render exactly (scientific notation)") {
    import spark.implicits._
    landBoth("dbls", Seq((1e-4, 1.1f), (-1.5, 2.5f), (123456.789, 0.25f))
      .toDF("d", "f"), Seq("d" -> "double", "f" -> "double"))
  }

  test("NaN and signed-zero doubles still match (fallback shapes)") {
    import spark.implicits._
    landBoth("nan", Seq(Double.NaN, 1.0, -2.0).toDF("d"),
      Seq("d" -> "double"))
    landBoth("zeros", Seq(-0.0d, 0.0d, 3.0d).toDF("d"), Seq("d" -> "double"))
    landBoth("allnan", Seq(Double.NaN, Double.NaN).toDF("d"),
      Seq("d" -> "double"))
  }

  test("a sink-written file holding NaN keeps the rows a pushed " +
    "d > c selects") {
    import spark.implicits._
    val base = "/tmp/graft_fstats/sink_nan"
    TxLog.drop(spark, base)
    val df = Seq(1.0, Double.NaN, -2.0).toDF("d").coalesce(1)
    TxLog.createTable(spark, base, df.schema)
    df.write.format("graft.sources.TxLogSource")
      .option("statsColumns", "d").mode("append").save(base)
    val got = spark.read.format("graft.sources.TxLogSource").load(base)
      .where(col("d") > 5.0).collect().map(_.getDouble(0))
    assert(got.length == 1 && got(0).isNaN, got.mkString(", "))
  }

  test("string stats: unicode, empty string, unsigned byte order") {
    import spark.implicits._
    landBoth("strs", Seq("", "z", "ä", "thỏa thuận", "ZZ", "😀").toDF("s"),
      Seq("s" -> "string"))
  }

  test("date stats render as the scan's ISO strings") {
    landBoth("dates", spark.sql(
      "SELECT cast(d AS date) AS d FROM VALUES ('1969-12-01'), " +
        "('2026-08-19'), ('2001-01-01') t(d)"), Seq("d" -> "date"))
  }

  test("dates outside 0001-9999 (fallback shapes) match the scan") {
    landBoth("fardates", spark.sql(
      "SELECT date_add(DATE'0001-01-01', n) AS d FROM VALUES (-400), " +
        "(5), (3652425) t(n)"), Seq("d" -> "date"))
  }

  test("timestamp stats (INT96 files) floor to epoch seconds") {
    landBoth("ts", spark.sql(
      "SELECT cast(t AS timestamp) AS ts FROM VALUES " +
        "('1969-12-31 23:59:59.5'), ('2026-08-19 01:02:03.999999'), " +
        "('2000-01-01 00:00:00') t(t)"), Seq("ts" -> "long"))
  }

  test("all-NULL column carries no stats; sibling column still does") {
    import spark.implicits._
    val df = Seq((1L, None: Option[String]), (2L, None)).toDF("k", "s")
    landBoth("nulls", df, Seq("k" -> "long", "s" -> "string")).foreach {
      base =>
        TxLog.snapshotEntries(spark, base, TxLog.latestVersion(spark, base)
            .get).foreach { e =>
          assert(e.statsFor("s").isEmpty,
            "all-NULL column must carry no stats")
          assert(e.statsFor("k").nonEmpty)
        }
    }
  }

  // API land only: the sink takes top-level stats columns
  test("nested struct leaf stats match the scan") {
    landBoth("nested", spark.sql(
      "SELECT named_struct('x', x, 'y', y) AS s, x AS top FROM VALUES " +
        "(-7L, 'a'), (99L, 'b') t(x, y)"), Seq("s.x" -> "long"))
  }
}
