package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TxLog

/** Column DEFAULT values (Delta's `allowColumnDefaults` writer
  * feature): a CONSTANT SQL expression materialized into future
  * writes that omit the column — and ONLY future writes. The laws pin
  * the line Delta draws: supplied values (including explicit NULL)
  * always win, rows that landed before the default keep reading NULL
  * (never a read-time backfill), the binding is versioned (time
  * travel below the SET sees none), and an ignorant writer is stopped
  * by the writer-v8 protocol gate. */
class TxLogDefaultSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val cat = {
    val s0 = SparkTestBase.spark
    graft.sources.TxLogSqlDml.ensureInjected(s0)
    val s = s0.newSession()
    s.conf.set("spark.sql.catalog.graft", "graft.sources.TxLogCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse",
      "/tmp/graft_txdflt/warehouse")
    s
  }

  test("SET DEFAULT fills omitted columns in future API writes; " +
    "supplied values win; pre-default rows keep reading NULL") {
    val base = "/tmp/graft_txdflt/api"
    TxLog.drop(spark, base)
    TxLog.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), base, Some("k"))
    // declare a new column, then bind its default — the two-step that
    // creates the pre-default rows the NULL law needs
    TxLog.alterAddColumns(spark, base,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.IntegerType))))
    TxLog.alterColumnDefault(spark, base, "score", Some("7"))
    TxLog.append(Seq((3L, "c")).toDF("k", "v"), base, Some("k"))
    TxLog.append(Seq((4L, "d", 99)).toDF("k", "v", "score"),
      base, Some("k"))
    val got = TxLog.readEvolved(spark, base)
      .select("k", "score").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(got == Map(1L -> None, 2L -> None, // landed pre-default: NULL
      3L -> Some(7),                          // omitted: filled
      4L -> Some(99)),                        // supplied: wins
      s"got $got")
  }

  test("DROP DEFAULT unbinds for future writes; dropping a default " +
    "that does not exist errors; time travel sees each version's set") {
    val base = "/tmp/graft_txdflt/drop"
    TxLog.drop(spark, base)
    TxLog.append(Seq((1L, 5)).toDF("k", "score"), base, Some("k"))
    val vSet = TxLog.alterColumnDefault(spark, base, "score", Some("7"))
    assert(TxLog.metaOf(spark, base, vSet).defaults == Seq("score" -> "7"))
    assert(TxLog.metaOf(spark, base, vSet - 1).defaults.isEmpty,
      "the binding is versioned — below the SET there is none")
    val vDrop = TxLog.alterColumnDefault(spark, base, "score", None)
    assert(TxLog.metaOf(spark, base, vDrop).defaults.isEmpty)
    TxLog.append(Seq(Tuple1(2L)).toDF("k"), base, Some("k"))
    val scores = TxLog.readEvolved(spark, base).select("k", "score")
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(scores == Map(1L -> false, 2L -> true),
      "after DROP DEFAULT an omitted column lands NULL again")
    val e = intercept[IllegalArgumentException] {
      TxLog.alterColumnDefault(spark, base, "score", None)
    }
    assert(e.getMessage.contains("no DEFAULT to drop"))
  }

  test("vetoes: non-constant expressions, uncastable constants, " +
    "generated and identity columns, unknown columns") {
    val base = "/tmp/graft_txdflt/veto"
    TxLog.drop(spark, base)
    TxLog.append(Seq((1L, 2.0, "x")).toDF("k", "v", "s"), base, Some("k"))
    val nonConst = intercept[IllegalArgumentException] {
      TxLog.alterColumnDefault(spark, base, "v", Some("k + 1"))
    }
    assert(nonConst.getMessage.toLowerCase.contains("constant"))
    val badCast = intercept[Exception] {
      TxLog.alterColumnDefault(spark, base, "v", Some("'not-a-number'"))
    }
    assert(badCast.getMessage != null)
    val unknown = intercept[IllegalArgumentException] {
      TxLog.alterColumnDefault(spark, base, "nope", Some("1"))
    }
    assert(unknown.getMessage.contains("not in the table schema"))
  }

  test("a table with a default stamps writer v8 (an ignorant writer " +
    "would drop the line and land NULLs); undefaulted tables stay low") {
    val base = "/tmp/graft_txdflt/proto"
    TxLog.drop(spark, base)
    TxLog.append(Seq((1L, 1)).toDF("k", "score"), base, Some("k"))
    assert(TxLog.describeDetail(spark, base).head()
      .getAs[Int]("min_writer_version") < 8,
      "no defaults yet — writer floor must not be 8")
    TxLog.alterColumnDefault(spark, base, "score", Some("3"))
    assert(TxLog.describeDetail(spark, base).head()
      .getAs[Int]("min_writer_version") == 8)
  }

  test("SQL: CREATE TABLE with DEFAULT, INSERT fills omitted columns, " +
    "explicit DEFAULT keyword works, ALTER COLUMN SET/DROP DEFAULT " +
    "routes through the catalog") {
    val wh = "/tmp/graft_txdflt/warehouse"
    TxLog.drop(cat, s"$wh/lake/dt")
    cat.sql("CREATE NAMESPACE IF NOT EXISTS graft.lake")
    cat.sql("DROP TABLE IF EXISTS graft.lake.dt")
    cat.sql("CREATE TABLE graft.lake.dt (k INT, v STRING DEFAULT 'none', " +
      "score INT DEFAULT 7) USING graft.sources.TxLogSource")
    cat.sql("INSERT INTO graft.lake.dt (k) VALUES (1)")
    cat.sql("INSERT INTO graft.lake.dt (k, v) VALUES (2, 'two')")
    cat.sql("INSERT INTO graft.lake.dt VALUES (3, 'three', 30)")
    cat.sql("INSERT INTO graft.lake.dt VALUES (4, DEFAULT, DEFAULT)")
    val rows = cat.sql(
      "SELECT k, v, score FROM graft.lake.dt ORDER BY k").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq
    assert(rows == Seq((1, "none", 7), (2, "two", 7), (3, "three", 30),
      (4, "none", 7)), s"got $rows")
    cat.sql("ALTER TABLE graft.lake.dt ALTER COLUMN score SET DEFAULT 11")
    cat.sql("INSERT INTO graft.lake.dt (k) VALUES (5)")
    cat.sql("ALTER TABLE graft.lake.dt ALTER COLUMN score DROP DEFAULT")
    cat.sql("INSERT INTO graft.lake.dt (k) VALUES (6)")
    val after = cat.sql("SELECT k, score FROM graft.lake.dt " +
      "WHERE k >= 5 ORDER BY k").collect()
      .map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toSeq
    assert(after == Seq(5 -> Some(11), 6 -> None), s"got $after")
  }

  test("review regression: on an UNDECLARED (path-API) table the fill " +
    "lands at the column's EXISTING type — an uncast literal would " +
    "poison the table with unmergeable mixed-type footers") {
    val base = "/tmp/graft_txdflt/undeclared_type"
    TxLog.drop(spark, base)
    TxLog.append(Seq((1L, 5L)).toDF("k", "score"), base, Some("k"))
    TxLog.alterColumnDefault(spark, base, "score", Some("7"))
    TxLog.append(Seq(Tuple1(2L)).toDF("k"), base, Some("k"))
    val out = TxLog.readEvolved(spark, base) // mergeSchema must work
    assert(out.schema("score").dataType ==
      org.apache.spark.sql.types.LongType,
      s"the fill must cast to the files' LONG, got ${out.schema}")
    assert(out.where("k = 2").select("score").head.getLong(0) == 7L)
  }

  test("interaction matrix: the binding FOLLOWS a rename, DIES with a " +
    "drop, and ADD COLUMNS refuses an inline DEFAULT (no backfills, " +
    "ever — Delta's rule)") {
    val base = "/tmp/graft_txdflt/interop"
    TxLog.drop(spark, base)
    TxLog.append(Seq((1L, 5, 7)).toDF("k", "a", "b"), base, Some("k"))
    TxLog.alterColumnDefault(spark, base, "a", Some("11"))
    TxLog.alterColumnDefault(spark, base, "b", Some("22"))
    TxLog.renameColumn(spark, base, "a", "a2")
    val afterRename = TxLog.metaOf(spark, base,
      TxLog.latestVersion(spark, base).get).defaults.toMap
    assert(afterRename == Map("a2" -> "11", "b" -> "22"),
      s"the binding must follow the rename: $afterRename")
    TxLog.append(Seq(Tuple1(2L)).toDF("k"), base, Some("k"))
    val r = TxLog.readEvolved(spark, base).where("k = 2")
      .select("a2", "b").head
    assert(r.getInt(0) == 11 && r.getInt(1) == 22,
      "writes after the rename must fill under the NEW name")
    TxLog.dropColumn(spark, base, "b")
    assert(TxLog.metaOf(spark, base,
      TxLog.latestVersion(spark, base).get).defaults.toMap == Map("a2" -> "11"),
      "the dropped column's binding must die with it")
    // SQL: ADD COLUMNS with an inline DEFAULT is refused loudly
    val wh = "/tmp/graft_txdflt/warehouse"
    cat.sql("CREATE NAMESPACE IF NOT EXISTS graft.lake")
    cat.sql("DROP TABLE IF EXISTS graft.lake.addv")
    cat.sql("CREATE TABLE graft.lake.addv (k INT) " +
      "USING graft.sources.TxLogSource")
    val e = intercept[Exception] {
      cat.sql("ALTER TABLE graft.lake.addv ADD COLUMN c INT DEFAULT 5")
    }
    assert(e.getMessage.contains("SET") ||
      e.getMessage.toLowerCase.contains("default"),
      s"needs the guidance message, got: ${e.getMessage}")
  }

  test("defaults ride clones (both kinds) and REPLACE TABLE resets " +
    "them to the new definition's") {
    val base = "/tmp/graft_txdflt/clone_src"
    val sh = "/tmp/graft_txdflt/clone_sh"
    val dp = "/tmp/graft_txdflt/clone_dp"
    TxLog.drop(spark, base); TxLog.drop(spark, sh); TxLog.drop(spark, dp)
    TxLog.append(Seq((1L, 1)).toDF("k", "score"), base, Some("k"))
    TxLog.alterColumnDefault(spark, base, "score", Some("42"))
    TxLog.cloneShallow(spark, base, sh)
    TxLog.cloneDeep(spark, base, dp)
    Seq(sh, dp).foreach { c =>
      assert(TxLog.metaOf(spark, c, 1L).defaults == Seq("score" -> "42"),
        s"defaults must ride the clone at $c")
      TxLog.append(Seq(Tuple1(2L)).toDF("k"), c, Some("k"))
      val got = TxLog.readEvolved(spark, c)
        .where("k = 2").select("score").head.getInt(0)
      assert(got == 42, s"the clone's writes must fill the default: $c")
    }
    // REPLACE TABLE: the new definition has no defaults — reset
    val wh = "/tmp/graft_txdflt/warehouse"
    cat.sql("CREATE NAMESPACE IF NOT EXISTS graft.lake")
    cat.sql("DROP TABLE IF EXISTS graft.lake.rp")
    cat.sql("CREATE TABLE graft.lake.rp (k INT, score INT DEFAULT 9) " +
      "USING graft.sources.TxLogSource")
    cat.sql("REPLACE TABLE graft.lake.rp (k INT, score INT) " +
      "USING graft.sources.TxLogSource")
    val b = s"$wh/lake/rp"
    assert(TxLog.metaOf(cat, b,
      TxLog.latestVersion(cat, b).get).defaults.isEmpty,
      "REPLACE binds the NEW definition — no defaults")
  }

  test("the default-fold memo is timezone-scoped: the same zoneless " +
    "timestamp DEFAULT folds to DIFFERENT instants under different " +
    "session timezones — one session's fold is never served to " +
    "another's") {
    val ex = "CAST(TIMESTAMP'2024-01-01 00:00:00' AS BIGINT)"
    val lt = org.apache.spark.sql.types.LongType
    val prior = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      val utc = TxLog.evalDefaultExpr(spark, ex, lt).asInstanceOf[Long]
      spark.conf.set("spark.sql.session.timeZone", "Asia/Saigon")
      val sgn = TxLog.evalDefaultExpr(spark, ex, lt).asInstanceOf[Long]
      assert(utc - sgn == 7L * 3600L,
        s"UTC+7 midnight is 7h earlier in epoch seconds: $utc vs $sgn")
      // and the memo still serves repeats within one zone
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      assert(TxLog.evalDefaultExpr(spark, ex, lt) == utc)
    } finally spark.conf.set("spark.sql.session.timeZone", prior)
  }
}
