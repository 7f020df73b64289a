package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, IntegerType, StringType, StructField, StructType, TimestampType}

import graft.operators.TxLog

/** GENERATED ALWAYS AS columns on the log (Delta generated columns):
  * a `#generatedcol` meta line carried by every commit; the API write
  * verbs COMPUTE the column when a batch omits it and VALIDATE it
  * (null-safe `col <=> expr`) when supplied; DSv2/SQL writes validate
  * at commit and require the column supplied. The flagship pairing is
  * a generated `CAST(ts AS DATE)` day column AS the partition column —
  * the pattern the TIMESTAMP-partition ban points at. */
class TxLogGeneratedSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def events(rows: Seq[(Int, String)]) = {
    import spark.implicits._
    rows.map { case (i, t) => (i, ts(t)) }.toDF("id", "etime")
  }

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("etime", TimestampType),
    StructField("day", DateType)))

  test("the flagship: a generated day column as the PARTITION column — " +
    "appends supply raw timestamps, the engine derives, splits, and " +
    "prunes on the day") {
    val base = "/tmp/graft_txgen/daypart"
    TxLog.drop(spark, base)
    TxLog.createTable(spark, base, schema,
      partitionCols = Seq("day"),
      generated = Seq("day" -> "CAST(etime AS DATE)"))
    TxLog.append(events(Seq(
      (1, "2024-03-01 10:00:00"), (2, "2024-03-01 23:59:59"),
      (3, "2024-03-02 00:00:01"), (4, "2024-03-03 08:00:00"))), base)
    val es = TxLog.manifest(spark, base,
      TxLog.latestVersion(spark, base).get)._1
    assert(es.size == 3, s"3 derived days must land 3 files: $es")
    es.foreach { e =>
      val st = e.statsFor("day").get
      assert(st.min == st.max, s"impure day file: $e")
    }
    // the derived column is a real, queryable column...
    val got = TxLog.read(spark, base)
    assert(got.columns.toSeq == Seq("id", "etime", "day"))
    assert(got.where(col("day") === lit(java.sql.Date.valueOf("2024-03-01")))
      .count() == 2)
    // ...and partition pruning works on it
    val (kept, all) = TxLog.pruneRanges(spark, base,
      Seq(("day", "2024-03-02", "2024-03-02")))
    assert(all.size == 3 && kept.size == 1)
  }

  test("a supplied generated column validates row-by-row: consistent " +
    "values pass, an inconsistent batch is rejected whole") {
    val base = "/tmp/graft_txgen/validate"
    TxLog.drop(spark, base)
    TxLog.createTable(spark, base, schema,
      generated = Seq("day" -> "CAST(etime AS DATE)"))
    import spark.implicits._
    // consistent explicit values pass
    TxLog.append(Seq((1, ts("2024-03-01 10:00:00"),
        java.sql.Date.valueOf("2024-03-01")))
      .toDF("id", "etime", "day"), base)
    assert(TxLog.read(spark, base).count() == 1)
    // an inconsistent one fails the null-safe check and lands nothing
    val before = TxLog.latestVersion(spark, base)
    val e = intercept[TxLog.ConstraintViolationException] {
      TxLog.append(Seq((2, ts("2024-03-01 10:00:00"),
          java.sql.Date.valueOf("1999-01-01")))
        .toDF("id", "etime", "day"), base)
    }
    assert(e.name.startsWith("_generated_"))
    assert(TxLog.latestVersion(spark, base) == before)
    assert(TxLog.read(spark, base).count() == 1)
  }

  test("SQL lifecycle: CREATE TABLE with GENERATED ALWAYS AS + " +
    "PARTITIONED BY, writes through the API derive the column, and a " +
    "DSv2 INSERT missing it errors with guidance") {
    val wh = "/tmp/graft_txgen/warehouse"
    val s0 = SparkTestBase.spark
    graft.sources.TxLogSqlDml.ensureInjected(s0)
    val s = s0.newSession()
    s.conf.set("spark.sql.catalog.gg", "graft.sources.TxLogCatalog")
    s.conf.set("spark.sql.catalog.gg.warehouse", wh)
    val base = s"$wh/lake/gt"
    TxLog.drop(s, base)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gg.lake")
    s.sql("CREATE TABLE gg.lake.gt (id INT, etime TIMESTAMP, " +
      "day DATE GENERATED ALWAYS AS (CAST(etime AS DATE))) " +
      "USING graft.sources.TxLogSource PARTITIONED BY (day)")
    assert(TxLog.latestMeta(s, base).generated ==
      Seq("day" -> "CAST(etime AS DATE)"))
    assert(TxLog.latestMeta(s, base).partitions.map(_._1) == Seq("day"))
    // the API append derives + splits
    TxLog.append(events(Seq((1, "2024-03-01 10:00:00"),
      (2, "2024-03-02 10:00:00"))), base)
    assert(s.sql("SELECT count(*) FROM gg.lake.gt " +
      "WHERE day = DATE'2024-03-01'").head.getLong(0) == 1)
    // a consistent SQL INSERT (all columns) passes through DSv2
    s.sql("INSERT INTO gg.lake.gt VALUES " +
      "(3, TIMESTAMP'2024-03-02 11:00:00', DATE'2024-03-02')")
    assert(s.sql("SELECT count(*) FROM gg.lake.gt").head.getLong(0) == 3)
    // an inconsistent SQL INSERT is rejected whole
    val bad = intercept[Exception] {
      s.sql("INSERT INTO gg.lake.gt VALUES " +
        "(4, TIMESTAMP'2024-03-02 11:00:00', DATE'1999-01-01')")
    }
    assert(bad.getMessage.contains("_generated_") ||
      bad.getMessage.contains("GENERATED"), bad.getMessage)
    assert(s.sql("SELECT count(*) FROM gg.lake.gt").head.getLong(0) == 3)
    // DESCRIBE DETAIL min_writer_version reflects the feature gate
    assert(s.sql("DESCRIBE DETAIL gg.lake.gt").head()
      .getAs[Int]("min_writer_version") == 4)
    s.sql("DROP TABLE gg.lake.gt")
  }

  test("SHOW PARTITIONS lists the manifest's partition inventory — " +
    "tuples, file and live-row counts — without opening a data file") {
    val wh = "/tmp/graft_txgen/warehouse_sp"
    val s0 = SparkTestBase.spark
    graft.sources.TxLogSqlDml.ensureInjected(s0)
    val s = s0.newSession()
    s.conf.set("spark.sql.catalog.gsp", "graft.sources.TxLogCatalog")
    s.conf.set("spark.sql.catalog.gsp.warehouse", wh)
    val base = s"$wh/lake/sp"
    TxLog.drop(s, base)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gsp.lake")
    s.sql("CREATE TABLE gsp.lake.sp (id INT, region STRING) " +
      "USING graft.sources.TxLogSource PARTITIONED BY (region)")
    s.sql("INSERT INTO gsp.lake.sp SELECT id AS k, " +
      "CASE WHEN id % 2 = 0 THEN 'ea' ELSE 'we' END FROM range(0, 10)")
    s.sql("INSERT INTO gsp.lake.sp VALUES (99, 'ea'), (100, NULL)")
    val got = s.sql("SHOW PARTITIONS gsp.lake.sp").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(
      "region=__HIVE_DEFAULT_PARTITION__" -> ((1L, 1L)),
      "region=ea" -> ((2L, 6L)),
      "region=we" -> ((1L, 5L))), s"$got")
    // MOR deletes show in the LIVE row counts
    s.sql("DELETE FROM gsp.lake.sp WHERE id >= 99")
    val after = s.sql("SHOW PARTITIONS gsp.lake.sp").collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(after("region=ea") == 5L)
    // unpartitioned tables answer loudly
    val e = intercept[Exception] {
      s.sql("CREATE TABLE gsp.lake.flat (k INT) " +
        "USING graft.sources.TxLogSource")
      s.sql("SHOW PARTITIONS gsp.lake.flat").collect()
    }
    assert(e.getMessage.contains("not a partitioned table"))
    s.sql("DROP TABLE gsp.lake.sp"); s.sql("DROP TABLE gsp.lake.flat")
  }

  test("GENERATED ALWAYS AS IDENTITY DDL seeds the log's high-water: " +
    "allocation starts at START WITH, explicit inserts stay vetoed, " +
    "and unsupported specs error at CREATE") {
    val wh = "/tmp/graft_txgen/warehouse_id"
    val s0 = SparkTestBase.spark
    graft.sources.TxLogSqlDml.ensureInjected(s0)
    val s = s0.newSession()
    s.conf.set("spark.sql.catalog.gid", "graft.sources.TxLogCatalog")
    s.conf.set("spark.sql.catalog.gid.warehouse", wh)
    val base = s"$wh/lake/idt"
    TxLog.drop(s, base)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gid.lake")
    s.sql("CREATE TABLE gid.lake.idt (row_id BIGINT GENERATED ALWAYS " +
      "AS IDENTITY (START WITH 100 INCREMENT BY 1), v STRING) " +
      "USING graft.sources.TxLogSource")
    assert(TxLog.metaOf(s, base, 1L).identity == Map("row_id" -> 99L),
      "the seed must make the FIRST allocation = START WITH")
    import s.implicits._
    TxLog.appendIdentity(Seq("a", "b", "c").toDF("v"), base, "row_id")
    val ids = TxLog.read(s, base).select("row_id").collect()
      .map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(100L, 101L, 102L), ids.toSeq.toString)
    // SQL INSERT with an explicit id is rejected (Spark's own identity
    // handling fires before our gate — either way the table is safe)
    intercept[Exception] {
      s.sql("INSERT INTO gid.lake.idt VALUES (999, 'x')")
    }
    // ...and the path-based DSv2 write hits OUR GENERATED ALWAYS veto
    val veto = intercept[Exception] {
      Seq((999L, "x")).toDF("row_id", "v")
        .write.format("graft.sources.TxLogSource")
        .mode("append").save(base)
    }
    assert(veto.getMessage.toLowerCase.contains("identity"),
      veto.getMessage)
    assert(TxLog.read(s, base).count() == 3)
    // unsupported flavors fail at CREATE, not first write
    val step = intercept[Exception] {
      s.sql("CREATE TABLE gid.lake.idt2 (id BIGINT GENERATED ALWAYS " +
        "AS IDENTITY (START WITH 1 INCREMENT BY 5), v STRING) " +
        "USING graft.sources.TxLogSource")
    }
    assert(step.getMessage.contains("INCREMENT BY 1"), step.getMessage)
    s.sql("DROP TABLE gid.lake.idt")
  }

  test("review regressions: UPDATE of a source column RECOMPUTES the " +
    "generated value; RENAME/DROP of generated columns or their " +
    "sources is blocked; reserved constraint names rejected") {
    val base = "/tmp/graft_txgen/recompute"
    TxLog.drop(spark, base)
    TxLog.createTable(spark, base, schema,
      generated = Seq("day" -> "CAST(etime AS DATE)"))
    TxLog.append(events(Seq((1, "2024-03-01 10:00:00"),
      (2, "2024-03-02 10:00:00"))), base)
    // the UPDATE moves row 1's etime to another day: the derived day
    // must FOLLOW (Delta's recompute-on-update), not abort validation
    import org.apache.spark.sql.functions.{col, expr, lit}
    TxLog.updateWhereMor(spark, base, col("id") === 1,
      Map("etime" -> expr("TIMESTAMP'2024-03-09 08:00:00'")))
    val r1 = TxLog.read(spark, base).where(col("id") === 1).head()
    assert(r1.getAs[java.sql.Date]("day").toString == "2024-03-09", r1)
    // dependency guards: the generated column and its source are
    // pinned (a dangling expression would brick every later write)
    val g1 = intercept[IllegalArgumentException] {
      TxLog.renameColumn(spark, base, "etime", "event_time")
    }
    assert(g1.getMessage.contains("derive"), g1.getMessage)
    val g2 = intercept[IllegalArgumentException] {
      TxLog.dropColumn(spark, base, "day")
    }
    assert(g2.getMessage.contains("GENERATED"), g2.getMessage)
    // the synthetic-check namespace is reserved
    val g3 = intercept[IllegalArgumentException] {
      TxLog.addConstraint(spark, base, "_generated_day", "day IS NOT NULL")
    }
    assert(g3.getMessage.contains("reserved"), g3.getMessage)
    // renaming an UNRELATED column still works
    TxLog.renameColumn(spark, base, "id", "row_key")
    assert(TxLog.read(spark, base).columns.contains("row_key"))
  }

  test("generated metadata is carried by DML and maintenance, and a " +
    "clone inherits it") {
    val base = "/tmp/graft_txgen/carry"
    val clone = "/tmp/graft_txgen/carry_clone"
    TxLog.drop(spark, base); TxLog.drop(spark, clone)
    TxLog.createTable(spark, base, schema,
      generated = Seq("day" -> "CAST(etime AS DATE)"))
    TxLog.append(events((1 to 20).map(i =>
      (i, f"2024-03-${i % 3 + 1}%02d 10:00:00"))), base)
    TxLog.deleteRangeMor(spark, base, "id", 1, 5)
    TxLog.compact(spark, base, smallThresholdRows = 1000L,
      targetRows = 1000L)
    assert(TxLog.latestMeta(spark, base).generated ==
      Seq("day" -> "CAST(etime AS DATE)"))
    TxLog.cloneShallow(spark, base, clone)
    assert(TxLog.latestMeta(spark, clone).generated ==
      Seq("day" -> "CAST(etime AS DATE)"))
    // the clone derives on append like the source
    TxLog.append(events(Seq((99, "2024-04-01 00:00:00"))), clone)
    assert(TxLog.read(spark, clone)
      .where(col("day") === lit(java.sql.Date.valueOf("2024-04-01")))
      .count() == 1)
  }

  test("a typo'd GENERATED ALWAYS AS expression fails the DDL " +
    "statement itself — never a table whose every write fails at land " +
    "time (the no-dependents guard would make it permanently " +
    "unwritable short of REPLACE)") {
    import org.apache.spark.sql.types._
    val base = "/tmp/graft_txgen/ddlcheck"
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("v", IntegerType),
      StructField("day", DateType)))
    // unparseable expression
    TxLog.drop(spark, base)
    val e1 = intercept[IllegalArgumentException] {
      TxLog.createTable(spark, base, schema,
        generated = Seq("day" -> "CAST(ts AS"))
    }
    assert(e1.getMessage.contains("does not parse"))
    assert(TxLog.latestVersion(spark, base).isEmpty) // nothing published
    // parses but references a column the schema lacks
    val e2 = intercept[IllegalArgumentException] {
      TxLog.createTable(spark, base, schema,
        generated = Seq("day" -> "CAST(tz AS DATE)"))
    }
    assert(e2.getMessage.contains("does not resolve"))
    // a generation expression may not reference another generated
    // column (compute order would be ambiguous)
    val schema2 = schema.add(StructField("day2", DateType))
    val e3 = intercept[IllegalArgumentException] {
      TxLog.createTable(spark, base, schema2, generated = Seq(
        "day" -> "CAST(ts AS DATE)", "day2" -> "day + INTERVAL 1 DAY"))
    }
    assert(e3.getMessage.contains("does not resolve"))
    // the SQL catalog route fails the CREATE statement the same way
    val s0 = SparkTestBase.spark
    graft.sources.TxLogSqlDml.ensureInjected(s0)
    val s = s0.newSession()
    s.conf.set("spark.sql.catalog.gddl", "graft.sources.TxLogCatalog")
    s.conf.set("spark.sql.catalog.gddl.warehouse", "/tmp/graft_txgen/wh_ddl")
    s.sql("CREATE NAMESPACE IF NOT EXISTS gddl.lake")
    s.sql("DROP TABLE IF EXISTS gddl.lake.bad")
    val e4 = intercept[Exception] {
      s.sql("CREATE TABLE gddl.lake.bad (ts TIMESTAMP, v INT, " +
        "day DATE GENERATED ALWAYS AS (CAST(tz AS DATE))) " +
        "USING graft.sources.TxLogSource")
    }
    // the SQL route may be vetoed by Spark's own generated-column
    // analysis (it runs first when the catalog declares the
    // capability) or by our DDL-time validator — either way the
    // STATEMENT fails and no table is born
    assert(e4.getMessage.contains("does not resolve") ||
      e4.getMessage.contains("cannot be resolved"), e4.getMessage)
    assert(!s.catalog.tableExists("gddl.lake.bad"))
    // and the valid spelling still creates + derives
    s.sql("CREATE TABLE gddl.lake.good (ts TIMESTAMP, v INT, " +
      "day DATE GENERATED ALWAYS AS (CAST(ts AS DATE))) " +
      "USING graft.sources.TxLogSource")
    s.sql("INSERT INTO gddl.lake.good (ts, v, day) VALUES " +
      "(TIMESTAMP'2024-03-05 10:00:00', 1, DATE'2024-03-05')")
    assert(s.table("gddl.lake.good").count() == 1)
    s.sql("DROP TABLE gddl.lake.good")
  }
}
