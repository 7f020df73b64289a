package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TxLog

/** Atomic `[CREATE OR] REPLACE TABLE` through the StagingTableCatalog
  * rung (Delta's REPLACE): the staged CTAS lands files inert, ONE
  * manifest commit swaps the table, readers see the old table until
  * that instant, history below the swap stays time-travelable, and
  * the old definition's metadata (constraints, partitioning, column
  * mapping, identity) resets to the new DDL's. */
class TxLogReplaceSpec extends AnyFunSuite {
  private lazy val spark = {
    val s0 = SparkTestBase.spark
    graft.sources.TxLogSqlDml.ensureInjected(s0)
    val s = s0.newSession()
    s.conf.set("spark.sql.catalog.grep2", "graft.sources.TxLogCatalog")
    s.conf.set("spark.sql.catalog.grep2.warehouse",
      "/tmp/graft_txreplace/warehouse")
    s
  }
  private def sql(q: String) = spark.sql(q)
  private def base(t: String) = s"/tmp/graft_txreplace/warehouse/lake/$t"

  test("CREATE OR REPLACE TABLE AS SELECT swaps in one commit: new " +
    "content and schema, history below stays readable, old metadata " +
    "resets") {
    TxLog.drop(spark, base("r1"))
    sql("CREATE NAMESPACE IF NOT EXISTS grep2.lake")
    sql("DROP TABLE IF EXISTS grep2.lake.r1")
    sql("CREATE TABLE grep2.lake.r1 USING graft.sources.TxLogSource " +
      "AS SELECT id AS k, concat('old-', id) AS s FROM range(0, 50)")
    sql("ALTER TABLE grep2.lake.r1 ADD CONSTRAINT k_small CHECK (k < 100)")
    val vBefore = TxLog.latestVersion(spark, base("r1")).get
    sql("CREATE OR REPLACE TABLE grep2.lake.r1 " +
      "USING graft.sources.TxLogSource " +
      "AS SELECT id AS k, CAST(id AS DOUBLE) * 2 AS dbl FROM range(0, 10)")
    // one commit, new shape
    assert(TxLog.latestVersion(spark, base("r1")).contains(vBefore + 1))
    val now = sql("SELECT * FROM grep2.lake.r1")
    assert(now.schema.fieldNames.toSeq == Seq("k", "dbl"))
    assert(now.count() == 10)
    // history below the swap stays time-travelable
    val old = sql(s"SELECT * FROM grep2.lake.r1 VERSION AS OF $vBefore")
    assert(old.count() == 50 && old.schema.fieldNames.contains("s"))
    // the old constraint is gone: a k >= 100 row now lands fine
    sql("INSERT INTO grep2.lake.r1 VALUES (500, 1.0)")
    assert(sql("SELECT count(*) FROM grep2.lake.r1").head.getLong(0) == 11)
    assert(TxLog.latestMeta(spark, base("r1")).constraints.isEmpty)
    sql("DROP TABLE grep2.lake.r1")
  }

  test("REPLACE TABLE demands an existing table; CREATE OR REPLACE " +
    "creates when missing; a replacing CTAS with PARTITIONED BY " +
    "splits per tuple") {
    sql("CREATE NAMESPACE IF NOT EXISTS grep2.lake")
    sql("DROP TABLE IF EXISTS grep2.lake.r2")
    TxLog.drop(spark, base("r2"))
    val missing = intercept[Exception] {
      sql("REPLACE TABLE grep2.lake.r2 USING graft.sources.TxLogSource " +
        "AS SELECT id AS k FROM range(0, 5)")
    }
    assert(missing.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      missing.getMessage.toLowerCase.contains("cannot be found"),
      missing.getMessage)
    sql("CREATE OR REPLACE TABLE grep2.lake.r2 " +
      "USING graft.sources.TxLogSource " +
      "AS SELECT id AS k, CASE WHEN id % 2 = 0 THEN 'ea' ELSE 'we' END " +
      "AS region FROM range(0, 20)")
    assert(sql("SELECT count(*) FROM grep2.lake.r2").head.getLong(0) == 20)
    // replace WITH partitioning: the staged CTAS itself splits
    sql("CREATE OR REPLACE TABLE grep2.lake.r2 " +
      "USING graft.sources.TxLogSource PARTITIONED BY (region) " +
      "AS SELECT id AS k, CASE WHEN id % 2 = 0 THEN 'ea' ELSE 'we' END " +
      "AS region FROM range(0, 30)")
    assert(TxLog.latestMeta(spark, base("r2")).partitions.map(_._1) == Seq("region"))
    val es = TxLog.manifest(spark, base("r2"),
      TxLog.latestVersion(spark, base("r2")).get)._1
    assert(es.size == 2, s"2 regions -> 2 files: ${es.map(_.path)}")
    es.foreach(e => assert(e.statsFor("region").exists(st =>
      st.min == st.max), s"impure: $e"))
    assert(sql("SELECT count(*) FROM grep2.lake.r2 " +
      "WHERE region = 'ea'").head.getLong(0) == 15)
    // and the NEXT append keeps the new declaration
    sql("INSERT INTO grep2.lake.r2 VALUES (99, 'no')")
    assert(TxLog.manifest(spark, base("r2"),
      TxLog.latestVersion(spark, base("r2")).get)._1.size == 3)
    sql("DROP TABLE grep2.lake.r2")
  }
}
