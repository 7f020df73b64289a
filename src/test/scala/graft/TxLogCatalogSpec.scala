package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TxLog

/** The DSv2 TableCatalog rung ([[graft.sources.TxLogCatalog]]): a
  * warehouse of txlog tables addressable as `graft.<ns>.<table>`, with
  * Spark's NATIVE time-travel SQL (`VERSION AS OF` / `TIMESTAMP AS
  * OF`) resolving through `loadTable(ident, version|timestamp)` — the
  * DeltaCatalog analog. The catalog holds no state: everything is
  * directory layout + the log, so a second session (or engine) sees
  * the same warehouse. */
class TxLogCatalogSpec extends AnyFunSuite {
  private lazy val spark = {
    val s0 = SparkTestBase.spark
    // parser/rule injection applies at session-state build: arm the
    // lineage, then work on a NEW session (the Thrift-served shape)
    graft.sources.TxLogSqlDml.ensureInjected(s0)
    val s = s0.newSession()
    s.conf.set("spark.sql.catalog.graft",
      "graft.sources.TxLogCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse",
      "/tmp/graft_txcat/warehouse")
    s
  }
  private def sql(q: String) = spark.sql(q)

  test("CREATE NAMESPACE + CREATE TABLE scans empty with the declared " +
    "schema; INSERT INTO appends on the log; SELECT and row-level " +
    "DML resolve through the catalog") {
    TxLog.drop(spark, "/tmp/graft_txcat/warehouse/lake/t1")
    sql("CREATE NAMESPACE IF NOT EXISTS graft.lake")
    sql("CREATE TABLE graft.lake.t1 (k INT, v DOUBLE, s STRING) " +
      "USING graft.sources.TxLogSource")
    // fresh table: declared schema, zero rows, a real v1 on the chain
    val empty = sql("SELECT * FROM graft.lake.t1")
    assert(empty.schema.fieldNames.toSeq == Seq("k", "v", "s"))
    assert(empty.count() == 0)
    assert(TxLog.latestVersion(spark,
      "/tmp/graft_txcat/warehouse/lake/t1").contains(1L))
    sql("INSERT INTO graft.lake.t1 " +
      "SELECT id AS k, id * 1.5 AS v, concat('r-', id) AS s " +
      "FROM range(1, 101)")
    assert(sql("SELECT count(*) AS n FROM graft.lake.t1").head.getLong(0)
      == 100)
    // row-level DML rides the same rewrite rule as path tables
    sql("DELETE FROM graft.lake.t1 WHERE k BETWEEN 10 AND 19")
    sql("UPDATE graft.lake.t1 SET v = v * 2 WHERE k = 1")
    val r = sql("SELECT sum(v) AS sv, count(*) AS n FROM graft.lake.t1").head
    assert(r.getLong(1) == 90)
    val expect = (1 to 100).filterNot(k => k >= 10 && k <= 19)
      .map(k => if (k == 1) k * 3.0 else k * 1.5).sum
    assert(math.abs(r.getDouble(0) - expect) < 1e-9)
    // visible in the listing; dropping removes dir + log
    assert(sql("SHOW TABLES IN graft.lake").collect()
      .map(_.getString(1)).contains("t1"))
    // CREATE TABLE at an identifier that is already a NAMESPACE dir
    // must fail loudly: planting _log inside it would silently turn
    // the namespace into a table and hide its children from listings
    val nsClash = intercept[Exception] {
      sql("CREATE TABLE graft.lake (k INT) USING graft.sources.TxLogSource")
    }
    assert(nsClash.getMessage.contains("namespace directory"),
      s"unexpected: ${nsClash.getMessage}")
    assert(sql("SHOW NAMESPACES IN graft").collect()
      .map(_.getString(0)).contains("lake"),
      "the namespace must survive the rejected CREATE TABLE intact")
  }

  test("native SQL time travel: VERSION AS OF and TIMESTAMP AS OF " +
    "resolve via loadTable; snapshots are read-only") {
    val base = "/tmp/graft_txcat/warehouse/lake/tt"
    TxLog.drop(spark, base)
    sql("CREATE NAMESPACE IF NOT EXISTS graft.lake")
    sql("DROP TABLE IF EXISTS graft.lake.tt")
    sql("CREATE TABLE graft.lake.tt (k INT, v DOUBLE) " +
      "USING graft.sources.TxLogSource")
    sql("INSERT INTO graft.lake.tt SELECT id AS k, id * 1.0 AS v " +
      "FROM range(0, 50)")
    sql("INSERT INTO graft.lake.tt SELECT id AS k, id * 1.0 AS v " +
      "FROM range(50, 80)")
    // chain: v1 empty create, v2 = 50 rows, v3 = +30 rows
    val t0 = 1700000000000L
    (1L to 3L).zipWithIndex.foreach { case (v, i) =>
      TxLog.setCommitTime(spark, base, v, t0 + i * 60000L) }
    assert(sql("SELECT count(*) AS n FROM graft.lake.tt VERSION AS OF 2")
      .head.getLong(0) == 50)
    assert(sql("SELECT count(*) AS n FROM graft.lake.tt VERSION AS OF 3")
      .head.getLong(0) == 80)
    // Spark converts the literal in the SESSION timezone (UTC here) to
    // epoch micros; the boundary rule picks the latest commit ≤ instant
    val lit2 = java.time.Instant.ofEpochMilli(t0 + 90000L)
      .atZone(java.time.ZoneId.of("UTC")).toLocalDateTime.toString
      .replace('T', ' ')
    assert(sql("SELECT count(*) AS n FROM graft.lake.tt " +
      s"TIMESTAMP AS OF '$lit2'").head.getLong(0) == 50)
    // stats-pruned filters still work through the pinned snapshot
    assert(sql("SELECT count(*) AS n FROM graft.lake.tt VERSION AS OF 2 " +
      "WHERE k >= 40").head.getLong(0) == 10)
    // a time-travel snapshot rejects writes and deletes loudly —
    // driven through the catalog API directly, because the SQL text
    // `INSERT ... VERSION AS OF` never reaches the guard (Spark's
    // parser rejects it first, which would green-light a deleted guard)
    locally {
      import org.apache.spark.sql.connector.catalog.{Identifier, SupportsDelete, SupportsWrite, TableCatalog}
      val cat = spark.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[TableCatalog]
      val pinned = cat.loadTable(Identifier.of(Array("lake"), "tt"), "2")
      val w = intercept[IllegalArgumentException] {
        pinned.asInstanceOf[SupportsWrite].newWriteBuilder(null)
      }
      assert(w.getMessage.contains("time-travel snapshot"))
      val del = intercept[IllegalArgumentException] {
        pinned.asInstanceOf[SupportsDelete]
          .deleteWhere(Array.empty[org.apache.spark.sql.sources.Filter])
      }
      assert(del.getMessage.contains("time-travel snapshot"))
    }
    // out-of-range version is a loud error
    val oob = intercept[Exception] {
      sql("SELECT * FROM graft.lake.tt VERSION AS OF 99").collect()
    }
    assert(oob.getMessage.contains("committed range"))
  }

  test("CTAS, ALTER TABLE RENAME, DROP TABLE, and maintenance SQL all " +
    "work on catalog identifiers; identifier parts cannot escape the " +
    "warehouse") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.lake")
    sql("DROP TABLE IF EXISTS graft.lake.ctas")
    sql("DROP TABLE IF EXISTS graft.lake.renamed")
    TxLog.drop(spark, "/tmp/graft_txcat/warehouse/lake/ctas")
    TxLog.drop(spark, "/tmp/graft_txcat/warehouse/lake/renamed")
    sql("CREATE TABLE graft.lake.ctas USING graft.sources.TxLogSource " +
      "AS SELECT id AS k, id * 2.0D AS v FROM range(0, 1000)")
    assert(sql("SELECT count(*) AS n FROM graft.lake.ctas").head.getLong(0)
      == 1000)
    // maintenance grammar resolves multi-part catalog names too
    val hist = sql("DESCRIBE HISTORY graft.lake.ctas").collect()
    assert(hist.nonEmpty)
    val d = sql("DESCRIBE DETAIL graft.lake.ctas").head
    assert(d.getAs[Long]("num_rows") == 1000L)
    // the RENAME target is CATALOG-RELATIVE (Spark passes the new
    // multipart name verbatim to renameTable — no catalog stripping)
    sql("ALTER TABLE graft.lake.ctas RENAME TO lake.renamed")
    assert(sql("SELECT count(*) AS n FROM graft.lake.renamed")
      .head.getLong(0) == 1000)
    assert(!sql("SHOW TABLES IN graft.lake").collect()
      .map(_.getString(1)).contains("ctas"))
    sql("DROP TABLE graft.lake.renamed")
    assert(!sql("SHOW TABLES IN graft.lake").collect()
      .map(_.getString(1)).contains("renamed"))
    // path-escape hardening: '..' parts are rejected, never resolved
    val esc = intercept[Exception] {
      sql("SELECT * FROM graft.lake.`..`")
    }
    assert(esc.getMessage.contains("illegal identifier part") ||
      esc.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"))
  }

  test("a path-created txlog table under the warehouse is immediately " +
    "visible through the catalog (no registration step), and schema " +
    "evolution shows through") {
    val base = "/tmp/graft_txcat/warehouse/lake/external"
    TxLog.drop(spark, base)
    import spark.implicits._
    TxLog.commit((1 to 20).map(i => (i, s"a-$i")).toDF("k", "s"),
      base, None, Some("k"))
    assert(sql("SELECT count(*) AS n FROM graft.lake.external")
      .head.getLong(0) == 20)
    // read-side evolution: a mergeSchema append adds a column; the
    // catalog's inferred union schema picks it up on the next load
    TxLog.append((21 to 25).map(i => (i, s"a-$i", i * 10L))
      .toDF("k", "s", "extra"), base, Some("k"))
    val evolved = sql("SELECT * FROM graft.lake.external")
    assert(evolved.schema.fieldNames.contains("extra"))
    assert(evolved.where(col("extra").isNull).count() == 20)
  }

  test("ALTER TABLE ADD COLUMNS publishes a versioned #schema commit: " +
    "the new column scans as NULL through SQL, fills on the next " +
    "INSERT, stays invisible below the ALTER version, and rejects " +
    "collisions; RENAME/DROP COLUMN fail loudly") {
    val base = "/tmp/graft_txcat/warehouse/lake/altered"
    TxLog.drop(spark, base)
    sql("CREATE NAMESPACE IF NOT EXISTS graft.lake")
    sql("DROP TABLE IF EXISTS graft.lake.altered")
    TxLog.drop(spark, base)
    sql("CREATE TABLE graft.lake.altered (k INT, v DOUBLE) " +
      "USING graft.sources.TxLogSource")
    sql("INSERT INTO graft.lake.altered " +
      "SELECT cast(id AS INT) AS k, id * 1.5 AS v FROM range(0, 40)")
    sql("ALTER TABLE graft.lake.altered ADD COLUMNS (tag STRING)")
    // v1 create, v2 insert, v3 the metadata-only ALTER commit
    assert(TxLog.latestVersion(spark, base).contains(3L))
    assert(TxLog.metaOf(spark, base, 3L).schema
      .exists(_.fieldNames.toSeq == Seq("k", "v", "tag")))
    // pre-ALTER rows: tag scans as NULL through the DSv2 scan stack
    val widened = sql("SELECT k, v, tag FROM graft.lake.altered")
    assert(widened.schema.fieldNames.contains("tag"))
    assert(widened.where(col("tag").isNotNull).count() == 0)
    // time travel BELOW the ALTER stays narrow
    assert(!sql("SELECT * FROM graft.lake.altered VERSION AS OF 2")
      .schema.fieldNames.contains("tag"))
    // the next INSERT fills the column; old rows stay NULL
    sql("INSERT INTO graft.lake.altered " +
      "SELECT cast(id AS INT) AS k, id * 1.5 AS v, concat('t-', id) AS tag " +
      "FROM range(40, 50)")
    assert(sql("SELECT count(*) AS n FROM graft.lake.altered " +
      "WHERE tag IS NOT NULL").head.getLong(0) == 10)
    assert(sql("SELECT count(*) AS n FROM graft.lake.altered " +
      "WHERE tag IS NULL").head.getLong(0) == 40)
    // guards: duplicate (case-insensitive) name
    val dup = intercept[Exception] {
      sql("ALTER TABLE graft.lake.altered ADD COLUMNS (TAG DOUBLE)")
    }
    assert(dup.getMessage.contains("already exists"))
    // RENAME COLUMN rides the column-mapping indirection: a
    // metadata-only commit, data intact under the new logical name
    // (the full mapping laws live in TxLogColumnMappingSqlSpec)
    sql("ALTER TABLE graft.lake.altered RENAME COLUMN v TO w")
    assert(sql("SELECT sum(w) AS sw FROM graft.lake.altered")
      .head.getDouble(0) == (0 until 50).map(_ * 1.5).sum)
    sql("DROP TABLE IF EXISTS graft.lake.altered")
  }

  test("native ANSI constraint DDL: ALTER TABLE ADD CONSTRAINT CHECK " +
    "enforces on writes, DROP CONSTRAINT lifts it, non-CHECK kinds " +
    "fail loudly") {
    val base = "/tmp/graft_txcat/warehouse/lake/cons"
    TxLog.drop(spark, base)
    sql("CREATE NAMESPACE IF NOT EXISTS graft.lake")
    sql("DROP TABLE IF EXISTS graft.lake.cons")
    TxLog.drop(spark, base)
    sql("CREATE TABLE graft.lake.cons (k INT, v DOUBLE) " +
      "USING graft.sources.TxLogSource")
    sql("INSERT INTO graft.lake.cons " +
      "SELECT cast(id AS INT) AS k, id * 1.0 AS v FROM range(1, 21)")
    sql("ALTER TABLE graft.lake.cons ADD CONSTRAINT v_pos CHECK (v > 0)")
    assert(TxLog.latestMeta(spark, base).constraints == Map("v_pos" -> "v > 0"))
    // a violating INSERT aborts cleanly: no version, no rows
    val bad = intercept[Exception] {
      sql("INSERT INTO graft.lake.cons VALUES (99, -1.0)")
    }
    assert(bad.getMessage.contains("v_pos") ||
      Option(bad.getCause).exists(_.getMessage.contains("v_pos")),
      s"violation must name the constraint: ${bad.getMessage}")
    assert(sql("SELECT count(*) AS n FROM graft.lake.cons")
      .head.getLong(0) == 20)
    sql("ALTER TABLE graft.lake.cons DROP CONSTRAINT v_pos")
    assert(TxLog.latestMeta(spark, base).constraints.isEmpty)
    sql("INSERT INTO graft.lake.cons VALUES (99, -1.0)")
    assert(sql("SELECT count(*) AS n FROM graft.lake.cons")
      .head.getLong(0) == 21)
    sql("DROP TABLE IF EXISTS graft.lake.cons")
  }
}
