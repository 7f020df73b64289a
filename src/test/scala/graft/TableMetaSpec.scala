package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.types._

import graft.operators.{TableMeta, TxLog}

/** Golden manifest meta lines: the exact `#` lines each DDL verb
  * publishes, written through the public verbs only (SQL DDL through
  * the catalog, or the TxLog API). The `#ict` value is wall-clock and
  * is masked; every other byte is pinned, so any change to what a verb
  * carries, resets or stamps — or to the line order — fails here. */
class TableMetaSpec extends AnyFunSuite {
  private val wh = "/tmp/graft_tablemeta/wh"
  private lazy val spark = {
    val s0 = SparkTestBase.spark
    graft.sources.TxLogSqlDml.ensureInjected(s0)
    val s = s0.newSession()
    s.conf.set("spark.sql.catalog.gtm", "graft.sources.TxLogCatalog")
    s.conf.set("spark.sql.catalog.gtm.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS gtm.lake")
    s
  }
  private def sql(q: String) = spark.sql(q)
  private def base(t: String) = s"$wh/lake/$t"

  /** A fresh catalog table: any previous incarnation is gone. */
  private def fresh(t: String): String = {
    sql(s"DROP TABLE IF EXISTS gtm.lake.$t")
    TxLog.drop(spark, base(t))
    base(t)
  }

  /** The `#` lines of version `v`'s commit file, `#ict` masked. */
  private def metaLines(b: String, v: Long): Seq[String] = {
    val src = scala.io.Source.fromFile(f"$b/_log/v$v%020d.txt", "UTF-8")
    try src.getLines().filter(_.startsWith("#")).map(l =>
      if (l.startsWith("#ict\t")) "#ict\t*" else l).toList
    finally src.close()
  }

  private def pin(b: String, v: Long, expected: String*): Unit =
    assert(metaLines(b, v) == expected)

  /** The `#schema` line of a struct of nullable, metadata-free fields
    * (`name -> json type name`), spelled byte for byte. */
  private def schema(fields: (String, String)*): String =
    "#schema\t" + java.net.URLEncoder.encode(fields.map { case (n, t) =>
      s"""{"name":"$n","type":"$t","nullable":true,"metadata":{}}"""
    }.mkString("""{"type":"struct","fields":[""", ",", "]}"), "UTF-8")

  /** One value per carried kind, each alone on an otherwise empty
    * table and all of them together — stamped at its required
    * protocol, so the protocol line round-trips too. */
  private val eachKind: Seq[TableMeta] = {
    val all = TableMeta(
      schema = Some(StructType(Seq(StructField("k", LongType),
        StructField("n a%me", StringType)))),
      colMap = Some(TxLog.ColMap(Seq("k" -> "k", "n a%me" -> "c1_n"), 2)),
      partitions = Seq("d\tay" -> "date", "r" -> "string"),
      cluster = Seq("x", "s.ts"),
      widened = Seq("n" -> LongType, "p" -> DecimalType(12, 2)),
      generated = Seq("day" -> "CAST(etime AS DATE)"),
      defaults = Seq("score" -> "7", "tag" -> "'none'"),
      varStats = Seq(("v", "$.price", "double"), ("v", "$.a b", "long")),
      constraints = Map("k_pos" -> "k > 0", "tag\tx" -> "tag <> '='"),
      identity = Map("id" -> 99L, "id2" -> -4L),
      rowIdHighWater = Some(1234L),
      protocol = (3, 2))
    val e = TableMeta.empty
    Seq(e, e.copy(schema = all.schema), e.copy(colMap = all.colMap),
      e.copy(partitions = all.partitions), e.copy(cluster = all.cluster),
      e.copy(widened = all.widened), e.copy(generated = all.generated),
      e.copy(defaults = all.defaults), e.copy(varStats = all.varStats),
      e.copy(constraints = all.constraints), e.copy(identity = all.identity),
      e.copy(rowIdHighWater = all.rowIdHighWater),
      e.copy(protocol = all.protocol), all)
      .map(m => m.copy(protocol = m.stampedProtocol))
  }

  test("TableMeta: parse(m.lines) == m for every carried kind") {
    eachKind.foreach { m =>
      assert(TableMeta.parse(m.lines) == m, m.lines.mkString("\n"))
    }
  }

  test("TableMeta: per-commit and entry lines are not metadata; a " +
    "pre-#protocol manifest parses at protocol (1, 1)") {
    val legacy = Seq("#delta", "#op\tWRITE", "#ict\t17",
      "#constraint\tk_pos\tk+%3E+0", "#identity\tid\t5",
      "#txn\tapp\t3", "+\tdata/p-0.parquet\t10",
      "-\tdata/p-1.parquet")
    assert(TableMeta.parse(legacy) == TableMeta(
      constraints = Map("k_pos" -> "k > 0"), identity = Map("id" -> 5L)))
    assert(TableMeta.protocolOf(legacy).isEmpty)
    assert(TableMeta.parse(Seq.empty) == TableMeta.empty)
    // the stamp re-derives from the features present
    val m = TableMeta.parse(legacy).copy(rowIdHighWater = Some(0L))
    assert(TableMeta.parse(m.lines).protocol == (4, 7))
  }

  test("golden: CREATE with partition, generated and identity columns") {
    val b = fresh("c1")
    sql("CREATE TABLE gtm.lake.c1 (id BIGINT GENERATED ALWAYS AS " +
      "IDENTITY (START WITH 10 INCREMENT BY 1), etime TIMESTAMP, " +
      "day DATE GENERATED ALWAYS AS (CAST(etime AS DATE)), v STRING) " +
      "USING graft.sources.TxLogSource PARTITIONED BY (day)")
    pin(b, 1L,
      "#delta",
      "#op\tCREATE+TABLE",
      "#ict\t*",
      "#protocol\t1\t4",
      schema("id" -> "long", "etime" -> "timestamp", "day" -> "date",
        "v" -> "string"),
      "#partition\tday\tdate",
      "#generatedcol\tday\tCAST%28etime+AS+DATE%29",
      "#identity\tid\t9")
  }

  test("golden: CREATE with cluster keys") {
    val b = fresh("c2")
    sql("CREATE TABLE gtm.lake.c2 (x INT, y DOUBLE, s STRING) " +
      "USING graft.sources.TxLogSource CLUSTER BY (x, y)")
    pin(b, 1L,
      "#delta",
      "#op\tCREATE+TABLE",
      "#ict\t*",
      "#protocol\t1\t6",
      schema("x" -> "integer", "y" -> "double", "s" -> "string"),
      "#cluster\tx\ty")
  }

  test("golden: ALTER ADD COLUMNS, then RENAME COLUMN") {
    val b = fresh("c3")
    sql("CREATE TABLE gtm.lake.c3 (k INT, v DOUBLE) " +
      "USING graft.sources.TxLogSource")
    sql("INSERT INTO gtm.lake.c3 " +
      "SELECT cast(id AS INT) AS k, id * 1.5 AS v FROM range(0, 10)")
    sql("ALTER TABLE gtm.lake.c3 ADD COLUMNS (tag STRING)")
    sql("ALTER TABLE gtm.lake.c3 RENAME COLUMN v TO w")
    pin(b, 2L,
      "#delta",
      "#op\tWRITE",
      "#ict\t*",
      "#protocol\t1\t1",
      schema("k" -> "integer", "v" -> "double"))
    pin(b, 3L,
      "#delta",
      "#nodatachange",
      "#op\tADD+COLUMNS",
      "#ict\t*",
      "#protocol\t1\t1",
      schema("k" -> "integer", "v" -> "double", "tag" -> "string"))
    pin(b, 4L,
      "#delta",
      "#nodatachange",
      "#op\tRENAME+COLUMN",
      "#ict\t*",
      "#protocol\t2\t2",
      schema("k" -> "integer", "w" -> "double", "tag" -> "string"),
      "#colmap\t1\tk\tk\tw\tv\ttag\ttag")
  }

  test("golden: REPLACE TABLE keeps only the protocol floor") {
    val b = fresh("c4")
    sql("CREATE TABLE gtm.lake.c4 (k BIGINT, r STRING, d DOUBLE) " +
      "USING graft.sources.TxLogSource PARTITIONED BY (r)")
    sql("INSERT INTO gtm.lake.c4 SELECT id, CASE WHEN id % 2 = 0 " +
      "THEN 'ea' ELSE 'we' END, id * 0.5 FROM range(0, 20)")
    sql("ALTER TABLE gtm.lake.c4 ADD CONSTRAINT k_small CHECK (k < 100)")
    sql("ALTER TABLE gtm.lake.c4 RENAME COLUMN d TO e")
    val v = TxLog.latestVersion(spark, b).get
    pin(b, v,
      "#delta",
      "#nodatachange",
      "#op\tRENAME+COLUMN",
      "#ict\t*",
      "#protocol\t2\t3",
      schema("k" -> "long", "r" -> "string", "e" -> "double"),
      "#partition\tr\tstring",
      "#colmap\t1\tk\tk\tr\tr\te\td",
      "#constraint\tk_small\tk+%3C+100")
    sql("CREATE OR REPLACE TABLE gtm.lake.c4 " +
      "USING graft.sources.TxLogSource " +
      "AS SELECT id AS k, concat('n-', id) AS s FROM range(0, 5)")
    pin(b, v + 1L,
      "#delta",
      "#op\tREPLACE+TABLE",
      "#ict\t*",
      "#protocol\t2\t3",
      schema("k" -> "long", "s" -> "string"))
  }

  test("golden: DROP FEATURE rowTracking") {
    val b = fresh("c5")
    val s = spark
    import s.implicits._
    TxLog.append((1L to 30L).map(k => (k, s"v$k")).toDF("k", "v"), b,
      Some("k"))
    val vOn = TxLog.enableRowTracking(spark, b)
    pin(b, vOn,
      "#delta",
      "#nodatachange",
      "#op\tENABLE+ROW+TRACKING",
      "#ict\t*",
      "#protocol\t4\t7",
      "#rowid\t30")
    val vOff = TxLog.dropFeature(spark, b, "rowTracking")
    pin(b, vOff,
      "#delta",
      "#nodatachange",
      "#op\tDROP+FEATURE+rowTracking",
      "#ict\t*",
      "#protocol\t1\t1")
  }

  test("golden: shallow clone carries the source's metadata") {
    val src = fresh("c6")
    val dst = fresh("c6_clone")
    val s = spark
    import s.implicits._
    TxLog.append((1L to 30L).map(k => (k, s"v$k", k * 2.0, k.toInt))
      .toDF("k", "v", "d", "n"), src, Some("k"))
    TxLog.addConstraint(spark, src, "k_pos", "k > 0")
    TxLog.renameColumn(spark, src, "d", "dd")
    TxLog.alterWidenColumn(spark, src, "n",
      org.apache.spark.sql.types.LongType)
    TxLog.alterClusterBy(spark, src, Seq("k"))
    TxLog.enableRowTracking(spark, src)
    TxLog.cloneShallow(spark, src, dst)
    pin(dst, 1L,
      "#delta",
      "#op\tCLONE",
      "#ict\t*",
      "#protocol\t4\t7",
      schema("k" -> "long", "v" -> "string", "dd" -> "double",
        "n" -> "long"),
      "#cluster\tk",
      "#widencol\tn\t%22long%22",
      "#colmap\t1\tk\tk\tv\tv\tdd\td\tn\tn",
      "#constraint\tk_pos\tk+%3E+0",
      "#rowid\t30")
  }
}
