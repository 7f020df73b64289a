package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TxLog

/** Interaction-matrix sweep (VERDICT r11 next-round #7): the metadata
  * surfaces — column mapping × partitioning × generated columns ×
  * identity × REPLACE × type widening — compose, and every pair
  * either WORKS or fails LOUDLY (never silent drift). Most pairs are
  * guarded inside the verbs (requireNoDependents, partition-column
  * vetoes); this spec pins the cross-feature behaviors end-to-end. */
class TxLogInteractionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("colmap × partition: renaming a partition column is metadata-" +
    "only, SHOW PARTITIONS serves the NEW logical name, pruning and " +
    "partitioned appends keep working through it") {
    val base = "/tmp/graft_txix/part_rename"
    TxLog.drop(spark, base)
    import spark.implicits._
    TxLog.commitPartitioned(
      (1 to 40).map(i => (i, s"r${i % 4}", s"p$i")).toDF("k", "region", "p"),
      base, Seq("region"), Seq("k"))
    TxLog.renameColumn(spark, base, "region", "zone")
    // the logical surface renamed; SHOW PARTITIONS speaks it
    val parts = TxLog.showPartitions(spark, base)
      .select("partition").collect().map(_.getString(0)).toSet
    assert(parts == (0 to 3).map(i => s"zone=r$i").toSet, parts)
    // appends supply the NEW name and still split per tuple
    TxLog.append(Seq((100, "r9", "x")).toDF("k", "zone", "p"), base)
    assert(TxLog.showPartitions(spark, base).count() == 5)
    // partition pruning through the logical name
    val (kept, all) = TxLog.pruneRanges(spark, base,
      Seq(("zone", "r9", "r9")))
    assert(kept.size == 1 && all.size > 1,
      s"equality on the renamed partition column must prune: " +
        s"${kept.size}/${all.size}")
    // the OLD name is gone, loudly
    assert(intercept[Exception] {
      TxLog.append(Seq((101, "r0", "y")).toDF("k", "region", "p"), base)
    }.getMessage.nonEmpty)
  }

  test("generated × colmap: renaming or dropping a generated column's " +
    "SOURCE is vetoed loudly (a dangling expression would brick every " +
    "write); renaming an UNRELATED column leaves derivation working") {
    val base = "/tmp/graft_txix/gen_rename"
    TxLog.drop(spark, base)
    import spark.implicits._
    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("v", IntegerType), StructField("day", DateType)))
    TxLog.createTable(spark, base, schema,
      generated = Seq("day" -> "CAST(ts AS DATE)"))
    def batch(i: Int) = Seq((java.sql.Timestamp.valueOf(
      s"2024-03-0$i 10:00:00"), i)).toDF("ts", "v")
    TxLog.append(batch(1), base)
    for (verb <- Seq("rename", "drop")) {
      val e = intercept[IllegalArgumentException] {
        if (verb == "rename") TxLog.renameColumn(spark, base, "ts", "etime")
        else TxLog.dropColumn(spark, base, "ts")
      }
      assert(e.getMessage.contains("derive from it"), s"$verb: ${e.getMessage}")
    }
    // the generated column itself cannot be renamed away either
    assert(intercept[IllegalArgumentException] {
      TxLog.renameColumn(spark, base, "day", "d")
    }.getMessage.contains("GENERATED"))
    // an unrelated rename composes: derivation still runs
    TxLog.renameColumn(spark, base, "v", "amount")
    TxLog.append(batch(2).withColumnRenamed("v", "amount"), base)
    assert(TxLog.read(spark, base)
      .where(col("day") === lit(java.sql.Date.valueOf("2024-03-02")))
      .count() == 1)
  }

  test("widen × colmap, both orders: widen a renamed column and " +
    "rename a widened column — the logical surface serves the wide " +
    "type throughout and the widen line stays keyed on the frozen " +
    "physical name") {
    val base = "/tmp/graft_txix/widen_rename"
    TxLog.drop(spark, base)
    import spark.implicits._
    TxLog.commit((1 to 20).map(i => (i, i)).toDF("k", "v").coalesce(1),
      base, None, Some("k"))
    // order 1: rename first, widen through the NEW logical name
    TxLog.renameColumn(spark, base, "v", "amount")
    TxLog.alterWidenColumn(spark, base, "amount", LongType)
    assert(TxLog.read(spark, base).schema("amount").dataType == LongType)
    // order 2: rename the WIDENED column again — widen line survives
    // (it is keyed on the frozen physical name)
    TxLog.renameColumn(spark, base, "amount", "total")
    val snap = TxLog.read(spark, base)
    assert(snap.schema("total").dataType == LongType)
    // wide appends land and read back through the final name
    TxLog.append(Seq((21, 7_000_000_000L)).toDF("k", "total"), base)
    assert(TxLog.read(spark, base).agg(max("total")).head.getLong(0)
      == 7_000_000_000L)
    // the DSv2 surface agrees
    assert(spark.read.format("graft.sources.TxLogSource").load(base)
      .schema("total").dataType == LongType)
  }

  test("REPLACE TABLE over a mapped + partitioned + identity + " +
    "generated + widened table resets EVERY metadata surface to the " +
    "new DDL; time travel below the replace serves the old world") {
    val s0 = SparkTestBase.spark
    graft.sources.TxLogSqlDml.ensureInjected(s0)
    val s = s0.newSession()
    s.conf.set("spark.sql.catalog.gix", "graft.sources.TxLogCatalog")
    s.conf.set("spark.sql.catalog.gix.warehouse", "/tmp/graft_txix/wh")
    s.sql("CREATE NAMESPACE IF NOT EXISTS gix.lake")
    s.sql("DROP TABLE IF EXISTS gix.lake.all")
    s.sql("CREATE TABLE gix.lake.all (" +
      "id BIGINT GENERATED ALWAYS AS IDENTITY, " +
      "ts TIMESTAMP, v INT, " +
      "day DATE GENERATED ALWAYS AS (CAST(ts AS DATE))) " +
      "USING graft.sources.TxLogSource PARTITIONED BY (day)")
    val base = "/tmp/graft_txix/wh/lake/all"
    // identity tables take data through appendIdentity (SQL INSERT
    // would pad the GENERATED ALWAYS id with NULL and hit the veto)
    import s.implicits._
    TxLog.appendIdentity(
      Seq((java.sql.Timestamp.valueOf("2024-03-05 10:00:00"), 1),
        (java.sql.Timestamp.valueOf("2024-03-06 10:00:00"), 2))
        .toDF("ts", "v"),
      base, "id")
    // load the table up with every surface: rename (colmap) + widen
    s.sql("ALTER TABLE gix.lake.all RENAME COLUMN v TO amount")
    s.sql("ALTER TABLE gix.lake.all ALTER COLUMN amount TYPE BIGINT")
    val vBefore = TxLog.latestVersion(spark, base).get
    assert(TxLog.metaOf(spark, base, vBefore).colMap.isDefined)
    assert(TxLog.metaOf(spark, base, vBefore).widened.nonEmpty)
    assert(TxLog.metaOf(spark, base, vBefore).partitions.nonEmpty)
    assert(TxLog.metaOf(spark, base, vBefore).generated.nonEmpty)
    assert(TxLog.metaOf(spark, base, vBefore).identity.nonEmpty)
    // REPLACE with a plain two-column definition
    s.sql("REPLACE TABLE gix.lake.all (k INT, s STRING) " +
      "USING graft.sources.TxLogSource")
    val vAfter = TxLog.latestVersion(spark, base).get
    assert(vAfter == vBefore + 1, "REPLACE is one new version")
    assert(TxLog.metaOf(spark, base, vAfter).colMap.isEmpty,
      "REPLACE must clear the column mapping")
    assert(TxLog.metaOf(spark, base, vAfter).widened.isEmpty,
      "REPLACE must clear widen lines")
    assert(TxLog.metaOf(spark, base, vAfter).partitions.isEmpty,
      "REPLACE must clear partitioning")
    assert(TxLog.metaOf(spark, base, vAfter).generated.isEmpty,
      "REPLACE must clear generated columns")
    assert(TxLog.metaOf(spark, base, vAfter).identity.isEmpty,
      "REPLACE must clear identity waters")
    // the new definition writes and reads as itself
    s.sql("INSERT INTO gix.lake.all VALUES (1, 'a')")
    assert(s.table("gix.lake.all").columns.toSeq == Seq("k", "s"))
    // time travel below the replace: old logical names, old rows
    val old = TxLog.readVersion(spark, base, vBefore)
    assert(old.columns.contains("amount") && old.count() == 2)
    s.sql("DROP TABLE gix.lake.all")
  }

  test("identity × colmap × clone: a renamed identity column still " +
    "vetoes explicit inserts through the new name, and a clone of the " +
    "feature-loaded table carries every surface") {
    val base = "/tmp/graft_txix/id_rename"
    TxLog.drop(spark, base)
    import spark.implicits._
    TxLog.createTable(spark, base, StructType(Seq(
      StructField("rid", LongType), StructField("v", IntegerType))))
    // seed identity via the append path
    TxLog.appendIdentity(Seq(10, 20).toDF("v"), base, "rid")
    TxLog.renameColumn(spark, base, "v", "amount")
    // identity column renames are vetoed (dependency guard)
    assert(intercept[IllegalArgumentException] {
      TxLog.renameColumn(spark, base, "rid", "row_id")
    }.getMessage.contains("IDENTITY"))
    // explicit id supply through the MAPPED surface still fails loudly
    assert(intercept[IllegalArgumentException] {
      TxLog.append(Seq((99L, 30)).toDF("rid", "amount"), base)
    }.getMessage.toLowerCase.contains("identity"))
    // widen the non-identity column, then clone: EVERY surface rides
    TxLog.alterWidenColumn(spark, base, "amount", LongType)
    val clone = "/tmp/graft_txix/id_rename_clone"
    TxLog.drop(spark, clone)
    TxLog.cloneShallow(spark, base, clone)
    val cv = TxLog.latestVersion(spark, clone).get
    assert(TxLog.metaOf(spark, clone, cv).colMap.isDefined)
    assert(TxLog.metaOf(spark, clone, cv).widened.nonEmpty)
    assert(TxLog.metaOf(spark, clone, cv).identity.nonEmpty)
    assert(TxLog.read(spark, clone).schema("amount").dataType == LongType)
    // the clone's identity allocation continues ABOVE the source's
    TxLog.appendIdentity(Seq(40L).toDF("amount"), clone, "rid")
    val ids = TxLog.read(spark, clone).select("rid")
      .collect().map(_.getLong(0)).toSet
    assert(ids.size == 3 && ids.max > 2,
      s"clone identity must continue above the cloned-in ids: $ids")
  }

  test("conditional multi-clause MERGE works against a CATALOG-" +
    "qualified table name (not just OPTIONS-path tables), with the " +
    "namespace-qualified target alias resolving correctly") {
    val s0 = SparkTestBase.spark
    graft.sources.TxLogSqlDml.ensureInjected(s0)
    val s = s0.newSession()
    s.conf.set("spark.sql.catalog.gcm", "graft.sources.TxLogCatalog")
    s.conf.set("spark.sql.catalog.gcm.warehouse", "/tmp/graft_txix/wh_cm")
    s.sql("CREATE NAMESPACE IF NOT EXISTS gcm.lake")
    s.sql("DROP TABLE IF EXISTS gcm.lake.orders")
    s.sql("CREATE TABLE gcm.lake.orders (k INT, v DOUBLE, status STRING) " +
      "USING graft.sources.TxLogSource")
    s.sql("INSERT INTO gcm.lake.orders VALUES " +
      "(1, 10.0, 'a'), (2, 20.0, 'a'), (3, 30.0, 'a')")
    s.sql(
      """MERGE INTO gcm.lake.orders t
        |USING (SELECT * FROM VALUES (2, 22.0, true), (3, 33.0, false),
        |       (4, 44.0, false) AS s(k, v, del)) s
        |ON t.k = s.k
        |WHEN MATCHED AND s.del THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED AND NOT s.del THEN
        |  INSERT (k, v, status) VALUES (s.k, s.v, 'new')
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET status = 'stale'
        |""".stripMargin)
    val got = s.table("gcm.lake.orders").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getString(2))).toSet
    assert(got == Set(
      (1, 10.0, "stale"),  // not matched by source
      // k=2 deleted (conditional first clause)
      (3, 33.0, "a"),      // updated
      (4, 44.0, "new")),   // conditional insert
      got.toString)
    s.sql("DROP TABLE gcm.lake.orders")
  }

  test("rewrite verbs × file-evolved schema: OPTIMIZE / ZORDER / COW " +
    "UPDATE / COW merge / purge on a mergeSchema-on-write-evolved " +
    "table read the files' UNION, never one footer — the evolved " +
    "column's values survive every rewrite") {
    import graft.operators.TxLog
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = "/tmp/graft_txint/evolve_rewrite"
    TxLog.drop(spark, base)
    // file 1: (k, v); files 2..4: (k, v, tag) — the documented
    // mergeSchema-on-write evolution path, all files small
    TxLog.commit((1 to 50).map(i => (i, i * 10)).toDF("k", "v")
      .coalesce(1), base, None, Some("k"))
    (0 to 2).foreach(b => TxLog.append(
      (1 to 20).map(i => (100 * (b + 1) + i, i, s"t$b"))
        .toDF("k", "v", "tag").coalesce(1), base, Some("k")))
    def tagSum: Long = TxLog.readEvolved(spark, base)
      .agg(sum(when(col("tag").isNotNull, 1L).otherwise(0L))).head.getLong(0)
    def total: Long = TxLog.readEvolved(spark, base).count()
    assert(tagSum == 60 && total == 110)
    // OPTIMIZE folds all four small files into one — tag must survive
    TxLog.compact(spark, base, 1000L, 100000L)
    assert(tagSum == 60 && total == 110,
      "compaction must not drop the file-evolved column's values")
    // COW UPDATE rewrites touched rows — non-assigned tag carries
    TxLog.updateRange(spark, base, "k", 101, 101, Map("v" -> lit(999)))
    val row = TxLog.readEvolved(spark, base).where(col("k") === 101)
      .select("v", "tag").head
    assert(row.getInt(0) == 999 && row.getString(1) == "t0",
      s"COW update must carry the evolved column: $row")
    assert(tagSum == 60 && total == 110)
    // ZORDER re-tiles everything — tag survives the interleave
    TxLog.compactZorder(spark, base, Seq("k", "v"), 100000L, 200000L)
    assert(tagSum == 60 && total == 110,
      "zorder must not drop the file-evolved column's values")
  }
}
