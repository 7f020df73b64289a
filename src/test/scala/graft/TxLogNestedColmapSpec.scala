package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TxLog

/** Tier-2 nested column mapping (Delta name mode maps nested fields
  * individually; r14 next-round #3). Laws:
  *
  *  - RENAME/DROP COLUMN `a.b` is METADATA-ONLY: zero data files
  *    move; the frozen physical subfield keeps keying the bytes.
  *  - Time travel below a nested rename serves the OLD nested name.
  *  - Dropped nested bytes can never resurface: a re-ADDed field of
  *    the same name is born under a fresh physical leaf and scans
  *    as NULL.
  *  - Writes speak the logical nested surface (commit/append/DML
  *    translate the struct both ways); NULL structs stay NULL.
  *  - Tier-1 interaction laws hold: a CHECK constraint or generated
  *    column referencing `s.x` (or `s`) vetoes nested RENAME/DROP.
  *  - The DSv2 source serves the nested logical surface on its
  *    columnar path, and SQL ALTER routes 2-part paths to the verbs.
  */
class TxLogNestedColmapSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** (k, s{x, y}, tag) rows — x = k*2, y = "y<k>"; k in [lo, lo+n). */
  private def rows(lo: Long, n: Long, tag: String) =
    spark.range(lo, lo + n).select(col("id").as("k"),
      struct((col("id") * 2).as("x"),
        concat(lit("y"), col("id")).as("y")).as("s"),
      lit(tag).as("tag"))

  test("nested RENAME is metadata-only, reads serve the new name, " +
    "time travel below it serves the old one, and skipping by the " +
    "top-level key is unaffected") {
    val base = "/tmp/graft_txnested/rename"
    TxLog.drop(spark, base)
    TxLog.commit(rows(0, 100, "a").repartitionByRange(4, col("k")),
      base, None, Some("k"))
    val files1 = TxLog.manifestFiles(spark, base, 1L).toSet
    val v = TxLog.renameColumn(spark, base, "s.x", "ex")
    assert(v == 2L)
    assert(TxLog.manifestFiles(spark, base, 2L).toSet == files1,
      "nested RENAME COLUMN must be metadata-only: zero files touched")
    // new logical surface
    val got = TxLog.read(spark, base).select(col("k"), col("s.ex"))
      .as[(Long, Long)].collect().toMap
    assert(got(7L) == 14L && got.size == 100)
    // the old name is gone from the surface
    intercept[Exception](
      TxLog.read(spark, base).select(col("s.x")).collect())
    // time travel BELOW the rename serves the old nested name
    assert(TxLog.readVersion(spark, base, 1L).select(col("s.x"))
      .as[Long].collect().toSet == (0L until 100L).map(_ * 2).toSet)
    // top-level stats skipping unaffected by the nested upgrade
    val (kept, all) = TxLog.pruneRange(spark, base, "k", 0L, 10L)
    assert(kept.size < all.size)
    // rename again under the SAME parent via the a.c spelling
    TxLog.renameColumn(spark, base, "s.ex", "s.ex2")
    assert(TxLog.read(spark, base).select(col("s.ex2")).count() == 100)
    // a cross-parent target is a loud error
    intercept[IllegalArgumentException](
      TxLog.renameColumn(spark, base, "s.ex2", "t.z"))
  }

  test("nested DROP hides the field metadata-only; a re-ADDed field " +
    "of the same name scans as NULL — the dropped bytes never " +
    "resurface; new writes land the fresh physical leaf") {
    val base = "/tmp/graft_txnested/drop"
    TxLog.drop(spark, base)
    TxLog.commit(rows(0, 60, "a").repartitionByRange(2, col("k")),
      base, None, Some("k"))
    val files1 = TxLog.manifestFiles(spark, base, 1L).toSet
    TxLog.dropColumn(spark, base, "s.y")
    assert(TxLog.manifestFiles(spark, base, 2L).toSet == files1,
      "nested DROP COLUMN must be metadata-only")
    val shape = TxLog.read(spark, base).schema("s").dataType
      .asInstanceOf[StructType].fieldNames.toSeq
    assert(shape == Seq("x"), s"dropped field must vanish, got $shape")
    // re-ADD under the same name: fresh physical leaf, NULL scan
    TxLog.alterAddNestedColumns(spark, base, "s",
      StructType(Seq(StructField("y", StringType))))
    val r = TxLog.read(spark, base)
    assert(r.where(col("s.y").isNotNull).count() == 0L,
      "a re-ADDed nested field must scan as NULL, not the dropped bytes")
    // a new write fills the re-ADDed field; old rows stay NULL
    TxLog.append(rows(100, 5, "b"), base, Some("k"))
    val r2 = TxLog.read(spark, base)
    assert(r2.where(col("s.y").isNotNull).count() == 5L)
    assert(r2.where(col("k") === 101L).select(col("s.y"))
      .as[String].head() == "y101")
    // dropping the last nested field is vetoed toward the parent
    TxLog.dropColumn(spark, base, "s.y")
    val err = intercept[IllegalArgumentException](
      TxLog.dropColumn(spark, base, "s.x"))
    assert(err.getMessage.contains("parent"))
  }

  test("writes and row-level DML speak the nested logical surface: " +
    "append after a rename round-trips, COW delete and MOR delete " +
    "leave the mapped struct intact, NULL structs stay NULL") {
    val base = "/tmp/graft_txnested/dml"
    TxLog.drop(spark, base)
    // seed with a NULL struct row riding along
    val seed = rows(0, 40, "a").union(
      spark.range(900, 901).select(col("id").as("k"),
        lit(null).cast("struct<x: bigint, y: string>").as("s"),
        lit("n").as("tag")))
    TxLog.commit(seed.repartitionByRange(2, col("k")), base, None,
      Some("k"))
    TxLog.renameColumn(spark, base, "s.x", "ex")
    // append in the NEW logical shape
    TxLog.append(spark.range(40, 50).select(col("id").as("k"),
      struct((col("id") * 2).as("ex"),
        concat(lit("y"), col("id")).as("y")).as("s"),
      lit("b").as("tag")), base, Some("k"))
    val r = TxLog.read(spark, base)
    assert(r.where(col("s.ex") === col("k") * 2).count() == 50)
    assert(r.where(col("k") === 900L).select(col("s")).head().isNullAt(0),
      "a NULL struct must stay NULL through the mapped rebuild")
    // an append writing an UNKNOWN nested field fails loudly
    val bad = spark.range(60, 61).select(col("id").as("k"),
      struct(col("id").as("zz")).as("s"), lit("x").as("tag"))
    val e = intercept[IllegalArgumentException](
      TxLog.append(bad, base, Some("k")))
    assert(e.getMessage.contains("s.zz"))
    // row-level DML through the top-level key
    TxLog.deleteRange(spark, base, "k", 0L, 9L)
    TxLog.deleteRangeMor(spark, base, "k", 10L, 14L)
    val after = TxLog.read(spark, base)
    assert(after.count() == 51 - 15)
    assert(after.where(col("s.ex") === col("k") * 2).count() == 35,
      "the rewritten and masked files must keep serving the mapped " +
        "nested surface")
  }

  test("tier-1 interaction: constraints and generated columns veto " +
    "nested RENAME/DROP on the exact path and on the parent") {
    val base = "/tmp/graft_txnested/deps"
    TxLog.drop(spark, base)
    TxLog.commit(rows(0, 20, "a"), base, None, Some("k"))
    TxLog.addConstraint(spark, base, "x_even", "s.x % 2 = 0")
    val e1 = intercept[IllegalArgumentException](
      TxLog.renameColumn(spark, base, "s.x", "ex"))
    assert(e1.getMessage.contains("x_even"))
    val e2 = intercept[IllegalArgumentException](
      TxLog.dropColumn(spark, base, "s.x"))
    assert(e2.getMessage.contains("x_even"))
    // the parent stays vetoed too (the r13/r14 head rule)
    val e3 = intercept[IllegalArgumentException](
      TxLog.renameColumn(spark, base, "s", "s2"))
    assert(e3.getMessage.contains("x_even"))
    // an untouched sibling field renames fine
    TxLog.renameColumn(spark, base, "s.y", "why")
    assert(TxLog.read(spark, base).select(col("s.why")).count() == 20)
    TxLog.dropConstraint(spark, base, "x_even")
    TxLog.renameColumn(spark, base, "s.x", "ex") // now allowed
    assert(TxLog.read(spark, base)
      .where(col("s.ex") === col("k") * 2).count() == 20)
  }

  test("DSv2 surface: the source serves the nested logical surface " +
    "on its columnar path, and catalog SQL ALTER routes 2-part paths " +
    "to the nested verbs") {
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.graft", "graft.sources.TxLogCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse",
      "/tmp/graft_txnested/warehouse")
    val base = "/tmp/graft_txnested/warehouse/nst/t1"
    TxLog.drop(s, base)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.nst")
    s.sql("DROP TABLE IF EXISTS graft.nst.t1")
    s.sql("CREATE TABLE graft.nst.t1 (k BIGINT, " +
      "s STRUCT<x: BIGINT, y: STRING>, tag STRING) USING " +
      "graft.sources.TxLogSource")
    // the parquet-mr DSv2 sink writes nested shapes too (standard
    // 3-level layouts): the seed lands through SQL INSERT
    s.sql("INSERT INTO graft.nst.t1 SELECT id AS k, " +
      "named_struct('x', id * 2, 'y', concat('y', id)) AS s, " +
      "'a' AS tag FROM range(0, 30)")
    s.sql("ALTER TABLE graft.nst.t1 RENAME COLUMN s.x TO ex")
    assert(TxLog.latestMeta(s, base).colMap.exists(_.hasNested),
      "the catalog ALTER must publish the nested mapping to the log")
    val got = s.sql("SELECT k, s.ex, s.y FROM graft.nst.t1 " +
      "WHERE k BETWEEN 5 AND 7 ORDER BY k").collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSeq == Seq((5L, 10L, "y5"), (6L, 12L, "y6"), (7L, 14L, "y7")))
    s.sql("ALTER TABLE graft.nst.t1 DROP COLUMN s.y")
    val shape = s.sql("SELECT s FROM graft.nst.t1").schema("s")
      .dataType.asInstanceOf[StructType].fieldNames.toSeq
    assert(shape == Seq("ex"), s"DSv2 must hide the dropped field: $shape")
    // an INSERT after the rename speaks the NEW logical shape; the
    // sink lands the frozen physical leaf names on disk
    s.sql("INSERT INTO graft.nst.t1 SELECT 100L AS k, " +
      "named_struct('ex', 200L) AS s, 'b' AS tag")
    assert(s.sql("SELECT s.ex FROM graft.nst.t1 WHERE k = 100").head()
      .getLong(0) == 200L)
    // a just-ADDed nested field null-fills from the declared type
    TxLog.alterAddNestedColumns(s, base, "s",
      StructType(Seq(StructField("w", IntegerType))))
    s.sql("REFRESH TABLE graft.nst.t1")
    assert(s.sql("SELECT count(*) FROM graft.nst.t1 WHERE s.w IS NULL")
      .head().getLong(0) == 31L)
    s.sql("DROP TABLE graft.nst.t1")
  }

  test("nested-leaf STATS (Delta skips on nested leaves): a commit " +
    "clustered on 's.x' collects per-file min/max on the leaf, range " +
    "pruning by the nested path skips files, the skip keeps working " +
    "through a nested RENAME (stats stay keyed on the frozen physical " +
    "path), and a MOR delete by the nested range masks row-precisely") {
    val base = "/tmp/graft_txnested/stats"
    TxLog.drop(spark, base)
    TxLog.commit(rows(0, 100, "a").repartitionByRange(4, col("s.x")),
      base, None, Some("s.x"))
    val all = TxLog.manifest(spark, base, 1L)._1
    assert(all.forall(_.statsFor("s.x").isDefined),
      "every file must carry min/max on the nested leaf")
    val (kept, allP) = TxLog.pruneRange(spark, base, "s.x", 0L, 20L)
    assert(kept.size < allP.size,
      s"a narrow leaf band must prune: kept ${kept.size} of ${allP.size}")
    assert(TxLog.readRange(spark, base, "s.x", 10L, 20L)
      .where(col("s.x").between(10, 20))
      .select(col("k")).as[Long].collect().toSet == (5L to 10L).toSet)
    // nested RENAME: the LOGICAL path changes, stats stay keyed on
    // the frozen physical path — pruning by the new name still skips
    TxLog.renameColumn(spark, base, "s.x", "ex")
    val (kept2, _) = TxLog.pruneRange(spark, base, "s.ex", 0L, 20L)
    assert(kept2.size == kept.size,
      "pruning by the renamed leaf must reach the frozen stats")
    // MOR delete by the nested range: stats pre-prune + row-precise
    TxLog.deleteRangeMor(spark, base, "s.ex", 0L, 20L)
    assert(TxLog.read(spark, base).select(col("k")).as[Long]
      .collect().toSet == (11L until 100L).toSet,
      "the leaf-range mask must remove exactly s.ex in [0, 20]")
  }

  test("DV-masked struct files read through the ROW decoder: the " +
    "DSv2 source serves struct rows with nested-mapped leaves " +
    "resolved by their frozen physical names, struct-of-struct " +
    "recurses, and the mask stays row-precise") {
    val base = "/tmp/graft_txnested/rowdec"
    TxLog.drop(spark, base)
    TxLog.commit(rows(0, 40, "a").coalesce(1), base, None, Some("k"))
    TxLog.renameColumn(spark, base, "s.x", "ex") // nested-mapped now
    TxLog.deleteRangeMor(spark, base, "k", 5L, 9L) // masks THE file
    val df = spark.read.format("graft.sources.TxLogSource").load(base)
    assert(df.select("k").as[Long].collect().toSet ==
      (0L until 40L).toSet -- (5L to 9L))
    assert(df.where(col("s.ex") === col("k") * 2 &&
      col("s.y") === concat(lit("y"), col("k"))).count() == 35,
      "the row decoder must serve the mapped struct's leaves")
    // struct-of-struct: recursion through the same decoder
    val base2 = "/tmp/graft_txnested/rowdec2"
    TxLog.drop(spark, base2)
    TxLog.commit(spark.range(0, 20).select(col("id").as("k"),
      struct(struct((col("id") * 3).as("q")).as("inner"),
        col("id").cast("string").as("t")).as("s")).coalesce(1),
      base2, None, Some("k"))
    TxLog.deleteRangeMor(spark, base2, "k", 0L, 2L)
    val d2 = spark.read.format("graft.sources.TxLogSource").load(base2)
    assert(d2.where(col("s.inner.q") === col("k") * 3).count() == 17)
    assert(d2.select(col("s.t")).as[String].collect().toSet ==
      (3L until 20L).map(_.toString).toSet)
  }

  test("the DSv2 sink round-trips ARRAY/MAP/array-of-struct through " +
    "SQL INSERT — layouts match what the vectorized reader and the " +
    "row decoder consume") {
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.graft", "graft.sources.TxLogCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse",
      "/tmp/graft_txnested/warehouse")
    val base = "/tmp/graft_txnested/warehouse/nst/t2"
    TxLog.drop(s, base)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.nst")
    s.sql("DROP TABLE IF EXISTS graft.nst.t2")
    s.sql("CREATE TABLE graft.nst.t2 (k BIGINT, emb ARRAY<FLOAT>, " +
      "m MAP<STRING, BIGINT>, asx ARRAY<STRUCT<q: BIGINT, t: STRING>>) " +
      "USING graft.sources.TxLogSource")
    s.sql("INSERT INTO graft.nst.t2 SELECT id AS k, " +
      "array(cast(id * 2 AS FLOAT), cast(id * 2 + 1 AS FLOAT)) AS emb, " +
      "map('a', id, 'b', id * 10) AS m, " +
      "array(struct(id AS q, cast(id AS STRING) AS t)) AS asx " +
      "FROM range(0, 25)")
    val got = s.sql("SELECT count(*) FROM graft.nst.t2 WHERE " +
      "element_at(emb, 1) = cast(k * 2 AS FLOAT) AND " +
      "element_at(m, 'b') = k * 10 AND element_at(asx, 1).q = k")
      .head().getLong(0)
    assert(got == 25L, s"nested round-trip through the sink: $got")
    // ... and the DV row decoder serves the sink's own files masked
    TxLog.deleteRangeMor(s, base, "k", 0L, 4L)
    assert(s.sql("SELECT count(*) FROM graft.nst.t2 WHERE " +
      "element_at(emb, 2) = cast(k * 2 + 1 AS FLOAT)").head()
      .getLong(0) == 20L)
    s.sql("DROP TABLE graft.nst.t2")
  }

  test("ARRAY and MAP columns read through the DV row decoder too — " +
    "the embedding-store shape: a MOR delete on a table carrying " +
    "Array[Float] embeddings serves the survivors' vectors intact") {
    val base = "/tmp/graft_txnested/arr"
    TxLog.drop(spark, base)
    TxLog.commit(spark.range(0, 20).select(col("id").as("k"),
      array((col("id") * 2).cast("float"),
        (col("id") * 2 + 1).cast("float")).as("emb"),
      map(lit("a"), col("id"), lit("b"), col("id") * 10).as("m"),
      array(struct(col("id").as("q"),
        col("id").cast("string").as("t"))).as("asx")).coalesce(1),
      base, None, Some("k"))
    TxLog.deleteRangeMor(spark, base, "k", 0L, 4L)
    val d = spark.read.format("graft.sources.TxLogSource").load(base)
    assert(d.select("k").as[Long].collect().toSet == (5L until 20L).toSet)
    assert(d.where(element_at(col("emb"), 1) === col("k") * 2 &&
      element_at(col("emb"), 2) === col("k") * 2 + 1).count() == 15)
    assert(d.where(element_at(col("m"), "b") === col("k") * 10)
      .count() == 15)
    assert(d.where(element_at(col("asx"), 1).getField("q") === col("k"))
      .count() == 15, "array-of-struct recurses through the decoder")
  }

  test("CLUSTER BY a nested leaf (event-time-inside-a-struct): " +
    "appends tile on the (s.x, k) interleave with stats on BOTH keys, " +
    "a 2-D box prunes, the OPTIMIZE sweep re-tiles stat-less history, " +
    "and dropping the clustered leaf is vetoed") {
    val base = "/tmp/graft_txnested/cluster"
    TxLog.drop(spark, base)
    // pre-clustering history: unordered, no s.x stats (weak files)
    TxLog.commit(rows(0, 200, "a").repartition(4), base, None, Some("k"))
    TxLog.alterClusterBy(spark, base, Seq("s.x", "k"))
    val vBefore = TxLog.latestVersion(spark, base).get
    TxLog.append(rows(200, 200, "b").repartition(4), base, Some("k"))
    val vApp = TxLog.latestVersion(spark, base).get
    val prevPaths = TxLog.manifest(spark, base, vBefore)._1.map(_.path).toSet
    val appended = TxLog.manifest(spark, base, vApp)._1
      .filterNot(e => prevPaths.contains(e.path))
    assert(appended.nonEmpty && appended.forall(e =>
      e.statsFor("s.x").isDefined && e.statsFor("k").isDefined),
      "clustered appends must land stats on the nested leaf AND k")
    // the OPTIMIZE sweep (2 keys → zorder) re-tiles the stat-less
    // pre-clustering history into interleave-banded files
    val vOpt = TxLog.compact(spark, base, smallThresholdRows = 60L,
      targetRows = 80L)
    assert(vOpt > vApp, "stat-less history must be swept")
    val after = TxLog.manifest(spark, base, vOpt)._1
    assert(after.forall(e => e.statsFor("s.x").isDefined))
    val (kept, all) = TxLog.pruneRanges(spark, base,
      Seq(("s.x", 0L, 99L), ("k", 0L, 49L)))
    assert(kept.size < all.size,
      s"a 2-D box on (s.x, k) must prune: kept ${kept.size} of ${all.size}")
    assert(TxLog.read(spark, base).count() == 400)
    assert(TxLog.read(spark, base)
      .where(col("s.x") === col("k") * 2).count() == 400,
      "re-tiling is content-identical")
    val e = intercept[IllegalArgumentException](
      TxLog.dropColumn(spark, base, "s.x"))
    assert(e.getMessage.contains("CLUSTER BY"))
    // declaration at BIRTH takes the nested key too
    val base2 = "/tmp/graft_txnested/cluster2"
    TxLog.drop(spark, base2)
    TxLog.createTable(spark, base2,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("s",
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("x",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("y",
              org.apache.spark.sql.types.StringType)))))),
      clusterBy = Seq("s.x", "k"))
    TxLog.append(rows(0, 100, "a").repartition(2), base2, Some("k"))
    assert(TxLog.manifest(spark, base2,
        TxLog.latestVersion(spark, base2).get)._1
      .forall(_.statsFor("s.x").isDefined),
      "a birth-declared nested cluster key stats every append")
  }

  test("a table with deeper nesting vetoes loudly: tier 2 is one " +
    "struct level") {
    val base = "/tmp/graft_txnested/deep"
    TxLog.drop(spark, base)
    TxLog.commit(spark.range(0, 5).select(col("id").as("k"),
      struct(struct(col("id").as("q")).as("inner")).as("s")),
      base, None, Some("k"))
    val e = intercept[IllegalArgumentException](
      TxLog.renameColumn(spark, base, "s.inner.q", "z"))
    assert(e.getMessage.contains("one struct level"))
  }
}
