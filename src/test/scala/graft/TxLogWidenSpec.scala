package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TxLog

/** `ALTER COLUMN ... TYPE` widening laws (VERDICT r11 next-round #4 —
  * Delta's type-widening table feature): the ALTER is metadata-only,
  * pre-widen files read as the widened type, post-widen appends land
  * wide next to narrow files and every read path (API snapshot, time
  * travel, DSv2/SQL, DML verbs, change feed, clone) serves the mix;
  * narrowing and cross-family changes fail loudly; time travel below
  * the ALTER serves the old type. */
class TxLogWidenSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("int->long and float->double: metadata-only ALTER, mixed-width " +
    "files read as the widened type through API, SQL and time travel") {
    val base = "/tmp/graft_txwiden/core"
    TxLog.drop(spark, base)
    import spark.implicits._
    TxLog.commit((1 to 50).map(i => (i, i * 1.5f)).toDF("k", "v")
      .coalesce(1), base, None, Some("k"))
    val preFiles = TxLog.manifestFiles(spark, base, 1L).toSet
    val v2 = TxLog.alterWidenColumn(spark, base, "k", LongType)
    val v3 = TxLog.alterWidenColumn(spark, base, "v", DoubleType)
    // metadata-only: same files, no data change
    assert(TxLog.manifestFiles(spark, base, v3).toSet == preFiles)
    assert(!TxLog.dataChangeOf(spark, base, v2))
    assert(TxLog.operationOf(spark, base, v2).contains("ALTER COLUMN"))
    // the snapshot serves the WIDE types over the narrow bytes
    val snap = TxLog.read(spark, base)
    assert(snap.schema("k").dataType == LongType)
    assert(snap.schema("v").dataType == DoubleType)
    assert(snap.agg(sum("k")).head.getLong(0) == (1 to 50).map(_.toLong).sum)
    // post-widen append lands WIDE values beyond int range — the mixed
    // file set is exactly what inference cannot read
    TxLog.append(Seq((5_000_000_000L, 2.5d)).toDF("k", "v"),
      base, Some("k"))
    val mixed = TxLog.read(spark, base)
    assert(mixed.count() == 51)
    assert(mixed.where(col("k") > Int.MaxValue.toLong).count() == 1)
    // stats pruning still bites across the width mix (int and long
    // share the "long" stats dtype)
    val (kept, all) = TxLog.pruneRanges(spark, base,
      Seq(("k", 4_000_000_000L, 6_000_000_000L)))
    assert(kept.size == 1 && all.size == 2)
    // time travel BELOW the ALTER serves the old (narrow) type
    assert(TxLog.readVersion(spark, base, 1L).schema("k").dataType
      == IntegerType)
    // DSv2/SQL surface agrees
    val viaSource = spark.read.format("graft.sources.TxLogSource").load(base)
    assert(viaSource.schema("k").dataType == LongType)
    assert(viaSource.agg(sum("k")).head.getLong(0) ==
      (1 to 50).map(_.toLong).sum + 5_000_000_000L)
    // evolved read too
    assert(TxLog.readEvolved(spark, base).schema("k").dataType == LongType)
  }

  test("narrowing and cross-family changes fail loudly, through the " +
    "verb and the SQL catalog alike; partition/generated columns " +
    "are vetoed") {
    val base = "/tmp/graft_txwiden/guard"
    TxLog.drop(spark, base)
    import spark.implicits._
    TxLog.commit(Seq((1L, "a", 1.0f)).toDF("k", "s", "v"),
      base, None, Some("k"))
    for ((c, t) <- Seq(("k", IntegerType), // narrowing
                       ("s", LongType),    // cross-family
                       ("v", FloatType),   // same type
                       ("k", DoubleType))) // cross-family numeric
      assert(intercept[IllegalArgumentException] {
        TxLog.alterWidenColumn(spark, base, c, t)
      }.getMessage.contains("safe widenings"), s"$c -> $t")
    // unchanged: no version published by the failed ALTERs
    assert(TxLog.latestVersion(spark, base).contains(1L))
    // SQL catalog route: ALTER COLUMN widens; narrowing errors
    val s0 = SparkTestBase.spark
    graft.sources.TxLogSqlDml.ensureInjected(s0)
    val s = s0.newSession()
    s.conf.set("spark.sql.catalog.gw", "graft.sources.TxLogCatalog")
    s.conf.set("spark.sql.catalog.gw.warehouse", "/tmp/graft_txwiden/wh")
    s.sql("CREATE NAMESPACE IF NOT EXISTS gw.lake")
    s.sql("DROP TABLE IF EXISTS gw.lake.w")
    s.sql("CREATE TABLE gw.lake.w (k INT, v FLOAT) " +
      "USING graft.sources.TxLogSource")
    s.sql("INSERT INTO gw.lake.w VALUES (7, CAST(1.5 AS FLOAT))")
    s.sql("ALTER TABLE gw.lake.w ALTER COLUMN k TYPE BIGINT")
    assert(s.table("gw.lake.w").schema("k").dataType == LongType)
    s.sql("INSERT INTO gw.lake.w VALUES (6000000000, CAST(2.5 AS FLOAT))")
    assert(s.sql("SELECT sum(k) AS s FROM gw.lake.w").head.getLong(0)
      == 6000000007L)
    // narrowing over SQL: Spark's own analyzer may veto it before the
    // catalog (NOT_SUPPORTED_CHANGE_COLUMN) — either way it is loud
    // and nothing publishes
    val e = intercept[Exception] {
      s.sql("ALTER TABLE gw.lake.w ALTER COLUMN v TYPE INT")
    }
    assert(e.getMessage.contains("safe widenings") ||
      e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"), e.getMessage)
    s.sql("DROP TABLE gw.lake.w")
    // partition-column veto
    val pbase = "/tmp/graft_txwiden/part"
    TxLog.drop(spark, pbase)
    TxLog.commitPartitioned(
      Seq((1, 10)).toDF("k", "bucket"), pbase, Seq("bucket"))
    assert(intercept[IllegalArgumentException] {
      TxLog.alterWidenColumn(spark, pbase, "bucket", LongType)
    }.getMessage.contains("partition column"))
  }

  test("widening composes with the rest of the table machinery: DML " +
    "verbs over the width mix, decimal growth, change feed in the " +
    "widened surface, clone carries the widen lines, writer gate " +
    "stamps 5") {
    val base = "/tmp/graft_txwiden/compose"
    TxLog.drop(spark, base)
    import spark.implicits._
    TxLog.commit(
      (1 to 40).map(i => (i, BigDecimal(i).setScale(2), s"r$i"))
        .toDF("k", "m", "p")
        .select(col("k"), col("m").cast(DecimalType(8, 2)).as("m"), col("p"))
        .coalesce(1),
      base, None, Some("k"))
    TxLog.alterWidenColumn(spark, base, "k", LongType)
    TxLog.alterWidenColumn(spark, base, "m", DecimalType(16, 2))
    // decimal narrowing / integral-digit loss is vetoed
    assert(intercept[IllegalArgumentException] {
      TxLog.alterWidenColumn(spark, base, "m", DecimalType(16, 10))
    }.getMessage.contains("safe widenings"))
    TxLog.append(
      Seq((9_000_000_000L, BigDecimal("12345678901234.50"), "wide"))
        .toDF("k", "m", "p")
        .select(col("k"), col("m").cast(DecimalType(16, 2)).as("m"),
          col("p")),
      base, Some("k"))
    // MOR verbs over the mixed-width files
    TxLog.updateWhereMor(spark, base, col("k") <= 5,
      Map("p" -> lit("updated")))
    TxLog.deleteWhereMor(spark, base, col("k") === 6L)
    val snap = TxLog.read(spark, base)
    assert(snap.count() == 40) // 41 - 1 deleted
    assert(snap.where("p = 'updated'").count() == 5)
    assert(snap.schema("m").dataType == DecimalType(16, 2))
    assert(snap.agg(max("m")).head.getDecimal(0)
      .compareTo(new java.math.BigDecimal("12345678901234.50")) == 0)
    // the change feed serves every slice in the widened surface
    val feed = TxLog.changesWithDeletes(spark, base, 0L,
      TxLog.latestVersion(spark, base).get)
    assert(feed.schema("k").dataType == LongType)
    assert(feed.where(col("_change_type") === "update_postimage")
      .count() == 5)
    // clone carries the widen lines: the copy reads the width mix
    val clone = "/tmp/graft_txwiden/compose_clone"
    TxLog.drop(spark, clone)
    TxLog.cloneShallow(spark, base, clone)
    val cl = TxLog.read(spark, clone)
    assert(cl.schema("k").dataType == LongType && cl.count() == 40)
    // writer protocol floor: an ignorant writer would drop the widen
    // lines and silently un-widen the surface
    val detail = TxLog.describeDetail(spark, base).head()
    assert(detail.getAs[Int]("min_writer_version") == 5, detail)
  }

  test("maintenance verbs run over the mixed-width file set: OPTIMIZE " +
    "(compact), ZORDER, REORG PURGE, COW range ops and bloom indexing " +
    "all read through the widened schema; content and the wide " +
    "surface survive every rewrite") {
    val base = "/tmp/graft_txwiden/maint"
    TxLog.drop(spark, base)
    import spark.implicits._
    TxLog.commit((1 to 1000).map(i => (i, i % 40, s"p$i"))
      .toDF("k", "y", "p").repartitionByRange(4, col("k")),
      base, None, Some("k"))
    TxLog.alterWidenColumn(spark, base, "k", LongType)
    // the mix: wide straggler appends
    (1 to 3).foreach(i => TxLog.append(
      Seq((10_000_000_000L + i, i, s"w$i")).toDF("k", "y", "p"),
      base, Some("k")))
    TxLog.deleteWhereMor(spark, base, col("k") === 7L) // a mask too
    def checksum() = TxLog.read(spark, base)
      .agg(count(lit(1)), sum("k")).head()
    val before = checksum()
    // compact folds the stragglers across the width mix
    TxLog.compact(spark, base, smallThresholdRows = 100L,
      targetRows = 2000L)
    assert(checksum() == before)
    // z-order re-tiles across the mix
    TxLog.compactZorder(spark, base, "k", "y", 100L, 2000L)
    assert(checksum() == before)
    // purge materializes masks over the mix
    TxLog.purgeDeletes(spark, base)
    assert(checksum() == before)
    // COW replaceRange + bloom index over the mix
    TxLog.replaceRange(spark, base, "k", 1L, 10L,
      Seq((1L, 0, "r1")).toDF("k", "y", "p"))
    TxLog.buildBloomIndex(spark, base, "k", bitsPerRow = 16, k = 5)
    val (kept, _) = TxLog.prunePoint(spark, base, "k", 10_000_000_001L)
    assert(TxLog.readPoint(spark, base, "k", 10_000_000_001L).count() == 1)
    // the surface is still wide everywhere
    assert(TxLog.read(spark, base).schema("k").dataType == LongType)
  }

  test("review regressions: a widened table REJECTS a batch carrying " +
    "a column outside the declared schema (the bytes would be " +
    "unreachable — reads pin to the declared surface); ALTER ADD " +
    "COLUMNS first, then the write lands and reads back") {
    val base = "/tmp/graft_txwiden/evolve"
    TxLog.drop(spark, base)
    import spark.implicits._
    TxLog.commit(Seq((1, "a")).toDF("k", "p"), base, None, Some("k"))
    TxLog.alterWidenColumn(spark, base, "k", LongType)
    val e = intercept[IllegalArgumentException] {
      TxLog.append(Seq((2L, "b", 9.5)).toDF("k", "p", "score"), base)
    }
    assert(e.getMessage.contains("unreachable"), e.getMessage)
    assert(TxLog.read(spark, base).count() == 1, "the veto lands nothing")
    // declare the column, then the same write works and READS BACK
    TxLog.alterAddColumns(spark, base,
      StructType(Seq(StructField("score", DoubleType))))
    TxLog.append(Seq((2L, "b", 9.5)).toDF("k", "p", "score"), base)
    val snap = TxLog.read(spark, base)
    assert(snap.count() == 2)
    assert(snap.where(col("score") === 9.5).count() == 1)
    assert(snap.schema("k").dataType == LongType)
  }

  test("review regressions r13: widening FOLDS file-evolved columns " +
    "into the published declared schema (the reverse order of the " +
    "write-side veto — evolve THEN widen must not hide the evolved " +
    "column), and a widened table stamps READER version 3") {
    import spark.implicits._
    // (a) stale #schema: table declared (k, v), then a write evolved
    // the FILES with an extra column (mergeSchema-on-write is the
    // documented evolution path — #schema lags the union)
    val base = "/tmp/graft_txwiden/fold"
    TxLog.drop(spark, base)
    TxLog.createTable(spark, base, StructType(Seq(
      StructField("k", IntegerType), StructField("v", FloatType))))
    TxLog.append(Seq((1, 1.5f)).toDF("k", "v").coalesce(1),
      base, Some("k"))
    TxLog.append(Seq((2, 2.5f, "x2")).toDF("k", "v", "extra").coalesce(1),
      base, Some("k"))
    assert(TxLog.readEvolved(spark, base).columns.contains("extra"))
    TxLog.alterWidenColumn(spark, base, "k", LongType)
    // the pinned read surface COVERS the file-evolved column: reads
    // serve its values (new file) and NULL (old file) — never silence
    val snap = TxLog.read(spark, base)
    assert(snap.schema.fieldNames.contains("extra"),
      snap.schema.treeString)
    assert(snap.schema("k").dataType == LongType)
    assert(snap.where(col("extra") === "x2").count() == 1)
    assert(snap.where(col("extra").isNull).count() == 1)
    // folded INTO the published #schema, not just this one read
    val decl = TxLog.metaOf(spark, base,
      TxLog.latestVersion(spark, base).get).schema.get
    assert(decl.fieldNames.contains("extra"))
    // widening is reader-visible (correct reads REQUIRE the declared
    // requested schema): protocol stamps reader 3 alongside writer 5
    val d = TxLog.describeDetail(spark, base).head()
    assert(d.getAs[Int]("min_reader_version") == 3, d.toString)
    assert(d.getAs[Int]("min_writer_version") == 5, d.toString)
    // (b) no #schema at all: the synthesized declared surface is the
    // file UNION, never one arbitrary footer
    val base2 = "/tmp/graft_txwiden/fold2"
    TxLog.drop(spark, base2)
    TxLog.commit(Seq((1, 1.5f)).toDF("k", "v").coalesce(1),
      base2, None, Some("k"))
    TxLog.append(Seq((2, 2.5f, 7L)).toDF("k", "v", "w").coalesce(1),
      base2, Some("k"))
    TxLog.alterWidenColumn(spark, base2, "k", LongType)
    val s2 = TxLog.read(spark, base2)
    assert(s2.schema.fieldNames.toSet == Set("k", "v", "w"),
      s2.schema.treeString)
    assert(s2.agg(sum("w")).head.getLong(0) == 7L)
    // an unwidened table keeps stamping reader (1): enabling the
    // feature on one table never locks old readers out of the lake
    val plain = "/tmp/graft_txwiden/fold_plain"
    TxLog.drop(spark, plain)
    TxLog.commit(Seq((1, "a")).toDF("k", "s"), plain, None, Some("k"))
    assert(TxLog.describeDetail(spark, plain).head()
      .getAs[Int]("min_reader_version") == 1)
  }

  test("Delta 4.0 widening matrix: int->double, int/long->decimal, " +
    "date->timestamp_ntz — each metadata-only with old files upcast " +
    "per file; int->double RETAGS the column's stats (skipping keeps " +
    "full sharpness), cross-family-to-decimal/ntz STRIPS them " +
    "(conservative scan); long->double and date->timestamp veto") {
    import spark.implicits._
    val base = "/tmp/graft_txwiden/matrix"
    TxLog.drop(spark, base)
    TxLog.commit(Seq((1, 5L, java.sql.Date.valueOf("2024-03-05"), 7))
      .toDF("a", "b", "dt", "p").coalesce(1), base, None, Some("a"))
    val preFiles = TxLog.manifestFiles(spark, base, 1L).toSet
    TxLog.alterWidenColumn(spark, base, "a", DoubleType)
    TxLog.alterWidenColumn(spark, base, "b", DecimalType(22, 2))
    TxLog.alterWidenColumn(spark, base, "dt", TimestampNTZType)
    TxLog.alterWidenColumn(spark, base, "p", DecimalType(12, 0))
    val vNow = TxLog.latestVersion(spark, base).get
    assert(TxLog.manifestFiles(spark, base, vNow).toSet == preFiles,
      "metadata-only: not one data byte moves")
    val snap = TxLog.read(spark, base)
    assert(snap.schema("a").dataType == DoubleType)
    assert(snap.schema("b").dataType == DecimalType(22, 2))
    assert(snap.schema("dt").dataType == TimestampNTZType)
    assert(snap.schema("p").dataType == DecimalType(12, 0))
    val r = snap.head()
    assert(r.getDouble(0) == 1.0)
    assert(r.getDecimal(1).compareTo(new java.math.BigDecimal("5")) == 0)
    assert(r.getAs[java.time.LocalDateTime]("dt") ==
      java.time.LocalDateTime.of(2024, 3, 5, 0, 0))
    // a WIDE append (fraction, >int-digits decimal, real ntz instant)
    // lands next to the narrow file and the mix reads as one surface
    TxLog.append(
      Seq((2.5d, "123456789012.34", "2025-01-02T03:04:05", "99"))
        .toDF("a", "b0", "dt0", "p0")
        .select(col("a"), col("b0").cast(DecimalType(22, 2)).as("b"),
          col("dt0").cast(TimestampNTZType).as("dt"),
          col("p0").cast(DecimalType(12, 0)).as("p")),
      base, Some("a"))
    val mixed = TxLog.read(spark, base)
    assert(mixed.count() == 2)
    assert(mixed.agg(sum("a")).head.getDouble(0) == 3.5)
    assert(mixed.agg(sum("b")).head.getDecimal(0)
      .compareTo(new java.math.BigDecimal("123456789017.34")) == 0)
    // int->double stats retag: a FRACTIONAL range predicate prunes
    // the old integer-statted file instead of crashing on a long parse
    val (kept, all) = TxLog.pruneRanges(spark, base,
      Seq(("a", 2.0d, 3.0d)))
    assert(all.size == 2 && kept.size == 1,
      s"retagged stats must keep pruning: ${kept.size}/${all.size}")
    // time travel below the ALTERs serves the narrow originals
    val old = TxLog.readVersion(spark, base, 1L)
    assert(old.schema("a").dataType == IntegerType &&
      old.schema("dt").dataType == DateType)
    // excluded promotions veto loudly
    val base2 = "/tmp/graft_txwiden/matrix_veto"
    TxLog.drop(spark, base2)
    TxLog.commit(Seq((1L, java.sql.Date.valueOf("2024-01-01")))
      .toDF("l", "d"), base2, None, Some("l"))
    assert(intercept[IllegalArgumentException] {
      TxLog.alterWidenColumn(spark, base2, "l", DoubleType)
    }.getMessage.contains("long->double"))
    assert(intercept[IllegalArgumentException] {
      TxLog.alterWidenColumn(spark, base2, "d", TimestampType)
    }.getMessage.contains("timestamp"))
    assert(intercept[IllegalArgumentException] {
      // int range needs 10 integral digits — decimal(9,0) is too small
      TxLog.alterWidenColumn(spark, base2, "l", DecimalType(19, 0))
    }.getMessage.contains("widenings"),
      "long->decimal(19,0) lacks the 20 integral digits")
  }
}
