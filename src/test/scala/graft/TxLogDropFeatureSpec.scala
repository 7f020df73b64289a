package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TxLog

/** `ALTER TABLE ... DROP FEATURE` (Delta 3.4's protocol downgrade):
  * the only verb allowed to LOWER the protocol floors — after its
  * in-commit cleanup proves no live state still needs the feature.
  * The laws pin the cleanup (typeWidening rewrites exactly the files
  * that can still hold narrow bytes, in the same commit that drops
  * the lines), the downgrade (an inference-only reader can serve the
  * table again), and per-version soundness (time travel below the
  * drop re-applies the old gates). */
class TxLogDropFeatureSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def writerFloor(base: String): Int =
    TxLog.describeDetail(spark, base).head()
      .getAs[Int]("min_writer_version")
  private def readerFloor(base: String): Int =
    TxLog.describeDetail(spark, base).head()
      .getAs[Int]("min_reader_version")

  test("DROP FEATURE rowTracking: floors fall, ids are genuinely " +
    "unbound (the lineage surface refuses), content untouched") {
    val base = "/tmp/graft_txdropf/rowtrack"
    TxLog.drop(spark, base)
    TxLog.append((1L to 100L).map(k => (k, s"v$k")).toDF("k", "v"),
      base, Some("k"))
    TxLog.enableRowTracking(spark, base)
    TxLog.compact(spark, base, 1L << 20, 1L << 22) // materialize ids
    assert(writerFloor(base) == 7 && readerFloor(base) == 4)
    val content = TxLog.read(spark, base).select("k", "v").collect().toSet
    val v = TxLog.dropFeature(spark, base, "rowTracking")
    assert(writerFloor(base) < 7 && readerFloor(base) < 4,
      s"floors must FALL: w=${writerFloor(base)} r=${readerFloor(base)}")
    assert(TxLog.read(spark, base).select("k", "v").collect().toSet
      == content)
    val refuse = intercept[IllegalArgumentException] {
      TxLog.readWithRowIds(spark, base).count()
    }
    assert(refuse.getMessage != null)
    assert(TxLog.manifest(spark, base, v)._1.forall(_.baseRowId.isEmpty),
      "entry id spans must drop with the feature")
    // the materialized __row_id file column stays reserved-hidden
    assert(!TxLog.read(spark, base).columns.exists(
      _.equalsIgnoreCase("__row_id")))
  }

  test("DROP FEATURE typeWidening rewrites ONLY the files that can " +
    "still hold narrow bytes; plain footer inference then serves the " +
    "table; time travel below the drop keeps the old gates") {
    val base = "/tmp/graft_txdropf/widen"
    TxLog.drop(spark, base)
    TxLog.commit((1 to 400).map(i => (i, s"p$i")).toDF("k", "p")
      .repartitionByRange(4, col("k")), base, None, Some("k"))
    val vWiden = TxLog.alterWidenColumn(spark, base, "k",
      org.apache.spark.sql.types.LongType)
    TxLog.append((401L to 500L).map(i => (i, s"p$i")).toDF("k", "p"),
      base, Some("k"))          // lands WIDE (declared schema cast)
    val preDrop = TxLog.manifest(spark, base,
      TxLog.latestVersion(spark, base).get)._1
    val wideFile = preDrop.map(_.path)
      .filterNot(TxLog.manifest(spark, base, 1L)._1.map(_.path).toSet)
    val v = TxLog.dropFeature(spark, base, "typeWidening")
    val post = TxLog.manifest(spark, base, v)._1
    assert(wideFile.forall(post.map(_.path).toSet),
      "files landed AFTER the widen are already wide — they must " +
        "carry by reference, not rewrite")
    assert(TxLog.manifest(spark, base, 1L)._1.map(_.path)
      .forall(p => !post.map(_.path).toSet(p)),
      "every pre-widen (possibly narrow) file must be rewritten")
    assert(readerFloor(base) < 3 && writerFloor(base) < 5)
    // the whole point: an inference-only reader (no #widencol pinning,
    // no declared schema — mergeSchema over raw footers) serves it
    val raw = spark.read.option("mergeSchema", "true")
      .parquet(post.map(e => TxLog.resolve(base, e.path)): _*)
    assert(raw.schema("k").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(raw.count() == 500)
    assert(TxLog.read(spark, base).agg(sum("k")).head.getLong(0)
      == (1L to 500L).sum)
    // below the drop, the widened version still demands its gates
    assert(TxLog.metaOf(spark, base, vWiden).widened.nonEmpty)
    assert(TxLog.readVersion(spark, base, 1L).schema("k").dataType ==
      org.apache.spark.sql.types.IntegerType,
      "time travel below the widen serves the original narrow type")
  }

  test("clustering and columnDefaults drop as metadata unbindings; " +
    "absent or unknown features error loudly") {
    val base = "/tmp/graft_txdropf/meta"
    TxLog.drop(spark, base)
    TxLog.append((1 to 50).map(i => (i, i * 2, 1)).toDF("a", "b", "c"),
      base, Some("a"))
    TxLog.alterClusterBy(spark, base, Seq("a", "b"))
    TxLog.alterColumnDefault(spark, base, "c", Some("5"))
    assert(writerFloor(base) == 8)
    TxLog.dropFeature(spark, base, "columnDefaults")
    assert(TxLog.metaOf(spark, base,
      TxLog.latestVersion(spark, base).get).defaults.isEmpty)
    assert(writerFloor(base) == 6, "clustering remains the floor")
    TxLog.dropFeature(spark, base, "clustering")
    assert(TxLog.metaOf(spark, base,
      TxLog.latestVersion(spark, base).get).cluster.isEmpty)
    assert(writerFloor(base) == 1 && readerFloor(base) == 1)
    val absent = intercept[IllegalArgumentException] {
      TxLog.dropFeature(spark, base, "clustering")
    }
    assert(absent.getMessage.contains("no clustering keys"))
    val unknown = intercept[IllegalArgumentException] {
      TxLog.dropFeature(spark, base, "turboMode")
    }
    assert(unknown.getMessage.contains("droppable features"))
  }

  test("SQL: ALTER TABLE t DROP FEATURE <name> [TRUNCATE HISTORY] " +
    "routes through the parser rung; TRUNCATE HISTORY vacuums below " +
    "the drop") {
    val base = "/tmp/graft_txdropf/sql"
    TxLog.drop(spark, base)
    TxLog.append((1 to 60).map(i => (i, i % 5)).toDF("k", "g"),
      base, Some("k"))
    TxLog.enableRowTracking(spark, base)
    TxLog.append((61 to 90).map(i => (i, i % 5)).toDF("k", "g"),
      base, Some("k"))
    graft.sources.TxLogSqlDml.ensureInjected(spark)
    val s = spark.newSession()
    s.sql("DROP TABLE IF EXISTS txdropf_w")
    s.sql("CREATE TABLE txdropf_w USING graft.sources.TxLogSource " +
      s"OPTIONS (path '$base')")
    try {
      val v = s.sql("ALTER TABLE txdropf_w DROP FEATURE rowTracking " +
        "TRUNCATE HISTORY").collect().head.getLong(0)
      assert(writerFloor(base) == 1)
      // TRUNCATE HISTORY: only the drop version survives
      assert(TxLog.latestVersion(spark, base).contains(v))
      intercept[Exception] { TxLog.readVersion(spark, base, 1L).count() }
      assert(TxLog.read(spark, base).count() == 90)
    } finally s.sql("DROP TABLE IF EXISTS txdropf_w")
  }
}
