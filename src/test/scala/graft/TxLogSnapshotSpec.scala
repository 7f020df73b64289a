package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TxLog

/** Each TxLog read and each transaction attempt resolves the log once.
  * Tables live under the `count:` scheme ([[CountingFileSystem]]), and
  * every resolution of the latest version probes
  * `_log/_last_checkpoint` with exactly one `exists`, so the probe
  * count is the resolution count. A DSv2 query resolves when its scan
  * is built and reads that version only, whatever commits land before
  * it runs. */
class TxLogSnapshotSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val root = "count:///tmp/graft_txsnapshot"

  override def beforeAll(): Unit =
    CountingFileSystem.install(spark.sparkContext.hadoopConfiguration)

  private def pointer(base: String) = s"$base/_log/_last_checkpoint"

  /** Log resolutions `body` makes on `base`. */
  private def resolutions[T](base: String)(body: => T): Long =
    CountingFileSystem.during("exists", pointer(base))(body)._2

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.getLong(0))

  /** 4 range-clustered (k, s) files with stats on k; 400 rows. */
  private def seed(base: String): Unit = {
    TxLog.drop(spark, base)
    TxLog.commit((1L to 400L).map(i => (i, s"s-$i")).toDF("k", "s")
      .repartitionByRange(4, col("k")), base, None, Some("k"))
  }

  test("each read verb resolves the log once") {
    val base = s"$root/reads"
    seed(base)
    TxLog.deleteRangeMor(spark, base, "k", 10L, 20L)
    val vbase = s"$root/variant"
    TxLog.drop(spark, vbase)
    TxLog.commit((0 until 40).map(i => (i.toLong, s"""{"id": $i}"""))
      .toDF("k", "js").select(col("k"), parse_json(col("js")).as("v"))
      .repartitionByRange(4, col("k")), vbase, None, Some("k"))
    TxLog.collectVariantStats(spark, vbase, "v", "$.id", "long")
    val reads: Seq[(String, String, () => DataFrame)] = Seq(
      ("read", base, () => TxLog.read(spark, base)),
      ("readEvolved", base, () => TxLog.readEvolved(spark, base)),
      ("readPoint", base, () => TxLog.readPoint(spark, base, "k", 15L)),
      ("readRange", base, () => TxLog.readRange(spark, base, "k", 5L, 30L)),
      ("readRanges", base, () =>
        TxLog.readRanges(spark, base, Seq(("k", 5L, 30L), ("k", 1L, 25L)))),
      ("readVariantRange", vbase, () =>
        TxLog.readVariantRange(spark, vbase, "v", "$.id", "long", 3L, 7L)))
    reads.foreach { case (_, _, f) => f().collect() } // warm the caches
    reads.foreach { case (name, b, f) =>
      assert(resolutions(b)(f().collect()) == 1L, name)
    }
  }

  test("each write attempt resolves the log once") {
    val base = s"$root/writes"
    seed(base) // v1; the writes below are v2..v5, below the checkpoint
    val writes: Seq[(String, () => Long)] = Seq(
      "append" -> (() => TxLog.append(
        (401L to 450L).map(i => (i, s"a-$i")).toDF("k", "s"), base,
        Some("k"))),
      "deleteRangeMor" -> (() =>
        TxLog.deleteRangeMor(spark, base, "k", 10L, 20L)),
      "updateRangeMor" -> (() => TxLog.updateRangeMor(spark, base, "k",
        30L, 40L, Map("s" -> lit("u")))),
      "mergeCow" -> (() => TxLog.mergeCow(spark, base,
        (45L to 55L).map(i => (i, s"m-$i")).toDF("k", "s"), Seq("k"), "k")))
    writes.zipWithIndex.foreach { case ((name, f), i) =>
      val (v, n) = CountingFileSystem.during("exists", pointer(base))(f())
      assert(n == 1L, name)
      assert(v == i + 2L, name) // one attempt, one version
    }
    assert(TxLog.read(spark, base).count() == 450L - 11L)
  }

  test("a DSv2 query resolves the log once, when its scan is built") {
    val base = s"$root/dsv2"
    seed(base)
    val df = spark.read.format("graft.sources.TxLogSource").load(base)
      .where(col("k") > 390L)
    df.queryExecution.analyzed
    assert(resolutions(base)(df.collect()) == 1L)
  }

  test("a DSv2 query planned at version v serves v's rows when an " +
    "append and a MOR delete commit before it runs") {
    val base = s"$root/interleaved"
    seed(base)
    val df = spark.read.format("graft.sources.TxLogSource").load(base)
      .where(col("k") > 300L)
    df.queryExecution.optimizedPlan
    val atV = rows(TxLog.readVersion(spark, base, 1L).where(col("k") > 300L))
    TxLog.append((401L to 450L).map(i => (i, s"a-$i")).toDF("k", "s"),
      base, Some("k"))
    TxLog.deleteRangeMor(spark, base, "k", 350L, 360L)
    assert(atV.size == 100)
    assert(rows(df) == atV)
  }

  test("a read through a Snapshot at v serves v's names and rows after " +
    "a RENAME, on the pinned scan and on the over-limit mask fallback") {
    val base = s"$root/renamed"
    seed(base)
    TxLog.deleteRangeMor(spark, base, "k", 10L, 20L)
    val snap = TxLog.snapshot(spark, base)
    TxLog.renameColumn(spark, base, "s", "label")
    val atV = rows(TxLog.readVersion(spark, base, snap.cur)
      .where(col("k").between(1L, 200L)))
    assert(atV.size == 200 - 11)
    val key = "spark.graft.txlog.dsv2MaxMaskRows"
    for (limit <- Seq(None, Some("0"))) { // "0": the mask is over it
      limit.foreach(spark.conf.set(key, _))
      try {
        val got = TxLog.readRanges(snap, Seq(("k", 1L, 200L)))
        assert(got.columns.toSeq == Seq("k", "s"), limit)
        assert(rows(got) == atV, limit)
      } finally spark.conf.unset(key)
    }
    assert(TxLog.read(spark, base).columns.toSeq == Seq("k", "label"))
  }
}
