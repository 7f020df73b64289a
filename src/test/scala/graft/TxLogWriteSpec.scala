package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.TxLog

/** Laws for the DSv2 WRITE half of the log table: batch append /
  * overwrite through `df.write`, SQL INSERT INTO over the catalog
  * table (DDL-first bootstrap of an empty store included), inline
  * stats riding the commit messages, and the native streaming sink's
  * exactly-once epochs across a restart. */
class TxLogWriteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def clustered(lo: Long, n: Long, tag: String, parts: Int) = {
    spark.range(lo, lo + n)
      .select(col("id").as("k"), concat(lit(tag), lit("-"), col("id")).as("s"))
      .repartitionByRange(parts, col("k"))
  }

  private def contents(d: DataFrame): Set[(Long, String)] =
    d.select("k", "s").collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("df.write append publishes one version with inline stats: " +
    "content lands exactly once, manifest rows+min/max match the " +
    "landEntries path, and range skipping works on the new files") {
    val base = "/tmp/graft_txwrite/append"
    TxLog.drop(spark, base)
    TxLog.commit(clustered(0, 100, "seed", 2), base, None, Some("k"))
    clustered(100, 100, "w", 4)
      .write.format("graft.sources.TxLogSource")
      .option("statsColumns", "k")
      .mode("append").save(base)
    assert(TxLog.latestVersion(spark, base).contains(2L))
    assert(contents(TxLog.read(spark, base)) ==
      contents(clustered(0, 200, "seed", 1)
        .where(col("k") < 100)
        .unionAll(clustered(100, 100, "w", 1))))
    // the DSv2-written entries carry rows + stats computed INLINE
    val v1paths = TxLog.manifestFiles(spark, base, 1L).toSet
    val newEntries = TxLog.manifest(spark, base, 2L)._1
      .filterNot(e => v1paths.contains(e.path))
    assert(newEntries.nonEmpty && newEntries.forall(e =>
      e.rows > 0 && e.statsFor("k").isDefined))
    assert(newEntries.map(_.rows).sum == 100L)
    // min/max agree with the data, so manifest skipping stays sound
    val (kept, all) = TxLog.pruneRange(spark, base, "k", 150L, 160L)
    assert(kept.size < all.size, s"kept ${kept.size} of ${all.size}")
    assert(TxLog.readRange(spark, base, "k", 150L, 160L).count() == 11)
  }

  test("df.write overwrite truncates as a NEW version: only the new " +
    "content is current, the old version stays readable until vacuum") {
    val base = "/tmp/graft_txwrite/over"
    TxLog.drop(spark, base)
    TxLog.commit(clustered(0, 50, "old", 1), base, None, Some("k"))
    clustered(500, 20, "new", 1)
      .write.format("graft.sources.TxLogSource")
      .option("statsColumns", "k")
      .mode("overwrite").save(base)
    assert(TxLog.latestVersion(spark, base).contains(2L))
    assert(contents(TxLog.read(spark, base)) ==
      contents(clustered(500, 20, "new", 1)))
    assert(TxLog.readVersion(spark, base, 1L).count() == 50)
  }

  test("an abort after the commit's CAS won keeps the published txn " +
    "dir; an unreferenced one still goes") {
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.graft", "graft.sources.TxLogCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", "/tmp/graft_txwrite/wh")
    val base = "/tmp/graft_txwrite/wh/ns/aborted"
    TxLog.drop(s, base)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.ns")
    s.sql("CREATE TABLE graft.ns.aborted (k BIGINT, s STRING) " +
      "USING graft.sources.TxLogSource")
    s.range(0, 50)
      .select(col("id").as("k"), concat(lit("w-"), col("id")).as("s"))
      .writeTo("graft.ns.aborted").append()
    val v = TxLog.latestVersion(s, base).get
    val dirs = TxLog.manifest(s, base, v)._1
      .map(_.path.split('/').dropRight(1).mkString("/")).distinct
    assert(dirs.size == 1, s"one write, one txn dir: $dirs")
    // what both abort()s call, as if commit() threw after publishing
    graft.sources.TxLogWriteCommit.dropTxn(base, dirs.head)
    assert(contents(TxLog.read(s, base)) == contents(clustered(0, 50, "w", 1)))
    val orphan = new org.apache.hadoop.fs.Path(s"$base/data/orphan")
    val fs = TxLog.fs(base, s)
    fs.mkdirs(orphan)
    graft.sources.TxLogWriteCommit.dropTxn(base, "data/orphan")
    assert(!fs.exists(orphan))
  }

  test("SQL INSERT INTO writes through the catalog table, including " +
    "the DDL-first bootstrap of an EMPTY store") {
    val base = "/tmp/graft_txwrite/sql"
    TxLog.drop(spark, base)
    spark.sql("DROP TABLE IF EXISTS txlog_write_demo")
    // empty store: the explicit column list supplies the schema the
    // source cannot infer yet
    spark.sql("CREATE TABLE txlog_write_demo (k BIGINT, s STRING) " +
      s"USING graft.sources.TxLogSource OPTIONS (path '$base')")
    try {
      spark.sql(
        "INSERT INTO txlog_write_demo VALUES (1, 'a'), (2, 'b'), (3, 'c')")
      assert(TxLog.latestVersion(spark, base).contains(1L))
      assert(spark.sql("SELECT count(*) FROM txlog_write_demo")
        .head().getLong(0) == 3L)
      spark.sql("INSERT INTO txlog_write_demo SELECT id, concat('x-', id) " +
        "FROM range(10, 15)")
      assert(TxLog.latestVersion(spark, base).contains(2L))
      assert(contents(spark.table("txlog_write_demo")) ==
        Set(1L -> "a", 2L -> "b", 3L -> "c") ++
          (10L until 15L).map(i => i -> s"x-$i"))
    } finally spark.sql("DROP TABLE IF EXISTS txlog_write_demo")
  }

  test("the native streaming sink commits one version per epoch with " +
    "exactly-once across a restart — no foreachBatch anywhere") {
    val bronze = "/tmp/graft_txwrite/sink_bronze"
    val silver = "/tmp/graft_txwrite/sink_silver"
    val ckpt = "/tmp/graft_txwrite/sink_ckpt"
    Seq(bronze, silver, ckpt).foreach(TxLog.drop(spark, _))
    TxLog.commit(clustered(0, 60, "b", 1), bronze, None, Some("k"))
    TxLog.append(clustered(60, 40, "c", 1), bronze, Some("k"))
    def run(): Unit = {
      val q = spark.readStream.format("graft.sources.TxLogSource")
        .option("maxVersionsPerTrigger", "1")
        .load(bronze)
        .writeStream.format("graft.sources.TxLogSource")
        .option("path", silver)
        .option("statsColumns", "k")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run() // bronze v1+v2 → two epochs → silver v1+v2
    assert(TxLog.latestVersion(spark, silver).contains(2L))
    assert(contents(TxLog.read(spark, silver)) ==
      contents(TxLog.read(spark, bronze)))
    // restart with one more bronze version: exactly one more epoch
    TxLog.append(clustered(100, 10, "d", 1), bronze, Some("k"))
    run()
    assert(TxLog.latestVersion(spark, silver).contains(3L),
      "the restart must add exactly one silver version")
    assert(contents(TxLog.read(spark, silver)) ==
      contents(TxLog.read(spark, bronze)))
    assert(TxLog.read(spark, silver).count() == 110)
    // the sink's high-water map carries the (queryId, epoch) cursor
    val txns = TxLog.manifest(spark, silver, 3L)._2
    assert(txns.size == 1 && txns.keys.head.startsWith("sink-") &&
      txns.values.head == 2L, s"sink txn map: $txns")
    // an idle restart (no new bronze versions) publishes nothing
    run()
    assert(TxLog.latestVersion(spark, silver).contains(3L))
    // the sink-written files carry inline stats: skipping works
    val (kept, all) = TxLog.pruneRange(spark, silver, "k", 100L, 109L)
    assert(kept.size < all.size)
  }

  test("autoCompact on the streaming sink folds epoch files: a " +
    "many-epoch stream ends with few live files, identical contents, " +
    "and untouched exactly-once state") {
    val bronze = "/tmp/graft_txwrite/ac_bronze"
    val silver = "/tmp/graft_txwrite/ac_silver"
    val ckpt = "/tmp/graft_txwrite/ac_ckpt"
    Seq(bronze, silver, ckpt).foreach(TxLog.drop(spark, _))
    // 12 tiny bronze versions → 12 sink epochs of one small file each
    TxLog.commit(clustered(0, 5, "a", 1), bronze, None, Some("k"))
    (1 to 11).foreach(i =>
      TxLog.append(clustered(i * 5, 5, "a", 1), bronze, Some("k")))
    val q = spark.readStream.format("graft.sources.TxLogSource")
      .option("maxVersionsPerTrigger", "1")
      .load(bronze)
      .writeStream.format("graft.sources.TxLogSource")
      .option("path", silver)
      .option("statsColumns", "k")
      .option("autoCompact", "true")
      .option("autoCompactSmallRows", "100")
      .option("autoCompactTargetRows", "1000")
      .option("autoCompactMinFiles", "4")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val vLatest = TxLog.latestVersion(spark, silver).get
    val files = TxLog.manifest(spark, silver, vLatest)._1
    assert(files.size <= 6,
      s"auto-compaction must fold the 12 epoch files, got ${files.size}")
    assert(contents(TxLog.read(spark, silver)) ==
      contents(TxLog.read(spark, bronze)))
    // exactly-once cursor survives the interleaved compactions
    val txns = TxLog.manifest(spark, silver, vLatest)._2
    assert(txns.values.headOption.contains(11L), s"sink txn map: $txns")
  }
}
