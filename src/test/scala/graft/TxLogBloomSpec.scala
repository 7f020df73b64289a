package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.TxLog

/** Laws for the bloom-filter point-lookup index (Delta `CREATE
  * BLOOMFILTER INDEX` analog): a surrogate-key lookup on a
  * NON-clustered high-cardinality column — the shape min/max band
  * stats can never prune — skips to the owning file; correctness is
  * preserved under appends (unindexed files scanned), MOR deletes
  * (bloom over-approximates), vacuum (sidecar liveness), and clones.
  * All assertions are deterministic: xxhash64 positions over fixed
  * data. */
class TxLogBloomSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def df(ks: Seq[Long]) = {
    import spark.implicits._
    ks.map(i => (i, s"key-$i", s"payload-$i")).toDF("k", "sk", "payload")
  }
  private def rowsOf(d: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    d.select("k", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  /** 8 files clustered on k with stats on k; sk is effectively random
    * relative to the layout — every file's [min,max] sk band overlaps
    * every probe, so only the bloom can skip. */
  private def seed(base: String): Long = {
    TxLog.drop(spark, base)
    TxLog.commit(df(1L to 800L).repartitionByRange(8, col("k")), base,
      None, Some("k"))
    TxLog.buildBloomIndex(spark, base, "sk", bitsPerRow = 24, k = 5)
  }

  test("a point lookup on the indexed column prunes to the owning " +
    "file; zero data files were rewritten by the index build") {
    val base = "/tmp/graft_txbloom/basic"
    val v2 = seed(base)
    assert(v2 == 2L)
    assert(TxLog.manifestFiles(spark, base, 2L).toSet ==
      TxLog.manifestFiles(spark, base, 1L).toSet,
      "index build must republish the same data files")
    val (kept, all) = TxLog.prunePoint(spark, base, "sk", "key-123")
    assert(all.size == 8)
    assert(kept.size == 1,
      s"bloom must prune a unique key to its file: kept ${kept.size}")
    assert(rowsOf(TxLog.readPoint(spark, base, "sk", "key-123")) ==
      Set((123L, "payload-123")))
    // a value that never existed: no file survives, empty result
    val (keptMiss, _) = TxLog.prunePoint(spark, base, "sk", "key-99999")
    assert(keptMiss.isEmpty, s"absent key kept ${keptMiss.size} files")
    assert(TxLog.readPoint(spark, base, "sk", "key-99999").count() == 0)
  }

  test("the point read's DSv2 scan plans exactly the files the bloom " +
    "keeps") {
    val base = "/tmp/graft_txbloom/planned"
    seed(base)
    TxLog.deleteRangeMor(spark, base, "k", 100L, 110L)
    Seq("key-123", "key-105", "key-700").foreach { key =>
      val kept = TxLog.prunePoint(spark, base, "sk", key)._1
      assert(kept.nonEmpty && kept.size < 9, key)
      assert(SparkTestBase.plannedFiles(TxLog.readPoint(spark, base, "sk", key))
        .contains(kept.map(e => TxLog.resolve(base, e.path)).toSet), key)
    }
    assert(TxLog.readPoint(spark, base, "sk", "key-105").count() == 0L)
    assert(SparkTestBase.plannedFiles(
      TxLog.readPoint(spark, base, "sk", "key-99999")).contains(Set.empty[String]))
  }

  test("append indexes the new files at commit time (incremental " +
    "coverage): point lookups keep pruning with NO rebuild") {
    val base = "/tmp/graft_txbloom/append"
    seed(base)
    TxLog.append(df(Seq(9001L)), base, Some("k"))
    val (kept, all) = TxLog.prunePoint(spark, base, "sk", "key-9001")
    assert(all.size == 9)
    // the appended file joined the index in the SAME commit — its own
    // sidecar dir, the existing group's k — so the new key prunes to
    // exactly its file without any rebuild
    assert(kept.size == 1 && kept.head.bloomFor("sk").isDefined,
      s"appended file must be indexed at commit: kept ${kept.size}, " +
        s"bloom=${kept.headOption.flatMap(_.bloomFor("sk"))}")
    assert(rowsOf(TxLog.readPoint(spark, base, "sk", "key-9001")) ==
      Set((9001L, "payload-9001")))
    // an old key still prunes to its (rebuild-era) file, and an absent
    // key now prunes to nothing even across the mixed old/new groups
    val (keptOld, _) = TxLog.prunePoint(spark, base, "sk", "key-123")
    assert(keptOld.size == 1)
    assert(TxLog.prunePoint(spark, base, "sk", "key-99999")._1.isEmpty)
    // the DSv2 sink path indexes too (same publish discipline)
    df(Seq(9002L)).write.format("graft.sources.TxLogSource")
      .option("statsColumns", "k").mode("append").save(base)
    val (keptSink, all2) = TxLog.prunePoint(spark, base, "sk", "key-9002")
    assert(all2.size == 10)
    assert(keptSink.size == 1 && keptSink.head.bloomFor("sk").isDefined,
      "DSv2 sink appends must join the bloom index at commit")
  }

  test("a MOR delete leaves probes sound: the masked row is gone from " +
    "the result even though its bloom bits remain") {
    val base = "/tmp/graft_txbloom/mor"
    seed(base)
    TxLog.deleteRangeMor(spark, base, "k", 123L, 123L)
    assert(TxLog.readPoint(spark, base, "sk", "key-123").count() == 0,
      "bloom over-approximation must never resurrect a masked row")
    // neighbors unaffected
    assert(rowsOf(TxLog.readPoint(spark, base, "sk", "key-124")) ==
      Set((124L, "payload-124")))
  }

  test("vacuum keeps the bloom sidecar while referenced; a clone " +
    "carries the index by absolute reference") {
    val base = "/tmp/graft_txbloom/vacuum"
    val dst = "/tmp/graft_txbloom/vacuum_clone"
    seed(base)
    TxLog.vacuum(spark, base, keepLast = 1)
    val (kept, _) = TxLog.prunePoint(spark, base, "sk", "key-700")
    assert(kept.size == 1, "the sidecar must survive a vacuum that " +
      "keeps a referencing manifest")
    assert(rowsOf(TxLog.readPoint(spark, base, "sk", "key-700")) ==
      Set((700L, "payload-700")))
    TxLog.drop(spark, dst)
    TxLog.cloneShallow(spark, base, dst)
    val (keptC, allC) = TxLog.prunePoint(spark, dst, "sk", "key-700")
    assert(allC.size == 8 && keptC.size == 1,
      "the clone must probe the source's index by absolute path")
    assert(rowsOf(TxLog.readPoint(spark, dst, "sk", "key-700")) ==
      Set((700L, "payload-700")))
  }

  test("a probe literal of a different numeric type hashes through " +
    "the build-time column type") {
    val base = "/tmp/graft_txbloom/dtype"
    TxLog.drop(spark, base)
    import spark.implicits._
    val d = (1L to 400L).map(i => (i, i.toDouble)).toDF("k", "dk")
    TxLog.commit(d.repartitionByRange(4, col("k")), base, None, Some("k"))
    TxLog.buildBloomIndex(spark, base, "dk", bitsPerRow = 24, k = 5)
    // a LONG probe against the DOUBLE column must hash "42.0" (the
    // string the build hashed), not "42" — else the owning file is
    // silently skipped and the lookup returns empty
    val (kept, all) = TxLog.prunePoint(spark, base, "dk", 42L)
    assert(all.size == 4 && kept.size == 1,
      s"cross-type probe must find the owning file: kept ${kept.size}")
    assert(TxLog.readPoint(spark, base, "dk", 42L).count() == 1)
  }

  test("float range predicates widen through the stats' double cast") {
    val base = "/tmp/graft_txbloom/floatrepr"
    TxLog.drop(spark, base)
    import spark.implicits._
    val d = Seq(1.1f, 2.2f, 3.3f).zipWithIndex
      .map { case (f, i) => (i.toLong, f) }.toDF("k", "fk")
    TxLog.commit(d.repartitionByRange(3, col("fk")), base, None, Some("fk"))
    // 2.2f's stats repr is "2.200000047683716" (double-widened); a
    // probe repr of "2.2" would place hi BELOW the file's min and
    // unsoundly skip the single file holding the row
    val got = TxLog.readRange(spark, base, "fk", 2.2f, 2.2f).collect()
    assert(got.length == 1 && got.head.getLong(0) == 1L,
      s"float range must touch the owning file: ${got.toSeq}")
  }

  test("DML rewrites drop the index on rewritten files only — " +
    "conservative, never wrong") {
    val base = "/tmp/graft_txbloom/dml"
    seed(base)
    // COW-delete a k band: the touched band file is rewritten without
    // a bloom; the untouched files keep theirs
    TxLog.deleteRange(spark, base, "k", 50L, 60L)
    val entries = TxLog.manifest(spark, base, 3L)._1
    assert(entries.exists(_.bloomFor("sk").isEmpty) &&
      entries.exists(_.bloomFor("sk").isDefined))
    // a key in the rewritten band file still found (file unindexed →
    // kept conservatively); a deleted key is gone
    assert(rowsOf(TxLog.readPoint(spark, base, "sk", "key-70")) ==
      Set((70L, "payload-70")))
    assert(TxLog.readPoint(spark, base, "sk", "key-55").count() == 0)
    // an indexed untouched file still prunes sharply
    val (kept, _) = TxLog.prunePoint(spark, base, "sk", "key-700")
    assert(kept.count(_.bloomFor("sk").isDefined) <= 1)
  }
}
