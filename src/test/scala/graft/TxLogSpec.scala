package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{TxLog, Upsert}

/** Laws for the atomic manifest-commit log (VERDICT r9 next-round #1
  * and #4): snapshot isolation for readers interleaved inside a
  * write, CAS conflict detection for racing writers, and
  * serialization of concurrent MERGEs via transact's retry. */
class TxLogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def df(rows: Seq[(Int, String)]) = {
    import spark.implicits._
    rows.toDF("k", "s")
  }
  private def contents(d: org.apache.spark.sql.DataFrame): Set[(Int, String)] =
    d.collect().map(r => (r.getInt(0), r.getString(1))).toSet
  private def dataDirs(base: String): Set[String] = {
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/data"))
      .map(_.getPath.getName).toSet
  }

  private val v1Rows = (1 to 100).map(i => i -> s"one-$i")
  private val v2Rows = (1 to 120).map(i => i -> s"two-$i")

  test("a reader interleaved between file-land and manifest-publish " +
    "sees the old complete version, never a partial") {
    val base = "/tmp/graft_txlog/iso"
    TxLog.drop(spark, base)
    val v1 = TxLog.commit(df(v1Rows), base, None)
    assert(v1 == 1L)
    // writer lands version 2's files... (df repartitioned so the txn
    // dir holds several files — a partial-directory read would differ)
    val landed = TxLog.land(df(v2Rows).repartition(4), base)
    assert(landed.size == 4)
    // ...and an interleaved reader resolves manifests, not directories:
    assert(contents(TxLog.read(spark, base)) == v1Rows.toSet,
      "reader overlapping an in-flight write must see v1 exactly")
    // ...then the publish lands and the same reader path sees v2 whole
    TxLog.publish(spark, base, 2L, landed)
    assert(contents(TxLog.read(spark, base)) == v2Rows.toSet)
    // time travel still resolves the old complete version
    assert(contents(TxLog.readVersion(spark, base, 1L)) == v1Rows.toSet)
  }

  test("racing writers: the CAS loser fails with CommitConflict and " +
    "leaves no partial state behind") {
    val base = "/tmp/graft_txlog/race"
    TxLog.drop(spark, base)
    TxLog.commit(df(v1Rows), base, None)
    val seen = TxLog.latestVersion(spark, base)   // both writers read v1
    TxLog.commit(df(v2Rows), base, seen)          // writer A wins v2
    val loser = intercept[TxLog.CommitConflictException] {
      TxLog.commit(df(Seq(999 -> "loser")), base, seen)
    }
    assert(loser.getMessage.contains("version 2"))
    // table is exactly A's commit...
    assert(contents(TxLog.read(spark, base)) == v2Rows.toSet)
    // ...and the loser's landed files were discarded: every txn dir on
    // disk is referenced by some manifest
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk = fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/data"))
      .map(_.getPath.getName).toSet
    val referenced = (1L to 2L).flatMap(v =>
      TxLog.manifestFiles(spark, base, v).map(_.split("/")(1))).toSet
    assert(onDisk == referenced,
      s"unreferenced txn dirs left behind: ${onDisk -- referenced}")
  }

  test("transact: a merge that loses the race retries against the " +
    "winner's table — final state equals sequential application") {
    val base = "/tmp/graft_txlog/merge"
    TxLog.drop(spark, base)
    val seed = (1 to 10).map(i => i -> "base")
    TxLog.commit(df(seed), base, None)
    val sourceA = Seq(3 -> "A", 4 -> "A", 11 -> "A")
    val sourceB = Seq(4 -> "B", 5 -> "B", 12 -> "B")
    var bodyRuns = 0
    TxLog.transact(spark, base) { snap =>
      bodyRuns += 1
      if (bodyRuns == 1) {
        // writer A commits between B's snapshot read and B's publish
        TxLog.transact(spark, base) { aSnap =>
          Upsert.merge(aSnap.get, df(sourceA), Seq("k"))
        }
      }
      Upsert.merge(snap.get, df(sourceB), Seq("k"))
    }
    assert(bodyRuns == 2, "loser must have recomputed after the CAS loss")
    val expected = contents(
      Upsert.merge(Upsert.merge(df(seed), df(sourceA), Seq("k")),
        df(sourceB), Seq("k")))
    assert(contents(TxLog.read(spark, base)) == expected)
    assert(TxLog.latestVersion(spark, base).contains(3L))
  }

  test("transact retries a stale read (a manifest vacuumed under the " +
    "attempt) as a conflict instead of letting FileNotFound escape") {
    val base = "/tmp/graft_txlog/stale"
    TxLog.drop(spark, base)
    TxLog.commit(df(v1Rows), base, None)
    var bodyRuns = 0
    val v = TxLog.transact(spark, base) { snap =>
      bodyRuns += 1
      if (bodyRuns == 1)
        throw new java.io.FileNotFoundException("v1 vacuumed mid-attempt")
      snap.get
    }
    assert(bodyRuns == 2 && v == 2L)
    assert(contents(TxLog.read(spark, base)) == v1Rows.toSet)
    // out of attempts: the caller sees the conflict, never the raw FNFE
    val e = intercept[TxLog.CommitConflictException] {
      TxLog.transact(spark, base, maxAttempts = 2) { _ =>
        throw new java.io.FileNotFoundException("always stale")
      }
    }
    assert(e.getCause.isInstanceOf[java.io.FileNotFoundException])
  }

  test("vacuum keeps the newest manifests and deletes unreferenced " +
    "txn dirs; surviving versions stay readable") {
    val base = "/tmp/graft_txlog/vac"
    TxLog.drop(spark, base)
    var v = Option.empty[Long]
    Seq(v1Rows, v2Rows, v1Rows.take(10)).foreach { rows =>
      v = Some(TxLog.commit(df(rows), base, v))
    }
    // graceMs=0: this law asserts the physical GC itself, so it
    // runs as a controlled maintenance window (no concurrent writers)
    val survivors = TxLog.vacuum(spark, base, keepLast = 1, graceMs = 0L)
    assert(survivors == Seq(3L))
    assert(TxLog.latestVersion(spark, base).contains(3L))
    assert(contents(TxLog.read(spark, base)) == v1Rows.take(10).toSet)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk = fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/data"))
      .map(_.getPath.getName).toSet
    val referenced = TxLog.manifestFiles(spark, base, 3L)
      .map(_.split("/")(1)).toSet
    assert(onDisk == referenced)
  }

  test("protocol gate: a manifest requiring a newer READER version " +
    "fails loudly at read; a newer WRITER version still reads but " +
    "blocks commits (which would silently drop unknown meta kinds)") {
    val base = "/tmp/graft_txlog/proto"
    TxLog.drop(spark, base)
    TxLog.commit(df(v1Rows), base, None)
    val files = TxLog.manifestFiles(spark, base, 1L)
    val fsys = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writeManifest(v: Long, lines: Seq[String]): Unit = {
      val p = new org.apache.hadoop.fs.Path(f"$base/_log/v$v%020d.txt")
      val out = fsys.create(p, true)
      try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
    }
    // a "future engine" publishes v2: same files, but the table now
    // requires writer version 99 (reader still 1) — far above this
    // engine's WriterVersion capability ceiling
    writeManifest(2L, s"#protocol\t1\t99" +: files)
    assert(contents(TxLog.read(spark, base)) == v1Rows.toSet,
      "reader version 1 tables stay readable")
    val dirsBefore = dataDirs(base)
    val w = intercept[IllegalStateException] {
      TxLog.append(df(Seq(999 -> "x")), base)
    }
    assert(w.getMessage.contains("writer version 99"), w.getMessage)
    assert(dataDirs(base) == dirsBefore,
      "a refused append must leave no orphan txn dir")
    val m = intercept[IllegalStateException] {
      TxLog.mergeMor(spark, base, df(Seq(1 -> "m")), Seq("k"), "k")
    }
    assert(m.getMessage.contains("writer version 99"), m.getMessage)
    assert(dataDirs(base) == dirsBefore,
      "a refused mergeMor must leave neither its land nor its DV sidecar")
    // v3 requires reader version 99 (far above this engine's
    // ReaderVersion ceiling): every read path must refuse
    writeManifest(3L, s"#protocol\t99\t99" +: files)
    val r = intercept[IllegalStateException] {
      TxLog.read(spark, base)
    }
    assert(r.getMessage.contains("reader version 99"), r.getMessage)
  }

  test("convertParquet adopts a flat parquet dir in place: no copies, " +
    "stats skipping immediate, later DML supersedes root files and " +
    "vacuum reclaims them") {
    val base = "/tmp/graft_txlog/convert"
    TxLog.drop(spark, base)
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    (1 to 4000).map(i => (i.toLong, s"c-$i")).toDF("k", "s")
      .repartitionByRange(4, col("k")).write.mode("overwrite").parquet(base)
    assert(TxLog.convertParquet(spark, base, Seq("k")) == 1L)
    val (entries, _) = TxLog.manifest(spark, base, 1L)
    assert(entries.size == 4 && entries.forall(e => !e.path.contains('/')),
      "entries must reference the root part files where they are")
    assert(entries.forall(e => e.rows > 0 && e.statsFor("k").isDefined))
    assert(TxLog.read(spark, base).count() == 4000)
    // file skipping works from the conversion commit onward
    val (kept, all) = TxLog.pruneRanges(spark, base, Seq(("k", 1L, 10L)))
    assert(kept.size == 1 && all.size == 4,
      s"a narrow range must open one of four range-banded files " +
        s"(kept ${kept.size} of ${all.size})")
    // a COW delete rewrites one band into data/; the superseded root
    // file is then unreferenced and vacuum (grace 0) reclaims it
    TxLog.deleteRange(spark, base, "k", 1L, 500L)
    assert(TxLog.read(spark, base).count() == 3500)
    val rootBefore = new java.io.File(base).listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
    TxLog.vacuum(spark, base, keepLast = 1, graceMs = 0L)
    val rootAfter = new java.io.File(base).listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
    assert(rootAfter < rootBefore,
      s"vacuum must reclaim the superseded root file ($rootBefore -> " +
        s"$rootAfter)")
    assert(TxLog.read(spark, base).count() == 3500,
      "live data survives the vacuum")
  }
}
