package graft

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TxLog

/** Laws for the O(change) commit protocol (VERDICT r10 next-round #1):
  * per-commit DELTA manifests + periodic full-snapshot checkpoints +
  * a `_last_checkpoint` pointer — mirroring the Delta protocol the
  * reference's loads run on (per-commit JSON actions, parquet
  * checkpoints, `_last_checkpoint`;
  * /root/reference/scripts/load_bronze_to_table.py:158-163).
  *
  * The scale claim under test: commit bytes are O(changed files), not
  * O(table files), and latest-version resolution probes forward from
  * the checkpoint pointer instead of listing the whole `_log` dir. */
class TxLogDeltaLogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def df(rows: Seq[(Int, String)]) = {
    import spark.implicits._
    rows.toDF("k", "s")
  }
  private def contents(d: org.apache.spark.sql.DataFrame): Set[(Int, String)] =
    d.collect().map(r => (r.getInt(0), r.getString(1))).toSet

  private def fs(base: String) =
    new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def fileBytes(base: String, name: String): Long =
    fs(base).getFileStatus(new Path(s"$base/_log/$name")).getLen

  private def logNames(base: String): Seq[String] =
    fs(base).listStatus(new Path(s"$base/_log")).toSeq
      .map(_.getPath.getName).sorted

  test("append commits are O(new data): commit-file bytes do not grow " +
    "with table file count, and carried files are not re-listed") {
    val base = "/tmp/graft_txdelta/append"
    TxLog.drop(spark, base)
    // seed a 16-file table, then run 1-file appends against it
    TxLog.commit(df((1 to 1600).map(i => i -> s"seed-$i"))
      .repartition(16), base, None)
    val sizes = (1 to 5).map { i =>
      val v = TxLog.append(
        df(Seq(100000 + i -> s"inc-$i")).coalesce(1), base)
      fileBytes(base, f"v$v%020d.txt")
    }
    // every 1-file append writes the same few lines — not the 16+
    // carried paths (a full-snapshot manifest here would be ~10×)
    val spread = sizes.max - sizes.min
    assert(spread <= 8,
      s"append commit bytes should be flat, got $sizes")
    val v1Size = fileBytes(base, f"v${1L}%020d.txt")
    assert(sizes.max.toDouble < v1Size / 3.0,
      s"a 1-file delta (${sizes.max} B) must be far below the 16-file " +
        s"seed commit ($v1Size B)")
    // and the table still reads whole
    assert(TxLog.read(spark, base).count() == 1605L)
  }

  test("checkpoints appear on the interval, _last_checkpoint points at " +
    "the newest one, and resolution survives mixed DML on the chain") {
    val base = "/tmp/graft_txdelta/ckpt"
    TxLog.drop(spark, base)
    spark.conf.set("spark.graft.txlog.checkpointInterval", "4")
    try {
      TxLog.commit(df((1 to 100).map(i => i -> s"a-$i")), base, None) // v1
      TxLog.append(df((101 to 120).map(i => i -> s"b-$i")), base)     // v2
      // v3: MOR delete — a delta that REPLACES an entry (DV re-ref)
      TxLog.deleteRangeMor(spark, base, "k", 1, 10)
      // v4: COW update — removes + adds (checkpoint version)
      TxLog.updateRange(spark, base, "k", 11, 20,
        Map("s" -> org.apache.spark.sql.functions.lit("upd")))
      // v5..v8: appends
      (1 to 4).foreach(i =>
        TxLog.append(df(Seq(1000 + i -> s"c-$i")), base))
      val names = logNames(base)
      assert(names.contains(f"v${4L}%020d.ckpt.txt"),
        s"expected a checkpoint at v4 in $names")
      assert(names.contains(f"v${8L}%020d.ckpt.txt"),
        s"expected a checkpoint at v8 in $names")
      assert(names.contains("_last_checkpoint"))
      assert(TxLog.latestVersion(spark, base).contains(8L))
      // snapshot correctness through the checkpoint+delta chain:
      // 100 a/b rows minus 10 MOR-deleted, 10 updated, plus 20 b + 4 c
      val snap = TxLog.read(spark, base)
      assert(snap.count() == 114L)
      assert(snap.where("s = 'upd'").count() == 10L)
      assert(snap.where("k BETWEEN 1 AND 10").count() == 0L)
      // time travel to a pre-checkpoint version still resolves
      assert(contents(TxLog.readVersion(spark, base, 2L)) ==
        ((1 to 100).map(i => i -> s"a-$i") ++
          (101 to 120).map(i => i -> s"b-$i")).toSet)
    } finally spark.conf.unset("spark.graft.txlog.checkpointInterval")
  }

  test("vacuum materializes a checkpoint at the oldest kept version, " +
    "keeps every kept version resolvable, and drops old checkpoints") {
    val base = "/tmp/graft_txdelta/vac"
    TxLog.drop(spark, base)
    // default interval (10) → no periodic checkpoint in 6 commits:
    // every commit is a delta, so vacuum MUST write its own base
    TxLog.commit(df((1 to 50).map(i => i -> s"a-$i")), base, None)
    (1 to 5).foreach(i => TxLog.append(df(Seq(100 + i -> s"b-$i")), base))
    val kept = TxLog.vacuum(spark, base, keepLast = 3)
    assert(kept == Seq(4L, 5L, 6L))
    val names = logNames(base)
    assert(names.contains(f"v${4L}%020d.ckpt.txt"),
      s"oldest kept version needs a materialized checkpoint, got $names")
    assert(!names.contains(f"v${1L}%020d.txt"))
    // all kept versions resolve (v5/v6 replay their deltas off v4's
    // checkpoint); the vacuumed ones fail like any vacuumed history
    assert(TxLog.readVersion(spark, base, 4L).count() == 53L)
    assert(TxLog.readVersion(spark, base, 6L).count() == 55L)
    intercept[java.io.FileNotFoundException] {
      TxLog.readVersion(spark, base, 2L).count()
    }
    // and a process-wide cached snapshot must not resurrect it either
    // (the cache re-checks commit-file existence on every hit)
    assert(TxLog.latestVersion(spark, base).contains(6L))
  }

  test("legacy full-snapshot manifests still read (v1 bare paths and " +
    "v2 stats lines parse; a delta chain can build on them)") {
    val base = "/tmp/graft_txdelta/legacy"
    TxLog.drop(spark, base)
    // land files through the API, then hand-write a LEGACY full
    // manifest (no #delta marker) the way round-1 tables were laid out
    val landed = TxLog.land(df((1 to 30).map(i => i -> s"x-$i")), base)
    val f = fs(base)
    f.mkdirs(new Path(s"$base/_log"))
    val out = f.create(new Path(s"$base/_log/v${"%020d".format(1)}.txt"), true)
    out.write((landed.mkString("\n") + "\n").getBytes("UTF-8"))
    out.close()
    assert(contents(TxLog.read(spark, base)) ==
      (1 to 30).map(i => i -> s"x-$i").toSet)
    // a modern delta append on top of the legacy base resolves fine
    TxLog.append(df(Seq(999 -> "new")), base)
    assert(TxLog.read(spark, base).count() == 31L)
  }

  test("the snapshot cache never leaks across drop/recreate at the " +
    "same path") {
    val base = "/tmp/graft_txdelta/cache"
    TxLog.drop(spark, base)
    TxLog.commit(df(Seq(1 -> "old")), base, None)
    assert(contents(TxLog.read(spark, base)) == Set(1 -> "old"))
    TxLog.drop(spark, base)
    TxLog.commit(df(Seq(2 -> "new")), base, None)
    assert(contents(TxLog.read(spark, base)) == Set(2 -> "new"),
      "a cached v1 snapshot from the dropped table must not survive")
  }

  test("an OUT-OF-BAND drop/recreate (another process — the in-JVM " +
    "purge never ran) is caught by the commit-mtime guard") {
    val base = "/tmp/graft_txdelta/xproc"
    TxLog.drop(spark, base)
    TxLog.commit(df(Seq(1 -> "old")), base, None)
    assert(contents(TxLog.read(spark, base)) == Set(1 -> "old")) // cached
    // simulate another process: raw filesystem delete + re-seed, no
    // TxLog.drop (so this JVM's snapshot cache still holds v1)
    val f = fs(base)
    f.delete(new Path(base), true)
    // ensure a different commit mtime even on a coarse-granularity fs
    Thread.sleep(20)
    TxLog.commit(df(Seq(2 -> "new")), base, None)
    assert(contents(TxLog.read(spark, base)) == Set(2 -> "new"),
      "the mtime token must invalidate the stale cross-process cache")
  }

  test("a degenerate checkpointInterval conf can never fail a durable " +
    "commit (post-CAS work is best-effort)") {
    val base = "/tmp/graft_txdelta/badconf"
    TxLog.drop(spark, base)
    spark.conf.set("spark.graft.txlog.checkpointInterval", "0")
    try {
      TxLog.commit(df(Seq(1 -> "a")), base, None)
      TxLog.append(df(Seq(2 -> "b")), base)
      assert(TxLog.read(spark, base).count() == 2)
      spark.conf.set("spark.graft.txlog.checkpointInterval", "not-a-number")
      TxLog.append(df(Seq(3 -> "c")), base)
      assert(TxLog.read(spark, base).count() == 3)
    } finally spark.conf.unset("spark.graft.txlog.checkpointInterval")
  }

  test("a kept version's checkpoint is replaced whole: a reader racing " +
    "its re-installs always finds it") {
    val base = "/tmp/graft_txdelta/ckpt-race"
    TxLog.drop(spark, base)
    TxLog.commit(df((1 to 20).map(i => i -> s"a-$i")), base, None)
    val lines = TxLog.manifestLines(spark, base, 1L)
    TxLog.writeCkptTextLines(spark, base, 1L, lines)
    val ckpt = TxLog.ckptPath(base, 1L)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reads = new java.util.concurrent.atomic.AtomicLong(0L)
    val misses = new java.util.concurrent.atomic.AtomicLong(0L)
    val reader = new Thread(() =>
      while (!done.get) {
        val whole = try TxLog.linesOf(spark, base, ckpt) == lines
          catch { case _: java.io.IOException => false }
        if (!whole) misses.incrementAndGet()
        reads.incrementAndGet()
      })
    reader.start()
    // what a vacuum re-basing the oldest kept version installs
    try (1 to 1500).foreach(_ => TxLog.writeCkptTextLines(spark, base, 1L, lines))
    finally { done.set(true); reader.join() }
    assert(reads.get > 0L)
    assert(misses.get == 0L,
      s"${misses.get} of ${reads.get} racing reads found no whole checkpoint")
    assert(!logNames(base).exists(_.startsWith(".ckpt-tmp")),
      "the checkpoint's temp files are left behind")
  }

  test("_last_checkpoint is replaced whole: a reader racing the " +
    "pointer's advances always reads a version") {
    val base = "/tmp/graft_txdelta/pointer"
    TxLog.drop(spark, base)
    val fs = TxLog.fs(base, spark)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$base/_log"))
    TxLog.advancePointer(spark, base, 1L)
    val n = 1500L
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reads = new java.util.concurrent.atomic.AtomicLong(0L)
    val misses = new java.util.concurrent.atomic.AtomicLong(0L)
    val reader = new Thread(() =>
      while (!done.get) {
        if (TxLog.readPointer(spark, base).isEmpty) misses.incrementAndGet()
        reads.incrementAndGet()
      })
    reader.start()
    try (2L to n).foreach(v => TxLog.advancePointer(spark, base, v))
    finally { done.set(true); reader.join() }
    assert(reads.get > 0L)
    assert(misses.get == 0L,
      s"${misses.get} of ${reads.get} racing reads found no pointer")
    assert(TxLog.readPointer(spark, base).contains(n))
    assert(TxLog.latestVersion(spark, base).isEmpty,
      "the pointer's temp files are not versions")
    val left = fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/_log"))
      .map(_.getPath.getName).filterNot(_.startsWith("._last_checkpoint"))
    assert(left.toSeq == Seq("_last_checkpoint"), left.mkString(", "))
  }
}
